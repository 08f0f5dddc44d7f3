"""Generate docs/REGISTRY.md from the @query decorator metadata.

SURVEY.md §2.11's hand-maintained addendum table drifted as the
registry grew (VERDICT r6 #7); this catalog is derived FROM the
registry itself — name, families, oracle status, source anchor
(``file::function``, so editing a plans module never moves it) and a
one-line semantics summary (the query function's docstring first line,
else the first line of the nearest ``# ---`` banner comment above its
definition). ``tests/test_registry_catalog.py`` regenerates and diffs,
so a stale checked-in catalog fails CI.

Usage: python scripts/gen_registry_catalog.py [--check]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

_BANNER = re.compile(r"^# -{10,}\s*$")


def _banner_summary(path: str, def_line: int, cache: dict) -> str:
    """First sentence of the nearest `# ---` banner block above the
    def — the registry modules document semantics there, not in
    per-query docstrings."""
    if path not in cache:
        with open(path) as fh:
            cache[path] = fh.readlines()
    lines = cache[path]
    bottom = None
    for i in range(def_line - 2, -1, -1):
        if _BANNER.match(lines[i]):
            bottom = i
            break
    if bottom is None:
        return ""
    top = None
    for i in range(bottom - 1, -1, -1):
        if _BANNER.match(lines[i]):
            top = i
            break
    if top is None:
        return ""
    text = " ".join(
        ln.strip().lstrip("#").strip() for ln in lines[top + 1 : bottom]
    )
    # first sentence-ish chunk, bounded for the table cell
    first = re.split(r"(?<=[.;])\s", text, maxsplit=1)[0]
    return (first[:157] + "...") if len(first) > 160 else first


def build() -> str:
    from airbnb_pyspark_jobs_spark.plans import ORACLES, QUERIES
    from airbnb_pyspark_jobs_spark.plans.queries import QUERY_FAMILIES

    cache: dict = {}
    rows = []
    for name in sorted(QUERIES):
        fn = getattr(QUERIES[name], "__wrapped__", QUERIES[name])
        code = fn.__code__
        rel = os.path.relpath(code.co_filename, REPO)
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].strip() if doc else ""
        if not summary:
            summary = _banner_summary(code.co_filename, code.co_firstlineno, cache)
        fams = ", ".join(sorted(QUERY_FAMILIES.get(name, set())))
        oracle = "oracle" if name in ORACLES else "rows-only"
        rows.append(
            f"| {name} | {fams} | {oracle} | `{rel}::{fn.__name__}` "
            f"| {summary.replace('|', '/')} |"
        )
    return (
        "# Query registry catalog\n\n"
        "AUTO-GENERATED by `scripts/gen_registry_catalog.py` from the\n"
        "`@query` registry — do not edit by hand "
        "(`tests/test_registry_catalog.py` regenerates and diffs).\n"
        "`oracle` = value-hash-checked against DuckDB at every sweep;\n"
        "`rows-only` = no SQL-expressible twin (the driver records a\n"
        "rows-only check); exactly ONE query carries it — q65, whose\n"
        "Spark-internal DataSketches HLL has no DuckDB twin (q194's\n"
        "portable register-level HLL value-verifies the same rollup).\n\n"
        f"{len(rows)} registered queries.\n\n"
        "| query | families | check | source | semantics |\n"
        "|---|---|---|---|---|\n" + "\n".join(rows) + "\n"
    )


def main() -> int:
    out = os.path.join(REPO, "docs", "REGISTRY.md")
    content = build()
    if "--check" in sys.argv:
        with open(out) as fh:
            ok = fh.read() == content
        print("REGISTRY.md", "current" if ok else "STALE — regenerate")
        return 0 if ok else 1
    with open(out, "w") as fh:
        fh.write(content)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
