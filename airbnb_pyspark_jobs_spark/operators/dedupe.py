"""Document deduplication operators for LLM-data pipelines.

Four families, all expressed as DataFrame compositions (no UDFs),
designed so the whole pipeline — including MinHash — is reproducible in
the DuckDB oracle (md5-based hashing):

- :func:`exact_dedup_keepers` — hash-groupBy exact dedup on a
  normalized-text fingerprint.
- :func:`ngram_jaccard_pairs` — EXACT n-gram Jaccard similar pairs via
  shingle-explode + self-join (the ground truth LSH approximates).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash
  signatures (k lexicographic-min md5 hashes over shingles), banded LSH
  candidate generation, exact-Jaccard verification of candidates.
- :func:`simhash_signatures` — 16-bit portable SimHash over distinct
  tokens.

Scale notes (100 TB corpora):
- the shingle self-join in :func:`ngram_jaccard_pairs` is quadratic in
  per-shingle document frequency — ``max_shingle_df`` caps it (standard
  practice: a shingle shared by thousands of docs carries no similarity
  signal but produces df² join rows);
- MinHash-LSH replaces the all-pairs join with a per-band equality join
  on band hashes: shuffle is O(docs × bands) and candidate verification
  touches only colliding pairs — this is THE scale path;
- signatures are computed in ONE groupBy over exploded shingles (k min()
  aggregates in a single shuffle), not k passes;
- all hashes are md5-derived: deterministic across engines, runs and
  partitionings;
- the two fixed points over the near-duplicate graph,
  :func:`dedup_components` and :func:`pagerank`, are the only loops.
  Pair generation and the edge list stay in Spark; the edge list is
  collected once, and when it fits :data:`DRIVER_GRAPH_CAP` rows the
  loop runs on the driver (bit-identical results, no Spark job per
  round). Past the cap — the 100 TB dup graph — the Spark loop runs.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from airbnb_pyspark_jobs_spark.caching import (
    checkpoint,
    collect_bounded,
    constraint_propagation_off,
    owned_persist,
    release_checkpoint,
)
from airbnb_pyspark_jobs_spark.functions.text import (
    fingerprint,
    shingles_from_tokens,
    tokens,
)


def exact_dedup_keepers(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact (normalized) dedup: one keeper (min id) per fingerprint.

    Returns ``fingerprint, keeper_id, n_copies``. Single hash-groupBy
    shuffle; at 100 TB the fingerprint is computed scan-side and the
    shuffle carries (hash, id) pairs only.
    """
    return (
        docs.select(fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).cast("bigint").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) pairs — distinct word n-grams per document.

    Two-step projection on purpose: tokenizing into a column FIRST keeps
    the regex split at one evaluation per row; inlining it into the
    shingle lambda re-runs the split per shingle (measured ~10×)."""
    tok = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks"))
    return tok.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("s")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    persist_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard pairs with similarity >= threshold.

    ``jaccard = |A∩B| / (|A| + |B| - |A∩B|)`` over distinct shingle
    sets. ``max_shingle_df`` drops shingles occurring in more than that
    many documents before pairing (both sizes and intersections are then
    computed over the filtered sets — consistent semantics).

    Cache lifecycle: the shingle table is persisted (it feeds sizes +
    both self-join sides) via ``caching.owned_persist`` — released by
    the next ``@query`` invocation or an explicit
    ``caching.release_owned_caches()`` after the result materializes.
    Pass ``persist_shingles=False`` to opt out entirely.
    """
    # Persist so tokenize/shingle runs once (at cluster scale: cache to
    # MEMORY_AND_DISK or checkpoint; same principle as the reference
    # caching its dims, jobs/final_fact_load.py:20-22).

    sh = shingle_table(docs, id_col, text_col, n)
    if max_shingle_df is not None:
        # document frequency as a window count over s (one shuffle by s,
        # no extra groupBy+semi-join pass). The FILTERED frame is what
        # every consumer (sizes + both self-join sides) reads, so THAT
        # is the frame to persist: with only the raw shingle leaf cached,
        # the window subtree is evaluated 4× (the self-join sides and
        # both size joins re-run shuffle+sort+count from the cache — 4
        # Window nodes in q44's executed plan, 1 with this persist).
        from pyspark.sql.window import Window

        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("s")))
            .filter(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    if persist_shingles:
        sh = owned_persist(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    inter = (
        sh.alias("a")
        .join(sh.alias("b"), on=[F.col("a.s") == F.col("b.s"), F.col("a.doc_id") < F.col("b.doc_id")])
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_id_a", "n_sh": "n_a"}), "doc_id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_id_b", "n_sh": "n_b"}), "doc_id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def containment_pairs(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    persist_shingles: bool = True,
) -> DataFrame:
    """Train→eval contamination pairs via ASYMMETRIC n-gram containment.

    ``containment = |shingles(eval) ∩ shingles(train)| / |shingles(eval)|``
    — the benchmark-decontamination metric (an eval doc fully embedded
    in a much larger train doc scores ~1.0 here but near 0 on Jaccard,
    which :func:`ngram_jaccard_pairs` would miss). Returns
    ``eval_id, train_id, containment`` for pairs ≥ ``threshold``.

    Scale: eval sets (benchmarks) are small next to a 100 TB train
    corpus, so the shingle equi-join is eval-shingles × matching train
    shingles — linear in train matches, never all-pairs. The optional
    ``max_shingle_df`` cap (df counted across BOTH sides) drops
    stop-shingles whose df² join fan-out carries no containment signal;
    sizes and intersections then use the filtered sets consistently.
    Cache lifecycle: registry-owned, as in :func:`ngram_jaccard_pairs`.
    """

    sh_e = shingle_table(eval_docs, id_col, text_col, n)
    sh_t = shingle_table(train_docs, id_col, text_col, n)
    if persist_shingles:
        sh_e = owned_persist(sh_e)
        sh_t = owned_persist(sh_t)
    if max_shingle_df is not None:
        rare = (
            sh_e.select("s")
            .unionByName(sh_t.select("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("s")
        )
        sh_e = sh_e.join(rare, "s", "left_semi")
        sh_t = sh_t.join(rare, "s", "left_semi")
    sizes = sh_e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n_eval"))
    inter = (
        sh_e.alias("e")
        .join(sh_t.alias("t"), "s")
        .groupBy(
            F.col("e.doc_id").alias("eval_id"), F.col("t.doc_id").alias("train_id")
        )
        .agg(F.count(F.lit(1)).alias("__n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "eval_id"), "eval_id")
        .withColumn(
            "containment",
            F.col("__n_inter").cast("double") / F.col("__n_eval").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("eval_id", "train_id", "containment")
    )


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """k MinHash aggregates from ONE md5 per shingle: hash j is the
    lexicographic min of hex digits [4j, 4j+4) of md5(shingle).

    Slicing a single 128-bit md5 into k 16-bit sub-hashes is ~k× cheaper
    than k seeded md5 calls and measured equivalent recall (252/256 vs
    250/256 at sf0.1, zero false positives — candidates are still
    exact-Jaccard verified). Hex-string ordering is a total order on the
    hash space, so the min is a valid uniform MinHash, reproducible
    verbatim in any engine with md5/substr.

    Widening: 8 hashes × 4 hex digits fill one 32-digit md5, so hash
    group ``g`` (0-based, 8 hashes each) slices ``md5(s)`` for g=0 —
    byte-identical to the original 8-hash scheme — and the seeded
    ``md5(s || '|g')`` for g>=1. Low-Jaccard corpora need the extra
    hashes: at t≈0.3 only 2-row bands prune well, and reaching recall
    0.9 with r=2 takes ~27 bands = 54 hashes (see SCALE_NOTES) — at ~7
    md5 calls per shingle that is still far cheaper than k seeded md5s
    per hash.
    """
    aggs: list[Column] = []
    for j in range(1, num_hashes + 1):
        g, k = divmod(j - 1, 8)
        md5c = (
            F.md5(F.col("s"))
            if g == 0
            else F.md5(F.concat_ws("|", F.col("s"), F.lit(str(g))))
        )
        aggs.append(F.min(F.substring(md5c, 1 + 4 * k, 4)).alias(f"h{j}"))
    return aggs


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature (h1..hk) + shingle count, computed
    in one groupBy over the exploded shingle table."""
    sh = shingle_table(docs, id_col, text_col, n)
    return sh.groupBy("doc_id").agg(
        *_minhash_aggs(num_hashes), F.count(F.lit(1)).alias("n_sh")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
    persist_shingles: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    banding: ``num_hashes`` minhashes split into ``bands`` equal bands;
    a pair is a candidate iff some band's hashes all agree (band hash
    equality). Candidates are then verified with the exact Jaccard over
    shingles and filtered at ``threshold`` — so LSH affects recall only,
    never precision, and the output is deterministic.

    Cache lifecycle: the shingle table is persisted (it feeds
    signatures, candidate verification ×2, and sizes) via
    ``caching.owned_persist`` — released by the next ``@query``
    invocation or an explicit ``caching.release_owned_caches()``; pass
    ``persist_shingles=False`` to opt out entirely.
    """

    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    rows_per_band = num_hashes // bands

    sh = shingle_table(docs, id_col, text_col, n)
    if persist_shingles:
        sh = owned_persist(sh)
    sig = sh.groupBy("doc_id").agg(*_minhash_aggs(num_hashes), F.count(F.lit(1)).alias("n_sh"))

    band_cols = []
    for b in range(bands):
        hs = [F.col(f"h{b * rows_per_band + j}") for j in range(1, rows_per_band + 1)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *hs)).alias("band_hash"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")

    candidates = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        candidates.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_id_a"))
        .join(
            sh.alias("sb"),
            (F.col("sb.doc_id") == F.col("doc_id_b")) & (F.col("sb.s") == F.col("sa.s")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_id_a", "n_sh": "n_a"}), "doc_id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_id_b", "n_sh": "n_b"}), "doc_id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


SIMHASH_BITS = 16


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    hash_fn: str = "md5",
) -> DataFrame:
    """SimHash over DISTINCT tokens at a configurable signature width.

    Bit b of the signature is 1 iff sum over tokens of (+1 if bit b of
    the token hash is set else -1) > 0. Two token-hash backends, the
    same md5-portable/xxhash64-production split as
    ``functions/hashing.py``:

    - ``hash_fn="md5"`` (default): first 8 md5 hex digits as a 32-bit
      int — pure integer arithmetic DuckDB can replay, so the oracle
      queries (q46/q59/q183) stay at the portable default. ``bits``
      must be ≤ 32.
    - ``hash_fn="xxhash64"``: Spark's JVM-side 64-bit hash — no DuckDB
      twin, PRODUCTION paths only. ``bits`` up to 64; at 64 the banded
      self-join in :func:`simhash_pairs` gets 2^(64/bands) distinct
      band values instead of 2^(16/bands), which is what keeps the
      candidate baseline from degrading toward n²/2^band_bits at
      corpus scale (VERDICT r8 #1 — width was a hard-coded constant).

    Signature assembly is shiftleft+OR (not a sum of 2^b literals), so
    bit 63 lands in the sign bit without overflow; hamming distance via
    ``bit_count(xor)`` is sign-agnostic.
    """
    if hash_fn == "md5":
        if bits > 32:
            raise ValueError(
                f"md5-portable token hash carries 32 bits (got bits={bits}); "
                "use hash_fn='xxhash64' for wider signatures"
            )
        h = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("bigint")
    elif hash_fn == "xxhash64":
        if bits > 64:
            raise ValueError(f"bits must be <= 64 (got {bits})")
        h = F.xxhash64(F.col("t"))
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64' (got {hash_fn!r})")
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"),
    )
    tok = tok.select("doc_id", h.alias("th"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_aggs)
    sim = None
    for b in range(bits):
        term = F.when(
            F.col(f"s{b}") > 0,
            F.shiftleft(F.lit(1).cast("bigint"), b),
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


def minhash_banding_params(
    threshold: float, target_recall: float = 0.9, num_hashes: int = 8
) -> tuple[int, int]:
    """(num_hashes, bands) reaching ``target_recall`` for pairs AT the
    Jaccard threshold (higher-similarity pairs do strictly better).

    A pair at Jaccard j agrees on one minhash with probability j, on a
    whole r-row band with j**r, and on at least one of b bands with
    ``1-(1-j**r)**b``. Larger r prunes background candidates harder
    (false-candidate rate ~ b * bg**r) but collapses recall at low
    thresholds — measured at j≈0.29 with 8 hashes: r=4 → 1/150, r=2 →
    42/150, r=1 → 141/150 planted pairs (SCALE_NOTES). This picks the
    LARGEST r whose banding still meets the target; callers needing
    more pruning at low thresholds should widen num_hashes (slices of a
    second seeded md5) instead of dropping recall.
    """
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands != 0:
            continue
        r = num_hashes // bands
        recall = 1.0 - (1.0 - threshold**r) ** bands
        if recall >= target_recall and (best is None or r > best[0]):
            best = (r, bands)
    if best is None:
        raise ValueError(
            f"no ({num_hashes}-hash) banding reaches recall {target_recall} at "
            f"threshold {threshold}; widen num_hashes"
        )
    return num_hashes, best[1]


def choose_minhash_config(
    threshold: float,
    target_recall: float = 0.9,
    max_hashes: int = 64,
    min_rows_per_band: int = 2,
) -> tuple[int, int]:
    """Pick (num_hashes, bands) for :func:`minhash_lsh_pairs`: the
    SMALLEST widened signature whose banding meets ``target_recall`` at
    the threshold with at least ``min_rows_per_band`` rows per band
    (2-row bands prune background candidates ~8× better than 1-row
    bands at equal recall — measured in SCALE_NOTES). Falls back to
    1-row bands only if no affordable widening reaches the target.
    """
    for num_hashes in range(8, max_hashes + 1, 8):
        best = None
        for bands in range(1, num_hashes + 1):
            if num_hashes % bands != 0:
                continue
            r = num_hashes // bands
            if r < min_rows_per_band:
                continue
            if 1.0 - (1.0 - threshold**r) ** bands >= target_recall:
                best = (num_hashes, bands) if best is None or r > num_hashes // best[1] else best
        if best:
            return best
    return minhash_banding_params(threshold, target_recall, num_hashes=max_hashes)


# Dup graphs whose edge list (pairs in both orientations) has at most
# this many rows run their fixed point on the driver; bigger ones run
# the Spark loop. The path depends only on the observed edge count.
# At this size the driver PageRank replay and the Spark loop take about
# the same time (4 cores); driver memory at the cap is measured in
# SCALE_NOTES "Small-state fixed points run on the driver".
DRIVER_GRAPH_CAP = 10_000

# PageRank's Spark loop truncates the rank lineage every this many
# iterations (SCALE_NOTES "In-loop lineage truncation").
PAGERANK_CHECKPOINT_EVERY = 8


def _both_orientations(df: DataFrame, x: str, y: str) -> DataFrame:
    """``a, b``: every ``(x, y)`` row of ``df`` in both orientations
    (UNION ALL: duplicates and self-pairs stay twice), in ONE pass over
    ``df`` — a union would reference the caller's pair pipeline (a
    whole similarity join) twice."""
    e = F.explode(
        F.array(
            F.struct(F.col(x).alias("a"), F.col(y).alias("b")),
            F.struct(F.col(y).alias("a"), F.col(x).alias("b")),
        )
    ).alias("__e")
    return df.select(e).select("__e.a", "__e.b")


def _collect_graph(edges: DataFrame) -> tuple[DataFrame, list | None]:
    """Persist an edge list and collect it when it fits
    :data:`DRIVER_GRAPH_CAP`: ``(edges, rows)`` with the cache already
    released, else ``(edges, None)`` with the cache kept for the Spark
    loop — which then reads the edges without re-running the pair
    pipeline the bounded collect just ran. Planned with constraint
    propagation off, as :func:`caching.checkpoint` is: the closure
    over a pair pipeline's equated columns can hang the optimizer."""
    with constraint_propagation_off(edges.sparkSession):
        edges = owned_persist(edges)
        rows = collect_bounded(edges, DRIVER_GRAPH_CAP)
    if rows is not None:
        edges.unpersist()
    return edges, rows


def _min_id_labels(rows: list) -> list[tuple]:
    """``(node, smallest id in its component)`` by union-find over the
    directed edge rows ``(a, b)`` of :func:`dedup_components`, whose
    ``b`` is always a doc. The smaller root always wins a union, so a
    root is its component's minimum — the pointer-jumping fixed point.
    Python's ``<`` orders ints as Spark does and strings by code point,
    which is Spark's UTF-8 byte order. An ``a`` outside docs never
    appears as a ``b`` (its in-edges were dropped), and its edges are
    skipped: they were inert in the Spark loop too."""
    in_docs = {b for _, b in rows}
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in in_docs:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in parent]


def dedup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every doc
    gets ``component_id`` = the smallest doc id reachable through pair
    edges (isolated docs map to themselves). THE keeper-selection step
    after any pair-producing dedup (Jaccard/MinHash/SimHash/embedding):
    keep ``doc_id == component_id``, drop the rest — without it,
    transitive near-dup chains (A~B, B~C) keep redundant docs.

    The corpus-sized stages run in Spark: the caller's pair pipeline,
    the deduplicated edge list in both orientations, and the semi-join
    that drops edges pointing OUTSIDE docs. The edge list is then
    persisted and collected once under :data:`DRIVER_GRAPH_CAP`:

    - within the cap (q58's dup graph: 50–512 rows at sf0.001–sf0.1),
      a driver union-find (:func:`_min_id_labels`) computes the labels
      and they come back through ``createDataFrame`` — no Spark job per
      round;
    - past the cap, the Spark loop below runs over the same edges. It
      reaches the same fixed point within ``max_iterations`` (the
      driver path ignores it: it has no rounds).

    Spark loop: iterative min-label propagation WITH pointer jumping:
    each round every node takes the min of its own label, its
    neighbors' labels, and its label's label (path halving).
    Neighbor-min alone needs graph-DIAMETER rounds — a 1000-hop chain
    exhausts any sane iteration cap; the label[label[v]] hop doubles
    propagation distance per round, so convergence is O(log diameter)
    (measured: a 60-node path converges in 7 rounds vs 20+ without
    jumping). Valid because labels only decrease and a node's label is
    always inside its component. Each round is two joins + one groupBy
    on the node key, with an early-exit changed-label count per round.

    Lineage: the edge list and each round's labels are cut with
    :func:`caching.checkpoint`, not merely persisted — persist
    caches DATA but the logical plan still nests round over round, so
    Catalyst re-analyzes a tree that grows linearly and the JVM
    eventually overflows its stack just printing it (measured locally:
    a 60-node path graph at 20 iterations crashes with persist-only
    lineage; checkpointed it runs in ~4 s). Each superseded label
    checkpoint is freed as the loop advances
    (:func:`caching.release_checkpoint`), the edge checkpoint when it
    ends, and the final labels by the ``release_owned_caches`` sweep.
    On a fault-tolerant cluster run, swap the local checkpoint for
    ``DataFrame.checkpoint()`` with a reliable checkpoint dir — same
    truncation, executor-loss safe.

    Both paths work over EDGE ENDPOINTS only (guide §2.3/§2.4 — shuffle
    the dup graph, not the corpus): isolated docs keep ``component_id
    = doc_id`` by definition, and the corpus attaches the labels ONCE
    at the end (left join + coalesce). Self-loop rows fold the "keep
    own label" branch into the neighbor min (one join per round); the
    convergence count compares the two checkpointed label frames
    (type-agnostic — ids may be strings, q246). Edges with an endpoint
    missing from ``docs`` stay inert.
    """
    base = docs.select(F.col(id_col).alias("node"))
    edges, rows = _collect_graph(
        _both_orientations(pairs, "doc_id_a", "doc_id_b")
        .distinct()
        .join(base.withColumnRenamed("node", "b"), "b", "left_semi")
    )
    if rows is not None:
        t = edges.schema["a"].dataType
        labels = edges.sparkSession.createDataFrame(
            _min_id_labels(rows),
            StructType([StructField("node", t), StructField("label", t)]),
        )
    else:
        labels = _spark_labels(edges, max_iterations)
    return base.distinct().join(labels, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce("label", "node").alias("component_id"),
    )


def _spark_labels(edges: DataFrame, max_iterations: int) -> DataFrame:
    """``node, label`` of :func:`dedup_components`' Spark loop over the
    persisted edge list, which it checkpoints and releases."""
    persisted, edges = edges, checkpoint(edges)
    persisted.unpersist()
    nodes = edges.select(F.col("a").alias("node")).distinct()
    # self-loops: min over N(v) ∪ {v} ≡ least(own, neighbor-min)
    adj = edges.unionByName(
        nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
    )
    labels = checkpoint(nodes.withColumn("label", F.col("node")))
    for _ in range(max_iterations):
        propagated = (
            adj.join(labels, adj.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: label <- label[label] (labels only shrink, and a
        # label is itself a node id in the same component)
        parent = propagated.select(
            F.col("node").alias("__pn"), F.col("label").alias("__pl")
        )
        new_labels = checkpoint(
            propagated.join(parent, propagated.label == parent["__pn"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("__pl", "label")).alias("label"),
            )
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "__old"), "node"
            )
            .filter(F.col("label") != F.col("__old"))
            .count()
        )
        release_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    release_checkpoint(edges)
    return labels


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    hash_fn: str = "md5",
) -> DataFrame:
    """EXACT SimHash near-dup pairs with hamming distance <= max_hamming.

    Pigeonhole banding: the ``bits``-wide signature splits into
    ``bands`` equal bit-bands; pairs differing in at most ``bands - 1``
    bits must agree on at least one whole band, so a per-band equality
    join generates ALL such pairs (this is exact, not probabilistic —
    unlike MinHash banding) and a bit_count(xor) verification filters
    to the threshold. Requires ``max_hamming < bands``. Candidate
    volume is bands × per-band-collisions — use the FEWEST bands the
    pigeonhole allows (bands = max_hamming + 1 gives the widest band
    values, hence fewest collisions: 4→2 bands measured 24.7M → 7.2M
    raw candidates at sf0.1). Returns ``doc_id_a, doc_id_b, hamming``.

    **Width is the scale lever** (VERDICT r8 #1): a band value carries
    ``bits/bands`` bits, so the banded self-join's BASELINE candidate
    volume — unrelated pairs landing in the same bucket by chance — is
    ~bands·n²/2^(bits/bands). At 16 bits / 2 bands that is n²/256:
    fine at bench scale, O(n²) at corpus scale. Production calls use
    ``bits=64, hash_fn="xxhash64"`` (band values then carry 16–32
    bits; measured on the synthetic ladder in SCALE_NOTES); the oracle
    queries stay at the 16-bit md5-portable default DuckDB can replay.

    The banded signature table feeds BOTH sides of the self-join, so
    it is persisted via ``caching.owned_persist`` — without the
    barrier the token hashing + per-bit aggregation runs twice
    (once per join input; the two sides shuffle on different keys so
    no ReusedExchange applies).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole exactness needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    band_bits = bits // bands

    sig = simhash_signatures(docs, id_col, text_col, bits=bits, hash_fn=hash_fn)

    def band_val(b: int):
        shifted = F.shiftright(F.col("simhash"), b * band_bits)
        if band_bits == 64:
            # bands=1 at 64 bits (the legal exact-duplicate config
            # max_hamming=0): (1<<64)-1 overflows a signed-64 F.lit —
            # the band IS the whole signature, no mask needed (ADVICE r9)
            return shifted
        return shifted.bitwiseAND(F.lit((1 << band_bits) - 1))

    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            band_val(b).alias("band_val"),
        )
        for b in range(bands)
    ]

    banded = owned_persist(
        sig.select(
            "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bv")
        ).select("doc_id", "simhash", F.col("bv.band_idx"), F.col("bv.band_val"))
    )

    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("bigint")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def _positioned_shingles(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared stage of the exact-substring-dedup family: ``sized``
    (doc_id, __tk token array, n_tokens) and ``posed`` — POSITIONED
    n-gram shingles (doc_id, p, s), one row per window start. NOT
    distinct: positions matter for interval coverage. Sub-n docs emit
    no shingles (empty sequence).

    PERF (measured 17.5 → ~2 s at sf0.1): ``sized`` is persisted via
    ``owned_persist`` BEFORE the window transform. CollapseProject
    inlines the ``tokens()`` split into the lambda body and common-
    subexpression elimination does not cross lambda boundaries — so
    without the barrier the regex split re-runs once per WINDOW
    REFERENCE, not once per row (the SCALE_NOTES lambda trap, in its
    project-collapse disguise). The lambda also references ``__tk``
    exactly once (slice + array_join, not n element gets) so the
    residual inline cost is bounded even uncached."""

    base = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__tk"))
    sized = owned_persist(
        base.select(
            "doc_id", "__tk", F.size("__tk").cast("bigint").alias("n_tokens")
        )
    )
    idx = F.when(
        F.col("n_tokens") >= n, F.sequence(F.lit(0), (F.col("n_tokens") - n).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    posed = (
        sized.withColumn(
            "__ps",
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("p"),
                    F.array_join(F.slice(F.col("__tk"), i + 1, n), " ").alias("s"),
                ),
            ),
        )
        .select("doc_id", F.explode("__ps").alias("__e"))
        .select("doc_id", F.col("__e.p").alias("p"), F.col("__e.s").alias("s"))
    )
    return sized, posed


def _covered_positions(posed: DataFrame, n: int) -> DataFrame:
    """Distinct (doc_id, pos) token positions covered by some n-token
    window that appears verbatim in ANOTHER document: shingle-df >= 2
    filter (semi-join), then interval union via explode(sequence)."""
    dup_shingles = (
        posed.groupBy("s")
        .agg(F.count_distinct("doc_id").alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("s")
    )
    return (
        posed.join(dup_shingles, "s", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + (n - 1))).alias("pos"),
        )
        .distinct()
    )


def duplicated_span_coverage(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document coverage by CROSS-document duplicated spans — the
    doc-level signal of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    public): a token position is "duplicated" iff some n-token window
    containing it also appears verbatim in ANOTHER document. High
    coverage = boilerplate/mirror content; the removal policy (drop
    doc, cut spans) consumes this signal. Complements
    :func:`..corpus.repetition_signals` (WITHIN-doc repetition).

    Shape: positioned n-gram shingles (NOT distinct — positions
    matter), shingle-df filter (count distinct docs >= 2, a semi-join),
    then interval union as explode(sequence(p, p+n-1)) -> distinct
    (doc, position) -> count: all linear in corpus size with an n-fold
    position fan-out on DUPLICATED spans only. Returns every doc:
    ``doc_id, n_tokens, n_dup_positions, dup_coverage`` (round 6;
    sub-n docs carry no n-gram signal -> coverage 0, matching the
    shingle helpers' short-doc semantics).

    Cache lifecycle: the positioned-shingle table feeds both the df
    filter and the coverage join, so it is persisted via
    ``caching.owned_persist`` (released by the next ``@query``
    invocation or ``caching.release_owned_caches()``).
    """

    sized, posed = _positioned_shingles(docs, n, id_col, text_col)
    posed = owned_persist(posed)
    covered = _covered_positions(posed, n).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_positions")
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_positions", F.lit(0)).cast("bigint").alias(
                "n_dup_positions"
            ),
            F.round(
                F.coalesce("n_dup_positions", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_coverage"),
        )
    )


def dup_span_run_profile(
    docs: DataFrame,
    n: int = 8,
    min_span_lens: tuple[int, ...] = (8, 12, 16, 24),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated-run length profile — the ``min_span_len``
    sweep that documents what the fixed-``n`` shingle approximation of
    exact-substring dedup (q103/q107) captures relative to the paper's
    suffix-array formulation (Lee et al. 2022 build a suffix array and
    mark maximal duplicated spans of ANY length >= a threshold; the
    shingle approach marks positions covered by duplicated n-token
    windows).

    The two relate exactly at the position level: a span duplicated as
    a whole of length L >= n covers the same positions as its L-n+1
    duplicated n-windows. Where they differ, stated honestly: (a) a
    window threshold n can never see duplicated spans SHORTER than n
    (the suffix array at threshold t < n would); (b) a contiguous
    covered RUN here may chain overlapping windows matched against
    DIFFERENT partner docs, so run length is an UPPER bound on the
    longest single two-document match inside it. This profile measures
    (b)'s shape on the actual corpus: per ``min_span_len`` threshold S,
    how many maximal covered runs reach S, how many positions (= what a
    suffix-array-style cutter at threshold S would remove, bounded
    above), over how many docs.

    Returns one row per S: ``min_span_len, n_runs, n_positions,
    n_docs, max_run_len`` (zeros when no run qualifies — every
    requested threshold always appears). Exact integers end to end.

    Shape: the q103 covered-position stage, one doc-partitioned
    gaps-and-islands window (pos - row_number constant within a run —
    bounded by doc length, never global), a broadcast |thresholds|-row
    range join, and one tiny grouped aggregate. Scale: identical to
    q103 plus an O(runs · |thresholds|) broadcast fan-out.
    """
    from pyspark.sql.window import Window

    _sized, posed = _positioned_shingles(docs, n, id_col, text_col)
    posed = owned_persist(posed)
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = owned_persist(
        _covered_positions(posed, n)
        .withColumn("__rid", (F.col("pos") - F.row_number().over(w)).cast("bigint"))
        .groupBy("doc_id", "__rid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
    )
    spark = docs.sparkSession
    th = spark.createDataFrame(
        [(int(s),) for s in min_span_lens], "min_span_len long"
    )
    agg = (
        runs.join(F.broadcast(th), F.col("run_len") >= F.col("min_span_len"))
        .groupBy("min_span_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            F.sum("run_len").cast("bigint").alias("n_positions"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.max("run_len").cast("bigint").alias("max_run_len"),
        )
    )
    return F.broadcast(th).join(agg, "min_span_len", "left").select(
        "min_span_len",
        F.coalesce("n_runs", F.lit(0)).cast("bigint").alias("n_runs"),
        F.coalesce("n_positions", F.lit(0)).cast("bigint").alias("n_positions"),
        F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce("max_run_len", F.lit(0)).cast("bigint").alias("max_run_len"),
    )


def cut_duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    coverage_cap: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup REMOVAL policy (Lee et al. 2022's
    transform step, applied to the :func:`duplicated_span_coverage`
    signal): CUT every token position covered by a cross-document
    duplicated n-window, and DROP documents whose duplicated coverage
    exceeds ``coverage_cap`` (mostly-boilerplate docs aren't worth
    keeping as fragments).

    Cleaned text is the kept-token runs, tokens joined by ' ' within a
    run and runs joined by a newline — the newline marks the cut
    boundary so downstream shinglers that treat runs as segments can
    never manufacture an n-gram spanning a cut. That yields the dedup
    guarantee (tested property): any n-gram contiguous inside a kept
    run was, by construction, NOT cross-doc-duplicated in the original
    corpus (if a window at p matched another doc, ALL of p..p+n-1 would
    be covered, hence cut) — so segment-wise re-shingling of the
    cleaned corpus finds zero cross-doc duplicated n-grams.

    Shape: positioned shingles + interval union (linear, n-fold fan-out
    on duplicated spans only — the q103 stage), one posexplode of
    tokens, an anti-join against covered positions, and gaps-and-
    islands run grouping via a doc-partitioned window (pos -
    row_number is constant within a contiguous run). All windows
    partition by doc_id — no global sort, no driver actions. Run
    reassembly aggregates structs with array_sort for deterministic
    token order (collect_list alone is order-unstable).

    Returns every doc: ``doc_id, n_tokens, n_dup_positions,
    dup_coverage, dropped, n_kept_tokens, n_segments, chars_removed,
    cleaned_text`` (dropped docs: 0 kept tokens, all token chars
    removed, empty cleaned_text).

    Cache lifecycle: positioned shingles and covered positions each
    feed two consumers, so both are persisted via
    ``caching.owned_persist`` (released by the next ``@query``
    invocation or ``caching.release_owned_caches()``).
    """
    from pyspark.sql.window import Window

    sized, posed = _positioned_shingles(docs, n, id_col, text_col)
    posed = owned_persist(posed)
    covered = owned_persist(_covered_positions(posed, n))
    cov_counts = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ndp")
    )
    # per-token rows once; lengths projected scan-side (lambda discipline)
    lens = sized.select(
        "doc_id",
        "n_tokens",
        F.transform("__tk", lambda t: F.length(t).cast("bigint")).alias("__lens"),
    )
    totals = lens.select(
        "doc_id",
        "n_tokens",
        F.aggregate("__lens", F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "__tot_chars"
        ),
    )
    toks_pos = sized.select(
        "doc_id", F.posexplode("__tk").alias("pos", "tok")
    )
    cut_chars = (
        toks_pos.join(covered, ["doc_id", "pos"], "left_semi")
        .groupBy("doc_id")
        .agg(F.sum(F.length("tok")).cast("bigint").alias("__cut_chars"))
    )
    kept = toks_pos.join(covered, ["doc_id", "pos"], "left_anti")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = kept.withColumn(
        "__rid", (F.col("pos") - F.row_number().over(w)).cast("bigint")
    )
    seg = runs.groupBy("doc_id", "__rid").agg(
        F.min("pos").alias("__sp"),
        F.count(F.lit(1)).cast("bigint").alias("__nt"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("__seg"),
    )
    doc_clean = seg.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__sp", "__seg"))),
                lambda x: x["__seg"],
            ),
        ).alias("__cleaned"),
        F.sum("__nt").cast("bigint").alias("__kept"),
        F.count(F.lit(1)).cast("bigint").alias("__nseg"),
    )
    ndp = F.coalesce("__ndp", F.lit(0)).cast("bigint")
    coverage = F.round(ndp.cast("double") / F.col("n_tokens").cast("double"), 6)
    dropped = coverage > F.lit(float(coverage_cap))
    return (
        totals.join(cov_counts, "doc_id", "left")
        .join(cut_chars, "doc_id", "left")
        .join(doc_clean, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            ndp.alias("n_dup_positions"),
            coverage.alias("dup_coverage"),
            dropped.alias("dropped"),
            F.when(dropped, F.lit(0))
            .otherwise(F.coalesce("__kept", F.lit(0)))
            .cast("bigint")
            .alias("n_kept_tokens"),
            F.when(dropped, F.lit(0))
            .otherwise(F.coalesce("__nseg", F.lit(0)))
            .cast("bigint")
            .alias("n_segments"),
            F.when(dropped, F.col("__tot_chars"))
            .otherwise(F.coalesce("__cut_chars", F.lit(0)))
            .cast("bigint")
            .alias("chars_removed"),
            F.when(dropped, F.lit(""))
            .otherwise(F.coalesce("__cleaned", F.lit("")))
            .alias("cleaned_text"),
        )
    )


def _band_rows(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band_idx, band_hash) rows from a signature frame —
    band hash = md5 of the band's minhashes joined with '|'."""
    band_cols = []
    for b in range(bands):
        hs = [F.col(f"h{b * rows_per_band + j}") for j in range(1, rows_per_band + 1)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *hs)).alias("band_hash"),
            )
        )
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_hash"
    )


def minhash_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """The STORABLE LSH index of a corpus: ``(doc_id, band_idx,
    band_hash)`` rows. Persist this table once; incremental dedup of
    every future batch is an equality join against it
    (:func:`incremental_minhash_pairs`) — the 100 TB shape where the
    historical corpus is NEVER re-shingled, re-hashed or re-banded."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    sig = minhash_signatures(docs, id_col, text_col, n, num_hashes)
    return _band_rows(sig, bands, num_hashes // bands)


def incremental_minhash_pairs(
    new_docs: DataFrame,
    old_docs: DataFrame,
    old_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection for a NEW batch against a STORED
    index (the daily-ingest production shape): only the new docs are
    shingled/hashed/banded; new-vs-old candidates come from one
    equality join against ``old_index`` (``minhash_band_index`` rows,
    loaded from storage); new-vs-new from a self-join of the new
    bands. Exact-Jaccard verification re-shingles the new batch plus
    ONLY the old docs that appear in some candidate pair (semi-join) —
    work is proportional to batch size + candidate fan-in, never to
    corpus history.

    Returns ``doc_id_a < doc_id_b, kind ('new_old'|'new_new'),
    jaccard >= threshold``. Precision is exact (verification), recall
    is the banding recall — identical to :func:`minhash_lsh_pairs` on
    the union corpus, restricted to pairs touching the new batch.

    Cache lifecycle: new-batch bands and shingles are persisted via
    ``caching.owned_persist`` (multi-consumer), released by the next
    ``@query`` invocation."""

    new_index = owned_persist(
        minhash_band_index(new_docs, id_col, text_col, n, num_hashes, bands)
    )
    cand_no = (
        new_index.alias("a")
        .join(
            old_index.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
            ],
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_b"),
            F.lit("new_old").alias("kind"),
        )
    )
    cand_nn = (
        new_index.alias("a")
        .join(
            new_index.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.lit("new_new").alias("kind"),
        )
    )
    cand = owned_persist(cand_no.unionByName(cand_nn).distinct())
    # verification corpus: the new batch + ONLY candidate old docs
    old_ids = cand.filter(F.col("kind") == "new_old").select(
        F.col("doc_id_a").alias("doc_id")
    ).unionByName(
        cand.filter(F.col("kind") == "new_old").select(
            F.col("doc_id_b").alias("doc_id")
        )
    ).distinct()
    slim = lambda d: d.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))  # noqa: E731
    verify_docs = slim(new_docs).unionByName(
        slim(old_docs).join(old_ids, "doc_id", "left_semi")
    )
    sh = owned_persist(shingle_table(verify_docs, "doc_id", "text", n))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_id_a"))
        .join(
            sh.alias("sb"),
            (F.col("sb.doc_id") == F.col("doc_id_b")) & (F.col("sb.s") == F.col("sa.s")),
        )
        .groupBy("doc_id_a", "doc_id_b", "kind")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnsRenamed({"doc_id": "doc_id_a", "n_sh": "n_a"}), "doc_id_a"
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_id_b", "n_sh": "n_b"}), "doc_id_b"
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "kind", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via prefix filtering (the
    PPJoin-family set-similarity join; public algorithm) — the
    LSH-free alternative with ZERO false negatives: if
    ``J(A,B) >= t`` the two docs MUST share a shingle within the
    first ``|S| - ceil(t·|S|) + 1`` of their shingles under one
    global canonical order, so indexing only those prefixes still
    finds every qualifying pair. The canonical order is rarest-first
    (df asc, shingle asc), which keeps prefix-join fan-out bounded by
    rare-shingle document frequencies.

    The threshold is the RATIONAL ``threshold_num/threshold_den`` so
    prefix lengths, the length filter (``den·min >= num·max``) and the
    final verification (``den·inter >= num·union``) are pure integer
    arithmetic — no float appears anywhere in a keep/drop decision;
    the reported ``jaccard`` ratio is one final double division.

    Same output contract as :func:`ngram_jaccard_pairs`
    (``doc_id_a, doc_id_b, jaccard``) and provably the same rows: the
    oracle for this operator is the brute-force all-pairs join.
    Scale: one shingle shuffle, a PREFIX-only self-join (the point),
    and candidate-only verification."""
    from pyspark.sql.window import Window

    tn, td = int(threshold_num), int(threshold_den)
    if not 0 < tn <= td:
        raise ValueError("threshold must be a fraction in (0, 1]")
    sh = owned_persist(shingle_table(docs, id_col, text_col, n))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    sized = sh.join(dfreq, "s").withColumn(
        "__n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    pos = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("__df").asc(), F.col("s").asc())
    )
    # prefix length |S| - ceil(t|S|) + 1; ceil(a/b) = (a + b - 1) div b
    plen = (
        F.col("__n_sh")
        - F.expr(f"(__n_sh * {tn} + {td} - 1) div {td}")
        + F.lit(1)
    )
    prefix = (
        sized.withColumn("__pos", pos)
        .filter(F.col("__pos") <= plen)
        .select("doc_id", "s", "__n_sh")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            on=[F.col("a.s") == F.col("b.s"), F.col("a.doc_id") < F.col("b.doc_id")],
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.__n_sh").alias("n_a"),
            F.col("b.__n_sh").alias("n_b"),
        )
        .distinct()
        # length filter: J <= min/max, so den·min >= num·max is necessary
        .filter(
            (F.least("n_a", "n_b") * td) >= (F.greatest("n_a", "n_b") * tn)
        )
    )
    a_sh = sh.select(F.col("doc_id").alias("doc_id_a"), "s")
    b_sh = sh.select(F.col("doc_id").alias("__db"), F.col("s").alias("__sb"))
    verified = (
        cand.join(a_sh, "doc_id_a")
        .join(
            b_sh,
            on=[F.col("doc_id_b") == F.col("__db"), F.col("s") == F.col("__sb")],
        )
        .groupBy("doc_id_a", "doc_id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(
            (F.col("n_inter") * td)
            >= ((F.col("n_a") + F.col("n_b") - F.col("n_inter")) * tn)
        )
    )
    return verified.select(
        "doc_id_a",
        "doc_id_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )


def source_overlap_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    granularity: str = "doc",
    shingle_n: int = 3,
    jac_digits: int = 6,
) -> DataFrame:
    """Pairwise content overlap between SOURCES — the corpus-governance
    view of exact dedup: which feeds are re-crawling / mirroring each
    other. Each source becomes its distinct set of content units —
    whole-doc fingerprints (``granularity='doc'``, catches verbatim
    mirroring) or word n-gram shingles (``'shingle'``, catches
    partial/content-level overlap even when no full doc is mirrored);
    every source pair (a < b) reports intersection size,
    set sizes, Jaccard, and containment in each direction (a mirror
    subset shows containment ~1 with small Jaccard — the asymmetric
    signal matters, same reasoning as benchmark decontamination's
    containment metric).

    Scale: one scan-side fingerprint pass, a distinct (source, fp)
    projection, one fp equi-join between different sources — never a
    doc-level cross join; output is |sources|² at most. Returns
    ``source_a, source_b, n_a, n_b, n_common, jaccard,
    containment_a_in_b, containment_b_in_a``."""

    if granularity == "doc":
        units = docs.select(
            F.col(source_col).alias("src"), fingerprint(text_col).alias("fp")
        )
    elif granularity == "shingle":
        tok = docs.select(
            F.col(source_col).alias("src"), tokens(text_col).alias("__toks")
        )
        units = tok.select(
            "src",
            F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("fp"),
        )
    else:
        raise ValueError(
            f"granularity must be 'doc' or 'shingle', got {granularity!r}"
        )
    fp = owned_persist(units.distinct())
    sizes = fp.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    common = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            on=[F.col("a.fp") == F.col("b.fp"), F.col("a.src") < F.col("b.src")],
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnsRenamed({"src": "source_a", "n": "n_a"})),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"src": "source_b", "n": "n_b"})),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                jac_digits,
            ).alias("jaccard"),
            F.round(
                F.col("n_common").cast("double") / F.col("n_a").cast("double"),
                jac_digits,
            ).alias("containment_a_in_b"),
            F.round(
                F.col("n_common").cast("double") / F.col("n_b").cast("double"),
                jac_digits,
            ).alias("containment_b_in_a"),
        )
    )


def _pagerank_py(
    rows: list, iters: int, damping: float, r_digits: int
) -> list[tuple]:
    """``(node, deg, rank)`` of :func:`pagerank`'s Spark loop, on the
    driver over the collected UNION ALL edge rows ``(a, b)``: the same
    double expressions, rounded through the ``functions/numeric`` twins
    of Spark's ``round`` and DECIMAL cast, with exact ``Decimal`` sums —
    so every iterate is bit-identical to the plan's."""
    from decimal import Decimal

    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_py,
        round_half_up_py,
    )

    deg = Counter(a for a, _ in rows)
    if not deg:
        return []
    n = float(len(deg))
    teleport = round_half_up_py((1.0 - float(damping)) / n, r_digits)
    r0 = decimal_py(round_half_up_py(1.0 / n, r_digits), r_digits)
    ranks = dict.fromkeys(deg, r0)
    for _ in range(iters):
        # one contribution per source node: round(r / deg) as DECIMAL
        contrib = {
            a: decimal_py(round_half_up_py(float(ranks[a]) / float(d), r_digits), r_digits)
            for a, d in deg.items()
        }
        sums = dict.fromkeys(deg, Decimal(0))
        for a, b in rows:
            sums[b] += contrib[a]
        ranks = {
            v: decimal_py(
                round_half_up_py(teleport + float(damping) * float(sums[v]), r_digits),
                r_digits,
            )
            for v in deg
        }
    return [(v, d, float(ranks[v])) for v, d in deg.items()]


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    r_digits: int = 9,
) -> DataFrame:
    """Deterministic PageRank over an UNDIRECTED edge list (each edge
    contributes both directions) — duplication-centrality ranking for
    dedup graphs: which documents sit at the center of a near-dup
    cluster (highest-degree-weighted reach), the natural keeper-choice
    refinement over plain min-id.

    Fixed ``iters`` power iterations with per-iteration rounding:
    every contribution ``r/deg`` is rounded to ``r_digits`` and cast
    DECIMAL before summation (exact, order-independent), then one
    fixed-order double expression ``teleport + damping·Σ`` re-rounds —
    so the whole trajectory is bitwise reproducible cross-engine (the
    unrolled-CTE oracle replays it exactly, the k-means recipe).

    Returns ``node, deg, rank``. The edge list in both orientations
    (UNION ALL: a duplicate pair or a self-pair counts twice in
    ``deg``) is built in Spark, persisted and collected once under
    :data:`DRIVER_GRAPH_CAP`. Within the cap the iterations run on the
    driver (:func:`_pagerank_py`, the same arithmetic through the
    ``functions/numeric`` twins) and the result comes back through
    ``createDataFrame``. Past the cap the Spark loop runs: each
    iteration is one equi-join on the node key + one aggregation — the
    classic Pregel shape — and the in-loop ``ranks`` frame is
    checkpointed every :data:`PAGERANK_CHECKPOINT_EVERY` iterations
    (the connected-components lineage discipline): each round's plan
    nests the previous round's, so without truncation Catalyst
    re-analyzes an exponentially-growing plan for ``iters`` ≫ 5
    (measured: iters=25 is O(iters) with the checkpoint, runaway
    analysis without — SCALE_NOTES). Each superseded ranks checkpoint
    is freed as the loop advances; the result reads the edge, degree
    and last ranks checkpoints, which the ``release_owned_caches``
    sweep frees."""
    und, rows = _collect_graph(_both_orientations(edges, src_col, dst_col))
    if rows is not None:
        return und.sparkSession.createDataFrame(
            _pagerank_py(rows, iters, damping, r_digits),
            StructType(
                [
                    StructField("node", und.schema["a"].dataType),
                    StructField("deg", LongType()),
                    StructField("rank", DoubleType()),
                ]
            ),
        )
    # every iteration re-references the edge list and degrees, and the
    # LOGICAL plan would duplicate the upstream edge computation (often
    # a whole similarity join) once per reference — caching alone does
    # not stop the optimizer from re-analyzing the exploded plan.
    # checkpoint truncates the lineage (the connected-components
    # discipline; measured 74 s -> 8.7 s on the q138 shape at sf0.1;
    # the residual is the 5 small per-iteration shuffles + the edge
    # computation itself).
    persisted, und = und, checkpoint(und)
    persisted.unpersist()
    deg = checkpoint(
        und.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    nodes = deg.select(F.col("a").alias("node"), "deg")
    n_nodes = nodes.count()  # bounded planning action: one scalar
    # round IN-PLAN (SQL half-away semantics, same as the oracle's
    # round()) — python round() is half-even and can differ
    dec = f"decimal(18,{r_digits})"
    teleport = F.round(
        F.lit(1.0 - float(damping)) / F.lit(float(n_nodes)), r_digits
    )
    ranks = nodes.select(
        "node",
        F.round(F.lit(1.0) / F.lit(float(n_nodes)), r_digits).cast(dec).alias("r"),
    )
    held = None  # the live ranks checkpoint
    for it in range(iters):
        if it > 0 and it % PAGERANK_CHECKPOINT_EVERY == 0:
            ranks = checkpoint(ranks)
            if held is not None:
                release_checkpoint(held)
            held = ranks
        contrib = (
            und.join(ranks.withColumnRenamed("node", "a"), "a")
            .join(deg, "a")
            .select(
                F.col("b").alias("node"),
                F.round(
                    F.col("r").cast("double") / F.col("deg").cast("double"),
                    r_digits,
                )
                .cast(dec)
                .alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    teleport
                    + F.lit(float(damping))
                    * F.coalesce(F.col("__s"), F.lit(0).cast(dec)).cast("double"),
                    r_digits,
                )
                .cast(dec)
                .alias("r"),
            )
        )
    return nodes.join(ranks, "node").select(
        "node", "deg", F.col("r").cast("double").alias("rank")
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    cc_digits: int = 6,
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list — the dedup-graph QA statistic: near-dup
    clusters from transitive LSH merging should be triangle-dense
    (everything actually similar to everything), while chains of
    borderline pairs (the false-merge smell) have high degree but few
    triangles.

    Degree-ordered node-iterator algorithm (the MapReduce-era standard
    that GraphX/Pregel engines also use): orient every edge from its
    lower-(degree, id) endpoint to the higher one, build wedges by
    self-joining the oriented list on the source, and close each wedge
    with one more equi-join. Each triangle is found EXACTLY once (its
    lowest-rank vertex owns it), and the wedge fan-out is bounded by
    out-degree under degree ordering — O(m^1.5) total work instead of
    the Σdeg² a random orientation can hit on skewed graphs. All three
    steps are equi-joins (AQE-sized shuffles); nothing is quadratic in
    component size.

    Returns ``node, deg, triangles, clustering`` where clustering =
    round(2·T / (deg·(deg−1)), cc_digits) (0.0 for deg < 2).
    """
    # the canonical edge list is referenced ~8x downstream (degrees,
    # orientation, both wedge sides, the closing join) and the caller's
    # edge computation is often a whole similarity join — truncate the
    # lineage once or every reference re-runs it (the q138/pagerank
    # lesson; measured 22 s -> 6 s on the q145 shape at sf0.1).
    e = checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # orient by (deg, id): src = lower-rank endpoint
    da = deg.select(F.col("a"), F.col("deg").alias("__dega"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("__degb"))
    with_deg = e.join(da, "a").join(db, "b")
    a_first = (F.col("__dega") < F.col("__degb")) | (
        (F.col("__dega") == F.col("__degb")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("__degb")).otherwise(F.col("__dega")).alias("__dd"),
    )
    e1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("__dd").alias("__dv")
    )
    e2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("__dd").alias("__dw")
    )
    # wedge (u; v, w) with rank(v) < rank(w) — each unordered pair once
    wedges = e1.join(e2, "u").filter(
        (F.col("__dv") < F.col("__dw"))
        | ((F.col("__dv") == F.col("__dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    nodes = deg.select(F.col("a").alias("node"), "deg")
    return nodes.join(per_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias("triangles"),
        F.when(F.col("deg") >= 2,
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                / (F.col("deg").cast("double") * (F.col("deg") - 1).cast("double")),
                cc_digits,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def minhash_estimate_calibration(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    err_digits: int = 4,
) -> DataFrame:
    """MinHash estimator calibration audit — the dedup analog of the
    q154 ANN recall audit: for every banded-LSH candidate pair, put the
    SIGNATURE estimate (matching minhash components / k — the unbiased
    MinHash Jaccard estimator) next to the exact shingle Jaccard and
    report the absolute error. Run on every index rebuild to keep the
    banding config honest: a drifting corpus (longer docs, new shingle
    distribution) shows up as estimator bias here before it shows up as
    missed duplicates downstream.

    Determinism: both values are single exact-integer divisions; the
    error rounds to ``err_digits``. Scale shape identical to
    :func:`minhash_lsh_pairs` (banded candidates only, never
    all-pairs); the extra estimate is one sig⨝sig equi-join on the
    candidate keys. Candidates whose FILTERED shingle sets do not
    intersect (pure band-hash collisions — the worst-calibrated pairs)
    are kept with jaccard 0, not dropped: the intersection join is a
    LEFT join coalesced to 0.

    Returns ``doc_id_a, doc_id_b, est_jaccard, jaccard, abs_err``.
    """

    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    sh = owned_persist(shingle_table(docs, id_col, text_col, n))
    sig = sh.groupBy("doc_id").agg(
        *_minhash_aggs(num_hashes), F.count(F.lit(1)).alias("n_sh")
    )
    banded = _band_rows(sig, bands, num_hashes // bands)
    candidates = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )
    matches = sum(
        F.when(F.col(f"sa.h{j}") == F.col(f"sb.h{j}"), 1).otherwise(0)
        for j in range(1, num_hashes + 1)
    )
    est = (
        candidates.join(sig.alias("sa"), F.col("sa.doc_id") == F.col("doc_id_a"))
        .join(sig.alias("sb"), F.col("sb.doc_id") == F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )
    # doc sizes come from the signature aggregate already computed —
    # no second corpus-scale groupBy over the shingle table
    sizes = sig.select("doc_id", "n_sh")
    inter = (
        candidates.join(sh.alias("ja"), F.col("ja.doc_id") == F.col("doc_id_a"))
        .join(
            sh.alias("jb"),
            (F.col("jb.doc_id") == F.col("doc_id_b"))
            & (F.col("jb.s") == F.col("ja.s")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    i0 = F.coalesce(F.col("__i"), F.lit(0))
    exact = (
        est.join(inter, ["doc_id_a", "doc_id_b"], "left")
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_id_a", "n_sh": "__na"}),
            "doc_id_a",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_id_b", "n_sh": "__nb"}),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            "est_jaccard",
            (
                i0.cast("double")
                / (F.col("__na") + F.col("__nb") - i0).cast("double")
            ).alias("jaccard"),
        )
    )
    return exact.select(
        "doc_id_a",
        "doc_id_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), err_digits).alias(
            "abs_err"
        ),
    )


def soft_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """IDF-weighted ("soft") Jaccard near-dup pairs: shared BOILERPLATE
    shingles barely count, shared RARE shingles dominate —
    sim(A,B) = Σ_{s∈A∩B} idf(s) / Σ_{s∈A∪B} idf(s), the weighted
    refinement of :func:`ngram_jaccard_pairs` (which scores all
    shingles equally and so over-merges template-heavy corpora).

    idf(s) = round(ln(N/df(s))·10^6) held as BIGINT, so intersection
    and union masses are EXACT integers and the threshold test
    ``sim >= threshold_num/threshold_den`` is the integer
    cross-multiplication ``den·inter >= num·union`` — no float
    compare anywhere; the reported similarity is the exact integer
    ratio (decimal_ratio_round). df comes from a count window
    partitioned by shingle — the same shuffle the pair self-join
    reuses (the q44 discipline); ``max_shingle_df`` caps the join
    fan-out exactly as in the unweighted operator.
    """
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    sh = owned_persist(shingle_table(docs, id_col, text_col, n))
    nd = sh.select(id_col).distinct().count()
    dfw = sh.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    )
    if max_shingle_df is not None:
        dfw = dfw.filter(F.col("__df") <= max_shingle_df)
    shw = owned_persist(
        dfw.withColumn(
            "__w6",
            F.round(
                F.log(F.lit(float(nd)) / F.col("__df").cast("double"))
                * F.lit(1e6)
            ).cast("bigint"),
        ).drop("__df")
    )
    cnt = shw.groupBy(id_col).agg(F.sum("__w6").cast("bigint").alias("__wt"))
    a = shw.select(
        F.col(id_col).alias("doc_id_a"), "s", F.col("__w6").alias("__wa")
    )
    b = shw.select(F.col(id_col).alias("doc_id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum("__wa").cast("bigint").alias("__iw"))
    )
    j = (
        inter.join(
            cnt.select(F.col(id_col).alias("doc_id_a"), F.col("__wt").alias("__ta")),
            "doc_id_a",
        )
        .join(
            cnt.select(F.col(id_col).alias("doc_id_b"), F.col("__wt").alias("__tb")),
            "doc_id_b",
        )
        .withColumn("__un", F.col("__ta") + F.col("__tb") - F.col("__iw"))
    )
    return (
        j.filter(
            (F.col("__un") > 0)
            & (
                F.lit(threshold_den) * F.col("__iw")
                >= F.lit(threshold_num) * F.col("__un")
            )
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            decimal_ratio_round(F.col("__iw"), F.col("__un")).alias(
                "soft_jaccard"
            ),
        )
    )


def self_repetition_coverage(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document coverage by WITHIN-doc repeated n-gram windows —
    the cut-oriented companion of ``corpus.repetition_signals`` and the
    intra-doc sibling of :func:`duplicated_span_coverage` (cross-doc,
    Lee et al. 2022): a token position is "self-repeated" iff it lies
    inside an n-token window whose text already occurred at an EARLIER
    position of the SAME document (first occurrence kept — exactly the
    spans a dedup cut would remove to stop an LM from looping on its
    own boilerplate). Shares ``_positioned_shingles``; the repeat test
    is one (doc, shingle) groupBy min — doc-local, no corpus-wide
    shuffle beyond the shingle hash — and coverage is the same
    explode(sequence) interval union as the cross-doc path.

    Returns ``(doc_id, n_tokens, n_repeated)``."""
    sized, posed = _positioned_shingles(docs, n, id_col, text_col)
    firsts = posed.groupBy("doc_id", "s").agg(F.min("p").alias("__minp"))
    covered = (
        posed.join(firsts, ["doc_id", "s"])
        .filter(F.col("p") > F.col("__minp"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + (n - 1))).alias("__pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_repeated"))
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_repeated", F.lit(0)).cast("bigint").alias("n_repeated"),
        )
    )
