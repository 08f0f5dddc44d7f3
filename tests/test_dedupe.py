"""Dedup operator edge cases not exercised by the sf corpora —
short/empty documents, where Spark and the DuckDB oracle CTE must agree
that sub-n docs produce NO shingles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.operators import dedupe as DD


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_short_docs_produce_no_shingles(spark):
    df = _docs(spark, [(1, ""), (2, "a"), (3, "a b"), (4, "a b c")])
    sh = DD.shingle_table(df).collect()
    assert {(r.doc_id, r.s) for r in sh} == {(4, "a b c")}


def test_identical_short_docs_pair_via_exact_not_jaccard(spark):
    # two identical 2-token docs: no shingles -> no Jaccard pair (they
    # dedup via the exact fingerprint path instead); identical 3-token
    # docs pair at jaccard 1.0
    df = _docs(spark, [(1, "hi there"), (2, "hi there"), (3, "x y z"), (4, "x y z")])
    pairs = DD.ngram_jaccard_pairs(df, threshold=0.5, persist_shingles=False).collect()
    assert [(r.doc_id_a, r.doc_id_b, r.jaccard) for r in pairs] == [(3, 4, 1.0)]
    exact = DD.exact_dedup_keepers(df).collect()
    assert {(r.keeper_id, r.n_copies) for r in exact} == {(1, 2), (3, 2)}


def test_minhash_drops_shingleless_docs_both_sides(spark):
    df = _docs(spark, [(1, "a b"), (2, "p q r s t"), (3, "p q r s t")])
    sig = DD.minhash_signatures(df).collect()
    assert sorted(r.doc_id for r in sig) == [2, 3]
    pairs = DD.minhash_lsh_pairs(df, threshold=0.5, persist_shingles=False).collect()
    assert [(r.doc_id_a, r.doc_id_b, r.jaccard) for r in pairs] == [(2, 3, 1.0)]


def test_minhash_banding_params():
    from airbnb_pyspark_jobs_spark.operators.dedupe import minhash_banding_params

    # the helper must pick a config meeting the target with the largest
    # surviving rows-per-band (max pruning at the required recall)
    nh, bands = minhash_banding_params(0.5, target_recall=0.9, num_hashes=8)
    r = nh // bands
    assert 1 - (1 - 0.5**r) ** bands >= 0.9
    # at t=0.3 only 1-row bands survive with 8 hashes
    assert minhash_banding_params(0.3, target_recall=0.9, num_hashes=8) == (8, 8)
    # widened to 56 hashes, 2-row bands reach the same recall with ~8x
    # fewer background candidates (measured in SCALE_NOTES)
    assert minhash_banding_params(0.3, target_recall=0.9, num_hashes=56) == (56, 28)
    import pytest

    with pytest.raises(ValueError):
        minhash_banding_params(0.05, target_recall=0.99, num_hashes=8)


def test_widened_minhash_seeded_groups(spark):
    """Hashes 1-8 slice md5(s) (byte-identical to the 8-hash scheme);
    hashes 9+ slice seeded md5(s||'|g') so they are independent, not
    repeats of the first group."""
    df = _docs(spark, [(1, "p q r s t u v w")])
    wide = DD.minhash_signatures(df, num_hashes=16).collect()[0]
    narrow = DD.minhash_signatures(df, num_hashes=8).collect()[0]
    assert [wide[f"h{j}"] for j in range(1, 9)] == [narrow[f"h{j}"] for j in range(1, 9)]
    assert [wide[f"h{j}"] for j in range(9, 17)] != [wide[f"h{j}"] for j in range(1, 9)]


def test_low_threshold_recall_with_single_row_bands(spark):
    """Planted ~0.3-Jaccard pairs: bands=8 (1 row/band) must recall
    >= 0.85 where the q45 default (2 bands of 4) recalls ~0 — the
    low-threshold regime measured in SCALE_NOTES."""
    import duckdb

    rows = duckdb.connect().execute(
        "SELECT doc_id, text FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    corpus, planted = [], []
    for doc_id, text in rows:
        toks = text.split()
        corpus.append((doc_id, text))
        if len(toks) >= 30 and len(planted) < 50:
            k = int(2 + 0.4615 * (len(toks) - 2))
            filler = [f"zz{doc_id}w{i}" for i in range(len(toks) - k)]
            corpus.append((doc_id + 100000, " ".join(toks[:k] + filler)))
            planted.append((doc_id, doc_id + 100000))
    docs = _docs(spark, corpus)
    lsh = {
        (r.doc_id_a, r.doc_id_b)
        for r in DD.minhash_lsh_pairs(
            docs, num_hashes=8, bands=8, threshold=0.25, persist_shingles=False
        ).collect()
    }
    got = sum(1 for p in planted if p in lsh)
    assert got / len(planted) >= 0.85, f"{got}/{len(planted)}"
    # widened alternative: 56 hashes in 2-row bands hit the same recall
    # with ~8x fewer background candidates (deterministic given md5)
    wide = {
        (r.doc_id_a, r.doc_id_b)
        for r in DD.minhash_lsh_pairs(
            docs, num_hashes=56, bands=28, threshold=0.25, persist_shingles=False
        ).collect()
    }
    got_w = sum(1 for p in planted if p in wide)
    assert got_w / len(planted) >= 0.85, f"{got_w}/{len(planted)}"


def test_dedup_components_collapse_transitive_chains(spark):
    docs = _docs(spark, [(i, f"d{i}") for i in range(1, 8)])
    # chain 1-2-3, pair 5-6, isolated 4 and 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_id_a long, doc_id_b long"
    )
    comp = {r.doc_id: r.component_id for r in DD.dedup_components(docs, pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
    # keeper selection: one survivor per near-dup cluster
    keepers = {d for d, c in comp.items() if d == c}
    assert keepers == {1, 4, 5, 7}


def test_dedup_components_string_ids_and_foreign_endpoints(spark):
    """r12 endpoint-restricted loop: (a) ids may be STRINGS (q246
    entity names — the convergence check must not cast labels to a
    numeric type), (b) edges whose endpoint is missing from ``docs``
    stay inert exactly as in the corpus-wide loop, (c) isolated docs
    map to themselves without ever entering the iteration."""
    docs = spark.createDataFrame(
        [("bolt",), ("large bolt",), ("nut",), ("washer",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [
            ("large bolt", "bolt"),          # normal in-docs pair
            ("nut", "ghost"),                # endpoint missing from docs
            ("phantom", "specter"),          # both endpoints missing
        ],
        "doc_id_a string, doc_id_b string",
    )
    comp = {
        r.doc_id: r.component_id
        for r in DD.dedup_components(docs, pairs).collect()
    }
    assert comp == {
        "bolt": "bolt",
        "large bolt": "bolt",   # lexicographic min label
        "nut": "nut",           # ghost edge inert
        "washer": "washer",     # isolated
    }


def test_simhash_pairs_pigeonhole_exact(spark):
    """Banding must find EVERY pair within the hamming bound (pigeonhole
    guarantee), verified against a brute-force all-pairs check."""
    docs = _docs(
        spark,
        [(i, " ".join(f"w{j}" for j in range(i, i + 12))) for i in range(1, 30)],
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in DD.simhash_pairs(docs, max_hamming=3, bands=4).collect()
    }
    sigs = {r.doc_id: r.simhash for r in DD.simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == want

    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_pairs(docs, max_hamming=4, bands=4)


def test_simhash_pairs_64bit_production_pigeonhole_exact(spark):
    """The 64-bit xxhash64 production variant (VERDICT r8 #1) keeps the
    pigeonhole guarantee: banding finds EVERY pair within the hamming
    bound, verified against brute-force all-pairs hamming over the
    collected signatures (sign-bit-safe via a 64-bit mask)."""
    docs = _docs(
        spark,
        [(i, " ".join(f"w{j}" for j in range(i, i + 12))) for i in range(1, 30)],
    )
    # generous bound so the candidate set is non-trivial at 64 bits
    got = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in DD.simhash_pairs(
            docs, max_hamming=31, bands=32, bits=64, hash_fn="xxhash64"
        ).collect()
    }
    sigs = {
        r.doc_id: r.simhash
        for r in DD.simhash_signatures(
            docs, bits=64, hash_fn="xxhash64"
        ).collect()
    }
    m64 = (1 << 64) - 1
    ids = sorted(sigs)
    want = {
        (a, b): bin((sigs[a] ^ sigs[b]) & m64).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & m64).count("1") <= 31
    }
    assert got == want
    # some signature must use the high bits (else the width is a no-op)
    assert any(s < 0 or s > (1 << 32) for s in sigs.values())

    import pytest

    with pytest.raises(ValueError, match="32 bits"):
        DD.simhash_signatures(docs, bits=64, hash_fn="md5")
    with pytest.raises(ValueError, match="divide"):
        DD.simhash_pairs(docs, max_hamming=2, bands=3, bits=64)


def test_simhash_pairs_single_band_64bit_exact_duplicates(spark):
    """ADVICE r9: the legal exact-duplicate config (max_hamming=0,
    bands=1) at bits=64 used to build mask=(1<<64)-1, overflowing a
    signed-64 F.lit at runtime. The whole signature is the band now:
    the config must run and find exactly the signature-equal pairs."""
    rows = [(i, " ".join(f"w{j}" for j in range(i, i + 12))) for i in range(1, 20)]
    rows += [(101, rows[0][1]), (102, rows[3][1])]  # exact text dups
    docs = _docs(spark, rows)
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in DD.simhash_pairs(
            docs, max_hamming=0, bands=1, bits=64, hash_fn="xxhash64"
        ).collect()
    }
    sigs = {
        r.doc_id: r.simhash
        for r in DD.simhash_signatures(docs, bits=64, hash_fn="xxhash64").collect()
    }
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sigs[a] == sigs[b]
    }
    assert got == want
    assert (1, 101) in got and (4, 102) in got


def test_dedup_components_deep_chain_converges_in_log_rounds(spark):
    """A 60-hop path graph: neighbor-min alone needs 59 rounds (and the
    per-round nested lineage used to overflow the JVM stack before
    localCheckpoint); pointer jumping converges inside the default cap."""
    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    pairs = spark.range(59).select(
        F.col("id").alias("doc_id_a"), (F.col("id") + 1).alias("doc_id_b")
    )
    out = DD.dedup_components(docs, pairs, max_iterations=20)
    assert out.filter(F.col("component_id") == 0).count() == 60


def test_choose_minhash_config_prefers_wide_two_row_bands():
    # low threshold: widening reaches recall 0.9 while keeping 2-row
    # pruning (8.4x fewer candidates than 1-row bands, SCALE_NOTES)
    nh, b = DD.choose_minhash_config(0.3, target_recall=0.9)
    assert (nh, b) == (56, 28) and nh // b == 2
    nh, b = DD.choose_minhash_config(0.5, target_recall=0.9)
    assert nh // b >= 2 and 1 - (1 - 0.5 ** (nh // b)) ** b >= 0.9
    # impossible targets fall back to the 1-row-band chooser or raise
    import pytest

    with pytest.raises(ValueError):
        DD.choose_minhash_config(0.02, target_recall=0.99, max_hashes=16)


def test_containment_asymmetric_vs_jaccard(spark):
    # eval doc fully embedded in a 4x larger train doc: containment ~1,
    # Jaccard ~0.25 — the case Jaccard-based dedup misses.
    ev = _docs(spark, [(1, "a b c d e f")])
    tr = _docs(
        spark,
        [(100, "a b c d e f " + " ".join(f"w{i}" for i in range(12)))],
    )
    out = DD.containment_pairs(ev, tr, threshold=0.9, persist_shingles=False).collect()
    assert [(r.eval_id, r.train_id) for r in out] == [(1, 100)]
    assert out[0].containment == 1.0
    jac = DD.ngram_jaccard_pairs(
        ev.unionByName(tr), threshold=0.9, persist_shingles=False
    ).collect()
    assert jac == []  # symmetric Jaccard scores the same pair ~0.25


def test_containment_df_cap_filters_both_sides(spark):
    # "x y z" appears in every doc -> df=3 > cap=2; with the cap the
    # eval doc keeps only its rare shingle, shared with train doc 100.
    ev = _docs(spark, [(1, "x y z q r s")])
    tr = _docs(spark, [(100, "x y z q r s"), (101, "x y z o t h e r")])
    out = DD.containment_pairs(
        ev, tr, threshold=0.5, max_shingle_df=2, persist_shingles=False
    ).collect()
    pairs = {(r.eval_id, r.train_id): r.containment for r in out}
    assert (1, 101) not in pairs  # only stop-shingles shared -> dropped
    assert pairs[(1, 100)] == 1.0  # rare shingles all match


def test_leakage_free_split_keeps_dup_pairs_together(spark):
    from airbnb_pyspark_jobs_spark.operators.sampling import hash_split

    # ids chosen so a PER-DOC split would separate them (different
    # buckets); the component split must not.
    docs = _docs(
        spark,
        [(i, f"unique text number {i} pad pad") for i in range(20)]
        + [(100, "the same long duplicated passage of text here"),
           (101, "the same long duplicated passage of text here")],
    )
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, persist_shingles=False)
    comp = DD.dedup_components(docs, pairs)
    out = hash_split(comp, "component_id", {"train": 0.5, "test": 0.5})
    rows = {r.doc_id: (r.component_id, r.split) for r in out.collect()}
    assert rows[100] == rows[101]  # same component AND same split
    assert rows[100][0] == 100


def test_cut_duplicated_spans_basic(spark):
    # doc 1 and 2 share an exact 4-token window; doc 3 is clean.
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta unique1 tail1"),
            (2, "head2 alpha beta gamma delta tail2"),
            (3, "totally different words here now ok"),
        ],
    )
    out = {r.doc_id: r for r in DD.cut_duplicated_spans(df, n=4, coverage_cap=0.9).collect()}
    assert out[3].n_dup_positions == 0 and out[3].cleaned_text == "totally different words here now ok"
    # shared window covers 4 positions in each doc
    assert out[1].n_dup_positions == 4 and out[2].n_dup_positions == 4
    assert out[1].cleaned_text == "unique1 tail1"
    assert out[2].cleaned_text == "head2\ntail2"  # cut splits into 2 segments
    assert out[2].n_segments == 2 and out[2].n_kept_tokens == 2
    assert out[1].chars_removed == len("alphabetagammadelta")


def test_cut_duplicated_spans_drop_policy(spark):
    df = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),  # fully duplicated -> coverage 1.0
            (3, "x y z w v u t s"),
        ],
    )
    out = {r.doc_id: r for r in DD.cut_duplicated_spans(df, n=4, coverage_cap=0.5).collect()}
    for d in (1, 2):
        assert out[d].dropped and out[d].cleaned_text == "" and out[d].n_kept_tokens == 0
        assert out[d].chars_removed == 8  # all 8 single-char tokens
    assert not out[3].dropped and out[3].n_segments == 1


def test_cut_duplicated_spans_no_cross_doc_dup_remains(spark):
    """THE dedup guarantee (Lee et al. 2022 shape): segment-wise
    re-shingling of the cleaned corpus finds zero n-grams shared by
    two distinct original documents."""
    from tests.conftest import SF_DIR

    n = 8
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cleaned = DD.cut_duplicated_spans(docs, n=n, coverage_cap=0.5)
    segs = (
        cleaned.filter(~F.col("dropped"))
        .select("doc_id", F.explode(F.split("cleaned_text", "\n")).alias("seg"))
        .filter(F.col("seg") != "")
        .select("doc_id", F.col("seg").alias("text"))
    )
    # shingle each segment independently; a shingle in >=2 distinct
    # ORIGINAL docs would break the guarantee
    sized, posed = DD._positioned_shingles(segs, n, "doc_id", "text")
    remaining = (
        posed.groupBy("s")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .count()
    )
    assert remaining == 0


def test_incremental_minhash_finds_both_kinds(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = _docs(
        spark,
        [
            (1, base),                     # old
            (3, "totally different text with other words here"),  # old
            (5, base),                     # new: dup of old 1
            (10, base + " iota"),          # new: near-dup of 1 and 5
            (15, "unrelated brand new content nothing shared"),   # new
        ],
    )
    old = df.filter(F.col("doc_id") % 5 != 0)
    new = df.filter(F.col("doc_id") % 5 == 0)
    idx = DD.minhash_band_index(old)
    out = {
        (r.doc_id_a, r.doc_id_b): r.kind
        for r in DD.incremental_minhash_pairs(new, old, idx, threshold=0.5).collect()
    }
    assert out[(1, 5)] == "new_old"
    assert out[(1, 10)] == "new_old"
    assert out[(5, 10)] == "new_new"
    assert all(a % 5 == 0 or b % 5 == 0 for a, b in out)


def test_incremental_minhash_equals_full_lsh_restricted(spark):
    """The incremental path must return exactly the full-corpus LSH
    pairs that touch the new batch (same banding, same threshold)."""
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = DD.minhash_band_index(old)
    inc = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in DD.incremental_minhash_pairs(new, old, idx, threshold=0.5).collect()
    }
    full = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in DD.minhash_lsh_pairs(docs, threshold=0.5).collect()
        if r.doc_id_a % 5 == 0 or r.doc_id_b % 5 == 0
    }
    assert inc == full


def test_prefix_filter_matches_bruteforce_exactly(spark):
    from airbnb_pyspark_jobs_spark.operators.dedupe import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from airbnb_pyspark_jobs_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    brute = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_df=None
        ).collect()
    }
    pf = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in prefix_filter_jaccard_pairs(
            docs, threshold_num=1, threshold_den=2
        ).collect()
    }
    # prefix filtering is EXACT: identical pair set, identical values
    assert pf == brute


def test_prefix_filter_rejects_bad_threshold(spark):
    import pytest as _pytest

    from airbnb_pyspark_jobs_spark.operators.dedupe import (
        prefix_filter_jaccard_pairs,
    )

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="fraction"):
        prefix_filter_jaccard_pairs(df, threshold_num=3, threshold_den=2)


def test_source_overlap_doc_granularity_counts_mirrors(spark):
    from airbnb_pyspark_jobs_spark.operators.dedupe import source_overlap_matrix

    # srcB mirrors half of srcA verbatim; srcC is disjoint
    rows = [
        ("srcA", "alpha beta gamma"),
        ("srcA", "delta epsilon zeta"),
        ("srcB", "alpha beta gamma"),
        ("srcB", "eta theta iota"),
        ("srcC", "kappa lambda mu"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r.source_a, r.source_b): r
        for r in source_overlap_matrix(df, granularity="doc").collect()
    }
    ab = out[("srcA", "srcB")]
    assert ab.n_common == 1 and ab.n_a == 2 and ab.n_b == 2
    assert ab.jaccard == round(1 / 3, 6)
    assert ab.containment_a_in_b == 0.5
    # disjoint pairs never emit a row (inner join on common units)
    assert ("srcA", "srcC") not in out


def test_source_overlap_shingle_granularity_sees_partial_overlap(spark):
    from airbnb_pyspark_jobs_spark.operators.dedupe import source_overlap_matrix

    # no doc is mirrored, but srcB contains srcA's phrase inside a
    # longer doc: doc granularity 0 rows, shingle granularity sees it
    rows = [
        ("srcA", "one two three four"),
        ("srcB", "zzz one two three four yyy"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    assert source_overlap_matrix(df, granularity="doc").count() == 0
    sh = source_overlap_matrix(df, granularity="shingle").collect()
    assert len(sh) == 1
    assert sh[0].n_common == 2  # "one two three", "two three four"
    assert sh[0].containment_a_in_b == 1.0


def test_pagerank_star_center_dominates(spark):
    from airbnb_pyspark_jobs_spark.operators.dedupe import pagerank

    # star: node 0 connected to 1..5; center must outrank leaves, and
    # ranks must sum to ~1 (power iteration conserves mass)
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    out = {r.node: r for r in pagerank(edges, "src", "dst", iters=5).collect()}
    assert out[0].deg == 5
    assert all(out[0].rank > out[i].rank for i in range(1, 6))
    assert abs(sum(r.rank for r in out.values()) - 1.0) < 1e-6
    leaf_ranks = {round(out[i].rank, 9) for i in range(1, 6)}
    assert len(leaf_ranks) == 1  # symmetric leaves tie exactly


def test_pagerank_deterministic_across_runs(spark):
    from airbnb_pyspark_jobs_spark.operators.dedupe import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 7) for i in range(7)] + [(0, 3)], "src long, dst long"
    )
    a = sorted(map(tuple, pagerank(edges, "src", "dst").collect()))
    b = sorted(map(tuple, pagerank(edges, "src", "dst").collect()))
    assert a == b


def test_pagerank_driver_and_spark_paths_agree(spark, monkeypatch):
    """A duplicate pair and a self-pair count twice in ``deg`` (UNION
    ALL orientation) on both paths, and 11 iterations run the Spark
    loop's rank checkpoint: the driver replay must equal it bit for
    bit, and the release sweep frees every checkpoint the loop made."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (3, 4), (4, 5), (5, 1), (6, 7)],
        "src long, dst long",
    )

    def run():
        return sorted(map(tuple, DD.pagerank(edges, "src", "dst", iters=11).collect()))

    driver = run()
    monkeypatch.setattr(DD, "DRIVER_GRAPH_CAP", 0)
    jsc = spark.sparkContext._jsc
    release_owned_caches()
    before = set(jsc.getPersistentRDDs().keys())
    assert run() == driver
    release_owned_caches()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    deg = {node: d for node, d, _ in driver}
    assert deg == {1: 4, 2: 3, 3: 3, 4: 2, 5: 2, 6: 1, 7: 1}


def test_dedup_components_spark_path_releases_its_checkpoints(spark, monkeypatch):
    """Past the cap the Spark loop frees each superseded label
    checkpoint and the edge checkpoint itself, and hands the final
    labels to the ``release_owned_caches`` sweep: afterwards no RDD the
    call persisted is left."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    monkeypatch.setattr(DD, "DRIVER_GRAPH_CAP", 0)
    jsc = spark.sparkContext._jsc
    release_owned_caches()
    before = set(jsc.getPersistentRDDs().keys())
    docs = spark.range(20).select(F.col("id").alias("doc_id"))
    pairs = spark.range(15).select(
        F.col("id").alias("doc_id_a"), (F.col("id") + 1).alias("doc_id_b")
    )
    comp = DD.dedup_components(docs, pairs).collect()
    assert {r.component_id for r in comp if r.doc_id <= 15} == {0}
    # only the final labels are still held while the result is live
    assert len(set(jsc.getPersistentRDDs().keys()) - before) == 1
    release_owned_caches()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


@pytest.mark.parametrize(
    "case",
    [
        test_dedup_components_collapse_transitive_chains,
        test_dedup_components_string_ids_and_foreign_endpoints,
        test_dedup_components_deep_chain_converges_in_log_rounds,
        test_pagerank_star_center_dominates,
        test_pagerank_deterministic_across_runs,
    ],
    ids=lambda f: f.__name__.removeprefix("test_"),
)
def test_graph_cases_on_spark_path(spark, monkeypatch, case):
    """The graph operators' cases above run on the driver path (their
    graphs fit the cap); a cap of 0 sends them through the Spark loop."""
    monkeypatch.setattr(DD, "DRIVER_GRAPH_CAP", 0)
    case(spark)


def test_soft_jaccard_downweights_boilerplate(spark):
    # Docs 1/2 share ONLY the boilerplate header (present in all docs,
    # idf ~ 0); docs 3/4 share rare content. Unweighted Jaccard scores
    # both pairs equally (1 shared / 3 total shingles each); the
    # IDF-weighted score keeps the rare-content pair and drops the
    # boilerplate-only pair.
    from airbnb_pyspark_jobs_spark.operators.dedupe import (
        ngram_jaccard_pairs,
        soft_jaccard_pairs,
    )

    header = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, header + " alpha beta gamma"),
            (2, header + " delta epsilon zeta"),
            (3, header + " quantum flux capacitor overdrive"),
            (4, header + " quantum flux capacitor overdrive"),
        ],
        ["doc_id", "text"],
    )
    soft = {
        (r.doc_id_a, r.doc_id_b): r.soft_jaccard
        for r in soft_jaccard_pairs(docs, max_shingle_df=None).collect()
    }
    assert (3, 4) in soft
    assert (1, 2) not in soft
    hard = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    # the unweighted score cannot separate the two pairs as decisively:
    # boilerplate pair scores > 0 there
    assert hard[(1, 2)] > 0


def test_dup_span_run_profile_thresholds_and_zero_fill(spark):
    # docs 1 & 2 share a verbatim 5-token span -> with n=3 the covered
    # run is exactly those 5 positions in each doc; doc 3 is clean
    shared = "alpha beta gamma delta epsilon"
    df = _docs(
        spark,
        [
            (1, shared + " one two three"),
            (2, "x y " + shared + " z"),
            (3, "p q r s t u v w"),
        ],
    )
    rows = {
        r.min_span_len: (r.n_runs, r.n_positions, r.n_docs, r.max_run_len)
        for r in DD.dup_span_run_profile(
            df, n=3, min_span_lens=(3, 5, 6)
        ).collect()
    }
    # runs of length 5 in docs 1 and 2 qualify at S=3 and S=5 ...
    assert rows[3] == (2, 10, 2, 5)
    assert rows[5] == (2, 10, 2, 5)
    # ... and S=6 catches nothing, but the threshold row still appears
    assert rows[6] == (0, 0, 0, 0)


def test_dup_span_run_profile_monotone_on_corpus(spark):
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    prof = sorted(
        (r.min_span_len, r.n_runs, r.n_positions)
        for r in DD.dup_span_run_profile(docs).collect()
    )
    # sweeping the threshold up can only shrink runs/positions
    for (s1, r1, p1), (s2, r2, p2) in zip(prof, prof[1:]):
        assert s1 < s2 and r1 >= r2 and p1 >= p2
