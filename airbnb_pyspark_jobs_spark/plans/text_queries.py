"""LLM-data-pipeline queries over `documents`: text analysis + dedup.

Every operator here — including the full MinHash-LSH pipeline — has a
value-level DuckDB oracle: the hash primitive is md5 (portable), so
signatures, band hashes and verified pairs are reproducible verbatim in
SQL. Cross-engine expression equivalences used below:

Spark                                | DuckDB
------------------------------------ | -----------------------------------
split(trim(t), '\\s+')               | string_split_regex(trim(t), '\\s+')
regexp_count(t, P)                   | len(regexp_extract_all(t, P))
conv(substr(md5(x),1,8),16,10)       | CAST('0x'||substr(md5(x),1,8) AS BIGINT)
concat_ws('|', a, b)                 | a || '|' || b
F.min(md5-string)                    | min(varchar)  (same ASCII ordering)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.functions import text as TX
from airbnb_pyspark_jobs_spark.functions.numeric import (
    decimal_ratio_round_sql,
    exact_mean_round,
    exact_mean_round_sql,
)
from airbnb_pyspark_jobs_spark.operators import dedupe as DD
from airbnb_pyspark_jobs_spark.plans.queries import query
from airbnb_pyspark_jobs_spark.sources.registry import load_table

# DuckDB equivalents of the token/shingle expressions (see functions/text.py)
_D_TOKENS = r"string_split_regex(trim(text), '\s+')"
_D_SHINGLES = rf"""
  tok AS (SELECT doc_id, {_D_TOKENS} AS ts FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
    FROM tok, UNNEST(range(1, len(ts) - 1)) AS u(i)
  )
"""


# ---------------------------------------------------------------------------
# q40 text stats: token counts (whitespace + BPE-ish), stopword ratio,
# punctuation ratio, quality score, language guess — all JVM-side
# expressions, one scan, no shuffle (per-row derivations).
# ---------------------------------------------------------------------------
def _duck_stop_count(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return f"len(list_filter({_D_TOKENS}, x -> lower(x) IN ({words})))"


_Q40_ORACLE = f"""
WITH s AS (
  SELECT
    doc_id,
    lang AS labeled_lang,
    len({_D_TOKENS}) AS n_tokens,
    len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS n_bpe_tokens,
    {_duck_stop_count("en")} AS sw_en,
    {_duck_stop_count("de")} AS sw_de,
    {_duck_stop_count("es")} AS sw_es,
    {_duck_stop_count("fr")} AS sw_fr,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
    length(text) AS n_chars
  FROM documents
)
SELECT
  doc_id,
  labeled_lang,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
  CAST(sw_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
  (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
   + least(CAST(sw_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 4.0, 1.0)
   + greatest(1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) * 5.0, 0.0)
  ) / 3.0 AS quality,
  CASE
    WHEN sw_en = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'en'
    WHEN sw_de = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'de'
    WHEN sw_es = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'es'
    WHEN sw_fr = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'fr'
    ELSE 'und'
  END AS lang_guess
FROM s
"""


_LANGS = ("en", "de", "es", "fr")


@query("q40_text_stats", oracle=_Q40_ORACLE)
def q40_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # Tokenize-once staging (mirrors the oracle's `s` CTE): stage 1
    # projects the token array + regex counts ONCE per row; stage 2
    # derives scalar counts from it; stage 3 combines scalars. Inlining
    # TX.stopword_ratio/quality_score/lang_guess("text") instead re-runs
    # the whitespace split ~10× per row (each consumer re-tokenizes —
    # the SCALE_NOTES lambda-inlining trap).
    staged = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.tokens("text").alias("__toks"),
        TX.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
        .cast("bigint")
        .alias("__n_punct"),
        F.length("text").cast("bigint").alias("__n_chars"),
    )
    counted = staged.select(
        "doc_id",
        "labeled_lang",
        "n_bpe_tokens",
        "__n_punct",
        "__n_chars",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        *[
            TX.stopword_count_from_tokens(F.col("__toks"), lg).alias(f"__sw_{lg}")
            for lg in _LANGS
        ],
    )
    return counted.select(
        "doc_id",
        "labeled_lang",
        "n_tokens",
        "n_bpe_tokens",
        (F.col("__sw_en").cast("double") / F.col("n_tokens").cast("double")).alias(
            "stopword_ratio"
        ),
        TX.quality_score_from_counts(
            F.col("n_tokens"), F.col("__sw_en"), F.col("__n_punct"), F.col("__n_chars")
        ).alias("quality"),
        TX.lang_guess_from_counts(
            [(lg, F.col(f"__sw_{lg}")) for lg in _LANGS]
        ).alias("lang_guess"),
    )


# ---------------------------------------------------------------------------
# q41 exact dedup via normalized fingerprint (hash-groupBy).
# ---------------------------------------------------------------------------
@query(
    "q41_exact_dedup",
    oracle=r"""
    SELECT
      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q41_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup_keepers(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# q44 exact n-gram Jaccard near-dup pairs (shingle self-join).
# max_shingle_df=50 caps join fan-out (df² guard) — mirrored in the oracle.
# ---------------------------------------------------------------------------
_Q44_ORACLE = f"""
WITH {_D_SHINGLES},
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b,
       CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN cnt ca ON doc_id_a = ca.doc_id
JOIN cnt cb ON doc_id_b = cb.doc_id
WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
"""


@query("q44_ngram_jaccard_pairs", oracle=_Q44_ORACLE)
def q44_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5, max_shingle_df=50
    )


# ---------------------------------------------------------------------------
# q45 MinHash-LSH near-dup pairs, exact-verified. 8 hashes × 2 bands.
# The oracle reproduces the ENTIRE pipeline (signatures, banding,
# candidates, verification) — not just the final answer.
# ---------------------------------------------------------------------------
_NH, _BANDS, _RPB = 8, 2, 4
# sliced MinHash: hash j = min over shingles of md5(s)[4(j-1)+1 : +4]
# (must mirror operators/dedupe._minhash_aggs exactly)
_mins = ",\n    ".join(
    f"min(substr(md5(s), {1 + 4 * (j - 1)}, 4)) AS h{j}" for j in range(1, _NH + 1)
)
_band_exprs = ",\n    ".join(
    "md5(" + " || '|' || ".join(f"h{b * _RPB + j}" for j in range(1, _RPB + 1)) + f") AS b{b}"
    for b in range(_BANDS)
)
_band_union = "\n  UNION ALL\n  ".join(
    f"SELECT doc_id, {b} AS band_idx, b{b} AS band_hash FROM bands" for b in range(_BANDS)
)

_Q45_ORACLE = f"""
WITH {_D_SHINGLES},
sig AS (
  SELECT doc_id,
    {_mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
    {_band_exprs}
  FROM sig
),
bl AS (
  {_band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bl a JOIN bl b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_id_a
  JOIN sh sb ON sb.doc_id = c.doc_id_b AND sb.s = sa.s
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b,
       CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN cnt ca ON doc_id_a = ca.doc_id
JOIN cnt cb ON doc_id_b = cb.doc_id
WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
"""


@query("q45_minhash_lsh_pairs", oracle=_Q45_ORACLE)
def q45_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir),
        num_hashes=_NH,
        bands=_BANDS,
        threshold=0.5,
    )


# ---------------------------------------------------------------------------
# q46 SimHash signatures (16-bit, portable integer arithmetic on md5).
# ---------------------------------------------------------------------------
_bit_sums = ",\n    ".join(
    f"CAST(SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s{b}"
    for b in range(DD.SIMHASH_BITS)
)
_sim_expr = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(DD.SIMHASH_BITS)
)

_Q46_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
),
th AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS th FROM tok
),
bits AS (
  SELECT doc_id,
    {_bit_sums}
  FROM th GROUP BY doc_id
)
SELECT doc_id, CAST({_sim_expr} AS BIGINT) AS simhash FROM bits
"""


@query("q46_simhash", oracle=_Q46_ORACLE)
def q46_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_signatures(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# q47 winnowing fingerprints: distinct sliding-window minima over char
# k-gram hashes (k=8, w=4) of normalized text — robust local
# fingerprinting; shared substrings >= k+w-1 chars guarantee a shared
# fingerprint. Exploded to (doc_id, fp) rows: near-dup fragments are then
# a fingerprint equality JOIN, not an all-pairs scan.
# ---------------------------------------------------------------------------
_WK, _WW = 8, 4

_Q47_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
),
h AS (
  SELECT doc_id,
    list_transform(
      range(1, greatest(length(t) - {_WK - 1}, 1) + 1),
      i -> CAST('0x' || substr(md5(substr(t, i, {_WK})), 1, 8) AS BIGINT)
    ) AS hs
  FROM norm
),
mins AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(hs) - {_WW - 1}, 1) + 1),
      j -> list_min(hs[j:j+{_WW - 1}])
    )) AS fps
  FROM h
)
SELECT doc_id, CAST(UNNEST(fps) AS BIGINT) AS fp FROM mins
"""


@query("q47_winnowing_fingerprints", oracle=_Q47_ORACLE)
def q47_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # three staged projections: normalize once, hash once, THEN window-min
    # (each array referenced multiply downstream → CollapseProject keeps
    # the stages; inlining would recompute the hash array per window)
    norm = docs.select("doc_id", TX.normalize_text("text").alias("__t"))
    hashed = norm.select("doc_id", TX.kgram_hashes("__t", k=_WK).alias("__h"))
    return hashed.select(
        "doc_id", F.explode(TX.window_minima("__h", w=_WW)).alias("fp")
    )


# ---------------------------------------------------------------------------
# q42 document chunking: overlapping token windows (64 tokens, overlap
# 8 -> stride 56) — the context-window-bounded pre-tokenization step.
# Scan-side only (tokenize -> chunk-index sequence -> explode): zero
# shuffles. The oracle rebuilds the same integer chunk math and list
# slicing.
# ---------------------------------------------------------------------------
_CHUNK, _OVERLAP = 64, 8
_STRIDE = _CHUNK - _OVERLAP


@query(
    "q42_chunk_documents",
    oracle=rf"""
    WITH tok AS (SELECT doc_id, {_D_TOKENS} AS ts FROM documents),
    k AS (
      SELECT doc_id, ts,
             UNNEST(range(0, greatest((len(ts) - {_CHUNK} + {_STRIDE - 1}) // {_STRIDE}, 0) + 1)) AS ci
      FROM tok
    )
    SELECT doc_id,
           CAST(ci AS BIGINT) AS chunk_idx,
           array_to_string(ts[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {_CHUNK}], ' ') AS chunk_text,
           CAST(len(ts[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {_CHUNK}]) AS BIGINT) AS n_chunk_tokens
    FROM k
    """,
)
def q42_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import chunk_documents

    docs = load_table(spark, "documents", sf_dir)
    return chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP)


# ---------------------------------------------------------------------------
# q43 deterministic train/val/test split (80/10/10 by md5 bucket of the
# doc id): membership is a pure function of the key, so re-runs and
# engines agree — scan-side projection, no shuffle, no rand().
# ---------------------------------------------------------------------------
@query(
    "q43_hash_split",
    oracle="""
    SELECT doc_id,
      CASE WHEN bucket < 8000 THEN 'train'
           WHEN bucket < 9000 THEN 'val'
           ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bucket
      FROM documents
    )
    """,
)
def q43_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    return hash_split(
        docs.select("doc_id"), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


# ---------------------------------------------------------------------------
# q48 TF-IDF top terms per document (tf * ln(N/df), scores rounded to 6
# digits before ranking with term tie-breaks). No df cap here: the
# synthetic corpus draws from a ~31-term vocabulary where every term
# has df ~ 0.75N, so any stopword-class cap empties the result (the cap
# itself is unit-tested); ranking the full vocabulary value-checks the
# scoring. Two keyed shuffles + a broadcast scalar.
# ---------------------------------------------------------------------------
_TFIDF_K = 3


@query(
    "q48_tfidf_top_terms",
    oracle=rf"""
    WITH tr AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tr GROUP BY 1, 2),
    dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
             round(tf.tf * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN dfc USING (term), n
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, rn FROM r WHERE rn <= {_TFIDF_K}
    """,
)
def q48_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import tfidf_top_terms

    docs = load_table(spark, "documents", sf_dir)
    return tfidf_top_terms(docs, top_k=_TFIDF_K, max_df_ratio=None)


# ---------------------------------------------------------------------------
# q49 corpus quality gate (operators/corpus.quality_filter): every doc
# gets keep + first-failing-rule drop_reason (lang -> length -> quality
# -> repetition). Thresholds chosen to split this corpus non-vacuously:
# the 'zh'-labeled docs trip the lang rule (no zh stopword set), ~20%
# trip quality < 0.5, short docs trip length, and the top-token-ratio
# tail trips repetition. The oracle reproduces every signal and the
# rule cascade.
# ---------------------------------------------------------------------------
_QF_MIN_TOK, _QF_MAX_TOK, _QF_MIN_Q, _QF_MAX_REP = 20, 5000, 0.5, 0.18


@query(
    "q49_quality_filter",
    oracle=rf"""
    WITH tr AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tr GROUP BY 1, 2),
    rep AS (
      SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_token_ratio
      FROM tf GROUP BY doc_id
    ),
    s AS (
      SELECT doc_id,
        len({_D_TOKENS}) AS n_tokens,
        {_duck_stop_count("en")} AS sw_en,
        {_duck_stop_count("de")} AS sw_de,
        {_duck_stop_count("es")} AS sw_es,
        {_duck_stop_count("fr")} AS sw_fr,
        len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
        length(text) AS n_chars
      FROM documents
    ),
    sig AS (
      SELECT s.doc_id,
        CAST(s.n_tokens AS BIGINT) AS n_tokens,
        (least(CAST(s.n_tokens AS DOUBLE) / 100.0, 1.0)
         + least(CAST(s.sw_en AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) * 4.0, 1.0)
         + greatest(1.0 - CAST(s.n_punct AS DOUBLE) / CAST(s.n_chars AS DOUBLE) * 5.0, 0.0)
        ) / 3.0 AS quality,
        CASE
          WHEN sw_en = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'en'
          WHEN sw_de = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'de'
          WHEN sw_es = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'es'
          WHEN sw_fr = greatest(sw_en, sw_de, sw_es, sw_fr) AND greatest(sw_en, sw_de, sw_es, sw_fr) > 0 THEN 'fr'
          ELSE 'und'
        END AS lang_guess,
        rep.top_token_ratio
      FROM s JOIN rep ON s.doc_id = rep.doc_id
    )
    SELECT doc_id, n_tokens, quality, lang_guess, top_token_ratio,
      (CASE
         WHEN lang_guess = 'und' THEN 'lang'
         WHEN n_tokens < {_QF_MIN_TOK} OR n_tokens > {_QF_MAX_TOK} THEN 'length'
         WHEN quality < {_QF_MIN_Q} THEN 'quality'
         WHEN top_token_ratio > {_QF_MAX_REP} THEN 'repetition'
       END) IS NULL AS keep,
      CASE
        WHEN lang_guess = 'und' THEN 'lang'
        WHEN n_tokens < {_QF_MIN_TOK} OR n_tokens > {_QF_MAX_TOK} THEN 'length'
        WHEN quality < {_QF_MIN_Q} THEN 'quality'
        WHEN top_token_ratio > {_QF_MAX_REP} THEN 'repetition'
      END AS drop_reason
    FROM sig
    """,
)
def q49_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import quality_filter

    docs = load_table(spark, "documents", sf_dir)
    return quality_filter(
        docs,
        min_tokens=_QF_MIN_TOK,
        max_tokens=_QF_MAX_TOK,
        min_quality=_QF_MIN_Q,
        max_top_token_ratio=_QF_MAX_REP,
    )


# ---------------------------------------------------------------------------
# q57 PII redaction: emails, IPv4s and phone-like digit runs replaced
# with typed placeholders, with per-category counts — the standard
# pre-training scrub. The corpus has no organic PII, so deterministic
# PII is appended per doc_id residue class (email+IP / phone / none)
# before redaction: all three rules and the none-case are exercised and
# the oracle rebuilds the augmentation, the rule ORDER (emails -> IPs
# -> phones, each on the previously-redacted text) and the counts.
# ---------------------------------------------------------------------------
@query(
    "q57_pii_redaction",
    oracle=rf"""
    WITH aug AS (
      SELECT doc_id,
        CASE
          WHEN doc_id % 3 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                                   || '@example.com at 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
          WHEN doc_id % 3 = 1 THEN text || ' call +1 (555) 123-4567 now'
          ELSE text
        END AS t
      FROM documents
    ),
    s1 AS (
      SELECT doc_id, t,
        len(regexp_extract_all(t, '{TX.EMAIL_PATTERN}')) AS n_emails,
        regexp_replace(t, '{TX.EMAIL_PATTERN}', '<EMAIL>', 'g') AS t1
      FROM aug
    ),
    s2 AS (
      SELECT doc_id, n_emails,
        len(regexp_extract_all(t1, '{TX.IPV4_PATTERN}')) AS n_ips,
        regexp_replace(t1, '{TX.IPV4_PATTERN}', '<IP>', 'g') AS t2
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_emails, n_ips,
        len(regexp_extract_all(t2, '{TX.PHONE_PATTERN}')) AS n_phones,
        regexp_replace(t2, '{TX.PHONE_PATTERN}', '<PHONE>', 'g') AS clean_text
      FROM s2
    )
    SELECT doc_id, clean_text,
      CAST(n_emails AS BIGINT) AS n_emails,
      CAST(n_ips AS BIGINT) AS n_ips,
      CAST(n_phones AS BIGINT) AS n_phones
    FROM s3
    """,
)
def q57_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com at 10.0.0."),
                (F.col("doc_id") % 250).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(" call +1 (555) 123-4567 now")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    counts = TX.pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        TX.redact_pii(F.col("t")).alias("clean_text"),
        *[c.alias(name) for name, c in counts.items()],
    )


# ---------------------------------------------------------------------------
# q58 dedup components: connected components over the exact Jaccard
# pairs (q44's ground truth), component id = min reachable doc id; the
# keeper-selection step (keep doc_id == component_id) that collapses
# transitive near-dup chains. Spark runs iterative min-label
# propagation (converges in cluster-diameter rounds); the oracle
# computes the same fixpoint as a recursive transitive closure.
# ---------------------------------------------------------------------------
@query(
    "q58_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_D_SHINGLES},
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT doc_id_a, doc_id_b FROM inter
      JOIN cnt ca ON doc_id_a = ca.doc_id
      JOIN cnt cb ON doc_id_b = cb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM prs
      UNION SELECT doc_id_b, doc_id_a FROM prs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, MIN(dst) AS component_id
    FROM reach GROUP BY src
    """,
)
def q58_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    return DD.dedup_components(docs, pairs)


# ---------------------------------------------------------------------------
# q59 SimHash near-dup pairs — EXACT by pigeonhole: 16 bits split
# into bands; any pair within hamming distance bands-1 shares a whole
# band, so the band-equality join generates every candidate and
# bit_count(xor) verifies (max_hamming=1 here keeps this corpus's
# result moderate — its ~31-word vocabulary collides signatures
# heavily, documented in the operator's scale note). With max_hamming
# 1, TWO 8-bit bands suffice for exactness and prune ~3.4× harder
# than the original four 4-bit bands (24.7M → 7.2M raw candidates at
# sf0.1 — r8; widest bands the pigeonhole allows = fewest collisions).
# Completes the SimHash family: q46 builds signatures, q59 pairs them.
# ---------------------------------------------------------------------------
_SH_BANDS, _SH_MAXHAM = 2, 1
_SH_BAND_BITS = 16 // _SH_BANDS
_sh_band_union = "\n      UNION ALL\n      ".join(
    f"SELECT doc_id, simhash, {b} AS band_idx, "
    f"(simhash >> {b * _SH_BAND_BITS}) & {(1 << _SH_BAND_BITS) - 1} AS band_val "
    "FROM sig"
    for b in range(_SH_BANDS)
)

_Q59_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
),
th AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS th FROM tok
),
bits AS (
  SELECT doc_id,
    {_bit_sums}
  FROM th GROUP BY doc_id
),
sig AS (SELECT doc_id, CAST({_sim_expr} AS BIGINT) AS simhash FROM bits),
bl AS (
      {_sh_band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM bl a JOIN bl b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {_SH_MAXHAM}
"""


@query("q59_simhash_pairs", oracle=_Q59_ORACLE)
def q59_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_pairs(
        load_table(spark, "documents", sf_dir),
        max_hamming=_SH_MAXHAM,
        bands=_SH_BANDS,
    )


# ---------------------------------------------------------------------------
# q39 bigram repetition signals (Gopher repetition family): top-bigram
# share + duplicated-bigram share per document. One (doc_id, bigram)
# count shuffle + one per-doc aggregate; the denominator is derived
# from the counts themselves (no join back to documents). Ratios are
# single IEEE divisions of exact integer counts — engine-identical raw.
# ---------------------------------------------------------------------------
@query(
    "q39_repetition_signals",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_D_TOKENS} AS ts FROM documents),
    bg AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg
      FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ),
    c AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_ratio,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS dup_bigram_ratio
    FROM c GROUP BY doc_id
    """,
)
def q39_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import repetition_signals

    docs = load_table(spark, "documents", sf_dir)
    return repetition_signals(docs)


# ---------------------------------------------------------------------------
# q37 stratified corpus rebalancing: keep src0-4 whole, halve src5-9,
# 10% of the rest — per-stratum deterministic hash sampling (the
# reproducible sampleBy). Scan-side filter, one count shuffle.
# ---------------------------------------------------------------------------
@query(
    "q37_stratified_sample",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM (
      SELECT source,
             CAST('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 10000 AS bucket
      FROM documents
    )
    WHERE bucket < CASE
      WHEN source IN ('src0','src1','src2','src3','src4') THEN 10000
      WHEN source IN ('src5','src6','src7','src8','src9') THEN 5000
      ELSE 1000 END
    GROUP BY source
    """,
)
def q37_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import stratified_sample

    docs = load_table(spark, "documents", sf_dir)
    fr = {f"src{i}": 1.0 for i in range(5)}
    fr.update({f"src{i}": 0.5 for i in range(5, 10)})
    sampled = stratified_sample(
        docs, "source", fr, key_col="doc_id", seed="s1", default_fraction=0.1
    )
    return sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


# ---------------------------------------------------------------------------
# q38 vocabulary / inverted-index build: per-term df, cf, idf and a
# two-level TREE md5 digest of the sorted postings list (value-checks
# the whole list cross-engine without array round-trip, and no single
# aggregation buffer ever holds a hot term's full doc-id list — the
# stopword-at-10^9-docs OOM). Three keyed shuffles plus a broadcast
# scalar; level-1 buffers are bounded ABSOLUTELY at
# _VOCAB_TARGET ids: B derives from the corpus row count with the same
# integer arithmetic on both engines (derive_digest_buckets), level-2
# buffers hold B fixed-width digests.
# ---------------------------------------------------------------------------
_VOCAB_TARGET = 100_000


@query(
    "q38_vocabulary",
    oracle=rf"""
    WITH bc AS (
      SELECT GREATEST(64, (COUNT(*) + {_VOCAB_TARGET - 1}) // {_VOCAB_TARGET}) AS b
      FROM documents
    ),
    tr AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tr),
    pd AS (SELECT term, doc_id, COUNT(*) AS tf FROM tr GROUP BY 1, 2),
    bd AS (
      SELECT term,
             CAST('0x' || substr(md5(doc_id), 1, 8) AS BIGINT) % (SELECT b FROM bc) AS b,
             COUNT(*) AS df_part,
             SUM(tf) AS cf_part,
             md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS bdig
      FROM pd GROUP BY 1, 2
    )
    SELECT term,
           CAST(SUM(df_part) AS BIGINT) AS df,
           CAST(SUM(cf_part) AS BIGINT) AS cf,
           ROUND(LN((SELECT n FROM n) / CAST(SUM(df_part) AS DOUBLE)), 6) AS idf,
           md5(string_agg(bdig, ',' ORDER BY bdig)) AS postings_md5
    FROM bd GROUP BY term
    """,
)
def q38_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import vocabulary

    docs = load_table(spark, "documents", sf_dir)
    return vocabulary(docs, target_ids_per_bucket=_VOCAB_TARGET)


# ---------------------------------------------------------------------------
# q36 sequence packing: chunks → fixed 512-token training sequences,
# concat-and-split per doc-hash shard. One window shuffle + one pack
# aggregate; sharding keeps packing parallel (see operators/corpus.py).
# ---------------------------------------------------------------------------
_PACK_BUDGET, _PACK_SHARDS = 512, 8


@query(
    "q36_pack_sequences",
    oracle=rf"""
    WITH tok AS (SELECT doc_id, {_D_TOKENS} AS ts FROM documents),
    k AS (
      SELECT doc_id, ts,
             UNNEST(range(0, greatest((len(ts) - {_CHUNK} + {_STRIDE - 1}) // {_STRIDE}, 0) + 1)) AS ci
      FROM tok
    ),
    ch AS (
      SELECT doc_id, ci AS chunk_idx,
             len(ts[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {_CHUNK}]) AS n_chunk_tokens
      FROM k
    ),
    sh AS (
      SELECT *,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % {_PACK_SHARDS} AS shard
      FROM ch
    ),
    c AS (
      SELECT shard, doc_id, n_chunk_tokens,
             SUM(n_chunk_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_chunk_tokens AS cum_excl
      FROM sh
    )
    SELECT shard,
           CAST(FLOOR(CAST(cum_excl AS DOUBLE) / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS pack_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM c GROUP BY 1, 2
    """,
)
def q36_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import chunk_documents, pack_sequences

    docs = load_table(spark, "documents", sf_dir)
    chunks = chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP)
    return pack_sequences(chunks, budget=_PACK_BUDGET, shards=_PACK_SHARDS)


# ---------------------------------------------------------------------------
# q72 the full dedup pipeline end to end: Jaccard pairs -> connected
# components -> keep the most complete doc (longest, id tie-break) per
# cluster. THE production near-dup flow; the oracle replays pairs + a
# recursive transitive closure + the argmax window in SQL.
# ---------------------------------------------------------------------------
@query(
    "q72_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_D_SHINGLES},
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT doc_id_a, doc_id_b FROM inter
      JOIN cnt ca ON doc_id_a = ca.doc_id
      JOIN cnt cb ON doc_id_b = cb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM prs
      UNION SELECT doc_id_b, doc_id_a FROM prs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src
    ),
    ranked AS (
      SELECT comp.component_id, comp.doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY comp.component_id
               ORDER BY d.n_chars DESC, comp.doc_id ASC
             ) AS rn
      FROM comp JOIN documents d ON comp.doc_id = d.doc_id
    )
    SELECT component_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id
    FROM ranked GROUP BY component_id
    """,
)
def q72_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    comp = DD.dedup_components(docs, pairs)
    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_id"),
        )
    )


# ---------------------------------------------------------------------------
# q73 quality-weighted corpus resampling (DSIR-style): keep each doc
# with acceptance probability = its quality score, decided by the
# doc's stable hash bucket — deterministic importance sampling, no
# rand(). Valid cross-engine because the quality double is bitwise
# identical in both engines (q40) and the acceptance test is a single
# multiply + compare. Scan-side filter; one count shuffle.
# ---------------------------------------------------------------------------
@query(
    "q73_weighted_sample",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
        len({_D_TOKENS}) AS n_tokens,
        {_duck_stop_count("en")} AS sw_en,
        len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
        length(text) AS n_chars
      FROM documents
    ),
    q AS (
      SELECT doc_id,
        (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + least(CAST(sw_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 4.0, 1.0)
         + greatest(1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) * 5.0, 0.0)
        ) / 3.0 AS quality
      FROM s
    )
    SELECT doc_id, quality
    FROM q
    WHERE CAST(CAST('0x' || substr(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 10000 AS DOUBLE)
          < least(greatest(quality, 0.0), 1.0) * 10000
    """,
)
def q73_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import weighted_sample

    docs = load_table(spark, "documents", sf_dir)
    staged = docs.select(
        "doc_id",
        TX.tokens("text").alias("__toks"),
        F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
        .cast("bigint")
        .alias("__n_punct"),
        F.length("text").cast("bigint").alias("__n_chars"),
    )
    counted = staged.select(
        "doc_id",
        "__n_punct",
        "__n_chars",
        F.size("__toks").cast("bigint").alias("__n_tokens"),
        TX.stopword_count_from_tokens(F.col("__toks"), "en").alias("__sw_en"),
    )
    scored = counted.select(
        "doc_id",
        TX.quality_score_from_counts(
            F.col("__n_tokens"), F.col("__sw_en"), F.col("__n_punct"), F.col("__n_chars")
        ).alias("quality"),
    )
    return weighted_sample(scored, "quality", key_col="doc_id", seed="w1")


# ---------------------------------------------------------------------------
# q76 benchmark decontamination: asymmetric n-gram CONTAINMENT between the
# eval split (q43's test buckets) and the train split. Catches eval docs
# embedded in larger train docs that Jaccard (q44) scores near 0. df cap
# 50 across both sides mirrors q44's stop-shingle guard; the oracle
# rebuilds the whole pipeline (split, shingles, cap, intersection).
# ---------------------------------------------------------------------------
_Q76_ORACLE = f"""
WITH {_D_SHINGLES},
split AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bucket
  FROM documents
),
she AS (SELECT sh.doc_id, s FROM sh JOIN split USING(doc_id) WHERE bucket >= 9000),
sht AS (SELECT sh.doc_id, s FROM sh JOIN split USING(doc_id) WHERE bucket < 8000),
rare AS (
  SELECT s FROM (SELECT s FROM she UNION ALL SELECT s FROM sht)
  GROUP BY s HAVING COUNT(*) <= 50
),
shef AS (SELECT she.doc_id, she.s FROM she JOIN rare USING(s)),
shtf AS (SELECT sht.doc_id, sht.s FROM sht JOIN rare USING(s)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shef GROUP BY 1),
inter AS (
  SELECT e.doc_id AS eval_id, t.doc_id AS train_id, COUNT(*) AS i
  FROM shef e JOIN shtf t ON e.s = t.s
  GROUP BY 1, 2
)
SELECT eval_id, train_id, CAST(i AS DOUBLE) / CAST(n AS DOUBLE) AS containment
FROM inter JOIN cnt ON eval_id = cnt.doc_id
WHERE CAST(i AS DOUBLE) / CAST(n AS DOUBLE) >= 0.8
"""


@query("q76_contamination_containment", oracle=_Q76_ORACLE)
def q76_contamination_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import split_bucket

    docs = load_table(spark, "documents", sf_dir)
    bucketed = docs.withColumn("__bucket", split_bucket("doc_id"))
    return DD.containment_pairs(
        eval_docs=bucketed.filter(F.col("__bucket") >= 9000),
        train_docs=bucketed.filter(F.col("__bucket") < 8000),
        threshold=0.8,
        max_shingle_df=50,
    )


# ---------------------------------------------------------------------------
# q78 leakage-free train/val/test split: hash-split by near-dup
# COMPONENT id, not doc id. A per-doc split (q43) puts two near-dups on
# opposite sides of the train/eval boundary — silent eval contamination
# q76 then has to detect; splitting on the component representative
# moves every dup cluster atomically. Composition: q44 pairs → q58
# components → q43 hash split, oracle rebuilt end-to-end.
# ---------------------------------------------------------------------------
_Q78_ORACLE = f"""
WITH RECURSIVE {_D_SHINGLES},
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT doc_id_a, doc_id_b FROM inter
  JOIN cnt ca ON doc_id_a = ca.doc_id
  JOIN cnt cb ON doc_id_b = cb.doc_id
  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
),
edges AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM prs
  UNION SELECT doc_id_b, doc_id_a FROM prs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src)
SELECT doc_id, component_id,
  CASE WHEN bucket < 8000 THEN 'train'
       WHEN bucket < 9000 THEN 'val'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id, component_id,
         CAST('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 10000 AS bucket
  FROM comp
)
"""


@query("q78_leakage_free_split", oracle=_Q78_ORACLE)
def q78_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    comp = DD.dedup_components(docs, pairs)
    return hash_split(comp, "component_id", {"train": 0.8, "val": 0.1, "test": 0.1})


# ---------------------------------------------------------------------------
# q86 content-defined chunking (Rabin-style): boundaries where the
# 8-gram hash % 64 == 0, so an edit moves only the chunk it lands in —
# the shift-robust complement to q42's fixed token windows, and the
# unit for chunk-level dedup (groupBy chunk_md5). Scan-side staged
# projections; the oracle rebuilds hashes, cuts, bounds and segments.
# ---------------------------------------------------------------------------
_CDC_K, _CDC_D = 8, 64

_Q86_ORACLE = f"""
WITH h AS (
  SELECT doc_id, text, length(text) AS n,
         list_transform(
           range(1, greatest(length(text) - {_CDC_K} + 1, 1) + 1),
           i -> CAST('0x' || substr(md5(substr(text, CAST(i AS INT), {_CDC_K})), 1, 8) AS BIGINT)
         ) AS hs
  FROM documents
),
c AS (
  SELECT doc_id, text, n,
         list_filter(
           list_transform(hs, (x, i) -> CASE WHEN x % {_CDC_D} = 0
                                             THEN i + {_CDC_K} - 1 END),
           v -> v IS NOT NULL AND v < n
         ) AS cuts
  FROM h
),
b AS (
  SELECT doc_id, text, ([0] || cuts || [n]) AS bounds FROM c
),
seg AS (
  SELECT doc_id, text, bounds, UNNEST(range(1, len(bounds))) AS j FROM b
)
SELECT doc_id,
       CAST(j - 1 AS BIGINT) AS chunk_idx,
       substr(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
              CAST(bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)] AS INT)) AS chunk_text,
       md5(substr(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
                  CAST(bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)] AS INT))) AS chunk_md5,
       CAST(length(substr(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
                   CAST(bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)] AS INT))) AS BIGINT) AS n_chars
FROM seg
"""


@query("q86_cdc_chunks", oracle=_Q86_ORACLE)
def q86_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import cdc_chunks

    return cdc_chunks(
        load_table(spark, "documents", sf_dir), k=_CDC_K, divisor=_CDC_D
    )


# ---------------------------------------------------------------------------
# q87 chunk-level near-dup pairs: documents sharing CDC chunks, scored
# by shared-chunk containment (shared / min(chunks_a, chunks_b)).
# Catches partial-overlap pairs (shared boilerplate, quoted passages)
# that whole-document fingerprints miss and Jaccard dilutes. Same df
# cap discipline as q44 (a chunk shared by hundreds of docs is
# boilerplate, not signal — and df² join fan-out).
# ---------------------------------------------------------------------------
_Q87_T, _Q87_DF = 0.5, 50

_Q87_ORACLE = f"""
WITH h AS (
  SELECT doc_id, text, length(text) AS n,
         list_transform(
           range(1, greatest(length(text) - {_CDC_K} + 1, 1) + 1),
           i -> CAST('0x' || substr(md5(substr(text, CAST(i AS INT), {_CDC_K})), 1, 8) AS BIGINT)
         ) AS hs
  FROM documents
),
c AS (
  SELECT doc_id, text, n,
         list_filter(
           list_transform(hs, (x, i) -> CASE WHEN x % {_CDC_D} = 0
                                             THEN i + {_CDC_K} - 1 END),
           v -> v IS NOT NULL AND v < n
         ) AS cuts
  FROM h
),
b AS (SELECT doc_id, text, ([0] || cuts || [n]) AS bounds FROM c),
seg AS (SELECT doc_id, text, bounds, UNNEST(range(1, len(bounds))) AS j FROM b),
ch AS (
  SELECT DISTINCT doc_id,
         md5(substr(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
                    CAST(bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)] AS INT))) AS m
  FROM seg
),
rare AS (SELECT m FROM ch GROUP BY m HAVING COUNT(*) <= {_Q87_DF}),
chf AS (SELECT ch.doc_id, ch.m FROM ch JOIN rare USING (m)),
cnt AS (SELECT doc_id, COUNT(*) AS nc FROM chf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS shared
  FROM chf a JOIN chf b ON a.m = b.m AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b, CAST(shared AS BIGINT) AS shared_chunks,
       CAST(shared AS DOUBLE) / CAST(least(ca.nc, cb.nc) AS DOUBLE) AS overlap
FROM inter
JOIN cnt ca ON doc_id_a = ca.doc_id
JOIN cnt cb ON doc_id_b = cb.doc_id
WHERE CAST(shared AS DOUBLE) / CAST(least(ca.nc, cb.nc) AS DOUBLE) >= {_Q87_T}
"""


@query("q87_chunk_dedup_pairs", oracle=_Q87_ORACLE)
def q87_chunk_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.corpus import cdc_chunks

    chunks = cdc_chunks(
        load_table(spark, "documents", sf_dir), k=_CDC_K, divisor=_CDC_D
    )
    ch = chunks.select("doc_id", F.col("chunk_md5").alias("m")).distinct()
    # df cap via a window over m: reuses the self-join's shuffle key
    # (the q44 pattern — cheaper than groupBy + semi-join)
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    ch = owned_persist(
        ch.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("m")))
        .filter(F.col("__df") <= _Q87_DF)
        .drop("__df")
    )
    cnt = ch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nc"))
    inter = (
        ch.alias("a")
        .join(
            ch.alias("b"),
            on=[F.col("a.m") == F.col("b.m"), F.col("a.doc_id") < F.col("b.doc_id")],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
    )
    return (
        inter.join(
            cnt.withColumnsRenamed({"doc_id": "doc_id_a", "nc": "na"}), "doc_id_a"
        )
        .join(cnt.withColumnsRenamed({"doc_id": "doc_id_b", "nc": "nb"}), "doc_id_b")
        .withColumn(
            "overlap",
            F.col("shared_chunks").cast("double")
            / F.least("na", "nb").cast("double"),
        )
        .filter(F.col("overlap") >= _Q87_T)
        .select("doc_id_a", "doc_id_b", "shared_chunks", "overlap")
    )


# ---------------------------------------------------------------------------
# q89 distributed BPE merge learning: 3 tokenizer merges trained on the
# corpus word-frequency table (pair counting = weighted groupBy; merge
# = fixpoint string replace; argmax per iteration is a bounded driver
# action, like the k-means loops). The oracle unrolls every iteration —
# pair counts, lexicographic tie-breaks, nested replace — so the
# learned merge table is value-checked, not just row-counted.
# ---------------------------------------------------------------------------
_BPE_N, _BPE_R = 3, 6


def _q89_oracle() -> str:
    from airbnb_pyspark_jobs_spark.operators.bpe import END

    def rep(expr: str, t: str) -> str:
        for _ in range(_BPE_R):
            expr = (
                f"replace({expr}, ' ' || (SELECT x FROM {t}) || ' ' || "
                f"(SELECT y FROM {t}) || ' ', ' ' || (SELECT x FROM {t}) || "
                f"(SELECT y FROM {t}) || ' ')"
            )
        return expr

    parts = [f"""WITH tok AS (SELECT {_D_TOKENS} AS ts FROM documents),
wf AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(ts) AS t FROM tok) GROUP BY t
),
s0 AS (
  SELECT freq,
         ' ' || array_to_string(string_split(w, ''), ' ') || ' {END} ' AS s
  FROM wf
)"""]
    # MATERIALIZED: q90 references t{i} dozens of times as scalar
    # subqueries; DuckDB inlines plain CTEs per reference, which makes
    # the training chain re-execute combinatorially without it.
    for i in range(1, _BPE_N + 1):
        parts.append(f""",
aa{i} AS MATERIALIZED (SELECT freq, string_split(trim(s), ' ') AS a FROM s{i - 1}),
p{i} AS MATERIALIZED (
  SELECT a[CAST(j AS INT)] AS x, a[CAST(j AS INT) + 1] AS y,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM aa{i}, UNNEST(range(1, len(a))) AS u(j)
  GROUP BY 1, 2
),
t{i} AS MATERIALIZED (SELECT x, y, cnt FROM p{i} ORDER BY cnt DESC, x, y LIMIT 1),
s{i} AS MATERIALIZED (SELECT freq, {rep("s", f"t{i}")} AS s FROM s{i - 1})""")
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({i - 1} AS BIGINT) AS merge_idx, x AS sym_a, y AS sym_b, "
        f"x || y AS merged, cnt AS pair_count FROM t{i}"
        for i in range(1, _BPE_N + 1)
    )
    parts.append(f"\n{finals}")
    return "".join(parts)


@query("q89_bpe_merges", oracle=_q89_oracle())
def q89_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.bpe import bpe_learn_merges

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe_learn_merges(docs, n_merges=_BPE_N, replace_passes=_BPE_R)
    return spark.createDataFrame(
        merges,
        "merge_idx long, sym_a string, sym_b string, merged string, pair_count long",
    )


# ---------------------------------------------------------------------------
# q90 BPE tokenization with the learned merges (train→apply, closing
# the q89 loop): per-word segmentation runs once over the vocab and
# joins back to the corpus tokens (broadcast — a tokenizer vocab
# always fits), yielding per-document token counts under the learned
# vocabulary vs raw whitespace/char counts. Oracle re-learns the
# merges and re-applies them in SQL end to end.
# ---------------------------------------------------------------------------
def _q90_oracle() -> str:
    base = _q89_oracle()
    # reuse the q89 chain up to (but not including) its final SELECT
    chain = base[: base.rindex("\nSELECT CAST(0 AS BIGINT)")]

    def rep(expr: str, t: str) -> str:
        for _ in range(_BPE_R):
            expr = (
                f"replace({expr}, ' ' || (SELECT x FROM {t}) || ' ' || "
                f"(SELECT y FROM {t}) || ' ', ' ' || (SELECT x FROM {t}) || "
                f"(SELECT y FROM {t}) || ' ')"
            )
        return expr

    seg = "' ' || array_to_string(string_split(w, ''), ' ') || ' </w> '"
    for i in range(1, _BPE_N + 1):
        seg = rep(seg, f"t{i}")
    return f"""{chain},
wseg AS (
  SELECT w, CAST(len(string_split(trim({seg}), ' ')) AS BIGINT) AS n_sym
  FROM (SELECT DISTINCT t AS w FROM (SELECT UNNEST(ts) AS t FROM tok))
),
dtok AS (SELECT doc_id, UNNEST(ts) AS t FROM (SELECT doc_id, {_D_TOKENS} AS ts FROM documents) d)
SELECT dtok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wseg.n_sym) AS BIGINT) AS n_bpe_tokens
FROM dtok JOIN wseg ON dtok.t = wseg.w
GROUP BY dtok.doc_id
"""


@query("q90_bpe_tokenize", oracle=_q90_oracle())
def q90_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment_words,
    )

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe_learn_merges(docs, n_merges=_BPE_N, replace_passes=_BPE_R)
    wseg = bpe_segment_words(docs, merges, replace_passes=_BPE_R)
    dtok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    return (
        dtok.join(F.broadcast(wseg), dtok.t == wseg.w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q91 data-mixture accounting: token budget per source under the
# LEARNED BPE vocab (q89/q90) — the number that drives pretraining
# mixture weights is tokens, not documents, and it depends on the
# tokenizer. token_share is a single division of exact BIGINTs.
# ---------------------------------------------------------------------------
def _q91_oracle() -> str:
    base = _q90_oracle()
    chain = base[: base.rindex("\nSELECT dtok.doc_id,")]
    return f"""{chain},
per_doc AS (
  SELECT dtok.doc_id, CAST(SUM(wseg.n_sym) AS BIGINT) AS n_bpe
  FROM dtok JOIN wseg ON dtok.t = wseg.w
  GROUP BY dtok.doc_id
),
tot AS (SELECT CAST(SUM(n_bpe) AS BIGINT) AS t FROM per_doc)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(p.n_bpe) AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) AS token_share
FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.source
"""


@query("q91_token_budget_by_source", oracle=_q91_oracle())
def q91_token_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment_words,
    )

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe_learn_merges(docs, n_merges=_BPE_N, replace_passes=_BPE_R)
    wseg = bpe_segment_words(docs, merges, replace_passes=_BPE_R)
    dtok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    per_doc = (
        dtok.join(F.broadcast(wseg), dtok.t == wseg.w)
        .groupBy("doc_id")
        .agg(F.sum("n_sym").alias("n_bpe"))
    )
    total = per_doc.agg(F.sum("n_bpe").alias("t"))
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "token_share",
            F.col("n_bpe_tokens").cast("double") / F.col("t").cast("double"),
        )
        .drop("t")
    )


# ---------------------------------------------------------------------------
# q94 deterministic epoch shuffle + shard assignment: the data-loader
# ordering of a training pipeline as a pure function of (doc_id, epoch,
# seed) — identical across re-runs, resumed jobs and engines, re-dealt
# per epoch. The Spark side computes the global position with the
# partitioned two-phase rank (bucket window + cumulative offsets — no
# global single-task window); the oracle states the SAME answer as the
# one-line global ROW_NUMBER, proving the decomposition exact.
# ---------------------------------------------------------------------------
_EPOCH, _N_SHARDS = 1, 8


@query(
    "q94_epoch_shuffle",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':{_EPOCH}:') AS shuffle_key
      FROM documents
    ),
    r AS (
      SELECT doc_id, shuffle_key,
             CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
               AS epoch_pos,
             COUNT(*) OVER () AS n
      FROM s
    )
    SELECT doc_id, shuffle_key, epoch_pos,
           CAST((epoch_pos * {_N_SHARDS}) // n AS BIGINT) AS shard
    FROM r
    """,
)
def q94_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import epoch_shuffle

    docs = load_table(spark, "documents", sf_dir)
    return epoch_shuffle(
        docs.select("doc_id"), "doc_id", epoch=_EPOCH, n_shards=_N_SHARDS
    )


# ---------------------------------------------------------------------------
# q95 Gopher per-rule quality flags (Rae et al. 2021 Appendix A1.1):
# every rule reported independently (word count, mean word length,
# symbol-to-word ratio, alphabetic-word ratio, required stopwords) so
# rule ablations are measurable corpus-wide — complements q49's
# first-fail audit. All signals integer-exact before ONE division +
# round, so values are bitwise cross-engine.
# ---------------------------------------------------------------------------
_GOPHER_SW = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"


@query(
    "q95_gopher_rules",
    oracle=rf"""
    WITH staged AS (
      SELECT doc_id, text AS t, {_D_TOKENS} AS toks FROM documents
    ),
    arrs AS (
      SELECT doc_id, t,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
               AS n_alpha,
             CAST(len(list_intersect(list_transform(toks, x -> lower(x)),
                                     {_GOPHER_SW})) AS BIGINT)
               AS n_required_stopwords
      FROM staged
    ),
    sig AS (
      SELECT doc_id, n_words, n_required_stopwords,
             round(CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
               AS mean_word_len,
             round(CAST((length(t) - length(replace(t, '#', '')))
                        + (length(t) - length(replace(t, '...', ''))) / 3
                        AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
               AS symbol_word_ratio,
             round(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
               AS alpha_word_ratio
      FROM arrs
    )
    SELECT doc_id, n_words, n_required_stopwords, mean_word_len,
           symbol_word_ratio, alpha_word_ratio,
           (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_mean_word_len,
           (symbol_word_ratio <= 0.1) AS pass_symbol_ratio,
           (alpha_word_ratio >= 0.8) AS pass_alpha_ratio,
           (n_required_stopwords >= 2) AS pass_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
            AND (symbol_word_ratio <= 0.1)
            AND (alpha_word_ratio >= 0.8)
            AND (n_required_stopwords >= 2)) AS keep
    FROM sig
    """,
)
def q95_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import gopher_rules

    docs = load_table(spark, "documents", sf_dir)
    return gopher_rules(docs)


# ---------------------------------------------------------------------------
# q96 unigram log-probability scores (the perplexity-filter stand-in of
# CCNet-style pipelines): one corpus pass trains the unigram LM, a
# broadcast join scores every doc. Per-term ln(p) rounded then DECIMAL
# so the per-doc sums are exact; one division + round for the mean —
# bitwise cross-engine (q48's ln-then-round pattern).
# ---------------------------------------------------------------------------
@query(
    "q96_unigram_logprob",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    n AS (SELECT SUM(c) AS n FROM tf),
    lm AS (
      SELECT term,
             CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS DECIMAL(28,6)) AS lp
      FROM tf, n
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {exact_mean_round_sql("SUM(lp)", "COUNT(*)", 4, sum_scale=6)}
             AS mean_logprob
    FROM toks JOIN lm USING (term)
    GROUP BY doc_id
    """,
)
def q96_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import unigram_logprob_scores

    docs = load_table(spark, "documents", sf_dir)
    return unigram_logprob_scores(docs)


# ---------------------------------------------------------------------------
# q97 weighted source interleave (the mixture sampler of a multi-source
# training pipeline as stride scheduling): source s's k-th doc in its
# epoch-shuffled order sorts at k/w_s, so consuming in interleave_key
# order yields sources at their target rates deterministically. The
# Spark side ranks within source via the two-phase partitioned rank;
# the oracle uses the plain per-source ROW_NUMBER — equality proves the
# decomposition.
# ---------------------------------------------------------------------------
# upweight three sources; the other 17 get the min weight (0.2) — the
# testdata's sources are src0..src19
_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def _q97_oracle() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {float(w)}" for s, w in _MIX_WEIGHTS.items()
    )
    default = float(min(_MIX_WEIGHTS.values()))
    return f"""
    WITH s AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR) || ':0:') AS shuffle_key
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, shuffle_key,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY shuffle_key, doc_id) AS BIGINT)
               AS source_rank
      FROM s
    )
    SELECT doc_id, source, shuffle_key, source_rank,
           round(CAST(source_rank AS DOUBLE) /
                 (CASE {cases} ELSE {default} END), 6) AS interleave_key
    FROM r
    """


@query("q97_source_interleave", oracle=_q97_oracle())
def q97_source_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import source_interleave

    docs = load_table(spark, "documents", sf_dir)
    return source_interleave(
        docs.select("doc_id", "source"), "doc_id", "source", _MIX_WEIGHTS
    )


# ---------------------------------------------------------------------------
# q99 count-min sketch token counts, full value oracle (the frequency
# sketch next to q98's distinct sketch): d=4 seeded-md5 rows × w=16
# buckets over the corpus token stream, point estimate = min over
# rows, compared against the exact counts in the same output. w=16 is
# deliberately small (31-term vocab → guaranteed collisions) so the
# one-sided error property (cms_est >= exact, always) is visible and
# value-checked, not vacuous. Counters are integer sums — build,
# probe and error replay exactly in DuckDB.
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 16


def _q99_oracle() -> str:
    rs = ", ".join(str(r) for r in range(_CMS_D))
    return f"""
    WITH toks AS (
      SELECT lower(t) AS term
      FROM (SELECT UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count
           FROM toks GROUP BY term),
    pairs AS (
      SELECT term, exact_count, r,
             CAST('0x' || substr(md5('cms' || r || term), 1, 8) AS BIGINT) % {_CMS_W} AS b
      FROM tf, (SELECT UNNEST([{rs}]) AS r)
    ),
    counters AS (
      SELECT r, b, CAST(SUM(exact_count) AS BIGINT) AS cnt
      FROM pairs GROUP BY r, b
    )
    SELECT term, exact_count,
           CAST(MIN(cnt) AS BIGINT) AS cms_est,
           CAST(MIN(cnt) - exact_count AS BIGINT) AS overestimate
    FROM pairs JOIN counters USING (r, b)
    GROUP BY term, exact_count
    """


@query("q99_cms_token_counts", oracle=_q99_oracle())
def q99_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        cms_counters,
        cms_estimates,
    )

    docs = load_table(spark, "documents", sf_dir)
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    tf = owned_persist(
        docs.select(F.explode(TX.tokens("text")).alias("t"))
        .select(F.lower("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    )
    counters = cms_counters(tf, "term", "exact_count", d=_CMS_D, w=_CMS_W)
    est = cms_estimates(tf.select("term"), counters, "term", d=_CMS_D, w=_CMS_W)
    return tf.join(est, "term").select(
        "term",
        "exact_count",
        "cms_est",
        (F.col("cms_est") - F.col("exact_count")).cast("bigint").alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# q100 per-source document caps (the Common-Crawl-style domain cap: no
# source may contribute more than K documents, keep its best by
# quality): rank within source by (rounded quality desc, doc_id) and
# flag the top K. Reuses q49's bitwise-cross-engine quality signal for
# the ranking. Scale note: the window partitions by source — with few
# huge sources, swap in the two-phase bucket rank (q94/q97 pattern);
# the cap-K semantics are unchanged.
# ---------------------------------------------------------------------------
_CAP_K = 20


@query(
    "q100_source_caps",
    oracle=rf"""
    WITH tr AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    s AS (
      SELECT doc_id,
        len({_D_TOKENS}) AS n_tokens,
        {_duck_stop_count("en")} AS sw_en,
        len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
        length(text) AS n_chars
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
        round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
          + least(CAST(sw_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 4.0, 1.0)
          + greatest(1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) * 5.0, 0.0)
         ) / 3.0, 6) AS quality
      FROM s
    ),
    r AS (
      SELECT d.doc_id, d.source, sig.quality,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY sig.quality DESC, d.doc_id ASC) AS BIGINT) AS src_rank
      FROM documents d JOIN sig ON d.doc_id = sig.doc_id
    )
    SELECT doc_id, source, quality, src_rank, src_rank <= {_CAP_K} AS kept
    FROM r
    """,
)
def q100_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.corpus import quality_filter

    docs = load_table(spark, "documents", sf_dir)
    q = quality_filter(docs).select(
        "doc_id", F.round("quality", 6).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .withColumn("kept", F.col("src_rank") <= _CAP_K)
    )


# ---------------------------------------------------------------------------
# q103 cross-document duplicated-span coverage (Lee et al. 2022 exact
# substring dedup, doc-level signal): fraction of each doc's token
# positions covered by some n-token window that appears verbatim in
# ANOTHER document. Complements q39 (within-doc repetition). The
# oracle replays positioned shingling, the df>=2 filter, and the
# interval union exactly; n=8 on this corpus yields a non-trivial
# coverage spread (boilerplate-heavy synthetic docs overlap heavily).
# ---------------------------------------------------------------------------
_SPAN_N = 8


@query(
    "q103_dup_span_coverage",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_D_TOKENS} AS tk, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id, p, array_to_string(tk[p + 1:p + {_SPAN_N}], ' ') AS s
      FROM toks, UNNEST(range(0, GREATEST(n_tokens - {_SPAN_N - 1}, 0))) AS u(p)
    ),
    dupes AS (
      SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s)
      WHERE df >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, p2
      FROM (SELECT doc_id, p FROM sh SEMI JOIN dupes USING (s)),
           UNNEST(range(p, p + {_SPAN_N})) AS u(p2)
    ),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup FROM cov GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens,
           CAST(COALESCE(cnt.n_dup, 0) AS BIGINT) AS n_dup_positions,
           round(CAST(COALESCE(cnt.n_dup, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 6)
             AS dup_coverage
    FROM toks t LEFT JOIN cnt ON t.doc_id = cnt.doc_id
    """,
)
def q103_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.dedupe import duplicated_span_coverage

    docs = load_table(spark, "documents", sf_dir)
    return duplicated_span_coverage(docs, n=_SPAN_N)


# ---------------------------------------------------------------------------
# q107 exact-substring dedup REMOVAL (Lee et al. 2022 transform step,
# completing q103's signal): cut every token position covered by a
# cross-doc duplicated n-window; drop docs whose coverage exceeds the
# cap. Cleaned text = kept runs, ' ' within a run and '\n' at each cut
# boundary (segment-wise shingling of the output finds ZERO cross-doc
# duplicated n-grams — property-tested in test_dedupe). The oracle
# replays shingling, the interval union, the anti-join and the
# gaps-and-islands run reassembly (p - ROW_NUMBER is constant within a
# contiguous run on both engines).
# ---------------------------------------------------------------------------
_CUT_CAP = 0.5


@query(
    "q107_exact_substring_cut",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_D_TOKENS} AS tk, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id, p, array_to_string(tk[p + 1:p + {_SPAN_N}], ' ') AS s
      FROM toks, UNNEST(range(0, GREATEST(n_tokens - {_SPAN_N - 1}, 0))) AS u(p)
    ),
    dupes AS (
      SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s)
      WHERE df >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, p2
      FROM (SELECT doc_id, p FROM sh SEMI JOIN dupes USING (s)),
           UNNEST(range(p, p + {_SPAN_N})) AS u(p2)
    ),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup FROM cov GROUP BY doc_id),
    tok AS (
      SELECT doc_id, p, tk[p + 1] AS t
      FROM toks, UNNEST(range(0, n_tokens)) AS u(p)
    ),
    tot AS (SELECT doc_id, CAST(SUM(len(t)) AS BIGINT) AS tot_chars FROM tok GROUP BY doc_id),
    cutc AS (
      SELECT doc_id, CAST(SUM(len(t)) AS BIGINT) AS cut_chars
      FROM (SELECT tok.doc_id, tok.t FROM tok SEMI JOIN cov
              ON tok.doc_id = cov.doc_id AND tok.p = cov.p2)
      GROUP BY doc_id
    ),
    kept AS (
      SELECT tok.doc_id, tok.p, tok.t FROM tok ANTI JOIN cov
        ON tok.doc_id = cov.doc_id AND tok.p = cov.p2
    ),
    runs AS (
      SELECT doc_id, p, t,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS rid
      FROM kept
    ),
    seg AS (
      SELECT doc_id, rid, MIN(p) AS sp, CAST(COUNT(*) AS BIGINT) AS nt,
             string_agg(t, ' ' ORDER BY p) AS seg_text
      FROM runs GROUP BY doc_id, rid
    ),
    clean AS (
      SELECT doc_id,
             string_agg(seg_text, chr(10) ORDER BY sp) AS cleaned,
             CAST(SUM(nt) AS BIGINT) AS kept_toks,
             CAST(COUNT(*) AS BIGINT) AS nseg
      FROM seg GROUP BY doc_id
    ),
    sig AS (
      SELECT t.doc_id, t.n_tokens,
             CAST(COALESCE(cnt.n_dup, 0) AS BIGINT) AS n_dup_positions,
             round(CAST(COALESCE(cnt.n_dup, 0) AS DOUBLE)
                   / CAST(t.n_tokens AS DOUBLE), 6) AS dup_coverage,
             tot.tot_chars
      FROM toks t LEFT JOIN cnt ON t.doc_id = cnt.doc_id
      JOIN tot ON t.doc_id = tot.doc_id
    )
    SELECT sig.doc_id, sig.n_tokens, sig.n_dup_positions, sig.dup_coverage,
           sig.dup_coverage > {_CUT_CAP} AS dropped,
           CASE WHEN sig.dup_coverage > {_CUT_CAP} THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(clean.kept_toks, 0) AS BIGINT) END AS n_kept_tokens,
           CASE WHEN sig.dup_coverage > {_CUT_CAP} THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(clean.nseg, 0) AS BIGINT) END AS n_segments,
           CASE WHEN sig.dup_coverage > {_CUT_CAP} THEN sig.tot_chars
                ELSE CAST(COALESCE(cutc.cut_chars, 0) AS BIGINT) END AS chars_removed,
           CASE WHEN sig.dup_coverage > {_CUT_CAP} THEN ''
                ELSE COALESCE(clean.cleaned, '') END AS cleaned_text
    FROM sig
    LEFT JOIN cutc ON sig.doc_id = cutc.doc_id
    LEFT JOIN clean ON sig.doc_id = clean.doc_id
    """,
)
def q107_exact_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.dedupe import cut_duplicated_spans

    docs = load_table(spark, "documents", sf_dir)
    return cut_duplicated_spans(docs, n=_SPAN_N, coverage_cap=_CUT_CAP)


# ---------------------------------------------------------------------------
# q315 duplicated-span run-length profile (VERDICT r7 #7): the
# min_span_len sweep relating q103/q107's fixed-n shingle approximation
# to the suffix-array formulation of Lee et al. 2022 (maximal
# duplicated spans of ANY length >= threshold). Gaps-and-islands over
# the covered positions gives maximal covered-run lengths; one row per
# swept threshold S with how many runs/positions/docs a
# suffix-array-style cutter at S would touch (run length upper-bounds
# the longest single two-doc match — see the operator docstring for
# the honest delta). The oracle replays shingling, the interval
# union, the run grouping and the threshold sweep exactly.
# ---------------------------------------------------------------------------
_SPAN_SWEEP = (8, 12, 16, 24)


@query(
    "q315_dup_span_profile",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_D_TOKENS} AS tk, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id, p, array_to_string(tk[p + 1:p + {_SPAN_N}], ' ') AS s
      FROM toks, UNNEST(range(0, GREATEST(n_tokens - {_SPAN_N - 1}, 0))) AS u(p)
    ),
    dupes AS (
      SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s)
      WHERE df >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, p2
      FROM (SELECT doc_id, p FROM sh SEMI JOIN dupes USING (s)),
           UNNEST(range(p, p + {_SPAN_N})) AS u(p2)
    ),
    runs AS (
      SELECT doc_id, rid, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM (SELECT doc_id, p2,
                   p2 - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p2) AS rid
            FROM cov)
      GROUP BY doc_id, rid
    ),
    th AS (SELECT CAST(s AS BIGINT) AS min_span_len
           FROM (VALUES {", ".join(f"({s})" for s in _SPAN_SWEEP)}) AS v(s)),
    agg AS (
      SELECT th.min_span_len,
             CAST(COUNT(*) AS BIGINT) AS n_runs,
             CAST(SUM(run_len) AS BIGINT) AS n_positions,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(MAX(run_len) AS BIGINT) AS max_run_len
      FROM runs JOIN th ON runs.run_len >= th.min_span_len
      GROUP BY th.min_span_len
    )
    SELECT th.min_span_len,
           CAST(COALESCE(agg.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(COALESCE(agg.n_positions, 0) AS BIGINT) AS n_positions,
           CAST(COALESCE(agg.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(agg.max_run_len, 0) AS BIGINT) AS max_run_len
    FROM th LEFT JOIN agg USING (min_span_len)
    """,
)
def q315_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.dedupe import dup_span_run_profile

    docs = load_table(spark, "documents", sf_dir)
    return dup_span_run_profile(docs, n=_SPAN_N, min_span_lens=_SPAN_SWEEP)


# ---------------------------------------------------------------------------
# q108 language-ID filter (CCNet/CLD-style stopword-profile + char-class
# heuristic, operators/corpus.language_id): per-language stopword
# ratios, non-ASCII ratio, argmax prediction with alphabetical
# tie-break, 'und' under min evidence, margin-gated reliability, and
# agreement with the labeled lang column. All integer-count ratios
# rounded to 6 — fully value-checked cross-engine.
# ---------------------------------------------------------------------------
_LID_MIN_RATIO = 0.02
_LID_MIN_MARGIN = 0.005


def _q108_oracle() -> str:
    from airbnb_pyspark_jobs_spark.operators.corpus import (
        LANGID_LANGS,
        NON_ASCII_PATTERN,
    )

    ratio_cols = ",\n             ".join(
        f"round(CAST({_duck_stop_count(lg)} AS DOUBLE)"
        f" / CAST(len({_D_TOKENS}) AS DOUBLE), 6) AS ratio_{lg}"
        for lg in LANGID_LANGS
    )
    rlist = ", ".join(f"ratio_{lg}" for lg in LANGID_LANGS)
    chain = "\n             ".join(
        f"WHEN ratio_{lg} = greatest({rlist}) THEN '{lg}'"
        for lg in LANGID_LANGS[:-1]
    )
    return f"""
    WITH s AS (
      SELECT doc_id, lang AS label_lang,
             CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens,
             {ratio_cols},
             round(CAST(len(regexp_extract_all(text, '{NON_ASCII_PATTERN}')) AS DOUBLE)
                   / CAST(GREATEST(length(text), 1) AS DOUBLE), 6) AS non_ascii_ratio
      FROM documents
    ),
    p AS (
      SELECT *,
             CASE WHEN greatest({rlist}) < {_LID_MIN_RATIO} THEN 'und'
             {chain}
             ELSE '{LANGID_LANGS[-1]}' END AS pred_lang,
             round(list_sort([{rlist}])[4] - list_sort([{rlist}])[3], 6) AS margin
      FROM s
    )
    SELECT doc_id, n_tokens, {rlist}, non_ascii_ratio, pred_lang, margin,
           pred_lang <> 'und' AND margin >= {_LID_MIN_MARGIN} AS reliable,
           label_lang, pred_lang = label_lang AS agrees
    FROM p
    """


@query("q108_language_id", oracle=_q108_oracle())
def q108_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import language_id

    docs = load_table(spark, "documents", sf_dir)
    lid = language_id(
        docs, min_ratio=_LID_MIN_RATIO, min_margin=_LID_MIN_MARGIN
    )
    labels = docs.select("doc_id", F.col("lang").alias("label_lang"))
    return lid.join(labels, "doc_id").withColumn(
        "agrees", F.col("pred_lang") == F.col("label_lang")
    )


# ---------------------------------------------------------------------------
# q111 incremental MinHash dedup against a STORED band index (the
# daily-ingest production shape): docs split deterministically into an
# existing corpus (doc_id % 5 != 0) and a new batch (% 5 == 0); the
# old corpus contributes ONLY its stored (doc_id, band_idx, band_hash)
# index rows — never re-shingled for candidate generation — and exact
# verification re-shingles just the new batch + candidate old docs.
# Oracle replays signatures, banding, the split, both candidate kinds
# and verification; equality proves the incremental path returns
# exactly what full-corpus LSH would for pairs touching the new batch.
# ---------------------------------------------------------------------------
_Q111_ORACLE = f"""
WITH {_D_SHINGLES},
sig AS (
  SELECT doc_id,
    {_mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
    {_band_exprs}
  FROM sig
),
bl AS (
  {_band_union}
),
cand AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_id_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_id_b,
         'new_old' AS kind
  FROM bl a JOIN bl b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
  UNION
  SELECT DISTINCT a.doc_id, b.doc_id, 'new_new' AS kind
  FROM bl a JOIN bl b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, c.kind, COUNT(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_id_a
  JOIN sh sb ON sb.doc_id = c.doc_id_b AND sb.s = sa.s
  GROUP BY 1, 2, 3
)
SELECT doc_id_a, doc_id_b, kind,
       CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN cnt ca ON doc_id_a = ca.doc_id
JOIN cnt cb ON doc_id_b = cb.doc_id
WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
"""


@query("q111_incremental_minhash", oracle=_Q111_ORACLE)
def q111_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    old_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    # production: this index is LOADED from storage, built once by
    # minhash_band_index at ingest time — recomputed here only because
    # the testdata has no side-channel storage
    old_index = DD.minhash_band_index(
        old_docs, num_hashes=_NH, bands=_BANDS
    )
    return DD.incremental_minhash_pairs(
        new_docs,
        old_docs,
        old_index,
        num_hashes=_NH,
        bands=_BANDS,
        threshold=0.5,
    )


# ---------------------------------------------------------------------------
# q113 temperature-scaled source mixture (mC4/XLM-R alpha-sampling,
# operators/sampling.temperature_mixture_quotas): q_i proportional to
# (source token count)^0.5 — alpha built from IEEE sqrt only (libm pow
# is not cross-engine-exact), per-source weights summed as exact
# DECIMAL, quotas filled by deterministic md5 rank. Oracle replays
# token counting, the sqrt/decimal weight math and the ranking.
# ---------------------------------------------------------------------------
_TM_BUDGET, _TM_ALPHA = 200, 0.5


@query(
    "q113_temperature_mixture",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS c FROM toks GROUP BY source),
    w AS (
      SELECT source,
             CAST(round(sqrt(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,6)) AS w
      FROM c
    ),
    q AS (
      SELECT source,
             round(CAST(w AS DOUBLE) / CAST((SELECT SUM(w) FROM w) AS DOUBLE), 6)
               AS weight
      FROM w
    ),
    quotas AS (
      SELECT source, weight,
             CAST(FLOOR(weight * {_TM_BUDGET}) AS BIGINT) AS quota
      FROM q
    ),
    r AS (
      SELECT doc_id, source, n_tokens,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS src_rank
      FROM toks
    )
    SELECT r.doc_id, r.source, r.n_tokens, quotas.weight, quotas.quota,
           r.src_rank, r.src_rank <= quotas.quota AS selected
    FROM r JOIN quotas ON r.source = quotas.source
    """,
)
def q113_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        temperature_mixture_quotas,
    )

    docs = load_table(spark, "documents", sf_dir)
    return temperature_mixture_quotas(docs, budget=_TM_BUDGET, alpha=_TM_ALPHA)


# ---------------------------------------------------------------------------
# q115 char-bigram entropy quality signal (compression-proxy filter,
# operators/corpus.char_bigram_entropy): the per-group float sum in
# H = log2(N) - (1/N)*sum(c*log2(c)) is replaced by an exact BIGINT
# sum of nano-scaled rounded log2 terms (aggregation-order
# independent), so the whole signal value-checks cross-engine. 39/500
# docs flag low-entropy at 5.8 bits on sf0.01 (the repetitive tail).
# ---------------------------------------------------------------------------
_ENT_T = 5.8


@query(
    "q115_char_bigram_entropy",
    oracle=rf"""
    WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
    bg AS (
      SELECT doc_id, substr(t, CAST(i AS INT), 2) AS b
      FROM t, UNNEST(range(1, GREATEST(CAST(length(t) AS BIGINT), 1))) u(i)
    ),
    c AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    a AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
             CAST(SUM(c * CAST(round(log2(c) * 1e9) AS BIGINT)) AS BIGINT) AS s
      FROM c GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(a.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
           COALESCE(round(log2(a.n_bigrams)
                    - CAST(a.s AS DOUBLE) / (CAST(a.n_bigrams AS DOUBLE) * 1e9), 6),
                    0.0) AS entropy,
           COALESCE(round(log2(a.n_bigrams)
                    - CAST(a.s AS DOUBLE) / (CAST(a.n_bigrams AS DOUBLE) * 1e9), 6),
                    0.0) < {_ENT_T} AS low_entropy
    FROM t LEFT JOIN a ON t.doc_id = a.doc_id
    """,
)
def q115_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import char_bigram_entropy

    docs = load_table(spark, "documents", sf_dir)
    return char_bigram_entropy(docs, low_entropy_threshold=_ENT_T)


# ---------------------------------------------------------------------------
# q116 DSIR importance weights (Data Selection via Importance
# Resampling, Xie et al. 2023): hashed unigram+bigram bag features,
# add-1-smoothed target/raw multinomials over 1024 md5 buckets,
# per-doc mean log-likelihood ratio. Target slice = source 'src0' (the
# "high-quality domain" stand-in). Each ln(p) is rounded to 6 then
# DECIMAL, so bucket weights and per-doc sums are exact; the mean is
# one double division + round — bitwise cross-engine.
# ---------------------------------------------------------------------------
_DSIR_TARGET_SRC = "src0"
_DSIR_BUCKETS = 1024


@query(
    "q116_dsir_importance",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, source, list_transform({_D_TOKENS}, x -> lower(x)) AS ts
      FROM documents
    ),
    uni AS (SELECT doc_id, source, UNNEST(ts) AS g FROM tok),
    bi AS (
      SELECT doc_id, source, ts[i] || ' ' || ts[i+1] AS g
      FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    hashed AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5('dsir:' || g), 1, 8) AS BIGINT)
               % {_DSIR_BUCKETS} AS b
      FROM grams
    ),
    raw AS (SELECT b, COUNT(*) AS cq FROM hashed GROUP BY b),
    tgt AS (SELECT b, COUNT(*) AS ct FROM hashed
            WHERE source = '{_DSIR_TARGET_SRC}' GROUP BY b),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nq,
                   CAST(SUM(CASE WHEN source = '{_DSIR_TARGET_SRC}'
                            THEN 1 ELSE 0 END) AS DOUBLE) AS nt
            FROM hashed),
    w AS (
      SELECT r.b,
             CAST(round(ln((COALESCE(t.ct, 0) + 1.0)
                           / (tot.nt + {_DSIR_BUCKETS}.0)), 6) AS DECIMAL(28,6))
             - CAST(round(ln((r.cq + 1.0)
                             / (tot.nq + {_DSIR_BUCKETS}.0)), 6) AS DECIMAL(28,6))
               AS lw
      FROM raw r LEFT JOIN tgt t ON r.b = t.b, tot
    ),
    sc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
             round(CAST(SUM(lw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS avg_logratio
      FROM hashed JOIN w USING (b)
      GROUP BY doc_id
    )
    SELECT doc_id, n_ngrams, avg_logratio, (avg_logratio > 0.0) AS keep FROM sc
    """,
)
def q116_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import dsir_importance_weights

    docs = load_table(spark, "documents", sf_dir)
    return dsir_importance_weights(
        docs, is_target=F.col("source") == _DSIR_TARGET_SRC, buckets=_DSIR_BUCKETS
    )


# ---------------------------------------------------------------------------
# q117 interpolated-bigram LM scores (Jelinek-Mercer mixture of MLE
# bigram and unigram models — the step from q96's unigram stand-in
# toward CCNet's KenLM filter). The mixture is evaluated in one fixed
# double-op order on both engines, ln rounded to 6 then DECIMAL, so
# per-doc sums are exact. CAST(0.75 AS DOUBLE) in the oracle — DuckDB
# bare literals are DECIMAL, Spark lit() is double.
# ---------------------------------------------------------------------------
@query(
    "q117_bigram_interp_logprob",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, list_transform({_D_TOKENS}, x -> lower(x)) AS ts
      FROM documents
    ),
    pos AS (
      SELECT doc_id, ts[i] AS term,
             CASE WHEN i >= 2 THEN ts[i-1] END AS prev
      FROM tok, UNNEST(range(1, len(ts) + 1)) AS u(i)
    ),
    tf AS (SELECT term, COUNT(*) AS c FROM pos GROUP BY term),
    n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM tf),
    bf AS (SELECT prev, term, COUNT(*) AS cb FROM pos
           WHERE prev IS NOT NULL GROUP BY prev, term),
    ctx AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cc FROM bf GROUP BY prev),
    sc AS (
      SELECT p.doc_id,
             CAST(round(ln(
               CASE WHEN p.prev IS NULL
                    THEN CAST(tf.c AS DOUBLE) / n.n
                    ELSE CAST(0.75 AS DOUBLE)
                           * (CAST(bf.cb AS DOUBLE) / CAST(ctx.cc AS DOUBLE))
                         + CAST(0.25 AS DOUBLE) * (CAST(tf.c AS DOUBLE) / n.n)
               END), 6) AS DECIMAL(28,6)) AS lp
      FROM pos p
      JOIN tf USING (term)
      LEFT JOIN bf ON p.prev = bf.prev AND p.term = bf.term
      LEFT JOIN ctx ON p.prev = ctx.prev, n
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {exact_mean_round_sql("SUM(lp)", "COUNT(*)", 6)}
             AS mean_logprob
    FROM sc GROUP BY doc_id
    """,
)
def q117_bigram_interp_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import bigram_interp_logprob_scores

    docs = load_table(spark, "documents", sf_dir)
    return bigram_interp_logprob_scores(docs, lam=0.75)


# ---------------------------------------------------------------------------
# q122 BM25 top-k retrieval (Robertson probabilistic ranking — the
# lexical retrieval stage of a RAG stack) for three fixed literal
# queries. Per-term partial scores are computed in one fixed
# double-op order (dyadic constants written as the same arithmetic on
# both engines), rounded to 6 then DECIMAL, so per-pair sums are
# exact; rank orders by rounded score + doc-id tie-break.
# ---------------------------------------------------------------------------
_BM25_QUERIES = [
    (0, "spark join merge"),
    (1, "filter customer table"),
    (2, "vector batch data"),
]
_BM25_TOPK = 10


def _qterm_values(queries) -> str:
    """``(query_id, term)`` VALUES list for the retrieval oracles.
    Terms go through the SAME py_query_terms rule the Spark operators
    use, and single quotes are doubled so a future query string with an
    apostrophe can't break (or inject into) the generated SQL."""
    from airbnb_pyspark_jobs_spark.functions.text import py_query_terms

    return ", ".join(
        f"(CAST({int(qid)} AS BIGINT), '{w.replace(chr(39), chr(39) * 2)}')"
        for qid, text in queries
        for w in sorted(set(py_query_terms(text)))
    )


def _q122_oracle(queries=None, top_k: int | None = None) -> str:
    vals = _qterm_values(queries if queries is not None else _BM25_QUERIES)
    # rank cutoff is a PARAMETER so composing oracles (q303 RRF) couple
    # to their own constant structurally, not by _BM25_TOPK coincidence
    # (ADVICE r7)
    cutoff = _BM25_TOPK if top_k is None else int(top_k)
    return f"""
    WITH toks AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scal AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
             FROM dl),
    q(query_id, term) AS (VALUES {vals}),
    part AS (
      SELECT q.query_id, tf.doc_id,
        CAST(round(
          ln(((scal.n - CAST(dft.df AS DOUBLE)) + CAST(0.5 AS DOUBLE))
             / (CAST(dft.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
             + CAST(1.0 AS DOUBLE))
          * ((CAST(tf.tf AS DOUBLE)
              * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             / (CAST(tf.tf AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(dl.dl AS DOUBLE) / scal.avgdl))))
        , 6) AS DECIMAL(28,6)) AS sc
      FROM tf JOIN q USING (term) JOIN dft USING (term)
           JOIN dl USING (doc_id), scal
    ),
    sc AS (SELECT query_id, doc_id,
                  round(CAST(SUM(sc) AS DOUBLE), 6) AS score
           FROM part GROUP BY query_id, doc_id),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rn
          FROM sc)
    SELECT query_id, doc_id, score, rn FROM r WHERE rn <= {cutoff}
    """


@query("q122_bm25_topk", oracle=_q122_oracle())
def q122_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import bm25_topk

    docs = load_table(spark, "documents", sf_dir)
    return bm25_topk(docs, _BM25_QUERIES, k1=1.2, b=0.75, top_k=_BM25_TOPK)


# ---------------------------------------------------------------------------
# q301 retrieval ranking metrics: MRR@k / nDCG@k / precision@k /
# recall@k of the q122 BM25 ranking against boolean-AND relevance (doc
# contains EVERY query term — the q214 conjunctive ground truth). DCG
# rank gains are shared integer-micro literals (dcg_gain_micros), all
# ratios are exact round-half-away integer quotients; the oracle
# replays the FULL bm25 pipeline plus the relevance join and the same
# gain VALUES table. Relevance work: one scan-side semi-join vs the
# broadcast query-term table; everything past ranking is Q/k-bounded.
# ---------------------------------------------------------------------------
# q122's three queries saturate on this corpus (their 2-3 term ANDs
# match hundreds of docs, so precision/MRR/nDCG pin at 1.0); the two
# extra queries make every metric path non-vacuous: a 6-term
# conjunction (rare relevance -> partial top-k hits) and an
# out-of-vocabulary query (R=0 -> all-zero row, the guard path).
_Q301_QUERIES = _BM25_QUERIES + [
    (3, "dup spark join merge filter"),  # 'dup' df~5% -> R < k
    (4, "warehouse zebra"),
]


def _q301_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round_sql
    from airbnb_pyspark_jobs_spark.operators.corpus import dcg_gain_micros

    k = _BM25_TOPK
    g6, cum6 = dcg_gain_micros(k)
    bm25 = _q122_oracle(_Q301_QUERIES)
    gvals = ", ".join(
        f"(CAST({i + 1} AS BIGINT), CAST({g} AS BIGINT))" for i, g in enumerate(g6)
    )
    cvals = ", ".join(
        f"(CAST({r + 1} AS BIGINT), CAST({c} AS BIGINT))" for r, c in enumerate(cum6)
    )
    mrr = decimal_ratio_round_sql("1", "h.first_rel", 6)
    ndcg = decimal_ratio_round_sql("h.dcg6", "iv.c6", 6)
    prec = decimal_ratio_round_sql("COALESCE(h.n_hits, 0)", str(k), 6)
    rec = decimal_ratio_round_sql("COALESCE(h.n_hits, 0)", "rq.n_relevant", 6)
    return f"""
    WITH ranked AS ({bm25}),
    qterm AS (SELECT DISTINCT query_id, term FROM (SELECT * FROM (VALUES {_q301_qvals()}) AS t(query_id, term))),
    qn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nq FROM qterm GROUP BY 1),
    dterm AS (
      SELECT DISTINCT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    rel AS (
      SELECT m.query_id, m.doc_id
      FROM (
        SELECT qt.query_id, dt.doc_id, CAST(COUNT(*) AS BIGINT) AS nmatch
        FROM qterm qt JOIN dterm dt USING (term)
        GROUP BY 1, 2
      ) m JOIN qn USING (query_id)
      WHERE m.nmatch = qn.nq
    ),
    rq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
           FROM rel GROUP BY 1),
    gv(i, g6) AS (VALUES {gvals}),
    iv(r, c6) AS (VALUES {cvals}),
    h AS (
      SELECT ranked.query_id,
             CAST(MIN(rn) AS BIGINT) AS first_rel,
             CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(SUM(gv.g6) AS BIGINT) AS dcg6
      FROM ranked JOIN rel USING (query_id, doc_id)
                  JOIN gv ON gv.i = ranked.rn
      GROUP BY 1
    ),
    qids AS (SELECT DISTINCT query_id FROM qterm)
    SELECT qids.query_id,
           CAST(COALESCE(rq.n_relevant, 0) AS BIGINT) AS n_relevant,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN h.first_rel IS NOT NULL THEN {mrr}
                ELSE CAST(0 AS DOUBLE) END AS mrr,
           CASE WHEN COALESCE(rq.n_relevant, 0) > 0 AND COALESCE(h.n_hits, 0) > 0
                THEN {ndcg} ELSE CAST(0 AS DOUBLE) END AS ndcg,
           {prec} AS precision_at_k,
           CASE WHEN COALESCE(rq.n_relevant, 0) > 0 THEN {rec}
                ELSE CAST(0 AS DOUBLE) END AS recall_at_k
    FROM qids
    LEFT JOIN rq USING (query_id)
    LEFT JOIN h USING (query_id)
    LEFT JOIN iv ON iv.r = least(COALESCE(rq.n_relevant, 0), {k})
    """


def _q301_qvals() -> str:
    return _qterm_values(_Q301_QUERIES)


@query("q301_bm25_retrieval_metrics", oracle=_q301_oracle())
def q301_bm25_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import retrieval_metrics

    docs = load_table(spark, "documents", sf_dir)
    return retrieval_metrics(docs, _Q301_QUERIES, k=_BM25_TOPK)


# ---------------------------------------------------------------------------
# q124 weighted reservoir sample (Efraimidis-Spirakis A-ES): exactly 5
# docs per source, probability proportional to n_chars, without
# replacement. Ranked by the exponential key ln(u)/w DESC (the
# pow-free equivalent of u^(1/w); libm pow is not cross-engine exact,
# round(ln,6) is); u is the portable md5 uniform.
# ---------------------------------------------------------------------------
_RES_K = 5


@query(
    "q124_weighted_reservoir",
    oracle=f"""
    WITH w AS (
      SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS wt
      FROM documents WHERE n_chars > 0
    ),
    u AS (
      SELECT source, doc_id, wt,
             round(ln((CAST(CAST('0x' || substr(md5('res:' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) / CAST(4294967296.0 AS DOUBLE)), 6)
               / wt AS ky
      FROM w
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY ky DESC, doc_id ASC) AS rn
      FROM u
    )
    SELECT source, doc_id, wt AS weight, round(ky, 9) AS sample_key,
           CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_RES_K}
    """,
)
def q124_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    docs = load_table(spark, "documents", sf_dir)
    return weighted_reservoir_sample(
        docs.filter(F.col("n_chars") > 0),
        group_col="source",
        weight_col="n_chars",
        k=_RES_K,
        id_col="doc_id",
    )


# ---------------------------------------------------------------------------
# q126 OOV rates against a frequency-truncated vocabulary (top-16
# terms, tie-break on term): the tokenizer-coverage diagnostic. Vocab
# is a global top-V over the vocab-sized tf table (heap, not sort),
# broadcast into the scoring join; counts exact, rate one division.
# ---------------------------------------------------------------------------
_OOV_V = 16


@query(
    "q126_oov_rates",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT term, COUNT(*) AS cf FROM toks GROUP BY term),
    v AS (SELECT term FROM tf ORDER BY cf DESC, term ASC LIMIT {_OOV_V}),
    j AS (
      SELECT t.doc_id,
             CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN v ON t.term = v.term
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           round(CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS oov_rate
    FROM j GROUP BY doc_id
    """,
)
def q126_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import oov_rates

    docs = load_table(spark, "documents", sf_dir)
    return oov_rates(docs, vocab_size=_OOV_V)


# ---------------------------------------------------------------------------
# q127 exact Jaccard pairs via PREFIX FILTERING (PPJoin-family set-
# similarity join): zero false negatives without LSH — only each doc's
# rarest-first prefix shingles are indexed, yet every J>=1/2 pair is
# found. All keep/drop decisions are integer arithmetic (rational
# threshold 1/2). The ORACLE is the brute-force all-pairs join with no
# prefix logic at all — equality proves the algorithm exact.
# ---------------------------------------------------------------------------
@query(
    "q127_prefix_filter_pairs",
    oracle=rf"""
    WITH {_D_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS ni
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_id_a, i.doc_id_b,
           CAST(i.ni AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - i.ni AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_id_a = sa.doc_id
    JOIN sizes sb ON i.doc_id_b = sb.doc_id
    WHERE 2 * i.ni >= (sa.n_sh + sb.n_sh - i.ni)
    """,
)
def q127_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return DD.prefix_filter_jaccard_pairs(
        docs, threshold_num=1, threshold_den=2
    )


# ---------------------------------------------------------------------------
# q129 source overlap matrix (corpus governance): which sources share
# content, as shingle-set Jaccard + both containment directions per
# source pair (shingle granularity — whole-doc fingerprints find zero
# cross-source mirrors in this corpus, n-gram overlap carries the real
# signal). One shingle equi-join between sources — never a doc cross
# join.
# ---------------------------------------------------------------------------
@query(
    "q129_source_overlap",
    oracle=r"""
    WITH fp AS (
      SELECT DISTINCT source AS src, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS f
      FROM (SELECT source, string_split_regex(trim(text), '\s+') AS ts
            FROM documents),
           UNNEST(range(1, len(ts) - 1)) AS u(i)
    ),
    sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY src),
    common AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM fp a JOIN fp b ON a.f = b.f AND a.src < b.src
      GROUP BY a.src, b.src
    )
    SELECT c.source_a, c.source_b, sa.n AS n_a, sb.n AS n_b, c.n_common,
           round(CAST(c.n_common AS DOUBLE)
                 / CAST(sa.n + sb.n - c.n_common AS DOUBLE), 6) AS jaccard,
           round(CAST(c.n_common AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
             AS containment_a_in_b,
           round(CAST(c.n_common AS DOUBLE) / CAST(sb.n AS DOUBLE), 6)
             AS containment_b_in_a
    FROM common c
    JOIN sizes sa ON c.source_a = sa.src
    JOIN sizes sb ON c.source_b = sb.src
    """,
)
def q129_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return DD.source_overlap_matrix(docs, granularity="shingle")


# ---------------------------------------------------------------------------
# q136 sparse TF-IDF cosine pairs (the weighted counterpart of q44's
# Jaccard join): per-(doc,term) weights rounded then DECIMAL, so pair
# dot products and squared norms are exact sums; one sqrt per doc and
# one division per pair — no float accumulation. df cap 0.5 mirrors
# q48's stopword economics.
# ---------------------------------------------------------------------------
@query(
    "q136_tfidf_cosine_pairs",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             CAST(round(tf.tf * ln(CAST(nd.n AS DOUBLE) / CAST(dfc.df AS DOUBLE)), 6)
                  AS DECIMAL(28,6)) AS w
      FROM tf JOIN dfc USING (term), nd
      WHERE CAST(dfc.df AS DOUBLE) <= CAST(nd.n AS DOUBLE) * CAST(0.5 AS DOUBLE)
    ),
    nrm AS (
      SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_id_a, d.doc_id_b,
           round(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 4) AS cos_sim
    FROM dots d
    JOIN nrm na ON d.doc_id_a = na.doc_id
    JOIN nrm nb ON d.doc_id_b = nb.doc_id
    WHERE round(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 4) >= 0.8
    """,
)
def q136_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import tfidf_cosine_pairs

    docs = load_table(spark, "documents", sf_dir)
    return tfidf_cosine_pairs(docs, threshold=0.8, max_df_ratio=0.5)


# ---------------------------------------------------------------------------
# q137 PMI word associations (document-level collocation mining):
# presence counts are exact integers, PMI is one fixed-order double
# expression + round, support floor 5 docs, top-50 heap with
# deterministic tie-breaks. max_terms_per_doc bounds the per-doc pair
# fan-out.
# ---------------------------------------------------------------------------
@query(
    "q137_pmi_cooccurrence",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    kept AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, term,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tf DESC, term ASC) AS r
        FROM tf) WHERE r <= 100
    ),
    ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM kept GROUP BY term),
    tt AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS t FROM documents),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             CAST(COUNT(*) AS BIGINT) AS n_docs_pair
      FROM kept a JOIN kept b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
      HAVING COUNT(*) >= 5
    ),
    scored AS (
      SELECT p.term_a, p.term_b, p.n_docs_pair,
             round(ln((CAST(p.n_docs_pair AS DOUBLE) * tt.t)
                      / (CAST(cca.c AS DOUBLE) * CAST(ccb.c AS DOUBLE))), 6) AS pmi
      FROM pairs p
      JOIN ca cca ON p.term_a = cca.term
      JOIN ca ccb ON p.term_b = ccb.term, tt
    )
    SELECT term_a, term_b, n_docs_pair, pmi,
           CAST(ROW_NUMBER() OVER (
             ORDER BY pmi DESC, term_a ASC, term_b ASC) AS BIGINT) AS rn
    FROM scored
    ORDER BY pmi DESC, term_a ASC, term_b ASC
    LIMIT 50
    """,
)
def q137_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import pmi_cooccurrence

    docs = load_table(spark, "documents", sf_dir)
    return pmi_cooccurrence(docs, min_pair_docs=5, top_k=50)


# ---------------------------------------------------------------------------
# q138 PageRank over the exact near-dup graph (duplication
# centrality): 5 unrolled power iterations with per-iteration
# rounding, every contribution rounded then DECIMAL-summed — the
# k-means unrolled-CTE recipe applied to an iterative graph
# algorithm. Teleport = (1.0 - 0.85) evaluated as the SAME IEEE
# subtraction on both engines (the python literal 0.15 is a different
# double). Edges = J>=1/2 exact pairs (integer verification).
# ---------------------------------------------------------------------------
_PR_ITERS = 5


def _q138_oracle() -> str:
    parts = [
        rf"""
    WITH {_D_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT i.da, i.db FROM inter i
      JOIN sizes sa ON i.da = sa.doc_id JOIN sizes sb ON i.db = sb.doc_id
      WHERE 2 * i.ni >= (sa.n_sh + sb.n_sh - i.ni)
    ),
    und AS (SELECT da AS a, db AS b FROM pairs
            UNION ALL SELECT db AS a, da AS b FROM pairs),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY a),
    nodes AS (SELECT a AS node, deg FROM deg),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    tp AS (SELECT round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n, 9)
             AS t FROM nn),
    r0 AS (SELECT node, CAST(round(CAST(1.0 AS DOUBLE) / nn.n, 9)
             AS DECIMAL(18,9)) AS r FROM nodes, nn)"""
    ]
    for k in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
    c{k} AS (
      SELECT u.b AS node,
             CAST(round(CAST(r{k - 1}.r AS DOUBLE) / CAST(deg.deg AS DOUBLE), 9)
                  AS DECIMAL(18,9)) AS c
      FROM und u JOIN r{k - 1} ON u.a = r{k - 1}.node JOIN deg ON u.a = deg.a
    ),
    s{k} AS (SELECT node, SUM(c) AS s FROM c{k} GROUP BY node),
    r{k} AS (
      SELECT n.node,
             CAST(round(tp.t + CAST(0.85 AS DOUBLE)
                        * CAST(COALESCE(s{k}.s, 0) AS DOUBLE), 9)
                  AS DECIMAL(18,9)) AS r
      FROM nodes n LEFT JOIN s{k} ON n.node = s{k}.node, tp
    )"""
        )
    parts.append(
        f"""
    SELECT nodes.node, nodes.deg, CAST(r{_PR_ITERS}.r AS DOUBLE) AS rank
    FROM nodes JOIN r{_PR_ITERS} ON nodes.node = r{_PR_ITERS}.node
    """
    )
    return "".join(parts)


@query("q138_dup_graph_pagerank", oracle=_q138_oracle())
def q138_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.prefix_filter_jaccard_pairs(docs, threshold_num=1, threshold_den=2)
    return DD.pagerank(
        pairs.select("doc_id_a", "doc_id_b"),
        src_col="doc_id_a",
        dst_col="doc_id_b",
        iters=_PR_ITERS,
    )


# ---------------------------------------------------------------------------
# q145 triangle counts / clustering coefficients over the exact
# near-dup graph — the dedup-QA statistic: transitively-merged LSH
# clusters should be triangle-dense; high-degree low-clustering nodes
# are chain merges (the false-positive smell). Degree-ordered
# node-iterator (each triangle owned by its lowest-rank vertex, wedge
# fan-out bounded by out-degree — O(m^1.5), never Σdeg²); the oracle
# enumerates the same triangles via the id-ordered 3-way join (both
# orderings count each triangle exactly once, so the RESULTS agree
# while the plans differ in scalability).
# ---------------------------------------------------------------------------
_Q145_ORACLE = rf"""
    WITH {_D_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT i.da, i.db FROM inter i
      JOIN sizes sa ON i.da = sa.doc_id JOIN sizes sb ON i.db = sb.doc_id
      WHERE 2 * i.ni >= (sa.n_sh + sb.n_sh - i.ni)
    ),
    und AS (SELECT da AS a, db AS b FROM pairs
            UNION ALL SELECT db AS a, da AS b FROM pairs),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY a),
    tri AS (
      SELECT p1.da AS u, p1.db AS v, p2.db AS w
      FROM pairs p1 JOIN pairs p2 ON p2.da = p1.da AND p1.db < p2.db
      JOIN pairs p3 ON p3.da = p1.db AND p3.db = p2.db
    ),
    pern AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v AS node FROM tri
        UNION ALL SELECT w AS node FROM tri
      ) GROUP BY node
    )
    SELECT d.a AS node, d.deg,
           CAST(COALESCE(p.t, 0) AS BIGINT) AS triangles,
           CASE WHEN d.deg >= 2 THEN
             round(CAST(2.0 AS DOUBLE) * CAST(COALESCE(p.t, 0) AS DOUBLE)
                   / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE)), 6)
           ELSE CAST(0.0 AS DOUBLE) END AS clustering
    FROM deg d LEFT JOIN pern p ON d.a = p.node
"""


@query("q145_dup_graph_triangles", oracle=_Q145_ORACLE)
def q145_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.prefix_filter_jaccard_pairs(docs, threshold_num=1, threshold_den=2)
    return DD.triangle_counts(
        pairs.select("doc_id_a", "doc_id_b"),
        src_col="doc_id_a",
        dst_col="doc_id_b",
    )


# ---------------------------------------------------------------------------
# q142 end-to-end training-data funnel: the whole curation pipeline as
# ONE query — language filter → quality gate (q49; the Gopher gate's
# 50-word floor rejects this corpus's 20-50-word docs wholesale, so
# the corpus-tuned gate is the right stage here) → exact-dedup
# keepers → near-dup pair drop (keep-lower-id) → DSIR selection —
# reporting per-stage survivor counts (the attrition table every
# dataset card publishes). The ORACLE composes the already-verified
# stage oracles (q49/q41/q44/q116) as subqueries: green stages imply
# a green pipeline, and the funnel query proves the stages COMPOSE.
# ---------------------------------------------------------------------------
def _q142_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q49 = ORACLES["q49_quality_filter"]
    q41 = ORACLES["q41_exact_dedup"]
    q44 = ORACLES["q44_ngram_jaccard_pairs"]
    q116 = ORACLES["q116_dsir_importance"]
    return f"""
    WITH gop AS (SELECT doc_id, keep AS gkeep FROM ({q49})),
    ded AS (SELECT keeper_id FROM ({q41})),
    nd AS (SELECT doc_id_b FROM ({q44})),
    dsir AS (SELECT doc_id, keep AS dkeep FROM ({q116})),
    s1 AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    s2 AS (SELECT s1.doc_id FROM s1 JOIN gop USING (doc_id) WHERE gop.gkeep),
    s3 AS (SELECT s2.doc_id FROM s2
           WHERE s2.doc_id IN (SELECT keeper_id FROM ded)),
    s4 AS (SELECT s3.doc_id FROM s3
           WHERE s3.doc_id NOT IN (SELECT doc_id_b FROM nd)),
    s5 AS (SELECT s4.doc_id FROM s4 JOIN dsir USING (doc_id) WHERE dsir.dkeep)
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'all' AS stage,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
    UNION ALL SELECT 1, 'lang_en', CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
    UNION ALL SELECT 2, 'quality', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL SELECT 3, 'exact_dedup', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    UNION ALL SELECT 4, 'near_dedup', CAST((SELECT COUNT(*) FROM s4) AS BIGINT)
    UNION ALL SELECT 5, 'dsir_select', CAST((SELECT COUNT(*) FROM s5) AS BIGINT)
    """


@query("q142_corpus_funnel", oracle=_q142_oracle())
def q142_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import (
        dsir_importance_weights,
        quality_filter,
    )
    from airbnb_pyspark_jobs_spark.operators.dedupe import (
        exact_dedup_keepers,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    s1 = docs.filter(F.col("lang") == "en").select("doc_id")
    gop = quality_filter(docs).filter(F.col("keep")).select("doc_id")
    s2 = s1.join(gop, "doc_id", "left_semi")
    keepers = exact_dedup_keepers(docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    s3 = s2.join(keepers, "doc_id", "left_semi")
    nd = ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50).select(
        F.col("doc_id_b").alias("doc_id")
    )
    s4 = s3.join(nd, "doc_id", "left_anti")
    dsir = (
        dsir_importance_weights(
            docs, is_target=F.col("source") == _DSIR_TARGET_SRC,
            buckets=_DSIR_BUCKETS,
        )
        .filter(F.col("keep"))
        .select("doc_id")
    )
    s5 = s4.join(dsir, "doc_id", "left_semi")

    def stage(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(idx).cast("bigint").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )

    out = stage(0, "all", docs)
    for idx, name, frame in [
        (1, "lang_en", s1),
        (2, "quality", s2),
        (3, "exact_dedup", s3),
        (4, "near_dedup", s4),
        (5, "dsir_select", s5),
    ]:
        out = out.unionByName(stage(idx, name, frame))
    return out


# ---------------------------------------------------------------------------
# q147 model-based quality scoring, TRAINED IN-ENGINE: 5 full-batch
# gradient-descent steps of a linear scorer under the fast-sigmoid
# link (libm-free: +,*,/,abs only — engine-identical, unlike exp()),
# labels = lang=='en', features = scan-side token statistics. Each
# iteration is one Catalyst scoring pass + one 4-column DECIMAL
# gradient aggregate; only the 4 gradient sums reach the driver (the
# k-means bounded-action recipe). The oracle replays the exact weight
# trajectory as unrolled CTEs: per-row terms rounded then
# DECIMAL-summed, weight updates one fixed-order double expression.
# ---------------------------------------------------------------------------
_Q147_ITERS, _Q147_LR = 5, 0.5
_Q147_FEATS = ["x0", "x1", "x2", "x3"]


def _q147_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"])
    gsums = ", ".join(
        f"SUM(CAST(round((y - p) * x{j}, 9) AS DECIMAL(28,9))) AS g{j}"
        for j in range(4)
    )
    wupds = ", ".join(
        f"round(w.w{j} + CAST({_Q147_LR} AS DOUBLE)"
        f" * (CAST(g.g{j} AS DOUBLE) / CAST(g.n AS DOUBLE)), 9) AS w{j}"
        for j in range(4)
    )
    zexpr = "f.x0 * w.w0 + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3"
    sig = (
        "CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * z"
        " / (CAST(1.0 AS DOUBLE) + abs(z))"
    )
    parts = [
        rf"""
    WITH tok AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN term IN ({stop}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS n_dist
      FROM tok GROUP BY doc_id
    ),
    feats AS (
      SELECT d.doc_id,
        CASE WHEN d.lang = 'en' THEN CAST(1.0 AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END AS y,
        CAST(1.0 AS DOUBLE) AS x0,
        round(CAST(tc.n_tok AS DOUBLE) / CAST(50.0 AS DOUBLE), 6) AS x1,
        round(CAST(tc.n_stop AS DOUBLE) / CAST(tc.n_tok AS DOUBLE), 6) AS x2,
        round(CAST(tc.n_dist AS DOUBLE) / CAST(tc.n_tok AS DOUBLE), 6) AS x3
      FROM documents d JOIN tc ON d.doc_id = tc.doc_id
    ),
    w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                  CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)"""
    ]
    for k in range(1, _Q147_ITERS + 1):
        parts.append(
            f""",
    p{k} AS (
      SELECT f.*, round({sig}, 9) AS p
      FROM (SELECT f.*, round({zexpr}, 9) AS z
            FROM feats f, w{k - 1} w) f
    ),
    g{k} AS (SELECT {gsums}, CAST(COUNT(*) AS BIGINT) AS n FROM p{k}),
    w{k} AS (SELECT {wupds} FROM w{k - 1} w, g{k} g)"""
        )
    parts.append(
        f"""
    SELECT doc_id, y, round(p, 6) AS p,
           CAST(CASE WHEN round(p, 6) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
    FROM (
      SELECT f.doc_id, f.y, round({sig}, 9) AS p
      FROM (SELECT f.*, round({zexpr}, 9) AS z
            FROM feats f, w{_Q147_ITERS} w) f
    )
    """
    )
    return "".join(parts)


def _q147_features(docs: DataFrame) -> DataFrame:
    """The q147 feature frame (doc_id, y, x0..x3) — shared by the GD
    classifier itself and the feature audits built on it (q252 IV)."""
    staged = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
        F.transform(TX.tokens("text"), lambda t: F.lower(t)).alias("__toks"),
    )
    counted = staged.select(
        "doc_id",
        "y",
        F.size("__toks").cast("bigint").alias("__n_tok"),
        F.size(
            F.filter(F.col("__toks"), lambda t: t.isin(*TX.STOPWORDS["en"]))
        ).cast("bigint").alias("__n_stop"),
        F.size(F.array_distinct("__toks")).cast("bigint").alias("__n_dist"),
    )
    return counted.select(
        "doc_id",
        "y",
        F.lit(1.0).alias("x0"),
        F.round(F.col("__n_tok").cast("double") / F.lit(50.0), 6).alias("x1"),
        F.round(
            F.col("__n_stop").cast("double") / F.col("__n_tok").cast("double"), 6
        ).alias("x2"),
        F.round(
            F.col("__n_dist").cast("double") / F.col("__n_tok").cast("double"), 6
        ).alias("x3"),
    )


@query("q147_quality_classifier_gd", oracle=_q147_oracle())
def q147_quality_classifier_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.classifier import (
        score_fast_sigmoid,
        train_gd_fast_sigmoid,
    )

    feats = _q147_features(load_table(spark, "documents", sf_dir))
    w = train_gd_fast_sigmoid(
        feats, _Q147_FEATS, "y", iters=_Q147_ITERS, lr=_Q147_LR
    )
    return score_fast_sigmoid(feats, _Q147_FEATS, w).select(
        "doc_id", "y", "p", "pred"
    )


# ---------------------------------------------------------------------------
# q148 priority keeper selection — the cross-source dedup POLICY step:
# inside each near-dup component, keep the doc from the most-curated
# source (lowest priority rank; doc_id tie-break) instead of plain
# min-id. One struct-min aggregation per component (lexicographic
# (priority, doc_id) min — no window over the corpus); the oracle
# replays components via the recursive reach CTE (q58) and the keeper
# via a per-component ROW_NUMBER. Priority here = the numeric suffix
# of `source` (deterministic stand-in for a curation ranking table —
# in production a broadcast dim).
# ---------------------------------------------------------------------------
@query(
    "q148_priority_keepers",
    oracle=rf"""
    WITH RECURSIVE {_D_SHINGLES},
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT doc_id_a, doc_id_b FROM inter
      JOIN cnt ca ON doc_id_a = ca.doc_id
      JOIN cnt cb ON doc_id_b = cb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM prs
      UNION SELECT doc_id_b, doc_id_a FROM prs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS component_id
             FROM reach GROUP BY src),
    pri AS (
      SELECT doc_id, source,
             CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) AS pri
      FROM documents
    ),
    r AS (
      SELECT c.component_id, p.doc_id, p.source,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY p.pri ASC, p.doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY c.component_id) AS nm
      FROM comp c JOIN pri p USING (doc_id)
    )
    SELECT component_id, doc_id AS keeper_id, source AS keeper_source,
           CAST(nm AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """,
)
def q148_priority_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    comp = DD.dedup_components(docs, pairs)
    pri = docs.select(
        "doc_id",
        "source",
        F.regexp_extract("source", r"([0-9]+)$", 1).cast("bigint").alias("__pri"),
    )
    j = comp.join(pri, "doc_id")
    best = j.groupBy("component_id").agg(
        # lexicographic struct-min == (priority ASC, doc_id ASC) argmin:
        # one aggregation, no per-component window over the corpus
        F.min(F.struct(F.col("__pri"), F.col("doc_id"))).alias("__b"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    keeper = best.select(
        "component_id",
        F.col("__b.doc_id").alias("keeper_id"),
        "n_members",
    )
    return keeper.join(
        pri.select(
            F.col("doc_id").alias("keeper_id"),
            F.col("source").alias("keeper_source"),
        ),
        "keeper_id",
    ).select("component_id", "keeper_id", "keeper_source", "n_members")


# ---------------------------------------------------------------------------
# q149 token-budget curriculum selection: take documents in learned-
# quality order (q147's scores, doc_id tie-break) until 10% of the
# corpus token mass is selected — the budget-constrained data-selection
# step of a pretraining pipeline. The running token sum comes from the
# two-phase numeric CUMSUM (range buckets + broadcast offsets — the
# rank machinery generalized to weighted prefix sums), never a global
# one-task window; the budget is an in-plan broadcast scalar
# (total // 10), so the query is SF-independent. Oracle composes the
# verified q147 oracle with a SUM OVER (ORDER BY ...) replay.
# ---------------------------------------------------------------------------
def _q149_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q147 = ORACLES["q147_quality_classifier_gd"]
    return f"""
    WITH scores AS ({q147}),
    toks AS (SELECT doc_id, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tok
             FROM documents),
    j AS (SELECT s.doc_id, s.p, t.n_tok FROM scores s JOIN toks t USING (doc_id)),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM j),
    c AS (SELECT doc_id, p, n_tok,
                 CAST(SUM(n_tok) OVER (ORDER BY p DESC, doc_id ASC)
                      AS BIGINT) AS cum_tokens
          FROM j)
    SELECT c.doc_id, c.p, c.n_tok, c.cum_tokens
    FROM c, tot WHERE c.cum_tokens <= tot.t // 10
    """


@query("q149_token_budget_curriculum", oracle=_q149_oracle())
def q149_token_budget_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_cumsum,
    )

    scored = q147_quality_classifier_gd(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.size(TX.tokens("text")).cast("bigint").alias("n_tok")
    )
    j = scored.join(toks, "doc_id").select("doc_id", "p", "n_tok")
    tot = j.agg(F.sum("n_tok").cast("bigint").alias("__tot"))
    c = two_phase_numeric_cumsum(
        j, "p", "doc_id", "n_tok", "cum_tokens", descending=True
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_tokens") <= F.expr("__tot div 10"))
        .select("doc_id", "p", "n_tok", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# q150 per-source dataset card — the release datasheet: volumes,
# language purity, exact-dup involvement per source (dup = fingerprint
# occurs >= 2 times CORPUS-wide, so cross-source boilerplate counts).
# Scan-side stats + the q41 fingerprint shuffle + one source-sized
# aggregate.
# ---------------------------------------------------------------------------
@query(
    "q150_dataset_card",
    oracle=rf"""
    WITH fp AS (
      SELECT doc_id, source, lang, {_D_TOKENS} AS ts,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    ),
    fc AS (SELECT f, COUNT(*) AS c FROM fp GROUP BY f),
    base AS (
      SELECT fp.source, CAST(len(fp.ts) AS BIGINT) AS n_tok,
             CASE WHEN fp.lang = 'en' THEN 1 ELSE 0 END AS is_major,
             CASE WHEN fc.c >= 2 THEN 1 ELSE 0 END AS dup
      FROM fp JOIN fc USING (f)
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      round(CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 2)
        AS avg_doc_tokens,
      round(CAST(SUM(is_major) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
        AS pct_major,
      round(CAST(SUM(dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
        AS dup_doc_rate
    FROM base GROUP BY source
    """,
)
def q150_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import dataset_card

    return dataset_card(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# q152 token-balanced shard assignment: shard k gets a contiguous run
# of the (epoch-shuffled hash) document order such that every shard
# carries ~equal TOKEN mass (doc-count sharding skews badly when doc
# lengths are heavy-tailed): shard = (cum_tokens - n_tok) * S div total
# (the token-weighted form of q94's epoch sharding; the start offset of
# the doc decides its shard, so shard boundaries never split a doc).
# Running token sums via the two-phase cumsum; total is an in-plan
# broadcast scalar.
# ---------------------------------------------------------------------------
_Q152_SHARDS = 8


@query(
    "q152_token_balanced_shards",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || ':shard') AS k
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM toks),
    c AS (
      SELECT doc_id, n_tok, k,
             CAST(SUM(n_tok) OVER (ORDER BY k ASC, doc_id ASC) AS BIGINT)
               AS cum_tokens
      FROM toks
    )
    SELECT c.doc_id, c.n_tok, c.cum_tokens,
           CAST((c.cum_tokens - c.n_tok) * {_Q152_SHARDS} // tot.t AS BIGINT)
             AS shard
    FROM c, tot
    """,
)
def q152_token_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_hash_cumsum,
    )

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(TX.tokens("text")).cast("bigint").alias("n_tok"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shard"))).alias(
            "__k"
        ),
    )
    tot = toks.agg(F.sum("n_tok").cast("bigint").alias("__tot"))
    c = two_phase_hash_cumsum(toks, "__k", "doc_id", "n_tok", "cum_tokens")
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tok",
            "cum_tokens",
            F.expr(f"(cum_tokens - n_tok) * {_Q152_SHARDS} div __tot")
            .cast("bigint")
            .alias("shard"),
        )
    )


# ---------------------------------------------------------------------------
# q153 duplicate-aware loss weights — SOFT dedup: instead of dropping
# copies, weight each doc by 1/n_copies of its normalized fingerprint
# so a document's total gradient contribution is duplication-invariant
# (the standard fallback when hard dedup is too aggressive for the
# domain). One fingerprint count + one equi-join back; weights are a
# single rounded division.
# ---------------------------------------------------------------------------
@query(
    "q153_dup_loss_weights",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    ),
    fc AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_copies FROM fp GROUP BY f)
    SELECT fp.doc_id, fc.n_copies,
           round(CAST(1.0 AS DOUBLE) / CAST(fc.n_copies AS DOUBLE), 6)
             AS weight
    FROM fp JOIN fc USING (f)
    """,
)
def q153_dup_loss_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import fingerprint

    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select("doc_id", fingerprint(F.col("text")).alias("__f"))
    fc = fp.groupBy("__f").agg(F.count(F.lit(1)).cast("bigint").alias("n_copies"))
    return fp.join(fc, "__f").select(
        "doc_id",
        "n_copies",
        F.round(
            F.lit(1.0) / F.col("n_copies").cast("double"), 6
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# q155 winnowing fragment-overlap pairs — MOSS-style local-plagiarism
# detection: doc pairs sharing >= 2 winnowing fingerprints (each
# shared fingerprint certifies a shared substring of >= k+w-1 chars,
# so two shared fingerprints is strong fragment-copy evidence even
# when whole-doc Jaccard is tiny; the >=8 floor keeps the output a
# shortlist on this fragment-heavy synthetic corpus). df-capped
# fingerprint equi-join (the max_shingle_df economics); oracle
# composes the verified q47 oracle.
# ---------------------------------------------------------------------------
_Q155_MIN_SHARED, _Q155_MAX_DF = 8, 20


def _q155_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q47 = ORACLES["q47_winnowing_fingerprints"]
    return f"""
    WITH w AS ({q47}),
    rare AS (SELECT fp FROM w GROUP BY fp HAVING COUNT(*) <= {_Q155_MAX_DF}),
    wf AS (SELECT w.doc_id, w.fp FROM w JOIN rare USING (fp))
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM wf a JOIN wf b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_Q155_MIN_SHARED}
    """


@query("q155_winnow_fragment_pairs", oracle=_q155_oracle())
def q155_winnow_fragment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    w = owned_persist(q47_winnowing_fingerprints(spark, sf_dir))
    rare = w.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") <= _Q155_MAX_DF
    )
    wf = w.join(rare.select("fp"), "fp")
    return (
        wf.alias("a")
        .join(
            wf.alias("b"),
            on=[
                F.col("a.fp") == F.col("b.fp"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _Q155_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# q156 perplexity filtering (the CCNet recipe): score every document
# with the in-engine unigram LM (q96), rank by mean log-probability
# with the range-bucketed two-phase rank (never a one-task global
# sort), and drop the worst decile — the cutoff rank ceil(n/10) is
# pure integer arithmetic ((n+9) div 10) on an in-plan broadcast
# scalar, so the gate is SF-independent and engine-exact. Oracle
# composes the verified q96 oracle with a ROW_NUMBER replay.
# ---------------------------------------------------------------------------
def _q156_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q96 = ORACLES["q96_unigram_logprob"]
    return f"""
    WITH s AS ({q96}),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    r AS (
      SELECT doc_id, mean_logprob,
             CAST(ROW_NUMBER() OVER (ORDER BY mean_logprob ASC, doc_id ASC)
                  AS BIGINT) AS lm_rank
      FROM s
    )
    SELECT r.doc_id, r.mean_logprob, r.lm_rank,
           r.lm_rank > (n1.n + 9) // 10 AS keep
    FROM r, n1
    """


@query("q156_perplexity_filter", oracle=_q156_oracle())
def q156_perplexity_filter(
    spark: SparkSession, sf_dir: str, *, lm: DataFrame | None = None
) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_rank,
    )

    # `lm` lets composing queries (q172) pass ONE persisted q96 frame
    # instead of re-running the corpus-wide LM scoring per consumer.
    if lm is None:
        lm = q96_unigram_logprob(spark, sf_dir)
    s = lm.select("doc_id", "mean_logprob")
    n1 = s.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    r = two_phase_numeric_rank(
        s, "mean_logprob", "doc_id", "lm_rank", descending=False
    )
    return r.crossJoin(F.broadcast(n1)).select(
        "doc_id",
        "mean_logprob",
        "lm_rank",
        (F.col("lm_rank") > F.expr("(__n + 9) div 10")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# q158 DoReMi-style source mixture reweighting: per-source excess loss
# (global mean log-probability minus the source's, from the q96
# unigram LM) shifted positive and normalized — sources the LM fits
# worst get the largest next-mix weight. Oracle composes the verified
# q96 oracle; every cross-group sum is DECIMAL-exact on both engines.
# ---------------------------------------------------------------------------
def _q158_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q96 = ORACLES["q96_unigram_logprob"]
    return f"""
    WITH s AS ({q96}),
    j AS (
      SELECT d.source, CAST(s.mean_logprob AS DECIMAL(20,4)) AS sd
      FROM s JOIN documents d ON s.doc_id = d.doc_id
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(CAST(SUM(sd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS src_mean_logprob
      FROM j GROUP BY source
    ),
    g AS (
      SELECT round(CAST(SUM(sd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS gm
      FROM j
    ),
    e AS (
      SELECT source, n_docs, src_mean_logprob,
             round(g.gm - src_mean_logprob, 6) AS excess
      FROM per, g
    ),
    mn AS (SELECT MIN(excess) AS mex FROM e),
    w AS (
      SELECT e.*, round((e.excess - mn.mex) + CAST(0.01 AS DOUBLE), 6) AS wraw
      FROM e, mn
    ),
    t AS (SELECT SUM(CAST(wraw AS DECIMAL(28,6))) AS tot FROM w)
    SELECT source, n_docs, src_mean_logprob, excess,
           round(wraw / CAST(t.tot AS DOUBLE), 6) AS mix_weight
    FROM w, t
    """


@query("q158_doremi_source_weights", oracle=_q158_oracle())
def q158_doremi_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import doremi_source_weights

    docs = load_table(spark, "documents", sf_dir)
    scores = q96_unigram_logprob(spark, sf_dir)
    return doremi_source_weights(docs, scores)


# ---------------------------------------------------------------------------
# q159 MinHash estimator calibration — the dedup analog of q154's ANN
# recall audit: per banded-LSH candidate pair, the signature estimate
# (matching components / k) vs the exact shingle Jaccard and |error|.
# The oracle rebuilds the full q45 pipeline (shingles → sliced-md5
# signatures → bands → candidates) plus the component-agreement count.
# ---------------------------------------------------------------------------
_Q159_MATCHES = " + ".join(
    f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)" for j in range(1, _NH + 1)
)

_Q159_ORACLE = f"""
WITH {_D_SHINGLES},
sig AS (
  SELECT doc_id,
    {_mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
    {_band_exprs}
  FROM sig
),
bl AS (
  {_band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bl a JOIN bl b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_id_a, c.doc_id_b,
         CAST({_Q159_MATCHES} AS DOUBLE) / CAST({_NH} AS DOUBLE) AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_id_a
  JOIN sig sb ON sb.doc_id = c.doc_id_b
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_id_a
  JOIN sh sb ON sb.doc_id = c.doc_id_b AND sb.s = sa.s
  GROUP BY 1, 2
),
ex AS (
  SELECT e.doc_id_a, e.doc_id_b, e.est_jaccard,
         CAST(COALESCE(i.i, 0) AS DOUBLE)
           / CAST(ca.n + cb.n - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
  FROM est e
  LEFT JOIN inter i
    ON e.doc_id_a = i.doc_id_a AND e.doc_id_b = i.doc_id_b
  JOIN cnt ca ON e.doc_id_a = ca.doc_id
  JOIN cnt cb ON e.doc_id_b = cb.doc_id
)
SELECT doc_id_a, doc_id_b, est_jaccard, jaccard,
       round(abs(est_jaccard - jaccard), 4) AS abs_err
FROM ex
"""


@query("q159_minhash_calibration", oracle=_Q159_ORACLE)
def q159_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_estimate_calibration(
        load_table(spark, "documents", sf_dir), num_hashes=_NH, bands=_BANDS
    )


# ---------------------------------------------------------------------------
# q161 per-source vocabulary drift: KL(P_source || P_corpus) over
# unigram distributions. Fixed-operand-order double log-ratio (counts
# cast to double BEFORE multiplying: the products overflow int64 at
# corpus scale), per-term contributions rounded then DECIMAL-summed.
# ---------------------------------------------------------------------------
@query(
    "q161_source_kl_divergence",
    oracle=rf"""
    WITH toks AS (
      SELECT source, lower(t) AS term
      FROM (SELECT source, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    st AS (SELECT source, term, COUNT(*) AS cst FROM toks GROUP BY 1, 2),
    stot AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ns FROM st GROUP BY 1),
    g AS (SELECT term, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
    n AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM g),
    contrib AS (
      SELECT st.source, stot.ns,
             CAST(round(
               (CAST(cst AS DOUBLE) / CAST(ns AS DOUBLE))
               * round(ln((CAST(cst AS DOUBLE) * CAST(n.n AS DOUBLE))
                          / (CAST(ns AS DOUBLE) * CAST(ct AS DOUBLE))), 6),
               12) AS DECIMAL(32,12)) AS kt
      FROM st
      JOIN stot USING (source)
      JOIN g USING (term), n
    )
    SELECT source, MAX(ns) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_terms,
           round(CAST(SUM(kt) AS DOUBLE), 6) AS kl_divergence
    FROM contrib GROUP BY source
    """,
)
def q161_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import source_kl_divergence

    return source_kl_divergence(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# q162 dedup savings report — the governance rollup of the dedup
# pipeline: cluster-size histogram over q58's connected components
# with total and DROPPED token mass (everything but the keeper) per
# size bucket. Pure integer arithmetic end to end (hash-exact); oracle
# composes the verified q58 transitive-closure oracle.
# ---------------------------------------------------------------------------
def _q162_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q58 = ORACLES["q58_dedup_components"]
    return f"""
    WITH comp AS ({q58}),
    tok AS (
      SELECT doc_id, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tok FROM documents
    ),
    pc AS (
      SELECT c.component_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(t.n_tok) AS BIGINT) AS tokens_total,
             CAST(SUM(CASE WHEN c.doc_id = c.component_id THEN 0
                           ELSE t.n_tok END) AS BIGINT) AS tokens_dropped
      FROM comp c JOIN tok t ON c.doc_id = t.doc_id
      GROUP BY c.component_id
    )
    SELECT n_docs AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs_total,
           CAST(SUM(tokens_total) AS BIGINT) AS tokens_total,
           CAST(SUM(tokens_dropped) AS BIGINT) AS tokens_dropped
    FROM pc GROUP BY n_docs
    """


# ---------------------------------------------------------------------------
# q302 keeper succession under deletion — the right-to-be-forgotten
# audit against a DEDUP'D corpus: when deletes hit a near-dup
# component (deterministic 25% hash sample stands in for the GDPR
# delete feed), which keeper survives, which component needs a
# SUCCESSOR keeper (next-lowest remaining member), and which
# dissolves entirely. Composes the verified q58 component machinery;
# one grouped aggregate after it — all integer/string columns, no
# float path. Scale: the aggregate is component-keyed, the delete
# flag is a scan-side hash; nothing beyond q58's own cost.
# ---------------------------------------------------------------------------
def _q302_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q58 = ORACLES["q58_dedup_components"]
    return f"""
    WITH comp AS ({q58}),
    d AS (
      SELECT doc_id, component_id,
             CASE WHEN CAST('0x' || substr(md5('del:' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 = 0
                  THEN 1 ELSE 0 END AS del
      FROM comp
    )
    SELECT component_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(del) AS BIGINT) AS n_deleted,
           CAST(COUNT(*) - SUM(del) AS BIGINT) AS n_remaining,
           MIN(CASE WHEN del = 0 THEN doc_id END) AS new_keeper,
           CASE WHEN COUNT(*) - SUM(del) = 0 THEN 'dissolved'
                WHEN MAX(CASE WHEN doc_id = component_id THEN del
                              ELSE 0 END) = 1 THEN 'succeeded'
                ELSE 'unchanged' END AS status
    FROM d GROUP BY component_id
    """


@query("q302_keeper_succession", oracle=_q302_oracle())
def q302_keeper_succession(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import portable_hash_int

    comp = q58_dedup_components(spark, sf_dir)
    is_del = (
        F.pmod(portable_hash_int(F.col("doc_id").cast("string"), seed="del:"), F.lit(4))
        == 0
    ).cast("int")
    d = comp.select("doc_id", "component_id", is_del.alias("__del"))
    return d.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("__del").cast("bigint").alias("n_deleted"),
        (F.count(F.lit(1)) - F.sum("__del")).cast("bigint").alias("n_remaining"),
        F.min(F.when(F.col("__del") == 0, F.col("doc_id"))).alias("new_keeper"),
        F.when(
            (F.count(F.lit(1)) - F.sum("__del")) == 0, F.lit("dissolved")
        )
        .when(
            F.max(
                F.when(
                    F.col("doc_id") == F.col("component_id"), F.col("__del")
                ).otherwise(F.lit(0))
            )
            == 1,
            F.lit("succeeded"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


@query("q162_dedup_savings_report", oracle=_q162_oracle())
def q162_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import token_count

    comp = q58_dedup_components(spark, sf_dir)
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", token_count("text").alias("__n_tok")
    )
    pc = (
        comp.join(toks, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n_docs"),
            F.sum("__n_tok").cast("bigint").alias("__tokens_total"),
            F.sum(
                F.when(F.col("doc_id") == F.col("component_id"), 0).otherwise(
                    F.col("__n_tok")
                )
            )
            .cast("bigint")
            .alias("__tokens_dropped"),
        )
    )
    return pc.groupBy(F.col("__n_docs").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("__n_docs").cast("bigint").alias("n_docs_total"),
        F.sum("__tokens_total").cast("bigint").alias("tokens_total"),
        F.sum("__tokens_dropped").cast("bigint").alias("tokens_dropped"),
    )


# ---------------------------------------------------------------------------
# q163 vocabulary coverage curve — tokenizer-design telemetry: what
# fraction of corpus token mass the top-k terms cover (k=10/100/1000).
# Term ranking uses the range-bucketed two-phase rank (the vocabulary
# is corpus-scale at 100 TB — never a one-task window); sums are
# all-integer, one final division per k.
# ---------------------------------------------------------------------------
_Q163_KS = [10, 100, 1000]


@query(
    "q163_vocab_coverage_curve",
    oracle=rf"""
    WITH toks AS (
      SELECT lower(t) AS term
      FROM (SELECT UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tf),
    r AS (
      SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS BIGINT)
               AS term_rank
      FROM tf
    ),
    ks AS (SELECT UNNEST([{", ".join(str(k) for k in _Q163_KS)}]) AS k),
    agg AS (
      SELECT ks.k AS k,
             CAST(SUM(CASE WHEN r.term_rank <= ks.k THEN r.c ELSE 0 END)
                  AS BIGINT) AS covered_tokens
      FROM r, ks GROUP BY ks.k
    )
    SELECT CAST(k AS BIGINT) AS k, covered_tokens,
           round(CAST(covered_tokens AS DOUBLE) / CAST(n.n AS DOUBLE), 6)
             AS coverage
    FROM agg, n
    """,
)
def q163_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import tokens
    from airbnb_pyspark_jobs_spark.operators.sampling import two_phase_numeric_rank

    docs = load_table(spark, "documents", sf_dir)
    tf = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .select(F.lower("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n = tf.agg(F.sum("c").cast("bigint").alias("__n"))
    ranked = two_phase_numeric_rank(tf, "c", "term", "term_rank", descending=True)
    top = ranked.filter(F.col("term_rank") <= max(_Q163_KS))
    ks = spark.createDataFrame([(k,) for k in _Q163_KS], "k bigint")
    agg = (
        top.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("term_rank") <= F.col("k"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("covered_tokens")
        )
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "k",
        "covered_tokens",
        F.round(
            F.col("covered_tokens").cast("double") / F.col("__n").cast("double"), 6
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# q164 dedup threshold operating curve — the knob-tuning report: from
# ONE df-capped exact-Jaccard pair table, how many near-dup pairs and
# affected docs each candidate threshold (0.3..0.9) would yield.
# Thresholds are double literals CAST AS DOUBLE in the oracle (DuckDB
# bare decimals are DECIMAL-typed — the 0.008 gotcha).
# ---------------------------------------------------------------------------
_Q164_TS = [0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


def _q164_oracle() -> str:
    ts = ", ".join(f"CAST({t} AS DOUBLE)" for t in _Q164_TS)
    return f"""
    WITH {_D_SHINGLES},
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_id_a, doc_id_b,
             CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
      FROM inter
      JOIN cnt ca ON doc_id_a = ca.doc_id
      JOIN cnt cb ON doc_id_b = cb.doc_id
    ),
    ts AS (SELECT UNNEST([{ts}]) AS t),
    sel AS (
      SELECT ts.t, p.doc_id_a, p.doc_id_b
      FROM pairs p, ts WHERE p.jaccard >= ts.t
    ),
    np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM sel GROUP BY t),
    d AS (
      SELECT t, doc_id_a AS d FROM sel
      UNION ALL SELECT t, doc_id_b FROM sel
    ),
    nd AS (SELECT t, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs FROM d GROUP BY t)
    SELECT np.t AS threshold, np.n_pairs, nd.n_docs
    FROM np JOIN nd USING (t)
    """


@query("q164_dedup_threshold_curve", oracle=_q164_oracle())
def q164_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_df=50)
    ts = spark.createDataFrame([(float(t),) for t in _Q164_TS], "t double")
    sel = owned_persist(
        pairs.crossJoin(F.broadcast(ts)).filter(F.col("jaccard") >= F.col("t"))
    )
    np_ = sel.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    nd = (
        sel.select("t", F.explode(F.array("doc_id_a", "doc_id_b")).alias("d"))
        .groupBy("t")
        .agg(F.countDistinct("d").cast("bigint").alias("n_docs"))
    )
    return (
        np_.join(nd, "t")
        .select(F.col("t").alias("threshold"), "n_pairs", "n_docs")
    )


# ---------------------------------------------------------------------------
# q165 mixture allocation — the step that turns q158's DoReMi weights
# into the next run's per-source token quotas: quota = floor(weight ×
# budget), clamped by what the source actually has; shortfall says
# which sources under-fill their slice (the residual re-allocation
# input). Oracle composes the verified q158 oracle; the only float op
# is the weight×budget product (identical literals both engines).
# ---------------------------------------------------------------------------
_Q165_BUDGET = 50_000


def _q165_oracle() -> str:
    q158 = _q158_oracle()
    return f"""
    WITH w AS ({q158}),
    tok AS (
      SELECT source, CAST(SUM(len({_D_TOKENS})) AS BIGINT) AS available_tokens
      FROM documents GROUP BY source
    ),
    q AS (
      SELECT w.source, w.mix_weight, tok.available_tokens,
             CAST(floor(w.mix_weight * CAST({_Q165_BUDGET} AS DOUBLE))
                  AS BIGINT) AS quota_tokens
      FROM w JOIN tok USING (source)
    )
    SELECT source, mix_weight, quota_tokens, available_tokens,
           least(quota_tokens, available_tokens) AS allocated_tokens,
           quota_tokens - least(quota_tokens, available_tokens) AS shortfall
    FROM q
    """


@query("q165_mixture_allocation", oracle=_q165_oracle())
def q165_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import token_count

    w = q158_doremi_source_weights(spark, sf_dir).select("source", "mix_weight")
    tok = (
        load_table(spark, "documents", sf_dir)
        .select("source", token_count("text").alias("__t"))
        .groupBy("source")
        .agg(F.sum("__t").cast("bigint").alias("available_tokens"))
    )
    q = w.join(tok, "source").select(
        "source",
        "mix_weight",
        F.floor(F.col("mix_weight") * F.lit(float(_Q165_BUDGET)))
        .cast("bigint")
        .alias("quota_tokens"),
        "available_tokens",
    )
    alloc = F.least(F.col("quota_tokens"), F.col("available_tokens"))
    return q.select(
        "source",
        "mix_weight",
        "quota_tokens",
        "available_tokens",
        alloc.alias("allocated_tokens"),
        (F.col("quota_tokens") - alloc).alias("shortfall"),
    )


# ---------------------------------------------------------------------------
# q169 ensemble quality ranking — the multi-signal filtering recipe
# (DCLM/Nemotron-style): rank-average the q96 LM score and the q147
# trained-classifier probability (rank blending sidesteps scale
# mismatch between raw signals), keep the top half. Every rank is the
# range-bucketed two-phase rank; blending is pure integer arithmetic.
# Oracle composes the two verified oracles with plain ROW_NUMBERs.
# ---------------------------------------------------------------------------
def _q169_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q96 = ORACLES["q96_unigram_logprob"]
    q147 = ORACLES["q147_quality_classifier_gd"]
    return f"""
    WITH lm AS ({q96}),
    clf AS ({q147}),
    r1 AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY mean_logprob DESC, doc_id ASC)
                          AS BIGINT) AS lm_rank
      FROM lm
    ),
    r2 AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY p DESC, doc_id ASC)
                          AS BIGINT) AS clf_rank
      FROM clf
    ),
    j AS (
      SELECT r1.doc_id, r1.lm_rank, r2.clf_rank,
             r1.lm_rank + r2.clf_rank AS blend
      FROM r1 JOIN r2 ON r1.doc_id = r2.doc_id
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j),
    e AS (
      SELECT doc_id, lm_rank, clf_rank, blend,
             CAST(ROW_NUMBER() OVER (ORDER BY blend ASC, doc_id ASC)
                  AS BIGINT) AS ens_rank
      FROM j
    )
    SELECT e.doc_id, e.lm_rank, e.clf_rank, e.blend, e.ens_rank,
           e.ens_rank <= (n1.n + 1) // 2 AS keep
    FROM e, n1
    """


@query("q169_ensemble_quality_rank", oracle=_q169_oracle())
def q169_ensemble_quality_rank(
    spark: SparkSession, sf_dir: str, *, lm: DataFrame | None = None
) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.sampling import two_phase_numeric_rank

    if lm is None:
        lm = q96_unigram_logprob(spark, sf_dir)
    lm = lm.select("doc_id", "mean_logprob")
    clf = q147_quality_classifier_gd(spark, sf_dir).select("doc_id", "p")
    r1 = two_phase_numeric_rank(
        lm, "mean_logprob", "doc_id", "lm_rank", descending=True
    ).select("doc_id", "lm_rank")
    r2 = two_phase_numeric_rank(
        clf, "p", "doc_id", "clf_rank", descending=True
    ).select("doc_id", "clf_rank")
    j = r1.join(r2, "doc_id").withColumn(
        "blend", F.col("lm_rank") + F.col("clf_rank")
    )
    n1 = j.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    e = two_phase_numeric_rank(j, "blend", "doc_id", "ens_rank")
    return e.crossJoin(F.broadcast(n1)).select(
        "doc_id",
        "lm_rank",
        "clf_rank",
        "blend",
        "ens_rank",
        (F.col("ens_rank") <= F.expr("(__n + 1) div 2")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# q170 chunk-store savings — the content-addressed-storage twin of
# q162's doc-level report: group q86's CDC chunks by content hash and
# roll up, per copy-count, how many chars a store-once-by-hash layout
# saves. All-integer; oracle composes the verified q86 chunker.
# ---------------------------------------------------------------------------
def _q170_oracle() -> str:
    return f"""
    WITH ch AS ({_Q86_ORACLE}),
    g AS (
      SELECT chunk_md5, CAST(COUNT(*) AS BIGINT) AS n_copies,
             MAX(n_chars) AS len
      FROM ch GROUP BY chunk_md5
    )
    SELECT n_copies,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_copies * len) AS BIGINT) AS raw_chars,
           CAST(SUM(len) AS BIGINT) AS stored_chars,
           CAST(SUM((n_copies - 1) * len) AS BIGINT) AS saved_chars
    FROM g GROUP BY n_copies
    """


@query("q170_chunk_store_savings", oracle=_q170_oracle())
def q170_chunk_store_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = q86_cdc_chunks(spark, sf_dir)
    g = chunks.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.max("n_chars").alias("__len"),
    )
    return g.groupBy("n_copies").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.col("n_copies") * F.col("__len")).cast("bigint").alias("raw_chars"),
        F.sum("__len").cast("bigint").alias("stored_chars"),
        F.sum((F.col("n_copies") - F.lit(1)) * F.col("__len"))
        .cast("bigint")
        .alias("saved_chars"),
    )


# ---------------------------------------------------------------------------
# q171 classifier calibration (reliability diagram) — the eval
# primitive for the q147 in-engine classifier: decile-bucket the
# predicted probability, compare mean prediction vs empirical label
# rate per bucket. Counts/labels are integers; mean_p sums the
# already-rounded p as DECIMAL (order-independent). Oracle composes
# the verified q147 trajectory oracle.
# ---------------------------------------------------------------------------
def _q171_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q147 = ORACLES["q147_quality_classifier_gd"]
    return f"""
    WITH clf AS ({q147}),
    b AS (
      SELECT CAST(LEAST(floor(p * 10), 9) AS BIGINT) AS bucket,
             p, CAST(y AS BIGINT) AS y
      FROM clf
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(p AS DECIMAL(10,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_p,
           round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS pos_rate,
           round(round(CAST(SUM(CAST(p AS DECIMAL(10,6))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE), 6)
                 - round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6),
                 6) AS calibration_gap
    FROM b GROUP BY bucket
    """


@query("q171_classifier_calibration", oracle=_q171_oracle())
def q171_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    clf = q147_quality_classifier_gd(spark, sf_dir)
    b = clf.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("bigint").alias("bucket"),
        "p",
        F.col("y").cast("bigint").alias("__y"),
    )
    mean_p = F.round(
        F.sum(F.col("p").cast("decimal(10,6)")).cast("double")
        / F.count(F.lit(1)).cast("double"),
        6,
    )
    pos_rate = F.round(
        F.sum("__y").cast("double") / F.count(F.lit(1)).cast("double"), 6
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        mean_p.alias("mean_p"),
        pos_rate.alias("pos_rate"),
        F.round(mean_p - pos_rate, 6).alias("calibration_gap"),
    )


# ---------------------------------------------------------------------------
# q172 quality-filter disagreement matrix — the A/B audit before
# swapping filters in a pipeline: 2×2 doc counts of the q156 LM gate
# vs the q169 ensemble gate. Disagreement cells are where a swap
# changes the corpus; oracle composes both verified oracles.
# ---------------------------------------------------------------------------
def _q172_oracle() -> str:
    return f"""
    WITH lm AS ({_q156_oracle()}),
    ens AS ({_q169_oracle()})
    SELECT lm.keep AS lm_keep, ens.keep AS ensemble_keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM lm JOIN ens ON lm.doc_id = ens.doc_id
    GROUP BY 1, 2
    """


@query("q172_filter_disagreement", oracle=_q172_oracle())
def q172_filter_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    # Both gates score the corpus with the same q96 unigram LM — run
    # that scan once and feed the persisted frame to each (Spark does
    # not dedupe common subplans across separate DataFrame trees).
    shared = owned_persist(
        q96_unigram_logprob(spark, sf_dir).select("doc_id", "mean_logprob")
    )
    lm = q156_perplexity_filter(spark, sf_dir, lm=shared).select(
        "doc_id", F.col("keep").alias("lm_keep")
    )
    ens = q169_ensemble_quality_rank(spark, sf_dir, lm=shared).select(
        "doc_id", F.col("keep").alias("ensemble_keep")
    )
    return (
        lm.join(ens, "doc_id")
        .groupBy("lm_keep", "ensemble_keep")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q173 PII density per source — the governance rollup of q57: per
# source, docs with any hit, hits by kind, and hits per 1k tokens
# (single integer-ratio division). The per-source view is what decides
# WHICH ingest needs a heavier scrubber. Oracle composes q57.
# ---------------------------------------------------------------------------
def _q173_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q57 = ORACLES["q57_pii_redaction"]
    return f"""
    WITH pii AS ({q57}),
    tok AS (
      SELECT doc_id, source, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    j AS (
      SELECT tok.source, tok.n_tok,
             pii.n_emails + pii.n_ips + pii.n_phones AS hits,
             pii.n_emails, pii.n_ips, pii.n_phones
      FROM pii JOIN tok ON pii.doc_id = tok.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_ips) AS BIGINT) AS n_ips,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           round(CAST(SUM(hits) * 1000 AS DOUBLE)
                 / CAST(SUM(n_tok) AS DOUBLE), 4) AS hits_per_1k_tokens
    FROM j GROUP BY source
    """


@query("q173_pii_density_by_source", oracle=_q173_oracle())
def q173_pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import token_count

    pii = q57_pii_redaction(spark, sf_dir).select(
        "doc_id", "n_emails", "n_ips", "n_phones"
    )
    tok = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", token_count("text").alias("__n_tok")
    )
    hits = (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias("__hits")
    j = pii.join(tok, "doc_id").select(
        "source", "__n_tok", hits, "n_emails", "n_ips", "n_phones"
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("__hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_ips").cast("bigint").alias("n_ips"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        F.round(
            (F.sum("__hits") * 1000).cast("double")
            / F.sum("__n_tok").cast("double"),
            4,
        ).alias("hits_per_1k_tokens"),
    )


# ---------------------------------------------------------------------------
# q181 Zipf's-law fit per source: OLS of ln(freq) on ln(rank) over the
# per-source term-frequency table — the corpus-health diagnostic
# (natural text ≈ slope −1; template/boilerplate corpora flatten or
# steepen). Determinism recipe: each ln is rounded to 3 decimals and
# scaled to exact integer MILLI-units, then the whole regression runs
# through grouped_trend's exact-bigint moment sums (q133's machinery)
# — floats appear only in the two final divisions, round(6). The rank
# window is PARTITIONED by source over the post-aggregation vocab
# frame (sublinear in corpus size; swap in the q94 two-phase rank if a
# single source's vocab ever outgrows one task).
# ---------------------------------------------------------------------------
_Q181_ORACLE = f"""
WITH tr AS (
  SELECT source, lower(t) AS term
  FROM (SELECT source, UNNEST({_D_TOKENS}) AS t FROM documents)
),
fr AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tr GROUP BY source, term
),
rk AS (
  SELECT source, freq,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY freq DESC, term ASC) AS rnk
  FROM fr
),
xy AS (
  SELECT source,
    CAST(round(round(ln(CAST(rnk AS DOUBLE)), 3) * 1000) AS BIGINT) AS x,
    CAST(round(round(ln(CAST(freq AS DOUBLE)), 3) * 1000) AS BIGINT) AS y
  FROM rk
),
m AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy GROUP BY source
)
SELECT source, n AS n_terms,
  CASE WHEN n * sxx - sx * sx > 0 THEN
    round(CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE), 6) END
    + CAST(0 AS DOUBLE) AS zipf_slope,
  CASE WHEN n * sxx - sx * sx > 0 THEN
    round((CAST(sy AS DOUBLE)
           - (CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
          / CAST(n AS DOUBLE), 6) END
    + CAST(0 AS DOUBLE) AS zipf_intercept_milli,
  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
    round((CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE))
          * (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * syy - sy * sy AS DOUBLE)), 6)
  END + CAST(0 AS DOUBLE) AS r2
FROM m
"""


@query("q181_zipf_law_fit", oracle=_Q181_ORACLE)
def q181_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.sketches import grouped_trend

    docs = load_table(spark, "documents", sf_dir)
    fr = (
        docs.select("source", F.explode(TX.tokens("text")).alias("__t"))
        .select("source", F.lower("__t").alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("freq").desc(), F.col("term").asc()
    )
    xy = fr.select(
        "source",
        F.round(
            F.round(F.log(F.row_number().over(w).cast("double")), 3)
            * F.lit(1000)
        ).alias("__x"),
        F.round(
            F.round(F.log(F.col("freq").cast("double")), 3) * F.lit(1000)
        ).alias("__y"),
    )
    out = grouped_trend(
        xy, "source", x_col=F.col("__x"), y_cents=F.col("__y"), out_digits=6
    )
    return out.select(
        "source",
        F.col("n").alias("n_terms"),
        F.col("slope_cents").alias("zipf_slope"),
        F.col("intercept_cents").alias("zipf_intercept_milli"),
        "r2",
    )


# ---------------------------------------------------------------------------
# q183 dedup-method agreement: MinHash-LSH pairs (q45, jaccard ≥ 0.5)
# vs SimHash pairs (q59, hamming ≤ 1) as PAIR-SET overlap — the audit
# that tells you whether two dedup configs would discard the same
# rows before you pay for both at 100 TB. One full-outer join of the
# two (already-bounded) pair frames, then a single-row aggregate; the
# heavy lifting (banded candidate generation) is the existing
# operators' — nothing here is all-pairs. Oracle composes the q45 and
# q59 oracle pipelines verbatim as subqueries.
# ---------------------------------------------------------------------------
_Q183_ORACLE = f"""
WITH mh AS (SELECT doc_id_a, doc_id_b FROM ({_Q45_ORACLE})),
sh2 AS (SELECT doc_id_a, doc_id_b FROM ({_Q59_ORACLE})),
u AS (
  SELECT COALESCE(m.doc_id_a, s.doc_id_a) AS a,
         (m.doc_id_a IS NOT NULL) AS in_mh,
         (s.doc_id_a IS NOT NULL) AS in_sh
  FROM mh m FULL OUTER JOIN sh2 s
    ON m.doc_id_a = s.doc_id_a AND m.doc_id_b = s.doc_id_b
)
SELECT
  CAST(COALESCE(SUM(CASE WHEN in_mh THEN 1 END), 0) AS BIGINT) AS n_minhash,
  CAST(COALESCE(SUM(CASE WHEN in_sh THEN 1 END), 0) AS BIGINT) AS n_simhash,
  CAST(COALESCE(SUM(CASE WHEN in_mh AND in_sh THEN 1 END), 0) AS BIGINT)
    AS n_both,
  CAST(COUNT(*) AS BIGINT) AS n_union,
  round(CAST(COALESCE(SUM(CASE WHEN in_mh AND in_sh THEN 1 END), 0)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS pair_jaccard
FROM u
"""


@query("q183_dedup_method_agreement", oracle=_Q183_ORACLE)
def q183_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    mh = DD.minhash_lsh_pairs(
        docs, num_hashes=_NH, bands=_BANDS, threshold=0.5
    ).select("doc_id_a", "doc_id_b", F.lit(1).alias("__m"))
    sh = DD.simhash_pairs(
        docs, max_hamming=_SH_MAXHAM, bands=_SH_BANDS
    ).select("doc_id_a", "doc_id_b", F.lit(1).alias("__s"))
    u = mh.join(sh, ["doc_id_a", "doc_id_b"], "full_outer")
    both = F.sum(
        F.when(F.col("__m").isNotNull() & F.col("__s").isNotNull(), 1)
    )
    return u.agg(
        F.coalesce(F.sum("__m"), F.lit(0)).cast("bigint").alias("n_minhash"),
        F.coalesce(F.sum("__s"), F.lit(0)).cast("bigint").alias("n_simhash"),
        F.coalesce(both, F.lit(0)).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
        F.round(
            F.coalesce(both, F.lit(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("pair_jaccard"),
    )


# ---------------------------------------------------------------------------
# q193 Kneser-Ney bigram LM scores: absolute discounting with the
# CONTINUATION-probability backoff (N1+(·w)/N1+(··)) — the smoothed-LM
# perplexity signal one rung above q117's Jelinek-Mercer mixture, and
# the distributed stand-in for a KenLM-based CCNet filter. All counts
# exact integers; probability one fixed double-op order; ln rounded →
# DECIMAL doc sums (the q117 determinism recipe).
# ---------------------------------------------------------------------------
@query(
    "q193_kneser_ney_scores",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, list_transform({_D_TOKENS}, x -> lower(x)) AS ts
      FROM documents
    ),
    pos AS (
      SELECT doc_id, ts[i] AS term,
             CASE WHEN i >= 2 THEN ts[i-1] END AS prev
      FROM tok, UNNEST(range(1, len(ts) + 1)) AS u(i)
    ),
    bf AS (SELECT prev, term, COUNT(*) AS cb FROM pos
           WHERE prev IS NOT NULL GROUP BY prev, term),
    ctx AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cc,
                   CAST(COUNT(*) AS BIGINT) AS n1u
            FROM bf GROUP BY prev),
    cont AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n1w FROM bf GROUP BY term),
    na AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n1all FROM bf),
    sc AS (
      SELECT p.doc_id,
             CAST(round(ln(
               CASE WHEN p.prev IS NULL
                    THEN CAST(cont.n1w AS DOUBLE) / na.n1all
                    ELSE greatest(CAST(bf.cb AS DOUBLE) - CAST(0.75 AS DOUBLE),
                                  CAST(0.0 AS DOUBLE))
                           / CAST(ctx.cc AS DOUBLE)
                         + (CAST(0.75 AS DOUBLE) * CAST(ctx.n1u AS DOUBLE)
                            / CAST(ctx.cc AS DOUBLE))
                           * (CAST(cont.n1w AS DOUBLE) / na.n1all)
               END), 6) AS DECIMAL(28,6)) AS lp
      FROM pos p
      JOIN cont USING (term)
      LEFT JOIN bf ON p.prev = bf.prev AND p.term = bf.term
      LEFT JOIN ctx ON p.prev = ctx.prev, na
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {exact_mean_round_sql("SUM(lp)", "COUNT(*)", 6)}
             AS kn_logprob
    FROM sc GROUP BY doc_id
    """,
)
def q193_kneser_ney_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import kneser_ney_bigram_scores

    docs = load_table(spark, "documents", sf_dir)
    return kneser_ney_bigram_scores(docs, discount=0.75)


# ---------------------------------------------------------------------------
# q196 n-gram novelty scores: per document, the share of its DISTINCT
# 3-shingles that appear in NO other document (df == 1) — the
# memorization/novelty signal of Lee et al.'s dedup analysis, and the
# doc-level complement of q103's span coverage (which localizes the
# duplicated text; this ranks documents by how much of them is unique
# corpus-wide). Integer counts + one rounded division; the df table is
# the same shingle groupBy every dedup query shuffles on.
# ---------------------------------------------------------------------------
@query(
    "q196_ngram_novelty",
    oracle=rf"""
    WITH {_D_SHINGLES},
    df AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           {exact_mean_round_sql(
               "CAST(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS DECIMAL(18,6))",
               "COUNT(*)", 6)} AS novelty
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
)
def q196_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    docs = load_table(spark, "documents", sf_dir)
    # shingle_table stages tokens into a column (split runs once per
    # row, not per shingle lambda reference); persist because the frame
    # feeds BOTH the df table and the join probe — unpersisted, Spark
    # re-tokenizes the corpus twice (measured 13.4 s -> ~2 s at sf0.1).
    sh = owned_persist(DD.shingle_table(docs, "doc_id", "text", 3))
    # No corpus-scale join back on the shingle key: per-doc shingle
    # sets are DISTINCT, so a df==1 shingle has exactly one (doc, s)
    # row and min(doc_id) rides the same groupBy(s) shuffle — novelty
    # attribution costs one extra tiny doc-keyed aggregate instead of
    # a string-keyed shuffle join of the whole shingle table.
    tot = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    nov = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__d"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("__d") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        tot.join(nov, "doc_id", "left")
        .withColumn("n_novel", F.coalesce("n_novel", F.lit(0)).cast("bigint"))
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            exact_mean_round(
                F.col("n_novel").cast("decimal(18,6)"), F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# q204 packing-efficiency report: the governance readout for q36's
# greedy sequence packer — per-shard bin-fill deciles, overall
# utilization (packed token mass / bins×budget) and the wasted-token
# mass, so the budget/stride tradeoff is measured corpus-wide. A bin's
# fill decile is pure integer arithmetic (10·tokens div budget,
# clamped to 9 for exactly-full bins); utilization is one rounded
# division of exact integers. Composes the verified q36 oracle.
# ---------------------------------------------------------------------------
def _q204_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q36 = ORACLES["q36_pack_sequences"]
    return f"""
    WITH packs AS ({q36}),
    -- the LAST pack per shard is legitimately part-filled (stream
    -- tail); exclude none — the report covers every bin
    d AS (
      SELECT pack_tokens,
             least((10 * pack_tokens) // {_PACK_BUDGET}, 9) AS fill_decile
      FROM packs
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(pack_tokens) AS BIGINT) AS packed_tokens
      FROM d
    )
    SELECT d.fill_decile,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(d.pack_tokens) AS BIGINT) AS bin_tokens,
           round(CAST(tot.packed_tokens AS DOUBLE)
                 / CAST(tot.n_bins * {_PACK_BUDGET} AS DOUBLE), 6)
             AS overall_utilization,
           CAST(tot.n_bins * {_PACK_BUDGET} - tot.packed_tokens AS BIGINT)
             AS wasted_tokens
    FROM d, tot
    GROUP BY d.fill_decile, tot.n_bins, tot.packed_tokens
    """


@query("q204_packing_efficiency", oracle=_q204_oracle())
def q204_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packs = q36_pack_sequences(spark, sf_dir).select("pack_tokens")
    d = packs.select(
        "pack_tokens",
        F.least(
            F.floor((10 * F.col("pack_tokens")) / _PACK_BUDGET), F.lit(9)
        )
        .cast("bigint")
        .alias("fill_decile"),
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_bins"),
        F.sum("pack_tokens").cast("bigint").alias("__packed"),
    )
    return (
        d.groupBy("fill_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("pack_tokens").cast("bigint").alias("bin_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "fill_decile",
            "n_bins",
            "bin_tokens",
            F.round(
                F.col("__packed").cast("double")
                / (F.col("__n_bins") * _PACK_BUDGET).cast("double"),
                6,
            ).alias("overall_utilization"),
            (F.col("__n_bins") * _PACK_BUDGET - F.col("__packed"))
            .cast("bigint")
            .alias("wasted_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q214 conjunctive boolean search (AND of query terms) — the exact
# posting-list intersection under BM25's ranked retrieval (q122):
# docs containing EVERY query term, found by counting matched DISTINCT
# terms per doc (one semi-join-shaped aggregate over the postings;
# never a per-term join chain, whose depth would scale with query
# length). Returns the matched docs with their total query-term
# frequency as a secondary signal.
# ---------------------------------------------------------------------------
_Q214_TERMS = ("data", "group", "hash")


@query(
    "q214_boolean_and_search",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    hits AS (
      SELECT doc_id,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS n_matched,
             CAST(COUNT(*) AS BIGINT) AS total_tf
      FROM tok
      WHERE term IN ('data', 'group', 'hash')
      GROUP BY doc_id
    )
    SELECT doc_id, total_tf FROM hits WHERE n_matched = 3
    """,
)
def q214_boolean_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("__t")
    ).select("doc_id", F.lower("__t").alias("__term"))
    return (
        tok.filter(F.col("__term").isin(*_Q214_TERMS))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("__term").alias("__nm"),
            F.count(F.lit(1)).cast("bigint").alias("total_tf"),
        )
        .filter(F.col("__nm") == len(_Q214_TERMS))
        .select("doc_id", "total_tf")
    )


# ---------------------------------------------------------------------------
# q216 k-fold split balance audit: deterministic md5 fold assignment
# (the q43 hash-split recipe at k=5) with a per-(fold, lang) census
# and each fold's share of its language — the check that a hash split
# didn't skew any stratum (folds should hold ~1/k of every language).
# Pure integer counts + one rounded share division.
# ---------------------------------------------------------------------------
@query(
    "q216_kfold_balance",
    oracle="""
    WITH f AS (
      SELECT lang,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 5 AS BIGINT) AS fold
      FROM documents
    ),
    cell AS (
      SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM f GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang FROM cell GROUP BY 1)
    SELECT cell.fold, cell.lang, cell.n_docs, tot.n_lang,
           round(CAST(cell.n_docs AS DOUBLE) / CAST(tot.n_lang AS DOUBLE), 6)
             AS fold_share
    FROM cell JOIN tot USING (lang)
    """,
)
def q216_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import portable_hash_int

    docs = load_table(spark, "documents", sf_dir)
    f = docs.select(
        "lang",
        (portable_hash_int(F.col("doc_id").cast("string")) % 5)
        .cast("bigint")
        .alias("fold"),
    )
    cell = f.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = cell.groupBy("lang").agg(F.sum("n_docs").cast("bigint").alias("n_lang"))
    return cell.join(F.broadcast(tot), "lang").select(
        "fold",
        "lang",
        "n_docs",
        "n_lang",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_lang").cast("double"), 6
        ).alias("fold_share"),
    )


# ---------------------------------------------------------------------------
# q221 decile lift & gains table — the ranking-quality twin of q171's
# reliability diagram: order docs by the q147 classifier score (p DESC,
# doc_id tie-break), decile = ((rank-1)*10) div N, then per decile the
# positive rate, lift vs the base rate, and cumulative capture of all
# positives. The global order comes from the two-phase partitioned
# rank (never a single-task window); the only unpartitioned window is
# the cumulative sum over the 10 post-aggregation decile rows (bounded
# at any scale). Every ratio goes through exact_mean_round — integer
# numerators/denominators, round-half-away in BIGINT arithmetic, one
# final exact double divide (the q193 boundary-gotcha discipline).
# Lift is a ratio of integer PRODUCTS (n_pos·N)/(n_docs·P), still
# exact integer math.
# ---------------------------------------------------------------------------
def _q221_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q147 = ORACLES["q147_quality_classifier_gd"]
    pos_rate = exact_mean_round_sql("n_pos", "n_docs", 6, sum_scale=0)
    lift = exact_mean_round_sql(
        "n_pos * n_all", "n_docs * pos_all", 6, sum_scale=0
    )
    capture = exact_mean_round_sql("cum_pos", "pos_all", 6, sum_scale=0)
    return f"""
    WITH clf AS ({q147}),
    r AS (
      SELECT doc_id, p, CAST(y AS BIGINT) AS y,
             ROW_NUMBER() OVER (ORDER BY p DESC, doc_id) AS rk
      FROM clf
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(y) AS BIGINT) AS pos_all
      FROM r
    ),
    g AS (
      SELECT CAST((rk - 1) * 10 // n_all AS BIGINT) + 1 AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             MAX(n_all) AS n_all, MAX(pos_all) AS pos_all
      FROM r CROSS JOIN t GROUP BY 1
    ),
    c AS (
      SELECT g.*, CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
      FROM g
    )
    SELECT decile, n_docs, n_pos,
           {pos_rate} AS pos_rate,
           {lift} AS lift,
           cum_pos,
           {capture} AS capture
    FROM c
    """


@query("q221_decile_lift", oracle=_q221_oracle())
def q221_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_rank,
    )

    clf = q147_quality_classifier_gd(spark, sf_dir).select(
        "doc_id", "p", F.col("y").cast("bigint").alias("__y")
    )
    r = two_phase_numeric_rank(clf, "p", "doc_id", "__rk", descending=True)
    t = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_all"),
        F.sum("__y").cast("bigint").alias("__pos_all"),
    )
    g = (
        r.crossJoin(F.broadcast(t))
        .withColumn(
            "decile", F.expr("((__rk - 1) * 10) div __n_all") + F.lit(1)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__y").cast("bigint").alias("n_pos"),
            F.max("__n_all").alias("__n_all"),
            F.max("__pos_all").alias("__pos_all"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = g.withColumn("cum_pos", F.sum("n_pos").over(w).cast("bigint"))
    return c.select(
        "decile",
        "n_docs",
        "n_pos",
        exact_mean_round(F.col("n_pos"), F.col("n_docs"), 6, sum_scale=0).alias(
            "pos_rate"
        ),
        exact_mean_round(
            F.col("n_pos") * F.col("__n_all"),
            F.col("n_docs") * F.col("__pos_all"),
            6,
            sum_scale=0,
        ).alias("lift"),
        "cum_pos",
        exact_mean_round(
            F.col("cum_pos"), F.col("__pos_all"), 6, sum_scale=0
        ).alias("capture"),
    )


# ---------------------------------------------------------------------------
# q222 cross-source duplication modularity — is near-duplication
# mostly WITHIN a source (high modularity: dedup per-source suffices)
# or cross-source (low: global dedup required)? Newman modularity of
# the source partition over the q45 exact-verified near-dup graph:
#   Q = sum_c [ e_c/m - (d_c / 2m)^2 ]
# with e_c = intra-source edges, d_c = degree mass of source c,
# m = |edges|. Per-source contribution emitted as the exact integer
# ratio (4·m·e_c - d_c^2) / (4·m^2) through exact_mean_round (handles
# the negative-contribution case); summing the column IS Q. The edge
# frame is persisted once and feeds the total, the incidence rollup
# and nothing else — one LSH pipeline run, two small aggregations.
# ---------------------------------------------------------------------------
def _q222_oracle() -> str:
    contrib = exact_mean_round_sql(
        "4 * m * e_in - d_sum * d_sum", "4 * m * m", 6, sum_scale=0
    )
    return f"""
    WITH pairs AS ({_Q45_ORACLE}),
    e AS (
      SELECT da.source AS sa, db.source AS sb,
             p.doc_id_a, p.doc_id_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_id_a
      JOIN documents db ON db.doc_id = p.doc_id_b
    ),
    mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    inc AS (
      SELECT sa AS source, doc_id_a AS node,
             CASE WHEN sa = sb THEN 1 ELSE 0 END AS ih FROM e
      UNION ALL
      SELECT sb AS source, doc_id_b AS node,
             CASE WHEN sa = sb THEN 1 ELSE 0 END AS ih FROM e
    ),
    g AS (
      SELECT source,
             CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
             CAST(COUNT(*) AS BIGINT) AS d_sum,
             CAST(SUM(ih) // 2 AS BIGINT) AS e_in
      FROM inc GROUP BY source
    )
    SELECT source, n_nodes, d_sum, e_in,
           {contrib} AS contribution
    FROM g CROSS JOIN mt
    """


@query("q222_dup_modularity", oracle=_q222_oracle())
def q222_dup_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    pairs = q45_minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    e = owned_persist(
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_id_a"), F.col("source").alias("__sa")
            ),
            "doc_id_a",
        ).join(
            docs.select(
                F.col("doc_id").alias("doc_id_b"), F.col("source").alias("__sb")
            ),
            "doc_id_b",
        )
    )
    mt = e.agg(F.count(F.lit(1)).cast("bigint").alias("__m"))
    ih = F.when(F.col("__sa") == F.col("__sb"), 1).otherwise(0)
    inc = e.select(
        F.col("__sa").alias("source"), F.col("doc_id_a").alias("__node"), ih.alias("__ih")
    ).unionByName(
        e.select(
            F.col("__sb").alias("source"),
            F.col("doc_id_b").alias("__node"),
            ih.alias("__ih"),
        )
    )
    g = inc.groupBy("source").agg(
        F.countDistinct("__node").cast("bigint").alias("n_nodes"),
        F.count(F.lit(1)).cast("bigint").alias("d_sum"),
        # every intra-source edge contributes exactly two halves, so the
        # sum is even and the /2 double divide is exact
        (F.sum("__ih") / F.lit(2)).cast("bigint").alias("e_in"),
    )
    return g.crossJoin(F.broadcast(mt)).select(
        "source",
        "n_nodes",
        "d_sum",
        "e_in",
        exact_mean_round(
            F.lit(4) * F.col("__m") * F.col("e_in")
            - F.col("d_sum") * F.col("d_sum"),
            F.lit(4) * F.col("__m") * F.col("__m"),
            6,
            sum_scale=0,
        ).alias("contribution"),
    )


# ---------------------------------------------------------------------------
# q231 IDF-weighted (soft) Jaccard near-dup pairs — boilerplate-robust
# dedup: q44 scores every shared shingle equally, so template-heavy
# corpora over-merge; here shared shingles are weighted by
# round(ln(N/df)·10^6) BIGINT idf, the threshold is the integer
# cross-multiply 2·inter >= union (no float compare), and the
# similarity is the exact integer ratio. Same df<=50 fan-out cap and
# shingle-partitioned shuffle reuse as q44.
# ---------------------------------------------------------------------------
def _q231_oracle() -> str:
    ratio = decimal_ratio_round_sql("iw", "ca.wt + cb.wt - iw")
    return f"""
    WITH {_D_SHINGLES},
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM sh),
    dft AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
    w AS (
      SELECT dft.s,
             CAST(round(ln(CAST(nd.n AS DOUBLE) / CAST(dft.df AS DOUBLE))
                        * 1e6) AS BIGINT) AS w6
      FROM dft, nd WHERE dft.df <= 50
    ),
    shf AS (SELECT sh.doc_id, sh.s, w.w6 FROM sh JOIN w ON sh.s = w.s),
    cnt AS (SELECT doc_id, CAST(SUM(w6) AS BIGINT) AS wt FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(SUM(a.w6) AS BIGINT) AS iw
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_a, doc_id_b, {ratio} AS soft_jaccard
    FROM inter
    JOIN cnt ca ON doc_id_a = ca.doc_id
    JOIN cnt cb ON doc_id_b = cb.doc_id
    WHERE ca.wt + cb.wt - iw > 0 AND 2 * iw >= ca.wt + cb.wt - iw
    """


@query("q231_soft_jaccard_pairs", oracle=_q231_oracle())
def q231_soft_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.soft_jaccard_pairs(
        load_table(spark, "documents", sf_dir), max_shingle_df=50
    )


# ---------------------------------------------------------------------------
# q234 tokenizer fertility audit — the per-source health check of the
# learned BPE tokenizer (q89/q90): fertility = BPE tokens per word
# and chars per BPE token. A source whose fertility spikes is one the
# vocabulary underfits (costly to train on, over-segmented); this is
# the number tokenizer papers report per language/domain. Oracle
# composes the verified q90 per-doc segmentation; ratios are exact
# integer means (decimal_ratio_round).
# ---------------------------------------------------------------------------
def _q234_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q90 = ORACLES["q90_bpe_tokenize"]
    fertility = decimal_ratio_round_sql("SUM(b.n_bpe_tokens)", "SUM(b.n_words)")
    cpt = decimal_ratio_round_sql("SUM(d.n_chars)", "SUM(b.n_bpe_tokens)")
    return f"""
    WITH b AS ({q90})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n_words) AS BIGINT) AS n_words,
           CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           {fertility} AS fertility,
           {cpt} AS chars_per_token
    FROM b JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


@query("q234_tokenizer_fertility", oracle=_q234_oracle())
def q234_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    docs = load_table(spark, "documents", sf_dir)
    b = q90_bpe_tokenize(spark, sf_dir)
    return (
        b.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
            decimal_ratio_round(
                F.sum("n_bpe_tokens"), F.sum("n_words")
            ).alias("fertility"),
            decimal_ratio_round(
                F.sum("n_chars"), F.sum("n_bpe_tokens")
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# q235 document-length lognormal profile — length drift detection per
# source: doc lengths are approximately lognormal, so the stable
# monitoring statistics are mean/std of ln(n_chars) (plus the implied
# lognormal median exp(mu)). Each ln is scaled by 10^6 and rounded
# ONCE to BIGINT (the q116 discipline) so first/second moments are
# exact integers; mu and sigma^2 are exact integer ratios
# (decimal_ratio_round — the second moment's products overflow
# exact_mean_round's BIGINT staging), and sigma/exp appear only in
# the final identical-on-both-engines double expressions.
# ---------------------------------------------------------------------------
def _q235_oracle() -> str:
    mu = decimal_ratio_round_sql("s1", "n * 1000000")
    var = decimal_ratio_round_sql(
        "CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1",
        "CAST(n AS HUGEINT) * (n - 1) * 1000000000000",
    )
    return f"""
    WITH b AS (
      SELECT source,
             CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT) AS l6
      FROM documents WHERE n_chars > 0
    ),
    m AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(l6) AS BIGINT) AS s1,
             CAST(SUM(CAST(l6 AS HUGEINT) * l6) AS HUGEINT) AS s2
      FROM b GROUP BY source
    ),
    r AS (
      SELECT source, n AS n_docs, {mu} AS mu_log, {var} AS var_log
      FROM m WHERE n > 1
    )
    SELECT source, n_docs, mu_log, var_log,
           round(sqrt(var_log), 6) + CAST(0 AS DOUBLE) AS sigma_log,
           round(exp(mu_log), 2) AS lognormal_median_chars
    FROM r
    """


@query("q235_doc_length_profile", oracle=_q235_oracle())
def q235_doc_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    docs = load_table(spark, "documents", sf_dir)
    b = docs.filter(F.col("n_chars") > 0).select(
        "source",
        F.round(F.log(F.col("n_chars").cast("double")) * F.lit(1e6))
        .cast("bigint")
        .alias("__l6"),
    )
    d38 = "decimal(38,0)"
    m = b.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__l6").cast("bigint").alias("__s1"),
        F.sum(F.col("__l6").cast(d38) * F.col("__l6")).cast(d38).alias("__s2"),
    )
    n, s1, s2 = F.col("__n"), F.col("__s1"), F.col("__s2")
    r = m.filter(n > 1).select(
        "source",
        n.alias("n_docs"),
        decimal_ratio_round(s1, n * 1000000).alias("mu_log"),
        decimal_ratio_round(
            n.cast(d38) * s2 - s1.cast(d38) * s1,
            n.cast(d38) * (n - 1) * F.lit(1000000000000).cast(d38),
        ).alias("var_log"),
    )
    return r.select(
        "source",
        "n_docs",
        "mu_log",
        "var_log",
        (F.round(F.sqrt("var_log"), 6) + F.lit(0.0)).alias("sigma_log"),
        F.round(F.exp("mu_log"), 2).alias("lognormal_median_chars"),
    )


# ---------------------------------------------------------------------------
# q237 pairwise Jensen-Shannon divergence between source vocabularies
# — the symmetric, bounded completion of q161's KL drift monitor (KL
# needs a designated reference corpus and explodes on disjoint
# support; JSD is the mixture-comparison both directions). Identity
# used: terms outside the intersection contribute exactly
# p_t·ln2 (since m_t = p_t/2), so
#   JSD = 0.5·Σ_∩ [p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
#       + 0.5·(2 − cov_a − cov_b)·ln2
# and only the INTERSECTION term join is ever materialized (never a
# per-pair full-outer over the union vocabulary). Per-term doubles
# follow the q161 recipe — inner ln rounded to 6, term rounded to 12,
# summed as DECIMAL(32,12); coverages are exact integer ratios; ln2
# enters as the rounded literal 0.693147 on both engines (a raw
# libm ln(2) could differ in the last ulp).
# ---------------------------------------------------------------------------
@query(
    "q237_source_jsd_matrix",
    oracle=rf"""
    WITH toks AS (
      SELECT source, lower(t) AS term
      FROM (SELECT source, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cst
           FROM toks GROUP BY 1, 2),
    stot AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ns FROM st GROUP BY 1),
    pr AS (
      SELECT a.source AS sa, b.source AS sb, a.cst AS ca, b.cst AS cb,
             ta.ns AS na, tb.ns AS nb
      FROM st a
      JOIN st b ON a.term = b.term AND a.source < b.source
      JOIN stot ta ON ta.source = a.source
      JOIN stot tb ON tb.source = b.source
    ),
    j AS (
      SELECT sa, sb, MAX(na) AS na, MAX(nb) AS nb,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             CAST(SUM(ca) AS BIGINT) AS ia, CAST(SUM(cb) AS BIGINT) AS ib,
             CAST(SUM(CAST(round(
               (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
               * round(ln(CAST(2.0 AS DOUBLE)
                          * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                          / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                             + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))), 6),
               12) AS DECIMAL(32,12))) AS DECIMAL(32,12)) AS s1,
             CAST(SUM(CAST(round(
               (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
               * round(ln(CAST(2.0 AS DOUBLE)
                          * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                          / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                             + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))), 6),
               12) AS DECIMAL(32,12))) AS DECIMAL(32,12)) AS s2
      FROM pr GROUP BY sa, sb
    )
    SELECT sa AS source_a, sb AS source_b, n_shared_terms,
           round(CAST(0.5 AS DOUBLE) * CAST(s1 + s2 AS DOUBLE)
                 + CAST(0.5 AS DOUBLE)
                   * (CAST(2.0 AS DOUBLE)
                      - CAST(ia AS DOUBLE) / CAST(na AS DOUBLE)
                      - CAST(ib AS DOUBLE) / CAST(nb AS DOUBLE))
                   * CAST(0.693147 AS DOUBLE), 6)
             + CAST(0 AS DOUBLE) AS jsd
    FROM j
    """,
)
def q237_source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source", F.explode(TX.tokens("text")).alias("__t")
    ).select("source", F.lower("__t").alias("term"))
    st = owned_persist(
        toks.groupBy("source", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("__c")
        )
    )
    stot = st.groupBy("source").agg(F.sum("__c").cast("bigint").alias("__ns"))
    a = st.select(
        F.col("source").alias("__sa"), "term", F.col("__c").alias("__ca")
    )
    b = st.select(
        F.col("source").alias("__sb"), "term", F.col("__c").alias("__cb")
    )
    pr = (
        a.join(b, "term")
        .filter(F.col("__sa") < F.col("__sb"))
        .join(
            F.broadcast(
                stot.select(F.col("source").alias("__sa"), F.col("__ns").alias("__na"))
            ),
            "__sa",
        )
        .join(
            F.broadcast(
                stot.select(F.col("source").alias("__sb"), F.col("__ns").alias("__nb"))
            ),
            "__sb",
        )
    )
    p = F.col("__ca").cast("double") / F.col("__na").cast("double")
    q = F.col("__cb").cast("double") / F.col("__nb").cast("double")
    t1 = F.round(
        p * F.round(F.log(F.lit(2.0) * p / (p + q)), 6), 12
    ).cast("decimal(32,12)")
    t2 = F.round(
        q * F.round(F.log(F.lit(2.0) * q / (p + q)), 6), 12
    ).cast("decimal(32,12)")
    j = pr.groupBy("__sa", "__sb").agg(
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
        F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
        F.sum("__ca").cast("bigint").alias("__ia"),
        F.sum("__cb").cast("bigint").alias("__ib"),
        F.sum(t1).cast("decimal(32,12)").alias("__s1"),
        F.sum(t2).cast("decimal(32,12)").alias("__s2"),
    )
    return j.select(
        F.col("__sa").alias("source_a"),
        F.col("__sb").alias("source_b"),
        "n_shared_terms",
        (
            F.round(
                F.lit(0.5) * (F.col("__s1") + F.col("__s2")).cast("double")
                + F.lit(0.5)
                * (
                    F.lit(2.0)
                    - F.col("__ia").cast("double") / F.col("__na").cast("double")
                    - F.col("__ib").cast("double") / F.col("__nb").cast("double")
                )
                * F.lit(0.693147),
                6,
            )
            + F.lit(0.0)
        ).alias("jsd"),
    )


# ---------------------------------------------------------------------------
# q239 text hygiene audit — the encoding-health gate that runs BEFORE
# any tokenization: per source, documents that are empty/whitespace,
# carry C0 control bytes, U+FFFD replacement chars (mojibake from a
# bad decode), carriage returns, or a non-ASCII-heavy payload
# (> 30% of chars outside ASCII: integer cross-multiply, no float).
# Pure scan-side integer counts — one pass, one groupBy; the regexes
# avoid backreferences so they run identically on Java regex (Spark)
# and RE2 (DuckDB).
# ---------------------------------------------------------------------------
@query(
    "q239_text_hygiene",
    oracle=r"""
    WITH b AS (
      SELECT source,
        CASE WHEN trim(text) = '' THEN 1 ELSE 0 END AS is_blank,
        CASE WHEN regexp_matches(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')
             THEN 1 ELSE 0 END AS has_control,
        CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END AS has_replacement,
        CASE WHEN contains(text, chr(13)) THEN 1 ELSE 0 END AS has_cr,
        length(text) AS n_chars_total,
        length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')) AS n_ascii
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_blank) AS BIGINT) AS n_blank,
           CAST(SUM(has_control) AS BIGINT) AS n_control,
           CAST(SUM(has_replacement) AS BIGINT) AS n_replacement,
           CAST(SUM(has_cr) AS BIGINT) AS n_cr,
           CAST(SUM(CASE WHEN 10 * (n_chars_total - n_ascii) > 3 * n_chars_total
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nonascii_heavy
    FROM b GROUP BY source
    """,
)
def q239_text_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    n_total = F.length(text)
    n_ascii = F.length(F.regexp_replace(text, r"[^\x00-\x7f]", ""))
    b = docs.select(
        "source",
        F.when(F.trim(text) == "", 1).otherwise(0).alias("__blank"),
        F.when(text.rlike(r"[\x00-\x08\x0b\x0c\x0e-\x1f]"), 1)
        .otherwise(0)
        .alias("__control"),
        F.when(text.contains("�"), 1).otherwise(0).alias("__replacement"),
        F.when(text.contains("\r"), 1).otherwise(0).alias("__cr"),
        F.when(10 * (n_total - n_ascii) > 3 * n_total, 1)
        .otherwise(0)
        .alias("__heavy"),
    )
    return b.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__blank").cast("bigint").alias("n_blank"),
        F.sum("__control").cast("bigint").alias("n_control"),
        F.sum("__replacement").cast("bigint").alias("n_replacement"),
        F.sum("__cr").cast("bigint").alias("n_cr"),
        F.sum("__heavy").cast("bigint").alias("n_nonascii_heavy"),
    )


# ---------------------------------------------------------------------------
# q242 classifier ROC summary — exact AUC, Gini and KS statistic for
# the q147 in-engine classifier, completing its eval suite (q171 is
# calibration, q221 is lift). Everything is computed from the GROUPED
# score histogram (one row per distinct rounded probability), never
# from per-row ranks:
#   AUC  = U1 / (n1·n2) with midrank tie handling — 2·R1 =
#          Σ_v a_v·(2·C_v + t_v + 1) is an exact integer (q220's
#          rank-sum identity, reused verbatim);
#   KS   = max_v |CA_v·n2 − CB_v·n1| / (n1·n2)  (integer cross-
#          multiply; the arg-max threshold is tie-broken to the
#          smallest score via a struct max);
#   Gini = 2·AUC − 1 as its own exact ratio.
# Cumulatives come from the two-phase partitioned cumsum (no global
# single-task window); products are staged through DECIMAL(38,0) /
# HUGEINT so 10^9-row classes cannot overflow. One final
# decimal_ratio_round per metric keeps both engines bit-identical.
# ---------------------------------------------------------------------------
def _q242_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q147 = ORACLES["q147_quality_classifier_gd"]
    return f"""
    WITH clf AS ({q147}),
    s AS (
      SELECT CAST(p AS DECIMAL(10,6)) AS v,
             CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS a,
             CAST(SUM(1 - CAST(y AS BIGINT)) AS BIGINT) AS b
      FROM clf GROUP BY 1
    ),
    c AS (
      SELECT v, a, b, a + b AS t,
             CAST(SUM(a + b) OVER (ORDER BY v) AS BIGINT) AS ct,
             CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS ca,
             CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS cb
      FROM s
    ),
    tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1,
             CAST(SUM(b) AS BIGINT) AS n2,
             CAST(SUM(CAST(a AS HUGEINT) * (2 * (ct - t) + t + 1))
                  AS HUGEINT) AS r1x2
      FROM c
    ),
    kbest AS (
      SELECT c.v,
             abs(CAST(c.ca AS HUGEINT) * t.n2
                 - CAST(c.cb AS HUGEINT) * t.n1) AS dnum
      FROM c, tot t
      ORDER BY dnum DESC, c.v ASC LIMIT 1
    )
    SELECT t.n1 AS n_pos, t.n2 AS n_neg,
           {_drr("t.r1x2 - CAST(t.n1 AS HUGEINT) * (t.n1 + 1)",
                 "2 * CAST(t.n1 AS HUGEINT) * t.n2", 6)} AS auc,
           {_drr("t.r1x2 - CAST(t.n1 AS HUGEINT) * (t.n1 + 1)"
                 " - CAST(t.n1 AS HUGEINT) * t.n2",
                 "CAST(t.n1 AS HUGEINT) * t.n2", 6)} AS gini,
           {_drr("k.dnum", "CAST(t.n1 AS HUGEINT) * t.n2", 6)} AS ks,
           CAST(k.v AS DOUBLE) AS ks_score
    FROM tot t, kbest k
    """


@query("q242_classifier_roc_auc", oracle=_q242_oracle())
def q242_classifier_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_cumsum_multi,
    )

    clf = q147_quality_classifier_gd(spark, sf_dir)
    s = owned_persist(
        clf.groupBy(F.col("p").cast("decimal(10,6)").alias("__v"))
        .agg(
            F.sum(F.col("y").cast("bigint")).cast("bigint").alias("__na"),
            F.sum(F.lit(1) - F.col("y").cast("bigint"))
            .cast("bigint")
            .alias("__nb"),
        )
        .withColumn("__t", (F.col("__na") + F.col("__nb")).cast("bigint"))
    )
    c = two_phase_numeric_cumsum_multi(
        s, "__v", "__v", ["__t", "__na", "__nb"], ["__ct", "__ca", "__cb"]
    )
    d38 = "decimal(38,0)"
    tot = c.agg(
        F.sum("__na").cast("bigint").alias("__n1"),
        F.sum("__nb").cast("bigint").alias("__n2"),
        F.sum(
            F.col("__na").cast(d38)
            * (2 * (F.col("__ct") - F.col("__t")) + F.col("__t") + 1)
        )
        .cast(d38)
        .alias("__r1x2"),
    )
    kbest = (
        c.crossJoin(F.broadcast(tot))
        .select(
            "__v",
            F.abs(
                F.col("__ca").cast(d38) * F.col("__n2")
                - F.col("__cb").cast(d38) * F.col("__n1")
            ).alias("__d"),
        )
        .agg(
            F.max(
                F.struct(F.col("__d").alias("d"), (-F.col("__v")).alias("nv"))
            ).alias("__best")
        )
        .select(
            F.col("__best.d").alias("__dnum"),
            (-F.col("__best.nv")).cast("double").alias("ks_score"),
        )
    )
    n1, n2 = F.col("__n1").cast(d38), F.col("__n2").cast(d38)
    r1x2 = F.col("__r1x2")
    return tot.crossJoin(F.broadcast(kbest)).select(
        F.col("__n1").alias("n_pos"),
        F.col("__n2").alias("n_neg"),
        decimal_ratio_round(r1x2 - n1 * (n1 + 1), F.lit(2).cast(d38) * n1 * n2, 6).alias(
            "auc"
        ),
        decimal_ratio_round(r1x2 - n1 * (n1 + 1) - n1 * n2, n1 * n2, 6).alias("gini"),
        decimal_ratio_round(F.col("__dnum"), n1 * n2, 6).alias("ks"),
        "ks_score",
    )


# ---------------------------------------------------------------------------
# q249 shuffle-quality run audit — did the epoch shuffle actually
# interleave sources? Training order matters: long same-source runs in
# the shuffled stream recreate curriculum drift. Runs are found with
# ZERO sequential scan via the rank-difference gaps-and-islands
# identity: with pos = q94's global shuffle position and sr = the
# per-source rank in that same order, (pos − sr) is constant exactly
# within a maximal same-source run — so runs fall out of one groupBy.
# Both ranks come from two-phase machinery (the global one IS q94's
# verified output; the per-source one is grouped_two_phase_rank) — no
# corpus-wide window, no self-join on pos+1. Mean run length per
# source is an exact integer ratio; a perfectly interleaved shuffle
# has mean ≈ 1/(1−share), long tails flag clumping.
# ---------------------------------------------------------------------------
def _q249_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q94 = ORACLES["q94_epoch_shuffle"]
    return f"""
    WITH sh AS ({q94}),
    j AS (
      SELECT sh.epoch_pos, d.source
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id
    ),
    r AS (
      SELECT source, epoch_pos,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY epoch_pos) AS sr
      FROM j
    ),
    runs AS (
      SELECT source, epoch_pos + 1 - sr AS island,
             CAST(COUNT(*) AS BIGINT) AS run_len
      FROM r GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(run_len) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           {_drr("SUM(run_len)", "COUNT(*)", 6)} AS mean_run_len,
           CAST(MAX(run_len) AS BIGINT) AS max_run_len
    FROM runs GROUP BY source
    """


@query("q249_shuffle_run_audit", oracle=_q249_oracle())
def q249_shuffle_run_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    sh = q94_epoch_shuffle(spark, sf_dir).select("doc_id", "epoch_pos")
    j = owned_persist(sh.join(docs, "doc_id").select("epoch_pos", "source"))
    # the helper exposes the ranked value as __v (= epoch_pos here)
    r = grouped_two_phase_rank(j, ["source"], "epoch_pos", "epoch_pos", out_col="__sr")
    runs = r.groupBy(
        "source", (F.col("__v") + 1 - F.col("__sr")).alias("__island")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__run_len"))
    return runs.groupBy("source").agg(
        F.sum("__run_len").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        decimal_ratio_round(
            F.sum("__run_len").cast("bigint"), F.count(F.lit(1)).cast("bigint"), 6
        ).alias("mean_run_len"),
        F.max("__run_len").cast("bigint").alias("max_run_len"),
    )


# ---------------------------------------------------------------------------
# q252 feature information value (IV) — the credit-scoring-standard
# predictive-power audit for the q147 classifier features, BEFORE any
# training: decile-bin each feature by its own distribution (grouped
# two-phase rank — no per-feature single-task window), then
#   IV = Σ_bins (pct_pos_i − pct_neg_i) · ln(pct_pos_i / pct_neg_i)
# with Laplace-smoothed shares so empty cells stay finite. Features are
# stacked LONG (one rank machinery pass for all of them); everything is
# exact integers up to the 9-dp-pinned shares, terms rounded to 12 dp,
# DECIMAL-summed, integer-finished (the q251 PSI discipline — IV is
# PSI with pos/neg playing ref/cur). Rule of thumb: IV < 0.02 useless,
# > 0.3 strong — the audit says which q147 inputs carry signal.
# ---------------------------------------------------------------------------
def _q252_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
        exact_mean_round_sql as _emr,
    )

    stop = ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"])
    pp = _drr("c.pos + 1", "t.tp + 10", 9)
    pn = _drr("c.neg + 1", "t.tn + 10", 9)
    iv = _emr(
        "SUM(CAST(round((pp - pn) * ln(pp / pn), 12) AS DECIMAL(28,12)))",
        "1", 6, sum_scale=12,
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    tc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN term IN ({stop}) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_stop,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS n_dist
      FROM tok GROUP BY doc_id
    ),
    feats AS (
      SELECT d.doc_id,
        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
        round(CAST(tc.n_tok AS DOUBLE) / CAST(50.0 AS DOUBLE), 6) AS x1,
        round(CAST(tc.n_stop AS DOUBLE) / CAST(tc.n_tok AS DOUBLE), 6) AS x2,
        round(CAST(tc.n_dist AS DOUBLE) / CAST(tc.n_tok AS DOUBLE), 6) AS x3
      FROM documents d JOIN tc ON d.doc_id = tc.doc_id
    ),
    lng AS (
      SELECT 'x1_len' AS feature, doc_id, y,
             CAST(round(x1 * 1000000) AS BIGINT) AS v6 FROM feats
      UNION ALL
      SELECT 'x2_stopword_ratio', doc_id, y,
             CAST(round(x2 * 1000000) AS BIGINT) FROM feats
      UNION ALL
      SELECT 'x3_distinct_ratio', doc_id, y,
             CAST(round(x3 * 1000000) AS BIGINT) FROM feats
    ),
    r AS (
      SELECT feature, y,
             ROW_NUMBER() OVER (
               PARTITION BY feature ORDER BY v6, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY feature) AS n
      FROM lng
    ),
    cells AS (
      SELECT feature, (rk - 1) * 10 // n AS b,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
      FROM r GROUP BY 1, 2
    ),
    tots AS (
      SELECT feature, CAST(SUM(pos) AS BIGINT) AS tp,
             CAST(SUM(neg) AS BIGINT) AS tn
      FROM cells GROUP BY feature
    ),
    sh AS (
      SELECT c.feature, t.tp, t.tn, {pp} AS pp, {pn} AS pn
      FROM cells c JOIN tots t USING (feature)
    )
    SELECT feature, MAX(tp) AS n_pos, MAX(tn) AS n_neg, {iv} AS iv
    FROM sh GROUP BY feature
    """


@query("q252_feature_iv", oracle=_q252_oracle())
def q252_feature_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round,
        exact_mean_round,
    )
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    feats = _q147_features(load_table(spark, "documents", sf_dir))
    parts = [
        feats.select(
            F.lit(name).alias("feature"),
            "doc_id",
            F.col("y").cast("bigint").alias("__y"),
            F.round(F.col(x) * 1000000).cast("bigint").alias("__v6"),
        )
        for name, x in [
            ("x1_len", "x1"),
            ("x2_stopword_ratio", "x2"),
            ("x3_distinct_ratio", "x3"),
        ]
    ]
    lng = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # grouped_two_phase_rank keeps only (group, __v, __tie, rank) — carry
    # y through the tie column? No: re-join on (feature, doc_id).
    r = grouped_two_phase_rank(
        lng.select("feature", "doc_id", "__v6"),
        ["feature"],
        "__v6",
        "doc_id",
        out_col="__rk",
    ).select("feature", F.col("__tie").alias("doc_id"), "__rk")
    n = lng.groupBy("feature").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    binned = (
        r.join(lng.select("feature", "doc_id", "__y"), ["feature", "doc_id"])
        .join(F.broadcast(n), "feature")
        .select(
            "feature",
            F.expr("(__rk - 1) * 10 div __n").cast("bigint").alias("__b"),
            "__y",
        )
    )
    cells = owned_persist(
        binned.groupBy("feature", "__b").agg(
            F.sum("__y").cast("bigint").alias("__pos"),
            (F.count(F.lit(1)) - F.sum("__y")).cast("bigint").alias("__neg"),
        )
    )
    tots = cells.groupBy("feature").agg(
        F.sum("__pos").cast("bigint").alias("__tp"),
        F.sum("__neg").cast("bigint").alias("__tn"),
    )
    sh = cells.join(F.broadcast(tots), "feature").select(
        "feature",
        "__tp",
        "__tn",
        decimal_ratio_round(F.col("__pos") + 1, F.col("__tp") + 10, 9).alias("__pp"),
        decimal_ratio_round(F.col("__neg") + 1, F.col("__tn") + 10, 9).alias("__pn"),
    )
    return sh.groupBy("feature").agg(
        F.max("__tp").alias("n_pos"),
        F.max("__tn").alias("n_neg"),
        exact_mean_round(
            F.sum(
                F.round(
                    (F.col("__pp") - F.col("__pn"))
                    * F.log(F.col("__pp") / F.col("__pn")),
                    12,
                ).cast("decimal(28,12)")
            ),
            F.lit(1).cast("bigint"),
            6,
            sum_scale=12,
        ).alias("iv"),
    )


# ---------------------------------------------------------------------------
# q261 self-repetition coverage per source — the within-doc dedup-cut
# signal (first occurrence kept, later verbatim 3-gram windows counted
# as repeated): per source, how much of the token mass is a document
# repeating itself? Complements q39 (repetition ratios as quality
# signals) with the POSITIONAL cut semantics of q103/q107, restricted
# to doc-local windows — the groupBy key is (doc, shingle), so the
# heavy lifting shuffles on doc-local keys and the ratio is an exact
# integer division.
# ---------------------------------------------------------------------------
def _q261_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    return f"""
    WITH tok AS (SELECT doc_id, source, {_D_TOKENS} AS ts FROM documents),
    sized AS (SELECT doc_id, source, len(ts) AS n_tokens FROM tok),
    posed AS (
      SELECT doc_id, i AS p, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS u(i)
    ),
    firsts AS (SELECT doc_id, s, MIN(p) AS minp FROM posed GROUP BY 1, 2),
    cov AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT p.doc_id, UNNEST(range(p.p, p.p + 3)) AS pos
        FROM posed p JOIN firsts f
          ON p.doc_id = f.doc_id AND p.s = f.s AND p.p > f.minp
      )
    ),
    per_doc AS (
      SELECT s.doc_id, s.source, s.n_tokens,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n_repeated
      FROM sized s LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n FROM cov GROUP BY doc_id
      ) c ON s.doc_id = c.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_repeated) AS BIGINT) AS repeated_tokens,
           CAST(SUM(CASE WHEN n_repeated > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_repeats,
           {_drr("SUM(n_repeated)", "SUM(n_tokens)", 6)} AS repeated_ratio
    FROM per_doc GROUP BY source
    """


@query("q261_self_repetition", oracle=_q261_oracle())
def q261_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    docs = load_table(spark, "documents", sf_dir)
    per_doc = DD.self_repetition_coverage(docs, n=3)
    src = docs.select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_repeated").cast("bigint").alias("repeated_tokens"),
            F.sum(F.when(F.col("n_repeated") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_with_repeats"),
            decimal_ratio_round(
                F.sum("n_repeated").cast("bigint"),
                F.sum("n_tokens").cast("bigint"),
                6,
            ).alias("repeated_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# q262 degree assortativity of the near-dup graph — do highly-
# duplicated docs link to other highly-duplicated docs (template
# families, r > 0) or to one hub copy (star shapes, r < 0)? Newman's
# assortativity = Pearson correlation of endpoint degrees over the
# DIRECTED edge list (each undirected edge contributes both
# orientations). Every moment is an exact HUGEINT/DECIMAL(38) integer
# sum; the finish is two IEEE sqrts and one divide on identical
# doubles, with the zero-variance degenerate guarded to NULL on both
# engines. Edge set = the verified q44/q58 Jaccard≥0.5 pairs.
# ---------------------------------------------------------------------------
@query(
    "q262_dup_graph_assortativity",
    oracle=f"""
    WITH {_D_SHINGLES},
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT doc_id_a, doc_id_b FROM inter
      JOIN cnt ca ON doc_id_a = ca.doc_id
      JOIN cnt cb ON doc_id_b = cb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM prs
      UNION SELECT doc_id_b, doc_id_a FROM prs
    ),
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    ed AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM ed
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(n // 2 AS BIGINT) AS n_edges,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
             THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                        / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                           * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             ELSE NULL END AS assortativity
    FROM s
    """,
)
def q262_dup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    # the edge list feeds degrees + BOTH endpoint-degree joins + the
    # node count — without truncation the whole Jaccard pair join was
    # re-analyzed AND re-executed once per reference (r12 plan audit:
    # 176 Exchanges before, the pair subtree ~6×; guide §2.4/§5)
    from airbnb_pyspark_jobs_spark.caching import checkpoint

    edges = checkpoint(
        pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_id_b").alias("a"), F.col("doc_id_a").alias("b"))
        )
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("a"), F.col("d").alias("__x")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("__y")), "b")
        .select("__x", "__y")
    )
    D = "decimal(38,0)"
    s = ed.agg(
        F.count(F.lit(1)).cast(D).alias("__n"),
        F.sum("__x").cast(D).alias("__sx"),
        F.sum("__y").cast(D).alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast(D).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast(D).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast(D).alias("__syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    vx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    return s.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        (F.col("__n") / 2).cast("bigint").alias("n_edges"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                num.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            ),
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# q263 Cramér's V for lang × source — "how much does source determine
# language?" as a normalized effect size in [0, 1], the governance
# companion of q212's raw chi² (which grows with n and says nothing
# about strength): V = sqrt(χ² / (n·min(r−1, c−1))). χ² keeps the
# q212 discipline — HUGEINT cross-products, per-cell single double
# division rounded and DECIMAL-summed — and the normalization divides
# by exact integers before one sqrt.
# ---------------------------------------------------------------------------
@query(
    "q263_cramers_v",
    oracle="""
    WITH xy AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY 1, 2
    ),
    mx AS (SELECT lang, CAST(SUM(obs) AS HUGEINT) AS rt FROM xy GROUP BY 1),
    my AS (SELECT source, CAST(SUM(obs) AS HUGEINT) AS ct FROM xy GROUP BY 1),
    tot AS (SELECT CAST(SUM(obs) AS HUGEINT) AS n FROM xy),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mx) AS r,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM my) AS c
    ),
    terms AS (
      SELECT CAST(round(
               CAST((tot.n * xy.obs - mx.rt * my.ct)
                    * (tot.n * xy.obs - mx.rt * my.ct) AS DOUBLE)
               / CAST(tot.n * mx.rt * my.ct AS DOUBLE), 10)
             AS DECIMAL(28,10)) AS term
      FROM xy JOIN mx USING (lang) JOIN my USING (source), tot
    ),
    chi AS (SELECT round(CAST(SUM(term) AS DOUBLE), 6) AS chi2 FROM terms)
    SELECT d.r AS n_langs, d.c AS n_sources,
           CAST(t.n AS BIGINT) AS n_docs, chi.chi2,
           round(sqrt(chi.chi2
                      / CAST(t.n * LEAST(d.r - 1, d.c - 1) AS DOUBLE)), 6)
             AS cramers_v
    FROM chi, dims d, tot t
    """,
)
def q263_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    D = "decimal(38,0)"
    xy = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    mx = xy.groupBy("lang").agg(F.sum("obs").cast(D).alias("rt"))
    my = xy.groupBy("source").agg(F.sum("obs").cast(D).alias("ct"))
    tot = xy.agg(F.sum("obs").cast(D).alias("n"))
    dims = mx.agg(F.count(F.lit(1)).cast("bigint").alias("r")).crossJoin(
        F.broadcast(my.agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    )
    num = F.col("n") * F.col("obs") - F.col("rt") * F.col("ct")
    term = F.round(
        (num * num).cast("double")
        / (F.col("n") * F.col("rt") * F.col("ct")).cast("double"),
        10,
    ).cast("decimal(28,10)")
    chi = (
        xy.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("__term"))
        .agg(F.round(F.sum("__term").cast("double"), 6).alias("chi2"))
    )
    return (
        chi.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").alias("n_langs"),
            F.col("c").alias("n_sources"),
            F.col("n").cast("bigint").alias("n_docs"),
            "chi2",
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1)
                    ).cast("double")
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# q265 k-core peeling of the near-dup graph — template families vs
# incidental pairs: the 2-core (every member keeps ≥ 2 in-core
# neighbors) is what survives iterative peeling of degree-1 leaves;
# the trajectory (nodes/edges per peel round) shows how much of the
# graph is tree-like fringe vs dense core. Five synchronous peel
# rounds, UNROLLED identically in both engines (fixed-round semantics,
# like q245's power steps — convergence typically needs ≤ diameter
# rounds; the last two rows going flat certifies the fixpoint on this
# corpus). Each round is one degree groupBy + two semi-joins on the
# persisted round edges; no driver-side graph.
# ---------------------------------------------------------------------------
_Q265_K, _Q265_ROUNDS = 2, 5


def _q265_oracle() -> str:
    parts = [
        f"""
    WITH {_D_SHINGLES},
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT doc_id_a, doc_id_b FROM inter
      JOIN cnt ca ON doc_id_a = ca.doc_id
      JOIN cnt cb ON doc_id_b = cb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
    ),
    e0 AS MATERIALIZED (SELECT doc_id_a AS a, doc_id_b AS b FROM prs)"""
    ]
    for r in range(1, _Q265_ROUNDS + 1):
        parts.append(
            f""",
    d{r} AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1}
      ) GROUP BY node
    ),
    keep{r} AS (SELECT node FROM d{r} WHERE deg >= {_Q265_K}),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r - 1} e
      JOIN keep{r} ka ON e.a = ka.node
      JOIN keep{r} kb ON e.b = kb.node
    )"""
        )
    rounds_sql = "\n      UNION ALL\n      ".join(
        f"""SELECT {r} AS round,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT DISTINCT node FROM (
                  SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r}
                ))) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges"""
        for r in range(0, _Q265_ROUNDS + 1)
    )
    parts.append(f"""
    SELECT * FROM ({rounds_sql})
    """)
    return "".join(parts)


@query("q265_kcore_peeling", oracle=_q265_oracle())
def q265_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    # checkpoint, not persist: each peel round references the prior
    # round 3x (degree union + both semi-joins) and the stats rows once
    # more, so an un-truncated lineage re-nests the whole shingle
    # pipeline 3^R times at ANALYSIS time (the q138 plan-explosion
    # trap, in loop form). The per-round stats read every round's
    # checkpoint, so all of them stay until the release sweep.
    from airbnb_pyspark_jobs_spark.caching import checkpoint

    edges = checkpoint(
        pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
    )
    spark_rounds = []

    def stats(e: DataFrame, rnd: int) -> DataFrame:
        nodes = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        )
        return nodes.crossJoin(
            F.broadcast(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
        ).select(F.lit(rnd).cast("bigint").alias("round"), "n_nodes", "n_edges")

    spark_rounds.append(stats(edges, 0))
    cur = edges
    for r in range(1, _Q265_ROUNDS + 1):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionByName(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__deg"))
        )
        keep = deg.filter(F.col("__deg") >= _Q265_K).select("node")
        cur = checkpoint(
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
        spark_rounds.append(stats(cur, r))
    out = spark_rounds[0]
    for fr in spark_rounds[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# q266 "Fightin' Words" distinctive terms (Monroe, Colaresi & Quinn
# 2008, public): per source, the top-3 terms whose informative-
# Dirichlet-prior log-odds z-score vs the REST of the corpus is
# largest — the principled corpus-comparison method (raw tf-idf over-
# weights rare flukes; the prior shrinks them):
#   δ_w = ln((y_sw+α_w)/(n_s+α0−y_sw−α_w)) − ln((y_rw+α_w)/(n_r+α0−y_rw−α_w))
#   σ²  ≈ 1/(y_sw+α_w) + 1/(y_rw+α_w),  z = δ/√σ²,  α_w = α0·y_w/N.
# All counts are exact integers; the prior is pinned to a 9-dp double
# (decimal_ratio_round) and z is rounded to 6 BEFORE ranking so both
# engines rank identical values (term tie-break). Per-source top-3
# come from the grouped two-phase rank on the negated micro-scaled z —
# vocab-sized groups never hit a single-task sort.
# ---------------------------------------------------------------------------
_Q266_A0, _Q266_TOPK = 10, 3


def _q266_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    aw = _drr(f"{_Q266_A0} * g.cf", "g.n", 9)
    return f"""
    WITH toks AS (
      SELECT source, lower(t) AS term
      FROM (SELECT source, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    ysw AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS y
            FROM toks GROUP BY 1, 2),
    ns AS (SELECT source, CAST(SUM(y) AS BIGINT) AS n FROM ysw GROUP BY 1),
    gw AS (SELECT term, CAST(SUM(y) AS BIGINT) AS cf FROM ysw GROUP BY 1),
    nt AS (SELECT CAST(SUM(y) AS BIGINT) AS n FROM ysw),
    pri AS (
      SELECT g.term, g.cf, {aw} AS a
      FROM (SELECT gw.term, gw.cf, nt.n FROM gw, nt) g
    ),
    z AS (
      SELECT s.source, s.term, s.y,
        round(
          (ln((s.y + p.a) / (n1.n + {_Q266_A0} - s.y - p.a))
           - ln((p.cf - s.y + p.a)
                / (nt.n - n1.n + {_Q266_A0} - (p.cf - s.y) - p.a)))
          / sqrt(1.0 / (s.y + p.a) + 1.0 / (p.cf - s.y + p.a)),
        6) AS z
      FROM ysw s
      JOIN pri p ON s.term = p.term
      JOIN ns n1 ON s.source = n1.source
      CROSS JOIN nt
    ),
    r AS (
      SELECT source, term, y, z,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY z DESC, term ASC) AS rank
      FROM z
    )
    SELECT source, term, y AS n_in_source, z, rank
    FROM r WHERE rank <= {_Q266_TOPK}
    """


@query("q266_fightin_words", oracle=_q266_oracle())
def q266_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        grouped_two_phase_rank,
    )

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source",
        F.explode(F.transform(TX.tokens("text"), lambda t: F.lower(t))).alias(
            "term"
        ),
    )
    ysw = owned_persist(
        toks.groupBy("source", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("__y")
        )
    )
    ns = ysw.groupBy("source").agg(F.sum("__y").cast("bigint").alias("__ns"))
    gw = ysw.groupBy("term").agg(F.sum("__y").cast("bigint").alias("__cf"))
    nt = ysw.agg(F.sum("__y").cast("bigint").alias("__nt"))
    pri = gw.crossJoin(F.broadcast(nt)).select(
        "term",
        "__cf",
        "__nt",
        decimal_ratio_round(
            F.lit(_Q266_A0).cast("bigint") * F.col("__cf"), F.col("__nt"), 9
        ).alias("__a"),
    )
    a0 = F.lit(float(_Q266_A0))
    y, a, cf, n1, ntot = (
        F.col("__y"),
        F.col("__a"),
        F.col("__cf"),
        F.col("__ns"),
        F.col("__nt"),
    )
    delta = F.log((y + a) / (n1 + a0 - y - a)) - F.log(
        (cf - y + a) / (ntot - n1 + a0 - (cf - y) - a)
    )
    sig2 = F.lit(1.0) / (y + a) + F.lit(1.0) / (cf - y + a)
    z = owned_persist(
        ysw.join(pri, "term")
        .join(F.broadcast(ns), "source")
        .select(
            "source",
            "term",
            "__y",
            F.round(delta / F.sqrt(sig2), 6).alias("__z"),
        )
        .withColumn(
            "__negzi", (-F.round(F.col("__z") * 1000000).cast("bigint"))
        )
    )
    r = grouped_two_phase_rank(
        z.select("source", "term", "__negzi"),
        ["source"],
        "__negzi",
        "term",
        out_col="__rank",
    ).select("source", F.col("__tie").alias("term"), "__rank")
    return (
        r.filter(F.col("__rank") <= _Q266_TOPK)
        .join(z.select("source", "term", "__y", "__z"), ["source", "term"])
        .select(
            "source",
            "term",
            F.col("__y").alias("n_in_source"),
            F.col("__z").alias("z"),
            F.col("__rank").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# q273 transitivity-gap audit — how much work is the transitive
# closure doing to my dedup clusters? Components imply C = Σ n·(n−1)/2
# intra-cluster pairs but the detector only OBSERVED D direct pairs;
# gap = 1 − D/C is the fraction of merges that rest on chains rather
# than direct evidence (a high gap at an aggressive threshold is the
# classic over-merging smell — chains A~B~C collapsing unrelated A,C).
# Reuses the verified q44 pairs + q58 components; exact integer ratio.
# ---------------------------------------------------------------------------
def _q273_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q58 = ORACLES["q58_dedup_components"]
    q44 = ORACLES["q44_ngram_jaccard_pairs"]
    gap = _drr("c.implied - d.direct", "c.implied", 6)
    return f"""
    WITH comp AS MATERIALIZED ({q58}),
    direct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS direct FROM ({q44})
    ),
    sizes AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM comp GROUP BY component_id HAVING COUNT(*) >= 2
    ),
    cl AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(MAX(n) AS BIGINT) AS max_cluster,
             CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS implied
      FROM sizes
    )
    SELECT d.direct AS n_direct_pairs, c.implied AS n_implied_pairs,
           c.n_clusters AS n_clusters_ge2, c.max_cluster,
           {gap} AS transitivity_gap
    FROM cl c, direct d
    """


@query("q273_transitivity_gap", oracle=_q273_oracle())
def q273_transitivity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    docs = load_table(spark, "documents", sf_dir)
    pairs = owned_persist(
        DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    )
    comp = DD.dedup_components(docs, pairs)
    direct = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("__direct"))
    sizes = (
        comp.groupBy("component_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        .filter(F.col("__n") >= 2)
    )
    cl = sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters_ge2"),
        F.max("__n").cast("bigint").alias("max_cluster"),
        F.sum(F.col("__n") * (F.col("__n") - 1) / 2).cast("bigint").alias("__implied"),
    )
    return cl.crossJoin(F.broadcast(direct)).select(
        F.col("__direct").alias("n_direct_pairs"),
        F.col("__implied").alias("n_implied_pairs"),
        "n_clusters_ge2",
        "max_cluster",
        decimal_ratio_round(
            F.col("__implied") - F.col("__direct"), F.col("__implied"), 6
        ).alias("transitivity_gap"),
    )


# ---------------------------------------------------------------------------
# q277 asymmetric containment pairs — quote/snippet detection, the
# directional relation resemblance misses: containment(A→B) =
# |S_A ∩ S_B| / |S_A| ≥ 0.8 with |S_A| ≤ |S_B| says A is (mostly)
# INSIDE B even when Jaccard is tiny because B is much larger. Same
# df-capped shingle-intersection machinery as q44, different
# normalization; the threshold compares as an integer cross-multiply
# (5·i ≥ 4·n_A — no float shares). Output is directed (contained →
# container).
# ---------------------------------------------------------------------------
@query(
    "q277_containment_pairs",
    oracle=f"""
    WITH {_D_SHINGLES},
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(COUNT(*) AS BIGINT) AS i
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_id_a AS contained_id, i.doc_id_b AS container_id,
           ca.n AS n_shingles_contained, i.i AS n_common,
           round(CAST(i.i AS DOUBLE) / CAST(ca.n AS DOUBLE), 6)
             AS containment
    FROM inter i
    JOIN cnt ca ON i.doc_id_a = ca.doc_id
    JOIN cnt cb ON i.doc_id_b = cb.doc_id
    WHERE ca.n <= cb.n AND 5 * i.i >= 4 * ca.n
      AND NOT (ca.n = cb.n AND i.doc_id_a > i.doc_id_b)
    """,
)
def q277_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    docs = load_table(spark, "documents", sf_dir)
    base = owned_persist(DD.shingle_table(docs, n=3))
    rare = (
        base.groupBy("s")
        .agg(F.count_distinct("doc_id").alias("__df"))
        .filter(F.col("__df") <= 50)
        .select("s")
    )
    shf = owned_persist(base.join(rare, "s", "left_semi"))
    cnt = shf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    a = shf.select(F.col("doc_id").alias("doc_id_a"), "s")
    b = shf.select(F.col("doc_id").alias("doc_id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_id_a") != F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__i"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_id_a"), F.col("__n").alias("__na"))
    cb = cnt.select(F.col("doc_id").alias("doc_id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(F.broadcast(ca), "doc_id_a")
        .join(F.broadcast(cb), "doc_id_b")
        .filter(
            (F.col("__na") <= F.col("__nb"))
            & (5 * F.col("__i") >= 4 * F.col("__na"))
            & ~(
                (F.col("__na") == F.col("__nb"))
                & (F.col("doc_id_a") > F.col("doc_id_b"))
            )
        )
        .select(
            F.col("doc_id_a").alias("contained_id"),
            F.col("doc_id_b").alias("container_id"),
            F.col("__na").alias("n_shingles_contained"),
            F.col("__i").alias("n_common"),
            F.round(
                F.col("__i").cast("double") / F.col("__na").cast("double"), 6
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# q278 weighted Jaccard between source unigram profiles — the
# frequency-aware overlap measure completing the source-similarity
# family (q161 KL, q237 JSD, q129 shingle overlap):
#   WJ(s,t) = Σ_w min(c_sw, c_tw) / Σ_w max(c_sw, c_tw)
# exactly, as integer sums. The union-side Σmax is computed WITHOUT
# materializing the full |sources|²×vocab grid: Σmax = N_s + N_t −
# Σmin, so only the intersection terms ever join.
# ---------------------------------------------------------------------------
def _q278_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    wj = _drr(
        "i.smin", "ns.n + nt.n - i.smin", 6
    )
    return f"""
    WITH toks AS (
      SELECT source, lower(t) AS term
      FROM (SELECT source, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    c AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n
          FROM toks GROUP BY 1, 2),
    ns AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n FROM c GROUP BY 1),
    i AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(LEAST(a.n, b.n)) AS BIGINT) AS smin
      FROM c a JOIN c b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.smin AS sum_min,
           ns.n + nt.n - i.smin AS sum_max,
           {wj} AS weighted_jaccard
    FROM i
    JOIN ns ON i.source_a = ns.source
    JOIN ns nt ON i.source_b = nt.source
    """


@query("q278_source_weighted_jaccard", oracle=_q278_oracle())
def q278_source_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source",
        F.explode(F.transform(TX.tokens("text"), lambda t: F.lower(t))).alias(
            "term"
        ),
    )
    c = owned_persist(
        toks.groupBy("source", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("__n")
        )
    )
    ns = c.groupBy("source").agg(F.sum("__n").cast("bigint").alias("__tot"))
    a = c.select(F.col("source").alias("source_a"), "term", F.col("__n").alias("__na"))
    b = c.select(F.col("source").alias("source_b"), "term", F.col("__n").alias("__nb"))
    i = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.least("__na", "__nb")).cast("bigint").alias("__smin"))
    )
    nsa = ns.select(F.col("source").alias("source_a"), F.col("__tot").alias("__ta"))
    nsb = ns.select(F.col("source").alias("source_b"), F.col("__tot").alias("__tb"))
    return (
        i.join(F.broadcast(nsa), "source_a")
        .join(F.broadcast(nsb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("__smin").alias("sum_min"),
            (F.col("__ta") + F.col("__tb") - F.col("__smin")).alias("sum_max"),
            decimal_ratio_round(
                F.col("__smin"),
                F.col("__ta") + F.col("__tb") - F.col("__smin"),
                6,
            ).alias("weighted_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q280 Cohen's kappa between the LM gate and the ensemble gate — the
# chance-corrected summary of q172's raw 2×2 disagreement matrix: two
# filters can "agree 88%" purely because both keep most docs; kappa =
# (p_o − p_e)/(1 − p_e) subtracts that. Exact integer arithmetic via
# cross-multiplied cell counts:
#   kappa = (n·Σd − Σ_c r_c·c_c) / (n² − Σ_c r_c·c_c)
# (Σd = diagonal, r/c = marginals), one decimal_ratio_round at the
# end. Composes the verified q156/q169 oracles.
# ---------------------------------------------------------------------------
def _q280_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    kappa = _drr(
        "CAST(n AS HUGEINT) * diag - pe_num",
        "CAST(n AS HUGEINT) * n - pe_num", 6,
    )
    return f"""
    WITH lm AS ({_q156_oracle()}),
    ens AS ({_q169_oracle()}),
    cells AS (
      SELECT CAST(lm.keep AS BIGINT) AS a, CAST(ens.keep AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lm JOIN ens ON lm.doc_id = ens.doc_id
      GROUP BY 1, 2
    ),
    m AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS diag,
             CAST(SUM(CASE WHEN a = 1 THEN n ELSE 0 END) AS HUGEINT)
               * CAST(SUM(CASE WHEN b = 1 THEN n ELSE 0 END) AS HUGEINT)
             + CAST(SUM(CASE WHEN a = 0 THEN n ELSE 0 END) AS HUGEINT)
               * CAST(SUM(CASE WHEN b = 0 THEN n ELSE 0 END) AS HUGEINT)
               AS pe_num
      FROM cells
    )
    SELECT n, diag AS n_agree, {kappa} AS kappa
    FROM m
    """


@query("q280_filter_kappa", oracle=_q280_oracle())
def q280_filter_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    cells = q172_filter_disagreement(spark, sf_dir).select(
        F.col("lm_keep").cast("bigint").alias("__a"),
        F.col("ensemble_keep").cast("bigint").alias("__b"),
        F.col("n_docs").alias("__n"),
    )
    D = "decimal(38,0)"
    m = cells.agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n")).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
        (
            F.sum(F.when(F.col("__a") == 1, F.col("__n")).otherwise(0)).cast(D)
            * F.sum(F.when(F.col("__b") == 1, F.col("__n")).otherwise(0)).cast(D)
            + F.sum(F.when(F.col("__a") == 0, F.col("__n")).otherwise(0)).cast(D)
            * F.sum(F.when(F.col("__b") == 0, F.col("__n")).otherwise(0)).cast(D)
        )
        .cast(D)
        .alias("__pe"),
    )
    return m.select(
        "n",
        "n_agree",
        decimal_ratio_round(
            F.col("n").cast(D) * F.col("n_agree") - F.col("__pe"),
            F.col("n").cast(D) * F.col("n") - F.col("__pe"),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# q281 expected calibration error — the one-number summary of q171's
# reliability diagram: ECE = Σ_b (n_b/n)·|mean_p_b − pos_rate_b|. The
# per-bucket terms reuse q171's already-pinned 6-dp values, weighted
# as exact DECIMAL products and finished through the integer
# round-half-away path. ECE < ~0.05 = usable probabilities; bigger
# means recalibrate (q140-style quantile mapping) before thresholding.
# ---------------------------------------------------------------------------
def _q281_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        exact_mean_round_sql as _emr,
    )

    ece = _emr(
        "SUM(CAST(n_docs AS DECIMAL(28,6))"
        " * CAST(abs(round(mean_p - pos_rate, 6)) AS DECIMAL(10,6)))",
        "SUM(n_docs)", 6, sum_scale=6,
    )
    return f"""
    WITH rel AS ({_q171_oracle()})
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           {ece} AS ece
    FROM rel
    """


@query("q281_calibration_ece", oracle=_q281_oracle())
def q281_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import exact_mean_round

    rel = q171_classifier_calibration(spark, sf_dir)
    return rel.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        exact_mean_round(
            F.sum(
                F.col("n_docs").cast("decimal(28,6)")
                * F.abs(
                    F.round(F.col("mean_p") - F.col("pos_rate"), 6)
                ).cast("decimal(10,6)")
            ),
            F.sum("n_docs").cast("bigint"),
            6,
            sum_scale=6,
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# q285 shingle-skew profile — the quantified WHY behind q44's
# max_shingle_df=50 cap: the shingle-equality self-join does
# Σ df·(df−1)/2 pair comparisons, so one boilerplate shingle with
# df = 10⁵ costs 5·10⁹ pairs on its own. This audit reports the df
# distribution (p50/p99/max from the df histogram — distinct-df-sized,
# never corpus-sized) and the exact share of total pair work carried
# by shingles ABOVE the cap: the fraction of join cost the cap deletes
# (at the price of missing pairs only inside mega-common shingles).
# ---------------------------------------------------------------------------
_Q285_CAP = 50


def _q285_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    share = _drr("SUM(CASE WHEN df > {cap} THEN pw ELSE 0 END)",
                 "SUM(pw)", 6).format(cap=_Q285_CAP)
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
        FROM (SELECT doc_id, {_D_TOKENS} AS ts FROM documents),
             UNNEST(range(1, len(ts) - 1)) AS u(i)
      )
    ),
    dfs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
    h AS (
      SELECT df, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(df AS HUGEINT) * (df - 1) / 2 * COUNT(*) AS pw
      FROM dfs GROUP BY df
    ),
    c AS (
      SELECT df, cnt, CAST(SUM(cnt) OVER (ORDER BY df) AS BIGINT) AS crun
      FROM h
    ),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
    p50 AS (SELECT MIN(df) AS v FROM c, n
            WHERE crun >= CAST(CEIL(0.5 * n.n) AS BIGINT)),
    p99 AS (SELECT MIN(df) AS v FROM c, n
            WHERE crun >= CAST(CEIL(0.99 * n.n) AS BIGINT))
    SELECT n.n AS n_shingles,
           CAST(p50.v AS BIGINT) AS df_p50,
           CAST(p99.v AS BIGINT) AS df_p99,
           (SELECT CAST(MAX(df) AS BIGINT) FROM dfs) AS df_max,
           (SELECT CAST(SUM(pw) AS BIGINT) FROM h) AS pairwork_total,
           (SELECT {share} FROM h) AS pairwork_share_above_cap
    FROM n, p50, p99
    """


@query("q285_shingle_skew_profile", oracle=_q285_oracle())
def q285_shingle_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_cumsum_multi,
    )

    docs = load_table(spark, "documents", sf_dir)
    sh = DD.shingle_table(docs, n=3).distinct()
    dfs = sh.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("__df"))
    D = "decimal(38,0)"
    h = owned_persist(
        dfs.groupBy("__df").agg(
            F.count(F.lit(1)).cast("bigint").alias("__hc"),
        ).withColumn(
            "__pw",
            (
                F.col("__df").cast(D) * (F.col("__df") - 1) / 2 * F.col("__hc")
            ).cast(D),
        )
    )
    c = two_phase_numeric_cumsum_multi(h, "__df", "__df", ["__hc"], ["__crun"])
    n = h.agg(F.sum("__hc").cast("bigint").alias("__n"))
    cn = c.crossJoin(F.broadcast(n))
    p50 = cn.filter(
        F.col("__crun") >= F.ceil(0.5 * F.col("__n")).cast("bigint")
    ).agg(F.min("__df").alias("df_p50"))
    p99 = cn.filter(
        F.col("__crun") >= F.ceil(0.99 * F.col("__n")).cast("bigint")
    ).agg(F.min("__df").alias("df_p99"))
    tails = h.agg(
        F.max("__df").cast("bigint").alias("df_max"),
        F.sum("__pw").cast("bigint").alias("pairwork_total"),
        decimal_ratio_round(
            F.sum(
                F.when(F.col("__df") > _Q285_CAP, F.col("__pw")).otherwise(
                    F.lit(0).cast(D)
                )
            ).cast(D),
            F.sum("__pw").cast(D),
            6,
        ).alias("pairwork_share_above_cap"),
    )
    return (
        n.select(F.col("__n").alias("n_shingles"))
        .crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .crossJoin(F.broadcast(tails))
    )


# ---------------------------------------------------------------------------
# q288 chunk-boundary stability under edits — the measured argument
# for content-defined chunking: deterministically perturb every doc
# (drop its first word) and count how many of its ORIGINAL chunk
# hashes survive. CDC boundaries re-synchronize right after the edit
# (survival ≈ 1 − O(1/#chunks)); fixed token windows all shift by one
# word and survival collapses toward 0 — this is the dedup-store /
# incremental-ingest justification for q86 over q42, as a number. Both
# chunkers run on both variants through the SAME parameterized SQL/
# plan (distinct chunk-hash sets per doc, set intersection by join).
# ---------------------------------------------------------------------------
def _q288_cdc_chunkset(src: str) -> str:
    """DISTINCT (doc_id, chunk md5) CTE body for the CDC chunker over
    ``src`` (a CTE with doc_id, text) — q86's verified SQL, source-
    parameterized."""
    return f"""
      SELECT DISTINCT doc_id, m FROM (
        SELECT doc_id,
               md5(substr(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
                          CAST(bounds[CAST(j AS INT) + 1]
                               - bounds[CAST(j AS INT)] AS INT))) AS m
        FROM (
          SELECT doc_id, text, bounds, UNNEST(range(1, len(bounds))) AS j
          FROM (
            SELECT doc_id, text, ([0] || cuts || [n]) AS bounds FROM (
              SELECT doc_id, text, n,
                     list_filter(
                       list_transform(hs, (x, i) ->
                         CASE WHEN x % {_CDC_D} = 0
                              THEN i + {_CDC_K} - 1 END),
                       v -> v IS NOT NULL AND v < n) AS cuts
              FROM (
                SELECT doc_id, text, length(text) AS n,
                       list_transform(
                         range(1, greatest(length(text) - {_CDC_K} + 1, 1) + 1),
                         i -> CAST('0x' || substr(md5(substr(text,
                                CAST(i AS INT), {_CDC_K})), 1, 8) AS BIGINT)
                       ) AS hs
                FROM {src})))))
    """


def _q288_fixed_chunkset(src: str) -> str:
    toks = r"string_split_regex(trim(text), '\s+')"
    return f"""
      SELECT DISTINCT doc_id,
             md5(array_to_string(
               ts[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {_CHUNK}], ' ')) AS m
      FROM (
        SELECT doc_id, ts,
               UNNEST(range(0, greatest((len(ts) - {_CHUNK} + {_STRIDE - 1})
                                        // {_STRIDE}, 0) + 1)) AS ci
        FROM (SELECT doc_id, {toks} AS ts FROM {src}))
    """


def _q288_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )

    share = _drr("SUM(n_kept)", "SUM(n_orig)", 6)
    return rf"""
    WITH orig AS (SELECT doc_id, text FROM documents),
    pert AS (
      SELECT doc_id, regexp_replace(text, '^\S+\s*', '') AS text
      FROM documents
    ),
    cdo AS MATERIALIZED ({_q288_cdc_chunkset("orig")}),
    cdp AS MATERIALIZED ({_q288_cdc_chunkset("pert")}),
    fxo AS MATERIALIZED ({_q288_fixed_chunkset("orig")}),
    fxp AS MATERIALIZED ({_q288_fixed_chunkset("pert")}),
    per_doc AS (
      SELECT 'cdc' AS method, o.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_orig,
             CAST(COUNT(p.m) AS BIGINT) AS n_kept
      FROM cdo o LEFT JOIN cdp p ON o.doc_id = p.doc_id AND o.m = p.m
      GROUP BY o.doc_id
      UNION ALL
      SELECT 'fixed', o.doc_id, CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(p.m) AS BIGINT)
      FROM fxo o LEFT JOIN fxp p ON o.doc_id = p.doc_id AND o.m = p.m
      GROUP BY o.doc_id
    )
    SELECT method, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_orig) AS BIGINT) AS n_chunks_orig,
           CAST(SUM(n_kept) AS BIGINT) AS n_chunks_preserved,
           {share} AS preserved_share
    FROM per_doc GROUP BY method
    """


@query("q288_chunking_stability", oracle=_q288_oracle())
def q288_chunking_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.corpus import (
        cdc_chunks,
        chunk_documents,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    pert = docs.select(
        "doc_id", F.regexp_replace("text", r"^\S+\s*", "").alias("text")
    )

    def cdc_set(d: DataFrame) -> DataFrame:
        return (
            cdc_chunks(d, k=_CDC_K, divisor=_CDC_D)
            .select("doc_id", F.col("chunk_md5").alias("__m"))
            .distinct()
        )

    def fixed_set(d: DataFrame) -> DataFrame:
        return (
            chunk_documents(d, chunk_tokens=_CHUNK, overlap=_OVERLAP)
            .select("doc_id", F.md5("chunk_text").alias("__m"))
            .distinct()
        )

    def survival(o: DataFrame, p: DataFrame, method: str) -> DataFrame:
        o = owned_persist(o)
        kept = (
            o.join(
                p.withColumnRenamed("__m", "__m2"),
                (o["doc_id"] == p["doc_id"]) & (F.col("__m") == F.col("__m2")),
                "left",
            )
            .select(o["doc_id"].alias("__did"), F.col("__m2"))
            .groupBy("__did")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("__n_orig"),
                F.count("__m2").cast("bigint").alias("__n_kept"),
            )
        )
        return kept.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__n_orig").cast("bigint").alias("n_chunks_orig"),
            F.sum("__n_kept").cast("bigint").alias("n_chunks_preserved"),
            decimal_ratio_round(
                F.sum("__n_kept").cast("bigint"),
                F.sum("__n_orig").cast("bigint"),
                6,
            ).alias("preserved_share"),
        ).select(F.lit(method).alias("method"), "*")

    return survival(cdc_set(docs), cdc_set(pert), "cdc").unionByName(
        survival(fixed_set(docs), fixed_set(pert), "fixed")
    )


# ---------------------------------------------------------------------------
# q292 language-ID confusion matrix — the per-class eval q108's
# row-level `agrees` flag can't show: which languages get confused
# with which (the asymmetric failure modes that decide whether the
# min_margin gate is tight enough). Composes the verified q108 output
# into (label, predicted) cells with per-label recall as an exact
# integer ratio; unreliable predictions (gate failures) surface as
# their own `und` column rather than silently vanishing.
# ---------------------------------------------------------------------------
def _q292_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q108 = ORACLES["q108_language_id"]
    recall = _drr(
        "SUM(CASE WHEN pred_lang = label_lang THEN 1 ELSE 0 END)",
        "COUNT(*)", 6,
    )
    return f"""
    WITH lid AS ({q108})
    SELECT label_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           (SELECT {recall} FROM lid l2
            WHERE l2.label_lang = lid.label_lang) AS label_recall
    FROM lid
    GROUP BY label_lang, pred_lang
    """


@query("q292_langid_confusion", oracle=_q292_oracle())
def q292_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    lid = owned_persist(
        q108_language_id(spark, sf_dir).select("label_lang", "pred_lang")
    )
    rec = lid.groupBy("label_lang").agg(
        decimal_ratio_round(
            F.sum(
                F.when(F.col("pred_lang") == F.col("label_lang"), 1).otherwise(0)
            ).cast("bigint"),
            F.count(F.lit(1)).cast("bigint"),
            6,
        ).alias("label_recall")
    )
    return (
        lid.groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(F.broadcast(rec), "label_lang")
    )


# ---------------------------------------------------------------------------
# q296 cross-source duplication rate — the governance number behind
# q129's shingle overlap matrix, at DOC granularity: per source, how
# many of its documents have a near-duplicate in a DIFFERENT source
# (licensing/provenance risk: the "same doc arrived twice through two
# vendors" case). Reuses the verified q44 pair set; one semi-join per
# side; exact ratios.
# ---------------------------------------------------------------------------
def _q296_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
    )
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q44 = ORACLES["q44_ngram_jaccard_pairs"]
    rate = _drr("COUNT(DISTINCT x.doc_id)", "MAX(t.n_docs)", 6)
    return f"""
    WITH prs AS MATERIALIZED ({q44}),
    ds AS (SELECT doc_id, source FROM documents),
    xsrc AS (
      SELECT p.doc_id_a AS doc_id FROM prs p
      JOIN ds a ON p.doc_id_a = a.doc_id
      JOIN ds b ON p.doc_id_b = b.doc_id
      WHERE a.source <> b.source
      UNION
      SELECT p.doc_id_b FROM prs p
      JOIN ds a ON p.doc_id_a = a.doc_id
      JOIN ds b ON p.doc_id_b = b.doc_id
      WHERE a.source <> b.source
    ),
    tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM ds GROUP BY source)
    SELECT t.source, MAX(t.n_docs) AS n_docs,
           CAST(COUNT(DISTINCT x.doc_id) AS BIGINT) AS n_cross_dup,
           {rate} AS cross_dup_rate
    FROM tot t
    LEFT JOIN ds d ON d.source = t.source
    LEFT JOIN xsrc x ON x.doc_id = d.doc_id
    GROUP BY t.source
    """


@query("q296_cross_source_dup_rate", oracle=_q296_oracle())
def q296_cross_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    docs = load_table(spark, "documents", sf_dir)
    ds = owned_persist(docs.select("doc_id", "source"))
    prs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    j = (
        prs.join(
            ds.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("__sa")),
            "doc_id_a",
        )
        .join(
            ds.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("__sb")),
            "doc_id_b",
        )
        .filter(F.col("__sa") != F.col("__sb"))
    )
    xsrc = (
        j.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(j.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tot = ds.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    hits = (
        ds.join(xsrc, "doc_id", "left")
        .groupBy("source")
        .agg(F.count("__hit").cast("bigint").alias("n_cross_dup"))
    )
    return tot.join(hits, "source").select(
        "source",
        "n_docs",
        "n_cross_dup",
        decimal_ratio_round(F.col("n_cross_dup"), F.col("n_docs"), 6).alias(
            "cross_dup_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q300 corpus readiness report — the one-row dashboard a data lead
# reads before green-lighting a training run, every number an exact
# integer or pinned ratio from one documents scan + one distinct:
# corpus size, token mass, exact-duplicate rate (md5 fingerprints),
# majority-language share, empty/blank rate, and mean doc length. The
# detailed drill-downs live in their own queries (q142 funnel, q162
# savings, q239 hygiene, q292 langid); this is the cover page.
# ---------------------------------------------------------------------------
def _q300_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round_sql as _drr,
        exact_mean_round_sql as _emr,
    )

    dup = _drr("t.n_docs - u.n_unique", "t.n_docs", 6)
    en = _drr("t.n_en", "t.n_docs", 6)
    blank = _drr("t.n_blank", "t.n_docs", 6)
    mean_tok = _emr("t.n_tokens", "t.n_docs", 2, sum_scale=0)
    return f"""
    WITH t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_D_TOKENS})) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en,
             CAST(SUM(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blank
      FROM documents
    ),
    u AS (
      SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
      FROM documents
    )
    SELECT t.n_docs, t.n_tokens, u.n_unique,
           {dup} AS exact_dup_rate,
           {en} AS en_share,
           {blank} AS blank_rate,
           {mean_tok} AS mean_tokens_per_doc
    FROM t, u
    """


@query("q300_corpus_readiness", oracle=_q300_oracle())
def q300_corpus_readiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round,
        exact_mean_round,
    )

    docs = load_table(spark, "documents", sf_dir)
    t = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(TX.tokens("text"))).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("__n_en"),
        F.sum(F.when(F.trim("text") == "", 1).otherwise(0))
        .cast("bigint")
        .alias("__n_blank"),
    )
    u = docs.agg(
        F.count_distinct(F.md5("text")).cast("bigint").alias("n_unique")
    )
    return t.crossJoin(F.broadcast(u)).select(
        "n_docs",
        "n_tokens",
        "n_unique",
        decimal_ratio_round(
            F.col("n_docs") - F.col("n_unique"), F.col("n_docs"), 6
        ).alias("exact_dup_rate"),
        decimal_ratio_round(F.col("__n_en"), F.col("n_docs"), 6).alias(
            "en_share"
        ),
        decimal_ratio_round(F.col("__n_blank"), F.col("n_docs"), 6).alias(
            "blank_rate"
        ),
        exact_mean_round(
            F.col("n_tokens"), F.col("n_docs"), 2, sum_scale=0
        ).alias("mean_tokens_per_doc"),
    )


# ---------------------------------------------------------------------------
# q303 reciprocal rank fusion: the hybrid-retrieval combiner (Cormack
# et al. SIGIR'09) over two verified retrievers — q122's BM25 ranking
# and the boolean-coverage ranking — with scores summed as shared
# integer-micro literals (the q301 DCG recipe: rank positions are
# k-bounded, so 1/(60+r) literals delete float parity risk). Both
# input rankings are Q·k-bounded, so fusion is tiny at any corpus
# size; the oracle replays BM25 in full plus the integer coverage
# rank and the same gain VALUES.
# ---------------------------------------------------------------------------
_RRF_K, _RRF_TOPK, _RRF_MAXRANK = 60, 5, 10


def _coverage_sql(qvals: str, top_k: int) -> str:
    """Boolean-coverage retriever in SQL: rank by (distinct matched
    terms DESC, matched tf DESC, doc_id ASC) — integer-only."""
    return f"""
    SELECT query_id, doc_id, rn FROM (
      SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY n_matched DESC, tf_matched DESC, doc_id ASC) AS BIGINT) AS rn
      FROM (
        SELECT q.query_id, tf.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(SUM(tf.tf) AS BIGINT) AS tf_matched
        FROM (
          SELECT doc_id, lower(t) AS term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
          GROUP BY 1, 2
        ) tf JOIN (SELECT * FROM (VALUES {qvals}) AS t(query_id, term)) q
          USING (term)
        GROUP BY 1, 2
      )
    ) WHERE rn <= {top_k}
    """


def _q303_oracle() -> str:
    from airbnb_pyspark_jobs_spark.operators.corpus import rrf_gain_micros

    gains = rrf_gain_micros(_RRF_K, _RRF_MAXRANK)
    gvals = ", ".join(
        f"(CAST({r + 1} AS BIGINT), CAST({g} AS BIGINT))"
        for r, g in enumerate(gains)
    )
    qvals = _qterm_values(_BM25_QUERIES)
    return f"""
    WITH bm AS ({_q122_oracle(top_k=_RRF_MAXRANK)}),
    cov AS ({_coverage_sql(qvals, _RRF_MAXRANK)}),
    g(r, g6) AS (VALUES {gvals}),
    u AS (
      SELECT bm.query_id, bm.doc_id, g.g6 FROM bm JOIN g ON g.r = bm.rn
      UNION ALL
      SELECT cov.query_id, cov.doc_id, g.g6 FROM cov JOIN g ON g.r = cov.rn
    ),
    f AS (
      SELECT query_id, doc_id, CAST(SUM(g6) AS BIGINT) AS rrf_micro,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM u GROUP BY 1, 2
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY rrf_micro DESC, n_lists DESC, doc_id ASC) AS BIGINT) AS rn
      FROM f
    )
    SELECT query_id, doc_id, rrf_micro, n_lists, rn
    FROM r WHERE rn <= {_RRF_TOPK}
    """


@query("q303_rrf_fusion", oracle=_q303_oracle())
def q303_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import (
        bm25_topk,
        coverage_topk,
        rrf_fuse,
    )

    docs = load_table(spark, "documents", sf_dir)
    bm = bm25_topk(docs, _BM25_QUERIES, k1=1.2, b=0.75, top_k=_RRF_MAXRANK)
    cov = coverage_topk(docs, _BM25_QUERIES, top_k=_RRF_MAXRANK)
    return rrf_fuse(
        [bm.select("query_id", "doc_id", "rn"), cov.select("query_id", "doc_id", "rn")],
        rrf_k=_RRF_K,
        top_k=_RRF_TOPK,
        max_rank=_RRF_MAXRANK,
    )


# ---------------------------------------------------------------------------
# q304 lexical-diversity profile per source: type-token ratio, hapax
# share and mean word length — the corpus-health signals a mixing
# pipeline reads before weighting sources. One (source, term) shuffle
# (the vocabulary shape), exact BIGINT counts, every ratio one exact
# integer quotient.
# ---------------------------------------------------------------------------
def _q304_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round_sql

    ttr = decimal_ratio_round_sql("n_types", "n_tokens", 6)
    hap = decimal_ratio_round_sql("n_hapax", "n_types", 6)
    mwl = decimal_ratio_round_sql("chars", "n_tokens", 6)
    return f"""
    WITH tc AS (
      SELECT source, lower(t) AS term
      FROM (SELECT source, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    cnt AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tc GROUP BY 1, 2),
    a AS (
      SELECT source,
             CAST(SUM(tf) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             CAST(SUM(CAST(length(term) AS BIGINT) * tf) AS BIGINT) AS chars
      FROM cnt GROUP BY 1
    )
    SELECT source, n_tokens, n_types, n_hapax,
           {ttr} AS ttr, {hap} AS hapax_share, {mwl} AS mean_word_len
    FROM a
    """


@query("q304_lexical_diversity", oracle=_q304_oracle())
def q304_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import lexical_diversity

    docs = load_table(spark, "documents", sf_dir)
    return lexical_diversity(docs, group_col="source")


# ---------------------------------------------------------------------------
# q306 confident-learning label-noise suspects (Northcutt et al. 2021)
# over the q147 in-engine classifier's scores: per class the
# self-confidence threshold is the mean predicted probability among
# examples LABELED that class; an example whose opposite-class
# confidence reaches the opposite threshold is a noise suspect — the
# curation step before re-labeling or dropping. All-integer micro
# arithmetic (thresholds are round-half-away BIGINT quotients), so the
# flag set is bit-identical cross-engine; the oracle replays the full
# q147 GD training plus the same threshold math.
# ---------------------------------------------------------------------------
def _q306_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q147 = ORACLES["q147_quality_classifier_gd"]
    return f"""
    WITH s AS ({q147}),
    m AS (
      SELECT doc_id, CAST(y AS BIGINT) AS y_label, p,
             CAST(round(p * 1000000) AS BIGINT) AS pm
      FROM s
    ),
    th AS (
      SELECT
        CASE WHEN COUNT(CASE WHEN y_label = 1 THEN 1 END) > 0 THEN
          (2 * SUM(CASE WHEN y_label = 1 THEN pm END)
             + COUNT(CASE WHEN y_label = 1 THEN 1 END))
          // (2 * COUNT(CASE WHEN y_label = 1 THEN 1 END)) END AS t1,
        CASE WHEN COUNT(CASE WHEN y_label = 0 THEN 1 END) > 0 THEN
          (2 * SUM(CASE WHEN y_label = 0 THEN 1000000 - pm END)
             + COUNT(CASE WHEN y_label = 0 THEN 1 END))
          // (2 * COUNT(CASE WHEN y_label = 0 THEN 1 END)) END AS t0
      FROM m
    )
    SELECT doc_id, y_label, p,
           CAST(CASE WHEN y_label = 0 AND pm >= t1 THEN 1
                     WHEN y_label = 1 AND (1000000 - pm) >= t0 THEN 0
                END AS BIGINT) AS suspected_label,
           CAST(CASE WHEN y_label = 0 AND pm >= t1 THEN pm - t1
                     WHEN y_label = 1 AND (1000000 - pm) >= t0
                       THEN (1000000 - pm) - t0
                END AS BIGINT) AS margin_micro
    FROM m, th
    WHERE (y_label = 0 AND pm >= t1)
       OR (y_label = 1 AND (1000000 - pm) >= t0)
    """


@query("q306_label_noise_suspects", oracle=_q306_oracle())
def q306_label_noise_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.classifier import (
        confident_label_suspects,
        score_fast_sigmoid,
        train_gd_fast_sigmoid,
    )

    feats = _q147_features(load_table(spark, "documents", sf_dir))
    w = train_gd_fast_sigmoid(
        feats, _Q147_FEATS, "y", iters=_Q147_ITERS, lr=_Q147_LR
    )
    scored = score_fast_sigmoid(feats, _Q147_FEATS, w).select("doc_id", "y", "p")
    return confident_label_suspects(scored)


# ---------------------------------------------------------------------------
# q307 retrieval hard negatives (DPR-style BM25 negatives): the top-k
# BM25 docs per query that are NOT boolean-AND relevant — lexically
# confusable non-answers, the standard negatives for training dense
# retrievers. Composes the verified q122 ranking and the q301
# relevance rule; the anti-join runs on the Q·k-bounded ranked frame.
# ---------------------------------------------------------------------------
def _q307_oracle() -> str:
    bm25 = _q122_oracle(_Q301_QUERIES)
    return f"""
    WITH ranked AS ({bm25}),
    qterm AS (SELECT DISTINCT query_id, term
              FROM (SELECT * FROM (VALUES {_q301_qvals()}) AS t(query_id, term))),
    qn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nq FROM qterm GROUP BY 1),
    dterm AS (
      SELECT DISTINCT doc_id, lower(t) AS term
      FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
    ),
    rel AS (
      SELECT m.query_id, m.doc_id
      FROM (
        SELECT qt.query_id, dt.doc_id, CAST(COUNT(*) AS BIGINT) AS nmatch
        FROM qterm qt JOIN dterm dt USING (term)
        GROUP BY 1, 2
      ) m JOIN qn USING (query_id)
      WHERE m.nmatch = qn.nq
    )
    SELECT r.query_id, r.doc_id, r.score, r.rn
    FROM ranked r
    WHERE NOT EXISTS (SELECT 1 FROM rel
                      WHERE rel.query_id = r.query_id
                        AND rel.doc_id = r.doc_id)
    """


@query("q307_retrieval_hard_negatives", oracle=_q307_oracle())
def q307_retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import retrieval_hard_negatives

    docs = load_table(spark, "documents", sf_dir)
    return retrieval_hard_negatives(docs, _Q301_QUERIES, k=_BM25_TOPK)


# ---------------------------------------------------------------------------
# q308 Heaps'-law vocabulary growth per source: OLS of ln(cumulative
# vocab) on ln(cumulative tokens) scanning docs in id order — the
# growth exponent β (natural text ≈ 0.4-0.6; β→1 smells ID soup, β→0 a
# closed template vocabulary). q181's determinism recipe (3-dp-rounded
# ln → integer milli-units → exact-BIGINT OLS); the Spark cumulatives
# come from the GROUPED two-phase range-bucketed cumsum — no
# source-sized window partition (the oracle may window: it runs at
# verification SFs only).
# ---------------------------------------------------------------------------
_Q308_ORACLE = f"""
WITH tr AS (
  SELECT source, doc_id, lower(t) AS term
  FROM (SELECT source, doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
),
pd AS (SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
       FROM tr GROUP BY 1, 2),
fo AS (
  SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS nnew
  FROM (SELECT source, term, MIN(doc_id) AS doc_id FROM tr GROUP BY 1, 2)
  GROUP BY 1, 2
),
fr AS (
  SELECT p.source, p.doc_id, p.ntok, COALESCE(f.nnew, 0) AS nnew
  FROM pd p LEFT JOIN fo f ON f.source = p.source AND f.doc_id = p.doc_id
),
cum AS (
  SELECT source,
         CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cn,
         CAST(SUM(nnew) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cv
  FROM fr
),
xy AS (
  SELECT source,
    CAST(round(round(ln(CAST(cn AS DOUBLE)), 3) * 1000) AS BIGINT) AS x,
    CAST(round(round(ln(CAST(cv AS DOUBLE)), 3) * 1000) AS BIGINT) AS y
  FROM cum
),
m AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy GROUP BY source
)
SELECT source, n AS n_docs,
  CASE WHEN n * sxx - sx * sx > 0 THEN
    round(CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE), 6) END
    + CAST(0 AS DOUBLE) AS heaps_beta,
  CASE WHEN n * sxx - sx * sx > 0 THEN
    round((CAST(sy AS DOUBLE)
           - (CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
          / CAST(n AS DOUBLE), 6) END
    + CAST(0 AS DOUBLE) AS heaps_intercept_milli,
  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
    round((CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE))
          * (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * syy - sy * sy AS DOUBLE)), 6)
  END + CAST(0 AS DOUBLE) AS r2
FROM m
"""


@query("q308_heaps_law_fit", oracle=_Q308_ORACLE)
def q308_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import heaps_law_fit

    docs = load_table(spark, "documents", sf_dir)
    return heaps_law_fit(docs, group_col="source")


# ---------------------------------------------------------------------------
# q311 unigram-LM tokenizer EM step (Kudo 2018 / SentencePiece — the
# other dominant subword tokenizer next to BPE q89-q91): substring-
# frequency seed vocab (+ all single chars), integer-micro seed
# log-probs (q181 ln recipe), Viterbi segmentation of every DISTINCT
# word as max_word_len unrolled relaxation rounds of
# max(struct(score, path)), then the M-step piece re-count. The oracle
# unrolls the identical DP as CTEs (the q83 k-means pattern) with
# ROW_NUMBER(score DESC, path DESC) as the same tie chain.
# ---------------------------------------------------------------------------
_U_LM_L, _U_LM_K, _U_LM_V, _U_LM_TOP = 6, 12, 200, 50


def _q311_oracle() -> str:
    L, K, V, TOP = _U_LM_L, _U_LM_K, _U_LM_V, _U_LM_TOP
    parts = [
        f"""
WITH wf AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT lower(t) AS word
        FROM (SELECT UNNEST({_D_TOKENS}) AS t FROM documents))
  WHERE length(word) > 0 AND length(word) <= {K} AND word NOT LIKE '%/%'
  GROUP BY word
),
js AS (SELECT word, freq, UNNEST(range(0, length(word))) AS j FROM wf),
subs AS MATERIALIZED (
  SELECT word, freq, j, CAST(j + l AS INT) AS i, substr(word, j + 1, l) AS piece
  FROM (SELECT word, freq, j,
               UNNEST(range(1, least({L}, length(word) - j) + 1)) AS l
        FROM js)
),
seed AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS seed_freq
         FROM subs GROUP BY piece),
multi AS (SELECT piece, seed_freq FROM seed WHERE length(piece) >= 2
          ORDER BY seed_freq DESC, piece ASC LIMIT {V}),
vocab AS (SELECT piece, seed_freq FROM seed WHERE length(piece) = 1
          UNION ALL SELECT piece, seed_freq FROM multi),
tot AS (SELECT CAST(SUM(seed_freq) AS BIGINT) AS t FROM vocab),
vprob AS MATERIALIZED (
  SELECT piece, seed_freq,
    CAST(round(round(ln(CAST(seed_freq AS DOUBLE)), 6) * 1000000) AS BIGINT)
    - (SELECT CAST(round(round(ln(CAST(t AS DOUBLE)), 6) * 1000000) AS BIGINT)
       FROM tot) AS lnp
  FROM vocab
),
ssubs AS MATERIALIZED (SELECT s.word, s.j, s.i, s.piece, v.lnp
          FROM subs s JOIN vprob v USING (piece)),
dp0 AS (SELECT word, CAST(0 AS INT) AS pos, CAST(0 AS BIGINT) AS score,
               '' AS path FROM wf)"""
    ]
    for t in range(1, K + 1):
        parts.append(f""",
dp{t} AS MATERIALIZED (
  SELECT word, pos, score, path FROM (
    SELECT word, pos, score, path,
           ROW_NUMBER() OVER (PARTITION BY word, pos
                              ORDER BY score DESC, path DESC) AS rn
    FROM (
      SELECT word, pos, score, path FROM dp{t - 1}
      UNION ALL
      SELECT d.word, s.i AS pos, d.score + s.lnp AS score,
             d.path || '/' || s.piece AS path
      FROM dp{t - 1} d JOIN ssubs s ON s.word = d.word AND s.j = d.pos
    )
  ) WHERE rn = 1
)""")
    parts.append(f""",
best AS (
  SELECT d.word, w.freq, d.path
  FROM dp{K} d JOIN wf w USING (word)
  WHERE d.pos = length(d.word)
),
pcs AS (SELECT freq, UNNEST(string_split(substr(path, 2), '/')) AS piece
        FROM best),
em AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS em_count
       FROM pcs GROUP BY piece)
SELECT em.piece, CAST(length(em.piece) AS BIGINT) AS piece_len,
       v.seed_freq, em.em_count
FROM em JOIN vprob v ON v.piece = em.piece
ORDER BY em_count DESC, em.piece ASC LIMIT {TOP}""")
    return "".join(parts)


@query("q311_unigram_tokenizer_em", oracle=_q311_oracle())
def q311_unigram_tokenizer_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.bpe import unigram_lm_em

    docs = load_table(spark, "documents", sf_dir)
    return unigram_lm_em(
        docs,
        vocab_size=_U_LM_V,
        max_piece_len=_U_LM_L,
        max_word_len=_U_LM_K,
        top_out=_U_LM_TOP,
    )


# ---------------------------------------------------------------------------
# q312 source retrievability bias: how often each source lands in the
# BM25 top-k across the query set — the retrieval-governance audit
# that catches one source dominating RAG results (mirror of q150's
# corpus share, measured at the RANKING). Composes the verified q122
# ranking; everything after is Q·k-bounded. Exact integer counts +
# one exact quotient per source.
# ---------------------------------------------------------------------------
def _q312_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round_sql

    share = decimal_ratio_round_sql("n_hits", "(SELECT t FROM tot)", 6)
    return f"""
    WITH ranked AS ({_q122_oracle(_Q301_QUERIES)}),
    j AS (SELECT r.query_id, d.source FROM ranked r
          JOIN documents d ON d.doc_id = r.doc_id),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries_hit
      FROM j GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_hits) AS BIGINT) AS t FROM agg)
    SELECT source, n_hits, n_queries_hit, {share} AS hit_share
    FROM agg
    """


@query("q312_source_retrievability", oracle=_q312_oracle())
def q312_source_retrievability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.corpus import bm25_topk

    docs = load_table(spark, "documents", sf_dir)
    ranked = bm25_topk(docs, _Q301_QUERIES, k1=1.2, b=0.75, top_k=_BM25_TOPK)
    j = ranked.join(docs.select("doc_id", "source"), "doc_id")
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries_hit"),
    )
    tot = agg.agg(F.sum("n_hits").cast("bigint").alias("__t"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_hits",
        "n_queries_hit",
        decimal_ratio_round(F.col("n_hits"), F.col("__t"), 6).alias("hit_share"),
    )


# ---------------------------------------------------------------------------
# q313 split-migration matrix: re-dealing the train/val/test hash
# split under a NEW seed — how many docs move between splits, as the
# (old split × new split) contingency with row shares. The stability
# audit run before rotating a split seed (a large diagonal = benign
# rotation for cached eval sets; q43 is the single-seed split).
# Scan-side double hashing, one tiny 9-cell aggregate.
# ---------------------------------------------------------------------------
_Q313_SEED_B = "r7"


def _q313_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round_sql

    def case(b: str) -> str:
        return (
            f"CASE WHEN {b} < 8000 THEN 'train' "
            f"WHEN {b} < 9000 THEN 'val' ELSE 'test' END"
        )

    share = decimal_ratio_round_sql(
        "n_docs", "SUM(n_docs) OVER (PARTITION BY split_old)", 6
    )
    return f"""
    WITH b AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          % 10000 AS b_old,
        CAST('0x' || substr(md5('{_Q313_SEED_B}' || CAST(doc_id AS VARCHAR)), 1, 8)
          AS BIGINT) % 10000 AS b_new
      FROM documents
    ),
    m AS (
      SELECT {case("b_old")} AS split_old, {case("b_new")} AS split_new,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM b GROUP BY 1, 2
    )
    SELECT split_old, split_new, n_docs, {share} AS row_share FROM m
    """


@query("q313_split_migration_matrix", oracle=_q313_oracle())
def q313_split_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    old = hash_split(docs, "doc_id", fr, split_col="split_old")
    both = hash_split(
        old, "doc_id", fr, seed=_Q313_SEED_B, split_col="split_new"
    )
    m = both.groupBy("split_old", "split_new").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("split_old")
    return m.select(
        "split_old",
        "split_new",
        "n_docs",
        decimal_ratio_round(
            F.col("n_docs"), F.sum("n_docs").over(w).cast("bigint"), 6
        ).alias("row_share"),
    )


# ---------------------------------------------------------------------------
# q314 importance-weight effective sample size per source: ESS =
# (Σw)²/Σw² over the DSIR weights w = exp(avg_logratio) — the
# diagnostic read BEFORE importance resampling (a low ESS/n says the
# reweighted source contributes far fewer effective examples than its
# row count). Weights convert to integer MICRO-units (round(exp·,6) —
# the one libm exp, absorbed by the rounding as with ln everywhere
# else), so Σw and Σw² are exact DECIMAL(38,0) sums and both reported
# ratios are exact integer quotients. Composes the verified q116
# scores; per-source work is one aggregate.
# ---------------------------------------------------------------------------
def _q314_oracle() -> str:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round_sql
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q116 = ORACLES["q116_dsir_importance"]
    ess = decimal_ratio_round_sql("sw * sw", "sww", 4)
    ratio = decimal_ratio_round_sql("sw * sw", "sww * n_docs", 6)
    return f"""
    WITH sc AS ({q116}),
    w AS (
      SELECT d.source,
             CAST(round(exp(sc.avg_logratio) * 1000000) AS BIGINT) AS wm
      FROM sc JOIN documents d ON d.doc_id = sc.doc_id
    ),
    a AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(wm AS HUGEINT)) AS HUGEINT) AS sw,
             CAST(SUM(CAST(wm AS HUGEINT) * CAST(wm AS HUGEINT)) AS HUGEINT) AS sww
      FROM w GROUP BY source
    )
    SELECT source, n_docs, {ess} AS ess, {ratio} AS ess_ratio FROM a
    """


@query("q314_importance_weight_ess", oracle=_q314_oracle())
def q314_importance_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.corpus import dsir_importance_weights

    docs = load_table(spark, "documents", sf_dir)
    sc = dsir_importance_weights(
        docs, is_target=F.col("source") == _DSIR_TARGET_SRC, buckets=_DSIR_BUCKETS
    )
    d38 = "decimal(38,0)"
    w = sc.join(docs.select("doc_id", "source"), "doc_id").select(
        "source",
        F.round(F.exp("avg_logratio") * 1e6).cast("bigint").alias("__wm"),
    )
    wm = F.col("__wm").cast(d38)
    a = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(wm).cast(d38).alias("__sw"),
        F.sum((wm * wm).cast(d38)).cast(d38).alias("__sww"),
    )
    return a.select(
        "source",
        "n_docs",
        decimal_ratio_round(
            (F.col("__sw") * F.col("__sw")).cast(d38), F.col("__sww"), 4
        ).alias("ess"),
        decimal_ratio_round(
            (F.col("__sw") * F.col("__sw")).cast(d38),
            (F.col("__sww") * F.col("n_docs").cast(d38)).cast(d38),
            6,
        ).alias("ess_ratio"),
    )


# ---------------------------------------------------------------------------
# q320 template mining — boilerplate-cluster report: connected
# components over the q155 MOSS-style fragment-overlap pairs (docs
# sharing >= 8 rare winnowing fingerprints), restricted to docs that
# appear in some pair; per cluster, member/edge counts and the shared-
# fingerprint mass. This is the step that turns pairwise plagiarism
# evidence into TEMPLATES (a mirror site, a boilerplate header farm)
# you can delist as a unit instead of pair-by-pair. Pointer-jumping
# components (the q58 operator); oracle = recursive closure over the
# q155 pipeline (the q166 pattern).
# ---------------------------------------------------------------------------


def _q320_oracle() -> str:
    return f"""
WITH RECURSIVE p AS ({_q155_oracle()}),
nodes AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id_a AS doc_id FROM p UNION ALL SELECT doc_id_b FROM p
  )
),
edges AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM p
  UNION SELECT doc_id_b, doc_id_a FROM p
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
nsz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM comp GROUP BY cluster_id),
ez AS (
  SELECT c.cluster_id,
         CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(p.n_shared) AS BIGINT) AS total_shared,
         CAST(MAX(p.n_shared) AS BIGINT) AS max_shared
  FROM p JOIN comp c ON p.doc_id_a = c.doc_id
  GROUP BY c.cluster_id
)
SELECT nsz.cluster_id, nsz.n_docs, ez.n_edges, ez.total_shared, ez.max_shared
FROM nsz JOIN ez USING (cluster_id)
"""


@query("q320_template_clusters", oracle=_q320_oracle())
def q320_template_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.dedupe import dedup_components

    pairs = owned_persist(q155_winnow_fragment_pairs(spark, sf_dir))
    nodes = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    comp = dedup_components(nodes, pairs.select("doc_id_a", "doc_id_b"))
    nsz = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    ez = (
        pairs.join(comp, pairs.doc_id_a == comp.doc_id)
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum("n_shared").cast("bigint").alias("total_shared"),
            F.max("n_shared").cast("bigint").alias("max_shared"),
        )
    )
    return nsz.join(ez, "component_id").select(
        F.col("component_id").alias("cluster_id"),
        "n_docs",
        "n_edges",
        "total_shared",
        "max_shared",
    )


# ---------------------------------------------------------------------------
# q321 Neyman allocation — variance-proportional eval-set design
# (classic survey sampling): allocate a fixed labeling/eval budget B
# across sources with n_s ∝ N_s·σ_s, so high-variance sources get
# proportionally more review — the statistically-optimal split for
# estimating a corpus mean (here: token count as the measured
# variable). Distinct from q165 (availability-clamped quotas from
# DoReMi weights): the weights HERE come from within-source variance.
# Exactness discipline: N_s·σ_s = sqrt(N_s·ΣX² − (ΣX)²) over exact
# DECIMAL(38,0) moment sums (the q308 overflow lesson); the sqrt is
# one correctly-rounded IEEE op, immediately rounded to integer
# micro-units, so the budget shares are exact integer quotients —
# no float sum ever crosses a group boundary. Quotas clamp to
# availability with the shortfall reported (q165's honest-cap shape).
# ---------------------------------------------------------------------------
_NEYMAN_BUDGET = 1000


def _q321_oracle() -> str:
    return f"""
WITH m AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(len({_D_TOKENS}) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(len({_D_TOKENS}) AS DECIMAL(38,0))
                  * CAST(len({_D_TOKENS}) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs,
         CAST(round(sqrt(CAST(n_docs * ss - s * s AS DOUBLE)) * 1e6) AS BIGINT)
           AS w_micro
  FROM m
),
t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w)
SELECT w.source, w.n_docs, w.w_micro,
       CAST(({_NEYMAN_BUDGET} * w.w_micro) // t.tw AS BIGINT) AS quota,
       CAST(LEAST(({_NEYMAN_BUDGET} * w.w_micro) // t.tw, w.n_docs) AS BIGINT)
         AS alloc,
       CAST(GREATEST(({_NEYMAN_BUDGET} * w.w_micro) // t.tw - w.n_docs, 0)
         AS BIGINT) AS shortfall
FROM w, t
"""


@query("q321_neyman_allocation", oracle=_q321_oracle())
def q321_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.text import token_count

    docs = load_table(spark, "documents", sf_dir)
    tc = F.col("__t").cast("decimal(38,0)")
    m = docs.select("source", token_count("text").alias("__t")).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(tc).cast("decimal(38,0)").alias("__s"),
        F.sum(tc * tc).cast("decimal(38,0)").alias("__ss"),
    )
    w = m.select(
        "source",
        "n_docs",
        F.round(
            F.sqrt(
                (F.col("n_docs") * F.col("__ss") - F.col("__s") * F.col("__s"))
                .cast("double")
            )
            * 1e6
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    tw = w.agg(F.sum("w_micro").cast("bigint").alias("__tw"))
    quota = F.expr(f"({_NEYMAN_BUDGET} * w_micro) div __tw")
    return w.crossJoin(F.broadcast(tw)).select(
        "source",
        "n_docs",
        "w_micro",
        quota.cast("bigint").alias("quota"),
        F.least(quota, F.col("n_docs")).cast("bigint").alias("alloc"),
        F.greatest(quota - F.col("n_docs"), F.lit(0)).cast("bigint").alias(
            "shortfall"
        ),
    )


# ---------------------------------------------------------------------------
# q325 packing A/B (VERDICT r8 #6): best-fit-decreasing vs the q36
# concat-and-split packer, both on the SAME id-bounded sample and the
# SAME chunk stream, reported through the q204 readout per variant
# (fill deciles, overall utilization, wasted vs overflowed token
# mass). BFD bins never overflow, so its waste is pure fragmentation;
# the greedy packer trades overflow (a pack owns its first token's
# chunk) for zero fragmentation everywhere but the stream tail.
#
# Oracle: BFD is inherently sequential, but it IS SQL-expressible as a
# WITH RECURSIVE whose working set advances every shard one item per
# iteration carrying (fills, bins) as LIST columns — ITERATIVE, not
# the unrolled-CTE chains the verify notes warn about (no 2^K plan
# blowup; depth = max items/shard, bounded by the sample). The
# per-step placement is exactly the operator's rule: fullest fitting
# bin via list_max(list_filter(...)), lowest-id tie via
# list_position's first match, new bin iff none fits. The sample
# bound keeps recursion depth ~O(100) at every SF (the q52/q316 audit
# convention); the production path is the sharded Arrow operator
# itself, whose parallel span is the shard, not the corpus.
# ---------------------------------------------------------------------------
_BFD_SAMPLE = 2000


def _q325_oracle() -> str:
    report = """
  SELECT variant, least((10 * pack_tokens) // {b}, 9) AS fill_decile,
         pack_tokens
  FROM {src}
""".strip()
    return f"""
WITH RECURSIVE
tok AS (SELECT doc_id, {_D_TOKENS} AS ts FROM documents
        WHERE doc_id < {_BFD_SAMPLE}),
k AS (
  SELECT doc_id, ts,
         UNNEST(range(0, greatest((len(ts) - {_CHUNK} + {_STRIDE - 1}) // {_STRIDE}, 0) + 1)) AS ci
  FROM tok
),
ch AS (
  SELECT doc_id, ci AS chunk_idx,
         len(ts[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {_CHUNK}]) AS n_chunk_tokens
  FROM k
),
sh AS (
  SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % {_PACK_SHARDS} AS shard
  FROM ch
),
greedy_c AS (
  SELECT shard, n_chunk_tokens,
         SUM(n_chunk_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_chunk_tokens AS cum_excl
  FROM sh
),
greedy AS (
  SELECT 'concat' AS variant,
         CAST(SUM(n_chunk_tokens) AS BIGINT) AS pack_tokens
  FROM greedy_c
  GROUP BY shard, FLOOR(CAST(cum_excl AS DOUBLE) / {_PACK_BUDGET}.0)
),
ord_i AS (
  SELECT shard, doc_id, n_chunk_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY n_chunk_tokens DESC, doc_id, chunk_idx) AS pos
  FROM sh
),
items AS (
  SELECT shard,
         list(CAST(n_chunk_tokens AS BIGINT) ORDER BY pos) AS toks,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM ord_i GROUP BY shard
),
bfd AS (
  SELECT shard, CAST(0 AS BIGINT) AS step,
         CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS bins
  FROM items
  UNION ALL
  SELECT shard, step + 1,
         CASE WHEN best IS NULL THEN list_append(fills, t)
              ELSE list_slice(fills, 1, list_position(fills, best) - 1)
                   || [best + t]
                   || list_slice(fills, list_position(fills, best) + 1, len(fills))
         END,
         list_append(bins, CAST(CASE WHEN best IS NULL THEN len(fills) + 1
                                     ELSE list_position(fills, best) END AS BIGINT))
  FROM (
    SELECT b.shard, b.step, b.fills, b.bins,
           i.toks[CAST(b.step + 1 AS INT)] AS t,
           list_max(list_filter(b.fills,
             f -> f <= {_PACK_BUDGET} - i.toks[CAST(b.step + 1 AS INT)])) AS best
    FROM bfd b JOIN items i USING (shard)
    WHERE b.step < i.n_items
  )
),
fin AS (
  SELECT b.shard, b.fills
  FROM bfd b JOIN items i USING (shard) WHERE b.step = i.n_items
),
bfd_packs AS (
  SELECT 'bfd' AS variant, CAST(UNNEST(fills) AS BIGINT) AS pack_tokens FROM fin
),
allp AS (
  {report.format(b=_PACK_BUDGET, src="greedy")}
  UNION ALL
  {report.format(b=_PACK_BUDGET, src="bfd_packs")}
),
tot AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS t_bins,
         CAST(SUM(pack_tokens) AS BIGINT) AS packed,
         CAST(SUM(greatest({_PACK_BUDGET} - pack_tokens, 0)) AS BIGINT) AS waste,
         CAST(SUM(greatest(pack_tokens - {_PACK_BUDGET}, 0)) AS BIGINT) AS ovf
  FROM allp GROUP BY variant
)
SELECT a.variant, CAST(a.fill_decile AS BIGINT) AS fill_decile,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(a.pack_tokens) AS BIGINT) AS bin_tokens,
       round(CAST(t.packed AS DOUBLE)
             / CAST(t.t_bins * {_PACK_BUDGET} AS DOUBLE), 6)
         AS overall_utilization,
       t.waste AS wasted_tokens,
       t.ovf AS overflow_tokens
FROM allp a JOIN tot t USING (variant)
GROUP BY a.variant, a.fill_decile, t.packed, t.t_bins, t.waste, t.ovf
"""


@query("q325_packing_ab", oracle=_q325_oracle())
def q325_packing_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import (
        chunk_documents,
        pack_sequences,
        pack_sequences_bfd,
    )

    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") < _BFD_SAMPLE
    )
    chunks = chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP)
    # one chunking, two packers (owned_persist: both variants consume it)
    from airbnb_pyspark_jobs_spark.caching import owned_persist

    chunks = owned_persist(
        chunks.select("doc_id", "chunk_idx", "n_chunk_tokens")
    )
    greedy = pack_sequences(
        chunks, budget=_PACK_BUDGET, shards=_PACK_SHARDS
    ).select(F.lit("concat").alias("variant"), "pack_tokens")
    bfd = pack_sequences_bfd(
        chunks, budget=_PACK_BUDGET, shards=_PACK_SHARDS
    ).select(F.lit("bfd").alias("variant"), "pack_tokens")
    allp = greedy.unionByName(bfd)
    d = allp.select(
        "variant",
        "pack_tokens",
        F.least(
            F.floor((10 * F.col("pack_tokens")) / _PACK_BUDGET), F.lit(9)
        )
        .cast("bigint")
        .alias("fill_decile"),
    )
    tot = d.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("__t_bins"),
        F.sum("pack_tokens").cast("bigint").alias("__packed"),
        F.sum(F.greatest(F.lit(_PACK_BUDGET) - F.col("pack_tokens"), F.lit(0)))
        .cast("bigint")
        .alias("wasted_tokens"),
        F.sum(F.greatest(F.col("pack_tokens") - F.lit(_PACK_BUDGET), F.lit(0)))
        .cast("bigint")
        .alias("overflow_tokens"),
    )
    return (
        d.groupBy("variant", "fill_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("pack_tokens").cast("bigint").alias("bin_tokens"),
        )
        .join(tot, "variant")
        .select(
            "variant",
            "fill_decile",
            "n_bins",
            "bin_tokens",
            F.round(
                F.col("__packed").cast("double")
                / (F.col("__t_bins") * _PACK_BUDGET).cast("double"),
                6,
            ).alias("overall_utilization"),
            "wasted_tokens",
            "overflow_tokens",
        )
    )


# ---------------------------------------------------------------------------
# q326 held-out LM evaluation: q96's unigram LM trained on the q43
# hash-split TRAIN docs only (Laplace add-one over the train vocab),
# scoring EVERY split — the eval-loss shape proper, where the
# train-vs-val mean-logprob gap reads out generalization and
# oov_tokens counts val/test tokens outside the train vocabulary.
# Oracle replays the split rule, the smoothed LM and the per-split
# exact-mean aggregate.
# ---------------------------------------------------------------------------
_Q326_ORACLE = rf"""
WITH sp AS (
  SELECT doc_id,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             % 10000 AS bucket
    FROM documents
  )
),
toks AS (
  SELECT doc_id, lower(t) AS term
  FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents)
),
ts AS (SELECT t.doc_id, t.term, sp.split FROM toks t JOIN sp USING (doc_id)),
tf AS (SELECT term, COUNT(*) AS c FROM ts WHERE split = 'train' GROUP BY term),
sc AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v FROM tf),
scored AS (
  SELECT ts.split, ts.doc_id,
         CAST(round(ln(CAST(COALESCE(tf.c, 0) + 1 AS DOUBLE)
                       / CAST(sc.n + sc.v + 1 AS DOUBLE)), 6)
              AS DECIMAL(28,6)) AS lp,
         CASE WHEN tf.c IS NULL THEN 1 ELSE 0 END AS oov
  FROM ts LEFT JOIN tf USING (term), sc
)
SELECT split,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS oov_tokens,
       {exact_mean_round_sql("SUM(lp)", "COUNT(*)", 4, sum_scale=6)}
         AS mean_logprob
FROM scored GROUP BY split
"""


@query("q326_heldout_unigram_eval", oracle=_Q326_ORACLE)
def q326_heldout_unigram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import heldout_unigram_eval

    return heldout_unigram_eval(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# q327 Good-Turing unseen mass per source over bigram types (Gale &
# Sampson's Simple GT first step): P(unseen) ≈ N1/N and the adjusted
# expected count of a hapax r* = 2·N2/N1 — "how much of this source's
# next crawl is genuinely new text?", the coverage-saturation signal a
# crawl scheduler reads (diminishing novelty → deprioritize). Bigrams,
# not unigrams: the synthetic vocabulary is closed (~31 terms, zero
# unigram hapax at any SF) while bigram types keep a live tail.
# Exact-integer counts + two decimal ratios per source.
# ---------------------------------------------------------------------------
_Q327_ORACLE = rf"""
WITH toks AS (
  SELECT source, {_D_TOKENS} AS ts FROM documents
),
bi AS (
  SELECT source, lower(ts[i]) || ' ' || lower(ts[i + 1]) AS bg
  FROM toks, UNNEST(range(1, len(ts))) AS t(i)
),
tf AS (SELECT source, bg, COUNT(*) AS c FROM bi GROUP BY source, bg),
agg AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(COUNT(*) AS BIGINT) AS v_bigrams,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM tf GROUP BY source
)
SELECT source, n_bigrams, v_bigrams, n1, n2,
       {decimal_ratio_round_sql("n1", "n_bigrams", 6)} AS p_unseen,
       CASE WHEN n1 > 0
            THEN {decimal_ratio_round_sql("2 * n2", "n1", 6)}
            ELSE NULL END AS r_star_singleton
FROM agg
"""


@query("q327_good_turing_novelty", oracle=_Q327_ORACLE)
def q327_good_turing_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.operators.corpus import good_turing_bigram_mass

    return good_turing_bigram_mass(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# q328 near-dup rediscovery decay by ingestion decile: as a crawl
# ingests docs in id order, what fraction of each decile near-dups
# something ALREADY ingested (a pair with a smaller id — q45's verified
# MinHash pair list, where doc_id_a < doc_id_b by construction)? A
# rising curve is the dedup-rate saturation every corpus hits at
# scale; its slope prices the marginal crawl byte. Deciles come from
# the exact global id rank — two-phase bucketed rank on the Spark
# side (no single-partition window), plain ROW_NUMBER in the oracle,
# decile = (rank−1)·10 div n (explicit integer formula on BOTH
# engines: NTILE's remainder placement differs from equi-width and is
# engine-trust we don't need).
# ---------------------------------------------------------------------------
def _q328_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q45 = ORACLES["q45_minhash_lsh_pairs"]
    return f"""
WITH pairs AS ({q45}),
dup AS (SELECT DISTINCT doc_id_b AS doc_id FROM pairs),
r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk,
         COUNT(*) OVER () AS n
  FROM documents
),
d AS (
  SELECT r.doc_id, (r.rnk - 1) * 10 // r.n AS decile,
         CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS redup
  FROM r LEFT JOIN dup USING (doc_id)
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(redup) AS BIGINT) AS n_redup,
       {decimal_ratio_round_sql("SUM(redup)", "COUNT(*)", 6)} AS redup_rate
FROM d GROUP BY decile
"""


@query("q328_redup_decay", oracle=_q328_oracle())
def q328_redup_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_rank,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.minhash_lsh_pairs(docs, num_hashes=_NH, bands=_BANDS, threshold=0.5)
    dup = pairs.select(F.col("doc_id_b").alias("doc_id")).distinct()
    ranked = two_phase_numeric_rank(
        docs.select("doc_id"), "doc_id", "doc_id", "__rnk"
    )
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    d = (
        ranked.crossJoin(F.broadcast(n))
        .join(dup.withColumn("__redup", F.lit(1)), "doc_id", "left")
        .select(
            F.expr("(__rnk - 1) * 10 div __n").cast("bigint").alias("decile"),
            F.coalesce("__redup", F.lit(0)).alias("__redup"),
        )
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__redup").cast("bigint").alias("n_redup"),
        decimal_ratio_round(F.sum("__redup"), F.count(F.lit(1)), 6).alias(
            "redup_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q331 split-scheme leakage A/B: near-dup pairs (q45's verified list)
# CROSSING train/val/test boundaries under the doc-hash split (q43's
# rule) versus a GROUPED source-hash split (all docs of a source share
# a split — the GroupKFold discipline). Doc-level hashing scatters a
# near-dup cluster across splits whenever its members differ in id;
# source-level hashing can only leak pairs that span SOURCES. The
# cross-rate delta is the measured argument for grouped eval splits in
# dedup-sensitive training. Same md5 bucket rule on both keys; pair
# split lookup is two broadcast-friendly id joins per scheme.
# ---------------------------------------------------------------------------
def _q331_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q45 = ORACLES["q45_minhash_lsh_pairs"]
    case = """CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END"""
    return f"""
WITH pairs AS ({q45}),
doc_sp AS (
  SELECT doc_id, {case} AS split
  FROM (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             % 10000 AS bucket
    FROM documents
  )
),
src_sp AS (
  SELECT doc_id, {case} AS split
  FROM (
    SELECT doc_id,
           CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 10000 AS bucket
    FROM documents
  )
),
schemes AS (
  SELECT 'doc_hash' AS scheme, a.split AS sa, b.split AS sb
  FROM pairs p JOIN doc_sp a ON p.doc_id_a = a.doc_id
               JOIN doc_sp b ON p.doc_id_b = b.doc_id
  UNION ALL
  SELECT 'source_hash' AS scheme, a.split AS sa, b.split AS sb
  FROM pairs p JOIN src_sp a ON p.doc_id_a = a.doc_id
               JOIN src_sp b ON p.doc_id_b = b.doc_id
)
SELECT scheme,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN sa != sb THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
       {decimal_ratio_round_sql("SUM(CASE WHEN sa != sb THEN 1 ELSE 0 END)", "COUNT(*)", 6)}
         AS cross_rate
FROM schemes GROUP BY scheme
"""


@query("q331_split_scheme_leakage", oracle=_q331_oracle())
def q331_split_scheme_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    pairs = owned_persist(
        DD.minhash_lsh_pairs(docs, num_hashes=_NH, bands=_BANDS, threshold=0.5)
        .select("doc_id_a", "doc_id_b")
    )
    doc_sp = hash_split(docs.select("doc_id"), "doc_id", fr)
    src_sp = hash_split(docs.select("doc_id", "source"), "source", fr).select(
        "doc_id", "split"
    )
    out = None
    for scheme, sp in (("doc_hash", doc_sp), ("source_hash", src_sp)):
        j = (
            pairs.join(
                sp.withColumnsRenamed({"doc_id": "doc_id_a", "split": "__sa"}),
                "doc_id_a",
            )
            .join(
                sp.withColumnsRenamed({"doc_id": "doc_id_b", "split": "__sb"}),
                "doc_id_b",
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum(F.when(F.col("__sa") != F.col("__sb"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_cross"),
            )
            .select(
                F.lit(scheme).alias("scheme"),
                "n_pairs",
                "n_cross",
                decimal_ratio_round(F.col("n_cross"), F.col("n_pairs"), 6).alias(
                    "cross_rate"
                ),
            )
        )
        out = j if out is None else out.unionByName(j)
    return out


# ---------------------------------------------------------------------------
# q333 temporal vocabulary drift: JSD of each ingestion decile's term
# distribution against decile 0 — q237's pairwise-source machinery
# pointed along the CRAWL TIME axis (q328's decile rule), the
# distribution-shift twin of q328's dedup-saturation curve: rising
# JSD(0, d) means the corpus the model will train on no longer looks
# like the corpus that was profiled. Only the (0, d) pairs
# materialize; the intersection identity, the ln-round-DECIMAL term
# recipe and the rounded ln2 literal are exactly q237's.
# ---------------------------------------------------------------------------
_Q333_ORACLE = rf"""
WITH r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk,
         COUNT(*) OVER () AS n
  FROM documents
),
dec AS (SELECT doc_id, (rnk - 1) * 10 // n AS decile FROM r),
toks AS (
  SELECT dec.decile, lower(t) AS term
  FROM (SELECT doc_id, UNNEST({_D_TOKENS}) AS t FROM documents) x
  JOIN dec USING (doc_id)
),
st AS (SELECT decile, term, CAST(COUNT(*) AS BIGINT) AS cst
       FROM toks GROUP BY 1, 2),
stot AS (SELECT decile, CAST(SUM(cst) AS BIGINT) AS ns FROM st GROUP BY 1),
pr AS (
  SELECT b.decile AS db, a.cst AS ca, b.cst AS cb, ta.ns AS na, tb.ns AS nb
  FROM st a
  JOIN st b ON a.term = b.term AND a.decile = 0 AND b.decile > 0
  JOIN stot ta ON ta.decile = 0
  JOIN stot tb ON tb.decile = b.decile
),
j AS (
  SELECT db, MAX(na) AS na, MAX(nb) AS nb,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         CAST(SUM(ca) AS BIGINT) AS ia, CAST(SUM(cb) AS BIGINT) AS ib,
         CAST(SUM(CAST(round(
           (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
           * round(ln(CAST(2.0 AS DOUBLE)
                      * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                      / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                         + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))), 6),
           12) AS DECIMAL(32,12))) AS DECIMAL(32,12)) AS s1,
         CAST(SUM(CAST(round(
           (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
           * round(ln(CAST(2.0 AS DOUBLE)
                      * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                      / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                         + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))), 6),
           12) AS DECIMAL(32,12))) AS DECIMAL(32,12)) AS s2
  FROM pr GROUP BY db
)
SELECT CAST(db AS BIGINT) AS decile, n_shared_terms,
       round(CAST(0.5 AS DOUBLE) * CAST(s1 + s2 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)
               * (CAST(2.0 AS DOUBLE)
                  - CAST(ia AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(ib AS DOUBLE) / CAST(nb AS DOUBLE))
               * CAST(0.693147 AS DOUBLE), 6)
         + CAST(0 AS DOUBLE) AS jsd_vs_first
FROM j
"""


@query("q333_temporal_vocab_drift", oracle=_Q333_ORACLE)
def q333_temporal_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_rank,
    )

    docs = load_table(spark, "documents", sf_dir)
    ranked = two_phase_numeric_rank(
        docs.select("doc_id"), "doc_id", "doc_id", "__rnk"
    )
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    dec = ranked.crossJoin(F.broadcast(n)).select(
        "doc_id", F.expr("(__rnk - 1) * 10 div __n").cast("bigint").alias("__dec")
    )
    toks = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("__t"))
        .join(dec, "doc_id")
        .select("__dec", F.lower("__t").alias("term"))
    )
    st = owned_persist(
        toks.groupBy("__dec", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("__c")
        )
    )
    stot = st.groupBy("__dec").agg(F.sum("__c").cast("bigint").alias("__ns"))
    a = st.filter(F.col("__dec") == 0).select("term", F.col("__c").alias("__ca"))
    b = st.filter(F.col("__dec") > 0).select(
        F.col("__dec").alias("__db"), "term", F.col("__c").alias("__cb")
    )
    na = stot.filter(F.col("__dec") == 0).select(F.col("__ns").alias("__na"))
    pr = (
        a.join(b, "term")
        .crossJoin(F.broadcast(na))
        .join(
            F.broadcast(
                stot.select(F.col("__dec").alias("__db"), F.col("__ns").alias("__nb"))
            ),
            "__db",
        )
    )
    p = F.col("__ca").cast("double") / F.col("__na").cast("double")
    q = F.col("__cb").cast("double") / F.col("__nb").cast("double")
    t1 = F.round(
        p * F.round(F.log(F.lit(2.0) * p / (p + q)), 6), 12
    ).cast("decimal(32,12)")
    t2 = F.round(
        q * F.round(F.log(F.lit(2.0) * q / (p + q)), 6), 12
    ).cast("decimal(32,12)")
    j = pr.groupBy("__db").agg(
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
        F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
        F.sum("__ca").cast("bigint").alias("__ia"),
        F.sum("__cb").cast("bigint").alias("__ib"),
        F.sum(t1).cast("decimal(32,12)").alias("__s1"),
        F.sum(t2).cast("decimal(32,12)").alias("__s2"),
    )
    return j.select(
        F.col("__db").cast("bigint").alias("decile"),
        "n_shared_terms",
        (
            F.round(
                F.lit(0.5) * (F.col("__s1") + F.col("__s2")).cast("double")
                + F.lit(0.5)
                * (
                    F.lit(2.0)
                    - F.col("__ia").cast("double") / F.col("__na").cast("double")
                    - F.col("__ib").cast("double") / F.col("__nb").cast("double")
                )
                * F.lit(0.693147),
                6,
            )
            + F.lit(0.0)
        ).alias("jsd_vs_first"),
    )


# ---------------------------------------------------------------------------
# q335 corpus drift dashboard — the cover-page row for the round-9
# drift family (the q300 readiness-dashboard pattern): the newest
# ingestion decile's vocabulary JSD vs decile 0 (q333), its near-dup
# rediscovery rate (q328), and the corpus-wide Good-Turing unseen mass
# over bigram types (q327 collapsed to one stratum). Three verified
# oracles composed into ONE row a crawl scheduler reads: rising JSD =
# the corpus is drifting from its profile, rising redup = the crawl is
# saturating, falling p_unseen = new text is running out.
# ---------------------------------------------------------------------------
def _q335_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q333 = ORACLES["q333_temporal_vocab_drift"]
    q328 = ORACLES["q328_redup_decay"]
    return f"""
WITH drift AS ({q333}),
redup AS ({q328}),
toks AS (SELECT {_D_TOKENS} AS ts FROM documents),
bi AS (
  SELECT lower(ts[i]) || ' ' || lower(ts[i + 1]) AS bg
  FROM toks, UNNEST(range(1, len(ts))) AS t(i)
),
tf AS (SELECT bg, COUNT(*) AS c FROM bi GROUP BY bg),
gt AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM tf
),
last_drift AS (
  SELECT jsd_vs_first FROM drift ORDER BY decile DESC LIMIT 1
),
last_redup AS (
  SELECT redup_rate FROM redup ORDER BY decile DESC LIMIT 1
)
SELECT ld.jsd_vs_first AS newest_decile_jsd,
       lr.redup_rate AS newest_decile_redup_rate,
       {decimal_ratio_round_sql("gt.n1", "gt.n", 6)} AS corpus_p_unseen
FROM last_drift ld, last_redup lr, gt
"""


@query("q335_corpus_drift_dashboard", oracle=_q335_oracle())
def q335_corpus_drift_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.corpus import good_turing_bigram_mass

    docs = load_table(spark, "documents", sf_dir)
    drift = q333_temporal_vocab_drift(spark, sf_dir)
    redup = q328_redup_decay(spark, sf_dir)
    ld = (
        drift.orderBy(F.col("decile").desc())
        .limit(1)
        .select(F.col("jsd_vs_first").alias("newest_decile_jsd"))
    )
    lr = (
        redup.orderBy(F.col("decile").desc())
        .limit(1)
        .select(F.col("redup_rate").alias("newest_decile_redup_rate"))
    )
    gt = (
        good_turing_bigram_mass(docs.withColumn("__all", F.lit("all")), group_col="__all")
        .select(
            decimal_ratio_round(F.col("n1"), F.col("n_bigrams"), 6).alias(
                "corpus_p_unseen"
            )
        )
    )
    return ld.crossJoin(F.broadcast(lr)).crossJoin(F.broadcast(gt))


# ---------------------------------------------------------------------------
# q336 vocabulary-growth budget planner: given q308's per-source Heaps
# fit ln V = a + β·ln N, project the vocabulary a 10× crawl of each
# source would reach — the capacity number a tokenizer/vocab-size
# decision needs BEFORE the crawl is paid for. Exactness: a is q308's
# exact MILLI-unit intercept, β its double (both already cross-engine
# verified); ln(10N) rounds to 6 like every ln in the family; the
# projected ln V is reported in exact milli-units (no exp), and the
# human-readable count goes through the q314 exp recipe (round the
# libm exp to integer units IMMEDIATELY — the one permitted use).
# ---------------------------------------------------------------------------
def _q336_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q308 = ORACLES["q308_heaps_law_fit"]
    x = (
        "(CAST(h.heaps_intercept_milli AS DOUBLE) / 1000.0)"
        " + h.heaps_beta * round(ln(CAST(10 * t.n_tokens AS DOUBLE)), 6)"
    )
    return f"""
WITH h AS ({q308}),
toks AS (
  SELECT source, lower(t) AS term
  FROM (SELECT source, UNNEST({_D_TOKENS}) AS t FROM documents)
),
t AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT term) AS BIGINT) AS v_terms
  FROM toks GROUP BY source
)
SELECT h.source, t.n_tokens, t.v_terms, h.heaps_beta,
       CAST(round(({x}) * 1000) AS BIGINT) AS proj_ln_v_milli_10x,
       CAST(round(exp({x})) AS BIGINT) AS projected_v_10x
FROM h JOIN t USING (source)
"""


@query("q336_vocab_budget_planner", oracle=_q336_oracle())
def q336_vocab_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    h = q308_heaps_law_fit(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(TX.tokens("text")).alias("__t")
    ).select("source", F.lower("__t").alias("term"))
    t = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("term").cast("bigint").alias("v_terms"),
    )
    x = (
        F.col("heaps_intercept_milli").cast("double") / F.lit(1000.0)
        + F.col("heaps_beta")
        * F.round(F.log((10 * F.col("n_tokens")).cast("double")), 6)
    )
    return h.join(t, "source").select(
        "source",
        "n_tokens",
        "v_terms",
        "heaps_beta",
        F.round(x * 1000).cast("bigint").alias("proj_ln_v_milli_10x"),
        F.round(F.exp(x)).cast("bigint").alias("projected_v_10x"),
    )


# ---------------------------------------------------------------------------
# q337 quality-gate drift by ingestion decile — the QUALITY axis of
# the drift suite (q328 = dedup saturation, q333 = vocabulary JSD):
# per ingestion decile, the q49 gate's keep rate and the dominant drop
# reason. A falling keep rate along the crawl means the frontier is
# mining lower-quality strata — the number that prices continued
# crawling next to q327's unseen mass. Composes the verified q49
# oracle; deciles via the exact global rank (two-phase, no
# single-partition window), mode-of-drop-reason via a deterministic
# (count DESC, reason ASC) pick.
# ---------------------------------------------------------------------------
def _q337_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q49 = ORACLES["q49_quality_filter"]
    return f"""
WITH gate AS ({q49}),
r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk,
         COUNT(*) OVER () AS n
  FROM documents
),
d AS (
  SELECT g.doc_id, (r.rnk - 1) * 10 // r.n AS decile, g.keep, g.drop_reason
  FROM gate g JOIN r USING (doc_id)
),
agg AS (
  SELECT CAST(decile AS BIGINT) AS decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM d GROUP BY decile
),
reasons AS (
  SELECT CAST(decile AS BIGINT) AS decile, drop_reason,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM d WHERE NOT keep GROUP BY decile, drop_reason
),
top_reason AS (
  SELECT decile, drop_reason AS top_drop_reason FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY decile ORDER BY c DESC, drop_reason ASC) AS rn
    FROM reasons
  ) WHERE rn = 1
)
SELECT a.decile, a.n_docs, a.n_kept,
       {decimal_ratio_round_sql("a.n_kept", "a.n_docs", 6)} AS keep_rate,
       t.top_drop_reason
FROM agg a LEFT JOIN top_reason t USING (decile)
"""


@query("q337_quality_drift_by_decile", oracle=_q337_oracle())
def q337_quality_drift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.corpus import quality_filter
    from airbnb_pyspark_jobs_spark.operators.sampling import (
        two_phase_numeric_rank,
    )

    docs = load_table(spark, "documents", sf_dir)
    gate = quality_filter(docs).select("doc_id", "keep", "drop_reason")
    ranked = two_phase_numeric_rank(
        docs.select("doc_id"), "doc_id", "doc_id", "__rnk"
    )
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    d = gate.join(
        ranked.crossJoin(F.broadcast(n)).select(
            "doc_id",
            F.expr("(__rnk - 1) * 10 div __n").cast("bigint").alias("decile"),
        ),
        "doc_id",
    )
    agg = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )
    reasons = (
        d.filter(~F.col("keep"))
        .groupBy("decile", "drop_reason")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("decile").orderBy(
        F.col("__c").desc(), F.col("drop_reason").asc()
    )
    top = (
        reasons.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("decile", F.col("drop_reason").alias("top_drop_reason"))
    )
    return (
        agg.join(top, "decile", "left")
        .select(
            "decile",
            "n_docs",
            "n_kept",
            decimal_ratio_round(F.col("n_kept"), F.col("n_docs"), 6).alias(
                "keep_rate"
            ),
            "top_drop_reason",
        )
    )


# ---------------------------------------------------------------------------
# q339 shard-balance audit: the straggler readout for q152's
# token-balanced shards — per-shard token totals rolled up to ONE row
# (min/max/mean tokens per shard, max/mean imbalance ratio, doc-count
# spread). The imbalance ratio is what a training scheduler reads:
# step time is the SLOWEST shard, so imbalance − 1 is the fraction of
# every step spent waiting. Composes the verified q152 oracle; the
# rollup is shards-sized (8 rows), all exact integers + one decimal
# ratio.
# ---------------------------------------------------------------------------
def _q339_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q152 = ORACLES["q152_token_balanced_shards"]
    return f"""
WITH shards AS ({q152}),
per AS (
  SELECT shard, CAST(SUM(n_tok) AS BIGINT) AS tok,
         CAST(COUNT(*) AS BIGINT) AS docs
  FROM shards GROUP BY shard
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(MIN(tok) AS BIGINT) AS min_shard_tokens,
       CAST(MAX(tok) AS BIGINT) AS max_shard_tokens,
       CAST(MIN(docs) AS BIGINT) AS min_shard_docs,
       CAST(MAX(docs) AS BIGINT) AS max_shard_docs,
       {decimal_ratio_round_sql("MAX(tok) * COUNT(*)", "SUM(tok)", 6)}
         AS max_over_mean
FROM per
"""


@query("q339_shard_balance_audit", oracle=_q339_oracle())
def q339_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    shards = q152_token_balanced_shards(spark, sf_dir)
    per = shards.groupBy("shard").agg(
        F.sum("n_tok").cast("bigint").alias("__tok"),
        F.count(F.lit(1)).cast("bigint").alias("__docs"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("__tok").cast("bigint").alias("total_tokens"),
        F.min("__tok").cast("bigint").alias("min_shard_tokens"),
        F.max("__tok").cast("bigint").alias("max_shard_tokens"),
        F.min("__docs").cast("bigint").alias("min_shard_docs"),
        F.max("__docs").cast("bigint").alias("max_shard_docs"),
        decimal_ratio_round(
            F.max("__tok") * F.count(F.lit(1)), F.sum("__tok"), 6
        ).alias("max_over_mean"),
    )


# ---------------------------------------------------------------------------
# q341 pack-purity report: how much cross-document attention
# contamination does q36's concat-and-split packing create? A pack
# holding chunks from ≥2 documents lets tokens attend across document
# boundaries unless the trainer masks them — this one-row report
# (n_packs, pure-pack share, mean docs/pack, worst pack) is the number
# that decides whether boundary masking is worth its attention-kernel
# cost on this corpus. Composes the verified q36 oracle; exact
# integers + two decimal ratios.
# ---------------------------------------------------------------------------
def _q341_oracle() -> str:
    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES

    q36 = ORACLES["q36_pack_sequences"]
    return f"""
WITH packs AS ({q36})
SELECT CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pure,
       {decimal_ratio_round_sql("SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END)", "COUNT(*)", 6)}
         AS pure_rate,
       {decimal_ratio_round_sql("SUM(n_docs)", "COUNT(*)", 6)} AS mean_docs_per_pack,
       CAST(MAX(n_docs) AS BIGINT) AS max_docs_per_pack
FROM packs
"""


@query("q341_pack_purity", oracle=_q341_oracle())
def q341_pack_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    packs = q36_pack_sequences(spark, sf_dir)
    return packs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_packs"),
        F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pure"),
        decimal_ratio_round(
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0)),
            F.count(F.lit(1)),
            6,
        ).alias("pure_rate"),
        decimal_ratio_round(F.sum("n_docs"), F.count(F.lit(1)), 6).alias(
            "mean_docs_per_pack"
        ),
        F.max("n_docs").cast("bigint").alias("max_docs_per_pack"),
    )


# ---------------------------------------------------------------------------
# q342 source-pure packing A/B (VERDICT r9 #6): q341 showed the q36
# packer creates cross-document attention contamination; packing
# within a SOURCE (pack_sequences_bfd purity_col="source") is the
# standard mitigation, and this report quantifies its price. Three
# variants on the q325 sample and chunk stream — {concat, BFD,
# source-pure BFD} — each reporting pack-level source purity (q341's
# shape, by source instead of doc) next to utilization + wasted +
# overflowed token mass (q204's shape). Source-pure BFD is pure by
# construction (rate 1.0); the delta in wasted_tokens against plain
# BFD is the purity-vs-waste trade the query exists to measure.
#
# Oracle: the q325 recursion replayed twice — once keyed by shard
# (plain BFD), once by (shard, source) with the shard derived from the
# SOURCE hash (purity sharding). Per-bin source counts come from the
# recursion's bins list, which records each placed item's bin slot in
# placement order: zip-UNNEST(bins, range) -> (pos, bin), join back to
# the ROW_NUMBER ordering for (doc_id, source), then COUNT(DISTINCT
# source) per (shard, bin). Slot ids are stable (placement updates a
# bin's fill in its slot; new bins append), so slot == opening order —
# the operator's pack_id.
# ---------------------------------------------------------------------------
def _q342_oracle() -> str:
    ns = "COUNT(DISTINCT source)"
    return f"""
WITH RECURSIVE
tok AS (SELECT doc_id, {_D_TOKENS} AS ts FROM documents
        WHERE doc_id < {_BFD_SAMPLE}),
k AS (
  SELECT doc_id, ts,
         UNNEST(range(0, greatest((len(ts) - {_CHUNK} + {_STRIDE - 1}) // {_STRIDE}, 0) + 1)) AS ci
  FROM tok
),
ch AS (
  SELECT doc_id, ci AS chunk_idx,
         len(ts[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {_CHUNK}]) AS n_chunk_tokens
  FROM k
),
src AS (SELECT doc_id, source FROM documents WHERE doc_id < {_BFD_SAMPLE}),
chs AS (SELECT ch.doc_id, ch.chunk_idx, ch.n_chunk_tokens, src.source
        FROM ch JOIN src USING (doc_id)),
sh AS (
  SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % {_PACK_SHARDS} AS shard
  FROM chs
),
greedy_c AS (
  SELECT shard, doc_id, source, n_chunk_tokens,
         SUM(n_chunk_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_chunk_tokens AS cum_excl
  FROM sh
),
greedy AS (
  SELECT 'concat' AS variant,
         CAST(SUM(n_chunk_tokens) AS BIGINT) AS pack_tokens,
         CAST({ns} AS BIGINT) AS n_source
  FROM greedy_c
  GROUP BY shard, FLOOR(CAST(cum_excl AS DOUBLE) / {_PACK_BUDGET}.0)
),
ord_i AS (
  SELECT shard, doc_id, source, n_chunk_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY n_chunk_tokens DESC, doc_id, chunk_idx) AS pos
  FROM sh
),
items AS (
  SELECT shard,
         list(CAST(n_chunk_tokens AS BIGINT) ORDER BY pos) AS toks,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM ord_i GROUP BY shard
),
bfd AS (
  SELECT shard, CAST(0 AS BIGINT) AS step,
         CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS bins
  FROM items
  UNION ALL
  SELECT shard, step + 1,
         CASE WHEN best IS NULL THEN list_append(fills, t)
              ELSE list_slice(fills, 1, list_position(fills, best) - 1)
                   || [best + t]
                   || list_slice(fills, list_position(fills, best) + 1, len(fills))
         END,
         list_append(bins, CAST(CASE WHEN best IS NULL THEN len(fills) + 1
                                     ELSE list_position(fills, best) END AS BIGINT))
  FROM (
    SELECT b.shard, b.step, b.fills, b.bins,
           i.toks[CAST(b.step + 1 AS INT)] AS t,
           list_max(list_filter(b.fills,
             f -> f <= {_PACK_BUDGET} - i.toks[CAST(b.step + 1 AS INT)])) AS best
    FROM bfd b JOIN items i USING (shard)
    WHERE b.step < i.n_items
  )
),
fin AS (
  SELECT b.shard, b.bins
  FROM bfd b JOIN items i USING (shard) WHERE b.step = i.n_items
),
asg AS (
  SELECT shard,
         UNNEST(range(1, len(bins) + 1)) AS pos,
         UNNEST(bins) AS bin
  FROM fin
),
bfd_packs AS (
  SELECT 'bfd' AS variant,
         CAST(SUM(o.n_chunk_tokens) AS BIGINT) AS pack_tokens,
         CAST({ns.replace('source', 'o.source')} AS BIGINT) AS n_source
  FROM ord_i o JOIN asg a ON o.shard = a.shard AND o.pos = a.pos
  GROUP BY o.shard, a.bin
),
shp AS (
  SELECT *, CAST('0x' || substr(md5(source), 1, 8) AS BIGINT)
              % {_PACK_SHARDS} AS shard
  FROM chs
),
ord_p AS (
  SELECT shard, source, doc_id, n_chunk_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard, source
                            ORDER BY n_chunk_tokens DESC, doc_id, chunk_idx) AS pos
  FROM shp
),
items_p AS (
  SELECT shard, source,
         list(CAST(n_chunk_tokens AS BIGINT) ORDER BY pos) AS toks,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM ord_p GROUP BY shard, source
),
bfdp AS (
  SELECT shard, source, CAST(0 AS BIGINT) AS step,
         CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS bins
  FROM items_p
  UNION ALL
  SELECT shard, source, step + 1,
         CASE WHEN best IS NULL THEN list_append(fills, t)
              ELSE list_slice(fills, 1, list_position(fills, best) - 1)
                   || [best + t]
                   || list_slice(fills, list_position(fills, best) + 1, len(fills))
         END,
         list_append(bins, CAST(CASE WHEN best IS NULL THEN len(fills) + 1
                                     ELSE list_position(fills, best) END AS BIGINT))
  FROM (
    SELECT b.shard, b.source, b.step, b.fills, b.bins,
           i.toks[CAST(b.step + 1 AS INT)] AS t,
           list_max(list_filter(b.fills,
             f -> f <= {_PACK_BUDGET} - i.toks[CAST(b.step + 1 AS INT)])) AS best
    FROM bfdp b JOIN items_p i USING (shard, source)
    WHERE b.step < i.n_items
  )
),
fin_p AS (
  SELECT b.shard, b.source, b.bins
  FROM bfdp b JOIN items_p i USING (shard, source) WHERE b.step = i.n_items
),
asg_p AS (
  SELECT shard, source,
         UNNEST(range(1, len(bins) + 1)) AS pos,
         UNNEST(bins) AS bin
  FROM fin_p
),
pure_packs AS (
  SELECT 'bfd_source_pure' AS variant,
         CAST(SUM(o.n_chunk_tokens) AS BIGINT) AS pack_tokens,
         CAST(1 AS BIGINT) AS n_source
  FROM ord_p o
  JOIN asg_p a ON o.shard = a.shard AND o.source = a.source AND o.pos = a.pos
  GROUP BY o.shard, o.source, a.bin
),
allp AS (
  SELECT * FROM greedy
  UNION ALL SELECT * FROM bfd_packs
  UNION ALL SELECT * FROM pure_packs
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(CASE WHEN n_source = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_source_pure,
       {decimal_ratio_round_sql("SUM(CASE WHEN n_source = 1 THEN 1 ELSE 0 END)", "COUNT(*)", 6)}
         AS source_pure_rate,
       {decimal_ratio_round_sql("SUM(n_source)", "COUNT(*)", 6)}
         AS mean_sources_per_pack,
       round(CAST(SUM(pack_tokens) AS DOUBLE)
             / CAST(COUNT(*) * {_PACK_BUDGET} AS DOUBLE), 6)
         AS overall_utilization,
       CAST(SUM(greatest({_PACK_BUDGET} - pack_tokens, 0)) AS BIGINT)
         AS wasted_tokens,
       CAST(SUM(greatest(pack_tokens - {_PACK_BUDGET}, 0)) AS BIGINT)
         AS overflow_tokens
FROM allp GROUP BY variant
"""


@query("q342_source_pure_packing_ab", oracle=_q342_oracle())
def q342_source_pure_packing_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round
    from airbnb_pyspark_jobs_spark.operators.corpus import (
        chunk_documents,
        pack_sequences,
        pack_sequences_bfd,
    )

    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") < _BFD_SAMPLE
    )
    chunks = owned_persist(
        chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "chunk_idx", "n_chunk_tokens", "source")
    )
    sel = lambda df, v: df.select(  # noqa: E731
        F.lit(v).alias("variant"), "pack_tokens", "n_source"
    )
    allp = (
        sel(
            pack_sequences(
                chunks,
                budget=_PACK_BUDGET,
                shards=_PACK_SHARDS,
                count_cols=("source",),
            ),
            "concat",
        )
        .unionByName(
            sel(
                pack_sequences_bfd(
                    chunks,
                    budget=_PACK_BUDGET,
                    shards=_PACK_SHARDS,
                    count_cols=("source",),
                ),
                "bfd",
            )
        )
        .unionByName(
            sel(
                pack_sequences_bfd(
                    chunks,
                    budget=_PACK_BUDGET,
                    shards=_PACK_SHARDS,
                    purity_col="source",
                    count_cols=("source",),
                ),
                "bfd_source_pure",
            )
        )
    )
    return allp.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_packs"),
        F.sum(F.when(F.col("n_source") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_source_pure"),
        decimal_ratio_round(
            F.sum(F.when(F.col("n_source") == 1, 1).otherwise(0)),
            F.count(F.lit(1)),
            6,
        ).alias("source_pure_rate"),
        decimal_ratio_round(F.sum("n_source"), F.count(F.lit(1)), 6).alias(
            "mean_sources_per_pack"
        ),
        F.round(
            F.sum("pack_tokens").cast("double")
            / (F.count(F.lit(1)) * _PACK_BUDGET).cast("double"),
            6,
        ).alias("overall_utilization"),
        F.sum(F.greatest(F.lit(_PACK_BUDGET) - F.col("pack_tokens"), F.lit(0)))
        .cast("bigint")
        .alias("wasted_tokens"),
        F.sum(F.greatest(F.col("pack_tokens") - F.lit(_PACK_BUDGET), F.lit(0)))
        .cast("bigint")
        .alias("overflow_tokens"),
    )
