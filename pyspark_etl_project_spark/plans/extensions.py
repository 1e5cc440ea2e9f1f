"""Training-data-pipeline extension operators over documents/embeddings,
each with a DuckDB oracle twin — including the mapInPandas operators,
whose Python byte arithmetic is replayed in SQL over hex encodings.

Cross-engine rules (same as parity.py): integer math at decision
boundaries, md5-derived hashing only, lowercase aliases, doubles only
when produced by an identical single-expression computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_etl_project_spark.extensions import text as X
from pyspark_etl_project_spark.extensions.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_bits,
    word_shingles,
)
from pyspark_etl_project_spark.extensions.multimodal import (
    extract_features,
    sample_frames,
    to_media_column,
)
from pyspark_etl_project_spark.extensions.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_topk,
    topk_for_queries,
)
from pyspark_etl_project_spark.plans.tables import load

QUERIES = {}
ORACLE = {}


def _q(name, sql=None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


# --- exact dedup: hash-groupBy -------------------------------------------

@_q("dedup_exact", """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
""")
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


# --- n-gram Jaccard near-dup pairs ---------------------------------------

@_q("dedup_ngram_jaccard", """
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' '))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
        FROM documents WHERE doc_id < 300)
), inv0 AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), rare AS (
  SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= 50
), inv AS (
  SELECT inv0.doc_id, inv0.s FROM inv0 JOIN rare USING (s)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter_n
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(sh) AS sz FROM docs)
SELECT id_a, id_b, inter_n,
       (sa.sz + sb.sz - inter_n) AS union_n
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE inter_n * 20 >= (sa.sz + sb.sz - inter_n) * 1
""")
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_freq=50 is the stop-shingle ceiling (mirrored in the oracle's
    # rare CTE): boilerplate shingles shared by >50 docs are pruned before
    # the quadratic candidate join.
    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 300)
            .select("doc_id", word_shingles("text", 3).alias("sh")))
    return jaccard_pairs(docs, "doc_id", "sh", threshold_num=1,
                         threshold_den=20, max_doc_freq=50)


# --- MinHash + banded LSH candidates -------------------------------------

_MINHASH_SIG_SQL = ", ".join(
    f"list_min(list_transform(sh, s -> md5('{k}|' || s)))" for k in range(8))

# Shared CTE prefix: base corpus (docs < limit + near-dup clones) ->
# shingles -> minhash signatures -> banded buckets -> candidate pairs.
# Parameterized by the corpus cap so derived queries (leakage split)
# can run a smaller feed without touching the gated 200-doc text.
def _minhash_pairs_cte(limit: int) -> str:
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {limit}
  UNION ALL
  SELECT doc_id + 1000000, text || ' extratoken'
  FROM documents WHERE doc_id < {limit}
), docs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' '))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM base)
), sig AS (
  SELECT doc_id, [{_MINHASH_SIG_SQL}] AS sg
  FROM docs WHERE len(sh) > 0
), bands AS (
  SELECT doc_id, b AS band_id,
         md5(sg[2*b+1] || '|' || sg[2*b+2]) AS band_hash
  FROM sig, unnest(range(4)) AS t(b)
), pairs AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared_bands
  FROM bands x
  JOIN bands y ON x.band_id = y.band_id AND x.band_hash = y.band_hash
              AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)"""


_MINHASH_PAIRS_CTE = _minhash_pairs_cte(200)

@_q("dedup_minhash_lsh", f"""
{_MINHASH_PAIRS_CTE}
SELECT id_a, id_b, n_shared_bands FROM pairs
""")
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    near = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" extratoken")).alias("text"))
    base = docs.select("doc_id", "text").unionByName(near)
    return minhash_lsh_candidates(base, "doc_id", "text",
                                  num_hashes=8, num_bands=4, shingle_n=3)


# --- connected-components dedup clustering --------------------------------
# The step after candidate pairs: collapse the pair graph into clusters
# and pick one canonical doc per cluster. Spark side is iterative
# min-label propagation (converges in O(diameter) shuffled joins); the
# oracle is an independent formulation — DuckDB's recursive-CTE
# transitive closure — so the fixpoint itself is cross-checked.

@_q("dedup_cluster_canonical", f"""
{_MINHASH_PAIRS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
nodes AS (SELECT doc_id FROM base),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
""")
def dedup_cluster_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import connected_dedup_clusters

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    near = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" extratoken")).alias("text"))
    base = docs.select("doc_id", "text").unionByName(near)
    pairs = minhash_lsh_candidates(base, "doc_id", "text",
                                   num_hashes=8, num_bands=4, shingle_n=3)
    return connected_dedup_clusters(pairs, base.select("doc_id"))


# --- deterministic train/val/test split -----------------------------------
# Pure function of the id (md5 bucket in [0,100)) — the same row lands in
# the same split every run on any engine; no RNG, no shuffle.

@_q("deterministic_split_counts", """
SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id FROM (
  SELECT doc_id,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(concat('0x', substring(
                   md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 4))
                 AS INTEGER) % 100 AS b
        FROM documents))
GROUP BY split
""")
def deterministic_split_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import deterministic_split

    docs = load(spark, sf_dir, "documents")
    split = deterministic_split(docs, "doc_id",
                                {"train": 90, "val": 5, "test": 5})
    return (split.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_id")))


# --- edit-distance near-dup candidates (bounded blocking) ------------------
# The third fuzzy-identity family beside token sets (Jaccard/MinHash) and
# bit signatures (SimHash): bounded Levenshtein over normalized prefixes.
# Block key = (2-char prefix, length bucket) — a char prefix alone has
# FIXED cardinality, so block size would grow linearly with the corpus
# and the within-block self-join quadratically; the length bucket widens
# the key space and a hard per-block ceiling (window count on the block
# key, the join's own shuffle partitioning) drops over-cap blocks before
# any pair is formed — the same bound jaccard_pairs.max_doc_freq applies
# to stop-shingles. Oracle mirrors both via QUALIFY.

@_q("dedup_levenshtein_prefix", """
WITH d0 AS (
  SELECT doc_id,
         substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                   1, 40) AS p
  FROM documents WHERE doc_id < 300),
d AS (
  SELECT doc_id, p,
         concat(substring(p, 1, 2), '|',
                CAST(CAST(FLOOR(length(p) / 8) AS BIGINT) AS VARCHAR)) AS blk
  FROM d0
  QUALIFY COUNT(*) OVER (PARTITION BY blk) <= 64)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.p, b.p) AS edit_dist
FROM d a JOIN d b
  ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 20
""")
def dedup_levenshtein_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import levenshtein_candidates

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return levenshtein_candidates(docs, "doc_id", "text",
                                  prefix_len=40, block_chars=2,
                                  length_bucket=8, max_block_size=64,
                                  max_dist=20)


# --- corpus vocabulary: top tokens -----------------------------------------
# The vocab-build staple: explode to tokens, one map-side-combine count,
# top-k via TakeOrderedAndProject (deterministic tiebreak on the token).
# At 100 TB the count shuffle is bounded by DISTINCT tokens, not rows.

@_q("vocab_top_tokens", """
SELECT t AS token, COUNT(*) AS n
FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS t
      FROM documents)
GROUP BY t ORDER BY n DESC, t ASC LIMIT 50
""")
def vocab_top_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(X.tokens(F.lower("text"))).alias("token"))
    return (toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), F.col("token").asc())
                .limit(50))


# --- grouped-map Pandas UDF (batch applyInPandas) --------------------------
# Per-group min-max normalization: one Arrow batch per event_type group.
# The per-row double expression has no accumulation, so pandas and the
# oracle's SQL-window formulation produce bit-identical values.

@_q("group_minmax_normalize", """
SELECT event_id, event_type,
       CASE WHEN mx = mn THEN 0
            ELSE CAST(FLOOR((value - mn) * 10000 / (mx - mn)) AS BIGINT)
       END AS value_bp
FROM (SELECT event_id, event_type, value,
             MIN(value) OVER (PARTITION BY event_type) AS mn,
             MAX(value) OVER (PARTITION BY event_type) AS mx
      FROM events)
""")
def group_minmax_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.groupmap import minmax_normalize

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return minmax_normalize(ev, group_col="event_type", value_col="value",
                            id_col="event_id")


# --- deterministic stratified sampling ------------------------------------
# Per-language keep rates (downsample the dominant language, keep the
# rest) decided by md5(salt||id) — a pure map-side filter, reproducible
# across runs/engines/appends, no RNG state, no shuffle.

@_q("stratified_sample_deterministic", """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         CAST(concat('0x', substring(
             md5('strat-v1|' || CAST(doc_id AS VARCHAR)), 1, 4))
           AS INTEGER) % 100 AS b
  FROM documents)
WHERE b < (CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 100
           ELSE 10 END)
""")
def stratified_sample_deterministic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import stratified_sample

    docs = load(spark, sf_dir, "documents")
    out = stratified_sample(docs, "doc_id", "lang",
                            {"en": 50, "de": 100}, default_pct=10)
    return out.select("doc_id", "lang")


# --- repetition signals (Gopher-style quality filters) ---------------------
# dup_2gram_bp is a pure row-wise expression; the top-word fraction is
# the scalable explode -> two map-side-combine aggregations shape (never
# a per-doc O(n²) nested loop — documents can be arbitrarily long).

@_q("text_repetition_signals", """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents WHERE doc_id < 400
), grams AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(len(w) - 1),
                                  i -> concat(w[i+1], ' ', w[i+2]))
              ELSE [] END AS g, w
  FROM base
), rowwise AS (
  SELECT doc_id,
         CASE WHEN len(g) > 0
              THEN CAST(FLOOR((len(g) - len(list_distinct(g))) * 10000.0
                              / len(g)) AS BIGINT)
              ELSE 0 END AS dup_2gram_bp, w
  FROM grams
), words AS (
  SELECT doc_id, dup_2gram_bp, unnest(w) AS word FROM rowwise
), wc AS (
  SELECT doc_id, dup_2gram_bp, word, COUNT(*) AS c
  FROM words GROUP BY 1, 2, 3
)
SELECT doc_id, dup_2gram_bp,
       CAST(FLOOR(MAX(c) * 10000.0 / SUM(c)) AS BIGINT) AS top_word_bp,
       CAST(SUM(c) AS BIGINT) AS n_words
FROM wc GROUP BY doc_id, dup_2gram_bp
""")
def text_repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    # Stage the expensive arrays through stacked projections BELOW the
    # explode: each Project materializes its column once per document
    # (CollapseProject keeps non-cheap expressions staged), where a
    # single fused expression would rebuild the gram array 4x per row —
    # and putting it beside explode() would re-evaluate it per word.
    grams = docs.select("doc_id", X.tokens("text").alias("w"),
                        X.word_ngrams("text", 2).alias("g"))
    pre = grams.select(
        "doc_id", "w",
        F.when(F.size("g") > 0,
               F.floor((F.size("g") - F.size(F.array_distinct("g")))
                       .cast("bigint") * 10000 / F.size("g")).cast("bigint"))
         .otherwise(F.lit(0).cast("bigint")).alias("dup_2gram_bp"))
    rowwise = pre.select("doc_id", "dup_2gram_bp",
                         F.explode("w").alias("word"))
    wc = (rowwise.groupBy("doc_id", "dup_2gram_bp", "word")
                 .agg(F.count(F.lit(1)).alias("c")))
    return (wc.groupBy("doc_id", "dup_2gram_bp")
              .agg(F.floor(F.max("c") * 10000 / F.sum("c"))
                    .cast("bigint").alias("top_word_bp"),
                   F.sum("c").alias("n_words")))


# --- PII / numeric redaction scan ------------------------------------------
# Redaction as pure column expressions over the JSON props payload:
# regexp_replace + match counting, zero shuffle, engine-exact via md5 of
# the redacted string (both engines replace ALL matches).

@_q("pii_redaction_scan", """
SELECT event_id,
       md5(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS redacted_md5,
       len(regexp_extract_all(props, '[0-9]+')) AS n_number_runs,
       len(regexp_extract_all(props,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS n_emails
FROM events
""")
def pii_redaction_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.md5(F.regexp_replace("props", r"[0-9]+", "<NUM>")).alias("redacted_md5"),
        F.size(F.regexp_extract_all("props", F.lit(r"[0-9]+"), F.lit(0)))
         .cast("int").alias("n_number_runs"),
        F.size(F.regexp_extract_all(
            "props", F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), F.lit(0)))
         .cast("int").alias("n_emails"))


# --- SimHash signatures ----------------------------------------------------

@_q("dedup_simhash", """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS t
  FROM documents WHERE doc_id < 300
), h AS (SELECT doc_id, md5(t) AS hh FROM toks),
pos AS (
  SELECT doc_id, b,
         CASE WHEN (strpos('0123456789abcdef', substr(hh, b+1, 1)) - 1) % 2 = 1
              THEN 1 ELSE -1 END AS vote
  FROM h, unnest(range(16)) AS t(b)
), votes AS (SELECT doc_id, b, CAST(SUM(vote) AS BIGINT) AS s FROM pos GROUP BY 1, 2)
SELECT doc_id,
       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
FROM votes GROUP BY doc_id
""")
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return simhash_bits(docs, "doc_id", "text", num_bits=16)


# --- text statistics + quality score --------------------------------------
# (consolidated: the former `text_quality_score` query's column lives here
# — same source table, both pure row-wise column expressions, zero shuffle)

@_q("text_stats", """
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
       len(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS n_distinct_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
       length(text) AS n_chars_measured,
       (CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))
               BETWEEN 20 AND 10000 THEN 5 ELSE 0 END
        + CASE WHEN len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''),
                x -> list_contains(['the', 'and', 'of'], x))) > 0 THEN 3 ELSE 0 END
        + CASE WHEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                    * 10 < length(text) THEN 2 ELSE 0 END) AS quality_tenths
FROM documents
""")
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = X.tokens(F.lower(F.col("text")))
    sw = F.array(*[F.lit(w) for w in X.LANG_MARKERS["en"]])
    n = X.token_count("text")
    sw_hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    punct_n = F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    score = (F.when((n >= 20) & (n <= 10000), 5).otherwise(0)
             + F.when(sw_hits > 0, 3).otherwise(0)
             + F.when(punct_n * 10 < F.length("text"), 2).otherwise(0))
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.distinct_token_count("text").alias("n_distinct_tokens"),
        X.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_measured"),
        score.alias("quality_tenths"))


# --- language-ID heuristic + canonical-form fingerprint --------------------
# (consolidated: the former `doc_fingerprint` query's column lives here —
# same source table, both pure row-wise column expressions)

@_q("lang_id_heuristic", """
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN list_has_any(w, ['the', 'and', 'of']) THEN 'en'
            WHEN list_has_any(w, ['der', 'und', 'die']) THEN 'de'
            WHEN list_has_any(w, ['el', 'de', 'la']) THEN 'es'
            ELSE 'und' END AS guessed_lang,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM (SELECT doc_id, lang, text,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
      FROM documents)
""")
def lang_id_heuristic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", F.col("lang").alias("labeled_lang"),
                       X.lang_id("text").alias("guessed_lang"),
                       X.normalized_fingerprint("text").alias("fingerprint"))


# --- brute-force cosine top-k ---------------------------------------------

_COS_SQL = """
  round(
    list_sum(list_transform(range(len(e.embedding)),
      i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(q.qe[i+1] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(len(e.embedding)),
        i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(len(q.qe)),
        i -> CAST(q.qe[i+1] AS DOUBLE) * CAST(q.qe[i+1] AS DOUBLE)))))
  , 6)"""

@_q("embedding_cosine_topk", f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, {_COS_SQL} AS cos_sim
  FROM embeddings e, q WHERE e.vec_id <> 0)
SELECT vec_id, cos_sim FROM (
  SELECT vec_id, cos_sim,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored) WHERE rn <= 10
""")
def embedding_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return brute_force_topk(emb.filter(F.col("vec_id") != 0), list(qvec), k=10)


# --- LSH-bucketed ANN top-k ------------------------------------------------

@_q("embedding_lsh_topk", f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qb AS (SELECT array_to_string(list_transform(range(4),
         i -> CASE WHEN qe[i+1] >= 0 THEN '1' ELSE '0' END), '') AS b FROM q),
cand AS (
  SELECT e.vec_id, e.embedding FROM embeddings e, qb
  WHERE array_to_string(list_transform(range(4),
          i -> CASE WHEN e.embedding[i+1] >= 0 THEN '1' ELSE '0' END), '') = qb.b
    AND e.vec_id <> 0),
scored AS (
  SELECT e.vec_id, {_COS_SQL} AS cos_sim
  FROM cand e, q)
SELECT vec_id, cos_sim FROM (
  SELECT vec_id, cos_sim,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored) WHERE rn <= 10
""")
def embedding_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return lsh_bucketed_topk(emb.filter(F.col("vec_id") != 0), list(qvec),
                             k=10, num_bits=4)


# --- batched ANN top-k: a DataFrame of queries in one plan -----------------
# The 100 TB shape: query vectors arrive as a table, not a driver list.
# Sign-LSH buckets computed on BOTH sides -> bucket equi-join (queries
# broadcast) -> per-query window top-k (one shuffle keyed by query_id).

_PAIR_COS_SQL = """
  round(
    list_sum(list_transform(range(len(e.embedding)),
      i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(q.qe[i+1] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(len(e.embedding)),
        i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(len(q.qe)),
        i -> CAST(q.qe[i+1] AS DOUBLE) * CAST(q.qe[i+1] AS DOUBLE)))))
  , 6)"""

_BUCKET4_SQL = ("array_to_string(list_transform(range(4), "
                "i -> CASE WHEN {col}[i+1] >= 0 THEN '1' ELSE '0' END), '')")

@_q("embedding_topk_batched", f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qe,
         {_BUCKET4_SQL.format(col='embedding')} AS b
  FROM embeddings WHERE vec_id < 3
), cs AS (
  SELECT vec_id, embedding,
         {_BUCKET4_SQL.format(col='embedding')} AS b
  FROM embeddings WHERE vec_id >= 3
), scored AS (
  SELECT q.query_id, e.vec_id, {_PAIR_COS_SQL} AS cos_sim
  FROM cs e JOIN qs q USING (b)
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored) WHERE rn <= 5
""")
def embedding_topk_batched_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 3)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec")))
    corpus = emb.filter(F.col("vec_id") >= 3)
    return topk_for_queries(corpus, queries, k=5, num_bits=4)


# --- IVF-bucketed ANN top-k ------------------------------------------------
# Deterministic coarse centroids (vec_id 1..16), nearest-centroid cell
# assignment (a pure map-side expression — zero shuffle; at scale the cell
# becomes a parquet partition column and probing is partition pruning),
# probe the 4 cells nearest the query, exact cosine top-k inside them.

# Assignment affinity = dot(v, c)/|c| — same ORDERING as cosine for a
# fixed v (the row norm is constant across centroids and never computed),
# mirrored exactly by extensions/similarity.py:centroid_affinity.
_CC_SQL = """
  round(
    list_sum(list_transform(range(len(e.embedding)),
      i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.ce[i+1] AS DOUBLE)))
    / sqrt(list_sum(list_transform(range(len(c.ce)),
        i -> CAST(c.ce[i+1] AS DOUBLE) * CAST(c.ce[i+1] AS DOUBLE))))
  , 6)"""

_QC_SQL = _CC_SQL.replace("e.embedding", "q.qe")

@_q("embedding_ivf_topk", f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
          WHERE vec_id BETWEEN 1 AND 16),
probe AS (
  SELECT cid FROM (
    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {_QC_SQL} DESC, c.cid ASC) AS pr
    FROM cents c, q) WHERE pr <= 4),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CC_SQL} DESC, c.cid ASC) AS rn
    FROM embeddings e, cents c WHERE e.vec_id <> 0) WHERE rn = 1),
cand AS (
  SELECT e.vec_id, e.embedding FROM embeddings e
  JOIN assigned a ON e.vec_id = a.vec_id
  WHERE a.cell IN (SELECT cid FROM probe)),
scored AS (
  SELECT e.vec_id, {_COS_SQL} AS cos_sim FROM cand e, q)
SELECT vec_id, cos_sim FROM (
  SELECT vec_id, cos_sim,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored) WHERE rn <= 10
""")
def embedding_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import (
        centroid_affinity)

    emb = load(spark, sf_dir, "embeddings")
    # ONE driver action fetches the query vector AND the scored
    # centroids (r17 profile: the separate first() + collect() pair was
    # most of the build time). The probe scoring stays the engine
    # expression — round(centroid_affinity) — for oracle parity; the
    # query row rides along on a 1-row broadcast.
    qrow = (emb.filter(F.col("vec_id") == 0)
            .select(F.col("embedding").alias("qe")))
    cent_rows = (emb.filter(F.col("vec_id").between(1, 16))
                 .select(F.col("vec_id").alias("cid"),
                         F.col("embedding").alias("ce"))
                 .crossJoin(F.broadcast(qrow))
                 .select("cid", "ce", "qe",
                         F.round(centroid_affinity(F.col("qe"),
                                                   F.col("ce")), 6)
                          .alias("cs"))
                 .collect())
    qvec = list(cent_rows[0]["qe"])
    scores = [(r["cid"], list(r["ce"]), r["cs"]) for r in cent_rows]
    return ivf_topk(emb.filter(F.col("vec_id") != 0), qvec,
                    centroid_ids=list(range(1, 17)), k=10, nprobe=4,
                    centroid_scores=scores)


# --- IVF over a MATERIALIZED index (real partition pruning) ----------------
# Same semantics as embedding_ivf_topk (identical oracle), but the corpus
# is first written partitionBy(ivf_cell) and the probe reads it back with
# a partition-column filter — non-probed cells are pruned at file
# listing, never scanned. The 100 TB serving layout, exercised for real.

@_q("embedding_ivf_index_probe", None)  # oracle assigned below (same as ivf_topk)
def embedding_ivf_index_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark_etl_project_spark.extensions.similarity import (
        centroid_affinity,
        ivf_probe_index,
        ivf_write_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    # Same fused single-action fetch as embedding_ivf_topk_q: query
    # vector + engine-scored centroids in one collect (round parity
    # with the oracle preserved — scoring stays in-engine).
    qrow = (emb.filter(F.col("vec_id") == 0)
            .select(F.col("embedding").alias("qe")))
    cent_rows = (emb.filter(F.col("vec_id").between(1, 16))
                 .select(F.col("vec_id").alias("cid"),
                         F.col("embedding").alias("ce"))
                 .crossJoin(F.broadcast(qrow))
                 .select("cid", "ce", "qe",
                         F.round(centroid_affinity(F.col("qe"),
                                                   F.col("ce")), 6)
                          .alias("cs"))
                 .collect())
    qvec = list(cent_rows[0]["qe"])
    centroids = [(r["cid"], list(r["ce"])) for r in cent_rows]
    probe = [r["cid"] for r in
             sorted(cent_rows, key=lambda r: (-r["cs"], r["cid"]))[:4]]

    path = os.path.join(tempfile.mkdtemp(prefix="ivf_index_"), "index")
    ivf_write_index(emb.filter(F.col("vec_id") != 0), centroids, path)
    return ivf_probe_index(spark, path, qvec, centroids, k=10, nprobe=4,
                           probe_cells=probe)


ORACLE["embedding_ivf_index_probe"] = ORACLE["embedding_ivf_topk"]


# --- k-means (Lloyd) refinement, gated end-to-end --------------------------
# One deterministic iteration: seed on vec_id 1..8, assign (round-6
# affinity, smallest-cid ties), recompute per-dim means, re-assign the
# corpus to the REFINED centroids, output per-cell counts + id checksum.
# Integer outputs; the only float step (the mean) feeds an affinity that
# both engines round to 6 digits before comparing, absorbing summation-
# order ulp noise. Gates extensions/similarity.py:kmeans_refine, which
# previously had tests but no oracle row.

@_q("kmeans_refine_cells", f"""
WITH cents0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                WHERE vec_id BETWEEN 1 AND 8),
a0 AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CC_SQL} DESC, c.cid ASC) AS rn
    FROM embeddings e, cents0 c) WHERE rn = 1),
dims AS (
  SELECT cell AS cid, i AS pos, AVG(CAST(embedding[i+1] AS DOUBLE)) AS m
  FROM a0, unnest(range(len(embedding))) AS t(i)
  GROUP BY cell, i),
means AS (SELECT cid, list(m ORDER BY pos) AS ce FROM dims GROUP BY cid),
refined AS (
  SELECT c0.cid,
         COALESCE(m.ce, list_transform(c0.ce, x -> CAST(x AS DOUBLE))) AS ce
  FROM cents0 c0 LEFT JOIN means m ON c0.cid = m.cid),
a1 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CC_SQL} DESC, c.cid ASC) AS rn
    FROM embeddings e, refined c) WHERE rn = 1)
SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS id_sum
FROM a1 GROUP BY cell
""")
def kmeans_refine_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import (
        ivf_cell, kmeans_refine)

    emb = load(spark, sf_dir, "embeddings")
    seeds = [(int(r["cid"]), list(r["ce"]))
             for r in emb.filter(F.col("vec_id").between(1, 8))
                         .select(F.col("vec_id").alias("cid"),
                                 F.col("embedding").alias("ce")).collect()]
    refined = kmeans_refine(emb, seeds, iters=1)
    assigned = emb.withColumn("cell", ivf_cell("embedding", refined))
    return (assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("vec_id").cast("long").alias("id_sum"))
            .select(F.col("cell").cast("long").alias("cell"),
                    "n_vecs", "id_sum"))


# --- schema-evolution bronze read, gated end-to-end ------------------------
# Two parquet generations (v1 narrow; v2 adds a column) merged through
# sources/parquet_source.py:read_evolved with a pinned shape: v1 rows
# surface the new column as NULL. The oracle is the UNION of the two
# pinned-shape reads. (Both engines see the nullable bigint as float64
# through the canonicalizer — consistent, so it hashes equal.)

@_q("schema_evolution_read", """
SELECT o_orderkey, o_custkey, CAST(NULL AS BIGINT) AS o_price_cents
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, o_custkey,
       CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
FROM orders WHERE o_orderkey % 10 = 1
""")
def schema_evolution_read_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark_etl_project_spark.sources.parquet_source import read_evolved

    orders = load(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="evolved_")
    v1 = (orders.filter(F.col("o_orderkey") % 10 == 0)
                .select("o_orderkey", "o_custkey"))
    v2 = (orders.filter(F.col("o_orderkey") % 10 == 1)
                .select("o_orderkey", "o_custkey",
                        F.floor(F.col("o_totalprice").cast("decimal(18,6)")
                                * 100).cast("long").alias("o_price_cents")))
    v1.write.mode("overwrite").parquet(os.path.join(base, "v1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "v2"))
    return read_evolved(
        spark, os.path.join(base, "v1"), os.path.join(base, "v2"),
        expect_schema="o_orderkey bigint, o_custkey bigint, "
                      "o_price_cents bigint")


# --- multimodal: binary payload column + Arrow-batched feature extraction --
# (consolidated: the former `multimodal_binary_stats` query's media_type /
# content_md5 columns live here — same media frame, and the join of the
# typed-metadata contract with the mapInPandas extraction is exactly how a
# real pipeline consumes both. The Python-side batch iterator gets a
# value-level oracle: byte arithmetic replayed in SQL.)

@_q("multimodal_feature_extract", """
SELECT doc_id, 'text/plain' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       CASE WHEN octet_length(encode(text)) = 0
            THEN '0,0,0'
            ELSE concat(octet_length(encode(text)), ',',
                        CAST(concat('0x', substring(hex(encode(text)), 1, 2))
                             AS INTEGER), ',',
                        CAST(concat('0x', substring(hex(encode(text)),
                             octet_length(encode(text)) * 2 - 1, 2))
                             AS INTEGER))
       END AS features_csv
FROM documents
""")
def multimodal_feature_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The features column is array<double>; external result canonicalizers
    # can't hash list cells, so the oracle-facing query serializes it to a
    # deterministic CSV of integral values (the fake features are integral
    # by construction — length + first/last byte).
    docs = load(spark, sf_dir, "documents")
    media = to_media_column(docs, "doc_id", "text")
    feats = extract_features(media, with_meta=True)
    return feats.select(
        "doc_id", "media_type", "n_bytes", "content_md5",
        F.concat_ws(",", F.transform(
            "features", lambda x: x.cast("long").cast("string")))
         .alias("features_csv"))


# --- multimodal: frame sampling (1 row in -> N frames out) ----------------
# The mapInPandas chunker stands in for video keyframe decode; frames are
# 16-byte payload slices, every 4th kept, fingerprinted via md5 over the
# uppercase hex — byte-exact reproducible in SQL, so even the Python-side
# plumbing gets a value-level oracle.

@_q("multimodal_frame_sample", """
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       md5(substring(hex(encode(text)), CAST(i * 32 + 1 AS BIGINT), 32)) AS frame_md5
FROM documents,
     unnest(range(octet_length(encode(text)) // 16)) AS t(i)
WHERE doc_id < 500 AND i % 4 = 0
""")
def multimodal_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = to_media_column(docs, "doc_id", "text")
    return sample_frames(media, frame_bytes=16, every=4)


# --- J5 retention: keep newest N per group --------------------------------

@_q("retention_latest_per_group", """
SELECT event_id, event_type FROM (
  SELECT event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id DESC) AS rn
  FROM events) WHERE rn <= 100
""")
def retention_latest_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-store retention (reference J5: keep newest 5000 records,
    Setup/Streaming_API_Setup.py:50) generalized to per-group top-N — the
    scalable form: one shuffle on the group key, no global sort."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 100)
              .select("event_id", "event_type"))


# --- sessionization: gap-based session ids --------------------------------

@_q("sessionize_events", """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN gap_us IS NULL OR gap_us > 3600000000 THEN 1 ELSE 0 END AS new_s
  FROM ordered
), sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, COUNT(*) AS n_events, MIN(ts) AS session_start
FROM sess GROUP BY user_id, session_idx
""")
def sessionize_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1 h inactivity): lag + running sum over
    one user-partitioned window — single shuffle on user_id, both window
    passes reuse the same partitioning."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 3600 * 1_000_000), 1).otherwise(0))
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_idx")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.min("ts").alias("session_start")))


# --- embedding near-dup pairs (cosine threshold in LSH buckets) ----------

@_q("dedup_embedding_threshold", """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 25 = 0
), bucketed AS (
  SELECT vec_id, embedding,
         array_to_string(list_transform(range(4),
           i -> CASE WHEN embedding[i+1] >= 0 THEN '1' ELSE '0' END), '') AS b
  FROM base
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         round(
           list_sum(list_transform(range(len(x.embedding)),
             i -> CAST(x.embedding[i+1] AS DOUBLE) * CAST(y.embedding[i+1] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(len(x.embedding)),
               i -> CAST(x.embedding[i+1] AS DOUBLE) * CAST(x.embedding[i+1] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(len(y.embedding)),
               i -> CAST(y.embedding[i+1] AS DOUBLE) * CAST(y.embedding[i+1] AS DOUBLE)))))
         , 6) AS cos_sim
  FROM bucketed x JOIN bucketed y ON x.b = y.b AND x.vec_id < y.vec_id
) WHERE cos_sim >= 0.999
""")
def dedup_embedding_threshold_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed: candidate pairs come
    from a sign-bucket equi-join (prunes ~2^-bits of the n^2 space), then
    exact cosine filters. Exact duplicates (synthesized id+1000000 copies)
    land at cos=1.0."""
    from pyspark_etl_project_spark.extensions.similarity import cosine, sign_bucket

    emb = load(spark, sf_dir, "embeddings")
    copies = (emb.filter(F.col("vec_id") % 25 == 0)
                 .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    base = emb.select("vec_id", "embedding").unionByName(copies)
    bucketed = base.withColumn("b", sign_bucket(F.col("embedding"), 4))
    x = bucketed.alias("x")
    y = bucketed.alias("y")
    pairs = (x.join(y, (F.col("x.b") == F.col("y.b"))
                    & (F.col("x.vec_id") < F.col("y.vec_id")))
             .select(F.col("x.vec_id").alias("id_a"),
                     F.col("y.vec_id").alias("id_b"),
                     F.round(cosine(F.col("x.embedding"), F.col("y.embedding")), 6)
                      .alias("cos_sim")))
    return pairs.filter(F.col("cos_sim") >= 0.999)


# --- multimodal: resize (downsample) stub ---------------------------------
# Every stride-th byte survives (PIL Image.resize slots into the same
# mapInPandas contract); byte selection replayed in SQL over the hex
# encoding, so even the resize plumbing is value-oracled.

@_q("multimodal_resize", """
SELECT doc_id,
       octet_length(encode(text)) AS orig_bytes,
       (octet_length(encode(text)) + 3) // 4 AS resized_bytes,
       md5(array_to_string(list_transform(
           range((octet_length(encode(text)) + 3) // 4),
           i -> substring(hex(encode(text)), i * 8 + 1, 2)), '')) AS resized_md5
FROM documents WHERE doc_id < 500
""")
def multimodal_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import resize_media

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = to_media_column(docs, "doc_id", "text")
    return resize_media(media, stride=4)


# --- real image decode: synthetic PPM -> pure-Python parser -> stats -------
# The decode step is NOT a stub here: synth_images emits genuine PPM P6
# files (header + raw RGB rows) whose pixel bytes are the md5 digest of
# the doc id repeated, and image_stats runs the real parser inside
# mapInPandas. The oracle replays the GENERATIVE formula (byte i of the
# stream = hex pair i%16 of md5(id)) in SQL — any header misparse or
# channel-order slip in the parser shifts the channel sums and fails the
# hash. BMP (padding + bottom-up BGR) is covered by the roundtrip unit
# test; its layout is deliberately not replicated in SQL.

@_q("multimodal_image_decode", """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 200),
b AS (
  SELECT doc_id, w, h,
         CAST(concat('0x', substr(hx, (i % 16) * 2 + 1, 2)) AS INTEGER) AS byte,
         i % 3 AS chan
  FROM d, unnest(range(w * h * 3)) AS t(i))
SELECT doc_id,
       CAST(MIN(w) AS INTEGER) AS width,
       CAST(MIN(h) AS INTEGER) AS height,
       CAST(MIN(w) * MIN(h) AS BIGINT) AS n_pixels,
       CAST(SUM(CASE WHEN chan = 0 THEN byte ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN chan = 1 THEN byte ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN chan = 2 THEN byte ELSE 0 END) AS BIGINT) AS sum_b
FROM b GROUP BY doc_id
""")
def multimodal_image_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import (
        image_stats, synth_images)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return image_stats(synth_images(docs, "doc_id", fmt="ppm"))


# --- Python UDTF: sentence splitting (lateral table function) -------------

@_q("udtf_sentence_split", """
SELECT doc_id, CAST(i AS INTEGER) AS sent_idx,
       CAST(length(parts[i + 1]) AS INTEGER) AS n_chars
FROM (SELECT doc_id, string_split(text, '. ') AS parts
      FROM documents WHERE doc_id < 300),
     unnest(range(len(parts))) AS t(i)
""")
def udtf_sentence_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.text import sentence_split_udtf

    spark.udtf.register("sentence_split", sentence_split_udtf())
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.n_chars "
        "FROM _udtf_docs d, LATERAL sentence_split(d.doc_id, d.text) s")


# --- benchmark decontamination: train/holdout n-gram overlap ---------------
# The pre-training hygiene pass: which holdout docs share any word
# 5-gram with a training doc? Inverted-index equi-join on the n-gram
# (the jaccard_pairs shape — shuffle key = n-gram, never a doc cross
# join), stop-shingle ceiling on the train index mirrored by the
# oracle's HAVING.

@_q("decontamination_overlap", """
WITH d AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
           FROM documents WHERE doc_id < 500),
sh AS (SELECT doc_id,
              CASE WHEN len(w) >= 5
                   THEN list_distinct(list_transform(range(len(w) - 4),
                        i -> array_to_string(w[i+1:i+5], ' ')))
                   ELSE [] END AS s
       FROM d),
tr0 AS (SELECT doc_id AS tid, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 9),
rare AS (SELECT g FROM tr0 GROUP BY g HAVING COUNT(*) <= 100),
tr AS (SELECT tr0.tid, tr0.g FROM tr0 JOIN rare USING (g)),
ev AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 = 9)
SELECT ev.doc_id, COUNT(DISTINCT tr.tid) AS n_train_docs,
       COUNT(DISTINCT ev.g) AS n_shared_ngrams
FROM ev JOIN tr USING (g) GROUP BY ev.doc_id
""")
def decontamination_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import contamination_check

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    train = docs.filter(F.col("doc_id") % 10 != 9)
    holdout = docs.filter(F.col("doc_id") % 10 == 9)
    return contamination_check(train, holdout, "doc_id", "text",
                               n=5, max_doc_freq=100)


# --- context-window chunking (LLM sequence prep) ---------------------------
# Fixed token windows with overlap: starts at 0, stride, 2*stride ...
# (ceil(n/stride) chunks/doc). Zero shuffle — per-row array expressions
# + one posexplode; md5 over the rejoined window fingerprints content.

@_q("context_window_chunks", """
WITH d AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
           FROM documents WHERE doc_id < 500)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       CAST(len(w[(i*24)+1:(i*24)+32]) AS INTEGER) AS n_tokens,
       md5(array_to_string(w[(i*24)+1:(i*24)+32], ' ')) AS chunk_md5
FROM d, unnest(range(CAST(ceil(len(w) / 24.0) AS BIGINT))) AS t(i)
""")
def context_window_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.text import chunk_tokens

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return chunk_tokens(docs, "doc_id", "text", window=32, stride=24)


# --- sequence packing into fixed token budgets -----------------------------
# Running token total within (lang, doc-shard) groups — the shard bound
# (256 docs) keeps even a dominant language from funneling through one
# window task (a GLOBAL order-by window is the anti-pattern; a per-lang
# one merely defers it to the biggest language). bin = floor(pre/512),
# offset = pre % 512. Deterministic, no RNG.

@_q("pack_documents_bins", """
WITH d AS (
  SELECT doc_id, lang,
         lang || '|' || CAST(CAST(FLOOR(doc_id / 256) AS BIGINT) AS VARCHAR)
           AS grp,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, lang, grp, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS pre
  FROM d)
SELECT doc_id, grp, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(FLOOR(pre / 512.0) AS BIGINT) AS bin_id,
       CAST(pre % 512 AS BIGINT) AS bin_offset
FROM c
""")
def pack_documents_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.text import (
        pack_documents, token_count)

    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.concat_ws("|", F.col("lang"),
                    F.floor(F.col("doc_id") / 256).cast("long")
                     .cast("string")).alias("grp"),
        token_count("text").alias("n_tok"))
    return pack_documents(sized, "doc_id", "n_tok", "grp", budget=512)


# --- native session windows (batch) ---------------------------------------
# Spark's built-in F.session_window (the engine primitive behind
# streaming sessionization) cross-checked against an INDEPENDENT
# formulation: the oracle rebuilds sessions via lag + running-sum of
# new-session flags. Boundary semantics verified equal: a new session
# starts when the gap is >= the 1 h timeout (session_window merges an
# event only while ts < previous end = prev ts + gap); window end =
# last event + gap.

@_q("session_window_native", """
WITH ordered AS (
  SELECT user_id, ts,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN gap_us IS NULL OR gap_us >= 3600000000 THEN 1 ELSE 0 END AS new_s
  FROM ordered
), sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 1 HOUR AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""")
def session_window_native_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select("user_id",
                      F.col("w.start").alias("session_start"),
                      F.col("w.end").alias("session_end"),
                      "n_events"))


# --- higher-order array functions over embeddings --------------------------
# The lambda-expression family (filter / transform / aggregate) as pure
# column expressions — sequential left-to-right double accumulation is
# order-identical in both engines, so even the float sums are
# bit-portable; outputs still land as scaled integers per the
# cross-engine rules.

@_q("array_higher_order_stats", """
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
       CAST(FLOOR(list_sum(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) * 1000) AS BIGINT) AS l1_millis,
       CAST(FLOOR(list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) * 1000) AS BIGINT) AS max_abs_millis
FROM embeddings
""")
def array_higher_order_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    absd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_pos"),
        F.floor(F.aggregate(absd, F.lit(0.0),
                            lambda acc, x: acc + x) * 1000)
         .cast("long").alias("l1_millis"),
        F.floor(F.array_max(absd) * 1000).cast("long").alias("max_abs_millis"))


# --- distinctive terms per document (keyword extraction) -------------------
# TF-IDF's decision — frequent in THIS doc, rare in the corpus — as a
# pure integer ranking (tf DESC, df ASC, token ASC), so no cross-engine
# log()/float risk at the cut boundary. Two map-side-combine aggs (term
# frequency per doc, document frequency per token) + one window; the df
# join broadcasts when the vocabulary is small, shuffles on the token
# otherwise — never doc × vocab.

@_q("distinctive_terms_topk", """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS t
  FROM documents WHERE doc_id < 300),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
SELECT doc_id, t AS token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM (SELECT tf.doc_id, tf.t, tf.tf, df.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.t ASC) AS rn
      FROM tf JOIN df USING (t))
WHERE rn <= 3
""")
def distinctive_terms_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = docs.select("doc_id",
                       F.explode(X.tokens(F.lower("text"))).alias("t"))
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    w = (Window.partitionBy("doc_id")
               .orderBy(F.col("tf").desc(), F.col("df").asc(),
                        F.col("t").asc()))
    return (tf.join(df, "t")
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 3)
              .select("doc_id", F.col("t").alias("token"), "tf", "df"))


# --- per-(source, lang) quota sampling -------------------------------------
# Domain/language capping for pretraining mixes: keep at most 50 docs
# per (source, lang), chosen by md5 hash order so the "random" subset is
# reproducible across runs, engines, and incremental appends (no RNG
# state). One shuffle on the group key; see extensions/dedup.py
# quota_sample for the scale notes.

@_q("source_quota_sample", """
SELECT source, lang, doc_id, CAST(rn AS INTEGER) AS rn
FROM (SELECT source, lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY md5('quota-v1|' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rn
      FROM documents)
WHERE rn <= 50
""")
def source_quota_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import quota_sample

    docs = load(spark, sf_dir, "documents")
    return (quota_sample(docs, "doc_id", ["source", "lang"],
                         max_per_group=50)
            .select("source", "lang", "doc_id", "rn"))


# --- Z-order (Morton) layout values ----------------------------------------
# The multi-dimensional data-skipping layout: interleave the low 8 bits
# of (orderkey, partkey) so sorting by zval clusters rows close in BOTH
# dimensions into the same file's min-max stats. Pure integer bit math —
# the oracle runs the machine-identical expression emitted by
# zorder_sql_expr. zbucket (= zval >> 8) is the coarse block a row's
# file would own under range-partitioned writes.

from pyspark_etl_project_spark.extensions.layout import (  # noqa: E402
    zorder_sql_expr, zorder_value)

@_q("zorder_layout_sample", f"""
SELECT l_orderkey, l_linenumber, l_partkey,
       CAST({zorder_sql_expr(['l_orderkey', 'l_partkey'], bits=8)} AS BIGINT)
         AS zval,
       CAST(({zorder_sql_expr(['l_orderkey', 'l_partkey'], bits=8)} >> 8)
         AS BIGINT) AS zbucket
FROM lineitem WHERE l_orderkey < 400
""")
def zorder_layout_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400)
    z = zorder_value(["l_orderkey", "l_partkey"], bits=8)
    return li.select(
        "l_orderkey", "l_linenumber", "l_partkey",
        z.cast("long").alias("zval"),
        F.shiftright(z, 8).cast("long").alias("zbucket"))


# --- custom Python DataSource scan ------------------------------------------
# The Spark 4 extensibility path: a from-scratch batch source
# (sources/docsynth_source.py) that declares schema + input splits and
# emits Arrow RecordBatches; Spark schedules one task per declared
# split. The generation is pure multiplicative-hash arithmetic, so the
# oracle replays it from range() — the source's row SET is
# partitioning-independent and retry-idempotent by construction.

@_q("python_datasource_scan", """
WITH d AS (
  SELECT i AS doc_id, (i * 2654435761) % 4294967296 AS h,
         (i * 1315423911) % 1000000007 AS checksum
  FROM range(0, 5000) t(i)),
typed AS (
  SELECT doc_id,
         CASE h % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                    WHEN 2 THEN 'fr' ELSE 'es' END AS lang,
         10 + (h // 16) % 90 AS n_tokens, checksum
  FROM d)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
       CAST(SUM(checksum) AS BIGINT) AS chk_sum,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM typed GROUP BY lang
""")
def python_datasource_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.sources.docsynth_source import (
        DocSynthDataSource)

    spark.dataSource.register(DocSynthDataSource)
    docs = (spark.read.format("docsynth")
            .option("n_docs", 5000).option("partitions", 8).load())
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("tok_sum"),
                 F.sum("checksum").cast("long").alias("chk_sum"),
                 F.min("doc_id").cast("long").alias("min_id"),
                 F.max("doc_id").cast("long").alias("max_id")))


# --- incremental aggregate maintenance --------------------------------------
# The materialized-rollup pattern: the aggregate STATE table is folded
# forward batch by batch (operators/incremental.py) instead of
# rescanning history — three event batches replayed here, and the final
# state must equal the one-shot GROUP BY, which is the oracle. Each
# merge shuffles only aggregate-sized inputs (distinct groups), and
# partials are count/sum/min/max — decomposable by construction, so
# batch order and batching cannot change the result.

@_q("incremental_agg_merge", """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS cents,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id
FROM events GROUP BY event_type
""")
def incremental_agg_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.incremental import (
        merge_agg_state, partial_agg)

    metrics = {"n_events": ("count", "event_id"),
               "cents": ("sum", "cents"),
               "min_id": ("min", "event_id"),
               "max_id": ("max", "event_id")}
    ev = (load(spark, sf_dir, "events")
          .select("event_id", "event_type",
                  F.floor(F.col("value").cast("decimal(18,6)") * 100)
                   .cast("long").alias("cents")))
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    state = partial_agg(batches[0], ["event_type"], metrics)
    for b in batches[1:]:
        state = merge_agg_state(state, partial_agg(b, ["event_type"], metrics),
                                ["event_type"], metrics)
    return state


# --- int8 scalar-quantized ANN top-k ---------------------------------------
# The memory path: per-dim min/max "trains" the quantizer (64 rows to
# the driver, like the IVF centroid build) and collapses to ONE global
# symmetric scale — uniform scaling is what keeps the integer code dot
# product monotone in the float dot product (per-dim scales would score
# a 1/s_i^2-weighted inner product and re-rank results). Vectors become
# int8 codes (4x smaller than float32 — the difference between an
# embedding store that fits executor memory at 100 TB and one that
# doesn't), and scoring is an exact integer dot product — so the
# approximate RANKING is deterministic and the oracle replays it
# bit-for-bit.

@_q("embedding_quantized_topk", """
WITH gs AS (
  SELECT GREATEST(ABS(MIN(CAST(x AS DOUBLE))),
                  ABS(MAX(CAST(x AS DOUBLE)))) AS s
  FROM (SELECT unnest(embedding) AS x FROM embeddings WHERE vec_id <> 0)),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qc AS (
  SELECT t.i AS pos,
         CASE WHEN gs.s = 0 THEN 0
              ELSE LEAST(127, GREATEST(-127,
                CAST(FLOOR(CAST(q.qe[t.i+1] AS DOUBLE) * 127.0 / gs.s)
                     AS BIGINT))) END AS qcode
  FROM q, gs, (SELECT unnest(range(len(qe))) AS i FROM q) t),
scored AS (
  SELECT e.vec_id,
         SUM((CASE WHEN gs.s = 0 THEN 0
              ELSE LEAST(127, GREATEST(-127,
                CAST(FLOOR(CAST(e.embedding[c.pos+1] AS DOUBLE) * 127.0
                           / gs.s) AS BIGINT))) END)
             * c.qcode) AS qdot
  FROM embeddings e, qc c, gs
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id)
SELECT vec_id, CAST(qdot AS BIGINT) AS qdot
FROM scored ORDER BY qdot DESC, vec_id LIMIT 10
""")
def embedding_quantized_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import (
        dim_minmax, global_scale, quantized_topk)

    emb = load(spark, sf_dir, "embeddings")
    qvec = (emb.filter(F.col("vec_id") == 0)
            .select("embedding").first()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    s = global_scale(dim_minmax(corpus))
    return quantized_topk(corpus, list(qvec), s, k=10)


# Two-stage variant: the int8 scan keeps k*m candidates, a 2^20-level
# integer re-score cuts them to k. Both stages are exact int64 math, so
# the whole refinement — candidate cut included — replays bit-for-bit
# in the oracle. Measured recall@10 vs exact float32 = 1.0 at both test
# SFs (the pure int8 stage alone is 0.9-1.0).

@_q("embedding_quantized_rerank_topk", """
WITH gs AS (
  SELECT GREATEST(ABS(MIN(CAST(x AS DOUBLE))),
                  ABS(MAX(CAST(x AS DOUBLE)))) AS s
  FROM (SELECT unnest(embedding) AS x FROM embeddings WHERE vec_id <> 0)),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qc AS (
  SELECT t.i AS pos,
         CASE WHEN gs.s = 0 THEN 0
              ELSE LEAST(127, GREATEST(-127,
                CAST(FLOOR(CAST(q.qe[t.i+1] AS DOUBLE) * 127.0 / gs.s)
                     AS BIGINT))) END AS qcode,
         CASE WHEN gs.s = 0 THEN 0
              ELSE LEAST(1048575, GREATEST(-1048575,
                CAST(FLOOR(CAST(q.qe[t.i+1] AS DOUBLE) * 1048575.0 / gs.s)
                     AS BIGINT))) END AS qrcode
  FROM q, gs, (SELECT unnest(range(len(qe))) AS i FROM q) t),
scored AS (
  SELECT e.vec_id,
         SUM((CASE WHEN gs.s = 0 THEN 0
              ELSE LEAST(127, GREATEST(-127,
                CAST(FLOOR(CAST(e.embedding[c.pos+1] AS DOUBLE) * 127.0
                           / gs.s) AS BIGINT))) END)
             * c.qcode) AS qdot,
         SUM((CASE WHEN gs.s = 0 THEN 0
              ELSE LEAST(1048575, GREATEST(-1048575,
                CAST(FLOOR(CAST(e.embedding[c.pos+1] AS DOUBLE) * 1048575.0
                           / gs.s) AS BIGINT))) END)
             * c.qrcode) AS rdot
  FROM embeddings e, qc c, gs
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id),
cand AS (
  SELECT vec_id, CAST(qdot AS BIGINT) AS qdot, CAST(rdot AS BIGINT) AS rdot
  FROM scored ORDER BY qdot DESC, vec_id LIMIT 40)
SELECT vec_id, qdot, rdot
FROM cand ORDER BY rdot DESC, vec_id LIMIT 10
""")
def embedding_quantized_rerank_topk_q(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import (
        dim_minmax, global_scale, quantized_topk)

    emb = load(spark, sf_dir, "embeddings")
    qvec = (emb.filter(F.col("vec_id") == 0)
            .select("embedding").first()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    s = global_scale(dim_minmax(corpus))
    return quantized_topk(corpus, list(qvec), s, k=10, rerank=4)


# --- deterministic global shuffle (training-data ordering) ------------------
# The seeded corpus permutation every training run needs: key rows by
# md5(seed||id), order globally by the key — distributed via the
# two-phase range-partitioned row number (never a one-task window; same
# machinery as the SCD2 dense surrogate ids). The oracle's global
# ROW_NUMBER proves the distributed position assignment is byte-equal
# to a true total sort.

from pyspark_etl_project_spark.extensions.layout import (  # noqa: E402
    deterministic_shuffle)

@_q("deterministic_shuffle_order", """
SELECT doc_id, md5('42|' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(ROW_NUMBER() OVER (
            ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id)
         AS BIGINT) AS pos
FROM documents
""")
def deterministic_shuffle_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return (deterministic_shuffle(docs, "doc_id", seed=42,
                                  key_col="shuffle_key")
            .select("doc_id", "shuffle_key", "pos"))


# --- C4-style boilerplate line scrubbing ------------------------------------
# Drop every 'line' occurring in >10% of documents (nav bars, footers),
# rebuild each doc from its surviving lines in order. The synthetic
# corpus is single-line, so a line is a 2-token run — the split rule is
# one expression; the frequency/join/reassembly machinery is what runs
# on real newline-split corpora. Scale: line document-frequency is an
# explicit two-phase aggregate ((line, doc)-keyed distinct, then
# map-combined count — no shuffle keyed on the skewed line string
# alone), the keep-filter is a broadcast left join against the bounded
# above-cutoff line set, reassembly shuffles on doc_id — nothing
# all-pairs, no driver state beyond one scalar count.

from pyspark_etl_project_spark.extensions.text import (  # noqa: E402
    remove_boilerplate_lines)

@_q("boilerplate_line_scrub", """
WITH split AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(len(toks))) AS pos
  FROM split),
lines AS (
  SELECT doc_id, CAST(FLOOR(pos / 2) AS INTEGER) AS line_idx,
         string_agg(tok, ' ' ORDER BY pos) AS line
  FROM tok GROUP BY doc_id, CAST(FLOOR(pos / 2) AS INTEGER)
),
linedf AS (SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line),
total AS (
  SELECT GREATEST(1, CAST(FLOOR(COUNT(*) * 0.10) AS BIGINT)) AS cutoff
  FROM documents),
kept AS (
  SELECT l.doc_id, l.line_idx, l.line, (d.n_docs <= t.cutoff) AS keep
  FROM lines l JOIN linedf d USING (line) CROSS JOIN total t
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN keep THEN line END, ' '
                           ORDER BY line_idx), '') AS cleaned_text,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_removed
FROM kept GROUP BY doc_id
""")
def boilerplate_line_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_boilerplate_lines(docs, "doc_id", "text",
                                    line_tokens=2, max_doc_frac=0.10)


# --- temperature-weighted mixture sampling ----------------------------------
# Source re-balancing for pretraining mixtures: quotas ∝ sqrt(n_i)
# (temperature 0.5), filled in deterministic md5 order. The sqrt is the
# ONLY float op and is IEEE-correctly-rounded everywhere; it is floored
# into a BIGINT weight and the quota split is exact integer arithmetic,
# so both engines compute identical quotas. One shuffle on source, one
# k-row broadcast.

from pyspark_etl_project_spark.extensions.dedup import (  # noqa: E402
    temperature_mixture_sample)

@_q("temperature_mixture_sample", """
WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
w AS (SELECT source, CAST(FLOOR(SQRT(n) * 1000000) AS BIGINT) AS w FROM counts),
tw AS (SELECT SUM(w) AS tw FROM w),
quotas AS (
  SELECT source, GREATEST(CAST(1 AS BIGINT), (200 * w) // tw) AS quota
  FROM w CROSS JOIN tw),
ranked AS (
  SELECT d.doc_id, d.source,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY md5('temp-v1|' || CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS rn
  FROM documents d)
SELECT r.doc_id, r.source, CAST(r.rn AS INTEGER) AS rn
FROM ranked r JOIN quotas q USING (source) WHERE r.rn <= q.quota
""")
def temperature_mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return (temperature_mixture_sample(docs, "doc_id", "source", budget=200)
            .select("doc_id", "source", "rn"))


# --- flagship corpus-curation pipeline --------------------------------------
# The end-to-end curation flow a pretraining corpus goes through, as ONE
# plan: exact dedup (normalized fingerprint, keep lowest id) → integer-
# exact quality gate (token band + repetition cap) → language-ID →
# deterministic split → per-(split, lang) mixture stats. Every stage is
# the production operator, not a re-implementation; the oracle replays
# the identical math. Scale: one shuffle on the fingerprint, the rest
# row-wise expressions until the final bounded groupBy.

@_q("curation_pipeline_full", """
WITH base AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS lw
  FROM documents),
surv AS (
  SELECT doc_id, w, lw FROM (
    SELECT doc_id, w, lw,
           ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM base) WHERE rn = 1),
feat AS (
  SELECT doc_id, len(w) AS n_tokens,
         CASE WHEN list_has_any(lw, ['the', 'and', 'of']) THEN 'en'
              WHEN list_has_any(lw, ['der', 'und', 'die']) THEN 'de'
              WHEN list_has_any(lw, ['el', 'de', 'la']) THEN 'es'
              ELSE 'und' END AS glang,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(len(w) - 1),
                                  i -> concat(w[i+1], ' ', w[i+2]))
              ELSE [] END AS g
  FROM surv),
gated AS (
  SELECT doc_id, n_tokens, glang FROM (
    SELECT doc_id, n_tokens, glang,
           CASE WHEN len(g) > 0
                THEN CAST(FLOOR((len(g) - len(list_distinct(g))) * 10000.0
                                / len(g)) AS BIGINT)
                ELSE 0 END AS dup_bp
    FROM feat)
  WHERE n_tokens BETWEEN 10 AND 10000 AND glang <> 'und' AND dup_bp < 4000),
assigned AS (
  SELECT doc_id, n_tokens, glang,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, n_tokens, glang,
               CAST(concat('0x', substring(
                   md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 4))
                 AS INTEGER) % 100 AS b
        FROM gated))
SELECT split, glang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id
FROM assigned GROUP BY split, glang
""")
def curation_pipeline_full_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import deterministic_split

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # Features are computed MAP-SIDE, before the dedup window, so the
    # fingerprint exchange moves four small columns instead of the text
    # blob (guide §2.2: shuffle fewer bytes — the text is ~30x the
    # feature width; the extra feature CPU spent on rows the window
    # then drops is bounded by the dup fraction). The arrays are staged
    # as named columns so each is computed once per row (CollapseProject
    # keeps non-cheap multiply-referenced expressions staged); passing
    # X.word_ngrams("text", 2) inline to X.dup_bp_from_ngrams would
    # rebuild the gram array 3x per row and re-split the text each time.
    staged = docs.select(
        "doc_id",
        X.normalized_fingerprint("text").alias("fingerprint"),
        X.tokens("text").alias("_w"),
        X.tokens(F.lower(F.col("text"))).alias("_lw"),
        X.word_ngrams("text", 2).alias("_g"))
    feat = staged.select(
        "doc_id", "fingerprint",
        F.size("_w").alias("n_tokens"),
        X.lang_id_from_tokens("_lw").alias("glang"),
        X.dup_bp_from_ngrams("_g").alias("dup_bp"))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    surv = (feat.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1))
    gated = surv.filter((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 10000)
                        & (F.col("glang") != "und") & (F.col("dup_bp") < 4000))
    assigned = deterministic_split(gated, "doc_id",
                                   {"train": 90, "val": 5, "test": 5})
    return (assigned.groupBy("split", "glang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.min("doc_id").alias("min_doc_id")))


# --- incremental batch dedup against an existing corpus ---------------------
# The production shape for daily crawl increments: the new batch drops
# (a) exact dups of the existing corpus — an ANTI join on the normalized
# fingerprint, co-partitioned with (b) the intra-batch keep-lowest-id
# window on the same key. Nothing rescans corpus text: at 100 TB the
# corpus side is its (fingerprint → doc_id) index, not the documents.

@_q("incremental_dedup_new_batch", """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents),
corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 400),
batch AS (SELECT * FROM fp WHERE doc_id >= 400),
fresh AS (
  SELECT b.doc_id, b.fingerprint FROM batch b
  ANTI JOIN corpus c ON b.fingerprint = c.fingerprint)
SELECT doc_id, fingerprint FROM (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM fresh) WHERE rn = 1
""")
def incremental_dedup_new_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    fp = docs.select("doc_id",
                     X.normalized_fingerprint("text").alias("fingerprint"))
    corpus = fp.filter(F.col("doc_id") < 400).select("fingerprint").distinct()
    batch = fp.filter(F.col("doc_id") >= 400)
    fresh = batch.join(corpus, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (fresh.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .select("doc_id", "fingerprint"))


# --- curated-corpus sink roundtrip ------------------------------------------
# Gates extensions/corpus.py end-to-end: featurize documents (token
# count + lang-ID + deterministic split), WRITE the (split, lang)-
# partitioned corpus with its stats sidecar, read ONE split back through
# the partition-pruned path, and join the re-aggregated counts against
# the sidecar. The inner join means a missing or inconsistent sidecar
# row changes the output (row count or values) and fails the hash — the
# sidecar's write-read consistency is part of the gate, not just the
# data roundtrip. The oracle replays the same math straight off the
# documents table: the write→read hop must be semantically invisible.

from pyspark_etl_project_spark.extensions.corpus import (  # noqa: E402
    corpus_stats, read_corpus, write_curated_corpus)


@_q("curated_corpus_roundtrip", """
WITH feat AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
         CASE WHEN list_has_any(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''),
                                ['the', 'and', 'of']) THEN 'en'
              WHEN list_has_any(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''),
                                ['der', 'und', 'die']) THEN 'de'
              WHEN list_has_any(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''),
                                ['el', 'de', 'la']) THEN 'es'
              ELSE 'und' END AS lang
  FROM documents),
assigned AS (
  SELECT doc_id, n_tokens, lang,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, n_tokens, lang,
               CAST(concat('0x', substring(
                   md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 4))
                 AS INTEGER) % 100 AS b
        FROM feat)),
agg AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         MIN(doc_id) AS min_doc_id
  FROM assigned WHERE split = 'train' GROUP BY lang)
SELECT lang, n_docs, total_tokens, min_doc_id,
       n_docs AS stats_n_docs, total_tokens AS stats_total_tokens
FROM agg
""")
def curated_corpus_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark_etl_project_spark.extensions.dedup import deterministic_split

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.select("doc_id",
                         X.tokens("text").alias("_w"),
                         X.tokens(F.lower(F.col("text"))).alias("_lw"))
    feat = staged.select("doc_id",
                         F.size("_w").alias("n_tokens"),
                         X.lang_id_from_tokens("_lw").alias("lang"))
    assigned = deterministic_split(feat, "doc_id",
                                   {"train": 90, "val": 5, "test": 5})
    path = os.path.join(tempfile.mkdtemp(prefix="curated_corpus_"), "corpus")
    write_curated_corpus(assigned, path)
    train = read_corpus(spark, path, split="train")
    agg = (train.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("total_tokens"),
                F.min("doc_id").alias("min_doc_id")))
    stats = (corpus_stats(spark, path)
             .filter(F.col("split") == "train")
             .select("lang", F.col("n_docs").alias("stats_n_docs"),
                     F.col("total_tokens").alias("stats_total_tokens")))
    return agg.join(stats, "lang")


# --- winnowing document fingerprints ----------------------------------------
# Rolling-gram-hash fingerprinting (Schleimer et al., SIGMOD 2003): the
# position-robust document signature for verbatim-overlap detection —
# any sufficiently long shared passage between two documents is
# GUARANTEED to share a selected fingerprint, unlike minhash (which
# bounds Jaccard, not containment). k=3-token grams, window of 4 gram
# hashes, min per window, distinct. The oracle replays the identical
# gram construction, md5-prefix hash, and windowed min in DuckDB.

from pyspark_etl_project_spark.extensions.text import (  # noqa: E402
    winnowing_fingerprints)


@_q("doc_fingerprint_winnowing", """
WITH w0 AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents),
g AS (
  SELECT doc_id, len(w) - 2 AS n_grams, i AS pos,
         CAST(concat('0x', substring(
             md5(concat_ws(' ', w[i+1], w[i+2], w[i+3])), 1, 8))
           AS BIGINT) AS h
  FROM w0, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
mins AS (
  SELECT doc_id, pos, n_grams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g)
SELECT DISTINCT doc_id, fp FROM mins WHERE pos <= n_grams - 4
""")
def doc_fingerprint_winnowing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return winnowing_fingerprints(docs, "doc_id", "text", k=3, window=4)


# --- baseline JPEG decode, gated end-to-end ---------------------------------
# Same shape as multimodal_image_decode but the payloads are REAL
# baseline JPEGs (4:2:0 + restart markers) produced and consumed by the
# pure-numpy codec (extensions/jpeg.py). Solid md5-derived colors are
# the pixel pattern the lossy codec roundtrips exactly (DC-only blocks
# at quant=1), so exact channel sums stay cross-engine checkable: any
# Huffman/IDCT/upsample/restart slip in the decoder shifts a sum and
# fails the hash.

@_q("multimodal_jpeg_decode", """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 200)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(w * h * CAST(concat('0x', substr(hx, 1, 2)) AS INTEGER)
            AS BIGINT) AS sum_r,
       CAST(w * h * CAST(concat('0x', substr(hx, 3, 2)) AS INTEGER)
            AS BIGINT) AS sum_g,
       CAST(w * h * CAST(concat('0x', substr(hx, 5, 2)) AS INTEGER)
            AS BIGINT) AS sum_b
FROM d
""")
def multimodal_jpeg_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import (
        image_stats, synth_images)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return image_stats(synth_images(docs, "doc_id", fmt="jpeg"))


# --- incremental NEAR-dup against a corpus band index -----------------------
# The near-dup analogue of incremental_dedup_new_batch: the corpus
# persists only its distinct (band_id, band_hash) bucket set; the daily
# batch shingles/minhashes itself, semi-joins the index for corpus
# collisions, and one-hop self-joins its own clean buckets for
# intra-batch collisions. The oracle replays signatures, banding, and
# the exact three-way status rule. Corpus text is never re-shingled —
# the 100 TB daily-increment contract.

def _mh_bands_sql(src: str) -> str:
    return f"""(
  SELECT doc_id, b AS band_id,
         md5(sg[2*b+1] || '|' || sg[2*b+2]) AS band_hash
  FROM (SELECT doc_id, [{_MINHASH_SIG_SQL}] AS sg
        FROM (SELECT doc_id,
                     list_distinct(list_transform(range(len(w) - 2),
                         i -> array_to_string(w[i+1:i+3], ' '))) AS sh
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
                    FROM {src}))
        WHERE len(sh) > 0),
       unnest(range(4)) AS t(b))"""


from pyspark_etl_project_spark.extensions.dedup import (  # noqa: E402
    build_band_index, incremental_minhash_dedup)


@_q("incremental_neardup_new_batch", f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
newb AS (
  SELECT doc_id + 1000000 AS doc_id, text || ' extratoken' AS text
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id >= 400),
cindex AS (
  SELECT DISTINCT band_id, band_hash FROM {_mh_bands_sql('corpus')} c),
bbands AS (SELECT * FROM {_mh_bands_sql('newb')} nb),
corpus_dups AS (
  SELECT DISTINCT doc_id FROM bbands b
  WHERE EXISTS (SELECT 1 FROM cindex i
                WHERE i.band_id = b.band_id
                  AND i.band_hash = b.band_hash)),
clean AS (
  SELECT * FROM bbands WHERE doc_id NOT IN (SELECT doc_id FROM corpus_dups)),
batch_dups AS (
  SELECT DISTINCT x.doc_id FROM clean x
  JOIN clean y ON x.band_id = y.band_id AND x.band_hash = y.band_hash
              AND y.doc_id < x.doc_id)
SELECT n.doc_id,
       CASE WHEN cd.doc_id IS NOT NULL THEN 'corpus_dup'
            WHEN bd.doc_id IS NOT NULL THEN 'batch_dup'
            ELSE 'fresh' END AS status
FROM newb n
LEFT JOIN corpus_dups cd ON n.doc_id = cd.doc_id
LEFT JOIN batch_dups bd ON n.doc_id = bd.doc_id
""")
def incremental_neardup_new_batch_q(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    near = (docs.filter(F.col("doc_id") < 50)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" extratoken"))
                     .alias("text")))
    batch = near.unionByName(docs.filter(F.col("doc_id") >= 400))
    index = build_band_index(corpus, "text")
    return incremental_minhash_dedup(batch, index, "doc_id", "text")


# --- URL canonicalization + URL-level dedup ---------------------------------
# The first dedup pass of a crawl pipeline: collapse fetches that
# differ only in case, www., default ports, tracking params, param
# order, fragments, or trailing slashes. URLs are synthesized
# deterministically from doc_id (messy on purpose: mixed-case scheme/
# host, :80/:8080, utm params in shuffled order, fragments) and the
# oracle replays BOTH the synthesis and every canonicalization rule —
# engines must agree on the exact canonical string to group identically.

from pyspark_etl_project_spark.extensions.web import url_dedup  # noqa: E402


@_q("url_canonical_dedup", """
WITH raw AS (
  SELECT doc_id,
         (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
               ELSE 'http' END)
         || '://'
         || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
         || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
         || (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':8080'
                  ELSE '' END)
         || '/p/' || CAST(doc_id % 11 AS VARCHAR)
         || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0
                  THEN '?b=' || CAST(doc_id % 5 AS VARCHAR)
                       || '&utm_source=feed&a=1'
                  ELSE '?a=1&b=' || CAST(doc_id % 5 AS VARCHAR) END)
         || (CASE WHEN doc_id % 3 = 0 THEN '#Sec' ELSE '' END) AS url
  FROM documents WHERE doc_id < 500),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM raw),
s2 AS (
  SELECT doc_id, url,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM s1),
s3 AS (
  SELECT doc_id, url, scheme,
         regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
                        '^.*@', '') AS hostport,
         regexp_replace(rest, '^[^/?]*', '') AS pathq
  FROM s2),
s4 AS (
  SELECT doc_id, url, scheme,
         CASE WHEN hostport LIKE '[%'
              THEN lower(regexp_extract(hostport,
                                        '^(\\[[^\\]]*\\])', 1))
              ELSE regexp_replace(
                     lower(regexp_extract(hostport, '^([^:]*)', 1)),
                     '^www\\.', '') END AS host,
         regexp_extract(hostport, ':(\\d+)$', 1) AS port0,
         regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '')
           AS path0,
         regexp_extract(pathq, '\\?(.*)$', 1) AS query
  FROM s3),
s5 AS (
  SELECT doc_id, url, scheme, host,
         CASE WHEN scheme = 'http' AND port0 = '80' THEN ''
              WHEN scheme = 'https' AND port0 = '443' THEN ''
              ELSE port0 END AS port,
         CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qn
  FROM s4)
SELECT scheme || '://' || host
       || CASE WHEN port = '' THEN '' ELSE ':' || port END
       || path
       || CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS canonical_url,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT url) AS n_raw_variants,
       MIN(doc_id) AS keep_id
FROM s5 GROUP BY 1
""")
def url_canonical_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = F.col("doc_id")
    url = F.concat(
        F.when(doc % 3 == 0, F.lit("HTTP"))
         .when(doc % 3 == 1, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(doc % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (doc % 7).cast("string"), F.lit(".Example.COM"),
        F.when(doc % 5 == 0, F.lit(":80"))
         .when(doc % 5 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"), (doc % 11).cast("string"),
        F.when(doc % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(doc % 2 == 0,
               F.concat(F.lit("?b="), (doc % 5).cast("string"),
                        F.lit("&utm_source=feed&a=1")))
         .otherwise(F.concat(F.lit("?a=1&b="), (doc % 5).cast("string"))),
        F.when(doc % 3 == 0, F.lit("#Sec")).otherwise(F.lit("")))
    docs = (load(spark, sf_dir, "documents").filter(doc < 500)
            .select(doc, url.alias("url")))
    return url_dedup(docs, "doc_id", "url")


# --- Bloom-pruned join ------------------------------------------------------
# Runtime row-level filtering as an explicit operator: the big side is
# prefiltered by an 8 KiB bloom of the small side's key set BEFORE it
# shuffles; false positives die in the exact join that follows, so the
# oracle is the plain join. The scale win is shuffle bytes (see
# operators/joins.py:bloom_pruned_join notes).

@_q("bloom_pruned_lineitem_join", """
WITH sel AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000)
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem JOIN sel ON l_orderkey = o_orderkey
GROUP BY l_returnflag
""")
def bloom_pruned_lineitem_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.joins import bloom_pruned_join

    orders = load(spark, sf_dir, "orders")
    sel = (orders
           .filter((F.col("o_orderpriority") == "1-URGENT")
                   & (F.col("o_totalprice") > 200000))
           .select(F.col("o_orderkey").alias("l_orderkey")))
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity")
    joined = bloom_pruned_join(li, sel, "l_orderkey")
    return (joined.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(F.col("l_quantity").cast("long")).cast("long")
                  .alias("sum_qty"),
                 F.countDistinct("l_orderkey").alias("n_orders")))


# --- min-max manifest data skipping -----------------------------------------
# Sorted-write layout + file-level stats manifest + prune-before-listing
# read (extensions/skipping.py). The oracle is the plain filter: pruning
# only drops files whose whole [min,max] misses the predicate range, so
# the roundtrip must be value-identical to a full scan + filter.

@_q("manifest_pruned_scan", """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM documents WHERE n_chars BETWEEN 100 AND 300
GROUP BY source
""")
def manifest_pruned_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark_etl_project_spark.extensions.skipping import (
        pruned_scan, write_skipping_layout)

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    path = tempfile.mkdtemp(prefix="skiplayout_")
    write_skipping_layout(docs, path, "n_chars", num_files=8)
    sel = pruned_scan(spark, path, "n_chars", 100, 300)
    return (sel.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("doc_id").alias("min_doc_id")))


# --- intra-document repeated-line dedup -------------------------------------
# Map-only within-doc line dedup (extensions/text.py:dedup_lines_in_doc)
# — the complement of the cross-corpus boilerplate scrub. The feed
# synthesizes newline-structured docs from the word corpus (10-word
# lines, first three lines re-appended as the duplicate block) in BOTH
# engines; the oracle rebuilds first-occurrence order with an explicit
# (line, ordinal) window, not list_distinct, because DuckDB does not
# guarantee list_distinct preserves order.

@_q("intra_doc_line_dedup", """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM documents),
l AS (
  SELECT doc_id,
         list_transform(range(len(w) // 10),
                        i -> array_to_string(w[i*10+1:i*10+10], ' ')) AS lines
  FROM t),
d AS (
  SELECT doc_id, list_concat(lines, lines[1:3]) AS doubled FROM l),
e AS (
  SELECT doc_id, len(doubled) AS n_in, unnest(doubled) AS line,
         generate_subscripts(doubled, 1) AS ord
  FROM d),
r AS (
  SELECT doc_id, n_in, line, ord,
         row_number() OVER (PARTITION BY doc_id, line ORDER BY ord) AS rn
  FROM e),
agg AS (
  SELECT doc_id, MAX(n_in) AS n_lines_in,
         COUNT(*) AS n_lines_out,
         string_agg(line, chr(10) ORDER BY ord) AS txt
  FROM r WHERE rn = 1 GROUP BY doc_id)
SELECT doc_id, CAST(n_lines_in AS BIGINT) AS n_lines_in,
       CAST(n_lines_out AS BIGINT) AS n_lines_out,
       md5(txt) AS fp
FROM agg
""")
def intra_doc_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.text import dedup_lines_in_doc

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = X.tokens("text")
    # Docs with fewer than 10 tokens have ZERO full lines and must drop
    # entirely — exactly what the oracle's unnest-of-empty-list does.
    # Without the filter, F.sequence(0, nlines-1) at nlines=0 counts
    # DOWN ([0,-1]), fabricating two phantom lines and emitting a row
    # the oracle never produces (latent gate divergence: the shipped
    # corpus' shortest doc is exactly 10 tokens).
    staged = (docs.select("doc_id", w.alias("_w"))
              .filter(F.size("_w") >= 10))
    nlines = F.floor(F.size("_w") / 10).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda i: F.array_join(F.slice(F.col("_w"), i * 10 + 1, 10), " "))
    doubled = F.concat(lines, F.slice(lines, 1, 3))
    built = staged.select("doc_id",
                          F.array_join(doubled, "\n").alias("_text"),
                          F.size(doubled).cast("long").alias("n_lines_in"))
    out = built.select(
        "doc_id", "n_lines_in",
        dedup_lines_in_doc("_text").alias("_clean"))
    return out.select(
        "doc_id", "n_lines_in",
        F.size(F.split(F.col("_clean"), "\n")).cast("long")
         .alias("n_lines_out"),
        F.md5(F.col("_clean")).alias("fp"))


# --- Gopher-style quality gate ----------------------------------------------
# The published Gopher document-quality rules (Rae et al. 2021, appendix
# A1.1) with every threshold as an integer cross-multiplication, so the
# keep/drop decision is bit-identical across engines
# (extensions/text.py:gopher_quality_flags).

@_q("gopher_quality_gate", """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS lw
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS wc,
         CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS chars,
         CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS symbols,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
              AS BIGINT) AS alpha_words,
         CAST(len(list_distinct(list_filter(lw,
              x -> list_contains(['the','be','to','of','and','that',
                                  'have','with'], x)))) AS BIGINT) AS sw_hits
  FROM t),
f AS (
  SELECT doc_id, wc,
         CAST(wc >= 30 AND wc <= 100000 AS INTEGER) AS words_ok,
         CAST(chars >= 3 * wc AND chars <= 10 * wc AS INTEGER) AS word_len_ok,
         CAST(10 * symbols <= wc AS INTEGER) AS symbol_ok,
         CAST(5 * alpha_words >= 4 * wc AS INTEGER) AS alpha_ok,
         CAST(sw_hits >= 2 AS INTEGER) AS stop_ok
  FROM m)
SELECT doc_id, wc, words_ok, word_len_ok, symbol_ok, alpha_ok, stop_ok,
       words_ok * word_len_ok * symbol_ok * alpha_ok * stop_ok AS keep
FROM f
""")
def gopher_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.text import gopher_quality_flags

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    g = gopher_quality_flags("text", min_words=30)
    staged = docs.select("doc_id",
                         X.token_count("text").cast("long").alias("wc"),
                         g.alias("_g"))
    return staged.select(
        "doc_id", "wc",
        F.col("_g.words_ok").cast("int").alias("words_ok"),
        F.col("_g.word_len_ok").cast("int").alias("word_len_ok"),
        F.col("_g.symbol_ok").cast("int").alias("symbol_ok"),
        F.col("_g.alpha_ok").cast("int").alias("alpha_ok"),
        F.col("_g.stop_ok").cast("int").alias("stop_ok"),
        F.col("_g.keep").cast("int").alias("keep"))


# --- integer-quantized embedding gram matrix --------------------------------
# Distributed Σ q·qᵀ over the first 16 dims (extensions/similarity.py:
# quantized_gram_matrix) — the covariance aggregation behind corpus-level
# PCA/whitening. Integer quantization makes the sum order-independent,
# so DuckDB replays it exactly via an ordinal self-join.

@_q("embedding_gram_matrix", """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding[1:16],
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qv
  FROM embeddings),
u AS (
  SELECT vec_id, unnest(qv) AS qi, generate_subscripts(qv, 1) AS idx FROM q)
SELECT CAST(a.idx - 1 AS BIGINT) AS i, CAST(b.idx - 1 AS BIGINT) AS j,
       CAST(SUM(a.qi * b.qi) AS BIGINT) AS gram
FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.idx >= a.idx
GROUP BY 1, 2
""")
def embedding_gram_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import (
        quantized_gram_matrix)

    emb = load(spark, sf_dir, "embeddings")
    g = quantized_gram_matrix(emb, "embedding", dims=16, scale=1000)
    return g.select(F.col("i").cast("long").alias("i"),
                    F.col("j").cast("long").alias("j"),
                    F.col("gram"))


# --- winnowing-based holdout contamination ----------------------------------
# Verbatim-overlap contamination (extensions/dedup.py:
# winnowing_contamination): any shared >= k+window-1 token passage
# between a train doc and a holdout doc is guaranteed to collide on a
# winnowing fingerprint, position-shift-robust. The feed embeds 50
# holdout docs verbatim inside prefixed train clones — the oracle
# replays the winnow on both sides and the fp join.

def _winnow_cte(src: str, p: str) -> str:
    """Winnowing fingerprint CTE chain over source CTE ``src`` with
    prefix ``p`` — mirrors text.py:winnowing_fingerprints (k=3 grams,
    window=4, md5-prefix hash)."""
    return f"""
{p}w AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM {src}),
{p}g AS (
  SELECT doc_id, len(w) - 2 AS n_grams, i AS pos,
         CAST(concat('0x', substring(
             md5(concat_ws(' ', w[i+1], w[i+2], w[i+3])), 1, 8))
           AS BIGINT) AS h
  FROM {p}w, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
{p}f AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos, n_grams,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM {p}g) WHERE pos <= n_grams - 4)"""


@_q("winnowing_contamination", f"""
WITH tr AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 100
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, 'qq1 qq2 qq3 qq4 ' || text AS text
  FROM documents WHERE doc_id < 50),
ho AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100),
{_winnow_cte('tr', 't')},
{_winnow_cte('ho', 'h')}
SELECT t.doc_id AS doc_id,
       COUNT(DISTINCT t.fp) AS n_shared_fps,
       COUNT(DISTINCT h.doc_id) AS n_holdout_docs
FROM tf t JOIN hf h ON t.fp = h.fp
GROUP BY t.doc_id
""")
def winnowing_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import (
        winnowing_contamination)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    holdout = docs.filter(F.col("doc_id") < 100)
    clones = (docs.filter(F.col("doc_id") < 50)
              .select((F.col("doc_id") + 10000).alias("doc_id"),
                      F.concat(F.lit("qq1 qq2 qq3 qq4 "),
                               F.col("text")).alias("text")))
    train = docs.filter(F.col("doc_id") >= 100).unionByName(clones)
    return winnowing_contamination(train, holdout, "doc_id", "text")


# --- exact doc-length quantiles ---------------------------------------------
# Exact nearest-rank quantiles via the two-phase range-partitioned row
# number (operators/stats.py:exact_quantiles) — no approx sketch, no
# single-task sort; the oracle computes the identical discrete
# positions over the identical (wc, doc_id) total order.

@_q("doc_length_quantiles", """
WITH c AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS wc
  FROM documents),
r AS (
  SELECT wc, doc_id, row_number() OVER (ORDER BY wc, doc_id) AS rn FROM c),
n AS (SELECT COUNT(*) AS cnt FROM c),
p AS (
  SELECT CAST(q AS BIGINT) AS q, ((cnt - 1) * q) // 100 + 1 AS pos
  FROM n, unnest([0, 25, 50, 75, 90, 99, 100]) AS t(q))
SELECT p.q, r.wc AS value FROM p JOIN r ON r.rn = p.pos
""")
def doc_length_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.stats import exact_quantiles

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", X.token_count("text").cast("long").alias("wc"))
    return exact_quantiles(docs, "wc", "doc_id",
                           [0, 25, 50, 75, 90, 99, 100])


# --- near-dup-aware (leakage-safe) split ------------------------------------
# Split assignment computed on the near-dup CLUSTER id, so two
# near-copies can never straddle the train/test wall (extensions/
# dedup.py:leakage_safe_split). The oracle recomputes clusters with
# DuckDB's recursive transitive closure and buckets the same way —
# any Spark doc landing in a different split than its cluster's bucket
# breaks the hash.

@_q("leakage_safe_split_counts", f"""
{_minhash_pairs_cte(150).replace("WITH ", "WITH RECURSIVE ", 1)},
nodes AS (SELECT doc_id FROM base),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), clusters AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
), assigned AS (
  SELECT doc_id, cluster_id,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, cluster_id,
               CAST(concat('0x', substring(
                   md5('split-v1|' || CAST(cluster_id AS VARCHAR)), 1, 4))
                 AS INTEGER) % 100 AS b
        FROM clusters))
SELECT split, COUNT(*) AS n_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters,
       MIN(cluster_id) AS min_cluster
FROM assigned GROUP BY split
""")
def leakage_safe_split_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import leakage_safe_split

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    near = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(" extratoken")).alias("text"))
    base = docs.select("doc_id", "text").unionByName(near)
    pairs = minhash_lsh_candidates(base, "doc_id", "text",
                                   num_hashes=8, num_bands=4, shingle_n=3)
    assigned = leakage_safe_split(pairs, base.select("doc_id"),
                                  {"train": 90, "val": 5, "test": 5})
    return (assigned.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("cluster_id").alias("n_clusters"),
                 F.min("cluster_id").alias("min_cluster")))


# --- PCA projection: NOT gate-registered ------------------------------------
# Eigendecomposition is not SQL-expressible, so a registry entry for
# extensions/similarity.py:pca_project could only ever get the driver's
# weaker rows-only check — and an oracle-less entry records a permanent
# `no_oracle` red that pins the never-green-first rotation slot every
# round. The operator's coverage lives where it can actually be
# verified: the distributed pieces (gram matrix, per-dim sums, the
# map-only projection) are oracle-gated via `embedding_gram_matrix`,
# and the eigensolve end-to-end is checked against numpy in
# tests/test_extensions.py::test_pca_project_matches_numpy.


# --- PNG decode, gated end-to-end -------------------------------------------
# Same oracle as multimodal_image_decode (the full md5-repeated pixel
# pattern — PNG is lossless, so unlike JPEG the arbitrary pattern
# roundtrips exactly), but the payloads are REAL PNGs with row-cycled
# scanline filters: any inflate/unfilter slip in extensions/png.py
# shifts a channel sum and fails the hash.

@_q("multimodal_png_decode", """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 200),
b AS (
  SELECT doc_id, w, h,
         CAST(concat('0x', substr(hx, (i % 16) * 2 + 1, 2)) AS INTEGER) AS byte,
         i % 3 AS chan
  FROM d, unnest(range(w * h * 3)) AS t(i))
SELECT doc_id,
       CAST(MIN(w) AS INTEGER) AS width,
       CAST(MIN(h) AS INTEGER) AS height,
       CAST(MIN(w) * MIN(h) AS BIGINT) AS n_pixels,
       CAST(SUM(CASE WHEN chan = 0 THEN byte ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN chan = 1 THEN byte ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN chan = 2 THEN byte ELSE 0 END) AS BIGINT) AS sum_b
FROM b GROUP BY doc_id
""")
def multimodal_png_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import (
        image_stats, synth_images)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return image_stats(synth_images(docs, "doc_id", fmt="png"))


# --- WAV audio decode, gated end-to-end -------------------------------------
# The audio modality with a REAL decoder: PCM16 RIFF/WAVE payloads
# (multimodal.py:encode_wav/_decode_wav — chunk walk, word alignment,
# two's-complement samples), md5-derived samples replayed byte-for-byte
# in SQL. A sign slip, channel de-interleave bug, or chunk misparse
# shifts a channel sum and fails the hash.

@_q("multimodal_wav_decode", """
WITH d AS (
  SELECT doc_id, 40 + doc_id % 17 AS frames, 1 + doc_id % 2 AS ch,
         8000 * (1 + doc_id % 2) AS rate,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 200),
v AS (
  SELECT doc_id, frames, ch, rate, i % ch AS chan,
         CAST(concat('0x', substr(hx, ((2*i) % 16) * 2 + 1, 2)) AS INTEGER)
         + 256 * CAST(concat('0x', substr(hx, ((2*i+1) % 16) * 2 + 1, 2))
                      AS INTEGER) AS raw
  FROM d, unnest(range(frames * ch)) AS t(i))
SELECT doc_id,
       CAST(MIN(frames) AS BIGINT) AS n_frames,
       CAST(MIN(ch) AS INTEGER) AS n_channels,
       CAST(MIN(rate) AS INTEGER) AS sample_rate,
       CAST(SUM(CASE WHEN chan = 0 THEN
           raw - CASE WHEN raw >= 32768 THEN 65536 ELSE 0 END
           ELSE 0 END) AS BIGINT) AS sum_ch0,
       CAST(SUM(CASE WHEN chan = 1 THEN
           raw - CASE WHEN raw >= 32768 THEN 65536 ELSE 0 END
           ELSE 0 END) AS BIGINT) AS sum_ch1
FROM v GROUP BY doc_id
""")
def multimodal_wav_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import (
        audio_stats, synth_audio)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return audio_stats(synth_audio(docs, "doc_id"))


# --- Y4M video decode, gated end-to-end -------------------------------------
# The video modality with a real decoder: YUV4MPEG2 payloads
# (multimodal.py:_decode_y4m — header tags, FRAME walk, C420 plane
# split). The md5 byte stream fills planes in (Y,U,V) frame order, so
# the oracle derives each byte's plane from its stream position: within
# a frame of size w*h*3/2, offsets < w*h are Y, the next quarter U, the
# last quarter V. A frame-boundary or plane-split slip shifts a sum.

@_q("multimodal_video_decode", """
WITH d AS (
  SELECT doc_id,
         4 + 2 * (doc_id % 3) AS w, 4 + 2 * (doc_id % 2) AS h,
         2 + doc_id % 3 AS nf,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 200),
b AS (
  SELECT doc_id, w, h, nf,
         CAST(concat('0x', substr(hx, (i % 16) * 2 + 1, 2)) AS INTEGER)
           AS byte,
         i % (w * h * 3 // 2) AS off
  FROM d, unnest(range(nf * (w * h * 3 // 2))) AS t(i))
SELECT doc_id,
       CAST(MIN(nf) AS BIGINT) AS n_frames,
       CAST(MIN(w) AS INTEGER) AS width,
       CAST(MIN(h) AS INTEGER) AS height,
       CAST(SUM(CASE WHEN off < w * h THEN byte ELSE 0 END) AS BIGINT)
         AS sum_y,
       CAST(SUM(CASE WHEN off >= w * h AND off < w * h + (w * h) // 4
                THEN byte ELSE 0 END) AS BIGINT) AS sum_u,
       CAST(SUM(CASE WHEN off >= w * h + (w * h) // 4
                THEN byte ELSE 0 END) AS BIGINT) AS sum_v
FROM b GROUP BY doc_id
""")
def multimodal_video_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import (
        synth_videos, video_stats)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return video_stats(synth_videos(docs, "doc_id"))


# --- corpus-frequency quality + tokenizer statistics (round 6) ---------------
# The integer-exact core of a unigram-LM quality filter: rank documents
# by how often the corpus itself uses their tokens (extensions/
# text.py:rare_token_scores). No float log-probs anywhere — the
# rare/common cut is bigint math (freq * n_vocab < n_total), so the
# decision is bit-identical across engines at any scale.

@_q("rare_token_quality_score", """
WITH tok AS (
  SELECT doc_id, t.token
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(token)),
freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
         FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS n_vocab FROM freq)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN freq * n_vocab < n_total THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN freq * n_vocab < n_total THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS rare_ppm,
       CAST(SUM(freq) * 1000 // COUNT(*) AS BIGINT) AS mean_freq_x1000
FROM tok JOIN freq USING (token) CROSS JOIN tot
GROUP BY doc_id
""")
def rare_token_quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.rare_token_scores(docs, "doc_id", "text")


# --- BPE merge-round statistic ------------------------------------------------
# Adjacent character-pair counts the way a real BPE trainer computes
# them: corpus → (distinct word, freq) first, pairs enumerated once per
# DISTINCT word and weighted by freq — enumeration cost scales with the
# vocabulary, not the corpus (extensions/text.py:char_pair_counts).

@_q("bpe_pair_counts", """
WITH tok AS (
  SELECT t.w FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(w)),
words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tok
          GROUP BY w HAVING length(w) >= 2),
pairs AS (
  SELECT p.pair, freq
  FROM words,
       UNNEST(list_transform(range(1, length(w)),
                             i -> substr(w, i, 2))) AS p(pair))
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 50
""")
def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.char_pair_counts(docs, "text", top_k=50)


# --- conditional bigram continuation table -----------------------------------
# Per-word top-3 next tokens with counts (extensions/text.py:
# next_token_topk) — P(next | word) reduced to its integer-exact core.
# Output rows ~ vocabulary × k, independent of corpus size.

@_q("next_token_conditional_topk", """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents),
bg AS (
  SELECT split_part(p.pair, ' ', 1) AS w1, split_part(p.pair, ' ', 2) AS w2
  FROM toks,
       UNNEST(list_transform(range(1, len(t)),
                             i -> t[i] || ' ' || t[i+1])) AS p(pair)
  WHERE len(t) >= 2)
SELECT w1, w2, n, rk FROM (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n,
         ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY COUNT(*) DESC, w2)
           AS rk
  FROM bg GROUP BY w1, w2)
WHERE rk <= 3
""")
def next_token_conditional_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.next_token_topk(docs, "text", k=3)


# --- domain blocklist filter ---------------------------------------------------
# Crawl-hygiene URL filtering with DNS-suffix semantics (an entry blocks
# the host and every subdomain; most-specific entry wins — always
# deterministic, two distinct suffixes of one host can't tie on length).
# The blocklist is broadcast; the suffix predicate runs as a broadcast
# nested-loop join, map-side at any corpus size
# (extensions/web.py:blocklist_verdicts).

@_q("domain_blocklist_filter", """
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END)
         || '://'
         || (CASE WHEN doc_id % 3 = 1 THEN 'WWW.' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0 THEN 'cdn.' ELSE '' END)
         || 'Site' || CAST(doc_id % 7 AS VARCHAR)
         || (CASE WHEN doc_id % 5 = 4 THEN '.Example.ORG'
                  ELSE '.Example.COM' END)
         || '/p/' || CAST(doc_id % 11 AS VARCHAR) AS url
  FROM documents WHERE doc_id < 400),
hp AS (
  SELECT doc_id,
         regexp_replace(
           regexp_extract(
             regexp_replace(regexp_replace(url, '#.*$', ''),
                            '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
             '^([^/?]*)', 1),
           '^.*@', '') AS hostport
  FROM raw),
h AS (
  SELECT doc_id,
         CASE WHEN hostport LIKE '[%'
              THEN lower(regexp_extract(hostport,
                                        '^(\\[[^\\]]*\\])', 1))
              ELSE regexp_replace(
                     lower(regexp_extract(hostport, '^([^:]*)', 1)),
                     '^www\\.', '') END AS host
  FROM hp),
bl AS (SELECT * FROM (VALUES ('example.com'), ('site1.example.com'),
                             ('cdn.site3.example.com')) AS b(domain)),
m AS (
  SELECT doc_id, host, arg_max(domain, length(domain)) AS matched
  FROM h LEFT JOIN bl ON host = domain OR host LIKE '%.' || domain
  GROUP BY doc_id, host)
SELECT COALESCE(matched, 'KEPT') AS verdict,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
FROM m GROUP BY 1
""")
def domain_blocklist_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.web import blocklist_verdicts

    doc = F.col("doc_id")
    url = F.concat(
        F.when(doc % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(doc % 3 == 1, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(doc % 2 == 0, F.lit("cdn.")).otherwise(F.lit("")),
        F.lit("Site"), (doc % 7).cast("string"),
        F.when(doc % 5 == 4, F.lit(".Example.ORG"))
         .otherwise(F.lit(".Example.COM")),
        F.lit("/p/"), (doc % 11).cast("string"))
    docs = (load(spark, sf_dir, "documents").filter(doc < 400)
            .select(doc, url.alias("url")))
    verdicts = blocklist_verdicts(
        docs, "doc_id", "url",
        ["example.com", "site1.example.com", "cdn.site3.example.com"])
    return (verdicts
            .groupBy(F.coalesce("matched_domain", F.lit("KEPT"))
                     .alias("verdict"))
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.countDistinct("host").alias("n_hosts")))


# --- BPE trainer loop, oracle-gated per round --------------------------------
# The iterative merge-learning loop (extensions/text.py:bpe_train): each
# round counts vocabulary-weighted adjacent symbol pairs, takes the
# top-1 with a total-order tie-break, and applies the merge as a
# greedy-leftmost array fold. The oracle unrolls the SAME rounds as
# chained CTEs — DuckDB's list_reduce replays the identical fold — so
# every round's chosen pair AND its count are hash-gated, not just row
# shapes. Driver state is one row per round (the k-means pattern).

def _bpe_round_ctes(n_merges: int, carry_w: bool) -> str:
    """The p{r}/t{r}/w{r} CTE blocks shared by the train and encode
    oracles; ``carry_w`` threads the word string through the rounds so
    the encode oracle can join documents back to the final vocabulary."""
    w_sel = "w, " if carry_w else ""
    parts = []
    for r in range(1, n_merges + 1):
        parts.append(f""",
p{r} AS (
  SELECT split_part(u.pr, ' ', 1) AS l, split_part(u.pr, ' ', 2) AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM w{r - 1},
       UNNEST(list_transform(range(1, len(sym)),
                             i -> sym[i] || ' ' || sym[i+1])) AS u(pr)
  GROUP BY 1, 2),
t{r} AS (SELECT l, r, n FROM p{r} ORDER BY n DESC, l, r LIMIT 1),
w{r} AS (
  SELECT {w_sel}list_reduce(
           list_transform(sym, x -> [x]),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = t.l
                              AND x[1] = t.r
                            THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                             t.l || t.r)
                            ELSE list_append(acc, x[1]) END) AS sym,
         freq
  FROM w{r - 1} CROSS JOIN t{r} t)""")
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int) -> str:
    head = """WITH words AS (
  SELECT t.w AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(w)
  GROUP BY t.w),
w0 AS (
  SELECT list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS sym,
         freq
  FROM words)"""
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_round, l AS sym_l, r AS sym_r,"
        f" l || r AS merged, n AS pair_count FROM t{r}"
        for r in range(1, n_merges + 1))
    return head + _bpe_round_ctes(n_merges, carry_w=False) + "\n" + unions


def _bpe_encode_oracle_sql(n_merges: int) -> str:
    head = """WITH tok AS (
  SELECT doc_id, t.w AS w
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(w)),
dc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM tok GROUP BY doc_id, w),
words AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS freq FROM dc GROUP BY w),
w0 AS (
  SELECT w,
         list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS sym,
         freq
  FROM words)"""
    tail = f"""
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * length(w)) AS BIGINT) AS n_chars,
       CAST(SUM(cnt * n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(cnt * n_sym) * 1000000 // SUM(cnt * length(w)) AS BIGINT)
         AS tokens_per_char_ppm
FROM dc JOIN (SELECT w, len(sym) AS n_sym FROM w{n_merges}) v USING (w)
GROUP BY doc_id"""
    return head + _bpe_round_ctes(n_merges, carry_w=True) + tail


@_q("bpe_train_merges", _bpe_oracle_sql(6))
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.bpe_train(docs, "text", n_merges=6)


# --- BPE encode: the inference half, per-doc token counts --------------------
# Train the merges, then ENCODE the corpus with them (extensions/
# text.py:bpe_encode_stats): the fold runs once per DISTINCT word and
# documents join their (word, count) multiset to the trained
# vocabulary, so corpus-sized work is one tokenize pass + one keyed
# join. Output is integer-exact per-doc compression stats; the oracle
# replays train AND encode (chained CTEs carrying the word string).

@_q("bpe_encode_token_counts", _bpe_encode_oracle_sql(4))
def bpe_encode_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.bpe_encode_stats(docs, "doc_id", "text", n_merges=4)


# --- cross-source content-overlap matrix -------------------------------------
# "How much of source A is also in source B" on winnowing fingerprints
# (extensions/dedup.py:cross_source_overlap) — partial verbatim overlap
# registers, whole-doc hashing would not. Containment is ppm of the
# SMALLER side so asymmetric source sizes don't hide the overlap.

@_q("cross_source_overlap", """
WITH w0 AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents),
g AS (
  SELECT doc_id, len(w) - 2 AS n_grams, i AS pos,
         CAST(concat('0x', substring(
             md5(concat_ws(' ', w[i+1], w[i+2], w[i+3])), 1, 8))
           AS BIGINT) AS h
  FROM w0, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
mins AS (
  SELECT doc_id, pos, n_grams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g),
fps AS (SELECT DISTINCT doc_id, fp FROM mins WHERE pos <= n_grams - 4),
sf AS (SELECT DISTINCT d.source AS src, fps.fp
       FROM fps JOIN documents d USING (doc_id)),
tot AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_fps FROM sf GROUP BY src),
pr AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared_fps
  FROM sf a JOIN sf b ON a.fp = b.fp AND a.src < b.src
  GROUP BY 1, 2)
SELECT source_a, source_b, n_shared_fps,
       CAST(n_shared_fps * 1000000 // least(ta.n_fps, tb.n_fps) AS BIGINT)
         AS containment_ppm
FROM pr
JOIN tot ta ON ta.src = source_a
JOIN tot tb ON tb.src = source_b
""")
def cross_source_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import (
        cross_source_overlap)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return cross_source_overlap(docs, "doc_id", "text", "source")


# --- per-source dataset card --------------------------------------------------
# The one-row-per-source summary published next to a curated corpus
# (extensions/text.py:source_dataset_card): volume, language spread,
# Gopher keep rate, exact-dup rate — all integer ppm, one corpus pass
# (the two distinct-aggregates plan as Expand + two-phase aggregation:
# two exchanges on source, the second carrying only partials).

@_q("source_dataset_card", """
WITH t AS (
  SELECT source, lang, CAST(length(text) AS BIGINT) AS chars,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS lw,
         text
  FROM documents),
m AS (
  SELECT source, lang, chars, fp,
         CAST(len(w) AS BIGINT) AS wc,
         CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS wchars,
         CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS symbols,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
              AS BIGINT) AS alpha_words,
         CAST(len(list_distinct(list_filter(lw,
              x -> list_contains(['the','be','to','of','and','that',
                                  'have','with'], x)))) AS BIGINT) AS sw_hits
  FROM t),
k AS (
  SELECT source, lang, chars, fp,
         CAST(wc >= 30 AND wc <= 100000 AS BIGINT)
         * CAST(wchars >= 3 * wc AND wchars <= 10 * wc AS BIGINT)
         * CAST(10 * symbols <= wc AS BIGINT)
         * CAST(5 * alpha_words >= 4 * wc AS BIGINT)
         * CAST(sw_hits >= 2 AS BIGINT) AS keep
  FROM m)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(chars) AS BIGINT) AS total_chars,
       CAST(SUM(chars) // COUNT(*) AS BIGINT) AS mean_chars,
       CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT) AS gopher_keep_ppm,
       CAST((COUNT(*) - COUNT(DISTINCT fp)) * 1000000 // COUNT(*) AS BIGINT)
         AS exact_dup_ppm
FROM k GROUP BY source
""")
def source_dataset_card_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.source_dataset_card(docs, "source", "text", "lang")


# --- robust length outliers (median absolute deviation) ----------------------
# The mean/stddev-immune outlier gate (operators/stats.py:
# mad_length_outliers): median and MAD are nearest-rank order
# statistics through the two-phase range row number, and the cut is
# bigint — engine-exact at the boundary.

@_q("mad_length_outliers", """
WITH c AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
n AS (SELECT COUNT(*) AS cnt FROM c),
r AS (SELECT n_chars, doc_id,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rn FROM c),
med AS (SELECT r.n_chars AS m FROM r, n WHERE r.rn = ((cnt - 1) * 50) // 100 + 1),
d AS (SELECT doc_id, n_chars, abs(n_chars - m) AS abs_dev FROM c, med),
r2 AS (SELECT abs_dev, doc_id,
              row_number() OVER (ORDER BY abs_dev, doc_id) AS rn FROM d),
mad AS (SELECT r2.abs_dev AS md FROM r2, n
        WHERE r2.rn = ((cnt - 1) * 50) // 100 + 1)
SELECT doc_id, n_chars, CAST(abs_dev AS BIGINT) AS abs_dev,
       CAST(abs_dev > 3 * md AS INTEGER) AS is_outlier
FROM d, mad
""")
def mad_length_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.stats import mad_length_outliers

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.char_length("text").alias("n_chars"))
    return mad_length_outliers(docs, "doc_id", "n_chars", k_mad=3)


# --- keyword topic tagging ----------------------------------------------------
# Broadcast keyword->topic equi-join over the token stream
# (extensions/text.py:keyword_topic_tags): tagging cost is one hash
# probe per token regardless of keyword count.

_TOPIC_KEYWORDS = {
    "storage": ["table", "row", "part", "scan"],
    "compute": ["hash", "merge", "agg", "sort"],
    "runtime": ["slow", "fast", "batch", "stream"],
}

@_q("keyword_topic_tags", """
WITH kw AS (
  SELECT * FROM (VALUES
    ('table', 'storage'), ('row', 'storage'), ('part', 'storage'),
    ('scan', 'storage'),
    ('hash', 'compute'), ('merge', 'compute'), ('agg', 'compute'),
    ('sort', 'compute'),
    ('slow', 'runtime'), ('fast', 'runtime'), ('batch', 'runtime'),
    ('stream', 'runtime')) AS v(token, topic)),
tok AS (
  SELECT doc_id, t.token
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(token)),
pt AS (
  SELECT doc_id, topic, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM tok JOIN kw USING (token)
  GROUP BY doc_id, topic),
rk AS (
  SELECT doc_id, topic, n_hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, topic) AS rk
  FROM pt)
SELECT doc_id,
       MAX(CASE WHEN rk = 1 THEN topic END) AS primary_topic,
       MAX(CASE WHEN rk = 1 THEN n_hits END) AS primary_hits,
       CAST(COUNT(*) AS BIGINT) AS n_topics,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits
FROM rk GROUP BY doc_id
""")
def keyword_topic_tags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.keyword_topic_tags(docs, "doc_id", "text", _TOPIC_KEYWORDS)


# --- integer-exact PageRank over a synthetic doc-link graph ------------------
# Iterative importance scoring (extensions/graph.py:pagerank_integer),
# fully hash-gated: fixed-point bigint arithmetic makes every
# iteration's scores bit-identical across engines, and the oracle
# unrolls the iterations as chained CTEs (the bpe_train pattern). The
# deterministic 3-out-regular graph (three affine maps mod 500 — no
# self-loops or parallel edges at this modulus, so outdeg is exactly 3)
# replaces a real link table the same way the url-synth queries do.

def _pagerank_oracle_sql(n_iter: int) -> str:
    head = """WITH nodes AS (
  SELECT doc_id AS id FROM documents WHERE doc_id < 500),
edges AS (
  SELECT id AS src, (id * 7 + 1) % 500 AS dst FROM nodes
  UNION ALL SELECT id, (id * 13 + 2) % 500 FROM nodes
  UNION ALL SELECT id, (id * 31 + 3) % 500 FROM nodes),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src),
s0 AS (SELECT id, CAST(1000000 AS BIGINT) AS score FROM nodes)"""
    parts = [head]
    for k in range(1, n_iter + 1):
        parts.append(f""",
s{k} AS (
  SELECT n.id,
         CAST(150000 + (850 * COALESCE(inc.t, 0)) // 1000 AS BIGINT)
           AS score
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, SUM(s.score // d.outdeg) AS t
    FROM edges e
    JOIN deg d ON d.src = e.src
    JOIN s{k - 1} s ON s.id = e.src
    GROUP BY e.dst) inc ON inc.id = n.id)""")
    return ("".join(parts)
            + f"\nSELECT id AS doc_id, score FROM s{n_iter}")


@_q("pagerank_doc_links", _pagerank_oracle_sql(3))
def pagerank_doc_links_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.graph import pagerank_integer

    nodes = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") < 500).select("doc_id"))
    i = F.col("doc_id")
    edges = (nodes.select(i.alias("src"), ((i * 7 + 1) % 500).alias("dst"))
             .unionByName(nodes.select(i.alias("src"),
                                       ((i * 13 + 2) % 500).alias("dst")))
             .unionByName(nodes.select(i.alias("src"),
                                       ((i * 31 + 3) % 500).alias("dst"))))
    return (pagerank_integer(nodes, edges, id_col="doc_id", n_iter=3)
            .select("doc_id", F.col("score").cast("long").alias("score")))


# --- exact duplicated-substring spans (Lee et al. ExactSubstr) ---------------
# The suffix-array substring dedup of "Deduplicating Training Data Makes
# Language Models Better", as a distributed k-gram frequency pass: a span
# is duplicated iff every k-token window of it repeats corpus-wide, and
# overlapping windows merge into maximal spans inside ONE doc-keyed
# window pass (running-max coverage trick — no per-island groupBy).
# Generalizes the reference's whole-row md5 identity (CDC H1,
# ETL/CSV_Batch_Processing.py:84-86) below row granularity.

@_q("dup_span_stats", """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM documents
), tok AS (SELECT doc_id, len(w) AS n_tokens, w FROM t),
g AS (
  SELECT doc_id, n_tokens, i AS start,
         array_to_string(w[i+1:i+8], ' ') AS gram
  FROM tok, unnest(range(CASE WHEN n_tokens >= 8
                          THEN n_tokens - 8 + 1 ELSE 0 END)) AS r(i)
), d AS (
  SELECT doc_id, n_tokens, start
  FROM (SELECT doc_id, n_tokens, start,
               COUNT(*) OVER (PARTITION BY md5(gram)) AS c FROM g)
  WHERE c >= 2
), s AS (
  SELECT doc_id, n_tokens, start,
         COALESCE(MAX(start + 7) OVER (
             PARTITION BY doc_id ORDER BY start
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) AS pe
  FROM d
), agg AS (
  SELECT doc_id,
         SUM(CASE WHEN start > pe + 1 THEN 1 ELSE 0 END) AS n_spans,
         SUM(start + 7 - GREATEST(pe, start - 1)) AS cov
  FROM s GROUP BY doc_id
)
SELECT tok.doc_id, CAST(tok.n_tokens AS INTEGER) AS n_tokens,
       CAST(COALESCE(agg.n_spans, 0) AS INTEGER) AS n_dup_spans,
       CAST(COALESCE(agg.cov, 0) AS INTEGER) AS dup_tokens,
       CAST(tok.n_tokens - COALESCE(agg.cov, 0) AS INTEGER) AS clean_tokens
FROM tok LEFT JOIN agg USING (doc_id)
""")
def dup_span_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import duplicate_span_stats

    docs = load(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, "doc_id", "text", k=8, min_count=2)


@_q("dup_span_scrub_text", """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents WHERE doc_id < 150
), tok AS (SELECT doc_id, len(w) AS n_tokens, w FROM t),
g AS (
  SELECT doc_id, i AS start, array_to_string(w[i+1:i+8], ' ') AS gram
  FROM tok, unnest(range(CASE WHEN n_tokens >= 8
                          THEN n_tokens - 8 + 1 ELSE 0 END)) AS r(i)
), m AS (
  SELECT doc_id, start
  FROM (SELECT doc_id, start,
               COUNT(*) OVER (PARTITION BY md5(gram)) AS c FROM g)
  WHERE c >= 2
), cov AS (
  SELECT DISTINCT doc_id, start + j AS pos
  FROM m, unnest(range(8)) AS u(j)
), p AS (
  SELECT doc_id, n_tokens, j AS pos, w[j+1] AS tok
  FROM tok, unnest(range(n_tokens)) AS q(j)
), kept AS (
  SELECT p.doc_id, p.n_tokens, p.pos, p.tok
  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
  WHERE cov.doc_id IS NULL
), r AS (
  SELECT doc_id, MIN(n_tokens) AS n_tokens, COUNT(*) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT tok.doc_id, COALESCE(r.clean_text, '') AS clean_text,
       CAST(tok.n_tokens AS INTEGER) AS n_tokens,
       CAST(COALESCE(r.kept_tokens, 0) AS INTEGER) AS kept_tokens
FROM tok LEFT JOIN r USING (doc_id)
""")
def dup_span_scrub_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import duplicate_span_scrub

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return duplicate_span_scrub(docs, "doc_id", "text", k=8, min_count=2)


# --- per-doc top-k nearest neighbors by n-gram Jaccard -----------------------
# The dedup-review companion of dedup_ngram_jaccard: same inverted-index
# candidate generation (shingle-keyed shuffle, stop-shingle cap 50),
# then symmetrize and keep each doc's 3 best by integer-ppm Jaccard with
# a (score desc, neighbor asc) tiebreak — one doc-keyed window shuffle.

@_q("neardup_topk_neighbors", """
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' '))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
        FROM documents WHERE doc_id < 300)
), inv0 AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), rare AS (
  SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= 50
), inv AS (
  SELECT inv0.doc_id, inv0.s FROM inv0 JOIN rare USING (s)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter_n
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(sh) AS sz FROM docs),
pp AS (
  SELECT id_a, id_b, inter_n, (sa.sz + sb.sz - inter_n) AS union_n
  FROM pairs
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
), sym AS (
  SELECT id_a AS doc_id, id_b AS neighbor, inter_n, union_n FROM pp
  UNION ALL
  SELECT id_b AS doc_id, id_a AS neighbor, inter_n, union_n FROM pp
), ranked AS (
  SELECT doc_id, neighbor, inter_n * 1000000 // union_n AS jaccard_ppm,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY inter_n * 1000000 // union_n DESC,
                                     neighbor) AS rnk
  FROM sym)
SELECT doc_id, CAST(rnk AS INTEGER) AS rank, neighbor,
       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm
FROM ranked WHERE rnk <= 3
""")
def neardup_topk_neighbors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import topk_neighbors

    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 300)
            .select("doc_id", word_shingles("text", 3).alias("sh")))
    pairs = jaccard_pairs(docs, "doc_id", "sh", threshold_num=0,
                          threshold_den=1, max_doc_freq=50)
    return topk_neighbors(pairs, k=3)


# --- corpus n-gram novelty per source ----------------------------------------
# Distinct-vs-total trigram occurrences per source bucket, integer ppm:
# the corpus-level self-repetition diagnostic (per-doc repetition is
# text_repetition_signals; this catches a source whose DOCS repeat each
# other). COUNT DISTINCT plans as a two-level partial aggregate.

@_q("ngram_novelty_per_source", """
WITH g AS (
  SELECT source,
         unnest(list_transform(range(len(w) - 2),
                i -> array_to_string(w[i+1:i+3], ' '))) AS gram
  FROM (SELECT source, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
        FROM documents)
)
SELECT source, COUNT(*) AS total_ngrams,
       COUNT(DISTINCT gram) AS distinct_ngrams,
       CAST(COUNT(DISTINCT gram) * 1000000 // COUNT(*) AS BIGINT)
         AS novelty_ppm
FROM g GROUP BY source
""")
def ngram_novelty_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.ngram_novelty(docs, "text", "source", n=3)


# --- deterministic curriculum buckets ----------------------------------------
# Integer-exact ntile over (token count, doc_id) via the two-phase
# range-partitioned row number — the schedule a curriculum trainer
# resumes from must not depend on cluster size or run order. Gate
# checks the per-bucket occupancy and token-length envelope.

@_q("curriculum_length_buckets", """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rn,
         COUNT(*) OVER () AS total
  FROM t
)
SELECT CAST((rn - 1) * 10 // total AS INTEGER) AS bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(n_tokens) AS INTEGER) AS min_tokens,
       CAST(MAX(n_tokens) AS INTEGER) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM r GROUP BY 1
""")
def curriculum_length_buckets_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", X.token_count("text").alias("n_tokens")))
    b = X.curriculum_buckets(docs, "doc_id", "n_tokens", n_buckets=10)
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_tokens").cast("int").alias("min_tokens"),
                 F.max("n_tokens").cast("int").alias("max_tokens"),
                 F.sum("n_tokens").cast("long").alias("sum_tokens")))


# --- deterministic quality-weighted sampling ---------------------------------
# Keep probability proportional to token count (capped at 1): the
# quality-proportional subsample of a curation pipeline, RNG-free —
# md5(salt|id) 48-bit uniform vs an integer ppm weight, replayed
# bit-for-bit by the oracle. Map-only plan: zero shuffles.

@_q("weighted_quality_sample", """
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
         CAST(concat('0x', substr(md5(concat('wsample-v1|',
              CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000
           AS u_ppm
  FROM documents
)
SELECT doc_id, source,
       CAST(LEAST(1000000, n_tokens * 2000) AS BIGINT) AS weight_ppm,
       u_ppm
FROM d
WHERE u_ppm < LEAST(1000000, n_tokens * 2000)
""")
def weighted_quality_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import weighted_sample

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "source",
                    X.token_count("text").alias("n_tokens")))
    w = F.least(F.lit(1_000_000), F.col("n_tokens") * 2000)
    return (weighted_sample(docs, "doc_id", w)
            .select("doc_id", "source", "weight_ppm", "u_ppm"))


# --- MinHash estimator calibration -------------------------------------------
# For every LSH candidate pair: signature-agreement Jaccard estimate vs
# the exact shingle Jaccard, integer ppm, plus the absolute error — the
# harness that sizes num_hashes/num_bands before a corpus-wide run.
# Oracle recomputes both estimates independently from the shared
# minhash CTE (signatures) plus the shingle sets.

@_q("minhash_estimator_calibration", f"""
{_MINHASH_PAIRS_CTE},
enriched AS (
  SELECT p.id_a, p.id_b, p.n_shared_bands,
         len(list_filter(range(8),
             i -> sa.sg[i+1] = sb.sg[i+1])) AS est_matches,
         len(list_intersect(da.sh, db.sh)) AS inter_n,
         len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))
           AS union_n
  FROM pairs p
  JOIN sig sa ON p.id_a = sa.doc_id
  JOIN sig sb ON p.id_b = sb.doc_id
  JOIN docs da ON p.id_a = da.doc_id
  JOIN docs db ON p.id_b = db.doc_id
)
SELECT id_a, id_b, n_shared_bands,
       CAST(est_matches AS INTEGER) AS est_matches,
       CAST(est_matches * 1000000 // 8 AS BIGINT) AS est_ppm,
       CAST(inter_n * 1000000 // union_n AS BIGINT) AS exact_ppm,
       CAST(abs(est_matches * 1000000 // 8
                - inter_n * 1000000 // union_n) AS BIGINT) AS err_ppm
FROM enriched
""")
def minhash_estimator_calibration_q(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import minhash_calibration

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    near = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(" extratoken")).alias("text"))
    base = docs.select("doc_id", "text").unionByName(near)
    return minhash_calibration(base, "doc_id", "text",
                               num_hashes=8, num_bands=4, shingle_n=3)


# --- KMV distinct-count sketch calibration -----------------------------------
# Deterministic k-minimum-values sketch (48-bit md5 hashes, integer
# estimator (k-1)*2^48 div h_k) per source over distinct trigrams,
# alongside the exact count and the integer-ppm error — the sketch an
# engine would ship for 100 TB cardinality estimates, gated exactly
# because the hash is engine-portable md5, not an engine-seeded HLL.

@_q("kmv_distinct_sketch_trigrams", """
WITH t AS (
  SELECT source, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM documents
), g AS (
  SELECT source, unnest(list_transform(range(len(w) - 2),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS v
  FROM t
), d AS (
  SELECT DISTINCT source AS grp, v FROM g
), h AS (
  SELECT grp, CAST(concat('0x', substr(md5('kmv-v1|' || v), 1, 12))
               AS BIGINT) AS h
  FROM d
), kth AS (
  SELECT grp, h AS kth_min_hash
  FROM (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h)
               AS rn FROM h)
  WHERE rn = 64
), exact AS (
  SELECT grp, COUNT(*) AS exact_distinct FROM h GROUP BY grp
)
SELECT exact.grp AS source, kth.kth_min_hash,
       CAST(CASE WHEN kth.kth_min_hash IS NULL THEN exact.exact_distinct
            ELSE 63 * CAST(281474976710656 AS BIGINT) // kth.kth_min_hash
            END AS BIGINT) AS est_distinct,
       CAST(exact.exact_distinct AS BIGINT) AS exact_distinct,
       CAST(abs((CASE WHEN kth.kth_min_hash IS NULL
                 THEN exact.exact_distinct
                 ELSE 63 * CAST(281474976710656 AS BIGINT)
                      // kth.kth_min_hash END) - exact.exact_distinct)
            * 1000000 // exact.exact_distinct AS BIGINT) AS err_ppm
FROM exact LEFT JOIN kth ON exact.grp = kth.grp
""")
def kmv_distinct_sketch_trigrams_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    grams = docs.select("source",
                        F.explode(X.word_ngrams(F.col("text"), 3))
                        .alias("gram"))
    return X.kmv_distinct_sketch(grams, "source", "gram", k=64)


# --- collocation mining (integer-lift PMI proxy) -----------------------------
# Which adjacent token pairs co-occur above chance: lift in exact
# milli-units (PMI's exp, same ranking, no float log), min support 5,
# deterministic (lift desc, pair asc) top-50 — compiles to
# TakeOrderedAndProject, never a global sort.

@_q("collocations_topk", """
WITH t AS (
  SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM documents
), uni AS (
  SELECT unnest(w) AS t FROM t
), uc AS (
  SELECT t, COUNT(*) AS c FROM uni GROUP BY t
), bi AS (
  SELECT array_to_string(w[i+1:i+2], ' ') AS g
  FROM t, unnest(range(CASE WHEN len(w) >= 2 THEN len(w) - 1
                        ELSE 0 END)) AS r(i)
), bc AS (
  SELECT g, COUNT(*) AS pair_n FROM bi GROUP BY g HAVING COUNT(*) >= 5
), tot AS (SELECT COUNT(*) AS n FROM bi)
SELECT string_split(bc.g, ' ')[1] AS tok_a,
       string_split(bc.g, ' ')[2] AS tok_b,
       bc.pair_n,
       CAST(bc.pair_n * tot.n * 1000 // (ca.c * cb.c) AS BIGINT)
         AS lift_milli
FROM bc, tot
JOIN uc ca ON string_split(bc.g, ' ')[1] = ca.t
JOIN uc cb ON string_split(bc.g, ' ')[2] = cb.t
ORDER BY lift_milli DESC, tok_a, tok_b
LIMIT 50
""")
def collocations_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.collocations_topk(docs, "text", k=50, min_count=5)


# --- asymmetric containment pairs --------------------------------------------
# |A∩B| / min(|A|,|B|) >= 3/5 over 3-gram shingles: finds quote-
# inclusion near-dups whose symmetric Jaccard stays under the dedup
# threshold (the long side dilutes the union). Same inverted-index /
# stop-shingle machinery as dedup_ngram_jaccard.

@_q("containment_neardup_pairs", """
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' '))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
        FROM documents WHERE doc_id < 300)
), inv0 AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), rare AS (
  SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= 50
), inv AS (
  SELECT inv0.doc_id, inv0.s FROM inv0 JOIN rare USING (s)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter_n
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(sh) AS sz FROM docs)
SELECT id_a, id_b, inter_n,
       LEAST(sa.sz, sb.sz) AS size_small,
       CAST(inter_n * 1000000 // LEAST(sa.sz, sb.sz) AS BIGINT)
         AS containment_ppm
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE inter_n * 5 >= LEAST(sa.sz, sb.sz) * 3
""")
def containment_neardup_pairs_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import containment_pairs

    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 300)
            .select("doc_id", word_shingles("text", 3).alias("sh")))
    return containment_pairs(docs, "doc_id", "sh", threshold_num=3,
                             threshold_den=5, max_doc_freq=50)


# --- tokenizer fertility by language -----------------------------------------
# Tokens-per-word (fertility) per detected language bucket — the
# diagnostic that catches a tokenizer exploding on a language it was
# not trained for (high fertility = more subword pieces per word =
# worse effective context length for that language). Map-only feature
# pass + one tiny groupBy; integer ppm.

@_q("tokenizer_fertility_by_lang", """
WITH f AS (
  SELECT CASE WHEN list_has_any(w, ['the', 'and', 'of']) THEN 'en'
              WHEN list_has_any(w, ['der', 'und', 'die']) THEN 'de'
              WHEN list_has_any(w, ['el', 'de', 'la']) THEN 'es'
              ELSE 'und' END AS lang,
         len(w) AS n_words,
         len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_pieces
  FROM (SELECT text,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
        FROM documents)
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
       CAST(SUM(n_pieces) * 1000000 // SUM(n_words) AS BIGINT)
         AS fertility_ppm
FROM f GROUP BY lang
""")
def tokenizer_fertility_by_lang_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    f = docs.select(X.lang_id("text").alias("lang"),
                    X.token_count(F.lower(F.col("text"))).alias("n_words"),
                    X.bpe_ish_token_count("text").alias("n_pieces"))
    return (f.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").cast("long").alias("total_words"),
                 F.sum("n_pieces").cast("long").alias("total_pieces"))
            .withColumn("fertility_ppm",
                        F.expr("total_pieces * 1000000 div total_words")))


# --- incremental join-view maintenance ---------------------------------------
# IVM delta rule for an insert-only fact ⋈ dim view: the maintained
# view (base orders < 10000 ⋈ customer, then + the 10000..11000 delta
# joined alone) must equal the from-scratch join — the oracle IS the
# from-scratch join, so the gate proves maintenance == recompute.

@_q("incremental_join_view_orders", """
SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey,
       CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
         AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey < 11000
""")
def incremental_join_view_orders_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.incremental import (
        incremental_join_view)

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = (F.floor(F.col("o_totalprice").cast("decimal(18,6)") * 100)
             .cast("long"))
    base = (o.filter(F.col("o_orderkey") < 10000)
             .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
             .select("o_orderkey", "o_custkey", "c_name", "c_nationkey",
                     cents.alias("total_cents")))
    delta = (o.filter((F.col("o_orderkey") >= 10000)
                      & (F.col("o_orderkey") < 11000))
              .withColumn("total_cents", cents))
    return incremental_join_view(
        base, delta,
        c.select("c_custkey", "c_name", "c_nationkey"),
        on=F.col("o_custkey") == F.col("c_custkey"))


# --- count-min-sketch heavy-hitter calibration -------------------------------
# md5-derived CMS (4 x 1024 integer cells, engine-identical): top-20
# exact-count tokens with sketch estimate and collision overcount.
# The sketch table's size is CONSTANT in corpus size — the 100 TB
# frequency pass this calibrates would keep only depth*width cells.

@_q("cms_heavy_hitters_tokens", """
WITH tok AS (
  SELECT t, COUNT(*) AS n FROM (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS t
    FROM documents) GROUP BY t
), cells AS (
  SELECT d.seed,
         CAST(concat('0x', substr(md5('cms-v1|' || d.seed || '|' || t),
              1, 12)) AS BIGINT) % 1024 AS cell,
         n
  FROM tok, (SELECT unnest(range(4)) AS seed) d
), sketch AS (
  SELECT seed, cell, SUM(n) AS cn FROM cells GROUP BY seed, cell
), probes AS (
  SELECT t, n, d.seed,
         CAST(concat('0x', substr(md5('cms-v1|' || d.seed || '|' || t),
              1, 12)) AS BIGINT) % 1024 AS cell
  FROM tok, (SELECT unnest(range(4)) AS seed) d
), est AS (
  SELECT p.t, p.n, MIN(s.cn) AS cms_est
  FROM probes p JOIN sketch s ON p.seed = s.seed AND p.cell = s.cell
  GROUP BY p.t, p.n
)
SELECT t AS token, CAST(n AS BIGINT) AS exact_n,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - n AS BIGINT) AS overcount
FROM est ORDER BY n DESC, t LIMIT 20
""")
def cms_heavy_hitters_tokens_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return X.cms_heavy_hitters(docs, "text", depth=4, width=1024,
                               top_k=20)


# --- ANN recall calibration ---------------------------------------------------
# Per query: the sign-LSH bucketed top-5 vs the EXACT brute-force
# top-5, overlap counted and recall in whole percent — the calibration
# run that decides num_bits before trusting the ANN path (completes
# the estimator-quality series: minhash, KMV, CMS, now ANN). Exact and
# approx sides share one query/corpus pass; the overlap join is
# (query, vec) keyed.

@_q("ann_recall_calibration", f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qe,
         {_BUCKET4_SQL.format(col='embedding')} AS b
  FROM embeddings WHERE vec_id < 8
), cs AS (
  SELECT vec_id, embedding,
         {_BUCKET4_SQL.format(col='embedding')} AS b
  FROM embeddings WHERE vec_id >= 8
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_PAIR_COS_SQL} DESC,
                                       e.vec_id ASC) AS rn
    FROM cs e, qs q) WHERE rn <= 5
), approx AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_PAIR_COS_SQL} DESC,
                                       e.vec_id ASC) AS rn
    FROM cs e JOIN qs q USING (b)) WHERE rn <= 5
), ov AS (
  SELECT exact.query_id, COUNT(*) AS n_overlap
  FROM exact JOIN approx USING (query_id, vec_id)
  GROUP BY exact.query_id
), ex AS (
  SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY query_id
), an AS (
  SELECT query_id, COUNT(*) AS n_ann FROM approx GROUP BY query_id
)
SELECT q.query_id,
       CAST(COALESCE(ex.n_exact, 0) AS INTEGER) AS n_exact,
       CAST(COALESCE(an.n_ann, 0) AS INTEGER) AS n_ann,
       CAST(COALESCE(ov.n_overlap, 0) AS INTEGER) AS n_overlap,
       CAST(CASE WHEN COALESCE(ex.n_exact, 0) > 0
                 THEN COALESCE(ov.n_overlap, 0) * 100 // ex.n_exact
                 ELSE 0 END AS INTEGER) AS recall_pct
FROM qs q
LEFT JOIN ex ON q.query_id = ex.query_id
LEFT JOIN an ON q.query_id = an.query_id
LEFT JOIN ov ON q.query_id = ov.query_id
""")
def ann_recall_calibration_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec"))
                  .localCheckpoint(eager=False))
    corpus = emb.filter(F.col("vec_id") >= 8)
    # exact feeds BOTH the denominator count and the overlap join —
    # pin it so the brute-force corpus scoring runs once, not twice.
    exact = topk_for_queries(corpus, queries, k=5, num_bits=None) \
        .localCheckpoint(eager=False)
    approx = topk_for_queries(corpus, queries, k=5, num_bits=4)
    # Every derived frame here is <= |queries| * k rows — broadcast
    # them all so no sort-merge join appears (repo invariant).
    # n_exact is MEASURED (a slice with < k eligible corpus rows has a
    # smaller true top-k, and the recall denominator must shrink with
    # it — same contract as hard_negative_mining_ann).
    ov = (exact.select("query_id", "vec_id")
          .join(F.broadcast(approx.select("query_id", "vec_id")),
                ["query_id", "vec_id"])
          .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_overlap")))
    ex = (exact.groupBy("query_id")
          .agg(F.count(F.lit(1)).alias("n_exact")))
    an = (approx.groupBy("query_id")
          .agg(F.count(F.lit(1)).alias("n_ann")))
    return (queries.select("query_id")
            .join(F.broadcast(ex), "query_id", "left")
            .join(F.broadcast(an), "query_id", "left")
            .join(F.broadcast(ov), "query_id", "left")
            .select("query_id",
                    F.coalesce("n_exact", F.lit(0)).cast("int")
                     .alias("n_exact"),
                    F.coalesce("n_ann", F.lit(0)).cast("int")
                     .alias("n_ann"),
                    F.coalesce("n_overlap", F.lit(0)).cast("int")
                     .alias("n_overlap"),
                    F.expr("cast(case when coalesce(n_exact, 0) > 0"
                           " then coalesce(n_overlap, 0) * 100"
                           " div n_exact else 0 end as int)")
                     .alias("recall_pct")))


# --- hard-negative mining -----------------------------------------------------
# Per query: the 3 most-cosine-similar corpus vectors with a DIFFERENT
# label — the contrastive-training negatives that sit near the decision
# boundary. Label mismatch rides the broadcast join; one query-keyed
# window cuts k.

@_q("hard_negative_mining", f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qe, label AS query_label
  FROM embeddings WHERE vec_id < 8
), cs AS (
  SELECT vec_id, embedding, label AS neg_label
  FROM embeddings WHERE vec_id >= 8
)
SELECT query_id, query_label, CAST(rn AS INTEGER) AS neg_rank,
       vec_id, neg_label, cos_sim
FROM (
  SELECT q.query_id, q.query_label, e.vec_id, e.neg_label,
         {_PAIR_COS_SQL} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY {_PAIR_COS_SQL} DESC,
                                     e.vec_id ASC) AS rn
  FROM cs e, qs q WHERE e.neg_label <> q.query_label)
WHERE rn <= 3
""")
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import hard_negatives

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    return hard_negatives(corpus, queries, k=3)


# --- ANN-prefiltered hard-negative mining (calibration-gated) ---------------
# The scale path for hard_negatives: multi-probe sign-LSH candidate
# generation (8-bit bucket, Hamming radius 1 -> 9/256 of bucket space
# per query, broadcast EQUI-join — no corpus shuffle, no
# BroadcastNestedLoop) followed by exact cosine rerank of survivors.
# The oracle replays the prefilter bit-exactly AND computes the exact
# top-3, reporting per query: candidate count (the prune evidence),
# ann/overlap counts and integer recall. On the isotropic test
# embeddings recall is inherently partial (true neighbors sit up to
# Hamming 7/8 away — measured, see hard_negative_candidates docstring);
# the gate pins the SEMANTICS of prefilter+rerank and the honesty of
# the reported recall, the same calibration contract as
# ann_recall_calibration.

_BUCKET8_SQL = ("array_to_string(list_transform(range(8), "
                "i -> CASE WHEN {col}[i+1] >= 0 THEN '1' ELSE '0' END), '')")

@_q("hard_negative_mining_ann", f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qe, label AS query_label,
         {_BUCKET8_SQL.format(col='embedding')} AS qb
  FROM embeddings WHERE vec_id < 8
), cs AS (
  SELECT vec_id, embedding, label AS neg_label,
         {_BUCKET8_SQL.format(col='embedding')} AS cb
  FROM embeddings WHERE vec_id >= 8
), cand AS (
  SELECT q.query_id, e.vec_id, {_PAIR_COS_SQL} AS cos_sim
  FROM cs e, qs q
  WHERE e.neg_label <> q.query_label
    AND list_sum(list_transform(range(8),
          i -> CASE WHEN substr(e.cb, CAST(i + 1 AS INTEGER), 1)
                      <> substr(q.qb, CAST(i + 1 AS INTEGER), 1)
               THEN 1 ELSE 0 END)) <= 1
), ann AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id ASC) AS rn
    FROM cand) WHERE rn <= 3
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_PAIR_COS_SQL} DESC,
                                       e.vec_id ASC) AS rn
    FROM cs e, qs q WHERE e.neg_label <> q.query_label) WHERE rn <= 3
), nc AS (
  SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id
), ex AS (
  SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY query_id
), an AS (
  SELECT query_id, COUNT(*) AS n_ann FROM ann GROUP BY query_id
), ov AS (
  SELECT exact.query_id, COUNT(*) AS n_overlap
  FROM exact JOIN ann USING (query_id, vec_id)
  GROUP BY exact.query_id
)
SELECT q.query_id,
       CAST(COALESCE(ex.n_exact, 0) AS INTEGER) AS n_exact,
       CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(an.n_ann, 0) AS INTEGER) AS n_ann,
       CAST(COALESCE(ov.n_overlap, 0) AS INTEGER) AS n_overlap,
       CAST(CASE WHEN COALESCE(ex.n_exact, 0) > 0
                 THEN COALESCE(ov.n_overlap, 0) * 100 // ex.n_exact
                 ELSE 0 END AS INTEGER) AS recall_pct
FROM qs q
LEFT JOIN nc ON q.query_id = nc.query_id
LEFT JOIN ex ON q.query_id = ex.query_id
LEFT JOIN an ON q.query_id = an.query_id
LEFT JOIN ov ON q.query_id = ov.query_id
""")
def hard_negative_mining_ann_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import (
        hard_negative_candidates, hard_negatives, negatives_topk_cut)

    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
                  .localCheckpoint(eager=False))
    corpus = emb.filter(F.col("vec_id") >= 8)
    # ONE candidate expression tree serves both the candidate counts
    # and the ANN cut (identical arguments — building it twice paid
    # the ~300-call LSH probe construction twice, ~0.3 s driver-side).
    cand = hard_negative_candidates(corpus, queries, prefilter="lsh",
                                    num_bits=8, probe_hamming=1)
    ann = negatives_topk_cut(cand, k=3)
    # exact feeds BOTH the n_exact denominator and the overlap join —
    # pin it so the brute-force corpus scoring (the expensive pass
    # this query exists to calibrate away) runs once, not twice.
    exact = hard_negatives(corpus, queries, k=3) \
        .localCheckpoint(eager=False)
    # Every derived frame is <= |queries| * k (or |queries| groups) —
    # broadcast them all so no sort-merge join appears.
    nc = (cand.groupBy("query_id")
          .agg(F.count(F.lit(1)).cast("long").alias("n_candidates")))
    # n_exact is MEASURED, not the literal k: a query whose label
    # covers all but <k corpus rows has fewer true negatives, and the
    # recall denominator must shrink with it.
    ex = (exact.groupBy("query_id")
          .agg(F.count(F.lit(1)).alias("n_exact")))
    an = (ann.groupBy("query_id")
          .agg(F.count(F.lit(1)).alias("n_ann")))
    ov = (exact.select("query_id", "vec_id")
          .join(F.broadcast(ann.select("query_id", "vec_id")),
                ["query_id", "vec_id"])
          .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_overlap")))
    return (queries.select(F.col("vec_id").alias("query_id"))
            .join(F.broadcast(nc), "query_id", "left")
            .join(F.broadcast(ex), "query_id", "left")
            .join(F.broadcast(an), "query_id", "left")
            .join(F.broadcast(ov), "query_id", "left")
            .select("query_id",
                    F.coalesce("n_exact", F.lit(0)).cast("int")
                     .alias("n_exact"),
                    F.coalesce("n_candidates", F.lit(0)).cast("long")
                     .alias("n_candidates"),
                    F.coalesce("n_ann", F.lit(0)).cast("int")
                     .alias("n_ann"),
                    F.coalesce("n_overlap", F.lit(0)).cast("int")
                     .alias("n_overlap"),
                    F.expr("cast(case when coalesce(n_exact, 0) > 0"
                           " then coalesce(n_overlap, 0) * 100"
                           " div n_exact else 0 end as int)")
                     .alias("recall_pct")))


# --- embedding degeneracy stats per label ------------------------------------
# Collapsed-embedding detector: per label, quantized-norm envelope and
# the quantized per-dim centroid (integer micro-units — float sums
# across partitions are order-dependent, so every accumulation happens
# in exact BIGINTs after a fixed 1e6 quantization; the centroid
# array compares cell-exact cross-engine). A label whose norm band is
# tight around 0 or whose centroid norm approaches the mean member
# norm is collapsing toward a point.

@_q("embedding_degeneracy_stats", """
WITH q AS (
  SELECT label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                                  AS BIGINT)) AS qe
  FROM embeddings
), n AS (
  SELECT label, qe,
         CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS nq
  FROM q
)
, dims AS (
  SELECT label, i.d AS dim, qe[i.d + 1] AS v
  FROM q, (SELECT unnest(range(16)) AS d) i
), cent AS (
  SELECT label, dim, CAST(SUM(v) AS BIGINT) AS centroid_sum
  FROM dims GROUP BY label, dim
), agg AS (
  SELECT label, COUNT(*) AS n_vecs,
         CAST(MIN(nq) AS BIGINT) AS min_norm_q,
         CAST(MAX(nq) AS BIGINT) AS max_norm_q
  FROM n GROUP BY label
)
SELECT agg.label, agg.n_vecs, agg.min_norm_q, agg.max_norm_q,
       CAST(cent.dim AS INTEGER) AS dim, cent.centroid_sum
FROM agg JOIN cent ON agg.label = cent.label
""")
def embedding_degeneracy_stats_q(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    # One row per (label, dim): the per-label norm envelope repeated
    # alongside each quantized centroid component. Scalar columns only —
    # the driver's canonicalizer cannot sort array<> cells (r6 lesson).
    emb = load(spark, sf_dir, "embeddings")
    qe = F.transform("embedding",
                     lambda x: F.floor(x.cast("double") * 1_000_000)
                     .cast("long"))
    nq = F.aggregate(F.col("_qe"), F.lit(0).cast("long"),
                     lambda acc, x: acc + x * x)
    base = (emb.select("label", qe.alias("_qe"))
               .withColumn("_nq", nq))
    sums = [F.sum(F.element_at("_qe", i + 1)).cast("long")
            for i in range(16)]
    agg = (base.groupBy("label")
           .agg(F.count(F.lit(1)).alias("n_vecs"),
                F.min("_nq").cast("long").alias("min_norm_q"),
                F.max("_nq").cast("long").alias("max_norm_q"),
                F.array(*sums).alias("_cent")))
    return (agg.select("label", "n_vecs", "min_norm_q", "max_norm_q",
                       F.posexplode("_cent").alias("dim", "centroid_sum"))
            .select("label", "n_vecs", "min_norm_q", "max_norm_q",
                    F.col("dim").cast("int").alias("dim"), "centroid_sum"))


# --- custom Python DataSource WRITER roundtrip -------------------------------
# The write-side connector surface: documents flow through the
# `jsonlsink` Python DataSource writer (per-task JSONL files, commit
# manifest), are read back as JSON, and the per-source aggregate must
# equal the direct-from-parquet aggregate (the oracle). Proves
# task-level write -> commit -> read fidelity including string escaping.

@_q("jsonl_sink_roundtrip", """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents WHERE doc_id < 200 GROUP BY source
""")
def jsonl_sink_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark_etl_project_spark.sources.jsonl_sink import (
        JsonlSinkDataSource)

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:
        pass  # already registered in this session
    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "source", "text"))
    path = os.path.join(tempfile.mkdtemp(prefix="jsonl_sink_"), "out")
    docs.write.format("jsonlsink").option("path", path).mode("overwrite").save()
    back = (spark.read
            .schema("doc_id bigint, source string, text string")
            .json(os.path.join(path, "part-*.jsonl")))
    return (back.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).cast("long").alias("total_chars"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


# --- retrieval MRR by label relevance ----------------------------------------
# Mean-reciprocal-rank eval over the exact cosine top-10: a retrieved
# vector is relevant iff it shares the query's label; per query the
# reciprocal rank of the first relevant hit in integer milli-units
# (1000 div rank — no float harmonic), 0 when nothing relevant lands
# in the window. The standard retrieval-eval loop, one broadcast join
# + one query-keyed window.

@_q("retrieval_mrr_by_label", f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
  FROM embeddings WHERE vec_id < 8
), cs AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 8
), ranked AS (
  SELECT q.query_id, q.qlabel, e.label, e.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY {_PAIR_COS_SQL} DESC,
                                     e.vec_id ASC) AS rn
  FROM cs e, qs q
), top10 AS (
  SELECT * FROM ranked WHERE rn <= 10
), firstrel AS (
  SELECT query_id, MIN(rn) AS first_rel_rank
  FROM top10 WHERE label = qlabel GROUP BY query_id
)
SELECT q.query_id,
       CAST(COALESCE(f.first_rel_rank, 0) AS INTEGER) AS first_rel_rank,
       CAST(CASE WHEN f.first_rel_rank IS NULL THEN 0
            ELSE 1000 // f.first_rel_rank END AS INTEGER) AS rr_milli
FROM qs q LEFT JOIN firstrel f ON q.query_id = f.query_id
""")
def retrieval_mrr_by_label_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.similarity import (
        topk_for_queries)

    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec"),
                          F.col("label").alias("qlabel"))
                  .localCheckpoint(eager=False))
    corpus = emb.filter(F.col("vec_id") >= 8)
    top = topk_for_queries(corpus, queries.select("query_id", "query_vec"),
                           k=10, num_bits=None)
    labeled = top.join(
        F.broadcast(emb.select(F.col("vec_id"),
                               F.col("label").alias("rlabel"))),
        "vec_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("vec_id"))
    ranked = labeled.withColumn("rn", F.row_number().over(w))
    firstrel = (ranked
                .join(F.broadcast(queries.select("query_id", "qlabel")),
                      "query_id")
                .filter(F.col("rlabel") == F.col("qlabel"))
                .groupBy("query_id")
                .agg(F.min("rn").alias("first_rel_rank")))
    return (queries.select("query_id")
            .join(F.broadcast(firstrel), "query_id", "left")
            .select("query_id",
                    F.coalesce("first_rel_rank", F.lit(0)).cast("int")
                     .alias("first_rel_rank"),
                    F.expr("cast(case when first_rel_rank is null"
                           " then 0 else 1000 div first_rel_rank end"
                           " as int)").alias("rr_milli")))


# --- dedup cluster-size histogram --------------------------------------------
# The audit view over near-dup clustering: how many clusters of each
# size (size 1 = unique docs, heavy tails = template families). Reuses
# the minhash candidate pairs + connected components; the histogram is
# two tiny aggregates on top. Oracle extends the recursive-CTE closure.

@_q("dedup_cluster_size_histogram", f"""
{_MINHASH_PAIRS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
nodes AS (SELECT doc_id FROM base),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), clusters AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
), sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size
  FROM clusters GROUP BY cluster_id
)
SELECT CAST(cluster_size AS INTEGER) AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
""")
def dedup_cluster_size_histogram_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import (
        connected_dedup_clusters, minhash_lsh_candidates)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    near = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(" extratoken")).alias("text"))
    base = docs.select("doc_id", "text").unionByName(near)
    pairs = minhash_lsh_candidates(base, "doc_id", "text",
                                   num_hashes=8, num_bands=4, shingle_n=3)
    clusters = connected_dedup_clusters(pairs, base.select("doc_id"))
    sizes = (clusters.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    return (sizes.groupBy(F.col("cluster_size").cast("int")
                          .alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .withColumn("n_docs",
                        (F.col("cluster_size") * F.col("n_clusters"))
                        .cast("long")))


# --- bigram-LM surprise scoring ----------------------------------------------
# Perplexity-proxy document scoring with an integer estimator: corpus
# bigram frequencies as the LM, per-doc mean inverse probability
# (surprise_i = total_bigrams div count(bigram_i), averaged per doc).
# Gibberish scores high (its bigrams are corpus-rare), boilerplate low.
# The bigram-level complement of rare_token_quality_score's unigram LM.
# Two map-combined counts + one vocabulary-keyed join; all BIGINT.

@_q("bigram_surprise_score", """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM documents
), bg AS (
  SELECT doc_id, array_to_string(w[i+1:i+2], ' ') AS g
  FROM t, unnest(range(CASE WHEN len(w) >= 2 THEN len(w) - 1
                        ELSE 0 END)) AS r(i)
), bc AS (
  SELECT g, COUNT(*) AS c FROM bg GROUP BY g
), tot AS (SELECT COUNT(*) AS n FROM bg)
SELECT bg.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(tot.n // bc.c) // COUNT(*) AS BIGINT) AS mean_surprise
FROM bg JOIN bc USING (g), tot
GROUP BY bg.doc_id
""")
def bigram_surprise_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    bg = (docs.select("doc_id",
                      F.explode(X.ngram_array(toks, 2)).alias("g"))
              .localCheckpoint(eager=False))
    bc = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    tot = bg.agg(F.count(F.lit(1)).alias("n"))
    return (bg.join(bc, "g")
              .crossJoin(F.broadcast(tot))
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.expr("cast(sum(n div c) div count(1) as bigint)")
                    .alias("mean_surprise")))


# --- dedup survivorship merge ------------------------------------------------
# The keeper per normalized fingerprint is the highest-quality copy
# (token count as the quality proxy; id tiebreak), and the dropped
# copies MERGE their provenance onto it — distinct sources as a sorted
# CSV, copy count, best quality. Dedup that preserves evidence instead
# of discarding it.

@_q("dedup_survivorship_merge", """
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS q,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), keep AS (
  SELECT fp, doc_id AS keep_id FROM (
    SELECT fp, doc_id,
           ROW_NUMBER() OVER (PARTITION BY fp
                              ORDER BY q DESC, doc_id ASC) AS rn
    FROM d) WHERE rn = 1
), prov AS (
  SELECT fp, COUNT(*) AS n_copies,
         string_agg(DISTINCT source, ',' ORDER BY source) AS sources_csv,
         CAST(MAX(q) AS INTEGER) AS max_quality
  FROM d GROUP BY fp
)
SELECT k.keep_id, p.n_copies, p.sources_csv, p.max_quality
FROM keep k JOIN prov p ON k.fp = p.fp
""")
def dedup_survivorship_merge_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import (
        survivorship_merge)

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "text", "source",
                    X.token_count("text").alias("q")))
    out = survivorship_merge(docs, "doc_id", "text", "source", "q")
    return out.withColumn("max_quality",
                          F.col("max_quality").cast("int"))


# --- small-files compaction roundtrip ----------------------------------------
# Gate for the lakehouse maintenance sink (extensions/layout.py:
# compact_small_files): a deliberately fragmented write (8 appends x 8
# partitions) compacts into range-sorted files; the read-back aggregate
# must equal the direct aggregate, and the file count is pinned in the
# result so the gate also proves the layout contract, not only the rows.

@_q("compaction_roundtrip", """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(4 AS INTEGER) AS files_written
FROM documents WHERE doc_id < 400 GROUP BY source
""")
def compaction_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark_etl_project_spark.extensions.layout import (
        compact_small_files)

    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400)
            .select("doc_id", "source", "n_chars"))
    work = tempfile.mkdtemp(prefix="compact_rt_")
    frag = os.path.join(work, "frag")
    # Fragmented-source setup in ONE write job: hash-repartitioning the
    # 400 rows 64 ways lays down the same many-tiny-files shape the old
    # 8x append loop produced (8 commits, each rescanning + refiltering
    # the parquet — 8 jobs of setup for one query). The compaction pass
    # under test is unchanged and its output is byte-identical:
    # compact_small_files re-sorts by doc_id into ceil(n/target) files
    # regardless of source layout.
    docs.repartition(64, F.col("doc_id")).write.mode("overwrite").parquet(frag)
    dst = os.path.join(work, "compact")
    n, files = compact_small_files(spark, frag, dst, "doc_id",
                                   target_rows_per_file=100)
    return (spark.read.parquet(dst)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"))
            .withColumn("files_written", F.lit(files).cast("int")))


# --- MinHash-LSH candidate recall/precision vs exact Jaccard -----------------
# The dedup-method twin of ann_recall_calibration: ground truth = exact
# 3-gram Jaccard >= 1/5 over the clone-augmented corpus, prediction =
# banded MinHash candidates (8 hashes, 4 bands). TP/FN/FP counts and
# integer percentages — the measurement that sizes bands/hashes before
# a corpus-wide near-dup run. Both pair sets reuse their gated
# machinery; the confusion join is (id_a, id_b)-keyed.

@_q("minhash_vs_jaccard_eval", f"""
{_MINHASH_PAIRS_CTE},
sizes AS (SELECT doc_id, len(sh) AS sz FROM docs),
inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
jpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter_n
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT id_a, id_b FROM jpairs
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE inter_n * 5 >= (sa.sz + sb.sz - inter_n) * 1
), pred AS (SELECT id_a, id_b FROM pairs)
SELECT
  (SELECT COUNT(*) FROM truth) AS n_truth,
  (SELECT COUNT(*) FROM pred) AS n_pred,
  (SELECT COUNT(*) FROM truth JOIN pred USING (id_a, id_b)) AS n_tp,
  CAST((SELECT COUNT(*) FROM truth JOIN pred USING (id_a, id_b)) * 100
       // GREATEST((SELECT COUNT(*) FROM truth), 1) AS INTEGER)
    AS recall_pct,
  CAST((SELECT COUNT(*) FROM truth JOIN pred USING (id_a, id_b)) * 100
       // GREATEST((SELECT COUNT(*) FROM pred), 1) AS INTEGER)
    AS precision_pct
""")
def minhash_vs_jaccard_eval_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.dedup import (
        jaccard_pairs, minhash_lsh_candidates)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    near = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(" extratoken")).alias("text"))
    base = (docs.select("doc_id", "text").unionByName(near)
            .localCheckpoint(eager=False))
    sh = base.select("doc_id", word_shingles("text", 3).alias("sh"))
    truth = (jaccard_pairs(sh, "doc_id", "sh", threshold_num=1,
                           threshold_den=5, max_doc_freq=None)
             .select("id_a", "id_b"))
    pred = (minhash_lsh_candidates(base, "doc_id", "text",
                                   num_hashes=8, num_bands=4,
                                   shingle_n=3)
            .select("id_a", "id_b"))
    tp = truth.join(F.broadcast(pred), ["id_a", "id_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    np_ = pred.agg(F.count(F.lit(1)).alias("n_pred"))
    ntp = tp.agg(F.count(F.lit(1)).alias("n_tp"))
    return (nt.crossJoin(F.broadcast(np_)).crossJoin(F.broadcast(ntp))
            .withColumn("recall_pct",
                        F.expr("cast(n_tp * 100 div greatest(n_truth, 1)"
                               " as int)"))
            .withColumn("precision_pct",
                        F.expr("cast(n_tp * 100 div greatest(n_pred, 1)"
                               " as int)")))


# --- TF-IDF weighted doc-doc similarity --------------------------------------
# The weighted complement of n-gram Jaccard: token weights tf *
# (1e6 div df) — integer IDF proxy, no float log — and doc-pair scores
# as the sparse dot product over an inverted token index (shuffle on
# the token, stop-token cap 100, never an all-pairs join). Top-20
# pairs by integer score with pair tiebreak; rare shared vocabulary
# dominates, which is exactly what separates topical similarity from
# boilerplate overlap.

@_q("tfidf_doc_similarity_topk", """
WITH tok AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS t
    FROM documents WHERE doc_id < 300) GROUP BY doc_id, t
), df AS (
  SELECT t, COUNT(*) AS dfreq FROM tok GROUP BY t
), keep AS (SELECT t, dfreq FROM df WHERE dfreq <= 100),
w AS (
  SELECT tok.doc_id, tok.t,
         tok.tf * (1000000 // keep.dfreq) AS wgt
  FROM tok JOIN keep ON tok.t = keep.t
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(a.wgt * b.wgt) AS BIGINT) AS score
  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, score FROM pairs
ORDER BY score DESC, id_a, id_b LIMIT 20
""")
def tfidf_doc_similarity_topk_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 300))
    tok = (docs.select("doc_id",
                       F.explode(X.tokens(F.col("text"))).alias("t"))
               .groupBy("doc_id", "t")
               .agg(F.count(F.lit(1)).alias("tf"))
               .localCheckpoint(eager=False))
    keep = (tok.groupBy("t").agg(F.count(F.lit(1)).alias("dfreq"))
               .filter(F.col("dfreq") <= 100))
    w = (tok.join(keep, "t")
            .select("doc_id", "t",
                    F.expr("tf * (1000000 div dfreq)").alias("wgt")))
    pairs = (w.alias("a")
             .join(w.alias("b").hint("shuffle_hash"),
                   (F.col("a.t") == F.col("b.t"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"))
             .agg(F.sum(F.col("a.wgt") * F.col("b.wgt")).cast("long")
                  .alias("score")))
    return (pairs.orderBy(F.desc("score"), "id_a", "id_b").limit(20))


# --- length-distribution drift between source groups -------------------------
# Data-drift monitor: decile grids of document length for two source
# cohorts (even vs odd source index — stand-ins for "last week" vs
# "this week") computed with the exact rank machinery, then the
# per-decile integer gap. Persistent one-sided gaps = the ingest mix
# changed. Ranks run per cohort over the (tiny) distinct-length count
# table; no full sort of the corpus.

@_q("length_drift_deciles", """
WITH d AS (
  SELECT CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
         THEN 'even' ELSE 'odd' END AS cohort,
         n_chars
  FROM documents
), counts AS (
  SELECT cohort, n_chars, COUNT(*) AS c FROM d GROUP BY cohort, n_chars
), r AS (
  SELECT cohort, n_chars, c,
         SUM(c) OVER (PARTITION BY cohort ORDER BY n_chars
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER (PARTITION BY cohort) AS total
  FROM counts
), dec AS (
  SELECT cohort, q.decile,
         MIN(n_chars) AS val
  FROM r, (SELECT unnest(range(1, 10)) AS decile) q
  WHERE cum * 10 >= total * q.decile
  GROUP BY cohort, q.decile
)
SELECT e.decile AS decile,
       CAST(e.val AS BIGINT) AS even_chars,
       CAST(o.val AS BIGINT) AS odd_chars,
       CAST(e.val - o.val AS BIGINT) AS gap
FROM (SELECT decile, val FROM dec WHERE cohort = 'even') e
JOIN (SELECT decile, val FROM dec WHERE cohort = 'odd') o
  ON e.decile = o.decile
""")
def length_drift_deciles_q(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cohort = F.when(F.substring("source", 4, 10).cast("int") % 2 == 0,
                    "even").otherwise("odd")
    counts = (docs.select(cohort.alias("cohort"), "n_chars")
              .groupBy("cohort", "n_chars")
              .agg(F.count(F.lit(1)).alias("c")))
    w_cum = (Window.partitionBy("cohort").orderBy("n_chars")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_tot = Window.partitionBy("cohort")
    r = (counts.withColumn("cum", F.sum("c").over(w_cum))
               .withColumn("total", F.sum("c").over(w_tot)))
    deciles = spark.range(1, 10).select(F.col("id").cast("int")
                                        .alias("decile"))
    dec = (r.crossJoin(F.broadcast(deciles))
           .filter(F.col("cum") * 10 >= F.col("total") * F.col("decile"))
           .groupBy("cohort", "decile")
           .agg(F.min("n_chars").alias("val")))
    e = (dec.filter("cohort = 'even'")
         .select("decile", F.col("val").cast("long").alias("even_chars")))
    o = (dec.filter("cohort = 'odd'")
         .select("decile", F.col("val").cast("long").alias("odd_chars")))
    return (e.join(F.broadcast(o), "decile")
            .withColumn("gap", (F.col("even_chars")
                                - F.col("odd_chars")).cast("long")))


# --- triangle counting on the doc-link graph ---------------------------------
# Degree-ordered node-iterator (orient low->high by (deg, id), wedge
# join, close against the symmetric edge set — O(m^1.5) wedges, never
# Σdeg² at a hub) over the same synthetic 3-out link graph the
# PageRank query uses. The oracle replays orientation, wedges and the
# closing join in SQL; the single output row is the exact count.

@_q("triangle_count_doc_links", """
WITH nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 500),
e0 AS (
  SELECT id AS a, (id * 7 + 1) % 500 AS b FROM nodes
  UNION ALL SELECT id, (id * 13 + 2) % 500 FROM nodes
  UNION ALL SELECT id, (id * 31 + 3) % 500 FROM nodes
), e1 AS (SELECT a, b FROM e0 WHERE a <> b),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e1 UNION ALL SELECT b AS a, a AS b FROM e1)
), deg AS (SELECT a, COUNT(*) AS d FROM und GROUP BY a),
ori AS (
  SELECT u.a, u.b FROM und u
  JOIN deg x ON u.a = x.a
  JOIN deg y ON u.b = y.a
  WHERE x.d < y.d OR (x.d = y.d AND u.a < u.b)
), wed AS (
  SELECT o1.b AS v, o2.b AS w
  FROM ori o1 JOIN ori o2 ON o1.a = o2.a AND o1.b < o2.b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM wed JOIN und ON wed.v = und.a AND wed.w = und.b
""")
def triangle_count_doc_links_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.graph import triangle_count

    nodes = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") < 500).select("doc_id"))
    i = F.col("doc_id")
    edges = (nodes.select(i.alias("src"), ((i * 7 + 1) % 500).alias("dst"))
             .unionByName(nodes.select(i.alias("src"),
                                       ((i * 13 + 2) % 500).alias("dst")))
             .unionByName(nodes.select(i.alias("src"),
                                       ((i * 31 + 3) % 500).alias("dst"))))
    return triangle_count(edges)


# --- majority label propagation, hash-gated per round ------------------------
# Deterministic LPA (ties to the smaller label) on the same synthetic
# 3-out link graph; every round is replayed by an unrolled CTE chain —
# the pagerank oracle pattern — so the gate checks the full iterative
# fixpoint trajectory, not just final row counts.

def _lpa_oracle_sql(n_iter: int) -> str:
    parts = ["""
WITH nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 500),
e0 AS (
  SELECT id AS a, (id * 7 + 1) % 500 AS b FROM nodes
  UNION ALL SELECT id, (id * 13 + 2) % 500 FROM nodes
  UNION ALL SELECT id, (id * 31 + 3) % 500 FROM nodes
), e1 AS (SELECT a, b FROM e0 WHERE a <> b),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e1 UNION ALL SELECT b AS a, a AS b FROM e1)
), l0 AS (SELECT id AS nid, id AS label FROM nodes)"""]
    for k in range(1, n_iter + 1):
        parts.append(f""",
c{k} AS (
  SELECT u.a AS nid, l.label, COUNT(*) AS c
  FROM und u JOIN l{k - 1} l ON u.b = l.nid GROUP BY u.a, l.label
), p{k} AS (
  SELECT nid, label FROM (
    SELECT nid, label,
           ROW_NUMBER() OVER (PARTITION BY nid
                              ORDER BY c DESC, label) AS rn
    FROM c{k}) WHERE rn = 1
), l{k} AS (
  SELECT n.nid, COALESCE(p.label, n.nid) AS label
  FROM (SELECT nid FROM l0) n LEFT JOIN p{k} p ON n.nid = p.nid)""")
    return ("".join(parts)
            + f"\nSELECT nid AS doc_id, label FROM l{n_iter}")


@_q("label_propagation_communities", _lpa_oracle_sql(2))
def label_propagation_communities_q(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.graph import (
        label_propagation_majority)

    nodes = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") < 500).select("doc_id"))
    i = F.col("doc_id")
    edges = (nodes.select(i.alias("src"), ((i * 7 + 1) % 500).alias("dst"))
             .unionByName(nodes.select(i.alias("src"),
                                       ((i * 13 + 2) % 500).alias("dst")))
             .unionByName(nodes.select(i.alias("src"),
                                       ((i * 31 + 3) % 500).alias("dst"))))
    return label_propagation_majority(nodes, edges, id_col="doc_id",
                                      n_iter=2)


# --- grayscale luma transform, gated end-to-end ------------------------------
# The transform half of the image path: decode (real PPM parser) then
# per-pixel integer BT.601 luma (299r+587g+114b div 1000). The oracle
# replays decode AND transform from the md5 byte pattern — pixel-exact.

@_q("multimodal_grayscale", """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 200),
px AS (
  SELECT doc_id, p,
         (299 * CAST(concat('0x', substr(hx, ((3*p) % 16) * 2 + 1, 2))
                 AS INTEGER)
          + 587 * CAST(concat('0x', substr(hx, ((3*p+1) % 16) * 2 + 1, 2))
                 AS INTEGER)
          + 114 * CAST(concat('0x', substr(hx, ((3*p+2) % 16) * 2 + 1, 2))
                 AS INTEGER)) // 1000 AS y
  FROM d, unnest(range(w * h)) AS t(p))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pixels,
       CAST(SUM(y) AS BIGINT) AS sum_luma,
       CAST(MIN(y) AS INTEGER) AS min_luma,
       CAST(MAX(y) AS INTEGER) AS max_luma
FROM px GROUP BY doc_id
""")
def multimodal_grayscale_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import (
        grayscale_stats, synth_images)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return grayscale_stats(synth_images(docs, "doc_id", fmt="ppm"))


# --- balanced k-way token sharding -------------------------------------------
# Partition the corpus into k=8 shards with near-equal token budgets:
# snake-order assignment over the global (tokens desc, id) rank —
# shard = rank%k on even passes, k-1-rank%k on odd — the deterministic
# LPT-lite that bounds shard imbalance by one document. Rank comes
# from the two-phase range row number; gate checks per-shard doc count
# and token sum exactly.

@_q("balanced_token_shards", """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
  FROM t
), s AS (
  SELECT doc_id, n_tokens,
         CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
              ELSE 7 - (rk % 8) END AS shard
  FROM r
)
SELECT CAST(shard AS INTEGER) AS shard, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
FROM s GROUP BY shard
""")
def balanced_token_shards_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.scd2 import dense_row_number

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", X.token_count("text").alias("n_tokens"))
            .withColumn("_neg", -F.col("n_tokens")))
    ranked = (dense_row_number(docs, ["_neg", "doc_id"], "_rn")
              .withColumn("rk", F.col("_rn") - 1))
    shard = F.expr("case when (rk div 8) % 2 = 0 then rk % 8"
                   " else 7 - (rk % 8) end")
    return (ranked.withColumn("shard", shard.cast("int"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("shard_tokens")))


# --- stereo->mono mixdown, gated end-to-end ----------------------------------
# The transform half of the audio path: real WAV decode then per-frame
# mono = trunc((ch0+ch1)/2) — truncation chosen explicitly because
# DuckDB's // truncates toward zero while Python's floors; the oracle
# replays samples from the md5 pattern with the same trunc expression.

@_q("multimodal_audio_mixdown", """
WITH d AS (
  SELECT doc_id, 40 + doc_id % 17 AS frames, 1 + doc_id % 2 AS ch,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE doc_id < 200),
v AS (
  SELECT doc_id, frames, ch, i // ch AS frame, i % ch AS chan,
         CAST(concat('0x', substr(hx, ((2*i) % 16) * 2 + 1, 2))
              AS INTEGER)
         + 256 * CAST(concat('0x', substr(hx, ((2*i+1) % 16) * 2 + 1, 2))
                      AS INTEGER) AS raw
  FROM d, unnest(range(frames * ch)) AS t(i)
), sgn AS (
  SELECT doc_id, frames, ch, frame, chan,
         raw - CASE WHEN raw >= 32768 THEN 65536 ELSE 0 END AS s
  FROM v
), fr AS (
  SELECT doc_id, MIN(frames) AS frames, MIN(ch) AS ch, frame,
         (SUM(CASE WHEN chan = 0 THEN s ELSE 0 END)
          + CASE WHEN MIN(ch) > 1
                 THEN SUM(CASE WHEN chan = 1 THEN s ELSE 0 END)
                 ELSE SUM(CASE WHEN chan = 0 THEN s ELSE 0 END) END)
           // 2 AS mono
  FROM sgn GROUP BY doc_id, frame
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(MIN(ch) AS INTEGER) AS n_channels,
       CAST(SUM(mono) AS BIGINT) AS sum_mono,
       CAST(MIN(mono) AS INTEGER) AS min_mono,
       CAST(MAX(mono) AS INTEGER) AS max_mono
FROM fr GROUP BY doc_id
""")
def multimodal_audio_mixdown_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.multimodal import (
        audio_mixdown_stats, synth_audio)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return audio_mixdown_stats(synth_audio(docs, "doc_id"))


# --- dictionary encoding roundtrip -------------------------------------------
# Low-cardinality column compression the engine way: build the value
# dictionary with DETERMINISTIC ids (dense rank by value — no
# monotonically_increasing_id, whose values depend on partitioning),
# encode the fact rows by broadcast join, then decode back and prove
# the roundtrip by aggregating over the DECODED column. The gate also
# pins the dictionary size and the encoded width (max id).

@_q("dictionary_encode_roundtrip", """
WITH dict AS (
  SELECT event_type AS v,
         ROW_NUMBER() OVER (ORDER BY event_type) AS id
  FROM (SELECT DISTINCT event_type FROM events)
), enc AS (
  SELECT e.event_id, d.id FROM events e JOIN dict d
    ON e.event_type = d.v
), dec AS (
  SELECT enc.event_id, d.v AS event_type
  FROM enc JOIN dict d ON enc.id = d.id
)
SELECT dec.event_type, COUNT(*) AS n_events,
       (SELECT CAST(COUNT(*) AS INTEGER) FROM dict) AS dict_size,
       (SELECT CAST(MAX(id) AS INTEGER) FROM dict) AS max_id
FROM dec GROUP BY dec.event_type
""")
def dictionary_encode_roundtrip_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.orderBy("v")
    # the distinct-value table is tiny (dictionary premise), so the
    # one-task rank window is the small-side plan by construction.
    dic = (ev.select(F.col("event_type").alias("v")).distinct()
             .withColumn("id", F.row_number().over(w))
             .localCheckpoint(eager=False))
    enc = (ev.join(F.broadcast(dic), ev["event_type"] == dic["v"])
             .select("event_id", "id"))
    dec = (enc.join(F.broadcast(dic), "id")
              .select("event_id", F.col("v").alias("event_type")))
    stats = dic.agg(F.count(F.lit(1)).cast("int").alias("dict_size"),
                    F.max("id").cast("int").alias("max_id"))
    return (dec.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .crossJoin(F.broadcast(stats)))


# --- pandas UDF surface (scalar + grouped-agg), oracle-gated ----------------
# Vectorized scalar UDF (vowel count per event type) and a grouped-agg
# UDF (integer weighted mean of value cents, weight = user_id%10+1)
# in ONE aggregation — proving both Arrow surfaces compose with
# built-in aggregates inside a normal groupBy plan.

@_q("pandas_udf_surface", """
SELECT event_type,
       CAST(length(event_type)
            - length(regexp_replace(event_type, '[aeiou]', '', 'g'))
            AS INTEGER) AS type_vowels,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)
                * (user_id % 10 + 1))
            // SUM(user_id % 10 + 1) AS BIGINT) AS weighted_mean_cents
FROM events GROUP BY event_type
""")
def pandas_udf_surface_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.pandas_udfs import (
        vowel_count, weighted_mean_trunc)

    ev = load(spark, sf_dir, "events")
    cents = (F.floor(F.col("value").cast("decimal(18,6)") * 100)
             .cast("long"))
    w = (F.col("user_id") % 10 + 1).cast("long")
    base = (ev.select("event_type", cents.alias("_c"), w.alias("_w"))
              .localCheckpoint(eager=False))
    # Spark forbids mixing a grouped-agg pandas UDF with built-in
    # aggregates in one agg(); the count runs as its own tiny
    # aggregation and joins back on the 5-row group key.
    wm = (base.groupBy("event_type")
          .agg(weighted_mean_trunc(F.col("_c"), F.col("_w"))
               .alias("weighted_mean_cents")))
    cnt = (base.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events")))
    return (wm.join(F.broadcast(cnt), "event_type")
            .withColumn("type_vowels", vowel_count(F.col("event_type")))
            .select("event_type", "type_vowels", "n_events",
                    "weighted_mean_cents"))


# --- token prefix index ------------------------------------------------------
# Autocomplete / search-index primitive: per 3-char token prefix, the
# occurrence count, distinct-token count, and the most frequent
# completion with a deterministic (count desc, token asc) pick. Two
# map-combined aggregates; the per-prefix argmax window runs over the
# (vocabulary-sized) token-count table. Top-100 prefixes by volume
# with a full deterministic cut.

@_q("token_prefix_index", """
WITH tc AS (
  SELECT t, COUNT(*) AS c FROM (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS t
    FROM documents) WHERE length(t) >= 3 GROUP BY t
), p AS (
  SELECT substr(t, 1, 3) AS prefix, t, c FROM tc
), best AS (
  SELECT prefix, t AS top_token FROM (
    SELECT prefix, t, ROW_NUMBER() OVER (PARTITION BY prefix
                                         ORDER BY c DESC, t) AS rn
    FROM p) WHERE rn = 1
), agg AS (
  SELECT prefix, CAST(SUM(c) AS BIGINT) AS n_occurrences,
         COUNT(*) AS n_tokens
  FROM p GROUP BY prefix
)
SELECT a.prefix, a.n_occurrences, a.n_tokens, b.top_token
FROM agg a JOIN best b ON a.prefix = b.prefix
ORDER BY a.n_occurrences DESC, a.prefix LIMIT 100
""")
def token_prefix_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tc = (docs.select(F.explode(X.tokens(F.col("text"))).alias("t"))
              .filter(F.length("t") >= 3)
              .groupBy("t").agg(F.count(F.lit(1)).alias("c"))
              .withColumn("prefix", F.substring("t", 1, 3))
              .localCheckpoint(eager=False))
    w = Window.partitionBy("prefix").orderBy(F.desc("c"), F.asc("t"))
    best = (tc.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1")
              .select("prefix", F.col("t").alias("top_token")))
    agg = (tc.groupBy("prefix")
           .agg(F.sum("c").cast("long").alias("n_occurrences"),
                F.count(F.lit(1)).alias("n_tokens")))
    return (agg.join(best, "prefix")
            .orderBy(F.desc("n_occurrences"), "prefix").limit(100)
            .select("prefix", "n_occurrences", "n_tokens", "top_token"))


# --- cogrouped applyInPandas surface -----------------------------------------
# clicks and purchases cogrouped per user in one Arrow call: the
# clicks-before-first-purchase alignment (users with no purchase count
# every click). Completes the Python API matrix; the SQL oracle
# recomputes the alignment relationally.

@_q("cogrouped_click_purchase", """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS t FROM events
  WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_us(ts) AS t FROM events
  WHERE event_type = 'purchase'
), cc AS (SELECT user_id, COUNT(*) AS nc FROM c GROUP BY user_id),
pc AS (SELECT user_id, COUNT(*) AS np, MIN(t) AS ft
       FROM p GROUP BY user_id),
u AS (SELECT user_id FROM cc UNION SELECT user_id FROM pc),
before AS (
  SELECT c.user_id, COUNT(*) AS nb
  FROM c JOIN pc ON c.user_id = pc.user_id AND c.t < pc.ft
  GROUP BY c.user_id
)
SELECT u.user_id,
       CAST(COALESCE(cc.nc, 0) AS BIGINT) AS n_clicks,
       CAST(COALESCE(pc.np, 0) AS BIGINT) AS n_purchases,
       CAST(CASE WHEN pc.user_id IS NULL THEN COALESCE(cc.nc, 0)
            ELSE COALESCE(before.nb, 0) END AS BIGINT)
         AS clicks_before_first_purchase
FROM u
LEFT JOIN cc ON u.user_id = cc.user_id
LEFT JOIN pc ON u.user_id = pc.user_id
LEFT JOIN before ON u.user_id = before.user_id
""")
def cogrouped_click_purchase_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.extensions.groupmap import (
        cogrouped_click_purchase_stats)

    ev = load(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.unix_micros("ts").alias("t")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", F.unix_micros("ts").alias("t")))
    return cogrouped_click_purchase_stats(clicks, purchases)


# --- corpus self-similarity decay curve --------------------------------------
# Duplicated-occurrence fraction at n-gram sizes 2..5 in one result:
# how fast does repetition decay as the match window grows — the
# methodological dial for choosing the dedup k (a corpus whose dup
# fraction stays flat to n=5 has real template families; fast decay
# means short-range phrase reuse only). Each size is a map-combined
# gram count + semi-join (the dup-span machinery), unioned into a
# 4-row curve.

def _decay_row_sql(n: int) -> str:
    return f"""
SELECT {n} AS n,
       CAST(COUNT(*) AS BIGINT) AS total_grams,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_occurrences,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS dup_bp
FROM (
  SELECT COUNT(*) OVER (PARTITION BY md5(g)) AS c FROM (
    SELECT array_to_string(w[i+1:i+{n}], ' ') AS g
    FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
          FROM documents)
       , unnest(range(CASE WHEN len(w) >= {n}
                       THEN len(w) - {n} + 1 ELSE 0 END)) AS r(i)))
"""


@_q("self_similarity_decay",
    " UNION ALL ".join(_decay_row_sql(n) for n in (2, 3, 4, 5)))
def self_similarity_decay_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    out = None
    for n in (2, 3, 4, 5):
        grams = (docs.select(
            F.explode(X.ngram_array(toks, n)).alias("g"))
            .select(F.md5("g").alias("gh")))
        counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
        row = (counts.agg(
            F.lit(n).cast("int").alias("n"),
            F.sum("c").cast("long").alias("total_grams"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
             .cast("long").alias("dup_occurrences"))
            .withColumn("dup_bp",
                        F.expr("cast(dup_occurrences * 10000"
                               " div total_grams as bigint)")))
        out = row if out is None else out.unionByName(row)
    return out


# --- largest-remainder budget allocation -------------------------------------
# Allocate an integer token budget across sources proportionally to
# their doc counts so the allocations SUM EXACTLY to the budget
# (floor division leaves a deficit of < k tokens; the k' groups with
# the largest remainders get +1, ties to the smaller source name) —
# the financial-allocation classic, and the correctness detail naive
# proportional sampling gets wrong. The gate proves exactness by
# construction: sum(allocation) == budget is checkable from the rows.

@_q("largest_remainder_allocation", """
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), t AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM counts),
base AS (
  SELECT c.source, c.n,
         (1000000 * c.n) // t.total AS floor_alloc,
         (1000000 * c.n) % t.total AS rem
  FROM counts c, t
), deficit AS (
  SELECT 1000000 - SUM(floor_alloc) AS d FROM base
), ranked AS (
  SELECT source, n, floor_alloc,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr
  FROM base
)
SELECT r.source, CAST(r.n AS BIGINT) AS n_docs,
       CAST(r.floor_alloc
            + CASE WHEN r.rr <= d.d THEN 1 ELSE 0 END AS BIGINT)
         AS allocation
FROM ranked r, deficit d
""")
def largest_remainder_allocation_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counts = (docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .localCheckpoint(eager=False))
    t = counts.agg(F.sum("n").alias("total"))
    base = (counts.crossJoin(F.broadcast(t))
            .withColumn("floor_alloc",
                        F.expr("(1000000 * n) div total"))
            .withColumn("rem", F.expr("(1000000 * n) % total"))
            .localCheckpoint(eager=False))
    deficit = base.agg((F.lit(1_000_000)
                        - F.sum("floor_alloc")).alias("d"))
    w = Window.orderBy(F.desc("rem"), "source")
    return (base.withColumn("rr", F.row_number().over(w))
            .crossJoin(F.broadcast(deficit))
            .select("source", F.col("n").cast("long").alias("n_docs"),
                    (F.col("floor_alloc")
                     + F.when(F.col("rr") <= F.col("d"), 1).otherwise(0))
                    .cast("long").alias("allocation")))
