"""LLM-data-pipeline queries for the driver correctness gate.

Every deterministic operator pairs with a DuckDB oracle that replicates the
exact arithmetic (portable md5 hashing, int/int divisions, fixed fold
order + ROUND(6) for float sums). The two approximate operators (LSH-ANN,
language-ID on synthetic text) are rows-only here and quality-asserted in
pytest (recall vs brute force; golden predictions on real phrases).

The LSH near-dup oracle is the *all-pairs* Jaccard — fine for DuckDB at
sf0.01, exactly what the banded-LSH Spark plan must reproduce without ever
building the quadratic pair set (b=16 single-row bands ⇒ miss probability
(1-s)^16 ≤ 4e-23 for the planted s≥0.96 duplicates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_miint_spark import storage
from duckdb_miint_spark.pipeline.dedup import (
    DEFAULT_NUM_PERM,
    DEFAULT_SHINGLE,
    exact_dedup_groups,
    minhash_signatures,
    near_dup_pairs,
    simhash32,
)
from duckdb_miint_spark.pipeline.multimodal import (
    attach_binary_column,
    fake_decode_image_features,
)
from duckdb_miint_spark.pipeline.pq import (
    pq_adc_oracle_sql as _pq_adc_oracle_sql,
    pq_encode_oracle_sql as _pq_encode_oracle_sql,
    pq_shortlist_oracle_sql as _pq_shortlist_oracle_sql,
)
from duckdb_miint_spark.pipeline.quantize import quantize_oracle_sql as _quantize_oracle_sql
from duckdb_miint_spark.pipeline.shuffle import (
    epoch_schedule_oracle_sql as _epoch_schedule_oracle_sql,
    training_order_oracle_sql as _training_order_oracle_sql,
)
from duckdb_miint_spark.pipeline.similarity import (
    cosine_topk,
    lsh_ann_topk,
    lsh_multiprobe_topk,
)
from duckdb_miint_spark.queries_analytics import _kmeans_ctes
from duckdb_miint_spark.pipeline.text import (
    bottomk_fingerprint,
    language_id,
    quality_stats,
    token_stats,
)
from duckdb_miint_spark.registry import register
from duckdb_miint_spark.session import read_table


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# Shared DuckDB CTE: distinct word-3-gram shingles per doc (1-based lists).
SHINGLES_CTE = """
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM words WHERE len(w) >= 3
)
"""


# Fingerprint-at-ingest: (doc_id, content_hash) maintained at layout
# build — a production dedup pipeline hashes each document exactly once
# at ingest, not per query. Bucketed on content_hash so the dedup
# groupBy is exchange-free; row-wise, so incremental refresh appends
# new documents' hashes in place. Same Spark/DuckDB md5 hex the gate's
# oracle already relies on.
DOC_HASHES_SQL = """
SELECT doc_id, md5(text) AS content_hash FROM documents
"""


@register(
    "dedup_exact_groups",
    oracle="""
SELECT md5(text) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY content_hash
""",
    tags=("pipeline", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: content-hash → canonical id + multiplicity.

    Graft path: hashes come off the fingerprint-at-ingest table
    (graft_b_doc_hashes, bucketed on content_hash), so the query never
    touches document text and the groupBy rides the bucket partitioning
    exchange-free."""
    pre = storage.serve(spark, sf_dir, "graft_b_doc_hashes")
    if pre is not None:
        return (
            pre.groupBy("content_hash")
            .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
            .orderBy("content_hash")
        )
    docs = T(spark, sf_dir, "documents")
    return exact_dedup_groups(docs).orderBy("content_hash")

@register(
    "minhash_signatures",
    oracle=f"""
WITH {SHINGLES_CTE}
SELECT doc_id,
       MIN(substr(md5('0:' || s), 1, 8)) AS m0,
       MIN(substr(md5('1:' || s), 9, 8)) AS m5,
       MIN(substr(md5('2:' || s), 17, 8)) AS m10,
       MIN(substr(md5('3:' || s), 25, 8)) AS m15
FROM sh GROUP BY doc_id ORDER BY doc_id
""",
    tags=("pipeline", "dedup"),
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (engine-portable md5 minima over shingles)."""
    docs = T(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    return sigs.select(
        F.col("id").alias("doc_id"), "m0", "m5", "m10", "m15"
    ).orderBy("doc_id")


@register(
    "lsh_near_dup_pairs",
    oracle=f"""
WITH {SHINGLES_CTE},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2, ROUND(i * 1.0 / (c1.n + c2.n - i), 6) AS jaccard
FROM inter
JOIN cnt c1 ON id1 = c1.doc_id
JOIN cnt c2 ON id2 = c2.doc_id
WHERE i * 1.0 / (c1.n + c2.n - i) >= 0.9
ORDER BY id1, id2
""",
    tags=("pipeline", "dedup"),
)
def q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-duplicate pairs, verified with exact Jaccard ≥ 0.9.
    The oracle computes the ground-truth all-pairs answer; the Spark plan
    must find the same pairs through buckets only.

    Layout ladder (r14): candidate bands come from the banded-MinHash
    index maintained at ingest (graft_b_lsh_index, bucketed on
    (band, v) — the bucket groupBy runs exchange-free and the corpus is
    never re-signed per query) when current, else from the in-query
    band stream. The index holds the same xxhash64 bands the in-query
    path derives, so the candidate set, and with it the pair set, is
    the same either way."""
    docs = T(spark, sf_dir, "documents")
    out = near_dup_pairs(
        docs, threshold=0.9, _bands=storage.serve(spark, sf_dir, "graft_b_lsh_index")
    )
    return out.select("id1", "id2", F.round("jaccard", 6).alias("jaccard")).orderBy("id1", "id2")


_SIMHASH_ORACLE_BITS = ",\n".join(
    f"SUM(cnt * CASE WHEN substr(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{j}"
    for j in range(32)
)
_SIMHASH_ORACLE_CONCAT = " || ".join(
    f"CASE WHEN b{j} > 0 THEN '1' ELSE '0' END" for j in range(32)
)


@register(
    "simhash_signatures",
    oracle=f"""
WITH tokens AS (
  SELECT doc_id, t, COUNT(*) AS cnt, md5(t) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
  GROUP BY doc_id, t
),
bits AS (
  SELECT doc_id, {_SIMHASH_ORACLE_BITS}
  FROM tokens GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_ORACLE_CONCAT} AS simhash
FROM bits ORDER BY doc_id
""",
    tags=("pipeline", "dedup"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures (count-weighted ±1 votes per md5 bit)."""
    docs = T(spark, sf_dir, "documents")
    return simhash32(docs).select(F.col("id").alias("doc_id"), "simhash").orderBy("doc_id")


@register(
    "token_stats",
    oracle=r"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_re_tokens,
       CAST(list_sum(list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                                    x -> length(x))) AS BIGINT) AS n_chars_tok,
       CAST(list_sum(list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                                    x -> length(x))) AS DOUBLE)
         / len(list_filter(string_split(text, ' '), x -> x <> '')) AS avg_token_len
FROM documents ORDER BY doc_id
""",
    tags=("pipeline", "text"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document.

    Graft path: stats precomputed at layout build by the identical
    token_stats derivation (graft_b_doc_tokens — tokenize-at-ingest);
    the query is a scan + order of the stats table, no tokenization."""
    pre = storage.serve(spark, sf_dir, "graft_b_doc_tokens")
    if pre is not None:
        return pre.select(
            "doc_id", "n_ws_tokens", "n_re_tokens", "n_chars_tok", "avg_token_len"
        ).orderBy("doc_id")
    docs = T(spark, sf_dir, "documents")
    return token_stats(docs).select(
        F.col("id").alias("doc_id"), "n_ws_tokens", "n_re_tokens", "n_chars_tok", "avg_token_len"
    ).orderBy("doc_id")


_STOP_LIST = "['a','an','the','and','or','of','to','in','is','it']"


@register(
    "text_quality",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
         len(list_filter(string_split(text, ' '),
             x -> x <> '' AND list_contains({_STOP_LIST}, lower(x)))) AS n_stop
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(CAST(alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
       ROUND(CAST(n_stop AS DOUBLE) / n_words, 6) AS stop_ratio,
       ROUND(
         (CASE WHEN n_chars >= 20 AND n_chars <= 100000 THEN 0.25 ELSE 0.0 END)
         + LEAST(CAST(alpha AS DOUBLE) / n_chars, 0.95) / 0.95 * 0.25
         + (1.0 - LEAST(CAST(n_stop AS DOUBLE) / n_words, 1.0)) * 0.25
         + (CASE WHEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words >= 2.0
                  AND CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words <= 12.0
             THEN 0.25 ELSE 0.0 END),
       6) AS quality_score
FROM base ORDER BY doc_id
""",
    tags=("pipeline", "text"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality filters (length / alpha-ratio / stopword / word-len)."""
    docs = T(spark, sf_dir, "documents")
    return quality_stats(docs).select(
        F.col("id").alias("doc_id"), "n_chars", "n_words", "alpha_ratio", "stop_ratio", "quality_score"
    ).orderBy("doc_id")


@register(
    "doc_fingerprint_bottomk",
    oracle=f"""
WITH {SHINGLES_CTE}
SELECT doc_id, array_to_string(list_sort(list(DISTINCT md5(s)))[1:5], ',') AS fingerprint
FROM sh GROUP BY doc_id ORDER BY doc_id
""",
    tags=("pipeline", "text"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k min-wise fingerprint (5 smallest shingle hashes). Flattened
    to a comma string: the driver canonicalizer can't hash array cells."""
    docs = T(spark, sf_dir, "documents")
    return bottomk_fingerprint(docs, k=5).select(
        F.col("id").alias("doc_id"),
        F.array_join("fingerprint", ",").alias("fingerprint"),
    ).orderBy("doc_id")


@register(
    "ann_cosine_topk",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS sim
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
""",
    tags=("pipeline", "similarity"),
)
def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (the exact baseline
    the LSH path is measured against). Scoring stays on the HOF fold: the
    unrolled dim=64 variant was A/B'd 4.4x WORSE at sf10 (see
    cosine_topk's docstring / PERF.md r9 ann audit)."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


@register(
    "ann_lsh_topk",
    # The LSH path is deterministic (md5-seeded ±1 hyperplanes), so the
    # whole computation is restated in DuckDB SQL: same plane bytes
    # (byte >= 128 ⟺ high hex nibble in 89abcdef), same b=8/r=2 buckets,
    # same candidate join and exact-cosine rerank.
    oracle="""
WITH plane_vals AS (
  SELECT p.p, d.d,
         CASE WHEN strpos('89abcdef',
                substr(md5('spark-graft:' || CAST(p.p AS VARCHAR) || ':' || CAST(d.d // 16 AS VARCHAR)),
                       ((d.d % 16) * 2) + 1, 1)) > 0
              THEN 1.0 ELSE -1.0 END AS w
  FROM range(16) p(p), range(64) d(d)
),
planes AS (SELECT p, list(w ORDER BY d) AS pv FROM plane_vals GROUP BY p),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
proj AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN list_dot_product(e.v, pl.pv) >= 0 THEN '1' ELSE '0' END AS bit
  FROM e, planes pl
),
buckets AS (
  SELECT vec_id, p // 2 AS band, string_agg(bit, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id, p // 2
),
qb AS (SELECT vec_id AS query_id, band, bucket FROM buckets WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id
  FROM buckets b JOIN qb q USING (band, bucket)
  WHERE b.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(list_dot_product(q.v, t.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v))), 6) AS sim
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e t ON t.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
""",
    tags=("pipeline", "similarity"),
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-10 (bucketed candidates only)."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (
        lsh_ann_topk(emb, queries, k=10)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    )


@register(
    "ann_lsh_multiprobe_topk",
    # Multi-probe LSH (round 12, VERDICT r11 #5b): the corpus index is
    # the SAME one-bucket-per-band table as ann_lsh_topk; each query
    # additionally probes the bucket reached by flipping its
    # lowest-|projection| bit per band (n_probes=2 — the margin
    # ordering is load-bearing, not just a candidate union). The whole
    # probe sequence restates in SQL: same md5 ±1 planes, projections
    # via list_dot_product (the same left-to-right fold as the Spark
    # HOF), flip-first = smaller |proj|, ties to bit 0.
    oracle="""
WITH plane_vals AS (
  SELECT p.p, d.d,
         CASE WHEN strpos('89abcdef',
                substr(md5('spark-graft:' || CAST(p.p AS VARCHAR) || ':' || CAST(d.d // 16 AS VARCHAR)),
                       ((d.d % 16) * 2) + 1, 1)) > 0
              THEN 1.0 ELSE -1.0 END AS w
  FROM range(16) p(p), range(64) d(d)
),
planes AS (SELECT p, list(w ORDER BY d) AS pv FROM plane_vals GROUP BY p),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
proj AS (
  SELECT e.vec_id, pl.p, list_dot_product(e.v, pl.pv) AS pr
  FROM e, planes pl
),
cb AS (
  SELECT vec_id, p // 2 AS band,
         string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id, p // 2
),
qp AS (
  SELECT vec_id AS query_id, p // 2 AS band,
         max(CASE WHEN p % 2 = 0 THEN CASE WHEN pr >= 0 THEN '1' ELSE '0' END END) AS b0,
         max(CASE WHEN p % 2 = 1 THEN CASE WHEN pr >= 0 THEN '1' ELSE '0' END END) AS b1,
         max(CASE WHEN p % 2 = 0 THEN abs(pr) END) AS m0,
         max(CASE WHEN p % 2 = 1 THEN abs(pr) END) AS m1
  FROM proj WHERE vec_id < 5 GROUP BY vec_id, p // 2
),
qb AS (
  SELECT query_id, band, b0 || b1 AS bucket FROM qp
  UNION ALL
  SELECT query_id, band,
         CASE WHEN m0 <= m1
              THEN (CASE WHEN b0 = '1' THEN '0' ELSE '1' END) || b1
              ELSE b0 || (CASE WHEN b1 = '1' THEN '0' ELSE '1' END) END AS bucket
  FROM qp
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id
  FROM cb b JOIN qb q USING (band, bucket)
  WHERE b.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(list_dot_product(q.v, t.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v))), 6) AS sim
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e t ON t.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
""",
    tags=("pipeline", "similarity"),
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH top-10: base bucket + lowest-margin
    single-bit flip per band (n_probes=2), exact rerank on candidates."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (
        lsh_multiprobe_topk(emb, queries, k=10, n_probes=2)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    )


@register(
    "language_id_distribution",
    # The marker-word heuristic restated in DuckDB SQL: same word split,
    # same per-language hit counts, same argmax tie-break (max score, then
    # lexicographically greatest language — Spark's array_max on
    # struct(score, lang)).
    oracle="""
WITH scored AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(lower(text), '[\\s\\.,;:!\\?]+'),
        w -> w != '' AND list_contains(['the','and','of','to','is','in','that','it','with','for'], w))) AS s_en,
    len(list_filter(regexp_split_to_array(lower(text), '[\\s\\.,;:!\\?]+'),
        w -> w != '' AND list_contains(['der','die','das','und','ist','nicht','ein','mit','für','auf'], w))) AS s_de,
    len(list_filter(regexp_split_to_array(lower(text), '[\\s\\.,;:!\\?]+'),
        w -> w != '' AND list_contains(['el','la','de','que','y','en','los','es','una','por'], w))) AS s_es,
    len(list_filter(regexp_split_to_array(lower(text), '[\\s\\.,;:!\\?]+'),
        w -> w != '' AND list_contains(['le','la','les','de','et','est','un','une','dans','pour'], w))) AS s_fr,
    (length(text) - length(replace(text, '的', '')))
      + (length(text) - length(replace(text, '是', '')))
      + (length(text) - length(replace(text, '了', '')))
      + (length(text) - length(replace(text, '在', '')))
      + (length(text) - length(replace(text, '我', '')))
      + (length(text) - length(replace(text, '有', '')))
      + (length(text) - length(replace(text, '和', '')))
      + (length(text) - length(replace(text, '就', '')))
      + (length(text) - length(replace(text, '不', '')))
      + (length(text) - length(replace(text, '人', ''))) AS s_zh
  FROM documents
),
best AS (
  SELECT doc_id, greatest(s_en, s_de, s_es, s_fr, s_zh) AS b,
         s_en, s_de, s_es, s_fr, s_zh
  FROM scored
),
pred AS (
  SELECT CASE WHEN b = 0 THEN 'und'
              WHEN s_zh = b THEN 'zh'
              WHEN s_fr = b THEN 'fr'
              WHEN s_es = b THEN 'es'
              WHEN s_en = b THEN 'en'
              ELSE 'de' END AS predicted_lang
  FROM best
)
SELECT predicted_lang, COUNT(*) AS n FROM pred
GROUP BY predicted_lang ORDER BY predicted_lang
""",
    tags=("pipeline", "text"),
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-language distribution over documents."""
    docs = T(spark, sf_dir, "documents")
    return (
        language_id(docs)
        .groupBy("predicted_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("predicted_lang")
    )


@register(
    "multimodal_image_features",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(32 + 16 * (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) AS INTEGER) AS width,
       CAST(32 + 16 * (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS INTEGER) AS height,
       CASE WHEN (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) % 2 = 0
            THEN 'RGB' ELSE 'L' END AS mode,
       md5(text) AS content_hash
FROM documents ORDER BY doc_id
""",
    tags=("pipeline", "multimodal"),
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-header feature extraction, computed ENTIRELY JVM-side: the
    fake decoder's md5-derived header is pure hash arithmetic, so the
    right plan is Catalyst expressions (F.md5 + conv), not a Python
    round-trip — 'stay JVM-side when a built-in fits'. The mapInPandas
    decode plumbing this used to exercise remains covered by the
    multimodal_resize_thumbs / audio / video gates and
    tests/test_pipeline.py (fake_decode_image_features agreement)."""
    docs = T(spark, sf_dir, "documents")
    binary = attach_binary_column(docs)
    h = F.md5("payload")
    hex1 = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    hex2 = F.conv(F.substring(h, 2, 1), 16, 10).cast("int")
    hex3 = F.conv(F.substring(h, 3, 1), 16, 10).cast("int")
    out = binary.select(
        F.col("id").alias("doc_id"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        (F.lit(32) + F.lit(16) * hex1).cast("int").alias("width"),
        (F.lit(32) + F.lit(16) * hex2).cast("int").alias("height"),
        F.when(hex3 % 2 == 0, F.lit("RGB")).otherwise(F.lit("L")).alias("mode"),
        h.alias("content_hash"),
    )
    return out.orderBy("doc_id")


@register(
    "embedding_near_dup_pairs",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
ORDER BY id1, id2
""",
    tags=("pipeline", "similarity"),
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates, exact tiled-BLAS strategy (the
    correct one at threshold 0.45, which sits inside the bulk of the
    similarity distribution where no LSH parameterization can prune).
    The LSH-banding strategy (``embedding_near_dup_pairs``) is the scale
    path for genuinely near-dup thresholds; tests assert the two agree."""
    from duckdb_miint_spark.pipeline.similarity import cosine_threshold_pairs_exact

    emb = T(spark, sf_dir, "embeddings")
    return cosine_threshold_pairs_exact(emb, threshold=0.45).orderBy("id1", "id2")


@register(
    "chunk_documents",
    oracle="""
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
starts AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(range(1, greatest(len(w) - 8, 1) + 1, 56)) AS s
  FROM words WHERE len(w) > 0
)
SELECT doc_id,
       CAST((s - 1) / 56 AS BIGINT) AS chunk_index,
       array_to_string(w[s : least(s + 63, n)], ' ') AS chunk_text,
       CAST(least(64, n - s + 1) AS BIGINT) AS n_tokens
FROM starts
ORDER BY doc_id, chunk_index
""",
    tags=("pipeline", "text"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking (64 tokens, 8 overlap) — chunk starts
    every 56 tokens; the oracle replicates the slicing in DuckDB."""
    from duckdb_miint_spark.pipeline.text import chunk_documents

    docs = T(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=8).select(
        F.col("id").alias("doc_id"), "chunk_index", "chunk_text", "n_tokens"
    ).orderBy("doc_id", "chunk_index")


# hex digit d(i) of md5(text), 0-based position i → 0..15 (shared by the
# audio/video oracles; same trick as the image oracle above)
def _HD(i: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5(text), {i + 1}, 1)) - 1)"


@register(
    "multimodal_audio_features",
    oracle=f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(([8000, 16000, 22050, 44100, 48000])[1 + ({_HD(0)} % 5)] AS INTEGER) AS sample_rate,
       CAST(1 + ({_HD(1)} % 2) AS INTEGER) AS n_channels,
       CAST(500 + 100 * (16 * {_HD(2)} + {_HD(3)}) AS BIGINT) AS duration_ms,
       CAST(16 * {_HD(4)} + {_HD(5)} AS BIGINT) AS rms_q8,
       md5(text) AS content_hash
FROM documents ORDER BY doc_id
""",
    tags=("pipeline", "multimodal"),
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing: payload bytes → Arrow-batched Python decode
    (deterministic fake); the oracle recomputes the md5-derived header."""
    from duckdb_miint_spark.pipeline.multimodal import fake_decode_audio_features

    docs = T(spark, sf_dir, "documents")
    binary = attach_binary_column(docs)
    return fake_decode_audio_features(binary).select(
        F.col("id").alias("doc_id"),
        "n_bytes",
        "sample_rate",
        "n_channels",
        "duration_ms",
        "rms_q8",
        "content_hash",
    ).orderBy("doc_id")


@register(
    "multimodal_video_frames",
    # one row per sampled frame: n_frames = 1 + (first md5 byte % 12);
    # frame_hash chains the content hash with the frame index
    oracle=f"""
WITH v AS (
  SELECT doc_id, md5(text) AS h, 1 + ((16 * {_HD(0)} + {_HD(1)}) % 12) AS n_frames
  FROM documents
)
SELECT doc_id,
       CAST(f.fi AS INTEGER) AS frame_index,
       CAST(f.fi * 1000 AS BIGINT) AS frame_ms,
       md5(h || ':' || CAST(f.fi AS VARCHAR)) AS frame_hash
FROM v, LATERAL (SELECT unnest(range(0, n_frames)) AS fi) f
ORDER BY doc_id, frame_index
""",
    tags=("pipeline", "multimodal"),
)
def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing: one-to-many mapInPandas (a row per
    sampled frame) — the batch shape a real pyav/ffmpeg sampler produces."""
    from duckdb_miint_spark.pipeline.multimodal import fake_sample_video_frames

    docs = T(spark, sf_dir, "documents")
    binary = attach_binary_column(docs)
    return fake_sample_video_frames(binary).select(
        F.col("id").alias("doc_id"), "frame_index", "frame_ms", "frame_hash"
    ).orderBy("doc_id", "frame_index")


_IVF_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "ann_ivf_topk",
    # The IVF path is deterministic end-to-end: the codebook is a TRAINED
    # k-means model (k=16, 2 Lloyd iterations — the same fixed-point CTE
    # chain the kmeans_clusters gate proves bit-identical to kmeans_fit),
    # so the whole computation is restated in DuckDB: same training, same
    # assignment argmax (raw-double cosine, ties on cent_id), same
    # nprobe=2 probing, same exact rerank on ROUND(sim, 6).
    oracle=_kmeans_ctes(k=16, iters=2) + f""",
cent AS (SELECT cid AS cent_id, cv AS centv FROM c2),
asim AS (
  SELECT e.vec_id, e.v, c.cent_id,
         {_IVF_COS.format(a="e.v", b="c.centv")} AS casim
  FROM e, cent c
),
assign AS (
  SELECT vec_id, v, cent_id AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY casim DESC, cent_id) AS rn
    FROM asim) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
qsim AS (
  SELECT q.query_id, q.qv, c.cent_id,
         {_IVF_COS.format(a="q.qv", b="c.centv")} AS qcsim
  FROM q, cent c
),
probes AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcsim DESC, cent_id) AS rn
    FROM qsim) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id,
         ROUND({_IVF_COS.format(a="p.qv", b="a.v")}, 6) AS sim
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
""",
    tags=("pipeline", "similarity"),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 for 5 query vectors: TRAINED codebook
    (deterministic k-means, k=16, 2 iterations — ``cluster.kmeans_fit``),
    nprobe=2 cells probed, exact cosine rerank within probed cells."""
    from duckdb_miint_spark.pipeline.cluster import kmeans_fit
    from duckdb_miint_spark.pipeline.similarity import ivf_ann_topk

    emb = T(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, k=16, iters=2, id_col="vec_id", vec_col="embedding")
    codebook = sorted((cid, v) for cid, v in model.items())
    queries = emb.filter(F.col("vec_id") < 5)
    return (
        ivf_ann_topk(emb, queries, k=10, nprobe=2, codebook=codebook)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    )


@register(
    "multimodal_image_resize",
    # width/height replicate the image-decode oracle's md5 header, then
    # clamp to max_side=128 preserving aspect (integer floor); the binary
    # output column is projected to its hex hash for the gate (the driver
    # canonicalizer can't hash raw bytes).
    oracle=f"""
WITH dims AS (
  SELECT doc_id,
         32 + 16 * {_HD(0)} AS w,
         32 + 16 * {_HD(1)} AS h,
         md5(text) AS chash
  FROM documents
),
sized AS (
  SELECT doc_id, chash,
         CASE WHEN greatest(w, h) <= 128 THEN w
              WHEN w >= h THEN 128
              ELSE (w * 128) // h END AS ow,
         CASE WHEN greatest(w, h) <= 128 THEN h
              WHEN w >= h THEN (h * 128) // w
              ELSE 128 END AS oh
  FROM dims
)
SELECT doc_id,
       CAST(ow AS INTEGER) AS out_width,
       CAST(oh AS INTEGER) AS out_height,
       md5(chash || ':' || CAST(ow AS VARCHAR) || 'x' || CAST(oh AS VARCHAR)) AS resized_bytes_hex,
       md5(chash || ':' || CAST(ow AS VARCHAR) || 'x' || CAST(oh AS VARCHAR)) AS resized_hash
FROM sized ORDER BY doc_id
""",
    tags=("pipeline", "multimodal"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing: binary-in/binary-out mapInPandas; the gate
    projects the output payload to its hex hash (raw bytes aren't
    canonicalizer-hashable), asserting dims + content chain."""
    from duckdb_miint_spark.pipeline.multimodal import fake_resize_image

    docs = T(spark, sf_dir, "documents")
    binary = attach_binary_column(docs)
    out = fake_resize_image(binary, max_side=128)
    return out.select(
        F.col("id").alias("doc_id"),
        "out_width",
        "out_height",
        F.hex(F.col("resized")).alias("resized_bytes_hex"),
        "resized_hash",
    ).withColumn(
        "resized_bytes_hex", F.lower("resized_bytes_hex")
    ).orderBy("doc_id")


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {SHINGLES_CTE},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id1, id2
  FROM inter
  JOIN cnt c1 ON id1 = c1.doc_id
  JOIN cnt c2 ON id2 = c2.doc_id
  WHERE i * 1.0 / (c1.n + c2.n - i) >= 0.9
),
und AS (SELECT id1 AS u, id2 AS v FROM pairs UNION SELECT id2, id1 FROM pairs),
reach(id, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) t
  UNION
  SELECT e.u, r.lab FROM und e JOIN reach r ON e.v = r.id
),
comp AS (SELECT id, MIN(lab) AS component_id FROM reach GROUP BY id)
SELECT d.doc_id,
       COALESCE(c.component_id, d.doc_id) AS component_id,
       d.doc_id = COALESCE(c.component_id, d.doc_id) AS is_canonical
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.id
ORDER BY doc_id
""",
    tags=("pipeline", "dedup"),
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster labels from the LSH pair graph: every document gets
    (component_id = min doc id in its near-dup component, is_canonical).
    Spark runs iterative min-label propagation with pointer doubling
    (pipeline/components.py); the oracle is the transitive closure as a
    recursive CTE over the exact all-pairs Jaccard graph — same clusters,
    radically different algorithms, which is the point at scale."""
    from duckdb_miint_spark.pipeline.components import label_documents

    docs = T(spark, sf_dir, "documents")
    # Candidate bands from the ingest-time graft_b_lsh_index when current
    # (as in lsh_near_dup_pairs: the index holds the in-query xxhash64
    # bands, so the candidate set is the same either way).
    pairs = near_dup_pairs(
        docs, threshold=0.9, _bands=storage.serve(spark, sf_dir, "graft_b_lsh_index")
    ).select("id1", "id2")
    return label_documents(docs, pairs).orderBy("doc_id")


@register(
    "sample_hash_bernoulli",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
ORDER BY doc_id
""",
    tags=("pipeline", "sampling"),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample at rate 0.1 (hash-threshold filter;
    pure map-side, reproducible at any parallelism). Threshold '19999999'
    = floor(0.1 * 2^32) in hex — string < on lowercase hex == numeric <."""
    from duckdb_miint_spark.pipeline.sampling import hash_sample, hash_threshold

    assert hash_threshold(0.1) == "19999999"
    docs = T(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.1, seed="s0").select(
        "doc_id", "lang", "source"
    ).orderBy("doc_id")


@register(
    "sample_stratified_quota",
    oracle="""
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS sample_rank
  FROM documents) t
WHERE sample_rank <= 40
ORDER BY source, sample_rank
""",
    tags=("pipeline", "sampling"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sample (40 docs per stratum, hash-of-id order)."""
    from duckdb_miint_spark.pipeline.sampling import stratified_quota

    docs = T(spark, sf_dir, "documents")
    return stratified_quota(docs, ["source"], k=40, id_col="doc_id").select(
        "doc_id", "source", "sample_rank"
    ).orderBy("source", "sample_rank")


@register(
    "tfidf_top_terms",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, ROUND(tfidf, 6) AS tfidf, rk FROM (
  SELECT doc_id, term, tf, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored) t
WHERE rk <= 3
ORDER BY doc_id, rk
""",
    tags=("pipeline", "text"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (smoothed idf, term tiebreak)."""
    from duckdb_miint_spark.pipeline.text import tfidf_top_terms

    docs = T(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        F.col("id").alias("doc_id"), "term", "tf",
        F.round("tfidf", 6).alias("tfidf"), "rk"
    ).orderBy("doc_id", "rk")


_HAMMING_32_CAND = " + ".join(
    f"(CASE WHEN substr(s1, {i}, 1) <> substr(s2, {i}, 1) THEN 1 ELSE 0 END)"
    for i in range(1, 33)
)
@register(
    "simhash_near_pairs",
    # Oracle uses the SAME pigeonhole-banding algorithm as the Spark plan
    # (4 disjoint 8-bit bands; any pair at Hamming <= 3 agrees exactly on
    # at least one band) rather than the naive all-pairs compare: the
    # banding is provably complete, so the result set is identical, and
    # the oracle now finishes at the at-scale replay dirs where all-pairs
    # timed out (sf2: 1500 s naive vs minutes banded).
    oracle=f"""
WITH tokens AS (
  SELECT doc_id, t, COUNT(*) AS cnt, md5(t) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
  GROUP BY doc_id, t
),
bits AS (
  SELECT doc_id, {_SIMHASH_ORACLE_BITS}
  FROM tokens GROUP BY doc_id
),
sigs AS (SELECT doc_id, {_SIMHASH_ORACLE_CONCAT} AS simhash FROM bits),
bands AS (
  SELECT doc_id, simhash, gb.band AS band,
         substr(simhash, gb.band * 8 + 1, 8) AS bits
  FROM sigs CROSS JOIN (VALUES (0), (1), (2), (3)) AS gb(band)
),
cand AS (
  SELECT DISTINCT l.doc_id AS id1, l.simhash AS s1,
                  r.doc_id AS id2, r.simhash AS s2
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bits = r.bits AND l.doc_id < r.doc_id
)
SELECT id1, id2, CAST({_HAMMING_32_CAND} AS INT) AS hamming
FROM cand
WHERE {_HAMMING_32_CAND} <= 3
ORDER BY id1, id2
""",
    tags=("pipeline", "dedup"),
)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via pigeonhole banding: Spark
    joins on 4 disjoint 8-bit bands and verifies exactly on candidates;
    the oracle states the same (provably complete) banding in SQL, so
    both engines run a corpus-scale-viable plan and the comparison holds
    at the at-scale replay dirs, not just sf0.01."""
    from duckdb_miint_spark.pipeline.dedup import simhash_near_pairs

    docs = T(spark, sf_dir, "documents")
    out = simhash_near_pairs(docs, "doc_id", "text", max_dist=3)
    return out.orderBy("id1", "id2")


@register(
    "jaccard_prefix_pairs",
    oracle=f"""
WITH {SHINGLES_CTE},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2, ROUND(i * 1.0 / (c1.n + c2.n - i), 6) AS jaccard
FROM inter
JOIN cnt c1 ON id1 = c1.doc_id
JOIN cnt c2 ON id2 = c2.doc_id
WHERE i * 1.0 / (c1.n + c2.n - i) >= 0.8
ORDER BY id1, id2
""",
    tags=("pipeline", "dedup"),
)
def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 join via prefix filtering (AllPairs/PPJoin) —
    deterministic, zero false negatives, no hashing; candidates from the
    rare-shingle prefix join only. Same all-pairs oracle as the LSH gate
    but at a threshold LSH banding would need re-tuning for."""
    from duckdb_miint_spark.pipeline.dedup import jaccard_join_prefix

    docs = T(spark, sf_dir, "documents")
    out = jaccard_join_prefix(docs, "doc_id", "text", threshold=0.8)
    return out.select("id1", "id2", F.round("jaccard", 6).alias("jaccard")).orderBy("id1", "id2")


@register(
    "doc_repetition_stats",
    oracle="""
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g
  FROM words
),
gram_stats AS (
  SELECT doc_id,
         CAST(len(g) AS BIGINT) AS n_grams,
         CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct_grams,
         CASE WHEN len(g) > 0
              THEN ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
              ELSE 0.0 END AS dup_gram_ratio
  FROM grams
),
tok AS (
  SELECT doc_id, t, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        FROM documents)
  GROUP BY doc_id, t
),
tok_stats AS (
  SELECT doc_id, ROUND(CAST(MAX(tf) AS DOUBLE) / SUM(tf), 6) AS top_token_frac
  FROM tok GROUP BY doc_id
)
SELECT g.doc_id, g.n_grams, g.n_distinct_grams, g.dup_gram_ratio, t.top_token_frac
FROM gram_stats g JOIN tok_stats t ON g.doc_id = t.doc_id
ORDER BY g.doc_id
""",
    tags=("pipeline", "text"),
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style): duplicate-3-gram
    ratio (pure array arithmetic, zero shuffle) + most-frequent-token
    fraction (two-level aggregate)."""
    from duckdb_miint_spark.pipeline.text import repetition_stats

    docs = T(spark, sf_dir, "documents")
    return repetition_stats(docs).select(
        F.col("id").alias("doc_id"), "n_grams", "n_distinct_grams",
        "dup_gram_ratio", "top_token_frac",
    ).orderBy("doc_id")


@register(
    "training_set_selection",
    oracle=f"""
WITH RECURSIVE {SHINGLES_CTE},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id1, id2 FROM inter
  JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id
  WHERE i * 1.0 / (c1.n + c2.n - i) >= 0.9
),
und AS (SELECT id1 AS u, id2 AS v FROM pairs UNION SELECT id2, id1 FROM pairs),
reach(id, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) t
  UNION
  SELECT e.u, r.lab FROM und e JOIN reach r ON e.v = r.id
),
comp AS (SELECT id, MIN(lab) AS component_id FROM reach GROUP BY id),
quality AS (
  SELECT doc_id,
         (CASE WHEN n_chars >= 20 AND n_chars <= 100000 THEN 0.25 ELSE 0.0 END)
         + LEAST(CAST(alpha AS DOUBLE) / n_chars, 0.95) / 0.95 * 0.25
         + (1.0 - LEAST(CAST(n_stop AS DOUBLE) / n_words, 1.0)) * 0.25
         + (CASE WHEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words >= 2.0
                  AND CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words <= 12.0
             THEN 0.25 ELSE 0.0 END) AS qs
  FROM (
    SELECT doc_id, length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
           len(list_filter(string_split(text, ' '),
               x -> x <> '' AND list_contains({_STOP_LIST}, lower(x)))) AS n_stop
    FROM documents)
)
SELECT d.doc_id, d.lang, d.source, ROUND(q.qs, 6) AS quality_score
FROM documents d
JOIN quality q ON d.doc_id = q.doc_id
LEFT JOIN comp c ON d.doc_id = c.id
WHERE q.qs >= 0.95
  AND COALESCE(c.component_id, d.doc_id) = d.doc_id
  AND substr(md5('s0:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < '80000000'
ORDER BY d.doc_id
""",
    tags=("pipeline", "composition"),
)
def q_training_set_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set selection — the pipeline this layer exists
    for, composed from its own gated parts: quality filter (score ≥ 0.95)
    → near-dup clustering, keep each cluster's canonical doc → 50%
    deterministic hash sample. Every stage is the exact operator gated
    individually (text_quality / dedup_components / sample_hash_bernoulli),
    so the composition is oracle-exact too."""
    from duckdb_miint_spark.pipeline.components import label_documents
    from duckdb_miint_spark.pipeline.sampling import hash_sample
    from duckdb_miint_spark.pipeline.text import quality_stats

    docs = T(spark, sf_dir, "documents")
    q = quality_stats(docs).filter(F.col("quality_score") >= 0.95).select(
        F.col("id").alias("doc_id"), "quality_score"
    )
    # Same ingest-time band-index serving as lsh_near_dup_pairs /
    # dedup_components.
    pairs = near_dup_pairs(
        docs, threshold=0.9, _bands=storage.serve(spark, sf_dir, "graft_b_lsh_index")
    ).select("id1", "id2")
    canon = label_documents(docs, pairs).filter("is_canonical").select("doc_id")
    selected = (
        docs.join(q, "doc_id")
        .join(canon, "doc_id", "left_semi")
    )
    return hash_sample(selected, "doc_id", 0.5, seed="s0").select(
        "doc_id", "lang", "source", F.round("quality_score", 6).alias("quality_score")
    ).orderBy("doc_id")


@register(
    "corpus_length_percentiles",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS p50_chars,
       CAST(quantile_disc(n_chars, 0.9) AS BIGINT) AS p90_chars,
       CAST(quantile_disc(n_chars, 0.99) AS BIGINT) AS p99_chars
FROM documents GROUP BY lang ORDER BY lang
""",
    tags=("pipeline", "reporting"),
)
def q_corpus_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus reporting: per-language doc counts, char volume, and exact
    discrete length percentiles (percentile_disc — an element of the
    group, so engine-portable; Spark sorts per group, DuckDB quantile_disc
    selects the same element)."""
    docs = T(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_pct")
    return spark.sql("""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50_chars,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p90_chars,
               CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p99_chars
        FROM __docs_pct GROUP BY lang ORDER BY lang
    """)


@register(
    "embedding_dedup_components",
    oracle="""
WITH RECURSIVE e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
),
und AS (SELECT id1 AS u, id2 AS v FROM pairs UNION SELECT id2, id1 FROM pairs),
reach(id, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) t
  UNION
  SELECT g.u, r.lab FROM und g JOIN reach r ON g.v = r.id
),
comp AS (SELECT id, MIN(lab) AS component_id FROM reach GROUP BY id)
SELECT em.vec_id,
       COALESCE(c.component_id, em.vec_id) AS component_id,
       em.vec_id = COALESCE(c.component_id, em.vec_id) AS is_canonical
FROM embeddings em
LEFT JOIN comp c ON em.vec_id = c.id
ORDER BY em.vec_id
""",
    tags=("pipeline", "similarity"),
)
def q_embedding_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup clustering: exact cosine-threshold pairs
    (tiled BLAS) → the same connected-components labeller the text path
    uses — semantic duplicate clusters with one canonical vector each."""
    from duckdb_miint_spark.pipeline.components import label_documents
    from duckdb_miint_spark.pipeline.similarity import cosine_threshold_pairs_exact

    emb = T(spark, sf_dir, "embeddings")
    pairs = cosine_threshold_pairs_exact(emb, threshold=0.45).select("id1", "id2")
    return label_documents(emb, pairs, id_col="vec_id").orderBy("vec_id")


# ---------------------------------------------------------------------------
# Corpus curation: PII, decontamination, duplicated spans (pipeline/curation)
# ---------------------------------------------------------------------------

# Deterministic PII injection shared by the Spark query and the oracle:
# every 7th doc gets an email, every 11th a phone, every 13th an IPv4 —
# the gate then proves detection counts AND the redacted text bit-for-bit.
_PII_TEXT_SQL = """
text
  || CASE WHEN doc_id % 7 = 0
     THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 11 = 0
     THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 13 = 0
     THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
          || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
"""


def _pii_enriched(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.when(
        did % 7 == 0, F.concat(F.lit(" contact u"), s(did), F.lit("@example.com"))
    ).otherwise("")
    phone = F.when(
        did % 11 == 0,
        F.concat(F.lit(" call 555-123-"), F.lpad(s(did % 10000), 4, "0")),
    ).otherwise("")
    ip = F.when(
        did % 13 == 0,
        F.concat(F.lit(" from 10.0."), s(did % 256), F.lit("."), s((did * 7) % 256)),
    ).otherwise("")
    return docs.withColumn("text", F.concat("text", email, phone, ip))


@register(
    "pii_redaction",
    oracle=f"""
WITH enriched AS (SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
       len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS n_phones,
       len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS n_ipv4,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '<PHONE>', 'g'),
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g')) AS redacted_md5
FROM enriched
WHERE doc_id % 7 = 0 OR doc_id % 11 = 0 OR doc_id % 13 = 0
ORDER BY doc_id
""",
    tags=("pipeline", "curation"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over documents with deterministically
    injected emails/phones/IPs; md5 of the redacted text proves the
    replacement is bit-exact, not just the counts. Pure Catalyst regex —
    zero shuffle, the map-side scrub pass a 100 TB corpus needs."""
    from duckdb_miint_spark.pipeline.curation import pii_signals, redact_pii

    docs = _pii_enriched(T(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    docs = docs.filter((did % 7 == 0) | (did % 11 == 0) | (did % 13 == 0))
    signals = pii_signals(docs).withColumnRenamed("id", "doc_id")
    redacted = redact_pii(docs).select("doc_id", F.md5("text").alias("redacted_md5"))
    return signals.join(redacted, "doc_id").select(
        "doc_id", "n_emails", "n_phones", "n_ipv4", "redacted_md5"
    ).orderBy("doc_id")


# DuckDB word-5-gram CTE fragment (1-based inclusive list slicing).
_GRAMS5_SQL = """
words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 3),
                               i -> array_to_string(w[i:i+4], ' '))) AS ngram
  FROM words WHERE len(w) >= 5
)
"""


@register(
    "decontamination_overlap",
    oracle=f"""
WITH {_GRAMS5_SQL}
SELECT c.doc_id,
       COUNT(DISTINCT c.ngram) AS n_shared_ngrams,
       COUNT(DISTINCT b.doc_id) AS n_benchmark_docs
FROM grams c
JOIN grams b ON c.ngram = b.ngram
WHERE c.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
    tags=("pipeline", "curation"),
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id % 97 != 0) sharing
    any word 5-gram with the held-out set (doc_id % 97 == 0) — the
    n-gram-overlap test that keeps eval data out of training corpora.
    One shuffle on the n-gram; the benchmark side pre-aggregates to
    distinct n-grams (broadcastable at real scale)."""
    from duckdb_miint_spark.pipeline.curation import contamination_report

    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return (
        contamination_report(corpus, bench, n=5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@register(
    "duplicated_spans",
    oracle="""
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 6),
                               i -> array_to_string(w[i:i+7], ' '))) AS ngram
  FROM words WHERE len(w) >= 8
),
span AS (SELECT ngram, COUNT(*) AS span_docs FROM grams GROUP BY ngram),
perdoc AS (SELECT doc_id, COUNT(*) AS n_spans FROM grams GROUP BY doc_id),
dup AS (
  SELECT g.doc_id, COUNT(*) AS n_dup_spans
  FROM grams g JOIN span s USING (ngram)
  WHERE s.span_docs >= 2
  GROUP BY g.doc_id
)
SELECT p.doc_id,
       COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
       p.n_spans,
       ROUND(COALESCE(d.n_dup_spans, 0) / CAST(p.n_spans AS DOUBLE), 6) AS dup_span_ratio
FROM perdoc p LEFT JOIN dup d ON p.doc_id = d.doc_id
WHERE COALESCE(d.n_dup_spans, 0) > 0
ORDER BY p.doc_id
""",
    tags=("pipeline", "curation"),
)
def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection: documents whose word 8-grams
    appear in >=2 distinct docs corpus-wide — the n-gram-granularity
    substring dedup that whole-document MinHash misses (boilerplate,
    templates, quoted passages)."""
    from duckdb_miint_spark.pipeline.curation import duplicated_spans

    docs = T(spark, sf_dir, "documents")
    out = duplicated_spans(docs, n=8, min_df=2).withColumnRenamed("id", "doc_id")
    return (
        out.filter(F.col("n_dup_spans") > 0)
        .select(
            "doc_id", "n_dup_spans", "n_spans",
            F.round("dup_span_ratio", 6).alias("dup_span_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "training_shuffle_order",
    # Single source of truth: the oracle is generated by the same module
    # that defines the Spark operator (pipeline/shuffle.py), so the
    # definitional SQL cannot drift from the implementation.
    oracle=_training_order_oracle_sql("documents", "doc_id", 8, seed="ep0"),
    tags=("pipeline", "shuffle"),
)
def q_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every document lands in a
    pseudo-random (shard, position) that is a pure function of
    (doc_id, seed) — reproducible at any parallelism, fresh permutation
    per epoch seed. One hash exchange on shard + per-shard sort;
    shards >> cores is the scale knob (pipeline/shuffle.py)."""
    from duckdb_miint_spark.pipeline.shuffle import training_order

    docs = T(spark, sf_dir, "documents")
    return training_order(docs, "doc_id", n_shards=8, seed="ep0").orderBy("shard", "pos")


@register(
    "quantize_embeddings_int8",
    # The gate emits SCALAR columns only — the code vector is serialized
    # to a ',' string — because the driver's canonicalizer (pandas
    # sort/hash over result cells) cannot hash array cells. The library
    # API (pipeline/quantize.py quantize_int8) still returns array<int>.
    # Oracle wraps the module's own definitional SQL (single source of
    # truth) and flattens identically with array_to_string.
    oracle=f"""
SELECT vec_id, scale, array_to_string(qvec, ',') AS qcodes
FROM ({_quantize_oracle_sql("embeddings", "embedding")})
ORDER BY vec_id
""",
    tags=("pipeline", "similarity"),
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric max-abs int8 embedding quantization (one scale per
    vector, codes exact across engines via double widening) — the
    standard 4x compression ahead of IVF/PQ indexing; pure projection,
    no shuffle (pipeline/quantize.py). Gate flattens qvec to a scalar
    CSV string for the driver canonicalizer; quantize_int8 itself is the
    array-returning library API."""
    from duckdb_miint_spark.pipeline.quantize import quantize_int8

    emb = T(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "embedding", ("vec_id",))
    return out.select(
        "vec_id", "scale", F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qcodes")
    ).orderBy("vec_id")


@register(
    "ann_quantized_topk",
    # The int8 dot is exact integer arithmetic in any fold order and the
    # two scale factors are single double expressions, so — unlike the
    # float-sum cosine — the score needs no fold-order care: the oracle
    # reproduces it bit-for-bit. list_dot_product runs on the codes cast
    # to double (exact: |Σ q_i·c_i| <= 64·127² fits a double integer).
    oracle="""
WITH amx AS (
  SELECT vec_id,
         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS amax
  FROM embeddings
),
qz AS (
  SELECT e.vec_id, a.amax / 127.0 AS scale,
         CASE WHEN a.amax = 0
              THEN list_transform(e.embedding, x -> CAST(0 AS DOUBLE))
              ELSE list_transform(e.embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127.0 / a.amax) AS INT) AS DOUBLE))
         END AS code
  FROM embeddings e JOIN amx a USING (vec_id)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         ROUND(list_dot_product(q.code, c.code) * q.scale * c.scale, 6) AS sim
  FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
""",
    tags=("pipeline", "similarity"),
)
def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 inner-product search ON the int8 codes for the same 5
    query vectors as ann_cosine_topk — the compressed-corpus retrieval
    mode quantization exists for. Recall vs the exact float ranking is
    pytest-asserted (tests/test_pipeline.py).

    Bucketed layout: graft_b_embeddings_q8 serves the codes quantized
    once at layout-build time (the ingest-time artifact of a production
    ANN corpus), so the query is broadcast-join scoring over a code
    scan — the floats are never touched."""
    from duckdb_miint_spark.pipeline.quantize import quantized_topk

    emb = T(spark, sf_dir, "embeddings")
    out = quantized_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        corpus_codes=storage.serve(spark, sf_dir, "graft_b_embeddings_q8"),
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


# Cross-epoch mixture schedule gate parameters: upweight two sources,
# downweight one, default 10%/epoch elsewhere, 3 epochs. Oracle generated
# by the operator's module (single source of truth).
_MIX_RATES = {"src0": 40, "src1": 40, "src2": 4}
_MIX_DEFAULT, _MIX_EPOCHS, _MIX_SEED = 10, 3, "mix0"


@register(
    "epoch_mixture_schedule",
    oracle=_epoch_schedule_oracle_sql(
        "documents", "doc_id", "source", _MIX_RATES, _MIX_DEFAULT, _MIX_EPOCHS, _MIX_SEED
    ),
    tags=("pipeline", "shuffle"),
)
def q_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-epoch mixture scheduling: every document gets a
    deterministic within-domain position; epoch e consumes positions
    [e·B_d, (e+1)·B_d) at per-domain integer budgets (B_d = n_d·pct//100)
    — sampling WITHOUT replacement across epochs at a target domain
    mixture, reproducible at any parallelism (pipeline/shuffle.py).
    epoch -1 = the unscheduled remainder pool."""
    from duckdb_miint_spark.pipeline.shuffle import epoch_schedule

    docs = T(spark, sf_dir, "documents")
    out = epoch_schedule(
        docs, "doc_id", "source",
        rates_pct=_MIX_RATES, default_pct=_MIX_DEFAULT,
        n_epochs=_MIX_EPOCHS, seed=_MIX_SEED,
    )
    return out.orderBy("doc_id")


# PQ gate parameters: dim-64 embeddings -> 4 subspaces x 16 dims, 8
# centroids per subspace, 2 Lloyd's rounds. Both oracles are generated by
# pipeline/pq.py next to the operator (single source of truth).
_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM = 4, 8, 2, 64


def _pq_books(spark: SparkSession, sf_dir: str):
    from duckdb_miint_spark.pipeline.pq import pq_fit

    emb = T(spark, sf_dir, "embeddings")
    return emb, pq_fit(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM)


@register(
    "pq_encode_embeddings",
    oracle=_pq_encode_oracle_sql(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM),
    tags=("pipeline", "similarity"),
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: per-subspace k-means codebooks
    (deterministic Lloyd's, trained distributed — only the M·K·(D/M)
    model reaches the driver), then a zero-shuffle nearest-centroid
    projection to M codes per vector — 32x compression of an ANN corpus
    ahead of ADC search (pipeline/pq.py). Gate serializes the code
    vector scalar for the driver canonicalizer; pq_encode itself is the
    array-returning library API."""
    from duckdb_miint_spark.pipeline.pq import pq_encode

    emb, books = _pq_books(spark, sf_dir)
    out = pq_encode(emb, books)
    return out.select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("pq_codes"),
    ).orderBy("vec_id")


@register(
    "ann_pq_adc_topk",
    oracle=_pq_adc_oracle_sql(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM, topk=10, n_queries=5),
    tags=("pipeline", "similarity"),
)
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 asymmetric-distance (ADC) neighbours on the PQ codes for
    the same 5 query vectors as ann_cosine_topk/ann_quantized_topk —
    each corpus distance is M table lookups instead of a D-dim float
    scan. Every fold is the repo-wide left-to-right IEEE sequence, so
    the DuckDB oracle reproduces training, codes, and distances
    bit-for-bit; recall vs the exact ranking is pytest-asserted
    (tests/test_pipeline.py)."""
    from duckdb_miint_spark.pipeline.pq import pq_adc_topk, pq_encode

    emb, books = _pq_books(spark, sf_dir)
    codes = pq_encode(emb, books)
    out = pq_adc_topk(codes, emb.filter(F.col("vec_id") < 5), books, k=10)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


# Materialized int8 codes: the "quantize at ingest" layout a production
# ANN corpus maintains (the same precompute-vs-rederive trade as the
# events_parsed and lineitem_cnat grafts). Spark-SQL dialect because
# storage.build_graft_layout derives graft tables with spark.sql(); the
# expression is the definitional HOF form of pipeline/quantize.py
# (kernel=False), equivalence-tested against the default numpy kernel.
EMBEDDINGS_Q8_SQL = """
SELECT vec_id,
       array_max(transform(embedding, x -> abs(cast(x AS double)))) / 127.0 AS scale,
       CASE WHEN array_max(transform(embedding, x -> abs(cast(x AS double)))) = 0.0
            THEN transform(embedding, x -> 0)
            ELSE transform(embedding, x -> cast(round(cast(x AS double) * 127.0 /
                 array_max(transform(embedding, y -> abs(cast(y AS double))))) AS int))
       END AS qvec
FROM embeddings
"""


# Tokenize-at-ingest: per-document token statistics computed ONCE at
# layout build by the SAME pipeline.text.token_stats derivation the
# plain path runs (a Python builder, not a SQL restatement — the
# n_re_tokens column is an Arrow/RE2 pandas UDF whose \\s semantics a
# JVM-regex SQL string could silently diverge from on exotic
# whitespace). A production corpus tokenizes each document exactly once
# at ingest; per-query re-tokenization was the floor set's token_stats
# row (2.8x at sf10, pure per-row CPU — PERF.md). Row-wise derivation,
# so incremental refresh appends new documents' stats in place.
DOC_TOKENS_IDENTITY = "doc_token_stats:pipeline.text.token_stats(doc_id,text)-v1"


def _build_doc_tokens(spark: SparkSession, sf_dir: str):
    """Graft builder: token_stats over the registered documents view."""
    return token_stats(spark.table("documents")).select(
        F.col("id").alias("doc_id"),
        "n_ws_tokens",
        "n_re_tokens",
        "n_chars_tok",
        "avg_token_len",
    )


# Materialized PQ layout: codebooks (the trained model, M·K rows) and
# codes (M small ints per vector) written at layout-build time — the
# FAISS-style production ANN artifact: search reads codes + model, never
# refits and never scans the floats except for the shortlist rerank.
# Identity strings version the Python builders (storage.Graft.builder):
# bump the -v1 tag if pq_fit/pq_encode arithmetic ever changes.
PQ_CODEBOOKS_IDENTITY = (
    f"pq_codebooks:m={_PQ_M},k={_PQ_K},iters={_PQ_ITERS},dim={_PQ_DIM};kmeans_fit-v1"
)
PQ_CODES_IDENTITY = (
    f"pq_codes:m={_PQ_M},k={_PQ_K},iters={_PQ_ITERS},dim={_PQ_DIM};kmeans_fit-v1"
)

# One fit per layout build: the codebooks builder runs first (catalog
# order) and caches under the build's fingerprint; the codes builder
# pops it, refitting only if built standalone.
_PQ_FIT_CACHE: dict[str, list] = {}


def _pq_build_key(sf_dir: str) -> str:
    return storage.graft_fingerprint(sf_dir, PQ_CODEBOOKS_IDENTITY, ["embeddings"])


def _build_pq_codebooks(spark: SparkSession, sf_dir: str):
    from duckdb_miint_spark.pipeline.pq import codebooks_to_df, pq_fit

    books = pq_fit(spark.table("embeddings"), m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM)
    _PQ_FIT_CACHE[_pq_build_key(sf_dir)] = books
    return codebooks_to_df(spark, books)


def _build_pq_codes(spark: SparkSession, sf_dir: str):
    from duckdb_miint_spark.pipeline.pq import pq_encode, pq_fit

    books = _PQ_FIT_CACHE.pop(_pq_build_key(sf_dir), None)
    if books is None:
        books = pq_fit(spark.table("embeddings"), m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM)
    return pq_encode(spark.table("embeddings"), books)


def _pq_layout(spark: SparkSession, sf_dir: str):
    """(codebooks, codes DataFrame) from the graft layout, or (None,
    None) — PARTIAL serving is treated as absent: codes encoded by a
    different model than the served codebooks would be silently wrong,
    so both tables must carry current fingerprints."""
    from duckdb_miint_spark.pipeline.pq import codebooks_from_df

    books_df = storage.serve(spark, sf_dir, "graft_b_pq_codebooks")
    codes = storage.serve(spark, sf_dir, "graft_b_pq_codes")
    if books_df is None or codes is None:
        return None, None
    return codebooks_from_df(books_df), codes


def _ivf_pq_oracle_sql(topk: int, nprobe: int, coarse_k: int, coarse_iters: int) -> str:
    """IVF-PQ restated end-to-end in DuckDB SQL: the ann_ivf gate's
    coarse k-means + routing CTEs composed with the PQ training/encoding
    CTEs (disjoint CTE namespaces: e/c{t} vs e{s}/c{t}_{s}), ADC only on
    candidates inside probed cells, both sides ranking on ROUND(adist,6)
    with (adist, vec_id) ties."""
    from duckdb_miint_spark.pipeline.pq import pq_oracle_ctes

    sub = _PQ_DIM // _PQ_M
    d_terms, cb_joins = [], []
    for s in range(_PQ_M):
        lo = s * sub + 1
        qslice = (
            f"list_transform(q.embedding[{lo}:{lo + sub - 1}], x -> CAST(x AS DOUBLE))"
        )
        d_terms.append(
            f"(list_dot_product({qslice}, {qslice})"
            f" - 2 * list_dot_product({qslice}, cb{s}.cv)"
            f" + list_dot_product(cb{s}.cv, cb{s}.cv))"
        )
        cb_joins.append(f"JOIN c{_PQ_ITERS}_{s} cb{s} ON cb{s}.cid = x.c{s}")
    adist = " + ".join(d_terms)
    pq_body = pq_oracle_ctes(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM)[len("WITH "):]
    return _kmeans_ctes(k=coarse_k, iters=coarse_iters) + "," + pq_body + f""",
cent AS (SELECT cid AS cent_id, cv AS centv FROM c{coarse_iters}),
asim AS (
  SELECT e.vec_id, c.cent_id,
         {_IVF_COS.format(a="e.v", b="c.centv")} AS casim
  FROM e, cent c
),
assign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY casim DESC, cent_id) AS rn
    FROM asim) WHERE rn = 1
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
qsim AS (
  SELECT q.query_id, c.cent_id,
         {_IVF_COS.format(a="q.qv", b="c.centv")} AS qcsim
  FROM qs q, cent c
),
probes AS (
  SELECT query_id, cent_id AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcsim DESC, cent_id) AS rn
    FROM qsim) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.query_id
),
adc AS (
  SELECT cand.query_id, cand.vec_id, ROUND({adist}, 6) AS adist
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN codes x ON x.vec_id = cand.vec_id
  {" ".join(cb_joins)}
),
ranked AS (
  SELECT query_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM adc
)
SELECT query_id, vec_id, adist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {topk}
ORDER BY query_id, rank
"""


@register(
    "ann_ivf_pq_topk",
    oracle=_ivf_pq_oracle_sql(topk=10, nprobe=2, coarse_k=16, coarse_iters=2),
    tags=("pipeline", "similarity"),
)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (VERDICT r11 #5, the FAISS production shape):
    coarse k-means cells (k=16, the ann_ivf model) route the corpus and
    the 5 query vectors; ADC scores only the PQ codes inside the
    nprobe=2 probed cells — at scale ~nprobe/nlist of the codes are
    touched and the floats never are. Codes + PQ codebooks come off the
    graft layout when current (the same serving as ann_pq_shortlist);
    the coarse model trains deterministically at query time like the
    ann_ivf gate. Recall vs the exact ranking is pytest-asserted
    (tests/test_pipeline.py::test_ivf_pq_recall_vs_exact)."""
    from duckdb_miint_spark.pipeline.cluster import kmeans_fit, kmeans_fit_multi
    from duckdb_miint_spark.pipeline.pq import ivf_pq_topk, pq_encode

    emb = T(spark, sf_dir, "embeddings")
    books, codes = _pq_layout(spark, sf_dir)
    if books is None:
        # Coarse + all M subspace fits in ONE kmeans_fit_multi call
        # (r14, guide §1.3): 3 driver jobs (init + 2 iter aggregates)
        # replace the 17 stage-barrier floors of the per-model loop.
        # Spec 0 is the full-dim coarse model — bit-identical to
        # kmeans_fit(emb, k=16, iters=2) per the fused-fit contract.
        sub = _PQ_DIM // _PQ_M
        specs = [(0, _PQ_DIM, 16)] + [(s * sub, sub, _PQ_K) for s in range(_PQ_M)]
        models = kmeans_fit_multi(emb, specs, iters=_PQ_ITERS)
        coarse, books = models[0], models[1:]
        codes = pq_encode(emb, books)
    else:
        coarse = kmeans_fit(
            emb, k=16, iters=2, id_col="vec_id", vec_col="embedding", dim=_PQ_DIM
        )
    out = ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        books,
        sorted(coarse.items()),
        k=10,
        nprobe=2,
        corpus_codes=codes,
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


@register(
    "ann_pq_shortlist_topk",
    oracle=_pq_shortlist_oracle_sql(
        _PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM, topk=10, shortlist=100, n_queries=5
    ),
    tags=("pipeline", "similarity"),
)
def q_pq_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production ANN serving shape (VERDICT r11 #1): ADC over the PQ
    codes produces a top-100 shortlist per query, then ONLY those rows
    join back to the float vectors for an exact squared-L2 rerank — the
    corpus floats are read for ~100 rows per query instead of all of
    them, and with the graft layout the codes + codebooks come off the
    files (zero training, zero quantization at query time). Falls back
    to an in-query deterministic fit when the layout is absent, so the
    answer is layout-independent; the oracle restates shortlist + rerank
    end-to-end. Recall vs the exact ranking is pytest-asserted
    (tests/test_pipeline.py::test_pq_shortlist_rerank_recall_vs_exact_l2)."""
    from duckdb_miint_spark.pipeline.pq import pq_encode, pq_fit, pq_shortlist_rerank

    emb = T(spark, sf_dir, "embeddings")
    books, codes = _pq_layout(spark, sf_dir)
    if books is None:
        books = pq_fit(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM)
        codes = pq_encode(emb, books)
    out = pq_shortlist_rerank(
        emb, codes, emb.filter(F.col("vec_id") < 5), books, k=10, shortlist=100
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


# --- incremental dedup vs the historical corpus (VERDICT r12 #3) -----------
#
# Gate fixture: a deterministic "ingest batch" carved from the documents
# table — docs with doc_id%10==7 play the fresh arrivals, and docs with
# doc_id%10==3 re-keyed by +1,000,000 play exact re-posts of content the
# corpus (everything with doc_id%10!=7) already holds. Both engines
# derive the identical batch, so the differential exercises the real
# batch-vs-corpus join paths with guaranteed duplicates present.

_INCR_REKEY = 1_000_000

# Banded MinHash index at ingest: the long (id, band, v) xxhash64 band
# stream (pipeline.dedup.xx_band_stream, the one band family),
# bucketed on (band, v) so incremental near-dup candidate generation's
# per-bucket groupBy rides the layout exchange-free. Row-wise per doc,
# so refresh appends just the new docs' signatures (the "banded index
# the refresh path maintains"). Identity versions the builder.
LSH_INDEX_IDENTITY = (
    f"lsh_index:num_perm={DEFAULT_NUM_PERM},shingle={DEFAULT_SHINGLE};xx_band_stream-v1"
)


def _build_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graft builder: the same xxhash64 band stream the plain path
    derives in-query, over the documents view."""
    from duckdb_miint_spark.pipeline.dedup import shingles, xx_band_stream

    return xx_band_stream(shingles(spark.table("documents"), distinct=False))


def _incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    fresh = docs.filter(F.col("doc_id") % 10 == 7)
    reposts = docs.filter(F.col("doc_id") % 10 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_INCR_REKEY)
    )
    return fresh.unionByName(reposts)


@register(
    "dedup_incremental_exact",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 7
),
batch AS (
  SELECT doc_id AS batch_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + {_INCR_REKEY} AS batch_id, md5(text) AS h
  FROM documents WHERE doc_id % 10 = 3
),
cm AS (SELECT h, MIN(doc_id) AS canonical_id FROM corpus GROUP BY h)
SELECT b.batch_id,
       b.h AS content_hash,
       CAST(cm.canonical_id IS NOT NULL AS INT) AS is_dup,
       cm.canonical_id AS canonical_id
FROM batch b LEFT JOIN cm ON b.h = cm.h
ORDER BY batch_id
""",
    tags=("pipeline", "dedup"),
)
def q_dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which docs in this ingest batch duplicate anything already in the
    corpus? The 100 TB operating question the fingerprint-at-ingest
    layout exists to answer: corpus hashes come off graft_b_doc_hashes
    (bucketed on content_hash — canonical-id groupBy and the corpus join
    side are exchange-free; only the batch shuffles), with a plain
    hash-derivation fallback. Batch hashes are computed fresh — the
    batch is new data."""
    from duckdb_miint_spark.pipeline.dedup import incremental_exact

    pre = storage.serve(spark, sf_dir, "graft_b_doc_hashes")
    corpus_rows = None
    if pre is not None:
        corpus_hashes = pre.filter(F.col("doc_id") % 10 != 7)
        # measured layout size drives the plan choice (grain vs probe)
        meta = storage.table_meta(spark, "graft_b_doc_hashes")
        corpus_rows = meta.grain_rows if meta is not None else None
    else:
        docs = T(spark, sf_dir, "documents")
        corpus_hashes = docs.filter(F.col("doc_id") % 10 != 7).select(
            "doc_id", F.md5("text").alias("content_hash")
        )
    out = incremental_exact(
        _incremental_batch(spark, sf_dir), corpus_hashes, corpus_rows=corpus_rows
    )
    return out.orderBy("batch_id")


@register(
    "dedup_incremental_lsh",
    oracle=f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + {_INCR_REKEY} AS doc_id, text FROM documents WHERE doc_id % 10 = 3
),
cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
csh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM cw WHERE len(w) >= 3
),
bsh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM bw WHERE len(w) >= 3
),
cn AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id),
bn AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY doc_id),
inter AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, COUNT(*) AS i
  FROM bsh b JOIN csh c ON b.s = c.s
  GROUP BY 1, 2
)
SELECT batch_id, corpus_id,
       ROUND(i * 1.0 / (bn.n + cn.n - i), 6) AS jaccard
FROM inter
JOIN bn ON batch_id = bn.doc_id
JOIN cn ON corpus_id = cn.doc_id
WHERE i * 1.0 / (bn.n + cn.n - i) >= 0.9
ORDER BY batch_id, corpus_id
""",
    tags=("pipeline", "dedup"),
)
def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate batch-vs-corpus dedup through the banded MinHash
    index (graft_b_lsh_index — maintained at ingest, bucketed on
    (band, v)), verified with exact Jaccard ≥ 0.9. The oracle computes
    the ground-truth all-cross-pairs answer; the Spark plan must find
    the same pairs through index buckets only — candidate generation
    never touches corpus text, and the exact verify reads text for the
    semi-join-pruned candidate slice alone."""
    from duckdb_miint_spark.pipeline.dedup import incremental_near_dup

    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    idx = storage.serve(spark, sf_dir, "graft_b_lsh_index")
    if idx is not None:
        idx = idx.filter(F.col("id") % 10 != 7)
    out = incremental_near_dup(
        _incremental_batch(spark, sf_dir), corpus, corpus_index=idx, threshold=0.9
    )
    return out.select(
        "batch_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("batch_id", "corpus_id")


@register(
    "quality_classifier",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(COALESCE(list_sum(list_transform(toks,
      x -> ((CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 1024)
            * 2654435761) % 1001 - 500)), 0) AS BIGINT) AS w_sum_milli
  FROM t
)
SELECT doc_id, n_tokens, w_sum_milli,
  CASE WHEN n_tokens = 0 THEN NULL
       ELSE ROUND(CAST(w_sum_milli AS DOUBLE) / n_tokens, 6) END AS score,
  CAST(w_sum_milli >= 0 AS INT) AS quality_label
FROM s ORDER BY doc_id
""",
    tags=("pipeline", "text"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality classifier (fasttext-style
    curation filter): tokens hash into 1024 buckets, a deterministic
    integer weight per bucket, summed in ONE JVM projection — zero
    shuffle, zero Python, runs at scan speed at any corpus size. The
    oracle restates the identical fixed-point arithmetic in DuckDB;
    the sigmoid probability stays out of the gate (libm exp() is not
    bit-portable), the integer logit and decision are exact."""
    from duckdb_miint_spark.pipeline.text import hashed_quality_scores

    docs = T(spark, sf_dir, "documents")
    return (
        hashed_quality_scores(docs)
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "w_sum_milli",
            "score",
            "quality_label",
        )
        .orderBy("doc_id")
    )


def _multiprobe_mb_oracle_sql(
    bands: int = 4, rows: int = 4, n_probes: int = 4, n_queries: int = 5, k: int = 10
) -> str:
    """DuckDB restatement of the MULTI-BIT query-directed probe sequence
    (similarity._band_probe_stage_qd): every non-empty bit subset scored
    by its summed |projection| margins (left-to-right by bit index, the
    same fold order as the Spark expressions), sorted by (score, bucket)
    — struct comparison is field-order in both engines — and the first
    n_probes-1 perturbations probed after the base bucket."""
    n_planes = bands * rows
    pivot_bits = ",\n         ".join(
        f"max(CASE WHEN p % {rows} = {r} THEN CASE WHEN pr >= 0 THEN '1' ELSE '0' END END) AS b{r}"
        for r in range(rows)
    )
    pivot_margins = ",\n         ".join(
        f"max(CASE WHEN p % {rows} = {r} THEN abs(pr) END) AS m{r}"
        for r in range(rows)
    )
    entries = []
    for mask in range(1, 1 << rows):
        members = [r for r in range(rows) if mask >> r & 1]
        score = " + ".join(f"m{r}" for r in members)
        bkt = " || ".join(
            f"(CASE WHEN b{r} = '1' THEN '0' ELSE '1' END)" if r in members else f"b{r}"
            for r in range(rows)
        )
        entries.append(f"struct_pack(m := {score}, bkt := {bkt})")
    pert_list = ",\n      ".join(entries)
    base = " || ".join(f"b{r}" for r in range(rows))
    probe_selects = "\n  UNION ALL\n".join(
        f"  SELECT query_id, band, pert[{t}].bkt AS bucket FROM qsort"
        for t in range(1, n_probes)
    )
    return f"""
WITH plane_vals AS (
  SELECT p.p, d.d,
         CASE WHEN strpos('89abcdef',
                substr(md5('spark-graft:' || CAST(p.p AS VARCHAR) || ':' || CAST(d.d // 16 AS VARCHAR)),
                       ((d.d % 16) * 2) + 1, 1)) > 0
              THEN 1.0 ELSE -1.0 END AS w
  FROM range({n_planes}) p(p), range(64) d(d)
),
planes AS (SELECT p, list(w ORDER BY d) AS pv FROM plane_vals GROUP BY p),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
proj AS (
  SELECT e.vec_id, pl.p, list_dot_product(e.v, pl.pv) AS pr
  FROM e, planes pl
),
cb AS (
  SELECT vec_id, p // {rows} AS band,
         string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id, p // {rows}
),
qp AS (
  SELECT vec_id AS query_id, p // {rows} AS band,
         {pivot_bits},
         {pivot_margins}
  FROM proj WHERE vec_id < {n_queries} GROUP BY vec_id, p // {rows}
),
qsort AS (
  SELECT query_id, band, {base} AS base,
    list_sort(list_value(
      {pert_list}
    )) AS pert
  FROM qp
),
qb AS (
  SELECT query_id, band, base AS bucket FROM qsort
  UNION ALL
{probe_selects}
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id
  FROM cb b JOIN qb q USING (band, bucket)
  WHERE b.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(list_dot_product(q.v, t.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v))), 6) AS sim
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e t ON t.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


@register(
    "ann_lsh_multiprobe_mb_topk",
    # Multi-bit query-directed multi-probe (r13, VERDICT r12 #5b): a
    # 4-band x 4-bit index (same 16 planes, HALF the bands of the 1-bit
    # gate — deeper buckets, fewer of them: the 100 TB shape where the
    # stored index is the scarce resource) recovering recall with 4
    # probes per band drawn from the 15-subset perturbation sequence.
    oracle=_multiprobe_mb_oracle_sql(bands=4, rows=4, n_probes=4),
    tags=("pipeline", "similarity"),
)
def q_ann_lsh_multiprobe_mb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-bit multi-probe hyperplane-LSH top-10 at rows=4: base
    bucket + the 3 lowest-total-margin bit-subset flips per band."""
    from duckdb_miint_spark.pipeline.similarity import lsh_multiprobe_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (
        lsh_multiprobe_topk(
            emb, queries, k=10, bands=4, rows=4, n_probes=4, multi_bit=True
        )
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    )


def dedup_incremental_serve_sqls() -> tuple[list[str], str]:
    """(setup DDL, serve SQL) — the bench's like-for-like DuckDB path
    for dedup_incremental_exact. The correctness oracle re-hashes the
    whole CORPUS per pass; no engine answers the ingest-dedup question
    that way — both sides get the same pay-at-ingest trade: the corpus
    hash index is materialized ONCE (timed as duck_index_build_sec, the
    analogue of Spark's graft build) and timed passes hash only the
    BATCH and join. Serve ≡ oracle equality is pytest-asserted
    (tests/test_oracle.py)."""
    setup = [
        """
CREATE OR REPLACE TABLE corpus_hash_index AS
SELECT md5(text) AS h, MIN(doc_id) AS canonical_id
FROM documents WHERE doc_id % 10 <> 7
GROUP BY md5(text)
"""
    ]
    serve = f"""
WITH batch AS (
  SELECT doc_id AS batch_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + {_INCR_REKEY} AS batch_id, md5(text) AS h
  FROM documents WHERE doc_id % 10 = 3
)
SELECT b.batch_id,
       b.h AS content_hash,
       CAST(ci.canonical_id IS NOT NULL AS INT) AS is_dup,
       ci.canonical_id AS canonical_id
FROM batch b LEFT JOIN corpus_hash_index ci ON b.h = ci.h
ORDER BY batch_id
"""
    return setup, serve
