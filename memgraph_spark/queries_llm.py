"""LLM-pipeline query suite: dedup / similarity / text analysis over the
documents and embeddings tables, with DuckDB oracles wherever the output is
hash-function-independent (minhash-LSH output is exact-Jaccard-verified, so
its oracle is brute-force Jaccard; simhash/fingerprint/ANN are rows-only)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from memgraph_spark.catalog import graph_for
from memgraph_spark.llm import (
    cosine_pairs,
    cosine_topk,
    exact_dedup_stats,
    exact_dup_groups,
    fingerprint,
    language_id,
    lsh_bucket_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_score,
    simhash_near_pairs,
    token_stats,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_for(spark, sf_dir).tables["documents"]


def _embeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_for(spark, sf_dir).tables["embeddings"]


# -- dedup ------------------------------------------------------------------

def q_dedup_exact_stats(spark, sf_dir):
    return exact_dedup_stats(_docs(spark, sf_dir))


ORACLE_DEDUP_EXACT_STATS = """
SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique FROM documents
"""


def q_dedup_exact_groups(spark, sf_dir):
    return exact_dup_groups(_docs(spark, sf_dir))


ORACLE_DEDUP_EXACT_GROUPS = """
SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH candidates, exact-Jaccard verified at 0.8 — the verified
    output equals brute force (FN prob ~5e-8/pair), which the oracle computes."""
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8)


ORACLE_DEDUP_MINHASH = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, length(text)-5+2),
                                      i -> text[i:i+4])) AS s
  FROM documents WHERE length(text) >= 5
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE /
      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


ORACLE_DEDUP_NGRAM = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
), ng AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t)-3+2),
                                      i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks WHERE len(t) >= 3
), sized AS (SELECT doc_id, g, len(g) AS sz FROM ng WHERE len(g) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.g, b.g))::DOUBLE /
             (a.sz + b.sz - len(list_intersect(a.g, b.g))), 4) AS jaccard
FROM sized a JOIN sized b
  ON a.doc_id < b.doc_id
 AND a.sz >= 0.5 * b.sz AND b.sz >= 0.5 * a.sz
WHERE len(list_intersect(a.g, b.g))::DOUBLE /
      (a.sz + b.sz - len(list_intersect(a.g, b.g))) >= 0.5
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3). Hash-dependent -> rows-only."""
    return simhash_near_pairs(_docs(spark, sf_dir))


# -- similarity -------------------------------------------------------------

def q_embed_cosine_pairs(spark, sf_dir):
    return cosine_pairs(_embeds(spark, sf_dir), threshold=0.95)


ORACLE_EMBED_COSINE_PAIRS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95
"""


def q_embed_knn(spark, sf_dir):
    """Exact cosine top-10 neighbors of vec_id=0 (brute-force baseline of the
    vector index, vector_search.search parity)."""
    emb = _embeds(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, [float(v) for v in qvec], k=10, exclude_id=0)


ORACLE_EMBED_KNN = """
SELECT b.vec_id, round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id <> 0
ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id ASC
LIMIT 10
"""


def q_embed_ann_lsh(spark, sf_dir):
    """Approximate top-10 via random-hyperplane LSH buckets (scale path of
    the vector index). Approximate -> rows-only."""
    emb = _embeds(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return lsh_bucket_topk(emb.filter(F.col("vec_id") != 0),
                           [float(v) for v in qvec], k=10)


def q_embed_ann_ivf(spark, sf_dir):
    """Approximate top-10 via IVF (kmeans coarse quantizer + probed lists).
    Approximate -> rows-only. n_rows makes the list count scale-adaptive
    (n_lists ~ sqrt(n), no-op at sqrt(n) <= 8) so the probed fraction
    shrinks with the corpus instead of scanning a constant 3/8 of it."""
    from memgraph_spark.llm.similarity import ivf_topk
    emb = _embeds(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = emb.filter(F.col("vec_id") != 0)
    return ivf_topk(rest, [float(v) for v in qvec], k=10, n_lists=8,
                    n_probe=3, n_rows=rest.count())


def q_embed_label_norms(spark, sf_dir):
    from memgraph_spark.llm.similarity import norm
    emb = _embeds(spark, sf_dir)
    return (
        emb.select(F.col("label"),
                   norm(F.col("embedding").cast("array<double>")).alias("nrm"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("nrm"), 4).alias("avg_norm"))
    )


ORACLE_EMBED_LABEL_NORMS = """
SELECT label, count(*) AS n,
       round(avg(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
FROM embeddings GROUP BY label
"""


# -- text analysis ----------------------------------------------------------

def q_text_token_stats(spark, sf_dir):
    stats = token_stats(_docs(spark, sf_dir))
    return (
        stats.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"),
             F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
             F.round(F.avg("avg_token_len"), 4).alias("avg_tok_len"))
    )


ORACLE_TEXT_TOKEN_STATS = r"""
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), per_doc AS (
  SELECT source, len(toks) AS n_tokens,
         round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
               / greatest(len(toks), 1), 4) AS avg_token_len
  FROM t
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 2) AS avg_tokens,
       round(avg(avg_token_len), 4) AS avg_tok_len
FROM per_doc GROUP BY source
"""


def q_text_quality(spark, sf_dir):
    scored = quality_score(_docs(spark, sf_dir))
    return scored.groupBy("quality").agg(F.count("*").alias("n_docs"))


ORACLE_TEXT_QUALITY = r"""
WITH t AS (
  SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), feat AS (
  SELECT len(toks) AS n,
         list_sum(list_transform(toks, x -> length(x)))::DOUBLE
           / greatest(len(toks), 1) AS mean_len,
         len(list_filter(toks, x -> lower(x) IN
             ('the','a','of','and','to','in','is','it')))::DOUBLE
           / greatest(len(toks), 1) AS sw
  FROM t
)
SELECT round(
         (CASE WHEN n >= 10 AND n <= 100000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN sw > 0.01 AND sw < 0.5 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN mean_len >= 2 AND mean_len <= 12 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END),
       2)::DOUBLE AS quality,
       count(*) AS n_docs
FROM feat GROUP BY 1
"""


def q_text_langid(spark, sf_dir):
    pred = language_id(_docs(spark, sf_dir))
    return pred.groupBy("lang_pred").agg(F.count("*").alias("n_docs"))


ORACLE_TEXT_LANGID = r"""
WITH t AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
), hits AS (
  SELECT len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS h_en,
         len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS h_fr,
         len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS h_de,
         len(list_filter(toks, x -> x IN ('el','los','que','y'))) AS h_es
  FROM t
), best AS (
  SELECT greatest(format('{:08d}|en', h_en), format('{:08d}|fr', h_fr),
                  format('{:08d}|de', h_de), format('{:08d}|es', h_es)) AS b
  FROM hits
)
SELECT CASE WHEN b[1:8] = '00000000' THEN 'und' ELSE b[10:] END AS lang_pred,
       count(*) AS n_docs
FROM best GROUP BY 1
"""


def q_text_fingerprint(spark, sf_dir):
    """Winnowing fingerprints: per-doc distinct fingerprint count. Rows-only
    (text_fingerprint_exact pins the same hash against its oracle)."""
    fp = fingerprint(_docs(spark, sf_dir))
    return fp.select("doc_id", F.size("fingerprints").alias("n_fingerprints"))


def q_text_fingerprint_exact(spark, sf_dir):
    """Winnowing fingerprints with the engine-neutral polynomial k-gram
    hash (llm/textstats.fingerprint): per-doc signature summary
    (count, min, max, sum mod p) — hash-EXACT against the DuckDB oracle."""
    mod = 1_000_000_007
    fp = fingerprint(_docs(spark, sf_dir), mod=mod)
    return fp.select(
        "doc_id",
        F.size("fingerprints").cast("long").alias("n_fp"),
        F.array_min("fingerprints").alias("fp_min"),
        F.array_max("fingerprints").alias("fp_max"),
        F.pmod(F.aggregate("fingerprints", F.lit(0).cast("long"),
                           lambda a, v: a + v), F.lit(mod)).alias("fp_sum"))


ORACLE_TEXT_FINGERPRINT_EXACT = """
WITH grams AS (
  SELECT doc_id,
    CASE WHEN length(text) >= 7 THEN
      list_transform(generate_series(1, length(text)-6), i ->
        (ascii(text[i])::BIGINT*887503681 + ascii(text[i+1])::BIGINT*28629151 +
         ascii(text[i+2])::BIGINT*923521 + ascii(text[i+3])::BIGINT*29791 +
         ascii(text[i+4])::BIGINT*961 + ascii(text[i+5])::BIGINT*31 +
         ascii(text[i+6])::BIGINT) % 1000000007)
    ELSE CAST([] AS BIGINT[]) END AS g
  FROM documents),
fps AS (
  SELECT doc_id,
    CASE WHEN len(g) >= 4 THEN
      list_distinct(list_transform(generate_series(1, len(g)-3),
                                   i -> list_min(g[i:i+3])))
    ELSE list_distinct(g) END AS fp
  FROM grams)
SELECT doc_id, len(fp)::BIGINT AS n_fp, list_min(fp) AS fp_min,
       list_max(fp) AS fp_max,
       (list_aggregate(fp, 'sum') % 1000000007)::BIGINT AS fp_sum
FROM fps
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup connected-component clustering over the verified MinHash
    pair graph (llm/dedup.near_dup_clusters): one (id, cluster) row per
    document, cluster = min doc id of the component. The oracle computes
    the same components with a recursive transitive closure over the exact
    brute-force pair graph."""
    from memgraph_spark.llm.dedup import near_dup_clusters
    return near_dup_clusters(_docs(spark, sf_dir), threshold=0.8)


ORACLE_DEDUP_CLUSTERS = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, length(text)-5+2),
                                      i -> text[i:i+4])) AS s
  FROM documents WHERE length(text) >= 5
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id
)
SELECT id, min(root) AS cluster FROM reach GROUP BY id
"""


LLM_QUERIES = {
    "dedup_exact_stats": q_dedup_exact_stats,
    "dedup_exact_groups": q_dedup_exact_groups,
    "dedup_minhash": q_dedup_minhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "embed_cosine_pairs": q_embed_cosine_pairs,
    "embed_knn": q_embed_knn,
    "embed_ann_lsh": q_embed_ann_lsh,
    "embed_ann_ivf": q_embed_ann_ivf,
    "embed_label_norms": q_embed_label_norms,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_fingerprint_exact": q_text_fingerprint_exact,
}

LLM_ORACLES = {
    "dedup_exact_stats": ORACLE_DEDUP_EXACT_STATS,
    "dedup_exact_groups": ORACLE_DEDUP_EXACT_GROUPS,
    "dedup_minhash": ORACLE_DEDUP_MINHASH,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM,
    "embed_cosine_pairs": ORACLE_EMBED_COSINE_PAIRS,
    "embed_knn": ORACLE_EMBED_KNN,
    "embed_label_norms": ORACLE_EMBED_LABEL_NORMS,
    "text_token_stats": ORACLE_TEXT_TOKEN_STATS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "text_langid": ORACLE_TEXT_LANGID,
    "text_fingerprint_exact": ORACLE_TEXT_FINGERPRINT_EXACT,
    # dedup_simhash / embed_ann_lsh / embed_ann_ivf / text_fingerprint: rows-only by design
}
