"""Text search: tokenized inverted index + BM25 (SURVEY §2.11).

Reference: text index backed by tantivy (src/storage/v2/indices/
text_index.hpp:37, ADRs/001_tantivy.md) with procedures text_search.search /
fuzzy_phrase_search / regex_search (query_modules/text_search_module.cpp:
23-31). Spark re-expression: the inverted index IS a DataFrame
(token, doc_id, tf) built with explode(tokens) — one shuffle to build,
broadcast-joined per query term at search time; BM25 scoring is a pure
column expression. At 100 TB the index table is partitioned by token bucket
and the per-query term list is tiny, so a search touches only the matching
index partitions (partition pruning on the token column).

Tokenization contract (shared with every oracle): lowercase, split on
non-alphanumeric runs, drop empties.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import empty_frame

K1 = 1.2
B = 0.75


def tokenize_text(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != "")


def build_text_index(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Inverted index: (token, doc_id, tf, doc_len). Persist/bucket this by
    token for repeated queries (the 'index build')."""
    toks = df.select(F.col(id_col).alias("doc_id"),
                     tokenize_text(F.col(text_col)).alias("toks"))
    return (toks.select("doc_id", F.size("toks").alias("doc_len"),
                        F.explode("toks").alias("token"))
            .groupBy("token", "doc_id", "doc_len")
            .agg(F.count("*").alias("tf")))


def index_stats(df: DataFrame, idx: DataFrame) -> tuple[int, float]:
    """(n_docs, avg_doc_len) for BM25 — computed once per index build."""
    n_docs = df.count()
    avg_len = idx.select("doc_id", "doc_len").dropDuplicates() \
        .agg(F.avg("doc_len")).first()[0] or 1.0
    return n_docs, avg_len


def bm25_search(df: DataFrame, query: str, id_col: str = "doc_id",
                text_col: str = "text", k: int = 10,
                index: DataFrame | None = None,
                stats: tuple[int, float] | None = None) -> DataFrame:
    """text_search.search parity: top-k (doc_id, score) by BM25.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term scores sum over the
    distinct query tokens. Deterministic tie-break on doc_id.
    """
    # materialize the index once: the stats pass and the scoring pass both
    # read it (at lake scale this is the persisted/bucketed index table)
    idx = (index if index is not None
           else build_text_index(df, id_col, text_col)
           .localCheckpoint(eager=True))
    n_docs, avg_len = stats if stats is not None else index_stats(df, idx)
    terms = sorted({t for t in
                    __import__("re").split(r"[^a-z0-9]+", query.lower()) if t})
    if not terms:
        return empty_frame(df.sparkSession, "doc_id long, score double")
    # literal IN-list filter, not a broadcast join against a 3-row terms
    # DataFrame: the predicate pushes into the (cached) index scan and the
    # per-query createDataFrame + broadcast-exchange job disappears —
    # at lake scale the same predicate prunes token-bucketed partitions
    hits = idx.filter(F.col("token").isin(terms))
    dfreq = hits.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df_t"))
    scored = (
        hits.join(F.broadcast(dfreq), "token")
        .withColumn("idf", F.log(
            1.0 + (F.lit(float(n_docs)) - F.col("df_t") + 0.5)
            / (F.col("df_t") + 0.5)))
        .withColumn("score_t", F.col("idf") * (
            F.col("tf") * (K1 + 1)
            / (F.col("tf") + K1 * (1 - B + B * F.col("doc_len")
                                   / F.lit(float(avg_len))))))
        .groupBy("doc_id").agg(F.round(F.sum("score_t"), 4).alias("score"))
    )
    return (scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k))


def regex_search(df: DataFrame, pattern: str, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """text_search.regex_search parity: substring-regex scan (no index —
    same as the reference, which scans tantivy's stored field)."""
    return df.filter(F.col(text_col).rlike(pattern)) \
             .select(F.col(id_col).alias("doc_id"))


def fuzzy_search(df: DataFrame, term: str, max_edits: int = 1,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """text_search.fuzzy_phrase_search parity (single-term): docs containing
    a token within `max_edits` Levenshtein distance of the term."""
    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.explode(tokenize_text(F.col(text_col))).alias("token"))
    return (toks.filter(F.levenshtein(F.col("token"),
                                      F.lit(term.lower())) <= max_edits)
            .select("doc_id").dropDuplicates())
