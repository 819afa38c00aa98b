"""Training-data pipeline operators (the 100 TB mandate): deduplication,
similarity search, text analysis, multimodal plumbing.

These extend the reference's surface (text_search / vector_search modules,
query_modules/text_search_module.cpp, query_modules/vector_search_module.cpp)
with the operations a large-scale LLM data pipeline needs. Hot paths are
JVM-side column expressions (shingling, minhash, n-gram Jaccard) or one
vectorized Arrow/numpy pass per batch (simhash votes, LSH band words) — no
Python row-at-a-time UDFs, so these operators need Python workers. Every
pair operator is filter-and-verify: `dedup.candidate_pairs` self-joins
band, chunk or prefix keys (never an O(n²) cross join at scale) and an
exact check (`dedup.jaccard_verify`, hamming distance, the exact metric)
verifies the candidates.
"""

from memgraph_spark.llm.dedup import (  # noqa: F401
    exact_dedup_stats,
    exact_dup_groups,
    shingle,
    minhash_signature,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
    ngram_jaccard_pairs,
)
from memgraph_spark.llm.similarity import (  # noqa: F401
    cosine,
    cosine_topk,
    cosine_pairs,
    lsh_bucket_topk,
)
from memgraph_spark.llm.textstats import (  # noqa: F401
    token_stats,
    quality_score,
    language_id,
    fingerprint,
)
