"""Graph algorithm library — MAGE parity (SURVEY §2.10).

Reference: src/mage/cpp/* and query_modules/* ship pagerank, WCC, community
detection, centralities, node similarity etc. as C++/Python procedures over
the in-memory graph. Here each algorithm is an iterative DataFrame program
(Pregel-style message passing via groupBy-aggregate joins): fully distributed,
lineage-truncated per round with localCheckpoint. The fixpoint loops run on
`session.supersteps` (replace the state each round); the accumulating
frontier loops (BFS layers, variable-length paths, simple paths) on
`session.frontier` (keep every round), most through `operators.expand.bfs`.
"""

from memgraph_spark.algos.pagerank import pagerank  # noqa: F401
from memgraph_spark.algos.components import weakly_connected_components, label_propagation  # noqa: F401
from memgraph_spark.algos.centrality import degree_centrality, node_similarity_jaccard  # noqa: F401
from memgraph_spark.algos.triangles import triangle_count  # noqa: F401
from memgraph_spark.algos.betweenness import betweenness_centrality  # noqa: F401
from memgraph_spark.algos.maxflow import max_flow, min_cut  # noqa: F401
from memgraph_spark.algos.node2vec import node2vec_embeddings, node2vec_walks  # noqa: F401
from memgraph_spark.algos.tsp import tsp_solve  # noqa: F401
from memgraph_spark.algos.dag import contains_cycle, spanning_tree, topological_layers  # noqa: F401
from memgraph_spark.algos.katz import katz_centrality  # noqa: F401
from memgraph_spark.algos.bridges import (  # noqa: F401
    bipartite_matching,
    bridges,
    fundamental_cycles,
    union_find_connected,
)
from memgraph_spark.algos.kmeans import kmeans  # noqa: F401
from memgraph_spark.algos.setcover import set_cover_greedy  # noqa: F401
from memgraph_spark.algos.louvain import louvain_communities  # noqa: F401
from memgraph_spark.algos.coloring import color_graph, link_prediction_scores  # noqa: F401
