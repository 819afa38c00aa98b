"""Greedy set cover over (element, set) membership pairs.

Parity: the reference's set_cover module (src/mage/python/set_cover.py —
`set_cover.greedy(element_vertexes, set_vertexes)` YIELD containing_set;
pairs at equal indices define membership).

Spark re-expression: the classic ln(n)-approximation greedy loop on
`session.supersteps` — each round one distributed groupBy picks the set
covering the most uncovered elements, then an anti-join removes them (the
remaining count rides the round's checkpoint). Rounds = |cover|, inherently
sequential like the reference's solver; per-round work is aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def set_cover_greedy(pairs: DataFrame, element_col: str = "element",
                     set_col: str = "containing_set",
                     max_rounds: int = 10_000) -> list[int]:
    """Returns the chosen set ids, in pick order."""
    from memgraph_spark.session import supersteps
    chosen: list[int] = []

    def step(remaining, trace):
        best = (remaining.groupBy("s").agg(F.count("*").alias("n"))
                .orderBy(F.desc("n"), F.asc("s")).first())
        chosen.append(best.s)
        return remaining.join(remaining.filter(F.col("s") == best.s)
                              .select("element"), "element", "left_anti")

    supersteps(pairs.select(F.col(element_col).alias("element"),
                            F.col(set_col).alias("s")).dropDuplicates(),
               step, lambda t: t[-1]["n"] == 0, max_rounds, n=F.count("*"))
    return chosen
