"""Exact reference computations that tests compare the engine against."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdp_spark.datapipe.similarity import cosine


def cosine_topk(
    df: DataFrame,
    query_vector: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector, the
    brute-force oracle of the indexed queries.  Ties break on id for
    determinism."""
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    sim = F.round(cosine(F.col(vec_col), q), round_digits)
    return (
        df.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )
