"""Exact cosine top-k over an embedding column (array<float>), with the
cosine built from array expressions (zip_with + aggregate), no UDF. Ranking
ties break by neighbor id, so results are deterministic."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Broadcast the query side, rank the corpus per query by cosine.
    Returns (query_id, neighbor_id, cosine, rank); self-pairs excluded."""
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cosine", 6)), F.asc("neighbor_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return ranked.select("query_id", "neighbor_id", "cosine", "rank")
