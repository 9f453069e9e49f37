"""Record deduplication over a documents table (doc_id, text, …): exact
content hash, order-insensitive token-set fingerprint, and embedding-cosine
near-dup pairs within coarse blocks. Pure Column expressions, no UDF."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity_search import cosine


def _keep_min_id_per_key(docs: DataFrame, key, id_col: str) -> DataFrame:
    """Keep the min-``id_col`` row per ``key``: groupBy-min (map-side partial
    aggregation, so a hot group never goes through one task's sort), then a
    semi-join on the unique (key, id) pair. Null keys coalesce to a sentinel
    so null-text rows form one group instead of vanishing from the join."""
    with_key = docs.withColumn("__k", F.coalesce(key, F.lit("\x00null")))
    reps = with_key.groupBy("__k").agg(F.min(id_col).alias(id_col))
    return with_key.join(reps, ["__k", id_col], "semi").drop("__k")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per md5(text)."""
    return _keep_min_id_per_key(docs, F.md5(F.col(text_col)), id_col)


def fingerprint_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per md5 of the sorted distinct lowercase
    whitespace-token set, so token reorders collapse."""
    toks = F.array_remove(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), "")
    key = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    return _keep_min_id_per_key(docs, key, id_col)


def embedding_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, id_col: str = "vec_id",
    vec_col: str = "embedding", block_col: str = "label",
    max_block_size: int = 10_000, return_dropped: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """(left_id, right_id, cosine) pairs with cosine ≥ ``threshold`` within
    each block (e.g. an IVF cell). A block above ``max_block_size`` is
    dropped and reported, not star-linked: its members need not be mutually
    similar. The dropped-block frame (bk, block_n) is returned too when
    ``return_dropped``."""
    keyed = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col(block_col).alias("bk"))
    dropped = keyed.groupBy("bk").agg(F.count("*").alias("block_n")).filter(F.col("block_n") > max_block_size)
    ok = keyed.join(F.broadcast(dropped.select("bk")), "bk", "left_anti")
    l = ok.select("bk", F.col("id").alias("left_id"), F.col("v").alias("lv"))
    r = ok.select("bk", F.col("id").alias("right_id"), F.col("v").alias("rv"))
    pairs = (
        l.join(r, "bk")
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn("cosine", cosine(F.col("lv"), F.col("rv")))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )
    return (pairs, dropped) if return_dropped else pairs
