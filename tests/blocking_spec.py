"""Executable reference for J4 (first-wins cross-pass dedup by pass
priority) that the package's row-local winner filter is tested against.

Not a test module (pytest collects ``test_*.py`` only); imported by
``test_blocking.py`` and ``test_winner_filter.py``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_pairs(pairs: DataFrame) -> DataFrame:
    """J4 first-wins dedup across passes by pass priority — one aggregate,
    deterministic, never an order-dependent dropDuplicates.

    The winner is encoded as a single min()-able string
    '<prio>|<pass>|<key>' instead of min(struct(...)). Both plan as
    SortAggregate (min over a non-primitive buffer isn't hash-aggregable in
    Spark), but both keep the map-side partial min — the shuffle carries one
    pre-reduced row per (pair, map-partition) — and the flat string halves
    the shuffle payload vs the struct.

    The package's candidate paths (``dictionary_candidates``,
    ``self_candidates``) do not call this — the SortAggregate sorted the
    ~2.4×-duplicated pre-dedup pair stream end to end; they dedup with the
    shuffle-free ``blocking._winner_filter`` instead (identical output,
    parity-tested against this spec)."""
    prio = F.when(F.col("block_pass") == "prefix", "1").when(
        F.col("block_pass") == "metaphone", "2"
    ).otherwise("3")
    encoded = F.concat_ws("|", prio, F.col("block_pass"), F.col("block_key"))
    payload = [
        c
        for c in pairs.columns
        if c not in {"left_key", "right_key", "block_pass", "block_key"}
    ]
    agg = (
        pairs.withColumn("_w", encoded)
        .groupBy("left_key", "right_key")
        # payload columns (names/description) are functionally dependent on
        # the pair keys — min() just picks the single distinct value
        .agg(F.min("_w").alias("_w"), *[F.min(c).alias(c) for c in payload])
    )
    parts = F.split(F.col("_w"), r"\|", 3)
    return agg.select(
        "left_key",
        "right_key",
        parts.getItem(1).alias("block_pass"),
        parts.getItem(2).alias("block_key"),
        *payload,
    )
