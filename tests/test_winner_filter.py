"""Round-6 dedup rework parity: the shuffle-free local winner filter on the
bulk blocking paths must produce EXACTLY the frame the round-5
``dedup_pairs`` SortAggregate produced — same pairs, same winning
(block_pass, block_key), same payload — including when ``self_candidates``
drops oversized blocks (the winner must then be the best SURVIVING pass,
which the per-entity surviving-key arrays encode)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from blocking_spec import dedup_pairs
from metadata_reconciliation_tool_spark.operators import blocking as B
from metadata_reconciliation_tool_spark.operators.blocking import (
    _pass_keys,
    add_block_keys,
    dictionary_candidates,
    self_candidates,
)


def _keyed(spark, rows):
    df = spark.createDataFrame(
        rows, "entity_key string, norm_name string, entity_type string"
    )
    return add_block_keys(df)


# a mix engineered so passes overlap and disagree: shared prefixes, typo
# variants (lsh-only collisions), phonetic respellings, initials, multi-type
_NAMES = [
    "william shakespeare", "willliam shakespeare", "w shakespeare",
    "shakspere william", "oliver blackwood", "o blackwood",
    "olivier blackwood", "henry fornoran", "henry forneran",
    "sophia mueller", "sofia muller", "sophia  mueller",
    "james smith", "james smyth", "j smith", "smith james",
    "catherine johnson", "katherine johnson", "kat johnson",
    "amelia garcia-lopez", "amelia garcia lopez", "dr amelia garcia",
]


def _old_dict(e, d):
    ep = _pass_keys(
        e, "entity_key", {"left_name": "norm_name", "left_sorted": "_token_sorted"}
    ).withColumnRenamed("id", "left_key")
    rp = {
        "right_name": "norm_label",
        "right_description": "description",
        "right_sorted": "_token_sorted",
    }
    source_cols = [c for c in ("source", "n_sources", "term_type") if c in d.columns]
    for c in source_cols:
        rp[f"right_{c}"] = c
    dp = _pass_keys(d, "auth_id", rp).withColumnRenamed("id", "right_key")
    out_cols = [
        "left_key", "right_key", "block_pass", "block_key", "left_name",
        "right_name", "right_description", "left_sorted", "right_sorted",
        *[f"right_{c}" for c in source_cols],
    ]
    joined = ep.join(F.broadcast(dp), ["block_pass", "block_key"]).select(*out_cols)
    return dedup_pairs(joined)


def _old_self(e, cap):
    f = _pass_keys(e, "entity_key", {"nm": "norm_name", "srt": "_token_sorted"})
    sizes = f.groupBy("block_pass", "block_key").agg(F.count("*").alias("block_n"))
    ok = sizes.filter(F.col("block_n") <= cap).withColumn(
        "n_salts",
        F.least(F.ceil(F.col("block_n") / F.lit(256)), F.lit(32)).cast("int"),
    )
    fk = f.join(
        F.broadcast(ok.select("block_pass", "block_key", "n_salts")),
        ["block_pass", "block_key"],
    )
    left = fk.select(
        "block_pass", "block_key",
        F.pmod(F.xxhash64("id"), F.col("n_salts")).cast("int").alias("salt"),
        F.col("id").alias("left_key"), F.col("nm").alias("left_name"),
        F.col("srt").alias("left_sorted"),
    )
    right = fk.select(
        "block_pass", "block_key",
        F.explode(F.sequence(F.lit(0), F.col("n_salts") - 1)).alias("salt"),
        F.col("id").alias("right_key"), F.col("nm").alias("right_name"),
        F.col("srt").alias("right_sorted"),
    )
    pairs = (
        left.join(right, ["block_pass", "block_key", "salt"])
        .filter(F.col("left_key") < F.col("right_key"))
        .select(
            "left_key", "right_key", "block_pass", "block_key", "left_name",
            "right_name", F.lit(None).cast("string").alias("right_description"),
            "left_sorted", "right_sorted",
        )
    )
    return dedup_pairs(pairs)


def _assert_frames_equal(a, b):
    """b (the production frame) must equal the spec frame a on the spec's
    columns; the only allowed extras are the round-6 carried token arrays,
    whose values must equal the split-derivation scoring used to compute
    per pair (checked row-wise below, since list cells don't sort)."""
    cols = sorted(a.columns)
    extras = set(b.columns) - set(a.columns)
    assert extras <= {"left_toks", "right_toks"}
    for side in extras:
        srt = "left_sorted" if side == "left_toks" else "right_sorted"
        derived = F.array_distinct(F.array_remove(F.split(F.col(srt), " "), ""))
        assert b.filter(F.col(side) != derived).count() == 0
    pa = a.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    pb = b.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb)
    return len(pa)


def test_winner_filter_matches_agg_dedup_dictionary(spark):
    ents = _keyed(spark, [(f"e{i:03d}", n, "person") for i, n in enumerate(_NAMES)])
    dic = spark.createDataFrame(
        [
            (f"Q{i}", n, n, ("authority" if i % 2 else None), "person")
            for i, n in enumerate(_NAMES[::2])
        ],
        "auth_id string, label string, norm_label string, description string,"
        " entity_type string",
    )
    dkeyed = add_block_keys(dic, "norm_label")
    n = _assert_frames_equal(
        _old_dict(ents, dkeyed), dictionary_candidates(ents, dkeyed, broadcast=True)
    )
    assert n > len(_NAMES)  # the fixture must actually exercise overlaps


def test_winner_filter_matches_agg_dedup_self_with_and_without_drops(spark):
    ents = _keyed(spark, [(f"e{i:03d}", n, "person") for i, n in enumerate(_NAMES)])
    # cap=1000: nothing dropped; cap=3: several blocks dropped, so the
    # winner for a pair whose best pass was dropped must fall to the best
    # SURVIVING pass — exactly what the old aggregate did over fk rows
    for cap in (1000, 3):
        new_pairs, _ = self_candidates(ents, cap)
        n = _assert_frames_equal(_old_self(ents, cap), new_pairs)
        assert n > 0


def test_winner_filter_keeps_exactly_one_row_per_pair(spark):
    ents = _keyed(spark, [(f"e{i:03d}", n, "person") for i, n in enumerate(_NAMES)])
    pairs, _ = self_candidates(ents, 1000)
    got = [(r.left_key, r.right_key) for r in pairs.collect()]
    assert len(got) == len(set(got))


def test_ingest_candidates_equal_full_run_restricted_to_new(spark):
    """The ingest shape (``new_keyed``) must build exactly the pairs a full
    run over old ∪ new builds that touch the batch — same keys, same
    winning (block_pass, block_key), same payload — with blocks kept
    (cap 1000) and with blocks dropped (cap 3), where the survival mask
    over the touched blocks decides the winner."""
    rows = [(f"e{i:03d}", n, "person") for i, n in enumerate(_NAMES)]
    new_ids = [k for i, (k, _, _) in enumerate(rows) if i % 2 == 1]
    ents = _keyed(spark, rows)
    old = ents.filter(~F.col("entity_key").isin(new_ids))
    new = ents.filter(F.col("entity_key").isin(new_ids))
    for cap in (1000, 3):
        full, full_dropped = self_candidates(ents, cap)
        touching = full.filter(
            F.col("left_key").isin(new_ids) | F.col("right_key").isin(new_ids)
        )
        got, _ = self_candidates(old, cap, new_keyed=new)
        n = _assert_frames_equal(touching.drop("left_toks", "right_toks"), got)
        assert n > 0
        both_new = got.filter(
            F.col("left_key").isin(new_ids) & F.col("right_key").isin(new_ids)
        )
        assert both_new.count() > 0  # new↔new pairs are exercised
        if cap == 3:
            assert full_dropped.count() > 0  # the survival mask matters
