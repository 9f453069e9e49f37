"""Blocking semantics: salted self-join completeness, block caps, pass
priority dedup, typed keys."""

from __future__ import annotations

import itertools
import re

import pyspark.sql.functions as F

from blocking_spec import dedup_pairs
from metadata_reconciliation_tool_spark.operators.blocking import (
    add_block_keys,
    dictionary_candidates,
    pair_join_partitions,
    self_candidates,
)


def _keyed(spark, names, etype="person"):
    df = spark.createDataFrame(
        [(f"k{i:03d}", n, etype) for i, n in enumerate(names)],
        "entity_key string, norm_name string, entity_type string",
    )
    return add_block_keys(df)


def test_salted_self_join_produces_every_pair_exactly_once(spark):
    """A hot block (shared prefix) with n > rows_per_salt must still yield
    all C(n,2) pairs, each exactly once — salting splits work, never pairs."""
    names = [f"smithe common{i:02d}" for i in range(40)]  # one shared block
    keyed = _keyed(spark, names)
    pairs, dropped = self_candidates(keyed, max_block_size=1000, rows_per_salt=8)
    got = [(r.left_key, r.right_key) for r in pairs.collect()]
    assert len(got) == len(set(got)), "duplicate pairs after salting"
    keys = [f"k{i:03d}" for i in range(40)]
    want = {(a, b) for a, b in itertools.combinations(sorted(keys), 2)}
    assert set(got) >= want
    assert dropped.count() == 0


def test_block_cap_drops_and_reports(spark):
    names = [f"hotblock name{i:02d}" for i in range(30)]
    keyed = _keyed(spark, names)
    pairs, dropped = self_candidates(keyed, max_block_size=10)
    # every pass's block for these identical-prefix names exceeds the cap
    assert dropped.count() > 0
    assert {r.block_pass for r in dropped.collect()} >= {"prefix"}


def test_pass_priority_dedup(spark):
    pairs = spark.createDataFrame(
        [
            ("a", "b", "lsh", "x1"),
            ("a", "b", "prefix", "x2"),
            ("a", "b", "metaphone", "x3"),
            ("c", "d", "lsh", "x4"),
        ],
        "left_key string, right_key string, block_pass string, block_key string",
    )
    got = {(r.left_key, r.right_key): (r.block_pass, r.block_key) for r in dedup_pairs(pairs).collect()}
    assert got[("a", "b")] == ("prefix", "x2")  # prefix wins over both
    assert got[("c", "d")] == ("lsh", "x4")


def test_typed_keys_prevent_cross_type_blocking(spark):
    person = _keyed(spark, ["mount vernon"], "person")
    place = _keyed(spark, ["mount vernon"], "place")
    both = person.unionByName(place)
    pairs, _ = self_candidates(both)
    assert pairs.count() == 0  # identical names, different types → no block


def test_dictionary_candidates_broadcast_and_complete(spark, bundle):
    from metadata_reconciliation_tool_spark.operators.extract import (
        distinct_entities,
        extract_entities,
    )

    ents = distinct_entities(extract_entities(bundle["transcripts"]))
    ek = add_block_keys(ents)
    dk = add_block_keys(bundle["dictionary"], "norm_label")
    pairs = dictionary_candidates(ek, dk)
    # every canonical variant must reach its own dictionary entry
    canon = {(v.key, f"Q{v.entity_id + 1000}") for v in bundle["variants"] if v.rule == "canonical"}
    got = {(r.left_key, r.right_key) for r in pairs.collect()}
    assert canon <= got
    # physical plan: the dictionary side must be broadcast, not shuffled
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_dictionary_candidates_shuffle_fallback_parity(spark, bundle):
    """Round-2 verdict item 2: with the broadcast gate forced off (cap=1),
    the salted shuffle join must produce the identical pair set, and the
    plan must NOT broadcast the dictionary."""
    from metadata_reconciliation_tool_spark.operators.extract import (
        distinct_entities,
        extract_entities,
        prepare_dictionary,
    )

    ents = distinct_entities(extract_entities(bundle["transcripts"]))
    ek = add_block_keys(ents)
    dk = add_block_keys(prepare_dictionary(bundle["dictionary"]), "norm_label")

    bc = dictionary_candidates(ek, dk)
    sh = dictionary_candidates(ek, dk, broadcast_max_rows=1)  # auto-gate: count>1 → shuffle

    cols = sorted(bc.columns)
    assert sorted(sh.columns) == cols
    bc_rows = sorted(map(tuple, bc.select(*cols).collect()))
    sh_rows = sorted(map(tuple, sh.select(*cols).collect()))
    assert bc_rows == sh_rows and len(bc_rows) > 0

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sh.explain("formatted")
    plan = buf.getvalue()
    # the pair-producing join must be a shuffle join on the salted key
    assert "_salt" in plan
    # exactly-once: no pair may be produced by more than one salt bucket
    dup = sh.groupBy("left_key", "right_key").count().filter("count > 1").count()
    assert dup == 0


def test_pair_join_partitions_floor_is_local_only(spark):
    """The two-wave floor (2 × cores) applies to local[...] masters only; a
    cluster keeps its shuffle partitioning whatever its core count. On the
    local[8] test session the balanced entity side has 16 partitions."""
    assert pair_join_partitions("local[8]", 8, 8) == 16
    assert pair_join_partitions("local", 8, 1) == 8
    assert pair_join_partitions("local[4]", 32, 4) == 32
    assert pair_join_partitions("spark://master:7077", 200, 400) == 200
    assert pair_join_partitions("yarn", 64, 256) == 64
    assert pair_join_partitions("local-cluster[2,1,1024]", 8, 8) == 8

    ek = _keyed(spark, ["john smith", "jon smith"])
    dk = add_block_keys(
        spark.createDataFrame(
            [("Q1", "john smith", "person", "")],
            "auth_id string, norm_label string, entity_type string, description string",
        ),
        "norm_label",
    )
    pairs = dictionary_candidates(ek, dk, broadcast=True, entity_rows=2)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(left_key#\d+, 16\)", plan), plan
