"""End-to-end gates: labeled-pair F1 ≥ 0.99 at shared blocking keys,
blocking recall, transitive-cluster oracle, best-match sanity, idempotent
resume (SURVEY.md §5; BASELINE.md rebuild targets)."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F


def _f1(spark, bundle, self_scores):
    lp = spark.createDataFrame(bundle["labeled_pairs"]).withColumnRenamed(
        "is_match", "truth"
    )
    scored = self_scores.select(
        "left_key", "right_key", F.col("is_match").alias("pred0")
    )
    j = lp.join(scored, ["left_key", "right_key"], "left").withColumn(
        "pred", F.coalesce("pred0", F.lit(False))
    )
    tp = j.filter("pred and truth").count()
    fp = j.filter("pred and not truth").count()
    fn = j.filter("not pred and truth").count()
    unscored = j.filter("pred0 is null and truth").count()
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    return 2 * prec * rec / max(prec + rec, 1e-9), unscored, (tp, fp, fn)


def test_pairwise_f1_gate(spark, bundle, pipeline_out):
    """North-rule gate: pairwise match F1 ≥ 0.99 on labeled pairs at shared
    blocking keys."""
    f1, unscored, counts = _f1(spark, bundle, pipeline_out["self_scores"])
    assert unscored == 0, f"blocking missed {unscored} labeled positives"
    assert f1 >= 0.99, f"F1={f1} (tp,fp,fn)={counts}"


def test_blocking_reaches_every_labeled_pair(spark, bundle, pipeline_out):
    """Every labeled pair (positive or negative) shares a blocking key by
    construction — blocking must actually generate it. Checked at the
    OPERATOR level since round 5: the persisted stage drops pruned self
    rows (operators/scoring.py cap_persisted_scores), so low-scoring
    labeled negatives are deliberately absent from stage_scoring; the
    candidate-pair frame is where generation is observable. Positives
    remain covered end-to-end by test_pairwise_f1_gate's unscored==0."""
    from metadata_reconciliation_tool_spark.operators import blocking as B
    from metadata_reconciliation_tool_spark.operators import extract as E

    ekeyed = B.add_block_keys(
        E.distinct_entities(E.extract_entities(bundle["transcripts"]))
    )
    pairs, _ = B.self_candidates(ekeyed)
    lp = spark.createDataFrame(bundle["labeled_pairs"][["left_key", "right_key"]])
    missing = (
        lp.join(
            pairs.select("left_key", "right_key"),
            ["left_key", "right_key"],
            "left_anti",
        ).count()
    )
    assert missing == 0


def test_cluster_oracle_exact(spark, bundle, pipeline_out):
    """Transitive clustering equals the oracle exactly (same min-key
    convention), including chain cases that force transitivity."""
    exp = spark.createDataFrame(bundle["expected_clusters"]).withColumnRenamed(
        "cluster_id", "exp_cid"
    )
    got = pipeline_out["clusters"].join(exp, "entity_key", "inner")
    assert got.count() == len(bundle["expected_clusters"])
    assert got.filter("cluster_id <> exp_cid").count() == 0


def test_best_match_canonicals(spark, bundle, pipeline_out):
    """Every canonical-form entity best-matches its own dictionary record
    with score 1.0 (the dictionary labels ARE the canonicals)."""
    canon_keys = [v.key for v in bundle["variants"] if v.rule == "canonical"]
    auth_by_ent = {f"Q{e.entity_id + 1000}" for e in bundle["pool"]}
    best = pipeline_out["best"].filter(F.col("entity_key").isin(canon_keys))
    rows = best.collect()
    assert len(rows) == len(canon_keys)
    for r in rows:
        assert r.right_key in auth_by_ent
        assert r.score == 1.0


def test_match_rate_metrics_written(spark, pipeline_out):
    work = pipeline_out["_work_dir"]
    m = spark.read.parquet(f"{work}/job_metrics")
    metrics = {r.metric for r in m.collect()}
    assert {"rows", "successful_matches", "match_rate"} <= metrics


def test_resume_idempotent(spark, bundle, pipeline_out):
    """ST2/ST3 analogue: delete one stage output, rerun with force=False →
    only that stage recomputes; results byte-identical."""
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    work = pipeline_out["_work_dir"]
    before = pipeline_out["clusters"].orderBy("entity_key").collect()
    shutil.rmtree(f"{work}/t1/stage_clusters")
    cfg = ReconConfig(job_id="t1", work_dir=work, force=False)
    out2 = ReconPipeline(spark, cfg).run(bundle["transcripts"], bundle["dictionary"])
    after = out2["clusters"].orderBy("entity_key").collect()
    assert before == after


def test_per_rule_recall(spark, bundle, pipeline_out):
    """Each variant class (FIXTURES.md §3) individually achieves full recall
    — a regression in one blocking pass can't hide behind the aggregate."""
    lp = spark.createDataFrame(bundle["labeled_pairs"]).filter("is_match")
    scored = pipeline_out["self_scores"].filter("is_match").select(
        "left_key", "right_key"
    )
    missed = (
        lp.join(scored, ["left_key", "right_key"], "left_anti")
        .groupBy("variant_rule")
        .count()
        .collect()
    )
    assert missed == [], f"missed positives by rule: {missed}"


def test_fused_blocking_equals_checkpointed(spark, bundle, tmp_path):
    """checkpoint_blocking=False (the default: pairs fused into the scoring
    stage, no mid-step pair checkpoint) must produce byte-identical scoring
    /clusters/best to the checkpointed round-2 behavior, and must not write
    a stage_blocking dir."""
    import os

    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    outs = {}
    for label, ckpt in (("fused", False), ("ckpt", True)):
        work = str(tmp_path / label)
        cfg = ReconConfig(
            job_id="j", work_dir=work, force=True, collect_metrics=False,
            checkpoint_blocking=ckpt,
        )
        outs[label] = (ReconPipeline(spark, cfg).run(
            bundle["transcripts"], bundle["dictionary"]
        ), work)

    fused, fused_work = outs["fused"]
    ckptd, ckpt_work = outs["ckpt"]
    assert not os.path.isdir(f"{fused_work}/j/stage_blocking")
    assert os.path.isdir(f"{ckpt_work}/j/stage_blocking")
    for name in ("scores", "clusters", "best"):
        a = sorted(map(tuple, fused[name].collect()))
        b = sorted(map(tuple, ckptd[name].collect()))
        assert a == b, f"{name} diverged between fused and checkpointed"


def test_best_match_label_join_gate_parity(spark, bundle, pipeline_out, tmp_path):
    """Round-3 verdict item 1: best-match label attachment is size-gated —
    no unconditional broadcast of dictionary data remains. Cap-forced run
    (broadcast_max_rows=0 → shuffle join) must be bit-identical to the
    default (broadcast) run, labels correct, unmatched rows null."""
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    best = pipeline_out["best"]
    dic = bundle["dictionary"].select(
        F.col("auth_id").alias("right_key"), F.col("label").alias("want_label")
    )
    j = best.join(dic, "right_key", "left")
    # every matched entity's label equals the dictionary's label
    assert j.filter(
        F.col("right_key").isNotNull()
        & ~F.col("match_label").eqNullSafe(F.col("want_label"))
    ).count() == 0
    # unmatched entities carry a null label (left-join semantics preserved)
    assert best.filter(
        F.col("right_key").isNull() & F.col("match_label").isNotNull()
    ).count() == 0
    assert best.filter("right_key is not null").count() > 0

    # cap-forced parity: broadcast gate at 0 rows forces the shuffle path
    cfg = ReconConfig(
        job_id="gate0", work_dir=str(tmp_path / "gate0"), force=True,
        collect_metrics=False, broadcast_max_rows=0,
    )
    forced = ReconPipeline(spark, cfg).run(
        bundle["transcripts"], bundle["dictionary"]
    )["best"]
    a = sorted(map(tuple, forced.collect()))
    b = sorted(map(tuple, best.collect()))
    assert a == b


def test_dict_broadcast_gate_reprobes_per_dictionary(spark, bundle, tmp_path):
    """One pipeline, two dictionaries on either side of
    ``broadcast_max_rows``: the gate must answer for the dictionary it is
    given — a verdict cached for the small one must never broadcast the
    large one."""
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    small = bundle["dictionary"].limit(3)
    large = bundle["dictionary"]
    assert large.count() > 5
    pipe = ReconPipeline(
        spark,
        ReconConfig(job_id="g", work_dir=str(tmp_path), broadcast_max_rows=5),
    )
    assert pipe._dict_small(small) is True
    assert pipe._dict_small(large) is False
    assert pipe._dict_small(small) is True


def test_job_config_resume_guard(spark, bundle, tmp_path):
    """ADVICE r4 medium: run() must not rewrite job_config.json while
    serving stages scored under the OLD bars. Contradicting thresholds on
    a resume raise; force=True rescores and records the new bars; a
    matching resume leaves the persisted record untouched."""
    import json
    import os

    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    work = str(tmp_path / "w")
    cfg = ReconConfig(job_id="g", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(bundle["transcripts"], bundle["dictionary"])
    cfg_path = os.path.join(work, "g", "job_config.json")
    with open(cfg_path) as fh:
        recorded = json.load(fh)
    assert recorded["success_threshold"] == cfg.success_threshold

    # contradicting bar + resume (force=False) → raise, file untouched
    bad = ReconConfig(
        job_id="g", work_dir=work, force=False, collect_metrics=False,
        success_threshold=0.42,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="success_threshold"):
        ReconPipeline(spark, bad).run(bundle["transcripts"], bundle["dictionary"])
    with open(cfg_path) as fh:
        assert json.load(fh) == recorded  # record not clobbered

    # matching resume: runs, record unchanged
    same = ReconConfig(job_id="g", work_dir=work, force=False, collect_metrics=False)
    ReconPipeline(spark, same).run(bundle["transcripts"], bundle["dictionary"])
    with open(cfg_path) as fh:
        assert json.load(fh) == recorded

    # force=True with new bars: rescores and records them
    forced = ReconConfig(
        job_id="g", work_dir=work, force=True, collect_metrics=False,
        success_threshold=0.42,
    )
    ReconPipeline(spark, forced).run(bundle["transcripts"], bundle["dictionary"])
    with open(cfg_path) as fh:
        assert json.load(fh)["success_threshold"] == 0.42


def test_persisted_scores_policy(spark, bundle, tmp_path, pipeline_out):
    """Round-4 verdict item 5 (cap_persisted_scores): the default pipeline
    persists no pruned self rows, caps pruned dict rows at top_k per
    entity — exactly the top-k of the full set — keeps non-pruned rows
    bit-identical, and leaves every decision (clusters, best) unchanged;
    the observed scoring stats still report the TRUE pair counts."""
    from pyspark.sql import Window

    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    from metadata_reconciliation_tool_spark.sources import writers as W

    cfg = ReconConfig(
        job_id="ap", work_dir=str(tmp_path / "all"), force=True,
        collect_metrics=False, persist_all_pruned=True,
    )
    pipe = ReconPipeline(spark, cfg)
    full = pipe.run(bundle["transcripts"], bundle["dictionary"])
    # read the capped run's stages FRESH from disk: the session-scoped
    # fixture's cached DataFrames hold the part-file listing from fixture
    # time, and test_resume_idempotent rewrites stage_clusters in the same
    # work dir (stale file references → FileNotFound on collect)
    work = pipeline_out["_work_dir"]
    capped = {
        name: W.read_stage(spark, f"{work}/t1/stage_{stage}")
        for name, stage in (
            ("scores", "scoring"),
            ("clusters", "clusters"),
            ("best", "best"),
        )
    }

    fs, cs = full["scores"], capped["scores"]
    assert cs.filter("score_pruned and pair_kind = 'self'").count() == 0
    over = (
        cs.filter("score_pruned")
        .groupBy("left_key", "pair_kind")
        .count()
        .filter(F.col("count") > 10)
        .count()
    )
    assert over == 0

    cols = fs.columns
    kept_full = sorted(map(tuple, fs.filter("not score_pruned").select(*cols).collect()))
    kept_capped = sorted(map(tuple, cs.filter("not score_pruned").select(*cols).collect()))
    assert kept_full == kept_capped

    # capped pruned dict rows == the top-k (score desc, right_key asc) of
    # the full run's pruned dict rows, exactly
    w = Window.partitionBy("left_key").orderBy(F.desc("score"), F.asc("right_key"))
    expected = (
        fs.filter("score_pruned and pair_kind = 'dict'")
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn <= 10")
        .drop("_rn")
        .select(*cols)
    )
    got = cs.filter("score_pruned").select(*cols)
    assert sorted(map(tuple, expected.collect())) == sorted(map(tuple, got.collect()))

    for name in ("clusters", "best"):
        a = sorted(map(tuple, full[name].collect()))
        b = sorted(map(tuple, capped[name].collect()))
        assert a == b, f"{name} diverged under the persistence policy"

    # observed stats = true counts (persist_all run: stage rows == scored)
    assert pipe.scoring_stats["scored_pairs"] == fs.count()
    assert pipe.scoring_stats["pruned_pairs"] == fs.filter("score_pruned").count()
    assert pipe.scoring_stats["persisted_rows"] == pipe.scoring_stats["scored_pairs"]
