"""Capture the recon scoring stage's .explain("formatted") to a file.

Builds the blocking+scoring+cap frame through the pipeline's own candidate
plan (``build_candidate_pairs``) and default ``ReconConfig`` bars, on
bench-scale fixture inputs, and writes the formatted plan — for comparing
the scoring plan before and after a change.

Usage: python tools/capture_scoring_plan.py plans/r06/recon_scoring_stage_after.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1]

    from metadata_reconciliation_tool_spark.fixtures import (
        build_variants,
        entity_pool,
        gen_dictionary,
        gen_transcripts,
    )
    from metadata_reconciliation_tool_spark.operators import blocking as B
    from metadata_reconciliation_tool_spark.operators import extract as E
    from metadata_reconciliation_tool_spark.operators import scoring as S
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        build_candidate_pairs,
    )
    from metadata_reconciliation_tool_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=cpus)

    pool = entity_pool(200)
    variants = build_variants(pool)
    transcripts = gen_transcripts(spark, variants, n_convs=2000, turns_per_conv=16)
    dictionary = gen_dictionary(spark, pool)

    # mirror the pipeline: entities_distinct is a CHECKPOINTED stage (write
    # + read-back), so the scoring plan scans parquet rather than inlining
    # the min_by aggregation
    work = "/dev/shm/capture_scoring_plan" if os.path.isdir("/dev/shm") else "/tmp/capture_scoring_plan"
    E.distinct_entities(E.extract_entities(transcripts)).write.mode(
        "overwrite"
    ).parquet(work)
    distinct = spark.read.parquet(work)
    cfg = ReconConfig(job_id="capture_scoring_plan", work_dir=work)
    pairs, _ = build_candidate_pairs(
        B.add_block_keys(distinct),
        dictionary,
        B.dict_broadcast_gate(dictionary, cfg.broadcast_max_rows),
        cfg.max_block_size,
        broadcast_max_rows=cfg.broadcast_max_rows,
    )
    scored = S.score_pairs(
        pairs, cfg.match_threshold, success_threshold=cfg.success_threshold
    )
    capped = S.cap_persisted_scores(scored, cfg.top_k)

    plan = capped._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    with open(out_path, "w") as f:
        f.write(plan)
    print(f"wrote {out_path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
