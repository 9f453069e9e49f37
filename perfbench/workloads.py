"""The benchmark's workloads, driven only through the program's public
entry points: ``ReconPipeline`` (its ``run`` and stage methods),
``IncrementalRecon`` and ``plans.review``.

A run is one batch reconciliation job in a fresh Spark application, the
way a batch job is submitted: the session starts, the seeded inputs are
written to parquet, and one ``ReconPipeline.run`` reconciles them — the
timed part. Its outputs are checked against the driver-side references in
:mod:`reference`; a failed check marks the operation failed.

With tracing on, a traced pass takes the timed part's place: the same job
run stage by stage with every layer's output materialized, a reviewer's
seeded ``review_page`` and ``job_status`` reads, and
``IncrementalRecon.ingest_batch`` calls of two delta batches with the state
reads after each and a compaction. Spans around each public call, with
counts from ``stage_rows``, ``scoring_stats`` and the stage tables, give the
per-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import procfs, reference
from .tracing import Tracer, self_times

TURNS_PER_CONV = 16
REVIEW_READS = 6  # review_page reads of the traced run
STATUS_EVERY = 3  # one job_status read after every third review read
PER_PAGE = 50
TOP_K = 10
SUCCESS_THRESHOLD = 0.5
MIN_F1 = 0.99
# the stage methods the traced run calls one at a time
STAGES = ("entities", "entities_distinct", "blocking", "scoring", "clusters", "best_matches")


# each of the delta batches the traced pass ingests: new pool entities plus
# some the main input already holds
DELTA = {
    "delta_batches": 2,
    "delta_new_entities": 5,
    "delta_seen_entities": 3,
    "delta_conversations": 150,
}

# input sizes per workload; why each exists is in BENCHMARK.json, what each
# metric means in README.md
WORKLOADS = {
    "batch_dense": {"entities": 700, "conversations": 1400, "mention_every": 3, **DELTA},
    "batch_sparse": {"entities": 30, "conversations": 4000, "mention_every": 9, **DELTA},
}


@dataclass
class Run:
    """One benchmark run: the Spark session, its work dir, the clocks and
    the operation/failure tally."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)

    def op(self, fn, *args):
        """Time one operation; returns (result, seconds net of steal). An
        operation that raises counts as failed and returns None."""
        self.attempted += 1
        clock = procfs.NetClock()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 - any raise is a failed operation
            self.failures.append(f"{getattr(fn, '__name__', 'operation')} raised {e!r}")
            out = None
        return out, clock.elapsed()

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok


# -- inputs --------------------------------------------------------------------


def write_inputs(run: Run, transcripts: dict, pool) -> tuple[dict, object]:
    """Write each transcript table (name → (variants, conversations,
    mention_every)) and the dictionary to parquet with the program's own
    fixture generators, and hand the program read-backs of the files."""
    from metadata_reconciliation_tool_spark.fixtures import gen_dictionary, gen_transcripts

    spark = run.spark

    def saved(df, name):
        path = os.path.join(run.work, "input", name)
        df.write.parquet(path)
        return spark.read.parquet(path)

    frames = {
        name: saved(gen_transcripts(spark, variants, convs, TURNS_PER_CONV, every), name)
        for name, (variants, convs, every) in transcripts.items()
    }
    return frames, saved(gen_dictionary(spark, pool), "dictionary")


def truth_of(variants) -> dict[str, str]:
    return {v.key: f"Q{v.entity_id + 1000}" for v in variants}


def labeled_rows(pool, variants) -> list[tuple[str, str, bool]]:
    from metadata_reconciliation_tool_spark.fixtures import build_labeled_pairs

    lp = build_labeled_pairs(pool, variants)
    return list(zip(lp["left_key"], lp["right_key"], lp["is_match"].astype(bool)))


# -- reads and checks -------------------------------------------------------------


def dict_rows_of(dict_scores) -> list[tuple[str, str, float]]:
    return [
        (r[0], r[1], r[2])
        for r in dict_scores.select("left_key", "right_key", "score").collect()
    ]


def review_round(
    run: Run,
    dict_scores,
    min_reads: int,
    min_seconds: float = 0.0,
    tracer: Tracer | None = None,
):
    """Seeded review_page reads, with a job_status read after every third,
    one at a time, until at least ``min_reads`` reads and ``min_seconds`` of
    reading are done. Each read is timed, then checked against the
    references. Returns the read times and the dictionary rows read."""
    from metadata_reconciliation_tool_spark.plans import review

    tr = tracer or Tracer(enabled=False)
    rows = dict_rows_of(dict_scores)
    n_pages = max(1, math.ceil(len({r[0] for r in rows}) / PER_PAGE))
    rng = random.Random(run.seed)
    pages, status = [], []
    spent = 0.0
    while len(pages) < min_reads or spent < min_seconds:
        page = rng.randint(1, n_pages)
        with tr.span("review_page", page=page):
            got, dt = run.op(
                lambda p=page: review.review_page(
                    dict_scores, page=p, per_page=PER_PAGE, top_k_matches=TOP_K
                ).collect()
            )
        pages.append((page, got, dt))
        spent += dt
        if len(pages) % STATUS_EVERY == 0:
            with tr.span("job_status"):
                got, dt = run.op(lambda: review.job_status(dict_scores).collect())
            status.append((got, dt))
            spent += dt
    for page, got, _ in pages:
        if got is None:
            continue  # raised: already counted as failed
        want = reference.review_page(rows, page, PER_PAGE, TOP_K)
        have = [
            (r["left_key"], r["highest_confidence"], [m["match_id"] for m in r["matches"]])
            for r in got
        ]
        run.check(have == want, f"review_page {page} differs from the reference")
    want_total, want_ok = reference.job_status(rows, SUCCESS_THRESHOLD)
    for got, _ in status:
        if got is None:
            continue
        r = got[0]
        run.check(
            (r["total_entities"], r["successful_matches"]) == (want_total, want_ok),
            "job_status differs from the reference",
        )
    return [dt for _, _, dt in pages], [dt for _, dt in status], rows


def check_state(
    run: Run,
    entity_keys: list[str],
    self_edges: list[tuple[str, str]],
    clusters: list[tuple[str, str]],
    best: list[tuple[str, str | None, float | None]],
    dict_rows: list[tuple[str, str, float]],
    labeled: list[tuple[str, str, bool]],
    truth: dict[str, str],
) -> tuple[float, float]:
    """Check a reconciled state against the references; returns (F1,
    best-match accuracy)."""
    want_clusters = reference.union_find_clusters(entity_keys, self_edges)
    got_clusters = dict(clusters)
    run.check(
        len(got_clusters) == len(clusters) and got_clusters == want_clusters,
        f"clusters differ from the union-find reference on "
        f"{sum(1 for k in want_clusters if got_clusters.get(k) != want_clusters[k])} ids",
    )
    want_best = reference.best_rank1(dict_rows, SUCCESS_THRESHOLD)
    got_best = {k: (r, s) for k, r, s in best}
    run.check(
        len(got_best) == len(best)
        and set(got_best) == set(entity_keys)
        and all(
            got_best[k] == want_best.get(k, (None, None)) for k in got_best
        ),
        "best matches differ from the rank-1 reference",
    )
    present = set(entity_keys)
    f1, tp, fp, fn = reference.pair_f1(
        [(a, b, m) for a, b, m in labeled if a in present and b in present],
        set(self_edges),
    )
    run.check(f1 >= MIN_F1, f"match F1 {f1:.5f} below {MIN_F1} (tp/fp/fn {tp}/{fp}/{fn})")
    accuracy = reference.best_match_accuracy(
        {k: r for k, (r, _) in got_best.items()}, truth
    )
    return f1, accuracy


def collect_pipeline_outputs(out: dict):
    """The run's distinct entity keys (from its entities stage), best
    matches, is_match self edges and cluster rows."""
    keys = [r[0] for r in out["entities"].select("entity_key").distinct().collect()]
    best = [
        (r[0], r[1], r[2])
        for r in out["best"].select("entity_key", "right_key", "score").collect()
    ]
    edges = [
        (r[0], r[1])
        for r in out["self_scores"].filter("is_match").select("left_key", "right_key").collect()
    ]
    clusters = [(r[0], r[1]) for r in out["clusters"].select("entity_key", "cluster_id").collect()]
    return keys, best, edges, clusters


# -- shared pieces ---------------------------------------------------------------


def recon_config(run: Run, job: str, **kw):
    from metadata_reconciliation_tool_spark.plans.pipeline import ReconConfig

    kw.setdefault("collect_metrics", False)
    return ReconConfig(
        job_id=job, work_dir=os.path.join(run.work, "jobs"), force=True, **kw
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def staged_pipeline(run: Run, job: str, tx, dictionary, labeled) -> dict:
    """A traced full run, one stage method at a time, with the entity and
    blocking stages checkpointed so every layer's output is materialized at
    its boundary. A final resume ``run`` (force=False) reads every stage
    back and records the job config, exactly as a plain run leaves it."""
    from pyspark.sql import functions as F

    from metadata_reconciliation_tool_spark.plans.pipeline import ReconPipeline

    tr = run.tracer
    cfg = recon_config(
        run, job, checkpoint_entities=True, checkpoint_blocking=True, collect_metrics=True
    )
    pipe = ReconPipeline(run.spark, cfg)
    with tr.span("recon_staged") as root:
        with tr.span("entities"):
            ents = pipe.entities(tx)
        with tr.span("entities_distinct"):
            distinct = pipe.entities_distinct(ents)
        with tr.span("blocking"):
            pairs = pipe.blocking(distinct, dictionary)
        with tr.span("scoring"):
            scores = pipe.scoring(distinct, dictionary, pairs)
        dict_scores = scores.filter(F.col("pair_kind") == "dict")
        with tr.span("clusters"):
            pipe.clusters(distinct, scores)
        with tr.span("best_matches"):
            pipe.best_matches(distinct, dictionary, dict_scores)
        with tr.span("flush_metrics"):
            pipe.flush_metrics()
        cfg.force = False
        with tr.span("resume_run"):
            out = ReconPipeline(run.spark, cfg).run(tx, dictionary)

    # layer counts, read after the pass so they stay out of its spans
    L = run.layer
    rows, stats = pipe.stage_rows, pipe.scoring_stats
    L["extract.wall_s"] = tr.total("entities") + tr.total("entities_distinct")
    L["extract.mentions"] = rows["entities"]
    L["extract.distinct_entities"] = rows["entities_distinct"]
    L["extract.dedup_ratio"] = rows["entities"] / max(rows["entities_distinct"], 1)
    kinds = {r[0]: r[1] for r in pairs.groupBy("pair_kind").count().collect()}
    L["blocking.wall_s"] = tr.total("blocking")
    L["blocking.dict_pairs"] = kinds.get("dict", 0)
    L["blocking.self_pairs"] = kinds.get("self", 0)
    L["blocking.pairs_per_entity"] = sum(kinds.values()) / max(rows["entities_distinct"], 1)
    self_pairs = {
        (r[0], r[1])
        for r in pairs.filter(F.col("pair_kind") == "self").select("left_key", "right_key").collect()
    }
    L["blocking.positive_recall"] = reference.positive_recall(labeled, self_pairs)
    metrics = run.spark.read.parquet(os.path.join(cfg.work_dir, "job_metrics"))
    dropped = metrics.filter(
        (F.col("job_id") == job) & (F.col("metric") == "oversized_blocks_dropped")
    ).collect()
    L["blocking.oversized_blocks_dropped"] = sum(r["value"] for r in dropped)
    (sc,) = tr.find("scoring")
    L["scoring.wall_s"] = sc.net
    L["scoring.scored_pairs"] = stats["scored_pairs"]
    L["scoring.pruned_pairs"] = stats["pruned_pairs"]
    L["scoring.kernel_pairs"] = stats["scored_pairs"] - stats["pruned_pairs"]
    L["scoring.prune_ratio"] = stats["pruned_pairs"] / max(stats["scored_pairs"], 1)
    L["scoring.persisted_rows"] = stats["persisted_rows"]
    keys, best_rows, edges, cluster_rows = collect_pipeline_outputs(out)
    L["scoring.match_pairs"] = len(edges)
    L["scoring.python_cpu_s"] = sc.cpu["python_workers"]
    # shares of the stage spans' time: extraction (entities, distinct) and
    # candidate generation plus pair scoring (blocking, scoring: one stage in
    # a plain run, which computes blocking lazily)
    stages = sum(tr.total(s) for s in STAGES)
    L["extract.stage_share"] = L["extract.wall_s"] / stages
    L["scoring.stage_share"] = (L["blocking.wall_s"] + sc.net) / stages
    L["clustering.wall_s"] = tr.total("clusters")
    L["clustering.match_edges"] = len(edges)
    L["clustering.clusters"] = len({c for _, c in cluster_rows})
    L["best.wall_s"] = tr.total("best_matches")
    L["best.rows"] = rows["best"]
    L["best.matched"] = sum(1 for _, r, _ in best_rows if r is not None)
    L["jvm.cpu_s"] = root.cpu["jvm"]
    L["python_workers.cpu_s"] = root.cpu["python_workers"]
    return {
        "pipe": pipe,
        "root_self_s": self_times(tr.spans)[root.span_id],
        "out": out,
        "keys": keys,
        "best": best_rows,
        "edges": edges,
        "clusters": cluster_rows,
        "job_dir": os.path.join(cfg.work_dir, job),
    }


def traced_reads(run: Run, dict_scores) -> None:
    tr = run.tracer
    with tr.span("reads"):
        review_s, status_s, rows = review_round(run, dict_scores, REVIEW_READS, tracer=tr)
    run.layer["review.page_s"] = statistics.median(review_s)
    run.layer["review.status_s"] = statistics.median(status_s)
    run.layer["review.dict_rows"] = len(rows)


def traced_ingest(run: Run, inc, batches: list, dictionary) -> None:
    """Traced ingests, each followed by the state reads a reviewer makes,
    then an explicit compaction, which must leave the state's counts
    unchanged."""
    tr = run.tracer
    new_entities = []
    for batch in batches:
        with tr.span("ingest_batch"):
            res, _ = run.op(inc.ingest_batch, batch, dictionary)
        if res is None:
            raise RuntimeError(run.failures[-1])
        new_entities.append(res["new_entities"].count())
        with tr.span("best_matches_count"):
            n_best = inc.best_matches().count()
        with tr.span("clusters_state_count"):
            n_clusters = inc.clusters_state().count()

    def counts():
        return (
            inc._read_state("entities_distinct").count(),
            inc._read_state("scoring").count(),
            inc.best_matches().count(),
            inc.clusters_state().count(),
        )

    before = counts()
    run.check(before[2:] == (n_best, n_clusters), "state counts moved between reads")
    with tr.span("compact"):
        inc.compact()
    run.check(counts() == before, "compaction changed the incremental state's counts")
    live = inc.committed_batches()
    L = run.layer
    L["incremental.ingest_s"] = statistics.median(s.net for s in tr.find("ingest_batch"))
    L["incremental.new_entities"] = statistics.median(new_entities)
    L["incremental.state_read_s"] = statistics.median(
        a.net + b.net
        for a, b in zip(tr.find("best_matches_count"), tr.find("clusters_state_count"))
    )
    L["incremental.compactions"] = sum(1 for b in live if b.startswith("compact"))
    L["sources.live_batch_dirs"] = len(live)


def batch(run: Run, workload: str, session_s: float) -> dict[str, float]:
    """One batch workload run; returns the end-to-end metrics, and with
    tracing on fills ``run.layer`` with the per-layer ones."""
    from metadata_reconciliation_tool_spark.fixtures import build_variants, entity_pool
    from metadata_reconciliation_tool_spark.plans.pipeline import ReconPipeline

    z = WORKLOADS[workload]
    spark, tr = run.spark, run.tracer
    clock = procfs.NetClock()
    n, nb = z["entities"], z["delta_batches"]
    nn, ns = z["delta_new_entities"], z["delta_seen_entities"]
    pool = entity_pool(n + nb * nn, run.seed)
    main_pool = pool[:n]
    v_main = build_variants(main_pool)
    tables = {"main": (v_main, z["conversations"], z["mention_every"])}
    for i in range(nb if tr.enabled else 0):  # only the traced pass ingests
        batch_pool = pool[n + i * nn : n + (i + 1) * nn] + main_pool[i * ns : (i + 1) * ns]
        tables[f"delta{i}"] = (
            build_variants(batch_pool), z["delta_conversations"], z["mention_every"]
        )
    with tr.span("generate_inputs"):
        inputs, dictionary = write_inputs(run, tables, pool)
    tx = inputs["main"]
    labeled = labeled_rows(main_pool, v_main)
    truth = truth_of(v_main)
    setup_s = session_s + clock.elapsed()
    turns = z["conversations"] * TURNS_PER_CONV

    if tr.enabled:
        # the traced pass replaces the timed part: it is the application's
        # first run too, so its spans split the cold run recon_wall_s times
        traced_pass(run, workload, inputs, dictionary, labeled, truth)
        run.layer["extract.turns"] = turns
        return {}

    # the timed part: the application's first run, then the reviewer's reads
    pipe = ReconPipeline(spark, recon_config(run, "run"))
    cpu0, t = procfs.tree_cpu(), time.monotonic()
    out, recon_s = run.op(pipe.run, tx, dictionary)
    if out is None:  # nothing to measure or check: the run ends without a result
        raise RuntimeError(run.failures[-1])
    run.samples["recon_raw_wall_s"] = [time.monotonic() - t]
    cpu_s = procfs.cpu_delta(cpu0, procfs.tree_cpu())["total"]
    rss_mb = procfs.tree_peak_rss_mb()
    # the job outlasts --seconds on a 4-core host; on a faster one the
    # reviewer reads its results until the timed length is reached (the
    # reads are checked, their times only reported in the summary lines)
    review_s, status_s, dict_rows = review_round(
        run, out["dict_scores"], 0, run.seconds - recon_s
    )
    for name, values in (("recon_s", [recon_s]), ("review_s", review_s), ("status_s", status_s)):
        if values:
            run.samples[name] = values

    keys, best, edges, clusters = collect_pipeline_outputs(out)
    f1, accuracy = check_state(run, keys, edges, clusters, best, dict_rows, labeled, truth)
    check_counts(run, workload, pipe.scoring_stats)
    return {
        "setup_s": setup_s,
        "recon_wall_s": recon_s,
        "turns_per_s": turns / recon_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": rss_mb,
        "match_f1": f1,
        "best_match_accuracy": accuracy,
    }


def code_version() -> str:
    """Hash of the program's and the benchmark's source files."""
    import metadata_reconciliation_tool_spark as program

    h = hashlib.sha256()
    for pkg in (Path(program.__file__).parent, Path(__file__).parent):
        for f in sorted(pkg.rglob("*.py")):
            h.update(f"{pkg.name}/{f.relative_to(pkg)}".encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def check_counts(run: Run, workload: str, stats: dict) -> None:
    """Scored, pruned and persisted pair counts must be identical across
    runs of the same code: each run compares them with those the first run
    of the same code version, workload, sizes and seed recorded in this
    checkout. A change to the program starts a fresh record, so a change
    that legitimately moves the counts is not marked wrong."""
    path = os.path.join(os.path.dirname(run.work), "scoring_counts.json")
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    sizes = ",".join(f"{k}={v}" for k, v in sorted(WORKLOADS[workload].items()))
    key = f"{code_version()}/{workload}/{sizes}/{run.seed}"
    if key in known:
        run.check(
            known[key] == stats,
            f"scoring counts {stats} differ from an earlier run's {known[key]}",
        )
    else:
        known[key] = stats
        with open(path, "w") as fh:
            json.dump(known, fh)


def traced_pass(run: Run, workload: str, inputs, dictionary, labeled, truth) -> None:
    """The traced run: the job stage by stage, the review reads, then the
    delta-batch ingests with the state reads and compaction after them."""
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon

    staged = staged_pipeline(run, "traced", inputs["main"], dictionary, labeled)
    check_state(
        run, staged["keys"], staged["edges"], staged["clusters"],
        staged["best"], dict_rows_of(staged["out"]["dict_scores"]), labeled, truth,
    )
    check_counts(run, workload, staged["pipe"].scoring_stats)
    run.layer["sources.stage_bytes"] = dir_bytes(staged["job_dir"])
    traced_reads(run, staged["out"]["dict_scores"])
    inc = IncrementalRecon(run.spark, os.path.join(run.work, "jobs"), "traced")
    batches = [inputs[f"delta{i}"] for i in range(WORKLOADS[workload]["delta_batches"])]
    traced_ingest(run, inc, batches, dictionary)
    run.layer["trace.overhead_s"] = run.tracer.overhead_s
    run.layer["trace.root_self_s"] = staged["root_self_s"]
    run.layer["trace.spans"] = len(run.tracer.spans)
