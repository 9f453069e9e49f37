"""Reconciliation benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch_dense --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, on ``local[<cores>]`` with as many
shuffle partitions as cores, in one driver process. Everything it writes
(Spark work dirs, shuffle files, JVM and Python temp files) stays under
``.perfbench_work/`` in the checkout; the per-run directory is removed at
the end, a JSON report is kept under ``.perfbench_work/reports/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run adds a traced
pass and prints the per-layer ones instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

# run as a script: make the checkout root (the program and this package)
# importable
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import procfs  # noqa: E402
from perfbench.stats import reportable_percentile, summarize  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Run, batch  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SPEC = ROOT / "BENCHMARK.json"  # the metrics' names and units
DRIVER_MEM_GB = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """The driver heap, kept to a quarter of physical memory at most (the
    session's own default is sized for a large host)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(DRIVER_MEM_GB, total_kb // (4 * 1024 * 1024)))}g"


def configure_env(work: Path, n: int) -> None:
    """Size the session to the host and keep every file it writes in
    ``work``. PYTHONPATH lets the Python UDF workers import the package
    whatever their working directory."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_GRAFT_LOCAL_DIR=str(local),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = str(tmp)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched, and wait for every
    process the run started (the JVM's Python daemon and workers too)."""
    started = set(procfs.tree_pids(os.getpid())) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        started = wait_gone(started, 30)
        for pid in started:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(started, 10)


def wait_gone(pids: set[int], seconds: float) -> set[int]:
    """Wait up to ``seconds`` for ``pids`` to exit; returns those left."""
    deadline = time.monotonic() + seconds
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    return pids


def execute(args, work: Path) -> dict:
    n = cores()
    configure_env(work, n)
    # fails (and ends the run without a result) where the program is absent
    from metadata_reconciliation_tool_spark.session import build_session

    tracer = Tracer(enabled=bool(args.trace))
    load0, steal0 = procfs.loadavg_1m(), procfs.steal_s()
    clock = procfs.NetClock()
    with tracer.span("session_start"):
        spark = build_session(
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    session_s = clock.elapsed()
    run = Run(spark, str(work), args.seed, args.seconds, tracer)
    run.layer["session.start_s"] = session_s
    try:
        metrics = batch(run, args.workload, session_s)
    finally:
        stop_spark(spark)
    return {
        "run": run,
        "metrics": metrics,
        "cores": n,
        "loadavg_1m": [load0, procfs.loadavg_1m()],
        "steal_s": procfs.steal_s() - steal0,
    }


def report(args, res: dict) -> dict:
    run: Run = res["run"]
    spec = json.loads(SPEC.read_text())
    values = run.layer if args.trace else res["metrics"]
    chosen = {
        m["name"]: (values[m["name"]], m["unit"])
        for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    print(
        f"workload={args.workload} seed={args.seed} cores={res['cores']} "
        f"loadavg_1m start/end={res['loadavg_1m'][0]:.2f}/{res['loadavg_1m'][1]:.2f} "
        f"steal_s={res['steal_s']:.2f}"
    )
    for name, values in sorted(run.samples.items()):
        s = summarize(values)
        print(
            f"  {name:<22} median={s['median']:.4f} p25={s['p25']:.4f} "
            f"p75={s['p75']:.4f} n={s['n']} "
            f"highest_reportable_percentile={reportable_percentile(s['n'])}"
        )
    if args.trace:
        for row in run.tracer.to_rows():
            print(
                f"  span {row['span_id']:>3} parent={row['parent']!s:>4} "
                f"{row['name']:<22} start={row['start']:9.3f} "
                f"dur={row['duration_s']:8.3f} net={row['net_s']:8.3f} "
                f"self={row['self_s']:8.3f} "
                f"jvm_cpu={row['cpu'].get('jvm', 0):7.2f} "
                f"py_cpu={row['cpu'].get('python_workers', 0):7.2f}"
            )
    for f in run.failures:
        print(f"  CHECK FAILED: {f}")
    out_dir = ROOT / ".perfbench_work" / "reports"
    out_dir.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(out_dir / name, "w") as fh:
        json.dump(
            {
                "args": vars(args),
                "cores": res["cores"],
                "loadavg_1m": res["loadavg_1m"],
                "steal_s": res["steal_s"],
                "sizes": WORKLOADS[args.workload],
                "metrics": {k: v for k, (v, _) in chosen.items()},
                "samples": {k: summarize(v) for k, v in run.samples.items()},
                "layer": run.layer,
                "spans": run.tracer.to_rows(),
                "failures": run.failures,
            },
            fh,
            indent=1,
        )
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": min(len(run.failures), run.attempted),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(args, res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
