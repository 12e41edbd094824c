"""Benchmark of the streaming engine: one command, two workloads.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 12 --trace 0

Workloads (BENCHMARK.json says why each exists):

* ``stream``       one streaming query (kafka_spool -> from_json ->
  watermarked window -> KeyedUpsertSink). Catch-up phase: a 250 000-event
  backlog drained under ``maxOffsetsPerTrigger`` = 50 000, the last three
  triggers measured. Steady phase: open loop at 2 000 events/s, measured
  for the run's seconds after a settling time.
* ``batch_suite``  the 14 headline queries, closed loop, warm session.

End-to-end metrics (``--trace 0``), the same names on every workload:

* ``setup_s``          median of SETUP_REPS cold set-ups, each in a fresh
  process: import the program, start its Spark session (the JVM
  included) and prepare the workload (load the catalog, or define the
  pipeline and its sink). SETUP_REPS - 1 run in coldsetup.py before the
  run's own set-up. A cold set-up takes ~10 s, which keeps SETUP_REPS
  at two so a whole run stays near a minute.
* ``peak_rss_mb``      peak resident memory of the process tree (driver,
  JVM, Python workers; the load generator excluded), shared pages split
  between the processes sharing them (PSS).
* ``ok_frac``          share of attempted operations (events, queries)
  that completed and matched the oracle; 1 - failed/attempted.
* ``latency_p50_ms``   median latency of one unit of work: a steady-phase
  event (creation stamp -> its sink call returned) or a query (call ->
  pandas result).
* ``latency_tail_ms``  p99 for events, p60 for queries: the highest
  percentile with ten samples beyond it.
* ``throughput_per_s`` catch-up drain rate in events/s, or queries per
  second of suite time.

``--trace 1`` reports the per-layer metrics instead (PER_LAYER), records
spans from the benchmark's own calls into ``perfbench/.traces/`` and
repeats the work once at ``local[1]`` as the single-threaded baseline
(the catch-up phase alone; the suite's measured passes without a
warm-up pass).

The last line of stdout is the JSON result; everything above it is for
people. Exit code 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream", "batch_suite")
SETUP_REPS = 2
DEADLINE_S = 170

E2E = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("ok_frac", "share"),
    ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"), ("throughput_per_s", "1/s"),
]
_QUERY_TAGS = ("q01", "q04", "q11", "q14", "q21", "q27", "q34", "q39", "q40",
               "q50", "q81", "q84", "q88", "q94")
PER_LAYER = [
    ("sources.latest_offset_ms", "ms"), ("sources.lag_events", "count"),
    ("sources.rows_in", "count"),
    ("streaming.triggers", "count"), ("streaming.trigger_ms", "ms"),
    ("streaming.planning_ms", "ms"), ("streaming.wal_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.rows_per_trigger", "count"),
    ("streaming.children_share", "share"),
    ("state.rows_total", "count"), ("state.memory_mb", "MB"), ("state.commit_ms", "ms"),
    ("state.rows_updated", "count"), ("state.dropped_by_watermark", "count"),
    ("upsert.call_ms_p50", "ms"), ("upsert.call_ms_max", "ms"), ("upsert.call_share", "share"),
    ("upsert.versions", "count"), ("upsert.files_live", "count"),
    ("upsert.bytes_live_mb", "MB"), ("upsert.read_ms", "ms"),
    ("exchange.shuffle_read_mb", "MB"), ("exchange.shuffle_write_mb", "MB"),
    ("exec.run_ms", "ms"), ("exec.tasks", "count"), ("exec.jobs", "count"),
    ("catalog.load_ms", "ms"),
    *[(f"queries.{q}.{m}", u) for q in _QUERY_TAGS
      for m, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("tasks", "count"),
                   ("shuffle_mb", "MB"))],
    ("catchup.sources.latest_offset_ms", "ms"), ("catchup.streaming.trigger_ms", "ms"),
    ("catchup.streaming.add_batch_ms", "ms"), ("catchup.streaming.rows_per_trigger", "count"),
    ("catchup.state.commit_ms", "ms"), ("catchup.upsert.call_ms_p50", "ms"),
    ("catchup.upsert.call_share", "share"),
    ("loadgen.late_ms_max", "ms"),
    ("self.trigger_ms", "ms"), ("self.add_batch_ms", "ms"), ("self.sink_call_ms", "ms"),
    ("self.build_ms", "ms"), ("self.exec_ms", "ms"),
    ("baseline_1core.throughput_per_s", "1/s"), ("baseline_1core.speedup", "x"),
    ("trace.spans", "count"), ("trace.latency_p50_ms", "ms"),
    ("trace.throughput_per_s", "1/s"),
]
#: span name -> self-time metric
SELF_TIMES = {"trigger": "self.trigger_ms", "addBatch": "self.add_batch_ms",
              "sink_call": "self.sink_call_ms", "build": "self.build_ms",
              "exec": "self.exec_ms"}


def _configure_env(work: str) -> None:
    """Size Spark to this host before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1]) / 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # 2g (less on a small machine): the inputs are small and the host is
    # shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(2, int(mem_gb // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def make_workload(name: str, ctx):
    if name == "batch_suite":
        from batch import BatchSuite

        return BatchSuite(ctx)
    from streams import Stream

    return Stream(ctx)


def _baseline(name: str, ctx) -> float:
    """Throughput of a reduced run of the same workload at ``local[1]``."""
    from common import new_session

    if name == "batch_suite":
        from batch import BatchSuite

        # no warm-up pass: the JVM's code caches are already warm
        wl = BatchSuite(ctx, warmup=False)
    else:
        from streams import Stream

        wl = Stream(ctx, steady=False, catchup_triggers=1)
    from probes import Tracer

    # baseline spans would mix into the traced run's self times
    (seconds, tracer), (ctx.seconds, ctx.tracer) = (ctx.seconds, ctx.tracer), (0, Tracer(False))
    spark = new_session(ctx, master="local[1]")
    try:
        wl.setup(spark)
        res = wl.run()
        wl.close()
    finally:
        ctx.seconds, ctx.tracer = seconds, tracer
        spark.stop()
    return res.e2e["throughput_per_s"]


def _cold_setup(args, work: str) -> float:
    """Seconds of one set-up in a fresh process (coldsetup.py) that works
    in ``work``."""
    cmd = [sys.executable, os.path.join(HERE, "coldsetup.py"), args.workload,
           str(args.seed), work]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    if out.returncode != 0:
        raise RuntimeError(f"cold set-up failed:\n{out.stderr[-2000:]}")
    return float(out.stdout.splitlines()[-1])


def measure(args) -> dict:
    sys.path.insert(0, ROOT)
    from common import Ctx, timed_setup
    from probes import (CpuProbe, RssSampler, Tracer, adopt_orphans, calibration_spin,
                        host_facts, reap_children, shutdown_jvm)
    import stats

    adopt_orphans()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    ctx = Ctx(root=ROOT, work=work, seed=args.seed, seconds=float(args.seconds),
              tracer=Tracer(bool(args.trace)))
    diag = {"host": host_facts(), "calibration_s": [calibration_spin()]}
    probe = CpuProbe()
    spark = wl = None
    try:
        setups = [_cold_setup(args, os.path.join(work, f"cold-{i}"))
                  for i in range(SETUP_REPS - 1)]
        with RssSampler() as rss:
            rss.exclude = ctx.exclude_pids
            wl = make_workload(args.workload, ctx)
            with ctx.tracer.span("workload", workload=args.workload):
                with ctx.tracer.span("setup"):
                    spark, seconds = timed_setup(ctx, wl)
                    setups.append(seconds)
                res = wl.run()
            wl.close()
            wl = None
            baseline = None
            if args.trace:
                spark.stop()
                baseline = _baseline(args.workload, ctx)
        diag["peak_rss_by"] = {k: [n, round(mb)] for k, (n, mb) in rss.peak_by.items()}
        diag["calibration_s"].append(calibration_spin())
        diag.update(probe.cores())
    finally:
        if wl is not None:
            try:
                wl.close()
            except Exception as e:  # already failing; keep the first error
                print(f"close failed: {e}", file=sys.stderr)
        if spark is not None:
            spark.stop()
            shutdown_jvm()
        diag["processes_killed"] = reap_children()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": statistics.median(setups), "peak_rss_mb": rss.peak_mb,
           "ok_frac": 1.0 - res.failed / res.attempted, **res.e2e}
    diag.update(setup_reps_s=setups, **res.diagnostics)
    out = {"e2e": e2e, "named": res.named, "problems": res.problems, "diag": diag,
           "attempted": res.attempted, "failed": res.failed}
    if args.trace:
        self_ms = stats.self_times(ctx.tracer.spans)
        layers = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        layers.update(res.layers)
        for span, metric in SELF_TIMES.items():
            layers[metric] = self_ms.get(span, 0.0)
        if baseline:
            layers["baseline_1core.throughput_per_s"] = baseline
            layers["baseline_1core.speedup"] = e2e["throughput_per_s"] / baseline
        layers["trace.spans"] = float(len(ctx.tracer.spans))
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"]
        out["layers"] = layers
        path = os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(path)
        diag["trace_file"] = os.path.relpath(path, ROOT)
        diag["self_ms"] = {k: round(v, 1) for k, v in self_ms.items()}
    return out


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="streaming engine benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pandas_streaming_spark")):
        print("perfbench: the program (pandas_streaming_spark/) is not in this "
              "checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    out = measure(args)
    signal.alarm(0)

    units = dict(E2E + PER_LAYER)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace}")
    for k, v in out["diag"].items():
        print(f"  diag {k}: {json.dumps(v, default=str)}")
    for k, v in out["named"].items():
        print(f"  {k} = {v:.6g}")
    for k, v in out["e2e"].items():
        print(f"  {k} = {v:.6g} {units[k]}")
    for p in out["problems"]:
        print(f"  PROBLEM {p}")
    metrics = out["layers"] if args.trace else out["e2e"]
    result = {
        "correct": out["failed"] == 0 and not out["problems"],
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
