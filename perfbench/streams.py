"""``stream``: one streaming query driven by backlogs, then by an
open-loop load generator.

The pipeline is the streaming materialized-view shape: the kafka_spool
source, ``from_json``, a watermarked event-time tumbling window keyed by
(user, window) and a ``KeyedUpsertSink`` MERGE through ``foreachBatch``.

* catch-up phase: a backlog of (WARMUP_TRIGGERS + CATCHUP_TRIGGERS) x
  CATCHUP_CAP events is in the topic when the query starts, drained with
  ``processAllAvailable`` under a ``maxOffsetsPerTrigger`` cap. The first
  WARMUP_TRIGGERS triggers warm the query; the rest are measured as drain
  rate. Large triggers amortize fixed costs, so per-row work dominates.
* steady phase: the generator appends STEADY_RATE events/s on its own
  clock (open loop). Small micro-batches make per-trigger fixed costs the
  blocking steps; measured as event latency, creation stamp to the return
  of the sink call that made the event visible.

The load generator is a separate process (loadgen.py). The benchmark
reads only what the program reports through its public surface: the sink
call (wrapped here), the streaming progress reports, the status store and
the sink's ``read`` snapshot.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np

import loadgen
import oracle
import stats
from common import Ctx, Result
from probes import stage_totals

EVENT_SCHEMA = "event_id long, user_id long, event_time long, amount long"
WATERMARK = "5 seconds"
SINK_BUCKETS = 8
#: children of one trigger in the order a micro-batch runs them
TRIGGER_STEPS = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets")

STEADY_RATE = 2000.0     # events/s offered
#: events created earlier are not measured: they wait on the first steady
#: trigger, which traced runs show ~25 % slower than the ones after it
STEADY_WARMUP_S = 4.0
CATCHUP_CAP = 50_000     # maxOffsetsPerTrigger; far above a steady batch
WARMUP_TRIGGERS = 2      # capped triggers that warm the query, not measured
CATCHUP_TRIGGERS = 3     # capped triggers measured as the drain
#: per-layer metrics also reported for the catch-up phase, as catchup.*
CATCHUP_LAYERS = ("sources.latest_offset_ms", "streaming.trigger_ms",
                  "streaming.add_batch_ms", "streaming.rows_per_trigger",
                  "state.commit_ms", "upsert.call_ms_p50", "upsert.call_share")


class StreamPipeline:
    """The pipeline over a fresh spool, checkpoint and sink. Building it
    is set-up; :meth:`start` starts the query."""

    def __init__(self, ctx: Ctx, spark) -> None:
        from pyspark.sql import functions as F

        from pandas_streaming_spark import sources
        from pandas_streaming_spark.streaming.upsert import KeyedUpsertSink

        self.ctx, self.spark = ctx, spark
        self.spool = ctx.fresh("spool")
        os.makedirs(os.path.join(self.spool, loadgen.TOPIC))
        self.sink = KeyedUpsertSink(ctx.fresh("sink"), ["user_id", "window_start"],
                                    ["__seq"], num_buckets=SINK_BUCKETS)
        #: batch id -> (sink call start, sink call end), epoch seconds
        self.calls: dict[int, tuple[float, float]] = {}
        self.group = "perfbench-sink"
        raw = sources.kafka(spark, loadgen.TOPIC, "spool://" + self.spool,
                            maxOffsetsPerTrigger=str(CATCHUP_CAP))
        ev = (
            raw.select(F.from_json(F.col("value").cast("string"), EVENT_SCHEMA).alias("e"))
            .select("e.*")
            .withColumn("event_ts", F.timestamp_millis("event_time"))
        )
        self.view = (
            ev.withWatermark("event_ts", WATERMARK)
            .groupBy(
                F.window("event_ts", f"{oracle.WINDOW_MS // 1000} seconds")
                .getField("start").alias("window_start"),
                "user_id",
            )
            .agg(F.count("*").alias("n"), F.sum("amount").alias("amount"))
        )
        self.query = None

    def start(self) -> None:
        from pyspark.sql import functions as F

        sink, calls, sc, group = self.sink, self.calls, self.spark.sparkContext, self.group

        def on_batch(df, batch_id: int) -> None:
            sc.setJobGroup(group, f"sink batch {batch_id}")
            t0 = time.time()
            sink(df.withColumn("__seq", F.lit(batch_id)), batch_id)
            calls[batch_id] = (t0, time.time())

        self.query = (
            self.view.writeStream.outputMode("update")
            .foreachBatch(on_batch)
            .option("checkpointLocation", self.ctx.fresh("checkpoint"))
            .start()
        )

    def progress(self, upto_batch: int, timeout_s: float = 20.0) -> list[dict]:
        """Progress reports of every batch with data, up to ``upto_batch``
        (reports are published just after a batch commits)."""
        deadline = time.time() + timeout_s
        while True:
            reps = [json.loads(p.json) for p in self.query.recentProgress]
            if any(r["batchId"] >= upto_batch for r in reps) or time.time() > deadline:
                return [r for r in reps if r["numInputRows"] > 0]
            time.sleep(0.05)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()


def _offsets(v) -> dict:
    if isinstance(v, str):
        v = json.loads(v)
    return (v or {}).get(loadgen.TOPIC, {})


def _stamps_by_partition(ev, stamps_ms) -> dict[str, np.ndarray]:
    part = loadgen.partition_of(ev["user_id"])
    return {stats.partition_name(p): stamps_ms[part == p]
            for p in range(loadgen.PARTITIONS)}


def _start_generator(ctx: Ctx, *args: str) -> subprocess.Popen:
    env = dict(os.environ, PYTHONPATH=ctx.root)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
         "--spool", os.path.join(ctx.work, "spool"), "--seed", str(ctx.seed), *args],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
    )
    ctx.exclude_pids.add(gen.pid)
    return gen


def _read_line(gen: subprocess.Popen) -> dict:
    line = gen.stdout.readline()
    if not line:
        raise RuntimeError(f"load generator exited with code {gen.wait(timeout=10)}")
    return json.loads(line)


def _close_generator(gen: subprocess.Popen) -> None:
    if gen.stdin and not gen.stdin.closed:
        gen.stdin.close()
    try:
        gen.wait(timeout=15)
    except subprocess.TimeoutExpired:
        gen.kill()
        gen.wait(timeout=15)


def _trigger_layers(reps: list[dict], calls: dict, ctx: Ctx, phase: int | None) -> dict:
    """Per-layer metrics from progress reports and sink-call times; in a
    traced run also rebuilds trigger spans with their children."""
    dur = [r["durationMs"] for r in reps]
    trig = [d.get("triggerExecution", 0) for d in dur]
    ops = [r["stateOperators"][0] for r in reps if r.get("stateOperators")]
    call_ms = [(calls[r["batchId"]][1] - calls[r["batchId"]][0]) * 1000
               for r in reps if r["batchId"] in calls]
    children = [sum(d.get(k, 0) for k in TRIGGER_STEPS) for d in dur]
    for r, d in zip(reps, dur):
        if phase is None:
            break
        start = _epoch(r["timestamp"])
        tid = ctx.tracer.add("trigger", start, start + d.get("triggerExecution", 0) / 1000,
                             parent=phase, batch=r["batchId"])
        t = start
        for k in TRIGGER_STEPS:
            ms = d.get(k, 0)
            cid = ctx.tracer.add(k, t, t + ms / 1000, parent=tid)
            if k == "addBatch" and r["batchId"] in calls:
                a, b = calls[r["batchId"]]
                ctx.tracer.add("sink_call", a, b, parent=cid)
            t += ms / 1000

    def med(xs):
        return float(statistics.median(xs)) if xs else 0.0

    return {
        "sources.latest_offset_ms": med([d.get("latestOffset", 0) for d in dur]),
        "sources.rows_in": float(sum(r["numInputRows"] for r in reps)),
        "streaming.triggers": float(len(reps)),
        "streaming.trigger_ms": med(trig),
        "streaming.planning_ms": med([d.get("queryPlanning", 0) for d in dur]),
        "streaming.wal_ms": med([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "streaming.add_batch_ms": med([d.get("addBatch", 0) for d in dur]),
        "streaming.rows_per_trigger": med([r["numInputRows"] for r in reps]),
        "streaming.children_share": sum(children) / sum(trig) if sum(trig) else 0.0,
        "state.rows_total": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "state.memory_mb": max((o["memoryUsedBytes"] for o in ops), default=0) / 2**20,
        "state.commit_ms": med([o["commitTimeMs"] for o in ops]),
        "state.rows_updated": float(sum(o["numRowsUpdated"] for o in ops)),
        "upsert.call_ms_p50": med(call_ms),
        "upsert.call_ms_max": max(call_ms, default=0.0),
        "upsert.call_share": sum(call_ms) / sum(trig) if sum(trig) else 0.0,
    }


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _dropped(reps: list[dict]) -> int:
    return sum(op.get("numRowsDroppedByWatermark", 0)
               for r in reps for op in r.get("stateOperators", []))


class Stream:
    """The ``stream`` workload: catch-up phase, then steady phase, on one
    query. ``steady=False`` runs the catch-up phase alone (the
    single-threaded baseline)."""

    name = "stream"

    def __init__(self, ctx: Ctx, steady: bool = True,
                 catchup_triggers: int = CATCHUP_TRIGGERS) -> None:
        self.ctx = ctx
        self.steady = steady
        self.catchup_triggers = catchup_triggers
        self.pipe: StreamPipeline | None = None

    def setup(self, spark) -> None:
        self.pipe = StreamPipeline(self.ctx, spark)

    def close(self) -> None:
        if self.pipe is not None:
            self.pipe.stop()

    def _catchup_phase(self) -> dict:
        """Write the whole backlog, then start the query and drain it.

        The backlog is in the logs before the query starts: a backlog
        appended while the idle query polls can be seen half-written by
        one offset snapshot, which adds a small extra trigger at random."""
        ctx, pipe = self.ctx, self.pipe
        n = (WARMUP_TRIGGERS + self.catchup_triggers) * CATCHUP_CAP
        gen = _start_generator(ctx, "--mode", "backlog")
        try:
            gen.stdin.write(f"0 {n}\n")
            gen.stdin.flush()
            stamp = _read_line(gen)["stamp_ms"]
        finally:
            _close_generator(gen)
        with ctx.tracer.span("catchup") as phase:
            pipe.start()
            pipe.query.processAllAvailable()
        return {"phase": phase, "n": n, "stamps": np.full(n, stamp, dtype=np.int64)}

    def _steady_phase(self, first: int) -> dict:
        ctx, pipe = self.ctx, self.pipe
        duration = STEADY_WARMUP_S + ctx.seconds
        with ctx.tracer.span("steady") as phase:
            gen = _start_generator(ctx, "--mode", "steady", "--rate", str(STEADY_RATE),
                                   "--duration", str(duration), "--first", str(first))
            try:
                start_ms = _read_line(gen)["start_ms"]
                done = _read_line(gen)
            finally:
                _close_generator(gen)
            pipe.query.processAllAvailable()
        n = done["written"]
        return {"phase": phase, "n": n, "late_ms_max": done["late_ms_max"],
                "start_ms": start_ms,
                "stamps": loadgen.steady_stamps(start_ms, STEADY_RATE, 0, n),
                "win": (start_ms + STEADY_WARMUP_S * 1000, start_ms + duration * 1000)}

    def run(self) -> Result:
        ctx, pipe = self.ctx, self.pipe
        cu = self._catchup_phase()
        first_steady = max(pipe.calls) + 1
        st = self._steady_phase(cu["n"]) if self.steady else None
        reps = pipe.progress(max(pipe.calls))
        visible = {r["batchId"]: pipe.calls[r["batchId"]][1] * 1000 for r in reps}
        written = cu["n"] + (st["n"] if st else 0)
        creation = np.concatenate([cu["stamps"], *([st["stamps"]] if st else [])])
        ev = loadgen.EventStream(ctx.seed).slice(0, written)
        layers, named, diag = {}, {}, {}

        # catch-up: the capped triggers after the warm-up ones, from the
        # return of the last warm-up sink call to the return of the last
        # catch-up sink call
        cu_all = [r for r in reps if r["batchId"] < first_steady]
        warm, cu_reps = cu_all[:WARMUP_TRIGGERS], cu_all[WARMUP_TRIGGERS:]
        drain_s = (visible[cu_reps[-1]["batchId"]] - visible[warm[-1]["batchId"]]) / 1000
        drain_rate = sum(r["numInputRows"] for r in cu_reps) / drain_s
        named["drain_events_per_s"] = drain_rate
        diag["catchup_trigger_rows"] = [r["numInputRows"] for r in cu_all]
        e2e = {}
        if st:
            # steady: latency of the events created inside the window
            win_lo, win_hi = st["win"]
            steady_only = np.full(written, -1, dtype=np.int64)
            steady_only[cu["n"]:] = st["stamps"]
            batches = [(_offsets(r["sources"][0]["startOffset"]),
                        _offsets(r["sources"][0]["endOffset"]), visible[r["batchId"]])
                       for r in reps]
            lat = stats.event_latencies(batches, _stamps_by_partition(ev, steady_only),
                                        win_lo, win_hi)
            st_reps = [r for r in reps if r["batchId"] >= first_steady]
            in_win = [r for r in st_reps if win_lo <= visible[r["batchId"]] <= win_hi]
            # commit rate between the first and the last commit in the window;
            # backlog after each commit = offered by then minus committed
            cum, commits = 0, []
            for r in st_reps:
                cum += r["numInputRows"]
                vis = visible[r["batchId"]]
                if win_lo <= vis <= win_hi:
                    offered = min((vis - st["start_ms"]) * STEADY_RATE / 1000, st["n"])
                    commits.append((vis, cum, offered - cum))
            rate = ((commits[-1][1] - commits[0][1]) / ((commits[-1][0] - commits[0][0]) / 1000)
                    if len(commits) >= 2 and commits[-1][0] > commits[0][0] else 0.0)
            named["keepup_ratio"] = rate / STEADY_RATE
            layers = _trigger_layers(in_win, pipe.calls, ctx, st["phase"])
            layers["sources.lag_events"] = (float(statistics.median(c[2] for c in commits))
                                            if commits else 0.0)
            layers["loadgen.late_ms_max"] = float(st["late_ms_max"])
            e2e = {"latency_p50_ms": stats.percentile(lat, 50),
                   "latency_tail_ms": stats.tail_percentile(lat, 99)}
            named["event_latency_p50_ms"] = e2e["latency_p50_ms"]
            named["event_latency_p99_ms"] = e2e["latency_tail_ms"]
            diag.update(steady_latency_samples=int(len(lat)), steady_triggers=len(in_win),
                        steady_late_ms_max=st["late_ms_max"])
        e2e["throughput_per_s"] = drain_rate
        cu_layers = _trigger_layers(cu_reps, pipe.calls, ctx, cu["phase"])
        for k in CATCHUP_LAYERS:
            layers[f"catchup.{k}"] = cu_layers[k]
        return self._finish(ev, creation, reps, written, e2e, layers, named, diag)

    def _finish(self, ev, creation, reps, written, e2e, layers, named, diag) -> Result:
        """Oracle check, sink size, stage totals, and the result record."""
        ctx, pipe, spark = self.ctx, self.pipe, self.pipe.spark
        rows_in = sum(r["numInputRows"] for r in reps)
        dropped = _dropped(reps)
        with ctx.tracer.span("oracle"):
            t0 = time.perf_counter()
            snap = pipe.sink.read(spark)
            got = snap.toPandas()
            read_ms = (time.perf_counter() - t0) * 1000
            files = snap.inputFiles()
            failed, problems = oracle.check_stream(
                oracle.expected_view(ev, creation), oracle.sink_view(got),
                written, rows_in, dropped)
        layers.update({
            "state.dropped_by_watermark": float(dropped),
            "upsert.versions": float(len(pipe.sink.versions())),
            "upsert.files_live": float(len(files)),
            "upsert.bytes_live_mb": sum(os.path.getsize(f.removeprefix("file:"))
                                        for f in files) / 2**20,
            "upsert.read_ms": read_ms,
        })
        for k, v in stage_totals(spark, [str(pipe.query.runId), pipe.group]).items():
            layers[f"exchange.{k}" if "shuffle" in k else f"exec.{k}"] = v
        diag.update(events_written=written, sink_rows=int(len(got)))
        return Result(attempted=written, failed=failed, e2e=e2e, layers=layers,
                      named=named, problems=problems, diagnostics=diag)
