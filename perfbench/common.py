"""What every workload shares: the run context, the result record, the
Spark session factory call and the timed set-up."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from probes import Tracer


@dataclass
class Ctx:
    root: str        # checkout root; the program is imported from here
    work: str        # this run's scratch directory, removed at exit
    seed: int
    seconds: float
    tracer: Tracer
    exclude_pids: set = field(default_factory=set)  # load generator

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


@dataclass
class Result:
    attempted: int
    failed: int
    #: end-to-end metrics of this workload (generic names, see run.py)
    e2e: dict[str, float]
    #: per-layer metrics this workload measures; the rest read 0
    layers: dict[str, float]
    #: workload-specific names printed for people (event_latency_p50_ms, ...)
    named: dict[str, float] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)
    diagnostics: dict = field(default_factory=dict)


def new_session(ctx: Ctx, master: str | None = None):
    """The program's tuned session, pointed at the run's scratch space."""
    from pandas_streaming_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            # JVM scratch files stay inside the run's directory too
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setup(ctx: Ctx, wl):
    """Start the session and prepare workload ``wl``: (session, seconds).
    In a fresh process this is a cold start, the JVM included."""
    t0 = time.perf_counter()
    spark = new_session(ctx)
    wl.setup(spark)
    return spark, time.perf_counter() - t0
