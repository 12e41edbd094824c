"""One cold set-up, timed in a fresh process: import the program, start
its Spark session (the JVM included) and prepare the workload. run.py
starts SETUP_REPS - 1 of these before its own set-up, so ``setup_s`` is
a median of cold starts.

    python3 perfbench/coldsetup.py <workload> <seed> <scratch dir>

Expects the environment run.py sets up; prints the seconds as its last
line.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from common import Ctx, timed_setup  # noqa: E402
from probes import Tracer, shutdown_jvm  # noqa: E402
from run import ROOT, make_workload  # noqa: E402


def main(argv: list[str]) -> int:
    workload, seed, work = argv[0], int(argv[1]), argv[2]
    os.makedirs(work)
    ctx = Ctx(root=ROOT, work=work, seed=seed, seconds=0.0, tracer=Tracer(False))
    spark, seconds = timed_setup(ctx, make_workload(workload, ctx))
    spark.stop()
    shutdown_jvm()
    print(seconds)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
