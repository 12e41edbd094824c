"""``batch_suite``: the 14 headline queries over seeded tables, closed
loop, one client, warm session.

One cold pass warms the session; then passes run in a seeded order as
long as another pass, as long as the last one, still fits in the run's
seconds (at least MIN_PASSES). Each query is timed
from the builder call to the collected pandas result; its result is
checked against the duckdb oracle outside the timed section.
"""

from __future__ import annotations

import random
import statistics
import time

import stats
import tables
from common import Ctx, Result
from probes import stage_totals

#: the headline set the repository's own bench.py times
HEADLINE = [
    "q01_pricing_summary", "q04_star_join_revenue", "q11_asof_join",
    "q14_count_distinct", "q21_topk_per_group", "q27_global_topk",
    "q34_date_trunc_tumbling", "q39_similarity_topk", "q40_top_tokens",
    "q50_lsh_candidate_pairs", "q81_tfidf", "q84_chunk_documents",
    "q88_salted_hot_key", "q94_funnel",
]
#: 2 passes x 14 queries = 28 samples, which leave 11.2 beyond p60; the
#: ten-samples-beyond rule allows no higher percentile
MIN_PASSES = 2
TAIL_Q = 60.0


def short(q: str) -> str:
    return q.split("_", 1)[0]


class BatchSuite:
    name = "batch_suite"

    def __init__(self, ctx: Ctx, warmup: bool = True) -> None:
        self.ctx = ctx
        self.warmup = warmup
        self.data = ctx.fresh("tables")
        tables.write_tables(self.data, ctx.seed)
        self.spark = None
        self.load_ms = 0.0

    def setup(self, spark) -> None:
        from pandas_streaming_spark.catalog import TABLES, load_table

        self.spark = spark
        t0 = time.perf_counter()
        for name in TABLES:
            load_table(spark, self.data, name)
        self.load_ms = (time.perf_counter() - t0) * 1000

    def close(self) -> None:
        pass

    def _pass(self, order: list[str], tag: str, check) -> list[dict]:
        """Run ``order`` once; one record per query."""
        from pandas_streaming_spark.queries import QUERIES

        spark, tracer, out = self.spark, self.ctx.tracer, []
        for q in order:
            group = f"perfbench:{tag}:{q}"
            spark.sparkContext.setJobGroup(group, q)
            rec = {"q": q, "group": group, "ok": False}
            with tracer.span("query", q=q):
                try:
                    t0 = time.perf_counter()
                    with tracer.span("build"):
                        df = QUERIES[q](spark, self.data)
                    t1 = time.perf_counter()
                    with tracer.span("exec"):
                        pdf = df.toPandas()
                    t2 = time.perf_counter()
                    rec.update(build_ms=(t1 - t0) * 1000, exec_ms=(t2 - t1) * 1000)
                except Exception as e:  # a failing query is a counted failure
                    rec["error"] = f"{type(e).__name__}: {e}"[:300]
                    out.append(rec)
                    continue
            rec["ok"], rec["detail"] = check(q, pdf)
            out.append(rec)
        return out

    def run(self) -> Result:
        from pandas_streaming_spark.compare import compare_frames, duckdb_connect
        from pandas_streaming_spark.queries import ORACLES

        con = duckdb_connect(self.data)
        expected = {q: con.execute(ORACLES[q]).df() for q in HEADLINE}
        con.close()

        def check(q, pdf):
            r = compare_frames(q, pdf, expected[q])
            return r.ok, r.detail

        tracer = self.ctx.tracer
        with tracer.span("warmup"):
            cold = self._pass(HEADLINE, "cold", check) if self.warmup else []
        passes = []
        with tracer.span("measure"):
            t_end = time.perf_counter() + self.ctx.seconds
            last_s = 0.0
            while len(passes) < MIN_PASSES or time.perf_counter() + last_s <= t_end:
                order = list(HEADLINE)
                random.Random(self.ctx.seed * 1000 + len(passes)).shuffle(order)
                t0 = time.perf_counter()
                passes.append(self._pass(order, f"p{len(passes)}", check))
                last_s = time.perf_counter() - t0
        return self._result(cold, passes)

    def _result(self, cold: list[dict], passes: list[list[dict]]) -> Result:
        runs = [r for p in passes for r in p]
        ok = [r for r in runs if "build_ms" in r]
        lat = [r["build_ms"] + r["exec_ms"] for r in ok]
        suite = [sum(r["build_ms"] + r["exec_ms"] for r in p if "build_ms" in r) for p in passes]
        suite_s = statistics.median(suite) / 1000
        problems = sorted({f"{r['q']}: {r.get('error') or r.get('detail')}"
                           for r in cold + runs if not r["ok"]})
        layers = {"catalog.load_ms": self.load_ms}
        totals = {}
        for q in HEADLINE:
            mine = [r for r in ok if r["q"] == q]
            st = [stage_totals(self.spark, [r["group"]]) for r in mine]
            for k in ("build_ms", "exec_ms"):
                layers[f"queries.{short(q)}.{k}"] = statistics.median(r[k] for r in mine) if mine else 0.0
            layers[f"queries.{short(q)}.tasks"] = statistics.median(s["tasks"] for s in st) if st else 0.0
            layers[f"queries.{short(q)}.shuffle_mb"] = (
                statistics.median(s["shuffle_read_mb"] + s["shuffle_write_mb"] for s in st)
                if st else 0.0)
            for s in st:
                for k, v in s.items():
                    totals[k] = totals.get(k, 0.0) + v / len(passes)
        layers.update({f"exchange.{k}" if "shuffle" in k else f"exec.{k}": v
                       for k, v in totals.items()})
        throughput = len(lat) / (sum(lat) / 1000) if lat else 0.0
        return Result(
            attempted=len(cold) + len(runs),
            failed=sum(1 for r in cold + runs if not r["ok"]),
            e2e={"latency_p50_ms": stats.percentile(lat, 50),
                 "latency_tail_ms": stats.tail_percentile(lat, TAIL_Q),
                 "throughput_per_s": throughput},
            layers=layers,
            named={"suite_s": suite_s},
            problems=problems,
            diagnostics={"passes": len(passes), "suite_s_per_pass": suite,
                         "cold_pass_s": sum(r.get("build_ms", 0) + r.get("exec_ms", 0)
                                            for r in cold) / 1000,
                         "latency_samples": len(lat)},
        )
