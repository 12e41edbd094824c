"""Fast checks of the benchmark's own logic (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

import loadgen
import oracle
import run
import stats
from conftest import BENCH, ROOT


def _encoded(seed: int, lo: int, hi: int) -> list[list[bytes]]:
    ev = loadgen.EventStream(seed).slice(lo, hi)
    return loadgen.encode(ev, loadgen.steady_stamps(1_700_000_000_000, 2000, lo, hi))


def test_same_seed_same_bytes_however_sliced():
    whole = _encoded(7, 0, 20_000)
    s = loadgen.EventStream(7)
    parts = [s.take(n) for n in (1, 8190, 3, 11_806)]
    pieces = [loadgen.encode(p, loadgen.steady_stamps(1_700_000_000_000, 2000,
                                                       int(p["event_id"][0]),
                                                       int(p["event_id"][-1]) + 1))
              for p in parts]
    joined = [sum((pc[p] for pc in pieces), []) for p in range(loadgen.PARTITIONS)]
    assert joined == whole
    assert _encoded(7, 0, 20_000) == whole
    assert _encoded(8, 0, 20_000) != whole


def test_backlog_process_writes_the_seeded_events(tmp_path):
    spool = str(tmp_path / "spool")
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "loadgen.py"), "--spool", spool,
         "--seed", "3", "--mode", "backlog"],
        input="0 500\n500 700\n", capture_output=True, text=True, timeout=60,
        env=dict(os.environ, PYTHONPATH=ROOT), check=True)
    stamps = [json.loads(line)["stamp_ms"] for line in proc.stdout.splitlines()]
    assert len(stamps) == 2
    from pandas_streaming_spark.sources.kafka_spool import _complete_lines

    ev = loadgen.EventStream(3).slice(0, 1200)
    expect = loadgen.encode(ev, np.repeat(np.array(stamps), [500, 700]))
    for p in range(loadgen.PARTITIONS):
        path = os.path.join(spool, loadgen.TOPIC, stats.partition_name(p))
        assert _complete_lines(path) == expect[p]


def test_late_events_stay_inside_the_watermark():
    ev = loadgen.EventStream(1).slice(0, 50_000)
    late = ev["late_ms"]
    assert 0.05 < (late > 0).mean() < 0.15
    assert late.max() < 5_000  # streams.WATERMARK
    # Zipf skew: the hottest user carries far more than a uniform share
    counts = np.bincount(ev["user_id"], minlength=loadgen.USERS)
    assert counts.max() > 50 * len(late) / loadgen.USERS


def test_latency_join_uses_offsets_and_excludes_warmup():
    stamps = {"p00000.log": np.array([0, 100, 200, 300, 400]),
              "p00001.log": np.array([50, 150])}
    batches = [
        ({}, {"p00000.log": 2, "p00001.log": 1}, 1_000),
        ({"p00000.log": 2, "p00001.log": 1}, {"p00000.log": 5, "p00001.log": 2}, 2_000),
    ]
    lat = stats.event_latencies(batches, stamps, counted_from_ms=100)
    # warm-up (stamps 0 and 50) excluded; the rest joined to their batch
    assert sorted(lat.tolist()) == sorted([1_000 - 100, 2_000 - 200, 2_000 - 300,
                                           2_000 - 400, 2_000 - 150])
    lat = stats.event_latencies(batches, stamps, 100, counted_to_ms=300)
    assert sorted(lat.tolist()) == [900, 1_800, 1_850]


def test_latency_join_rejects_offsets_past_what_was_written():
    with pytest.raises(ValueError):
        stats.event_latencies([({}, {"p00000.log": 3}, 10)],
                              {"p00000.log": np.array([1, 2])}, 0)


def test_percentile_needs_ten_samples_beyond():
    assert stats.supported(1000, 99) and not stats.supported(999, 99)
    assert stats.tail_percentile(list(range(1, 1001)), 99) == pytest.approx(990.01)
    with pytest.raises(ValueError):
        stats.tail_percentile(list(range(500)), 99)
    assert stats.percentile([5, 1, 3], 50) == 3


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "name": "trigger", "start": 0.0, "end": 1.0},
        {"id": 1, "parent": 0, "name": "addBatch", "start": 0.1, "end": 0.9},
        {"id": 2, "parent": 1, "name": "sink_call", "start": 0.2, "end": 0.7},
    ]
    st = stats.self_times(spans)
    assert st["trigger"] == pytest.approx(200)
    assert st["addBatch"] == pytest.approx(300)
    assert st["sink_call"] == pytest.approx(500)


def _views(n: int, drained: int):
    ev = loadgen.EventStream(5).slice(0, n)
    stamps = loadgen.steady_stamps(1_700_000_000_000, 2000, 0, n)
    want = oracle.expected_view(ev, stamps)
    got = oracle.expected_view({k: v[:drained] for k, v in ev.items()}, stamps[:drained])
    return want, got


def test_oracle_accepts_a_complete_drain():
    want, got = _views(5_000, 5_000)
    assert oracle.check_stream(want, got, 5_000, 5_000, 0) == (0, [])


def test_oracle_flags_a_truncated_drain():
    want, got = _views(5_000, 2_000)
    failed, problems = oracle.check_stream(want, got, 5_000, 2_000, 0)
    assert failed >= 3_000
    assert any("read 2000 rows" in p for p in problems)
    assert any("missing" in p or "wrong" in p for p in problems)


def test_oracle_flags_watermark_drops_and_wrong_rows():
    want, got = _views(3_000, 3_000)
    got.loc[0, "amount"] += 1
    failed, problems = oracle.check_stream(want, got, 3_000, 3_000, 4)
    assert failed >= 4
    assert len(problems) == 2


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert spec["paths"] == ["perfbench"]
