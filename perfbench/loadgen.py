"""Seeded load generator for the kafka_spool topic the stream workloads read.

The event sequence is a pure function of the seed: event ``i`` always has
the same user, amount and lateness, however the caller slices the
sequence (events are drawn in fixed chunks, each from its own seeded
generator). Only the creation stamps depend on when the events were
written, and those follow a fixed schedule the caller can recompute.

Run as a process it is the open-loop producer, separate from the system
under test:

* ``--mode steady``: appends events ``--first``, ``--first + 1``, ... on
  a fixed schedule (``--rate`` events per second for ``--duration``
  seconds) and stamps each record's Kafka timestamp with the time it was
  due, ``start_ms + k * 1000 / rate`` for the k-th event it writes.
  It never waits for the consumer; how late it ran behind its own
  schedule is reported as ``late_ms_max``.
* ``--mode backlog``: reads ``first count`` per line from stdin and
  appends those events at once, all stamped with the moment encoding
  began.

Both print one JSON line per step on stdout for the parent to read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

TOPIC = "events"
PARTITIONS = 4
USERS = 200_000
ZIPF_S = 1.1
#: share of events whose event time lags their creation time
LATE_SHARE = 0.1
#: largest lag; kept below the pipeline's watermark delay so no event is
#: ever dropped as late and the sink must equal the full aggregation
LATE_MAX_MS = 3_000
CHUNK = 8192
#: user ranks are spread over the id space by a bijection (7919 is prime,
#: USERS = 2^6 * 5^5), so hot users land on every partition
_SPREAD = 7919


class EventStream:
    """Prefix-deterministic event sequence of one seed."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        w = 1.0 / np.arange(1, USERS + 1, dtype=np.float64) ** ZIPF_S
        self._cdf = np.cumsum(w) / w.sum()
        self._next = 0

    def _chunk(self, k: int) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, k])
        rank = np.searchsorted(self._cdf, rng.random(CHUNK), side="right")
        rank = np.minimum(rank, USERS - 1)
        late = np.where(
            rng.random(CHUNK) < LATE_SHARE,
            rng.integers(0, LATE_MAX_MS, CHUNK),
            0,
        )
        return {
            "user_id": (rank * _SPREAD + self.seed) % USERS,
            "amount": rng.integers(1, 100_000, CHUNK),
            "late_ms": late,
        }

    def slice(self, lo: int, hi: int) -> dict[str, np.ndarray]:
        """Events ``[lo, hi)`` as arrays (``event_id`` included)."""
        parts = []
        for k in range(lo // CHUNK, (hi - 1) // CHUNK + 1 if hi > lo else 0):
            c = self._chunk(k)
            a, b = max(lo - k * CHUNK, 0), min(hi - k * CHUNK, CHUNK)
            parts.append({n: v[a:b] for n, v in c.items()})
        out = {
            n: (np.concatenate([p[n] for p in parts]) if parts else np.zeros(0, np.int64))
            for n in ("user_id", "amount", "late_ms")
        }
        out["event_id"] = np.arange(lo, hi, dtype=np.int64)
        return out

    def skip(self, n: int) -> None:
        self._next += n

    def take(self, n: int) -> dict[str, np.ndarray]:
        out = self.slice(self._next, self._next + n)
        self._next += n
        return out


def partition_of(user_id: np.ndarray) -> np.ndarray:
    """Keyed producer routing: one user always lands on one partition."""
    return user_id % PARTITIONS


def encode(ev: dict[str, np.ndarray], stamps_ms: np.ndarray) -> list[list[bytes]]:
    """Spool lines per partition, in event order. ``stamps_ms`` are the
    creation stamps carried in the Kafka timestamp field; the JSON
    event time is the stamp minus the event's lateness."""
    from pandas_streaming_spark.sources.kafka_spool import encode_record

    out: list[list[bytes]] = [[] for _ in range(PARTITIONS)]
    parts = partition_of(ev["user_id"])
    for i, u, a, late, ts, p in zip(
        ev["event_id"].tolist(), ev["user_id"].tolist(), ev["amount"].tolist(),
        ev["late_ms"].tolist(), stamps_ms.tolist(), parts.tolist(),
    ):
        value = (
            f'{{"event_id":{i},"user_id":{u},"event_time":{ts - late},'
            f'"amount":{a}}}'
        ).encode()
        out[p].append(encode_record(str(u).encode(), value, ts))
    return out


def steady_stamps(start_ms: int, rate: float, lo: int, hi: int) -> np.ndarray:
    """Creation stamps of events ``[lo, hi)`` under the steady schedule."""
    return start_ms + (np.arange(lo, hi, dtype=np.int64) * 1000) // int(rate)


class SpoolWriter:
    """Append-only writer of the topic's partition logs."""

    def __init__(self, spool_dir: str) -> None:
        tdir = os.path.join(spool_dir, TOPIC)
        os.makedirs(tdir, exist_ok=True)
        self._files = [
            open(os.path.join(tdir, f"p{p:05d}.log"), "ab")
            for p in range(PARTITIONS)
        ]

    def append(self, lines: list[list[bytes]]) -> None:
        for f, part in zip(self._files, lines):
            if part:
                f.write(b"\n".join(part) + b"\n")
                f.flush()

    def close(self) -> None:
        for f in self._files:
            f.close()


def _emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def run_steady(spool: str, seed: int, rate: float, duration: float, first: int = 0,
               tick_s: float = 0.005) -> None:
    stream, writer = EventStream(seed), SpoolWriter(spool)
    stream.skip(first)
    total = int(rate * duration)
    start_wall = time.time()
    start_ms = int(start_wall * 1000)
    t0 = time.perf_counter() - (start_wall - start_ms / 1000)
    _emit({"start_ms": start_ms, "total": total})
    written, late_max = 0, 0.0
    try:
        while written < total:
            now = time.perf_counter() - t0
            due = min(int(now * rate) + 1, total)
            if due > written:
                late_max = max(late_max, (now - written / rate) * 1000)
                ev = stream.take(due - written)
                writer.append(encode(ev, steady_stamps(start_ms, rate, written, due)))
                written = due
            nxt = (written / rate) if written < total else now
            time.sleep(max(0.0, min(tick_s, nxt - (time.perf_counter() - t0))))
    finally:
        writer.close()
    _emit({"written": written, "late_ms_max": late_max})


def run_backlog(spool: str, seed: int) -> None:
    stream, writer = EventStream(seed), SpoolWriter(spool)
    try:
        for line in sys.stdin:
            first, n = (int(x) for x in line.split())
            ev = stream.slice(first, first + n)
            stamp_ms = int(time.time() * 1000)
            writer.append(encode(ev, np.full(n, stamp_ms, dtype=np.int64)))
            _emit({"stamp_ms": stamp_ms})
    finally:
        writer.close()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spool", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--mode", choices=("steady", "backlog"), required=True)
    ap.add_argument("--rate", type=float, default=2000.0)
    ap.add_argument("--duration", type=float, default=10.0)
    ap.add_argument("--first", type=int, default=0,
                    help="steady mode: index of the first event to write")
    a = ap.parse_args(argv)
    if a.mode == "steady":
        run_steady(a.spool, a.seed, a.rate, a.duration, a.first)
    else:
        run_backlog(a.spool, a.seed)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
