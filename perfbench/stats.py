"""Pure helpers: percentiles, the ten-samples-beyond rule, the
offset -> creation-time latency join and the self-time reduction."""

from __future__ import annotations

import numpy as np

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (numpy's default rule)."""
    v = np.asarray(values, dtype=np.float64)
    if v.size == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(v, q))


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` beyond the
    ``q``-th percentile."""
    return n * (100.0 - q) / 100.0 >= MIN_BEYOND


def tail_percentile(values, q: float) -> float:
    """The ``q``-th percentile, refusing one the sample cannot support."""
    n = len(values)
    if not supported(n, q):
        raise ValueError(
            f"p{q:g} needs {MIN_BEYOND} samples beyond it; only {n} samples"
        )
    return percentile(values, q)


def partition_name(p: int) -> str:
    """Offset-map key of partition ``p`` (the spool's log basename)."""
    return f"p{p:05d}.log"


def event_latencies(batches, stamps: dict[str, np.ndarray],
                    counted_from_ms: float, counted_to_ms: float = float("inf")):
    """Latency of every event a batch consumed, in ms.

    ``batches``: ``(start_offsets, end_offsets, visible_ms)`` per batch,
    offsets as ``{log_name: next_record}`` (the progress report's
    ``startOffset``/``endOffset`` of the topic), ``visible_ms`` the wall
    time the sink call for that batch returned. ``stamps[log_name][i]`` is
    the creation stamp of record ``i``. Only events created in
    ``[counted_from_ms, counted_to_ms)`` count, which excludes warm-up."""
    out = []
    for start, end, visible_ms in batches:
        for name, hi in end.items():
            lo = start.get(name, 0)
            if hi <= lo:
                continue
            s = stamps[name][lo:hi]
            if len(s) != hi - lo:
                raise ValueError(f"{name}: batch covers [{lo}, {hi}) beyond "
                                 f"the {len(stamps[name])} records written")
            s = s[(s >= counted_from_ms) & (s < counted_to_ms)]
            out.append(visible_ms - s)
    lat = np.concatenate(out) if out else np.zeros(0)
    return lat.astype(np.float64)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name, ms: a span's duration minus the part
    of it its children cover (children of one parent may not overlap)."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.get("parent") is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - covered.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0) * 1000.0
    return out


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, the run-to-run spread used to size bounds."""
    import statistics

    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
