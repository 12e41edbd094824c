"""Source/sink round-trips (SURVEY.md §2.1): CSV and JSON write+read
preserve data; streaming memory/foreachBatch sinks are covered by
tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import functions as F

from pandas_streaming_spark.catalog import load_table
from pandas_streaming_spark.streaming.replay import SCRATCH


def _tmp(tag: str) -> str:
    d = os.path.join(SCRATCH, f"{tag}-{uuid.uuid4().hex[:8]}")
    return d


def test_events_ts_normalized_for_any_parquet_physical_type(spark, tmp_path):
    """The driver owns /root/testdata and has shipped events.ts as
    TIMESTAMP(NANOS) (rounds 1-3) and as naive timestamp[us] (round 4).
    load_table must deliver instant µs TIMESTAMP for every arrival form —
    streaming (withWatermark) rejects NTZ event-time columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    base = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000, 1_700_000_060_000_000],
                           pa.timestamp("us")),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array([None, None], pa.string()),
        }
    )
    variants = {
        "naive_us": base,
        "instant_us": base.set_column(
            1, "ts", base["ts"].cast(pa.timestamp("us", tz="UTC"))
        ),
        "nanos": base.set_column(1, "ts", base["ts"].cast(pa.timestamp("ns"))),
    }
    for name, tbl in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), (
            name, df.schema["ts"].dataType)
        got = sorted(r["ts"].isoformat() for r in df.select("ts").collect())
        assert got == ["2023-11-14T22:13:20", "2023-11-14T22:14:20"], (name, got)


def test_csv_roundtrip(spark, sf_dir):
    path = _tmp("csv")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    try:
        orders.write.mode("overwrite").option("header", True).csv(path)
        back = spark.read.option("header", True).option("inferSchema", True).csv(path)
        assert back.count() == orders.count()
        a = orders.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
        b = back.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
        assert a == b
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_json_roundtrip(spark, sf_dir):
    path = _tmp("json")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    try:
        docs.write.mode("overwrite").json(path)
        back = spark.read.json(path)
        assert back.count() == docs.count()
        assert (
            back.filter(F.col("doc_id") == 0).collect()[0]["text"]
            == docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_partitioned_parquet_write_prunes(spark, sf_dir):
    """The 100 TB layout convention: date/key-partitioned writes enable
    partition pruning on read (plans/scale_notes.md)."""
    path = _tmp("part")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    try:
        ev.write.mode("overwrite").partitionBy("day").parquet(path)
        days = [d for d in os.listdir(path) if d.startswith("day=")]
        assert len(days) > 1
        one_day = days[0].split("=", 1)[1]
        back = spark.read.parquet(path).filter(F.col("day") == one_day)
        expected = ev.filter(F.col("day") == one_day).count()
        assert back.count() == expected
        # partition pruning: the scan must touch only the one directory
        from pandas_streaming_spark.plans import physical_plan

        assert "PartitionFilters" in physical_plan(back)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_kafka_contract_without_broker(spark):
    """No broker or connector jar in the sandbox, so the honest contract
    is (a) the option map the reader is built with, (b) an actionable
    error naming the missing package instead of a bare
    DATA_SOURCE_NOT_FOUND."""
    import pytest

    from pandas_streaming_spark.sources import KAFKA_PACKAGE, kafka, kafka_options

    opts = kafka_options(
        "events,orders", "broker-1:9092,broker-2:9092",
        starting_offsets="latest", maxOffsetsPerTrigger="10000",
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker-1:9092,broker-2:9092",
        "subscribe": "events,orders",
        "startingOffsets": "latest",
        "maxOffsetsPerTrigger": "10000",
    }
    with pytest.raises(RuntimeError, match=KAFKA_PACKAGE.replace(".", r"\.")):
        kafka(spark, "events", "localhost:9092")


def test_to_kafka_contract_without_broker(spark):
    import pytest

    from pandas_streaming_spark.sources import KAFKA_PACKAGE, to_kafka

    df = spark.createDataFrame([("k", "v")], "key string, value string")
    with pytest.raises(RuntimeError, match=KAFKA_PACKAGE.replace(".", r"\.")):
        to_kafka(df, "events", "localhost:9092")


def test_kafka_spool_roundtrip_partitioned(spark, tmp_path):
    """kafka_spool e2e: driver produce -> partitioned stream read with
    the connector's 7-column schema; offsets contiguous per partition;
    spool://-bootstrap routing through the public kafka() API."""
    from pandas_streaming_spark.sources import kafka
    from pandas_streaming_spark.sources.kafka_spool import produce
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    d = str(tmp_path / "broker")
    recs = [(f"k{i}".encode(), f"value-{i}".encode(), 1_700_000_000_000 + i)
            for i in range(30)]
    produce(d, "t", recs, n_partitions=3, partition_of=lambda k, v: int(k[1:]))

    s = kafka(spark, "t", "spool://" + d)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp",
        "timestampType",
    ]
    rows = run_stream_to_df(spark, s, "append").collect()
    assert len(rows) == 30
    by_part = {}
    for r in rows:
        by_part.setdefault(r["partition"], []).append(r)
    assert set(by_part) == {0, 1, 2}
    for p, rs in by_part.items():
        offs = sorted(r["offset"] for r in rs)
        assert offs == list(range(len(rs)))  # contiguous: no drops/dups
        for r in rs:
            i = int(bytes(r["key"]).decode()[1:])
            assert i % 3 == p
            assert bytes(r["value"]).decode() == f"value-{i}"
            assert r["topic"] == "t" and r["timestampType"] == 0


def test_kafka_spool_batch_writer_and_replay(spark, tmp_path):
    """Task-side batch producer (to_kafka via spool:// bootstrap): every
    Spark partition becomes one committed partition log (tmp+rename via
    driver commit — no .tmp files survive), and a SECOND read of the same
    spool replays byte-identical records (durable-log exactly-once)."""
    import glob as g

    from pyspark.sql import functions as F

    from pandas_streaming_spark.sources import kafka, to_kafka
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    d = str(tmp_path / "broker")
    df = spark.range(50).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("v-"), F.col("id")).alias("value"),
    )
    to_kafka(df.repartition(4), "out", "spool://" + d)
    assert not g.glob(f"{d}/out/*.tmp")  # commit protocol renamed them all
    assert len(g.glob(f"{d}/out/*.log")) == 4

    def drain():
        return sorted(
            bytes(r["value"]).decode()
            for r in run_stream_to_df(
                spark, kafka(spark, "out", "spool://" + d), "append"
            ).collect()
        )

    first, second = drain(), drain()
    assert first == second == sorted(f"v-{i}" for i in range(50))


def test_kafka_spool_max_offsets_per_trigger(spark, tmp_path):
    """Admission control parity: maxOffsetsPerTrigger caps records per
    micro-batch but a drain still delivers everything exactly once."""
    from pandas_streaming_spark.sources import kafka
    from pandas_streaming_spark.sources.kafka_spool import produce
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    d = str(tmp_path / "broker")
    recs = [(None, f"m{i}".encode(), 1_700_000_000_000) for i in range(23)]
    produce(d, "t", recs, n_partitions=2)
    s = kafka(spark, "t", "spool://" + d, maxOffsetsPerTrigger="7")
    rows = run_stream_to_df(spark, s, "append", trigger="drain").collect()
    assert sorted(bytes(r["value"]).decode() for r in rows) == sorted(
        f"m{i}" for i in range(23)
    )
    assert all(r["key"] is None for r in rows)


def test_from_iterable_stream_real_source(spark):
    """from_iterable as a true Spark 4 Python DataSource: multiple
    micro-batches (batch_size-driven offsets), drained to completion;
    final state equals the one-shot batch aggregation."""
    from pandas_streaming_spark.sources import from_iterable_stream
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    rows = [(i, f"u{i % 3}", float(i)) for i in range(100)]
    s = from_iterable_stream(
        spark, rows, "id long, user string, v double", batch_size=30
    )
    assert s.isStreaming
    agg = s.groupBy("user").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    got = {
        r["user"]: (r["n"], r["sv"])
        for r in run_stream_to_df(spark, agg, "complete", trigger="drain").collect()
    }
    exp = {
        r["user"]: (r["n"], r["sv"])
        for r in spark.createDataFrame(rows, "id long, user string, v double")
        .groupBy("user")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    assert got == exp


def test_from_process_stream_real_source(spark, tmp_path):
    """from_process as a Spark 4 Python DataSource: subprocess stdout is
    spooled to a durable line log, offsets are line counts, and the
    drained stream reproduces the process output exactly and in order."""
    import sys
    import time

    from pandas_streaming_spark.sources import from_process_stream
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    spool = str(tmp_path / "proc.log")
    cmd = [
        sys.executable,
        "-c",
        "import sys\nfor i in range(30): print(f'line-{i}')",
    ]
    s = from_process_stream(spark, cmd, spool, batch_size=7)
    assert s.isStreaming

    # the writer is asynchronous: poll until the spool holds all lines so
    # the availableNow drain can't race a slow process start
    deadline = time.time() + 30
    # reading the spool requires the reader to have spawned the process,
    # which only happens inside the stream run — so run, then re-drain if
    # the first pass raced the writer
    rows = run_stream_to_df(spark, s, "append", trigger="drain").collect()
    while len(rows) < 30 and time.time() < deadline:
        time.sleep(0.5)
        rows = run_stream_to_df(
            spark, from_process_stream(spark, [], spool, batch_size=7), "append",
            trigger="drain",
        ).collect()
    got = [r["value"] for r in sorted(rows, key=lambda r: r["line_no"])]
    assert got == [f"line-{i}" for i in range(30)]


def test_from_process_pool_partitioned(spark, tmp_path):
    """from_process_pool: 3 worker commands -> 3 durable logs -> one read
    partition each (executor-side decode). Offsets are per-worker line
    counts; a second drain of the same pool (no cmds — tail mode) replays
    the exact committed slices, proving per-partition offset replay."""
    import time

    from pandas_streaming_spark.sources import from_process_pool
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    d = str(tmp_path / "pool")
    cmds = [
        ["python", "-c", f"[print(f'w{w}-l{{i}}') for i in range(12)]"]
        for w in range(3)
    ]
    s = from_process_pool(spark, cmds, d, batch_size=5)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == ["worker", "line_no", "value"]

    deadline = time.time() + 30
    rows = run_stream_to_df(spark, s, "append", trigger="drain").collect()
    while len(rows) < 36 and time.time() < deadline:
        time.sleep(0.5)
        rows = run_stream_to_df(
            spark, from_process_pool(spark, [], d, batch_size=5),
            "append", trigger="drain",
        ).collect()
    assert len(rows) == 36
    by_worker = {}
    for r in rows:
        by_worker.setdefault(r["worker"], []).append(r)
    assert set(by_worker) == {0, 1, 2}
    for w, rs in by_worker.items():
        assert sorted(r["line_no"] for r in rs) == list(range(12))
        assert sorted(r["value"] for r in rs) == sorted(
            f"w{w}-l{i}" for i in range(12)
        )

    # replay: a fresh tail-mode read of the same pool returns the exact
    # same records (durable log + per-partition offsets = exactly-once)
    again = run_stream_to_df(
        spark, from_process_pool(spark, [], d, batch_size=50),
        "append", trigger="drain",
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_from_http_server_real_source(spark, tmp_path):
    """from_http_server: POSTed lines land in the spool and stream out
    with stable line offsets."""
    import urllib.request

    from pandas_streaming_spark.sources import from_http_server
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    spool = str(tmp_path / "http.log")
    port = 48231
    s = from_http_server(spark, port, spool, batch_size=4)
    assert s.isStreaming

    for i in range(10):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/", data=f"msg-{i}".encode(), method="POST"
        )
        assert urllib.request.urlopen(req, timeout=10).status == 200

    rows = run_stream_to_df(spark, s, "append", trigger="drain").collect()
    got = [r["value"] for r in sorted(rows, key=lambda r: r["line_no"])]
    assert got == [f"msg-{i}" for i in range(10)]


def test_from_http_server_counts_malformed_drops(spark, tmp_path):
    """A malformed POST (non-numeric Content-Length) is refused with 400
    and COUNTED in SOURCE_DROPS — a source must never lose data silently."""
    import socket

    from pandas_streaming_spark.sources import from_http_server
    from pandas_streaming_spark.sources.pystream import SOURCE_DROPS

    spool = str(tmp_path / "http_drop.log")
    port = 48237
    from_http_server(spark, port, spool, batch_size=4)
    before = SOURCE_DROPS.get(port, 0)

    conn = socket.create_connection(("127.0.0.1", port), timeout=10)
    conn.sendall(
        b"POST / HTTP/1.1\r\nHost: x\r\nContent-Length: banana\r\n\r\n"
    )
    resp = conn.recv(4096)
    conn.close()
    assert b"400" in resp.split(b"\r\n")[0]
    assert SOURCE_DROPS[port] == before + 1


def test_port_reuse_with_different_spool_refused(spark, tmp_path):
    """Reusing a live endpoint port with a different spool must raise —
    the daemon's handler is bound to the first spool, so silently
    accepting would append to the old file while the new stream reads an
    empty one."""
    import pytest

    from pandas_streaming_spark.sources import from_http_server

    port = 48238
    s1 = str(tmp_path / "a.log")
    from_http_server(spark, port, s1)
    from_http_server(spark, port, s1)  # same spool: fine, server reused
    with pytest.raises(ValueError, match="already spooling"):
        from_http_server(spark, port, str(tmp_path / "b.log"))


def test_from_websocket_real_source(spark, tmp_path):
    """from_websocket: a stdlib RFC 6455 client handshakes, sends masked
    text frames (including a 126-length extended frame and a ping), and
    the messages stream out of the spool with stable offsets."""
    import base64
    import hashlib
    import socket

    from pandas_streaming_spark.sources import from_websocket
    from pandas_streaming_spark.sources.pystream import _WS_GUID
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    spool = str(tmp_path / "ws.log")
    port = 48233
    s = from_websocket(spark, port, spool, batch_size=4)
    assert s.isStreaming

    def masked(opcode: int, payload: bytes, mask: bytes = b"\x12\x34\x56\x78") -> bytes:
        ln = len(payload)
        if ln < 126:
            hdr = bytes([0x80 | opcode, 0x80 | ln])
        else:
            hdr = bytes([0x80 | opcode, 0x80 | 126]) + ln.to_bytes(2, "big")
        return hdr + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(payload))

    conn = socket.create_connection(("127.0.0.1", port), timeout=10)
    key = base64.b64encode(b"0123456789abcdef").decode()
    conn.sendall(
        (
            f"GET / HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    resp = b""
    while b"\r\n\r\n" not in resp:
        resp += conn.recv(4096)
    assert b"101" in resp.split(b"\r\n")[0]
    expect = base64.b64encode(hashlib.sha1((key + _WS_GUID).encode()).digest())
    assert expect in resp  # server computed the RFC accept key

    for i in range(9):
        conn.sendall(masked(0x1, f"ws-{i}".encode()))
    conn.sendall(masked(0x9, b"hello"))  # ping
    pong = conn.recv(2 + 5)
    assert pong[:2] == bytes([0x8A, 5]) and pong[2:] == b"hello"
    conn.sendall(masked(0x1, ("long-" + "x" * 130).encode()))  # 126-len path
    conn.sendall(masked(0x8, b""))  # close
    assert conn.recv(2)[:1] == b"\x88"
    conn.close()

    import time

    deadline = time.time() + 30
    rows = run_stream_to_df(spark, s, "append", trigger="drain").collect()
    while len(rows) < 10 and time.time() < deadline:
        time.sleep(0.5)
        rows = run_stream_to_df(
            spark, from_websocket(spark, port, spool, batch_size=4),
            "append", trigger="drain",
        ).collect()
    got = [r["value"] for r in sorted(rows, key=lambda r: r["line_no"])]
    assert got == [f"ws-{i}" for i in range(9)] + ["long-" + "x" * 130]


def test_from_mqtt_real_source(spark, tmp_path):
    """from_mqtt: a hand-rolled MQTT 3.1.1 client CONNECTs, PUBLISHes at
    QoS 0 and QoS 1 (PUBACK awaited), pings, and the topic+payload lines
    stream out of the spool in publish order."""
    import socket
    import time

    from pandas_streaming_spark.sources import from_mqtt
    from pandas_streaming_spark.streaming.replay import run_stream_to_df

    spool = str(tmp_path / "mqtt.log")
    port = 48234
    s = from_mqtt(spark, port, spool, batch_size=4)
    assert s.isStreaming

    def mqtt_str(b: bytes) -> bytes:
        return len(b).to_bytes(2, "big") + b

    def packet(ptype: int, flags: int, body: bytes) -> bytes:
        # remaining-length varint (all test bodies < 128 except none)
        ln, enc = len(body), b""
        while True:
            d, ln = ln & 0x7F, ln >> 7
            enc += bytes([d | (0x80 if ln else 0)])
            if not ln:
                break
        return bytes([(ptype << 4) | flags]) + enc + body

    conn = socket.create_connection(("127.0.0.1", port), timeout=10)
    connect_body = (
        mqtt_str(b"MQTT") + b"\x04\x02\x00\x3c" + mqtt_str(b"test-client")
    )
    conn.sendall(packet(1, 0, connect_body))
    assert conn.recv(4) == b"\x20\x02\x00\x00"  # CONNACK accepted

    for i in range(6):  # QoS 0
        conn.sendall(packet(3, 0, mqtt_str(b"t/a") + f"m{i}".encode()))
    # QoS 1: packet id 7, PUBACK must echo it
    conn.sendall(packet(3, 0x2, mqtt_str(b"t/b") + b"\x00\x07" + b"qos1-msg"))
    assert conn.recv(4) == b"\x40\x02\x00\x07"
    conn.sendall(packet(12, 0, b""))  # PINGREQ
    assert conn.recv(2) == b"\xd0\x00"
    conn.sendall(packet(14, 0, b""))  # DISCONNECT
    conn.close()

    deadline = time.time() + 30
    rows = run_stream_to_df(spark, s, "append", trigger="drain").collect()
    while len(rows) < 7 and time.time() < deadline:
        time.sleep(0.5)
        rows = run_stream_to_df(
            spark, from_mqtt(spark, port, spool, batch_size=4),
            "append", trigger="drain",
        ).collect()
    got = [r["value"] for r in sorted(rows, key=lambda r: r["line_no"])]
    assert got == [f"t/a\tm{i}" for i in range(6)] + ["t/b\tqos1-msg"]


def _read_trigger(reader, start: dict, end: dict) -> list[tuple]:
    """One trigger's rows, read the way Spark does: plan the slices on
    the driver, then read each slice as its own task."""
    return [row for part in reader.partitions(start, end) for row in reader.read(part)]


def test_spool_cap_split_does_not_starve_partitions(tmp_path):
    """maxOffsetsPerTrigger is split across partition logs by backlog: a
    partition whose backlog stays above the cap must not stop the others
    from advancing, a capped trigger offers exactly the cap, and a drain
    delivers every record exactly once."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from pandas_streaming_spark.sources.kafka_spool import (
        KafkaSpoolDataSource,
        produce,
    )

    d = str(tmp_path / "broker")
    recs = [(b"a", f"a{i}".encode(), 0) for i in range(100)]
    recs += [(b"b", f"b{i}".encode(), 0) for i in range(10)]
    produce(d, "t", recs, n_partitions=2, partition_of=lambda k, v: k == b"b")
    reader = KafkaSpoolDataSource(CaseInsensitiveDict({
        "kafka.bootstrap.servers": "spool://" + d,
        "subscribe": "t",
        "maxOffsetsPerTrigger": "10",
    })).streamReader(None)

    start = reader.initialOffset()
    end = reader.latestOffset()
    first = _read_trigger(reader, start, end)
    assert len(first) == 10
    assert {r[3] for r in first} == {0, 1}  # both partitions advanced

    got = [bytes(r[1]).decode() for r in first]
    while end != start:
        start, end = end, reader.latestOffset()
        batch = _read_trigger(reader, start, end)
        assert len(batch) <= 10
        got += [bytes(r[1]).decode() for r in batch]
    assert sorted(got) == sorted(bytes(v).decode() for _, v, _ in recs)


def test_spool_unfinished_line_is_not_committed(tmp_path):
    """A log's last line counts only once it is newline-terminated: while
    it is unfinished the reader's offsets exclude it, and the trigger
    after it is finished delivers it exactly once."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from pandas_streaming_spark.sources.pystream import ProcessDataSource

    spool = tmp_path / "lines.log"
    spool.write_bytes(b"a\nb\npart")
    reader = ProcessDataSource(CaseInsensitiveDict({"spool": str(spool)})).streamReader(None)

    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end == {"lines": {"lines.log": 2}}
    assert _read_trigger(reader, start, end) == [(0, "a"), (1, "b")]
    assert reader.latestOffset() == end  # still unfinished: nothing new

    with open(spool, "ab") as f:
        f.write(b"ial\n")
    start, end = end, reader.latestOffset()
    assert end == {"lines": {"lines.log": 3}}
    assert _read_trigger(reader, start, end) == [(2, "partial")]
    start, end = end, reader.latestOffset()
    assert end == start and _read_trigger(reader, start, end) == []


def test_spool_cap_split_rule():
    """The per-trigger cap split: everything while the backlog fits;
    otherwise exactly the cap, every backlogged log at least one record
    while the cap lasts, and no log given more than its backlog."""
    from pandas_streaming_spark.sources.kafka_spool import _split_cap

    assert _split_cap(10, [3, 0, 4]) == [3, 0, 4]
    assert _split_cap(10, [100, 10]) == [9, 1]
    assert _split_cap(50_000, [62_500] * 4) == [12_500] * 4
    assert _split_cap(2, [5, 5, 5]) == [1, 1, 0]
    for cap, backlogs in [(7, [1, 1000, 3, 0, 2]), (100, [99, 1, 1, 1]),
                          (5, [2, 2, 2]), (1, [0, 9])]:
        take = _split_cap(cap, backlogs)
        assert sum(take) == cap
        assert all(0 <= t <= b for t, b in zip(take, backlogs))
        if cap >= sum(1 for b in backlogs if b):
            assert all(t >= 1 for t, b in zip(take, backlogs) if b)
