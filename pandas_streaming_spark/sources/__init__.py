"""Sources & sinks (SURVEY.md §2.1) — the reference's source surface
re-expressed as Structured Streaming readers.

Reference -> here:
- ``from_textfile(path)`` / ``filenames(path)``  -> text_dir / file_stream
  (directory-granular tailing; ``input_file_name()`` exposes the name)
- ``from_kafka(_batched)`` / ``to_kafka``        -> kafka / to_kafka
  (the connector's option map; a ``spool://<dir>`` bootstrap runs it on
  the kafka_spool broker emulation without a broker or jar —
  checkpointed offsets give exactly-once, a strict upgrade over the
  reference's ref-counted at-least-once)
- ``from_process`` / ``from_http_server`` /
  ``from_websocket`` / ``from_mqtt``             -> pystream sources:
  commands or local endpoints append lines to spool logs, read by the
  one spool-log reader (kafka_spool.SpoolStreamReader) that also serves
  kafka_spool; ``batch_size`` is records per trigger across all logs
- ``from_tcp(port)``                             -> socket_lines
- ``from_iterable(it)``                          -> from_iterable (batch)
  / streaming via the replay protocol (streaming.replay)
- ``PeriodicDataFrame/Random(freq)``             -> rate (synthetic timed)
- sinks: ``sink/sink_to_list/to_textfile``       -> foreachBatch /
  memory / file sinks on writeStream (see api.StreamingFrame sinks)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
    **options,
) -> DataFrame:
    """Watch a directory; each new file becomes (part of) a micro-batch —
    the engine's form of the reference's file-tail/filenames sources."""
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in options.items():
        r = r.option(k, v)
    return r.format(fmt).load(path)


def text_dir(spark: SparkSession, path: str) -> DataFrame:
    """Stream lines from text files appearing under ``path`` (column
    ``value``); add ``input_file_name()`` for per-file provenance."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("value", StringType())])
    return file_stream(spark, path, schema, fmt="text")


def rate(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic timed source (reference PeriodicDataFrame/Random):
    columns (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def socket_lines(spark: SparkSession, host: str, port: int) -> DataFrame:
    """TCP line source (reference from_tcp). Test-only source upstream —
    same caveat here."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


KAFKA_PACKAGE = "org.apache.spark:spark-sql-kafka-0-10_2.13"


def kafka_options(
    topics: str,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
    **extra: str,
) -> dict[str, str]:
    """The exact option map the Kafka source reader is configured with —
    split out so the contract is testable without a broker or the
    connector jar on the classpath."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        **extra,
    }


def _require_kafka(err: Exception, fmt: str):
    if fmt == "kafka" and (
        "kafka" in str(err).lower() or "DATA_SOURCE_NOT_FOUND" in str(err)
    ):
        raise RuntimeError(
            "the Kafka connector is not on the classpath; launch with "
            f"spark.jars.packages={KAFKA_PACKAGE}:<spark-version>"
        ) from err
    raise err


def _kafka_format(spark: SparkSession, bootstrap_servers: str) -> str:
    """``kafka_spool`` (registered on first use) for a ``spool://<dir>``
    bootstrap, else the real connector's ``kafka``."""
    from pandas_streaming_spark.sources.kafka_spool import (
        SPOOL_PREFIX,
        KafkaSpoolDataSource,
    )

    if not bootstrap_servers.startswith(SPOOL_PREFIX):
        return "kafka"
    spark.dataSource.register(KafkaSpoolDataSource)
    return "kafka_spool"


def kafka(
    spark: SparkSession,
    topics: str,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
    **extra: str,
) -> DataFrame:
    """Kafka source. With a checkpoint dir the source replays from logged
    offsets for exactly-once processing — a strict upgrade over the
    reference's ref-counted at-least-once delivery.

    A ``spool://<dir>`` bootstrap reads the same option map through
    ``format("kafka_spool")`` (same output schema, partitioned
    executor-side reads) so kafka-facing queries run and replay without a
    broker; a real ``host:port`` bootstrap needs the connector jar and
    raises an actionable error without it."""
    fmt = _kafka_format(spark, bootstrap_servers)
    r = spark.readStream.format(fmt).options(
        **kafka_options(topics, bootstrap_servers, starting_offsets, **extra)
    )
    try:
        return r.load()
    except Exception as e:  # surface the fix, not a bare class-not-found
        _require_kafka(e, fmt)


def to_kafka(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint_dir: str | None = None,
):
    """Kafka sink (reference ``to_kafka``): expects ``value`` (and
    optionally ``key``) binary/string columns. Streaming frames get an
    exactly-once writeStream with checkpointing; batch frames a one-shot
    write. A batch frame with a ``spool://<dir>`` bootstrap writes
    through ``format("kafka_spool")`` (per-partition logs, task-side
    writes, driver-commit rename)."""
    fmt = (
        "kafka" if df.isStreaming
        else _kafka_format(df.sparkSession, bootstrap_servers)
    )
    try:
        if df.isStreaming:
            w = (
                df.writeStream.format("kafka")
                .option("kafka.bootstrap.servers", bootstrap_servers)
                .option("topic", topic)
            )
            if checkpoint_dir:
                w = w.option("checkpointLocation", checkpoint_dir)
            return w.start()
        return (
            df.write.format(fmt)
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .mode("append")
            .save()
        )
    except Exception as e:
        _require_kafka(e, fmt)


def from_iterable(spark: SparkSession, rows, schema) -> DataFrame:
    """Batch frame from a Python iterable (reference from_iterable).
    The *streaming* equivalent is sources.pystream.from_iterable_stream
    (a real Python DataSource with offsets + recovery replay); the
    file-drop protocol (streaming.replay) remains the durable path."""
    return spark.createDataFrame(list(rows), schema)


from pandas_streaming_spark.sources.pystream import (  # noqa: E402,F401
    from_http_server,
    from_iterable_stream,
    from_mqtt,
    from_process_pool,
    from_process_stream,
    from_websocket,
)
