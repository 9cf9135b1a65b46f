"""Structured Streaming ingest (SURVEY §2.9, §3.1).

The reference's collector is a continuous push pipeline: each POST to
:4318 becomes one batch insert (collector/service.go:176, main.go:29).
The Spark mapping is a micro-batch stream:

    readStream (files of OTLP JSON documents or protobuf requests)
      → parse_otlp_json / parse_otlp_protobuf (the batch decoder —
        one code path, sources/otlp.py)
      → foreachBatch append to the partitioned span table

The sink plans the parse again for every micro-batch, so planning is
a fixed cost per trigger. The decoder's plan is one ``mapInArrow`` over
the raw column, planned in milliseconds, so a batch costs what its
rows cost. The decoder is Python running on the executors; the parse
functions ship this package to them, so ingest does not depend on the
driver's working directory.

Semantics matched to the reference: at-least-once, no dedup (replayed
payloads duplicate rows in ClickHouse too), no watermarks and no
streaming state — all windowing stays query-time (T1–T5). Both file
streams may append to one table path: ``append_spans`` serializes
appends to a path within the process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from nabatshy_spark.sources.otlp import parse_otlp_json
from nabatshy_spark.sources.sink import append_spans

RAW_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


def _start_batches(
    stream: DataFrame, sink, checkpoint_dir: str, trigger_interval: str | None
) -> StreamingQuery:
    """Run ``sink(batch, epoch_id)`` on every micro-batch of ``stream``.
    availableNow = drain-and-stop (tests, bulk import); a processing-
    time trigger makes it the reference's continuous collector."""
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_interval is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def start_file_ingest(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    trigger_interval: str | None = None,
    sink_fn=None,
) -> StreamingQuery:
    """Stream OTLP JSON documents (one per line, text files) into the
    partitioned span table.

    The semantics are the reference's: at-least-once, no dedup
    (replayed POSTs duplicate rows in ClickHouse too, SURVEY §2.9).

    ``sink_fn(batch, epoch_id)`` swaps the per-batch writer for the
    default append to the hour-partitioned parquet table. It receives
    the parsed batch and the micro-batch id, the hook an exactly-once
    sink needs (``lambda b, i: idempotent_append(b, out, i)``):
    Structured Streaming replays an uncommitted batch with the SAME id
    after a crash, so an id-keyed idempotent write turns at-least-once
    replay into exactly-once delivery (proven under a real mid-batch
    SIGKILL in tests/test_stream_crash_recovery.py).
    """
    raw = spark.readStream.schema(RAW_SCHEMA).text(input_dir)
    write = sink_fn if sink_fn is not None else (
        lambda b, _: append_spans(b, output_path)
    )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        write(parse_otlp_json(batch, "value"), epoch_id)

    return _start_batches(raw, sink, checkpoint_dir, trigger_interval)


def ingest_batch(spark: SparkSession, json_docs: list[str]) -> DataFrame:
    """Batch entry: a list of OTLP JSON documents → wide span rows
    (used by tests and by any non-streaming bulk import)."""
    df = spark.createDataFrame([(d,) for d in json_docs], RAW_SCHEMA)
    return parse_otlp_json(df, "value")


def start_protobuf_file_ingest(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    trigger_interval: str | None = None,
) -> StreamingQuery:
    """Stream ``application/x-protobuf`` request payloads (one request
    per file, the unit a collector POST would produce —
    collector/controller.go:46-53) into the partitioned span table.

    Uses the ``binaryFile`` streaming source; decode + explode is the
    S2 path (sources/otlp_pb.py), identical row semantics to JSON
    ingest. Undecodable payloads are dropped per micro-batch (the
    dead-letter variant is available for capture)."""
    from nabatshy_spark.sources.otlp_pb import parse_otlp_protobuf

    binary_file_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("pathGlobFilter", "*.pb")
        .load(input_dir)
        .select("content")
    )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        append_spans(parse_otlp_protobuf(batch, "content"), output_path)

    return _start_batches(raw, sink, checkpoint_dir, trigger_interval)
