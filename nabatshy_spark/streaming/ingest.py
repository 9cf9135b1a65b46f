"""Structured Streaming ingest (SURVEY §2.9, §3.1).

The reference's collector is a continuous push pipeline: each POST to
:4318 becomes one batch insert (collector/service.go:176, main.go:29).
The faithful Spark mapping is a micro-batch stream:

    readStream (files of OTLP JSON documents; Kafka in production)
      → parse_otlp_json (same transform as batch — one code path)
      → foreachBatch append to the partitioned span table

Semantics matched to the reference: at-least-once, no dedup (replayed
payloads duplicate rows in ClickHouse too), no watermarks — all
windowing stays query-time (T1–T5). ``foreachBatch`` keeps the sink
pluggable: the same function body can `.write.format("jdbc")` into
ClickHouse per BASELINE's spark_approach, with parquet as the test
sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from nabatshy_spark.sources.otlp import parse_otlp_json
from nabatshy_spark.sources.sink import append_spans
from nabatshy_spark.streaming.dedup import dedup_span_stream

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
    dedupe_watermark: str | None = None,
    trigger_interval: str | None = None,
    sink_fn=None,
) -> StreamingQuery:
    """Stream OTLP JSON documents (one per line, text files) into the
    partitioned span table.

    Default semantics are the reference's: at-least-once, no dedup
    (replayed POSTs duplicate rows in ClickHouse too, SURVEY §2.9).
    Pass ``dedupe_watermark`` (e.g. ``"10 minutes"``) to upgrade to
    stateful dedup on (trace_id, span_id) within the event-time
    watermark — duplicates arriving inside the window are dropped
    exactly once; state is bounded by the watermark.

    ``sink_fn`` swaps the per-batch writer: the default appends to the
    hour-partitioned parquet table; pass e.g.
    ``lambda b: clickhouse.insert_http(b, url)`` for the reference's
    Structured-Streaming-to-ClickHouse shape (BASELINE spark_approach;
    exercised end-to-end against a wire mock in tests/test_sinks.py).
    Retries of a failed batch re-run the whole sink_fn — the same
    at-least-once contract as the parquet spool. A TWO-argument
    ``sink_fn(batch, epoch_id)`` also receives the micro-batch id —
    the hook an exactly-once sink needs (``lambda b, i:
    idempotent_append(b, out, i)``): Structured Streaming replays an
    uncommitted batch with the SAME id after a crash, so an
    id-keyed idempotent write turns at-least-once replay into
    exactly-once delivery (proven under a real mid-batch SIGKILL in
    tests/test_stream_crash_recovery.py).
    """
    import inspect

    raw = spark.readStream.schema(RAW_SCHEMA).text(input_dir)
    write = sink_fn if sink_fn is not None else (
        lambda b: append_spans(b, output_path)
    )
    # Count only REQUIRED positional parameters: a one-batch sink with
    # a defaulted config arg (lambda b, path=OUT: ...) must NOT have
    # the epoch id silently injected into its default slot, and
    # non-introspectable callables keep the legacy one-arg contract.
    try:
        _req = [
            p
            for p in inspect.signature(write).parameters.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            and p.default is p.empty
        ]
        wants_epoch = len(_req) >= 2
    except (TypeError, ValueError):
        wants_epoch = False

    if dedupe_watermark is None:
        def sink(batch: DataFrame, epoch_id: int) -> None:
            parsed = parse_otlp_json(batch, "value")
            write(parsed, epoch_id) if wants_epoch else write(parsed)

        stream = raw
    else:
        stream = dedup_span_stream(parse_otlp_json(raw, "value"), dedupe_watermark)

        def sink(batch: DataFrame, epoch_id: int) -> None:
            write(batch, epoch_id) if wants_epoch else write(batch)

    return _start_batches(stream, sink, checkpoint_dir, trigger_interval)


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
