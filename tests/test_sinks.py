"""Span table sink tests: exactly-once append, formats, schema
evolution and concurrent appends."""

from __future__ import annotations

import os

from nabatshy_spark.sources.sink import append_spans, read_spans
from nabatshy_spark.streaming.ingest import ingest_batch

SPANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "spans.parquet")


def test_idempotent_append_replay_is_noop(spark, tmp_path):
    """The same batch_id written twice (an at-least-once replay) must
    land exactly once; a different batch_id appends."""
    from nabatshy_spark.sources.sink import idempotent_append

    wide = spark.read.parquet(SPANS).limit(30)
    path = str(tmp_path / "eo_sink")
    assert idempotent_append(wide, path, 0) is True
    assert idempotent_append(wide, path, 0) is False  # replay -> no-op
    assert spark.read.parquet(path).count() == 30
    assert idempotent_append(wide, path, 1) is True
    assert spark.read.parquet(path).count() == 60


def test_streaming_restart_with_idempotent_sink_exactly_once(spark, tmp_path):
    """End-to-end delivery guarantee: a checkpointed file stream driving
    the batch-id-keyed sink, stopped and restarted with new input —
    every span lands exactly once across the restart."""
    from pyspark.sql import functions as F

    from nabatshy_spark.sources.sink import idempotent_append

    wide = spark.read.parquet(SPANS).limit(60)
    # EXCEPT can't compare the map-typed attributes column; split on a
    # hash parity of the span id instead
    first = wide.filter(F.xxhash64("span_id") % 2 == 0)
    second = wide.filter(F.xxhash64("span_id") % 2 != 0)
    n_first, n_second = first.count(), second.count()
    src = str(tmp_path / "restart_src")
    out = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    first.write.parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(wide.schema)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda b, i: idempotent_append(b, out, i)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == n_first
    # new data arrives; the restarted stream must process ONLY it
    second.write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == n_first + n_second == 60
    assert got.select("trace_id", "span_id").distinct().count() == 60


def test_schema_evolution_append_and_merged_read(spark):
    """An appended batch carrying a NEW column (schema evolution — the
    OTLP attribute surface grows over time) reads back with
    mergeSchema: old rows null in the new column, new rows carry it,
    and the original column set is unchanged."""
    import tempfile

    from pyspark.sql import functions as F

    from nabatshy_spark.sources.sink import append_spans
    from nabatshy_spark.streaming.ingest import ingest_batch
    from tests.test_otlp_ingest import _payload

    with tempfile.TemporaryDirectory() as out:
        v1 = ingest_batch(spark, [_payload()])
        append_spans(v1, out)
        v2 = ingest_batch(spark, [_payload()]).withColumn(
            "deployment_env", F.lit("prod")
        )
        append_spans(v2, out)
        merged = spark.read.option("mergeSchema", "true").parquet(out)
        assert "deployment_env" in merged.columns
        n = v1.count()
        assert merged.count() == 2 * n
        assert merged.filter(F.col("deployment_env").isNull()).count() == n
        assert merged.filter(F.col("deployment_env") == "prod").count() == n


def test_concurrent_appends_to_one_path_all_land(spark, tmp_path):
    """Threads (as the JSON and protobuf ingest streams do) append to
    one table path; Spark stages every append under the same
    <path>/_temporary/0, so appends must not interleave."""
    import json
    import threading

    from tests.test_otlp_ingest import _span

    out = str(tmp_path / "spans")

    def doc(trace: str) -> str:
        spans = [_span(0, trace=trace), _span(1, parent="s0", trace=trace)]
        return json.dumps({"resourceSpans": [{
            "resource": {"attributes": []},
            "scopeSpans": [{"scope": {"name": "svc"}, "spans": spans}],
        }]})

    writers, rounds, errors = (os.cpu_count() or 4) + 1, 3, []

    def writer(w: int) -> None:
        try:
            for r in range(rounds):
                append_spans(ingest_batch(spark, [doc(f"w{w}-r{r}")]), out)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors
    got = sorted(tuple(r) for r in read_spans(spark, out).select("trace_id", "span_id").collect())
    want = sorted((f"w{w}-r{r}", s) for w in range(writers) for r in range(rounds) for s in ("s0", "s1"))
    assert got == want
