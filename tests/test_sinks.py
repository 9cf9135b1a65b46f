"""ClickHouse sink option-builder and compaction tests."""

from __future__ import annotations

import os

from nabatshy_spark.sources.clickhouse import jdbc_options
from nabatshy_spark.sources.compact import compact
from nabatshy_spark.sources.sink import append_spans, read_spans
from nabatshy_spark.streaming.ingest import ingest_batch

SPANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "spans.parquet")


def test_jdbc_options_mapping():
    opts = jdbc_options("jdbc:clickhouse://ch:8123/otel", "denormalized_span", batchsize="500")
    assert opts["url"].startswith("jdbc:clickhouse://")
    assert opts["dbtable"] == "denormalized_span"
    assert opts["batchsize"] == "500"          # override wins
    assert opts["socket_timeout"] == "60000"   # 60s ceiling (db/clickhouse.go:21)
    assert opts["compress"] == "1"             # LZ4 (db/clickhouse.go:24-25)


def test_compaction_preserves_rows(spark, tmp_path):
    from tests.test_otlp_ingest import _payload

    out = str(tmp_path / "spans")
    for _ in range(3):  # three epochs → multiple files per partition
        append_spans(ingest_batch(spark, [_payload()]), out)
    before = read_spans(spark, out).count()
    part_dirs = [d for d in os.listdir(out) if d.startswith("ingest_hour=")]
    files_before = sum(
        len([f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")])
        for d in part_dirs
    )
    n = compact(spark, out, target_files_per_partition=1)
    assert n == before
    after = read_spans(spark, out)
    assert after.count() == before
    files_after = sum(
        len([f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")])
        for d in [d for d in os.listdir(out) if d.startswith("ingest_hour=")]
    )
    assert files_after < files_before


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


# ---------------------------------------------------------------------------
# HTTP-interface writer exercised against a live (mock) wire: an
# in-process stdlib HTTP server stands in for ClickHouse's port-8123
# endpoint and records every INSERT — query string, settings, batch
# splits, gzip negotiation — so the sink mapping is no longer dead code.
# ---------------------------------------------------------------------------


def _start_mock_clickhouse():
    import gzip
    import http.server
    import threading
    import urllib.parse

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802  (stdlib casing)
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length)
            if self.headers.get("Content-Encoding") == "gzip":
                body = gzip.decompress(body)
            qs = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            received.append(
                {
                    "query": qs.get("query", [""])[0],
                    "gzip": self.headers.get("Content-Encoding") == "gzip",
                    "lines": [ln for ln in body.decode("utf-8").split("\n") if ln],
                }
            )
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"")

        def log_message(self, *a):  # silence request logging in pytest output
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, received


def test_insert_http_batches_and_query_shape(spark):
    import json

    from nabatshy_spark.sources.clickhouse import insert_http

    srv, received = _start_mock_clickhouse()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        df = spark.range(0, 25).selectExpr(
            "id AS span_id", "concat('svc_', id % 3) AS service_name"
        ).coalesce(1)
        insert_http(df, url, table="denormalized_span", batch_rows=10, gzip_body=True)

        # 25 rows in one partition at batch_rows=10 → batches of 10/10/5
        assert sorted(len(r["lines"]) for r in received) == [5, 10, 10]
        for r in received:
            assert r["query"] == "INSERT INTO denormalized_span FORMAT JSONEachRow"
            assert r["gzip"] is True
        rows = [json.loads(ln) for r in received for ln in r["lines"]]
        assert {row["span_id"] for row in rows} == set(range(25))
        assert all(row["service_name"].startswith("svc_") for row in rows)
    finally:
        srv.shutdown()


def test_insert_http_parallel_partitions(spark):
    from nabatshy_spark.sources.clickhouse import insert_http

    srv, received = _start_mock_clickhouse()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        df = spark.range(0, 40).repartition(4).selectExpr("id AS span_id")
        insert_http(df, url, batch_rows=1000, gzip_body=False)
        # one POST per non-empty partition, each executor writing directly
        assert 1 <= len(received) <= 4
        assert sum(len(r["lines"]) for r in received) == 40
        assert all(r["gzip"] is False for r in received)
    finally:
        srv.shutdown()


def test_streaming_to_clickhouse_http(spark, tmp_path):
    """The BASELINE spark_approach end-to-end: Structured Streaming
    ingest with a ClickHouse sink — OTLP JSON files stream through
    parse/denormalize and every micro-batch POSTs JSONEachRow batches
    to the (mock) ClickHouse HTTP endpoint."""
    import json

    from nabatshy_spark.sources.clickhouse import insert_http
    from nabatshy_spark.streaming.ingest import start_file_ingest
    from tests.test_otlp_ingest import _legacy_payload, _payload

    srv, received = _start_mock_clickhouse()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        in_dir = tmp_path / "in"
        in_dir.mkdir()
        (in_dir / "b1.jsonl").write_text(_payload() + "\n")
        (in_dir / "b2.jsonl").write_text(_legacy_payload() + "\n")
        q = start_file_ingest(
            spark, str(in_dir), output_path="", checkpoint_dir=str(tmp_path / "ck"),
            sink_fn=lambda b: insert_http(b, url, gzip_body=False),
        )
        q.awaitTermination(120)
        rows = [json.loads(ln) for r in received for ln in r["lines"]]
        assert len(rows) == 5                     # same spans the parquet path lands
        assert all(r["query"].startswith("INSERT INTO denormalized_span") for r in received)
        assert {row["scope_name"] for row in rows} >= {"legacy-lib"}
    finally:
        srv.shutdown()


def test_backfill_replaces_only_target_hour(spark):
    """Dynamic-partition backfill rewrites one hour in place: the
    corrected hour's rows are replaced (not appended), every other
    hour is byte-identical, and re-running the backfill is
    idempotent."""
    import tempfile

    from pyspark.sql import functions as F

    from nabatshy_spark.sources.sink import append_spans, backfill_hours, read_spans
    from nabatshy_spark.streaming.ingest import ingest_batch
    from tests.test_otlp_ingest import _payload

    with tempfile.TemporaryDirectory() as out:
        base = ingest_batch(spark, [_payload()])
        hour2 = base.withColumn(
            "start_time_unix_nano", F.col("start_time_unix_nano") + F.lit(3_600_000_000_000)
        )
        append_spans(base, out)
        append_spans(hour2, out)
        before = read_spans(spark, out)
        n_base = base.count()
        assert before.count() == 2 * n_base

        # corrected recompute of hour 2: half the spans survive
        corrected = hour2.filter(F.col("span_id").isin(
            [r["span_id"] for r in hour2.select("span_id").limit(2).collect()]
        ))
        from nabatshy_spark.sources.sink import with_partition_col
        target_hours = [r[0] for r in with_partition_col(hour2).select("ingest_hour").distinct().collect()]
        backfill_hours(corrected, out, target_hours)
        after = read_spans(spark, out)
        assert after.count() == n_base + 2          # hour 1 intact, hour 2 replaced
        backfill_hours(corrected, out, target_hours)  # idempotent re-run
        assert read_spans(spark, out).count() == n_base + 2

        # declaring the wrong hour set is refused
        import pytest as _pytest

        with _pytest.raises(ValueError):
            backfill_hours(corrected, out, ["1970-01-01-00"])


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


def test_jsonl_ingest_quarantines_corrupt_lines(spark, tmp_path):
    """One parse pass yields the clean relation and the quarantine;
    nothing is dropped or aborted."""
    from nabatshy_spark.sources import textfiles

    p = tmp_path / "drop.jsonl"
    p.write_text(
        '{"id": 1, "text": "ok"}\n'
        "{broken json\n"
        '{"id": 2, "text": "also ok"}\n'
    )
    good, bad = textfiles.read_jsonl(spark, str(p), "id BIGINT, text STRING")
    assert sorted((r.id, r.text) for r in good.collect()) == [
        (1, "ok"),
        (2, "also ok"),
    ]
    assert [r.raw_line for r in bad.collect()] == ["{broken json"]
    rep = textfiles.quarantine_report(bad).collect()[0]
    assert rep.n_corrupt == 1 and rep.sample_lines == ["{broken json"]


def test_csv_ingest_quarantines_corrupt_lines(spark, tmp_path):
    from nabatshy_spark.sources import textfiles

    p = tmp_path / "drop.csv"
    p.write_text("id,text\n1,ok\nnot_a_number,boom\n2,fine\n")
    good, bad = textfiles.read_csv(spark, str(p), "id BIGINT, text STRING")
    assert sorted((r.id, r.text) for r in good.collect()) == [
        (1, "ok"),
        (2, "fine"),
    ]
    assert [r.raw_line for r in bad.collect()] == ["not_a_number,boom"]


def test_orc_sink_roundtrip_matches_parquet(spark, tmp_path):
    """The ORC format option writes the same partitioned layout and
    reads back identical rows."""
    from tests.test_otlp_ingest import _payload

    batch = ingest_batch(spark, [_payload()])
    append_spans(batch, str(tmp_path / "p"))
    append_spans(batch, str(tmp_path / "o"), fmt="orc")
    # Scalar columns only: map-typed attr columns stringify with
    # engine-dependent key order, which is not a data difference.
    cols = [
        c
        for c, t in read_spans(spark, str(tmp_path / "p")).dtypes
        if not t.startswith(("map", "array", "struct"))
    ]
    pq = {
        tuple(str(v) for v in r)
        for r in read_spans(spark, str(tmp_path / "p")).select(cols).collect()
    }
    orc = {
        tuple(str(v) for v in r)
        for r in read_spans(spark, str(tmp_path / "o"), fmt="orc")
        .select(cols)
        .collect()
    }
    assert orc == pq and len(orc) > 0


def test_write_spans_jdbc_raises_without_driver_jar(spark):
    """The JDBC leg's documented contract: with no clickhouse-jdbc jar
    on the classpath the write RAISES the underlying driver-load error
    (no silent fallback) — and the full option map, including
    overrides, reaches the writer before that happens."""
    import pytest

    from nabatshy_spark.sources.clickhouse import write_spans_jdbc

    df = spark.createDataFrame([(1, "a")], ["trace_id", "name"])
    with pytest.raises(Exception) as ei:
        write_spans_jdbc(
            df, "jdbc:clickhouse://localhost:1/otel", batchsize="7"
        )
    msg = str(ei.value)
    assert "com.clickhouse.jdbc.ClickHouseDriver" in msg or "ClassNotFound" in msg


def test_kafka_source_options_mapping():
    """The Kafka spool slot's option map (streaming/receiver.py): the
    production form of the file spool, typed code not prose — same
    approach as the JDBC option map above."""
    from nabatshy_spark.streaming.receiver import kafka_source_options

    opts = kafka_source_options(
        "broker1:9092,broker2:9092", "otlp-spans", startingOffsets="latest"
    )
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "otlp-spans"
    assert opts["startingOffsets"] == "latest"      # override wins
    assert opts["failOnDataLoss"] == "true"          # loud, not silent
    assert opts["maxOffsetsPerTrigger"] == "100000"  # bounded micro-batch
    assert opts["kafka.compression.type"] == "lz4"


def test_kafka_spool_stream_raises_without_package(spark):
    """With no spark-sql-kafka package the stream build RAISES the
    data-source-not-found error — same no-silent-fallback contract as
    write_spans_jdbc."""
    import pytest

    from nabatshy_spark.streaming.receiver import kafka_spool_stream

    with pytest.raises(Exception) as ei:
        kafka_spool_stream(spark, "localhost:1").writeStream  # force analysis
    msg = str(ei.value)
    assert "kafka" in msg.lower()


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
