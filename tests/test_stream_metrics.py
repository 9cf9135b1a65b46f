"""StreamingQueryListener-based progress metrics: one row per
micro-batch with input rows and duration."""

from __future__ import annotations

import shutil

from nabatshy_spark.streaming import metrics


def test_progress_recorder_captures_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    schema = "id long"
    rec = metrics.attach(spark)
    try:
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream.writeStream.format("memory")
            .queryName("metered")
            .outputMode("append")
            .start()
        )
        try:
            for i, n in enumerate([3, 5]):
                staged = tmp_path / f"stage{i}"
                spark.createDataFrame(
                    [(j,) for j in range(n)], schema
                ).coalesce(1).write.parquet(str(staged), mode="overwrite")
                shutil.copy(
                    next(staged.glob("part-*.parquet")), src / f"c{i}.parquet"
                )
                q.processAllAvailable()
            # progress events are delivered async on the listener bus;
            # wait for this batch's event before stopping the query
            import time

            for _ in range(100):
                if sum(1 for r in rec.rows if r["input_rows"] > 0) >= i + 1:
                    break
                time.sleep(0.1)
        finally:
            q.stop()
        rows = [r for r in rec.rows if r["input_rows"] > 0]
        assert [r["input_rows"] for r in rows] == [3, 5]
        assert all(r["query_name"] == "metered" for r in rows)
        assert all(r["batch_duration_ms"] >= 0 for r in rows)
    finally:
        spark.streams.removeListener(rec)
