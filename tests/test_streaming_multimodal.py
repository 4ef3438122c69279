"""Structured Streaming event-log rollup (S11/ST8)."""


def test_event_rollup_streaming(spark, tmp_path):
    """ST8/S11: the event-log rollup runs as a real watermarked streaming
    aggregation — same logical plan as the batch oracle row, with bounded
    state on a stream."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from automem_spark.streaming.events import emit_events, event_rollup

    src = str(tmp_path / "evsrc")
    rows = [
        (i, f"op-{i % 3}", datetime(2026, 1, 1 + i % 2, i % 24)) for i in range(48)
    ]
    spark.createDataFrame(rows, "id long, op string, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("id long, op string, ts timestamp").parquet(src)
    events = emit_events(
        stream, "memory.store", ts=F.col("ts"), key=F.col("id")
    )
    rolled = event_rollup(events, window="1 day")
    assert rolled.isStreaming

    out = []

    def sink(batch_df, _bid):
        out.extend(batch_df.collect())

    # update mode: both windows surface (append would withhold the still-open
    # last window until the watermark passes it — correct but untestable with
    # a finite availableNow source)
    q = rolled.writeStream.outputMode("update").foreachBatch(sink).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    got = {(r.win.start.day, r.event_type): (r.n, r.n_keys) for r in out}
    assert len(got) == 2  # two distinct days
    assert sum(n for n, _ in got.values()) == 48
    for n, n_keys in got.values():
        # streaming n_keys is HLL-approximate (exact distinct unsupported on
        # streams); ids are all distinct per window
        assert abs(n_keys - n) / n < 0.15
