"""Structured Streaming mode: file-drop NDJSON source (tail analog),
event-time watermark windows + dropDuplicatesWithinWatermark (new
capabilities over the reference), the stateful count-or-time operator,
and foreachBatch sinks.  All driven synchronously with memory sinks +
processAllAvailable on finite inputs.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cdp_spark.streaming import (
    stream_dead_letters,
    stream_ndjson_files,
    streaming_count_or_time,
)


def drain(q):
    q.processAllAvailable()
    q.stop()


def test_stream_ndjson_files_tail_analog(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.ndjson").write_text(
        '{"n":"s.one","d":1}\n{"n":"s.two","d":2}\nnot json\n{"n":"s.three","d":3}\n'
    )
    events = stream_ndjson_files(spark, str(src))
    q = (
        events.writeStream.format("memory")
        .queryName("tail_out")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    rows = spark.sql("SELECT n, d FROM tail_out ORDER BY n").collect()
    assert [(r.n, r.d) for r in rows] == [("s.one", "1"), ("s.three", "3"), ("s.two", "2")]


def test_stream_dead_letters(spark, tmp_path):
    """The rejected-line channel: unparseable JSON and invalid
    envelopes surface as (line, reason) rows on a second query."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.ndjson").write_text(
        '{"n":"ok.ev","d":1}\n'
        "not json at all\n"
        '{"n":"bad name!","d":2}\n'
        '{"d":3}\n'
    )
    dead = stream_dead_letters(spark, str(src))
    q = (
        dead.writeStream.format("memory").queryName("dead_out")
        .trigger(availableNow=True).start()
    )
    drain(q)
    rows = spark.sql("SELECT line, reason FROM dead_out ORDER BY line").collect()
    assert len(rows) == 3
    reasons = {r.line: r.reason for r in rows}
    assert reasons["not json at all"] == "unparseable JSON"
    assert "{'n':'bad name!','d':2}".replace("'", '"') in reasons
    assert '{"d":3}' in reasons


def test_stream_wrap(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.ndjson").write_text('{"x":1}\n[2,3]\n')
    events = stream_ndjson_files(spark, str(src), wrap="wrapped.ev")
    q = (
        events.writeStream.format("memory").queryName("wrap_out")
        .trigger(availableNow=True).start()
    )
    drain(q)
    rows = spark.sql("SELECT n, d FROM wrap_out ORDER BY d").collect()
    assert [(r.n, r.d) for r in rows] == [("wrapped.ev", "[2,3]"), ("wrapped.ev", '{"x":1}')]


def test_watermark_tumbling_window(spark, tmp_path):
    """Event-time windowed aggregation with watermark — the late-data
    policy the reference lacks entirely (SURVEY §2.6)."""
    src = tmp_path / "in"
    src.mkdir()
    lines = [
        json.dumps({"n": "m.t", "d": v, "t": [{"i": 1700000000 + off, "p": "x", "h": "y"}]})
        for v, off in [(1, 0), (2, 30), (3, 70), (4, 100)]
    ]
    (src / "a.ndjson").write_text("\n".join(lines) + "\n")
    events = stream_ndjson_files(spark, str(src))
    with_ts = events.withColumn(
        "ts", F.timestamp_seconds(F.element_at("t", -1)["i"])
    )
    agg = (
        with_ts.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(F.col("d").cast("double")).alias("total"))
    )
    # complete mode: append-mode windows would hold back the final
    # window until the watermark passes it, which never happens on a
    # finite input.
    q = (
        agg.writeStream.format("memory").queryName("win_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    drain(q)
    rows = spark.sql("SELECT cnt, total FROM win_out ORDER BY win.start").collect()
    # Minute windows are epoch-aligned: 1700000000s is :20 past the
    # boundary, so offsets 0,30 share a window while 70 and 100 land
    # in two different ones.
    assert [(r.cnt, r.total) for r in rows] == [(2, 3.0), (1, 3.0), (1, 4.0)]


def test_drop_duplicates_within_watermark(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    lines = [
        json.dumps({"n": "dup.ev", "d": 1, "t": [{"i": 1700000000, "p": "x", "h": "y"}]}),
        json.dumps({"n": "dup.ev", "d": 1, "t": [{"i": 1700000001, "p": "x", "h": "y"}]}),
        json.dumps({"n": "dup.ev", "d": 2, "t": [{"i": 1700000002, "p": "x", "h": "y"}]}),
    ]
    (src / "a.ndjson").write_text("\n".join(lines) + "\n")
    events = stream_ndjson_files(spark, str(src))
    with_ts = events.withColumn("ts", F.timestamp_seconds(F.element_at("t", -1)["i"]))
    deduped = with_ts.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["n", "d"])
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .trigger(availableNow=True).start()
    )
    drain(q)
    rows = spark.sql("SELECT d FROM dedup_out ORDER BY d").collect()
    assert [r.d for r in rows] == ["1", "2"]


def test_streaming_count_or_time_flushes_full_windows(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    lines = [json.dumps({"n": "s.ev", "d": i}) for i in range(5)]
    (src / "a.ndjson").write_text("\n".join(lines) + "\n")
    events = stream_ndjson_files(spark, str(src))
    windows = streaming_count_or_time(
        events, max_size=2, max_seconds=3600, key_expr=F.col("n")
    )
    q = (
        windows.writeStream.format("memory").queryName("cot_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    # Can't processAllAvailable(): the pending 3600s processing-time
    # timer for the partial buffer keeps the availableNow trigger in a
    # "cleaning up state" loop until the timer fires.  Poll the sink
    # for the two full windows, then stop.
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.sql("SELECT * FROM cot_out").count() >= 4:
            break
        _time.sleep(1)
    q.stop()
    rows = spark.sql("SELECT key, w, n, d FROM cot_out ORDER BY w, d").collect()
    # 5 events, size-2 windows: [0,1],[2,3] flush; the partial [4]
    # stays buffered awaiting its timeout (processing-time semantics).
    assert [(r.w, r.d) for r in rows] == [(0, "0"), (0, "1"), (1, "2"), (1, "3")]


def test_foreachbatch_ndjson_sink(spark, tmp_path):
    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    (src / "a.ndjson").write_text('{"n":"a.b","d":1}\n{"n":"c.d","d":2}\n')
    events = stream_ndjson_files(spark, str(src))

    from cdp_spark.events import serialize_events

    def write_batch(df, epoch_id: int) -> None:
        lines = df.select(serialize_events(df).alias("value"))
        lines.write.mode("append").text(str(out))

    q = events.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    drain(q)
    produced = []
    for part in out.glob("*.txt"):
        produced += [json.loads(l)["n"] for l in part.read_text().splitlines()]
    assert sorted(produced) == ["a.b", "c.d"]


def test_kafka_wrapper_gated(spark):
    """Without the Kafka connector jar, the wrapper raises its
    guidance error instead of an opaque ClassNotFound."""
    from cdp_spark.streaming import stream_kafka_events

    with pytest.raises((RuntimeError, ValueError)) as exc:
        stream_kafka_events(spark, "localhost:9092", topics="t")
    assert "connector" in str(exc.value) or "exactly one" in str(exc.value)

    with pytest.raises(ValueError):
        stream_kafka_events(spark, "localhost:9092")  # neither topic nor pattern


def test_streaming_session_window(spark, tmp_path):
    """Gap-based session windows in streaming (F.session_window) —
    the streaming face of the batch session_gap query: events within
    the gap merge, a gap beyond it opens a new session."""
    src = tmp_path / "in"
    src.mkdir()
    base = 1700000000
    lines = [
        json.dumps({"n": "u1", "d": v, "t": [{"i": base + off, "p": "x", "h": "y"}]})
        for v, off in [(1, 0), (2, 40), (3, 500), (4, 520)]  # gap 60s -> 2 sessions
    ]
    (src / "a.ndjson").write_text("\n".join(lines) + "\n")
    events = stream_ndjson_files(spark, str(src))
    with_ts = events.withColumn("ts", F.timestamp_seconds(F.element_at("t", -1)["i"]))
    agg = (
        with_ts.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "60 seconds").alias("sess"), "n")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory").queryName("sess_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    drain(q)
    rows = spark.sql(
        "SELECT cnt, unix_seconds(sess.start) AS s FROM sess_out ORDER BY s"
    ).collect()
    assert [r.cnt for r in rows] == [2, 2]
    assert rows[0].s == base and rows[1].s == base + 500


def test_streaming_count_or_time_meta_keyed_spans_batches(spark, tmp_path):
    """The keyed scale twin of the DAG runner's stateful window: two
    keys buffer independently across micro-batches (maxFilesPerTrigger
    =1), each flushing when ITS count fills — with flush order (w, i)
    and traces carried through the state round-trip."""
    import time as _time

    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    # 3 files x (2 of key a + 1 of key b): key a fills its 4-window in
    # file 2, key b (3 events total) never fills a 4-window
    for i, fname in enumerate(("a.ndjson", "b.ndjson", "c.ndjson")):
        lines = [
            json.dumps({"n": "ka", "d": i * 2}),
            json.dumps({"n": "ka", "d": i * 2 + 1}),
            json.dumps({"n": "kb", "d": 100 + i}),
        ]
        (src / fname).write_text("\n".join(lines) + "\n")

    events = stream_ndjson_files(spark, str(src), max_files_per_trigger=1)
    flushed = streaming_count_or_time(
        events, max_size=4, max_seconds=3600, key_expr=F.col("n")
    )
    q = (
        flushed.writeStream.format("memory").queryName("cot_meta_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    # Poll the SINK, not query termination: the pending 3600s
    # processing-time timer for key b's partial buffer keeps the
    # availableNow trigger alive long after the full window flushed.
    deadline = _time.time() + 180
    while _time.time() < deadline:
        if spark.sql("SELECT * FROM cot_meta_out").count() >= 4:
            break
        _time.sleep(1)
    q.stop()

    rows = spark.sql(
        "SELECT key, w, i, n, d FROM cot_meta_out ORDER BY key, w, i"
    ).collect()
    # key a flushed exactly one full 4-window; key b (3 events) never
    # filled.  File ingestion order is not deterministic under load,
    # so assert the window SHAPE, not which four of ka's six events
    # arrived first.
    assert all(r.key == "ka" for r in rows)
    assert [(r.w, r.i) for r in rows] == [(0, 0), (0, 1), (0, 2), (0, 3)]
    ds = {r.d for r in rows}
    assert len(ds) == 4 and ds <= {"0", "1", "2", "3", "4", "5"}


def test_streaming_count_only_terminates_under_available_now(spark, tmp_path):
    """max_seconds=0 (pure count windows) must register NoTimeout:
    with ProcessingTimeTimeout the engine keeps scheduling empty
    micro-batches to service potential timers and an AvailableNow
    query NEVER terminates (the r6 stream_keyed_windows hang)."""
    import json as _json

    src = tmp_path / "cot_src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.ndjson", "w") as f:
            for j in range(8):
                f.write(_json.dumps({"n": "ka" if j % 2 else "kb", "d": str(j)}) + "\n")

    events = stream_ndjson_files(spark, str(src), max_files_per_trigger=1)
    flushed = streaming_count_or_time(
        events, max_size=4, max_seconds=0, key_expr=F.col("n")
    )
    q = (
        flushed.writeStream.format("memory").queryName("cot_term_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "AvailableNow count-window stream hung"
    rows = spark.sql("SELECT key, w, i FROM cot_term_out").collect()
    # 24 events, 12 per key, window size 4 -> each key flushes 3 FULL
    # windows; nothing strands in state because counts divide evenly.
    assert len(rows) == 24
    per_key = {}
    for r in rows:
        per_key.setdefault(r.key, set()).add(r.w)
    assert per_key == {"ka": {0, 1, 2}, "kb": {0, 1, 2}}


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: a second query started on the
    SAME checkpoint must resume from the recorded file-source offsets
    — the first batch's events are not reprocessed, new files are —
    so the downstream sink sees every event exactly once.  This is
    the recovery contract the reference cannot offer (its queues are
    at-most-once in-memory buffers; README's persistence example
    delegates durability to Hasura) and Spark provides natively."""
    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    from cdp_spark.events import serialize_events

    def write_batch(df, epoch_id: int) -> None:
        df.select(serialize_events(df).alias("value")).write.mode(
            "append"
        ).text(str(out))

    def run_once() -> None:
        events = stream_ndjson_files(spark, str(src))
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)

    (src / "a.ndjson").write_text('{"n":"ev.1","d":1}\n{"n":"ev.2","d":2}\n')
    run_once()
    # second run: one new file; the first must NOT replay
    (src / "b.ndjson").write_text('{"n":"ev.3","d":3}\n')
    run_once()
    produced = []
    for part in out.glob("*.txt"):
        produced += [json.loads(l)["n"] for l in part.read_text().splitlines()]
    assert sorted(produced) == ["ev.1", "ev.2", "ev.3"]
