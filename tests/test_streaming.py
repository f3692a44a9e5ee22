"""Structured Streaming surface: incremental latest-snapshot ingest
and watermarked windowed aggregation (SURVEY §2.9).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_lakehouse_aws_spark.sources.acid import AcidTable
from dbt_lakehouse_aws_spark.streaming.ingest import (
    incremental_latest_snapshot,
    read_csv_stream,
    windowed_event_counts,
)

SCHEMA = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("val", T.StringType())]
)


def _write_date(root, date, body):
    y, m, d = date
    p = root / f"year={y}" / f"month={m}" / f"day={d}"
    p.mkdir(parents=True, exist_ok=True)
    (p / "data.csv").write_text(body)


def test_incremental_latest_snapshot(spark, tmp_path):
    ingest = tmp_path / "ingest"
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_date(ingest, ("2025", "1", "1"), "id,val\n1,a1\n2,a2\n")
    stream = read_csv_stream(spark, str(ingest), SCHEMA)
    q = incremental_latest_snapshot(stream, out_dir=out, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    got = {(r["id"], r["val"]) for r in AcidTable(spark, out).read().select("id", "val").collect()}
    assert got == {("1", "a1"), ("2", "a2")}

    # a newer ingest date arrives → only its rows survive, and the
    # checkpoint means the old files are NOT re-read
    _write_date(ingest, ("2025", "1", "5"), "id,val\n1,b1\n3,b3\n")
    stream = read_csv_stream(spark, str(ingest), SCHEMA)
    q = incremental_latest_snapshot(stream, out_dir=out, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    got = {(r["id"], r["val"]) for r in AcidTable(spark, out).read().select("id", "val").collect()}
    assert got == {("1", "b1"), ("3", "b3")}

    # 2025-10-2 is newer than 2025-1-5 although its unpadded _ptkey
    # "2025102" sorts below "202515": ingest dates order padded
    _write_date(ingest, ("2025", "10", "2"), "id,val\n4,c4\n")
    stream = read_csv_stream(spark, str(ingest), SCHEMA)
    q = incremental_latest_snapshot(stream, out_dir=out, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    table = AcidTable(spark, out).read()
    assert {(r["id"], r["val"]) for r in table.select("id", "val").collect()} == {("4", "c4")}
    assert "_ingest_date" not in table.columns


def test_stream_fails_on_a_header_out_of_schema_order(spark, tmp_path):
    """A file whose header names the columns in another order fails
    the query; read by position, bob's row would land as id='bob'."""
    from pyspark.errors import StreamingQueryException

    ingest = tmp_path / "ingest"
    _write_date(ingest, ("2025", "1", "1"), "id,name\n1,alice\n")
    _write_date(ingest, ("2025", "6", "1"), "name,id\nbob,2\n")
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("name", T.StringType())]
    )
    rows = []
    q = (
        read_csv_stream(spark, str(ingest), schema)
        .writeStream.foreachBatch(lambda df, _: rows.extend(df.select("id", "name").collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert ("bob", "2") not in {(r["id"], r["name"]) for r in rows}


def test_windowed_event_counts(spark, tmp_path):
    # rate-free deterministic micro-stream via file source
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        ("2025-01-01 10:05:00", "click", 1.0),
        ("2025-01-01 10:40:00", "click", 2.0),
        ("2025-01-01 11:10:00", "view", 5.0),
        ("2025-01-01 13:00:00", "view", 1.0),  # advances watermark past 10-11h
    ]
    (src / "part.csv").write_text(
        "ts,event_type,value\n" + "\n".join(",".join(map(str, r)) for r in rows) + "\n"
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("header", "true").csv(str(src))
    agg = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from wincounts").collect()
    }
    # the 10:00 click window is final (watermark passed): 2 events, 3.0
    assert got[("2025-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2025-01-01 11:00:00", "view")] == (1, 5.0)


def test_sessionize_stateful(spark, tmp_path):
    """Gap-based sessions via applyInPandasWithState: in-batch gap
    splits emit immediately; open sessions emit when the event-time
    timeout fires after the watermark passes last_ts + gap."""
    from dbt_lakehouse_aws_spark.streaming.ingest import sessionize

    src = tmp_path / "sessions"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    header = "ts,user_id,value\n"
    # batch 1: u1 two events (one session), u2 one event, u4 two
    # events separated by > gap (first closes within the batch)
    (src / "f1.csv").write_text(
        header
        + "2025-01-01 10:00:00,1,1.0\n"
        + "2025-01-01 10:10:00,1,2.0\n"
        + "2025-01-01 10:05:00,2,5.0\n"
        + "2025-01-01 10:00:00,4,7.0\n"
        + "2025-01-01 11:30:00,4,1.0\n"
    )
    # batches 2-3: clock-advancing events → watermark passes the
    # open sessions' timeout, firing their emission
    (src / "f2.csv").write_text(header + "2025-01-01 15:00:00,3,1.0\n")
    (src / "f3.csv").write_text(header + "2025-01-01 16:00:00,3,1.0\n")
    # FileStreamSource schedules micro-batches in MTIME order; the
    # three writes above can land within one clock tick, which lets
    # f3 run before (or batch with) f2 and changes which sessions
    # emit. Pin strictly increasing mtimes so batch order is f1,f2,f3.
    import os as _os

    for i, f in enumerate(("f1.csv", "f2.csv", "f3.csv")):
        _os.utime(src / f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(str(src))
    )
    sessions = sessionize(stream, gap="30 minutes", watermark="1 hour")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from sessions_out").collect()
    }
    # Exactly five sessions emit, by three distinct mechanisms:
    assert got == {
        # u4's first closed by the in-batch gap split of batch 1
        (4, "2025-01-01 10:00:00"): (1, 7.0),
        # u1/u2 closed by event-time timeout (watermark from f2/f3
        # passed last_ts + gap)
        (1, "2025-01-01 10:00:00"): (2, 3.0),
        (2, "2025-01-01 10:05:00"): (1, 5.0),
        # u4's second closed by timeout once f3 pushed the watermark
        # to 15:00 (> 11:30 + gap)
        (4, "2025-01-01 11:30:00"): (1, 1.0),
        # u3's first closed by the cross-batch gap split: its 16:00
        # event arrived > gap after 15:00 — session close on next
        # event needs NO watermark progress
        (3, "2025-01-01 15:00:00"): (1, 1.0),
    }
    # u3's 16:00 session is the only one still open (watermark never
    # reached 16:30, and no later u3 event arrived)


def test_sessionize_batch_window_path(spark):
    """The codegen (lag + running-sum) batch path must agree with a
    hand-computed sessionization, including single-event sessions and
    the boundary case gap == threshold (NOT a split: strict >)."""
    from dbt_lakehouse_aws_spark.streaming.ingest import sessionize_batch

    rows = [
        # u1: 3 events, middle gap exactly 30min (no split), then 31min (split)
        ("2025-01-01 10:00:00", 1, 1.0),
        ("2025-01-01 10:30:00", 1, 2.0),
        ("2025-01-01 11:01:00", 1, 4.0),
        # u2: lone event
        ("2025-01-01 09:00:00", 2, 7.0),
    ]
    df = spark.createDataFrame(rows, "ts string, user_id long, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"], r["total_value"])
        for r in sessionize_batch(df, gap="30 minutes").collect()
    }
    assert got == {
        (1, "2025-01-01 10:00:00"): ("2025-01-01 10:30:00", 2, 3.0),
        (1, "2025-01-01 11:01:00"): ("2025-01-01 11:01:00", 1, 4.0),
        (2, "2025-01-01 09:00:00"): ("2025-01-01 09:00:00", 1, 7.0),
    }


def test_stream_exact_dedup(spark, tmp_path):
    """First arrival of each content hash survives; in-watermark
    duplicates (same or later batch) are dropped."""
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_exact_dedup

    src = tmp_path / "docs"
    src.mkdir()
    header = "ts,doc_id,text\n"
    (src / "f1.csv").write_text(
        header
        + "2025-01-01 10:00:00,1,hello world\n"
        + "2025-01-01 10:01:00,2,hello world\n"   # dup of doc 1, same batch
        + "2025-01-01 10:02:00,3,something else\n"
    )
    (src / "f2.csv").write_text(
        header + "2025-01-01 10:30:00,4,hello world\n"  # dup, later batch, in watermark
        + "2025-01-01 10:31:00,5,brand new\n"
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(str(src))
    )
    q = (
        stream_exact_dedup(stream, content_cols=("text",), watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    kept = sorted(
        r["doc_id"] for r in spark.sql("select doc_id from dedup_out").collect()
    )
    assert kept == [1, 3, 5]


def test_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream range join: views within the hour
    after each click pair up; outside-window views don't."""
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_interval_join

    cdir, vdir = tmp_path / "clicks", tmp_path / "views"
    cdir.mkdir(); vdir.mkdir()
    (cdir / "c1.csv").write_text(
        "click_ts,user_id,click_id\n"
        + "2025-01-01 10:00:00,1,100\n"
        + "2025-01-01 12:00:00,2,200\n"
    )
    (vdir / "v1.csv").write_text(
        "view_ts,user_id,view_id\n"
        + "2025-01-01 10:30:00,1,900\n"   # in window of click 100
        + "2025-01-01 11:30:00,1,901\n"   # past the hour → no pair
        + "2025-01-01 12:00:00,2,902\n"   # not strictly after → no pair
        + "2025-01-01 12:59:00,2,903\n"   # in window of click 200
    )
    def src(d, tscol):
        schema = T.StructType(
            [
                T.StructField(tscol, T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField(tscol.replace("_ts", "_id"), T.LongType()),
            ]
        )
        return spark.readStream.schema(schema).option("header", "true").csv(str(d))

    joined = stream_interval_join(
        src(cdir, "click_ts"), src(vdir, "view_ts"),
        on="user_id", left_ts="click_ts", right_ts="view_ts",
        upper="1 hour", watermark="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("select click_id, view_id from ssj_out").collect()
    }
    assert got == {(100, 900), (200, 903)}


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static broadcast join: each micro-batch row is enriched
    from the batch dimension with no stream-side shuffle or state."""
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_static_enrich

    src = tmp_path / "ev"
    src.mkdir()
    (src / "b.csv").write_text("id,dim_key\n1,a\n2,b\n3,zz\n")
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("dim_key", T.StringType()),
    ])
    stream = spark.readStream.schema(schema).option("header", "true").csv(str(src))
    dim = spark.createDataFrame([("a", "Alpha"), ("b", "Beta")], "dim_key string, label string")
    q = (
        stream_static_enrich(stream, dim, "dim_key")
        .writeStream.format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["id"], r["label"]) for r in spark.sql("SELECT * FROM enriched").collect()}
    assert got == {("1", "Alpha"), ("2", "Beta"), ("3", None)}


def test_running_user_totals_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas lifetime totals: state carries
    across micro-batches (f2's emission includes f1's events) and
    each batch emits the updated row for touched keys only.

    The TWS python runner needs protobuf (not in this container) —
    the operator is exercised end-to-end wherever protobuf exists.
    """
    pytest.importorskip("google.protobuf")
    from dbt_lakehouse_aws_spark.streaming.ingest import running_user_totals

    src = tmp_path / "twst"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    header = "user_id,value\n"
    (src / "f1.csv").write_text(header + "1,1.0\n1,2.0\n2,5.0\n")
    (src / "f2.csv").write_text(header + "1,4.0\n")
    import os as _os

    for i, f in enumerate(("f1.csv", "f2.csv")):
        _os.utime(src / f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(str(src))
        )
        totals = running_user_totals(stream)
        q = (
            totals.writeStream.format("memory")
            .queryName("twst_out")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.sql("select * from twst_out").collect()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    emitted = {(r["user_id"], r["n_events"], r["total_value"]) for r in rows}
    assert (1, 2, 3.0) in emitted  # batch 1: u1 has 2 events
    assert (2, 1, 5.0) in emitted  # batch 1: u2
    assert (1, 3, 7.0) in emitted  # batch 2 folded ONTO batch-1 state
    # u2 untouched in batch 2 → exactly these three emissions
    assert len(emitted) == 3


def test_stream_ewma_matches_batch_operator(spark, tmp_path):
    """The stateful streaming EWMA, fed two micro-batches, converges
    to exactly the batch ewma_last value over the union of events."""
    from dbt_lakehouse_aws_spark.operators.temporal import ewma_last
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_ewma

    src = tmp_path / "ewma"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    header = "ts,user_id,value\n"
    (src / "f1.csv").write_text(
        header
        + "2025-01-01 10:00:00,1,1.0\n"
        + "2025-01-01 10:01:00,1,5.0\n"
        + "2025-01-01 10:00:00,2,7.0\n"
    )
    (src / "f2.csv").write_text(
        header
        + "2025-01-01 10:02:00,1,3.0\n"
        + "2025-01-01 10:03:00,2,2.0\n"
    )
    import os as _os

    for i, f in enumerate(("f1.csv", "f2.csv")):
        _os.utime(src / f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src), header=True)
    )
    q = (
        stream_ewma(stream, alpha=0.3)
        .writeStream.format("memory")
        .queryName("ewma_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user = final state
    updates = spark.sql("SELECT * FROM ewma_sink").collect()
    final = {}
    for r in updates:  # memory sink appends per batch; later rows win
        final[r["user_id"]] = (r["ewma"], r["n_events"])

    batch = spark.createDataFrame(
        [
            ("2025-01-01 10:00:00", 1, 1.0),
            ("2025-01-01 10:01:00", 1, 5.0),
            ("2025-01-01 10:02:00", 1, 3.0),
            ("2025-01-01 10:00:00", 2, 7.0),
            ("2025-01-01 10:03:00", 2, 2.0),
        ],
        "ts string, user_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expect = {
        r["user_id"]: (r["ewma"], r["n_events"])
        for r in ewma_last(batch, key_cols=["user_id"], alpha=0.3).collect()
    }
    for u in (1, 2):
        assert abs(final[u][0] - expect[u][0]) < 1e-6
        assert final[u][1] == expect[u][1]


def test_stream_ewma_string_key_and_tiebreak(spark, tmp_path):
    """ADVICE r1: the output key field derives its type from the
    input schema (not hardcoded long), and equal-timestamp rows fold
    in tiebreak order, matching ewma_last's deterministic sort."""
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_ewma

    src = tmp_path / "ewma_str"
    src.mkdir()
    # physical row order is the REVERSE of the tiebreak order
    (src / "f1.csv").write_text(
        "ts,user,seq,value\n"
        + "2025-01-01 10:00:00,alice,2,5.0\n"
        + "2025-01-01 10:00:00,alice,1,1.0\n"
        + "2025-01-01 10:00:00,bob,1,7.0\n"
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user", T.StringType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).csv(str(src), header=True)
    out = stream_ewma(stream, key_col="user", alpha=0.3, tiebreak_cols=["seq"])
    assert dict(out.dtypes)["user"] == "string"
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_str_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user"]: (r["ewma"], r["n_events"])
        for r in spark.sql("SELECT * FROM ewma_str_sink").collect()
    }
    # alice folds 1.0 then 5.0: num = 1*0.7 + 5 = 5.7, wsum = 1.7
    assert got["alice"][1] == 2 and abs(got["alice"][0] - 5.7 / 1.7) < 1e-12
    assert got["bob"] == (7.0, 1)


def test_read_avro_stream_decodes_landed_files(spark, tmp_path):
    """Streaming Avro ingest: two containers landed before start are
    both processed under Trigger.AvailableNow; a file with a DRIFTED
    writer schema (extra field, one missing) still decodes by name —
    missing → NULL, extra ignored."""
    from dbt_lakehouse_aws_spark.sources.avro_io import write_container
    from dbt_lakehouse_aws_spark.streaming.ingest import read_avro_stream

    base_schema = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "kind", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
    ]}
    drift_schema = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "score", "type": "double"},          # kind missing
        {"name": "extra", "type": "string"},          # new field
    ]}
    land = tmp_path / "landing"
    land.mkdir()
    (land / "a.avro").write_bytes(write_container(
        base_schema,
        [{"id": 1, "kind": "x", "score": 0.5}, {"id": 2, "kind": None, "score": 1.5}],
        codec="deflate"))
    (land / "b.avro").write_bytes(write_container(
        drift_schema, [{"id": 3, "score": 2.5, "extra": "ignored"}]))

    stream = read_avro_stream(spark, str(land))
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("avro_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["id"]: r for r in spark.sql("SELECT * FROM avro_stream").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["kind"] == "x" and rows[2]["kind"] is None
    assert rows[3]["kind"] is None          # drifted file: field absent → NULL
    assert rows[3]["score"] == 2.5
    assert "extra" not in stream.columns    # schema fixed at stream start


def test_stream_with_checks_quarantines_failing_batches(spark, tmp_path):
    """Two availableNow passes over a landing dir: the clean batch
    reaches the sink; the later batch with a duplicate key + NULL id
    is quarantined whole (data + failing-check report) and the sink
    stays uncontaminated."""
    import json

    from dbt_lakehouse_aws_spark.streaming.ingest import stream_with_checks

    land = tmp_path / "land"
    land.mkdir()
    sink_dir = tmp_path / "good"
    quarantine = tmp_path / "bad"
    schema = "id bigint, v double"

    def run_once():
        stream = spark.readStream.schema(schema).json(str(land))
        q = (
            stream_with_checks(
                stream,
                {"not_null": ["id"], "unique": [["id"]]},
                sink=lambda b: b.write.mode("append").parquet(str(sink_dir)),
                quarantine_dir=str(quarantine),
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (land / "a.json").write_text("\n".join(
        json.dumps({"id": i, "v": i / 2}) for i in range(5)))
    run_once()
    assert spark.read.parquet(str(sink_dir)).count() == 5

    (land / "b.json").write_text("\n".join([
        json.dumps({"id": 7, "v": 1.0}),
        json.dumps({"id": 7, "v": 2.0}),      # duplicate key
        json.dumps({"id": None, "v": 3.0}),   # NULL id
    ]))
    run_once()
    assert spark.read.parquet(str(sink_dir)).count() == 5  # sink unchanged
    bad = spark.read.parquet(str(quarantine / "data"))
    assert bad.count() == 3 and "_batch_id" in bad.columns
    rep = {r["check"]: r["failed_rows"]
           for r in spark.read.parquet(str(quarantine / "report")).collect()
           if not r["passed"]}
    assert rep == {"not_null": 1, "unique": 2}


def test_stream_dedup_into_index(spark, tmp_path):
    """Two landed micro-batches: batch-2 docs that near/exact-dup
    batch-1 content never reach the survivors table; the persisted
    index carries both batches' survivors."""
    import json as _json

    from dbt_lakehouse_aws_spark.llmops.incremental_dedup import MinHashDedupIndex
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_dedup_into_index

    src = tmp_path / "docs"
    src.mkdir()
    idx_path = str(tmp_path / "index")
    surv_path = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def land(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run():
        stream = spark.readStream.schema(schema).json(str(src))
        q = stream_dedup_into_index(
            stream,
            index_path=idx_path,
            survivors_path=surv_path,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    land(
        "b1.json",
        [
            {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
            {"doc_id": 2, "text": "completely different text about spark engines here now"},
        ],
    )
    run()
    surv = {r["doc_id"] for r in AcidTable(spark, surv_path).read().collect()}
    assert surv == {1, 2}

    land(
        "b2.json",
        [
            {"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog"},
            {"doc_id": 11, "text": "a genuinely new document on window aggregation"},
        ],
    )
    run()
    surv = {r["doc_id"] for r in AcidTable(spark, surv_path).read().collect()}
    assert surv == {1, 2, 11}  # 10 rejected as a history dup
    idx = MinHashDedupIndex(spark, idx_path)
    assert idx.index_size() == 3


def test_stream_pit_enrich_as_was(spark, tmp_path):
    """Arriving facts pick the dimension row valid at their OWN
    timestamp — a late event maps to the historical tier, not the
    current one; keys outside every range null-pad."""
    import json as _json

    from dbt_lakehouse_aws_spark.streaming.ingest import stream_pit_enrich

    dim = spark.createDataFrame(
        [
            (1, "bronze", "2024-01-01", "2024-01-31"),
            (1, "gold", "2024-02-01", "2024-12-31"),
        ],
        "user_id long, tier string, valid_from string, valid_to string",
    ).select(
        "user_id",
        "tier",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
    )
    src = tmp_path / "facts"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for r in [
            {"fid": 100, "user_id": 1, "day": "2024-01-15"},  # late → bronze
            {"fid": 101, "user_id": 1, "day": "2024-03-01"},  # current → gold
            {"fid": 102, "user_id": 2, "day": "2024-03-01"},  # unknown key
        ]:
            f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("fid long, user_id long, day string")
        .json(str(src))
        .withColumn("day", F.col("day").cast("date"))
    )
    out = stream_pit_enrich(stream, dim, keys=["user_id"], at_col="day")
    q = (
        out.writeStream.format("memory")
        .queryName("pit_enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["fid"]: r["tier"] for r in spark.sql("SELECT * FROM pit_enriched").collect()
    }
    assert got == {100: "bronze", 101: "gold", 102: None}


def test_stream_quarantine_row_split_and_replay(spark, tmp_path):
    """Rows split row-by-row (multi-violation rows name EVERY broken
    constraint); both sinks are exactly-once — a replayed batch 0 is
    skipped by each table's txn watermark."""
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.streaming.ingest import (
        stream_append_with_quarantine,
    )

    src = tmp_path / "src"
    rows = spark.createDataFrame(
        [(1, "ok", 10), (2, "bad", 10), (3, "ok", 7), (4, "bad", 14)],
        "id long, kind string, v long",
    )
    rows.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(rows.schema).parquet(str(src))
    q = stream_append_with_quarantine(
        stream,
        table_path=str(tmp_path / "main"),
        quarantine_path=str(tmp_path / "quar"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        constraints={"kind_ok": "kind != 'bad'", "v_ok": "v % 7 != 0"},
    )
    q.awaitTermination(300)

    main = AcidTable(spark, str(tmp_path / "main"))
    quar = AcidTable(spark, str(tmp_path / "quar"))
    assert {r["id"] for r in main.read().collect()} == {1}
    got = {r["id"]: r["violated"] for r in quar.read().collect()}
    assert got == {2: "kind_ok", 3: "v_ok", 4: "kind_ok,v_ok"}

    # replay batch 0 through each table: no-ops
    for app, t in (
        (f"quarantine_main:{tmp_path / 'ckpt'}", main),
        (f"quarantine_bad:{tmp_path / 'ckpt'}", quar),
    ):
        t.write(t.read(), mode="append", txn=(app, 0))
    n1, n2 = main.read().count(), quar.read().count()
    assert (n1, n2) == (1, 3)


def test_stream_replace_where_replaces_each_batch_slice(spark, tmp_path):
    """Each micro-batch replaces exactly the partitions it carries,
    whatever the value: a quote, a backslash inside or at the end of
    the value, or NULL. The ``z`` partition is never re-delivered."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_lakehouse_aws_spark.streaming.ingest import stream_replace_where_into_acid

    src = tmp_path / "src"
    src.mkdir()
    parts = ["o'neil", "a\\b", "c\\", None]
    batches = [[(p, 0) for p in [*parts, "z"]]] + [[(p, 1), (p, 2)] for p in parts]
    for i, rows in enumerate(batches):
        f = src / f"b{i}.parquet"
        cols = {"d": pa.array([r[0] for r in rows], pa.string()), "v": [r[1] for r in rows]}
        pq.write_table(pa.table(cols), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema("d string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_replace_where_into_acid(
        stream,
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        partition_col="d",
    )
    q.awaitTermination(300)
    assert q.exception() is None
    table = AcidTable(spark, str(tmp_path / "tbl"))
    got = sorted((r["d"] or "", r["v"]) for r in table.read().collect())
    want = sorted([(p or "", v) for p in parts for v in (1, 2)] + [("z", 0)])
    assert got == want
    assert len(table.history()) == len(batches)
