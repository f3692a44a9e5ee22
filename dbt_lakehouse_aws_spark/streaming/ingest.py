"""Incremental ingest via Structured Streaming (SURVEY §2.9).

The reference is batch-only; its closest streaming-shaped semantics
is the latest-snapshot-wins refresh (S5/S6), re-read in full every
``dbt build``. Here the same logical table maintains itself
incrementally: a file-source stream over the ``year=/month=/day=``
ingest tree, ``Trigger.AvailableNow`` (process everything new, then
stop — the scheduled-batch pattern), and a ``foreachBatch`` merge
that keeps only the rows of the newest ingest date.

Scale notes: the file source tracks processed files in the
checkpoint, so each run reads only new ingest dates — at 100 TB the
per-run cost is O(new data), not O(table). Event-time watermarking
appears in :func:`windowed_event_counts` — the stateful-aggregation
shape a live events feed needs (no reference counterpart; provided
as the engine's streaming surface).

The ACID sinks hand each micro-batch to one
:class:`~dbt_lakehouse_aws_spark.sources.acid.AcidTable` call, and
the table owns the landing protocol: it creates itself on the first
batch, and the exactly-once sinks pass ``txn=(app, batch_id)`` (the
app id derived from the checkpoint location, Spark's own identity
for a restarted query), which the table records in the batch's
commit and checks before landing a replay. No sink keeps its own
existence or replay check.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_lakehouse_aws_spark.sources.reader import ingest_date_col, with_path_metadata
from dbt_lakehouse_aws_spark.sources.snapshots import latest_snapshot


def read_csv_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    sep: str = ",",
) -> DataFrame:
    """Streaming analogue of ``read_csv_source``: all-string schema
    must be supplied (streams can't infer), path metadata derived
    the same way as batch (S2-S4).

    Every file has a header row, and each header must name the
    schema's columns in the schema's order: a file whose header
    differs fails the query instead of being read by position into
    the wrong columns. A stream cannot union header groups by name as
    the batch reader does, because it fixes one schema up front."""
    df = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("enforceSchema", "false")
        .option("sep", sep)
        .option("recursiveFileLookup", "true")
        .csv(path)
        .select("*", "_metadata")
    )
    return with_path_metadata(df).drop("_metadata")


def incremental_latest_snapshot(
    stream: DataFrame,
    *,
    out_dir: str,
    checkpoint_dir: str,
):
    """Maintain the S5 'latest snapshot' table incrementally, as an
    ACID table at ``out_dir``.

    Each micro-batch unions new rows with the current snapshot and
    keeps, through the batch ``latest_snapshot`` operator, only the
    rows of the newest ingest date — ordered by the padded date
    (``reader.ingest_date_col``), the order the batch reader's
    ``mode="latest"`` uses, so the table always equals that read of
    the full history, at O(new files) incremental cost. The
    result replaces the table in one overwrite commit; the batch
    reads the current snapshot directly, since its data files are
    immutable and outlive the commit that unreferences them.
    """
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    app_id = f"latest_snapshot:{checkpoint_dir}"

    def merge(batch: DataFrame, batch_id: int) -> None:
        table = AcidTable(batch.sparkSession, out_dir)
        merged = batch
        if table.exists():
            merged = batch.unionByName(table.read(), allowMissingColumns=True)
        dated = merged.withColumn("_ingest_date", ingest_date_col())
        latest = latest_snapshot(dated, "_ingest_date").drop("_ingest_date")
        table.write(latest, mode="overwrite", txn=(app_id, batch_id))

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream.

    Late rows beyond the watermark are dropped and their window
    state reclaimed — bounded state at any scale. Output mode
    'append' emits each window once it's final.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization via
    ``applyInPandasWithState`` (the escape hatch for stream semantics
    Spark's built-in windows can't express — a session ends only
    when its user goes quiet for ``gap``).

    State per user: {session start, last event ts, event count,
    value sum}. Each micro-batch folds its (Arrow-batched) rows into
    the state; a session is EMITTED when the event-time timeout
    fires (watermark passed last_ts + gap), so results are final and
    state is bounded — per-key state, not per-event, at any scale.

    Batch DataFrames work too (one pass, every session emitted at
    the end) — handy for tests and backfills.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = _duration_ms(gap)
    out_schema = (
        f"{key_col} long, session_start timestamp, session_end timestamp,"
        " n_events long, total_value double"
    )
    state_schema = "start long, last long, n long, total double"

    def fold(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start": [pd.Timestamp(start, unit="ms")],
                    "session_end": [pd.Timestamp(last, unit="ms")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        start = last = None
        n, total = 0, 0.0
        if state.exists:
            start, last, n, total = state.get
        closed = []
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        for ts, value in zip(rows[ts_col], rows["value"]):
            ms = int(ts.value // 1_000_000)
            if last is not None and ms - last > gap_ms:
                closed.append((start, last, n, total))
                start, last, n, total = ms, ms, 1, float(value)
            else:
                start = ms if start is None else start
                last, n, total = ms, n + 1, total + float(value)
        state.update((start, last, n, total))
        state.setTimeoutTimestamp(last + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="ms") for s, _, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="ms") for _, e, _, _ in closed],
                    "n_events": [n for _, _, n, _ in closed],
                    "total_value": [t for _, _, _, t in closed],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fold, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    upper: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``operators.temporal.range_join``: right
    rows in ``(left_ts, left_ts + upper]`` per key, as a watermarked
    stream-stream inner join.

    The time-range predicate is what bounds the join state: with
    watermarks on BOTH sides, Spark evicts buffered left rows once
    the right watermark passes ``left_ts + upper`` (and vice versa),
    so state is O(events per window), not O(stream). Timestamp
    column names must differ across sides (rename before calling) —
    the range condition needs to address both."""
    n, unit = upper.split()
    cond = (
        (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {int(n)} {unit.upper()}"))
    )
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    return l.join(r, (l[on] == r[on]) & cond, "inner").drop(r[on])


def stream_exact_dedup(
    docs: DataFrame,
    *,
    content_cols: tuple[str, ...] = ("text",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``llmops.dedup.exact_dedup``: keep the first
    arrival of each content hash in a document stream.

    ``dropDuplicatesWithinWatermark`` (not ``dropDuplicates``) is the
    scale choice: plain stream dedup state grows forever — every hash
    ever seen — while the watermark variant evicts state older than
    the watermark, so memory is O(hashes per window) at any corpus
    size. The trade: a duplicate arriving later than ``watermark``
    after its first copy is re-admitted — for ingest feeds, where
    duplicates cluster in time (re-sent batches, crawler revisits),
    that's the right bound; a periodic batch ``exact_dedup`` pass
    sweeps stragglers.

    Dedup key is ``xxhash64`` of the content columns — 8-byte state
    entries instead of full documents.
    """
    hashed = docs.withColumn("content_hash", F.xxhash64(*[F.col(c) for c in content_cols]))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def sessionize_batch(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Batch counterpart of :func:`sessionize` — same session
    semantics (a session ends when its key goes quiet for ``gap``)
    as pure window functions, the Spark-first shape for backfills:

    1. ``lag(ts)`` per key → a new-session flag where the gap from
       the previous event exceeds ``gap`` (interval comparison on
       the raw timestamps — no epoch truncation);
    2. running ``sum`` of the flag → a per-key session ordinal;
    3. group-by (key, ordinal) → start/end/count/value.

    Everything stays in whole-stage codegen (no UDF). One shuffle:
    both windows share the ``partitionBy(key) orderBy(ts)`` sort,
    and partial aggregation shrinks the group-by's second exchange
    to one row per session — at 100 TB the cost is a single
    repartition of events by key plus an in-partition sort.

    ``order_cols`` appends tie-break columns to the window order for
    keys with duplicate timestamps.
    """
    n, unit = gap.split()
    gap_interval = F.expr(f"INTERVAL {int(n)} {unit.upper()}")
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    prev = F.lag(ts_col).over(w)
    new_sess = F.when(F.col(ts_col) > prev + gap_interval, F.lit(1)).otherwise(F.lit(0))
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("_sess", F.sum(new_sess).over(running))
        .groupBy(key_col, "_sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .drop("_sess")
    )


def _duration_ms(spec: str) -> int:
    n, unit = spec.split()
    factor = {"second": 1_000, "seconds": 1_000, "minute": 60_000,
              "minutes": 60_000, "hour": 3_600_000, "hours": 3_600_000}[unit]
    return int(n) * factor


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    *,
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension.

    The static side is re-evaluated per micro-batch, so a dimension
    that is itself a table-read picks up upstream refreshes without
    restarting the query — the streaming analogue of the reference's
    J1/J2 ID-map enrichment. The dimension is broadcast: stream-static
    equi-joins need no watermark and keep NO state (unlike
    stream-stream joins), so the stream side never shuffles.
    """
    return stream.join(F.broadcast(dim), on, how)


def stream_merge_into_acid(
    stream: DataFrame,
    *,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str | None = None,
):
    """Streaming incremental refresh into the ACID table layer
    (sources/acid.py): ``Trigger.AvailableNow`` + per-micro-batch
    transactional ``MERGE INTO``. Each batch is a copy-on-write
    commit touching only the files that hold matched keys (the first
    batch creates the table), concurrent readers keep their
    snapshot, and the table's manifest history doubles as the
    streaming audit log (one MERGE commit per batch).

    Within a batch, ``order_col`` picks the surviving row per key
    (latest wins); without it duplicates collapse arbitrarily.

    Exactly-once, TWO layers: the merge is idempotent (replaying a
    batch re-replaces the same keys with the same rows), AND each
    batch's (app, batch_id) is recorded in the SAME atomic commit as
    its data — the Delta idempotent-writer protocol — so the table
    skips a replayed batch before running any of the merge.
    """
    from pyspark.sql import Window

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    app_id = f"stream_merge:{checkpoint_dir}"

    def merge(batch: DataFrame, batch_id: int) -> None:
        updates = batch
        if order_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
            updates = (
                updates.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            updates = updates.dropDuplicates(keys)
        AcidTable(batch.sparkSession, table_path).merge(
            updates, keys, txn=(app_id, batch_id)
        )

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_append_into_acid(
    stream: DataFrame,
    *,
    table_path: str,
    checkpoint_dir: str,
):
    """Exactly-once streaming APPEND into the ACID table — the case
    merge-idempotency arguments do NOT cover: replaying an append
    would duplicate rows. Each micro-batch commits its rows and its
    (app, batch_id) in ONE atomic manifest entry (sources/acid.py
    txn protocol); on restart/replay the table recognises a batch
    that already landed and returns before touching data. Audit
    trail: one WRITE-append commit per batch in the table history."""
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    app_id = f"stream_append:{checkpoint_dir}"

    def append(batch: DataFrame, batch_id: int) -> None:
        AcidTable(batch.sparkSession, table_path).write(
            batch, mode="append", collect_stats=False, txn=(app_id, batch_id)
        )

    return (
        stream.writeStream.foreachBatch(append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def running_user_totals(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Incrementally-maintained per-key lifetime aggregate on the
    ``transformWithStateInPandas`` API (Spark 4's arbitrary-state
    successor to ``applyInPandasWithState``): a ``ValueState`` holds
    (n_events, total_value) per key; every micro-batch folds its
    Arrow rows into the state and emits the updated row.

    This is the streaming materialization of an aggregate table —
    what the reference's "incremental materializations" future-work
    section gestures at — with O(keys) state, no reprocessing of
    history, and typed state the runtime can checkpoint/restore
    (RocksDB state store provider required). Use it over windowed
    aggregation when totals are lifetime (no watermark can retire
    the state) but keys are bounded.

    Runtime deps: the transformWithState Python runner imports
    ``google.protobuf`` (state-server protocol). This container
    doesn't ship protobuf, so the e2e test auto-skips here; the
    operator itself is plain public API and runs wherever pyspark's
    declared deps are installed.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = f"{key_col} long, n_events long, total_value double"

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += int(len(pdf))
                total += float(pdf[value_col].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_Totals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_ewma(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Streaming exponentially-weighted value state per key
    (``applyInPandasWithState``): the batch :func:`~...operators.
    temporal.ewma_last` recurrence carried across micro-batches.

    State is THREE doubles per key — numerator ``Σ(1−α)^(N−i)·v_i``,
    weight sum ``Σ(1−α)^(N−i)``, and count — updated per event as
    ``num·(1−α)+v`` / ``wsum·(1−α)+1``; the emitted
    ``num/wsum`` is exactly the batch operator's adjust=True EWMA, so
    the two paths cross-check bit-for-bit on the same data. Bounded
    state, no timeline buffering, any corpus size.

    Stream-only (``applyInPandasWithState`` rejects batch plans);
    each micro-batch emits the key's updated EWMA (update output
    mode). The batch twin for one-shot data is ``ewma_last``.

    ``tiebreak_cols`` break equal-timestamp ordering within a
    micro-batch (mirroring ``ewma_last``'s deterministic sort) —
    without them, ts collisions fold in arrival order and the
    claimed batch equivalence breaks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, ewma double, n_events long"
    state_schema = "num double, wsum double, n long"
    decay = 1.0 - alpha
    sort_cols = [ts_col, *tiebreak_cols]

    def fold(key, pdfs, state: GroupState):
        num, wsum, n = (0.0, 0.0, 0) if not state.exists else state.get
        rows = pd.concat(list(pdfs)).sort_values(sort_cols)
        for v in rows[value_col]:
            num = num * decay + float(v)
            wsum = wsum * decay + 1.0
            n += 1
        state.update((num, wsum, n))
        yield pd.DataFrame(
            {key_col: [key[0]], "ewma": [num / wsum], "n_events": [n]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_avro_stream(
    spark: SparkSession,
    path: str,
    *,
    schema_file: str | None = None,
) -> DataFrame:
    """Streaming ingest of an Avro landing directory (SURVEY §2.9 ×
    the S22 Avro source): a ``binaryFile`` file-source stream ships
    each newly-landed ``.avro`` container to an executor task, which
    decodes its blocks with the pure-Python codec
    (sources/avro_io.py) via ``mapInArrow`` — the same
    decode-in-tasks shape as the batch :func:`~dbt_lakehouse_aws_spark.
    sources.avro_io.read_avro`, now with checkpoint-tracked file
    progress (each run pays O(new files), never O(directory)).

    The output schema is fixed at stream start from ``schema_file``
    (or the first ``.avro`` file already present): file-source
    streams need a static schema; files whose writer schema later
    drifts still decode by field name (missing fields → NULL,
    extra fields ignored) — the same union-by-name posture as the
    schema-drift CSV ingester.
    """
    import glob as _glob
    import json as _json
    import os

    import pyarrow as pa

    from dbt_lakehouse_aws_spark.sources.avro_io import _header_end, read_container

    probe = schema_file or next(
        iter(sorted(_glob.glob(os.path.join(path, "**", "*.avro"), recursive=True))),
        None,
    )
    if probe is None:
        raise FileNotFoundError(
            f"no .avro file under {path} to fix the stream schema; "
            "pass schema_file= explicitly"
        )
    with open(probe, "rb") as fh:
        head = fh.read()
    schema, _ = read_container(head[: _header_end(head)])

    type_pairs = {
        "boolean": (T.BooleanType(), pa.bool_()),
        "int": (T.IntegerType(), pa.int32()),
        "long": (T.LongType(), pa.int64()),
        "float": (T.FloatType(), pa.float32()),
        "double": (T.DoubleType(), pa.float64()),
        "bytes": (T.BinaryType(), pa.binary()),
        "string": (T.StringType(), pa.string()),
    }

    def field_type(ft):
        if isinstance(ft, list):
            non_null = [b for b in ft if b != "null"]
            if len(non_null) == 1:
                return field_type(non_null[0])
            return type_pairs["string"]
        if isinstance(ft, dict):
            return type_pairs["string"]
        return type_pairs.get(ft, type_pairs["string"])

    fields = schema["fields"]
    resolved = [(f["name"], *field_type(f["type"])) for f in fields]
    out_schema = T.StructType([T.StructField(n, st) for n, st, _ in resolved])
    pa_schema = pa.schema([pa.field(n, at) for n, _, at in resolved])
    names = [f["name"] for f in fields]
    complex_names = {
        f["name"]
        for f in fields
        if isinstance(f["type"], dict)
        or (isinstance(f["type"], list) and len([b for b in f["type"] if b != "null"]) > 1)
    }

    def decode_batches(batches):
        for batch in batches:
            for content in batch.column("content").to_pylist():
                _schema, records = read_container(content)
                cols = {}
                for n in names:
                    vals = [rec.get(n) for rec in records]
                    if n in complex_names:
                        vals = [None if v is None else _json.dumps(v) for v in vals]
                    cols[n] = vals
                yield pa.RecordBatch.from_pydict(cols, schema=pa_schema)

    # streaming sources require an explicit schema; binaryFile's is fixed
    binary_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    scan = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )
    return scan.mapInArrow(decode_batches, out_schema)


def stream_with_checks(
    stream_df: DataFrame,
    spec: dict,
    *,
    sink: "callable",
    quarantine_dir: str,
    model: str = "stream",
):
    """Streaming data-quality gate (the checks layer × §2.9): every
    micro-batch runs the dbt-style check ``spec``
    (plans/checks.py::run_checks) BEFORE landing. Passing batches go
    to ``sink(batch_df)``; failing batches are quarantined whole —
    written as parquet under ``quarantine_dir/data`` with a
    ``_batch_id`` column, alongside the failing check report under
    ``quarantine_dir/report`` — instead of poisoning the sink. The
    stream keeps running either way: bad data is a data problem, not
    an outage (dbt-build semantics stop a BATCH dag; a stream's
    equivalent is quarantine-and-continue).

    Returns a ``DataStreamWriter`` (caller picks trigger/checkpoint).
    Scale: the check aggregates are the same single-scan conditional
    aggregates as the batch path — per micro-batch cost is one pass;
    quarantine writes only happen on failure.
    """
    import os

    from dbt_lakehouse_aws_spark.plans.checks import run_checks

    def process(batch: DataFrame, batch_id: int) -> None:
        report = run_checks(batch, spec, model=model)
        rows = report.collect()
        if any(not r["passed"] for r in rows):
            batch.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
                os.path.join(quarantine_dir, "data")
            )
            report.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
                os.path.join(quarantine_dir, "report")
            )
        else:
            sink(batch)

    return stream_df.writeStream.foreachBatch(process)


def stream_dedup_into_index(
    stream: DataFrame,
    *,
    index_path: str,
    survivors_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.5,
    num_hashes: int = 32,
    num_bands: int = 8,
):
    """Streaming corpus ingestion with dedup-against-history: each
    micro-batch runs through
    :class:`~dbt_lakehouse_aws_spark.llmops.incremental_dedup.MinHashDedupIndex`
    — new docs are checked against every previously accepted doc via
    the persisted LSH band index, batch-internal dups collapse to one
    survivor, and the survivors land in their own ACID table, all
    before downstream consumers see a row. This is the landing-zone
    shape a continuously-crawled corpus needs: quarantine-by-dedup at
    ingest time instead of corpus-wide rescans later.

    Crash safety: Spark's checkpoint replays an unacknowledged batch;
    both writes are ACID commits, and re-running a batch re-matches
    the same dups (its survivors are already indexed, so replayed
    docs dedup against *themselves* — re-appending band rows for an
    already-indexed doc_id is harmless for candidate generation,
    dup-of-self pairs are filtered by ``id != id``, and the survivors
    table merge is keyed so rows don't duplicate).
    """
    from dbt_lakehouse_aws_spark.llmops.incremental_dedup import MinHashDedupIndex
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    def dedup_batch(batch: DataFrame, _batch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        idx = MinHashDedupIndex(
            spark,
            index_path,
            id_col=id_col,
            text_col=text_col,
            est_threshold=est_threshold,
            num_hashes=num_hashes,
            num_bands=num_bands,
        )
        result = idx.ingest_batch(batch.localCheckpoint(eager=True))
        AcidTable(spark, survivors_path).merge(result.survivors, [id_col])

    return (
        stream.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_pit_enrich(
    stream: DataFrame,
    dim: DataFrame,
    *,
    keys: list[str],
    at_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Streaming point-in-time ("as-was") enrichment: each arriving
    fact joins the STATIC SCD2 dimension row valid at the fact's own
    timestamp — the streaming twin of
    :func:`~dbt_lakehouse_aws_spark.operators.scd.point_in_time_join`,
    and the correct version of the stream-static enrich when the
    dimension has history (joining "today's" dim row against late
    events silently rewrites the past).

    Stream-static left joins with range predicates are natively
    supported (the static side is re-broadcast per micro-batch, so a
    dimension refresh between batches is picked up automatically);
    ranges are disjoint per key by SCD2 construction, so the join
    cannot fan out and needs no watermark state.
    """
    cond = None
    for k in keys:
        c = stream[k] == dim[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (stream[at_col] >= dim[valid_from])
        # NULL valid_to = open-ended current row (external-SCD2
        # convention) — must match, not silently drop (ADVICE r3)
        & (dim[valid_to].isNull() | (stream[at_col] <= dim[valid_to]))
    )
    joined = stream.join(dim, cond, "left")
    for k in keys:
        joined = joined.drop(dim[k])
    return joined


def stream_append_with_quarantine(
    stream: DataFrame,
    *,
    table_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
    constraints: dict[str, str],
):
    """Row-level dead-letter ingest: where :func:`stream_with_checks`
    quarantines whole micro-batches, this one splits EVERY batch
    row-by-row. Rows
    where every constraint is not-FALSE (SQL three-valued CHECK:
    NULL passes) append to the main ACID table — which therefore
    satisfies its constraints by construction — and each failing
    row lands in a quarantine ACID table with a ``violated`` column
    naming the constraints it broke (sorted, comma-joined:
    one bad field must not hide another).

    Both sinks are exactly-once via the same (app, batch) txn
    protocol as :func:`stream_append_into_acid` — the two writes are
    separately atomic, and a replay after a crash between them
    re-lands only the missing side. One predicate evaluation per
    constraint per row, fused into the scan — no second pass, no
    driver-side row handling.
    """
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    app_main = f"quarantine_main:{checkpoint_dir}"
    app_q = f"quarantine_bad:{checkpoint_dir}"
    names = sorted(constraints)
    viol_arr = F.array_compact(
        F.array(
            *[
                F.when(F.expr(constraints[n]) == F.lit(False), F.lit(n))
                for n in names
            ]
        )
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        tagged = batch.withColumn("_viol", viol_arr).localCheckpoint(
            eager=True
        )
        good = tagged.filter(F.size("_viol") == 0).drop("_viol")
        bad = tagged.filter(F.size("_viol") > 0).withColumn(
            "violated", F.array_join(F.sort_array(F.col("_viol")), ",")
        ).drop("_viol")

        AcidTable(spark_b, table_path).write(good, mode="append", txn=(app_main, batch_id))
        AcidTable(spark_b, quarantine_path).write(bad, mode="append", txn=(app_q, batch_id))

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_replace_where_into_acid(
    stream: DataFrame,
    *,
    table_path: str,
    checkpoint_dir: str,
    partition_col: str,
    transform=None,
):
    """Streaming PARTITION REFRESH into the ACID table — the
    insert_overwrite pattern under structured streaming: each
    micro-batch atomically replaces exactly the partitions it
    carries (``sources/acid.py::replace_where``, one commit per
    batch) instead of merging row-by-row — the shape daily-rollup
    pipelines want, where a batch re-delivers WHOLE days and
    row-level reconciliation is wasted work. The first batch creates
    the table; replayed batches are skipped by the table's
    (app, batch_id) txn check, as for the append/merge writers; and
    because replace-where is itself
    idempotent for identical payloads, the two layers compose into
    exactly-once-by-construction.

    ``transform`` (optional) maps each raw micro-batch DataFrame to
    the rows to land (e.g. a per-day rollup) — the batch is a plain
    DataFrame, so aggregations that a watermark-less stream cannot
    express run here.

    The batch's distinct partition values are collected to build the
    predicate — bounded by the number of partitions a batch touches
    (days per batch), never by row count. String partition values
    are escaped as SQL literals (backslash and quote); integers pass
    through; a NULL partition is the ``IS NULL`` slice."""
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    app_id = f"stream_replace_where:{checkpoint_dir}"

    def refresh(batch: DataFrame, batch_id: int) -> None:
        if transform is not None:
            # per-batch rollup: streaming aggregations without a
            # watermark can't ride the stream itself; a batch is a
            # plain DataFrame, so the rollup runs here instead
            batch = transform(batch)
        parts = [r[0] for r in batch.select(partition_col).distinct().collect()]
        if not parts:
            return
        values = [p for p in parts if p is not None]
        slices = []
        if values:
            if isinstance(values[0], str):
                quoted = ", ".join(
                    "'" + p.replace("\\", "\\\\").replace("'", "''") + "'" for p in values
                )
            else:
                quoted = ", ".join(str(p) for p in values)
            slices.append(f"{partition_col} IN ({quoted})")
        if len(values) < len(parts):
            slices.append(f"{partition_col} IS NULL")
        predicate = " OR ".join(slices)
        AcidTable(batch.sparkSession, table_path).replace_where(
            batch, predicate, txn=(app_id, batch_id)
        )

    return (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
