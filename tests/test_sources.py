"""Source-layer semantics (SURVEY §2.1 S1-S7).

Builds a miniature ``year=/month=/day=`` CSV ingest tree and checks
path-metadata derivation, all-string schema-on-read, and the two
latest-snapshot operators against hand-enumerable expectations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_lakehouse_aws_spark.sources.reader import (
    PATH_META_COLS,
    read_csv_source,
    with_path_metadata,
)
from dbt_lakehouse_aws_spark.sources.snapshots import latest_per_group, latest_snapshot


@pytest.fixture(scope="module")
def ingest_dir(tmp_path_factory):
    """Two ingest dates x two files; newest date = 2025-3-5."""
    root = tmp_path_factory.mktemp("ingest")
    layout = {
        ("2025", "2", "28", "alpha.csv"): "id,val\n1,old-a\n2,old-a2\n",
        ("2025", "2", "28", "beta.csv"): "id,val\n9,old-b\n",
        ("2025", "3", "5", "alpha.csv"): "id,val\n1,new-a\n3,new-a3\n",
        # beta has NO 2025-3-5 ingest: latest_per_group must keep its
        # 2-28 rows while latest_snapshot (table-wide max) drops them.
    }
    for (y, m, d, fname), body in layout.items():
        p = root / f"year={y}" / f"month={m}" / f"day={d}"
        p.mkdir(parents=True, exist_ok=True)
        (p / fname).write_text(body)
    return str(root)


def test_read_all_string_schema(spark, ingest_dir):
    df = read_csv_source(spark, ingest_dir)
    data_fields = [f for f in df.schema.fields if f.name in ("id", "val")]
    assert data_fields and all(f.dataType == T.StringType() for f in data_fields)
    assert set(PATH_META_COLS) <= set(df.columns)


def test_path_metadata_values(spark, ingest_dir):
    df = read_csv_source(spark, ingest_dir)
    rows = {
        (r["_filename"], r["year"], r["month"], r["day"], r["_ptkey"])
        for r in df.select("_filename", "year", "month", "day", "_ptkey").collect()
    }
    assert ("alpha.csv", "2025", "2", "28", "2025228") in rows
    assert ("alpha.csv", "2025", "3", "5", "202535") in rows
    assert ("beta.csv", "2025", "2", "28", "2025228") in rows


def test_latest_snapshot_table_wide(spark, ingest_dir):
    df = read_csv_source(spark, ingest_dir)
    # NOTE: the frame operator keeps the reference's varchar max() over
    # the unpadded _ptkey ("202535" > "2025228" happens to agree with
    # the dates here); the reader's mode="latest" orders padded dates.
    out = latest_snapshot(df)
    got = {(r["id"], r["val"]) for r in out.select("id", "val").collect()}
    assert got == {("1", "new-a"), ("3", "new-a3")}


def test_latest_per_group_keeps_stale_files(spark, ingest_dir):
    df = read_csv_source(spark, ingest_dir)
    out = latest_per_group(df, ("_filename",))
    got = {(r["_filename"], r["id"]) for r in out.select("_filename", "id").collect()}
    assert got == {("alpha.csv", "1"), ("alpha.csv", "3"), ("beta.csv", "9")}


def _write_tree(root, layout):
    for (y, m, d, fname), body in layout.items():
        p = root / f"year={y}" / f"month={m}" / f"day={d}"
        p.mkdir(parents=True, exist_ok=True)
        (p / fname).write_text(body)
    return str(root)


def test_reader_latest_orders_padded_dates(spark, tmp_path):
    """2025-10-1 is newer than 2025-9-30, although its unpadded _ptkey
    "2025101" sorts below "2025930"; the _ptkey values stay as they are."""
    root = _write_tree(tmp_path, {
        ("2025", "9", "30", "a.csv"): "id,val\n1,sept\n",
        ("2025", "10", "1", "a.csv"): "id,val\n1,oct\n",
        ("2025", "9", "30", "b.csv"): "id,val\n2,sept-only\n",
    })
    got = read_csv_source(spark, root, mode="latest").select("val", "_ptkey").collect()
    assert [tuple(r) for r in got] == [("oct", "2025101")]

    per_file = read_csv_source(spark, root, mode="latest_per_file")
    got = {(r["_filename"], r["val"]) for r in per_file.collect()}
    assert got == {("a.csv", "oct"), ("b.csv", "sept-only")}
    assert len(per_file.inputFiles()) == 2


def test_reader_header_only_newest_file_keeps_previous_date(spark, tmp_path):
    root = _write_tree(tmp_path, {
        ("2025", "3", "1", "a.csv"): "id,val\n1,march\n",
        ("2025", "4", "1", "a.csv"): "id,val\n\n",
    })
    got = read_csv_source(spark, root, mode="latest").select("id", "val").collect()
    assert [tuple(r) for r in got] == [("1", "march")]


def test_reader_aligns_columns_by_name(spark, tmp_path):
    """The same file name under two ingest dates, with a column added in
    the middle: each file's values land under its own header's names."""
    root = _write_tree(tmp_path, {
        ("2025", "1", "1", "a.csv"): "id,name\n1,alice\n",
        ("2025", "6", "1", "a.csv"): "id,score,name\n2,9.5,bob\n",
    })
    rows = {r["id"]: r.asDict() for r in read_csv_source(spark, root).collect()}
    assert (rows["1"]["name"], rows["1"]["score"]) == ("alice", None)
    assert (rows["2"]["name"], rows["2"]["score"]) == ("bob", "9.5")


def test_reader_lists_and_names_files_as_spark_does(spark, tmp_path):
    """The driver-side listing keeps what Spark's own file index and
    header rule gave: a byte-order mark is dropped, blank and repeated
    names get their index, glob characters in a file name are literal,
    and ``_temporary`` / dot entries are skipped."""
    root = _write_tree(tmp_path, {
        ("2025", "1", "1", "odd [1] {x}*.csv"): "\ufeffid,ID,,name\n1,x,y,alice\n",
    })
    hidden = tmp_path / "_temporary"
    hidden.mkdir()
    (hidden / "part.csv").write_text("id\nleftover\n")
    (tmp_path / ".a.csv").write_text("id\nhidden\n")
    df = read_csv_source(spark, root, mode="plain")
    assert df.columns == ["id0", "ID1", "_c2", "name"]
    assert [tuple(r) for r in df.collect()] == [("1", "x", "y", "alice")]


def test_latest_per_group_rank_ties_survive(spark):
    """rank() (not row_number) must keep ALL rows of the winning key."""
    df = spark.createDataFrame(
        [("f", "2", "a"), ("f", "2", "b"), ("f", "1", "c")],
        "grp string, k string, payload string",
    )
    out = latest_per_group(df, ("grp",), "k")
    assert {r["payload"] for r in out.collect()} == {"a", "b"}


def test_with_path_metadata_custom_col(spark):
    df = spark.createDataFrame(
        [("x", "s3://bucket/tbl/year=2024/month=12/day=31/data.tsv")],
        "v string, p string",
    )
    out = with_path_metadata(df, path_col=F.col("p")).collect()[0]
    assert (out["year"], out["month"], out["day"]) == ("2024", "12", "31")
    assert out["_ptkey"] == "20241231"
    assert out["_filename"] == "data.tsv"


def test_sorted_write_tightens_rowgroup_stats(spark, tmp_path):
    """sort_by clustering: after a sorted write, a point predicate on
    the sort key matches the stored min/max ordering (smoke-proof via
    parquet footer stats on the single file)."""
    from dbt_lakehouse_aws_spark.sources.catalog import TableCatalog
    import os
    import pyarrow.parquet as pq

    cat = TableCatalog(spark, warehouse_dir=str(tmp_path))
    df = spark.range(0, 10_000).withColumn("k", (9999 - F.col("id")).cast("long"))
    cat.put("main", "srt", df.coalesce(1), materialize=True, sort_by=["k"])
    path = tmp_path / "main" / "srt"
    f = [x for x in os.listdir(path) if x.endswith(".parquet")][0]
    meta = pq.ParquetFile(str(path / f)).metadata
    cols = {meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.row_group(0).num_columns)}
    stats = meta.row_group(0).column(cols["k"]).statistics
    assert stats.min == 0 and stats.max == 9999
    # data within the file is actually ordered on k
    got = spark.read.parquet(str(path)).select("k").limit(3).collect()
    assert [r["k"] for r in got] == [0, 1, 2]


def test_orc_sink_roundtrip_partitioned(spark, tmp_path):
    """file_format="orc": the sink writes ORC (partition layout and
    values preserved) and the catalog re-reads it with partition
    discovery — the parquet path's contract, second columnar format."""
    from dbt_lakehouse_aws_spark.sources.catalog import TableCatalog
    import os

    cat = TableCatalog(spark, warehouse_dir=str(tmp_path))
    df = spark.range(0, 100).withColumn("p", (F.col("id") % 2).cast("int"))
    out = cat.put("main", "orct", df, materialize=True,
                  partition_by=["p"], file_format="orc")
    assert out.count() == 100
    assert out.filter(F.col("p") == 1).count() == 50
    part_dir = tmp_path / "main" / "orct" / "p=0"
    assert any(x.endswith(".orc") for x in os.listdir(part_dir))


def test_python_datasource_parallel_deterministic(spark):
    """Custom Python DataSource: partition planning yields real task
    parallelism; per-row seeding makes the data identical under any
    partitioning; schema comes from the connector."""
    from dbt_lakehouse_aws_spark.sources.pydatasource import SynthCorpusDataSource

    spark.dataSource.register(SynthCorpusDataSource)
    df8 = (spark.read.format("synthcorpus")
           .option("rows", 400).option("partitions", 8).load())
    assert df8.count() == 400
    assert [f.name for f in df8.schema.fields] == ["doc_id", "text", "source"]
    n_parts = df8.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts == 8
    # re-slicing must not change the data (partition-independent rows)
    df2 = (spark.read.format("synthcorpus")
           .option("rows", 400).option("partitions", 2).load())
    assert df2.exceptAll(df8).count() == 0 and df8.exceptAll(df2).count() == 0


def test_zorder_key_matches_reference_morton(spark):
    """Morton interleave agrees with a bit-twiddling python reference
    on an exact 16×16 grid (bits=4, so normalization is identity)."""
    from dbt_lakehouse_aws_spark.sources.zorder import zorder_key

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r["x"], r["y"]): r["_z"] for r in zorder_key(df, ["x", "y"], bits=4).collect()}

    def morton(x, y):
        z = 0
        for i in range(4):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): morton(x, y) for x, y in rows}


def test_zorder_write_tightens_both_dims(spark, tmp_path):
    """Z-ordered files each cover a small bounding box in BOTH
    dimensions; a row-order write leaves one dimension unclustered."""
    import os

    import pyarrow.parquet as pq

    from dbt_lakehouse_aws_spark.sources.catalog import TableCatalog

    # 64×64 grid in row-major order: y varies fastest
    df = (
        spark.range(64 * 64)
        .select(
            (F.col("id") / 64).cast("long").alias("x"),
            (F.col("id") % 64).cast("long").alias("y"),
        )
    )
    cat = TableCatalog(spark, warehouse_dir=str(tmp_path))
    cat.put("main", "zt", df, materialize=True, zorder_by=["x", "y"], zorder_files=16)

    path = tmp_path / "main" / "zt"
    spans = []
    for fname in os.listdir(path):
        if not fname.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(str(path / fname)).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            cols = {g.column(i).path_in_schema: g.column(i).statistics for i in range(g.num_columns)}
            spans.append(
                (cols["x"].max - cols["x"].min + 1) * (cols["y"].max - cols["y"].min + 1)
            )
    # every z-range file covers ≤ ~1/8 of the 64×64 domain; a
    # row-major split would give each file the FULL y range
    # (span 64·(64/16) = full stripe) — z-order must beat that.
    assert len(spans) >= 8
    assert max(spans) <= 64 * 64 / 4
    assert sum(spans) <= 2 * 64 * 64  # near-disjoint tiling, small overlap


def test_zorder_key_guards_and_null_coalesce(spark):
    """ADVICE r1: empty/all-NULL inputs raise a clear error; NULL
    values cluster at the low bound instead of yielding NULL keys."""
    import pytest as _pytest

    from dbt_lakehouse_aws_spark.sources.zorder import zorder_key

    with _pytest.raises(ValueError, match="empty input or all-NULL"):
        zorder_key(spark.createDataFrame([], "x int, y int"), ["x", "y"]).collect()
    with _pytest.raises(ValueError, match="at least one column"):
        zorder_key(spark.range(3), [])

    df = spark.createDataFrame(
        [(0, 0), (None, 0), (15, 15)], "x int, y int"
    )
    keys = {(r["x"], r["y"]): r["_z"] for r in zorder_key(df, ["x", "y"], bits=4).collect()}
    assert keys[(None, 0)] == keys[(0, 0)]  # NULL → low bound
    assert all(k is not None for k in keys.values())


def test_schema_drift_across_partitions(spark, tmp_path):
    """VERDICT r1 item 7: CSV headers differing across year=/month=
    partitions (column added mid-year, columns reordered) must align
    BY NAME, with pre-drift files carrying NULLs for new columns —
    the semantics the reference gets from catalog-resolved star()."""
    jan = tmp_path / "t" / "year=2024" / "month=1"
    jun = tmp_path / "t" / "year=2024" / "month=6"
    dec = tmp_path / "t" / "year=2024" / "month=12"
    for d in (jan, jun, dec):
        d.mkdir(parents=True)
    (jan / "a.csv").write_text("id,name\n1,alice\n2,bob\n")
    # June adds `score` IN THE MIDDLE — positional matching would
    # shift `name` values into `score`
    (jun / "b.csv").write_text("id,score,name\n3,9.5,carol\n")
    # December reorders columns entirely
    (dec / "c.csv").write_text("name,id,score\ndan,4,7.0\n")

    df = read_csv_source(spark, str(tmp_path / "t"))
    assert set(("id", "name", "score")) <= set(df.columns)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["1"]["name"] == "alice" and rows["1"]["score"] is None
    assert rows["2"]["name"] == "bob" and rows["2"]["score"] is None
    assert rows["3"]["name"] == "carol" and rows["3"]["score"] == "9.5"
    assert rows["4"]["name"] == "dan" and rows["4"]["score"] == "7.0"
    # path metadata still derived per group
    assert rows["3"]["month"] == "6" and rows["4"]["_filename"] == "c.csv"
    # column order is first-seen across groups (star()-style)
    assert df.columns[:3] == ["id", "name", "score"]


def test_schema_drift_handles_spaced_filenames(spark, tmp_path):
    """URI-encoded paths (spaces in filenames, the reference's
    'NFBC OC 2025 ... .csv' pattern) must survive header discovery."""
    d = tmp_path / "t" / "year=2025" / "month=3"
    d.mkdir(parents=True)
    (d / "NFBC OC 2025 Standings.csv").write_text("id,name\n1,alice\n")
    df = read_csv_source(spark, str(tmp_path / "t"))
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["name"] == "alice"
    assert rows[0]["_filename"] == "NFBC OC 2025 Standings.csv"


def test_schema_drift_ignores_stray_non_csv_files(spark, tmp_path):
    """One _SUCCESS marker or binary sidecar in the tree must not
    poison header discovery (UnicodeDecodeError / garbage header
    group) — only *.csv / *.tsv files participate."""
    d = tmp_path / "t" / "year=2024" / "month=1"
    d.mkdir(parents=True)
    (d / "a.csv").write_text("id,name\n1,alice\n")
    (d / "_SUCCESS").write_text("")
    (d / "part-0000.parquet").write_bytes(b"PAR1\x80\x81\xfe\xffPAR1")
    (d / ".DS_Store").write_bytes(bytes(range(256)))

    df = read_csv_source(spark, str(tmp_path / "t"))
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["name"] == "alice"
    assert df.columns[:2] == ["id", "name"]


def _write_delta_fixture(tmp_path):
    """Hand-written minimal Delta table per the public protocol:
    v0 adds two files of a partitioned table, v1 removes one and
    adds a replacement (an overwrite of partition y=2)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as _pq

    root = tmp_path / "dl"
    log = root / "_delta_log"
    log.mkdir(parents=True)
    (root / "y=1").mkdir()
    (root / "y=2").mkdir()

    def part(relpath, ids, vals):
        _pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()), "v": pa.array(vals, pa.float64())}),
            str(root / relpath),
        )

    part("y=1/part-a.parquet", [1, 2], [1.0, 2.0])
    part("y=2/part-b.parquet", [3], [3.0])
    part("y=2/part-c.parquet", [4, 5], [40.0, 50.0])

    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
                {"name": "y", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "fixture-guid", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": ["y"],
            "configuration": {},
        }},
        {"add": {"path": "y=1/part-a.parquet", "partitionValues": {"y": "1"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "y=2/part-b.parquet", "partitionValues": {"y": "2"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"commitInfo": {"operation": "WRITE"}},
    ]
    v1 = [
        {"remove": {"path": "y=2/part-b.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "y=2/part-c.parquet", "partitionValues": {"y": "2"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"operation": "OVERWRITE"}},
    ]
    (log / f"{0:020d}.json").write_text("\n".join(_json.dumps(a) for a in v0))
    (log / f"{1:020d}.json").write_text("\n".join(_json.dumps(a) for a in v1))
    return root


def test_delta_log_read_latest_and_time_travel(spark, tmp_path):
    """Mounting a real _delta_log (hand-written per the public Delta
    protocol): latest snapshot reflects add/remove replay, version=0
    time-travels, partition columns are injected from
    partitionValues with schema-declared types."""
    from dbt_lakehouse_aws_spark.sources.delta_reader import (
        DeltaLogTable,
        read_delta_table,
    )

    root = _write_delta_fixture(tmp_path)
    t = DeltaLogTable(spark, str(root))
    assert t.versions() == [0, 1]

    latest = {r["id"]: (r["v"], r["y"]) for r in t.read().collect()}
    assert latest == {1: (1.0, 1), 2: (2.0, 1), 4: (40.0, 2), 5: (50.0, 2)}

    v0 = {r["id"]: (r["v"], r["y"]) for r in read_delta_table(spark, str(root), version=0).collect()}
    assert v0 == {1: (1.0, 1), 2: (2.0, 1), 3: (3.0, 2)}

    snap = t.snapshot()
    assert snap.partition_columns == ("y",)
    assert snap.files == ("y=1/part-a.parquet", "y=2/part-c.parquet")
    assert [f.name for f in snap.schema.fields] == ["id", "v", "y"]
    # y comes back as the declared INT type, not the log's string
    assert dict(t.read().dtypes)["y"] == "int"


def test_delta_log_rejects_checkpoint_pruned_history(spark, tmp_path):
    """A log whose JSON deltas don't reach back to version 0 (parquet
    checkpoint horizon) must be a clear error, not a wrong answer."""
    import json as _json

    from dbt_lakehouse_aws_spark.sources.delta_reader import DeltaLogTable

    root = _write_delta_fixture(tmp_path)
    (root / "_delta_log" / f"{0:020d}.json").unlink()
    with pytest.raises(ValueError, match="no contiguous JSON history"):
        DeltaLogTable(spark, str(root)).read()
    # stray staging files are ignored, not parsed as versions
    (root / "_delta_log" / ".tmp-x.json").write_text("{}")
    t = DeltaLogTable(spark, str(root))
    assert t.versions() == [1]


def test_delta_writer_roundtrip_partitioned(spark, tmp_path):
    """write_delta_table → DeltaLogTable.read round trip on a
    partitioned table: values survive, partition column is re-typed
    from partitionValues, and every add carries footer-derived stats
    (numRecords + min/max) a delta-spark reader could skip on."""
    import json as _json

    from dbt_lakehouse_aws_spark.sources.delta_reader import DeltaLogTable
    from dbt_lakehouse_aws_spark.sources.delta_writer import write_delta_table

    df = spark.createDataFrame(
        [(i, float(i) * 1.5, i % 3) for i in range(30)], "id long, v double, y int"
    )
    root = str(tmp_path / "t")
    assert write_delta_table(df, root, partition_by=["y"]) == 0

    t = DeltaLogTable(spark, root)
    back = {r["id"]: (r["v"], r["y"]) for r in t.read().collect()}
    assert back == {i: (i * 1.5, i % 3) for i in range(30)}
    assert t.snapshot().partition_columns == ("y",)
    assert dict(t.read().dtypes)["y"] == "int"

    # protocol shape: commit 0 has protocol+metaData, adds carry stats
    actions = [
        _json.loads(line)
        for line in open(f"{root}/_delta_log/{0:020d}.json")
        if line.strip()
    ]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    add = next(a["add"] for a in actions if "add" in a)
    st = _json.loads(add["stats"])
    assert st["numRecords"] > 0 and "id" in st["minValues"]
    assert "y" not in st["minValues"]  # partition col not in data files
    assert add["partitionValues"].keys() == {"y"}


def test_delta_writer_append_overwrite_time_travel(spark, tmp_path):
    """append adds files; overwrite removes every live file + adds new
    ones in ONE commit; old versions stay time-travelable."""
    from dbt_lakehouse_aws_spark.sources.delta_reader import read_delta_table
    from dbt_lakehouse_aws_spark.sources.delta_writer import write_delta_table

    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, i * 10) for i in range(lo, hi)], "id long, v long"
    )
    assert write_delta_table(mk(0, 5), root) == 0
    assert write_delta_table(mk(5, 8), root, mode="append") == 1
    assert write_delta_table(mk(100, 102), root, mode="overwrite") == 2

    ids = lambda v: sorted(
        r["id"] for r in read_delta_table(spark, root, version=v).collect()
    )
    assert ids(0) == [0, 1, 2, 3, 4]
    assert ids(1) == [0, 1, 2, 3, 4, 5, 6, 7]
    assert ids(2) == [100, 101]
    assert ids(None) == [100, 101]


def test_delta_partition_values_read_back_unescaped(spark, tmp_path):
    """Spark escapes '/' and '%' in hive partition directory names; the
    log records, and reads return, the original values."""
    from dbt_lakehouse_aws_spark.sources.delta_reader import read_delta_table
    from dbt_lakehouse_aws_spark.sources.delta_writer import write_delta_table

    root = str(tmp_path / "t")
    keys = ["a b", "x/y", "p%q"]
    df = spark.createDataFrame(list(enumerate(keys)), "id long, k string")
    write_delta_table(df, root, partition_by=["k"])
    got = {r["id"]: r["k"] for r in read_delta_table(spark, root).collect()}
    assert got == dict(enumerate(keys))


def test_delta_writer_guards(spark, tmp_path):
    """mode='error' on an existing table, partition-layout mismatch,
    and the O_EXCL commit race all fail loudly instead of corrupting;
    the race's loser leaves no unreferenced file behind."""
    import os as _os

    from dbt_lakehouse_aws_spark.sources.delta_writer import write_delta_table

    df = spark.createDataFrame([(1, 1)], "id long, y int")
    root = str(tmp_path / "t")
    write_delta_table(df, root, partition_by=["y"])
    with pytest.raises(FileExistsError, match="already a Delta table"):
        write_delta_table(df, root)
    with pytest.raises(ValueError, match="does not match existing"):
        write_delta_table(df, root, mode="append", partition_by=[])
    # simulate a concurrent writer winning the race: this writer reads
    # its snapshot, then the rival lands version 1 before the commit —
    # O_EXCL on the version file must reject, not overwrite
    from unittest import mock

    from dbt_lakehouse_aws_spark.sources import delta_writer as dw
    from dbt_lakehouse_aws_spark.sources.delta_reader import DeltaLogTable

    real_snapshot = DeltaLogTable.snapshot
    rival = f"{root}/_delta_log/{1:020d}.json"

    def racing_snapshot(self, version=None):
        snap = real_snapshot(self, version)
        _os.mknod(rival)
        return snap

    files = lambda: {_os.path.join(d, f) for d, _, fs in _os.walk(root) for f in fs}
    before = files()
    with mock.patch.object(DeltaLogTable, "snapshot", racing_snapshot):
        with pytest.raises(FileExistsError):
            dw.write_delta_table(df, root, mode="append", partition_by=["y"])
    assert files() == before | {rival}


def test_delta_commit_is_never_seen_partial(spark, tmp_path, monkeypatch):
    """A reader probing from inside an overwrite's commit — at every
    file-write step of it — sees version 0 or the complete version 1,
    never an empty or partial version file."""
    import os as _os

    from dbt_lakehouse_aws_spark.sources.delta_reader import DeltaLogTable
    from dbt_lakehouse_aws_spark.sources.delta_writer import write_delta_table

    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, i * 10) for i in range(lo, hi)], "id long, v long"
    )
    write_delta_table(mk(0, 5), root)
    seen = []

    def probing(real):
        def step(*args, **kwargs):
            t = DeltaLogTable(spark, root)
            v = t.snapshot().version
            seen.append((v, tuple(sorted(r["id"] for r in t.read(v).collect()))))
            return real(*args, **kwargs)

        return step

    for name in ("fdopen", "fsync", "link"):
        monkeypatch.setattr(_os, name, probing(getattr(_os, name)))
    write_delta_table(mk(100, 102), root, mode="overwrite")
    monkeypatch.undo()
    assert seen, "no commit step was probed"
    assert set(seen) <= {(0, (0, 1, 2, 3, 4)), (1, (100, 101))}, seen


# ---------------------------------------------------------------------------
# Avro codec + distributed scan (sources/avro_io.py)
# ---------------------------------------------------------------------------


def test_avro_container_roundtrip_and_spec_conformance():
    """Round-trip through the pure-Python codec, plus a HAND-BUILT
    byte fixture pinning the spec encoding (zigzag varints,
    length-prefixed strings, union branch index) so the reader is
    checked against the public format, not just our own writer."""
    from dbt_lakehouse_aws_spark.sources.avro_io import read_container, write_container

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "int"}},
    ]}
    recs = [
        {"id": 3, "name": "ab", "tags": [1, -1]},
        {"id": -2, "name": None, "tags": []},
    ]
    for codec in ("null", "deflate"):
        _s, out = read_container(write_container(schema, recs, codec=codec))
        assert out == recs, codec

    # hand-built container: header + one block of one record
    import json as _json
    sync = bytes(range(16))
    sjson = _json.dumps(schema).encode()
    def z(n):  # zigzag varint, built independently of the module
        acc = (n << 1) ^ (n >> 63)
        out = b""
        while True:
            b, acc = acc & 0x7F, acc >> 7
            if acc: out += bytes([b | 0x80])
            else: return out + bytes([b])
    header = (b"Obj\x01" + z(2)
              + z(len(b"avro.schema")) + b"avro.schema" + z(len(sjson)) + sjson
              + z(len(b"avro.codec")) + b"avro.codec" + z(4) + b"null"
              + z(0) + sync)
    # id=3 | name: union branch 1 + len 2 + "ab" | tags: block of 2, items 1,-1, end
    body = z(3) + z(1) + z(2) + b"ab" + z(2) + z(1) + z(-1) + z(0)
    blob = header + z(1) + z(len(body)) + body + sync
    _s, out = read_container(blob)
    assert out == [{"id": 3, "name": "ab", "tags": [1, -1]}]


def test_read_avro_distributed_scan(spark, tmp_path):
    """read_avro: driver reads one header for the schema; tasks decode
    whole files via mapInArrow. Nullable unions map to nullable
    primitives, nested records surface as JSON strings."""
    from dbt_lakehouse_aws_spark.sources.avro_io import read_avro, write_container

    schema = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "kind", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "nested", "type": {"type": "record", "name": "n", "fields": [
            {"name": "a", "type": "int"}]}},
    ]}
    for i in range(3):  # three files → three-task parallelism
        recs = [{"id": i * 10 + j, "kind": None if j == 0 else f"k{j}",
                 "score": j / 2.0, "nested": {"a": j}} for j in range(5)]
        (tmp_path / f"part-{i}.avro").write_bytes(
            write_container(schema, recs, codec="deflate"))
    df = read_avro(spark, str(tmp_path))
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 15
    assert rows[0]["kind"] is None and rows[11]["kind"] == "k1"
    assert rows[12]["score"] == 1.0
    import json as _json
    assert _json.loads(rows[13]["nested"]) == {"a": 3}
    # column projection bounds the Arrow width
    assert read_avro(spark, str(tmp_path), columns=["id"]).columns == ["id"]


# ---------------------------------------------------------------------------
# Iceberg read adapter (sources/iceberg_reader.py)
# ---------------------------------------------------------------------------


def _build_iceberg_fixture(spark, root, rows):
    """Minimal spec-conformant Iceberg v1 table: two snapshots, the
    second deleting one data file (status=2)."""
    import json
    import os

    from dbt_lakehouse_aws_spark.sources.avro_io import write_container

    os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
    files = {}
    for grp in sorted({r[1] for r in rows}):
        part = [r for r in rows if r[1] == grp]
        spark.createDataFrame(part, "id bigint, grp string, v double").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(root, "data", grp))
        (f,) = [
            x
            for x in os.listdir(os.path.join(root, "data", grp))
            if x.endswith(".parquet")
        ]
        files[grp] = os.path.join(root, "data", grp, f)

    entry_schema = {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": {"type": "record", "name": "data_file", "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"}]}}]}
    list_schema = {"type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]}]}

    def entry(status, grp, content=0):
        p = files[grp]
        return {"status": status, "snapshot_id": None,
                "data_file": {"content": content, "file_path": p,
                              "file_format": "PARQUET", "record_count": 0,
                              "file_size_in_bytes": os.path.getsize(p)}}

    def manifest(name, entries, snap_id):
        mp = os.path.join(root, "metadata", name)
        blob = write_container(entry_schema, entries)
        open(mp, "wb").write(blob)
        lp = os.path.join(root, "metadata", "list_" + name)
        open(lp, "wb").write(write_container(list_schema, [{
            "manifest_path": mp, "manifest_length": len(blob),
            "partition_spec_id": 0, "added_snapshot_id": snap_id}]))
        return lp

    groups = sorted(files)
    ml1 = manifest("m1.avro", [entry(1, g) for g in groups], 100)
    ml2 = manifest("m2.avro",
                   [entry(0, g) for g in groups[:-1]] + [entry(2, groups[-1])], 200)
    meta = {"format-version": 1, "table-uuid": "u", "location": root,
            "last-updated-ms": 0, "last-column-id": 3,
            "schema": {"type": "struct", "schema-id": 0, "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "grp", "required": False, "type": "string"},
                {"id": 3, "name": "v", "required": False, "type": "double"}]},
            "partition-spec": [], "properties": {},
            "current-snapshot-id": 200,
            "snapshots": [
                {"snapshot-id": 100, "timestamp-ms": 1, "manifest-list": ml1},
                {"snapshot-id": 200, "timestamp-ms": 2, "manifest-list": ml2}]}
    json.dump(meta, open(os.path.join(root, "metadata", "v2.metadata.json"), "w"))
    open(os.path.join(root, "metadata", "version-hint.text"), "w").write("2")
    return files


def test_iceberg_read_current_and_time_travel(spark, tmp_path):
    from dbt_lakehouse_aws_spark.sources.iceberg_reader import IcebergTable

    rows = [(i, f"g{i % 3}", float(i)) for i in range(30)]
    _build_iceberg_fixture(spark, str(tmp_path / "t"), rows)
    t = IcebergTable(spark, str(tmp_path / "t"))
    # current snapshot (200): g2's file is deleted
    cur = {r["id"] for r in t.read().collect()}
    assert cur == {i for i in range(30) if i % 3 != 2}
    # time travel to 100: all rows
    assert len(t.read(snapshot_id=100).collect()) == 30
    # schema mapping carried through
    assert [f.name for f in t.read().schema.fields] == ["id", "grp", "v"]


def test_iceberg_refuses_malformed_delete_entries(spark, tmp_path):
    """Still-refused v2 shapes: equality deletes without equality_ids,
    and unknown content codes — loud errors, never silent undeleted
    rows."""
    import pytest as _pytest

    from dbt_lakehouse_aws_spark.sources.iceberg_reader import IcebergTable

    rows = [(i, f"g{i % 2}", float(i)) for i in range(4)]
    root = str(tmp_path / "t")
    _build_iceberg_fixture(spark, root, rows)
    import os

    from dbt_lakehouse_aws_spark.sources.avro_io import read_container, write_container

    mp = os.path.join(root, "metadata", "m2.avro")
    schema, entries = read_container(open(mp, "rb").read())
    entries[0]["data_file"]["content"] = 2  # equality delete, no equality_ids
    open(mp, "wb").write(write_container(schema, entries))
    with _pytest.raises(NotImplementedError, match="equality_ids"):
        IcebergTable(spark, root).read()
    entries[0]["data_file"]["content"] = 3  # unknown content code
    open(mp, "wb").write(write_container(schema, entries))
    with _pytest.raises(NotImplementedError, match="content=3"):
        IcebergTable(spark, root).read()


def _write_one_parquet(df, d):
    """Write df as a single parquet file under d; return its path."""
    import os

    df.coalesce(1).write.mode("overwrite").parquet(d)
    [f] = [f for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
    return os.path.join(d, f)


def test_iceberg_v2_position_deletes(spark, tmp_path):
    """MoR position deletes: exact (file, row ordinal) rows vanish;
    a delete file with a LOWER sequence number than the data file
    does not apply (spec: applies to data seq <= delete seq)."""
    from dbt_lakehouse_aws_spark.sources.iceberg_reader import IcebergTable
    from dbt_lakehouse_aws_spark.sources.iceberg_writer import V2File, write_v2_table

    root = str(tmp_path / "t")
    data = spark.range(10).select(
        F.col("id"), F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias("grp")
    ).orderBy("id")
    pa = _write_one_parquet(data, f"{root}/data/a")
    # delete ordinals 1 and 3 of file a (ids 1, 3: file written id-sorted)
    dels = spark.createDataFrame(
        [("file://" + pa, 1), ("file://" + pa, 3)], "file_path STRING, pos LONG"
    )
    pd_applies = _write_one_parquet(dels, f"{root}/data/d1")
    # same delete content but seq 0 < data seq 1: must NOT apply
    pd_stale = _write_one_parquet(dels, f"{root}/data/d0")

    write_v2_table(
        root,
        [("id", "long"), ("grp", "string")],
        [V2File(pa, 1), V2File(pd_applies, 1, content=1)],
    )
    got = {r["id"] for r in IcebergTable(spark, root).read().collect()}
    assert got == {0, 2, 4, 5, 6, 7, 8, 9}

    write_v2_table(
        root,
        [("id", "long"), ("grp", "string")],
        [V2File(pa, 1), V2File(pd_stale, 0, content=1)],
    )
    got = {r["id"] for r in IcebergTable(spark, root).read().collect()}
    assert got == set(range(10))


def test_iceberg_v2_equality_deletes_seq_scoped(spark, tmp_path):
    """MoR equality deletes apply only to data files with a STRICTLY
    smaller sequence number: rows re-inserted after the delete
    survive; NULL equality values match null-safely."""
    from dbt_lakehouse_aws_spark.sources.iceberg_reader import IcebergTable
    from dbt_lakehouse_aws_spark.sources.iceberg_writer import V2File, write_v2_table

    root = str(tmp_path / "t")
    a = spark.createDataFrame(
        [(1, "g0"), (2, "g1"), (3, None), (4, "g0")], "id LONG, grp STRING"
    )
    pa = _write_one_parquet(a, f"{root}/data/a")
    # equality delete on grp: kills g0 and the NULL group (null-safe)
    dels = spark.createDataFrame([("g0",), (None,)], "grp STRING")
    pd = _write_one_parquet(dels, f"{root}/data/d")
    # re-insert a g0 row AFTER the delete (seq 3 > delete seq 2)
    b = spark.createDataFrame([(5, "g0")], "id LONG, grp STRING")
    pb = _write_one_parquet(b, f"{root}/data/b")

    write_v2_table(
        root,
        [("id", "long"), ("grp", "string")],
        [
            V2File(pa, 1),
            V2File(pd, 2, content=2, equality_ids=(2,)),  # field id 2 = grp
            V2File(pb, 3),
        ],
    )
    got = {r["id"] for r in IcebergTable(spark, root).read().collect()}
    assert got == {2, 5}


def test_iceberg_type_mapping():
    from pyspark.sql.types import DecimalType, LongType, StructType, TimestampType

    from dbt_lakehouse_aws_spark.sources.iceberg_reader import _spark_type

    assert _spark_type("long") == LongType()
    assert _spark_type("decimal(10, 2)") == DecimalType(10, 2)
    assert _spark_type("timestamptz") == TimestampType()
    st = _spark_type({"type": "struct", "fields": [
        {"id": 1, "name": "a", "required": True, "type": "int"}]})
    assert isinstance(st, StructType) and not st.fields[0].nullable
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported"):
        _spark_type({"type": "list", "element": "int"})


# ---------------------------------------------------------------------------
# Iceberg writer (sources/iceberg_writer.py)
# ---------------------------------------------------------------------------


def test_iceberg_write_create_append_time_travel(spark, tmp_path):
    """Create (v1) + append (v2): current read sees both slices;
    time travel to the first snapshot sees only the first; metadata
    carries explicit sequence numbers and a linear parent link."""
    import json as _json
    import os as _os

    from dbt_lakehouse_aws_spark.sources.iceberg_reader import IcebergTable
    from dbt_lakehouse_aws_spark.sources.iceberg_writer import write_iceberg_table

    root = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "x", 1.5), (2, "y", 2.5)], "id long, s string, v double")
    b = spark.createDataFrame([(3, "z", 3.5)], "id long, s string, v double")
    assert write_iceberg_table(a, root) == 1
    assert write_iceberg_table(b, root, mode="append") == 2

    t = IcebergTable(spark, root)
    got = {r["id"]: (r["s"], r["v"]) for r in t.read().collect()}
    assert got == {1: ("x", 1.5), 2: ("y", 2.5), 3: ("z", 3.5)}

    with open(_os.path.join(root, "metadata", "v2.metadata.json")) as fh:
        meta = _json.load(fh)
    snaps = meta["snapshots"]
    assert [s["sequence-number"] for s in snaps] == [1, 2]
    assert snaps[1]["parent-snapshot-id"] == snaps[0]["snapshot-id"]
    first = {r["id"] for r in t.read(snaps[0]["snapshot-id"]).collect()}
    assert first == {1, 2}


def test_iceberg_write_mode_and_schema_guards(spark, tmp_path):
    """mode='error' refuses an existing table; append refuses a
    schema mismatch (silently writing it would corrupt the table for
    other engines)."""
    import pytest as _pytest

    from dbt_lakehouse_aws_spark.sources.iceberg_writer import write_iceberg_table

    root = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "x")], "id long, s string")
    write_iceberg_table(a, root)
    with _pytest.raises(FileExistsError):
        write_iceberg_table(a, root)
    bad = spark.createDataFrame([(1, 2.0)], "id long, v double")
    with _pytest.raises(ValueError, match="does not match table schema"):
        write_iceberg_table(bad, root, mode="append")


def test_iceberg_write_commit_is_put_if_absent(spark, tmp_path):
    """Two writers racing the same metadata version: the loser's
    O_EXCL open must raise, never overwrite the winner's commit, and
    must delete the data files, manifest and manifest list it wrote."""
    import os as _os

    import pytest as _pytest

    from dbt_lakehouse_aws_spark.sources.iceberg_writer import write_iceberg_table

    from dbt_lakehouse_aws_spark.sources import iceberg_writer as W

    root = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "x")], "id long, s string")
    write_iceberg_table(a, root)
    # simulate the race: the peer's v2 commit lands AFTER this writer
    # picked version 2 (post-listing, pre-commit) — inject it inside
    # the staging step, then the O_EXCL open must lose loudly
    v2 = _os.path.join(root, "metadata", "v2.metadata.json")
    orig_stage = W.write_container
    peer_payload = open(
        _os.path.join(root, "metadata", "v1.metadata.json")
    ).read()

    def racing_stage(df, table_path):
        out = orig_stage(df, table_path)
        with open(v2, "w") as fh:
            fh.write(peer_payload)
        return out

    files = lambda: {_os.path.join(d, f) for d, _, fs in _os.walk(root) for f in fs}
    before = files()
    W.write_container = racing_stage
    try:
        with _pytest.raises(FileExistsError):
            write_iceberg_table(a, root, mode="append")
    finally:
        W.write_container = orig_stage
    # the peer's commit is untouched (never overwritten)
    assert open(v2).read() == peer_payload
    assert files() == before | {v2}


def test_iceberg_append_from_stale_hint_keeps_every_snapshot(spark, tmp_path):
    """An append builds on the newest LISTED metadata version, the one
    it claims N+1 over: a version hint that lags (here reset to 1
    after two commits) must not make it commit v3 on top of v1's
    snapshot list and lose v2's rows."""
    import json as _json
    import os as _os

    from dbt_lakehouse_aws_spark.sources.iceberg_reader import IcebergTable
    from dbt_lakehouse_aws_spark.sources.iceberg_writer import write_iceberg_table

    root = str(tmp_path / "t")
    mk = lambda i: spark.createDataFrame([(i,)], "id long")
    write_iceberg_table(mk(1), root)
    write_iceberg_table(mk(2), root, mode="append")
    with open(_os.path.join(root, "metadata", "version-hint.text"), "w") as fh:
        fh.write("1")
    # the reader resolves the newest listed version, as the writer does
    assert sorted(r["id"] for r in IcebergTable(spark, root).read().collect()) == [1, 2]
    assert write_iceberg_table(mk(3), root, mode="append") == 3

    with open(_os.path.join(root, "metadata", "v3.metadata.json")) as fh:
        meta = _json.load(fh)
    assert len(meta["snapshots"]) == 3
    assert sorted(r["id"] for r in IcebergTable(spark, root).read().collect()) == [1, 2, 3]


def test_explode_archive_members_zip_and_tar(spark):
    import io
    import tarfile
    import zipfile

    from dbt_lakehouse_aws_spark.sources.archives import explode_archive_members

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.txt", b"hello")
        zf.writestr("sub/b.txt", b"world!!")
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w:gz") as tf:
        data = b"tar member"
        info = tarfile.TarInfo("c.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))

    rows = [(1, zbuf.getvalue()), (2, tbuf.getvalue()), (3, b"not an archive")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = explode_archive_members(df).collect()
    by_member = {(r["doc_id"], r["member_name"]): r for r in out}
    assert bytes(by_member[(1, "a.txt")]["member_bytes"]) == b"hello"
    assert by_member[(1, "sub/b.txt")]["member_size"] == 7
    assert by_member[(1, "a.txt")]["archive_format"] == "zip"
    assert bytes(by_member[(2, "c.txt")]["member_bytes"]) == b"tar member"
    assert by_member[(2, "c.txt")]["archive_format"] == "tar"
    bad = [r for r in out if r["doc_id"] == 3]
    assert len(bad) == 1 and bad[0]["decode_error"] and bad[0]["member_name"] is None


def test_explode_archive_members_bomb_caps(spark):
    """Decompression-bomb guards (ADVICE r4): an over-cap member or
    member count costs exactly ONE decode_error row in permissive
    mode — never partial member rows, never an inflate."""
    import io
    import tarfile
    import zipfile

    from dbt_lakehouse_aws_spark.sources.archives import explode_archive_members

    fat = io.BytesIO()
    with zipfile.ZipFile(fat, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("zeros.bin", b"\x00" * 4096)  # tiny compressed, 4 KiB inflated
    many = io.BytesIO()
    with tarfile.open(fileobj=many, mode="w") as tf:
        for i in range(5):
            data = b"x"
            info = tarfile.TarInfo(f"m{i}.txt")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    ok = io.BytesIO()
    with zipfile.ZipFile(ok, "w") as zf:
        zf.writestr("fine.txt", b"fine")

    rows = [(1, fat.getvalue()), (2, many.getvalue()), (3, ok.getvalue())]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = explode_archive_members(
        df, max_member_bytes=1024, max_members=3
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: declared size 4096 > 1024 cap -> one error row, no members
    assert len(by_doc[1]) == 1 and "cap" in by_doc[1][0]["decode_error"]
    # doc 2: 5 members > 3 cap -> one error row, NO partial member rows
    assert len(by_doc[2]) == 1 and "cap" in by_doc[2][0]["decode_error"]
    assert by_doc[2][0]["member_name"] is None
    # doc 3: under both caps, unaffected
    assert len(by_doc[3]) == 1 and by_doc[3][0]["decode_error"] is None

    # failfast propagates the bomb as a stage error
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception):
        explode_archive_members(
            df, mode="failfast", max_member_bytes=1024, max_members=3
        ).collect()


def test_write_avro_roundtrip_with_nulls_and_empty_partitions(spark):
    """Distributed Avro writer: nullable columns survive, empty
    partitions produce no file, the reader reproduces the multiset."""
    from dbt_lakehouse_aws_spark.sources.avro_io import read_avro, write_avro
    import tempfile

    rows = [(1, "a", 1.5), (2, None, None), (3, "c", -0.25)]
    df = spark.createDataFrame(
        rows, "id long, name string, score double"
    ).repartition(8)  # more partitions than rows -> empty partitions
    root = tempfile.mkdtemp(prefix="avro_w_") + "/t"
    meta = write_avro(df, root, codec="deflate").collect()[0]
    assert meta["n_rows"] == 3
    assert 1 <= meta["n_files"] <= 3  # empty partitions wrote nothing
    back = sorted(
        (r["id"], r["name"], r["score"])
        for r in read_avro(spark, root).collect()
    )
    assert back == sorted(rows)


def test_write_avro_rejects_nested(spark):
    from dbt_lakehouse_aws_spark.sources.avro_io import avro_schema_for
    import pytest as _pytest

    df = spark.createDataFrame([(1, [1, 2])], "id long, xs array<long>")
    with _pytest.raises(ValueError, match="flat primitive"):
        avro_schema_for(df)


def test_read_fixed_width_blank_fields_null(spark, tmp_path):
    """Blank-padded empty fields -> NULL through nullif before the
    ANSI cast; right-aligned numerics parse."""
    from dbt_lakehouse_aws_spark.sources.reader import read_fixed_width

    lines = ["         1ABC       42", "         2              "]
    p = tmp_path / "fw.txt"
    p.write_text("\n".join(lines) + "\n")
    out = {
        r["k"]: (r["tag"], r["v"])
        for r in read_fixed_width(
            spark,
            str(p),
            [("k", 1, 10, "long"), ("tag", 11, 3, "string"), ("v", 14, 9, "long")],
        ).collect()
    }
    assert out == {1: ("ABC", 42), 2: (None, None)}


def test_write_avro_empty_frame_roundtrips(spark, tmp_path):
    """An empty input still lands one schema-carrying container so
    the directory is readable (read_avro discovers its schema from a
    file)."""
    from dbt_lakehouse_aws_spark.sources.avro_io import read_avro, write_avro

    df = spark.createDataFrame([], "id long, name string")
    root = str(tmp_path / "empty_avro")
    meta = write_avro(df, root).collect()[0]
    assert (meta["n_rows"], meta["n_files"]) == (0, 1)
    back = read_avro(spark, root)
    assert back.count() == 0
    assert back.columns == ["id", "name"]


def test_arrow_ipc_roundtrip_nulls_binary_empty(spark, tmp_path):
    """IPC write/read round-trips values, NULLs, and binary columns;
    an all-empty input still lands a schema-carrying stream."""
    from dbt_lakehouse_aws_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        write_arrow_ipc,
    )

    df = spark.createDataFrame(
        [(1, "a", bytearray(b"\x00\xff")), (2, None, None), (3, "c", bytearray(b""))],
        "id long, s string, payload binary",
    ).repartition(4)  # some partitions are empty
    n_rows, n_files = write_arrow_ipc(df, str(tmp_path / "d"))
    assert n_rows == 3 and 1 <= n_files <= 3
    back = read_arrow_ipc(spark, str(tmp_path / "d"))
    assert back.schema == df.schema
    got = sorted(
        (r["id"], r["s"], bytes(r["payload"]) if r["payload"] is not None else None)
        for r in back.collect()
    )
    assert got == [(1, "a", b"\x00\xff"), (2, None, None), (3, "c", b"")]

    empty = df.filter("id < 0")
    n_rows, n_files = write_arrow_ipc(empty, str(tmp_path / "e"))
    assert (n_rows, n_files) == (0, 1)
    back2 = read_arrow_ipc(spark, str(tmp_path / "e"))
    assert back2.schema == df.schema and back2.count() == 0


def test_parquet_footer_audit_matches_duckdb(spark):
    """Two independent parquet footer parsers must agree: the
    distributed pyarrow audit vs DuckDB's parquet_file_metadata,
    per file, on rows / row groups / format version."""
    import duckdb

    from dbt_lakehouse_aws_spark.sources.parquet_meta import parquet_footer_audit

    sf_dir = "/root/testdata/sf0.001"
    tables = ["customer", "orders", "lineitem", "part", "supplier", "events"]
    paths = [f"{sf_dir}/{t}.parquet" for t in tables]
    ours = {
        r["path"]: (r["n_rows"], r["n_row_groups"], r["format_version"])
        for r in parquet_footer_audit(spark, paths).collect()
    }
    con = duckdb.connect()
    theirs = {
        row[0]: (row[1], row[2], row[3])
        for row in con.sql(
            f"SELECT file_name, num_rows, num_row_groups, format_version "
            f"FROM parquet_file_metadata({paths!r})"
        ).fetchall()
    }
    assert ours == theirs
    assert len(ours) == len(tables)
