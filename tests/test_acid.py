"""ACID table layer (sources/acid.py): transactional semantics the
reference gets from Iceberg (reference dbt_project.yml:38-51) —
atomic commits, snapshot isolation, time travel, copy-on-write
MERGE/DELETE with file-level pruning and vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.sources.acid import AcidTable, CommitConflict


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "id bigint, grp string, value double")


@pytest.fixture
def base_rows():
    return [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(100)]


def test_write_read_roundtrip(spark, tmp_path, base_rows):
    t = AcidTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    snap = t.write(_mkdf(spark, base_rows))
    assert snap.version == 0 and t.exists()
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == sorted(base_rows)


def test_append_extends_file_list(spark, tmp_path, base_rows):
    t = AcidTable(spark, str(tmp_path / "t"))
    s0 = t.write(_mkdf(spark, base_rows))
    s1 = t.write(_mkdf(spark, [(1000, "new", 1.0)]), mode="append")
    assert set(s0.files) < set(s1.files)
    assert t.read().count() == 101


def test_snapshot_isolation_under_merge(spark, tmp_path, base_rows):
    """A reader's resolved DataFrame must be repeatable across a
    concurrent writer's MERGE — the core ACID guarantee."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows).repartitionByRange(4, "id"))
    reader = t.read()  # resolves version 0's file list
    before = sorted(tuple(r) for r in reader.collect())
    t.merge(_mkdf(spark, [(0, "even", 999.0), (500, "new", 1.0)]), ["id"])
    after_commit = sorted(tuple(r) for r in reader.collect())
    assert before == after_commit == sorted(base_rows)
    merged = {r["id"]: r["value"] for r in t.read().collect()}
    assert merged[0] == 999.0 and merged[500] == 1.0 and len(merged) == 101


def test_time_travel_and_history(spark, tmp_path, base_rows):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows))
    t.merge(_mkdf(spark, [(0, "even", -1.0)]), ["id"])
    t.delete("id >= 90")
    assert [s.version for s in t.history()] == [0, 1, 2]
    assert t.read(version=0).count() == 100
    assert {r["value"] for r in t.read(version=1).filter("id = 0").collect()} == {-1.0}
    assert t.read().count() == 90


def test_commit_conflict_put_if_absent(spark, tmp_path, base_rows):
    """Two writers racing for the same version: exactly one wins."""
    t = AcidTable(spark, str(tmp_path / "t"))
    snap = t.write(_mkdf(spark, base_rows))
    kwargs = dict(
        operation="TEST",
        files=list(snap.files),
        schema_json=snap.schema_json,
        stats=snap.stats,
        base_version=snap.version,
    )
    t._commit(**kwargs)  # first writer wins version 1
    with pytest.raises(CommitConflict):
        t._commit(**kwargs)  # second writer must conflict, not clobber


def _sneak_in_first(t):
    """Make ``t._commit`` lose its first race: another writer commits
    version base+1 just before it. Returns the number of races lost."""
    real_commit = t._commit
    fails = {"n": 0}

    def flaky_commit(**kwargs):
        if fails["n"] == 0:
            fails["n"] += 1
            real_commit(
                operation="SNEAK",
                files=kwargs["files"],
                schema_json=kwargs["schema_json"],
                stats=kwargs["stats"],
                base_version=kwargs["base_version"],
            )
        return real_commit(**kwargs)

    t._commit = flaky_commit
    return fails


def test_merge_retries_past_conflict(spark, tmp_path, base_rows):
    """merge() rebases on CommitConflict instead of surfacing it."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows))
    fails = _sneak_in_first(t)
    snap = t.merge(_mkdf(spark, [(3, "odd", 33.0)]), ["id"])
    assert fails["n"] == 1 and snap.version == 2
    assert t.read().filter("id = 3").first()["value"] == 33.0


def test_delete_and_replace_where_retry_past_conflict(spark, tmp_path, base_rows):
    """delete() and replace_where() rebase on a lost race like merge():
    the retry commits on top of the sneaked-in version with the right
    rows."""
    t = AcidTable(spark, str(tmp_path / "d"))
    t.write(_mkdf(spark, base_rows))
    fails = _sneak_in_first(t)
    snap = t.delete("id >= 90")
    assert fails["n"] == 1 and snap.version == 2
    assert t.read().count() == 90

    r = AcidTable(spark, str(tmp_path / "r"))
    r.write(_mkdf(spark, base_rows))
    fails = _sneak_in_first(r)
    snap = r.replace_where(_mkdf(spark, [(1, "odd", -1.0)]), "grp = 'odd'")
    assert fails["n"] == 1 and snap.version == 2
    got = {row["id"]: row["value"] for row in r.read().filter("grp = 'odd'").collect()}
    assert got == {1: -1.0}
    assert r.read().filter("grp = 'even'").count() == 50


def test_commit_race_losers_make_three_attempts(spark, tmp_path, base_rows, monkeypatch):
    """merge(), delete(), replace_where() and optimize() share one
    retry policy: an operation that keeps losing the commit race
    rebases COMMIT_ATTEMPTS - 1 times and then raises — 3 attempts in
    all."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows))
    calls = []

    def always_conflict(*args, **kwargs):
        calls.append(1)
        raise CommitConflict("lost the race")

    monkeypatch.setattr(t, "_copy_on_write", always_conflict)
    monkeypatch.setattr(t, "_optimize_once", always_conflict)
    for op in (
        lambda: t.merge(_mkdf(spark, [(3, "odd", 33.0)]), ["id"]),
        lambda: t.delete("id >= 90"),
        lambda: t.replace_where(_mkdf(spark, [(1, "odd", 1.0)]), "grp = 'odd'"),
        t.optimize,
    ):
        calls.clear()
        with pytest.raises(CommitConflict):
            op()
        assert len(calls) == 3
    assert t.latest_version() == 0


def test_merge_prunes_untouched_files(spark, tmp_path):
    """A narrow-key delta against a range-clustered table must rewrite
    only the overlapping files — the 100 TB incremental contract."""
    rows = [(i, "g", float(i)) for i in range(1000)]
    t = AcidTable(spark, str(tmp_path / "t"))
    s0 = t.write(_mkdf(spark, rows).repartitionByRange(8, "id"))
    assert len(s0.files) == 8
    s1 = t.merge(_mkdf(spark, [(5, "g", -5.0), (7, "g", -7.0)]), ["id"])
    carried = set(s0.files) & set(s1.files)
    assert len(carried) == 7, "only the one file holding ids 5 and 7 may be rewritten"
    assert "touched=1/8" in s1.operation
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got[5] == -5.0 and got[7] == -7.0 and got[999] == 999.0 and len(got) == 1000


def test_merge_inserts_unmatched_keys(spark, tmp_path, base_rows):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows))
    t.merge(_mkdf(spark, [(50, "even", 0.5), (200, "new", 2.0)]), ["id"])
    got = {r["id"]: (r["grp"], r["value"]) for r in t.read().collect()}
    assert len(got) == 101
    assert got[50] == ("even", 0.5) and got[200] == ("new", 2.0)
    assert got[49] == ("odd", 49.0)


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    rows = [(i, "g", float(i)) for i in range(1000)]
    t = AcidTable(spark, str(tmp_path / "t"))
    s0 = t.write(_mkdf(spark, rows).repartitionByRange(8, "id"))
    s1 = t.delete("id < 10")
    assert len(set(s0.files) & set(s1.files)) == 7
    assert t.read().count() == 990
    assert t.read().filter("id < 10").count() == 0


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, 1.0), (2, "x", 2.0)], "id bigint, grp string, value double"
    )
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(df)
    t.delete("grp = 'x'")  # NULL predicate rows must survive (SQL semantics)
    assert [r["id"] for r in t.read().collect()] == [1]


def test_vacuum_drops_unreferenced_files(spark, tmp_path, base_rows):
    t = AcidTable(spark, str(tmp_path / "t"))
    s0 = t.write(_mkdf(spark, base_rows).repartition(4))
    t.merge(_mkdf(spark, [(i, "g", 0.0) for i in range(100)]), ["id"])
    removed = t.vacuum(retain_last=1)
    assert set(removed) == set(s0.files), "every v0-only file reclaimed"
    assert [s.version for s in t.history()] == [1]
    assert t.read().count() == 100  # latest snapshot intact


def test_empty_table_read(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    df = _mkdf(spark, [(1, "g", 1.0)])
    t.write(df)
    t.delete("id = 1")
    assert t.read().count() == 0
    assert t.read().columns == ["id", "grp", "value"]


def test_read_time_file_pruning(spark, tmp_path):
    """read(prune=...) must skip files whose manifest bounds cannot
    hold the requested range — Iceberg-style manifest skipping."""
    rows = [(i, "g", float(i)) for i in range(1000)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartitionByRange(8, "id"))

    pruned = t.read(prune={"id": (100, 120)})
    # the pruned plan should enumerate far fewer than 8 files
    n_files = len(pruned.inputFiles())
    assert 1 <= n_files <= 2, n_files
    # pruning is a superset: exact filter on top gives the right rows
    assert pruned.filter("id BETWEEN 100 AND 120").count() == 21
    # point lookup and half-open range
    assert t.read(prune={"id": (999, 999)}).filter("id = 999").count() == 1
    assert t.read(prune={"id": (900, None)}).filter("id >= 900").count() == 100
    # unknown-stats columns never prune
    assert t.read(prune={"grp": ("a", "z")}).count() == 1000


def test_stream_merge_into_acid(spark, tmp_path):
    """AvailableNow streaming refresh: two micro-batches MERGE into
    the AcidTable; last-wins within batch via order_col; history
    records one commit per batch."""
    import os as _os

    from dbt_lakehouse_aws_spark.streaming.ingest import stream_merge_into_acid

    src = tmp_path / "src"
    src.mkdir()
    header = "id,value,seq\n"
    (src / "b1.csv").write_text(header + "1,10.0,1\n2,20.0,1\n")
    # batch 2: update id=2 (two in-batch versions; seq 3 must win), insert id=3
    (src / "b2.csv").write_text(header + "2,99.0,2\n2,25.0,3\n3,30.0,2\n")
    for i, f in enumerate(("b1.csv", "b2.csv")):
        _os.utime(src / f, (1_700_000_000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema("id long, value double, seq long")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src), header=True)
    )
    table_path = str(tmp_path / "acid_t")
    q = stream_merge_into_acid(
        stream,
        table_path=table_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["id"],
        order_col="seq",
    )
    q.awaitTermination(120)

    t = AcidTable(spark, table_path)
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got == {1: 10.0, 2: 25.0, 3: 30.0}
    ops = [s.operation for s in t.history()]
    assert ops[0].startswith("WRITE") and all(o.startswith("MERGE") for o in ops[1:])
    assert len(ops) == 2


def test_merge_file_count_stays_proportional(spark, tmp_path):
    """A merge must not inherit spark.sql.shuffle.partitions for its
    rewrite — file count stays ~touched-set-sized across commits."""
    rows = [(i, "g", float(i)) for i in range(1000)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartitionByRange(8, "id"))
    s1 = t.merge(_mkdf(spark, [(5, "g", -5.0), (500, "g", -0.5)]), ["id"])
    assert len(s1.files) <= 8 + 2, f"manifest bloated to {len(s1.files)} files"
    s2 = t.delete("id BETWEEN 0 AND 200")
    assert len(s2.files) <= len(s1.files) + 2


def test_optimize_compacts_and_zorders(spark, tmp_path):
    rows = [(i, "g", float(i)) for i in range(2000)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartition(16))
    for i in range(3):  # a few small incremental commits
        t.merge(_mkdf(spark, [(i, "g", -1.0)]), ["id"])
    before = t.snapshot()
    snap = t.optimize(target_file_bytes=1 << 30, zorder_by=["id", "value"])
    assert snap.operation.startswith("OPTIMIZE")
    assert len(snap.files) < len(before.files)
    assert t.read().count() == 2000  # same rows
    assert {r["id"]: r["value"] for r in t.read().collect()}[1] == -1.0
    # old snapshot still time-travels
    assert t.read(before.version).count() == 2000


def test_schema_evolution_append_and_merge(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, [(1, "g", 1.0), (2, "g", 2.0)]))
    # append with a NEW column evolves the schema; old rows read NULL
    extra = spark.createDataFrame(
        [(3, "g", 3.0, "en")], "id bigint, grp string, value double, lang string"
    )
    t.write(extra, mode="append")
    got = {r["id"]: r["lang"] for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: "en"}
    # merge with the evolved+1 schema: update + insert carry a newer col
    upd = spark.createDataFrame(
        [(2, "g", 2.5, "fr", 9), (4, "g", 4.0, "de", 7)],
        "id bigint, grp string, value double, lang string, score int",
    )
    t.merge(upd, ["id"])
    rows = {r["id"]: (r["lang"], r["score"]) for r in t.read().collect()}
    assert rows[2] == ("fr", 9) and rows[4] == ("de", 7)
    assert rows[1] == (None, None)
    # type change is a hard error
    bad = spark.createDataFrame([(9, "g", 1.0, 5)], "id bigint, grp string, value double, lang int")
    with pytest.raises(ValueError, match="cannot change 'lang'"):
        t.write(bad, mode="append")
    # merge lacking an existing column is a hard error (no silent
    # NULLing), refused before any Spark job runs
    lacking = spark.createDataFrame([(1, "g")], "id bigint, grp string")
    sc = spark.sparkContext
    sc.setJobGroup("merge_lacking", "merge_lacking")
    try:
        with pytest.raises(ValueError, match="missing target columns"):
            t.merge(lacking, ["id"])
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("merge_lacking")) == 0


def test_row_changes_between_snapshots(spark, tmp_path):
    rows = [(i, "g", float(i)) for i in range(100)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartitionByRange(4, "id"))
    t.merge(_mkdf(spark, [(7, "g", 700.0), (200, "new", 2.0)]), ["id"])
    t.delete("id = 50")
    changes = {
        (r["id"], r["_change_type"])
        for r in t.row_changes(0, t.latest_version(), ["id"]).collect()
    }
    assert changes == {(7, "update"), (200, "insert"), (50, "delete")}
    # adjacent diff of the delete commit only
    only_del = {
        (r["id"], r["_change_type"]) for r in t.row_changes(1, 2, ["id"]).collect()
    }
    assert only_del == {(50, "delete")}


def test_log_is_delta_structured_with_checkpoints(spark, tmp_path):
    """Commit cost must be O(touched files): each log entry stores
    only add/remove deltas, with a full checkpoint every
    CHECKPOINT_EVERY commits bounding reconstruction."""
    import json as _json

    rows = [(i, "g", float(i)) for i in range(500)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartitionByRange(8, "id"))
    for i in range(12):
        t.merge(_mkdf(spark, [(i, "g", -float(i))]), ["id"])

    log = tmp_path / "t" / "_log"
    merge_delta = _json.loads((log / f"{5:020d}.json").read_text())
    # core delta shape plus commit wall-clock (as-of time travel) and
    # the full rename map; txn appears only on idempotent-writer commits
    assert {
        "version", "operation", "add", "remove", "schema", "parent",
        "committed_at", "renames",
    } == set(merge_delta) - {"txn"}
    assert len(merge_delta["add"]) <= 2 and len(merge_delta["remove"]) <= 2
    # checkpoint exists at version 10 and reconstruction works everywhere
    assert (log / f"{10:020d}.checkpoint.json").exists()
    assert t.read(version=12).count() == 500
    assert t.read(version=3).count() == 500
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got[11] == -11.0 and got[499] == 499.0


def test_vacuum_preserves_horizon_reconstruction(spark, tmp_path):
    """After vacuum drops the pre-horizon delta chain, the retained
    versions must still reconstruct (checkpoint written at horizon)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, [(i, "g", float(i)) for i in range(50)]))
    for i in range(4):
        t.merge(_mkdf(spark, [(i, "g", -1.0)]), ["id"])
    t.vacuum(retain_last=2)
    assert [s.version for s in t.history()] == [3, 4]
    assert t.read(version=3).count() == 50
    assert t.read(version=4).count() == 50


def test_row_changes_null_safe_cancellation(spark, tmp_path):
    """COW-copied survivor rows containing NULLs must cancel out of
    the change feed: the cancellation join is null-safe (eqNullSafe
    per column), so an unchanged row with a NULL field is NOT
    misclassified as an update when its file is rewritten."""
    rows = [
        (1, None, 1.0),      # NULL grp — survivor in the touched file
        (2, "g", None),      # NULL value — survivor in the touched file
        (3, "g", 3.0),       # the row the merge actually updates
    ]
    df = spark.createDataFrame(rows, "id bigint, grp string, value double")
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(df.coalesce(1))  # one file => every survivor gets COW-copied
    t.merge(
        spark.createDataFrame([(3, "g", 30.0)], "id bigint, grp string, value double"),
        ["id"],
    )
    changes = {
        (r["id"], r["_change_type"])
        for r in t.row_changes(0, 1, ["id"]).collect()
    }
    assert changes == {(3, "update")}, changes


def test_stray_tmp_log_file_is_ignored(spark, tmp_path, base_rows):
    """A writer crash between staging .tmp-{uuid}.json and the
    os.link commit must not brick the table: version listing skips
    anything that isn't a canonical {version:020d} log name."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows))
    log = tmp_path / "t" / "_log"
    (log / ".tmp-deadbeef.json").write_text("{}")
    (log / ".cptmp-deadbeef.json").write_text("{}")
    (log / "garbage.json").write_text("{}")
    assert t.read().count() == 100
    s = t.merge(_mkdf(spark, [(0, "even", -1.0)]), ["id"])
    assert s.version == 1
    assert t.read().filter("id = 0").first()["value"] == -1.0


def test_table_using_removed_feature_is_refused(spark, tmp_path, base_rows):
    """Older writers could record deletion vectors, CHECK constraints,
    generated and identity columns in the log. This format no longer
    applies them, so serving such a table would bring deleted rows
    back or skip its rules: snapshot() refuses it, naming the feature,
    whether the map sits in a delta or a checkpoint. The empty maps
    those writers put on every commit, and their per-file
    ``__bloom__`` stats entries, are harmless."""
    import json as _json

    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows[:50]).coalesce(1))  # v0 + its checkpoint
    (f,) = t.write(_mkdf(spark, base_rows[50:]).coalesce(1), mode="append").files[1:]
    log = tmp_path / "t" / "_log"
    delta, cp = log / f"{1:020d}.json", log / f"{0:020d}.checkpoint.json"
    old_maps = dict(constraints={}, generated={}, dvs={}, identity={})
    old_delta = {**_json.loads(delta.read_text()), **old_maps}
    old_delta["add"][f]["__bloom__id"] = "AAAA"
    old_cp = {**_json.loads(cp.read_text()), **old_maps}
    delta.write_text(_json.dumps(old_delta))
    cp.write_text(_json.dumps(old_cp))
    assert t.read().count() == 100
    assert t.read(prune={"id": (75, 75)}).filter("id = 75").count() == 1

    features = {
        "dvs": ({f: "0000000001-0.dv.json"}, "deletion vectors"),
        "constraints": ({"pos": "value >= 0"}, "CHECK constraints"),
        "generated": ({"cents": "CAST(value * 100 AS BIGINT)"}, "generated columns"),
        "identity": ({"row_id": 1}, "identity columns"),
    }
    for key, (value, name) in features.items():
        delta.write_text(_json.dumps({**old_delta, key: value}))
        with pytest.raises(ValueError, match=name):
            t.read()
    delta.write_text(_json.dumps(old_delta))
    (f0,) = t.snapshot(0).files
    features["dvs"] = ({f0: "0000000000-0.dv.json"}, "deletion vectors")
    for key, (value, name) in features.items():
        cp.write_text(_json.dumps({**old_cp, key: value}))
        with pytest.raises(ValueError, match=name):
            t.read(version=0)


def test_merge_rejects_duplicate_source_keys(spark, tmp_path, base_rows):
    """Delta/Iceberg MERGE raises when several source rows match one
    target row; silently unioning both deltas in would duplicate the
    key. NULL-bearing but unique keys must NOT trip the guard."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, base_rows))
    dup = _mkdf(spark, [(1, "odd", 10.0), (1, "odd", 20.0)])
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(dup, ["id"])
    # table unchanged after the rejected merge
    assert t.latest_version() == 0 and t.read().count() == 100

    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.write(
        spark.createDataFrame(
            [(1, "a", 1.0), (None, "b", 2.0)], "id bigint, grp string, value double"
        )
    )
    upd = spark.createDataFrame(
        [(1, "a", 10.0), (None, "b", 20.0)], "id bigint, grp string, value double"
    )
    s = t2.merge(upd, ["id"])  # unique keys incl. a NULL: no raise
    assert s.version == 1


def test_concurrent_merges_from_two_processes(spark, tmp_path):
    """Optimistic concurrency under a REAL race: two separate Spark
    drivers (subprocesses, own JVMs) merge disjoint key ranges into
    the same table after a file-barrier rendezvous. The os.link
    put-if-absent commit admits exactly one winner per version; the
    loser must rebase and land next — afterwards the history is
    linear (v1, v2 with parent chain 0 -> 1 -> 2) and BOTH deltas
    are present in the final snapshot."""
    import subprocess
    import sys as _sys

    rows = [(i, "base", float(i)) for i in range(200)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartitionByRange(4, "id"))

    worker = os.path.join(os.path.dirname(__file__), "acid_race_worker.py")
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    procs = [
        subprocess.Popen(
            [_sys.executable, worker, str(tmp_path / "t"), tag, peer,
             str(lo), str(hi), str(barrier)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        for tag, peer, lo, hi in [("A", "B", 0, 30), ("B", "A", 100, 130)]
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    versions = sorted(
        int(line.split("version=")[1])
        for out in outs for line in out.splitlines() if "COMMITTED" in line
    )
    assert versions == [1, 2], outs

    # serializable history: parent chain is linear, no skipped/forked version
    hist = t.history()
    assert [s.version for s in hist] == [0, 1, 2]
    assert [s.parent for s in hist] == [None, 0, 1]
    got = {r["id"]: (r["grp"], r["value"]) for r in t.read().collect()}
    assert len(got) == 200
    assert all(got[i] == ("A", float(-i)) for i in range(0, 30))
    assert all(got[i] == ("B", float(-i)) for i in range(100, 130))
    assert all(got[i] == ("base", float(i)) for i in range(30, 100))


def test_optimize_concurrent_with_merge(spark, tmp_path):
    """OPTIMIZE raced against a concurrent MERGE from a separate
    Spark driver (VERDICT r3 item 5): the put-if-absent commit admits
    one winner per version and BOTH sides rebase on conflict, so the
    loser lands on the next version. The dangerous failure is a stale
    OPTIMIZE committing a pre-merge rewrite (resurrecting overwritten
    rows) — afterwards the table must hold exactly the merged state,
    every row exactly once, with a linear parent chain."""
    import subprocess
    import sys as _sys

    rows = [(i, "base", float(i)) for i in range(200)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartitionByRange(4, "id"))

    worker = os.path.join(os.path.dirname(__file__), "acid_race_worker.py")
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    procs = [
        subprocess.Popen(
            [_sys.executable, worker, str(tmp_path / "t"), tag, peer,
             str(lo), str(hi), str(barrier), op],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        for tag, peer, lo, hi, op in [
            ("A", "B", 0, 30, "merge"),
            ("B", "A", 0, 0, "optimize"),
        ]
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    versions = sorted(
        int(line.split("version=")[1])
        for out in outs for line in out.splitlines() if "COMMITTED" in line
    )
    assert versions == [1, 2], outs

    hist = t.history()
    assert [s.version for s in hist] == [0, 1, 2]
    assert [s.parent for s in hist] == [None, 0, 1]
    got = {r["id"]: (r["grp"], r["value"]) for r in t.read().collect()}
    assert len(got) == 200  # no duplicated rows from a stale compaction
    assert all(got[i] == ("A", float(-i)) for i in range(0, 30))  # merge survives
    assert all(got[i] == ("base", float(i)) for i in range(30, 200))
    # whichever side committed last, an OPTIMIZE ran: its snapshot
    # must carry the same rows it compacted (operation strings prove
    # both ops are in the history)
    ops = [s.operation for s in hist]
    assert any(o.startswith("OPTIMIZE") for o in ops), ops
    assert any(o.startswith("MERGE") for o in ops), ops


def test_snapshot_reads_bounded_log_files(spark, tmp_path):
    """Snapshot reconstruction is O(checkpoint + tail), never O(all
    versions): after many commits, snapshot() may read at most
    CHECKPOINT_EVERY delta files plus one checkpoint (the adversarial
    log-scale guarantee; scripts/probe_acid_log_scale.py measures the
    same property at 1,000+ commits)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, [(i, "g", float(i)) for i in range(20)]))
    for j in range(25):  # versions 1..25, checkpoints at 10 and 20
        t.merge(_mkdf(spark, [(j % 20, "g", float(-j))]), ["id"])

    reads = []
    orig = t._read_json

    def counting(name):
        reads.append(name)
        return orig(name)

    t._read_json = counting
    snap = t.snapshot()
    t._read_json = orig
    assert snap.version == 25
    deltas = [n for n in reads if n.endswith(".json") and "checkpoint" not in n]
    cps = [n for n in reads if "checkpoint" in n]
    assert len(cps) == 1 and cps[0].startswith("%020d" % 20)
    assert len(deltas) <= t.CHECKPOINT_EVERY  # the tail: v21..v25 only
    assert len(deltas) == 5


def test_vacuum_spares_concurrent_reader_of_retained_snapshot(spark, tmp_path):
    """VACUUM must never delete a file referenced by a retained
    manifest: a reader that resolved its file list before a
    merge+vacuum keeps collecting identical rows as long as its
    snapshot is within the retention horizon — and only breaks once
    vacuum's horizon passes it (the documented Delta
    deletedFileRetentionDuration contract)."""
    rows = [(i, "g", float(i)) for i in range(100)]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, rows).repartitionByRange(4, "id"))

    reader_v0 = t.read()  # pins version 0's files
    before = sorted(tuple(r) for r in reader_v0.collect())

    t.merge(_mkdf(spark, [(1, "g", -1.0)]), ["id"])          # v1
    t.vacuum(retain_last=2)                                   # keeps v0 + v1
    assert sorted(tuple(r) for r in reader_v0.collect()) == before

    t.merge(_mkdf(spark, [(2, "g", -2.0)]), ["id"])          # v2
    t.vacuum(retain_last=1)                                   # v0's files go
    latest = {r["id"]: r["value"] for r in t.read().collect()}
    assert latest[1] == -1.0 and latest[2] == -2.0 and len(latest) == 100
    with pytest.raises(Exception):
        reader_v0.collect()  # horizon passed: stale reader fails, not wrong data


def test_restore_is_metadata_only_and_preserves_history(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    df0 = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.write(df0)
    t.delete("k >= 5")
    assert t.read().count() == 5
    snap = t.restore(0)
    assert snap.operation == "RESTORE to=0"
    assert snap.version == 2
    # full original contents are back
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(i, 2 * i) for i in range(10)}
    # metadata-only: the restored snapshot re-references v0's files
    assert set(snap.files) == set(t.snapshot(0).files)
    # history preserved — restore is a new version, not a rewind
    assert [s.version for s in t.history()] == [0, 1, 2]
    # time travel to the pre-restore delete still works
    assert t.read(version=1).count() == 5


def test_restore_refuses_when_target_files_are_gone(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(spark.range(5).select(F.col("id").alias("k")))
    t.write(spark.range(3).select(F.col("id").alias("k")), mode="overwrite")
    # simulate external cleanup of a v0-only data file (manifests intact)
    gone = [f for f in t.snapshot(0).files if f not in set(t.snapshot(1).files)]
    os.unlink(os.path.join(str(tmp_path / "t"), "data", gone[0]))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(0)
    # after a real VACUUM the pre-horizon manifest itself is gone: loud too
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.write(spark.range(5).select(F.col("id").alias("k")))
    t2.write(spark.range(3).select(F.col("id").alias("k")), mode="overwrite")
    t2.vacuum(retain_last=1)
    with pytest.raises(FileNotFoundError):
        t2.restore(0)


def test_write_without_stats_is_read_safe_and_unprunable(spark, tmp_path):
    """collect_stats=False commits no per-file stats; reads return
    every row, pruned reads keep statless files conservatively, and
    a later stats-bearing append coexists in one snapshot."""
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    t = AcidTable(spark, str(tmp_path / "nostats"))
    a = spark.range(0, 100).withColumnRenamed("id", "k")
    snap = t.write(a, collect_stats=False)
    assert all(v == {} for v in snap.stats.values())
    assert t.read().count() == 100
    # prune on k must keep the statless files (no false negatives)
    assert t.read(prune={"k": (990, 999)}).count() == 100
    b = spark.range(1000, 1100).withColumnRenamed("id", "k")
    t.write(b, mode="append")  # stats collected for the new files only
    snap2 = t.snapshot()
    assert t.read().count() == 200
    with_stats = [f for f in snap2.files if snap2.stats.get(f, {}).get("k")]
    without = [f for f in snap2.files if not snap2.stats.get(f)]
    assert with_stats and without
    # pruned read: statless files kept, stats-bearing files outside
    # the range dropped — only rows 0-99 + none of 1000+ qualify
    pruned = t.read(prune={"k": (0, 50)})
    assert pruned.count() == 100  # statless batch kept whole, b pruned out


def test_time_travel_as_of_timestamp(spark, tmp_path):
    """AS-OF-timestamp reads resolve to the last version committed at
    or before the given instant; pre-table instants raise."""
    import time as _time

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    t = AcidTable(spark, str(tmp_path / "tt"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    after_v0 = _time.time()
    _time.sleep(0.05)
    t.write(spark.createDataFrame([(2, "b")], "id long, s string"), mode="append")

    assert t.read(as_of=after_v0).count() == 1
    assert t.read(as_of=_time.time()).count() == 2
    assert t.version_at(after_v0) == 0
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.version_at(after_v0 - 3600)
    with _pytest.raises(ValueError):
        t.read(version=0, as_of=after_v0)


def test_txn_protocol_makes_append_replay_exactly_once(spark, tmp_path):
    """The Delta-style (app, batch) txn commit: a write, merge or
    replace_where that replays an already-committed batch id is a
    no-op (no new version, rows unchanged), also after vacuum has
    dropped the deltas that recorded it; a fresh batch id moves the
    watermark."""
    t = AcidTable(spark, str(tmp_path / "eo"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    t.write(df, txn=("appX", 0))
    assert t.last_txn_batch("appX") == 0
    assert t.last_txn_batch("other") is None

    def replays_are_noops(batch):
        version, rows = t.latest_version(), sorted(t.read().collect())
        z = spark.createDataFrame([(1, "z"), (2, "z")], "id long, s string")
        assert t.write(df, mode="append", txn=("appX", batch)).version == version
        assert t.merge(z, ["id"], txn=("appX", batch)).version == version
        assert t.replace_where(z, "s = 'z'", txn=("appX", batch)).version == version
        assert t.latest_version() == version
        assert sorted(t.read().collect()) == rows

    replays_are_noops(0)
    assert t.read().count() == 2  # no duplicates

    t.write(df, mode="append", txn=("appX", 1))
    assert t.last_txn_batch("appX") == 1
    assert t.read().count() == 4
    # interleaved commits from another app don't disturb the watermark
    t.write(df, mode="append", txn=("appY", 7))
    assert t.last_txn_batch("appX") == 1
    assert t.last_txn_batch("appY") == 7

    # only the appY delta survives; the checkpoint keeps appX's mark
    t.vacuum(retain_last=1)
    assert t.last_txn_batch("appX") == 1
    replays_are_noops(0)
    replays_are_noops(1)
    assert t.read().count() == 6


def test_txn_watermark_from_a_checkpoint_without_the_map(spark, tmp_path):
    """Checkpoints written before they recorded the {app: batch} map
    still yield the watermark, from the deltas they cover."""
    import json as _json

    t = AcidTable(spark, str(tmp_path / "t"))
    snap = t.write(spark.createDataFrame([(1, "a")], "id long, s string"), txn=("app", 4))
    for v in range(AcidTable.CHECKPOINT_EVERY):
        t._commit(
            operation="TEST", files=snap.files, schema_json=snap.schema_json,
            stats=snap.stats, base_version=v,
        )
    cp = tmp_path / "t" / "_log" / f"{AcidTable.CHECKPOINT_EVERY:020d}.checkpoint.json"
    meta = _json.loads(cp.read_text())
    assert meta.pop("txns") == {"app": 4}
    cp.write_text(_json.dumps(meta))
    assert t.last_txn_batch("app") == 4


def test_merge_and_replace_where_create_a_missing_table(spark, tmp_path):
    """merge and replace_where on a path with no commits commit their
    frame as version 0 (dbt's first incremental run); replace_where
    applies its predicate guard first."""
    df = spark.createDataFrame([(1, "a"), (2, "a")], "id long, s string")
    m = AcidTable(spark, str(tmp_path / "m"))
    assert m.merge(df, ["id"], txn=("app", 0)).version == 0
    assert sorted(r["id"] for r in m.read().collect()) == [1, 2]
    assert m.last_txn_batch("app") == 0

    rw = AcidTable(spark, str(tmp_path / "rw"))
    with pytest.raises(ValueError, match="violating"):
        rw.replace_where(df, "id = 1")
    assert not rw.exists()
    assert rw.replace_where(df, "s = 'a'").version == 0
    assert sorted(r["id"] for r in rw.read().collect()) == [1, 2]


def test_stream_append_into_acid_exactly_once(spark, tmp_path):
    """End-to-end: the streaming append sink lands each batch once;
    re-running the SAME foreachBatch function with an old batch id
    (a crash-replay) adds nothing."""
    import dbt_lakehouse_aws_spark.streaming.ingest as ing
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    src_dir = tmp_path / "src"
    spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id long, s string"
    ).write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    table_path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    q = ing.stream_append_into_acid(
        stream, table_path=table_path, checkpoint_dir=ckpt
    )
    q.awaitTermination(300)
    t = AcidTable(spark, table_path)
    assert t.read().count() == 3

    # crash-replay: same app id (derived from ckpt), old batch id
    batch = spark.read.parquet(str(src_dir))
    t.write(batch, mode="append", txn=(f"stream_append:{ckpt}", 0))
    assert t.read().count() == 3  # replay added nothing


def test_rename_column_metadata_only_roundtrip(spark, tmp_path):
    """RENAME COLUMN is one metadata commit: no data file changes,
    reads present the logical name, appends/merges/deletes written in
    logical names land correctly in physically-named files, and
    RESTORE across the rename brings the old name back."""
    import os as _os

    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    files_before = set(t.snapshot().files)
    data_dir = str(tmp_path / "t" / "data")
    mtimes = {f: _os.path.getmtime(_os.path.join(data_dir, f)) for f in files_before}

    t.rename_column("value", "score")
    assert set(t.snapshot().files) == files_before  # no rewrite
    assert all(
        _os.path.getmtime(_os.path.join(data_dir, f)) == mtimes[f]
        for f in files_before
    )
    assert "score" in t.read().columns and "value" not in t.read().columns

    # logical-name append
    t.write(_mkdf(spark, [(3, "c", 3.0)]).withColumnRenamed("value", "score"),
            mode="append")
    got = {r["id"]: r["score"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}

    # logical-name merge on the renamed frame
    up = _mkdf(spark, [(2, "B", -2.0)]).withColumnRenamed("value", "score")
    t.merge(up, ["id"])
    got = {r["id"]: (r["grp"], r["score"]) for r in t.read().collect()}
    assert got[2] == ("B", -2.0) and got[1] == ("a", 1.0)

    # logical-name delete predicate
    t.delete("score < 0")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3]

    # restore to pre-rename: the old logical name comes back
    t.restore(0)
    assert "value" in t.read().columns and t.read().count() == 2


def test_rename_column_guards(spark, tmp_path):
    """Unknown/duplicate names are rejected; renaming back to the
    physical name clears the mapping."""
    import pytest as _pytest

    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, [(1, "a", 1.0)]))
    with _pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with _pytest.raises(ValueError, match="already exists"):
        t.rename_column("value", "grp")

    t.rename_column("value", "score")
    # rename back to the physical name empties the map
    t.rename_column("score", "value")
    assert t.snapshot().renames == {}
    assert {r["id"]: r["value"] for r in t.read().collect()} == {1: 1.0}


def test_replace_where_swaps_only_matching_partition(spark, tmp_path, base_rows):
    """replace_where rewrites the predicate's slice and keeps the
    rest byte-identical — in ONE commit (version bumps exactly
    once)."""
    t = AcidTable(spark, str(tmp_path / "rw"))
    t.write(_mkdf(spark, base_rows))
    v0 = t.latest_version()
    new_odds = _mkdf(
        spark, [(i, "odd", float(i) * 10) for i in range(1, 100, 2)]
    )
    snap = t.replace_where(new_odds, "grp = 'odd'")
    assert snap.version == v0 + 1  # one atomic commit
    got = {(r["id"]): (r["grp"], r["value"]) for r in t.read().collect()}
    assert len(got) == 100
    for i in range(100):
        if i % 2 == 0:
            assert got[i] == ("even", float(i))
        else:
            assert got[i] == ("odd", float(i) * 10)
    # time travel still sees the pre-replace slice
    old = {r["id"]: r["value"] for r in t.read(version=v0).collect()}
    assert old[1] == 1.0


def test_replace_where_rejects_leaking_batch(spark, tmp_path, base_rows):
    """A batch with rows OUTSIDE the predicate is rejected before any
    file is written (Delta's replaceWhere guard) and the table is
    unchanged."""
    t = AcidTable(spark, str(tmp_path / "rw2"))
    t.write(_mkdf(spark, base_rows))
    v0 = t.latest_version()
    leaky = _mkdf(spark, [(1, "odd", 11.0), (2, "even", 22.0)])
    with pytest.raises(ValueError, match="violating"):
        t.replace_where(leaky, "grp = 'odd'")
    assert t.latest_version() == v0
    assert t.read().count() == 100


def test_replace_where_shrinks_and_grows_slice(spark, tmp_path, base_rows):
    """The replacing batch may change the slice's cardinality —
    backfills routinely produce fewer or more rows than they
    replace."""
    t = AcidTable(spark, str(tmp_path / "rw3"))
    t.write(_mkdf(spark, base_rows))
    tiny = _mkdf(spark, [(999, "odd", -1.0)])
    t.replace_where(tiny, "grp = 'odd'")
    rows = t.read().collect()
    assert len(rows) == 51  # 50 evens + 1 replacement
    assert {r["grp"] for r in rows} == {"even", "odd"}


def test_drop_column_metadata_only(spark, tmp_path, base_rows):
    """DROP COLUMN is one metadata commit: files untouched, the
    column gone from reads, time travel still sees it."""
    t = AcidTable(spark, str(tmp_path / "dc"))
    t.write(_mkdf(spark, base_rows))
    v0 = t.latest_version()
    files_before = list(t.snapshot().files)
    snap = t.drop_column("value")
    assert snap.version == v0 + 1
    assert list(t.snapshot().files) == files_before  # no data rewrite
    assert t.read().columns == ["id", "grp"]
    assert t.read().count() == 100
    # time travel: the column still exists at v0
    assert "value" in t.read(version=v0).columns


def test_drop_column_guards(spark, tmp_path, base_rows):
    t = AcidTable(spark, str(tmp_path / "dcg"))
    t.write(_mkdf(spark, base_rows))
    t.drop_column("value")
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("value")


def test_drop_renamed_column_by_logical_name(spark, tmp_path, base_rows):
    """Drop binds to the LOGICAL name after a rename; the physical
    rename map entry goes with it."""
    t = AcidTable(spark, str(tmp_path / "dcr"))
    t.write(_mkdf(spark, base_rows))
    t.rename_column("value", "amount")
    t.drop_column("amount")
    assert t.read().columns == ["id", "grp"]
    assert t.snapshot().renames == {}


def test_shallow_clone_isolation_and_divergence(spark, tmp_path):
    """clone() is zero-copy (v0 references the source's files by
    absolute path), copy-on-write divergent (MERGE/DELETE land in the
    clone's own data dir), and isolation holds both ways — including
    VACUUM on the clone never touching shared source files."""
    import os

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    src = AcidTable(spark, str(tmp_path / "src"))
    df = spark.range(0, 500).selectExpr("id", "id % 5 AS k", "CAST(id AS DOUBLE) AS v")
    src.write(df)
    cl = src.clone(str(tmp_path / "cl"))

    # zero-copy: no data files under the clone, all refs absolute
    snap0 = cl.snapshot()
    assert all(os.path.isabs(f) for f in snap0.files)
    assert not os.path.isdir(str(tmp_path / "cl" / "data")) or not os.listdir(
        str(tmp_path / "cl" / "data")
    )
    assert cl.read().count() == 500

    # divergence: merge + delete on the clone only
    up = spark.range(0, 20).selectExpr("id", "id % 5 AS k", "CAST(-1 AS DOUBLE) AS v")
    cl.merge(up, ["id"])
    assert cl.read().filter("v = -1").count() == 20
    cl.delete("k = 4")  # removes 100 originals + 4 of the merged rows
    assert cl.read().filter("v = -1").count() == 16
    assert cl.read().filter("k = 4").count() == 0
    assert src.read().filter("v = -1").count() == 0
    assert src.read().filter("k = 4").count() == 100
    # stats pruning still keyed correctly on the clone's mixed refs
    # (ids 0..10 minus the deleted k=4 members 4 and 9)
    assert cl.read(prune={"id": (0, 10)}).filter("id <= 10").count() == 9

    # clone vacuum cannot delete shared source files
    cl.vacuum(retain_last=1)
    assert src.read().count() == 500
    # cloning an existing destination refuses
    try:
        src.clone(str(tmp_path / "cl"))
        raise AssertionError("expected ValueError for existing destination")
    except ValueError:
        pass


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: one atomic MERGE
    updates matched keys, inserts new ones, and deletes unmatched
    target rows meeting the condition — others carry over."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, [
        (1, "keep", 1.0),    # matched -> updated
        (2, "stale", 2.0),   # unmatched + condition -> deleted
        (3, "fresh", 3.0),   # unmatched, fails condition -> survives
    ]).coalesce(1))
    src = _mkdf(spark, [(1, "keep", 10.0), (4, "new", 4.0)])
    snap = t.merge(src, keys=["id"],
                   not_matched_by_source_delete="grp = 'stale'")
    assert "+nmbs_delete" in snap.operation
    got = {r["id"]: (r["grp"], r["value"]) for r in t.read().collect()}
    assert got == {1: ("keep", 10.0), 3: ("fresh", 3.0), 4: ("new", 4.0)}


def test_merge_nmbs_full_sync_mirrors_source(spark, tmp_path):
    """condition 'true' = full-table sync: post-merge table content
    equals the source exactly, in ONE commit."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.write(_mkdf(spark, [(i, "old", float(i)) for i in range(20)])
            .repartition(3))
    src_rows = [(5, "s", 50.0), (21, "s", 210.0)]
    v = t.snapshot().version
    snap = t.merge(_mkdf(spark, src_rows), keys=["id"],
                   not_matched_by_source_delete="true")
    assert snap.version == v + 1
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(src_rows)


def test_merge_nmbs_prices_only_touched_files(spark, tmp_path):
    """A condition that matches nothing must leave untouched files
    carried over by reference (no full-table rewrite)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    a = _mkdf(spark, [(i, "a", float(i)) for i in range(50)]).coalesce(1)
    b = _mkdf(spark, [(i, "b", float(i)) for i in range(50, 100)]).coalesce(1)
    t.write(a)
    s1 = t.write(b, mode="append")
    snap = t.merge(
        _mkdf(spark, [(1, "a", -1.0)]), keys=["id"],
        not_matched_by_source_delete="grp = 'no_such_group'",
    )
    # file holding group b carries over untouched
    assert set(s1.files) & set(snap.files), "untouched file was rewritten"
    assert t.read().count() == 100


def test_source_vacuum_can_invalidate_clone_documented_hazard(spark, tmp_path):
    """The documented Delta shallow-clone hazard, pinned: a clone
    references source data files by absolute path, so a SOURCE-side
    rewrite + VACUUM that drops those files breaks the clone's read
    loudly (missing-file error), while a clone whose referenced
    files survive keeps working. Retain history (or deep-copy)
    before vacuuming a cloned source."""
    src = AcidTable(spark, str(tmp_path / "src"))
    src.write(_mkdf(spark, [(i, "g", float(i)) for i in range(50)]).coalesce(1))
    cl = src.clone(str(tmp_path / "cl"))
    assert cl.read().count() == 50  # healthy while source keeps the file

    src.delete("id >= 0")          # source rewrites away the shared file
    src.vacuum(retain_last=1)      # ...and physically drops it
    with pytest.raises(Exception):
        cl.read().count()
