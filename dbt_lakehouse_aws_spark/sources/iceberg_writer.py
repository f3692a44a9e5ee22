"""Write Apache Iceberg v2 tables (create + append) from first
principles — the write-side twin of :mod:`.iceberg_reader`, and the
one module that owns Iceberg metadata.

The reference materializes its lakehouse AS Iceberg tables
(reference ``dbt_project.yml:38-51`` — ``table_type: iceberg``), so
migration parity needs a write path too. The sandbox has no
iceberg-spark runtime jars; this module emits the PUBLIC table spec
(https://iceberg.apache.org/spec/) directly:

* data files: plain parquet written distributed by Spark and renamed
  into ``data/`` by :func:`.tablefiles.stage` (no re-write; record
  counts come from the footers);
* manifests + manifest lists: **Avro container files** encoded by
  the pure-Python codec in :mod:`.avro_io`, under ONE manifest-entry
  and ONE manifest-list schema with the spec's reserved ``field-id``
  annotations (status=0, data_file=2, file_path=100,
  equality_ids=135, manifest_path=500, … — the ids external engines
  map columns by);
* table metadata: ``metadata/vN.metadata.json`` (format-version 2,
  explicit sequence numbers — no inheritance dance for readers to
  resolve) from one builder, claimed through the put-if-absent commit
  of :mod:`.tablefiles` (the same commit as :class:`.acid.AcidTable`
  and the Delta writer): two writers racing for a version, exactly
  one wins, the loser deletes the data files, manifest and manifest
  list it wrote, and no reader sees a partial file;
* an append builds on the newest LISTED ``vN.metadata.json`` — the
  version it then claims N+1 over, and the one
  :class:`.iceberg_reader.IcebergTable` reads; ``version-hint.text``
  is refreshed via tmp+rename for other engines only (advisory, it
  may lag).

Scope: unpartitioned append/create (the shapes the reference's CTAS
models produce). Row-level deletes belong to the engine's own
:class:`.acid.AcidTable`; writing v2 delete files into tables other
engines maintain is exactly the corruption risk the reader module
documents. :func:`write_v2_table` lays such files down only as a
FIXTURE, around parquet files the caller wrote, so tests and the
``iceberg_v2_mor_events`` query can exercise the reader's
merge-on-read path.

Round-trip is pinned by the driver gate
(``iceberg_write_roundtrip_events``): rows written here and read
back through :class:`.iceberg_reader.IcebergTable` hash-match a
DuckDB oracle over the source table, and appends accumulate across
snapshots with time travel intact.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
)

from dbt_lakehouse_aws_spark.sources.avro_io import read_container, write_container
from dbt_lakehouse_aws_spark.sources.iceberg_reader import _latest_metadata_version, _local_path
from dbt_lakehouse_aws_spark.sources.tablefiles import commit, stage

_SPARK_TO_ICEBERG = {
    BooleanType: "boolean",
    IntegerType: "int",
    LongType: "long",
    FloatType: "float",
    DoubleType: "double",
    DateType: "date",
    TimestampType: "timestamp",
    StringType: "string",
    BinaryType: "binary",
}


def _iceberg_type(dt) -> str:
    if isinstance(dt, DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    for cls, name in _SPARK_TO_ICEBERG.items():
        if isinstance(dt, cls):
            return name
    raise ValueError(f"unsupported Spark type for Iceberg write: {dt}")


#: v2 manifest_entry Avro schema with the spec's reserved field ids.
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    {
                        "name": "equality_ids",
                        "type": [
                            "null",
                            {"type": "array", "items": "int", "element-id": 136},
                        ],
                        "field-id": 135,
                    },
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _manifest_entry(
    snapshot_id: int,
    seq: int,
    path: str,
    rows: int,
    size: int,
    content: int = 0,
    equality_ids: tuple[int, ...] = (),
) -> dict:
    """One ADDED entry with explicit sequence numbers (no inheritance
    for readers to resolve)."""
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": rows,
            "file_size_in_bytes": size,
            "equality_ids": list(equality_ids) or None,
        },
    }


def _write_snapshot(
    meta_dir: str,
    snapshot_id: int,
    seq: int,
    entries: list[dict],
    prior_manifests: list[dict],
    now_ms: int,
) -> tuple[dict, str]:
    """Write a manifest of ``entries`` and a manifest list of
    ``prior_manifests`` plus that manifest; return the snapshot and
    the manifest's path."""
    manifest_path = os.path.join(meta_dir, f"{uuid.uuid4().hex}-m0.avro")
    manifest_bytes = write_container(_MANIFEST_ENTRY_SCHEMA, entries)
    with open(manifest_path, "wb") as fh:
        fh.write(manifest_bytes)
    added_rows = sum(e["data_file"]["record_count"] for e in entries)
    new_manifest = {
        "manifest_path": manifest_path,
        "manifest_length": len(manifest_bytes),
        "partition_spec_id": 0,
        "content": 0,  # data manifest
        "sequence_number": seq,
        "min_sequence_number": min((e["sequence_number"] for e in entries), default=seq),
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    # foreign-table manifests may lack some of our schema's fields
    defaults = {f["name"]: 0 for f in _MANIFEST_LIST_SCHEMA["fields"]}
    carried = [{**defaults, **m} for m in prior_manifests]
    ml_path = os.path.join(meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro")
    with open(ml_path, "wb") as fh:
        fh.write(write_container(_MANIFEST_LIST_SCHEMA, carried + [new_manifest]))
    return {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "summary": {
            "operation": "append",
            "added-data-files": str(len(entries)),
            "added-records": str(added_rows),
        },
        "manifest-list": ml_path,
        "schema-id": 0,
    }, manifest_path


def _table_metadata(
    base: dict | None, snapshot: dict, location: str, fields: list[dict]
) -> dict:
    """Table metadata whose current snapshot is ``snapshot``, on top of
    ``base`` (or of a new unpartitioned table of ``fields``)."""
    meta = base or {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": location,
        "last-column-id": len(fields),
        "schemas": [{"type": "struct", "schema-id": 0, "fields": fields}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
    }
    return {
        **meta,
        "last-sequence-number": snapshot["sequence-number"],
        "last-updated-ms": snapshot["timestamp-ms"],
        "snapshots": [*meta.get("snapshots", []), snapshot],
        "current-snapshot-id": snapshot["snapshot-id"],
    }


@dataclass(frozen=True)
class V2File:
    """One file entry for :func:`write_v2_table`.

    content: 0 = data, 1 = position deletes, 2 = equality deletes.
    ``equality_ids`` are Iceberg field IDs (schema order, 1-based)
    and are required iff content == 2.
    """

    path: str
    seq: int
    content: int = 0
    equality_ids: tuple[int, ...] = field(default_factory=tuple)


def write_v2_table(
    root: str,
    schema_fields: list[tuple[str, str]],
    files: list[V2File],
    *,
    snapshot_id: int = 100,
) -> str:
    """FIXTURE: lay down ``metadata/v1.metadata.json`` (overwriting any)
    for a format-version-2 table whose single current snapshot
    references ``files``, parquet files the caller already wrote.
    ``schema_fields`` is ``[(name, iceberg_type), ...]``; field IDs are
    assigned 1..N in order. Returns the table root."""
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    entries = [
        _manifest_entry(
            snapshot_id,
            f.seq,
            f.path,
            pq.read_metadata(f.path).num_rows,
            os.path.getsize(f.path),
            f.content,
            f.equality_ids,
        )
        for f in files
    ]
    seq = max((f.seq for f in files), default=0)
    snapshot, _ = _write_snapshot(meta_dir, snapshot_id, seq, entries, [], int(time.time() * 1000))
    fields = [
        {"id": i + 1, "name": n, "required": False, "type": t}
        for i, (n, t) in enumerate(schema_fields)
    ]
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(_table_metadata(None, snapshot, root, fields), fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    return root


def write_iceberg_table(df: DataFrame, path: str, *, mode: str = "error") -> int:
    """Write ``df`` into an Iceberg v2 table at ``path``.

    ``mode``: ``error`` (default — must not already be a table),
    ``append`` (new snapshot on top of the current one). Returns the
    committed metadata version N (of ``vN.metadata.json``).
    """
    if mode not in ("error", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    meta_dir = os.path.join(path, "metadata")
    names = os.listdir(meta_dir) if os.path.isdir(meta_dir) else []
    exists = any(f.endswith(".metadata.json") for f in names)
    if exists and mode == "error":
        raise FileExistsError(
            f"{path} is already an Iceberg table (mode='error'); use mode='append'"
        )
    os.makedirs(meta_dir, exist_ok=True)

    now_ms = int(time.time() * 1000)
    snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
    fields = [
        {
            "id": i + 1,
            "name": f.name,
            "required": not f.nullable,
            "type": _iceberg_type(f.dataType),
        }
        for i, f in enumerate(df.schema.fields)
    ]

    meta = None
    version = 1
    parent = None
    prior_manifests: list[dict] = []
    if exists:
        # the base is the version this commit follows: the newest one
        # listed, never the (advisory, possibly stale) version hint
        version = _latest_metadata_version(meta_dir) + 1
        with open(os.path.join(meta_dir, f"v{version - 1}.metadata.json")) as fh:
            meta = json.load(fh)
        # schema compatibility: same names/types, by name
        want = {f["name"]: f["type"] for f in fields}
        if "schemas" in meta:
            cur = {
                f["name"]: f["type"]
                for s in meta["schemas"]
                if s["schema-id"] == meta["current-schema-id"]
                for f in s["fields"]
            }
        else:
            cur = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
        if want != cur:
            raise ValueError(
                f"append schema {want} does not match table schema {cur}"
            )
        snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        parent = meta.get("current-snapshot-id")
        if parent is not None and parent in snaps and "manifest-list" in snaps[parent]:
            with open(_local_path(snaps[parent]["manifest-list"], path), "rb") as fh:
                _, prior_manifests = read_container(fh.read())
    seq = 1 if meta is None else int(meta.get("last-sequence-number", 0)) + 1

    staged = stage(df, path, lambda rel: os.path.join("data", f"{uuid.uuid4().hex}-{rel}"))
    entries = [
        _manifest_entry(snapshot_id, seq, os.path.join(path, f.path), f.rows, f.size)
        for f in staged
    ]
    snapshot, manifest = _write_snapshot(meta_dir, snapshot_id, seq, entries, prior_manifests, now_ms)
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent

    commit(
        meta_dir,
        f"v{version}.metadata.json",
        json.dumps(_table_metadata(meta, snapshot, path, fields)),
        staged=[*(os.path.join(path, f.path) for f in staged), manifest, snapshot["manifest-list"]],
    )
    hint_tmp = os.path.join(meta_dir, f".hint-{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))
    return version
