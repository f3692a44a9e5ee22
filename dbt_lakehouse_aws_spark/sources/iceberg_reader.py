"""Reader for Apache Iceberg tables, written here or by other engines.

The reference materializes its lakehouse tables AS Iceberg
(reference ``dbt_project.yml:38-51`` — ``table_type: iceberg``), so a
user migrating from it holds Iceberg table directories. The sandbox
cannot install the iceberg-spark runtime jars, so this adapter walks
the PUBLIC Iceberg table spec (https://iceberg.apache.org/spec/)
directly, the same posture as :mod:`.delta_reader` for Delta:

* the newest listed ``metadata/v{N}.metadata.json`` is the current
  table metadata; ``version-hint.text`` is advisory for other
  engines and may lag a commit, so it is never read;
* the metadata JSON carries schemas, snapshots, and
  ``current-snapshot-id``; each snapshot points at a MANIFEST LIST;
* manifest lists and manifests are **Avro container files** — decoded
  here with the pure-Python codec in :mod:`.avro_io` (no jars, no
  external packages);
* a snapshot's live data files = union of its manifests' entries
  with ``status != 2`` (2 = DELETED), read as plain parquet with the
  Iceberg schema mapped to Spark types.

Writes (create and append) live in :mod:`.iceberg_writer`, which
resolves the current version with the same rule; row-level mutation
belongs to the engine's own :class:`.acid.AcidTable`, whose design
is the same metadata architecture.

Scale: snapshot resolution is driver-side metadata work proportional
to manifest count, never data; the scan itself is a multi-file
parquet read with full pushdown.

**v2 merge-on-read deletes** are applied relationally, the same shape
the iceberg-spark runtime uses:

* POSITION deletes (``content=1``: parquet files of
  ``(file_path, pos)``) — the data scan exposes Spark's hidden
  ``_metadata.file_path`` / ``_metadata.row_index`` columns and the
  delete rows are removed with one LEFT ANTI hash join keyed on
  (file, position), delete side broadcast (delete files are tiny
  relative to data). A position delete applies only to data files
  whose data sequence number is ≤ the delete file's (spec §Scan
  Planning), enforced as an extra join predicate.
* EQUALITY deletes (``content=2``: parquet files holding the
  ``equality_ids`` columns) — one LEFT ANTI join per distinct
  equality-column set, null-safe on every equality column, applied
  only to data files with sequence number STRICTLY below the
  delete's, so rows re-inserted after the delete correctly survive.

Sequence numbers ride a tiny broadcast (file → seq) frame joined on
``_metadata.file_path``; no Python UDFs anywhere on the row path.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dbt_lakehouse_aws_spark.localframe import local_frame
from dbt_lakehouse_aws_spark.sources.avro_io import read_container

_META_RE = re.compile(r"^v(\d+)\.metadata\.json$")
_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")

_PRIMITIVES: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "date": DateType(),
    "timestamp": TimestampType(),
    "timestamptz": TimestampType(),
    "string": StringType(),
    "binary": BinaryType(),
}


def _spark_type(t) -> DataType:
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        if m := _DECIMAL_RE.match(t):
            return DecimalType(int(m.group(1)), int(m.group(2)))
        raise ValueError(f"unsupported Iceberg type: {t!r}")
    if isinstance(t, dict) and t.get("type") == "struct":
        return StructType(
            [
                StructField(f["name"], _spark_type(f["type"]), not f.get("required", False))
                for f in t["fields"]
            ]
        )
    raise ValueError(f"unsupported Iceberg type: {t!r} (list/map columns not mapped)")


def _latest_metadata_version(meta_dir: str) -> int:
    """N of the newest listed ``vN.metadata.json`` under ``meta_dir``."""
    versions = [int(m.group(1)) for f in os.listdir(meta_dir) if (m := _META_RE.match(f))]
    if not versions:
        raise FileNotFoundError(f"no v*.metadata.json under {meta_dir}")
    return max(versions)


def _local_path(file_path: str, table_root: str) -> str:
    """Manifest file paths are URIs or absolute paths; resolve to a
    local filesystem path, falling back to table-root-relative."""
    parsed = urlparse(file_path)
    p = unquote(parsed.path) if parsed.scheme else file_path
    if not os.path.isabs(p):
        p = os.path.join(table_root, p)
    return p


@dataclass(frozen=True)
class DeleteFile:
    path: str  # resolved local parquet path
    seq: int  # data sequence number of the delete file
    equality_cols: tuple[str, ...]  # empty for position deletes


@dataclass(frozen=True)
class IcebergSnapshot:
    snapshot_id: int
    files: tuple[str, ...]  # resolved local parquet paths
    schema: StructType
    file_seqs: tuple[tuple[str, int], ...] = ()  # data file → sequence number
    pos_deletes: tuple[DeleteFile, ...] = ()
    eq_deletes: tuple[DeleteFile, ...] = ()


class IcebergTable:
    """Mount an existing Iceberg table directory for reading."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._meta_dir = os.path.join(path, "metadata")
        if not os.path.isdir(self._meta_dir):
            raise FileNotFoundError(f"no metadata/ under {path}")

    def _current_metadata(self) -> dict:
        name = f"v{_latest_metadata_version(self._meta_dir)}.metadata.json"
        with open(os.path.join(self._meta_dir, name)) as fh:
            return json.load(fh)

    def _schema(self, meta: dict) -> StructType:
        if "schemas" in meta:  # v2: list keyed by current-schema-id
            by_id = {s["schema-id"]: s for s in meta["schemas"]}
            schema = by_id[meta["current-schema-id"]]
        else:  # v1: single inline schema
            schema = meta["schema"]
        return StructType(
            [
                StructField(f["name"], _spark_type(f["type"]), not f.get("required", False))
                for f in schema["fields"]
            ]
        )

    def _field_names_by_id(self, meta: dict) -> dict[int, str]:
        if "schemas" in meta:
            by_id = {s["schema-id"]: s for s in meta["schemas"]}
            schema = by_id[meta["current-schema-id"]]
        else:
            schema = meta["schema"]
        return {f["id"]: f["name"] for f in schema["fields"] if "id" in f}

    def snapshot(self, snapshot_id: int | None = None) -> IcebergSnapshot:
        meta = self._current_metadata()
        snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        sid = meta.get("current-snapshot-id") if snapshot_id is None else snapshot_id
        if sid is None or sid == -1 or sid not in snaps:
            if snapshot_id is not None:
                raise ValueError(f"snapshot {snapshot_id} not in {sorted(snaps)}")
            return IcebergSnapshot(-1, (), self._schema(meta))
        snap = snaps[sid]
        names_by_id = self._field_names_by_id(meta)
        files: list[str] = []
        file_seqs: list[tuple[str, int]] = []
        pos_deletes: list[DeleteFile] = []
        eq_deletes: list[DeleteFile] = []
        if "manifest-list" in snap:  # v2 (and v1 with manifest lists)
            ml_path = _local_path(snap["manifest-list"], self.path)
            with open(ml_path, "rb") as fh:
                _, manifests = read_container(fh.read())
            manifest_paths = [m["manifest_path"] for m in manifests]
        else:  # v1 inline manifests array
            manifest_paths = list(snap.get("manifests", ()))
        for mp in manifest_paths:
            with open(_local_path(mp, self.path), "rb") as fh:
                _, entries = read_container(fh.read())
            for e in entries:
                if e.get("status") == 2:  # DELETED
                    continue
                df = e["data_file"]
                fmt = str(df.get("file_format", "PARQUET")).upper()
                if fmt != "PARQUET":
                    raise NotImplementedError(f"data file format {fmt} not supported")
                path = _local_path(df["file_path"], self.path)
                # ADDED entries may inherit the sequence number from
                # their snapshot; absent (v1 manifests) it is 0.
                seq = e.get("sequence_number")
                if seq is None:
                    seq = e.get("data_sequence_number") or 0
                content = df.get("content", 0)
                if content == 0:
                    files.append(path)
                    file_seqs.append((path, int(seq)))
                elif content == 1:  # position deletes: (file_path, pos)
                    pos_deletes.append(DeleteFile(path, int(seq), ()))
                elif content == 2:  # equality deletes
                    ids = df.get("equality_ids") or ()
                    if not ids:
                        raise NotImplementedError(
                            "equality delete file without equality_ids; "
                            "refusing rather than returning undeleted rows"
                        )
                    missing = [i for i in ids if i not in names_by_id]
                    if missing:
                        raise NotImplementedError(
                            f"equality_ids {missing} not in the current schema"
                        )
                    eq_deletes.append(
                        DeleteFile(path, int(seq), tuple(names_by_id[i] for i in ids))
                    )
                else:
                    raise NotImplementedError(f"unknown data_file content={content}")
        return IcebergSnapshot(
            sid,
            tuple(sorted(files)),
            self._schema(meta),
            tuple(sorted(file_seqs)),
            tuple(pos_deletes),
            tuple(eq_deletes),
        )

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Snapshot-isolated read (time travel via ``snapshot_id``):
        the live file list is resolved now, so the returned plan is
        stable under concurrent commits — later snapshots cannot
        change it. v2 position/equality delete files are applied as
        broadcast LEFT ANTI joins (module docstring) with
        sequence-number scoping."""
        from pyspark.sql import functions as F

        snap = self.snapshot(snapshot_id)
        if not snap.files:
            return local_frame(self.spark, [], snap.schema)
        df = self.spark.read.schema(snap.schema).parquet(*snap.files)
        if not snap.pos_deletes and not snap.eq_deletes:
            return df

        cols = [f.name for f in snap.schema.fields]
        # Spark's hidden parquet metadata gives the per-row identity a
        # position delete names: (file, row ordinal). file_path comes
        # back URI-formed (file:///...); normalize both sides to a
        # plain absolute path JVM-side so writer URI conventions
        # (file:/, file:///, plain path) all line up.
        norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
        df = df.select(
            *cols,
            norm(F.col("_metadata.file_path")).alias("__ib_file"),
            F.col("_metadata.row_index").alias("__ib_pos"),
        )
        seq_df = F.broadcast(
            local_frame(
                self.spark, list(snap.file_seqs), "__ib_sfile STRING, __ib_seq LONG"
            )
        )
        df = df.join(seq_df, df["__ib_file"] == seq_df["__ib_sfile"], "inner").drop(
            "__ib_sfile"
        )

        if snap.pos_deletes:
            dels = None
            for d in snap.pos_deletes:
                part = (
                    self.spark.read.parquet(d.path)
                    .select(
                        norm(F.col("file_path")).alias("__del_file"),
                        F.col("pos").cast("long").alias("__del_pos"),
                        F.lit(d.seq).alias("__del_seq"),
                    )
                )
                dels = part if dels is None else dels.unionByName(part)
            # a position delete applies to data files with seq <= its own
            df = df.join(
                F.broadcast(dels),
                (df["__ib_file"] == dels["__del_file"])
                & (df["__ib_pos"] == dels["__del_pos"])
                & (df["__ib_seq"] <= dels["__del_seq"]),
                "left_anti",
            )

        for d in snap.eq_deletes:
            del_df = self.spark.read.parquet(d.path).select(
                *[F.col(c).alias(f"__eq_{c}") for c in d.equality_cols]
            )
            cond = F.lit(True)
            for c in d.equality_cols:
                cond = cond & df[c].eqNullSafe(del_df[f"__eq_{c}"])
            # equality deletes apply only to rows written STRICTLY
            # before the delete (spec: data seq < delete seq)
            cond = cond & (df["__ib_seq"] < F.lit(d.seq))
            df = df.join(F.broadcast(del_df), cond, "left_anti")

        return df.select(*cols)


def read_iceberg_table(
    spark: SparkSession, path: str, *, snapshot_id: int | None = None
) -> DataFrame:
    """One-shot convenience: mount + snapshot-read an existing Iceberg
    table directory."""
    return IcebergTable(spark, path).read(snapshot_id)
