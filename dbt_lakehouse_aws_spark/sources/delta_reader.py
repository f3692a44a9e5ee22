"""Reader for Delta Lake tables (`_delta_log`), written here or by other engines.

The engine's own transactional layer (:mod:`.acid`) writes a bespoke
manifest format; a user migrating from the reference stack may
already hold tables written by Delta Lake proper (the reference
materializes Iceberg/lakehouse tables — reference
`dbt_project.yml:38-51` — and Delta is the other half of that
ecosystem). The sandbox can't install the delta-spark jars, so this
adapter implements the PUBLIC Delta transaction-log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) directly:

* the log is ``_delta_log/{version:020d}.json`` files of
  newline-delimited JSON *actions* (``metaData``, ``add``,
  ``remove``, ``protocol``, ``commitInfo``);
* the newest listed ``{version:020d}.json`` is the current version;
  no hint file (``_last_checkpoint``) is trusted to name it;
* a snapshot at version V = replay of commits 0..V: ``add`` puts a
  data file in the live set keyed by path, ``remove`` deletes it;
* ``metaData.schemaString`` is a Spark StructType JSON (Delta uses
  Spark's own schema serialization — ``StructType.fromJson`` parses
  it verbatim);
* partitioned tables do NOT store partition columns in the data
  files — each ``add`` carries ``partitionValues`` (strings) that
  the reader must inject and cast per the declared schema.

Parquet checkpoints (``*.checkpoint.parquet``) are an optimization
for log replay, not a correctness requirement as long as the JSON
deltas are still present; this reader replays JSON only and raises
clearly when a ``_last_checkpoint`` horizon has pruned them.

Writes (create, append, overwrite) live in :mod:`.delta_writer`;
row-level mutation (MERGE, DELETE) is the job of
:class:`.acid.AcidTable`.

Scale: replay cost is O(log entries) driver-side JSON parsing —
metadata, never data; the data scan itself is a plain multi-file
parquet read, so all of Spark's pushdown/pruning applies unchanged.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dbt_lakehouse_aws_spark.localframe import local_frame

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")


@dataclass(frozen=True)
class DeltaSnapshot:
    version: int
    files: tuple[str, ...]               # paths relative to table root
    partition_values: dict[str, dict[str, str | None]]  # path -> col -> value
    schema: StructType
    partition_columns: tuple[str, ...]


class DeltaLogTable:
    """Mount an existing ``_delta_log`` directory for reading."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log = os.path.join(path, "_delta_log")
        if not os.path.isdir(self._log):
            raise FileNotFoundError(f"no _delta_log under {path}")

    def versions(self) -> list[int]:
        return sorted(
            int(m.group(1))
            for f in os.listdir(self._log)
            if (m := _COMMIT_RE.match(f))
        )

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"empty _delta_log under {self.path}")
        return vs[-1]

    def snapshot(self, version: int | None = None) -> DeltaSnapshot:
        v = self.latest_version() if version is None else version
        vs = [x for x in self.versions() if x <= v]
        if not vs or vs[0] != 0:
            # a checkpoint-pruned log (no JSON back to 0) needs the
            # parquet-checkpoint replay path this reader doesn't carry
            raise ValueError(
                f"_delta_log under {self.path} has no contiguous JSON history "
                f"back to version 0 (found {vs}); parquet-checkpoint replay "
                "is not supported by this reader"
            )
        live: dict[str, dict[str, str | None]] = {}
        schema_json: str | None = None
        part_cols: tuple[str, ...] = ()
        for i in vs:
            with open(os.path.join(self._log, f"{i:020d}.json")) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    action = json.loads(line)
                    if "metaData" in action:
                        meta = action["metaData"]
                        schema_json = meta["schemaString"]
                        part_cols = tuple(meta.get("partitionColumns", ()))
                    elif "add" in action:
                        add = action["add"]
                        live[add["path"]] = dict(add.get("partitionValues", {}))
                    elif "remove" in action:
                        live.pop(action["remove"]["path"], None)
        if schema_json is None:
            raise ValueError(f"no metaData action in _delta_log of {self.path}")
        return DeltaSnapshot(
            version=v,
            files=tuple(sorted(live)),
            partition_values={p: live[p] for p in live},
            schema=StructType.fromJson(json.loads(schema_json)),
            partition_columns=part_cols,
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot-isolated read: resolves the live file list now, so
        the returned DataFrame is stable under concurrent commits."""
        snap = self.snapshot(version)
        data_fields = [
            f for f in snap.schema.fields if f.name not in snap.partition_columns
        ]
        data_schema = StructType(data_fields)
        if not snap.files:
            return local_frame(self.spark, [], snap.schema)
        parts = []
        # group files by identical partition-value assignment so the
        # scan stays one job per partition tuple, not per file
        by_pv: dict[tuple, list[str]] = {}
        for p in snap.files:
            pv = tuple(
                (c, snap.partition_values[p].get(c)) for c in snap.partition_columns
            )
            by_pv.setdefault(pv, []).append(os.path.join(self.path, p))
        for pv, paths in sorted(by_pv.items()):
            df = self.spark.read.schema(data_schema).parquet(*paths)
            for col, val in pv:
                typ = snap.schema[col].dataType
                df = df.withColumn(
                    col,
                    F.lit(val).cast(typ) if val is not None else F.lit(None).cast(typ),
                )
            parts.append(df.select(*[f.name for f in snap.schema.fields]))
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out


def read_delta_table(
    spark: SparkSession, path: str, *, version: int | None = None
) -> DataFrame:
    """One-shot convenience: mount + snapshot-read an existing Delta
    table directory (time travel via ``version``)."""
    return DeltaLogTable(spark, path).read(version)
