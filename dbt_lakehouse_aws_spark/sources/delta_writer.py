"""Write Delta Lake tables on the PUBLIC transaction-log protocol.

Counterpart to :mod:`.delta_reader`: where the reader mounts tables
other engines wrote, this writer EXPORTS this engine's results as a
table delta-spark (or any protocol-conformant reader) can open —
the interop direction a user migrating from the reference lakehouse
stack (reference `dbt_project.yml:38-51` materializes lakehouse
tables) needs to hand results back to their existing tooling.

Protocol surface written (PROTOCOL.md, reader/writer version 1/2):

* ``_delta_log/{version:020d}.json`` of newline-delimited actions;
* commit 0 carries ``protocol`` + ``metaData`` (Spark StructType
  JSON ``schemaString``, ``partitionColumns``, parquet format);
* every data file lands as an ``add`` with ``partitionValues``
  (hive-style strings), ``size``, ``modificationTime``,
  ``dataChange`` and a ``stats`` JSON of numRecords plus per-column
  min/max/nullCount — harvested from the parquet FOOTERS only, so
  stats cost is O(files) metadata reads, never a data scan;
* ``append`` adds files; ``overwrite`` emits ``remove`` for every
  previously-live file + the new ``add``s, in ONE commit (an atomic
  replace);
* each version file is claimed through the put-if-absent commit of
  :mod:`.tablefiles`: readers never see a partial version, and of two
  writers racing for a version the loser deletes the data files it
  staged, raises and can retry.

The data files are written by Spark's parquet sink into a staging
directory and renamed into the table root by :func:`.tablefiles.stage`,
so file layout, compression, and parallelism are the normal
distributed write path — the driver only ever touches metadata. The
per-file stats come from :func:`.tablefiles.footer_bounds`; this
module only serializes them (first 32 columns, dates and timestamps
as ISO strings).

Deliberately NOT written: checkpoints, deletion vectors, column
mapping, invariants — features a minReaderVersion=1 table must not
require. Tables that need transactional MERGE/DELETE belong to
:class:`.acid.AcidTable`; this module is the export boundary.

Scale: data write is Spark-parallel; log write is O(new files)
driver-side JSON. At 100 TB the per-file footer stat harvest is the
only driver loop — bounded by file count, not rows, and each read is
a ~KB footer fetch (same cost class delta-spark itself pays).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame

from .delta_reader import DeltaLogTable
from .tablefiles import StagedFile, commit, footer_bounds, stage

_MAX_STAT_COLS = 32  # delta-spark's default dataSkippingNumIndexedCols


def _add_stats(f: StagedFile, data_fields: list) -> str:
    """Per-file ``add.stats`` JSON from the footer bounds; a column
    without usable bounds is omitted, which the protocol allows."""
    cols = [c.name for c in data_fields[:_MAX_STAT_COLS]]
    bounds = footer_bounds(f.footer, cols)
    iso = lambda v: v.isoformat() if hasattr(v, "isoformat") else v  # noqa: E731
    return json.dumps(
        {
            "numRecords": f.rows,
            "minValues": {c: iso(b[0]) for c, b in bounds.items()},
            "maxValues": {c: iso(b[1]) for c, b in bounds.items()},
            "nullCount": {c: b[2] for c, b in bounds.items()},
        }
    )


def write_delta_table(
    df: DataFrame,
    path: str,
    *,
    mode: str = "error",
    partition_by: list[str] | None = None,
) -> int:
    """Write ``df`` to ``path`` as a protocol-conformant Delta table.

    ``mode``: ``error`` (default — path must not already be a Delta
    table), ``append``, or ``overwrite`` (logical replace: one commit
    removing every live file and adding the new ones; old versions
    remain time-travelable). Returns the committed version.
    """
    partition_by = list(partition_by or [])
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    log_dir = os.path.join(path, "_delta_log")
    exists = os.path.isdir(log_dir) and any(
        f.endswith(".json") for f in os.listdir(log_dir)
    )
    if exists and mode == "error":
        raise FileExistsError(
            f"{path} is already a Delta table (mode='error'); "
            "use mode='append' or 'overwrite'"
        )

    prior_files: tuple[str, ...] = ()
    prior_pv: dict[str, dict] = {}
    version = 0
    spark = df.sparkSession
    if exists:
        tbl = DeltaLogTable(spark, path)
        snap = tbl.snapshot()
        version = snap.version + 1
        if mode == "overwrite":
            prior_files = snap.files
            prior_pv = snap.partition_values
        if tuple(snap.partition_columns) != tuple(partition_by):
            raise ValueError(
                f"partition_by {partition_by} does not match existing table's "
                f"{list(snap.partition_columns)}"
            )

    # 1. distributed data write, files moved into the table root with
    # their partition layout kept
    staged = stage(df, path, lambda rel: rel, partition_by)
    data_fields = [f for f in df.schema.fields if f.name not in partition_by]
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if version == 0:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
    if version == 0 or mode == "overwrite":
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": partition_by,
                    "configuration": {},
                    "createdTime": now_ms,
                }
            }
        )
    for p in prior_files:
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                    "partitionValues": prior_pv.get(p, {}),
                }
            }
        )
    for f in staged:
        actions.append(
            {
                "add": {
                    "path": f.path.replace(os.sep, "/"),
                    "partitionValues": f.partition,
                    "size": f.size,
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": _add_stats(f, data_fields),
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode},
                "engineInfo": "dbt-lakehouse-aws-spark delta_writer",
            }
        }
    )
    # 2. single atomic commit; a writer that lost the version raises
    commit(
        log_dir,
        f"{version:020d}.json",
        "".join(json.dumps(a) + "\n" for a in actions),
        staged=[os.path.join(path, f.path) for f in staged],
    )
    return version
