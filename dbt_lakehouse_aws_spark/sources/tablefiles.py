"""The write kernel shared by the engine's three table formats.

:class:`.acid.AcidTable`, :func:`.delta_writer.write_delta_table` and
:func:`.iceberg_writer.write_iceberg_table` make the same three
decisions, and each is made here once:

* :func:`stage` — how Spark's parquet output enters a table. Spark
  writes the frame into a staging dir under the table root; each part
  file is renamed into place under the name its caller chooses, and
  its footer is read once, for the row count and for the bounds.
  Partition values come back unescaped from Spark's hive directory
  names.
* :func:`footer_bounds` — per-column min, max and null count from that
  footer, never a data scan. Each format serializes them its own way.
* :func:`commit` — put-if-absent on a version file. The payload is
  written and fsynced under a temp name that no reader's version
  pattern matches, then hard-linked to the version name. A reader sees
  the previous version or the complete new one, never a partial file;
  of two writers racing for a version one link wins and the other gets
  :class:`FileExistsError`, after removing the files it staged.

Tables are POSIX-local: the commit point is link(2).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame


@dataclass(frozen=True)
class StagedFile:
    path: str  # relative to the table root
    partition: dict[str, str | None]  # hive-style partition values
    rows: int
    size: int
    footer: pq.FileMetaData


def stage(
    df: DataFrame,
    root: str,
    name: Callable[[str], str],
    partition_by: Sequence[str] = (),
) -> list[StagedFile]:
    """Write ``df`` as parquet (hive-partitioned by ``partition_by``)
    and move each part file to ``name(rel)`` under ``root``, where
    ``rel`` is the part's path in Spark's output."""
    staging = os.path.join(root, f".staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    out = []
    try:
        writer.parquet(staging)
        for dirpath, dirs, files in os.walk(staging):
            dirs.sort()
            rel_dir = os.path.relpath(dirpath, staging)
            pv: dict[str, str | None] = {}
            for comp in rel_dir.split(os.sep) if rel_dir != "." else ():
                # Spark writes "x/y" as "k=x%2Fy" and "p%q" as "k=p%25q"
                k, _, v = comp.partition("=")
                pv[unquote(k)] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue  # _SUCCESS, .crc
                src = os.path.join(dirpath, f)
                rel = name(os.path.normpath(os.path.join(rel_dir, f)))
                dst = os.path.join(root, rel)
                footer = pq.read_metadata(src)
                size = os.path.getsize(src)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                out.append(StagedFile(rel, pv, footer.num_rows, size, footer))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def footer_bounds(footer: pq.FileMetaData, cols: Sequence[str]) -> dict[str, tuple]:
    """``{col: (min, max, null_count)}`` over every row group, in the
    order of ``cols``, with bytes decoded as UTF-8. A column is left
    out when it is not in the file, when any row group lacks min/max,
    when a bound is not UTF-8, or when the file has no row groups."""
    index = {footer.schema.column(i).path: i for i in range(footer.num_columns)}
    out = {}
    for c in cols:
        i = index.get(c)
        if i is None:
            continue
        lo = hi = None
        nulls = 0
        for rg in range(footer.num_row_groups):
            st = footer.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
            nulls += st.null_count or 0
        else:
            if lo is not None:
                out[c] = (lo, hi, nulls)
    return out


def commit(log_dir: str, name: str, payload: str, staged: Sequence[str] = ()) -> None:
    """Create ``log_dir/name`` holding ``payload`` if no writer has
    yet. If one has, delete the ``staged`` files (absolute paths) that
    only this version would have referenced, and raise
    :class:`FileExistsError`."""
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, os.path.join(log_dir, name))
    except FileExistsError:
        for p in staged:
            os.unlink(p)
        raise
    finally:
        os.unlink(tmp)
