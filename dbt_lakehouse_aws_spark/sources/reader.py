"""Source readers: schema-on-read CSV/TSV with path-derived metadata.

Reproduces the reference's source layer semantics (SURVEY.md §2.1
S1-S6; reference ``models/source/fangraphs/
src_fangraphs_projections_preseason_hitting.sql:7-21``):

* every raw column read as **string** (reference ``README.md:32-34``),
* ``year``/``month``/``day`` parsed from the Hive-style ingest path
  (``.../year=YYYY/month=M/day=D/file.csv``),
* ``_ptkey`` = ``concat(year, month, day)``, kept as the reference's
  label; it is NOT the ingest order (``"2025930"`` > ``"2025101"``),
* ``_filename`` = basename of the source file (load-bearing
  downstream: it carries projection-system / league identity),
* ``_loaddatetime`` = load audit timestamp.

:func:`read_csv_source` decides what a source holds from ONE
driver-side listing of its tree, before Spark reads anything: each
CSV/TSV file's path, header and whether it has a data row. The
reference's "only the most current data" filters (S5 max ``_ptkey``,
S6 newest file per ``_filename``) become a choice of files, made in
the padded date order :func:`ingest_date` (its Spark form,
:func:`ingest_date_col`, serves frame-level callers). The chosen
files are grouped by header; each group is read with an explicit
all-string schema named from that header, so no Spark job infers a
schema, and the groups are unioned BY NAME: a column added or moved
between ingest dates lands in its own column, files predating it
carry NULLs, and the column order is first-seen (the catalog order
the reference's ``star()`` resolves).

Scale notes: the listing opens each file for its first lines only.
``F.col("_metadata.file_path")`` is evaluated at the scan (per input
split, no shuffle); the regexes are codegen'd JVM expressions.
"""

from __future__ import annotations

import csv
import os
import re
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata columns added by :func:`with_path_metadata`
PATH_META_COLS = ("year", "month", "day", "_ptkey", "_filename", "_loaddatetime")

#: what :func:`read_csv_source` keeps of a source's ingest history
MODES = ("history", "latest", "latest_per_file", "plain")

_DATE_PATTERNS = (r"year=(\d{4})", r"month=(\d{1,2})", r"day=(\d{1,2})")


def _file_path_col() -> Column:
    # `_metadata.file_path` is the modern (Spark >= 3.2) replacement for
    # input_file_name(): it's stable under joins and whole-stage codegen.
    return F.col("_metadata.file_path")


def with_path_metadata(df: DataFrame, *, path_col: Column | None = None) -> DataFrame:
    """Add the reference's ``$path``-derived columns to a raw scan.

    Mirrors reference ``src_*.sql:8-15`` exactly:
    ``regexp_extract("$path", 'year=(\\d{4})', 1) as year`` etc.,
    ``concat(year, month, day) as _ptkey``,
    ``element_at(split("$path", '/'), -1) as _filename``,
    ``current_timestamp as _loaddatetime``.
    """
    # `_metadata.file_path` is a URI: spaces etc. arrive percent-encoded,
    # but the reference's `$path` carries raw S3 keys and downstream
    # logic matches on literal filenames ('NFBC OC 2025 … .csv') — decode.
    raw = path_col if path_col is not None else _file_path_col()
    p = F.url_decode(raw)
    year, month, day = (F.regexp_extract(p, pat, 1) for pat in _DATE_PATTERNS)
    return (
        df.withColumn("year", year)
        .withColumn("month", month)
        .withColumn("day", day)
        .withColumn("_ptkey", F.concat(year, month, day))
        .withColumn("_filename", F.element_at(F.split(p, "/"), -1))
        .withColumn("_loaddatetime", F.current_timestamp())
    )


def ingest_date(path: str) -> tuple[int, int, int]:
    """The ingest order of a file: its path's ``(year, month, day)`` as
    ints, 0 for a part the path lacks, so an undated file sorts first."""
    return tuple(int(m.group(1)) if (m := re.search(p, path)) else 0 for p in _DATE_PATTERNS)


def ingest_date_col() -> Column:
    """:func:`ingest_date` over :func:`with_path_metadata`'s columns:
    the zero-padded ``yyyymmdd`` string, ``"00000000"`` when undated."""
    return F.concat(F.lpad("year", 4, "0"), F.lpad("month", 2, "0"), F.lpad("day", 2, "0"))


class _File(NamedTuple):
    path: str
    names: tuple[str, ...]
    has_rows: bool


def _visible(name: str) -> bool:
    # Spark's file index skips these too (_SUCCESS, .crc, _temporary)
    return not name.startswith(".") and not (name.startswith("_") and "=" not in name)


def _column_names(header: str, sep: str) -> tuple[str, ...]:
    """Spark's CSV header rule: a blank name becomes ``_c<i>``, a name
    repeated (case-insensitively) gets its index appended."""
    names = next(csv.reader([header], delimiter=sep), [])
    lower = [n.lower() for n in names]
    return tuple(
        f"_c{i}" if not n else f"{n}{i}" if lower.count(n.lower()) > 1 else n
        for i, n in enumerate(names)
    )


def _list_files(root: str, sep: str) -> list[_File]:
    """Every CSV/TSV file under ``root`` with its columns, path-sorted."""
    files = []
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if _visible(d)]
        for name in names:
            if not (_visible(name) and name.endswith((".csv", ".tsv"))):
                continue
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                # utf-8-sig: Spark drops a leading byte-order mark too
                header = fh.readline().decode("utf-8-sig", errors="replace").rstrip("\r\n")
                has_rows = any(line.strip() for line in fh)
            if header:
                files.append(_File(path, _column_names(header, sep), has_rows))
    if not files:
        raise FileNotFoundError(f"no CSV/TSV files under {root}")
    return sorted(files)


def _newest(files: list[_File]) -> list[_File]:
    """The files of the newest ingest date that has a data row (a
    header-only file never makes its date the newest)."""
    _, date = max((f.has_rows, ingest_date(f.path)) for f in files)
    return [f for f in files if ingest_date(f.path) == date]


def _choose(files: list[_File], mode: str) -> list[_File]:
    if mode == "latest":  # S5: the table's newest date
        return _newest(files)
    if mode == "latest_per_file":  # S6: each basename's newest date
        by_name: dict[str, list[_File]] = {}
        for f in files:
            by_name.setdefault(os.path.basename(f.path), []).append(f)
        return sorted(f for group in by_name.values() for f in _newest(group))
    return files


def read_csv_source(
    spark: SparkSession, path: str, *, sep: str = ",", mode: str = "history"
) -> DataFrame:
    """Read a raw CSV/TSV ingest tree, all columns as strings.

    ``mode`` (one of :data:`MODES`) picks the files from the listing:
    ``history`` and ``plain`` read every file (``plain`` without path
    metadata), ``latest`` the files of the newest ingest date (S5),
    ``latest_per_file`` each basename's newest file (S6). Raises
    ``FileNotFoundError`` when the tree holds no CSV/TSV file.
    """
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    groups: dict[tuple[str, ...], list[str]] = {}
    for f in _choose(_list_files(path, sep), mode):
        # escape glob metacharacters: each listed path names one file
        groups.setdefault(f.names, []).append(re.sub(r"([\\{}\[\]*?])", r"\\\1", f.path))
    parts = []
    for names, files in groups.items():
        schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
        part = spark.read.schema(schema).option("header", "true").option("sep", sep).csv(files)
        if mode != "plain":
            # select _metadata at scan time so it survives the union
            part = with_path_metadata(part.select("*", "_metadata")).drop("_metadata")
        parts.append(part)
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    meta = [c for c in out.columns if c in PATH_META_COLS]
    return out.select(*[c for c in out.columns if c not in meta], *meta)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
    *,
    trim: bool = True,
) -> DataFrame:
    """Fixed-width text ingest — the mainframe/EDI landing format:
    each ``(name, start, width, dtype)`` spec (1-based start, DDL
    dtype) becomes a ``substring`` + optional ``trim`` + cast, all
    JVM-side expressions over ``spark.read.text`` — splittable line
    reader, whole-stage codegen parse, no Python.

    ANSI-safe: blank-padded empty fields become NULL via ``nullif``
    before the cast (a raw cast of '' throws under the driver's ANSI
    session). Numeric fields are right-aligned by convention; trim
    handles both alignments."""
    lines = spark.read.text(path)
    cols = []
    for name, start, width, dtype in colspecs:
        raw = F.substring(F.col("value"), start, width)
        if trim:
            raw = F.trim(raw)
        cols.append(F.nullif(raw, F.lit("")).cast(dtype).alias(name))
    return lines.select(*cols)
