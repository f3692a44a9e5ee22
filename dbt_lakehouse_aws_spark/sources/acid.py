"""ACID-lite lakehouse table format: parquet data + manifest log.

The reference materializes every model as an **Iceberg** table
(reference ``dbt_project.yml:38-51``) — transactional overwrites,
snapshot-isolated readers, and ``MERGE`` for the roadmap'd
incremental materializations (reference ``README.md:44-48``). Neither
Delta nor Iceberg jars are installable in this sandbox, so this
module implements the same *public, well-documented* design (an
Iceberg/Delta-style metadata log over immutable parquet files) from
first principles:

* **Immutable data files.** Every write lands new uniquely-named
  parquet files under ``<table>/data/``; nothing is ever mutated in
  place. A snapshot is a *list of files*, not a directory state.
* **Manifest log.** ``<table>/_log/{version:020d}.json`` holds the
  file list, schema (Spark JSON), per-file column stats, and the
  parent version. The latest version is ``max()`` over the log dir —
  exactly Delta's ``_delta_log`` discovery rule.
* **Atomic, optimistic commits.** A commit is the put-if-absent of
  :func:`.tablefiles.commit` (a fully-written temp file hard-linked
  to the version name), the same commit the Delta and Iceberg
  writers use. Two writers racing for version N: one link succeeds,
  the loser gets :class:`CommitConflict` and must rebase (re-read the
  new snapshot and retry). No partial manifest is ever visible.
* **Snapshot isolation.** Readers resolve a version once; since data
  files are immutable and only unreferenced by later manifests
  (never deleted until :meth:`vacuum`), a reader's DataFrame is
  repeatable against concurrent writers.
* **Time travel.** ``read(version=N)`` / :meth:`history`.
* **Exactly-once landing.** ``write``, ``merge`` and ``replace_where``
  with ``txn=(app, batch)`` record it in their commit, and a replay
  of a batch that already landed returns the current snapshot without
  staging a file. ``merge`` and ``replace_where`` on a path with no
  commits create the table, so a caller hands over a frame and
  nothing else.
* **One copy-on-write path.** MERGE, DELETE and ``replace_where``
  are one kernel (``_copy_on_write``) with a different row flag
  each: a scan of the candidate files pins the files holding a
  dropped row (only file names reach the driver), their kept rows
  plus the incoming rows are rewritten, and untouched files carry
  into the new manifest by reference. MERGE first prunes the
  candidates by the manifest min/max bounds of its delta's key
  range (``_prune``, also behind ``read(prune=)``). At 100 TB with
  date- or key-clustered files, a daily delta touches a sliver of
  the table — the whole point of the format. Every data-changing
  operation rebases on a lost commit race; there is no
  merge-on-read delete.

Data files enter the table through :func:`.tablefiles.stage`, and the
statistics come from the footers it reads (:func:`.tablefiles.footer_bounds`,
a driver loop, no Spark job), mirroring how Iceberg manifests carry
per-file column bounds; this module keeps only their JSON-safe
``[min, max]`` form over ``_STATS_TYPES``.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from functools import reduce

from dbt_lakehouse_aws_spark.localframe import local_frame
from dbt_lakehouse_aws_spark.sources.tablefiles import StagedFile, commit, footer_bounds, stage
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"
# manifest stats only for types whose min/max are JSON-safe and
# totally ordered the same way in parquet stats and in Spark
_STATS_TYPES = ("int", "bigint", "smallint", "tinyint", "double", "float", "string", "date")

# Log keys of table features this format no longer implements. Older
# writers recorded the full map on every delta and checkpoint; a table
# whose replayed map is non-empty would be served wrong (vectored rows
# come back, writes skip the table's rules), so snapshot() refuses it.
# Per-file ``__bloom__<col>`` stats entries those writers left are
# harmless and stay: min/max pruning looks stats up by column name.
_REMOVED_FEATURES = {
    "dvs": "deletion vectors",
    "constraints": "CHECK constraints",
    "generated": "generated columns",
    "identity": "identity columns",
}


class CommitConflict(RuntimeError):
    """Another writer committed the same version first — rebase and retry."""


@dataclass(frozen=True)
class Snapshot:
    version: int
    operation: str
    files: tuple[str, ...]
    schema_json: str
    stats: dict[str, dict[str, list]]  # file -> col -> [min, max]
    parent: int | None
    renames: dict[str, str] = field(default_factory=dict)  # physical col -> logical col
    txns: dict[str, int] = field(default_factory=dict)  # app -> last committed batch


def _json_safe(v) -> bool:
    if isinstance(v, float):
        return not (math.isnan(v) or math.isinf(v))
    return isinstance(v, (int, str, bool))


class AcidTable:
    """One transactional table rooted at ``path`` (see module doc)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log = os.path.join(path, _LOG_DIR)
        self._data = os.path.join(path, _DATA_DIR)

    # -- log primitives ---------------------------------------------------
    #
    # The log is DELTA-STRUCTURED (the public Delta Lake design): each
    # commit file records only {add: {file: stats}, remove: [...]}
    # relative to its parent, so commit cost is O(touched files), not
    # O(table files) — at 1M files a full-manifest rewrite per commit
    # would be ~100 MB of JSON; a merge delta is a few hundred bytes.
    # Every CHECKPOINT_EVERY commits the writer also drops a
    # ``*.checkpoint.json`` with the full reconstructed state, bounding
    # snapshot reconstruction to ≤ CHECKPOINT_EVERY delta replays + one
    # checkpoint read. Checkpoints are idempotent derived data (tmp +
    # rename, losers overwrite with identical bytes); only the delta
    # file's os.link is the commit point.

    CHECKPOINT_EVERY = 10

    #: total attempts of an operation that loses the optimistic commit
    #: race: the first COMMIT_ATTEMPTS - 1 rebase on CommitConflict,
    #: the last one propagates it
    COMMIT_ATTEMPTS = 3

    def exists(self) -> bool:
        return os.path.isdir(self._log) and bool(self._versions())

    # Only files matching the canonical {version:020d} names count as
    # log entries. A writer that crashes between creating its .tmp-*
    # staging file and the link/unlink commit (or an older writer's
    # .tmp-{uuid}.json) leaves a stray whose first dot-segment isn't
    # an int — naive int(f.split('.')[0]) parsing would then brick
    # every read and commit of the table until manual cleanup.
    _DELTA_RE = re.compile(r"^(\d{20})\.json$")
    _CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.json$")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._log):
            return []
        return sorted(
            int(m.group(1))
            for f in os.listdir(self._log)
            if (m := self._DELTA_RE.match(f))
        )

    def _checkpoint_versions(self) -> list[int]:
        if not os.path.isdir(self._log):
            return []
        return sorted(
            int(m.group(1))
            for f in os.listdir(self._log)
            if (m := self._CHECKPOINT_RE.match(f))
        )

    def _resolve(self, f: str) -> str:
        """Physical path of a manifest file entry. Entries are
        normally names relative to this table's ``data/`` dir;
        SHALLOW CLONES (see :meth:`clone`) reference the source's
        files by ABSOLUTE path — immutable, so sharing is safe —
        and every read-side site resolves through here. Write paths
        (new data files, vacuum's directory scan) stay local by
        construction."""
        return f if os.path.isabs(f) else os.path.join(self._data, f)

    def latest_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no table at {self.path}")
        return vs[-1]

    def _read_json(self, name: str) -> dict:
        with open(os.path.join(self._log, name)) as fh:
            return json.load(fh)

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.latest_version() if version is None else version
        base = [c for c in self._checkpoint_versions() if c <= v]
        files: dict[str, dict] = {}
        schema_json = ""
        operation, parent = "", None
        renames: dict[str, str] = {}
        txns: dict[str, int] = {}
        removed: dict[str, dict] = {k: {} for k in _REMOVED_FEATURES}
        start = 0
        if base:
            cp = self._read_json(f"{base[-1]:020d}.checkpoint.json")
            files = dict(cp["files"])  # file -> stats
            schema_json = cp["schema"]
            operation, parent = cp["operation"], cp.get("parent")
            renames = dict(cp.get("renames", {}))
            removed = {k: cp.get(k, {}) for k in _REMOVED_FEATURES}
            start = base[-1] + 1
            txns = dict(cp.get("txns", {}))
            if "txns" not in cp:
                # a checkpoint from before checkpoints carried the txn
                # map: the deltas it covers still hold each txn
                for i in (i for i in self._versions() if i < start):
                    if t := self._read_json(f"{i:020d}.json").get("txn"):
                        txns[t["app"]] = int(t["batch"])
        for i in range(start, v + 1):
            m = self._read_json(f"{i:020d}.json")
            for f in m.get("remove", []):
                files.pop(f, None)
            files.update(m.get("add", {}))
            schema_json = m["schema"]
            operation, parent = m["operation"], m.get("parent")
            # pre-rename deltas carry no key: inherit
            renames = dict(m.get("renames", renames))
            removed = {k: m.get(k, removed[k]) for k in _REMOVED_FEATURES}
            if t := m.get("txn"):
                txns[t["app"]] = int(t["batch"])
        # a vector annotated one data file; it died with its file
        removed["dvs"] = {f: r for f, r in removed["dvs"].items() if f in files}
        used = [name for k, name in _REMOVED_FEATURES.items() if removed[k]]
        if used:
            raise ValueError(
                f"{self.path} version {v} uses {', '.join(used)}, which "
                "this table format no longer supports"
            )
        return Snapshot(
            version=v,
            operation=operation,
            files=tuple(sorted(files)),
            schema_json=schema_json,
            stats=files,
            parent=parent,
            renames=renames,
            txns=txns,
        )

    def history(self) -> list[Snapshot]:
        return [self.snapshot(v) for v in self._versions()]

    def commit_time(self, version: int) -> float:
        """Wall-clock commit time of ``version`` (epoch seconds).
        Logs written before the field existed fall back to the delta
        file's mtime — same semantics, filesystem-resolution."""
        name = f"{version:020d}.json"
        meta = self._read_json(name)
        ts = meta.get("committed_at")
        if ts is not None:
            return float(ts)
        return os.path.getmtime(os.path.join(self._log, name))

    def version_at(self, timestamp: float) -> int:
        """Largest version committed at or before ``timestamp`` —
        the AS-OF-timestamp half of time travel (version-based reads
        take ``read(version=…)`` directly). Raises if the table did
        not exist yet. O(log-entries) metadata reads, no data I/O."""
        best = None
        for v in self._versions():
            if self.commit_time(v) <= timestamp:
                best = v
            else:
                break  # commit times are monotone along versions
        if best is None:
            raise FileNotFoundError(
                f"{self.path} has no version committed at or before "
                f"{timestamp} (earliest is {self._versions()[0]})"
            )
        return best

    def _current(self) -> Snapshot | None:
        return self.snapshot() if self.exists() else None

    def last_txn_batch(self, app_id: str) -> int | None:
        """Last ``batch`` id committed under ``app_id`` — the
        Delta-style idempotent-writer protocol: ``write``, ``merge``
        and ``replace_where`` called with ``txn=(app, batch)`` record
        it in the SAME atomic commit as their data, and return the
        current snapshot without staging a file when ``batch`` is at
        or below this watermark (:meth:`_landed`). Unlike
        merge-idempotency arguments this also makes APPEND sinks
        exactly-once: a replayed batch is detected, not re-applied.
        The ``{app: batch}`` map is replayed like the file list: each
        checkpoint records it and the deltas after the newest one
        update it, so it survives :meth:`vacuum` dropping old deltas."""
        snap = self._current()
        return None if snap is None else snap.txns.get(app_id)

    @staticmethod
    def _landed(snap: Snapshot | None, txn: tuple[str, int] | None) -> bool:
        """Whether ``txn``'s batch already landed in ``snap``: the one
        replay check, made before a write stages any data file."""
        return txn is not None and snap is not None and snap.txns.get(txn[0], -1) >= int(txn[1])

    def _commit(
        self,
        *,
        operation: str,
        files: Sequence[str],
        schema_json: str,
        stats: dict[str, dict[str, list]],
        base_version: int | None,
        txn: tuple[str, int] | None = None,
        renames: dict[str, str] | None = None,
    ) -> Snapshot:
        new_version = 0 if base_version is None else base_version + 1
        if base_version is None:
            prev_files: set[str] = set()
            prev_stats: dict[str, dict] = {}
            prev_renames: dict[str, str] = {}
        else:
            prev = self.snapshot(base_version)
            prev_files, prev_stats = set(prev.files), prev.stats
            prev_renames = prev.renames
        new_set = set(files)
        delta = {
            "version": new_version,
            "operation": operation,
            "committed_at": time.time(),
            **({"txn": {"app": txn[0], "batch": int(txn[1])}} if txn else {}),
            "add": {f: stats.get(f, prev_stats.get(f, {})) for f in sorted(new_set - prev_files)},
            "remove": sorted(prev_files - new_set),
            "schema": schema_json,
            "parent": base_version,
            # every delta records the FULL map (None = carry forward),
            # so replay needs no rename history
            "renames": dict(prev_renames if renames is None else renames),
        }
        try:
            commit(self._log, f"{new_version:020d}.json", json.dumps(delta))
        except FileExistsError as e:
            raise CommitConflict(
                f"version {new_version} of {self.path} was committed concurrently; "
                "re-read the snapshot and retry"
            ) from e
        snap = self.snapshot(new_version)
        if new_version % self.CHECKPOINT_EVERY == 0:
            self._write_checkpoint(snap)
        return snap

    def _write_checkpoint(self, snap: Snapshot) -> None:
        cp = {
            "version": snap.version,
            "operation": snap.operation,
            "files": snap.stats,  # file -> stats (the full reconstructed map)
            "schema": snap.schema_json,
            "parent": snap.parent,
            "renames": snap.renames,
            "txns": snap.txns,
        }
        tmp = os.path.join(self._log, f".cptmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(cp, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self._log, f"{snap.version:020d}.checkpoint.json"))

    def _with_rebase(self, attempt: Callable[[], Snapshot]) -> Snapshot:
        """Run ``attempt`` — which reads the latest snapshot and
        commits on top of it — until it wins the version race, at
        most COMMIT_ATTEMPTS times; the last CommitConflict
        propagates (abort, never a stale commit)."""
        for _ in range(self.COMMIT_ATTEMPTS - 1):
            try:
                return attempt()
            except CommitConflict:
                continue
        return attempt()

    # -- data-file primitives ---------------------------------------------

    def _write_data_files(self, df: DataFrame, version_hint: int) -> dict[str, StagedFile]:
        """Write ``df`` to new immutable files under ``data/``
        (:func:`.tablefiles.stage`); keyed by their log names."""
        staged = stage(
            df,
            self.path,
            lambda _rel: os.path.join(_DATA_DIR, f"{version_hint:010d}-{uuid.uuid4().hex}.parquet"),
        )
        return {os.path.basename(f.path): f for f in staged}

    def _write_nonempty(self, df: DataFrame, version_hint: int) -> dict[str, StagedFile]:
        """``_write_data_files`` that contributes NO files when the
        frame holds zero rows. The row count comes from the footers
        the write already read, so the frame is evaluated once (guide
        §1.2); a non-empty write keeps every part file."""
        files = self._write_data_files(df, version_hint)
        if any(f.rows for f in files.values()):
            return files
        for name in files:
            os.unlink(os.path.join(self._data, name))
        return {}

    def _scan_physical(
        self,
        snap: Snapshot,
        files: Sequence[str] | None = None,
        schema: StructType | None = None,
        *,
        keep_file_col: str | None = None,
    ) -> DataFrame:
        """Physical-name scan of ``files`` (default: all of ``snap``)
        with the snapshot's explicit schema — the ONE routine every
        read-side and copy-on-write path goes through.
        ``keep_file_col`` adds each row's data-file basename, which
        the copy-on-write kernel maps back to manifest entries."""
        if schema is None:
            schema = StructType.fromJson(json.loads(snap.schema_json))
        files = list(snap.files if files is None else files)
        if not files:
            # copy the field list: StructType.add mutates in place, and
            # sharing the caller's list would pollute its schema object
            empty = StructType(list(schema.fields))
            if keep_file_col:
                empty = empty.add(keep_file_col, "string")
            return local_frame(self.spark, [], empty)
        df = self.spark.read.schema(schema).parquet(*[self._resolve(f) for f in files])
        if keep_file_col:
            df = df.withColumn(
                keep_file_col,
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            )
        return df

    @staticmethod
    def _stats_for(
        files: dict[str, StagedFile], schema: StructType
    ) -> dict[str, dict[str, list]]:
        """Per-file JSON-safe [min, max] footer bounds of newly written
        ``files`` over the ``_STATS_TYPES`` columns."""
        cols = [f.name for f in schema.fields if f.dataType.simpleString() in _STATS_TYPES]
        return {
            name: {
                c: [lo, hi]
                for c, (lo, hi, _nulls) in footer_bounds(f.footer, cols).items()
                if _json_safe(lo) and _json_safe(hi)
            }
            for name, f in files.items()
        }

    # -- public API -------------------------------------------------------

    @staticmethod
    def _evolved_schema(schema: StructType, df: DataFrame) -> StructType:
        """Union-by-name schema evolution (Delta ``mergeSchema``):
        new columns append to the table schema; a same-name column
        with a different type is a hard error (silent coercion at
        100 TB is how lakes rot). Old files simply lack the new
        columns — the explicit-schema parquet read fills NULLs."""
        existing = {f.name: f for f in schema.fields}
        out = list(schema.fields)
        for f in df.schema.fields:
            cur = existing.get(f.name)
            if cur is None:
                out.append(f)
            elif cur.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change {f.name!r}: "
                    f"{cur.dataType.simpleString()} -> {f.dataType.simpleString()}"
                )
        return StructType(out)

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        *,
        collect_stats: bool = True,
        txn: tuple[str, int] | None = None,
    ) -> Snapshot:
        """CTAS / INSERT: ``overwrite`` replaces the file list,
        ``append`` extends it (with union-by-name schema evolution).
        Both are single atomic commits.

        ``collect_stats=False`` skips per-file min/max harvesting for
        this write — for append-heavy tables whose reads never
        range-prune (e.g. the LSH band index, joined on hashed keys),
        the footer reads per append are pure cost. Reads treat a file
        with no stats entry as unprunable, so the trade is always
        safe; MERGE on such files simply rewrites conservatively.

        A ``txn`` batch that already landed is a no-op returning the
        current snapshot (:meth:`last_txn_batch`)."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        return self._write_on(self._current(), df, mode, collect_stats, txn)

    def _write_on(
        self,
        snap: Snapshot | None,
        df: DataFrame,
        mode: str,
        collect_stats: bool = True,
        txn: tuple[str, int] | None = None,
    ) -> Snapshot:
        """:meth:`write` on top of ``snap`` (``None``: the table's
        first commit, which loses to any writer that created it)."""
        if self._landed(snap, txn):
            return snap
        base = None if snap is None else snap.version
        if snap is not None:
            # data files always carry PHYSICAL names
            df = self._to_physical(df, snap.renames)
        hint = 0 if base is None else base + 1
        new_files = self._write_data_files(df, hint)
        stats = self._stats_for(new_files, df.schema) if collect_stats else {}
        schema_json = df.schema.json()
        files = list(new_files)
        if mode == "append" and snap is not None:
            old_schema = StructType.fromJson(json.loads(snap.schema_json))
            schema_json = self._evolved_schema(old_schema, df).json()
            files = list(snap.files) + files
            stats = {**snap.stats, **stats}
        return self._commit(
            operation=f"WRITE {mode}",
            files=files,
            schema_json=schema_json,
            stats=stats,
            base_version=base,
            txn=txn,
        )

    # -- column renames (metadata-only, Delta column-mapping style) -------
    #
    # Data files keep their ORIGINAL (physical) column names forever;
    # a rename is one metadata commit updating the physical->logical
    # map the log carries like the schema. read() presents logical
    # names; every write path translates logical back to physical, so
    # no data file is ever rewritten for a rename.

    @staticmethod
    def _to_logical(df: DataFrame, renames: dict[str, str]) -> DataFrame:
        return df.withColumnsRenamed(renames) if renames else df

    @staticmethod
    def _to_physical(df: DataFrame, renames: dict[str, str]) -> DataFrame:
        inv = {log: phys for phys, log in renames.items() if log in df.columns}
        return df.withColumnsRenamed(inv) if inv else df

    def rename_column(self, old: str, new: str) -> Snapshot:
        """ALTER TABLE RENAME COLUMN old TO new — metadata-only.
        Renaming back to the physical (file) name clears the mapping."""
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        logical = {f.name: snap.renames.get(f.name, f.name) for f in schema.fields}
        if old not in logical.values():
            raise ValueError(f"no column {old!r} on {self.path}")
        if new in logical.values():
            raise ValueError(f"column {new!r} already exists on {self.path}")
        phys = next(p for p, log in logical.items() if log == old)
        renames = dict(snap.renames)
        if phys == new:
            renames.pop(phys, None)  # renamed back to its file name
        else:
            renames[phys] = new
        return self._commit(
            operation=f"RENAME COLUMN {old}->{new}",
            files=snap.files,
            schema_json=snap.schema_json,
            stats=snap.stats,
            base_version=snap.version,
            renames=renames,
        )

    def drop_column(self, name: str) -> Snapshot:
        """ALTER TABLE DROP COLUMN — metadata-only, completing the
        schema-evolution trio (ADD via append union-by-name, RENAME,
        DROP): the commit records a schema WITHOUT the column while
        the data files keep their bytes — parquet readers project by
        the stored schema, so the dropped column is simply never
        read (the same reason Delta's drop is O(1); the bytes age
        out through OPTIMIZE rewrites)."""
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        logical = {f.name: snap.renames.get(f.name, f.name) for f in schema.fields}
        if name not in logical.values():
            raise ValueError(f"no column {name!r} on {self.path}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        phys = next(p for p, log in logical.items() if log == name)
        new_schema = StructType([f for f in schema.fields if f.name != phys])
        renames = {p: l for p, l in snap.renames.items() if p != phys}
        stats = {
            f: {c: v for c, v in cols.items() if c != phys}
            for f, cols in snap.stats.items()
        }
        return self._commit(
            operation=f"DROP COLUMN {name}",
            files=snap.files,
            schema_json=new_schema.json(),
            stats=stats,
            base_version=snap.version,
            renames=renames,
        )

    def read(
        self,
        version: int | None = None,
        *,
        as_of: float | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Snapshot-isolated scan, optionally time-traveling to
        ``version`` or to the snapshot current AS OF wall-clock
        ``as_of`` (epoch seconds — resolved via the commit timestamps
        the log records, metadata-only).

        The returned plan enumerates the snapshot's exact file list with
        an explicit schema — later commits cannot change (or break) it.

        ``prune={"col": (lo, hi)}`` drops files whose manifest
        [min, max] bounds cannot intersect the requested value range
        BEFORE Spark ever opens them — manifest-level file skipping,
        the same trick Iceberg plays with its manifest column bounds
        (parquet row-group skipping still applies inside the files
        that survive). The caller still applies the exact predicate;
        pruning is only ever a superset. Use ``(x, x)`` for point
        lookups and ``None`` endpoints for half-open ranges.
        """
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_at(as_of)
        snap = self.snapshot(version)
        files = list(snap.files)
        for col, (lo, hi) in (prune or {}).items():
            files = self._prune(snap, files, col, lo, hi)
        return self._to_logical(self._scan_physical(snap, files), snap.renames)

    @staticmethod
    def _prune(snap: Snapshot, files: Sequence[str], col: str, lo, hi) -> list[str]:
        """The entries of ``files`` whose manifest [min, max] on the
        LOGICAL column ``col`` can meet [lo, hi] (``None``: an open
        end). A file with no bounds for the column stays: it cannot be
        pruned safely."""
        phys = {log: p for p, log in snap.renames.items()}.get(col, col)
        out = []
        for f in files:
            b = snap.stats.get(f, {}).get(phys)
            if b is None or not ((hi is not None and b[0] > hi) or (lo is not None and b[1] < lo)):
                out.append(f)
        return out

    def _copy_on_write(
        self,
        snap: Snapshot,
        flag: Callable[[DataFrame], DataFrame],
        *,
        operation: str,
        files: Sequence[str] | None = None,
        add: DataFrame | None = None,
        schema: StructType | None = None,
        txn: tuple[str, int] | None = None,
    ) -> Snapshot:
        """The one copy-on-write commit behind ``merge``, ``delete`` and
        ``replace_where``. ``flag`` maps a logical-name scan to the
        same rows plus a boolean ``_drop``; a NULL ``_drop`` keeps the
        row (SQL predicate semantics).

        1. *Pin*: scan ``files`` (default: all of ``snap``; callers
           pass a stats-pruned subset) and collect the distinct names
           of the files holding a dropped row — only file names travel
           to the driver.
        2. *Rewrite*: ``add`` (logical names) ∪ the kept rows of the
           pinned files, projected onto ``schema`` (physical names;
           default the snapshot's), coalesced to about one output file
           per pinned file. A rewrite with no rows adds no file.
        3. *Commit*: untouched files carry over by reference; one
           commit on top of ``snap`` records ``"<operation>
           touched=a/b"``."""
        if schema is None:
            schema = StructType.fromJson(json.loads(snap.schema_json))
        files = list(snap.files if files is None else files)

        def flagged(fs: list[str], **kw) -> DataFrame:
            return flag(self._to_logical(self._scan_physical(snap, fs, **kw), snap.renames))

        touched: list[str] = []
        if files:
            pinned = flagged(files, keep_file_col="_file").filter("_drop")
            rows = pinned.select("_file").distinct().collect()
            # map scanned basenames back to MANIFEST entries (clones
            # hold absolute entries whose basename != the entry itself)
            by_base = {os.path.basename(self._resolve(f)): f for f in files}
            touched = [by_base[r["_file"]] for r in rows]
        parts = [] if add is None else [add]
        if touched:
            parts.append(flagged(touched).filter(~F.coalesce(F.col("_drop"), F.lit(False))))
        new_files: dict[str, StagedFile] = {}
        if parts:
            out = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                [self._to_physical(p, snap.renames) for p in parts],
            )
            # ~one output file per rewritten input file: without the
            # coalesce the rewrite inherits spark.sql.shuffle.partitions
            # and every commit bloats the manifest with tiny files
            out = out.select(*[f.name for f in schema.fields]).coalesce(max(1, len(touched)))
            new_files = self._write_nonempty(out, snap.version + 1)
        gone = set(touched)
        untouched = [f for f in snap.files if f not in gone]
        stats = {f: snap.stats[f] for f in untouched if f in snap.stats}
        stats.update(self._stats_for(new_files, schema))
        return self._commit(
            operation=f"{operation} touched={len(touched)}/{len(snap.files)}",
            files=untouched + list(new_files),
            schema_json=schema.json(),
            stats=stats,
            base_version=snap.version,
            txn=txn,
        )

    def merge(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        *,
        txn: tuple[str, int] | None = None,
        not_matched_by_source_delete: str | None = None,
    ) -> Snapshot:
        """``MERGE INTO`` (WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED
        INSERT *) through the one copy-on-write path
        (:meth:`_copy_on_write`): a target row is dropped when its key
        is among the updates, and the updates are added, so only the
        files holding matched keys are rewritten.

        The updates must carry every target column (UPDATE SET *) and
        hold each key once; both are checked before anything else
        runs, the first one without a Spark job. The job for the
        duplicate-key check also yields the delta's ``keys[0]`` range,
        and the manifest min/max bounds prune the files that cannot
        hold a match before any data is read.

        On a path with no commits the updates are committed as
        version 0 (dbt's first incremental run; DynamoDB ``PutItem``
        on a new item). A ``txn`` batch that already landed is a no-op
        returning the current snapshot. On :class:`CommitConflict` the
        whole merge rebases on the new snapshot, up to
        ``COMMIT_ATTEMPTS`` attempts in total.

        ``not_matched_by_source_delete`` adds Delta's ``WHEN NOT
        MATCHED BY SOURCE THEN DELETE`` clause: target rows whose key
        the source does NOT carry AND that satisfy the given condition
        (a logical-name SQL expression; ``"true"`` for all) are
        deleted in the same atomic commit — the full-table-sync /
        retention-sweep shape. No stats pruning is sound for an
        arbitrary condition, so the pin scans every file, but only
        the files holding dropped rows are rewritten.
        """
        keys = list(keys)
        nmbs = not_matched_by_source_delete

        def attempt() -> Snapshot:
            snap = self._current()
            if snap is None:
                return self._write_on(None, updates, "overwrite", txn=txn)
            if self._landed(snap, txn):
                return snap
            schema = StructType.fromJson(json.loads(snap.schema_json))
            # the incoming delta is written against logical names; the
            # schema and the commit label run in physical names
            physical = self._to_physical(updates, snap.renames)
            lacking = [f.name for f in schema.fields if f.name not in physical.columns]
            if lacking:
                # UPDATE SET * semantics (Delta's rule): the delta must
                # carry every existing target column — silently NULLing
                # matched rows' columns would be data loss, not evolution
                raise ValueError(f"merge updates missing target columns: {lacking}")
            bounds = updates.agg(
                F.min(keys[0]).alias("lo"),
                F.max(keys[0]).alias("hi"),
                F.count(F.lit(1)).alias("n"),
                # struct() so NULL-bearing key tuples still count (bare
                # count_distinct drops any row with a NULL key column,
                # which would false-positive this guard)
                F.count_distinct(F.struct(*keys)).alias("nk"),
            ).first()
            if bounds["n"] != bounds["nk"]:
                # Delta/Iceberg MERGE raises when multiple source rows
                # match one target row; silently unioning both deltas
                # in would duplicate the key. Callers wanting last-wins
                # semantics must dedupe first (stream_merge_into_acid does).
                raise ValueError(
                    f"merge updates contain duplicate keys on {keys} "
                    f"({bounds['n']} rows, {bounds['nk']} distinct keys); "
                    "dedupe the source (e.g. latest-per-key) before merging"
                )
            hits = updates.select(*keys).distinct().withColumn("_hit", F.lit(True))

            def flag(df: DataFrame) -> DataFrame:
                drop = F.col("_hit").isNotNull()
                if nmbs:
                    drop = drop | F.expr(nmbs)
                return df.join(hits, keys, "left").withColumn("_drop", drop).drop("_hit")

            inv = {log: phys for phys, log in snap.renames.items()}
            return self._copy_on_write(
                snap,
                flag,
                operation=f"MERGE keys={[inv.get(k, k) for k in keys]}"
                + (" +nmbs_delete" if nmbs else ""),
                # no stats pruning is sound for an arbitrary NMBS condition
                files=None
                if nmbs
                else self._prune(snap, snap.files, keys[0], bounds["lo"], bounds["hi"]),
                add=updates,
                schema=self._evolved_schema(schema, physical),
                txn=txn,
            )

        return self._with_rebase(attempt)

    def delete(self, predicate: str) -> Snapshot:
        """``DELETE WHERE predicate`` through the one copy-on-write
        path (:meth:`_copy_on_write`): only the files holding matching
        rows are rewritten; rows whose predicate is NULL stay.
        ``predicate`` is SQL over logical names. A lost commit race
        rebases like ``merge``."""
        cond = F.expr(predicate)
        return self._with_rebase(
            lambda: self._copy_on_write(
                self.snapshot(), lambda df: df.withColumn("_drop", cond), operation="DELETE"
            )
        )

    def replace_where(
        self,
        df: DataFrame,
        predicate: str,
        *,
        txn: tuple[str, int] | None = None,
    ) -> Snapshot:
        """Predicate-scoped INSERT OVERWRITE (public Delta Lake
        ``replaceWhere`` semantics; dbt's ``insert_overwrite``
        incremental strategy) through the one copy-on-write path
        (:meth:`_copy_on_write`): ONE atomic commit drops the rows
        matching ``predicate`` from the files that hold them and adds
        the incoming batch. Readers see either the old partition or
        the new one, never a mix and never a gap — the property an
        incremental model needs for idempotent backfills. A lost
        commit race rebases like ``merge``.

        Mirrors Delta's guard: every incoming row must itself
        satisfy the predicate (a batch that leaks outside its
        partition is rejected BEFORE any file is written). On a path
        with no commits the batch, once guarded, is version 0. A
        ``txn`` batch that already landed is a no-op returning the
        current snapshot."""
        cond = F.expr(predicate)  # LOGICAL column names

        def attempt() -> Snapshot:
            snap = self._current()
            if self._landed(snap, txn):
                return snap
            if df.filter(~cond | cond.isNull()).limit(1).count() > 0:
                raise ValueError(
                    f"replace_where batch contains rows violating {predicate!r}"
                )
            if snap is None:
                return self._write_on(None, df, "overwrite", txn=txn)
            return self._copy_on_write(
                snap,
                lambda d: d.withColumn("_drop", cond),
                operation=f"REPLACE WHERE {predicate}",
                add=df,
                txn=txn,
            )

        return self._with_rebase(attempt)

    def clone(self, dest_path: str, *, version: int | None = None) -> "AcidTable":
        """Zero-copy SHALLOW CLONE (Delta Lake's ``CREATE TABLE ...
        SHALLOW CLONE`` semantics): a NEW table whose v0 manifest
        references this table's snapshot data files by ABSOLUTE path
        — one metadata write, zero data IO at any table size. Safe by
        the format's own invariant: data files are immutable, so
        sharing them is free; every write on the clone (append,
        MERGE, DELETE, OPTIMIZE) is copy-on-write into the CLONE's
        own ``data/`` dir, the untouched absolute references carry
        forward, and the source never observes any of it. The
        clone's VACUUM only scans its local data dir, so shared
        source files can never be deleted from the clone side.

        The dev/test sandbox primitive: branch a 100 TB table in
        milliseconds, experiment destructively, drop the directory.
        Time travel inside the clone starts at its own v0.

        Hazard (Delta documents the same one): the SOURCE does not
        know its clones, so a source-side rewrite + VACUUM can
        physically drop files a clone still references — the clone's
        next read fails loudly (pinned by
        test_source_vacuum_can_invalidate_clone_documented_hazard).
        Retain source history or deep-copy before vacuuming a cloned
        table.
        """
        snap = self.snapshot(version)
        dest = AcidTable(self.spark, dest_path)
        if dest.exists():
            raise ValueError(f"clone destination already exists: {dest_path}")
        abs_files = [self._resolve(f) for f in snap.files]
        stats = {self._resolve(f): snap.stats[f] for f in snap.files if f in snap.stats}
        dest._commit(
            operation=f"CLONE {self.path}@v{snap.version}",
            files=abs_files,
            schema_json=snap.schema_json,
            stats=stats,
            base_version=None,
            renames=snap.renames,
        )
        return dest

    def restore(self, version: int) -> Snapshot:
        """``RESTORE TABLE ... TO VERSION AS OF version`` (Delta
        RESTORE semantics): a METADATA-ONLY commit whose file set is
        exactly the target version's. History is preserved — restore
        lands as a new version on top rather than rewinding the log,
        so concurrent readers, the change feed, and time travel all
        keep working; no data file is rewritten or copied.

        If any file the target version references has since been
        VACUUMed, the restore refuses up front (same contract as
        Delta's RESTORE error) instead of committing a snapshot that
        cannot be read.

        Scale: O(files in the target snapshot) driver-side metadata
        and one log write; zero data IO at any table size.
        """
        target = self.snapshot(version)  # raises KeyError-ish if absent
        missing = [f for f in target.files if not os.path.exists(self._resolve(f))]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.path} to version {version}: "
                f"{len(missing)} referenced data file(s) were vacuumed "
                f"(first: {missing[0]})"
            )
        return self._commit(
            operation=f"RESTORE to={version}",
            files=list(target.files),
            schema_json=target.schema_json,
            stats=dict(target.stats),
            base_version=self.latest_version(),
            renames=dict(target.renames),
        )

    def optimize(
        self,
        *,
        target_file_bytes: int = 128 << 20,
        zorder_by: Sequence[str] | None = None,
    ) -> Snapshot:
        """Transactional compaction (the lakehouse ``OPTIMIZE``):
        rewrite the current snapshot at ~``target_file_bytes`` per
        file — optionally z-ordered so every listed column's manifest
        bounds tighten — and commit the swap atomically. Readers of
        the old snapshot are untouched; writers that lose the version
        race simply rebase (every data-changing operation retries).

        If OPTIMIZE itself loses the race (a merge committed between
        its snapshot read and its commit), committing the stale
        rewrite would resurrect pre-merge rows — so it REBASES: the
        whole compaction re-reads the new snapshot and re-runs, up to
        ``COMMIT_ATTEMPTS`` attempts, then propagates
        :class:`CommitConflict` (abort, never silent data loss).
        Raced by test_acid.py::test_optimize_concurrent_with_merge.

        Incremental writers leave one small file per touched-set per
        commit; at 100 TB that's manifest pressure and a task per
        tiny file. OPTIMIZE is the periodic counterweight: one
        commit, same rows, bounded file count, better clustering.
        """
        return self._with_rebase(
            lambda: self._optimize_once(
                target_file_bytes=target_file_bytes, zorder_by=zorder_by
            )
        )

    def _optimize_once(
        self,
        *,
        target_file_bytes: int,
        zorder_by: Sequence[str] | None,
    ) -> Snapshot:
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        total = sum(
            os.path.getsize(self._resolve(f)) for f in snap.files
        )
        n = max(1, math.ceil(total / target_file_bytes))
        df = self.read(snap.version)
        if zorder_by:
            from dbt_lakehouse_aws_spark.sources.zorder import zorder_write_order

            df = zorder_write_order(df, list(zorder_by), num_ranges=n)
        else:
            df = df.repartition(n)
        # read() presents logical names; files keep physical ones
        df = self._to_physical(df, snap.renames)
        new_files = self._write_data_files(df, snap.version + 1)
        return self._commit(
            operation=f"OPTIMIZE files={len(snap.files)}->{len(new_files)}"
            + (f" zorder={list(zorder_by)}" if zorder_by else ""),
            files=list(new_files),
            schema_json=snap.schema_json,
            stats=self._stats_for(new_files, schema),
            base_version=snap.version,
        )

    def row_changes(
        self, v_from: int, v_to: int, keys: Sequence[str]
    ) -> DataFrame:
        """Change feed between two snapshots (Delta CDF-shaped):
        returns the target schema plus ``_change_type`` ∈
        {insert, update, delete}.

        Copy-on-write makes this cheap: only files that differ
        between the manifests can hold changed rows, so the diff
        scans ``added ∪ removed`` files, never the carried-over bulk.
        Rows identical on both sides (survivors copied during a
        rewrite) cancel out via an exact full-row anti-join; the
        rest classify by key presence."""
        keys = list(keys)
        old, new = self.snapshot(v_from), self.snapshot(v_to)
        schema = StructType.fromJson(json.loads(new.schema_json))
        cols = [f.name for f in schema.fields]
        # the diff runs in physical names (what the files carry);
        # callers pass logical keys and get logical columns back
        inv = {log: phys for phys, log in new.renames.items()}
        keys = [inv.get(k, k) for k in keys]

        removed = self._scan_physical(old, sorted(set(old.files) - set(new.files)), schema)
        added = self._scan_physical(new, sorted(set(new.files) - set(old.files)), schema)
        # survivors copied verbatim during COW rewrites appear on both
        # sides — cancel them out before classifying. The cancellation
        # must be NULL-safe: join(cols) uses null-unsafe equality, so a
        # survivor row carrying a NULL in any column would never match
        # its identical copy and be misclassified as an update.
        def _cancel(left: DataFrame, right: DataFrame) -> DataFrame:
            cond = reduce(
                lambda x, y: x & y,
                [left[c].eqNullSafe(right[c]) for c in cols],
            )
            return left.join(right, cond, "left_anti")

        a = _cancel(added, removed)
        r = _cancel(removed, added)
        inserts = a.join(r.select(*keys).distinct(), keys, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        updates = a.join(r.select(*keys).distinct(), keys, "left_semi").withColumn(
            "_change_type", F.lit("update")
        )
        deletes = r.join(a.select(*keys).distinct(), keys, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        return self._to_logical(
            inserts.unionByName(updates).unionByName(deletes), new.renames
        )

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Physically delete data files referenced by no retained
        manifest (and drop pre-horizon manifests). Readers of retained
        snapshots are unaffected — that's the snapshot-isolation
        contract; readers older than the horizon break, exactly like
        ``VACUUM`` + ``delta.deletedFileRetentionDuration``."""
        versions = self._versions()
        keep_versions = versions[-retain_last:]
        retained = [self.snapshot(v) for v in keep_versions]
        live = {f for s in retained for f in s.files}
        removed = []
        for f in os.listdir(self._data) if os.path.isdir(self._data) else []:
            if f.endswith(".parquet") and f not in live:
                os.unlink(os.path.join(self._data, f))
                removed.append(f)
        # the horizon version must stay reconstructable once the
        # pre-horizon delta chain is gone — checkpoint it first
        horizon = keep_versions[0]
        self._write_checkpoint(self.snapshot(horizon))
        for v in versions[:-retain_last]:
            os.unlink(os.path.join(self._log, f"{v:020d}.json"))
        for c in self._checkpoint_versions():
            if c < horizon:
                os.unlink(os.path.join(self._log, f"{c:020d}.checkpoint.json"))
        return removed
