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
* **Atomic, optimistic commits.** A commit is materialized as a
  fully-written temp file hard-linked into the log via
  ``os.link`` — POSIX put-if-absent. Two writers racing for version
  N: one link succeeds, the loser gets :class:`CommitConflict` and
  must rebase (re-read the new snapshot and retry). No partial
  manifest is ever visible.
* **Snapshot isolation.** Readers resolve a version once; since data
  files are immutable and only unreferenced by later manifests
  (never deleted until :meth:`vacuum`), a reader's DataFrame is
  repeatable against concurrent writers.
* **Time travel.** ``read(version=N)`` / :meth:`history`.
* **Copy-on-write MERGE / DELETE with file-level pruning.** MERGE
  rewrites *only* the files that actually contain matched keys:
  manifest min/max stats prune the candidate set without touching
  data, then an exact ``input_file_name`` semi-join pins the files
  to rewrite. At 100 TB with date- or key-clustered files, a daily
  delta touches a sliver of the table — the whole point of the
  format. Untouched files carry into the new manifest by reference.

The statistics are harvested from parquet footers via pyarrow (no
Spark job), mirroring how Iceberg manifests carry per-file column
bounds.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import reduce

from dbt_lakehouse_aws_spark.localframe import local_frame
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"
# manifest stats only for types whose min/max are JSON-safe and
# totally ordered the same way in parquet stats and in Spark
_STATS_TYPES = ("int", "bigint", "smallint", "tinyint", "double", "float", "string", "date")


class CommitConflict(RuntimeError):
    """Another writer committed the same version first — rebase and retry."""


class ConstraintViolation(ValueError):
    """A write contained rows for which a CHECK constraint evaluated
    to FALSE (SQL three-valued semantics: NULL passes, as in Delta
    Lake CHECK constraints)."""


@dataclass(frozen=True)
class Snapshot:
    version: int
    operation: str
    files: tuple[str, ...]
    schema_json: str
    stats: dict[str, dict[str, list]]  # file -> col -> [min, max]
    parent: int | None
    constraints: dict[str, str] = field(default_factory=dict)  # name -> CHECK expr
    renames: dict[str, str] = field(default_factory=dict)  # physical col -> logical col
    generated: dict[str, str] = field(default_factory=dict)  # logical col -> expr
    dvs: dict[str, str] = field(default_factory=dict)  # data file -> deletion-vector ref
    identity: dict[str, int] = field(default_factory=dict)  # identity col -> next value


def _file_stats(path: str, cols: Sequence[str]) -> dict[str, list]:
    """Per-file [min, max] bounds for ``cols`` from the parquet footer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for c in cols:
        idx = name_to_idx.get(c)
        if idx is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    ok = False
                    break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if ok and lo is not None and _json_safe(lo) and _json_safe(hi):
            out[c] = [lo, hi]
    return out


def _json_safe(v) -> bool:
    if isinstance(v, float):
        return not (math.isnan(v) or math.isinf(v))
    return isinstance(v, (int, str, bool))


_BLOOM_BITS = 1 << 15  # 32768 bits = 4 KB per (file, column)
_BLOOM_K = 5


def _bloom_hashes(value) -> tuple[int, int]:
    import hashlib

    digest = hashlib.blake2b(repr(value).encode(), digest_size=16).digest()
    return int.from_bytes(digest[:8], "little"), int.from_bytes(digest[8:], "little") | 1


def _bloom_build(values) -> str:
    """Base64 Bloom bitmap over ``values`` (double hashing, k probes)."""
    import base64

    bits = 0
    for v in values:
        h1, h2 = _bloom_hashes(v)
        for i in range(_BLOOM_K):
            bits |= 1 << ((h1 + i * h2) % _BLOOM_BITS)
    return base64.b64encode(bits.to_bytes(_BLOOM_BITS // 8, "little")).decode()


def _bloom_might_contain(encoded: str, value) -> bool:
    import base64

    bits = int.from_bytes(base64.b64decode(encoded), "little")
    h1, h2 = _bloom_hashes(value)
    return all(bits >> ((h1 + i * h2) % _BLOOM_BITS) & 1 for i in range(_BLOOM_K))


class AcidTable:
    """One transactional table rooted at ``path`` (see module doc).

    ``bloom_cols`` opts files written by THIS handle into per-file
    Bloom filters on the listed columns (4 KB per file·column in the
    manifest). They close the pruning gap min/max stats leave on
    tables that are NOT clustered by the merge key: every file's
    [min, max] spans the whole domain, but each file holds only its
    shard of keys — the blooms identify the files that can possibly
    hold a delta's keys without scanning anything.
    """

    def __init__(self, spark: SparkSession, path: str, *, bloom_cols: Sequence[str] = ()):
        self.spark = spark
        self.path = path
        self.bloom_cols = tuple(bloom_cols)
        self._log = os.path.join(path, _LOG_DIR)
        self._data = os.path.join(path, _DATA_DIR)
        self._dvdir = os.path.join(path, "dv")
        self._dv_cache: dict[str, list[list[int]]] = {}

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

    def exists(self) -> bool:
        return os.path.isdir(self._log) and bool(self._versions())

    # Only files matching the canonical {version:020d} names count as
    # log entries. A writer that crashes between creating its
    # .tmp-{uuid}.json staging file and the os.link/unlink commit
    # leaves a stray whose first dot-segment isn't an int — naive
    # int(f.split('.')[0]) parsing would then brick every read and
    # commit of the table until manual cleanup.
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
        constraints: dict[str, str] = {}
        renames: dict[str, str] = {}
        generated: dict[str, str] = {}
        dvs: dict[str, str] = {}
        identity: dict[str, int] = {}
        start = 0
        if base:
            cp = self._read_json(f"{base[-1]:020d}.checkpoint.json")
            files = dict(cp["files"])  # file -> stats
            schema_json = cp["schema"]
            operation, parent = cp["operation"], cp.get("parent")
            constraints = dict(cp.get("constraints", {}))
            renames = dict(cp.get("renames", {}))
            generated = dict(cp.get("generated", {}))
            dvs = dict(cp.get("dvs", {}))
            identity = dict(cp.get("identity", {}))
            start = base[-1] + 1
        for i in range(start, v + 1):
            m = self._read_json(f"{i:020d}.json")
            for f in m.get("remove", []):
                files.pop(f, None)
            files.update(m.get("add", {}))
            schema_json = m["schema"]
            operation, parent = m["operation"], m.get("parent")
            # pre-constraint/-rename deltas carry no key: inherit
            constraints = dict(m.get("constraints", constraints))
            renames = dict(m.get("renames", renames))
            generated = dict(m.get("generated", generated))
            dvs = dict(m.get("dvs", dvs))
            identity = dict(m.get("identity", identity))
        return Snapshot(
            version=v,
            operation=operation,
            files=tuple(sorted(files)),
            schema_json=schema_json,
            stats=files,
            parent=parent,
            constraints=constraints,
            renames=renames,
            generated=generated,
            # a DV is only meaningful for a file the snapshot holds
            # (`files` is the file->stats DICT here — hashed O(1)
            # membership, not a list scan, so manifest replay stays
            # O(n_files + n_dvs) at 100 TB manifest sizes)
            dvs={f: r for f, r in dvs.items() if f in files},
            identity=identity,
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

    def last_txn_batch(self, app_id: str) -> int | None:
        """Highest ``batch`` id committed under ``app_id`` — the
        Delta-style idempotent-writer protocol: a streaming sink
        records (app, batch) in the SAME atomic commit as its data,
        and on restart skips every batch ≤ this watermark. Unlike
        merge-idempotency arguments this also makes APPEND sinks
        exactly-once: a replayed batch is detected, not re-applied.
        Delta log files are never rewritten (checkpoints only bound
        replay), so a reverse scan over deltas is complete; cost is
        O(versions since that app's last commit) metadata reads."""
        for v in reversed(self._versions()):
            meta = self._read_json(f"{v:020d}.json")
            t = meta.get("txn")
            if t and t.get("app") == app_id:
                return int(t["batch"])
        return None

    def _commit(
        self,
        *,
        operation: str,
        files: Sequence[str],
        schema_json: str,
        stats: dict[str, dict[str, list]],
        base_version: int | None,
        txn: tuple[str, int] | None = None,
        constraints: dict[str, str] | None = None,
        renames: dict[str, str] | None = None,
        generated: dict[str, str] | None = None,
        dvs: dict[str, str] | None = None,
        identity: dict[str, int] | None = None,
    ) -> Snapshot:
        os.makedirs(self._log, exist_ok=True)
        new_version = 0 if base_version is None else base_version + 1
        if base_version is None:
            prev_files: set[str] = set()
            prev_stats: dict[str, dict] = {}
            prev_constraints: dict[str, str] = {}
            prev_renames: dict[str, str] = {}
            prev_generated: dict[str, str] = {}
            prev_dvs: dict[str, str] = {}
            prev_identity: dict[str, int] = {}
        else:
            prev = self.snapshot(base_version)
            prev_files, prev_stats = set(prev.files), prev.stats
            prev_constraints = prev.constraints
            prev_renames = prev.renames
            prev_generated = prev.generated
            prev_dvs = prev.dvs
            prev_identity = prev.identity
        new_set = set(files)
        # DV carry rule: an unchanged file keeps its vector; a removed
        # file's vector dies with it; new files start clean. Callers
        # that attach/consume vectors pass the full map explicitly.
        eff_dvs = dict(prev_dvs if dvs is None else dvs)
        eff_dvs = {f: r for f, r in eff_dvs.items() if f in new_set}
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
            # so replay needs no constraint history
            "constraints": dict(prev_constraints if constraints is None else constraints),
            "renames": dict(prev_renames if renames is None else renames),
            "generated": dict(prev_generated if generated is None else generated),
            "dvs": eff_dvs,
            "identity": dict(prev_identity if identity is None else identity),
        }
        tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(delta, fh)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(self._log, f"{new_version:020d}.json")
        try:
            os.link(tmp, final)  # atomic put-if-absent: the commit point
        except FileExistsError as e:
            raise CommitConflict(
                f"version {new_version} of {self.path} was committed concurrently; "
                "re-read the snapshot and retry"
            ) from e
        finally:
            os.unlink(tmp)
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
            "constraints": snap.constraints,
            "renames": snap.renames,
            "generated": snap.generated,
            "dvs": snap.dvs,
            "identity": snap.identity,
        }
        tmp = os.path.join(self._log, f".cptmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(cp, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self._log, f"{snap.version:020d}.checkpoint.json"))

    # -- data-file primitives ---------------------------------------------

    def _write_data_files(self, df: DataFrame, version_hint: int) -> list[str]:
        """Write ``df`` to new immutable files; return log-relative names.

        Spark writes to a staging dir (its committer already guarantees
        task-level atomicity there); finished parts are then hard-linked
        into ``data/`` under collision-free names. Same-filesystem link +
        unlink keeps this metadata-only.
        """
        os.makedirs(self._data, exist_ok=True)
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        out: list[str] = []
        for f in sorted(os.listdir(stage)):
            if not f.endswith(".parquet"):
                continue
            name = f"{version_hint:010d}-{uuid.uuid4().hex}.parquet"
            os.link(os.path.join(stage, f), os.path.join(self._data, name))
            out.append(name)
        import shutil

        shutil.rmtree(stage)
        return out

    def _write_nonempty(self, df: DataFrame, version_hint: int) -> list[str]:
        """``_write_data_files`` that contributes NO files when the
        frame holds zero rows. Replaces the
        ``keep.limit(1).count() > 0`` pre-probe at the rewrite sites
        (replace_where / delete / DV delete), which evaluated the
        rewrite frame TWICE — once for the emptiness check, once for
        the write (guide §1.2). The row count now comes from the
        already-written footers (driver metadata reads over a
        bounded, coalesced file set), so the frame is evaluated ONCE;
        the commit outcome is identical — a non-empty write keeps
        every part file exactly as before, an all-empty write
        contributes none."""
        import pyarrow.parquet as pq

        files = self._write_data_files(df, version_hint)
        total = 0
        for f in files:
            total += pq.ParquetFile(os.path.join(self._data, f)).metadata.num_rows
            if total:
                return files
        for f in files:
            os.unlink(os.path.join(self._data, f))
        return []

    # -- deletion vectors ---------------------------------------------------
    #
    # Row-level soft deletes (Delta Lake deletion-vector / Iceberg v2
    # position-delete semantics): DELETE can attach an immutable
    # sidecar listing deleted ROW POSITIONS instead of rewriting the
    # data file — O(deleted rows) write IO instead of O(file bytes).
    # Vectors are stored run-length-encoded ([start, end) ranges) in
    # ``dv/``, referenced from the manifest per data file, applied on
    # every read via ``_metadata.row_index`` anti-join, and CONSUMED
    # by any copy-on-write rewrite of their file (merge, rewrite
    # deletes, OPTIMIZE) — rewrites always run through the DV-applying
    # scan, so a vectored row can never resurrect.

    #: above this per-commit deleted-row count the positions no longer
    #: belong on the driver — the caller should use rewrite mode
    DV_MAX_POSITIONS = 5_000_000

    def _resolve_dv(self, ref: str) -> str:
        return ref if os.path.isabs(ref) else os.path.join(self._dvdir, ref)

    @staticmethod
    def _positions_to_ranges(positions: Sequence[int]) -> list[list[int]]:
        ranges: list[list[int]] = []
        for p in sorted(positions):
            if ranges and p == ranges[-1][1]:
                ranges[-1][1] = p + 1
            elif not ranges or p > ranges[-1][1]:
                ranges.append([p, p + 1])
        return ranges

    def _write_dv(self, ranges: Sequence[Sequence[int]], version_hint: int) -> str:
        os.makedirs(self._dvdir, exist_ok=True)
        name = f"{version_hint:010d}-{uuid.uuid4().hex}.dv.json"
        tmp = os.path.join(self._dvdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({"count": int(sum(e - s for s, e in ranges)), "ranges": ranges}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self._dvdir, name))
        return name

    def _read_dv(self, ref: str) -> list[list[int]]:
        """[start, end) deleted-position ranges of one vector.
        Vectors are immutable once written, so caching by ref is safe."""
        if ref not in self._dv_cache:
            with open(self._resolve_dv(ref)) as fh:
                self._dv_cache[ref] = json.load(fh)["ranges"]
        return self._dv_cache[ref]

    @staticmethod
    def _merge_ranges(
        old: Sequence[Sequence[int]], new: Sequence[Sequence[int]]
    ) -> list[list[int]]:
        """Union of two [start, end) range lists (both sorted,
        internally disjoint) — linear merge, no expansion."""
        merged: list[list[int]] = []
        for s, e in sorted([list(r) for r in old] + [list(r) for r in new]):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        return merged

    def _scan_physical(
        self,
        snap: Snapshot,
        files: Sequence[str] | None = None,
        schema: StructType | None = None,
        *,
        keep_file_col: str | None = None,
        keep_pos_col: str | None = None,
    ) -> DataFrame:
        """Physical-name scan of ``files`` (default: all of ``snap``)
        with the snapshot's deletion vectors applied — the ONE routine
        every read-side and copy-on-write path goes through, so a
        vectored row can neither be served nor survive a rewrite.

        Vectors are applied as an anti-join on (file, row position):
        the position sets are exploded JVM-side from broadcast range
        literals — O(deleted rows) in the join's build side, never a
        per-row Python trip. With no vectors on the scanned files the
        plan is the plain parquet scan, zero overhead."""
        if schema is None:
            schema = StructType.fromJson(json.loads(snap.schema_json))
        files = list(snap.files if files is None else files)
        # copy the field list: StructType.add mutates in place, and
        # sharing the caller's list would pollute its schema object
        extra_schema = StructType(list(schema.fields))
        if keep_file_col:
            extra_schema = extra_schema.add(keep_file_col, "string")
        if keep_pos_col:
            extra_schema = extra_schema.add(keep_pos_col, "long")
        if not files:
            return self.spark.createDataFrame([], extra_schema)

        fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)

        def scan(batch: list[str], apply_dv: bool) -> DataFrame:
            df = self.spark.read.schema(schema).parquet(
                *[self._resolve(f) for f in batch]
            )
            cols = list(df.columns)
            if keep_file_col:
                df = df.withColumn(keep_file_col, fname)
                cols.append(keep_file_col)
            if keep_pos_col:
                df = df.withColumn(keep_pos_col, F.col("_metadata.row_index"))
                cols.append(keep_pos_col)
            if not apply_dv:
                return df.select(*cols)
            range_rows = []
            for f in batch:
                base = os.path.basename(self._resolve(f))
                for s, e in self._read_dv(snap.dvs[f]):
                    range_rows.append((base, int(s), int(e)))
            deleted = local_frame(
                self.spark, range_rows, "_dv_file STRING, _dv_s BIGINT, _dv_e BIGINT"
            ).select(
                "_dv_file",
                F.explode(
                    F.sequence(F.col("_dv_s"), F.col("_dv_e") - 1)
                ).alias("_dv_pos"),
            )
            return (
                df.withColumn("_dv_file", fname)
                .withColumn("_dv_pos", F.col("_metadata.row_index"))
                .join(F.broadcast(deleted), ["_dv_file", "_dv_pos"], "left_anti")
                .select(*cols)
            )

        # files WITHOUT vectors take the plain scan — the anti-join
        # (and its per-row file/position columns) prices only the
        # vectored files, so read overhead is proportional to the
        # vectored fraction, not the table
        vectored = [f for f in files if f in snap.dvs]
        clean = [f for f in files if f not in snap.dvs]
        if not vectored:
            return scan(clean, False)
        if not clean:
            return scan(vectored, True)
        return scan(clean, False).unionByName(scan(vectored, True))

    # commits rely on os.link, so tables are POSIX-local: a footer read
    # is ~1-2 ms, and a serial driver loop beats one Spark job's
    # scheduling overhead (~0.5-0.7 s measured) well past 100 files;
    # the distributed path takes over for bulk commits
    _DRIVER_STATS_MAX_FILES = 128

    def _stats_for(self, files: Sequence[str], schema: StructType) -> dict[str, dict[str, list]]:
        cols = [f.name for f in schema.fields if f.dataType.simpleString() in _STATS_TYPES]
        if len(files) <= self._DRIVER_STATS_MAX_FILES:
            # footer reads are metadata-sized (see crossover note on
            # _DRIVER_STATS_MAX_FILES above)
            out = {f: _file_stats(os.path.join(self._data, f), cols) for f in files}
        else:
            out = self._footer_stats_distributed(files, cols)
        bloom_cols = [c for c in self.bloom_cols if c in {f.name for f in schema.fields}]
        if bloom_cols:
            for f, c, bits in self._bloom_bitmaps(files, bloom_cols):
                out[f][f"__bloom__{c}"] = bits
        return out

    def _footer_stats_distributed(
        self, files: Sequence[str], cols: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file footer [min, max] stats, read by executor tasks.

        Same driver-cost bound as the bloom build: at a large commit
        (OPTIMIZE of thousands of files, bulk load) a driver-side
        loop over every footer is O(files) serial metadata RTTs; here
        one Spark job fans the footer reads across the cluster and
        collects back one small JSON blob per file. Results are
        byte-identical to :func:`_file_stats` (asserted in
        test_acid.py)."""
        import pyarrow as pa

        data_dir = self._data

        def read_footers(batches):
            for batch in batches:
                rows = [
                    {
                        "f": f,
                        "stats": json.dumps(
                            _file_stats(os.path.join(data_dir, f), cols)
                        ),
                    }
                    for f in batch.column("f").to_pylist()
                ]
                yield pa.RecordBatch.from_pylist(
                    rows, schema=pa.schema([("f", pa.string()), ("stats", pa.string())])
                )

        df = local_frame(
            self.spark, [(f,) for f in files], "f string"
        ).repartition(min(len(files), 64))
        return {
            r["f"]: json.loads(r["stats"])
            for r in df.mapInArrow(
                read_footers, StructType.fromDDL("f string, stats string")
            ).collect()
        }

    def _bloom_bitmaps(
        self, files: Sequence[str], bloom_cols: list[str]
    ) -> list[tuple[str, str, str]]:
        """Per-(file, column) Bloom bitmaps, built DISTRIBUTED.

        The scan tasks hash their own rows (``mapInArrow`` so integer
        columns keep exact Python values — a pandas int→float null
        promotion would change ``repr`` and silently break probe
        equality with :func:`_bloom_hashes` at merge time); each task
        emits one 4 KB partial bitmap per (file, column) per Arrow
        batch and the driver ORs them — collected metadata is
        O(files · row-groups), never O(rows). The previous
        implementation read every key of every new file on the
        driver, a pure-Python O(rows) pass that was the slowest part
        of an 8M-row write in scale probe #4.
        """
        import base64
        import urllib.parse

        import pyarrow as pa

        paths = [self._resolve(f) for f in files]
        scan = self.spark.read.parquet(*paths).select(
            F.input_file_name().alias("_file"), *bloom_cols
        )
        n_bytes = _BLOOM_BITS // 8
        out_schema = StructType.fromDDL("_file string, _col string, _bits binary")

        def partials(batches):
            for batch in batches:
                fnames = batch.column("_file").to_pylist()
                for c in bloom_cols:
                    vals = batch.column(c).to_pylist()
                    per_file: dict[str, int] = {}
                    for fname, v in zip(fnames, vals):
                        if v is None:
                            continue
                        h1, h2 = _bloom_hashes(v)
                        acc = per_file.get(fname, 0)
                        for i in range(_BLOOM_K):
                            acc |= 1 << ((h1 + i * h2) % _BLOOM_BITS)
                        per_file[fname] = acc
                    if per_file:
                        yield pa.RecordBatch.from_pylist(
                            [
                                {"_file": f, "_col": c, "_bits": b.to_bytes(n_bytes, "little")}
                                for f, b in per_file.items()
                            ]
                        )

        # empty bitmap default: a file whose column is all-NULL must
        # still carry a bloom (it can never match any probe key) —
        # matching the semantics of building from an empty value list
        merged: dict[tuple[str, str], int] = {
            (f, c): 0 for f in files for c in bloom_cols
        }
        for row in scan.mapInArrow(partials, out_schema).collect():
            base = os.path.basename(urllib.parse.unquote(urllib.parse.urlparse(row["_file"]).path))
            merged[(base, row["_col"])] |= int.from_bytes(row["_bits"], "little")
        return [
            (f, c, base64.b64encode(bits.to_bytes(n_bytes, "little")).decode())
            for (f, c), bits in merged.items()
        ]

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

        ``collect_stats=False`` skips per-file min/max (and bloom)
        harvesting for this write — for append-heavy tables whose
        reads never range-prune (e.g. the LSH band index, joined on
        hashed keys), the footer-stats job per append is pure cost.
        Reads treat a file with no stats entry as unprunable, so the
        trade is always safe; MERGE on such files simply rewrites
        conservatively."""
        base = self.latest_version() if self.exists() else None
        new_identity: dict[str, int] | None = None
        if base is not None:
            snap0 = self.snapshot(base)
            # generated columns: compute when absent, reject disagreement
            df = self._apply_generated(df, snap0)
            # constraints bind to logical names (what callers see)
            self._enforce(df, snap0.constraints)
            # identity columns (GENERATED BY DEFAULT): a batch that
            # omits the column gets ids from the manifest high-water
            # mark; one that carries it passes through (merge
            # survivors keep theirs)
            missing_ids = [c for c in snap0.identity if c not in df.columns]
            carried_ids = [c for c in snap0.identity if c in df.columns]
            if carried_ids:
                # Delta SYNC IDENTITY behavior (ADVICE r6 #2): a
                # pass-through batch that explicitly writes ids above
                # the high-water mark must ADVANCE the mark, else a
                # later column-omitting append would auto-assign
                # colliding ids. One bounded agg per identity write.
                maxes = df.agg(
                    *[F.max(F.col(c)).alias(c) for c in carried_ids]
                ).first()
                ident_c = dict(snap0.identity)
                moved = False
                for c in carried_ids:
                    m = maxes[c]
                    if m is not None and int(m) + 1 > ident_c[c]:
                        ident_c[c] = int(m) + 1
                        moved = True
                if moved:
                    new_identity = ident_c
            if missing_ids:
                from dbt_lakehouse_aws_spark.operators.windows import (
                    global_row_number,
                )

                ident = dict(new_identity or snap0.identity)
                df = global_row_number(
                    df.withColumn("_idmid", F.monotonically_increasing_id()),
                    [F.col("_idmid").asc()],
                    name="_idrn",
                )
                n = df.count()
                for c in missing_ids:
                    df = df.withColumn(
                        c, (F.col("_idrn") + F.lit(ident[c] - 1)).cast("long")
                    )
                    ident[c] = ident[c] + int(n)
                df = df.drop("_idmid", "_idrn")
                new_identity = ident
            # data files always carry PHYSICAL names
            df = self._to_physical(df, snap0.renames)
        hint = 0 if base is None else base + 1
        new_files = self._write_data_files(df, hint)
        stats = self._stats_for(new_files, df.schema) if collect_stats else {}
        schema_json = df.schema.json()
        if mode == "append" and base is not None:
            snap = self.snapshot(base)
            old_schema = StructType.fromJson(json.loads(snap.schema_json))
            schema_json = self._evolved_schema(old_schema, df).json()
            files = list(snap.files) + new_files
            stats = {**snap.stats, **stats}
        elif mode in ("overwrite", "append"):
            files = new_files
        else:
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        return self._commit(
            operation=f"WRITE {mode}",
            files=files,
            schema_json=schema_json,
            stats=stats,
            base_version=base,
            txn=txn,
            identity=new_identity,
        )

    def add_identity_column(self, name: str, *, start: int = 1) -> Snapshot:
        """Delta-style IDENTITY column (GENERATED BY DEFAULT AS
        IDENTITY): a metadata-only commit that adds a BIGINT column
        whose values subsequent writes assign from a manifest-tracked
        high-water mark — monotone and collision-free across commits
        without any table-wide max() scan at write time. Attach
        BEFORE data lands (empty table): backfilling ids onto
        existing rows would impose an ordering the format does not
        define. Batches that already carry the column pass through
        (merge survivors keep their ids; the merge delta must carry
        every target column, so an upsert can never silently re-id
        a row), and a pass-through write ADVANCES the high-water
        mark past the batch's max id (Delta's SYNC IDENTITY
        behavior), so explicit id injection followed by a
        column-omitting append cannot collide — the collision-free
        guarantee holds across mixed explicit/auto writers."""
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"column {name!r} already exists")
        if name in snap.identity:
            raise ValueError(f"identity column {name!r} already declared")
        if snap.files and self.read(snap.version).limit(1).count() > 0:
            raise ValueError(
                "identity columns attach before data lands (table not empty)"
            )
        evolved = StructType(list(schema.fields)).add(name, "long")
        return self._commit(
            operation=f"ADD IDENTITY {name} start={start}",
            files=[],
            schema_json=evolved.json(),
            stats={},
            base_version=snap.version,
            identity={**snap.identity, name: int(start)},
        )

    # -- CHECK constraints -------------------------------------------------
    #
    # Delta Lake's table-constraint model (public `delta.constraints.*`
    # semantics): a named SQL predicate every row must satisfy;
    # NULL passes (SQL three-valued logic), FALSE rejects the WHOLE
    # write atomically. The map lives in the log like the schema —
    # every delta records the full current map, so readers get it
    # from the snapshot with no extra I/O.

    def check_constraints(self) -> dict[str, str]:
        """Current name → CHECK-expression map ({} for a new table)."""
        return dict(self.snapshot().constraints) if self.exists() else {}

    def add_check_constraint(self, name: str, expr: str) -> Snapshot:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr): validates the
        EXISTING data first (one aggregate scan — Delta's rule: you
        cannot add a constraint the table already violates), then
        commits a metadata-only delta carrying the new map."""
        snap = self.snapshot()
        if name in snap.constraints:
            raise ValueError(f"constraint {name!r} already exists")
        self._enforce(self.read(snap.version), {name: expr})
        return self._commit(
            operation=f"ADD CONSTRAINT {name}",
            files=snap.files,
            schema_json=snap.schema_json,
            stats=snap.stats,
            base_version=snap.version,
            constraints={**snap.constraints, name: expr},
        )

    def drop_check_constraint(self, name: str) -> Snapshot:
        snap = self.snapshot()
        if name not in snap.constraints:
            raise ValueError(f"no constraint {name!r} on {self.path}")
        remaining = {k: v for k, v in snap.constraints.items() if k != name}
        return self._commit(
            operation=f"DROP CONSTRAINT {name}",
            files=snap.files,
            schema_json=snap.schema_json,
            stats=snap.stats,
            base_version=snap.version,
            constraints=remaining,
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

        Renaming a column a CHECK constraint references is rejected
        (the stored expression would silently stop binding — same
        guard Delta applies without column-mapping-aware rewrite).
        """
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        logical = {f.name: snap.renames.get(f.name, f.name) for f in schema.fields}
        if old not in logical.values():
            raise ValueError(f"no column {old!r} on {self.path}")
        if new in logical.values():
            raise ValueError(f"column {new!r} already exists on {self.path}")
        pat = re.compile(rf"\b{re.escape(old)}\b")
        offending = [n for n, e in snap.constraints.items() if pat.search(e)]
        if offending:
            raise ValueError(
                f"cannot rename {old!r}: referenced by CHECK "
                f"constraint(s) {offending} — drop them first"
            )
        gen_off = [
            n
            for n, e in snap.generated.items()
            if n == old or pat.search(e)
        ]
        if gen_off:
            raise ValueError(
                f"cannot rename {old!r}: generated column(s) {gen_off} "
                "declare or reference it"
            )
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
        out through OPTIMIZE rewrites). Dropping a column a CHECK
        constraint or generated column references is rejected, same
        guard as rename."""
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        logical = {f.name: snap.renames.get(f.name, f.name) for f in schema.fields}
        if name not in logical.values():
            raise ValueError(f"no column {name!r} on {self.path}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        pat = re.compile(rf"\b{re.escape(name)}\b")
        offending = [n for n, e in snap.constraints.items() if pat.search(e)]
        if offending:
            raise ValueError(
                f"cannot drop {name!r}: referenced by CHECK "
                f"constraint(s) {offending} — drop them first"
            )
        gen_off = [
            n for n, e in snap.generated.items() if n == name or pat.search(e)
        ]
        if gen_off:
            raise ValueError(
                f"cannot drop {name!r}: generated column(s) {gen_off} "
                "declare or reference it"
            )
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

    # -- generated columns (Delta GENERATED ALWAYS AS semantics) ----------

    def add_generated_column(self, name: str, expr: str) -> Snapshot:
        """ALTER TABLE ADD COLUMN name GENERATED ALWAYS AS (expr):
        one COW rewrite materializes the column for existing rows
        (O(table), documented — the only non-metadata ALTER here);
        every later write computes it when absent and REJECTS rows
        where a caller-supplied value disagrees with the expression.
        ``expr`` binds to LOGICAL column names, like CHECK exprs."""
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        logical = [snap.renames.get(f.name, f.name) for f in schema.fields]
        if name in logical:
            raise ValueError(f"column {name!r} already exists on {self.path}")
        if name in snap.generated:
            raise ValueError(f"generated column {name!r} already declared")
        materialized = self._to_physical(
            self.read(snap.version).withColumn(name, F.expr(expr)),
            snap.renames,
        )
        new_files = self._write_data_files(materialized, snap.version + 1)
        return self._commit(
            operation=f"ADD GENERATED COLUMN {name}",
            files=new_files,
            schema_json=materialized.schema.json(),
            stats=self._stats_for(new_files, materialized.schema),
            base_version=snap.version,
            generated={**snap.generated, name: expr},
        )

    def _apply_generated(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Compute absent generated columns; reject rows whose
        supplied values disagree with the declared expression (all
        declared columns checked in the SAME aggregate pass as a
        null-safe inequality count)."""
        if not snap.generated:
            return df
        disagree = {}
        for name, expr in snap.generated.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                disagree[f"_gen_{name}"] = (
                    f"NOT ({name} <=> ({expr}))"
                )
        if disagree:
            row = df.agg(
                *[
                    F.sum(
                        F.when(F.expr(cond), 1).otherwise(0)
                    ).alias(alias)
                    for alias, cond in disagree.items()
                ]
            ).collect()[0]
            bad = {a[5:]: int(row[a]) for a in disagree if row[a]}
            if bad:
                raise ConstraintViolation(
                    f"write to {self.path} rejected: supplied values "
                    f"disagree with GENERATED ALWAYS AS for {bad} "
                    "(rows counted per column)"
                )
        return df

    def _enforce(self, df: DataFrame, constraints: dict[str, str]) -> None:
        """Reject ``df`` if any constraint evaluates FALSE on any row.
        ALL constraints are counted in ONE aggregate pass (not one
        scan each); NULL results pass, mirroring Delta CHECK."""
        if not constraints:
            return
        names = sorted(constraints)
        row = df.agg(
            *[
                F.sum(
                    F.when(
                        F.expr(constraints[n]).eqNullSafe(F.lit(False)), 1
                    ).otherwise(0)
                ).alias(n)
                for n in names
            ]
        ).collect()[0]
        bad = {n: int(row[n]) for n in names if row[n]}
        if bad:
            raise ConstraintViolation(
                f"write to {self.path} rejected: rows violating CHECK "
                + ", ".join(
                    f"{n} ({c} rows, expr: {constraints[n]})"
                    for n, c in bad.items()
                )
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
        schema = StructType.fromJson(json.loads(snap.schema_json))
        files = list(snap.files)
        # prune keys arrive in LOGICAL names; stats are physical
        inv = {log: phys for phys, log in snap.renames.items()}
        prune = {inv.get(c, c): b for c, b in (prune or {}).items()}
        for col, (lo, hi) in (prune or {}).items():
            kept = []
            for f in files:
                bounds = snap.stats.get(f, {}).get(col)
                if bounds is None:
                    kept.append(f)  # no stats → cannot prune safely
                    continue
                if (hi is not None and bounds[0] > hi) or (
                    lo is not None and bounds[1] < lo
                ):
                    continue
                kept.append(f)
            files = kept
        return self._to_logical(
            self._scan_physical(snap, files, schema), snap.renames
        )

    def _prune_files(self, snap: Snapshot, key: str, lo, hi) -> list[str]:
        """Files whose [min,max] for ``key`` can overlap [lo, hi]."""
        out = []
        for f in snap.files:
            bounds = snap.stats.get(f, {}).get(key)
            if bounds is None or lo is None:
                out.append(f)  # no stats → can't prune safely
                continue
            if not (bounds[1] < lo or bounds[0] > hi):
                out.append(f)
        return out

    _BLOOM_PRUNE_MAX_KEYS = 100_000

    def _bloom_prune(
        self, snap: Snapshot, candidates: list[str], updates: DataFrame, key: str
    ) -> list[str]:
        """Drop candidate files whose Bloom filter rules out every
        delta key. Only fires when (a) candidates carry blooms for
        ``key`` and (b) the delta's distinct key set is small enough
        to collect (bounded driver cost) — otherwise the exact
        semi-join pin handles it as before."""
        with_blooms = [
            f for f in candidates if f"__bloom__{key}" in snap.stats.get(f, {})
        ]
        if not with_blooms:
            return candidates
        key_rows = (
            updates.select(key).distinct().limit(self._BLOOM_PRUNE_MAX_KEYS + 1).collect()
        )
        if len(key_rows) > self._BLOOM_PRUNE_MAX_KEYS:
            return candidates
        import base64

        hashes = [_bloom_hashes(r[key]) for r in key_rows if r[key] is not None]
        kept = []
        for f in candidates:
            enc = snap.stats.get(f, {}).get(f"__bloom__{key}")
            if enc is None:
                kept.append(f)
                continue
            bits = int.from_bytes(base64.b64decode(enc), "little")
            if any(
                all(bits >> ((h1 + i * h2) % _BLOOM_BITS) & 1 for i in range(_BLOOM_K))
                for h1, h2 in hashes
            ):
                kept.append(f)
        return kept

    def merge(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        *,
        max_retries: int = 3,
        txn: tuple[str, int] | None = None,
        not_matched_by_source_delete: str | None = None,
    ) -> Snapshot:
        """``MERGE INTO`` (WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED
        INSERT *): copy-on-write on exactly the files holding matched
        keys.

        Three-phase file targeting, none of which scans untouched data:

        1. *Stats prune*: manifest min/max bounds on ``keys[0]`` vs the
           delta's key range drop files that cannot contain a match.
        2. *Exact pin*: scan only the pruned candidates with
           ``input_file_name()``, semi-join on the full key, collect the
           distinct file names that truly hold matches (bounded by file
           count, not row count).
        3. *Rewrite*: (touched-file rows ⟕̸ update keys) ∪ updates → new
           files; untouched files carry over by reference.

        Retries automatically on :class:`CommitConflict` by rebasing on
        the new snapshot (optimistic concurrency, Delta-style).

        ``not_matched_by_source_delete`` adds Delta's ``WHEN NOT
        MATCHED BY SOURCE THEN DELETE`` clause: target rows whose key
        the source does NOT carry AND that satisfy the given condition
        (a logical-name SQL expression; ``"true"`` for all) are
        deleted in the same atomic commit — the full-table-sync /
        retention-sweep shape. Files holding such rows join the
        touched set, so the clause prices O(files with deletions),
        not O(table).
        """
        keys = list(keys)
        for _ in range(max_retries):
            snap = self.snapshot()
            try:
                return self._merge_once(
                    snap, updates, keys, txn=txn,
                    nmbs_delete=not_matched_by_source_delete,
                )
            except CommitConflict:
                continue
        # final attempt propagates the conflict
        return self._merge_once(
            self.snapshot(), updates, keys, txn=txn,
            nmbs_delete=not_matched_by_source_delete,
        )

    def _merge_once(
        self,
        snap: Snapshot,
        updates: DataFrame,
        keys: list[str],
        txn: tuple[str, int] | None = None,
        nmbs_delete: str | None = None,
    ) -> Snapshot:
        schema = StructType.fromJson(json.loads(snap.schema_json))
        # generated columns and constraints are written against
        # logical names — compute/check the incoming (logical) delta,
        # then drop to physical names for every file-level step below
        updates = self._apply_generated(updates, snap)
        self._enforce(updates, snap.constraints)
        updates = self._to_physical(updates, snap.renames)
        inv = {log: phys for phys, log in snap.renames.items()}
        keys_log = list(keys)
        keys = [inv.get(k, k) for k in keys]
        evolved = self._evolved_schema(schema, updates)
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
            # Delta/Iceberg MERGE raises when multiple source rows match
            # one target row; silently unioning both deltas in would
            # duplicate the key. Callers wanting last-wins semantics
            # must dedupe first (stream_merge_into_acid does).
            raise ValueError(
                f"merge updates contain duplicate keys on {keys} "
                f"({bounds['n']} rows, {bounds['nk']} distinct keys); "
                "dedupe the source (e.g. latest-per-key) before merging"
            )
        candidates = self._prune_files(snap, keys[0], bounds["lo"], bounds["hi"])
        candidates = self._bloom_prune(snap, candidates, updates, keys[0])
        touched: list[str] = []
        if candidates:
            cand_df = self._scan_physical(snap, candidates, keep_file_col="_file")
            touched_paths = (
                cand_df.join(updates.select(*keys).distinct(), keys, "left_semi")
                .select("_file")
                .distinct()
                .collect()
            )
            # map scanned basenames back to MANIFEST entries (clones
            # hold absolute entries whose basename != the entry itself)
            by_base = {os.path.basename(self._resolve(f)): f for f in candidates}
            touched = [by_base[r["_file"]] for r in touched_paths]
        nmbs_cond = F.expr(nmbs_delete) if nmbs_delete else None
        if nmbs_cond is not None and snap.files:
            # files holding deletable rows (condition-satisfying rows
            # whose key the source does not carry) join the touched
            # set — no stats pruning is sound for an arbitrary
            # condition, but only FILE NAMES travel to the driver
            all_log = self._to_logical(
                self._scan_physical(snap, keep_file_col="_file"), snap.renames
            )
            upd_keys_log = self._to_logical(
                updates.select(*keys).distinct(), snap.renames
            )
            del_paths = (
                all_log.filter(nmbs_cond)
                .join(upd_keys_log, keys_log, "left_anti")
                .select("_file")
                .distinct()
                .collect()
            )
            by_base_all = {
                os.path.basename(self._resolve(f)): f for f in snap.files
            }
            seen = set(touched)
            touched += [
                by_base_all[r["_file"]]
                for r in del_paths
                if by_base_all[r["_file"]] not in seen
            ]
        lacking = [f.name for f in schema.fields if f.name not in updates.columns]
        if lacking:
            # UPDATE SET * semantics (Delta's rule): the delta must
            # carry every existing target column — silently NULLing
            # matched rows' columns would be data loss, not evolution
            raise ValueError(f"merge updates missing target columns: {lacking}")
        up = updates.select(*[f.name for f in evolved.fields])
        if touched:
            touched_df = self._scan_physical(snap, touched)
            survivors = touched_df.join(updates.select(*keys).distinct(), keys, "left_anti")
            if nmbs_cond is not None:
                # WHEN NOT MATCHED BY SOURCE THEN DELETE: unmatched
                # target rows meeting the condition do not survive
                surv_log = self._to_logical(survivors, snap.renames)
                survivors = self._to_physical(
                    surv_log.filter(~nmbs_cond | nmbs_cond.isNull()),
                    snap.renames,
                )
            # pre-evolution survivor rows take NULLs for new columns
            rewritten = up.unionByName(survivors, allowMissingColumns=True)
        else:
            rewritten = up
        rewritten = rewritten.select(*[f.name for f in evolved.fields])
        # ~one output file per rewritten input file: without this the
        # rewrite inherits spark.sql.shuffle.partitions (200 by
        # default) and every merge bloats the manifest with hundreds
        # of tiny files — the file count must stay proportional to
        # the touched set, not the session config.
        rewritten = rewritten.coalesce(max(1, len(touched)))
        new_files = self._write_data_files(rewritten, snap.version + 1)
        untouched = [f for f in snap.files if f not in set(touched)]
        stats = {f: s for f, s in snap.stats.items() if f in set(untouched)}
        stats.update(self._stats_for(new_files, evolved))
        return self._commit(
            operation=f"MERGE keys={keys} touched={len(touched)}/{len(snap.files)}"
            + (" +nmbs_delete" if nmbs_delete else ""),
            files=untouched + new_files,
            schema_json=evolved.json(),
            stats=stats,
            base_version=snap.version,
            txn=txn,
        )

    def delete(self, predicate: str, *, mode: str = "rewrite") -> Snapshot:
        """``DELETE WHERE predicate``.

        ``mode="rewrite"`` (copy-on-write, the default): rewrite only
        files that contain matching rows; files with no matches carry
        over untouched. Any deletion vector on a touched file is
        consumed by the rewrite.

        ``mode="vector"`` (merge-on-read): attach a DELETION VECTOR —
        an immutable run-length sidecar of deleted row positions —
        instead of rewriting data. Write IO is O(deleted rows), not
        O(touched file bytes): the sparse-delete shape (GDPR erasure,
        late-event retraction) where copy-on-write would rewrite a
        terabyte to drop a row. Per file, the hybrid rule Delta ships:
        a file whose LIVE rows all match is simply dropped from the
        manifest (pure metadata); a file with more than half its live
        rows matching is rewritten (a vector bigger than the survivor
        set is false economy, and read-side anti-join cost tracks
        vector size); otherwise the new positions merge into the
        file's existing vector. Guarded by ``DV_MAX_POSITIONS`` —
        beyond that the positions no longer belong on the driver and
        the caller should rewrite."""
        if mode not in ("rewrite", "vector"):
            raise ValueError(f"delete mode must be rewrite|vector, got {mode!r}")
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        cond = F.expr(predicate)  # written in LOGICAL column names
        if mode == "vector":
            return self._delete_vector(snap, schema, cond, predicate)
        touched: list[str] = []
        if snap.files:
            all_df = self._to_logical(
                self._scan_physical(snap, keep_file_col="_file"), snap.renames
            )
            rows = all_df.filter(cond).select("_file").distinct().collect()
            by_base = {os.path.basename(self._resolve(f)): f for f in snap.files}
            touched = [by_base[r["_file"]] for r in rows]
        new_files: list[str] = []
        if touched:
            touched_df = self._to_logical(
                self._scan_physical(snap, touched), snap.renames
            )
            keep = self._to_physical(
                touched_df.filter(~cond | cond.isNull()), snap.renames
            ).coalesce(max(1, len(touched)))
            new_files = self._write_nonempty(keep, snap.version + 1)
        untouched = [f for f in snap.files if f not in set(touched)]
        stats = {f: s for f, s in snap.stats.items() if f in set(untouched)}
        stats.update(self._stats_for(new_files, schema))
        return self._commit(
            operation=f"DELETE touched={len(touched)}/{len(snap.files)}",
            files=untouched + new_files,
            schema_json=snap.schema_json,
            stats=stats,
            base_version=snap.version,
        )

    def _delete_vector(
        self, snap: Snapshot, schema: StructType, cond, predicate: str
    ) -> Snapshot:
        if not snap.files:
            return self._commit(
                operation=f"DELETE (dv) matched=0/0 {predicate}",
                files=[],
                schema_json=snap.schema_json,
                stats={},
                base_version=snap.version,
            )
        live = self._to_logical(
            self._scan_physical(snap, keep_file_col="_file", keep_pos_col="_pos"),
            snap.renames,
        )
        per_file = (
            live.groupBy("_file")
            .agg(
                F.count(F.lit(1)).alias("live"),
                F.count(F.when(cond, 1)).alias("matched"),
            )
            .filter(F.col("matched") > 0)
            .collect()
        )
        by_base = {os.path.basename(self._resolve(f)): f for f in snap.files}
        n_matched = sum(r["matched"] for r in per_file)
        if n_matched > self.DV_MAX_POSITIONS:
            raise ValueError(
                f"DELETE mode='vector' matched {n_matched} rows "
                f"(> DV_MAX_POSITIONS={self.DV_MAX_POSITIONS}); use "
                "mode='rewrite' — a vector that size costs more than "
                "the rewrite it avoids"
            )
        dropped: list[str] = []  # every live row matched -> pure metadata
        rewrite: list[str] = []  # dense match -> copy-on-write
        vector: list[str] = []  # sparse match -> attach/merge DV
        for r in per_file:
            entry = by_base[r["_file"]]
            if r["matched"] == r["live"]:
                dropped.append(entry)
            elif r["matched"] * 2 > r["live"]:
                rewrite.append(entry)
            else:
                vector.append(entry)
        new_dvs = dict(snap.dvs)
        if vector:
            vec_set = {os.path.basename(self._resolve(f)) for f in vector}
            pos_rows = (
                live.filter(cond)
                .filter(F.col("_file").isin(list(vec_set)))
                .select("_file", "_pos")
                .collect()
            )
            by_file: dict[str, list[int]] = {}
            for r in pos_rows:
                by_file.setdefault(r["_file"], []).append(r["_pos"])
            for base, positions in by_file.items():
                entry = by_base[base]
                new_ranges = self._positions_to_ranges(positions)
                if entry in new_dvs:
                    new_ranges = self._merge_ranges(
                        self._read_dv(new_dvs[entry]), new_ranges
                    )
                new_dvs[entry] = self._write_dv(new_ranges, snap.version + 1)
        new_files: list[str] = []
        if rewrite:
            touched_df = self._to_logical(
                self._scan_physical(snap, rewrite), snap.renames
            )
            keep = self._to_physical(
                touched_df.filter(~cond | cond.isNull()), snap.renames
            ).coalesce(max(1, len(rewrite)))
            new_files = self._write_nonempty(keep, snap.version + 1)
        gone = set(dropped) | set(rewrite)
        kept = [f for f in snap.files if f not in gone]
        stats = {f: s for f, s in snap.stats.items() if f not in gone}
        stats.update(self._stats_for(new_files, schema))
        new_dvs = {f: r for f, r in new_dvs.items() if f not in gone}
        return self._commit(
            operation=(
                f"DELETE (dv) matched={n_matched} vectored={len(vector)} "
                f"rewritten={len(rewrite)} dropped={len(dropped)}"
                f"/{len(snap.files)}"
            ),
            files=kept + new_files,
            schema_json=snap.schema_json,
            stats=stats,
            base_version=snap.version,
            dvs=new_dvs,
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
        incremental strategy): ONE atomic commit that (a) rewrites
        only the current files containing predicate-matching rows,
        keeping their non-matching remainder, and (b) adds the
        incoming batch. Readers see either the old partition or the
        new one, never a mix and never a gap — the delete and the
        insert share a commit, which is the property an incremental
        model needs for idempotent backfills.

        Mirrors Delta's guard: every incoming row must itself
        satisfy the predicate (a batch that leaks outside its
        partition is rejected BEFORE any file is written)."""
        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap.schema_json))
        cond = F.expr(predicate)  # LOGICAL column names

        df = self._apply_generated(df, snap)
        self._enforce(df, snap.constraints)
        if df.filter(~cond | cond.isNull()).limit(1).count() > 0:
            raise ValueError(
                f"replace_where batch contains rows violating {predicate!r}"
            )

        touched: list[str] = []
        if snap.files:
            all_df = self._to_logical(
                self._scan_physical(snap, keep_file_col="_file"), snap.renames
            )
            rows = all_df.filter(cond).select("_file").distinct().collect()
            by_base = {os.path.basename(self._resolve(f)): f for f in snap.files}
            touched = [by_base[r["_file"]] for r in rows]
        rewritten: list[str] = []
        if touched:
            touched_df = self._to_logical(
                self._scan_physical(snap, touched), snap.renames
            )
            keep = self._to_physical(
                touched_df.filter(~cond | cond.isNull()), snap.renames
            ).coalesce(max(1, len(touched)))
            rewritten = self._write_nonempty(keep, snap.version + 1)
        new_files = self._write_data_files(
            self._to_physical(df, snap.renames), snap.version + 1
        )
        untouched = [f for f in snap.files if f not in set(touched)]
        stats = {f: s for f, s in snap.stats.items() if f in set(untouched)}
        stats.update(self._stats_for(rewritten + new_files, schema))
        return self._commit(
            operation=(
                f"REPLACE WHERE {predicate} "
                f"touched={len(touched)}/{len(snap.files)}"
            ),
            files=untouched + rewritten + new_files,
            schema_json=snap.schema_json,
            stats=stats,
            base_version=snap.version,
            txn=txn,
        )

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
        # vectors ride along by absolute reference, like the data
        # files they annotate — immutable, so sharing is safe; a
        # clone-side rewrite consumes its (absolute) vector entry
        # without touching the source's sidecar
        dvs = {self._resolve(f): self._resolve_dv(r) for f, r in snap.dvs.items()}
        dest._commit(
            operation=f"CLONE {self.path}@v{snap.version}",
            files=abs_files,
            schema_json=snap.schema_json,
            stats=stats,
            base_version=None,
            constraints=snap.constraints,
            renames=snap.renames,
            generated=snap.generated,
            dvs=dvs,
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
        missing = [
            f
            for f in target.files
            if not os.path.exists(self._resolve(f))
        ] + [
            r
            for r in target.dvs.values()
            if not os.path.exists(self._resolve_dv(r))
        ]
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
            constraints=dict(target.constraints),
            renames=dict(target.renames),
            generated=dict(target.generated),
            dvs=dict(target.dvs),
        )

    def maybe_optimize(
        self,
        *,
        max_files: int = 64,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: Sequence[str] | None = None,
    ) -> Snapshot | None:
        """Compact ONLY when the current snapshot's file count exceeds
        ``max_files`` — the maintenance hook a streaming sink calls
        after each commit so incremental writers (one small file per
        batch per touched set) can run forever without manifest/task
        explosion. Returns the OPTIMIZE snapshot when compaction ran,
        else None; the check is one metadata read, no data I/O."""
        if len(self.snapshot().files) <= max_files:
            return None
        return self.optimize(
            target_file_bytes=target_file_bytes, zorder_by=zorder_by
        )

    def optimize(
        self,
        *,
        target_file_bytes: int = 128 << 20,
        zorder_by: Sequence[str] | None = None,
        max_retries: int = 3,
    ) -> Snapshot:
        """Transactional compaction (the lakehouse ``OPTIMIZE``):
        rewrite the current snapshot at ~``target_file_bytes`` per
        file — optionally z-ordered so every listed column's manifest
        bounds tighten — and commit the swap atomically. Readers of
        the old snapshot are untouched; streaming writers that lose
        the version race simply rebase (their merge retries).

        If OPTIMIZE itself loses the race (a merge committed between
        its snapshot read and its commit), committing the stale
        rewrite would resurrect pre-merge rows — so it REBASES: the
        whole compaction re-reads the new snapshot and re-runs, up to
        ``max_retries`` times, then propagates :class:`CommitConflict`
        (abort, never silent data loss). Raced by
        test_acid.py::test_optimize_concurrent_with_merge.

        Incremental writers leave one small file per touched-set per
        commit; at 100 TB that's manifest pressure and a task per
        tiny file. OPTIMIZE is the periodic counterweight: one
        commit, same rows, bounded file count, better clustering.
        """
        # total attempts == max_retries: the first max_retries - 1
        # swallow CommitConflict and rebase, the final one propagates
        # (ADVICE r4: the old loop ran max_retries + 1 attempts)
        for _ in range(max_retries - 1):
            try:
                return self._optimize_once(
                    target_file_bytes=target_file_bytes, zorder_by=zorder_by
                )
            except CommitConflict:
                continue
        return self._optimize_once(
            target_file_bytes=target_file_bytes, zorder_by=zorder_by
        )

    def _optimize_once(
        self,
        *,
        target_file_bytes: int,
        zorder_by: Sequence[str] | None,
    ) -> Snapshot:
        import math

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
            files=new_files,
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

        def scan(snap_side, files):
            return self._scan_physical(snap_side, sorted(files), schema)

        # a deletion-vector attach changes NO file set — the file is
        # "changed" when its vector differs between the snapshots, and
        # both sides scan it under their OWN vector so the full-row
        # cancel surfaces exactly the newly-vectored rows as deletes
        dv_changed = {
            f
            for f in set(old.files) & set(new.files)
            if old.dvs.get(f) != new.dvs.get(f)
        }
        removed = scan(old, (set(old.files) - set(new.files)) | dv_changed)
        added = scan(new, (set(new.files) - set(old.files)) | dv_changed)
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
        # deletion vectors referenced by no retained snapshot are
        # orphans (superseded merges, consumed-by-rewrite sidecars)
        live_dvs = {r for s in retained for r in s.dvs.values()}
        for f in os.listdir(self._dvdir) if os.path.isdir(self._dvdir) else []:
            if f.endswith(".dv.json") and f not in live_dvs:
                os.unlink(os.path.join(self._dvdir, f))
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
