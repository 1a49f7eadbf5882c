"""ACID table layer — versioned-Parquet tables with a JSON commit log.

The reference delegates its table format to Iceberg/Paimon (SURVEY §1.1);
this module rebuilds the same *user-visible* services Spark-first, with a
tiny Delta-style commit log instead of a native runtime jar (SURVEY §7.1
fallback design):

- snapshot-versioned writes: every mutation is one atomic commit
  (``Iceberg - Getting Started.ipynb:77`` saveAsTable → snapshot);
- copy-on-write row-level DML: UPDATE (``:204``), DELETE WHERE (``:247``),
  MERGE/changelog upsert (``IcebergStream.java:116-120``,
  ``PaimonStream.java:90-91``);
- time travel + rollback (``:424``), metadata tables
  (``:346,367,390``, ``WAP...ipynb:508``);
- branches / Write-Audit-Publish (``WAP...ipynb:166,195,544``);
- maintenance: compaction + snapshot expiry
  (``Table Maintenance...ipynb:119,157``);
- schema evolution by field-id, not name (``Getting Started.ipynb:123-183``).

Scale design (100 TB): the commit log holds *metadata only* — file paths,
row counts, per-column min/max — so log operations are O(files) driver-side
metadata work, exactly like Delta/Iceberg manifests. All row data flows
executor-side through ordinary Spark parquet scans/writes: reads prune to
the logged file list (no storage listing), copy-on-write DML rewrites only
the files that actually contain matching rows (discovered with the
``_metadata.file_path`` hidden column — a distributed scan, never a driver
loop), and MERGE joins source→target with Catalyst picking broadcast vs
shuffle. Per-file stats are read from parquet footers at commit time
(footer-only reads; on a real cluster the writer tasks would report these
back, same contract).

Concurrency: commits are atomic via exclusive-create of the next numbered
log file (optimistic concurrency, Delta-style). A losing writer gets
``CommitConflictError`` and may re-resolve + retry.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import time
import uuid
import warnings
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeshed.session import session_with

_LOG_DIR = "_lakeshed_log"
_REFS = "_refs.json"
# persistent max-allocated-version hint (no .json suffix: _versions()'s
# [0-9]*.json glob and the expiry debris sweep must both ignore it)
_HEAD_HINT = "_head_hint"
_FLOCK_WARNED = False  # one-time per-process flock-degradation warning
MAIN = "main"


def _flock_or_degrade(lf, log_dir: str, what: str, consequence: str) -> None:
    """Take LOCK_EX on ``lf`` or degrade LOUDLY — the ONE acquire-or-
    degrade policy for every advisory-lock RMW site (refs CAS, head-hint
    update; r11 wave 10 deduplicated two verbatim copies that were one
    edit away from divergent contracts). Non-POSIX, or a filesystem
    without flock(2) support (ENOLCK/EOPNOTSUPP on some NFS/SMB/overlay
    mounts): the caller's write stays an atomic swap, but the RMW mutual
    exclusion is VOIDED — so fail hard when the operator opted in via
    LAKESHED_REQUIRE_FLOCK=1, else warn once per process."""
    try:
        import fcntl
        fcntl.flock(lf, fcntl.LOCK_EX)
    except (ImportError, OSError) as e:
        if os.environ.get("LAKESHED_REQUIRE_FLOCK", "") == "1":
            raise TableError(
                f"{what} lock unavailable on {log_dir} ({e!r}) and "
                f"LAKESHED_REQUIRE_FLOCK=1 — {consequence}") from e
        global _FLOCK_WARNED
        if not _FLOCK_WARNED:
            _FLOCK_WARNED = True
            warnings.warn(
                f"{what} lock unavailable on {log_dir} ({e!r}): "
                f"concurrent {what} mutations are NOT serialized on "
                "this filesystem; set LAKESHED_REQUIRE_FLOCK=1 to "
                "fail hard instead", RuntimeWarning, stacklevel=4)


class TableError(RuntimeError):
    pass


class ConstraintViolationError(TableError):
    """A write produced rows that fail a CHECK constraint; the commit was
    aborted and the written files removed — the table is unchanged."""


class CommitConflictError(TableError):
    """Another writer committed the same version first — re-resolve and retry."""


class PropertyExistsError(TableError):
    """An ``append(extra_properties=..., require_new_properties=True)``
    found one of its keys already present in the snapshot it pinned —
    the caller's marker (e.g. an ingestion-ledger batch id) was
    committed by someone else. Typed apart from CommitConflictError:
    a conflict means *retry*, this means *the work is already done*."""


class CorruptCommitError(TableError):
    """A commit or checkpoint file exists but cannot be parsed — damage,
    not absence. Typed apart from the missing-snapshot TableError so walks
    that silently END at a missing commit (read paths degrading to
    end-of-history) can still fail LOUDLY on corruption."""


_UNSET_REF = object()  # sentinel: "CAS against _commit's own refs read"


class BranchExistsError(TableError):
    """create_branch lost a create race (or the name is simply taken).
    Typed so callers can retry/land-on-existing WITHOUT re-probing
    mutable ref state — a message-text or re-read discrimination is
    itself racy against a concurrent drop."""


# --------------------------------------------------------------------------
# schema with field ids (Iceberg-style identity for rename/retype/reorder)
# --------------------------------------------------------------------------


@dataclass
class Field:
    id: int
    name: str
    type: str  # Spark simpleString, e.g. "bigint", "double", "array<string>"
    nullable: bool = True
    comment: str | None = None

    def to_json(self) -> dict[str, Any]:
        return {
            "id": self.id,
            "name": self.name,
            "type": self.type,
            "nullable": self.nullable,
            "comment": self.comment,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Field":
        return Field(d["id"], d["name"], d["type"], d.get("nullable", True),
                     d.get("comment"))


def _schema_from_df(df: DataFrame, start_id: int = 1) -> list[Field]:
    return [
        Field(start_id + i, f.name, f.dataType.simpleString(), f.nullable)
        for i, f in enumerate(df.schema.fields)
    ]


def _one_partition(df: DataFrame) -> bool:
    """Does ``df`` plan to a single partition? The count is taken only
    when the physical plan holds no exchange, no subquery and no cached
    relation: building such a plan's RDD runs no job, whereas an adaptive
    plan runs its shuffle stages when executed."""
    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if ("Exchange" in name or "Subquery" in name or "Adaptive" in name
                or "InMemory" in name or node.subqueries().nonEmpty()):
            return False
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return plan.execute().getNumPartitions() == 1


def _ddl(fields: list[Field]) -> str:
    return ", ".join(f"`{f.name}` {f.type}" for f in fields)


# Spark simpleString → DuckDB type names, for the no-JVM client read
# (LakeTable.to_arrow). Parameterized types (decimal(p,s)) pass through —
# the spelling is shared; arrays map recursively.
_DUCK_TYPES = {
    "string": "VARCHAR", "int": "INTEGER", "bigint": "BIGINT",
    "smallint": "SMALLINT", "tinyint": "TINYINT", "double": "DOUBLE",
    "float": "FLOAT", "boolean": "BOOLEAN", "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP", "date": "DATE", "binary": "BLOB",
}


def _duck_type(spark_type: str) -> str:
    t = spark_type.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return _duck_type(t[6:-1]) + "[]"
    return _DUCK_TYPES.get(t, spark_type.upper())


# --------------------------------------------------------------------------
# commit log records
# --------------------------------------------------------------------------


@dataclass
class AddFile:
    path: str            # relative to table root
    base: str            # write-group dir (basePath for partition discovery)
    rows: int
    bytes: int
    schema_version: int
    # column-name → stringified stat (the reference surfaces these through
    # the .files metadata table: Iceberg - Getting Started.ipynb:367)
    lower_bounds: dict[str, str] = field(default_factory=dict)
    upper_bounds: dict[str, str] = field(default_factory=dict)
    null_counts: dict[str, int] = field(default_factory=dict)
    # per-column COMPLETE distinct-value sets (opt-in via the
    # lakeshed.skipping.dict-columns table property, capped at
    # _MAX_DICT values) — exact equality skipping where min/max
    # bounds can only prune ranges
    dicts: dict[str, list[str]] = field(default_factory=dict)
    # per-column bloom filters (base64 bit arrays; opt-in via
    # lakeshed.skipping.bloom-columns) — equality skipping for
    # HIGH-cardinality string columns where a complete dict is too big
    blooms: dict[str, str] = field(default_factory=dict)

    def to_json(self) -> dict[str, Any]:
        return self.__dict__.copy()

    @staticmethod
    def from_json(d: dict[str, Any]) -> "AddFile":
        return AddFile(**d)


@dataclass
class Commit:
    version: int
    parent: int | None
    branch: str
    operation: str
    timestamp_ms: int
    schema_version: int
    schemas: dict[str, list[Field]]      # schema_version(str) → fields
    partition_spec: list[str]
    add: list[AddFile]
    remove: list[str]                    # relative paths
    properties: dict[str, str]
    summary: dict[str, Any]

    def to_json(self) -> dict[str, Any]:
        return {
            "version": self.version,
            "parent": self.parent,
            "branch": self.branch,
            "operation": self.operation,
            "timestamp_ms": self.timestamp_ms,
            "schema_version": self.schema_version,
            "schemas": {
                k: [f.to_json() for f in v] for k, v in self.schemas.items()
            },
            "partition_spec": self.partition_spec,
            "add": [a.to_json() for a in self.add],
            "remove": self.remove,
            "properties": self.properties,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Commit":
        return Commit(
            version=d["version"],
            parent=d["parent"],
            branch=d["branch"],
            operation=d["operation"],
            timestamp_ms=d["timestamp_ms"],
            schema_version=d["schema_version"],
            schemas={
                k: [Field.from_json(f) for f in v]
                for k, v in d["schemas"].items()
            },
            partition_spec=d["partition_spec"],
            add=[AddFile.from_json(a) for a in d["add"]],
            remove=d["remove"],
            properties=d["properties"],
            summary=d["summary"],
        )


# distinct sets larger than this are not recorded (the column is too
# high-cardinality for dictionary skipping to pay for its metadata)
_MAX_DICT = 64


def _min_max(st) -> tuple[Any, Any]:
    """A column chunk's min and max. pyarrow cannot convert the stats of
    a decimal stored as an int32/int64 (what Spark writes up to
    precision 18); those are scaled from the raw integers."""
    try:
        return st.min, st.max
    except NotImplementedError:
        from decimal import Decimal

        scale = json.loads(st.logical_type.to_json()).get("scale")
        if scale is None:
            raise
        return (Decimal(st.min_raw).scaleb(-scale),
                Decimal(st.max_raw).scaleb(-scale))


def _file_stats(abs_path: str, dict_cols: tuple = (),
                bloom_cols: tuple = (), bloom_bits: int = 8192,
                ) -> tuple[int, int, dict, dict, dict, dict, dict]:
    """Footer-only stats read (rows, bytes, lower/upper bounds, null counts).

    pyarrow reads just the parquet footer — cheap even for GB files. On a
    real cluster the write tasks would return these in their commit message;
    the log contract is identical.

    ``dict_cols`` (the ``lakeshed.skipping.dict-columns`` property) adds a
    columnar read of JUST those columns to record each file's complete
    distinct-value set when it is ≤ ``_MAX_DICT`` values — the
    low-cardinality data-skipping index (Iceberg value-counts / bloom
    analog): an equality predicate on a value absent from the set prunes
    the file even when its min/max straddle the value.
    """
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(abs_path)
    md = pf.metadata
    # merge across row groups in the NATIVE type — stringified ints order
    # lexicographically ('10' < '9') and would corrupt multi-row-group
    # bounds; stringify only once merged.
    # Completeness contract: a bound/count is recorded ONLY when EVERY row
    # group reports it. A partial sum (or partial min/max) would understate
    # nulls / narrow the range and let file_may_match prune a file that
    # does contain matching rows — violating "False ⇒ provably zero rows".
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    mm_incomplete: set[str] = set()
    nc_incomplete: set[str] = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None or not st.has_min_max:
                mm_incomplete.add(name)
            else:
                lo, hi = _min_max(st)
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi
            if st is None or st.null_count is None:
                nc_incomplete.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
    for name in mm_incomplete:
        mins.pop(name, None)
        maxs.pop(name, None)
    for name in nc_incomplete:
        nulls.pop(name, None)
    lower = {k: str(v) for k, v in mins.items()}
    upper = {k: str(v) for k, v in maxs.items()}
    dicts: dict[str, list[str]] = {}
    blooms: dict[str, str] = {}
    names = {md.row_group(0).column(ci).path_in_schema
             for ci in range(md.num_columns)} if md.num_row_groups else set()
    want = [c for c in dict_cols if c in names]
    # blooms are STRING-columns-only by contract (see pruning.py): hash
    # equality has no conservative "maybe" for coerced numerics/temporals
    bwant = []
    if bloom_cols:  # schema comes from the already-open handle — no
        import pyarrow as pa  # second footer read on the default path

        schema = pf.schema_arrow
        # a column listed in BOTH properties still gets its bloom
        # considered: if its distinct count exceeds _MAX_DICT the dict is
        # dropped, and excluding it here would leave the high-cardinality
        # column — exactly the case blooms exist for — with neither index.
        # The bloom is skipped below only when a dict WAS emitted (a dict
        # is exact, so the bloom would add nothing).
        bwant = [
            c for c in bloom_cols
            if c in names and pa.types.is_string(schema.field(c).type)
        ]
    if (want or bwant) and md.num_rows:
        tbl = pq.read_table(
            abs_path, columns=sorted({*want, *bwant})
        )
        for c in want:
            uniq = tbl.column(c).unique().to_pylist()
            vals = sorted(str(v) for v in uniq if v is not None)
            if 0 < len(vals) <= _MAX_DICT:
                dicts[c] = vals
        from lakeshed.pruning import bloom_encode

        for c in bwant:
            if c in dicts:
                continue
            uniq = [v for v in tbl.column(c).unique().to_pylist()
                    if v is not None]
            if uniq:
                blooms[c] = bloom_encode(uniq, bloom_bits)
    return (md.num_rows, os.path.getsize(abs_path), lower, upper, nulls,
            dicts, blooms)


class LakeTable:
    """One versioned table rooted at ``path``.

    All mutations go through ``_commit`` (exclusive-create of the next log
    file = the atomic snapshot swap of SURVEY §3.2 step 4).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, _LOG_DIR)

    # ---------------------------------------------------------------- log IO

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir) and bool(
            glob.glob(os.path.join(self.log_dir, "[0-9]*.json"))
        )

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.json")

    @staticmethod
    def _now_ms() -> int:
        """Wall clock in epoch ms — THE seam every time-driven decision
        reads (commit stamping, expiry cutoffs/in-flight grace/debris
        sweep, orphan-file sweep), so the lineage model test can inject
        a deterministic clock and drive older_than_ms / grace-window
        paths that real time cannot reach at test timescales."""
        return int(time.time() * 1000)

    def _read_commit(self, version: int) -> Commit:
        try:
            with open(self._commit_path(version)) as fh:
                return Commit.from_json(json.load(fh))
        except FileNotFoundError:
            raise TableError(
                f"no snapshot {version} for table {self.path}"
            ) from None
        except (json.JSONDecodeError, KeyError, TypeError, ValueError,
                AttributeError) as e:
            # corruption surfaces TYPED at the source (r10 review wave
            # 6): _lineage wrapped these for ITS callers, but read()/
            # _state reach here directly and leaked raw json errors,
            # breaking the documented catch-TableError contract.
            # CorruptCommitError, not bare TableError: walks that
            # silently end at a MISSING commit must still raise on
            # damage (_lineage's contract).
            raise CorruptCommitError(
                f"corrupt commit file {version} under {self.log_dir}"
            ) from e

    def _versions(self) -> list[int]:
        # NB: exclude checkpoint files — "00000020.checkpoint.json" would
        # otherwise double-count version 20
        return sorted(
            int(os.path.basename(p).split(".")[0])
            for p in glob.glob(os.path.join(self.log_dir, "[0-9]*.json"))
            if os.path.basename(p).count(".") == 1
        )

    def _read_head_hint(self) -> int | None:
        """Highest version ever ALLOCATED, from the persistent hint file
        — the O(1) replacement for the per-commit directory listing that
        version allocation used to pay (r10 VERDICT #5: commit latency
        slope 0.89, the last near-linear curve in SCALING.md). Absent or
        unreadable → None (legacy table: the caller seeds it once from a
        full listing)."""
        try:
            with open(os.path.join(self.log_dir, _HEAD_HINT)) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def _write_head_hint(self, version: int) -> None:
        """Best-effort monotonic hint update (atomic replace). Racing
        writers can leave it a step low and a crashed writer a step
        high — the allocation probe in _commit absorbs both; losing the
        write entirely (read-only fs hiccup) only means the next commit
        falls back to the directory listing. Never moves an existing
        hint DOWN: the read-check-replace runs under an advisory lock
        (r11 wave 8 — the unlocked check was a TOCTOU: a writer stalled
        between read and replace could regress the hint by MORE than
        the one step the allocation floor covers, and expiry could then
        free the skipped slots for silent version-id reuse under
        surviving VERSION AS OF references). On a filesystem without
        flock(2) the lock degrades to the old best-effort check — the
        same degradation _mutate_refs already warns about once."""
        lf = None
        try:
            try:
                lf = open(
                    os.path.join(self.log_dir, f".{_HEAD_HINT}.lock"),
                    "a+")
                _flock_or_degrade(
                    lf, self.log_dir, "head-hint",
                    "an unserialized hint update could regress the "
                    "allocation head")
            except OSError as e:
                # the lock FILE itself could not be opened (read-only
                # fs): same degradation contract as a failed flock —
                # the REQUIRE_FLOCK raise below fires pre-publish, so
                # the statement fails and the commit file is debris
                # the sweep removes (r11 wave 9)
                if os.environ.get("LAKESHED_REQUIRE_FLOCK", "") == "1":
                    raise TableError(
                        f"head-hint lock unavailable on {self.log_dir} "
                        f"({e!r}) and LAKESHED_REQUIRE_FLOCK=1") from e
            cur = self._read_head_hint()
            if cur is not None and cur >= version:
                return
            tmp = os.path.join(
                self.log_dir, f".{_HEAD_HINT}.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as fh:
                fh.write(str(version))
            os.replace(tmp, os.path.join(self.log_dir, _HEAD_HINT))
        except OSError:
            pass
        finally:
            if lf is not None:
                lf.close()  # releases the flock

    def _refs(self) -> dict[str, int]:
        p = os.path.join(self.log_dir, _REFS)
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _write_refs(self, refs: dict[str, int]) -> None:
        tmp = os.path.join(self.log_dir, f".{_REFS}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(refs, fh)
        os.replace(tmp, os.path.join(self.log_dir, _REFS))  # atomic swap

    def _mutate_refs(self, fn) -> dict[str, int]:
        """Read-modify-write the refs file under an advisory file lock,
        so two PROCESSES mutating refs concurrently (a main commit racing
        a branch commit, CREATE BRANCH racing a publish) can't clobber
        each other's update — same-branch commit races are already caught
        by the exclusive-create + sibling guard in ``_commit``, but a
        lock-free RMW here would let a cross-branch writer resurrect a
        stale snapshot of someone else's ref. ``fn(refs)`` mutates in
        place; may raise to abort (nothing written). On an object store
        this maps to the catalog's compare-and-swap on the refs object."""
        if not os.path.isdir(self.log_dir):
            # do NOT fabricate a log dir as a side effect — a ref
            # mutation on a table that was never committed is an error,
            # not an implicit create (_commit makedirs for itself first)
            raise TableError(f"no table log at {self.log_dir}")
        lf = open(os.path.join(self.log_dir, ".refs.lock"), "a+")
        try:
            _flock_or_degrade(
                lf, self.log_dir, "refs",
                "concurrent ref mutations would not be serialized on "
                "this filesystem")
            refs = self._refs()
            fn(refs)
            self._write_refs(refs)
            return refs
        finally:
            lf.close()  # releases the flock

    def head(self, branch: str = MAIN) -> int:
        refs = self._refs()
        if branch not in refs:
            raise TableError(f"unknown branch {branch!r} for table {self.path}")
        return refs[branch]

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.checkpoint.json")

    def _chain(self, version: int,
               stop: frozenset[int] = frozenset()) -> list[Commit]:
        """Commit chain root→version — a driver-side metadata walk that
        stops early at the newest checkpoint (Delta-style): a checkpoint
        file holds the FULL live file set at its version, so state
        reconstruction is O(commits since checkpoint), not O(all commits).
        At 100 TB with millions of commits this is the difference between
        milliseconds and minutes of driver time per read. ``stop``
        (versions whose state the caller already holds — _state's memo)
        ends the walk WITHOUT reading the stopped version."""
        out: list[Commit] = []
        v: int | None = version
        while v is not None and v not in stop:
            snap = self._read_checkpoint(v)
            if snap is not None:
                out.append(snap)
                break
            c = self._read_commit(v)
            out.append(c)
            v = c.parent
        return list(reversed(out))

    def _read_checkpoint(self, version: int) -> Commit | None:
        """The checkpoint at ``version``, or None when there is none —
        also when a concurrent expire GC'd it between the listing and
        the open: a checkpoint is pure acceleration. Corruption raises
        the TYPED error the read path's contract promises (matching
        _lineage), never a raw json error."""
        try:
            with open(self._checkpoint_path(version)) as fh:
                return Commit.from_json(json.load(fh))
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, KeyError, TypeError, ValueError,
                AttributeError) as e:
            raise CorruptCommitError(
                f"corrupt checkpoint file for {version} under "
                f"{self.log_dir}"
            ) from e

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the full live state at ``version`` next to its
        commit (the commit file itself is untouched — history, rollback and
        time travel still work; the checkpoint is pure acceleration)."""
        c, live = self._state(version)
        snap = Commit(
            version=c.version, parent=None, branch=c.branch,
            operation=c.operation, timestamp_ms=c.timestamp_ms,
            schema_version=c.schema_version, schemas=c.schemas,
            partition_spec=c.partition_spec, add=live, remove=[],
            properties=c.properties,
            summary={**c.summary, "checkpoint": True},
        )
        tmp = self._checkpoint_path(version) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(snap.to_json(), fh)
        os.replace(tmp, self._checkpoint_path(version))

    def _state(
        self, version: int,
        _memo: dict[int, tuple["Commit", dict[str, AddFile]]] | None = None,
    ) -> tuple[Commit, list[AddFile]]:
        """Live file set at ``version``: replay add/remove along the chain.

        ``_memo`` (version → (commit, live-dict)) makes replay
        incremental across calls that walk overlapping chains: the walk
        stops at the nearest memoized ancestor and seeds from its live
        set, then records this version. expire_snapshots' referenced-file
        sweep uses it so a long history with many survivors costs
        O(total commits) JSON reads, not O(survivors × chain length)
        (r10 ADVICE). Live dicts in the memo share AddFile objects —
        memory is dict-entry overhead per (version, file), metadata
        scale."""
        if _memo is not None and version in _memo:
            c, live = _memo[version]
            return c, list(live.values())
        stop = frozenset(_memo) if _memo else frozenset()
        chain = self._chain(version, stop=stop)
        seed = chain[0].parent if chain else None
        if _memo is not None and seed is not None and seed in _memo:
            live = dict(_memo[seed][1])
        else:
            live = {}
        for c in chain:
            for rm in c.remove:
                live.pop(rm, None)
            for a in c.add:
                live[a.path] = a
        if _memo is not None:
            _memo[version] = (chain[-1], live)
            # bound driver memory to O(cap × live files): an unbounded
            # memo over a many-survivor sweep is O(survivors × live)
            # (r11 review — GB-scale on a 17k-commit streaming day).
            # Callers iterate ascending, so the lowest version is the
            # least likely future seed; a miss just replays from the
            # nearest checkpoint (≤20 commits) like the pre-memo code.
            if len(_memo) > 32:
                _memo.pop(min(_memo))
        return chain[-1], list(live.values())

    # ------------------------------------------------------------- commit op

    def _ancestor_hop(self, c: Commit) -> int | None:
        """Next hop for LINEAGE walks. A commit squashed by
        expire_snapshots was rewritten as a full-state root
        (parent=None) — state replay correctly stops there, but its
        ancestry does not: hop to the nearest RETAINED ancestor recorded
        at squash time, so fast_forward's ancestor check and the sibling
        guard's reachability survive expiry instead of misreading the
        squash as divergence."""
        if c.parent is not None:
            return c.parent
        skp = c.summary.get("squashed-kept-parent")
        return int(skp) if skp is not None else None

    def _lineage(self, version: int | None, *, strict: bool = False):
        """Yield Commits walking lineage from ``version`` (inclusive,
        newest first): parent pointers with squash-aware hops
        (:meth:`_ancestor_hop`). THE single walker behind _is_ancestor,
        the sibling guard, history, snapshot_as_of and expiry — one
        place for the guards:

        - a MISSING commit (dangling pointer — expired by older code)
          ends the walk so read paths degrade to end-of-history; with
          ``strict=True`` (walks that feed DELETION decisions) it raises
          instead, because a truncated keep set must fail closed;
        - a CORRUPT file or a non-decreasing hop target always raises a
          TYPED TableError — reporting "no snapshot at timestamp" on a
          corrupt log would misdiagnose the damage, and without the
          monotonicity bound a self-/cycle-pointing hop spins forever.
        """
        w = version
        while w is not None:
            try:
                c = self._read_commit(w)
            except CorruptCommitError:
                raise  # damage always surfaces, even non-strict
            except TableError:
                # missing commit (torn JSON and shape damage arrive as
                # CorruptCommitError from _read_commit since r10)
                if strict:
                    raise
                return
            yield c
            try:
                nxt = self._ancestor_hop(c)
            except (TypeError, ValueError) as e:  # non-int skp
                raise TableError(
                    f"corrupt lineage pointer at {c.version} "
                    f"under {self.log_dir}"
                ) from e
            if nxt is not None and nxt >= c.version:
                raise TableError(
                    f"corrupt lineage pointer {c.version} -> {nxt} "
                    f"under {self.log_dir}"
                )
            w = nxt

    def _is_ancestor(self, ancestor: int | None, descendant: int) -> bool:
        """True iff ``ancestor`` is on ``descendant``'s lineage
        (squash-aware; relies on version monotonicity — parents are
        always lower version numbers). ``ancestor=None`` (no ref yet) is
        vacuously true; a MISSING commit ends the walk as
        not-an-ancestor (fail closed); a CORRUPT commit raises the typed
        TableError from :meth:`_lineage` — callers see the damage, not a
        silent False."""
        if ancestor is None:
            return True
        for c in self._lineage(descendant):
            if c.version == ancestor:
                return True
            if c.version < ancestor:
                return False
        return False

    @staticmethod
    def _pinned(head: int) -> dict:
        """Commit kwargs pinning a read-modify-write statement to the
        snapshot it READ: ``parent=head`` makes the sibling guard catch a
        same-branch winner, ``expected_ref=head`` makes the ref update a
        CAS against where the statement resolved it (vs a concurrent
        publish/drop). Passing one without the other reopens the
        lost-update windows waves 7-8 closed — always use this helper."""
        return {"parent": head, "expected_ref": head}

    def _commit(
        self,
        operation: str,
        add: list[AddFile],
        remove: list[str],
        *,
        branch: str = MAIN,
        parent: int | None = None,
        schema_version: int | None = None,
        schemas: dict[str, list[Field]] | None = None,
        partition_spec: list[str] | None = None,
        properties: dict[str, str] | None = None,
        summary: dict[str, Any] | None = None,
        update_ref: bool = True,
        expected_ref: Any = _UNSET_REF,
    ) -> Commit:
        os.makedirs(self.log_dir, exist_ok=True)
        refs = self._refs()
        # expected_ref = where the STATEMENT resolved the ref (pinned
        # ops pass their read snapshot; the wap chain passes its chain
        # head or None for the first stage). Unpinned callers CAS
        # against this commit's own refs read — still closes the window
        # between here and the ref update.
        if expected_ref is _UNSET_REF:
            expected_ref = refs.get(branch)
        if parent is None:
            parent = refs.get(branch)
            if parent is None and branch != MAIN:
                # a non-main branch whose ref vanished mid-statement (a
                # concurrent writer's failed pinned statement rolled its
                # auto-created branch back) must NOT fall through to a
                # ROOT commit — that would silently seed the branch with
                # schema_version 0 / empty schemas and corrupt later
                # reads. Surface a typed conflict instead; only table
                # creation legitimately commits without a parent, and it
                # passes parent=None with branch=MAIN.
                raise TableError(
                    f"branch {branch!r} has no ref on table "
                    f"{self.path} (dropped concurrently?); re-create "
                    "it or retry the statement"
                )
        if parent is not None:
            prev = self._read_commit(parent)
            schema_version = (
                prev.schema_version if schema_version is None else schema_version
            )
            schemas = prev.schemas if schemas is None else schemas
            partition_spec = (
                prev.partition_spec if partition_spec is None else partition_spec
            )
            properties = prev.properties if properties is None else properties
        # O(1) version allocation (r10 VERDICT #5): the persistent hint
        # tracks the highest version ever allocated, so commits stop
        # listing the log directory (slope-0.89 commit latency in
        # SCALING.md — ~17k-entry readdirs per commit by day's end at a
        # 5 s trigger). Gaps in version numbers were already legal
        # (expiry leaves them), so a burned slot from an aborted commit
        # costs nothing.
        hint = self._read_head_hint()
        if hint is None:
            versions = self._versions()  # legacy/new table: seed once
            version = (versions[-1] + 1) if versions else 0
        else:
            version = hint + 1
        # floor at parent+1 AND above every live ref: a STALE-LOW hint
        # (a swallowed _write_head_hint OSError, or a writer on pre-hint
        # code) combined with expiry gaps would otherwise (a) allocate a
        # version LOWER than its parent — a published child-below-parent
        # trips _lineage's monotonicity guard on every later read,
        # bricking the table — or (b) REUSE an expired mid-gap version
        # number below another branch's live head, silently splicing an
        # unrelated commit under surviving by-value references (VERSION
        # AS OF, history tooling) to the old id (r11 review waves 4-5).
        # The probe loop only absorbs staleness while the intervening
        # slots still exist on disk; expiry frees them.
        floor = max(
            # the entry-time refs read: same pre-create staleness window
            # as expected_ref resolution, and a ref that moves UP after
            # it only raises the true floor — the probe + CAS cover that
            [parent if parent is not None else -1]
            + list(refs.values())
        )
        if version <= floor:
            version = floor + 1
        common = dict(
            parent=parent,
            branch=branch,
            operation=operation,
            timestamp_ms=self._now_ms(),
            schema_version=schema_version or 0,
            schemas=schemas or {},
            partition_spec=partition_spec or [],
            add=add,
            remove=remove,
            properties=properties or {},
            summary={
                "added-files": len(add),
                "removed-files": len(remove),
                "added-records": sum(a.rows for a in add),
                **(summary or {}),
            },
        )
        while True:
            commit = Commit(version=version, **common)
            try:
                # exclusive create = the atomic commit
                with open(self._commit_path(version), "x") as fh:
                    json.dump(commit.to_json(), fh)
                break
            except FileExistsError:
                # stale hint or a same-slot race: probe upward. This
                # turns a version-number collision into a SIBLING at a
                # higher number, which the reachable-walk guard below
                # resolves exactly like the old surfaced-conflict-and-
                # retry round trip — minus the round trip.
                version += 1
        self._write_head_hint(version)
        # lost-update guard: another writer may have committed a SIBLING
        # (same branch, same parent) under a lower version number between
        # our head resolution and our exclusive create — publishing ours
        # would silently discard theirs. Only a sibling REACHABLE from
        # the current ref head "won" (a same-parent commit orphaned by
        # rollback_to_snapshot is abandoned history awaiting expiration
        # — Iceberg semantics — not a concurrent winner), so walk the
        # ref lineage down to the shared parent directly: O(ref head −
        # parent) commit reads — zero on the linear fast path, where the
        # walk's first yield IS the parent — instead of the old guard's
        # full _versions() listing per commit (r10 VERDICT #5). An
        # unpublished lower sibling (file landed, ref CAS not yet run)
        # is invisible to this walk by design: whoever publishes first
        # wins at the ref CAS below, and the other writer's CAS fails
        # and retries — same outcome the old earlier-version-wins scan
        # produced, decided at the ref instead of the directory.
        winner: int | None = None
        # a FRESH refs read (not the entry-time snapshot): a sibling
        # published between our head resolution and our create must be
        # visible here. Fast path: the ref still IS our parent — the
        # walk's first yield would break immediately, so skip it and
        # its one commit read entirely (r11 wave 6).
        guard_head = self._refs().get(branch)
        if guard_head is not None and guard_head != parent:
            try:
                for wc in self._lineage(guard_head):
                    if parent is not None and wc.version <= parent:
                        break
                    if (wc.version < version and wc.branch == branch
                            and wc.parent == parent):
                        winner = wc.version
                        break
            except TableError:
                # corrupt lineage: fail the commit loudly, but don't
                # leave our just-written file behind
                os.remove(self._commit_path(version))
                raise
        if winner is not None:
            os.remove(self._commit_path(version))
            raise CommitConflictError(
                f"concurrent commit {winner} (branch {branch!r}, parent "
                f"{parent}) won the race; re-resolve and retry"
            )
        if update_ref:
            # CAS, not a blind set: the ref must still be where this
            # commit resolved it (expected_ref) — a concurrent
            # fast_forward publish or branch drop moves the ref WITHOUT
            # writing a same-branch commit, so the sibling guard above
            # cannot see it; an unconditional setitem would clobber the
            # publish (resurrecting pre-publish data) or silently
            # re-create the dropped branch.
            def _set_ref(r: dict[str, int]) -> None:
                if r.get(branch) != expected_ref:
                    raise CommitConflictError(
                        f"ref {branch!r} moved from {expected_ref} to "
                        f"{r.get(branch)} while this statement ran; "
                        "re-resolve and retry"
                    )
                r[branch] = version
            try:
                self._mutate_refs(_set_ref)
            except CommitConflictError:
                os.remove(self._commit_path(version))
                raise
        # periodic checkpoint (Delta writes one every 10 commits) keeps the
        # chain walk bounded without any user action
        if version > 0 and version % 20 == 0:
            self._write_checkpoint(version)
        return commit

    # ------------------------------------------------------------ data write

    _TRANSFORM = re.compile(
        r"^(years|months|days|hours)\((\w+)\)$|^bucket\((\d+),\s*(\w+)\)$"
    )
    _TIME_FORMATS = {"years": "yyyy", "months": "yyyy-MM",
                     "days": "yyyy-MM-dd", "hours": "yyyy-MM-dd-HH"}

    @classmethod
    def _transform(cls, entry: str) -> tuple[str, str, str, Any] | None:
        """A transform partition-spec entry as (dir column, its type,
        source column, date format or bucket count); None for an
        identity entry, which names a schema column."""
        m = cls._TRANSFORM.match(entry.replace(" ", ""))
        if not m:
            return None
        if m.group(1):  # time transform
            unit, src = m.group(1), m.group(2)
            return (f"{src}_{unit[:-1]}", "string", src,
                    cls._TIME_FORMATS[unit])
        return f"{m.group(4)}_bucket", "bigint", m.group(4), int(m.group(3))

    @classmethod
    def _spec_sources(cls, spec: list[str], identity: bool = False
                      ) -> set[str]:
        """Lower-cased source columns of ``spec``'s entries (of its
        identity entries only, with ``identity``). Lower-cased because
        Spark resolves them case-insensitively in :meth:`_apply_spec`."""
        return {(e if tr is None else tr[2]).lower() for e in spec
                if (tr := cls._transform(e)) is None or not identity}

    def _apply_spec(self, df: DataFrame, spec: list[str]
                    ) -> tuple[DataFrame, list[str]]:
        """Resolve a partition spec to concrete partition columns.

        Iceberg-style hidden partitioning (``PARTITIONED BY days(ts)``,
        PyIceberg...ipynb:75; ``bucket``/``hours`` Berlin
        Buzzwords.ipynb:279): transform entries materialize a derived
        column used only for directory layout — it is not part of the
        table schema, so reads project it away automatically, and
        predicates on the SOURCE column still prune via the per-file
        min/max the clustering tightens (SURVEY §4 hidden partitioning)."""
        cols: list[str] = []
        for entry in spec:
            tr = self._transform(entry)
            if tr is None:
                cols.append(entry)  # identity partition column
                continue
            name, _, src, arg = tr
            df = df.withColumn(name, (
                F.date_format(F.col(src), arg) if isinstance(arg, str)
                else F.pmod(F.xxhash64(F.col(src)), F.lit(arg))))
            cols.append(name)
        return df, cols

    def _dict_columns(self, properties: dict[str, str] | None = None
                      ) -> tuple[str, ...]:
        """Columns opted into dictionary data-skipping via the
        ``lakeshed.skipping.dict-columns`` table property (comma list)."""
        props = properties if properties is not None else (
            self.properties() if self.exists() else {}
        )
        raw = props.get("lakeshed.skipping.dict-columns", "")
        return tuple(c.strip() for c in raw.split(",") if c.strip())

    def _bloom_columns(self, properties: dict[str, str] | None = None
                       ) -> tuple[tuple[str, ...], int]:
        """(columns, bits): bloom-filter skipping opt-in via the
        ``lakeshed.skipping.bloom-columns`` property (comma list;
        string-typed columns only take effect) and
        ``lakeshed.skipping.bloom-bits`` (default 8192 ≈ 1 KiB/col/file,
        ~1%% FPR at ~1k distinct keys)."""
        props = properties if properties is not None else (
            self.properties() if self.exists() else {}
        )
        raw = props.get("lakeshed.skipping.bloom-columns", "")
        bits = int(props.get("lakeshed.skipping.bloom-bits", "8192"))
        return tuple(c.strip() for c in raw.split(",") if c.strip()), bits

    def _write_files(
        self, df: DataFrame, spec: list[str], schema_version: int,
        dict_cols: tuple | None = None,
        bloom_conf: tuple | None = None,
        distribution_mode: str | None = None,
        constraints: dict | None = None,
    ) -> list[AddFile]:
        wid = uuid.uuid4().hex[:12]
        base_rel = os.path.join("data", wid)
        base_abs = os.path.join(self.path, base_rel)
        df, part_cols = self._apply_spec(df, spec)
        # Iceberg's write.distribution-mode=hash (the partitioned-write
        # default): cluster rows by partition value BEFORE the write, so
        # each partition dir is written by the task(s) owning that value
        # instead of EVERY task writing EVERY dir — without this, a
        # 1000-task write into 500 partitions sprays 500 000 small files;
        # with it, file count tracks partition count. Opt out with
        # lakeshed.write.distribution-mode=none (e.g. to parallelize one
        # huge hot partition across tasks and let compaction merge later).
        if part_cols:
            mode = distribution_mode
            if mode is None:
                mode = (self.properties() if self.exists() else {}).get(
                    "lakeshed.write.distribution-mode", "hash"
                )
            if mode == "hash":
                df = df.repartition(*[F.col(c) for c in part_cols])
        # CHECK constraints ride the write itself via Observation — zero
        # extra scan of the incoming data; violations surface after the
        # write action and abort BEFORE the commit publishes (the files
        # are deleted, so atomicity holds: readers never saw them)
        cons = constraints if constraints is not None else self.constraints()
        obs = None
        if cons:
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(
                obs,
                *[
                    F.sum(
                        F.when(
                            ~F.coalesce(F.expr(e).cast("boolean"),
                                        F.lit(True)),
                            1,
                        ).otherwise(0)
                    ).alias(n)
                    for n, e in sorted(cons.items())
                ],
            )
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(base_abs)
        if obs is not None:
            violated = {
                n: int(c) for n, c in obs.get.items() if c
            }
            if violated:
                import shutil

                shutil.rmtree(base_abs, ignore_errors=True)
                detail = ", ".join(
                    f"{n} ({cons[n]}): {c} row(s)"
                    for n, c in sorted(violated.items())
                )
                raise ConstraintViolationError(
                    f"CHECK constraint violated — {detail}; write aborted,"
                    " table unchanged"
                )
        adds: list[AddFile] = []
        paths = sorted(
            glob.glob(os.path.join(base_abs, "**", "*.parquet"), recursive=True)
        )
        # footer reads are I/O-bound and GIL-free in pyarrow — a thread
        # pool keeps a many-file commit's stats pass off the critical path
        # (on a real cluster write tasks would report these instead).
        from concurrent.futures import ThreadPoolExecutor

        if dict_cols is None:
            dict_cols = self._dict_columns()
        bloom_cols, bloom_bits = (
            bloom_conf if bloom_conf is not None else self._bloom_columns()
        )
        with ThreadPoolExecutor(max_workers=min(16, max(len(paths), 1))) as ex:
            all_stats = list(
                ex.map(
                    lambda p: _file_stats(p, dict_cols, bloom_cols,
                                          bloom_bits),
                    paths,
                )
            )
        for abs_p, (rows, nbytes, lo, hi, nulls, dicts, blooms) in zip(
            paths, all_stats
        ):
            adds.append(
                AddFile(
                    path=os.path.relpath(abs_p, self.path),
                    base=base_rel,
                    rows=rows,
                    bytes=nbytes,
                    schema_version=schema_version,
                    lower_bounds=lo,
                    upper_bounds=hi,
                    null_counts=nulls,
                    dicts=dicts,
                    blooms=blooms,
                )
            )
        # zero-row parts (a delete that emptied a file, an all-D merge
        # batch) never enter the commit; the stray empty file is unreferenced
        # and harmless. Saves callers a pre-write emptiness pass.
        return [a for a in adds if a.rows > 0]

    # ----------------------------------------------------------------- DDL

    def create(
        self,
        df: DataFrame | None = None,
        *,
        schema: str | None = None,
        partition_by: Iterable[str] = (),
        properties: dict[str, str] | None = None,
        mode: str = "error",
    ) -> "LakeTable":
        """W1 — create-table-as-write (``df.write.saveAsTable``,
        Iceberg - Getting Started.ipynb:77) or empty typed table (D2,
        ``CREATE TABLE`` PyIceberg...ipynb:75)."""
        if self.exists():
            if mode == "ignore":
                return self
            if mode == "overwrite":
                shutil.rmtree(self.path)
            else:
                raise TableError(f"table already exists at {self.path}")
        if df is None:
            if not schema:
                raise TableError("create() needs a DataFrame or a DDL schema")
            df = self.spark.createDataFrame([], schema=schema)
        fields = _schema_from_df(df)
        spec = list(partition_by)
        adds = (
            self._write_files(
                df, spec, 0,
                dict_cols=self._dict_columns(properties or {}),
                bloom_conf=self._bloom_columns(properties or {}),
                distribution_mode=(properties or {}).get(
                    "lakeshed.write.distribution-mode"
                ),
                # constraints handed in as create-time properties bind
                # from row one — the initial load is a write like any
                # other (self.constraints() can't see them mid-create)
                constraints={
                    k[len(self._CONSTRAINT_PREFIX):]: v
                    for k, v in (properties or {}).items()
                    if k.startswith(self._CONSTRAINT_PREFIX)
                },
            )
            if df.isStreaming is False else []
        )
        self._commit(
            "create",
            adds,
            [],
            parent=None,
            schema_version=0,
            schemas={"0": fields},
            partition_spec=spec,
            properties=properties or {},
        )
        return self

    def drop(self) -> None:
        """D3 — DROP TABLE (Getting Started.ipynb:65)."""
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)

    def truncate(self) -> Commit:
        """D4 — TRUNCATE TABLE (PyIceberg...ipynb:108): remove all live files
        in one commit; history (and rollback) still see the old data."""
        head = self.head()
        _, live = self._state(head)
        # pinned: the remove set was computed at `head` — a concurrent
        # commit must conflict, not have its files silently removed
        return self._commit("truncate", [], [a.path for a in live],
                            **self._pinned(head))

    # --------------------------------------------------------------- schema

    def schema_fields(self, version: int | None = None) -> list[Field]:
        c = self._read_commit(self.head() if version is None else version)
        return c.schemas[str(c.schema_version)]

    def schema_ddl(self) -> str:
        return _ddl(self.schema_fields())

    @staticmethod
    def _next_field_id(schemas: dict[str, list[Field]]) -> int:
        """Next fresh field id — max over ALL schema versions + 1,
        Iceberg-style. Allocating from only the CURRENT version would
        reuse the id of a previously dropped column, and field-id
        projection would then read old files' dropped-column data as the
        new column instead of NULL — silent corruption after an
        add/drop/add (or drop/merge-evolve) sequence."""
        return max(f.id for fields in schemas.values() for f in fields) + 1

    def _evolve(self, operation: str, new_fields: list[Field],
                summary: dict[str, Any], rename: tuple[str, str] | None = None
                ) -> Commit:
        head = self.head()
        head_commit = self._read_commit(head)
        sv = head_commit.schema_version + 1
        schemas = dict(head_commit.schemas)
        schemas[str(sv)] = new_fields
        spec = None
        if rename is not None:
            # spec entries name their source column: the rename rewrites
            # them in the same commit, or every later write would
            # partition by a column the schema no longer has
            spec = [self._rename_source(e, *rename)
                    for e in head_commit.partition_spec]
        # pinned: sv and the schemas dict were derived from `head` — a
        # concurrent schema commit would otherwise be overwritten with
        # two commits claiming the same schema_version (field-id chaos)
        return self._commit(
            operation, [], [], schema_version=sv, schemas=schemas,
            partition_spec=spec, summary=summary, **self._pinned(head),
        )

    @classmethod
    def _rename_source(cls, entry: str, old: str, new: str) -> str:
        """Partition-spec ``entry`` with source column ``old`` named
        ``new``; other entries unchanged."""
        if old.lower() not in cls._spec_sources([entry]):
            return entry
        tr = cls._transform(entry)
        if tr is None:
            return new
        if isinstance(tr[3], int):
            return f"bucket({tr[3]}, {new})"
        unit = next(u for u, f in cls._TIME_FORMATS.items() if f == tr[3])
        return f"{unit}({new})"

    def rename_column(self, old: str, new: str) -> Commit:
        """D6 — metadata-only rename by field id (Getting Started.ipynb:123);
        existing data files are untouched and re-mapped at read time.
        Partition-spec entries on the column follow the rename."""
        fields = [
            Field(f.id, new if f.name == old else f.name, f.type, f.nullable,
                  f.comment)
            for f in self.schema_fields()
        ]
        if all(f.name != new for f in fields):
            raise TableError(f"no column {old!r}")
        return self._evolve("rename-column", fields,
                            {"rename": f"{old}->{new}"}, rename=(old, new))

    def alter_column(
        self, name: str, *, type: str | None = None,  # noqa: A002
        comment: str | None = None, after: str | None = None,
        first: bool = False,
    ) -> Commit:
        """D7 — widen type / comment / reposition (Getting Started.ipynb:147,
        159,171). Type changes are applied as casts at read for old files."""
        fields = [Field(f.id, f.name, f.type, f.nullable, f.comment)
                  for f in self.schema_fields()]
        target = next((f for f in fields if f.name == name), None)
        if target is None:
            raise TableError(f"no column {name!r}")
        if type is not None:
            target.type = type
        if comment is not None:
            target.comment = comment
        if after is not None or first:
            fields.remove(target)
            if first:
                fields.insert(0, target)
            else:
                idx = next(
                    (i for i, f in enumerate(fields) if f.name == after),
                    None,
                )
                if idx is None:
                    raise TableError(f"no column {after!r}")
                fields.insert(idx + 1, target)
        return self._evolve("alter-column", fields, {"alter": name})

    def add_column(
        self, name: str, type: str, *, after: str | None = None,  # noqa: A002
        first: bool = False, comment: str | None = None,
    ) -> Commit:
        """D8 — ADD COLUMN typed + positioned (Getting Started.ipynb:183).
        Old files read the new column as NULL."""
        fields = [Field(f.id, f.name, f.type, f.nullable, f.comment)
                  for f in self.schema_fields()]
        if any(f.name == name for f in fields):
            raise TableError(f"column {name!r} exists")
        new = Field(
            self._next_field_id(self._read_commit(self.head()).schemas),
            name, type, True, comment,
        )
        if first:
            fields.insert(0, new)
        elif after is not None:
            idx = next(
                (i for i, f in enumerate(fields) if f.name == after), None
            )
            if idx is None:
                raise TableError(f"no column {after!r}")
            fields.insert(idx + 1, new)
        else:
            fields.append(new)
        return self._evolve("add-column", fields, {"add": name})

    def drop_column(self, name: str) -> Commit:
        if name not in {f.name for f in self.schema_fields()}:
            # rename/alter raise on unknown columns; a silent no-op
            # commit here would hide a typo'd (or wrong-case) name
            raise TableError(f"no column {name!r}")
        spec = self._read_commit(self.head()).partition_spec
        if name.lower() in self._spec_sources(spec):
            raise TableError(
                f"column {name!r} is a partition source ({', '.join(spec)});"
                " drop its partition field first")
        fields = [f for f in self.schema_fields() if f.name != name]
        return self._evolve("drop-column", fields, {"drop": name})

    def set_properties(self, **props: str) -> Commit:
        """D9 — SET TBLPROPERTIES (WAP...ipynb:143)."""
        head = self.head()  # pinned: merged props derived from here
        merged = dict(self._read_commit(head).properties)
        merged.update({k: str(v) for k, v in props.items()})
        return self._commit("set-properties", [], [], properties=merged,
                            summary={"set": sorted(props)},
                            **self._pinned(head))

    # CHECK constraints live in table properties under this prefix, so
    # they version with the commit log like any other table metadata
    _CONSTRAINT_PREFIX = "lakeshed.constraint."

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name → boolean SQL expression."""
        if MAIN not in self._refs():  # mid-create: nothing committed yet
            return {}
        p = self._CONSTRAINT_PREFIX
        return {
            k[len(p):]: v
            for k, v in self._read_commit(self.head()).properties.items()
            if k.startswith(p)
        }

    def add_constraint(self, name: str, expr: str) -> Commit:
        """Delta-style ``ADD CONSTRAINT name CHECK (expr)``: existing data
        must already satisfy the expression (one validating scan, same
        contract as Delta), then every subsequent write is enforced
        in-flight (see ``_write_files``) — NULL evaluations pass, per SQL
        CHECK semantics."""
        if name in self.constraints():
            raise TableError(f"constraint {name!r} exists")
        bad = (
            self.read()
            .where(~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise ConstraintViolationError(
                f"existing rows violate CHECK ({expr}); constraint "
                f"{name!r} not added"
            )
        return self.set_properties(
            **{self._CONSTRAINT_PREFIX + name: expr}
        )

    def drop_constraint(self, name: str) -> Commit:
        if name not in self.constraints():
            raise TableError(f"no constraint {name!r}")
        return self.unset_properties(self._CONSTRAINT_PREFIX + name)

    def unset_properties(self, *names: str) -> Commit:
        head = self.head()  # pinned, like set_properties
        merged = dict(self._read_commit(head).properties)
        for n in names:
            merged.pop(n, None)
        return self._commit("unset-properties", [], [], properties=merged,
                            summary={"unset": sorted(names)},
                            **self._pinned(head))

    def properties(self) -> dict[str, str]:
        return dict(self._read_commit(self.head()).properties)

    # ---------------------------------------------------------- partitioning

    def add_partition_field(self, col: str) -> Commit:
        """D12 — partition evolution (Getting Started.ipynb:323): affects
        future writes only; existing files keep their old layout (Iceberg
        semantics — specs are per-file-group, reads union across specs)."""
        head = self.head()  # pinned: spec derived from here
        spec = list(self._read_commit(head).partition_spec)
        if col in spec:
            raise TableError(f"{col!r} already a partition field")
        spec.append(col)
        return self._commit("add-partition-field", [], [],
                            partition_spec=spec, summary={"spec": spec},
                            **self._pinned(head))

    def drop_partition_field(self, col: str) -> Commit:
        head = self.head()  # pinned, like add_partition_field
        spec = [c for c in self._read_commit(head).partition_spec
                if c != col]
        return self._commit("drop-partition-field", [], [],
                            partition_spec=spec, summary={"spec": spec},
                            **self._pinned(head))

    # ----------------------------------------------------------------- read

    def _adapt(self, df: DataFrame, from_fields: list[Field],
               to_fields: list[Field],
               extra_cols: tuple[str, ...] = ()) -> DataFrame:
        """Project a file-group written under an old schema version to the
        current one — by field id (rename-safe), with casts (widen-safe) and
        NULL-fill for later-added columns. Pure projection: stays in
        whole-stage codegen, no shuffle."""
        by_id = {f.id: f for f in from_fields}
        cols: list[Column] = []
        for f in to_fields:
            old = by_id.get(f.id)
            if old is None:
                cols.append(F.lit(None).cast(f.type).alias(f.name))
            else:
                c = F.col(f"`{old.name}`")
                if old.type != f.type:
                    c = c.cast(f.type)
                cols.append(c.alias(f.name))
        cols.extend(F.col(f"`{c}`") for c in extra_cols)
        return df.select(*cols)

    def committed_at_ms(self, version: int | None = None) -> int:
        """Wall-clock commit time of ``version`` (default: head) — the
        value ``TIMESTAMP AS OF`` resolves against."""
        if version is None:
            version = self.head()
        return self._read_commit(version).timestamp_ms

    def snapshot_as_of(self, ts_ms: int, branch: str = MAIN) -> int:
        """Resolve a wall-clock timestamp to a snapshot version: the newest
        ancestor of ``branch``'s head with ``timestamp_ms <= ts_ms`` —
        Iceberg's ``TIMESTAMP AS OF`` resolution against the commit log.
        Walks raw commits (not the checkpoint-truncated chain) so history
        older than the latest checkpoint stays resolvable."""
        # squash-aware lineage: retained ancestors BELOW an expiry
        # squash stay resolvable for TIMESTAMP AS OF (they are readable
        # — only the walk pointer was rewritten); a dangling hop just
        # ends the walk and surfaces the end-of-history error
        for c in self._lineage(self.head(branch)):
            if c.timestamp_ms <= ts_ms:
                return c.version
        raise TableError(
            f"no snapshot at or before timestamp {ts_ms} on {branch!r}"
        )

    def read(self, version: int | None = None, branch: str | None = None,
             as_of_ms: int | None = None) -> DataFrame:
        """Current-snapshot scan, or S5 snapshot-pinned time travel
        (``.option("snapshot-id", ...)``, Integrated Audits...ipynb:314) /
        S6 branch-pinned scan (WAP...ipynb:436) / timestamp-pinned travel
        (``TIMESTAMP AS OF``, resolved via :meth:`snapshot_as_of`).

        Reads exactly the live file list from the log (no directory listing
        — at 100 TB, listing is the scan killer); file groups written under
        older schema versions are adapted per-group then unioned.
        """
        if as_of_ms is not None:
            if version is not None:
                raise TableError("pass either version or as_of_ms, not both")
            version = self.snapshot_as_of(as_of_ms, branch or MAIN)
        elif version is None:
            version = self.head(branch or MAIN)
        elif branch is not None:
            raise TableError("pass either version or branch, not both")
        return self._scan(version)

    def _scan(self, version: int, with_file_path: bool = False) -> DataFrame:
        commit, live = self._state(version)
        return self._read_adds(commit, live, with_file_path)

    def _read_adds(self, commit: Commit, adds: list[AddFile],
                   with_file_path: bool = False) -> DataFrame:
        """Scan a specific file list under ``commit``'s schema; optionally
        carries a ``__file`` column captured from ``_metadata.file_path``
        INSIDE each file-group scan (the hidden column does not survive a
        union, so DML planning must grab it before groups merge).

        Each file group is read with the schema the commit log holds for
        its schema version, minus the identity-partition columns its
        directories hold, as ``to_arrow`` does: every data file is written
        by ``_write_files`` from a frame cast to the log's types, so that
        schema is the files' physical one, and building the read runs no
        schema-inference job."""
        cur_fields = commit.schemas[str(commit.schema_version)]
        if not adds:
            ddl = _ddl(cur_fields)
            if with_file_path:
                ddl += ", `__file` string"
            return self.spark.createDataFrame([], schema=ddl)
        # Group files into as FEW relations as possible — the union arity
        # is plan size, and plan size is a scale axis of its own (r10
        # metadata probe: 5,000 streaming appends = 5,000 write-group
        # bases; a per-base union built a 5,000-way plan tree and OOM'd
        # the JVM during analysis). Files sharing (schema_version,
        # identity-partition VALUES) merge into ONE multi-path relation,
        # with the partition columns (which live in the hive dirs, not
        # the parquet data) re-attached as literal columns — no basePath
        # discovery (which rejects sibling write-group dirs:
        # CONFLICTING_DIRECTORY_STRUCTURES), no path decoding (the
        # values come from the commit log's own paths, hive-unescaped
        # driver-side). Plan arity therefore tracks the DATA LAYOUT
        # (distinct live partition tuples × schema versions), never the
        # commit count: a 5,000-append unpartitioned table plans as one
        # relation; an hourly-partitioned one as one relation per live
        # hour. Transform-derived dirs (days(ts)=..., bucket-N) are not
        # schema columns and are not re-attached — basePath discovery
        # used to surface them, but _adapt dropped them anyway.
        groups: dict[tuple[int, tuple], list[AddFile]] = {}
        field_names_by_sv = {
            sv: {f.name for f in flds} for sv, flds in commit.schemas.items()
        }
        for a in adds:
            names = field_names_by_sv[str(a.schema_version)]
            pvals = tuple(sorted(
                (k, v)
                for k, v in self._partition_values_decoded(a.path).items()
                if k in names
            ))
            groups.setdefault((a.schema_version, pvals), []).append(a)
        parts: list[DataFrame] = []
        for (sv, pvals), grp in sorted(
            groups.items(), key=lambda kv: (kv[0][0], str(kv[0][1]))
        ):
            from_fields = commit.schemas[str(sv)]
            field_by_name = {f.name: f for f in from_fields}
            in_dirs = {k for k, _ in pvals}
            df = self.spark.read.schema(
                _ddl([f for f in from_fields if f.name not in in_dirs])
            ).parquet(*[os.path.join(self.path, a.path) for a in grp])
            if with_file_path:
                df = df.withColumn("__file", F.col("_metadata.file_path"))
            for k, v in pvals:
                df = df.withColumn(
                    k, F.lit(v).cast(field_by_name[k].type)
                )
            adapted = self._adapt(
                df, from_fields, cur_fields,
                extra_cols=("__file",) if with_file_path else (),
            )
            parts.append(adapted)
        return reduce(DataFrame.unionByName, parts)

    def _read_rewrite(self, commit: Commit, adds: list[AddFile]) -> DataFrame:
        """A copy-on-write rewrite set, read so that a file some column's
        stats range sets apart from the rest keeps a scan split of its own.

        Spark packs small files into one split up to ``maxSplitBytes``, a
        figure that also depends on the core count; a rewrite read that
        way writes rows of many input files into one output file, whose
        key range then spans theirs, and the table's key clustering (and
        with it stats pruning) is gone after one batch. An open cost of a
        whole split per file leaves each file alone in its split, so each
        set-apart file becomes at most one output file (files above
        ``maxPartitionBytes`` still split). Set on a clone: the caller's
        session conf is never written. Files whose ranges overlap on every
        column have no clustering to keep, and are read the packed way, so
        a rewrite of many small overlapping files (streaming appends) runs
        a few tasks and writes a few files. A partitioned table's rewrite
        is hash-partitioned by partition value right after the read, which
        keeps no split together, so it is read the packed way."""
        if commit.partition_spec:
            return self._read_adds(commit, adds)
        apart = self._set_apart(commit, adds)
        parts = []
        if len(apart) < len(adds):
            parts.append(self._read_adds(
                commit, [a for a in adds if a.path not in apart]))
        if apart:
            split = self.spark.conf.get("spark.sql.files.maxPartitionBytes")
            parts.append(LakeTable(session_with(self.spark, {
                "spark.sql.files.openCostInBytes": split}),
                self.path)._read_adds(
                    commit, [a for a in adds if a.path in apart]))
        return reduce(DataFrame.unionByName, parts)

    @staticmethod
    def _set_apart(commit: Commit, adds: list[AddFile]) -> set[str]:
        """Paths of the files among ``adds`` whose stats range on some
        column meets no other file's range on it. Bounds are compared in
        the column's type under ``commit``'s schema, resolved by field id;
        a column some file has no usable range for sets no file apart."""
        from lakeshed.pruning import stat_value

        if len(adds) < 2:
            return {a.path for a in adds}
        by_id = {sv: {f.id: f for f in flds}
                 for sv, flds in commit.schemas.items()}
        apart: set[str] = set()
        for f in commit.schemas[str(commit.schema_version)]:
            spans = []
            for a in adds:
                old = by_id[str(a.schema_version)].get(f.id)
                if old is None:
                    break
                lo, hi = (
                    stat_value(b[old.name], old.type, f.type)
                    if old.name in b else None
                    for b in (a.lower_bounds, a.upper_bounds)
                )
                if lo is None or hi is None:
                    break
                spans.append((lo, hi, a.path))
            else:
                try:
                    spans.sort(key=lambda s: s[0])
                    reach = None  # the highest bound left of each span
                    for i, (lo, hi, path) in enumerate(spans):
                        if ((reach is None or reach < lo)
                                and (i + 1 == len(spans)
                                     or hi < spans[i + 1][0])):
                            apart.add(path)
                        reach = hi if reach is None else max(reach, hi)
                except TypeError:  # datetimes with and without an offset
                    continue
                if len(apart) == len(adds):
                    break
        return apart

    # ----------------------------------------------------- pruned scanning

    @staticmethod
    def _partition_values(path: str) -> dict[str, str]:
        out = {}
        for seg in path.split(os.sep):
            if "=" in seg:
                k, _, v = seg.partition("=")
                out[k] = v
        return out

    @staticmethod
    def _partition_values_decoded(path: str) -> dict[str, str | None]:
        """Hive-unescaped partition values — what Spark's own partition
        discovery would produce for the dir: ``%XX`` escapes decoded
        (the writer escapes every literal ``%``, so unquote is an exact
        inverse), the ``__HIVE_DEFAULT_PARTITION__`` null sentinel
        mapped to None."""
        from urllib.parse import unquote

        return {
            k: (None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v))
            for k, v in LakeTable._partition_values(path).items()
        }

    def _prune(self, commit: Commit, files: list[AddFile],
               node) -> list[AddFile]:
        """The files among ``files`` whose commit-log stats cannot refute
        ``node``, a parsed predicate over ``commit``'s schema — THE one
        stats-pruning path (scan planning, DML candidate files, MERGE's
        key-range prune). Each predicate column resolves by field id to
        the name and type it had in the file's own schema version
        (:func:`lakeshed.pruning.bind`), once per schema version, so a
        renamed, dropped or re-added column never reads another
        column's stats."""
        from lakeshed.pruning import bind, file_may_match

        # transform-derived dirs (user_id_bucket=0) are no schema column:
        # pseudo-fields with ids no schema field has let predicates on
        # them prune by the dir value
        dirs = [Field(-i, t[0], t[1]) for i, t in enumerate(
            filter(None, map(self._transform, commit.partition_spec)), 1)]
        cur = commit.schemas[str(commit.schema_version)] + dirs
        bound: dict[int, tuple] = {}
        kept = []
        for a in files:
            sv = a.schema_version
            if sv not in bound:
                bound[sv] = bind(node, cur, commit.schemas[str(sv)] + dirs)
            n, types = bound[sv]
            if file_may_match(n, a.lower_bounds, a.upper_bounds,
                              self._partition_values_decoded(a.path),
                              a.dicts, a.null_counts, a.rows, a.blooms,
                              types=types):
                kept.append(a)
        return kept

    def plan_files(self, where: str | None = None,
                   version: int | None = None) -> list[AddFile]:
        """S14 — manual scan planning (``table.newScan().filter(...)
        .planTasks()``, Iceberg - An Introduction...ipynb:273): the live
        files a predicate can touch, after manifest-style stats pruning
        (lower/upper bounds + partition-dir values from the commit log)."""
        from lakeshed.pruning import parse_predicate

        commit, live = self._state(
            self.head() if version is None else version
        )
        if where is None:
            return live
        return self._prune(commit, live, parse_predicate(where))

    def scan(self, where: str | None = None,
             columns: Iterable[str] | None = None,
             version: int | None = None) -> DataFrame:
        """S12 — pruned scan: the PyIceberg client path
        (``tbl.scan(row_filter=...)`` plans only matching files,
        PyIceberg...ipynb:151,168) rebuilt on the commit log's stats.

        Files whose min/max bounds prove zero matching rows never reach
        the Spark plan (no footer read, no task). The predicate always
        re-applies as a residual filter (S13), so results are identical to
        ``read().where(...)`` — only I/O differs. At 100 TB this prunes at
        METADATA cost, before Spark's own partition/row-group pruning."""
        v = self.head() if version is None else version
        # the schema from v's own commit: plan_files walks the chain once
        commit = self._read_commit(v)
        kept = self.plan_files(where, version=v)
        df = self._read_adds(commit, kept)
        if where is not None:
            df = df.where(F.expr(where))
        if columns is not None:
            df = df.select(*columns)
        return df

    def to_arrow(self, where: str | None = None,
                 columns: Iterable[str] | None = None,
                 version: int | None = None):
        """§3.4 — the PyIceberg client path, whole: plan matching files
        from commit-log metadata IN THIS PROCESS (``plan_files`` — no
        Spark job, no JVM), then have DuckDB read exactly those parquet
        files and return an Arrow table (PyIceberg - Getting
        Started.ipynb:151→180→268: scan plan → Arrow fetch → DuckDB).
        A notebook user on a laptop queries a 100 TB table's pruned
        sliver without a cluster; results equal
        ``read(version).where(where).select(columns)``.

        Schema evolution is applied the same way ``_read_adds`` does it —
        per file-group field-id projection with casts and NULL-fill —
        but expressed as DuckDB SELECT lists. Hive partition dirs are
        recovered via ``hive_partitioning``; derived partition columns
        (``days(ts)`` etc.) stay out of the result because the SELECT
        list carries only schema fields."""
        import duckdb

        residual_sql: str | None = None
        if where is not None:
            # the predicate is re-executed BY DUCKDB as the residual, so
            # only the dialect-portable mini-grammar (column vs literal
            # comparisons, AND/OR/parens — pruning.py) is accepted, and
            # the residual SQL is REGENERATED from the parsed tree (the
            # parser normalizes Spark-isms like backticked identifiers,
            # which DuckDB would reject or misread). Use scan() for
            # arbitrary Spark-dialect predicates.
            from lakeshed.pruning import BoolOp, Unknown, parse_predicate

            def _render(n) -> str | None:
                if isinstance(n, Unknown):
                    return None
                if isinstance(n, BoolOp):
                    l, r = _render(n.left), _render(n.right)
                    if l is None or r is None:
                        return None
                    return f"({l} {n.kind.upper()} {r})"
                if n.op == "isnull":
                    return f'"{n.col}" IS NULL'
                if n.op == "notnull":
                    return f'"{n.col}" IS NOT NULL'
                if isinstance(n.value, str):
                    lit = "'" + n.value.replace("'", "''") + "'"
                else:
                    lit = repr(n.value)
                return f'"{n.col}" {n.op} {lit}'

            residual_sql = _render(parse_predicate(where))
            if residual_sql is None:
                raise TableError(
                    f"to_arrow predicate {where!r} is outside the portable "
                    "comparison grammar; use scan() for Spark-dialect "
                    "predicates"
                )

        v = self.head() if version is None else version
        commit = self._read_commit(v)
        kept = self.plan_files(where, version=v)
        cur = commit.schemas[str(commit.schema_version)]
        out_fields = list(cur)
        if columns is not None:
            wanted = list(columns)
            by_name = {f.name: f for f in cur}
            out_fields = [by_name[c] for c in wanted]

        groups: dict[tuple[str, int], list[AddFile]] = {}
        for a in kept:
            groups.setdefault((a.base, a.schema_version), []).append(a)

        # identity partition columns come from hive DIRS, not parquet
        # data: DuckDB surfaces the raw segment (so a NULL partition
        # reads back as the literal '__HIVE_DEFAULT_PARTITION__', and an
        # int partition infers BIGINT) — map the sentinel to NULL and
        # always cast to the schema type, like Spark's partition recovery
        # by field id: a file written before a rename carries the old
        # name in its dirs, and the spec carries the new one
        idents = self._spec_sources(commit.partition_spec, identity=True)
        ident_ids = {f.id for f in cur if f.name.lower() in idents}

        def _sel(from_fields: list[Field]) -> str:
            by_id = {f.id: f for f in from_fields}
            parts = []
            for f in cur:
                old = by_id.get(f.id)
                if old is None:
                    parts.append(
                        f'CAST(NULL AS {_duck_type(f.type)}) AS "{f.name}"'
                    )
                else:
                    expr = f'"{old.name}"'
                    if f.id in ident_ids:
                        expr = (
                            f"CAST(NULLIF(CAST({expr} AS VARCHAR), "
                            f"'__HIVE_DEFAULT_PARTITION__') AS "
                            f"{_duck_type(f.type)})"
                        )
                    elif old.type != f.type:
                        expr = f"CAST({expr} AS {_duck_type(f.type)})"
                    parts.append(f'{expr} AS "{f.name}"')
            return ", ".join(parts)

        selects = []
        for (base, sv), grp in sorted(groups.items()):
            paths = sorted(os.path.join(self.path, a.path) for a in grp)
            plist = ", ".join("'" + p.replace("'", "''") + "'"
                              for p in paths)
            selects.append(
                f"SELECT {_sel(commit.schemas[str(sv)])} FROM read_parquet("
                f"[{plist}], hive_partitioning=true, union_by_name=true)"
            )
        if not selects:
            empty = ", ".join(
                f'CAST(NULL AS {_duck_type(f.type)}) AS "{f.name}"'
                for f in cur
            )
            selects = [f"SELECT {empty} WHERE 1 = 0"]
        sql = " UNION ALL ".join(selects)
        proj = ", ".join(f'"{f.name}"' for f in out_fields)
        # MATERIALIZED blocks predicate pushdown into the hive-partition
        # projection (DuckDB's pushdown through the NULLIF sentinel cast
        # trips an internal error); the barrier only materializes the
        # plan_files-pruned sliver, and the residual re-check still runs
        # (pruning only guarantees kept ⊇ matching).
        final = f"WITH __scan AS MATERIALIZED ({sql}) " \
                f"SELECT {proj} FROM __scan"
        if residual_sql is not None:
            final += f" WHERE {residual_sql}"
        con = duckdb.connect()
        try:
            return con.sql(final).arrow()
        finally:
            con.close()

    def to_df(self) -> DataFrame:
        return self.read()

    def count_rows(self, version: int | None = None) -> int:
        """Metadata-only COUNT(*): sum the per-file row counts the commit
        log already holds (written from the parquet footers at commit
        time) — no file is opened. At 100 TB this answers in driver
        milliseconds what a scan-based count pays a full read for; the
        same trick Iceberg/Delta use for stats-only aggregates. DML keeps
        the counts exact (every rewrite records its files' footers)."""
        _, live = self._state(
            self.head() if version is None else version
        )
        return sum(a.rows for a in live)

    # ---------------------------------------------------------------- writes

    def append(self, df: DataFrame, *, branch: str = MAIN,
               wap_id: str | None = None,
               extra_properties: dict[str, str] | None = None,
               require_new_properties: bool = False,
               pin_version: int | None = None) -> Commit:
        """W2 — append write (``mode("append").saveAsTable``,
        PyIceberg...ipynb:120 / ``writeTo(...).append()``,
        Berlin Buzzwords.ipynb:119).

        With ``wap_id`` (D14 — the ``spark.wap.id`` pin, Integrated
        Audits...ipynb:191): the commit is STAGED — written to the log,
        tagged ``summary['wap.id']``, but no ref moves, so readers never
        see it until ``cherrypick_snapshot`` publishes it (D16).

        ``extra_properties`` merges the given keys over the read
        snapshot's table properties IN THE SAME COMMIT as the data —
        the atomicity an ingestion ledger needs (a batch-id marker that
        lands with its rows or not at all, see
        ``llm.dedup.update_span_index``). Because the merge is computed
        from the statement's read snapshot, such an append is PINNED
        (a concurrent commit raises ``CommitConflictError`` instead of
        silently dropping the other writer's property change), trading
        the fast-append float for read-modify-write safety.

        ``require_new_properties`` raises :class:`PropertyExistsError`
        when any ``extra_properties`` key is already present in the
        PINNED snapshot's properties — the check-and-commit a ledger
        needs to be race-free (r14 review wave 31): a caller-side
        "check ledger, then append" reads two different snapshots, so
        two concurrent attempts of the same marker can both pass the
        check and both land (same-key property merges don't conflict).
        With the guard, the absence check is made against the exact
        snapshot the commit pins to, and the pin's CAS makes
        check→commit atomic: one attempt lands, every concurrent
        duplicate either sees the key (PropertyExistsError) or
        conflicts and sees it on retry.

        ``pin_version`` pins the append to a snapshot the CALLER
        already read (r14 review wave 32): the anti-join/dedup-guard
        shape — "read the table, derive what's missing, append it" —
        is only race-free if the commit conflicts when anything landed
        after that read; a fast append would float past the racer and
        happily append rows the racer just made redundant. With the
        pin, a concurrent commit raises ``CommitConflictError`` and
        the caller re-derives against the new head. Mutually
        exclusive with ``wap_id`` (a staged chain resolves its own
        parent)."""
        # staged commits chain on their own wap-<id> ref (first one
        # forks from the target branch); main never moves, and the
        # sibling-conflict guard sees distinct parents per stage. The
        # read state comes from the SAME chain head, so staged DML
        # composes (a staged merge's evolved schema is visible here).
        # pin=False: fast append — add-only, commutative, floats onto
        # the commit-time head instead of conflicting on a concurrent
        # advance (see _dml_commit_args)
        if pin_version is not None:
            if wap_id is not None:
                raise TableError(
                    "pin_version cannot be combined with wap_id — a "
                    "staged chain resolves its own parent")
            read_v, ckw, sx = (
                pin_version,
                {"branch": branch, **self._pinned(pin_version)},
                {},
            )
        else:
            read_v, ckw, sx = self._dml_commit_args(
                branch, wap_id, pin=extra_properties is not None)
        head_commit = self._read_commit(read_v)
        if require_new_properties:
            if extra_properties is None:
                raise TableError(
                    "require_new_properties needs extra_properties")
            seen = [k for k in extra_properties
                    if k in head_commit.properties]
            if seen:
                raise PropertyExistsError(
                    f"properties already present on {self.path} at "
                    f"version {read_v}: {seen}"
                )
        fields = head_commit.schemas[str(head_commit.schema_version)]
        aligned = df.select(*[F.col(f"`{f.name}`").cast(f.type) for f in fields])
        adds = self._write_files(
            aligned, head_commit.partition_spec, head_commit.schema_version
        )
        props = None
        if extra_properties is not None:
            props = {**head_commit.properties, **extra_properties}
        return self._commit("append", adds, [], **ckw,
                            properties=props, summary=sx or None)

    def overwrite(self, df: DataFrame, *, branch: str = MAIN,
                  wap_id: str | None = None) -> Commit:
        """Full-table overwrite = remove all live files + add new, one
        commit. ``wap_id`` stages the commit exactly like :meth:`append`
        — the most destructive write is the one that most needs the
        audit gate, so the WAP pin must not be bypassable here."""
        # like append: read live set + schema from the staged chain
        # head when one exists, so a staged UPDATE's rewritten files are
        # what this swap removes — not main's stale originals
        read_v, ckw, sx = self._dml_commit_args(branch, wap_id)
        head_commit, live = self._state(read_v)
        fields = head_commit.schemas[str(head_commit.schema_version)]
        aligned = df.select(*[F.col(f"`{f.name}`").cast(f.type) for f in fields])
        adds = self._write_files(
            aligned, head_commit.partition_spec, head_commit.schema_version
        )
        removes = [a.path for a in live]
        return self._commit("overwrite", adds, removes, **ckw,
                            summary=sx or None)

    def insert_values(self, *rows: tuple, branch: str = MAIN) -> Commit:
        """W3 — SQL INSERT VALUES (Integrated Audits...ipynb:471)."""
        df = self.spark.createDataFrame(list(rows), schema=self.schema_ddl())
        return self.append(df, branch=branch)

    # ------------------------------------------------------------- row DML

    def _match_files(self, cond: Column, live: list[AddFile],
                     commit: Commit, where_str: str | None = None
                     ) -> tuple[int, set[str]]:
        """(candidate file count, relative paths of the live files
        containing ≥1 row matching ``cond``).

        Two-stage copy-on-write planning, like Iceberg/Delta DML: (1)
        manifest-style stats pruning drops files the predicate provably
        misses (metadata-only, when the predicate arrived as SQL text),
        leaving the candidates; (2) a distributed scan + filter + distinct
        on the hidden ``_metadata.file_path`` column finds the true hit
        set — the only thing collected is the (metadata-scale) file-name
        list."""
        candidates = live
        if where_str is not None and live:
            from lakeshed.pruning import parse_predicate

            candidates = self._prune(commit, live,
                                     parse_predicate(where_str))
        if not candidates:
            return 0, set()
        df = self._read_adds(commit, candidates, with_file_path=True)
        matched = (
            df.where(cond)
            .select("__file")
            .distinct()
            .collect()
        )
        return len(candidates), {self._uri_to_rel(r["__file"])
                                 for r in matched}

    def _uri_to_rel(self, p: str) -> str:
        """``_metadata.file_path`` → the table-relative path AddFile
        records. The metadata column is a Hadoop Path URI, so on-disk
        bytes come back percent-ENCODED ('ts=2024-01-02 00%3A00%3A00/…'
        → '…02%2000%253A00%253A00/…'); comparing it raw against
        AddFile.path matched nothing, which silently turned UPDATE/
        DELETE/MERGE on such files into no-ops that logged a remove for
        a path that does not exist (r12 review follow-on: exposed once
        partition-value pruning stopped wrongly refuting those files
        first). One unquote is the exact inverse of the URI encoding."""
        from urllib.parse import unquote

        if p.startswith("file:"):
            p = p[len("file:"):]
        p = unquote(p)
        prefix_len = len(os.path.abspath(self.path)) + 1
        return os.path.abspath(p)[prefix_len:]

    def _dml_commit_args(
        self, branch: str, wap_id: str | None, *, pin: bool = True
    ) -> tuple[int, dict, dict]:
        """(read_version, commit_kwargs, summary_extra) for a DML
        statement: a plain branch commit, or — under a ``spark.wap.id``
        pin — the same staged ``wap-<id>`` ref chain :meth:`append`
        uses, so EVERY DML statement stages consistently (Iceberg stages
        all writes under wap.id, not just inserts). Staged statements
        read the staged chain's head, so pinned DML composes.

        ``pin=True`` (every mutating op: update/delete/merge/overwrite)
        makes the commit's parent the SNAPSHOT THE STATEMENT READ — if a
        concurrent writer advances the branch while the Spark job runs,
        ``_commit``'s sibling guard raises ``CommitConflictError``
        instead of silently chaining file changes computed against stale
        state onto the new head (a lost update: their deleted rows would
        resurrect). Iceberg validates exactly this from the
        read-snapshot. ``pin=False`` is the fast-append path: add-only
        commits are commutative, so they may float onto whatever head
        exists at commit time (Iceberg's fast append skips validation
        the same way)."""
        if wap_id is None:
            head = self.head(branch)
            ckw = {"branch": branch}
            if pin:
                ckw.update(self._pinned(head))
            return head, ckw, {}
        wb = f"wap-{wap_id}"
        wref = self._refs().get(wb)
        parent = wref if wref is not None else self.head(branch)
        return (parent,
                {"branch": wb, "parent": parent, "expected_ref": wref},
                {"wap.id": wap_id})

    def update(self, set: dict[str, str | Column],  # noqa: A002
               where: str | Column | None = None, *,
               branch: str = MAIN, wap_id: str | None = None) -> Commit:
        """D10 — ``UPDATE t SET col = expr [WHERE ...]``
        (Getting Started.ipynb:204). Copy-on-write: only files containing
        matching rows are rewritten; untouched files carry over by
        reference. ``branch`` scopes the read+commit (the
        ``spark.wap.branch`` pin: WAP...ipynb:19-21 DELETEs against the
        staged branch); ``wap_id`` stages like :meth:`append`."""
        cond = (
            F.lit(True) if where is None
            else (F.expr(where) if isinstance(where, str) else where)
        )
        read_v, ckw, sx = self._dml_commit_args(branch, wap_id)
        head_commit, live = self._state(read_v)
        known = {
            f.name for f in head_commit.schemas[str(head_commit.schema_version)]
        }
        unknown = set.keys() - known  # NB: `set` is the assignments dict
        if unknown:
            raise TableError(
                f"UPDATE references unknown column(s) {sorted(unknown)}"
            )
        n_cand, hit = self._match_files(
            cond, live, head_commit,
            where_str=where if isinstance(where, str) else None,
        )
        sx["candidate-files"] = n_cand
        if not hit:
            return self._commit("update", [], [], **ckw,
                                summary={**sx, "updated-files": 0})
        hit_adds = [a for a in live if a.path in hit]
        rewritten = self._read_rewrite(head_commit, hit_adds)
        assigns = {
            c: (F.expr(e) if isinstance(e, str) else e) for c, e in set.items()
        }
        out = rewritten.select(*[
            F.when(cond, assigns[f.name]).otherwise(F.col(f"`{f.name}`"))
            .cast(f.type).alias(f.name)
            if f.name in assigns else F.col(f"`{f.name}`")
            for f in head_commit.schemas[str(head_commit.schema_version)]
        ])
        adds = self._write_files(
            out, head_commit.partition_spec, head_commit.schema_version
        )
        return self._commit("update", adds, sorted(hit), **ckw,
                            summary={**sx, "updated-files": len(hit)})

    def delete(self, where: str | Column, *, branch: str = MAIN,
               wap_id: str | None = None) -> Commit:
        """D11 — ``DELETE FROM t WHERE ...`` (Getting Started.ipynb:247,268).
        Files whose every row matches become metadata-only removes (the
        rewrite produces nothing for them); partial files are rewritten
        without the matching rows. ``branch`` scopes the read+commit
        (the ``spark.wap.branch`` pin); ``wap_id`` stages like
        :meth:`append`."""
        cond = F.expr(where) if isinstance(where, str) else where
        read_v, ckw, sx = self._dml_commit_args(branch, wap_id)
        head_commit, live = self._state(read_v)
        n_cand, hit = self._match_files(
            cond, live, head_commit,
            where_str=where if isinstance(where, str) else None,
        )
        sx["candidate-files"] = n_cand
        if not hit:
            return self._commit("delete", [], [], **ckw,
                                summary={**sx, "deleted-files": 0})
        hit_adds = [a for a in live if a.path in hit]
        # three-valued logic: a NULL predicate must KEEP the row (SQL
        # deletes only where the condition is TRUE; ~NULL is NULL and a
        # bare where(~cond) would silently drop NULL-condition rows)
        kept = self._read_rewrite(head_commit, hit_adds).where(
            ~F.coalesce(cond, F.lit(False))
        )
        adds = self._write_files(
            kept, head_commit.partition_spec, head_commit.schema_version
        )
        return self._commit("delete", adds, sorted(hit), **ckw,
                            summary={**sx, "deleted-files": len(hit)})

    def merge(
        self,
        source: DataFrame,
        on: str | list[str],
        *,
        when_matched_update: dict[str, str] | str | None = "*",
        when_matched_delete: str | None = None,
        when_not_matched_insert: str | None = "*",
        source_order: str | None = None,
        evolve_schema: bool = False,
        net_unmatched_deletes: bool = True,
        when_not_matched_by_source_delete: str | None = None,
        when_not_matched_by_source_update: dict[str, str] | None = None,
        when_not_matched_by_source_condition: str | None = None,
        branch: str = MAIN,
        wap_id: str | None = None,
    ) -> Commit:
        """J2/W5/W6 — MERGE INTO: the changelog upsert of
        ``IcebergStream.java:116-120`` (equality-delete sink) and the Paimon
        dedup merge engine (``PaimonStream.java:90-91``).

        - ``on``: equality key column(s) shared by target and source.
        - ``when_matched_delete``: SQL predicate over source cols (e.g.
          ``"op = 'D'"``) — matching target rows are removed.
        - ``when_matched_update``: ``"*"`` (all target cols from source) or
          {target_col: sql_expr_over_source}.
        - ``when_not_matched_insert``: ``"*"`` or a predicate gating inserts
          (e.g. ``"op <> 'D'"``); inserts take target cols from source.
        - ``source_order``: column ranking within-key arrival order; the
          LAST row per key wins (SURVEY §7.3: an I-then-D key in one batch
          must net to delete). Required when source can repeat keys.
        - ``evolve_schema``: Delta's ``withSchemaEvolution()`` — source
          columns absent from the target are ADDED (nullable, typed from
          the source schema) before the merge runs; existing rows read
          them as NULL via field-id projection. The ``source_order``
          column and ``__``-prefixed helpers never evolve.
        - ``net_unmatched_deletes``: the changelog contract (default) also
          applies ``when_matched_delete`` to UNMATCHED source rows — a
          D record for an absent key must not insert. Standard SQL MERGE
          semantics scope matched-clause conditions to matched rows only;
          the SQL-text router passes ``False`` to get them.
        - ``when_not_matched_by_source_delete``: Spark 4 / Delta's
          ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` — target rows with
          no source key match AND satisfying this predicate (bare target
          column names; ``"true"`` for unconditional full-sync) are
          removed. The rewrite set grows to the files the predicate can
          touch (stats-pruned via :meth:`plan_files`), which is the
          semantic cost of a full sync — bound it with a predicate.
        - ``when_not_matched_by_source_update`` (+ ``..._condition``):
          the UPDATE form — target-only rows satisfying the condition
          (default: all of them) get the assignments applied (bare
          target column names; the soft-delete ``SET active = false``
          pattern). When both by-source actions are given, DELETE
          evaluates first. An unconditional update must rewrite every
          live file — pass the condition to let stats pruning bound it.

        Scale: source is deduped with one window shuffle, or with none
        when it plans to a single partition (a one-file micro-batch does):
        one partition already satisfies the window's clustering, and the
        cached source then stays one partition, so each broadcast of it
        is a one-task job. Target-file discovery is a semi-join
        (broadcast when the source is small — typical for a micro-batch),
        and only hit files rewrite. The rewrite set is not cached: the
        rewrite join and the insert anti-join (key column only) each read
        it from parquet, which costs less than the jobs that would
        materialise a cache. On an unpartitioned table the rewrite keeps
        file boundaries: each hit file that some column's stats range
        sets apart from the others is read as its own scan split
        (:meth:`_read_rewrite`) and becomes at most one file inside its
        old key range, and the batch's inserts are range-partitioned on
        the key into files of about one live file's rows each. A
        key-clustered table (a
        ``compact(sort_by=key)``) so stays clustered from batch to batch,
        and the key-range prune keeps touching a few files. Under Spark's
        split packing and the source's hash partitions each output file
        would span the packed files' or the batch's whole key range, and
        after one uniform batch every merge would rewrite most of the
        table. Partitioned tables keep their hash distribution.
        """
        keys = [on] if isinstance(on, str) else list(on)
        read_v, ckw, sx = self._dml_commit_args(branch, wap_id)
        head_commit, live = self._state(read_v)
        fields = head_commit.schemas[str(head_commit.schema_version)]
        # Schema evolution is TRANSACTIONAL: the evolved schema rides the
        # merge's own commit (like Delta's withSchemaEvolution) instead of
        # publishing add-column commits up front — a merge that later
        # fails (conflict, constraint violation, bad expression) must not
        # leave the schema mutated.
        evolved_sv: int | None = None
        evolved_schemas: dict[str, list[Field]] | None = None
        added_cols: list[Field] = []
        if evolve_schema:
            existing = {f.name for f in fields}
            next_id = self._next_field_id(head_commit.schemas)
            for sf in source.schema.fields:
                if (sf.name in existing or sf.name == source_order
                        or sf.name.startswith("__")):
                    continue
                added_cols.append(
                    Field(next_id, sf.name, sf.dataType.simpleString(),
                          True, None)
                )
                next_id += 1
            if added_cols:
                fields = fields + added_cols
                evolved_sv = head_commit.schema_version + 1
                evolved_schemas = dict(head_commit.schemas)
                evolved_schemas[str(evolved_sv)] = fields

        src = source
        if source_order is not None:
            if _one_partition(src):
                # one partition satisfies the window's clustering, so the
                # dedup needs no shuffle and the cached source stays one
                # partition: each broadcast of it is a one-task job
                src = src.coalesce(1)
            w = Window.partitionBy(*keys).orderBy(F.col(source_order).desc())
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        src = src.cache()
        # try/finally: a mid-merge failure (constraint violation,
        # commit conflict) must not leak the cached source past the call
        try:

            hit: set[str] = set()
            candidates = live
            src_rows = 0
            if live:
                # stats-prune candidate files by the source's key range before
                # the semi-join: one tiny agg over the cached micro-batch, then
                # manifest math. At 100 TB the semi-join then scans only files
                # whose key bounds overlap the batch — clustered/partitioned
                # keys touch a sliver of the table instead of all of it.
                from lakeshed.pruning import BoolOp, Comparison

                brow = src.agg(F.count(F.lit(1)).alias("__n"), *[
                    f for k in keys
                    for f in (F.min(F.col(k)).alias(f"__lo_{k}"),
                              F.max(F.col(k)).alias(f"__hi_{k}"))
                ]).first()
                src_rows = brow["__n"]
                node = None
                if brow[f"__lo_{keys[0]}"] is None:  # empty source batch
                    candidates = []
                else:
                    for k in keys:
                        for op, v in ((">=", brow[f"__lo_{k}"]),
                                      ("<=", brow[f"__hi_{k}"])):
                            if isinstance(v, bool) or not isinstance(
                                v, (int, float, str)
                            ):
                                continue  # timestamps etc.: skip, stay MAYBE
                            if isinstance(v, float) and v != v:
                                # NaN key in the batch: F.max sorts NaN
                                # greatest, and 'k <= NaN' is unordered —
                                # building the conjunct refuted EVERY
                                # stats-bearing file and turned the whole
                                # batch's updates into duplicate inserts
                                # (r12 review; pruning.py also guards)
                                continue
                            # ints stay ints: pruning compares exactly
                            # now, so >2^53 keys prune instead of
                            # skipping (the old float round-trip guard)
                            c = Comparison(k, op, v)
                            node = c if node is None else BoolOp("and", node, c)
                    if node is not None:
                        candidates = self._prune(head_commit, live, node)
            if candidates:
                target = self._read_adds(head_commit, candidates,
                                         with_file_path=True)
                key_cond = reduce(
                    lambda a, b: a & b,
                    [target[k] == src[k] for k in keys],
                )
                hit_rows = target.join(src, key_cond, "left_semi")
                for r in hit_rows.select("__file").distinct().collect():
                    hit.add(self._uri_to_rel(r["__file"]))

            hit_adds = [a for a in live if a.path in hit]
            adds: list[AddFile] = []
            target_cols = [f.name for f in fields]

            # three-valued logic everywhere a predicate gates a DELETE: a
            # NULL condition must behave as FALSE (keep the row / don't act),
            # never leak NULL through ~ and silently drop rows
            delete_cond = (
                F.coalesce(F.expr(when_matched_delete), F.lit(False))
                if when_matched_delete else F.lit(False)
            )
            insert_pred = (
                F.lit(True)
                if when_not_matched_insert in ("*", None)
                else F.coalesce(F.expr(when_not_matched_insert), F.lit(False))
            )

            bysrc_active = (
                when_not_matched_by_source_delete is not None
                or when_not_matched_by_source_update is not None
            )

            def apply_by_source(frame: DataFrame, unmatched) -> DataFrame:
                """Apply the by-source DELETE-then-UPDATE actions to a bare
                target-column frame; ``unmatched`` is the boolean Column
                marking target-only rows (lit(True) for files with provably
                no key matches)."""
                if when_not_matched_by_source_delete is not None:
                    frame = frame.where(~(
                        unmatched & F.coalesce(
                            F.expr(when_not_matched_by_source_delete),
                            F.lit(False),
                        )
                    ))
                if when_not_matched_by_source_update is not None:
                    cond = unmatched & F.coalesce(
                        F.expr(when_not_matched_by_source_condition or "true"),
                        F.lit(False),
                    )
                    frame = frame.select(*[
                        F.when(
                            cond,
                            F.expr(when_not_matched_by_source_update[c]),
                        ).otherwise(F.col(f"`{c}`"))
                        .cast(next(f.type for f in fields if f.name == c))
                        .alias(c)
                        if c in when_not_matched_by_source_update
                        else F.col(f"`{c}`")
                        for c in frame.columns
                    ])
                return frame

            rewritten_parts: list[DataFrame] = []
            if hit_adds:
                tgt_hits = self._read_rewrite(head_commit, hit_adds)
                # evolved columns don't exist in the target files yet —
                # surface them as typed NULLs so the rewrite projection and
                # the key anti-join see the full evolved schema
                for f in added_cols:
                    tgt_hits = tgt_hits.withColumn(
                        f.name, F.lit(None).cast(f.type)
                    )
                joined = tgt_hits.alias("t").join(
                    src.alias("s"),
                    reduce(lambda a, b: a & b,
                           [F.col(f"t.`{k}`") == F.col(f"s.`{k}`") for k in keys]),
                    "left",
                )
                match = reduce(lambda a, b: a | b,
                               [F.col(f"s.`{k}`").isNotNull() for k in keys])
                if when_matched_update == "*":
                    upd_cols = {
                        c: F.col(f"s.`{c}`") for c in target_cols
                        if c in src.columns
                    }
                elif when_matched_update is None:
                    upd_cols = {}
                else:
                    upd_cols = {
                        c: F.expr(e) for c, e in when_matched_update.items()
                    }
                surviving = joined.where(~(match & delete_cond))
                proj_cols = [
                    F.when(match, upd_cols[c]).otherwise(F.col(f"t.`{c}`"))
                    .cast(next(f.type for f in fields if f.name == c))
                    .alias(c)
                    if c in upd_cols else F.col(f"t.`{c}`").alias(c)
                    for c in target_cols
                ]
                if not bysrc_active:
                    rewritten_parts.append(surviving.select(*proj_cols))
                else:
                    # by-source actions inside hit files: predicates and
                    # assignments (bare target column names) evaluate on the
                    # projected frame, where names are unambiguous; they
                    # apply to UNMATCHED rows only, whose projected values
                    # are the original target values
                    frame = surviving.select(*proj_cols, match.alias("__matched"))
                    frame = apply_by_source(frame, ~F.col("__matched"))
                    rewritten_parts.append(frame.drop("__matched"))

            bysrc_adds: list[AddFile] = []
            if bysrc_active and live:
                # target-only rows outside the hit set: any live file a
                # by-source predicate can touch may hold rows to act on.
                # Stats pruning bounds the rewrite to each predicate's file
                # set — a full-sync over a time-partitioned table with a
                # bounded predicate rewrites a sliver, not the table. Files
                # outside the source-key candidate set contain NO key
                # matches (the pruning is conservative-keep), so every row
                # here is unmatched by construction.
                pruned: set[str] = set()
                if when_not_matched_by_source_delete is not None:
                    pruned |= {
                        a.path for a in
                        self.plan_files(when_not_matched_by_source_delete,
                                        version=read_v)
                    }
                if when_not_matched_by_source_update is not None:
                    pruned |= {
                        a.path for a in
                        self.plan_files(when_not_matched_by_source_condition,
                                        version=read_v)
                    }
                bysrc_adds = [
                    a for a in live if a.path in pruned and a.path not in hit
                ]
                if bysrc_adds:
                    extra = self._read_rewrite(head_commit, bysrc_adds)
                    for f in added_cols:
                        extra = extra.withColumn(f.name, F.lit(None).cast(f.type))
                    extra = extra.select(*[
                        F.col(f"`{c}`")
                        .cast(next(f.type for f in fields if f.name == c))
                        .alias(c)
                        for c in target_cols
                    ])
                    rewritten_parts.append(apply_by_source(extra, F.lit(True)))

            if when_not_matched_insert is not None:
                # any target key equal to a source key lives in a HIT file (the
                # semi-join put it there), so the anti-join only needs keys from
                # hit files — NOT a full-table scan. At 100 TB this is the
                # difference between reading the touched slice and reading
                # everything.
                if hit_adds:
                    existing_keys = tgt_hits.select(*keys)
                    unmatched = src.alias("s").join(existing_keys, keys,
                                                    "left_anti")
                else:
                    unmatched = src.alias("s")
                inserts = (
                    unmatched
                    .where(insert_pred & ~delete_cond
                           if net_unmatched_deletes else insert_pred)
                    .select(*[
                        F.col(f"`{c}`").cast(
                            next(f.type for f in fields if f.name == c)
                        ).alias(c)
                        for c in target_cols
                    ])
                )
                if live and not head_commit.partition_spec:
                    # the batch's inserts go to key-range files of their
                    # own, about one live file's worth of rows each (and
                    # never more files than a shuffle has partitions, on
                    # a table of tiny files): left in the source's
                    # partitioning, every insert file spans the batch's
                    # whole key range. At one file Spark takes no sample,
                    # so the bounds never depend on the session's history
                    # (above one they come from its sample). The count is
                    # of every source row, matched ones too, so an
                    # upsert-heavy batch splits finer than it needs to.
                    total = sum(a.rows for a in live)
                    k = -(-src_rows * len(live) // max(total, 1))
                    cap = int(self.spark.conf.get(
                        "spark.sql.shuffle.partitions"))
                    inserts = inserts.repartitionByRange(
                        max(1, min(k, cap)), *keys)
                rewritten_parts.append(inserts)

            if rewritten_parts:
                out = reduce(DataFrame.unionByName, rewritten_parts)
                adds = self._write_files(
                    out, head_commit.partition_spec,
                    evolved_sv if evolved_sv is not None
                    else head_commit.schema_version,
                )
        finally:
            src.unpersist()
        summary: dict[str, Any] = {"candidate-files": len(candidates),
                                   "matched-files": len(hit)}
        if added_cols:
            summary["evolved-columns"] = ",".join(
                f.name for f in added_cols
            )
        removes = sorted(hit)
        if bysrc_adds:
            summary["by-source-files"] = len(bysrc_adds)
            removes = sorted(hit | {a.path for a in bysrc_adds})
        return self._commit(
            "merge", adds, removes, **ckw,
            schema_version=evolved_sv, schemas=evolved_schemas,
            summary={**sx, **summary},
        )

    # --------------------------------------------------------- time travel

    def rollback_to_snapshot(self, version: int) -> None:
        """D15 — ``CALL system.rollback_to_snapshot`` (Getting
        Started.ipynb:424): moves the main ref back; history is preserved
        (Iceberg semantics — no data rewritten)."""
        if version not in self._versions():
            raise TableError(f"no snapshot {version}")
        self._mutate_refs(lambda r: r.__setitem__(MAIN, version))

    # ------------------------------------------------------------- branches

    def create_branch(self, name: str, *, at: int | None = None) -> int:
        """D13 — ``ALTER TABLE ... CREATE BRANCH`` (WAP...ipynb:166):
        a branch is a named ref into the same commit DAG — copy-on-write,
        free until written to (WAP...ipynb:157). Returns the fork
        version, resolved under the refs lock."""
        def mut(refs: dict[str, int]) -> None:
            if name in refs:
                raise BranchExistsError(f"branch {name!r} exists")
            if at is None and MAIN not in refs:
                raise TableError(
                    f"unknown branch 'main' for table {self.path}"
                )
            # resolve the fork point INSIDE the lock: reading head()
            # before acquiring it would let a concurrent commit advance
            # main in between, forking the branch below the head its
            # ref write serialized after
            refs[name] = refs[MAIN] if at is None else at

        return self._mutate_refs(mut)[name]

    def drop_branch(self, name: str) -> None:
        if name == MAIN:
            raise TableError("cannot drop main")
        self._mutate_refs(lambda r: r.pop(name, None))

    def drop_branch_if_at(self, name: str, version: int) -> bool:
        """Atomically drop ``name`` ONLY if it still points at
        ``version`` — the compare and the pop happen inside one locked
        refs callback, so a concurrent writer's ref advance can never be
        deleted by a stale cleanup (the auto-created-WAP-branch rollback
        path). Returns whether the branch was dropped."""
        if name == MAIN:
            raise TableError("cannot drop main")
        dropped: list[bool] = []

        def mut(refs: dict[str, int]) -> None:
            if refs.get(name) == version:
                refs.pop(name)
                dropped.append(True)

        self._mutate_refs(mut)
        return bool(dropped)

    def branches(self) -> dict[str, int]:
        return self._refs()

    def fast_forward(self, branch: str) -> None:
        """Publish a branch: point main at the branch head (the WAP publish
        when main has not moved; WAP...ipynb:544 uses cherry-pick).

        FAST-forward only, verified inside the refs lock (Iceberg's
        fast_forward contract): main must be an ancestor of the branch
        head. Without the check, a publish racing a concurrent main
        commit would silently discard that commit from main's lineage —
        the mirror image of the commit-side ref CAS — and a stale branch
        could even move main BACKWARD. When main has diverged, raise;
        the caller re-stages or cherry-picks (as the WAP notebook
        does)."""

        def ff(r: dict[str, int]) -> None:
            if branch not in r:
                # typed, like every other ref mutation (create_branch,
                # head) — a bare KeyError from inside the locked
                # callback would bypass callers catching TableError
                raise TableError(
                    f"no branch {branch!r} on table {self.path}"
                )
            target, cur = r[branch], r.get(MAIN)
            if not self._is_ancestor(cur, target):
                raise CommitConflictError(
                    f"cannot fast-forward main to {branch!r}: main is "
                    f"at {cur}, not an ancestor of {target} (a commit "
                    "landed on main after the branch forked); "
                    "cherry-pick or re-stage instead"
                )
            r[MAIN] = target

        self._mutate_refs(ff)

    def cherrypick_snapshot(self, version: int) -> Commit:
        """D16 — ``CALL system.cherrypick_snapshot`` (Integrated
        Audits...ipynb:394): re-applies one staged commit's file delta onto
        the current main head (metadata-only — data files are shared)."""
        staged = self._read_commit(version)
        return self._commit(
            f"cherrypick-{staged.operation}",
            staged.add,
            staged.remove,
            summary={"cherrypicked-snapshot-id": version},
        )

    # ----------------------------------------------------------- maintenance

    def _zorder_column(self, df: DataFrame, cols: list[str]) -> Column:
        """Interleaved-bit z-value over linearly bucketed columns — the
        space-filling curve behind multi-dimension clustering. Each
        column is scaled to a ``bits``-wide integer bucket between its
        min and max (one 1-row aggregate; numeric and timestamp columns
        — a timestamp casts to epoch seconds), then the bucket bits are
        interleaved so files that cover a narrow z-range cover a narrow
        range in EVERY dimension at once. Pure JVM expression tree (the
        bit loop unrolls in Python, like the SimHash kernel); NULLs and
        constant columns land in bucket 0."""
        ncols = len(cols)
        bits = min(16, 60 // ncols)
        aggs = []
        for c in cols:
            d = F.col(c).cast("double")
            aggs += [F.min(d).alias(f"lo_{c}"), F.max(d).alias(f"hi_{c}")]
        row = df.agg(*aggs).first()
        buckets: list[Column] = []
        top = (1 << bits) - 1
        for c in cols:
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            if lo is None or hi is None or hi <= lo:
                buckets.append(F.lit(0).cast("long"))
                continue
            d = F.col(c).cast("double")
            b = F.floor(
                (d - F.lit(float(lo))) / F.lit(float(hi - lo)) * (1 << bits)
            )
            b = F.least(F.lit(top).cast("long"),
                        F.greatest(F.lit(0).cast("long"), b))
            buckets.append(F.coalesce(b, F.lit(0).cast("long")))
        z = F.lit(0).cast("long")
        for j in range(bits):
            for i, b in enumerate(buckets):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(b, j).bitwiseAND(F.lit(1)),
                        j * ncols + i,
                    )
                )
        return z

    def compact(self, target_size_bytes: int = 128 * 1024 * 1024,
                sort_by: str | list[str] | None = None,
                zorder_by: str | list[str] | None = None) -> Commit:
        """D18 — ``rewrite_data_files`` (Table Maintenance...ipynb:119):
        rewrite live files into ~target-size files. One distributed
        read+repartition+write; commit swaps the whole file set.

        ``sort_by`` clusters the rewrite (the ``rewrite_data_files(
        strategy => 'sort')`` analog): rows are range-partitioned then
        sorted within files on the given column(s), so each file covers
        a narrow value range and the per-file min/max stats prune scans
        on those columns — the lever that turns a full-corpus scan into
        a few-file read at 100 TB. ``repartitionByRange`` samples the
        column to build balanced range bounds (one extra pass over the
        data, standard for a rewrite).

        ``zorder_by`` is the multi-dimension variant (Delta ``OPTIMIZE
        ZORDER BY`` / Iceberg sort-order ``zorder()``): lexicographic
        sort clusters only its leading column, so a predicate on the
        second column still reads every file — the z-curve interleaves
        the dimensions' bits and clusters ALL of them at once, each file
        covering a small hyper-rectangle; stats pruning then works for
        predicates on ANY z-ordered column (tests assert the pruned
        file-set shrinks on both)."""
        if sort_by is not None and zorder_by is not None:
            raise TableError("pass sort_by or zorder_by, not both")
        # pinned: compaction has the LONGEST read-to-commit window of any
        # op (a full corpus rewrite); its remove set and rewritten rows
        # are both derived from `head`, so a concurrent delete landing
        # mid-rewrite must conflict — floating would remove only the old
        # files and resurrect the deleted rows from compact's adds
        head = self.head()
        head_commit, live = self._state(head)
        total = sum(a.bytes for a in live)
        n = max(1, -(-total // target_size_bytes))  # ceil
        # Compaction shapes its own distribution, so _write_files' default
        # hash repartition must NOT run afterwards: on a partitioned table
        # it would re-shuffle the range-partitioned+sorted output by
        # partition value, silently destroying the sort/z-order clustering
        # (and the target-files count) this operation promises. The
        # size-only path on a partitioned table instead DELEGATES to the
        # hash distribution (file count of a partitioned compaction tracks
        # partitions, and a prior repartition(n) would only be undone).
        dist = "none"
        if zorder_by is not None:
            zcols = [zorder_by] if isinstance(zorder_by, str) \
                else list(zorder_by)
            # The file bounds are quantiles of Spark's RangePartitioner
            # sample, which is seeded by the input RDD's id: at Spark's
            # default of 100 samples per file the same table z-ordered
            # into different files depending on how many RDDs the session
            # had made (a 10%-range probe on the first column read 5 to 7
            # of 12 files). A hint of rows/files samples every row —
            # Spark caps the sample at 1e6 — so a table that size gets
            # its exact quantiles. Set on a clone: the caller's session
            # conf is never written.
            rows = sum(a.rows for a in live)
            base = LakeTable(session_with(self.spark, {
                "spark.sql.execution.rangeExchange.sampleSizePerPartition":
                    str(max(100, -(-rows // n)))}),
                self.path)._read_adds(head_commit, live)
            df = (
                base.withColumn("__z", self._zorder_column(base, zcols))
                .repartitionByRange(n, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by is not None:
            cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            df = (
                self._read_adds(head_commit, live)
                .repartitionByRange(n, *cols)
                .sortWithinPartitions(*cols)
            )
        elif head_commit.partition_spec:
            df = self._read_adds(head_commit, live)
            dist = "hash"
        else:
            df = self._read_adds(head_commit, live).repartition(n)
        adds = self._write_files(
            df, head_commit.partition_spec, head_commit.schema_version,
            distribution_mode=dist,
        )
        # Commit metadata records what actually ran: the size-only path on
        # a partitioned table delegates to hash distribution, where n is
        # NOT the operative file count (files track partition values) —
        # recording "target-files": n there would be misleading.
        summary = {"rewritten-bytes": total, "distribution": dist}
        if dist != "hash":
            summary["target-files"] = n
        if sort_by is not None:
            summary["sort-by"] = ",".join(cols)
        if zorder_by is not None:
            summary["zorder-by"] = ",".join(zcols)
        return self._commit(
            "rewrite-data-files", adds, [a.path for a in live],
            summary=summary, **self._pinned(head),
        )

    def rewrite_manifests(self) -> int:
        """D19 — ``CALL rewrite_manifests`` (Table Maintenance...ipynb:189):
        compact the table's metadata by checkpointing the current head, so
        later reads replay O(1) log files instead of the whole chain. Data
        files untouched; history preserved. Returns the checkpointed
        version."""
        head = self.head()
        self._write_checkpoint(head)
        return head

    def expire_snapshots(self, *, older_than_ms: int | None = None,
                         retain_last: int = 1) -> list[int]:
        """D17 — ``expire_snapshots`` (Table Maintenance...ipynb:157):
        drop expired commits, squash their net state into the oldest
        retained commit, and GC data files no retained commit references."""
        if retain_last < 1:
            # retain_last=0 would keep NOTHING reachable and delete the
            # table out from under its own refs (Iceberg rejects <1 too)
            raise TableError("retain_last must be >= 1")
        now = self._now_ms()
        cutoff = now if older_than_ms is None else older_than_ms
        versions = self._versions()
        refs = self._refs()
        keep: set[int] = set()
        # never expire anything reachable within retain_last of any ref,
        # or newer than the cutoff. RAW lineage (strict: a keep set
        # truncated by an unreadable commit must fail closed — this walk
        # feeds DELETION), not the checkpoint-truncated _chain: _chain
        # stops at the newest auto-checkpoint (every 20 commits), which
        # would silently cap retain_last at the checkpoint distance and
        # expire newer-than-cutoff commits below it. Lineage also hops
        # across prior squashes. `processed` memoizes shared suffixes:
        # once a ref's walk reaches a version an earlier walk fully
        # processed (and is past its own retain_last window), the rules
        # were already applied below — skip the re-read.
        processed: set[int] = set()
        for head in refs.values():
            for i, c in enumerate(self._lineage(head, strict=True)):
                if i < retain_last or c.timestamp_ms >= cutoff:
                    keep.add(c.version)
                if i >= retain_last and c.version in processed:
                    break
                processed.add(c.version)
        expired = [v for v in versions if v not in keep]
        # in-flight protection: a commit file ABOVE its own branch ref
        # that was written moments ago is a commit mid-protocol (the
        # file lands before the ref CAS) — deleting it would destroy
        # acknowledged data the instant the CAS succeeds. Such
        # candidates get a grace window; unreadable candidates (torn
        # writes mid-json.dump) get the same grace, then GC as debris.
        grace_ms = 10 * 60 * 1000

        def _in_flight(v: int) -> bool:
            try:
                age = now - int(os.path.getmtime(self._commit_path(v))
                                * 1000)
            except OSError:
                return True  # vanished mid-run: someone else owns it
            if age >= grace_ms:
                return False
            try:
                c = self._read_commit(v)
            except TableError:
                # missing or corrupt (both arrive typed from
                # _read_commit since r10)
                return True  # fresh torn file: may still be mid-write
            r = refs.get(c.branch)
            return r is not None and r < v

        expired = [v for v in expired if not _in_flight(v)]
        # transitive in-flight protection (r10, found by the lineage
        # model test): a protected survivor's chain must stay fully
        # resolvable for its grace window — expiring an ancestor out
        # from under it leaves a LIVE, listed commit whose state cannot
        # be reconstructed (VERSION AS OF dangles), and whose ref CAS,
        # if it lands, would publish a dangling head. Walk each
        # survivor's lineage (hop-aware, so prior-squash skp targets
        # are protected too) and unexpire everything on it.
        expired_set = set(expired)
        shielded: set[int] = set()  # memo: suffixes already walked
        for sv in versions:
            if sv in keep or sv in expired_set:
                continue
            walked_any = False
            try:
                for c in self._lineage(sv):
                    walked_any = True
                    if c.version in shielded:
                        break  # everything below was already unexpired
                    shielded.add(c.version)
                    expired_set.discard(c.version)
            except TableError:
                if walked_any:
                    # the survivor itself was readable but an ANCESTOR is
                    # corrupt — real damage past any mid-write state;
                    # report it loudly (pre-r10 behavior), never GC over it
                    raise
                # the survivor ITSELF is unreadable: a torn mid-write
                # commit inside its _in_flight grace. Its chain cannot be
                # vouched for, so expiring ANYTHING now could delete
                # history out from under the writer that is about to
                # publish it. Fail closed: pause GC entirely; after the
                # grace window the torn file is treated as debris and the
                # next run proceeds. Never silently (repo precedent:
                # the flock fallback warns) — [] must not read as
                # "nothing eligible".
                warnings.warn(
                    f"expire_snapshots paused: commit {sv} under "
                    f"{self.log_dir} is unreadable and within its "
                    "in-flight grace window; nothing expired this run",
                    RuntimeWarning, stacklevel=2)
                return []
        expired = [v for v in expired if v in expired_set]
        # debris sweep: a crashed squash/checkpoint writer leaves a
        # uuid-suffixed *.tmp in the log dir forever (nothing else
        # globs them); remove those older than the grace window
        for p in (glob.glob(os.path.join(self.log_dir, "*.tmp"))
                  + glob.glob(os.path.join(self.log_dir, ".*.tmp"))):
            try:
                if now - int(os.path.getmtime(p) * 1000) >= grace_ms:
                    os.remove(p)
            except OSError:
                pass  # concurrent sweep or mid-write: leave it
        if not expired:
            return []
        # referenced files across ALL surviving commits' live sets — kept
        # AND in-flight-protected (r10: a protected cherrypick can share
        # a data file with an expired original; GC keyed on `keep` alone
        # would delete it out from under the survivor's live state).
        # Computed BEFORE the squash rewrites (r10 review wave 4): state
        # replay reads CHECKPOINT files the raw-lineage walks above never
        # validated, so this is the last read that can still fail — and
        # it must fail CLOSED before any file is mutated, not after.
        referenced: set[str] = set()
        live_by_v: dict[int, list[AddFile]] = {}
        # ascending iteration + the _state memo make this sweep
        # incremental: each survivor replays only the commits between
        # itself and its nearest already-replayed ancestor — O(total
        # commits) JSON reads for the whole sweep, not O(survivors ×
        # chain length) (r10 ADVICE)
        state_memo: dict[int, tuple[Commit, dict[str, AddFile]]] = {}
        # keep ∪ versions, not just versions: a commit that landed
        # between the _versions() glob and the _refs() read is in keep
        # only — its references protect the acknowledged head (r10 wave
        # 8: a racing cherrypick shares data files with expired commits)
        for v in sorted(set(versions) | keep):
            if v in expired_set:
                continue
            try:
                _, live = self._state(v, _memo=state_memo)
            except TableError:
                if v in keep:
                    raise  # a kept commit must be readable — fail closed
                # a SURVIVOR whose state cannot be replayed (corrupt
                # checkpoint on its chain, or a racing maintenance run
                # deleted it after our in-flight check): its file
                # references are unknown, so GC could delete data its
                # acknowledged state needs — pause the whole expiry
                # (nothing mutated yet); a vanished survivor resolves
                # by the next run, a corrupt checkpoint surfaces via
                # the read path's own error
                warnings.warn(
                    f"expire_snapshots paused: state of surviving "
                    f"commit {v} under {self.log_dir} cannot be "
                    "replayed; nothing expired this run",
                    RuntimeWarning, stacklevel=2)
                return []
            if v in keep:
                # only kept commits are re-read by the squash loop; do
                # not retain every survivor's AddFile list
                live_by_v[v] = live
            referenced.update(a.path for a in live)
        # squash: rewrite each kept commit whose parent is expired into a
        # full-state checkpoint commit (same version number, same live set)
        for v in sorted(keep):
            c = self._read_commit(v)
            old_skp = c.summary.get("squashed-kept-parent")
            fresh_squash = c.parent is not None and c.parent in expired_set
            # a PRIOR squash whose recorded kept-parent this run expires
            # must be re-resolved too — otherwise the hop dangles and
            # ancestry walks fail closed after two maintenance cycles
            stale_hop = (
                c.parent is None
                and old_skp is not None
                and int(old_skp) in expired_set
            )
            if fresh_squash or stale_hop:
                # already replayed by the referenced loop (which covers
                # keep ∪ versions and either fills this dict for every
                # kept commit, raises, or pauses the expiry); squash
                # preserves live sets by construction
                live = live_by_v[v]
                # nearest RETAINED ancestor below the squash point,
                # resolved NOW while the expired chain is still readable
                # — ancestry walks (fast_forward's ancestor check, the
                # sibling guard's reachable set, TIMESTAMP AS OF,
                # history) hop across the squash via this instead of
                # misreading it as a root
                start = c.parent if fresh_squash else int(old_skp)
                # bounded, hop-aware walk (a cycle-pointing skp must not
                # hang maintenance); a dangling start (expired by older
                # code) just yields no kept ancestor. Nearest SURVIVING
                # ancestor — kept OR in-flight-protected (r10, lineage
                # model test: accepting only `keep` members made the hop
                # skip a live protected ancestor, so lineage answers
                # changed for versions that were never expired)
                kp = next(
                    (a.version for a in self._lineage(start)
                     if a.version not in expired_set),
                    None,
                )
                summary = {**c.summary}
                if fresh_squash:
                    summary["squashed-below"] = c.parent
                summary.pop("squashed-kept-parent", None)
                if kp is not None:
                    summary["squashed-kept-parent"] = kp
                squashed = Commit(
                    version=c.version, parent=None, branch=c.branch,
                    operation=c.operation, timestamp_ms=c.timestamp_ms,
                    schema_version=c.schema_version, schemas=c.schemas,
                    partition_spec=c.partition_spec, add=live, remove=[],
                    properties=c.properties,
                    summary=summary,
                )
                # uuid-suffixed like _write_checkpoint: two concurrent
                # expiries squashing the same kept commit must not
                # interleave writes into one shared tmp file
                tmp = self._commit_path(v) + f".{uuid.uuid4().hex}.tmp"
                with open(tmp, "w") as fh:
                    json.dump(squashed.to_json(), fh)
                os.replace(tmp, self._commit_path(v))
        for v in expired:
            try:
                adds = self._read_commit(v).add
            except TableError:
                # torn/corrupt debris (e.g. a 0-byte file from a crashed
                # writer, past the grace window): no trustworthy file
                # list — still remove the commit file itself, or every
                # future expire run aborts on the same orphan; any data
                # files it wrote are swept by remove_orphan_files
                adds = []
            # every removal tolerates already-gone files: two concurrent
            # expire runs both pass the in-flight check, and the loser
            # must not crash mid-GC (leaving a partially-expired log)
            # just because the winner removed the same commit/checkpoint
            # first — exists()+remove() is a TOCTOU race, suppress is not
            for a in adds:
                if a.path not in referenced:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(self.path, a.path))
            with contextlib.suppress(FileNotFoundError):
                os.remove(self._commit_path(v))
            with contextlib.suppress(FileNotFoundError):
                os.remove(self._checkpoint_path(v))
        return expired

    def remove_orphan_files(self, *,
                            older_than_timestamp_ms: int | None = None,
                            max_age_ms: int | None = None) -> list[str]:
        """Iceberg's ``remove_orphan_files``: delete data files NO commit
        references — the debris of failed writers. Files are written
        before the commit publishes (SURVEY §3.2 step 4), so a job that
        dies between write and commit — or loses the commit race — leaves
        its files stranded: invisible to every read, never GC'd by
        ``expire_snapshots`` (which walks commits), silently accumulating
        storage. Only files modified at or before the cutoff (default:
        24 h ago) are removed, so an IN-FLIGHT writer's fresh,
        not-yet-committed files survive the sweep — the same grace-window
        contract as Iceberg's ``older_than`` (its default is 3 days).

        ``older_than_timestamp_ms`` is an ABSOLUTE epoch-ms cutoff;
        ``max_age_ms`` is a relative duration (cutoff = now − max_age).
        Passing a duration where the absolute form is expected would set
        the cutoff near 1970 and delete a mid-commit writer's seconds-old
        files, so implausibly-small absolute cutoffs are rejected.
        Returns the deleted relative paths."""
        if older_than_timestamp_ms is not None and max_age_ms is not None:
            raise ValueError(
                "pass older_than_timestamp_ms OR max_age_ms, not both")
        now = self._now_ms()
        if max_age_ms is not None:
            cutoff = now - max_age_ms
        elif older_than_timestamp_ms is None:
            cutoff = now - 24 * 3600 * 1000
        else:
            # epoch-ms for 2000-01-01; any smaller "timestamp" is almost
            # certainly a duration passed by mistake, and an all-history
            # sweep is exactly the destructive outcome the grace window
            # exists to prevent
            if older_than_timestamp_ms < 946_684_800_000:
                raise ValueError(
                    f"older_than_timestamp_ms={older_than_timestamp_ms} "
                    "predates 2000-01-01 — this looks like a duration; "
                    "pass max_age_ms for a relative cutoff")
            cutoff = older_than_timestamp_ms
        referenced: set[str] = set()
        for v in self._versions():
            try:
                adds = self._read_commit(v).add
            except TableError:
                # vanished mid-run (concurrent expire — its own sweep
                # covered what it kept) is tolerable; CORRUPTION is not:
                # an unreadable live commit has UNKNOWN references, and
                # sweeping without them could delete its data. Fail
                # closed, typed, like expire_snapshots (r10 wave 10).
                if os.path.exists(self._commit_path(v)):
                    raise
                continue
            for a in adds:
                referenced.add(a.path)
            snap = self._read_checkpoint(v)
            if snap is not None:
                referenced.update(a.path for a in snap.add)
        removed: list[str] = []
        for abs_p in glob.glob(
            os.path.join(self.path, "data", "**", "*.parquet"),
            recursive=True,
        ):
            rel = os.path.relpath(abs_p, self.path)
            if rel in referenced:
                continue
            if os.path.getmtime(abs_p) * 1000 > cutoff:
                continue  # grace window: maybe a writer mid-commit
            os.remove(abs_p)
            removed.append(rel)
        return sorted(removed)

    # ------------------------------------------------------ metadata tables

    def snapshots(self) -> DataFrame:
        """S7 — ``SELECT * FROM t.snapshots`` (Getting Started.ipynb:346)."""
        rows = []
        for v in self._versions():
            c = self._read_commit(v)
            rows.append((
                c.timestamp_ms, c.version, c.parent, c.branch, c.operation,
                {k: str(vv) for k, vv in c.summary.items()},
            ))
        return self.spark.createDataFrame(
            rows,
            "committed_at_ms bigint, snapshot_id bigint, parent_id bigint, "
            "branch string, operation string, summary map<string,string>",
        )

    def history(self) -> DataFrame:
        """S7 — ``t.history`` (Getting Started.ipynb:390): main-lineage view
        with is_current_ancestor, so rolled-back snapshots show false.
        Lineage is squash-aware: a retained true ancestor below an
        expiry squash still reports is_current_ancestor=True (the
        state-replay _chain stops at the squash by design, so ancestry
        walks the hop chain instead)."""
        ancestors = {c.version for c in self._lineage(self.head())}
        rows = []
        for v in self._versions():
            c = self._read_commit(v)
            rows.append(
                (c.timestamp_ms, c.version, c.parent, v in ancestors)
            )
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms bigint, snapshot_id bigint, "
            "parent_id bigint, is_current_ancestor boolean",
        )

    def files(self) -> DataFrame:
        """S7 — ``t.files`` (Getting Started.ipynb:367) incl. the stats maps
        the notebook selects (record_count, null_value_counts, bounds)."""
        _, live = self._state(self.head())
        rows = [
            (a.path, "PARQUET", a.rows, a.bytes,
             {k: int(v) for k, v in a.null_counts.items()},
             a.lower_bounds, a.upper_bounds)
            for a in sorted(live, key=lambda x: x.path)
        ]
        return self.spark.createDataFrame(
            rows,
            "file_path string, file_format string, record_count bigint, "
            "file_size_in_bytes bigint, null_value_counts map<string,bigint>, "
            "lower_bounds map<string,string>, upper_bounds map<string,string>",
        )

    def manifests(self) -> DataFrame:
        """S7 — ``t.manifests`` (Iceberg - Berlin Buzzwords 2023.ipynb:209).
        Iceberg's manifests are avro file-listing segments; this format's
        equivalents are the per-version commit JSONs (delta manifests:
        added/deleted file entries) and the checkpoint JSONs written by
        :meth:`rewrite_manifests` (full manifests: every live file as an
        EXISTING entry). Columns follow Iceberg's metadata relation —
        path/length/added_snapshot_id, the added/existing/deleted file
        counts, and per-partition-column value summaries
        (``contains_null`` + lower/upper bound) over the entries each
        manifest carries."""
        summary_t = ("array<struct<field:string,contains_null:boolean,"
                     "lower_bound:string,upper_bound:string>>")

        def _summaries(adds: list[AddFile]) -> list[tuple]:
            per: dict[str, list[str]] = {}
            saw_null: dict[str, bool] = {}
            for a in adds:
                vals = self._partition_values(a.path)
                for k, v in vals.items():
                    if v == "__HIVE_DEFAULT_PARTITION__":
                        saw_null[k] = True
                        per.setdefault(k, [])
                    else:
                        per.setdefault(k, []).append(v)
                        saw_null.setdefault(k, False)
            def _bounds(vs: list[str]) -> tuple[str | None, str | None]:
                if not vs:
                    return None, None
                try:  # numeric partition values: '10' must sort above '9'
                    key = sorted(vs, key=float)
                except ValueError:
                    key = sorted(vs)
                return key[0], key[-1]

            return [
                (k, saw_null.get(k, False), *_bounds(vs))
                for k, vs in sorted(per.items())
            ]

        rows = []
        for v in self._versions():
            c = self._read_commit(v)
            path = self._commit_path(v)
            rows.append((
                path, os.path.getsize(path), v,
                len(c.add), 0, len(c.remove), _summaries(c.add),
            ))
            snap = self._read_checkpoint(v)
            if snap is not None:
                cp = self._checkpoint_path(v)
                rows.append((
                    cp, os.path.getsize(cp), v,
                    0, len(snap.add), 0, _summaries(snap.add),
                ))
        return self.spark.createDataFrame(
            rows,
            "path string, length bigint, added_snapshot_id bigint, "
            "added_data_files_count int, existing_data_files_count int, "
            f"deleted_data_files_count int, partition_summaries {summary_t}",
        )

    def refs(self) -> DataFrame:
        """S7 — ``t.refs`` (WAP...ipynb:508)."""
        rows = [(name, "BRANCH", v) for name, v in sorted(self._refs().items())]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id bigint"
        )

    def partitions(self) -> DataFrame:
        """S7 — ``t.partitions`` (Berlin Buzzwords.ipynb:255): live files
        rolled up by partition value (derived from file paths)."""
        _, live = self._state(self.head())
        rows = [
            (json.dumps(self._partition_values(a.path), sort_keys=True),
             a.rows, a.bytes)
            for a in live
        ]
        agg: dict[str, list[int]] = {}
        for p, r, b in rows:
            cur = agg.setdefault(p, [0, 0, 0])
            cur[0] += r
            cur[1] += b
            cur[2] += 1
        out = [(p, v[0], v[1], v[2]) for p, v in sorted(agg.items())]
        return self.spark.createDataFrame(
            out,
            "partition string, record_count bigint, "
            "total_size_in_bytes bigint, file_count bigint",
        )

    def describe(self) -> DataFrame:
        """D5 — DESCRIBE EXTENDED (Getting Started.ipynb:88)."""
        c = self._read_commit(self.head())
        rows = [
            (f.name, f.type, f.comment) for f in c.schemas[str(c.schema_version)]
        ]
        rows.append(("", "", None))
        rows.append(("# Partitioning", ", ".join(c.partition_spec) or "none",
                     None))
        rows.append(("# Location", self.path, None))
        rows.append(("# Properties", json.dumps(c.properties), None))
        rows.append(("# Current snapshot", str(self.head()), None))
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, comment string"
        )
