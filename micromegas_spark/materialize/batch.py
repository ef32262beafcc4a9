"""Incremental batch materialization — the reference's SqlBatchView +
batch_update machinery (SURVEY §3.3) rebuilt on plain Spark + parquet.

Semantics preserved from the reference:

- A view is a (count_query, extract_query, merge_query) triple with
  {begin}/{end} placeholders (sql_batch_view.rs:243-293; log_stats_view.rs
  is the canonical instance).
- Data is bucketed by **insert_time**; late events land in new insert
  buckets — freshness is re-checked by comparing the count_query result
  (source hash ≈ sum of source object counts) against the hash recorded for
  the partition; mismatch → recreate (batch_update.rs:23-100, esp. 81-88).
  There is NO watermark-style row dropping (SURVEY §2.9).
- Each partition also records min/max **event time** for query-range
  pruning (migration.rs:117-131): reads prune partitions whose event-time
  range doesn't overlap the query range, then re-apply the row-level filter
  (the 'inexact pushdown' contract, materialized_view.rs:99-107).
- merge_query re-aggregates N small partitions into one; aggregates must be
  composable — sum(count), not count(*) (sql_batch_view.rs:170-175).
- Views carry an update_group so derived views materialize after their
  sources (blocks=1000 → log/measures=2000 → log_stats=3000,
  log_stats_view.rs:75).

Spark-first choices: partitions are parquet directories under
``<warehouse>/<view>/<begin>_<end>_<token>/`` — written ONCE at a unique,
never-reused path, then committed by the per-view manifest commit; the
manifest is the single atomicity point, exactly the reference's shape
(data to object storage at a unique key, visibility via the catalog's
transactional retire+insert — write_partition.rs:626-910 — never via
rename). Readers only open paths the manifest lists, so a half-written
partition is unreachable by construction, on POSIX and object stores
alike; the warehouse root may be a plain path or any URI Spark and
pyarrow.fs both speak (``file://``, ``s3a://``, ``hdfs://`` — fslayer.py).
The catalog is a chain of generation-numbered parquet files per view
(``<view>.g<gen>.parquet``) and a commit is a compare-and-swap: read
generation v, put-if-absent claim of v+1, retry-reapplying the mutation's
DELTA on the winner's state after a lost race (_commit_manifest /
_commit_delta) — the multi-writer arbitration the reference gets from
Postgres transactions, without a database. The commit also owns
deletion: _commit_delta deletes the directories of the partitions it
dropped once they are unreachable, so every mutation (materialize,
merge, retire, a JIT instance's rebuild) retires files in that one place.

Engine's per-stream JIT view instances are ordinary views of this
catalog, one per (view_set, instance), named by instance_view — the
reference's lakehouse_partitions likewise holds global and per-instance
partitions in one table. Every partition records its Spark schema, so a
read is ``spark.read.schema(recorded).parquet(selected partition dirs)``
(_scan): Catalyst sees plain parquet with full pushdown, and planning
runs no schema-inference job.
"""

from __future__ import annotations

import hashlib
import json
import math
import operator
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from micromegas_spark.flightsql.errors import InvalidArgument
from micromegas_spark.session import clone_session, sync_conf


@dataclass
class BatchViewSpec:
    """(count, extract, merge) SQL triple. Queries may reference any table
    registered in the session; {begin}/{end} are epoch-ns integers splicing
    the insert-time bucket bounds."""

    name: str
    count_query: str
    extract_query: str
    merge_query: str  # over a temp view named `source`
    time_column: str  # event-time column of the extract output (ns BIGINT)
    update_group: int = 2000

    def source_hash(self, spark: SparkSession, begin_ns: int, end_ns: int) -> int:
        row = spark.sql(self.count_query.format(begin=begin_ns, end=end_ns)).collect()[0]
        return int(row[0] or 0)

    def extract(self, spark: SparkSession, begin_ns: int, end_ns: int) -> DataFrame:
        return spark.sql(self.extract_query.format(begin=begin_ns, end=end_ns))


# The canonical instance: log_stats = 1-minute pre-aggregation of
# log_entries (log_stats_view.rs:18-59). count_query hashes source state by
# insert_time; merge re-aggregates with sum(count).
LOG_STATS = BatchViewSpec(
    name="log_stats",
    count_query="""
        SELECT COALESCE(SUM(nb_objects), 0) AS src
        FROM blocks
        WHERE array_contains(tags, 'log')
          AND insert_time_ns >= {begin} AND insert_time_ns < {end}
    """,
    extract_query="""
        SELECT time_ns - time_ns % 60000000000 AS time_bin_ns,
               process_id, level, target, COUNT(*) AS count
        FROM log_entries
        WHERE insert_time_ns >= {begin} AND insert_time_ns < {end}
        GROUP BY 1, 2, 3, 4
    """,
    merge_query="""
        SELECT time_bin_ns, process_id, level, target, SUM(count) AS count
        FROM source
        GROUP BY time_bin_ns, process_id, level, target
    """,
    time_column="time_bin_ns",
    update_group=3000,
)


# Sketch-typed instance: hourly DISTINCT emitting processes per level.
# Plain counts can't compose across partitions for COUNT DISTINCT; a
# DataSketches HLL column can — extract writes binary sketch partials to
# parquet, merge re-unions them (the same composable-aggregate contract as
# LOG_STATS's sum(count), sql_batch_view.rs:170-175, extended to distinct
# counting). Readers estimate with hll_sketch_estimate(proc_sketch).
PROC_STATS = BatchViewSpec(
    name="proc_stats",
    count_query="""
        SELECT COALESCE(SUM(nb_objects), 0) AS src
        FROM blocks
        WHERE array_contains(tags, 'log')
          AND insert_time_ns >= {begin} AND insert_time_ns < {end}
    """,
    extract_query="""
        SELECT time_ns - time_ns % 3600000000000 AS time_bin_ns,
               level,
               hll_sketch_agg(process_id, 16) AS proc_sketch,
               COUNT(*) AS count
        FROM log_entries
        WHERE insert_time_ns >= {begin} AND insert_time_ns < {end}
        GROUP BY 1, 2
    """,
    # lgK=16 on the partials (not the default 12): hll_union_agg adopts
    # the partials' lgConfigK, so the MATERIALIZED precision is the merged
    # precision — RSE 0.41% at 64 KB worst-case dense sketch size per
    # parquet row (lgK=20's 0.10% costs 1 MB dense/row, the wrong trade
    # for a stats table written once per hour x level at 100 TB)
    # allowDifferentLgConfigK=true: a warehouse materialized before the
    # lgK=16 upgrade holds lgK=12 partials; the union must keep merging
    # them (it downgrades to the smallest lgConfigK among inputs) instead
    # of failing the first post-upgrade merge. New partitions converge to
    # 16 as old ones retire.
    merge_query="""
        SELECT time_bin_ns, level,
               hll_union_agg(proc_sketch, true) AS proc_sketch,
               SUM(count) AS count
        FROM source
        GROUP BY time_bin_ns, level
    """,
    time_column="time_bin_ns",
    update_group=3000,
)


def instance_view(view_set: str, instance: str) -> str:
    """The catalog view holding one JIT instance's partitions: the
    sanitized (view_set, instance) for readability, truncated to keep file
    names short, plus a stable hash of the exact pair, so distinct pairs
    ('a/b' vs 'a_b') never share a view. Only [A-Za-z0-9_] appear, so no
    instance string can place a file outside ``<warehouse>/<view>/`` or
    ``_partitions/``."""
    tag = hashlib.sha1(f"{view_set}\x00{instance}".encode("utf-8")).hexdigest()[:8]
    return re.sub(r"[^A-Za-z0-9_]", "_", f"{view_set}__{instance}")[:96] + "_" + tag


@dataclass
class Partition:
    begin_insert_ns: int
    end_insert_ns: int
    source_hash: int
    min_event_ns: int
    max_event_ns: int
    path: str
    updated_unix: float = field(default_factory=time.time)
    # schema fingerprint of the written rows; "" on pre-upgrade manifests.
    # The reference versions every view schema and hides partitions whose
    # recorded hash mismatches the current one (SCHEMA_VERSION constants,
    # log_view.rs:37; materialized_view.rs:74-83 hash mismatch → rebuild).
    schema_hash: str = ""
    # per-column [min, max] of orderable columns (numeric/string), collected
    # in the same job as the event-time bounds at write time. Delta-style
    # data skipping beyond the reference's time-only pruning
    # (partition_cache.rs prunes on insert/event time alone): at 100 TB a
    # catalog filter on e.g. process_id is the difference between opening
    # every partition file and only those whose range can match. {} on
    # pre-upgrade manifests — missing stats never prune (safe default).
    column_stats: dict = field(default_factory=dict)
    # Spark schema of the written rows (StructType JSON), so reads skip
    # footer inference; "" on pre-upgrade manifests
    schema_json: str = ""


def _bounds_and_stats(df: DataFrame, time_column: str):
    """Event-time bounds + per-column [min, max] for orderable primitive
    columns in one aggregation job. Dates/timestamps are excluded (not
    JSON-serializable in the manifest); non-finite float endpoints (NaN —
    Spark's max orders it largest — or ±Inf) drop that column's stats
    entirely, because a NaN bound would make every skipping comparison
    False and silently prune partitions that DO contain matching rows —
    missing stats never prune."""
    stat_cols = [
        f.name
        for f in df.schema.fields
        if f.name != time_column
        and f.dataType.simpleString()
        in ("int", "bigint", "smallint", "tinyint", "float", "double", "string")
    ]
    aggs = [F.min(time_column).alias("mn"), F.max(time_column).alias("mx")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    bounds = df.agg(*aggs).collect()[0]

    def usable(v):
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return False
        # long string endpoints (message/text columns) would bloat the JSON
        # manifest unboundedly — drop that column's stats rather than store
        # multi-KB values per partition. (Delta truncates to a 32-char
        # prefix with an incremented max; dropping is the simpler safe
        # choice — missing stats never prune.)
        if isinstance(v, str) and len(v) > 64:
            return False
        return True

    column_stats = {
        c: [bounds[f"_mn_{c}"], bounds[f"_mx_{c}"]]
        for c in stat_cols
        if bounds[f"_mn_{c}"] is not None
        and usable(bounds[f"_mn_{c}"])
        and usable(bounds[f"_mx_{c}"])
    }
    return bounds, column_stats


def schema_fingerprint(df: DataFrame) -> str:
    """Deterministic fingerprint of a DataFrame's schema (name:type pairs,
    order-sensitive like the reference's Arrow schema hash)."""
    canon = ";".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields)
    return hashlib.md5(canon.encode()).hexdigest()[:16]


def _write_partition(df: DataFrame, time_column: str, out_dir: str):
    """Write ``df`` once to ``out_dir`` and return its event-time bounds
    and column stats, aggregated over the written files: the extract,
    merge or JIT builder behind ``df`` runs once, and AQE still sizes
    the write (a persisted plan would pin the shuffle's partition count,
    one small file per shuffle partition)."""
    df.write.mode("overwrite").parquet(out_dir)
    written = df.sparkSession.read.schema(df.schema).parquet(out_dir)
    return _bounds_and_stats(written, time_column)


def _scan(spark: SparkSession, parts: list["Partition"]) -> DataFrame:
    """The one reader of catalog partitions: the recorded Spark schema
    when every partition records the same one (no footer reads, no
    inference job), inference otherwise."""
    paths = [p.path for p in parts]
    schemas = {p.schema_json for p in parts}
    if len(schemas) == 1 and "" not in schemas:
        recorded = StructType.fromJson(json.loads(schemas.pop()))
        return spark.read.schema(recorded).parquet(*paths)
    return spark.read.parquet(*paths)


def _typed_empty(spark: SparkSession, live: list["Partition"]) -> DataFrame:
    """The read of a range no partition covers: the schema of one of the
    view's ``live`` partitions with every row filtered out, so column
    references still resolve; schema-less only when the view has none."""
    if not live:
        return spark.range(0).select()
    return _scan(spark, live[:1]).where(F.lit(False))


# Column-predicate operators of Lakehouse.read: op → (row filter, stats
# test). The stats test says whether a partition whose column lies in
# [mn, mx] can hold a row the filter keeps.
_COLUMN_OPS = {
    "=": (operator.eq, lambda mn, mx, v: mn <= v <= mx),
    ">": (operator.gt, lambda mn, mx, v: mx > v),
    ">=": (operator.ge, lambda mn, mx, v: mx >= v),
    "<": (operator.lt, lambda mn, mx, v: mn < v),
    "<=": (operator.le, lambda mn, mx, v: mn <= v),
}


def _stats_can_match(p: Partition, col: str, test, val) -> bool:
    """Whether ``p``'s recorded [min, max] of ``col`` passes ``test``.
    Missing stats, non-finite endpoints (NaN/Inf from a pre-guard
    manifest) and un-comparable stats (e.g. an int predicate on a string
    column) never prune: bad metadata keeps the partition."""
    st = (p.column_stats or {}).get(col)
    if st is None:
        return True
    mn, mx = st
    if any(isinstance(v, float) and (math.isnan(v) or math.isinf(v)) for v in (mn, mx)):
        return True
    try:
        return test(mn, mx, val)
    except TypeError:
        return True


class ManifestConflict(RuntimeError):
    """A concurrent writer claimed the next manifest generation every time
    we tried. Raised only after _COMMIT_RETRIES read-reapply-claim rounds
    — each retry re-reads the winner's catalog and re-applies this
    writer's DELTA, so a raise means sustained live contention, never a
    silently lost update."""


# Read-reapply-claim rounds before a commit gives up. Each round re-reads
# the freshest catalog, so contention this deep means tens of writers
# hammering ONE view — far outside the one-writer-per-view-per-tick
# deployment posture this backstops.
_COMMIT_RETRIES = 64

# <view>.g000000000042.parquet (local/HDFS: hard-link-claimed, one file
# per generation) or <view>.g000000000042_5f3a9c1d.parquet (object
# stores: token-unique PUT + winner check).
_MANIFEST_GEN_RE = re.compile(r"\.g(\d{12})(?:_([0-9a-f]{8}))?\.parquet$")

# Prior generations kept after a commit so a reader that listed the
# directory just before the commit can still open its chosen file.
_MANIFEST_KEEP_GENS = 2

# The catalog's one schema: a manifest file holds one row per live
# partition of one view. Heterogenous per-column [min, max] stats
# (numeric or string) ride as JSON so the schema stays fixed.
_MANIFEST_SCHEMA = pa.schema(
    [
        ("view", pa.string()),
        ("begin_insert_ns", pa.int64()),
        ("end_insert_ns", pa.int64()),
        ("source_hash", pa.int64()),
        ("min_event_ns", pa.int64()),
        ("max_event_ns", pa.int64()),
        ("path", pa.string()),
        ("updated_unix", pa.float64()),
        ("schema_hash", pa.string()),
        ("column_stats_json", pa.string()),
        # one distinct value per schema: read dictionary-encoded, so a
        # large catalog keeps one copy of each
        ("schema_json", pa.dictionary(pa.int32(), pa.string())),
    ]
)


def _head(cands: list[tuple[int, str]]) -> tuple[int, str]:
    """The winner among a view's (generation, filename) candidates:
    highest generation, then lexicographically smallest name (ties only
    possible on object stores, where names carry a random token — see
    Lakehouse._commit_manifest)."""
    return min(cands, key=lambda c: (-c[0], c[1]))


def _decode_partitions(tbl: pa.Table) -> list[Partition]:
    """Manifest rows → Partitions. Rows of one schema share one
    ``schema_json`` string, decoded once from the column's dictionary."""
    schemas: list[str] = []
    if "schema_json" in tbl.column_names:  # absent on pre-upgrade manifests
        for chunk in tbl["schema_json"].chunks:
            values = chunk.dictionary.to_pylist()
            schemas += [values[i] for i in chunk.indices.to_pylist()]
        tbl = tbl.drop_columns(["schema_json"])
    out = []
    for i, row in enumerate(tbl.to_pylist()):
        row.pop("view", None)
        stats = row.pop("column_stats_json", None)
        row["column_stats"] = json.loads(stats) if stats else {}
        if schemas:
            row["schema_json"] = schemas[i]
        out.append(Partition(**row))
    return out


def _identity(p: Partition) -> tuple[int, int, str]:
    """A partition's identity for frozen drop sets: its insert range and
    its write-once path, so a CAS retry never matches a partition
    committed after the set was taken."""
    return (p.begin_insert_ns, p.end_insert_ns, p.path)


# Per-(warehouse, view) write locks — process-wide so every Lakehouse
# instance over the same warehouse shares them. The RLock serializes
# threads; the flock in _view_lock serializes PROCESSES. Keyed depth
# counters make nesting safe (flock on a second fd of the same file
# would self-deadlock; only the outermost level takes the OS lock).
_VIEW_LOCKS: dict = {}
_VIEW_LOCK_DEPTH: dict = {}
_VIEW_LOCKS_GUARD = threading.Lock()
# Per-(warehouse, view) session a merge binds `source` in, made on the
# view's first merge and reused: merges of one view run under its view
# lock, so they never race on that binding.
_MERGE_SESSIONS: dict = {}


class Lakehouse:
    """Partition catalog + materialization driver for BatchViewSpecs."""

    def __init__(self, spark: SparkSession, warehouse: str):
        from micromegas_spark.fslayer import WarehouseFS

        self.spark = spark
        self.warehouse = warehouse
        self.fs = WarehouseFS(warehouse)
        self.fs.mkdirs(self.fs.url("_partitions"))

    @contextmanager
    def _view_lock(self, view: str):
        """Multi-writer safety for a view's manifest (VERDICT r3 #7: the
        reference's Postgres catalog gets this from transactions,
        partition_cache.rs; a file manifest needs an advisory lock).
        Every read-modify-write of the manifest — materialize, merge,
        retire, and the file deletion its commit does (_commit_delta) —
        runs under this per-view lock: a process-wide RLock for
        threads sharing the interpreter plus an OS flock on
        _partitions/<view>.lock for concurrent processes, so two writers
        ticking the same view serialize and the second observes the
        first's freshness instead of clobbering it. Locks are per-view:
        maintenance across DIFFERENT views still parallelizes, which is
        the fleet-scale fan-out unit anyway (one writer per view per
        tick). Crash-safe: flock dies with the process, no stale locks.
        Re-entrant: a nested acquisition on the holding thread only
        counts depth, so locked operations compose without unlocked
        twins.

        On a non-local (URI) warehouse there is no flock; the RLock still
        serializes threads, and cross-process safety comes from the CAS
        manifest commit itself (_commit_manifest: claim generation v+1,
        retry-reapply on loss) — a lost race re-applies the writer's
        delta on the winner's catalog, so no committed partition is ever
        silently dropped. The lock is therefore an OPTIMIZATION where it
        exists (serialized writers never burn CAS retries or duplicate
        bucket work), not the correctness mechanism."""
        import fcntl

        key = (self.fs.root_url, view)
        with _VIEW_LOCKS_GUARD:
            rl = _VIEW_LOCKS.setdefault(key, threading.RLock())
        with rl:
            # depth guarded by rl: only the holding thread touches it
            depth = _VIEW_LOCK_DEPTH.get(key, 0)
            fd = None
            lock_path = self.fs.local_path("_partitions", f"{view}.lock")
            if depth == 0 and lock_path is not None:
                fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
                fcntl.flock(fd, fcntl.LOCK_EX)
            _VIEW_LOCK_DEPTH[key] = depth + 1
            try:
                yield
            finally:
                _VIEW_LOCK_DEPTH[key] = depth
                if fd is not None:
                    fcntl.flock(fd, fcntl.LOCK_UN)
                    os.close(fd)

    # -- manifest ----------------------------------------------------------
    #
    # The partition catalog is a parquet TABLE, not a JSON sidecar: one
    # file per view under _partitions/, all sharing _MANIFEST_SCHEMA (with
    # a `view` column), so the whole catalog is directly queryable —
    # spark.read.parquet over the head files — exactly like the
    # reference's Postgres catalog is queryable SQL
    # (partition_cache.rs:329-466). At fleet scale (10⁶ partitions) a
    # columnar manifest loads in milliseconds and predicate-prunes;
    # sub-file row groups keep even a giant view's catalog scannable.
    # Atomicity: a compare-and-swap claim of the next generation file
    # (_commit_manifest) — the transactional retire+insert.

    def _manifest_files(self) -> dict[str, list[tuple[int, str]]]:
        """view → (generation, filename) of each of its generation-
        numbered manifest files in _partitions/, unordered. One listdir
        serves every view."""
        out: dict[str, list[tuple[int, str]]] = {}
        for name in self.fs.listdir(self.fs.url("_partitions")):
            m = _MANIFEST_GEN_RE.search(name)
            if m:
                out.setdefault(name[: m.start()], []).append((int(m.group(1)), name))
        return out

    def _manifest_candidates(self, view: str) -> list[tuple[int, str]]:
        return self._manifest_files().get(view, [])

    def list_view_sets(self) -> list[str]:
        return sorted(self._manifest_files())

    def _manifest_head(self, view: str) -> tuple[pa.Table, int]:
        """(Arrow table, generation) of the view's current catalog: the
        one reader of a view's manifest head, for the read half of the
        CAS commit (read(v) → claim(v+1), VERDICT r10 #1) and for every
        catalog read. No file reads as the empty generation 0. Retries
        the list+read when a concurrent committer's old-generation sweep
        removes the chosen file between our list and open (needs ≥
        _MANIFEST_KEEP_GENS commits inside that window)."""
        for _ in range(4):
            cands = self._manifest_candidates(view)
            if not cands:
                return _MANIFEST_SCHEMA.empty_table(), 0
            gen, fname = _head(cands)
            try:
                url = self.fs.url("_partitions", fname)
                return self.fs.read_parquet_table(url, read_dictionary=["schema_json"]), gen
            except (FileNotFoundError, OSError):
                continue
        raise ManifestConflict(
            f"manifest for {view!r} kept disappearing mid-read "
            "(sustained concurrent commits); retry the operation"
        )

    def list_partitions(self, view: str) -> list[Partition]:
        return self._pruned_partitions(view)

    def _commit_manifest(self, view: str, parts: list[Partition], base_gen: int) -> bool:
        """THE commit point, as a compare-and-swap: claim generation
        ``base_gen + 1`` with a put-if-absent (the reference's equivalent
        arbitration is Postgres's transactional retire+insert,
        write_partition.rs:790+; pre-r11 this was an unconditional swap
        and two flock-less processes could silently lose each other's
        partitions in the whole-manifest read-modify-write).

        Local/HDFS: the claim is a hard-link create (fslayer
        claim_parquet_table) — atomic across processes with NO advisory
        lock, so the no-flock path is a true CAS: exactly one writer per
        generation, the loser re-reads and re-applies its delta.

        Object stores: every writer PUTs at a token-unique key (atomic,
        never overwrites a rival), then lists its generation and
        withdraws unless it holds the lexicographically smallest name.
        Residual window: a slower writer landing the same generation
        with a smaller token AFTER this check — it closes when the
        store's conditional PUT is wired into claim_parquet_table; until
        then the rival's file stays visible, so arbitration remains
        CONSISTENT (every reader and later committer agrees on the same
        winner by name).

        Returns False when the generation was lost; callers loop
        (_commit_delta / _save_manifest)."""
        tbl = pa.Table.from_pylist(
            [
                {**vars(p), "view": view, "column_stats_json": json.dumps(p.column_stats or {})}
                for p in parts
            ],
            schema=_MANIFEST_SCHEMA,
        )
        new_gen = base_gen + 1
        if self.fs.is_local and self.fs.rename_safe:
            fname = f"{view}.g{new_gen:012d}.parquet"
            if not self.fs.claim_parquet_table(
                tbl, self.fs.url("_partitions", fname)
            ):
                return False
        else:
            # pre-claim check: a generation anyone ALREADY claimed is
            # lost before we PUT — this catches every non-simultaneous
            # race (including the sequential slow-writer case) without
            # conditional-PUT support
            if any(g == new_gen for g, _ in self._manifest_candidates(view)):
                return False
            fname = f"{view}.g{new_gen:012d}_{uuid.uuid4().hex[:8]}.parquet"
            url = self.fs.url("_partitions", fname)
            if not self.fs.claim_parquet_table(tbl, url):
                return False
            rivals = [n for g, n in self._manifest_candidates(view) if g == new_gen]
            if rivals and min(rivals) != fname:
                self.fs.delete_file(url)  # lost the generation: withdraw
                return False
        self._sweep_manifest_gens(view, new_gen)
        return True

    def _sweep_manifest_gens(self, view: str, new_gen: int) -> None:
        """Post-commit hygiene: drop generations old enough that no
        in-flight reader can still want them (losers at those generations
        included). Best-effort: a sweep that loses a race to another
        sweep just finds the file already gone."""
        for g, name in self._manifest_candidates(view):
            if g <= new_gen - 1 - _MANIFEST_KEEP_GENS:
                self.fs.delete_file(self.fs.url("_partitions", name))

    def _save_manifest(self, view: str, parts: list[Partition]) -> None:
        """Unconditional catalog save: CAS-retried until this exact
        ``parts`` list is the committed state (tests use it). Catalog
        MUTATORS never call this — they go through _commit_delta so a
        lost race re-applies their DELTA on the winner's state instead
        of overwriting it."""
        for _ in range(_COMMIT_RETRIES):
            _, gen = self._manifest_head(view)
            if self._commit_manifest(view, parts, gen):
                return
        raise ManifestConflict(f"could not commit manifest for {view!r}")

    def _commit_delta(self, view: str, drop=None, add=()) -> list[Partition]:
        """Read-apply-claim loop — every catalog mutation is a DELTA
        (a drop predicate re-evaluated on the freshest state, plus
        partitions to append), so losing a generation race to a writer
        of a DIFFERENT bucket means re-applying the delta on top of the
        winner's catalog, never overwriting it. (The round-10 lost-
        partition scenario on no-flock warehouses: A reads [], B reads
        [], A commits [p1], B commits [p2] over base [] → p1 silently
        orphaned. Here B's claim of A's generation fails, B re-reads
        [p1], commits [p1, p2].)

        The commit owns post-commit deletion: once the new generation is
        claimed, the directories of the partitions the predicate dropped
        from the COMMITTED state are unreachable and are deleted here
        (except a path ``add`` re-publishes) — files are only ever
        deleted once unreachable, and this is the only function that
        deletes a retired partition's files, for global views and JIT
        instances alike. A delta that drops and adds nothing commits
        nothing. Returns the dropped partitions, for counts and log
        rows."""
        for _ in range(_COMMIT_RETRIES):
            tbl, gen = self._manifest_head(view)
            parts = _decode_partitions(tbl)
            dropped = [p for p in parts if drop(p)] if drop else []
            if not dropped and not add:
                return []
            new = [p for p in parts if p not in dropped] + list(add)
            if self._commit_manifest(view, new, gen):
                kept = {p.path for p in add}
                for p in dropped:
                    if p.path not in kept:
                        self.fs.rmtree(p.path)
                return dropped
        raise ManifestConflict(f"could not commit delta for {view!r}")

    # -- materialization ---------------------------------------------------

    def materialize_bucket(self, spec: BatchViewSpec, begin_ns: int, end_ns: int) -> str:
        """Create/refresh one insert-time bucket. Returns 'up_to_date' |
        'covered' | 'created' | 'empty' (the verify_overlapping_partitions
        decision, batch_update.rs:12-100): an exact-bounds fresh partition
        aborts; a fresh *covering* partition (e.g. the output of
        merge_partitions) also aborts — re-creating the fine buckets under
        it would double the data; a stale covering/misaligned overlap is
        retired in the same commit that publishes this bucket's rebuild
        (or, when the source is empty, in a retire-only commit).

        ``spec`` needs ``name``, ``time_column`` and the
        ``source_hash(spark, b, e)`` / ``extract(spark, b, e)`` pair of
        BatchViewSpec; Engine.view_instance passes a JIT instance in that
        shape."""

        def overlaps(p: Partition) -> bool:
            return p.begin_insert_ns < end_ns and p.end_insert_ns > begin_ns

        def exact(p: Partition) -> bool:
            return p.begin_insert_ns == begin_ns and p.end_insert_ns == end_ns

        with self._view_lock(spec.name):
            current = spec.source_hash(self.spark, begin_ns, end_ns)
            parts = self.list_partitions(spec.name)
            existing = [p for p in parts if exact(p)]
            if existing and existing[0].source_hash == current:
                return "up_to_date"
            overlapping = [p for p in parts if overlaps(p) and not exact(p)]
            covering = [
                p
                for p in overlapping
                if p.begin_insert_ns <= begin_ns and p.end_insert_ns >= end_ns
            ]
            if covering:
                cov = covering[0]
                cov_hash = spec.source_hash(self.spark, cov.begin_insert_ns, cov.end_insert_ns)
                if cov.source_hash == cov_hash:
                    return "covered"
            # the stale overlaps as a frozen identity set (merge_partitions'
            # pattern): a CAS retry must not retire a partition a rival
            # committed over this range during the extract and write
            stale = {_identity(p) for p in overlapping}
            if current == 0 and not existing:
                if stale:  # stale overlaps over an empty source
                    self._commit_delta(spec.name, drop=lambda p: _identity(p) in stale)
                return "empty"

            df = spec.extract(self.spark, begin_ns, end_ns)
            # write-once to a unique, never-reused path; the manifest commit
            # below publishes it (write_partition.rs: unique object key +
            # catalog insert — no rename on any filesystem). Event-time
            # bounds + per-column min/max stats come from ONE aggregation
            # job over the written files (cheap at write time; they buy
            # catalog-level data skipping at read time)
            out_dir = self.fs.unique_dir_url(spec.name, f"{begin_ns}_{end_ns}")
            bounds, column_stats = _write_partition(df, spec.time_column, out_dir)

            new_part = Partition(
                begin_insert_ns=begin_ns,
                end_insert_ns=end_ns,
                source_hash=current,
                min_event_ns=int(bounds.mn) if bounds.mn is not None else begin_ns,
                max_event_ns=int(bounds.mx) if bounds.mx is not None else end_ns,
                path=out_dir,
                schema_hash=schema_fingerprint(df),
                column_stats=column_stats,
                schema_json=df.schema.json(),
            )
            # retire+insert as one delta: the stale overlaps seen above and
            # whatever holds this exact bucket (a flock-less rival's commit
            # included — one winner per bucket) are replaced, and no reader
            # ever sees the bucket empty
            self._commit_delta(
                spec.name,
                drop=lambda p: exact(p) or _identity(p) in stale,
                add=[new_part],
            )
            return "created"

    def materialize_range(
        self, spec: BatchViewSpec, begin_ns: int, end_ns: int, bucket_ns: int,
        log=None,
    ) -> dict[str, int]:
        """Tick over aligned insert-time buckets (maintenance.rs:140-212
        cadence loop): skip fresh, rebuild stale.

        ``log``: optional TaskLog — one progress row per bucket decision
        plus a summary, mirroring the per-partition messages the
        reference's logger emits from batch_update.rs:40-100 (S11 task-log
        surface; see materialize/tasklog.py)."""
        stats: dict[str, int] = {}
        b = begin_ns - begin_ns % bucket_ns
        while b < end_ns:
            status = self.materialize_bucket(spec, b, b + bucket_ns)
            stats[status] = stats.get(status, 0) + 1
            if log is not None:
                log.write(f"{spec.name}[{b}, {b + bucket_ns}): {status}")
            b += bucket_ns
        if log is not None:
            log.write(
                f"{spec.name}: done, "
                + ", ".join(f"{k}={v}" for k, v in sorted(stats.items()))
            )
        return stats

    def merge_partitions(self, spec: BatchViewSpec, begin_ns: int, end_ns: int) -> str:
        """MergeExisting (batch_update.rs): re-aggregate the N up-to-date
        partitions inside [begin, end) into one via merge_query."""
        with self._view_lock(spec.name):
            parts = self.list_partitions(spec.name)
            inside = [
                p for p in parts if p.begin_insert_ns >= begin_ns and p.end_insert_ns <= end_ns
            ]
            if len(inside) <= 1:
                return "abort"
            # `source` is bound in the view's merge session, never in the
            # shared one: other views' merges and statements cannot see it.
            # Its conf is this Lakehouse's session's as it is now.
            key = (self.fs.root_url, spec.name)
            spark = _MERGE_SESSIONS.get(key)
            if spark is None or spark.sparkContext is not self.spark.sparkContext:
                spark = _MERGE_SESSIONS[key] = clone_session(self.spark)
            sync_conf(spark, self.spark)
            _scan(spark, inside).createOrReplaceTempView("source")
            merged = spark.sql(spec.merge_query)
            # unique write-once path; the manifest commit below publishes it
            out_dir = self.fs.unique_dir_url(spec.name, f"{begin_ns}_{end_ns}")
            # recompute column stats from the MERGED rows — child stats can't
            # be unioned because merge_query re-aggregates (a SUM(count) can
            # exceed any child's max); merged partitions are the biggest, so
            # skipping matters most exactly here
            _, column_stats = _write_partition(merged, spec.time_column, out_dir)
            merged_part = Partition(
                begin_insert_ns=begin_ns,
                end_insert_ns=end_ns,
                source_hash=sum(p.source_hash for p in inside),
                min_event_ns=min(p.min_event_ns for p in inside),
                max_event_ns=max(p.max_event_ns for p in inside),
                path=out_dir,
                schema_hash=schema_fingerprint(merged),
                column_stats=column_stats,
                schema_json=merged.schema.json(),
            )
            # drop EXACTLY the children the merge read (frozen identity set,
            # not a range predicate): on a CAS retry, a partition a rival
            # committed inside the range meanwhile is NOT covered by the
            # merged output and must survive — the next tick's covering/
            # overlap arbitration resolves it
            inside_keys = {_identity(p) for p in inside}
            self._commit_delta(
                spec.name,
                drop=lambda p: _identity(p) in inside_keys,
                add=[merged_part],
            )
            return "merged"

    def materialize_all(
        self, specs: list[BatchViewSpec], begin_ns: int, end_ns: int, bucket_ns: int
    ) -> dict[str, dict[str, int]]:
        """One maintenance tick over many views, ordered by update_group so
        derived views read fresh upstreams (maintenance.rs:309-346;
        blocks=1000 → log/measures=2000 → log_stats=3000, SURVEY §2.9)."""
        out: dict[str, dict[str, int]] = {}
        for spec in sorted(specs, key=lambda s: s.update_group):
            out[spec.name] = self.materialize_range(spec, begin_ns, end_ns, bucket_ns)
        return out

    # -- admin ops (SURVEY §2.10: list_partitions / retire_partitions /
    # materialize_partitions / regenerate_partitions; gated admin UDFs in
    # the reference, query.rs:150-175 — here plain Python API) -------------

    def partitions_df(self, view: str | None = None) -> DataFrame:
        """list_partitions as a DataFrame/SQL surface (the reference's
        list_partitions UDTF, query.rs:104-176): one row per live
        partition with insert/event-time bounds, source hash and path."""
        views = [view] if view else self.list_view_sets()
        rows = [
            (
                v,
                p.begin_insert_ns,
                p.end_insert_ns,
                p.min_event_ns,
                p.max_event_ns,
                p.source_hash,
                p.path,
                float(p.updated_unix),
                p.schema_hash,
            )
            for v in views
            for p in self.list_partitions(v)
        ]
        return self.spark.createDataFrame(
            rows,
            "view_set STRING, begin_insert_ns BIGINT, end_insert_ns BIGINT, "
            "min_event_ns BIGINT, max_event_ns BIGINT, source_hash BIGINT, "
            "path STRING, updated_unix DOUBLE, schema_hash STRING",
        )

    def current_schema_hash(self, spec: BatchViewSpec) -> str:
        """Fingerprint of the schema the spec currently extracts — the
        analogue of the ViewFactory's current SCHEMA_VERSION. Lazy: builds
        the plan over an empty range, never executes it."""
        return schema_fingerprint(
            self.spark.sql(spec.extract_query.format(begin=0, end=0))
        )

    def list_incompatible_partitions(
        self, specs: list[BatchViewSpec], view: str | None = None
    ) -> DataFrame:
        """Partitions whose recorded schema hash differs from the view's
        current one (python/micromegas/micromegas/admin.py:14-86:
        list_partitions ⨝ list_view_sets on hash mismatch). These are
        invisible to ``read(..., schema_hash=...)`` but hold storage until
        retired — the schema-evolution cleanup surface."""
        current = {s.name: self.current_schema_hash(s) for s in specs}
        pdf = self.partitions_df(view)
        cur_df = self.spark.createDataFrame(
            list(current.items()), "view_set STRING, current_schema_hash STRING"
        )
        return (
            pdf.join(F.broadcast(cur_df), "view_set")
            .where(F.col("schema_hash") != F.col("current_schema_hash"))
            .select(
                "view_set",
                "begin_insert_ns",
                "end_insert_ns",
                F.col("schema_hash").alias("incompatible_schema_hash"),
                "current_schema_hash",
                "path",
            )
            .orderBy("view_set", "begin_insert_ns")
        )

    def _retire(self, view: str, drop, log=None) -> int:
        """The one retire step: under the view lock, commit a delta that
        drops every partition ``drop`` matches (the commit deletes their
        files). ``log``: optional TaskLog — one row per retired partition
        plus a summary (S11; the reference's
        retire_partitions_table_function streams the same progress).
        Returns partitions retired."""
        with self._view_lock(view):
            dropped = self._commit_delta(view, drop=drop)
        if log is not None:
            for p in dropped:
                log.write(
                    f"retired partition {view}[{p.begin_insert_ns}, "
                    f"{p.end_insert_ns}) at {p.path}"
                )
            log.write(f"{view}: retired {len(dropped)} partition(s)")
        return len(dropped)

    def retire_incompatible_partitions(
        self, specs: list[BatchViewSpec], view: str | None = None
    ) -> dict[str, int]:
        """Retire exactly the hash-mismatched partitions
        (admin.py:87-200: metadata-targeted retirement so compatible
        partitions are untouched). Returns per-view retired counts."""
        rows = self.list_incompatible_partitions(specs, view).collect()
        out: dict[str, int] = {}
        for v in {r["view_set"] for r in rows}:
            bad = {(r["begin_insert_ns"], r["end_insert_ns"]) for r in rows if r["view_set"] == v}
            out[v] = self._retire(
                v, lambda p: (p.begin_insert_ns, p.end_insert_ns) in bad
            )
        return out

    def retire_partitions(
        self, view: str, begin_ns: int, end_ns: int, log=None
    ) -> int:
        """retire_partition_by_metadata (F20): drop partitions whose insert
        bucket lies inside [begin, end) — manifest commit first, then file
        cleanup (same ordering as write_partition.rs retire+insert).
        ``log``: optional TaskLog (see _retire)."""
        return self._retire(
            view,
            lambda p: p.begin_insert_ns >= begin_ns and p.end_insert_ns <= end_ns,
            log,
        )

    def retire_partition_by_metadata(
        self, view_set_name: str, view_instance_id: str, begin_ns: int, end_ns: int
    ) -> int:
        """retire_partition_by_metadata(view_set, instance, begin, end)
        (functions-reference.md:73 — the variant the reference steers
        admins toward, addressing ONE partition by its exact identifiers
        instead of a path): retires the single partition whose insert
        bucket is exactly [begin, end). A batch view's instance is spelled
        'global' like the reference's process-independent views; any
        other instance addresses the JIT instance's own catalog view
        (instance_view), so an instance never built retires nothing.
        Returns partitions retired (0/1)."""
        view = (
            view_set_name
            if view_instance_id in ("global", view_set_name)
            else instance_view(view_set_name, view_instance_id)
        )
        return self._retire(
            view, lambda p: p.begin_insert_ns == begin_ns and p.end_insert_ns == end_ns
        )

    def retire_partition_by_file(self, path: str) -> int:
        """retire_partition_by_file(file_path) (functions-reference.md:79;
        the reference keeps it for compatibility and steers users to the
        metadata variant): retire the single partition whose storage path
        matches, across all view sets. Returns partitions retired (0/1)."""
        # canon, not the spelling: the caller's spelling and the manifest's
        # may differ in scheme/absoluteness for the same dir (ADVICE r10)
        norm = self.fs.canon(path)
        for view in self.list_view_sets():
            n = self._retire(view, lambda p: self.fs.canon(p.path) == norm)
            if n:
                return n
        return 0

    def maintenance_tick(
        self,
        spec: BatchViewSpec,
        now_ns: int,
        fine_ns: int = 60 * 10**9,
        coarse_ns: int = 3600 * 10**9,
        recent_window_ns: int | None = None,
        retention_ns: int | None = None,
        vacuum_grace_seconds: float | None = 3600.0,
    ) -> dict:
        """One tick of the maintenance daemon's multi-granularity policy
        (reference maintenance.md:74-98: 'recent data lands in
        fine-grained partitions quickly while older data is consolidated
        into coarser ones', plus hourly retention):

        1. materialize ``fine_ns`` buckets over the trailing
           ``recent_window_ns`` (default: one coarse bucket) ending at
           the last complete fine bucket;
        2. consolidate every COMPLETE coarse bucket older than the
           recent window that still holds >1 partitions into one via
           merge_query (MergeExisting);
        3. if ``retention_ns`` is set, retire partitions past the
           horizon (the --retention-days cleanup);
        4. vacuum orphaned data dirs older than ``vacuum_grace_seconds``
           (crash debris between a data write and its manifest commit,
           and CAS losers' dirs) — the reference's retention daemon
           sweeps on the same tick (maintenance.rs:349-399,
           delete.rs:13-60). ``None`` disables the sweep.

        Returns per-phase stats. Repeated ticks are idempotent on
        unchanged data: fine buckets skip on source-hash freshness,
        consolidated buckets abort on the fresh covering partition, and
        retention only ever moves forward. At fleet scale each phase is
        an independent job the scheduler can fan out per view (the
        update-group ordering of materialize_all still applies across
        dependent views)."""
        stats: dict = {}
        hi = now_ns - now_ns % fine_ns
        window = recent_window_ns if recent_window_ns is not None else coarse_ns
        lo = max(hi - window, 0)
        lo = lo - lo % fine_ns
        stats["fine"] = self.materialize_range(spec, lo, hi, fine_ns)
        # consolidation: coarse buckets wholly before the recent window
        merged = 0
        parts = self.list_partitions(spec.name)
        buckets = sorted(
            {
                p.begin_insert_ns - p.begin_insert_ns % coarse_ns
                for p in parts
                if p.end_insert_ns <= lo
            }
        )
        for cb in buckets:
            if cb + coarse_ns > lo:
                continue  # bucket not wholly outside the recent window
            inside = [
                p
                for p in parts
                if p.begin_insert_ns >= cb and p.end_insert_ns <= cb + coarse_ns
            ]
            if len(inside) > 1:
                if self.merge_partitions(spec, cb, cb + coarse_ns) == "merged":
                    merged += 1
        stats["merged_buckets"] = merged
        if retention_ns is not None:
            stats["retired"] = self.retire_older_than(
                spec.name, now_ns - retention_ns
            )
        if vacuum_grace_seconds is not None:
            stats["vacuumed_orphans"] = self.vacuum_orphans(
                spec.name, vacuum_grace_seconds
            )
        return stats

    def vacuum_orphans(self, view: str, min_age_seconds: float = 3600.0) -> int:
        """Remove data directories no manifest entry references — the
        write-once/commit-by-manifest design makes a crash between the
        parquet write and the manifest commit leave an orphan dir that is
        INVISIBLE to readers (by construction) but holds storage until
        vacuumed, exactly Delta's VACUUM situation (the reference's
        Postgres catalog has the same orphan window between the object
        PUT and the row insert; its retention daemon sweeps). Retired
        partitions are not its job: the commit that drops them deletes
        their files (_commit_delta). Runs under the view lock so it
        cannot race a writer in the lock domain; ``min_age_seconds``
        additionally protects an in-flight write from a vacuum running
        outside it (object-store deployments without flock) — see
        WarehouseFS.sweep_orphans. Returns directories removed."""
        with self._view_lock(view):
            live = [p.path for p in self.list_partitions(view)]
            return self.fs.sweep_orphans(self.fs.url(view), live, min_age_seconds)

    def retire_older_than(self, view: str, cutoff_insert_ns: int) -> int:
        """Retention: drop partitions whose insert bucket ended before the
        cutoff (rust/analytics/src/delete.rs:13-60 'delete blocks/partitions
        older than N days')."""
        return self._retire(view, lambda p: p.end_insert_ns <= cutoff_insert_ns)

    def regenerate_partitions(
        self, spec: BatchViewSpec, begin_ns: int, end_ns: int, bucket_ns: int,
        log=None,
    ) -> dict[str, int]:
        """Force-rebuild aligned buckets bypassing the freshness check
        (batch_update.rs:278-356). ``log``: optional TaskLog (S11) —
        carries both the retire and rebuild phases' progress."""
        self.retire_partitions(
            spec.name, begin_ns - begin_ns % bucket_ns, end_ns, log
        )
        return self.materialize_range(spec, begin_ns, end_ns, bucket_ns, log)

    # -- reads ---------------------------------------------------------------

    def _pruned_partitions(
        self, view: str, schema_hash: str | None = None,
        begin_event_ns: int | None = None, end_event_ns: int | None = None,
    ) -> list[Partition]:
        """Catalog pruning WITHOUT materializing the full catalog: the
        schema-hash and event-time filters run vectorized on the
        manifest's Arrow table, and only SURVIVING rows become Partition
        objects. At 10⁶ catalog entries list_partitions costs ~19 s of
        pure Python object construction (SCALE.md round-11 manifest
        table) while a bounded query's survivors are typically a few
        hundred rows — this keeps query planning over a giant view's
        catalog in milliseconds. With no filter it is list_partitions;
        filtered, semantics are identical to filtering list_partitions in
        Python (equivalence is test-pinned)."""
        import pyarrow.compute as pc

        tbl, _ = self._manifest_head(view)
        mask = None

        def conj(m, new):
            return new if m is None else pc.and_(m, new)

        if schema_hash is not None:
            mask = conj(mask, pc.equal(tbl["schema_hash"], schema_hash))
        if begin_event_ns is not None:
            mask = conj(
                mask, pc.greater_equal(tbl["max_event_ns"], begin_event_ns)
            )
        if end_event_ns is not None:
            mask = conj(mask, pc.less(tbl["min_event_ns"], end_event_ns))
        if mask is not None:
            tbl = tbl.filter(mask)
        return _decode_partitions(tbl)

    def read(
        self, view: str, begin_event_ns: int | None = None, end_event_ns: int | None = None,
        time_column: str | None = None, schema_hash: str | None = None,
        column_predicates: dict | None = None,
    ) -> DataFrame:
        """Partition-pruned read: catalog-level event-time overlap test
        (partition_cache.rs:329-466) — vectorized on the manifest's Arrow
        table, _pruned_partitions — then the row-level filter re-applied
        above the scan (inexact pushdown, materialized_view.rs:99-107).
        ``schema_hash`` filters to schema-compatible partitions only
        (partition fetch is schema-hash-keyed, materialized_view.rs:74-96:
        stale-schema partitions are invisible, not errors).

        ``column_predicates``: {col: (op, value)} with op one of
        _COLUMN_OPS' {'=', '>', '>=', '<', '<='} (any other raises
        InvalidArgument before any pruning) — Delta-style data skipping
        against the manifest's per-partition column_stats [min, max];
        partitions whose range cannot satisfy the predicate are never
        opened, and the predicate is re-applied as a row filter above the
        scan (same inexact contract as the time filter). Partitions
        without recorded stats for the column are kept (safe default)."""
        preds = column_predicates or {}
        for col, (op, _val) in preds.items():
            if op not in _COLUMN_OPS:
                raise InvalidArgument(
                    f"unsupported operator {op!r} in the predicate on {col!r} "
                    f"(supported: {', '.join(_COLUMN_OPS)})"
                )
        parts = self._pruned_partitions(
            view, schema_hash, begin_event_ns, end_event_ns
        )
        for col, (op, val) in preds.items():
            test = _COLUMN_OPS[op][1]
            parts = [p for p in parts if _stats_can_match(p, col, test, val)]
        if not parts:
            return _typed_empty(
                self.spark, self._pruned_partitions(view, schema_hash)
            )
        df = _scan(self.spark, parts)
        if time_column:
            if begin_event_ns is not None:
                df = df.where(F.col(time_column) >= begin_event_ns)
            if end_event_ns is not None:
                df = df.where(F.col(time_column) < end_event_ns)
        for col, (op, val) in preds.items():
            df = df.where(_COLUMN_OPS[op][0](F.col(col), F.lit(val)))
        return df
