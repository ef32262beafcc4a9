"""Engine facade — the analogue of the reference's query service session
(rust/analytics/src/lakehouse/query.rs:207-256 make_session_context +
flight_sql_service_impl.rs query-range headers).

``Engine.query(sql, begin_ns, end_ns)`` is the client surface: each
registered view the statement names is bound, bounded to the query range,
as a temp view of a cloned planning session the call holds before
``spark.sql`` runs — the Spark-idiomatic equivalent of the reference's
fresh SessionContext per query (query.rs:207-256) and its
TableScanRewrite analyzer rule (table_scan_rewrite.rs:59-72, SURVEY §4:
option (a), bake the range into the view DataFrames).

``Engine.view_instance(view_set, instance, begin, end)`` is the JIT path
(SURVEY §3.2): a lazy materialization into the Lakehouse catalog view of
(view_set, instance), whose staleness hash is the source event count (or
the block set) — stale or missing partitions are rebuilt by the view's
builder (e.g. the thread-span call-tree job) before the read.
"""

from __future__ import annotations

from micromegas_spark.flightsql.errors import InvalidArgument

import datetime
import inspect
import json
import os
import queue
import re
import threading
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from micromegas_spark.functions import register_all
from micromegas_spark.materialize.batch import (
    Lakehouse,
    Partition,
    _identity,
    _scan,
    _typed_empty,
    instance_view,
    schema_fingerprint,
)
from micromegas_spark.session import clone_session, configure, sync_conf

# builder(begin_ns|None, end_ns|None) -> DataFrame
ViewBuilder = Callable[[int | None, int | None], DataFrame]


@contextmanager
def job_group(sc_or_df, query_id: str | None = None, description: str = ""):
    """Scope Spark job-group attribution (#1406 audit) to a block: set on
    entry, CLEARED on exit — a group left ambient on the thread would
    attribute the NEXT query's jobs to this query_id. Pass a DataFrame
    returned by resolve() to key off its ``_mm_query_id`` (no-op when the
    DataFrame wasn't produced by the engine), or an explicit
    (SparkContext, query_id)."""
    if isinstance(sc_or_df, DataFrame):
        sc = sc_or_df.sparkSession.sparkContext
        query_id = getattr(sc_or_df, "_mm_query_id", None)
        if not query_id:
            yield
            return
    else:
        sc = sc_or_df
    sc.setJobGroup(query_id, description.strip()[:128])
    try:
        yield
    finally:
        # setLocalProperty(None) removes the property JVM-side — the
        # thread returns to unattributed, never to a stale group
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def ensure_begin_non_decreasing(df: DataFrame, col: str, context: str) -> None:
    """Write-time batch-order check (reference #1429: thread_spans gained
    ``ensure_begin_non_decreasing`` on the produced batch; net_spans
    certifies the same order): validate that ``col`` never DECREASES in
    the builder's own row order. The builders sort each group by begin
    before emitting, and the JIT read path (like the reference's
    ScanOrdering::Concatenated) relies on that — an out-of-order batch is
    a builder bug worth failing loudly at write, not a corrupt partition
    discovered at query time.

    Row order is taken per Spark partition (monotonically_increasing_id
    is partition-prefixed, so ordering by it inside spark_partition_id
    reconstructs physical row order); a JIT partition is bounded by
    max_nb_objects, so this is one cheap bounded job per build."""
    from pyspark.sql import Window

    tagged = df.select(
        F.col(col).alias("_b"),
        F.spark_partition_id().alias("_p"),
        F.monotonically_increasing_id().alias("_i"),
    )
    w = Window.partitionBy("_p").orderBy("_i")
    n_bad = (
        tagged.withColumn("_prev", F.lag("_b").over(w))
        .where(F.col("_prev") > F.col("_b"))
        .count()
    )
    if n_bad:
        raise RuntimeError(
            f"JIT partition {context}: {n_bad} row(s) with decreasing "
            f"{col!r} in builder output — the begin-sorted batch contract "
            "(#1429 ensure_begin_non_decreasing) is violated"
        )


def attributed_iter(sc, query_id: str, description: str, inner, check=None):
    """Re-pin the job group around EVERY pull of ``inner``: Flight resumes
    result generators on gRPC serving threads where OTHER queries may run
    between pulls, so a set-once group would attribute this stream's late
    batches to whichever query ran last on the thread (and vice versa).
    ``check`` (optional) runs before each pull — the server passes the
    engine's spill-budget guard so an over-budget query aborts between
    batches instead of exhausting the scratch volume."""
    it = iter(inner)
    while True:
        if check is not None:
            check()
        with job_group(sc, query_id, description):
            try:
                item = next(it)
            except StopIteration:
                return
        yield item


def _sql_data_spans(sql: str) -> list[bool]:
    """Mark every character of ``sql`` that is DATA rather than live
    statement text, per the Spark SQL grammar: single-quoted strings ('')
    escaping), double-quoted strings (Spark's default non-ANSI mode reads
    "..." as a string literal; under ANSI it's an identifier — either way
    not a function call, with "" escaping), backtick-quoted identifiers
    (`` escaping), `--` line comments, and bracketed comments (nested,
    as Spark has allowed since 3.0). Inside ' and " spans a backslash
    escapes the next character ('it\\'s'), per Spark's DEFAULT string
    parsing (SqlBaseLexer.g4 STRING); backticks take no backslash escape.
    Caveat: under spark.sql.parser.escapedStringLiterals=true (Hive
    compatibility) backslash is a literal character — input written for
    that mode is unsupported here and may desync the scanner. The
    table-function scanner (Engine.table_function_calls) consults this
    so occurrences inside any of those spans are never counted as
    calls."""
    n = len(sql)
    data = [False] * n
    i = 0
    while i < n:
        c = sql[i]
        if c in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if c != "`" and sql[j] == "\\":  # backslash escape
                    j += 2
                    continue
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:  # doubled = escape
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i, min(j + 1, n)):
                data[k] = True
            i = j + 1
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = i
            while j < n and sql[j] != "\n":
                data[j] = True
                j += 1
            i = j
        elif c == "/" and i + 1 < n and sql[i + 1] == "*":
            depth, j = 1, i + 2
            while j < n and depth:
                if sql[j] == "/" and j + 1 < n and sql[j + 1] == "*":
                    depth += 1
                    j += 2
                elif sql[j] == "*" and j + 1 < n and sql[j + 1] == "/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            for k in range(i, min(j, n)):
                data[k] = True
            i = j
        else:
            i += 1
    return data


def _epoch_ns(value) -> int:
    """A partition-admin timestamp → epoch ns: an epoch-ns int or digit
    string, an ISO / RFC 3339 string, or a tz-aware datetime or pandas
    Timestamp (timeutils.to_epoch_ns)."""
    from micromegas_spark.timeutils import to_epoch_ns

    if isinstance(value, str):
        value = value.strip()
        if re.fullmatch(r"-?\d+", value):
            return int(value)
    try:
        return to_epoch_ns(value)
    except ValueError as e:  # fromisoformat's bare ValueError included
        raise InvalidArgument(f"unreadable timestamp {value!r}: {e}") from None


_TIME = (int, str, datetime.datetime)  # a timestamp (_epoch_ns); SQL: a string
_RANGE = (("begin", _TIME), ("end", _TIME))
_DELTA = ("partition_delta_seconds", int)

# The partition-admin ops (the reference's admin-gated table functions,
# query.rs:150-175), built by Engine.admin_op: name → (the Lakehouse
# method it runs, its parameters and types, whether SQL spells it).
_ADMIN_OPS: dict[str, tuple[str, tuple, bool]] = {
    "retire_partitions": ("retire_partitions", (("view_set_name", str), *_RANGE), True),
    "materialize_partitions": ("materialize_range", (("view_name", str), *_RANGE, _DELTA), True),
    "regenerate_partitions": (
        "regenerate_partitions", (("view_name", str), *_RANGE, _DELTA), True
    ),
    "retire_partition_by_metadata": (
        "retire_partition_by_metadata",
        (("view_set_name", str), ("view_instance_id", str), *_RANGE),
        False,
    ),
    "retire_partition_by_file": ("retire_partition_by_file", (("file_path", str),), False),
}

# The plan-time table functions (the reference's table-function registry,
# query.rs:104-176): name → its (argument, type) list. Their arguments
# must be literals; they are evaluated when the statement is planned.
_TABLE_FNS: dict[str, tuple[tuple[str, type], ...]] = {
    "view_instance": (("view_set", str), ("instance_id", str)),
    **{
        fn: tuple((p, int if t is int else str) for p, t in params)
        for fn, (_, params, sql) in _ADMIN_OPS.items()
        if sql
    },
}
_CALL_HEAD = re.compile(r"(?<![A-Za-z0-9_])(%s)\s*\(" % "|".join(_TABLE_FNS), re.I)
# a literal: single-quoted with '' escaping (Spark grammar), or an integer
_LITERAL = r"'(?:[^']|'')*'|-?\d+"
_CALL_ARGS = re.compile(rf"\s*((?:{_LITERAL})(?:\s*,\s*(?:{_LITERAL}))*)?\s*\)")
_ARG = re.compile(r"'((?:[^']|'')*)'|(-?\d+)")


@dataclass(frozen=True)
class TableFunctionCall:
    """One live call of a plan-time table function: its name (lower
    case), its literal arguments and its span [start, end) in the SQL."""

    fn: str
    args: tuple
    start: int
    end: int


@dataclass
class JitViewSet:
    """Per-instance lazily-materialized view set (thread_spans-style).

    - ``source(instance)``      → the instance's raw event DataFrame
    - ``count(instance, b, e)`` → source hash for staleness (object count)
    - ``build(instance, b, e)`` → the decoded/derived DataFrame to cache

    Block-aware mode (reference #1429, event-time JIT grouping): when
    ``list_blocks``/``build_blocks`` are provided, view_instance() cuts
    JIT partitions from the instance's *block list ordered by event time*
    (``(begin_ns, end_ns)``) instead of fixed insert-time buckets — see
    ``group_blocks_into_partitions``. ``list_blocks(instance, b, e)``
    returns block descriptors ``{block_id, begin_ns, end_ns, insert_ns,
    nb_objects}`` whose EVENT range overlaps [b, e); ``build_blocks(
    instance, block_ids)`` builds the derived DataFrame from exactly those
    blocks' events (the builder time-sorts the concatenated events, so
    call trees span block boundaries and overlapping blocks — a producer
    stamping the replacement block's begin before closing the outgoing
    one — interleave correctly: the gap-only ``begin <= last_end``
    contiguity of the reference's fix falls out of the sort rather than a
    per-block merge)."""

    name: str
    source_count: Callable[[str, int, int], int]
    build: Callable[[str, int, int], DataFrame]
    time_column: str
    # block-aware JIT (optional; enables the event-time grouping path)
    list_blocks: Callable[[str, int, int], list] | None = None
    build_blocks: Callable[[str, list], DataFrame] | None = None
    max_nb_objects: int = 100_000
    # write-time ensure_begin_non_decreasing (reference #1429: both
    # thread_spans and net_spans certify their produced batches are
    # begin-sorted): when True, a newly built JIT partition is validated
    # non-decreasing on time_column in its builder row order before the
    # parquet write, catching builder regressions that would corrupt the
    # certified scan order
    ensure_begin_non_decreasing: bool = False


@dataclass
class _InstanceSpec:
    """A bucket-mode JIT instance in the shape
    Lakehouse.materialize_bucket takes: its catalog view, its time
    column, and the view set's source_count/build bound to the
    instance."""

    name: str
    time_column: str
    vs: JitViewSet
    instance: str

    def source_hash(self, spark, begin_ns: int, end_ns: int) -> int:
        return self.vs.source_count(self.instance, begin_ns, end_ns)

    def extract(self, spark, begin_ns: int, end_ns: int) -> DataFrame:
        return self.vs.build(self.instance, begin_ns, end_ns)


def group_blocks_into_partitions(
    blocks: list[dict], max_nb_objects: int
) -> list[list[dict]]:
    """Cut a stream's blocks into JIT partitions by EVENT time with
    insert-safe cuts (reference #1429; jit_partitions.rs
    group_blocks_into_partitions after the fix).

    Blocks are sorted by ``(begin_ns, end_ns)`` — event time, not
    registration order — so a stream whose blocks were registered out of
    event-time order still yields partitions holding event-contiguous
    blocks (call trees assemble across block boundaries inside one
    partition). Because event-time order can put blocks with out-of-order
    ``insert_ns`` on either side of a size-based cut, a cut is taken only
    at *insert-safe* points: every block in the partition being closed
    inserted no later than every remaining block (prefix-max insert ≤
    suffix-min insert). When the soft ``max_nb_objects`` limit is reached
    at an unsafe index, the cut falls back to the most recent safe index
    inside the open partition, or — failing any — the partition grows past
    the soft limit until the next safe point. This keeps partitions'
    insert-time ranges non-overlapping (the reference's
    lakehouse_partitions_no_overlap exclusion constraint)."""
    if not blocks:
        return []
    bs = sorted(blocks, key=lambda b: (b["begin_ns"], b["end_ns"]))
    n = len(bs)
    # suffix min of insert_ns: cut after index i is insert-safe iff
    # max(insert[0..i]) <= min(insert[i+1..])
    suffix_min = [0] * n
    m = None
    for i in range(n - 1, -1, -1):
        m = bs[i]["insert_ns"] if m is None else min(m, bs[i]["insert_ns"])
        suffix_min[i] = m

    parts: list[list[dict]] = []
    start = 0
    while start < n:
        prefix_max = None
        count = 0
        last_safe = -1  # most recent safe cut index within this partition
        cut = None
        for i in range(start, n):
            nb = bs[i]["nb_objects"]
            # cut BEFORE accumulating the block that would overflow
            # (reference partition.rs: full = nb_objects + block > max &&
            # i > start), so partitions stay <= max_nb_objects whenever a
            # safe cut exists; last_safe < i, so >= start implies i > start
            if count + nb > max_nb_objects and last_safe >= start:
                cut = last_safe
                break
            prefix_max = (
                bs[i]["insert_ns"]
                if prefix_max is None
                else max(prefix_max, bs[i]["insert_ns"])
            )
            count += nb
            safe = i == n - 1 or prefix_max <= suffix_min[i + 1]
            if safe:
                last_safe = i
                if count >= max_nb_objects:
                    # at/over the limit with no earlier safe point (one
                    # oversized block, or growth across an unsafe stretch
                    # — reference logs debug! there): cut at the first
                    # safe index once the limit is reached
                    cut = i
                    break
        if cut is None:
            cut = last_safe if last_safe >= start else n - 1
        parts.append(bs[start : cut + 1])
        start = cut + 1
    return parts


class Engine:
    QUERY_LOG_MAX = 1000  # rotation cap for the self-observability log

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str | None = None,
        admin: bool = True,
        max_spill_mb: float | None = None,
    ):
        self.spark = configure(spark)
        register_all(spark)
        self.warehouse = warehouse or os.path.join(os.getcwd(), ".warehouse")
        # spill budget (reference MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB,
        # CHANGELOG.md:11): cap a query's disk spill so one runaway sort
        # can't exhaust the shared scratch volume. None = unlimited.
        # Enforced between result-batch pulls via the #1406 job-group task
        # metrics (check_spill_budget) — the Spark analogue of the
        # reference's disk-manager allocation check.
        if max_spill_mb is None:
            env = os.environ.get("MICROMEGAS_SPARK_MAX_SPILL_MB")
            max_spill_mb = float(env) if env else None
        self.max_spill_mb = max_spill_mb
        # admin gating parity (reference query.rs:150-175: admin UDTFs are
        # simply NOT REGISTERED for non-admin sessions, so calling one
        # reports "not found" — functions-reference.md:5). Non-admin
        # engines raise the same way from the partition-admin surface.
        self.admin = admin
        # URI-addressed warehouse (fslayer.py): plain path, file://, or an
        # object-store scheme — JIT instances and batch views commit
        # through the one Lakehouse catalog, so no code path relies on
        # rename existing on the store
        from micromegas_spark.fslayer import WarehouseFS

        self.fs = WarehouseFS(self.warehouse)
        self.fs.mkdirs(self.fs.url())
        self._views: dict[str, ViewBuilder] = {}
        self._time_columns: dict[str, str] = {}
        self._jit: dict[str, JitViewSet] = {}
        self._batch_views: dict[str, object] = {}
        # bounded: a long-lived engine must not grow per-query driver
        # state without limit (and the view re-materialization cost is
        # proportional to the log length)
        from collections import deque

        self._query_log: "deque[tuple]" = deque(maxlen=self.QUERY_LOG_MAX)
        # idle planning sessions, and the one this thread holds (see
        # planning_session)
        self._idle: "queue.SimpleQueue[SparkSession]" = queue.SimpleQueue()
        self._local = threading.local()

    # -- global views --------------------------------------------------------

    def register_view(
        self, name: str, builder: ViewBuilder, time_column: str | None = None
    ) -> None:
        """Register a view-set builder. ``time_column`` (epoch-ns BIGINT)
    enables the per-view time filter (P5: point views get
    ``time BETWEEN``; the builder itself may prune partitions)."""
        if name.lower() == "query_log":
            raise InvalidArgument(
                "'query_log' is the engine's self-observability view and "
                "cannot be shadowed by a registered view"
            )
        self._views[name] = builder
        if time_column:
            self._time_columns[name] = time_column

    def register_table(self, name: str, df: DataFrame, time_column: str | None = None) -> None:
        self.register_view(name, lambda b, e, _df=df: _df, time_column)

    @contextmanager
    def planning_session(self):
        """Hold a planning session for the duration of the block: an idle
        clone of ``self.spark`` (session.clone_session), or a new one when
        every clone is held. A held session is this call's alone, so
        concurrent calls bind their statements' views without seeing each
        other's and need no lock; spark.sql analyses eagerly, so the
        session can go back to the pool as soon as the statement is
        analyzed — a later rebinding cannot retarget a plan already
        returned. Clones are pooled, not kept per thread: FlightSQL
        handlers run on gRPC threads that keep no Python thread state
        between calls, and the JVM keeps every clone's session state
        alive, so the number made is bounded by the peak number of
        concurrent calls. Nested use on one thread yields the session
        already held.

        On checkout the session's SQL conf is made the parent's as it is
        now (session.sync_conf), so a conf set on ``self.spark`` reaches
        every statement planned after it, and a SET run inside a
        statement does not outlive the call."""
        held = getattr(self._local, "spark", None)
        if held is not None:
            yield held
            return
        try:
            spark = self._idle.get_nowait()
        except queue.Empty:
            spark = clone_session(self.spark)
        sync_conf(spark, self.spark)
        self._local.spark = spark
        try:
            yield spark
        finally:
            self._local.spark = None
            self._idle.put(spark)

    @staticmethod
    def _bind(spark: SparkSession, name: str, df: DataFrame) -> None:
        """Register ``df``, built on any session of this SparkContext, as
        temp view ``name`` of ``spark``: its analyzed plan moves across
        sessions, so view builders keep building on ``self.spark``."""
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().analyzed()
        ).createOrReplaceTempView(name)

    def prepare_views(
        self, sql: str, begin_ns: int | None = None, end_ns: int | None = None
    ) -> SparkSession:
        """Bind the views ``sql`` names into the planning session this
        call holds, range-bounded, and return that session; call it inside
        planning_session() to keep using the session. Every path
        that plans — _plan (execution and schema discovery) and the admin
        ops — binds through here, keyed on the statement's OWN
        text. A view counts as named when its name appears word-bounded,
        case-insensitively (as Spark resolves view names): a false
        positive only wastes a build, and a view the statement does not
        name is never built. Temp views of ``self.spark`` the statement
        names are copied in as they are now, not as they were when the
        clone was made."""
        with self.planning_session() as spark:
            low = sql.lower()

            def named(name: str) -> bool:
                return re.search(rf"(?<!\w){re.escape(name.lower())}(?!\w)", low) is not None

            parent = self.spark._jsparkSession.sessionState().catalog()
            mine = spark._jsparkSession.sessionState().catalog()
            for name in parent.getTempViewNames().mkString("\n").split("\n"):
                if name and named(name):
                    mine.createTempView(name, parent.getRawTempView(name).get(), True)
            # query_log costs O(len(log)) driver work; list_partitions and
            # list_view_sets are the SQL spellings of the catalog functions the
            # reference registers for EVERY session (query.rs:113-120 — OUTSIDE
            # the is_admin block; its functions-reference.md marks only
            # retire/materialize/regenerate/retire_partition_by_file as
            # 'Requires admin'), so the admin gate lives solely on the mutating
            # surface (require_admin in admin_op)
            builtin = {
                "query_log": lambda b, e: self._query_log_df(),
                "list_partitions": lambda b, e: self.lakehouse.partitions_df(),
                "list_view_sets": lambda b, e: self.spark.createDataFrame(
                    [(v,) for v in self.lakehouse.list_view_sets()],
                    "view_set_name STRING",
                ),
            }
            # {**...} snapshots: a concurrent DoPut may register_table meanwhile
            for name, builder in {**builtin, **self._views}.items():
                if not named(name):
                    continue
                df = builder(begin_ns, end_ns)
                tc = self._time_columns.get(name)
                if tc is not None:
                    if begin_ns is not None:
                        df = df.where(F.col(tc) >= begin_ns)
                    if end_ns is not None:
                        df = df.where(F.col(tc) < end_ns)
                self._bind(spark, name, df)
        return spark

    def log_query(
        self,
        sql: str,
        begin_ns: int | None,
        end_ns: int | None,
        plan_ms: float,
        query_id: str | None = None,
        error_class: str = "ok",
    ) -> None:
        """Append one audit record (see query_log); the prepared-statement
        paths call this with THEIR sql so every executed statement leaves
        a record, not just direct query() calls. ``query_id`` correlates
        the record with client-facing error messages and server logs;
        ``error_class`` is 'ok' or the #1435 classification
        (user/resource/unimplemented/internal) when planning failed."""
        self._query_log.append(
            (
                time.time_ns(),
                sql.strip(),
                begin_ns,
                end_ns,
                round(plan_ms, 3),
                query_id or "",
                error_class,
            )
        )

    def table_function_calls(self, sql: str) -> list[TableFunctionCall]:
        """The live calls of the plan-time table functions (_TABLE_FNS)
        in ``sql``, in source order, each with its literal arguments
        (SQL '' escaping undone). Occurrences inside string literals,
        backtick-quoted identifiers and comments are data, not calls
        (_sql_data_spans), and a call head is identifier-anchored, so
        e.g. my_view_instance(...) is someone else's function. An admin
        call in a non-admin session fails as "not found"
        (require_admin); a call whose arguments are not literals of the
        function's arity and types raises InvalidArgument (#1435
        'user'), as the reference rejects them at plan time. A statement
        that names none of the functions costs one substring test."""
        low = sql.lower()
        if not any(fn in low for fn in _TABLE_FNS):
            return []
        self._reject_escaped_string_literals()
        in_data = _sql_data_spans(sql)
        calls = []
        for head in _CALL_HEAD.finditer(sql):
            if in_data[head.start()]:
                continue
            fn = head.group(1).lower()
            if fn != "view_instance":
                self.require_admin(fn)
            params = _TABLE_FNS[fn]
            m = _CALL_ARGS.match(sql, head.end())
            args = tuple(
                int(n) if n else s.replace("''", "'")
                for s, n in _ARG.findall(m.group(1) or "")
            ) if m else None
            if args is None or tuple(map(type, args)) != tuple(t for _, t in params):
                raise InvalidArgument(
                    f"{fn}() requires literal arguments "
                    f"({', '.join(p for p, _ in params)}) — they are "
                    "evaluated at plan time"
                )
            calls.append(TableFunctionCall(fn, args, head.start(), m.end()))
        return calls

    def _reject_escaped_string_literals(self) -> None:
        """The plan-time call scanner (_sql_data_spans) lexes backslash
        escapes per Spark's DEFAULT string grammar; under
        spark.sql.parser.escapedStringLiterals=true (Hive compatibility)
        backslash is a literal character, so the scanner could silently
        desync on input written for that mode. Refuse loudly instead —
        the docstring caveat promoted to an error. Checked whenever a
        table function's name appears at all: the scanner itself is
        what decides whether an occurrence is live, and under the
        unsupported mode its verdict can't be trusted. Read from the
        planning session, which is the one that parses the statement."""
        with self.planning_session() as spark:
            escaped = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        if escaped.lower() == "true":
            raise InvalidArgument(
                "view_instance() and the partition-admin table functions "
                "cannot be planned under "
                "spark.sql.parser.escapedStringLiterals=true — the "
                "plan-time literal scanner assumes Spark's default string "
                "grammar (backslash escapes); unset the conf or use the "
                "Python API directly"
            )

    def admin_op(self, fn: str, *args, **kwargs) -> tuple:
        """The one builder of a partition-admin op (_ADMIN_OPS): its
        arguments, positional or by parameter name, checked and turned
        into ``(op, op_args)`` — run with a TaskLog by the SQL call
        (planned or streamed), as ``op(*op_args)`` by Client and the
        DoActions. In order: the admin gate; the arguments against the
        op's parameter names and types (InvalidArgument); timestamps to
        epoch ns (_epoch_ns); for materialize/regenerate, a positive
        delta (0 would divide by zero in the bucket loop, a negative one
        never ends it) and a registered batch view (KeyError). These
        two ops run on a planning session they hold, with the views the
        spec's queries name bound fresh when the op starts."""
        self.require_admin(fn)
        method, params, _ = _ADMIN_OPS[fn]
        names = [p for p, _ in params]
        kind = inspect.Parameter.POSITIONAL_OR_KEYWORD
        try:
            bound = inspect.Signature(
                [inspect.Parameter(p, kind) for p in names]
            ).bind(*args, **kwargs).arguments
        except TypeError as e:
            raise InvalidArgument(f"{fn}({', '.join(names)}): {e}") from None
        values = []
        for p, t in params:
            v = bound[p]
            if isinstance(v, bool) or not isinstance(v, t):
                raise InvalidArgument(f"{fn}(): {p} cannot be {v!r}")
            values.append(_epoch_ns(v) if t is _TIME else v)
        if _DELTA not in params:
            return getattr(self.lakehouse, method), tuple(values)
        view, begin_ns, end_ns, delta = values
        if delta <= 0:
            raise InvalidArgument(
                f"{fn}(): partition_delta_seconds must be a positive "
                f"integer, got {delta}"
            )
        if view not in self._batch_views:
            raise KeyError(
                f"unknown batch view {view!r}; register_batch_view() it first "
                f"(known: {sorted(self._batch_views)})"
            )
        spec = self._batch_views[view]

        def op(*op_args):
            with self.planning_session():
                spark = self.prepare_views(f"{spec.count_query}\n{spec.extract_query}")
                return getattr(Lakehouse(spark, self.warehouse), method)(*op_args)

        return op, (spec, begin_ns, end_ns, delta * 1_000_000_000)

    def _plan(
        self,
        sql: str,
        begin_ns: int | None,
        end_ns: int | None,
        args: dict | None = None,
        execute: bool = True,
    ) -> DataFrame:
        """Plan ``sql`` over [begin, end) in this thread's planning
        session and return the analyzed DataFrame. The one planning path:
        resolve() plans for execution; PreparedStatement.schema() and the
        server's GetFlightInfo / CreatePreparedStatement plan for schema
        discovery (``execute=False``), with NULL parameter values.

        Each table-function call (table_function_calls) is evaluated at
        plan time, as the reference does (view_instance_table_function.rs
        :49-70, exp_to_string/exp_to_timestamp), and its text is
        substituted with a temp view of the held session — the scan
        never routes through a Python UDTF (udtfs.py:11 documents why
        that spelling is the scale anti-pattern):

        - ``view_instance`` becomes the instance's DataFrame, materialized
          now (catalog-cached parquet, block-aware when the view set
          declares blocks), once per distinct (set, instance). A
          bucket-mode view set needs a range (InvalidArgument without
          one): unranged, it would walk every hourly bucket of [0, 2^62);
        - an admin call becomes its (time, msg) task log (S11;
          materialize/tasklog.py), its op built by admin_op, as on every
          other spelling of the op. With ``execute`` the op runs now; in
          schema discovery the log is empty — the admin gate and the
          argument checks run, the op does not, so GetFlightInfo then
          DoGet runs it once.

        Every call's arguments check out (and every instance
        materializes) before any op runs, so a bad third call cannot
        leave the first two half-applied; the ops then run in source
        order, so a statement mixing functions (retire then materialize)
        observes its own left-to-right order against the shared catalog.
        The substituted views are dropped once the statement is
        analyzed: the analyzed plan holds their relations, and a view
        left behind would pile up in the pooled session and keep an op's
        output queryable by later statements."""
        from micromegas_spark.materialize.tasklog import TaskLog

        with self.planning_session() as spark:
            calls = self.table_function_calls(sql)
            lo = begin_ns if begin_ns is not None else 0
            hi = end_ns if end_ns is not None else 2**62
            instances: dict[tuple, DataFrame] = {}
            evaluated = []
            for c in calls:
                if c.fn != "view_instance":
                    evaluated.append(self.admin_op(c.fn, *c.args))
                    continue
                vs = self._jit.get(c.args[0])
                if begin_ns is None and vs is not None and vs.list_blocks is None:
                    # bucket mode walks the range's hourly buckets: over
                    # [0, 2^62) that is about 1.28 million of them
                    raise InvalidArgument(
                        f"view_instance({c.args[0]!r}, {c.args[1]!r}) needs a "
                        "query range: its view set materializes the range's "
                        "insert-time buckets"
                    )
                if c.args not in instances:
                    instances[c.args] = self.view_instance(*c.args, lo, hi)
                evaluated.append(instances[c.args])
            names: list[str] = []
            try:
                pieces, last = [], 0
                for i, (c, ev) in enumerate(zip(calls, evaluated)):
                    if c.fn == "view_instance":
                        # the catalog view's name is sanitized + hashed,
                        # so distinct keys never share a view
                        name, df = "_vi_" + instance_view(*c.args), ev
                    else:
                        log = TaskLog()
                        if execute:
                            log.run(*ev)
                        name, df = f"_tasklog_{i}", log.to_df(spark)
                    self._bind(spark, name, df)
                    names.append(name)
                    pieces += [sql[last : c.start], name]
                    last = c.end
                exec_sql = "".join(pieces) + sql[last:]
                self.prepare_views(exec_sql, begin_ns, end_ns)
                if not execute:
                    # schema discovery plans with NULL parameter values
                    args = {n: None for n in set(re.findall(r":(\w+)", sql))}
                return spark.sql(exec_sql, args=args) if args else spark.sql(exec_sql)
            finally:
                for name in names:
                    spark.catalog.dropTempView(name)

    def resolve(
        self,
        sql: str,
        begin_ns: int | None = None,
        end_ns: int | None = None,
        args: dict | None = None,
        query_id: str | None = None,
    ) -> DataFrame:
        """Plan the statement for execution over [begin, end) (_plan) and
        record it in query_log. Every execution path (query(), the
        client's prepared-statement and convenience lookups, DoGet)
        funnels here, so concurrent queries with different ranges each
        resolve against their OWN bounds without waiting on each other.
        Returns the eagerly-analyzed DataFrame; execution stays lazy."""
        query_id = query_id or uuid.uuid4().hex[:16]
        # job-group attribution for the per-query resource audit
        # (reference #1406 QueryAuditRecord): the group opens BEFORE
        # planning so JIT materialization / admin ops / query_log-view
        # jobs the planning itself triggers attribute to the query that
        # caused them, and it is CLEARED on exit so later jobs on this
        # thread never inherit a stale id. Execution-time jobs
        # re-attribute at the call sites that actually collect
        # (job_group(df) in Client/server/CLI paths, keyed off
        # df._mm_query_id).
        with job_group(self.spark.sparkContext, query_id, sql):
            t0 = time.time()
            try:
                out = self._plan(sql, begin_ns, end_ns, args)
            except Exception as e:
                # failed plans still leave an audit record with the #1435
                # classification, so query_failed-style monitoring can key
                # on error_class == 'internal' only
                from micromegas_spark.flightsql.errors import classify_exception

                self.log_query(
                    sql, begin_ns, end_ns, (time.time() - t0) * 1000.0,
                    query_id, classify_exception(e),
                )
                raise
            # self-observability: the reference's analytics service emits a
            # span per executed query into its own telemetry ("sql spans
            # on", query.rs:207-256; spans land in the lake like any
            # process's). The facade records (time, sql, range, plan_ms,
            # query_id) — queryable via query_log(), the engine observing
            # itself.
            self.log_query(
                sql, begin_ns, end_ns, (time.time() - t0) * 1000.0, query_id
            )
        out._mm_query_id = query_id
        return out

    def query(self, sql: str, begin_ns: int | None = None, end_ns: int | None = None) -> DataFrame:
        """Full SQL over all registered views, range-bounded out-of-band —
        the reference's ``client.query(sql, begin, end)``
        (python/micromegas/micromegas/flightsql/client.py:312-370)."""
        return self.resolve(sql, begin_ns, end_ns)

    def _metrics_by_query_id(self, query_ids: set[str]) -> dict[str, dict]:
        """Per-query resource audit (reference #1406: QueryAuditRecord
        gains peak-memory / spill attribution). One pass over the Spark
        app-status KVStore: jobs are matched to queries by job group
        (resolve() sets group = query_id), then their stages' task metrics
        aggregate into peak execution memory, memory/disk spill and
        shuffle-write bytes. Works headless (the AppStatusListener runs
        with spark.ui.enabled=false); cost is O(jobs + stages) driver-side
        reads, paid only when the audit is actually asked for."""
        out: dict[str, dict] = {}
        if not query_ids:
            return out
        try:
            jvm = self.spark.sparkContext._jvm
            store = self.spark.sparkContext._jsc.sc().statusStore().store()

            def _view(cls):
                return store.view(jvm.java.lang.Class.forName(cls)).closeableIterator()

            stage_to_qid: dict[int, str] = {}
            jobs = _view("org.apache.spark.status.JobDataWrapper")
            while jobs.hasNext():
                info = jobs.next().info()
                jg = info.jobGroup()
                if not (jg.isDefined() and jg.get() in query_ids):
                    continue
                qid = jg.get()
                sids = info.stageIds()
                for i in range(sids.size()):
                    stage_to_qid[sids.apply(i)] = qid
            stages = _view("org.apache.spark.status.StageDataWrapper")
            while stages.hasNext():
                info = stages.next().info()
                qid = stage_to_qid.get(info.stageId())
                if qid is None:
                    continue
                m = out.setdefault(
                    qid,
                    {
                        "peak_execution_memory_bytes": 0,
                        "memory_spill_bytes": 0,
                        "disk_spill_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "n_stages": 0,
                    },
                )
                m["n_stages"] += 1
                m["peak_execution_memory_bytes"] = max(
                    m["peak_execution_memory_bytes"], info.peakExecutionMemory()
                )
                m["memory_spill_bytes"] += info.memoryBytesSpilled()
                m["disk_spill_bytes"] += info.diskBytesSpilled()
                m["shuffle_write_bytes"] += info.shuffleWriteBytes()
        except Exception:
            # audit is best-effort observability: a store-layout change
            # must degrade to empty metrics, never fail the query path
            return out
        return out

    def query_metrics(self, query_id: str) -> dict:
        """Resource audit for one executed query (see _metrics_by_query_id);
        zeros if nothing ran (yet) under that id."""
        return self._metrics_by_query_id({query_id}).get(
            query_id,
            {
                "peak_execution_memory_bytes": 0,
                "memory_spill_bytes": 0,
                "disk_spill_bytes": 0,
                "shuffle_write_bytes": 0,
                "n_stages": 0,
            },
        )

    def check_spill_budget(self, query_id: str) -> None:
        """Abort a query whose attributed disk spill exceeds the engine's
        budget (reference MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB):
        cancels the query's running jobs and raises a resource-classified
        error, so clients see ``[error_class=resource]`` — the same class
        as OOM — instead of waiting for the volume to ENOSPC. Called
        between result-batch pulls by the server stream (cheap: one
        driver-side KVStore walk); a no-op when no budget is set."""
        if self.max_spill_mb is None:
            return
        from micromegas_spark.flightsql.errors import SpillBudgetExceeded

        spill = self.query_metrics(query_id)["disk_spill_bytes"]
        if spill > self.max_spill_mb * 1024 * 1024:
            try:
                self.spark.sparkContext.cancelJobGroup(query_id)
            except Exception:
                pass  # cancellation is best-effort; the raise is the abort
            raise SpillBudgetExceeded(
                f"query spilled {spill} bytes to disk, over the "
                f"{self.max_spill_mb} MB budget"
            )

    def _query_log_df(self) -> DataFrame:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("time_ns", LongType()),
                StructField("sql", StringType()),
                StructField("begin_ns", LongType()),
                StructField("end_ns", LongType()),
                StructField("plan_ms", DoubleType()),
                # QueryAuditRecord parity (#1435/#1406): correlatable id,
                # error class, and per-query resource attribution
                StructField("query_id", StringType()),
                StructField("error_class", StringType()),
                StructField("peak_execution_memory_bytes", LongType()),
                StructField("memory_spill_bytes", LongType()),
                StructField("disk_spill_bytes", LongType()),
                StructField("shuffle_write_bytes", LongType()),
                # audit-log parity (query-audit-log.md): one structured
                # JSON record per query under the reference's dedicated
                # target, so the documented jsonb_get/jsonb_as_f64 audit
                # queries run verbatim over this view
                StructField("target", StringType()),
                StructField("msg", StringType()),
            ]
        )
        log = list(self._query_log)  # other threads append meanwhile
        metrics = self._metrics_by_query_id({rec[5] for rec in log if rec[5]})
        zero = {
            "peak_execution_memory_bytes": 0,
            "memory_spill_bytes": 0,
            "disk_spill_bytes": 0,
            "shuffle_write_bytes": 0,
        }
        rows = [
            (
                t,
                sql,
                b,
                e,
                ms,
                qid,
                ecls,
                m["peak_execution_memory_bytes"],
                m["memory_spill_bytes"],
                m["disk_spill_bytes"],
                m["shuffle_write_bytes"],
                "flightsql_query_audit",
                json.dumps(
                    {
                        "sql": sql,
                        "begin_ns": b,
                        "end_ns": e,
                        "total_ms": ms,
                        "query_id": qid,
                        "error_class": ecls,
                        "peak_execution_memory_bytes": m[
                            "peak_execution_memory_bytes"
                        ],
                        "memory_spill_bytes": m["memory_spill_bytes"],
                        "disk_spill_bytes": m["disk_spill_bytes"],
                        "client": "micromegas_spark",
                    },
                    separators=(",", ":"),
                ),
            )
            for (t, sql, b, e, ms, qid, ecls) in log
            for m in (metrics.get(qid, zero),)
        ]
        return self.spark.createDataFrame(rows, schema)

    def query_log(self) -> DataFrame:
        """Query history as a DataFrame (time_ns, sql, begin_ns, end_ns,
        plan_ms), also the ``query_log`` view of every statement that
        names it — built then, so SQL over it always sees all prior
        queries without paying the O(len(log)) materialization on
        unrelated statements. The log rotates at QUERY_LOG_MAX entries;
        the in-flight query itself is appended after it is planned."""
        return self._query_log_df()

    def failure_counters(self) -> dict[str, int]:
        """The #1435 monitoring contract over the audit log:
        ``query_failed`` counts ONLY genuine service failures
        (error_class == 'internal'), so alerting on it never fires for a
        caller's typo or a budget kill; the 'user'/'resource' classes
        keep their own visibility through ``query_failed_user`` /
        ``query_failed_resource`` (count-only, exactly like the
        reference's counters — flight_sql_service_impl.rs's
        query_failed/query_failed_user/query_failed_resource split).
        Driver-side scan of the bounded in-memory log: O(QUERY_LOG_MAX)."""
        counts = {"query_failed": 0, "query_failed_user": 0, "query_failed_resource": 0}
        for rec in list(self._query_log):
            cls = rec[6]
            if cls == "internal":
                counts["query_failed"] += 1
            elif cls == "user":
                counts["query_failed_user"] += 1
            elif cls == "resource":
                counts["query_failed_resource"] += 1
        return counts

    @classmethod
    def from_test_tables(cls, spark: SparkSession, sf_dir: str, warehouse: str | None = None) -> "Engine":
        """Bootstrap an Engine over the driver's synthetic tables
        (TESTDATA.md) so the full SQL surface works immediately:
        ``Engine.from_test_tables(spark, sf).query("SELECT ...", b, e)``.
        The events table gets its epoch-µs column as the range key."""
        from micromegas_spark.sources.tables import TEST_TABLES, load_table

        eng = cls(spark, warehouse)
        for name in TEST_TABLES:
            df = load_table(spark, sf_dir, name)
            # range key must match query()'s documented epoch-ns units:
            # events.ts is the raw ns column (ts_us is the µs convenience)
            eng.register_table(name, df, time_column="ts" if name == "events" else None)
        return eng

    # -- lakehouse / batch views ----------------------------------------------

    def require_admin(self, fn_name: str) -> None:
        """Gate for the partition-admin surface: in a non-admin session
        the reference never registers the admin UDTFs, so invoking one
        fails as unknown (query.rs:150-175) — mirror that exact
        user-visible behavior rather than a permission error."""
        if not self.admin:
            raise LookupError(f"function {fn_name!r} not found")

    @property
    def lakehouse(self):
        """Lazily-built partition catalog over this engine's warehouse —
        JIT view instances materialize into it and the admin surface
        (retire/materialize/regenerate) delegates here (the reference's
        admin UDFs mutate the same catalog, query.rs:150-175)."""
        if not hasattr(self, "_lakehouse"):
            self._lakehouse = Lakehouse(self.spark, self.warehouse)
        return self._lakehouse

    def register_batch_view(self, spec) -> None:
        """Register a BatchViewSpec so admin ops can address it by view
        name (the reference's view_factory registry role)."""
        self._batch_views[spec.name] = spec

    # -- JIT view instances ----------------------------------------------------

    def register_jit_view_set(self, vs: JitViewSet) -> None:
        self._jit[vs.name] = vs

    def view_instance(
        self, view_set: str, instance: str, begin_ns: int, end_ns: int,
        bucket_ns: int = 3_600 * 10**9,
    ) -> DataFrame:
        """JIT materialization (materialized_view.rs:69-72, log_view.rs:
        148-210, jit_partitions.rs:59-95). Each (view_set, instance) is
        one view of the Lakehouse catalog (instance_view), so its
        partitions commit, list, retire and vacuum like any view's.
        Bucket mode runs Lakehouse.materialize_range over the range's
        aligned insert-time buckets: a bucket whose source count differs
        from its partition's source hash is rebuilt by the view set's
        builder. Block-aware view sets (``JitViewSet.list_blocks`` set)
        instead cut partitions from the event-time-ordered block list
        with insert-safe cuts (reference #1429) — see
        _view_instance_blocks. Either way the read is the partitions the
        call resolved, filtered to the range."""
        if view_set not in self._jit:
            raise InvalidArgument(
                f"unknown JIT view set {view_set!r} "
                f"(known: {sorted(self._jit)})"
            )
        vs = self._jit[view_set]
        view = instance_view(view_set, instance)
        lake = self.lakehouse
        if vs.list_blocks is not None:
            parts = self._view_instance_blocks(vs, instance, view, begin_ns, end_ns)
            live = parts or lake.list_partitions(view)
        else:
            lake.materialize_range(
                _InstanceSpec(view, vs.time_column, vs, instance),
                begin_ns, end_ns, bucket_ns,
            )
            lo = begin_ns - begin_ns % bucket_ns
            live = lake.list_partitions(view)
            parts = [
                p for p in live if p.begin_insert_ns < end_ns and p.end_insert_ns > lo
            ]
        if not parts:
            return _typed_empty(self.spark, live)
        return _scan(self.spark, parts).where(
            (F.col(vs.time_column) >= begin_ns) & (F.col(vs.time_column) < end_ns)
        )

    def _view_instance_blocks(
        self, vs: JitViewSet, instance: str, view: str, begin_ns: int, end_ns: int
    ) -> list[Partition]:
        """Event-time JIT grouping (reference #1429, jit_partitions.rs
        group_blocks_into_partitions + RetireMatch::Overlap); returns the
        partitions that cover the range:

        1. list the instance's blocks overlapping [begin, end) by EVENT
           time, cut partitions via group_blocks_into_partitions (event-
           time order, insert-safe cuts);
        2. reuse a catalog partition iff its block set is identical (its
           source hash is a hash over sorted (block_id, nb_objects) —
           staleness by content, matching the reference's
           is_jit_partition_up_to_date);
        3. a moved cut point between runs can leave a stale partition
           that merely OVERLAPS (not contains) a new one, so retirement
           matches by inclusive insert-range intersection —
           RetireMatch::Overlap with this run's partitions protected by
           identity, not range shape. A partition's insert range is
           [min insert, max insert + 1), so the half-open overlap test
           is the reference's inclusive one (tstzrange(..., '[]')).

        Listing, builds and the one retire+insert commit run under the
        view's lock, so concurrent callers build each group once."""
        import hashlib

        lake = self.lakehouse
        groups = group_blocks_into_partitions(
            list(vs.list_blocks(instance, begin_ns, end_ns)), vs.max_nb_objects
        )
        with lake._view_lock(view):
            listed = lake.list_partitions(view)
            cached = {p.source_hash: p for p in listed}
            resolved: list[Partition] = []
            new: list[Partition] = []
            for grp in groups:
                ident = sorted((str(b["block_id"]), int(b["nb_objects"])) for b in grp)
                digest = hashlib.sha1(json.dumps(ident).encode()).digest()
                key = int.from_bytes(digest[:8], "big", signed=True)
                part = cached.get(key)
                if part is None:
                    part = self._build_block_group(vs, instance, view, grp, key)
                    new.append(part)
                resolved.append(part)
            mine = {_identity(p) for p in resolved}
            stale = {
                _identity(p)
                for p in listed
                if _identity(p) not in mine
                and any(
                    p.begin_insert_ns < r.end_insert_ns
                    and r.begin_insert_ns < p.end_insert_ns
                    for r in resolved
                )
            }
            if new or stale:
                lake._commit_delta(view, drop=lambda p: _identity(p) in stale, add=new)
        return resolved

    def _build_block_group(
        self, vs: JitViewSet, instance: str, view: str, grp: list[dict], key: int
    ) -> Partition:
        """Build one block group and write it once to a unique directory
        of the instance's view; the caller's commit publishes it."""
        df = vs.build_blocks(instance, [b["block_id"] for b in grp])
        begin_insert = min(b["insert_ns"] for b in grp)
        end_insert = max(b["insert_ns"] for b in grp) + 1
        pdir = self.lakehouse.fs.unique_dir_url(view, f"{begin_insert}_{end_insert}")
        if vs.ensure_begin_non_decreasing:
            # bounded by max_nb_objects per partition, so the
            # validation pass is cheap by design; persist so the
            # builder lineage isn't re-executed by the write.
            # unpersist in finally: a failed order check or write
            # must not leak the cached partition for the session's
            # lifetime. The check certifies within-partition order
            # only — the builder contract (JitViewSet docstring)
            # is one begin-sorted output partition per block
            # group, matching the reference where each written
            # batch is independently validated (#1429); readers
            # re-sort across partitions when they need a total
            # order.
            from pyspark import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                ensure_begin_non_decreasing(
                    df, vs.time_column, f"{vs.name}/{instance}/{key}"
                )
                df.write.mode("overwrite").parquet(pdir)
            finally:
                df.unpersist(blocking=False)
        else:
            df.write.mode("overwrite").parquet(pdir)
        return Partition(
            begin_insert_ns=begin_insert,
            end_insert_ns=end_insert,
            source_hash=key,
            min_event_ns=min(b["begin_ns"] for b in grp),
            max_event_ns=max(b["end_ns"] for b in grp),
            path=pdir,
            schema_hash=schema_fingerprint(df),
            schema_json=df.schema.json(),
        )
