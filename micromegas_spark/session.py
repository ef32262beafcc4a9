"""SparkSession construction and tuning.

The reference builds a DataFusion SessionContext per query with UDFs and view
providers registered (rust/analytics/src/lakehouse/query.rs:207-256). Our
equivalent is one long-lived SparkSession, cloned by ``Engine`` into a pool
of planning sessions (a call checks one out and binds its own statement's
views there; see ``clone_session``), with:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) — this
  is what makes the same code survive a 100x scale-up without manual tuning;
- Arrow transfer on (every pandas_udf / toPandas path is vectorized);
- shuffle partitions sized to the parallelism at hand (local mode: cores;
  cluster: leave to AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session handed to us (e.g. the
# driver's). Keep strictly to dynamic confs — static ones need builder time.
RUNTIME_CONFS = {
    # The synthetic events table stores TIMESTAMP(NANOS) which Spark cannot
    # read natively; read as epoch-nanosecond BIGINT and convert explicitly
    # (sources/tables.py). The reference is nanosecond-native throughout
    # (SURVEY §1.3), so we keep ns longs wherever sub-µs math matters.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # timezone-stable date functions regardless of host tz
    "spark.sql.session.timeZone": "UTC",
}


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers regardless of
    the driver's cwd/sys.path (worker processes don't inherit driver
    sys.path mutations). Ships a zip via addPyFile once per session; only
    needed by the pandas-UDF operators (spans, multimodal, parse_block,
    jsonb_path_query) — the pure-expression query surface never leaves the
    JVM."""
    marker = "_micromegas_spark_shipped"
    sc = spark.sparkContext
    if getattr(sc, marker, False):
        return
    try:
        import hashlib
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        sources = []
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    sources.append((full, os.path.getmtime(full), os.path.getsize(full)))
        # content-versioned name: a stale zip from an older package version
        # must never be reused (addPyFile caches by filename)
        digest = hashlib.md5(repr(sorted(sources)).encode()).hexdigest()[:12]
        zpath = os.path.join(tempfile.gettempdir(), f"micromegas_spark_pkg_{digest}.zip")
        if not os.path.exists(zpath):
            with zipfile.ZipFile(zpath, "w") as z:
                for full, _mt, _sz in sources:
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        sc.addPyFile(zpath)
        setattr(sc, marker, True)
    except Exception:
        pass  # best-effort; driver-side-only usage is unaffected


def configure(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # conf may be static/readonly in exotic deployments; queries are
            # written to degrade gracefully where possible.
            pass
    _ship_package(spark)
    return spark


def clone_session(spark: SparkSession) -> SparkSession:
    """A clone of ``spark``: it shares the SparkContext, the cache and the
    registered functions, copies the conf and temp views ``spark`` has
    now, and keeps a temp-view catalog of its own. The JVM keeps every
    clone's session state alive, so callers reuse clones rather than make
    one per statement."""
    return SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())


def sync_conf(spark: SparkSession, parent: SparkSession) -> None:
    """Make ``spark``'s SQL conf ``parent``'s as it is now — what a
    reused clone (a pooled planning session, a view's merge session)
    runs on every time it is checked out, so a conf set on the parent
    later still reaches it and a SET run on the clone does not outlive
    the use."""
    mine = spark._jsparkSession.sessionState().conf().settings()
    theirs = parent._jsparkSession.sessionState().conf().settings()
    if not mine.equals(theirs):
        # overwrite, then drop extras: plans of earlier uses may still be
        # running on this session and read its conf
        mine.putAll(theirs)
        mine.keySet().retainAll(theirs.keySet())


def _shuffle_partitions(cpus: str) -> str:
    """cpus×8 default; SPARK_GRAFT_SHUFFLE_PARTITIONS is the cluster-profile
    override (see the builder comment for the measured single-node caveat)."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "") or str(int(cpus) * 8)


def _max_partition_bytes() -> str:
    """2 MB default is the LOCAL-BENCH profile (single small parquet files
    would otherwise serialize CPU-heavy scans onto one core).
    SPARK_GRAFT_MAX_PARTITION_BYTES restores a realistic split size for
    scale runs / cluster profiles — at sf30 the 2 MB default makes a 5 GB
    corpus scan 1957 tasks whose per-task overhead is pure loss on big
    sequential reads (cluster default: 128 MB)."""
    return os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "") or str(2 * 1024 * 1024)


def get_spark(app_name: str = "micromegas-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or fetch) a tuned local session.

    On a real cluster the master/resources come from spark-submit; everything
    here except master() is cluster-appropriate as-is.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # cpus*8, not cpus: at scale, per-partition sort/aggregate state
        # must fit a task's execution-memory share — 32 partitions at sf10
        # put the containment verify's multi-GB sorts on single tasks
        # (measured SparkOutOfMemoryError; 512 partitions completes) —
        # while at bench scale AQE's coalesce trims the excess (measured
        # A/B at sf0.01: 8→64 partitions is ~15% FASTER, not slower).
        # "Set shuffle.partitions high, let AQE trim" is the
        # cluster-correct default. SPARK_GRAFT_SHUFFLE_PARTITIONS is the
        # cluster-profile override (size partitions to executors × data
        # volume). Measured caveat (round-9 octave, SCALE.md): on a FIXED
        # single node, raising it past cpus×8 is a net loss — 1024
        # partitions ran docs_ngram_jaccard @ sf30 1.54x SLOWER than 256
        # (shuffle-fetch overhead with no spill relief; the binding
        # resource there is executor memory, which clusters add and one
        # box cannot). Use the knob to match a cluster, not to chase
        # single-node supra-linearity.
        .config("spark.sql.shuffle.partitions", _shuffle_partitions(cpus))
        # local-bench profile: the synthetic tables are single small parquet
        # files; the default 128MB split would run every CPU-heavy scan
        # stage on one core. A cluster profile keeps the default (at 100 TB
        # the source has thousands of natural splits);
        # SPARK_GRAFT_MAX_PARTITION_BYTES overrides for scale runs.
        .config("spark.sql.files.maxPartitionBytes", _max_partition_bytes())
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # local-bench profile: AQE's 64MB advisory target coalesces every
        # sub-64MB shuffle to ONE task, serializing window/agg stages at
        # bench scale (100k-row shuffles are ~5MB). 1MB advisory keeps
        # tens of tasks alive; a cluster profile keeps the default — at
        # 100 TB every shuffle saturates the advisory size anyway.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(1024 * 1024))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", str(256 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # zstd for shuffle/spill: ~2-3x better ratio than the lz4 default
        # on the narrow-row streams our set-similarity verifies shuffle
        # (measured at sf10: docs_containment_dups' pair shuffle exhausts
        # the sandbox's ~60 GB free volume under lz4 mid-aggregate, and
        # completes the same stages under zstd at a 57 GB peak), at a
        # negligible CPU cost at bench scale. At 100 TB this is the
        # difference between a shuffle fitting executor disks or not.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
