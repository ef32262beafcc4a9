"""``analytics_batch``: one in-process caller runs two fixed families of
REGISTRY queries over a fixed corpus (batchdata.py), each to full
materialization (noop write), in an order the seed shuffles per pass.

- trace family: JIT view_instance through SQL, thread-span call trees
  and self time, transit decode, one ``*_stream`` query;
- corpus family: MinHash near-dup detection, n-gram Jaccard, k-means.

operators, sources, streaming and the Python-worker boundary do most of
the work; FlightSQL, materialize and the dashboard's planning path none.
"""

from __future__ import annotations

import math
import os
import random
import time

import batchdata
from layers import CORPUS_FAMILY, TRACE_FAMILY, spark_work
from stats import median

FAMILIES = {"trace": TRACE_FAMILY, "corpus": CORPUS_FAMILY}
PASS_S = 10  # one pass of both families took 9-14 s on 4 cores (NOTES.md)
# the corpus is the same for every run, like a shared test-data set; the
# run's seed orders the queries
CORPUS_SEED = 1
TABLES = ("events", "documents", "embeddings")


class State:
    pass


def _norm(rows, cols):
    """Column-name order, NaN as a token, rows sorted — both engines'
    results compare equal when they hold the same multiset of rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def fix(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    return sorted([tuple(fix(r[i]) for i in order) for r in rows], key=str)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _release(spark) -> None:
    from micromegas_spark.cachereg import release_caches

    release_caches()
    spark.catalog.clearCache()


def setup(ctx) -> State:
    """Generate the corpus, then run every family query once, collect its
    rows and compare them with the query's DuckDB oracle — the warm-up
    and the correctness check of the plans the timed passes run."""
    import duckdb

    from micromegas_spark.queries import REGISTRY

    st = State()
    t0 = time.perf_counter()
    st.sf = batchdata.write(CORPUS_SEED, os.path.join(ctx.scratch, "corpus"))
    ctx.timings["datagen_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{st.sf}/{t}.parquet')"
        )
    order = [q for fam in FAMILIES.values() for q in fam]
    random.Random(f"{ctx.seed}/verify").shuffle(order)
    for q in order:
        op = ctx.outcomes.attempt()
        try:
            df = REGISTRY[q].spark(ctx.spark, st.sf)
            got = _norm([tuple(r) for r in df.collect()], df.columns)
            rel = con.sql(REGISTRY[q].oracle)
            want = _norm(rel.fetchall(), [c[0] for c in rel.description])
            if len(got) != len(want) or not all(
                _close(a, b) for a, b in zip(got, want)
            ):
                ctx.outcomes.fail(op, f"{q}: {len(got)} rows differ from the oracle's {len(want)}")
        except Exception as e:
            ctx.outcomes.fail(op, f"{q}: {type(e).__name__}: {e}")
        finally:
            _release(ctx.spark)
    con.close()
    ctx.timings["warmup_s"] = time.perf_counter() - t0
    return st


def _run_one(ctx, st, q: str, group: str) -> float:
    from micromegas_spark.engine import job_group
    from micromegas_spark.queries import REGISTRY

    sc = ctx.spark.sparkContext
    t0 = time.perf_counter()
    # planning may run an Engine statement that sets and clears its own
    # job group, so the write re-enters ours
    with job_group(sc, group, q):
        df = REGISTRY[q].spark(ctx.spark, st.sf)
    with job_group(sc, group, q):
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def measure(ctx, st, seconds: float) -> dict:
    """As many whole passes over both families as fit in ``seconds`` at
    PASS_S a pass (at least one) — a count fixed by the arguments, so
    every run of a setting times the same work."""
    runs = []
    start = time.perf_counter()
    for n in range(max(1, int(seconds // PASS_S))):
        order = [(f, q) for f, qs in FAMILIES.items() for q in qs]
        random.Random(f"{ctx.seed}/{n}").shuffle(order)
        for fam, q in order:
            op = ctx.outcomes.attempt()
            group = f"perfbench-{n}-{q}"
            try:
                dt = _run_one(ctx, st, q, group)
            except Exception as e:
                ctx.outcomes.fail(op, f"{q}: {type(e).__name__}: {e}")
                continue
            finally:
                _release(ctx.spark)
            runs.append({"pass": n, "family": fam, "query": q, "s": dt, "group": group})
    wall = time.perf_counter() - start
    return {
        "runs": runs,
        "latencies_ms": [r["s"] * 1e3 for r in runs],
        "queries_per_s": len(runs) / wall,
    }


def verify(ctx, st) -> None:
    """Results were checked against the oracles in setup()."""


def layer_metrics(ctx, st, tracer, res) -> dict:
    """Pass time and per-query time for each family; in the traced run
    also the tasks, shuffle and spill Spark attributed to its queries."""
    m: dict[str, float] = {}
    runs = res["runs"]
    engine = None
    if tracer is not None:
        from micromegas_spark.engine import Engine

        # the job-group audit (Engine.query_metrics) sums task metrics
        engine = Engine(ctx.spark, warehouse=os.path.join(ctx.scratch, "warehouse"))
    for fam, qs in FAMILIES.items():
        passes: dict[tuple, dict] = {}
        for r in (r for r in runs if r["family"] == fam):
            p = passes.setdefault(r["pass"], {"s": 0.0, "tasks": 0, "shuffle": 0, "spill": 0})
            p["s"] += r["s"]
            if engine is not None:
                p["tasks"] += spark_work(ctx.spark.sparkContext, r["group"])[1]
                qm = engine.query_metrics(r["group"])
                p["shuffle"] += qm["shuffle_write_bytes"]
                p["spill"] += qm["disk_spill_bytes"] + qm["memory_spill_bytes"]
        if passes:
            ps = list(passes.values())
            m[f"batch.{fam}_pass_s"] = median([p["s"] for p in ps])
            m[f"batch.{fam}.tasks"] = median([p["tasks"] for p in ps])
            m[f"batch.{fam}.shuffle_bytes"] = median([p["shuffle"] for p in ps])
            m[f"batch.{fam}.spill_bytes"] = median([p["spill"] for p in ps])
        for q in qs:
            t = [r["s"] for r in runs if r["query"] == q]
            if t:
                m[f"batch.{q}_s"] = median(t)
    return m


def teardown(st) -> None:
    pass
