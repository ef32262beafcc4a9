"""Closed-loop FlightSQL clients: each sends its next statement only after
the previous result's last batch arrived. Latency is client send → last
batch; the result digest is taken after the clock stops."""

from __future__ import annotations

import itertools
import random
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

import mix
from tracing import tag_sql


@dataclass
class Rec:
    req: int
    spec: int
    t0: float
    t_first: float
    t1: float
    rows: int
    nbytes: int
    digest: object


def _ts(ns: int):
    import pandas as pd

    return pd.Timestamp(ns, unit="ns", tz="UTC")


def run_query(fc, spec: mix.Spec, req: int):
    """One timed statement → (t0, t_first, t1, batches)."""
    sql = tag_sql(spec.sql, req)
    begin, end = _ts(spec.begin_ns), _ts(spec.end_ns)
    batches = []
    t0 = time.perf_counter()
    t_first = None
    for b in fc.query_stream(sql, begin, end):
        if t_first is None:
            t_first = time.perf_counter()
        batches.append(b)
    t1 = time.perf_counter()
    return t0, t_first or t1, t1, batches


class Gate:
    """Readers' statements run inside ``read()``; ``write()`` holds new
    statements off and waits for those in flight. One writer."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._readers = 0
        self._writing = False

    @contextmanager
    def read(self):
        with self._cv:
            self._cv.wait_for(lambda: not self._writing)
            self._readers += 1
        try:
            yield
        finally:
            with self._cv:
                self._readers -= 1
                self._cv.notify_all()

    @contextmanager
    def write(self):
        with self._cv:
            self._writing = True
            self._cv.wait_for(lambda: self._readers == 0)
        try:
            yield
        finally:
            with self._cv:
                self._writing = False
                self._cv.notify_all()


def client_loop(uri: str, specs: list, order: list[int], stop_at: float,
                outcomes, out: list, gate: Gate) -> None:
    import pyarrow as pa

    from micromegas_spark.flightsql.client import FlightSQLClient

    with FlightSQLClient(uri) as fc:
        for n in itertools.count():
            if time.perf_counter() >= stop_at:
                break
            i = order[n % len(order)]
            req = outcomes.attempt()
            try:
                with gate.read():
                    t0, tf, t1, batches = run_query(fc, specs[i], req)
            except Exception as e:
                outcomes.fail(req, f"{specs[i].cls}: {type(e).__name__}: {e}")
                continue
            rows = mix.rows_of(pa.Table.from_batches(batches)) if batches else []
            out.append(Rec(
                req, i, t0, tf, t1, len(rows),
                sum(b.nbytes for b in batches), mix.digest(specs[i], rows),
            ))


class _Client(threading.Thread):
    """A client thread that keeps the exception that ended it."""

    def __init__(self, name: str, args: tuple) -> None:
        super().__init__(name=name)
        self._args_ = args
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            client_loop(*self._args_)
        except BaseException as e:  # re-raised by join_clients
            self.error = e


def start_clients(uri, specs, n, stop_at, seed_key, outcomes, out, gate) -> list:
    """``n`` closed-loop clients until ``stop_at``; a client stops sending
    at the deadline and finishes its in-flight statement. Clients start
    their schedules apart in the class sequence."""
    round_len = sum(mix.SLOTS.values())
    threads = [
        _Client(f"client-{c}", (
            uri, specs,
            mix.schedule(random.Random(f"{seed_key}/{c}"), specs, c * round_len // n),
            stop_at, outcomes, out, gate,
        ))
        for c in range(n)
    ]
    for t in threads:
        t.start()
    return threads


def join_clients(threads: list, timeout_s: float) -> None:
    for t in threads:
        t.join(timeout=timeout_s)
        if t.is_alive():
            raise RuntimeError(f"{t.name} did not finish")
        if t.error is not None:
            raise t.error


def verify(recs: list[Rec], specs: list, con, outcomes, cuts) -> None:
    """Compare each record's digest with DuckDB's result of the same
    statement; mismatches count as failed. log_stats grows while the
    readers run, so a stats result is checked group by group to lie
    between DuckDB's counts over the log entries inserted before the two
    cuts ``cuts(rec)`` gives."""
    memo: dict[tuple, object] = {}

    def expected(i: int, cut: int | None = None):
        if (i, cut) not in memo:
            s = specs[i]
            sql = s.duck_sql if cut is None else mix.stats_sql(s, cut)
            memo[i, cut] = mix.digest(s, con.sql(sql).fetchall())
        return memo[i, cut]

    for r in recs:
        s = specs[r.spec]
        if s.cls == "stats":
            lo, hi = cuts(r)
            ok = mix.within(r.digest, expected(r.spec, lo), expected(r.spec, hi), s.n_keys)
        else:
            ok = mix.same(r.digest, expected(r.spec))
        if not ok:
            outcomes.fail(r.req, f"{s.cls}: result differs from DuckDB: {s.sql[:120]}")
