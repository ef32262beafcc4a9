"""The dashboard query mix: four classes of seeded, time-range-bounded
statements, each with its DuckDB twin, and the result digests used to
check every timed result outside the timed region.

The class shares (SLOTS), window lengths (SPAN_MIN) and parameters are a
choice of this benchmark, not taken from a measured dashboard: no source
in the repository records a query mix."""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from lake import MIN_NS

# class → statements per round of SCHEDULE_LEN (shares 35/30/25/10 %)
SLOTS = {"stats": 7, "timeseries": 6, "udf": 5, "fetch": 2}
SPECS_PER_CLASS = 12
# window length per class, minutes; fetch windows hold ~10^4 rows
SPAN_MIN = {"stats": 30, "timeseries": 20, "udf": 30, "fetch": 20}
EDGE_MIN = 5  # windows avoid the sparse first and last minutes of data
METRICS = ("cpu_usage", "memory_rss", "frame_time", "queue_len")
STRIDES = (30, 60, 300)
LEVELS = (3, 4, 5)

_WHERE = "time_ns >= {b} AND time_ns < {e}"
# log_entries grows while the readers run: its statements read the rows
# inserted before {ins}, so their results are fixed and checkable
_INS = " AND l.insert_time_ns < {ins}"
_HIST = (
    "named_struct('start', 0.0D, 'end', 100.0D, 'min', MIN(value), "
    "'max', MAX(value), 'sum', SUM(value), 'sum_sq', SUM(value * value), "
    "'count', COUNT(*), 'bins', array(CAST(0 AS BIGINT)))"
)

# (class, spark sql, duckdb sql, number of leading key columns); key
# columns come first so rows sort by them, measures follow
TEMPLATES = [
    (
        "stats",
        "SELECT level, SUM(count) AS n FROM log_stats "
        "WHERE time_bin_ns >= {b} AND time_bin_ns < {e} GROUP BY level",
        None, 1,
    ),
    (
        "stats",
        "SELECT target, SUM(count) AS n FROM log_stats "
        "WHERE time_bin_ns >= {b} AND time_bin_ns < {e} AND level <= {lvl} "
        "GROUP BY target",
        None, 1,
    ),
    (
        "stats",
        "SELECT process_id, time_bin_ns, SUM(count) AS n FROM log_stats "
        "WHERE time_bin_ns >= {b} AND time_bin_ns < {e} "
        "GROUP BY process_id, time_bin_ns",
        None, 2,
    ),
    (
        "timeseries",
        "SELECT unix_micros(date_bin_s({stride}, timestamp_micros(time_ns div 1000))) "
        "AS bin_us, name, AVG(value) AS avg_v, MAX(value) AS max_v, COUNT(*) AS n "
        "FROM measures WHERE " + _WHERE + " GROUP BY 1, 2",
        "SELECT time_ns // 1000 - (time_ns // 1000) % ({stride} * 1000000) AS bin_us, "
        "name, AVG(value) AS avg_v, MAX(value) AS max_v, COUNT(*) AS n "
        "FROM measures WHERE " + _WHERE + " GROUP BY 1, 2",
        2,
    ),
    (
        "timeseries",
        "SELECT unix_micros(date_bin_s({stride}, timestamp_micros(time_ns div 1000))) "
        "AS bin_us, process_id, MIN(value) AS min_v, AVG(value) AS avg_v "
        "FROM measures WHERE " + _WHERE + " AND name = '{metric}' GROUP BY 1, 2",
        "SELECT time_ns // 1000 - (time_ns // 1000) % ({stride} * 1000000) AS bin_us, "
        "process_id, MIN(value) AS min_v, AVG(value) AS avg_v "
        "FROM measures WHERE " + _WHERE + " AND name = '{metric}' GROUP BY 1, 2",
        2,
    ),
    (
        # the process's property map: log entries that went through DoPut
        # lose their MAP type (NOTES.md)
        "udf",
        "SELECT property_get(p.properties, 'build-version') AS version, "
        "l.target, COUNT(*) AS n FROM log_entries l "
        "JOIN processes p ON l.process_id = p.process_id "
        "WHERE l.time_ns >= {b} AND l.time_ns < {e} AND l.level <= 4" + _INS + " GROUP BY 1, 2",
        "SELECT p.properties['build-version'][1] AS version, l.target, COUNT(*) AS n "
        "FROM log_entries l JOIN processes p ON l.process_id = p.process_id "
        "WHERE l.time_ns >= {b} AND l.time_ns < {e} AND l.level <= 4" + _INS + " GROUP BY 1, 2",
        2,
    ),
    (
        "udf",
        "SELECT jsonb_as_string(jsonb_get(to_json(p.properties), 'env')) AS env, "
        "l.level, COUNT(*) AS n FROM log_entries l "
        "JOIN processes p ON l.process_id = p.process_id "
        "WHERE l.time_ns >= {b} AND l.time_ns < {e}" + _INS + " GROUP BY 1, 2",
        "SELECT p.properties['env'][1] AS env, l.level, COUNT(*) AS n "
        "FROM log_entries l JOIN processes p ON l.process_id = p.process_id "
        "WHERE l.time_ns >= {b} AND l.time_ns < {e}" + _INS + " GROUP BY 1, 2",
        2,
    ),
    (
        "udf",
        "SELECT name, count_from_histogram(h) AS n, variance_from_histogram(h) AS var "
        "FROM (SELECT name, " + _HIST + " AS h FROM measures WHERE " + _WHERE
        + " GROUP BY name)",
        "SELECT name, COUNT(*) AS n, (SUM(value * value) / COUNT(*) - "
        "(SUM(value) / COUNT(*)) * (SUM(value) / COUNT(*))) * "
        "(CAST(COUNT(*) AS DOUBLE) / (COUNT(*) - 1)) AS var "
        "FROM measures WHERE " + _WHERE + " GROUP BY name",
        1,
    ),
    (
        "fetch",
        "SELECT time_ns, process_id, level, target, msg FROM log_entries l "
        "WHERE " + _WHERE + _INS,
        None, 0,
    ),
]


@dataclass
class Spec:
    cls: str
    sql: str
    duck_sql: str
    n_keys: int
    begin_ns: int
    end_ns: int


def make_specs(rng: random.Random, t_lo: int, t_hi: int, ins: int) -> list[Spec]:
    """SPECS_PER_CLASS statements per class over event times [t_lo, t_hi),
    reading the log entries inserted before ``ins``; round-robin over the
    class's templates and parameters. Only the minute-aligned window
    starts are drawn from ``rng``, so every seed asks for the same amount
    of work."""
    by_cls: dict[str, list] = {}
    for t in TEMPLATES:
        by_cls.setdefault(t[0], []).append(t)
    specs = []
    for cls in SLOTS:
        length = SPAN_MIN[cls] * MIN_NS
        lo = t_lo - t_lo % MIN_NS + EDGE_MIN * MIN_NS
        n_starts = max(1, (t_hi - lo - length) // MIN_NS - EDGE_MIN)
        for i in range(SPECS_PER_CLASS):
            _, sql, duck, keys = by_cls[cls][i % len(by_cls[cls])]
            start = lo + rng.randrange(n_starts) * MIN_NS
            params = {
                "b": start, "e": start + length, "ins": ins, "lvl": LEVELS[i % len(LEVELS)],
                "stride": STRIDES[i % len(STRIDES)], "metric": METRICS[i % len(METRICS)],
            }
            specs.append(Spec(
                cls, sql.format(**params), (duck or sql).format(**params),
                keys, start, start + length,
            ))
    return specs


def class_sequence() -> list[str]:
    """One round of SLOTS classes spread evenly (smooth weighted round
    robin): any run of consecutive statements holds each class close to
    its share, so a short run's mix does not depend on the seed."""
    total = sum(SLOTS.values())
    credit = {c: 0 for c in SLOTS}
    out = []
    for _ in range(total):
        for c in SLOTS:
            credit[c] += SLOTS[c]
        pick = max(SLOTS, key=lambda c: credit[c])
        credit[pick] -= total
        out.append(pick)
    return out


def schedule(rng: random.Random, specs: list[Spec], offset: int) -> list[int]:
    """One client's cyclic sequence of statement indices: every round
    follows class_sequence() from position ``offset`` (clients start
    apart), over the classes present in ``specs``; the statements of a
    class are taken in a seeded order."""
    by_cls: dict[str, list[int]] = {}
    for i, s in enumerate(specs):
        by_cls.setdefault(s.cls, []).append(i)
    for idx in by_cls.values():
        rng.shuffle(idx)
    seq = class_sequence()
    seq = [c for c in seq[offset:] + seq[:offset] if c in by_cls]
    out = []
    nxt = {c: 0 for c in by_cls}
    for _ in range(SPECS_PER_CLASS):
        for c in seq:
            out.append(by_cls[c][nxt[c] % len(by_cls[c])])
            nxt[c] += 1
    return out


# -- result digests ----------------------------------------------------------


def rows_of(table) -> list[tuple]:
    return list(zip(*[c.to_pylist() for c in table.columns])) if table.num_columns else []


def digest(spec: Spec, rows: list[tuple]):
    """Fetch results (10^4+ rows) shrink to (count, order-free hash sum);
    aggregates keep their rows, sorted by the key columns."""
    if spec.cls == "fetch":
        return ("fp", len(rows), sum(hash(r) for r in rows) & (2**64 - 1))
    return ("rows", sorted(rows, key=lambda r: tuple(str(v) for v in r[: spec.n_keys])))


def stats_sql(spec: Spec, cut: int) -> str:
    """A stats statement's DuckDB twin over the log entries inserted before
    ``cut`` (lake.duck_connect's ``log_stats_upto``)."""
    return spec.duck_sql.replace("FROM log_stats ", f"FROM log_stats_upto({cut}) ")


def within(got, lo, hi, n_keys: int) -> bool:
    """Each group's count (the column after the ``n_keys`` key columns)
    in digest ``got`` lies between its count in ``lo`` and in ``hi``, 0
    where a group is absent: the check of a result over a table that only
    grew between the snapshots ``lo`` and ``hi``."""
    g, a, b = ({r[:n_keys]: r[n_keys] for r in d[1]} for d in (got, lo, hi))
    return all(a.get(k, 0) <= g.get(k, 0) <= b.get(k, 0) for k in g.keys() | a.keys() | b.keys())


REL_TOL = 1e-7  # summation order differs between engines


def same(a, b) -> bool:
    """Digest equality; floats compare within REL_TOL."""
    if a[0] != b[0]:
        return False
    if a[0] == "fp":
        return a == b
    if len(a[1]) != len(b[1]):
        return False
    for ra, rb in zip(a[1], b[1]):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
