"""Task-log surface for long-running admin operations (SURVEY §2.1 S11).

Reference: ``rust/analytics/src/dfext/task_log_exec_plan.rs:35-60`` +
``log_stream_table_provider.rs`` — the admin table functions
(``materialize_partitions`` / ``regenerate_partitions`` /
``retire_partitions``, ``lakehouse/*_table_function.rs``) return the
operation's PROGRESS LOG as the query's result table, schema
``(time: Timestamp, msg: Utf8)``; the spawned task catches its own
failure and writes the error message as the final log row — the query
still succeeds with the error as the last ``(time, msg)`` entry
(matched here: :meth:`TaskLog.run` runs the op and appends
``error: ...`` on exception). Argument errors raise at plan time in
both systems.

Spark-first shape: these ops are driver-side catalog mutations whose
unit of progress is the partition bucket. A :class:`TaskLog` collects
``(time, msg)`` rows as the op runs, and the engine's one planning
path (engine.py ``Engine._plan``) binds the finished log as the
statement's result relation, so the reference's documented admin UX —
``SELECT * FROM materialize_partitions('view', 'begin', 'end', delta)``
streams its own progress back — runs verbatim.

Documented delta: DataFusion streams rows WHILE the task runs (an mpsc
channel feeding ``AsyncLogStream``); a Spark temp view cannot emit
partial batches mid-statement, so on the EMBEDDED path the rows arrive
when the op completes (the served FlightSQL path does stream mid-run —
flightsql/server.py ``_stream_task_log``). The observable contract is
otherwise identical — the admin statement's result IS the task log, and
an op failure is caught and written as the FINAL ``(time, msg)`` row
(``error: ...``) with the statement itself succeeding, exactly the
reference's producer-catches-and-writes shape — and the row volume is
one row per bucket decision, bounded by the op's own partition count
(the same bound the reference's channel carries; its channel depth is
100).
"""

from __future__ import annotations

import time
from datetime import datetime, timezone
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


class TaskLog:
    """Collects timestamped progress messages from an admin operation.

    The reference's ``LogSender::write_log_entry``
    (``response_writer.rs:54-75``) analogue: ``write()`` never fails the
    task, and the collected rows become the operation's result table."""

    __slots__ = ("rows",)

    def __init__(self) -> None:
        self.rows: list[tuple[int, str]] = []

    def write(self, msg: str) -> None:
        self.rows.append((time.time_ns(), str(msg)))

    def run(self, op, args: tuple) -> None:
        """Run ``op(*args, self)``. The op's own failure becomes the
        log's final row, ``error: ...``, and does not raise: the
        statement succeeds and returns the log (the reference's
        producers catch and write the error, then close)."""
        try:
            op(*args, self)
        except Exception as e:
            self.write(f"error: {e}")

    def to_df(self, spark: "SparkSession") -> "DataFrame":
        """The log as the reference's result schema: (time TIMESTAMP, msg
        STRING). Spark timestamps are µs where the reference's are ns —
        the sub-µs digits of a progress log carry no information."""
        from pyspark.sql.types import (
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        schema = StructType(
            [StructField("time", TimestampType()), StructField("msg", StringType())]
        )
        rows = [
            (datetime.fromtimestamp(t / 1e9, tz=timezone.utc), m)
            for t, m in self.rows
        ]
        return spark.createDataFrame(rows, schema)
