"""Query-failure classification (reference #1435,
rust/public/src/servers/flight_sql_service_impl.rs
classify_datafusion_error / client_error / classify_flight_error).

The reference walks ``DataFusionError::find_root()`` and maps the root to a
gRPC status: caller mistakes (typo'd column/function, syntax error,
unsupported type in a UDF) → ``InvalidArgument``; resource-budget
exhaustion → ``ResourceExhausted``; unimplemented features →
``Unimplemented``; genuine bugs stay ``Internal``. pyarrow clients then see
``ValueError``-subclass exceptions (``ArrowInvalid`` /
``ArrowNotImplementedError``) for bad queries instead of
``FlightInternalError`` for everything.

Here the engine is Spark, so the root cause is a PySpark exception:

- ``AnalysisException`` (unknown column/table/function, ambiguous
  reference, type mismatch — Spark already embeds the line/column pointer
  the reference added via collect_spans) and ``ParseException`` (syntax)
  and ``InvalidArgument`` (the explicit marker the package's own
  argument-validation paths raise) → ``user`` → raised to Flight clients
  as ``pyarrow.lib.ArrowInvalid`` (gRPC ``InvalidArgument``). Bare
  ``ValueError``/``TypeError``/``KeyError`` deliberately do NOT classify
  as user: the reference reclassifies only specific validated roots, and
  a genuine server-side bug (a KeyError in engine code) must stay
  ``internal`` so query_failed monitoring sees it — builtins raised
  INSIDE executor-side UDFs still classify user via the PythonException
  message match (that path runs only user-supplied expressions).
- ``NotImplementedError`` / Spark ``UnsupportedOperationException`` →
  ``unimplemented`` → ``pyarrow.lib.ArrowNotImplementedError``
  (gRPC ``Unimplemented``).
- ``MemoryError`` / Spark ``SparkOutOfMemoryError`` / disk exhaustion
  (ENOSPC, "No space left on device" from shuffle/spill writes — the
  budget the reference caps with MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB)
  → ``resource``.
  pyarrow's Python Flight server wrapper has no raisable class that maps
  to gRPC ``ResourceExhausted`` (only Invalid / NotImplemented / Key have
  dedicated mappings), so this class surfaces as a ``FlightServerError``
  whose message carries the machine-greppable ``[error_class=resource]``
  marker — the classification is still recorded in the audit log.
- anything else → ``internal`` (``FlightServerError``).

Every client-facing message carries ``[query_id=...]`` so the client
error, the ``query_log`` audit record, and the server log line correlate
by grepping the id (the reference's QueryAuditRecord.query_id).
"""

from __future__ import annotations

import errno

USER = "user"
RESOURCE = "resource"
UNIMPLEMENTED = "unimplemented"
INTERNAL = "internal"


class SpillBudgetExceeded(RuntimeError):
    """A query's attributed disk spill crossed the engine's budget
    (Engine(max_spill_mb=...) / MICROMEGAS_SPARK_MAX_SPILL_MB — the
    rebuild's MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB). Classifies
    as ``resource``, like OOM and ENOSPC."""


class InvalidArgument(ValueError):
    """Argument-validation failure the CALLER can fix — the explicit
    marker the package's validation paths raise (engine view lookups,
    time-range parsing, wire-protobuf decoding, function argument
    checks). A ValueError subclass, so existing ``except ValueError``
    callers keep working; classification keys on this type so it never
    has to guess whether a bare builtin came from the user or from a
    server-side bug (reference #1435 reclassifies specific validated
    roots, not every builtin)."""


def exception_chain(e: BaseException) -> list[BaseException]:
    """Outermost → deepest __cause__/__context__ chain (cycle-safe)."""
    chain, seen = [], set()
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        chain.append(e)
        e = e.__cause__ or e.__context__
    return chain


def find_root(e: BaseException) -> BaseException:
    """DataFusionError::find_root() analogue: the deepest CLASSIFIABLE
    exception in the cause chain. PySpark's captured AnalysisException
    keeps the raw Py4JJavaError as its __context__, so the literal deepest
    link is transport noise — classification (and the client message)
    come from the deepest link that classifies as something other than
    'internal', else the outermost exception."""
    for link in reversed(exception_chain(e)):
        if _classify_one(link) is not None:
            return link
    return e


def _classify_one(e: BaseException) -> str | None:
    """Classify ONE exception, or None when it carries no signal."""
    try:
        from pyspark.errors import (
            AnalysisException,
            IllegalArgumentException,
            ParseException,
            PySparkTypeError,
            PySparkValueError,
        )

        if isinstance(
            e,
            (AnalysisException, ParseException, IllegalArgumentException,
             PySparkValueError, PySparkTypeError),
        ):
            return USER
    except ImportError:  # pragma: no cover - pyspark always present here
        pass
    if isinstance(e, InvalidArgument):
        return USER
    if isinstance(e, NotImplementedError):
        return UNIMPLEMENTED
    if isinstance(e, MemoryError):
        return RESOURCE
    if isinstance(e, SpillBudgetExceeded):
        return RESOURCE
    if isinstance(e, OSError) and e.errno == errno.ENOSPC:
        return RESOURCE
    msg = f"{type(e).__name__}: {e}"
    # Py4J-wrapped JVM exceptions and executor-side Python-UDF failures
    # (PythonException) arrive as strings — match the embedded classes,
    # mirroring the reference's internal_err!→exec_err! reclassification
    # of UDF argument/type checks (#1435)
    if "SparkOutOfMemoryError" in msg or "OutOfMemoryError" in msg:
        return RESOURCE
    # disk exhaustion during shuffle/spill writes is a resource-budget
    # failure exactly like OOM (the reference caps it with
    # MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB) — the JVM surfaces it
    # as an IOException whose message carries the errno text
    if "No space left on device" in msg or "ENOSPC" in msg or "DiskBlockObjectWriter" in msg:
        return RESOURCE
    if (
        "UnsupportedOperationException" in msg
        or "UNSUPPORTED_FEATURE" in msg
        or "NotImplementedError" in msg
    ):
        return UNIMPLEMENTED
    # executor-side Python failures surface either as a captured
    # PythonException or, from a result stream (client._stream_batches
    # pulls partitions through an RDD socket server), as a bare
    # Py4JJavaError whose message embeds the worker traceback; the
    # UDF body ran user-supplied expressions, so its builtins ARE
    # argument errors (reference #1435's exec_err reclassification) —
    # unlike driver-side bare builtins, which stay internal
    if ("PythonException" in msg or type(e).__name__ == "PythonException") and (
        "ValueError" in msg
        or "TypeError" in msg
        or "KeyError" in msg
        or "InvalidArgument" in msg
    ):
        return USER
    if "IllegalArgumentException" in msg or "CAST_INVALID_INPUT" in msg:
        return USER
    return None


def classify_exception(e: BaseException) -> str:
    """Map an exception (from planning or execution) to an error class:
    the deepest classifiable link in the cause chain wins."""
    for link in reversed(exception_chain(e)):
        cls = _classify_one(link)
        if cls is not None:
            return cls
    return INTERNAL


def _client_message(e: BaseException, query_id: str | None) -> str:
    """The reference drops the old status! macro's absolute build-path
    file:line suffix from client messages; here the message is just the
    root cause's own text plus the correlatable query id."""
    import re

    root = find_root(e)
    msg = str(root).strip() or type(root).__name__
    # executor-side Python failures embed the worker traceback in a JVM
    # stack blob; surface the actual raising line (the reference likewise
    # sends the root error text, not the transport wrapping)
    if "Traceback (most recent call last)" in msg:
        hits = re.findall(r"(?m)^\s*(\w+(?:Error|Exception)): (.+)$", msg)
        if hits:
            msg = f"{hits[-1][0]}: {hits[-1][1]}"
    # Spark's AnalysisException can append a multi-page JVM stacktrace
    # after the useful first paragraph; keep the client message bounded
    if len(msg) > 2000:
        msg = msg[:2000] + "..."
    if query_id:
        msg = f"{msg} [query_id={query_id}]"
    return msg


def to_flight_error(e: BaseException, query_id: str | None = None):
    """Build the exception a Flight RPC handler should raise so the CLIENT
    sees the right class (ArrowInvalid / ArrowNotImplementedError /
    FlightServerError) — returns (error_class, exception_to_raise)."""
    import pyarrow as pa
    import pyarrow.flight as flight

    cls = classify_exception(e)
    msg = _client_message(e, query_id)
    if cls == USER:
        return cls, pa.lib.ArrowInvalid(msg)
    if cls == UNIMPLEMENTED:
        return cls, pa.lib.ArrowNotImplementedError(msg)
    if cls == RESOURCE:
        return cls, flight.FlightServerError(f"{msg} [error_class=resource]")
    return cls, flight.FlightServerError(msg)
