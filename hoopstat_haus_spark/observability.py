"""Structured JSON observability: performance logging + correlation ids.

Reference surface: ``libs/hoopstat-observability/hoopstat_observability``
(``performance.py`` — JSON-logs one record per operation with duration,
records processed, throughput, and status; ``correlation.py`` — a
thread-local correlation id attached to every record;
``json_logger.py`` — single-line JSON to a stdlib logger). The
reference uses these around Lambda handlers; here the
:func:`performance_context` manager wraps driver-side engine entry
points (spark-submit jobs, maintenance cycles) — per-ROW work stays in
executors and is measured by `lakehouse/metrics.py`.

Record shape (mirrors ``apps/gold-analytics/app/performance.py:175-199``):

    {"operation", "duration_seconds", "records_processed", "status",
     "timestamp", ["records_per_second"], ["error"], ["correlation_id"]}
"""

from __future__ import annotations

import json
import logging
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Any

logger = logging.getLogger("hoopstat_haus_spark")

_context = threading.local()


def generate_correlation_id() -> str:
    return uuid.uuid4().hex


def set_correlation_id(correlation_id: str) -> None:
    _context.correlation_id = correlation_id


def get_correlation_id() -> str | None:
    return getattr(_context, "correlation_id", None)


def clear_correlation_id() -> None:
    if hasattr(_context, "correlation_id"):
        delattr(_context, "correlation_id")


@contextmanager
def correlation_scope(correlation_id: str | None = None):
    """Attach a correlation id to every record logged in this thread's
    scope; restores the previous id on exit (scopes nest)."""
    prev = get_correlation_id()
    set_correlation_id(correlation_id or generate_correlation_id())
    try:
        yield get_correlation_id()
    finally:
        if prev is None:
            clear_correlation_id()
        else:
            set_correlation_id(prev)


def _emit(
    operation: str,
    duration_s: float,
    records: int | None,
    status: str,
    error: str | None = None,
) -> dict:
    rec: dict[str, Any] = {
        "operation": operation,
        "duration_seconds": round(duration_s, 3),
        "records_processed": records,
        "status": status,
        "timestamp": time.time(),
    }
    if error:
        rec["error"] = error
    if duration_s > 0 and records:
        rec["records_per_second"] = round(records / duration_s, 2)
    cid = get_correlation_id()
    if cid:
        rec["correlation_id"] = cid
    (logger.info if status == "success" else logger.error)(json.dumps(rec))
    return rec


@contextmanager
def performance_context(operation: str, records: int | None = None):
    """JSON-log one performance record for the block — duration, record
    count, throughput, success/failure (the failure record logs the
    exception and re-raises). Set ``ctx.records`` inside the block to
    report a count discovered mid-operation."""

    class _Ctx:
        pass

    ctx = _Ctx()
    ctx.records = records
    t0 = time.time()
    try:
        yield ctx
    except Exception as exc:
        _emit(operation, time.time() - t0, getattr(ctx, "records", None), "failed", error=repr(exc)[:500])
        raise
    _emit(operation, time.time() - t0, getattr(ctx, "records", None), "success")
