"""Observability: JSON perf records + correlation ids (pure Python).

Mirrors the reference's performance-logging contract
(``apps/gold-analytics/app/performance.py:175-199``: one JSON record per
operation with duration/records/throughput/status, correlation id from
``libs/hoopstat-observability/hoopstat_observability/correlation.py``).
"""

from __future__ import annotations

import json
import logging

import pytest

from hoopstat_haus_spark.observability import (
    clear_correlation_id,
    correlation_scope,
    get_correlation_id,
    performance_context,
    set_correlation_id,
)


@pytest.fixture()
def records(caplog):
    caplog.set_level(logging.INFO, logger="hoopstat_haus_spark")
    clear_correlation_id()

    def parsed():
        return [json.loads(r.message) for r in caplog.records]

    yield parsed
    clear_correlation_id()


def test_correlation_scope_attaches_and_nests(records):
    with correlation_scope("outer-id"):
        assert get_correlation_id() == "outer-id"
        with correlation_scope() as inner:
            assert inner != "outer-id"
            with performance_context("inner_op"):
                pass
        assert get_correlation_id() == "outer-id"
        with performance_context("outer_op"):
            pass
    assert get_correlation_id() is None

    recs = {r["operation"]: r for r in records()}
    assert recs["inner_op"]["correlation_id"] != "outer-id"
    assert recs["outer_op"]["correlation_id"] == "outer-id"


def test_no_correlation_id_outside_scope(records):
    with performance_context("bare"):
        pass
    assert "correlation_id" not in records()[0]


def test_performance_context_records_and_failure(records):
    with performance_context("ctx_op") as ctx:
        ctx.records = 7
    with pytest.raises(RuntimeError):
        with performance_context("ctx_fail"):
            raise RuntimeError("nope")

    recs = {r["operation"]: r for r in records()}
    assert recs["ctx_op"]["status"] == "success"
    assert recs["ctx_op"]["records_processed"] == 7
    assert recs["ctx_fail"]["status"] == "failed"
    assert "nope" in recs["ctx_fail"]["error"]


def test_set_correlation_id_explicit(records):
    set_correlation_id("fixed")
    with performance_context("op"):
        pass
    clear_correlation_id()
    assert records()[0]["correlation_id"] == "fixed"
