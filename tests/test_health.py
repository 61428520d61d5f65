"""Pipeline-health aggregation — reference health-aggregator semantics
(operational / degraded / outage, most-recent-run rules)."""

import dataclasses

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.health import (
    DEGRADED,
    OPERATIONAL,
    OUTAGE,
    health_report,
    read_job_records,
    record_job_metrics,
)
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.lakehouse.metrics import JobMetrics
from hoopstat_haus_spark.tables import synthetic

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=2 * MB, max_file_bytes=8 * MB)


def test_jobs_record_metrics_and_report_operational(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 3000), repartition_n=4)
    t.compact(POLICY)
    upd = (
        t.scan()
        .limit(5)
        .select("doc_id", F.expr("transform(tokens, x -> cast(x + 1 as int))").alias("tokens"), "n_tok", "source")
    )
    merge_into(t, upd)
    cut = "cast(substr(doc_id, 5) as long)"
    t.delete_where(f"{cut} < 50")
    t.update_where(f"{cut} between 100 and 150", {"tokens": "slice(tokens, 1, 3)"})
    # a delete matching nothing commits nothing and records nothing
    n_recs = len(read_job_records(t.path))
    assert t.delete_where("doc_id = 'no-such-doc'")[0] is None
    assert len(read_job_records(t.path)) == n_recs

    recs = read_job_records(t.path)
    ops = ["compact", "merge", "delete", "update"]
    assert [r["operation"] for r in recs] == ops  # one record per op, in order
    assert all(r["status"] == "success" for r in recs)
    # each record names the snapshot its op committed
    by_op = {s.operation: s.snapshot_id for s in map(t.log.get, t.log.list_ids())}
    assert [r["snapshot_id"] for r in recs] == [by_op[op] for op in ops]

    report = health_report(t.path)
    assert report["overall_status"] == OPERATIONAL
    for op in ops:
        assert report["stages"][op]["status"] == OPERATIONAL
        assert report["stages"][op]["runs"] == 1
    assert report["stages"]["compact"]["total_gb_in"] > 0


def test_failed_head_degrades_and_no_success_is_outage(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    t.compact(POLICY)
    # a newer failed compact run → DEGRADED (older success exists)
    record_job_metrics(t.path, JobMetrics(job="boom").finish(), "compact", status="failed")
    # a stage with only failures → OUTAGE; overall = worst stage
    record_job_metrics(t.path, JobMetrics(job="boom2").finish(), "merge", status="failed")
    report = health_report(t.path)
    assert report["stages"]["compact"]["status"] == DEGRADED
    assert report["stages"]["merge"]["status"] == OUTAGE
    assert report["overall_status"] == OUTAGE


def test_empty_table_reports_outage(tmp_path):
    report = health_report(str(tmp_path))
    assert report["overall_status"] == OUTAGE
    assert report["jobs_seen"] == 0


def _fail_compact(t, ok):
    # min_input_files=1 plans the already-compacted single-file partitions
    t.compact(dataclasses.replace(POLICY, min_input_files=1), strategy="bogus")


def _fail_merge(t, ok):
    merge_into(t, ok.limit(1).unionByName(ok.limit(1)))  # duplicate keys → reject


@pytest.mark.parametrize(
    "op, fail, exc, match, status",
    [
        ("compact", _fail_compact, ValueError, "unknown strategy", DEGRADED),
        ("merge", _fail_merge, ValueError, "duplicate", DEGRADED),
        ("delete", lambda t, ok: t.delete_where("doc_id ==="), ParseException, "", OUTAGE),
        (
            "update",
            lambda t, ok: t.update_where("true", {"doc_id": "'x'"}),
            ValueError,
            "doc_id",
            OUTAGE,
        ),
    ],
    ids=["compact", "merge", "delete", "update"],
)
def test_crashed_op_records_failed_and_degrades(
    spark, tmp_table_dir, op, fail, exc, match, status
):
    """A maintenance op that raises mid-flight must leave a
    status='failed' record (advisor finding: without it, DEGRADED/OUTAGE
    were unreachable from engine-run jobs). compact and merge succeed
    once first, so their failure reads DEGRADED; delete/update never
    succeeded, so theirs reads OUTAGE."""
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    t.compact(POLICY)
    ok = (
        t.scan().limit(5)
        .select("doc_id", F.expr("transform(tokens, x -> cast(x + 1 as int))").alias("tokens"),
                "n_tok", "source")
    )
    merge_into(t, ok)
    with pytest.raises(exc, match=match):
        fail(t, ok)
    recs = [r for r in read_job_records(t.path) if r["operation"] == op]
    assert recs[-1]["status"] == "failed"
    assert match in (recs[-1].get("error") or "")
    assert recs[-1]["error"]
    assert health_report(t.path)["stages"][op]["status"] == status


def test_stale_success_degrades_with_freshness_rule(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    t.compact(POLICY)
    assert health_report(t.path)["stages"]["compact"]["status"] == OPERATIONAL
    # fresh enough for a 1h window, stale for a 0ms window
    assert health_report(t.path, max_staleness_ms=3_600_000)["stages"]["compact"]["status"] == OPERATIONAL
    assert health_report(t.path, max_staleness_ms=0)["stages"]["compact"]["status"] == DEGRADED
