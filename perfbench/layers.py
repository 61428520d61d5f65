"""Per-layer metrics of a traced run: spans + Spark event log -> ledger.

Every value is per traced iteration (totals divided by the number of
traced iterations), except ratios, means and maxima, so runs of different
length compare. Only spans that descend from a benchmark op count.
"""

from __future__ import annotations

import statistics

from tracing import (
    children_of,
    job_intervals,
    read_event_log,
    spark_for_interval,
    unaccounted,
    union_length,
)

def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _ledger(spans: list[dict], ops: list[dict], kids: dict, log: dict, notes: dict,
            iters: int) -> dict:
    """Layer metrics over ``ops`` (root spans) and their descendant ``spans``."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in by_name.get(name, []))

    def calls(name: str) -> int:
        return len(by_name.get(name, []))

    def attr(name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in by_name.get(name, []))

    def per(v: float) -> float:
        return v / iters

    scans = by_name.get("table.scan", [])
    # the find pass reads what its nested table.scan selected
    find_scans = [c for f in by_name.get("delete.find_touched_files", [])
                  for c in kids.get(f["id"], []) if c["name"] == "table.scan"]
    units = by_name.get("compaction.compact_partition", [])
    pool_wall = 0.0
    for op in ops:
        mine = [(u["t0"], u["t1"]) for u in units if u["_op"] == op["id"]]
        pool_wall += union_length(mine, op["t0"], op["t1"])
    bounds_jobs = sum(spark_for_interval(log, s["t0"], s["t1"])["jobs"]
                      for s in by_name.get("compaction.plan_unit_bounds", []))
    sp = {"jobs": 0, "stages": 0, "task_s": 0.0, "dead_s": 0.0, "shuffle_write_mb": 0.0,
          "spill_mb": 0.0, "input_mb": 0.0}
    for op in ops:
        for k, v in spark_for_interval(log, op["t0"], op["t1"]).items():
            sp[k] += v
    wall = sum(op["t1"] - op["t0"] for op in ops)
    unacc = sum(unaccounted(op, [s for s in spans if s["_op"] == op["id"]],
                            job_intervals(log, op["t0"], op["t1"]))
                for op in ops)
    rewritten = attr("merge.merge_into", "files_rewritten")
    m = {
        "table.scan.plan_s": per(dur("table.scan")),
        "table.scan.files_selected": _ratio(attr("table.scan", "files_selected"), len(scans)),
        "table.scan.prune_frac": 1 - _ratio(attr("table.scan", "files_selected"),
                                            attr("table.scan", "files_live")) if scans else 0.0,
        "table.append.s": per(dur("table.append")),
        "manifest.compute_file_stats.calls": per(calls("manifest.compute_file_stats")),
        "manifest.read_shard.entries": per(attr("manifest.read_shard", "entries")),
        "manifest.write_partitioned_with_stats.files":
            per(attr("manifest.write_partitioned_with_stats", "files")),
        "compaction.plan_compaction.s": per(dur("compaction.plan_compaction")),
        "compaction.plan_compaction.files_planned":
            per(attr("compaction.plan_compaction", "files_planned")),
        "compaction.plan_unit_bounds.s": per(dur("compaction.plan_unit_bounds")),
        "compaction.plan_unit_bounds.spark_jobs": per(bounds_jobs),
        "compaction.compact_partition.calls": per(len(units)),
        "compaction.compact_partition.s_sum": per(dur("compaction.compact_partition")),
        "compaction.compact_partition.s_max": max((u["t1"] - u["t0"] for u in units), default=0.0),
        "compaction.unit_concurrency": _ratio(dur("compaction.compact_partition"), pool_wall),
        "compaction.bytes_out_per_in": _ratio(notes.get("compaction.bytes_out", 0),
                                              notes.get("compaction.bytes_in", 0)),
        "merge.merge_into.s": per(dur("merge.merge_into")),
        "merge.files_rewritten": per(rewritten),
        "merge.files_in_touched_partitions": per(notes.get("merge.files_in_touched_partitions", 0)),
        "merge.files_with_key": per(notes.get("merge.files_with_key", 0)),
        "merge.prune_precision": _ratio(notes.get("merge.files_with_key", 0), rewritten),
        "merge.bytes_rewritten": per(attr("merge.merge_into", "bytes_rewritten")),
        "delete.find_touched_files.s": per(dur("delete.find_touched_files")),
        "delete.find_touched_files.files_scanned":
            per(sum(c["attrs"]["files_selected"] for c in find_scans)),
        "delete.find_touched_files.files_touched":
            per(attr("delete.find_touched_files", "files_touched")),
        "delete.find_prune_frac": 1 - _ratio(sum(c["attrs"]["files_selected"] for c in find_scans),
                                             sum(c["attrs"]["files_live"] for c in find_scans))
        if find_scans else 0.0,
        "delete.commit_rewrite.s": per(dur("delete.commit_rewrite")),
        "update.update_where.s": per(dur("update.update_where")),
        "snapshots.commit.conflicts": per(sum(
            1 for s in by_name.get("snapshots.commit", [])
            if s["attrs"].get("error") == "ConcurrentCommitError")),
        "snapshots.expire.expired": per(attr("snapshots.expire", "expired")),
        "gc.collect_garbage.files_deleted": per(attr("gc.collect_garbage", "files_deleted")),
        "gc.collect_garbage.bytes_freed": per(attr("gc.collect_garbage", "bytes_freed")),
        "trace.unaccounted_frac": _ratio(unacc, wall),
    }
    for name in ("manifest.read_manifest_list", "manifest.read_shard",
                 "manifest.update_manifest", "manifest.write_partitioned_with_stats",
                 "snapshots.commit", "checkpoint.intent", "checkpoint.done"):
        m[f"{name}.calls"] = per(calls(name))
        m[f"{name}.s"] = per(dur(name))
    for name in ("snapshots.expire", "gc.collect_garbage", "health.record_job_metrics"):
        m[f"{name}.s"] = per(dur(name))
    for k, v in sp.items():
        m[f"spark.{k}"] = per(v)
    return m


def layer_metrics(tracer, event_dir: str, iter_walls: dict, worker_kb: int, notes: dict,
                  spec: list[dict]):
    """(the ``spec`` metrics as name -> (value, unit), per-op-kind ledgers)
    of a traced run; ``spec`` is BENCHMARK.json's per_layer list."""
    log = read_event_log(event_dir)
    spans = tracer.spans
    kids = children_of(spans)
    ops = [s for s in spans if s["name"].startswith("op:")]
    by_id = {s["id"]: s for s in spans}

    def root_of(s):
        while s["parent"] is not None and s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s

    layer_spans = []
    for s in spans:
        r = root_of(s)
        if r is not s and r["name"].startswith("op:"):
            s["_op"] = r["id"]
            layer_spans.append(s)
    iters = max(1, len(iter_walls[True]))
    contract = _ledger(layer_spans, ops, kids, log, notes, iters)
    traced, plain = iter_walls[True], iter_walls[False]
    contract["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1 if traced and plain else 0.0)
    contract["pyworker.peak_rss_mb"] = worker_kb / 1024
    by_kind = {}
    for kind in sorted({op["name"] for op in ops}):
        kops = [op for op in ops if op["name"] == kind]
        ids = {op["id"] for op in kops}
        ledger = _ledger([s for s in layer_spans if s["_op"] in ids], kops, kids, log, {},
                         len(kops))
        ledger["op.wall_s"] = statistics.mean(op["t1"] - op["t0"] for op in kops)
        by_kind[kind[3:]] = (len(kops), ledger)
    for s in spans:
        s.pop("_op", None)
    return {m["name"]: (contract[m["name"]], m["unit"]) for m in spec}, by_kind


def print_layer_table(by_kind: dict) -> None:
    """Per op kind: every non-zero layer figure, per op."""
    for kind, (n, ledger) in by_kind.items():
        print(f"layers for op {kind} (n={n}, values per op):")
        for k, v in ledger.items():
            if v:
                print(f"    {k:<48} {v:.6g}")
