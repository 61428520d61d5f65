"""In-memory span recorder, lakehouse-layer wrappers and the Spark event-log join.

Spans are recorded from the benchmark's side only: each public function of a
``hoopstat_haus_spark.lakehouse`` module is replaced, for the life of the
traced run, by a wrapper installed where its caller looks the name up (a
``from x import f`` caller holds its own binding, so both bindings are
wrapped). Nothing in the engine changes.

A span's *self time* is its duration minus the union of its children's
intervals, clipped to the span: compaction units run on pool threads and
overlap, so summing child durations would over-count.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict], extra=()) -> float:
    """Span duration minus the part of it that its children (and any
    ``extra`` intervals, such as Spark jobs) cover."""
    covered = [(c["t0"], c["t1"]) for c in children] + list(extra)
    return (span["t1"] - span["t0"]) - union_length(covered, span["t0"], span["t1"])


# The API entry point each benchmark op calls. Such a span covers nearly all
# of its op, so it explains none of the op's time; the reconciliation looks
# through it to the layer spans beneath.
ENTRY_POINTS = frozenset({"merge.merge_into", "update.update_where", "table.append",
                          "snapshots.expire", "gc.collect_garbage"})


def unaccounted(op: dict, descendants: list[dict], jobs) -> float:
    """Part of the op's wall that neither a layer span below its entry
    point nor a Spark job (``jobs``: wall intervals) covers."""
    return self_time(op, [s for s in descendants if s["name"] not in ENTRY_POINTS], jobs)


class Tracer:
    """Spans kept in memory; ``dump`` writes them out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_stack: list[int] = []  # stack of the thread that opened the op

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        """Record one span. A span opened on a pool thread with nothing open
        on that thread is parented to the innermost span of the op thread."""
        st = self._stack()
        if root:
            self._op_stack = st
        parent = st[-1] if st else (self._op_stack[-1] if self._op_stack else None)
        sp = {"id": next(self._ids), "parent": parent, "name": name,
              "thread": threading.get_ident(), "attrs": dict(attrs), "t0": time.time()}
        st.append(sp["id"])
        try:
            yield sp
        except BaseException as exc:
            sp["attrs"]["error"] = type(exc).__name__
            raise
        finally:
            sp["t1"] = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, post=None, pre=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper. ``pre(args, kw)``
        runs before the span opens and ``post(span, args, kw, out, pre)``
        after it closes, so the counters they gather are not timed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            if not self.enabled:
                return orig(*args, **kw)
            ctx = pre(args, kw) if pre else None
            with self.span(name) as sp:
                out = orig(*args, **kw)
            if post:
                post(sp, args, kw, out, ctx)
            return out

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def children_of(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


# --------------------------------------------------------------- wrappers
def install_lakehouse_wrappers(tracer: Tracer) -> None:
    """Wrap the public functions of every lakehouse module that the three
    workloads reach, each at the binding its caller resolves."""
    from hoopstat_haus_spark.lakehouse import (
        checkpoint,
        delete,
        gc,
        health,
        manifest,
        merge,
        snapshots,
        table,
        update,
    )

    def scan_post(sp, args, kw, df, _ctx):
        tbl, sid = args[0], kw.get("snapshot_id")
        snap = tbl.log.get(sid) if sid else tbl.log.current()
        recs = manifest.read_manifest_list.__wrapped__(tbl.path, snap.manifest)
        sp["attrs"].update(files_selected=len(df.inputFiles()),
                           files_live=sum(r["n_files"] for r in recs))

    tracer.wrap(table.TokenLakeTable, "scan", "table.scan", post=scan_post)
    tracer.wrap(table.TokenLakeTable, "append", "table.append")
    tracer.wrap(table, "compact_partition", "compaction.compact_partition")
    tracer.wrap(
        table, "plan_compaction", "compaction.plan_compaction",
        post=lambda sp, a, k, out, c: sp["attrs"].update(
            files_planned=sum(len(g.files) for gs in out.values() for g in gs)),
    )
    tracer.wrap(table, "plan_unit_bounds", "compaction.plan_unit_bounds")

    tracer.wrap(manifest, "read_manifest_list", "manifest.read_manifest_list")
    tracer.wrap(manifest, "read_shard", "manifest.read_shard",
                post=lambda sp, a, k, out, c: sp["attrs"].update(entries=len(out)))
    tracer.wrap(manifest, "update_manifest", "manifest.update_manifest")
    tracer.wrap(manifest, "write_partitioned_with_stats", "manifest.write_partitioned_with_stats",
                post=lambda sp, a, k, out, c: sp["attrs"].update(files=len(out)))
    tracer.wrap(manifest, "compute_file_stats", "manifest.compute_file_stats")

    tracer.wrap(
        merge, "merge_into", "merge.merge_into",
        post=lambda sp, a, k, out, c: sp["attrs"].update(
            files_rewritten=out[1].files_in, bytes_rewritten=out[1].bytes_in),
    )

    # what the find pass read is the table.scan span nested in it (layers.py)
    for mod in (delete, update):  # update re-imports the delete helpers by name
        tracer.wrap(mod, "find_touched_files", "delete.find_touched_files",
                    post=lambda sp, a, k, out, c: sp["attrs"].update(files_touched=len(out[2])))
        tracer.wrap(mod, "commit_rewrite", "delete.commit_rewrite")
    tracer.wrap(update, "update_where", "update.update_where")

    tracer.wrap(snapshots.SnapshotLog, "commit", "snapshots.commit")  # conflicts: error spans
    tracer.wrap(snapshots.SnapshotLog, "expire", "snapshots.expire",
                post=lambda sp, a, k, out, c: sp["attrs"].update(expired=len(out)))

    def gc_pre(args, kw):
        data = os.path.join(args[0], "data")
        sizes = {}
        for d, _dirs, files in os.walk(data):
            for f in files:
                p = os.path.join(d, f)
                sizes[os.path.relpath(p, args[0])] = os.path.getsize(p)
        return sizes

    tracer.wrap(
        gc, "collect_garbage", "gc.collect_garbage", pre=gc_pre,
        post=lambda sp, a, k, out, sizes: sp["attrs"].update(
            files_deleted=len(out["removed_data_files"]),
            bytes_freed=sum(sizes.get(p, 0) for p in out["removed_data_files"])),
    )
    tracer.wrap(checkpoint.JobCheckpoint, "intent", "checkpoint.intent")
    tracer.wrap(checkpoint.JobCheckpoint, "done", "checkpoint.done")
    tracer.wrap(health, "record_job_metrics", "health.record_job_metrics")


# ------------------------------------------------------- Spark event log
def read_event_log(log_dir: str) -> dict:
    """Jobs (with their stage ids and wall interval) and per-stage task
    totals from the single application log under ``log_dir``."""
    paths = [os.path.join(d, n) for d, _dirs, files in os.walk(log_dir) for n in files
             if not n.startswith((".", "appstatus"))]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"t0": ev["Submission Time"] / 1000.0,
                                          "t1": None, "stages": list(ev["Stage IDs"])}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _empty_stage())
                    st["completed"] = True
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _empty_stage())
                    m = ev.get("Task Metrics") or {}
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {"jobs": jobs, "stages": stages}


def _empty_stage() -> dict:
    return {"completed": False, "task_s": 0.0, "shuffle_write_b": 0, "spill_b": 0, "input_b": 0}


def job_intervals(log: dict, t0: float, t1: float) -> list[tuple[float, float]]:
    """Wall intervals of the jobs submitted inside [t0, t1]."""
    return [(j["t0"], j["t1"] or t1) for j in log["jobs"].values() if t0 <= j["t0"] <= t1]


def spark_for_interval(log: dict, t0: float, t1: float) -> dict:
    """Spark work of the jobs submitted inside [t0, t1], and the part of the
    interval during which no job was running (``dead_s``)."""
    jobs = [j for j in log["jobs"].values() if t0 <= j["t0"] <= t1]
    seen: set[int] = set()
    out = {"jobs": len(jobs), "stages": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
           "spill_mb": 0.0, "input_mb": 0.0}
    for j in jobs:
        for sid in j["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen or not st["completed"]:
                continue  # skipped (reused shuffle) stages ran no tasks
            seen.add(sid)
            out["stages"] += 1
            out["task_s"] += st["task_s"]
            out["shuffle_write_mb"] += st["shuffle_write_b"] / 1e6
            out["spill_mb"] += st["spill_b"] / 1e6
            out["input_mb"] += st["input_b"] / 1e6
    busy = union_length(job_intervals(log, t0, t1), t0, t1)
    out["dead_s"] = (t1 - t0) - busy
    return out
