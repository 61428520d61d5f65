"""Maintenance benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints a report (host record, every
end-to-end figure by name with unit and direction, per-op-kind layer table
when traced) and, as the LAST line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits non-zero
when an op or an output check failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The engine defaults to 12g; on a 4-CPU / 15 GB host shared with other work
# that leaves too little room.
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# share of CPU time the hypervisor gave to other guests above which a run is
# flagged as run on a contended host
STEAL_FLAG = 0.02
FLUSH_POLICY = ("snappy for ingest of unclustered rows (churn create/append); zstd level 1 "
                "for maintenance output (compact/merge/delete/update) and merge_read's "
                "pre-clustered starting table; the engine's writer caps; no fsync")


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """Highest percentile with at least ten samples beyond it: (value, pct)."""
    n = len(values)
    if n < 11:
        return None, None
    s = sorted(values)
    k = n - 11  # index with exactly ten samples above it
    return s[k], int(100 * (k + 1) / n)


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


class OpFailed(Exception):
    pass


class Run:
    """Op accounting, timing and (optionally) tracing for one process."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.tracing = False  # True inside traced iterations only
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.samples: dict[str, list[float]] = {}  # op kind -> measured walls
        self.series: dict[str, list[float]] = {}
        self.notes: dict[str, float] = {}
        self.measuring = False

    def _timed(self, kind: str, fn, args, kw):
        self.attempted += 1
        span = self.tracer.span(f"op:{kind}", root=True) if self.tracing else nullcontext()
        self.tracer.enabled = self.tracing  # layer spans are recorded inside ops only
        t0 = time.perf_counter()
        try:
            with span:
                out = fn(*args, **kw)
        except Exception as exc:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(kind) from exc
        finally:
            self.tracer.enabled = False
        wall = time.perf_counter() - t0
        if self.measuring:
            self.samples.setdefault(kind, []).append(wall)
        return out, wall

    def op(self, kind: str, fn, *args, with_wall: bool = False, **kw):
        out, wall = self._timed(kind, fn, args, kw)
        return (out, wall) if with_wall else out

    def read(self, kind: str, fn):
        out, wall = self._timed(f"read_{kind}", fn, (), {})
        self.record("read", wall)
        return out

    def record(self, series: str, value: float) -> None:
        """Append a measured figure; warm-up and setup figures are dropped."""
        if self.measuring:
            self.series.setdefault(series, []).append(value)

    def needs_state(self, series: str) -> bool:
        """Figures of table state (bytes, amplification) come from the first
        measured iteration only, so they do not depend on how many
        iterations the host's speed let into the window."""
        return self.measuring and series not in self.series

    def record_state(self, series: str, value: float) -> None:
        if self.needs_state(series):
            self.series[series] = [value]

    def check(self, name: str, ok: bool) -> None:
        if not ok:
            self.failed += 1
            self.mismatches.append(name)
            print(f"CHECK FAILED: {name}", file=sys.stderr)

    def note(self, name: str, value: float) -> None:
        if self.tracing:
            self.notes[name] = self.notes.get(name, 0) + value


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM (and with it the Python workers it forked),
    and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hoopstat_haus_spark")):
        print(f"engine package not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # metric names, units and directions
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from host import RssSampler, cpu_steal, nproc, source_rev

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = nproc()
    # everything the JVM, Python workers and tempfile write stays in the checkout
    os.environ.update({
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),  # shuffle and spill files
    })
    load_before = os.getloadavg()
    steal_before = cpu_steal()
    phases = {"t0": time.perf_counter()}

    import pyarrow
    import pyspark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from tracing import Tracer, install_lakehouse_wrappers

    from hoopstat_haus_spark.session import get_spark

    event_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # G1 grows the heap by its pause-time goal, so how much of the heap a
        # run touches (the JVM's VmHWM) follows the host's speed; the serial
        # collector grows it by occupancy after a collection, which follows
        # what the program allocates and keeps
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          "-XX:+UseSerialGC"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    jvm = spark.sparkContext._jvm
    phases["started"] = time.perf_counter()
    sampler = RssSampler(int(jvm.java.lang.ProcessHandle.current().pid())).start()

    tracer = Tracer()
    if args.trace:
        install_lakehouse_wrappers(tracer)
    run = Run(spark, tracer)
    wl = WORKLOADS[args.workload](run, args.seed)
    iter_walls: dict[bool, list[float]] = {True: [], False: []}
    error = None
    try:
        setup_s = []
        for k in range(SETUP_REPS):
            dest = os.path.join(work, f"setup-{k}")
            t0 = time.perf_counter()
            wl.setup_once(dest)
            os.sync()
            setup_s.append(time.perf_counter() - t0)
        for k in range(1, SETUP_REPS):
            shutil.rmtree(os.path.join(work, f"setup-{k}"))
        phases["setup"] = time.perf_counter()
        wl.prepare(os.path.join(work, "setup-0"))
        wl.warm_up()
        phases["warmup"] = time.perf_counter()
        jvm.System.gc()
        run.measuring = True
        t_start = time.perf_counter()
        i = 1
        # at least two iterations: a median of one round is no median, and
        # trace runs alternate traced / untraced iterations (overhead_frac)
        while time.perf_counter() - t_start < args.seconds or i <= 2:
            traced = bool(args.trace) and i % 2 == 1
            run.tracing = traced
            t0 = time.perf_counter()
            wl.iteration(i)
            iter_walls[traced].append(time.perf_counter() - t0)
            run.tracing = False
            jvm.System.gc()
            i += 1
        measured_s = time.perf_counter() - t_start
        run.measuring = False
        phases["measured"] = time.perf_counter()
        wl.finish()
        phases["checked"] = time.perf_counter()
    except OpFailed as exc:
        error = f"op failed: {exc}"
    finally:
        run.tracing = False
        sampler.stop()
        jvm_kb = sampler.jvm_peak_kb()
        java = str(jvm.System.getProperty("java.version"))
        stop_jvm(spark)
    phases["stopped"] = time.perf_counter()
    load_after = os.getloadavg()
    steal_after = cpu_steal()
    steal_frac = ((steal_after[0] - steal_before[0])
                  / max(1, steal_after[1] - steal_before[1]))

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": cpus, "master": f"local[{cpus}]", "driver_memory": DRIVER_MEMORY,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "java": java,
            **source_rev(ROOT),
            "loadavg_before": load_before, "loadavg_after": load_after,
            "load_exceeded_nproc": max(load_before[0], load_after[0]) > cpus,
            "cpu_steal_frac": round(steal_frac, 4),
        },
        "flush_policy": FLUSH_POLICY,
        "phases_s": {k: round(v - phases["t0"], 2) for k, v in phases.items() if k != "t0"},
        "error": error,
        "mismatches": run.mismatches,
    }
    correct = error is None and not run.mismatches
    e2e = {}
    if error is None:
        e2e = end_to_end(run, setup_s, jvm_kb, sampler.worker_peak_kb, spec["end_to_end"])
        report["iterations"] = len(iter_walls[True]) + len(iter_walls[False])
        report["measured_s"] = round(measured_s, 3)
    print_report(report, e2e, run)
    metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
               for m in spec["end_to_end"] if m["name"] in e2e}
    if args.trace and error is None:
        from layers import layer_metrics, print_layer_table

        layers, by_kind = layer_metrics(tracer, event_dir, iter_walls,
                                       sampler.worker_peak_kb, run.notes, spec["per_layer"])
        print_layer_table(by_kind)
        tracer.dump(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in layers.items()}
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


def end_to_end(run: Run, setup_s, jvm_kb: int, worker_kb: int, spec: list[dict]) -> dict:
    """Every end-to-end figure as name -> (value, unit, better, note): the
    ``spec`` metrics (BENCHMARK.json's end_to_end list) first, then the
    workload-specific ones the report prints beside them."""
    s, ser = run.samples, run.series
    primary = ser.get("round") or s.get("merge", [])
    reads, amp = ser.get("read", []), ser.get("write_amp", [])
    figures = {
        "setup_s": (median(setup_s), f"median of {len(setup_s)} builds"),
        "op_p50_s": (median(primary), f"n={len(primary)}"),
        "read_p50_s": (median(reads), f"n={len(reads)}"),
        "write_amp": (median(amp), f"n={len(amp)}"),
        "bytes_at_rest_per_user_byte": (median(ser.get("bytes_at_rest", [])), ""),
        "peak_rss_mb": ((jvm_kb + worker_kb) / 1024,
                        f"jvm {jvm_kb / 1024:.0f} + worker {worker_kb / 1024:.0f}"),
    }
    out = {m["name"]: (figures[m["name"]][0], m["unit"], m["better"], figures[m["name"]][1])
           for m in spec}
    if "compact" in s and "gb_in" in ser:
        out["compact_gb_per_hour"] = (median(ser["gb_in"]) / median(s["compact"]) * 3600, "GB/h",
                                      "higher", "compaction input GB at rest / median wall")
    if "merge" in s:
        out["merge_p50_s"] = (median(s["merge"]), "s", "lower", f"n={len(s['merge'])}")
        out["merge_tail_s"] = _tail_entry(s["merge"])
        out["merge_write_amp"] = out["write_amp"][:3] + ("",)
        out["point_read_p50_s"] = out["read_p50_s"]
        out["point_read_tail_s"] = _tail_entry(reads)
        vals = s.get("read_range", [])
        out["range_scan_p50_s"] = (median(vals), "s", "lower", f"n={len(vals)}")
    if "round" in ser:
        dml = s.get("delete", []) + s.get("update", [])
        out["append_p50_s"] = (median(s["append"]), "s", "lower", f"n={len(s['append'])}")
        out["dml_p50_s"] = (median(dml), "s", "lower", f"n={len(dml)}")
        out["maint_round_s"] = (median(ser["round"]), "s", "lower", f"n={len(ser['round'])}")
    out["ops_failed_frac"] = (run.failed / max(1, run.attempted), "frac", "lower",
                              f"{run.failed}/{run.attempted}")
    return out


def _tail_entry(vals):
    v, pct = tail(vals)
    note = f"p{pct}, n={len(vals)}" if v is not None else f"n={len(vals)} < 11: no tail"
    return (v, "s", "lower", note)


def print_report(report: dict, e2e: dict, run: Run) -> None:
    print("host " + json.dumps(report["host"]))
    print(f"flush policy: {report['flush_policy']}")
    print(f"phase end times (s since start): {report['phases_s']}")
    if report["host"]["load_exceeded_nproc"]:
        print("WARNING: load average exceeded nproc during this run (kept, flagged)")
    if report["host"]["cpu_steal_frac"] > STEAL_FLAG:
        print(f"WARNING: the hypervisor took {report['host']['cpu_steal_frac']:.1%} of CPU time "
              "from this guest during the run (kept, flagged)")
    if report.get("error"):
        print(f"ERROR: {report['error']}")
    if report["mismatches"]:
        print(f"output check failures: {report['mismatches']}")
    print(f"workload {report['workload']} seed {report['seed']} "
          f"iterations {report.get('iterations')} measured {report.get('measured_s')} s")
    for name, (value, unit, better, note) in e2e.items():
        arrow = "lower is better" if better == "lower" else "higher is better"
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<30} {shown:>12} {unit:<6} ({arrow}) {note}")
    for kind, vals in sorted(run.samples.items()):
        print(f"  samples {kind}: {' '.join(f'{v:.3f}' for v in vals)}")


if __name__ == "__main__":
    sys.exit(main())
