"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 9 --trace 0

Run from the repository root.  One process, one closed-loop client on
``local[<cores>]``.  The run:

1. sets up ``SETUP_REPS`` times: a fresh SparkSession from the
   program's ``get_spark`` (the first one launches the JVM), empty
   session caches and a cold pass.  The set-ups are also the JIT
   warm-up.  ``--seed`` only orders the operations of each pass;
2. measures passes until ``--seconds`` of pass time have gone by;
3. checks outputs, untimed;
4. prints the result line (the last line of stdout).  A summary goes
   to stderr and the full record to ``.perfbench/records/``.

``--trace 1`` alternates untraced and traced passes in step 2 and
reports the per-layer metrics, the tracing overhead among them.
Everything the run writes stays under ``.perfbench/`` and
``.fixtures/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import core  # noqa: E402
from workloads import PIPELINES, STAR_DIR, STREAMS, WORKLOADS, Context  # noqa: E402

SETUP_REPS = 2
CORES = 4

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s"}
PER_LAYER = [
    ("session.start_s", "s"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("catalog.load_table_calls", "count"), ("catalog.load_table_s", "s"),
    ("catalog.hit_ratio", "ratio"),
    ("caching.entries", "count"), ("caching.new_entries", "count"),
    *[(f"pipelines.{p}_s", "s") for p in PIPELINES],
    ("pipelines.readback_s", "s"),
    ("sources.write_s", "s"), ("sources.write_mb", "MB"), ("sources.files", "count"),
    ("sources.bytes_per_row", "B"), ("sources.rows_per_s", "rows/s"),
    *[(f"streaming.{s}_s", "s") for s in STREAMS],
    ("spark.plan_s", "s"), ("spark.exec_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.core_busy", "ratio"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.heap_used_mb", "MB"), ("host.steal_pct", "%"),
    ("trace.overhead", "ratio"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_scratch(out_dir: str) -> None:
    """Keep the JVM's and Python's temporary files inside ``out_dir``."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    import tempfile
    tempfile.tempdir = tmp


class Bench:
    def __init__(self, args, out_dir: str) -> None:
        self.args = args
        self.work_dir = os.path.join(out_dir, "work")
        self.workload = WORKLOADS[args.workload]()
        self.tally = core.Tally()
        self.passes: list[dict] = []
        self.spark = None
        self.load_probe = None
        self.check_failures: list[str] = []

    # -- program handles -------------------------------------------------
    def import_program(self) -> None:
        from big_data_analytics_spark import caching, catalog
        if self.args.trace:
            from tracing import LoadTableProbe
            # before the query modules import load_table by name
            self.load_probe = LoadTableProbe(catalog, caching)
        from big_data_analytics_spark.queries import REGISTRY, load_all
        load_all()
        self.caching = caching
        self.registry = REGISTRY

    def fresh_session(self) -> float:
        from big_data_analytics_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}", master=f"local[{CORES}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t

    def context(self, tracer=None) -> Context:
        return Context(self.spark, STAR_DIR, self.work_dir, self.args.seed,
                       self.registry, tracer)

    # -- passes -----------------------------------------------------------
    def one_pass(self, kind: str, pass_no: int, tracer=None) -> dict:
        from tracing import HostCounters, cache_entries
        ctx = self.context(tracer)
        host = HostCounters(self.spark)
        snap = host.snapshot()
        entries0 = cache_entries(self.caching)
        if tracer:
            tracer.begin_pass(pass_no)
            self.load_probe.take()  # drop calls made before this pass
        res = core.run_pass(self.workload.ops(ctx, pass_no), self.tally)
        rec = {"kind": kind, "pass": pass_no, "wall_s": res.wall_s, "check_s": res.check_s,
               "op_s": res.op_s,
               "failures": res.failures, **host.since(snap),
               "caching.entries": cache_entries(self.caching),
               "caching.new_entries": cache_entries(self.caching) - entries0}
        rec["written"] = self.workload.end_pass(ctx, pass_no)
        if tracer:
            rec["trace"] = tracer.end_pass(res.wall_s)
            rec["trace"]["metrics"].update(self.load_probe.take())
        self.passes.append(rec)
        return rec

    def setup(self) -> list[float]:
        """``SETUP_REPS`` full set-ups; returns their wall times."""
        times = []
        for rep in range(SETUP_REPS):
            # the first set-up also pays the process start and imports
            t = T_START if rep == 0 else time.perf_counter()
            start_s = self.fresh_session()
            if rep == 0:
                self.session_start_s = time.perf_counter() - T_START
            self.caching.evict_all()
            self.one_pass("setup", -SETUP_REPS + rep)
            times.append(time.perf_counter() - t)
            self.passes[-1]["session_s"] = start_s
        return times

    def run(self) -> tuple[dict, dict]:
        self.import_program()
        setups = self.setup()
        tracer = None
        if self.args.trace:
            from tracing import SparkTracer
            tracer = SparkTracer(self.spark)
        # measure --seconds of pass time (checks are not timed)
        measured_s = 0.0
        n = 0
        while measured_s < self.args.seconds:
            measured_s += self.one_pass("measured", n)["wall_s"]
            n += 1
            if tracer:
                measured_s += self.one_pass("traced", n, tracer)["wall_s"]
                n += 1
        if tracer:
            # bracket the traced passes, so a falling trend does not
            # read as negative overhead
            self.one_pass("measured", n)
        t = time.perf_counter()
        for op in self.workload.final_checks(self.context()):
            self.check_failures += core.run_pass([op], self.tally).failures
        self.final_check_s = time.perf_counter() - t
        return self.summarize(setups)

    # -- results ----------------------------------------------------------
    def summarize(self, setups: list[float]) -> tuple[dict, dict]:
        measured = [p for p in self.passes if p["kind"] == "measured"]
        walls = [p["wall_s"] for p in measured]
        lat = [v for p in measured for v in p["op_s"].values()]
        last_setup = [p["wall_s"] for p in self.passes if p["kind"] == "setup"][-1]
        e2e = {"setup_s": core.median(setups), "pass_s": core.median(walls),
               "query_p50_s": core.median(lat)}
        extra = {"query_p90_s": core.percentile(lat, 0.9), "query_samples": len(lat),
                 "failed_frac": self.tally.failed_frac,
                 "setup_reps_s": setups, "final_check_s": self.final_check_s,
                 "last_setup_pass_in_spread": min(walls) <= last_setup <= max(walls)}
        written = [p for p in measured if p["written"]]
        if written:
            extra["ingest_rows_per_s"] = core.median(
                [sum(p["written"]["rows"].values()) / p["op_s"]["write"]
                 for p in written if "write" in p["op_s"]])
            extra["readback_s"] = core.median(
                [sum(p["op_s"].get(f, 0.0) for f in PIPELINES) for p in written])
        layer = self.layer_metrics() if self.args.trace else {}
        return e2e, {"extra": extra, "per_layer": layer}

    def layer_metrics(self) -> dict[str, float]:
        traced = [p for p in self.passes if p["kind"] == "traced"]
        untraced = [p for p in self.passes if p["kind"] == "measured"]
        per_pass = []
        for p in traced:
            m = {k: 0.0 for k, _ in PER_LAYER}
            m.update(p["trace"]["metrics"])
            for k in ("jvm.gc_s", "jvm.heap_used_mb", "host.steal_pct",
                      "caching.entries", "caching.new_entries"):
                m[k] = p[k]
            for f in PIPELINES:
                m[f"pipelines.{f}_s"] = p["op_s"].get(self.workload.pipeline_op(f), 0.0)
            m["pipelines.readback_s"] = sum(m[f"pipelines.{f}_s"] for f in PIPELINES)
            for s in STREAMS:
                m[f"streaming.{s}_s"] = p["op_s"].get(s, 0.0)
            w = p["written"]
            if w and "write" in p["op_s"]:
                rows = sum(w["rows"].values())
                m["sources.write_s"] = p["op_s"]["write"]
                m["sources.write_mb"] = w["bytes"] / (1024 * 1024)
                m["sources.files"] = w["files"]
                m["sources.bytes_per_row"] = w["bytes"] / rows
                m["sources.rows_per_s"] = rows / p["op_s"]["write"]
            per_pass.append(m)
        out = {k: core.median([m[k] for m in per_pass]) for k, _ in PER_LAYER}
        out["session.start_s"] = self.session_start_s
        out["trace.overhead"] = (core.median([p["wall_s"] for p in traced])
                                 / core.median([p["wall_s"] for p in untraced]))
        return out


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    core.check_names([args.workload, *END_TO_END, *(k for k, _ in PER_LAYER)])
    if not os.path.isdir(os.path.join(ROOT, "big_data_analytics_spark")):
        print(f"perfbench: no program under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    out_dir = os.path.join(ROOT, ".perfbench")
    confine_scratch(out_dir)
    bench = Bench(args, out_dir)
    try:
        e2e, detail = bench.run()
    finally:
        stop_jvm(bench.spark)
        for d in ("work", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    if args.trace:
        metrics = {k: (detail["per_layer"][k], u) for k, u in PER_LAYER}
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "run_s": time.perf_counter() - T_START,
              "trace": args.trace, "cores": CORES,
              "star_dir": os.path.relpath(STAR_DIR, ROOT),
              "setup_reps": SETUP_REPS,
              "attempted": bench.tally.attempted, "failed": bench.tally.failed,
              "errors": bench.tally.errors, "check_failures": bench.check_failures,
              "end_to_end": e2e, **detail,
              "passes": bench.passes}
    rec_dir = os.path.join(out_dir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print_summary(args, e2e, detail, bench.tally, rec_path)
    print(core.result_line(bench.tally.attempted, bench.tally.failed, metrics))
    return 0


def print_summary(args, e2e, detail, tally, rec_path) -> None:
    err = sys.stderr
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}", file=err)
    units = {**END_TO_END, "query_p90_s": "s", "ingest_rows_per_s": "rows/s",
             "readback_s": "s", "failed_frac": "ratio"}
    for k, v in {**e2e, **detail["extra"]}.items():
        if k in units:
            shown = f"{v} {units[k]}" if v is not None else "n/a (too few samples)"
            print(f"  {k:<20} {shown}", file=err)
    for k, v in detail["per_layer"].items():
        print(f"  {k:<32} {v:.6g}", file=err)
    for e in tally.errors:
        print(f"  FAILED {e}", file=err)
    print(f"  record: {rec_path}", file=err)


if __name__ == "__main__":
    sys.exit(main())
