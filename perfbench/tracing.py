"""Per-layer tracing for the ``--trace 1`` run.

Everything is observed from outside the program: the benchmark times
its own calls into each module, tags every Spark job it causes with a
job group, and reads stage metrics back from Spark's status store
through the local REST API.  A ``--trace 0`` run uses only the cheap
per-pass host and JVM counters (`HostCounters`).
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

from core import read_cpu_times, steal_pct

MB = 1024.0 * 1024.0
#: Longest wait for the status store to settle after a traced pass.
SETTLE_S = 10


class HostCounters:
    """Steal time from /proc/stat and the driver JVM's GC time and heap,
    read at pass boundaries (both modes: they explain a noisy run)."""

    def __init__(self, spark) -> None:
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())

    def heap_used_mb(self) -> float:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    def snapshot(self) -> tuple:
        return read_cpu_times(), self.gc_ms()

    def since(self, snap: tuple) -> dict[str, float]:
        cpu0, gc0 = snap
        return {"host.steal_pct": steal_pct(cpu0, read_cpu_times()),
                "jvm.gc_s": (self.gc_ms() - gc0) / 1000.0,
                "jvm.heap_used_mb": self.heap_used_mb()}


class LoadTableProbe:
    """Wraps ``catalog.load_table`` to count calls, time them and tell
    hits from misses by whether a session cache gained an entry.  A
    pass with no call has no miss: its hit ratio reads 1.0."""

    def __init__(self, catalog_mod, caching_mod) -> None:
        self.calls = 0
        self.hits = 0
        self.seconds = 0.0
        orig = catalog_mod.load_table

        @functools.wraps(orig)
        def load_table(spark, sf_dir, name):
            before = cache_entries(caching_mod)
            t = time.perf_counter()
            try:
                return orig(spark, sf_dir, name)
            finally:
                self.seconds += time.perf_counter() - t
                self.calls += 1
                self.hits += cache_entries(caching_mod) == before

        catalog_mod.load_table = load_table

    def take(self) -> dict[str, float]:
        out = {"catalog.load_table_calls": float(self.calls),
               "catalog.load_table_s": self.seconds,
               "catalog.hit_ratio": self.hits / self.calls if self.calls else 1.0}
        self.calls, self.hits, self.seconds = 0, 0, 0.0
        return out


def cache_entries(caching_mod) -> int:
    """Entries across every registered session cache."""
    return sum(len(c) for c in caching_mod._REGISTRY)


@dataclass
class Span:
    op: str
    phase: str  # build | plan | exec
    start: float
    end: float


@dataclass
class PassTrace:
    """Spans and job groups of one traced pass."""
    pass_no: int
    spans: list[Span] = field(default_factory=list)
    groups: dict[str, tuple[str, str]] = field(default_factory=dict)


class SparkTracer:
    """Tags each op phase with a job group and reads its stage metrics
    from the status store after the pass.

    The UI keeps only its most recent 1,000 jobs and stages, so the
    store is read once per pass, not once per run.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.current: PassTrace | None = None
        self._open: tuple[str, str, float] | None = None

    def begin_pass(self, pass_no: int) -> None:
        self.current = PassTrace(pass_no)

    def phase(self, op: str, phase: str) -> None:
        """Close the open span and open ``phase`` of ``op``."""
        now = time.perf_counter()
        self._close(now)
        group = f"pb{self.current.pass_no}.{op}.{phase}"
        self.current.groups[group] = (op, phase)
        self.sc.setJobGroup(group, group)
        self._open = (op, phase, now)

    def end_op(self) -> None:
        self._close(time.perf_counter())
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _close(self, now: float) -> None:
        if self._open is not None:
            op, phase, start = self._open
            self.current.spans.append(Span(op, phase, start, now))
            self._open = None

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled(self, groups) -> tuple[list, dict]:
        """The pass's jobs and completed stages, once the status store
        holds every job and stage of ``groups`` in a final state.

        The store is filled from the listener bus, asynchronously to
        the actions, so the bus is drained first and the store polled
        until nothing of the pass is still running.
        """
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(SETTLE_S * 1000)
        deadline = time.perf_counter() + SETTLE_S
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            stages = self._get("/stages")
            ids = {sid for j in jobs for sid in j["stageIds"]}
            running = ([j for j in jobs if j["status"] not in ("SUCCEEDED", "FAILED")]
                       + [s for s in stages if s["stageId"] in ids
                          and s["status"] in ("ACTIVE", "PENDING")])
            if not running or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
        return jobs, {s["stageId"]: s for s in stages if s["status"] == "COMPLETE"}

    def end_pass(self, wall_s: float) -> dict:
        """Per-layer metrics of the pass just run, plus its per-op rows."""
        self.end_op()
        pt = self.current
        jobs, stages = self._settled(pt.groups)
        per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in pt.spans:
            per_op[sp.op][f"{sp.phase}_s"] += sp.end - sp.start
        tot = defaultdict(float)
        seen_stages = set()
        for j in jobs:
            op, phase = pt.groups[j["jobGroup"]]
            per_op[op][f"{phase}_jobs"] += 1
            tot["spark.jobs"] += 1
            if phase == "build":
                tot["queries.build_jobs"] += 1
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or sid in seen_stages:
                    continue  # skipped (its output was reused) or counted
                seen_stages.add(sid)
                tot["spark.stages"] += 1
                tot["spark.tasks"] += s["numCompleteTasks"]
                run_s = s["executorRunTime"] / 1000.0
                tot["spark.task_run_s"] += run_s
                per_op[op]["task_run_s"] += run_s
                tot["spark.task_cpu_s"] += s["executorCpuTime"] / 1e9
                tot["spark.gc_s"] += s["jvmGcTime"] / 1000.0
                tot["spark.shuffle_read_mb"] += s["shuffleReadBytes"] / MB
                tot["spark.shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                tot["spark.shuffle_fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1000.0
                tot["spark.spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
                tot["spark.peak_exec_mem_mb"] = max(tot["spark.peak_exec_mem_mb"],
                                                    s["peakExecutionMemory"] / MB)
        for sp in pt.spans:
            key = {"build": "queries.build_s", "plan": "spark.plan_s",
                   "exec": "spark.exec_s"}[sp.phase]
            tot[key] += sp.end - sp.start
        tot["spark.core_busy"] = tot["spark.task_run_s"] / wall_s / self.cores if wall_s else 0.0
        self.current = None
        return {"metrics": dict(tot),
                "ops": {k: dict(v) for k, v in per_op.items()},
                "spans": [vars(s) for s in pt.spans]}
