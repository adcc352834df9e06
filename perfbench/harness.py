"""Benchmark plumbing: Spark session lifecycle, spans, Spark work counts,
environment facts and small statistics helpers.

Spans are recorded here, around the engine's public calls, never inside
the engine. A span holds (name, layer, start, end, parent, request id,
attrs); spans live in memory and are written out with the run record.
When a span asks for Spark work counts, the operation runs under its own
job group and the counts are read afterwards from
`SparkContext.statusTracker()`. Jobs the engine submits from its own
worker threads do not inherit the group, so the count adds every job
that appeared without a group while the span was open; the benchmark
has a single client thread, so nothing else submits jobs meanwhile.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

MASTER_CORES = 4


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else float("nan")


def percentile(xs, p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return float("nan")
    i = min(len(xs) - 1, max(0, int(round(p / 100.0 * (len(xs) - 1)))))
    return float(xs[i])


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v[:8]), v[7]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def start_spark(app: str, cores: int, work: str):
    """A local[cores] session whose scratch lives under `work`."""
    from lucene_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(app, master=f"local[{cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


class Tracer:
    """Spans and Spark work counts, recorded from outside the engine.

    Disabled tracers hand out inert spans: no clock reads beyond the
    caller's own, no job groups, no status-tracker calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._request = 0
        self.t0 = time.perf_counter()
        self.bookkeeping_s = 0.0

    def new_request(self) -> int:
        self._request += 1
        return self._request

    def _jobs_without_group(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, layer: str, request: int | None = None,
             count_jobs: bool = False, **attrs):
        if not self.enabled:
            yield {}
            return
        b0 = time.perf_counter()
        sc = self.spark.sparkContext
        rec = {"name": name, "layer": layer, "attrs": dict(attrs),
               "parent": self._stack[-1] if self._stack else None,
               "request": request if request is not None else (
                   self.spans[self._stack[-1]]["request"] if self._stack
                   else None)}
        sid = len(self.spans)
        self.spans.append(rec)
        group = prev_group = None
        before: set[int] = set()
        if count_jobs:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            before = self._jobs_without_group()
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            group = f"perfbench-{sid}"
            sc.setJobGroup(group, name)
        self._stack.append(sid)
        self.bookkeeping_s += time.perf_counter() - b0
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            b1 = time.perf_counter()
            self._stack.pop()
            if count_jobs:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.bookkeeping_s += time.perf_counter() - b1
            if count_jobs:
                rec["attrs"].update(self._work(group, before))

    def _work(self, group: str, before: set[int]) -> dict:
        """Jobs, completed tasks and stages of one span (after the
        listener bus has drained, so the last job is visible)."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(group))
        jobs |= self._jobs_without_group() - before
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += int(info.numCompletedTasks)
        return {"spark_jobs": len(jobs), "spark_stages": len(stages),
                "spark_tasks": tasks}

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def coverage(self, since: float, until: float) -> float:
        """Share of [since, until] covered by top-level spans."""
        iv = sorted((max(s["start"], since), min(s["end"], until))
                    for s in self.spans
                    if s["parent"] is None and "end" in s)
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return covered / max(1e-9, until - since)

    def now(self) -> float:
        return time.perf_counter() - self.t0


def engine_settings(searcher=None) -> dict:
    out = {"LUCENE_SPARK_ASM_CACHE_MB": os.environ.get(
        "LUCENE_SPARK_ASM_CACHE_MB", "(default)")}
    if searcher is not None:
        for k in ("local_topk_max_postings", "local_batch_max_postings",
                  "kernel_partitions"):
            out[k] = getattr(searcher, k, None)
    return out
