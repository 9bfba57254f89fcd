"""Spans, Spark stage metrics and /proc readings for the traced benchmark run.

Spans are recorded from outside the program: a span sets a Spark job group
before it calls into a layer and records its start, end and parent.  Stage
metrics are joined to spans afterwards through that job group, read from the
driver's in-process status store (it is populated with the UI disabled).
Everything is kept in memory until the run ends.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager

from ontology_pipeline_spark.plans.ingest import ParquetStateStore
from ontology_pipeline_spark.sources.tables import ParquetTripleSink

_GROUP = "spark.jobGroup.id"

# (field, unit) of the stage metrics reported per span
STAGE_FIELDS = (
    ("executor_run_s", "s"),
    ("jvm_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
)


class Tracer:
    """In-memory span recorder.  When disabled every span is a no-op, and
    :meth:`sink` / :meth:`store` hand out the program's own classes."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty(_GROUP)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc.setLocalProperty(_GROUP, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_GROUP, prev_group)

    def sink(self, root: str) -> ParquetTripleSink:
        return _TracedSink(root, self) if self.enabled else ParquetTripleSink(root)

    def store(self, root: str) -> ParquetStateStore:
        return _TracedStore(root, self) if self.enabled else ParquetStateStore(root)

    # -- span arithmetic ----------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, index: int) -> float:
        s = self.spans[index]
        child = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == index
        )
        return (s["end"] - s["start"]) - child

    def self_times(self, name: str) -> list[float]:
        return [self.self_time(i) for i, s in enumerate(self.spans) if s["name"] == name]

    def owned_time(self, start: float, end: float, exclude: tuple[str, ...]) -> float:
        """Sum of span self times inside [start, end], leaving out the named
        (entry-point) spans: the part of that wall a layer owns."""
        return sum(
            self.self_time(i)
            for i, s in enumerate(self.spans)
            if s["start"] >= start and s["end"] <= end and s["name"] not in exclude
        )


class _TracedSink(ParquetTripleSink):
    """The program's triple sink with a span around every commit step."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self._tracer = tracer

    def read_done_urls(self, spark, exclude_run_id):
        with self._tracer.span("tables.read_done_urls"):
            return super().read_done_urls(spark, exclude_run_id)

    def write_run_triples(self, df):
        with self._tracer.span("tables.write_run_triples"):
            super().write_run_triples(df)

    def append_lineage(self, df):
        with self._tracer.span("tables.append_lineage"):
            super().append_lineage(df)

    def append_metrics(self, df):
        with self._tracer.span("tables.append_metrics"):
            super().append_metrics(df)


class _TracedStore(ParquetStateStore):
    """The program's curation state store with a span around each write."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self._tracer = tracer

    def write_shard_state(self, documents, fingerprints, index):
        with self._tracer.span("ingest.write_shard_state"):
            super().write_shard_state(documents, fingerprints, index)

    def append_lineage(self, df):
        with self._tracer.span("ingest.append_lineage"):
            super().append_lineage(df)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def stage_metrics_by_group(spark) -> dict[str, dict[str, float]]:
    """Sum stage metrics over every job of each job group.  Call sites are no
    use for attribution (writes and counts all show up as `parquet at
    NativeMethodAccessorImpl.java:0` or `CompletableFuture.java`), so jobs
    are matched to spans by group only."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Exception:  # py4j surfaces JVM failures as generic errors
        time.sleep(1.0)
    store = jsc.statusStore()
    stage_group: dict[int, str] = {}
    jobs = store.jobsList(jvm.java.util.ArrayList())
    for k in range(jobs.size()):
        job = jobs.apply(k)
        group = job.jobGroup()
        if not group.isDefined():
            continue
        ids = job.stageIds()
        for q in range(ids.size()):
            stage_group[int(ids.apply(q))] = group.get()
    # stageList(statuses, details, withSummaries, quantiles, taskStatus)
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out: dict[str, dict[str, float]] = {}
    for k in range(stages.size()):
        st = stages.apply(k)
        group = stage_group.get(int(st.stageId()))
        if group is None:
            continue
        acc = out.setdefault(group, {f: 0.0 for f, _ in STAGE_FIELDS})
        acc["executor_run_s"] += st.executorRunTime() / 1e3
        acc["jvm_cpu_s"] += st.executorCpuTime() / 1e9
        acc["gc_s"] += st.jvmGcTime() / 1e3
        acc["shuffle_read_bytes"] += st.shuffleReadBytes()
        acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
        acc["spill_bytes"] += st.diskBytesSpilled()
    return out


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`: the Python daemon and its workers."""
    ppid = _ppid_map()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in ppid.items() if pp == p]
        found += kids
        frontier += kids
    return found


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(pids: list[int]) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime + stime
    return total / tick


def peak_rss_mb(spark) -> float:
    """Sum of VmHWM over the driver Python, the JVM and the Python workers."""
    jpid = jvm_pid(spark)
    workers = descendants(jpid)
    driver, jvm = vm_hwm_kb(os.getpid()), vm_hwm_kb(jpid)
    python = [vm_hwm_kb(p) for p in workers]
    print(
        f"VmHWM: driver {driver / 1024:.0f} MB, JVM {jvm / 1024:.0f} MB, "
        f"{len(python)} Python workers {sum(python) / 1024:.0f} MB",
        file=sys.stderr,
    )
    return (driver + jvm + sum(python)) / 1024.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
