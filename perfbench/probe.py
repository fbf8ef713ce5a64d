"""Measurement from outside the engine: spans, executed-plan metrics,
job and task counts, enrichment counters and process-tree memory.

Nothing here changes what the engine computes.  Plan metrics come from
a ``QueryExecutionListener`` registered through the py4j callback
server, so every action -- ``collect()`` and writes alike -- is walked
once it has finished, through ``AdaptiveSparkPlanExec.executedPlan()``
and each query stage's ``plan()``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import Counter
from collections.abc import Sequence
from dataclasses import dataclass

from youtube_podcast_data_pipeline_azure_spark.enrichment import (
    Classifier,
    DeterministicClassifier,
)

#: Plan counters summed over every node of every executed plan, with
#: their units.
PLAN_METRICS = {
    "io.readers.scan_ms": "ms",
    "io.readers.scan_bytes": "bytes",
    "io.readers.scan_tasks": "count",
    "spark.exchange.count": "count",
    "spark.exchange.shuffle_bytes": "bytes",
    "spark.exchange.write_ms": "ms",
    "spark.aqe.read_partitions": "count",
    "spark.agg.time_ms": "ms",
    "spark.sort.spill_bytes": "bytes",
    "spark.window.single_partition_count": "count",
    "enrichment.python_boot_ms": "ms",
    "enrichment.python_init_ms": "ms",
    "enrichment.python_total_ms": "ms",
}
_AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    pass_id: int


class Tracer:
    """Keeps spans in memory; ``span`` nests by call order."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = -1

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(), 0.0, parent, self.pass_id)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def durations(self, pass_id: int) -> dict[str, float]:
        """Seconds per layer in ``pass_id``, child spans included."""
        out = Counter()
        for s in self.spans:
            if s.pass_id == pass_id:
                out[s.layer] += s.end - s.start
        return dict(out)

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Seconds per layer in ``pass_id``: each span's duration minus
        the part its child spans cover (children never overlap)."""
        spans = [s for s in self.spans if s.pass_id == pass_id]
        child_time = Counter()
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out = Counter()
        for s in spans:
            out[s.layer] += (s.end - s.start) - child_time[s.sid]
        return dict(out)

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class NullTracer(Tracer):
    """The untraced mode: same interface, records nothing."""

    enabled = False

    def span(self, layer: str, name: str):
        return contextlib.nullcontext()


def _metric(node, name: str) -> float:
    m = node.metrics().get(name)
    if not m.isDefined():
        return 0.0
    m = m.get()
    value = float(m.value())
    return value / 1e6 if m.metricType() == "nsTiming" else value


def _walk(node, acc: Counter) -> None:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        _walk(node.executedPlan(), acc)
        return
    if name.endswith("QueryStage"):
        _walk(node.plan(), acc)
        return
    if name.startswith("ReusedExchange"):
        return  # counted where it was first executed
    if name.startswith("Scan parquet"):
        acc["io.readers.scan_ms"] += _metric(node, "scanTime")
        acc["io.readers.scan_bytes"] += _metric(node, "filesSize")
        acc["io.readers.scan_tasks"] += node.inputRDD().getNumPartitions()
    elif name == "Exchange":
        acc["spark.exchange.count"] += 1
        acc["spark.exchange.shuffle_bytes"] += _metric(node, "shuffleBytesWritten")
        acc["spark.exchange.write_ms"] += _metric(node, "shuffleWriteTime")
    elif name == "AQEShuffleRead":
        acc["spark.aqe.read_partitions"] += _metric(node, "numPartitions")
    elif name in _AGGREGATES:
        acc["spark.agg.time_ms"] += _metric(node, "aggTime")
    elif name == "Sort":
        acc["spark.sort.spill_bytes"] += _metric(node, "spillSize")
    elif name == "Window":
        acc["spark.window.single_partition_count"] += int(node.partitionSpec().isEmpty())
    elif name == "ArrowEvalPython":
        acc["enrichment.python_boot_ms"] += _metric(node, "pythonBootTime")
        acc["enrichment.python_init_ms"] += _metric(node, "pythonInitTime")
        acc["enrichment.python_total_ms"] += _metric(node, "pythonTotalTime")
    for seq in (node.children(), node.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            _walk(it.next(), acc)


class PlanListener:
    """py4j-implemented ``QueryExecutionListener``: while ``active``,
    sums the plan counters of every successful action until ``drain()``.
    It stays registered until the session stops (py4j hands Java a new
    proxy per call, so it cannot be unregistered)."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._lock = threading.Lock()
        self._acc: Counter = Counter()
        self.active = False
        self.failures: list[str] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if not self.active:
            return
        acc: Counter = Counter()
        try:
            _walk(qe.executedPlan(), acc)
        except Exception as e:  # noqa: BLE001 -- a callback must not kill the bus
            with self._lock:
                self.failures.append(f"{func_name}: {type(e).__name__}: {e}")
        with self._lock:
            self._acc.update(acc)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    def drain(self) -> Counter:
        """Counters of every action finished since the last drain."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            acc, self._acc = self._acc, Counter()
        return acc

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def job_stats(spark, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) of one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks


class CountingClassifier(Classifier):
    """Wraps a classifier and reports through Spark accumulators how
    often and how long it ran, and how many outputs fell back (were
    not a JSON object)."""

    def __init__(self, sc, inner: Classifier) -> None:
        self.inner = inner
        self.calls = sc.accumulator(0)
        self.rows = sc.accumulator(0)
        self.fallbacks = sc.accumulator(0)
        self.seconds = sc.accumulator(0.0)

    def classify_batch(self, texts: Sequence[str], mode: str) -> list[str]:
        t0 = time.perf_counter()
        out = self.inner.classify_batch(texts, mode)
        self.seconds += time.perf_counter() - t0
        self.calls += 1
        self.rows += len(texts)
        self.fallbacks += sum(not _is_object(r) for r in out)
        return out

    def counts(self) -> dict[str, float]:
        return {
            "enrichment.classify_calls": self.calls.value,
            "enrichment.rows_classified": self.rows.value,
            "enrichment.fallback_rows": self.fallbacks.value,
            "enrichment.classify_s": self.seconds.value,
        }


def _is_object(raw: str) -> bool:
    try:
        return isinstance(json.loads(raw), dict)
    except (ValueError, TypeError):
        return False


def make_classifier(spark, seed: int, traced: bool) -> Classifier:
    inner = DeterministicClassifier(seed=seed)
    return CountingClassifier(spark.sparkContext, inner) if traced else inner


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; ppid follows the ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def process_tree() -> list[int]:
    """This process and all its descendants, parents first."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def memory_by_process() -> list[dict]:
    """Peak (VmHWM) and current (VmRSS) resident MB of every live
    process in this process's tree: driver Python, JVM, Python workers."""
    out = []
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        out.append({
            "pid": pid,
            "name": fields["Name"].strip(),
            "hwm_mb": int(fields.get("VmHWM", "0 kB").split()[0]) / 1024,
            "rss_mb": int(fields.get("VmRSS", "0 kB").split()[0]) / 1024,
        })
    return out
