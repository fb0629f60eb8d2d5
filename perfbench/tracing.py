"""Tracing for the benchmark's traced run: spans, per-layer counters and
Spark event-log metrics.

Spans are recorded from the benchmark's own files, around the calls into
each layer of the package; the package itself carries no instrumentation.
A traced layer is materialized (persisted and counted) at its public
function's boundary, so its span covers that layer's work alone. Spans stay
in memory and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans and per-pass layer metrics. Disabled, every method is a no-op
    and ``layer`` returns its DataFrame untouched, so the timed passes run
    the plain lazy pipeline."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._persisted: list = []
        self._pass: dict[str, float] = {}
        self._pass_id = ""
        self.per_pass: dict[str, list[float]] = defaultdict(list)
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "run_id": self._pass_id or self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def add(self, metric: str, value: float) -> None:
        """Accumulate ``value`` into ``metric`` for the current pass."""
        if self.enabled:
            self._pass[metric] = self._pass.get(metric, 0.0) + value

    def layer(self, df, span: str, seconds: str, rows: str | None = None):
        """Materialize ``df`` at a layer boundary: persist and count it inside
        span ``span``, add the span's duration to ``seconds`` and the row
        count to ``rows``. Returns the persisted DataFrame."""
        if not self.enabled:
            return df
        from pyspark import StorageLevel

        with self.span(span) as rec:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            n = df.count()
        self._persisted.append(df)
        self.add(seconds, rec["end"] - rec["start"])
        if rows is not None:
            self.add(rows, n)
        return df

    @contextmanager
    def timed(self, metric: str, span: str):
        """Span ``span`` around a block, its duration added to ``metric``."""
        with self.span(span) as rec:
            yield
        if rec is not None:
            self.add(metric, rec["end"] - rec["start"])

    @contextmanager
    def traced_pass(self, index: int):
        """Root span of one pass. Per-pass metrics are kept only for passes
        that complete; persisted layer outputs are released either way."""
        self._pass = {}
        self._pass_id = f"{self.run_id}-pass{index}"
        try:
            with self.span("pass"):
                yield
            for k, v in self._pass.items():
                self.per_pass[k].append(v)
        finally:
            for df in self._persisted:
                df.unpersist()
            self._persisted = []
            self._pass_id = ""

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.per_pass.items()}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# --- executed plans -------------------------------------------------------


def _plan_children(node) -> list:
    """Children of a physical plan node, looking through adaptive plans,
    query stages and reused exchanges."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _rows(node) -> int | None:
    m = node.metrics().get("numOutputRows")
    return int(m.get().value()) if m.isDefined() else None


def _find(node, pred):
    """First node under ``node``, itself included, in pre-order, for which
    ``pred`` holds; None if there is none."""
    if pred(node):
        return node
    for child in _plan_children(node):
        hit = _find(child, pred)
        if hit is not None:
            return hit
    return None


def salting_rows(df) -> dict[str, int]:
    """Row counts of the salted as-of join, read from the executed plan that
    built the persisted ``df``: the right rows that reach the salt
    replication (``explode`` of each row's salt list), the rows it emits, and
    the hot keys in the broadcast it joins them with. Raises LookupError when
    ``df`` is not cached or its plan replicates nothing."""
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = cache.lookupCachedData(df._jdf)
    if not cached.isDefined():
        raise LookupError("the DataFrame is not persisted")
    plan = cached.get().cachedRepresentation().cacheBuilder().cachedPlan()
    gen = _find(plan, lambda n: n.nodeName() == "Generate"
                and n.simpleString(1).startswith("Generate explode("))
    if gen is None:
        raise LookupError("the executed plan has no salt replication")
    below = _find(gen.children().apply(0), lambda n: _rows(n) is not None)
    hot = _find(gen, lambda n: n.nodeName() == "BroadcastExchange")
    if below is None or hot is None:
        raise LookupError("the salt replication has no counted input or no hot-key broadcast")
    return {
        "asof.hot_keys": _rows(hot),
        "asof.right_rows_in": _rows(below),
        "asof.right_rows_salted": _rows(gen),
    }


# --- Spark event log ------------------------------------------------------

SPARK_METRICS = (
    "spark.stages",
    "spark.tasks",
    "spark.task_skew",
    "spark.executor_run_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.gc_s",
    "spark.task_failures",
)


def event_log_file(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def spark_metrics(path: str, groups: list[str]) -> dict[str, float]:
    """Engine metrics of the jobs run under each job group in ``groups``
    (one group per traced pass), as the median over the groups.

    ``spark.task_skew`` is max/median task duration in the pass's slowest
    stage; times are seconds and sizes bytes."""
    stage_group: dict[int, str] = {}
    stage_span: dict[int, float] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in groups:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sub, done = info.get("Submission Time"), info.get("Completion Time")
                if sub is not None and done is not None:
                    stage_span[info["Stage ID"]] = (done - sub) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev)

    per_group: dict[str, dict[str, float]] = {
        g: dict.fromkeys(SPARK_METRICS, 0.0) for g in groups
    }
    slowest: dict[str, tuple[float, int]] = {}
    for sid, group in stage_group.items():
        if sid not in stage_span:
            continue  # skipped stage: its shuffle output was reused
        m = per_group[group]
        m["spark.stages"] += 1
        if stage_span[sid] > slowest.get(group, (-1.0, -1))[0]:
            slowest[group] = (stage_span[sid], sid)
        for ev in tasks.get(sid, []):
            m["spark.tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                m["spark.task_failures"] += 1
            tm = ev.get("Task Metrics") or {}
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
    for group, (_, sid) in slowest.items():
        durs = [
            ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"]
            for ev in tasks.get(sid, [])
        ]
        med = statistics.median(durs) if durs else 0
        per_group[group]["spark.task_skew"] = max(durs) / med if med > 0 else 1.0
    return {
        k: statistics.median(per_group[g][k] for g in groups) for k in SPARK_METRICS
    }
