"""Per-layer tracing for the traced benchmark run (``--trace 1``).

Nothing here changes the package: layers are observed from outside.

- :class:`Tracer` times calls into package functions by swapping the
  module attribute a caller looks up for a timing wrapper (restored on
  :meth:`Tracer.close`), receives every Dataset action's Catalyst phase
  durations through a ``QueryExecutionListener`` implemented over the
  py4j callback server, and reads the JVM's garbage-collector beans.
  Spans are kept in memory and only reported at the end.
- :func:`summarize_event_log` reads Spark's own event log (enabled in
  traced runs) and sums job, stage and task statistics over given wall
  time windows: one window per measured operation.

Work is recorded only while ``Tracer.active`` is true, so a run can
alternate traced and untraced operations and report the difference as
the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class _QueryExecutionListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, tracer: "Tracer") -> None:
        self._tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface
        if not self._tracer.active:
            return
        phases = qe.tracker().phases()

        def _ms(phase: str) -> float:
            opt = phases.get(phase)
            return float(opt.get().durationMs()) if opt.isDefined() else 0.0

        self._tracer.record_query(_ms("analysis") / 1e3, _ms("optimization") / 1e3, _ms("planning") / 1e3)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM interface
        pass  # failed operations are counted by the workload that ran them

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """In-memory spans and Catalyst phases for one traced run."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.active = False
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.actions: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        gateway = spark.sparkContext._gateway
        ensure_callback_server_started(gateway)
        self._listener = _QueryExecutionListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)

    # -- spans -----------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording span ``layer``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.add(layer, time.perf_counter() - t0)

        setattr(owner, attr, timed)
        self._patched.append((owner, attr, original))

    def add(self, layer: str, seconds: float) -> None:
        with self._lock:
            self.spans[layer].append(seconds)

    def record_query(self, analysis: float, optimization: float, planning: float) -> None:
        with self._lock:
            self.actions.append(
                {"analysis_s": analysis, "optimization_s": optimization, "planning_s": planning}
            )

    def take_actions(self) -> list[dict]:
        """Actions recorded since the previous call, after the listener
        bus has delivered every pending event."""
        self.flush()
        with self._lock:
            out, self.actions = self.actions, []
        return out

    def flush(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def gc_seconds(self) -> float:
        """Total collection time of every JVM garbage collector so far."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3

    def close(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()
        self.active = False
        try:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
        except Exception:  # noqa: BLE001 - the session may already be stopped
            pass


def event_log_file(log_dir: str) -> str | None:
    """The single application log Spark wrote under ``log_dir``."""
    if not os.path.isdir(log_dir):
        return None
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, sorted(names)[-1]) if names else None


def summarize_event_log(path: str, windows: list[tuple[float, float]]) -> dict:
    """Job, stage and task statistics of the work launched inside
    ``windows`` (wall-clock ``time.time()`` seconds; Spark stamps events
    with the same clock in milliseconds)."""
    spans = [(a * 1e3, b * 1e3) for a, b in windows]

    def inside(ms: float) -> bool:
        return any(a <= ms <= b for a, b in spans)

    jobs = stages = tasks = 0
    run_ms = gc_ms = 0.0
    shuffle_w = shuffle_r = spill = out_bytes = in_bytes = 0
    stage_task_ms: dict[int, list[float]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if inside(ev["Submission Time"]):
                    jobs += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if inside(info.get("Submission Time", 0)):
                    stages += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if not inside(info["Launch Time"]):
                    continue
                m = ev.get("Task Metrics") or {}
                tasks += 1
                run_ms += m.get("Executor Run Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                spill += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics", {})
                shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                shuffle_w += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                out_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
                in_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                stage_task_ms[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    skews = [
        max(ts) / max(statistics.median(ts), 1.0)
        for ts in stage_task_ms.values()
        if len(ts) >= 2
    ]
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "task_time_s": run_ms / 1e3,
        "task_gc_s": gc_ms / 1e3,
        "shuffle_write_bytes": shuffle_w,
        "shuffle_read_bytes": shuffle_r,
        "spill_bytes": spill,
        "output_bytes": out_bytes,
        "input_bytes": in_bytes,
        "task_skew": statistics.median(skews) if skews else 1.0,
    }
