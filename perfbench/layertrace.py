"""Layer telemetry read from Spark itself, for traced runs.

- Execution counters come from a job group the benchmark sets around
  each call into the engine. After the call, the group's jobs are
  listed by ``statusTracker()`` and each stage's last attempt is read
  from the status store (this works with the UI disabled).
- Streaming counters come from a ``StreamingQueryListener``. Micro-batch
  jobs run on the stream's own thread and do not inherit the caller's
  job group, so job groups cannot see them.

Spans are kept in memory as (layer, start, end, parent op) tuples and
summed at the end of the run.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def exec_stats(sc, group: str) -> dict[str, float]:
    """Totals over every job the group ran. Skipped stages (their output
    was reused) count neither as stages nor as tasks."""
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else ()):
            sd = store.lastStageAttempt(stage)
            done = sd.numCompleteTasks()
            if not done:
                continue
            out["stages"] += 1
            out["tasks"] += done
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


class Tracer:
    """Spans plus per-group execution counters for one run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[tuple[str, float, float, str]] = []
        self.exec: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
        self.bookkeeping_s = 0.0
        self._n = 0

    def call(self, layer: str, parent: str, fn):
        """Run ``fn`` inside a fresh job group; record its span (caused by
        the op ``parent``) and the group's execution counters under
        ``layer``."""
        t_book = time.monotonic()
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, layer)
        t0 = time.monotonic()
        self.bookkeeping_s += t0 - t_book
        try:
            return fn()
        finally:
            t1 = time.monotonic()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append((layer, t0, t1, parent))
            stats = exec_stats(self.sc, group)
            acc = self.exec[layer]
            for k, v in stats.items():
                acc[k] += v
            self.bookkeeping_s += time.monotonic() - t1

    def span_total(self, layer: str) -> float:
        return sum(t1 - t0 for name, t0, t1, _ in self.spans if name == layer)

    def span_count(self, layer: str) -> int:
        return sum(1 for s in self.spans if s[0] == layer)


class StreamStats(StreamingQueryListener):
    """Collects every progress event; ``wait_idle`` blocks until each
    started query has also reported termination, so a drain's events
    are all in before they are read."""

    def __init__(self) -> None:
        super().__init__()
        self._lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "id": str(p.id),
            "rows": int(p.numInputRows),
            "ms": {k: int(v) for k, v in dict(p.durationMs).items()},
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def wait_idle(self, timeout_s: float = 30.0) -> bool:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return True
            time.sleep(0.005)
        return False

    def totals(self) -> dict[str, float]:
        """Sums over all progress events so far. ``state_rows`` takes each
        query's last reported state size."""
        with self._lock:
            events = list(self.progress)
        ms = defaultdict(float)
        last_state: dict[str, int] = {}
        for e in events:
            for k, v in e["ms"].items():
                ms[k] += v
            last_state[e["id"]] = e["state_rows"]
        return {
            "batches": float(len(events)),
            "empty_batches": float(sum(1 for e in events if e["rows"] == 0)),
            "planning_s": ms["queryPlanning"] / 1e3,
            "addbatch_s": ms["addBatch"] / 1e3,
            "commit_s": (ms["walCommit"] + ms["commitOffsets"]) / 1e3,
            "trigger_s": ms["triggerExecution"] / 1e3,
            "input_rows": float(sum(e["rows"] for e in events)),
            "state_rows": float(sum(last_state.values())),
        }
