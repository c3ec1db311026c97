"""Measurements taken from outside the engine package.

- ``RssSampler``: peak resident memory of this process's descendants
  (the driver JVM and its Python workers), read from ``/proc``, with
  shared pages counted once.
- ``EventLog``: per-window execution counters from Spark's JSON event
  log: jobs, stages, tasks, task busy time, input/shuffle/spill bytes,
  and the SQL metrics of Python (Arrow worker) plan nodes.
- ``LayerProbe``: wraps public functions of the engine's ``io`` and
  ``operators.snapshot`` modules to count and time calls into them.
  Installed only for a traced run, before the plan modules import them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int) -> int:
    """Resident memory of one process with shared pages split among the
    processes sharing them (PSS), so a tree's sum counts each page once:
    the JVM's forked children and the Python daemon's forked workers
    would otherwise count their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of this process's descendants every
    ``interval`` seconds on a daemon thread; ``peak`` is the maximum."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_resident_bytes(p) for p in descendants()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# plan node names of Python/Arrow worker operators
_PYTHON_NODE_MARKS = ("Python", "Pandas", "InArrow")
_PY_METRICS = {
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
    "number of output rows": "python.rows_out",
}
EXEC_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_busy_s",
    "exec.input_bytes",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "python.nodes",
    "python.rows_out",
    "python.data_sent_bytes",
    "python.data_received_bytes",
)


class EventLog:
    """Incremental reader of one application's JSON event log.

    ``window()`` returns the counters of the events written since the
    previous call. Call ``drain(spark)`` first so the asynchronous
    listener bus has delivered everything the finished work posted.
    """

    def __init__(self, log_dir: str, app_id: str) -> None:
        self.log_dir = log_dir
        self.app_id = app_id
        self._offset = 0
        self._partial = b""

    def _path(self) -> str:
        for name in os.listdir(self.log_dir):
            if name.startswith(self.app_id):
                return os.path.join(self.log_dir, name)
        raise FileNotFoundError(f"no event log for {self.app_id} in {self.log_dir}")

    @staticmethod
    def drain(spark) -> None:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _new_events(self) -> list[dict]:
        with open(self._path(), "rb") as f:
            f.seek(self._offset)
            data = f.read()
        self._offset += len(data)
        lines = (self._partial + data).split(b"\n")
        self._partial = lines.pop()  # an unterminated last line waits
        return [json.loads(x) for x in lines if x.strip()]

    def window(self) -> dict[str, float]:
        c: Counter = Counter({k: 0 for k in EXEC_KEYS})
        py_accums: dict[int, str] = {}
        py_nodes: set[tuple[int, str, int]] = set()
        tasks = []
        for ev in self._new_events():
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                c["exec.jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                c["exec.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif "sparkPlanInfo" in ev:  # SQL execution start / AQE update
                execution = ev.get("executionId", -1)
                py_nodes -= {n for n in py_nodes if n[0] == execution}
                self._python_nodes(ev["sparkPlanInfo"], execution, py_accums, py_nodes)
        c["python.nodes"] = len(py_nodes)
        for ev in tasks:
            c["exec.tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["exec.task_busy_s"] += m.get("Executor Run Time", 0) / 1000
            c["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = py_accums.get(acc.get("ID"))
                if key is not None:
                    c[key] += int(acc.get("Update") or 0)
        return dict(c)

    def _python_nodes(self, info: dict, execution: int, accums: dict, nodes: set) -> None:
        name = info.get("nodeName", "")
        if any(mark in name for mark in _PYTHON_NODE_MARKS):
            metrics = info.get("metrics", [])
            nodes.add((execution, name, min((m["accumulatorId"] for m in metrics), default=-1)))
            for m in metrics:
                key = _PY_METRICS.get(m.get("name"))
                if key is not None:
                    accums[m["accumulatorId"]] = key
        for child in info.get("children", []):
            self._python_nodes(child, execution, accums, nodes)


class LayerProbe:
    """Counts and times calls into the engine's ``io.load`` and
    ``operators.snapshot.snapshot`` by wrapping them in their modules.

    ``install()`` must run before ``registry.all_specs()`` imports the
    plan modules, which bind these functions by name at import time.
    """

    def __init__(self) -> None:
        self.counts: Counter = Counter()

    def install(self) -> None:
        from weather_flink_spark import io
        from weather_flink_spark.operators import snapshot as snap

        load, make_snapshot = io.load, snap.snapshot
        counts = self.counts

        def counted_load(spark, sf_dir, name):
            before = len(io._PLAN_CACHE)
            t0 = time.perf_counter()
            try:
                return load(spark, sf_dir, name)
            finally:
                counts["io.load_s"] += time.perf_counter() - t0
                counts["io.load_calls"] += 1
                counts["io.plan_cache_misses"] += len(io._PLAN_CACHE) > before

        def counted_snapshot(*args, **kwargs):
            apply = make_snapshot(*args, **kwargs)

            def counted_apply(df):
                t0 = time.perf_counter()
                try:
                    return apply(df)
                finally:
                    counts["operators.snapshot_s"] += time.perf_counter() - t0
                    counts["operators.snapshot_rdds"] += 1

            return counted_apply

        io.load = counted_load
        snap.snapshot = counted_snapshot

    def take(self) -> dict[str, float]:
        out = dict(self.counts)
        self.counts.clear()
        return out
