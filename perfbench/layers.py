"""Measurement from outside the engine.

- ``ProcTree``: CPU and resident memory of the Spark JVM and every
  Python worker below it, read from ``/proc``.
- ``Status``: jobs, stages and SQL executions from Spark's own status
  stores, serialized to JSON in the JVM with Jackson.
- ``StreamProgress``: a ``StreamingQueryListener`` that keeps every
  micro-batch's progress.
- ``Spans``: driver-side spans around the public functions of the
  engine's modules, with self time per layer.

Nothing here changes the engine's code or configuration.
``StreamProgress`` and ``Spans`` are used only in traced runs.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
import types
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024.0 * 1024.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids[int(st[2])].append(int(entry))
    return kids


class ProcTree:
    """The JVM that this process launched and its descendants."""

    def __init__(self) -> None:
        kids = _children_map()
        jvms = [p for p in self._below(os.getpid(), kids) if (_stat(p) or [""])[0] == "java"]
        if not jvms:
            raise RuntimeError("no JVM below the client process")
        self.jvm = jvms[0]

    @staticmethod
    def _below(pid: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], [pid]
        while todo:
            for c in kids.get(todo.pop(), ()):
                out.append(c)
                todo.append(c)
        return out

    def pids(self) -> list[int]:
        return [self.jvm] + self._below(self.jvm, _children_map())

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python-worker CPU s), reaped children included."""
        jvm = py = 0.0
        for pid in self.pids():
            st = _stat(pid)
            if st is None:
                continue
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            s = sum(int(x) for x in st[12:16]) / _CLK
            if pid == self.jvm:
                jvm += s
            else:
                py += s
        return jvm, py

    def rss_mb(self) -> tuple[float, float, int]:
        """(JVM resident set, summed proportional sets of the Python
        workers, worker count). Workers fork from one daemon and share
        its pages, so their resident sets would count those twice. Only
        Python processes count: a helper the JVM is spawning shares the
        JVM's address space until it execs."""
        jvm = py = 0.0
        n = 0
        try:
            with open(f"/proc/{self.jvm}/statm") as f:
                jvm = int(f.read().split()[1]) * _PAGE / MB
        except OSError:
            pass
        for pid in self.pids()[1:]:
            try:
                if not (_stat(pid) or [""])[0].startswith("python"):
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(line for line in f if line.startswith("Pss:"))
                py += int(pss.split()[1]) / 1024.0
                n += 1
            except (OSError, StopIteration):
                pass
        return jvm, py, n


class RssSampler:
    """Peak of the tree's summed resident memory, sampled every 0.2 s
    (each sample scans /proc, so it is kept off the driver's hot path)."""

    def __init__(self, tree: ProcTree) -> None:
        self._tree = tree
        self.peak_mb = 0.0
        self.peak_parts = (0.0, 0.0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            jvm, py, n = self._tree.rss_mb()
            if jvm + py > self.peak_mb:
                self.peak_mb, self.peak_parts = jvm + py, (jvm, py, n)
            if self._stop.wait(0.2):
                return


_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """A SQL metric as the status store formats it: ``1,500``,
    ``30.2 KiB``, ``678 ms``, or ``total (min, med, max ...)`` with the
    total on the second line. Sizes in bytes, times in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Status:
    """Reads Spark's application and SQL status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._last_job = -1
        self._last_exec = -1
        self.skip()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def skip(self) -> None:
        """Forget everything recorded so far."""
        self.new_jobs()
        while not self._sql.execution(self._last_exec + 1).isEmpty():
            self._last_exec += 1

    def new_jobs(self) -> list[dict]:
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] > self._last_job]
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        return jobs

    def stages(self, jobs: list[dict]) -> list[dict]:
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            try:
                out.extend(
                    self._json(self._store.stageData(sid, False, None, False, self._no_quantiles))
                )
            except Py4JJavaError:  # evicted from the store
                continue
        return out

    def new_executions(self) -> list[tuple[int, list[dict], dict[str, str]]]:
        """(submission ms, plan-graph nodes, accumulator id -> formatted
        value) of each SQL execution since the last call."""
        out = []
        while True:
            e = self._sql.execution(self._last_exec + 1)
            if e.isEmpty():
                return out
            self._last_exec += 1
            i = self._last_exec
            out.append(
                (
                    e.get().submissionTime(),
                    self._json(self._sql.planGraph(i).allNodes()),
                    self._json(self._sql.executionMetrics(i)),
                )
            )


def in_window(submitted_ms, window: tuple[float, float, float]) -> bool:
    return submitted_ms is not None and window[0] <= submitted_ms <= window[2] + 1


def sql_totals(executions: list[tuple[int, list[dict], dict[str, str]]]) -> dict[str, float]:
    """Per-layer sums over SQL executions' operator metrics."""
    t: dict[str, float] = defaultdict(float)
    names = {
        "time to start Python workers": "python.boot_s",
        "time to initialize Python workers": "python.init_s",
        "time to run Python workers": "python.run_s",
        "data sent to Python workers": "python.sent_b",
        "data returned from Python workers": "python.received_b",
    }
    for _submitted, nodes, values in executions:
        t["catalyst.plan_nodes"] += len(nodes)
        for node in nodes:
            scan = node["name"].startswith("Scan ")
            for m in node.get("metrics", ()):
                v = values.get(str(m["accumulatorId"]))
                if v is None:
                    continue
                name = m["name"]
                if name in names:
                    t[names[name]] += metric_value(v)
                elif scan and name == "number of files read":
                    t["sources.files_read"] += metric_value(v)
                elif scan and name == "size of files read":
                    t["sources.scan_b"] += metric_value(v)
                elif scan and name == "number of output rows":
                    t["sources.scan_rows"] += metric_value(v)
                elif node["name"] == "BroadcastExchange" and name == "data size":
                    t["exec.broadcast_b"] += metric_value(v)
    return t


def stage_totals(stages: list[dict]) -> dict[str, float]:
    t: dict[str, float] = defaultdict(float)
    for s in stages:
        t["exec.stages"] += 1
        t["exec.tasks"] += s.get("numCompleteTasks", 0)
        t["exec.task_run_s"] += s.get("executorRunTime", 0) / 1e3
        t["exec.task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        t["exec.gc_s"] += s.get("jvmGcTime", 0) / 1e3
        t["exec.shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
        t["exec.shuffle_read_b"] += s.get("shuffleReadBytes", 0)
        t["exec.spill_b"] += s.get("diskBytesSpilled", 0)
    return t


def job_seconds(jobs: list[dict], start_ms: float, end_ms: float) -> tuple[int, float]:
    """Jobs submitted in [start_ms, end_ms) and the wall their union
    of [submission, completion] intervals covers."""
    spans = sorted(
        (j["submissionTime"], j.get("completionTime") or end_ms)
        for j in jobs
        if j.get("submissionTime") is not None and start_ms <= j["submissionTime"] < end_ms
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return len(spans), covered / 1e3


def catalyst_phases(df) -> dict[str, float]:
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"catalyst.{kv._1()}_s"] = kv._2().durationMs() / 1e3
    return out


class StreamProgress:
    """Keeps every streaming micro-batch progress event."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append(
                    {
                        "id": str(p.id),
                        "duration_ms": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def take(self) -> dict[str, float]:
        evs, self.events[:] = list(self.events), []
        t: dict[str, float] = defaultdict(float)
        last: dict[str, dict] = {}
        for e in evs:
            d = e["duration_ms"]
            t["streaming.batches"] += 1
            t["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            t["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            t["streaming.get_batch_s"] += d.get("getBatch", 0) / 1e3
            t["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            last[e["id"]] = e
        # state at the end of each query
        t["streaming.state_rows"] = sum(e["state_rows"] for e in last.values())
        t["streaming.state_mb"] = sum(e["state_bytes"] for e in last.values()) / MB
        return t


PACKAGE = "multi_crm_cross_sell_spark"
SPAN_LAYERS = ("operators", "functions", "ml", "streaming", "sources", "sinks")


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if len(parts) < 3 or parts[0] != PACKAGE:
        return None
    if parts[-1] == "sinks" and parts[1] in ("sources", "streaming"):
        return "sinks"
    return parts[1] if parts[1] in SPAN_LAYERS else None


class Spans:
    """Wraps every public function of the engine's layer modules, in
    place and in every module that imported it by name. A span's self
    time is its duration minus the time its child spans cover. Only the
    client's main thread records; calls from other threads (streaming
    batch callbacks) pass straight through."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[float] = []
        self._main = threading.main_thread()

    def install(self) -> int:
        import importlib
        import pkgutil

        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        wrapped: dict[int, types.FunctionType] = {}
        modules = [(n, m) for n, m in sys.modules.items() if n.startswith(PACKAGE + ".") and m]
        for name, mod in modules:
            layer = layer_of(name)
            if layer is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if (
                    isinstance(fn, types.FunctionType)
                    and fn.__module__ == name
                    and not attr.startswith("_")
                ):
                    wrapped[id(fn)] = self._wrap(fn, layer)
        for _name, mod in modules:
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    setattr(mod, attr, w)
        return len(wrapped)

    def _wrap(self, fn, layer: str):
        stack, self_s, calls, main = self._stack, self.self_s, self.calls, self._main

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if threading.current_thread() is not main:
                return fn(*args, **kwargs)
            start = time.perf_counter()
            stack.append(0.0)
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - start
                self_s[layer] += dur - stack.pop()
                calls[layer] += 1
                if stack:
                    stack[-1] += dur

        return span

    def take(self) -> dict[str, float]:
        out = {f"{k}.self_s": self.self_s.get(k, 0.0) for k in SPAN_LAYERS}
        out.update({f"{k}.calls": float(self.calls.get(k, 0)) for k in SPAN_LAYERS})
        self.self_s.clear()
        self.calls.clear()
        return out
