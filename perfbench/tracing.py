"""Instruments for the traced run, all read from outside the engine.

- ``Tracer``: in-memory spans (name, start, end, parent, operation)
  around calls into the engine's public functions. ``wrap_layers``
  rebinds those functions, wherever a package module imported them, to
  a wrapper that opens a span; no engine file changes.
- ``SparkProbe``: Spark's own counters: QueryPlanningTracker phases and
  Python-node SQL metrics from a ``QueryExecutionListener``, codegen
  compile counters, status-store stage data per job, and streaming
  progress from a ``StreamingQueryListener``.
- ``RssSampler``: peak resident memory of the driver JVM, and peak
  PSS of the Python workers under it, sampled from /proc.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict

from stats import self_time

PACKAGE = "pipeline_airflow_docker_spark"

# (layer, module, public function names): calls open a span named
# after the layer.
LAYER_FUNCTIONS: tuple[tuple[str, str, tuple[str, ...]], ...] = (
    ("catalog", f"{PACKAGE}.catalog", ("table",)),
    ("operators.spread", f"{PACKAGE}.operators.skew", ("spread",)),
    ("functions.materialize", f"{PACKAGE}.functions.materialize", ("materialize",)),
    ("sources", f"{PACKAGE}.sources.batch", ("read_csv", "read_json_records", "read_rest_json")),
    ("sources", f"{PACKAGE}.sources.scrape", ("scrape_records",)),
    ("sinks", f"{PACKAGE}.sinks.batch",
     ("append_documents", "write_csv", "write_json_records", "write_parquet_partitioned")),
)

STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                "inputBytes", "inputRecords", "shuffleWriteBytes", "shuffleReadBytes",
                "shuffleWriteTime", "shuffleFetchWaitTime", "memoryBytesSpilled",
                "diskBytesSpilled")

# Physical nodes that run Python workers, and the SQL metrics they carry.
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow",
                "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas")
PYTHON_METRICS = {"pythonNumRowsReceived": "python.rows",
                  "pythonDataSent": "python.bytes_sent",
                  "pythonDataReceived": "python.bytes_received",
                  "pythonTotalTime": "python.node_ms"}


class Tracer:
    """Spans kept in memory; nesting follows the calling thread's stack."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": stack[-1] if stack else None, "op": self.op}
        self.spans.append(span)
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack().pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)
        return traced

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Self time per span name over the spans of ``ops``."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for span in self.spans:
            if span["parent"] is not None and span["end"] is not None:
                children[span["parent"]].append((span["start"], span["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, span in enumerate(self.spans):
            if span["op"] in ops and span["end"] is not None:
                out[span["name"]] += self_time((span["start"], span["end"]), children[i])
        return out

    def counts(self, ops: set[str]) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for span in self.spans:
            if span["op"] in ops:
                out[span["name"]] += 1
        return out


def wrap_layers(tracer: Tracer) -> None:
    """Rebind each layer function in every loaded package module that
    holds a reference to it (``from x import f`` copies the name)."""
    originals = {}
    for layer, mod_name, names in LAYER_FUNCTIONS:
        mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
        for name in names:
            fn = getattr(mod, name)
            originals[id(fn)] = tracer.wrap(layer, fn)
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            wrapped = originals.get(id(value))
            if wrapped is not None:
                setattr(mod, attr, wrapped)


class _ExecutionListener:
    """py4j implementation of ``QueryExecutionListener``; runs on the
    listener-bus thread."""

    def __init__(self, probe: "SparkProbe") -> None:
        self.probe = probe

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self.probe.on_query(qe, duration_ns)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self.probe.on_query(qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Counters read from Spark between operations. ``take()`` returns
    everything accumulated since the previous call."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started  # noqa: PLC0415
        from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_hist = (
            self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME())
        self._lock = threading.Lock()
        self._acc: dict[str, float] = defaultdict(float)
        self._last_job = self.max_job()
        self._compiles, self._compile_ns = self._codegen_now()

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _ExecutionListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)

        probe = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                probe.on_progress(event.progress)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._progress = _Progress()
        spark.streams.addListener(self._progress)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        self.spark.streams.removeListener(self._progress)

    def _add(self, values: dict[str, float]) -> None:
        with self._lock:
            for k, v in values.items():
                self._acc[k] += v

    def max_job(self) -> int:
        """Highest job id started so far (ids are sequential)."""
        ids = list(self.sc.statusTracker().getJobIdsForGroup(None))
        return max(ids) if ids else -1

    def _codegen_now(self) -> tuple[int, int]:
        return int(self._codegen_hist.getCount()), int(self._codegen.compileTime())

    def on_query(self, qe, duration_ns: int) -> None:
        out = {"exec.action_s": duration_ns / 1e9}
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                out[f"catalyst.{phase}_ms"] = phases.apply(phase).durationMs()
        self._python_nodes(qe.executedPlan(), out)
        self._add(out)

    def _python_nodes(self, plan, out: dict[str, float]) -> None:
        stack = [plan]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec") or cls == "ReusedExchangeExec":
                stack.append(node.plan() if cls.endswith("QueryStageExec") else node.child())
                continue
            if cls.removesuffix("Exec") in PYTHON_NODES:
                metrics = node.metrics()
                for name, key in PYTHON_METRICS.items():
                    if metrics.contains(name):
                        out[key] = out.get(key, 0.0) + metrics.apply(name).value()
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))

    def on_progress(self, progress) -> None:
        durations = progress.durationMs or {}
        out = {"streaming.batches": 1,
               "streaming.trigger_ms": durations.get("triggerExecution", 0),
               "streaming.add_batch_ms": durations.get("addBatch", 0),
               "streaming.commit_ms": durations.get("commitOffsets", 0)
               + durations.get("walCommit", 0),
               "streaming.state_rows": sum(s.numRowsTotal for s in progress.stateOperators)}
        self._add(out)

    def take(self) -> dict[str, float]:
        """Drain the listener bus, then collect the counters of every
        job started since the previous call."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        last = self.max_job()
        stages: set[int] = set()
        for job_id in range(self._last_job + 1, last + 1):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
        out: dict[str, float] = defaultdict(float)
        out["sched.jobs"] = last - self._last_job
        self._last_job = last
        for sid in stages:
            try:
                data = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if data.numTasks() == 0:
                continue
            out["sched.stages"] += 1
            for field in STAGE_FIELDS:
                out[f"stage.{field}"] += getattr(data, field)()
        compiles, compile_ns = self._codegen_now()
        out["codegen.compiles"] = compiles - self._compiles
        out["codegen.compile_ms"] = (compile_ns - self._compile_ns) / 1e6
        self._compiles, self._compile_ns = compiles, compile_ns
        with self._lock:
            for k, v in self._acc.items():
                out[k] += v
            self._acc.clear()
        return dict(out)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def descendants_pss_bytes(root: int) -> int:
    """Proportional set size of every process below ``root`` (the
    Python workers): forked workers share the daemon's pages, which
    plain RSS would count once per worker."""
    total, todo = 0, _children(root)
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Background thread recording the peak RSS of the driver JVM and,
    separately, the peak total PSS of the Python workers under it."""

    INTERVAL_S = 0.05

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.jvm_peak = 0
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        self.jvm_peak = max(self.jvm_peak, rss_bytes(self.jvm_pid))
        self.workers_peak = max(self.workers_peak, descendants_pss_bytes(self.jvm_pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
