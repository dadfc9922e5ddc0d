"""Layered benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload sf0.1-mixed --seed 1 --seconds 10 --trace 0

One closed-loop client: this process submits one operation at a time
to ``local[<cpus>]``. After set-up, one untimed pass checks every
output (oracle parity for qkeys, returned metrics and read-back row
counts for replays) and a fixed number of untimed passes warm the JVM;
then whole passes run, each in a seeded order, until ``--seconds`` have
elapsed (at least two). Every later operation is checked again: a qkey
must reproduce its (rows, checksum) pair, a replay its metrics dict.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer functions in spans, reads Spark's counters after every
operation, and prints per-layer metrics (median over passes). The last
stdout line is the JSON result; the lines before it are a readable
summary. Inputs are generated from ``--seed`` and cached under
``.perfbench/`` in the checkout; all scratch lives there too.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CACHE_KEEP = 2  # generated input sets kept per workload
# A run that has not finished by then is abandoned (Spark still stopped).
DEADLINE_S = 170
# Measured passes per run at least, so that pass_s is a median even when
# one pass outlasts ``--seconds``.
MIN_PASSES = 2


class RunDeadline(BaseException):
    """Raised from SIGALRM. Not an ``Exception``, so the handlers that
    count a failed operation or check let it through and the run ends."""


def _process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine's CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _configure_env(tmp: str) -> None:
    """Keep Spark, the engine's scratch and the Python workers inside
    the checkout, and let workers import the package. The benchmark may
    write only there, so this overrides the engine's /dev/shm default
    for local dirs and scratch (measured effect in README.md)."""
    for sub in ("spark-local", "scratch", "java"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(tmp, "scratch")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(tmp, 'java')} pyspark-shell")
    os.chdir(tmp)  # derby.log, spark-warehouse and friends land here


def _remove_stale_scratch() -> None:
    """Scratch of earlier runs whose process is gone (killed runs)."""
    for name in os.listdir(WORK):
        pid = name.removeprefix("tmp-")
        if name.startswith("tmp-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def _evict_old_inputs(cache: str, workload: str, keep: str) -> None:
    entries = [e for e in os.listdir(cache) if e.startswith(workload + "-s") and e != keep]
    entries.sort(key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for e in entries[: max(0, len(entries) - (CACHE_KEEP - 1))]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 - a call cut by the deadline leaves py4j unusable
        print(f"perfbench: spark.stop failed ({type(exc).__name__}); stopping the JVM",
              file=sys.stderr)
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate on any wait failure
            proc.kill()
            proc.wait(timeout=10)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith(".") and not n.startswith("_"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.probe = None
        self.hooks: dict = {}  # traced variants of the operation steps
        self.driver_rows = 0  # REST records handed to the engine (traced)
        self.layers: list[dict] = []  # per-pass per-layer sums (traced)
        self.op_times: dict[str, list[float]] = {}  # measured latencies per operation

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        import workloads  # noqa: PLC0415

        cache = os.path.join(WORK, "inputs")
        os.makedirs(cache, exist_ok=True)
        t = time.perf_counter()
        self.desc, self.generated, key = workloads.prepare_inputs(
            self.args.workload, self.args.seed, cache)
        self.gen_s = time.perf_counter() - t
        _evict_old_inputs(cache, self.args.workload, key)

        from pyspark.sql import functions as F  # noqa: PLC0415

        from pipeline_airflow_docker_spark.catalog import TABLES, table  # noqa: PLC0415
        from pipeline_airflow_docker_spark.session import get_spark  # noqa: PLC0415

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t
        sf_dir = self.desc["sf_dir"]
        for name in TABLES:
            if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
                table(self.spark, sf_dir, name).schema  # noqa: B018 - resolve files + footer
        t = time.perf_counter()
        self.spark.range(8).select(F.sum("id")).collect()
        self.first_job_s = time.perf_counter() - t
        self.setup_s = _process_age() - self.gen_s
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    # ------------------------------------------------------------ tracing
    def enable_tracing(self) -> None:
        import tracing  # noqa: PLC0415

        from pyspark.serializers import BatchedSerializer, CPickleSerializer  # noqa: PLC0415
        from pyspark.util import _load_from_socket  # noqa: PLC0415

        self.tracer = tracing.Tracer()
        tracing.wrap_layers(self.tracer)
        self.probe = tracing.SparkProbe(self.spark)
        tracer = self.tracer

        def build_hook(build, spark, sf_dir):
            idx = tracer.begin("plans")
            jobs0 = self.probe.max_job()
            try:
                return build(spark, sf_dir)
            finally:
                tracer.end(idx)
                tracer.spans[idx]["jobs"] = self.probe.max_job() - jobs0

        def collect_hook(agg):
            idx = tracer.begin("exec.action")
            sock = agg._jdf.collectToPython()
            tracer.end(idx)
            idx = tracer.begin("result")
            rows = list(_load_from_socket(sock, BatchedSerializer(CPickleSerializer())))
            tracer.end(idx)
            return rows

        def fetch_hook(records):
            self.driver_rows += len(records)
            return records

        self.hooks = {"build_hook": build_hook, "collect_hook": collect_hook,
                      "fetch_hook": fetch_hook}

    # ------------------------------------------------------------ running
    def run_op(self, op, tag: str):
        out = os.path.join(self.tmp, "out", tag)
        if self.tracer:
            self.tracer.op = tag
            idx = self.tracer.begin(op.layer if op.layer == "pipelines" else "op")
        t = time.perf_counter()
        try:
            value, err = op.fn(self.spark, out), None
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            value, err = None, f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}"
        dt = time.perf_counter() - t
        if self.tracer:
            self.tracer.end(idx)
        return value, err, dt, out

    def traced_counters(self, op, out: str) -> dict:
        counters = self.probe.take()
        files, size = _dir_stats(out) if os.path.isdir(out) else (0, 0)
        counters["sinks.files_written"] = files
        counters["sinks.bytes_written"] = size
        if op.layer == "pipelines":
            counters["pipelines.runs"] = 1
            counters["pipelines.jobs"] = counters.get("sched.jobs", 0)
            counters["pipelines.source_bytes"] = op.source_bytes
            counters["pipelines.scanned_bytes"] = (
                counters.get("stage.inputBytes", 0) if op.source_bytes else 0)
        return counters

    def run(self) -> None:
        import stats  # noqa: PLC0415
        import tracing  # noqa: PLC0415
        import workloads  # noqa: PLC0415

        args = self.args
        ops = workloads.operations(args.workload, self.desc, **self.hooks)
        tally = stats.Tally()
        failures: list[str] = []

        # First pass: untimed; checks outputs and records references.
        warm_start = time.perf_counter()
        reference: dict[str, object] = {}
        broken: dict[str, str] = {}
        for i, op in enumerate(workloads.pass_order(ops, self.rng)):
            value, err, _, out = self.run_op(op, f"warm{i}")
            err = err or workloads.check_value(op, value)
            if err is None and op.verify is not None:
                try:
                    err = op.verify(self.spark, value, out)
                except Exception as exc:  # noqa: BLE001 - a failed check is counted
                    err = f"{op.name}: check raised {type(exc).__name__}: {str(exc)[:300]}"
            shutil.rmtree(out, ignore_errors=True)
            if err:
                broken[op.name] = err
                failures.append(err)
            else:
                reference[op.name] = value

        def repeat(op, tag):
            """Run a checked operation again; its failure or None, its time, its output."""
            value, err, dt, out = self.run_op(op, tag)
            err = (err or broken.get(op.name)
                   or workloads.check_value(op, value, reference.get(op.name)))
            if err and err not in failures:
                failures.append(err)
            return err, dt, out

        # Untimed passes until the JVM's JIT has settled: without them
        # the measured passes still fall by up to a third, and a run
        # that fits more passes in ``--seconds`` reads faster.
        for w in range(workloads.WARM_PASSES[args.workload]):
            for i, op in enumerate(workloads.pass_order(ops, self.rng)):
                _, _, out = repeat(op, f"warm{w}-{i}")
                shutil.rmtree(out, ignore_errors=True)
        if self.probe:
            self.probe.take()
            self.tracer.spans.clear()
            self.driver_rows = 0

        self.warm_s = time.perf_counter() - warm_start
        latencies: list[float] = []
        passes: list[float] = []
        start = time.perf_counter()
        steal0, total0 = _cpu_ticks()
        # Memory is a per-layer metric: sample it only in the traced run,
        # so the sampler thread takes no GIL time from timed passes.
        rss = tracing.RssSampler(self.jvm_pid) if self.probe else contextlib.nullcontext()
        with rss:
            while len(passes) < MIN_PASSES or time.perf_counter() - start < args.seconds:
                p = len(passes)
                pass_time, pass_ops, counters = 0.0, set(), {}
                for j, op in enumerate(workloads.pass_order(ops, self.rng)):
                    tag = f"p{p}-{j}"
                    err, dt, out = repeat(op, tag)
                    if self.probe:
                        for k, v in self.traced_counters(op, out).items():
                            counters[k] = counters.get(k, 0) + v
                    shutil.rmtree(out, ignore_errors=True)
                    tally.record(err)
                    latencies.append(dt)
                    self.op_times.setdefault(op.name, []).append(dt)
                    pass_time += dt
                    pass_ops.add(tag)
                passes.append(pass_time)
                if self.probe:
                    counters["sources.driver_rows"] = self.driver_rows
                    self.driver_rows = 0
                    self.layers.append(self.layer_metrics(pass_ops, counters, pass_time))
        steal1, total1 = _cpu_ticks()
        # Time the hypervisor gave other guests while this run waited:
        # a high share explains a slow run without any change to the code.
        self.steal = (steal1 - steal0) / max(1, total1 - total0)
        if self.probe:
            self.peak_rss_mb = rss.jvm_peak / 2**20
            self.workers_peak_mb = rss.workers_peak / 2**20
        self.latencies, self.passes, self.tally, self.failures = latencies, passes, tally, failures

    def layer_metrics(self, pass_ops: set[str], c: dict, pass_time: float) -> dict:
        selft = self.tracer.self_times(pass_ops)
        counts = self.tracer.counts(pass_ops)
        action_s = c.get("exec.action_s", 0.0)
        plans_jobs = sum(s.get("jobs", 0) for s in self.tracer.spans
                         if s["op"] in pass_ops and s["name"] == "plans")
        runs = c.get("pipelines.runs", 0)
        source = c.get("pipelines.source_bytes", 0)
        return {
            "trace.pass_s": pass_time,
            "catalog.table_calls": counts.get("catalog", 0),
            "catalog.table_s": selft.get("catalog", 0.0),
            "plans.build_s": selft.get("plans", 0.0),
            "plans.build_jobs": plans_jobs,
            "operators.spread_calls": counts.get("operators.spread", 0),
            "operators.spread_s": selft.get("operators.spread", 0.0),
            "functions.materialize_calls": counts.get("functions.materialize", 0),
            "functions.materialize_s": selft.get("functions.materialize", 0.0),
            "catalyst.analysis_ms": c.get("catalyst.analysis_ms", 0.0),
            "catalyst.optimization_ms": c.get("catalyst.optimization_ms", 0.0),
            "catalyst.planning_ms": c.get("catalyst.planning_ms", 0.0),
            "codegen.compiles": c.get("codegen.compiles", 0),
            "codegen.compile_ms": c.get("codegen.compile_ms", 0.0),
            "sched.jobs": c.get("sched.jobs", 0),
            "sched.stages": c.get("sched.stages", 0),
            "sched.tasks": c.get("stage.numTasks", 0),
            "sched.core_util": (c.get("stage.executorRunTime", 0) / 1e3 / (action_s * self.cores)
                                if action_s else 0.0),
            "exec.action_s": action_s,
            "exec.run_s": c.get("stage.executorRunTime", 0) / 1e3,
            "exec.cpu_s": c.get("stage.executorCpuTime", 0) / 1e9,
            "exec.gc_s": c.get("stage.jvmGcTime", 0) / 1e3,
            "scan.input_bytes": c.get("stage.inputBytes", 0),
            "scan.input_rows": c.get("stage.inputRecords", 0),
            "shuffle.write_bytes": c.get("stage.shuffleWriteBytes", 0),
            "shuffle.read_bytes": c.get("stage.shuffleReadBytes", 0),
            "shuffle.write_s": c.get("stage.shuffleWriteTime", 0) / 1e9,
            "shuffle.fetch_wait_s": c.get("stage.shuffleFetchWaitTime", 0) / 1e3,
            "spill.bytes": c.get("stage.memoryBytesSpilled", 0) + c.get("stage.diskBytesSpilled", 0),
            "python.rows": c.get("python.rows", 0),
            "python.bytes_sent": c.get("python.bytes_sent", 0),
            "python.bytes_received": c.get("python.bytes_received", 0),
            "python.node_ms": c.get("python.node_ms", 0),
            "sources.read_s": selft.get("sources", 0.0),
            "sources.driver_rows": c.get("sources.driver_rows", 0),
            "sinks.write_s": selft.get("sinks", 0.0),
            "sinks.bytes_written": c.get("sinks.bytes_written", 0),
            "sinks.files_written": c.get("sinks.files_written", 0),
            "pipelines.jobs_per_run": c.get("pipelines.jobs", 0) / runs if runs else 0.0,
            "pipelines.scan_amplification": (c.get("pipelines.scanned_bytes", 0) / source
                                             if source else 0.0),
            "streaming.batches": c.get("streaming.batches", 0),
            "streaming.trigger_ms": c.get("streaming.trigger_ms", 0),
            "streaming.add_batch_ms": c.get("streaming.add_batch_ms", 0),
            "streaming.commit_ms": c.get("streaming.commit_ms", 0),
            "streaming.state_rows": c.get("streaming.state_rows", 0),
            "result.collect_s": selft.get("result", 0.0),
        }


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    spec = _load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pipeline_airflow_docker_spark  # noqa: F401,PLC0415
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    def _deadline(signum, frame):
        raise RunDeadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    bench = Bench(args)
    os.makedirs(bench.tmp, exist_ok=True)
    _remove_stale_scratch()
    cwd = os.getcwd()
    _configure_env(bench.tmp)
    try:
        bench.setup()
        try:
            if args.trace:
                bench.enable_tracing()
            bench.run()
        finally:
            signal.alarm(0)
            if bench.probe:
                bench.probe.close()
            _stop_spark(bench.spark)
    finally:
        os.chdir(cwd)
        shutil.rmtree(bench.tmp, ignore_errors=True)

    result = report(bench, spec)
    print(json.dumps(result))
    return 0


def report(bench: Bench, spec: dict) -> dict:
    import stats  # noqa: PLC0415

    lat = bench.latencies
    tally = bench.tally
    p90, beyond = stats.tail_percentile(lat, 0.9)
    print(f"workload {bench.args.workload} seed {bench.args.seed} trace {bench.args.trace}: "
          f"{len(bench.passes)} passes, {len(lat)} ops, inputs {bench.gen_s:.2f} s "
          f"({'generated' if bench.generated else 'cached'}), warm-up and checks "
          f"{bench.warm_s:.2f} s")
    e2e = {
        "setup_s": bench.setup_s,
        "pass_s": statistics.median(bench.passes),
        "op_gmean_s": statistics.geometric_mean(lat),
    }
    for name, value in e2e.items():
        print(f"  {name:14s} {value:12.4f} s")
    print(f"  {'op_p50_s':14s} {statistics.median(lat):12.4f} s")
    print(f"  {'op_p90_s':14s} " + (f"{p90:12.4f} s ({beyond} samples beyond)" if p90 is not None
          else f"{'omitted':>12s} (only {beyond} of {len(lat)} samples beyond p90)"))
    print(f"  {'error_rate':14s} {tally.error_rate:12.4f} ratio ({tally.failed}/{tally.attempted})")
    print("  passes s: " + ", ".join(f"{p:.3f}" for p in bench.passes)
          + f"; CPU steal during them {bench.steal:.1%}")
    print("  per-operation median s: " + ", ".join(
        f"{name} {statistics.median(ts):.3f}" for name, ts in sorted(bench.op_times.items())))
    for f in bench.failures:
        print(f"  FAILED: {f}")
    if bench.args.trace:
        per_run = {"session.get_spark_s": bench.get_spark_s,
                   "session.first_job_s": bench.first_job_s,
                   "peak_rss_mb": bench.peak_rss_mb,
                   "python.workers_peak_mb": bench.workers_peak_mb}
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            value = per_run[name] if name in per_run else statistics.median(
                layer[name] for layer in bench.layers)
            metrics[name] = {"value": value, "unit": m["unit"]}
        for name, v in metrics.items():
            print(f"  {name:30s} {v['value']:16.4f} {v['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": tally.failed == 0 and not bench.failures,
            "attempted": tally.attempted, "failed": tally.failed, "metrics": metrics}


if __name__ == "__main__":
    raise SystemExit(main())
