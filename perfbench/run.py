"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload photo_dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The process

1. generates the workload's inputs from ``--seed`` (not timed);
2. re-executes itself once with the fixed deployment environment
   (``PYTHONHASHSEED``, ``local[N]`` parallelism, JVM heap size, temp
   directories inside the run's work directory), so the measured process
   starts afresh and its peak RSS holds none of the input generation;
3. starts the engine and loads its inputs: ``setup_s`` runs from the
   re-executed process's start until the inputs are loaded and cached;
4. runs ``WARM_PASSES`` un-timed warm-up passes, then ``MEASURED_PASSES``
   measured passes of the workload's fixed operation sequence: a fixed
   count of operations, whatever their speed (``--seconds`` is the
   nominal length of that window and does not change it);
5. reads the peak RSS, then checks every output (oracles included);
6. prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
   line of standard output: the end-to-end metrics with ``--trace 0``,
   the per-layer metrics with ``--trace 1``.

``--out FILE`` additionally writes the run's full record (per-operation
samples, both metric sets, output digests) as JSON; ``steadiness.py``
uses it. Exit status is non-zero, with nothing printed on standard
output, when the engine cannot be imported or the run breaks.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import measure  # noqa: E402

WORKLOADS = ("photo_dashboard", "headline_batch")
#: Un-timed passes before measuring (JIT, codegen and class loading).
WARM_PASSES = 1
#: Measured passes per run, whatever their speed.
MEASURED_PASSES = 1
#: ``local[N]`` parallelism: at most this, and at most the machine's cores.
MAX_CORES = 4
#: Environment the run re-executes itself under (identical for every
#: commit measured). Engine tuning variables are removed, so the engine
#: runs with its own defaults.
FIXED_ENV = {
    "PYTHONHASHSEED": "0",
    "SPARK_GRAFT_DRIVER_MEMORY": "2g",
    "PYARROW_IGNORE_TIMEZONE": "1",
}
UNSET_ENV = (
    "SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_PIN",
    "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_SKIP_ORACLE_VALIDATION",
    "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR",
)
_REEXEC_MARK = "PERFBENCH_CHILD"
#: Monotonic clock reading just before the re-execution: the start of
#: the measured process.
_START_MARK = "PERFBENCH_START"

LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.cache_mb": "MB",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.state_dirs": "count",
    "photo.build_ms": "ms",
    "photo.action_ms": "ms",
    "photo.ml_ms": "ms",
    "photo.serve.self_ms": "ms",
    "photo.serve.response_bytes": "bytes",
    "plans.build_ms": "ms",
    "plans.execute_ms": "ms",
    "streaming.kmv_sink_ms": "ms",
    "streaming.readout_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.dominant_stage_tasks": "count",
    "spark.stage_wall_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.parallelism": "ratio",
    "spark.idle_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.failed_tasks": "count",
    "spark.unattributed_jobs": "count",
    "proc.jvm_cpu_ms": "ms",
    "proc.py_cpu_ms": "ms",
    "warm.first_pass_s": "s",
    "warm.first_to_steady": "ratio",
}

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "op_geomean_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the run's full record here (JSON)")
    return ap.parse_args(argv)


def reexec_with_fixed_env(root: Path, work: Path) -> None:
    env = {k: v for k, v in os.environ.items() if k not in UNSET_ENV}
    env.update(FIXED_ENV)
    env["SPARK_GRAFT_CPUS"] = str(max(1, min(MAX_CORES, os.cpu_count() or 1)))
    env["TMPDIR"] = str(work / "tmp")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env[_REEXEC_MARK] = str(work)
    os.chdir(root)
    env[_START_MARK] = repr(time.monotonic())
    os.execve(sys.executable, [sys.executable, str(Path(__file__).resolve()), *sys.argv[1:]], env)


# -- engine lifecycle ---------------------------------------------------------


class Engine:
    """The Spark session the workload drives, with its JVM process."""

    def __init__(self, work: Path, trace: bool) -> None:
        from backend_big_data_spark.session import get_spark

        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        }
        self.event_dir = work / "eventlog"
        if trace:
            self.event_dir.mkdir()
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="perfbench", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.proc = self.sc._gateway.proc

    def jvm_cpu_ms(self) -> float:
        fields = Path(f"/proc/{self.proc.pid}/stat").read_text().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) * 1000.0 / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb(self.proc.pid) + _vm_hwm_kb("self")) / 1024.0

    def cache_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill and reap
            self.proc.kill()
            self.proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _vm_hwm_kb(pid) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


# -- the run ------------------------------------------------------------------


class Op:
    __slots__ = ("id", "type", "pass_no", "warm", "start", "end", "seconds",
                 "ok", "error", "output", "jvm_cpu_ms", "py_cpu_ms")

    def __init__(self, op_id, op_type, pass_no, warm):
        self.id, self.type, self.pass_no, self.warm = op_id, op_type, pass_no, warm
        self.ok, self.error, self.output = True, None, None
        self.jvm_cpu_ms = self.py_cpu_ms = 0.0


def run_pass(engine, wl, tracer, pass_no: int, warm: bool, ops: list[Op]) -> float:
    """One pass of the workload's operation sequence; returns its wall
    seconds (operations only; the workload's between-pass reset is
    outside it)."""
    wl.before_pass(pass_no)
    # the previous pass's Python garbage is collected here, not inside this
    # pass; the JVM is left alone: a forced full GC shrinks the heap and
    # its regrowth made the peak RSS of one seed differ by up to a third
    # between runs
    gc.collect()
    t0 = time.perf_counter()
    for op_type, call in wl.pass_ops(pass_no):
        op = Op(f"op{len(ops)}", op_type, pass_no, warm)
        if tracer:
            engine.sc.setJobGroup(op.id, op_type)
            tracer.op_id = op.id
            jvm0, py0 = engine.jvm_cpu_ms(), time.process_time()
        op.start = time.time()
        s = time.perf_counter()
        try:
            if tracer:
                with tracer.span(wl.ROOT_SPAN, root=True):
                    op.output = call()
            else:
                op.output = call()
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"
        op.seconds = time.perf_counter() - s
        op.end = time.time()
        if tracer:
            op.jvm_cpu_ms = engine.jvm_cpu_ms() - jvm0
            op.py_cpu_ms = (time.process_time() - py0) * 1000.0
            tracer.op_id = None
            engine.sc.setJobGroup("perfbench-idle", "between operations")
            wl.after_op(op)
        ops.append(op)
    return time.perf_counter() - t0


def end_to_end(setup_s: float, measured: list[Op], wall: float, rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the latency tail: the highest percentile
    with ten samples beyond it, which a run of fewer than 20 operations
    does not have (it is recorded, with the plain sample median, not
    reported as a metric)."""
    lat = [o.seconds * 1000.0 for o in measured]
    p = measure.tail_percentile(len(lat))
    values = {
        "setup_s": setup_s,
        "latency_p50_ms": measure.hd_median(lat),
        "op_geomean_ms": measure.geomean_of_medians((o.type, o.seconds * 1000.0) for o in measured),
        "items_per_s": len(measured) / wall,
        "peak_rss_mb": rss_mb,
    }
    tail = {"samples": len(lat), "percentile": p,
            "ms": None if p is None else measure.percentile(lat, p),
            "sample_median_ms": measure.median(lat)}
    return values, tail


def per_layer(wl, engine, tracer, ops: list[Op], measured: list[Op], extra: dict) -> dict:
    from tracing import read_event_log, span_totals, spark_per_op

    jobs, stages = read_event_log(engine.event_dir)
    windows = [{"id": o.id, "start": o.start, "end": o.end} for o in ops]
    spark = spark_per_op(jobs, stages, windows)
    spans = span_totals(tracer.spans)
    n = len(measured)

    def mean(key_fn) -> float:
        return sum(key_fn(o) for o in measured) / n

    out = {name: mean(lambda o, k=name: spark[o.id][k]) for name in spark[measured[0].id]}
    out["proc.jvm_cpu_ms"] = mean(lambda o: o.jvm_cpu_ms)
    out["proc.py_cpu_ms"] = mean(lambda o: o.py_cpu_ms)
    for metric, span_key in wl.SPAN_METRICS.items():
        out[metric] = mean(lambda o, k=span_key: spans.get(o.id, {}).get(k, 0.0))
    first: dict[str, float] = {}
    for o in ops:
        first.setdefault(o.type, o.seconds)
    ratios = [
        first[t] / measure.median([o.seconds for o in measured if o.type == t])
        for t in {o.type for o in measured}
    ]
    out["warm.first_to_steady"] = math.exp(sum(map(math.log, ratios)) / len(ratios))
    out.update(extra)
    out.update(wl.layer_metrics(measured))
    counts = {}
    for o in measured:
        counts.setdefault(o.type, []).append(
            [spark[o.id][k] for k in ("spark.jobs", "spark.stages", "spark.tasks")])
    # a layer the workload does not exercise did no work on it
    return {name: out.get(name, 0.0) for name in LAYER_UNITS}, counts


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "backend_big_data_spark" / "__init__.py").is_file():
        print("perfbench: the engine package backend_big_data_spark is not in "
              "the working directory; run from the repository root", file=sys.stderr)
        return 2
    work_env = os.environ.get(_REEXEC_MARK)
    if work_env is None:
        work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        (work / "tmp").mkdir(parents=True)
        try:
            wl = workload(args.workload, root, work, args.seed)
            (work / "inputs.json").write_text(json.dumps(wl.generate()))
        except BaseException:
            remove_work(work)
            raise
        reexec_with_fixed_env(root, work)
    work = Path(work_env)
    sys.path.append(str(root))
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        record = run(args, root, work, float(os.environ[_START_MARK]))
    finally:
        remove_work(work)
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(record, indent=1, sort_keys=True))
    result = record["result"]
    print(json.dumps(result, sort_keys=True))
    return 0


def workload(name: str, root: Path, work: Path, seed: int):
    return importlib.import_module(name).Workload(root, work, seed)


def remove_work(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:
        pass


def run(args, root: Path, work: Path, start: float) -> dict:
    wl = workload(args.workload, root, work, args.seed)
    wl.inputs = json.loads((work / "inputs.json").read_text())

    phases = {"start": start}
    tracer = None
    if args.trace:
        from tracing import Tracer, install_action_spans

        tracer = Tracer()
    t = time.monotonic()
    engine = Engine(work, bool(args.trace))
    session_s = time.monotonic() - t
    try:
        wl.attach(engine.spark)
        t = time.monotonic()
        wl.setup()
        phases["setup"] = time.monotonic()
        load_s = phases["setup"] - t
        setup_s = phases["setup"] - start
        cache_mb = engine.cache_mb()
        if tracer:
            install_action_spans(tracer, engine.spark)
            wl.install_tracing(tracer)

        ops: list[Op] = []
        pass_no = 0
        first_pass_s = 0.0
        for _ in range(WARM_PASSES):
            wall = run_pass(engine, wl, tracer, pass_no, True, ops)
            first_pass_s = first_pass_s or wall
            pass_no += 1
        phases["warm"] = time.monotonic()
        wall = 0.0
        for _ in range(MEASURED_PASSES):
            wall += run_pass(engine, wl, tracer, pass_no, False, ops)
            pass_no += 1
        measured = [o for o in ops if not o.warm]
        phases["measured"] = time.monotonic()
        rss_mb = engine.peak_rss_mb()
        if tracer:
            tracer.restore()

        failures = wl.check(ops)
        for o in ops:
            if not o.ok:
                failures.append(f"{o.id} {o.type}: {o.error}")
        failed = sum(1 for o in ops if not o.ok) + wl.extra_failed
        attempted = len(ops) + wl.extra_attempted
        phases["check"] = time.monotonic()
        e2e, tail = end_to_end(setup_s, measured, wall, rss_mb)
    finally:
        engine.stop()

    phases["stop"] = time.monotonic()
    layers = counts = None
    if tracer:
        layers, counts = per_layer(wl, engine, tracer, ops, measured, {
            "session.start_s": session_s,
            "sources.load_s": load_s,
            "sources.cache_mb": cache_mb,
            "warm.first_pass_s": first_pass_s,
        })
    metrics = layers if args.trace else e2e
    units = LAYER_UNITS if args.trace else E2E_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    inputs = {k: v for k, v in wl.inputs.items() if k != "requests"}
    return {
        "result": result,
        "end_to_end": e2e,
        "per_layer": layers,
        "tail": tail,
        "inputs": inputs,
        "seconds_arg": args.seconds,
        "failures": failures,
        "phase_s": {k: v - start for k, v in phases.items()},
        "digest": wl.digest(ops),
        "spark_counts": counts,
        "ops": [
            {"id": o.id, "type": o.type, "pass": o.pass_no, "warm": o.warm,
             "ms": o.seconds * 1000.0, "ok": o.ok}
            for o in ops
        ],
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
