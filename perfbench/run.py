"""Benchmark of the validation engine: one closed-loop client on Spark
``local[<cores>]`` in this process, one workload per run.

    python3 perfbench/run.py --workload images|records|workbook \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The client issues the next operation
only after the previous one finished and its outputs were checked
against the workload's oracle (``workloads.py``). Inputs come from
``--seed`` (``inputs.py``) and are built before Spark starts, so no timing
includes them. ``setup_s`` is the median of two set-ups: this
process's own and one in a child process that starts Spark, runs its
first job and stops. After set-up and one untimed warm-up operation on
the measured input, operations run until their summed
wall time reaches ``--seconds`` and there are at least ``MIN_OPS``.
Every end-to-end time is scaled to a reference host speed measured with
Spark down (``host_slowdown``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run repeats the loop with spans
on, probes every layer, writes the spans to ``.bench_work/`` and reports
the per-layer metrics (see ``perfbench/README.md``).

Everything the run writes stays inside the checkout: ``.bench_cache/``
for inputs and ``.bench_work/`` for Spark's scratch space, outputs and
spans. Exits 2 without a result when the package is not beside it.
Before it exits, the run waits for every process it started, directly
or not, to end.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
import zlib
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "dcc_validate_metadata_spark"
WORKLOADS = ("images", "records", "workbook")
# Measured ops per run, at least. The JVM's JIT keeps compiling the
# per-job planning and row paths over the first ops after the warm-up
# (on records its C2 threads take ~7 CPU-s in the first and 1-3 in each
# later one), and now and then the VM's host takes seconds of CPU from
# one op; the median of three drops either.
MIN_OPS = 3
# a 90th percentile needs ten samples beyond it
P90_MIN_OPS = 100
# The VM's host runs other tenants' work. Under their load every op of a
# run takes up to 50% more wall and CPU time, for minutes at a time, and
# little of it shows as steal. A fixed zlib job on every CPU, timed with
# Spark down just before this process starts Spark and again after it
# stops, slows with it; the end-to-end times are scaled by the run's
# median probe time over REF_PROBE_S, about the probe's time on a quiet
# 4-vCPU VM, so they read in seconds of that host.
REF_PROBE_S = 0.2
PROBES = 3


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    stat = Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()
    started = int(stat[19]) / os.sysconf("SC_CLK_TCK")
    return float(Path("/proc/uptime").read_text().split()[0]) - started


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, Python workers), each with its reaped children, so a
    worker that exits mid-operation still counts. The kernel keeps time a
    hypervisor steals from a vCPU out of these counters."""
    ticks = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the walk
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


_PROBE_DATA: list[bytes] = []


def probe_s(cpus: int) -> float:
    """Wall time of a fixed job: zlib level 6 over 2 MB of 4-bit symbols,
    twice, on each of ``cpus`` threads (zlib releases the GIL)."""
    import numpy as np

    if not _PROBE_DATA:
        _PROBE_DATA.append(np.random.default_rng(0).integers(0, 16, 2 << 20, dtype=np.uint8).tobytes())
    data = _PROBE_DATA[0]

    def job():
        for _ in range(2):
            zlib.compress(data, 6)

    threads = [threading.Thread(target=job) for _ in range(cpus)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def host_slowdown(probes: list[float]) -> float:
    """How many times slower this host ran than the reference one."""
    return statistics.median(probes) / REF_PROBE_S


# end-to-end metrics in seconds, and those per second, scaled by host_slowdown
SECONDS = {"setup_s", "op_p50_s", "op_p90_s", "task_s_per_krow", "cpu_s_per_krow"}
PER_SECOND = {"rows_per_s"}


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    return int(Path("/proc/stat").read_text().split("\n", 1)[0].split()[8]) / CLK_TCK


class TreeRss:
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python workers) on a background thread; keeps the peak.
    Each process counts its proportional share (Pss) of the pages it
    holds: PySpark forks its workers from one daemon, and summed plain RSS
    would count their shared pages once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_mb() -> float:
        kb = 0
        for pid in [os.getpid()] + _descendants(os.getpid()):
            try:
                rollup = Path(f"/proc/{pid}/smaps_rollup").read_text()
            except OSError:
                continue  # exited since the walk
            kb += next((int(line.split()[1]) for line in rollup.splitlines()
                        if line.startswith("Pss:")), 0)
        return kb / 1024

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())

    def __enter__(self):
        self.peak_mb = self._tree_rss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


class StderrLog:
    """Points fd 2 (inherited by the JVM and its Python workers) at a file
    for the run, so worker tracebacks can be counted; replays the file to
    the real stderr at the end."""

    def __init__(self, path: Path):
        self.path = path

    def __enter__(self):
        sys.stderr.flush()
        self._saved = os.dup(2)
        self._file = open(self.path, "wb")
        os.dup2(self._file.fileno(), 2)
        return self

    def tracebacks(self) -> int:
        sys.stderr.flush()
        return self.path.read_bytes().count(b"Traceback (most recent call last)")

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._file.close()
        with open(self.path, "rb") as f:
            sys.stderr.buffer.write(f.read())
        sys.stderr.flush()
        return False


def note(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def late_early_ratio(times: list[float]) -> float:
    half = len(times) // 2
    if half == 0:
        return 1.0
    return statistics.median(times[-half:]) / statistics.median(times[:half])


def start_spark(work: Path, cpus: int):
    """SparkSession on ``local[cpus]`` whose JVMs (the launcher's too) and
    scratch files stay under ``work``."""
    from dcc_validate_metadata_spark.session import get_spark

    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the machine is shared; the engine's 16g default is sized
            # for far larger tables than these
            "spark.driver.memory": "4g",
        },
    )
    spark.range(1000).count()
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort at shutdown
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_running(p) for p in children):
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs; a zombie has ended, and is reaped here
    when it is this process's child."""
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every process it starts, directly
    or not, whose own parent exits first (Linux's child subreaper), so
    ``stop_descendants`` can wait for each."""
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace_s: float = 30.0) -> None:
    """Wait until every process this one started, directly or not, has
    ended and been reaped; kill those still running after ``grace_s``.
    The spawn pool that builds the image inputs leaves multiprocessing's
    resource tracker running until it is told to stop."""
    from multiprocessing import resource_tracker

    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()
    deadline = time.monotonic() + grace_s
    while pids := _descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            pass
        time.sleep(0.05)


def _descendants(root: int) -> list[int]:
    parent = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                parent[int(p.name)] = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == pid]
        out += kids
        frontier += kids
    return out


@dataclass
class Op:
    seconds: float
    task_s: float
    cpu_s: float
    steal_s: float
    passed: bool
    span: dict | None  # the op's span record when traced
    printed: int = 0  # tracebacks this process printed for the op


def closed_loop(wl, seconds: float, store, tracer=None, alternate: bool = False,
                min_ops: int = 1) -> list[Op]:
    """Operations back to back until their summed wall time reaches
    ``seconds`` and there are at least ``min_ops``. With ``tracer`` and
    ``alternate``, every second op is traced and the loop ends on a
    traced op, so traced and untraced ops are equally many and equally
    warm."""
    ops: list[Op] = []
    while len(ops) < min_ops or sum(o.seconds for o in ops) < seconds or (alternate and len(ops) % 2):
        traced = tracer is not None and (not alternate or len(ops) % 2 == 1)
        printed = 0
        wl.prepare()
        span = tracer.span("op") if traced else nullcontext()
        mark = store.mark()
        cpu0, steal0 = tree_cpu_s(), steal_s()
        t0 = time.perf_counter()
        try:
            with span as rec:
                result = wl.op(tracer if traced else None)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            printed += 1
            result = None
        dt = time.perf_counter() - t0
        cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
        task_s = store.since(mark).task_s
        try:
            passed = result is not None and wl.check(result)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            printed += 1
            passed = False
        ops.append(Op(dt, task_s, cpu, steal, passed, rec if traced else None, printed))
    return ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # a child that only sets up Spark and prints its set-up time
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ package beside {Path(__file__).parent.name}/", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    cache = ROOT / ".bench_cache"
    for d in (work / "tmp", work / "spark-local", work / "duckdb", cache):
        d.mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # Spark's Python workers import the package and the probe bodies
    # from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path.insert(0, str(ROOT))

    from perfbench import inputs

    if args.setup_only:
        spark = start_spark(work, cpus)
        print(json.dumps({"setup_s": process_age_s()}), flush=True)
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 0

    excluded0 = time.perf_counter()
    # a second set-up, in a child, runs alone; its shutdown overlaps the
    # input generation, which no timing includes
    child, setups = start_child_setup(args) if not args.trace else (None, [])
    try:
        rows = inputs.SIZES[args.workload]
        input_dir = inputs.ensure_inputs(cache, args.workload, args.seed, rows, cpus)
        # a traced run probes the layers off this workload's path on a small
        # input of another workload
        small = set()
        if args.trace:
            small = {"images": {"workbook"}, "records": {"workbook"}, "workbook": {"images"}}[args.workload]
        small_dirs = {
            name: inputs.ensure_inputs(cache, name, args.seed, inputs.SMALL_SIZES[name], cpus)
            for name in sorted(small)
        }
    finally:
        if child is not None:
            child.communicate(timeout=120)
    if child is not None and child.returncode != 0:
        raise RuntimeError(f"set-up child exited with {child.returncode}")
    probes = [probe_s(cpus) for _ in range(PROBES)] if not args.trace else []
    excluded_s = time.perf_counter() - excluded0
    note(f"child set-up and inputs took {excluded_s:.2f} s")

    with StderrLog(work / "stderr.log") as log:
        session = (time.perf_counter(),)
        spark = start_spark(work, cpus)
        session += (time.perf_counter(),)
        setups.append(process_age_s() - excluded_s)
        setup_s = statistics.median(setups)
        note("setups " + " ".join(f"{t:.2f}" for t in setups) + " s")
        try:
            result = measure(args, spark, work, input_dir, rows, cpus, log, small_dirs, session)
        finally:
            stop_spark(spark)
    if args.trace == 0:
        result["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
        probes += [probe_s(cpus) for _ in range(PROBES)]
        slowdown = host_slowdown(probes)
        note("probes " + " ".join(f"{t:.3f}" for t in probes) + f" s; host slowdown {slowdown:.3f}")
        note("unscaled " + " ".join(f"{k}={m['value']:.4g}" for k, m in sorted(result["metrics"].items())))
        for k, m in result["metrics"].items():
            if k in SECONDS:
                m["value"] /= slowdown
            elif k in PER_SECOND:
                m["value"] *= slowdown
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def start_child_setup(args) -> tuple[subprocess.Popen, list[float]]:
    """Start a ``--setup-only`` run of this script and wait until it
    reports its set-up time. The child goes on to stop Spark; the caller
    must wait for it before starting its own."""
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0", "--setup-only"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True,
    )
    for line in proc.stdout:
        if line.startswith('{"setup_s"'):
            return proc, [json.loads(line)["setup_s"]]
    proc.wait(timeout=120)
    raise RuntimeError(f"set-up child exited with {proc.returncode} before Spark was up")


def measure(args, spark, work, input_dir, rows, cpus, log, small_dirs, session) -> dict:
    from perfbench import workloads
    from perfbench.sparkstats import StatusStore

    store = StatusStore(spark)
    wl = workloads.make(args.workload, spark, input_dir, work, rows, cpus)
    with TreeRss() as rss:
        # warm-up: Python workers, code generation and the JIT on the
        # per-job and per-row paths, on the measured input
        warm = closed_loop(wl, 0.0, store)
        note("warm-up ops " + " ".join(f"{o.seconds:.2f}" for o in warm))
        err0 = log.tracebacks()
        ops = closed_loop(wl, args.seconds, store, min_ops=MIN_OPS)
        note("ops " + " ".join(f"{o.seconds:.3f}" for o in ops))
        note("ops cpu/task/steal s " + " ".join(f"{o.cpu_s:.2f}/{o.task_s:.2f}/{o.steal_s:.2f}" for o in ops))
        # tracebacks this process printed for failed ops are not worker errors
        worker_errors = (log.tracebacks() - err0 - sum(o.printed for o in ops)) / len(ops)
        checked = warm + ops
        if args.trace:
            layer, side_ops = traced_layers(args, spark, store, wl, work, small_dirs, cpus, session)
            checked += side_ops
    wl.close()

    times = [o.seconds for o in ops]
    if args.trace:
        layer["op_late_early_ratio"] = late_early_ratio(times)
        layer["worker_errors"] = worker_errors
        layer["peak_rss_mb"] = rss.peak_mb
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in sorted(layer.items())}
    else:
        done_rows = rows * len(ops)
        metrics = {
            "op_p50_s": {"value": statistics.median(times), "unit": "s"},
            "rows_per_s": {"value": done_rows / sum(times), "unit": "rows/s"},
            "task_s_per_krow": {"value": statistics.median(o.task_s for o in ops) / (rows / 1000), "unit": "s"},
            "cpu_s_per_krow": {"value": statistics.median(o.cpu_s for o in ops) / (rows / 1000), "unit": "s"},
        }
        if len(times) >= P90_MIN_OPS:
            metrics["op_p90_s"] = {"value": statistics.quantiles(times, n=10)[8], "unit": "s"}
    failed = sum(not o.passed for o in checked)
    return {"correct": failed == 0, "attempted": len(checked), "failed": failed, "metrics": metrics}


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "rules.row_s": "s",
    "rules.row_task_s": "s",
    "uniqueness.s": "s",
    "uniqueness.task_s": "s",
    "uniqueness.shuffle_mb": "MB",
    "uniqueness.exchanges": "count",
    "referential.s": "s",
    "codec.jpeg_ms": "ms",
    "codec.png_ms": "ms",
    "codec.vp8l_ms": "ms",
    "codec.vp8_ms": "ms",
    "invariants.arrow_floor_s": "s",
    "invariants.decode_s": "s",
    "invariants.decode_task_s": "s",
    "invariants.straggler_ratio": "ratio",
    "pipeline.violations_s": "s",
    "pipeline.write_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.input_mb": "MB",
    "pipeline.shuffle_mb": "MB",
    "pipeline.gc_s": "s",
    "pipeline.busy_frac": "ratio",
    "xlsx.read_s": "s",
    "xlsx.annotate_s": "s",
    "sheet_ingest.validate_s": "s",
    "sheet_ingest.spark_jobs": "count",
    "op_late_early_ratio": "ratio",
    "worker_errors": "count",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}


def small_workload(name, spark, small_dirs, work, cpus):
    from perfbench import inputs, workloads

    return workloads.make(name, spark, small_dirs[name], work / f"small-{name}", inputs.SMALL_SIZES[name], cpus)


def traced_layers(args, spark, store, wl, work, small_dirs, cpus, session) -> tuple[dict, list[Op]]:
    """The traced half of a ``--trace 1`` run: the closed loop again with
    every second op traced, then one probe per layer. Returns the layer
    metrics and the side-input ops (their checks count like any other)."""
    from perfbench import trace

    tracer = trace.Tracer(uuid.uuid4().hex[:12], store)
    tracer.add("session.get_spark", *session)
    m: dict[str, float] = {"session.start_s": session[1] - session[0]}
    with tracer.span("run"):
        pairs = closed_loop(wl, args.seconds, store, tracer, alternate=True)
        traced = [o for o in pairs if o.span is not None]
        m["trace.overhead_s"] = statistics.median(o.seconds for o in traced) - statistics.median(
            o.seconds for o in pairs if o.span is None
        )
        if args.workload == "workbook":
            m.update(workbook_metrics(tracer, [o.span for o in traced]))
            img = small_workload("images", spark, small_dirs, work, cpus)
            m.update(trace.image_layers(spark, tracer, img.table, img.ruleset, img.ontology, img.gt))
            side_ops = closed_loop(img, 0.0, store) + closed_loop(img, 0.0, store, tracer)
            m.update(pipeline_metrics([side_ops[-1].span], side_ops[0].seconds, m["pipeline.violations_s"], cpus))
            img.close()
        else:
            m.update(trace.image_layers(spark, tracer, wl.table, wl.ruleset, wl.ontology, wl.gt))
            untraced_s = statistics.median(o.seconds for o in pairs if o.span is None)
            m.update(pipeline_metrics([o.span for o in traced], untraced_s, m["pipeline.violations_s"], cpus))
            book = small_workload("workbook", spark, small_dirs, work, cpus)
            side_ops = closed_loop(book, 0.0, store) + closed_loop(book, 0.0, store, tracer)
            m.update(workbook_metrics(tracer, [side_ops[-1].span]))
            book.close()
        m.update(trace.codec_layer(tracer))
    spans = ROOT / ".bench_work" / "spans"
    spans.mkdir(parents=True, exist_ok=True)
    tracer.write(spans / f"{args.workload}-s{args.seed}-{tracer.run_id}.json")
    return m, pairs + side_ops


def pipeline_metrics(op_spans: list[dict], untraced_s: float, violations_s: float, cpus: int) -> dict:
    """Medians over traced ``run_validation`` ops of the Spark counters
    their spans carry. The write share is the median untraced op (traced
    ops carry the spans' own cost) minus the forced ``build_violations``
    probe."""
    def med(f):
        return statistics.median(f(s) for s in op_spans)

    def wall(s):
        return s["end"] - s["start"]

    return {
        "pipeline.write_s": untraced_s - violations_s,
        "pipeline.spark_jobs": med(lambda s: s["jobs"]),
        "pipeline.input_mb": med(lambda s: s["input_mb"]),
        "pipeline.shuffle_mb": med(lambda s: s["shuffle_mb"]),
        "pipeline.gc_s": med(lambda s: s["gc_s"]),
        "pipeline.busy_frac": med(lambda s: s["task_s"] / (wall(s) * cpus)),
    }


def workbook_metrics(tracer, op_spans: list[dict]) -> dict:
    """Medians over traced workbook ops of their per-step child spans."""
    def child(op, name):
        return next(s for s in tracer.spans if s["parent"] == op["id"] and s["name"] == name)

    def dur(name):
        return statistics.median(child(o, name)["end"] - child(o, name)["start"] for o in op_spans)

    return {
        "xlsx.read_s": dur("xlsx.workbook_to_dataframes"),
        "xlsx.annotate_s": dur("xlsx.write_annotated_workbook"),
        "sheet_ingest.validate_s": dur("sheet_ingest.validate_workbook"),
        "sheet_ingest.spark_jobs": statistics.median(
            child(o, "sheet_ingest.validate_workbook")["jobs"] for o in op_spans
        ),
    }


if __name__ == "__main__":
    adopt_orphans()
    try:
        code = main()
    finally:
        stop_descendants()
    sys.exit(code)
