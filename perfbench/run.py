"""caspr_spark benchmark: one workload, one seed, one run.

Usage:

    python3 perfbench/run.py --workload featurize_train_score --seed 1 \
        --seconds 16 --trace 0

Runs one Spark process on ``local[<cores>]`` with the cores this process
may use. Set-up (session start, input generation, the workload's
warm-up) is timed as ``setup_s``; then it runs ``--seconds`` divided by
the workload's ``ITER_S`` iterations, at least one. Every iteration's
outputs are checked outside the timed spans; a failed check, an
exception or an iteration over ``ITER_TIMEOUT_S`` counts as a failed
iteration.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` adds two
iterations, alternates untraced and traced iterations and reports the
per-layer metrics of the traced ones, plus the tracing overhead (traced
minus untraced median iteration time); its spans are written to
``.perfbench_work/``.

The last stdout line is the result object; the line before it is the
full record (``{"record": ...}``) that ``perfbench/diff.py`` compares.
Exits 2, printing no result, when the directory above ``perfbench/``
holds no caspr_spark.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ITER_TIMEOUT_S = 60.0
SETUP_REPEATS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(root: str, work: str, cores: int) -> None:
    """Process environment for the driver JVM and the Python workers.

    Set before pyspark starts the JVM, which the workers inherit from:
    PYTHONPATH lets workers import caspr_spark whatever the caller's
    directory; one BLAS thread per worker keeps threads <= cores; all
    scratch space stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


_LIBC = ctypes.CDLL(None, use_errno=True)
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1


def _shares_memory(a: int, b: int) -> bool:
    """Whether processes ``a`` and ``b`` share one address space
    (``kcmp(KCMP_VM)``), as a child started by vfork or posix_spawn does
    with its parent until it execs."""
    return (_SYS_KCMP is not None
            and _LIBC.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled every 100 ms while running.
    Each process contributes its proportional set size, so pages that
    forked Python workers share with their daemon count once. A child
    that still shares its parent's address space is not counted again:
    the JVM starts helper processes through posix_spawn, and a sample
    taken before such a child execs read the whole JVM twice (peaks of
    3.2 GB against 1.6 GB in the dedup workload)."""

    def __init__(self):
        self.peak = 0
        self._run = False
        self._thread = None

    @staticmethod
    def _tree_bytes() -> int:
        pids, total = [(os.getpid(), None)], 0
        while pids:
            pid, parent = pids.pop()
            try:
                if parent is None or not _shares_memory(parent, pid):
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        total += next(int(line.split()[1]) * 1024
                                      for line in f
                                      if line.startswith("Pss:"))
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        pids += [(int(c), pid) for c in f.read().split()]
            except (FileNotFoundError, ProcessLookupError, StopIteration):
                continue          # exited between listing and reading
        return total

    def _loop(self):
        while self._run:
            self.peak = max(self.peak, self._tree_bytes())
            time.sleep(0.1)

    def start(self):
        self._run = True
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._run = False
        self._thread.join(timeout=5)


def _sum(spans, key, name=None, kind=None):
    return sum(s.get(key, 0) for s in spans
               if (name is None or s["name"] == name)
               and (kind is None or s["kind"] == kind))


def layer_metrics(spans: list[dict], info: dict, cores: int) -> dict:
    """Per-layer metrics of one traced iteration from its spans."""
    dur = sum(s["dur_s"] for s in spans)
    m = {
        "driver.build_s": _sum(spans, "dur_s", kind="build"),
        "driver.build_jobs": _sum(spans, "jobs", kind="build"),
        "driver.py4j_calls": _sum(spans, "py4j_calls"),
        "catalyst.plan_ms": _sum(spans, "plan_ms"),
        "driver.exec_s": _sum(spans, "dur_s", kind="action"),
        "sched.jobs": _sum(spans, "jobs"),
        "sched.escaped_jobs": _sum(spans, "escaped_jobs"),
        "sched.stages": _sum(spans, "stages"),
        "sched.tasks": _sum(spans, "tasks"),
        "sched.failed_tasks": _sum(spans, "failed_tasks"),
        "sched.core_busy_ratio":
            _sum(spans, "run_ms") / 1000.0 / max(dur * cores, 1e-9),
        "exec.task_cpu_s": _sum(spans, "cpu_ns") / 1e9,
        "exec.gc_s": _sum(spans, "gc_ms") / 1000.0,
        "exec.input_bytes": _sum(spans, "input_bytes"),
        "exec.shuffle_write_bytes": _sum(spans, "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": _sum(spans, "shuffle_read_bytes"),
        "exec.output_bytes": _sum(spans, "output_bytes"),
        "exec.spill_bytes": _sum(spans, "spill_bytes"),
        "pyworker.run_ms": _sum(spans, "pyworker.run_ms"),
        "pyworker.boot_ms": _sum(spans, "pyworker.boot_ms"),
        "pyworker.init_ms": _sum(spans, "pyworker.init_ms"),
        "pyworker.bytes_sent": _sum(spans, "pyworker.bytes_sent"),
        "pyworker.bytes_received": _sum(spans, "pyworker.bytes_received"),
        "cache.storage_bytes_peak": max(s.get("storage_bytes", 0)
                                        for s in spans),
        "sources.read_s": _sum(spans, "dur_s", name="sources.read"),
        "pipeline.fit_transform_s":
            _sum(spans, "dur_s", name="pipeline.fit_transform"),
        "pipeline.collect_s": _sum(spans, "dur_s", name="pipeline.collect"),
        "pipeline.pyworker_run_ms": sum(
            s.get("pyworker.run_ms", 0) for s in spans
            if s["name"].startswith(("sources.", "pipeline."))),
        "score.udf_s": (_sum(spans, "dur_s", name="score.build")
                        + _sum(spans, "dur_s", name="score.udf")),
        "streaming.fold_s": _sum(spans, "dur_s", name="streaming.fold"),
        "streaming.fold_jobs": _sum(spans, "jobs", name="streaming.fold"),
        "streaming.fold_py4j_calls":
            _sum(spans, "py4j_calls", name="streaming.fold"),
        "streaming.replay_s": _sum(spans, "dur_s", name="streaming.replay"),
        "state.read_s": _sum(spans, "dur_s", name="state.read"),
        "state.bytes_per_kept_byte": info.get("bytes_per_kept_byte", 0.0),
    }
    fit = [s for s in spans if s["name"] == "train_distributed.fit"]
    epochs = sum(s.get("epochs", 0) for s in fit)
    m["train_distributed.fit_s"] = sum(s["dur_s"] for s in fit)
    m["train_distributed.epoch_s"] = (m["train_distributed.fit_s"] / epochs
                                      if epochs else 0.0)
    m["train_distributed.jobs_per_epoch"] = (sum(s["jobs"] for s in fit)
                                             / epochs if epochs else 0.0)
    return m


def high_percentile(values: list[float]):
    """The highest percentile with at least ten samples beyond it, as
    ``(p, value)``, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    p = 100.0 * (n - 10) / n
    return p, sorted(values)[n - 11]


def run(args) -> int:
    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "caspr_spark", "__init__.py")):
        print(f"perfbench: no caspr_spark/ under {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from tracing import Stopwatch
    since_start = Stopwatch()
    cores = _cores()
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(root, work, cores)
    try:
        return _run(args, root, work, cores, since_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str, cores: int, since_start) -> int:
    from caspr_spark import get_spark

    import workloads
    from tracing import Stopwatch, Tracer

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # from interpreter start: module import to here is not in the watch
        session_s = since_start.elapsed() + (since_start.t0 - T_START)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            watch = Stopwatch()
            wl.generate()
            gen_s.append(watch.elapsed())
        tracer = Tracer(spark)
        watch = Stopwatch()
        wl.warm_up(tracer)
        setup = {"session_s": session_s, "generate_s": statistics.median(gen_s),
                 "warmup_s": watch.elapsed()}
        tracer.spans.clear()
        return _measure(args, spark, wl, tracer, cores, setup, work)
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon) to exit, so that no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()            # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _measure(args, spark, wl, tracer, cores, setup, work) -> int:
    from tracing import Stopwatch

    rss = RssSampler()
    iters = []            # (index, traced, seconds, info) of good ones
    attempted = failed = 0
    errors: list[str] = []
    measuring = Stopwatch()
    rss.start()
    # a fixed count, so every run of a workload takes the same number of
    # samples whatever the host's speed; traced runs add two iterations so
    # that untraced ones surround each traced one
    n_iters = max(1, round(args.seconds / wl.ITER_S)) + 2 * args.trace
    for i in range(1, n_iters + 1):
        traced = bool(args.trace) and i % 2 == 0
        attempted += 1
        try:
            wl.prepare(i)
            tracer.set_enabled(traced)
            n_spans = len(tracer.spans)
            info = wl.iterate(tracer, i)
            tracer.set_enabled(False)
            secs = sum(s["dur_s"] for s in tracer.spans[n_spans:])
            if secs > ITER_TIMEOUT_S:
                raise TimeoutError(f"iteration took {secs:.1f}s")
            iters.append((i, traced, secs, info))
        except Exception:
            tracer.set_enabled(False)
            failed += 1
            errors.append(traceback.format_exc())
    rss.stop()
    wall, on_cpu = measuring.split()
    steal_ratio = (wall - on_cpu) / wall
    problems = wl.problems()
    if problems:
        # a check cannot always tell which iteration produced the bad
        # output, so every checked iteration counts as failed
        failed = attempted
    for e in errors:
        print(e, file=sys.stderr)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)

    plain = [x for x in iters if not x[1]]
    secs = [s for _, _, s, _ in plain] or [float("nan")]
    walls = [sum(x["wall_s"] for x in tracer.spans if x["iter"] == idx)
             for idx, _, _, _ in plain] or [float("nan")]

    def rate(key: str) -> float:
        """Median over untraced iterations of count / seconds in the
        spans whose names start with one of the given prefixes."""
        vals = []
        for idx, _, _, info in plain:
            count, names = info["rates"][key]
            vals.append(count / sum(
                x["dur_s"] for x in tracer.spans if x["iter"] == idx
                and x["name"].startswith(names)))
        return statistics.median(vals) if vals else float("nan")

    end_to_end = {
        "setup_s": (sum(setup.values()), "s"),
        "iter_s.p50": (statistics.median(secs), "s"),
        "rows_per_s": (rate("rows_per_s"), "1/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    extra = {"failed_ratio": (failed / attempted, "ratio"),
             "iter_s.samples": (len(plain), "count"),
             "host.cpu_steal_ratio": (steal_ratio, "ratio"),
             "iter_wall_s.p50": (statistics.median(walls), "s")}
    hp = high_percentile(secs)
    if hp:
        extra[f"iter_s.p{hp[0]:.0f}"] = (hp[1], "s")
    if plain:
        extra.update({k: (rate(k), "1/s") for k in plain[0][3]["rates"]
                      if k != "rows_per_s"})
    per_layer = {}
    if args.trace:
        traced = [x for x in iters if x[1]]
        rows = [layer_metrics([s for s in tracer.spans if s["iter"] == idx],
                              info, cores) for idx, _, _, info in traced]
        per_layer = {k: statistics.median(r[k] for r in rows)
                     for k in rows[0]} if rows else {}
        if traced and plain:
            per_layer["trace.overhead_s"] = (
                statistics.median(s for _, _, s, _ in traced)
                - statistics.median(secs))
        os.makedirs(os.path.dirname(work), exist_ok=True)
        with open(os.path.join(os.path.dirname(work),
                               f"spans-{wl.name}-{args.seed}.json"), "w") as f:
            json.dump(tracer.spans, f)

    for name, (v, unit) in {**end_to_end, **extra}.items():
        print(f"{wl.name:22s} {name:24s} {v:16.6g} {unit}")
    for name, v in per_layer.items():
        print(f"{wl.name:22s} {name:32s} {v:16.6g}")
    correct = not problems and failed == 0
    metrics = ({k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
               if not args.trace else
               {k: {"value": per_layer.get(k, 0.0), "unit": u}
                for k, u in _per_layer_units().items()})
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "cores": cores, "correct": correct, "attempted": attempted,
              "failed": failed, "setup": setup,
              "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
              "extra": {k: v for k, (v, _) in extra.items()},
              "per_layer": per_layer,
              "iterations": [{"i": idx, "traced": t, "s": s}
                             for idx, t, s, _ in iters]}
    print(json.dumps({"record": _finite(record)}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": _finite(metrics)}))
    return 0


def _finite(obj):
    """``obj`` with non-finite floats (no successful iteration) as null,
    which JSON can carry."""
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_finite(v) for v in obj]
    if isinstance(obj, float) and not math.isfinite(obj):
        return None
    return obj


def _per_layer_units() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["featurize_train_score", "dedup_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
