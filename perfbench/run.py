"""Benchmark for the glamira pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run is one fresh application, as a
scheduled refresh is: it generates the workload's inputs from the seed
under ``perfbench/.work/``, starts one Spark session on ``local[<cpus> - 1]``
while DuckDB computes the oracle results, and then times whole passes of
the workload until ``--seconds`` have passed, at least one. The first pass
runs in a cold JVM, as every scheduled run does. Every pass's outputs are
checked against DuckDB after the timed passes, and one JSON object is
printed as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times one
traced pass and reports its per-layer metrics, its wall time
(``trace.wall_s``, to set against an untraced run's ``wall_s``) and the
time the tracer itself spent (``trace.overhead_s``). See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
DEADLINE_S = 170  # a run must end within 180 s
# Spark's own default. The package default (24g) exceeds a 15 GB host, and
# with 2g the heap's growth, and so the resident set, swung by a third
# between runs of identical code.
DRIVER_MEM = "1g"
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "task_cpu_s": "s",
    "peak_rss_mb": "MB",
}
UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "task_cpu_s": "s",
    "core_busy": "ratio",
    "shuffle_mb": "MB",
    "input_mb": "MB",
    "output_mb": "MB",
    "overhead_s": "s",
}


def _task_slots() -> int:
    """Task threads for ``local[n]``: one CPU fewer than the process may
    use. The driver thread, the JIT compilers and the garbage collector
    run beside the tasks; with a task thread on every CPU, threads waited
    for a CPU a quarter of a cold ``star_full_refresh`` pass (the kernel's
    CPU pressure), against a sixth with one CPU left free, at the same
    wall time."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    return max(1, cpus - 1)


def _environment(work: str) -> None:
    """Size Spark for the machine and keep the files it writes in ``work``.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(_task_slots()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
            # Python workers (Arrow UDFs) import the package from the root
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
        }
    )


def _same_bytes(a: str, b: str) -> bool:
    def files(d):
        return sorted(
            os.path.relpath(os.path.join(r, f), d) for r, _ds, fs in os.walk(d) for f in fs
        )

    names = files(a)
    if names != files(b):
        return False
    for rel in names:
        with open(os.path.join(a, rel), "rb") as x, open(os.path.join(b, rel), "rb") as y:
            if x.read() != y.read():
                return False
    return True


class PeakRss:
    """Peak resident set size of one process, from the kernel's high-water
    mark, which ``reset`` sets back to the current resident set."""

    def __init__(self, pid: int):
        self.pid = pid

    def reset(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as f:
            f.write("5")

    def mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM for process {self.pid}")


def per_layer_names(workloads) -> list[str]:
    """Every per-layer metric name, in a fixed order."""
    from spans import COUNTERS

    # Under adaptive execution every stage runs as a job of its own, so
    # ``stages`` equals ``jobs`` in every span; it stays in the spans file.
    names = [
        f"{s}.{c}"
        for w in workloads.values()
        for s in w.spans
        for c in COUNTERS
        if c != "stages" and (s, c) not in w.zero
    ]
    return names + ["trace.wall_s", "trace.overhead_s"]


def _unit(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


class _Pass:
    """One pass of a workload: its result, wall time and task CPU."""

    def __init__(self, wl, store, k: int):
        first = store.next_job_id()
        t = time.perf_counter()
        self.result = wl.iterate(k)
        self.wall_s = time.perf_counter() - t
        self.task_cpu_s = store.window(first, store.next_job_id(), self.wall_s)["task_cpu_s"]


def _attempt(wl, store, k: int) -> _Pass | None:
    """One pass, or None if it raised."""
    try:
        return _Pass(wl, store, k)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return None


def _generate(wl, work: str) -> float:
    """Generate the inputs ``SETUP_REPS`` times, require identical bytes,
    and return the median generation time."""
    gen_s = []
    for r in range(SETUP_REPS):
        d = os.path.join(work, f"inputs-{r}")
        t = time.perf_counter()
        wl.generate(d)
        gen_s.append(time.perf_counter() - t)
        if r and not _same_bytes(d, os.path.join(work, "inputs-0")):
            raise RuntimeError("generator is not deterministic for this seed")
    wl.in_dir = os.path.join(work, "inputs-0")
    return statistics.median(gen_s)


def run(args, work: str) -> dict:
    from spans import StatusStore, Tracer
    from workloads import WORKLOADS

    from glamira_end_to_end_data_pipeline_spark import get_spark

    wl = WORKLOADS[args.workload](args.seed, work)
    spark = None
    try:
        gen_s = _generate(wl, work)
        t = time.perf_counter()
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(wl.compute_expected)  # DuckDB runs while the JVM starts
            spark = get_spark(app_name="perfbench")
            oracle.result()
        start_s = time.perf_counter() - t
        store = StatusStore(spark)
        tracer = Tracer(store, enabled=False)
        wl.attach(spark, tracer)
        setup_s = gen_s + start_s

        rss = PeakRss(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        rss.reset()
        tracer.enabled = bool(args.trace)
        passes = []
        t = time.perf_counter()
        # a traced run times one pass, the same first pass an untraced run times
        while not passes or (not args.trace and time.perf_counter() - t < args.seconds):
            passes.append(_attempt(wl, store, len(passes)))
        peak_rss_mb = rss.mb()
        tracer.enabled = False

        # outputs are checked after the timed window
        failed = 0
        for p in passes:
            bad = ["the pass raised"] if p is None else wl.check(p.result)
            if bad:
                print(f"{wl.name}: wrong output: {bad}", file=sys.stderr)
                failed += 1
        ok = [p for p in passes if p is not None]
        if not ok:
            raise RuntimeError("every pass failed")

        if args.trace:
            values = {"trace.wall_s": ok[0].wall_s, "trace.overhead_s": tracer.overhead_s}
            for name in per_layer_names(WORKLOADS):
                span, counter = name.rsplit(".", 1)
                if span != "trace":
                    xs = [s.counters[counter] for s in tracer.spans if s.name == span]
                    values[name] = statistics.median(xs) if xs else 0.0
            _write_spans(tracer, args)
            metrics = {n: {"value": v, "unit": _unit(n)} for n, v in values.items()}
        else:
            wall_s = statistics.median(p.wall_s for p in ok)
            values = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "rows_per_s": wl.input_rows / wall_s,
                "task_cpu_s": statistics.median(p.task_cpu_s for p in ok),
                "peak_rss_mb": peak_rss_mb,
            }
            metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in values.items()}
        print(
            f"{wl.name}: seed={args.seed} setup: generate {gen_s:.2f}s "
            f"session and oracle {start_s:.2f}s; passes {[round(p.wall_s, 3) for p in ok]}",
            file=sys.stderr,
        )
        return {
            "correct": failed == 0,
            "attempted": len(passes),
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _write_spans(tracer, args) -> None:
    """Every span of the traced pass, for reading beside the medians."""
    path = os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump([{"name": s.name, **s.counters} for s in tracer.spans], f, indent=1)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits at end of input
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import glamira_end_to_end_data_pipeline_spark as pkg
    except ImportError as exc:
        print(f"perfbench: the package is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the package from outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        _environment(work)
        out = run(args, work)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
