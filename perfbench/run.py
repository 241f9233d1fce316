"""Triple-factory benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Runs one workload on ``local[<cores>]`` from this single process and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics.  ``--smoke`` runs every
workload at a tiny size, untraced and traced, with the golden gate on.

Everything the benchmark writes goes under ``.perfbench/`` at the root
of the checkout: Spark scratch, temp files, cached inputs, output
tables and the span log.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: timed runs per measurement at the least, even past --seconds.  They
#: follow the cold run with no further warm-up: runs keep shortening
#: for several more as the JIT compiles, but an invocation already pays
#: a fresh JVM and a cold run (25-30 s on a 4-core VM), and all the runs
#: of a benchmark sweep share one time budget; every invocation times
#: the same runs after the cold one, so the drift is the same in each
MIN_RUNS = 3


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers the JVM forks import the engine from any working
    directory.  Must run before the JVM is launched."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    sys.path.insert(0, ROOT)


def machine() -> tuple[int, int]:
    """(cores, driver memory in MiB) sized from this machine: half the
    usable cores, since each task keeps a Python worker and the JVM
    thread feeding it busy, and the driver and the JIT compiler need
    the rest (on a 4-core VM, local[2] ran the factory as fast as
    local[3] and local[4] and varied far less between invocations),
    and a quarter of RAM (or of the cgroup limit) for the driver JVM,
    leaving the rest to the Python workers."""
    cores = max(len(os.sched_getaffinity(0)) // 2, 1)
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh
                     if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return cores, min(max(total // 4 // 2 ** 20, 1024), 8192)


class Session:
    """One SparkSession in its own JVM; leaving the ``with`` block stops
    it together with every process it started."""

    def __init__(self, cores: int, mem_mb: int):
        from pyontutils_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cores=cores, driver_memory=f"{mem_mb}m", extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            })
        self.start_s = time.perf_counter() - t0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.stop()

    def reset(self) -> None:
        """Drop cached data, broadcasts and shuffle files between runs."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def stop(self) -> None:
        from pyspark import SparkContext

        from procfs import descendants

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            # the gateway JVM exits when its stdin closes
            gw.proc.stdin.close()
            gw.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in descendants():
            os.kill(pid, 9)
        while descendants() and time.monotonic() < deadline + 10:
            time.sleep(0.1)


class Runs:
    """Attempted/failed bookkeeping: a run fails if it raises or its
    output differs from the golden oracle."""

    def __init__(self, session: Session):
        self.session = session
        self.attempted = 0
        self.failed = 0

    def __call__(self, fn):
        """(wall seconds, result or None on failure)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            out = None
        dt = time.perf_counter() - t0
        self.session.reset()
        return dt, out


def measure(runs: Runs, fn, seconds: float) -> list[float]:
    """Repeat ``fn`` for ``seconds`` (at least MIN_RUNS times)."""
    times = []
    t0 = time.perf_counter()
    while len(times) < MIN_RUNS or time.perf_counter() - t0 < seconds:
        times.append(runs(fn)[0])
    return times


def traced_fn(spark, inp, out_dir: str, tr, cover: list):
    """One traced run of the whole chain: the factory layers on the
    pages, then the materialize layers on the factory's triple set.
    Appends to ``cover`` the traced wall time of the factory layers,
    which are what the untraced run executes."""
    import steps

    def run():
        n0 = len(tr.spans)
        layers = steps.trace_factory(spark, inp, tr)
        cover.append(sum(s.wall_s for s in tr.spans[n0:]
                         if s.parent is None))
        layers.update(steps.trace_materialize(spark, inp, tr, out_dir))
        return layers
    return run


def result_line(runs: Runs, values: dict, kind: str) -> str:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} "
                           f"differ from BENCHMARK.json {kind}")
    return json.dumps({
        "correct": runs.failed == 0, "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()}})


def bench_untraced(inp, seconds: float, cores: int, mem_mb: int) -> str:
    import steps

    with Session(cores, mem_mb) as session:
        runs = Runs(session)
        fn = lambda: steps.factory(session.spark, inp)  # noqa: E731
        cold, _ = runs(fn)
        times = measure(runs, fn, seconds)
    print(f"perfbench: start {session.start_s:.2f}s cold {cold:.2f}s "
          f"timed {[round(t, 2) for t in times]}", file=sys.stderr)

    g = inp.golden
    return result_line(runs, {
        "setup_s": session.start_s + cold,
        "run_s": statistics.median(times),
        "pages_per_s": statistics.median(g["pages"] / t for t in times),
        "triples_per_s": statistics.median(g["corpus"][0] / t
                                           for t in times),
    }, "end_to_end")


def bench_traced(inp, seconds: float, cores: int, mem_mb: int) -> str:
    import steps
    from procfs import PeakRss
    from spans import Tracer

    name = f"{inp.workload.name}-s{inp.seed}"
    pipe, base, traced_t, layer_runs, cover = [], [], [], [], []
    rss = PeakRss()
    with Session(cores, mem_mb) as session:
        spark = session.spark
        runs = Runs(session)
        ensure, _ = runs(lambda: steps.ensure_triples(spark, inp))
        fn = lambda: steps.factory(spark, inp)  # noqa: E731
        cold, _ = runs(fn)

        tr = Tracer(spark, name)
        traced = traced_fn(spark, inp, os.path.join(WORK, "out", name), tr,
                           cover)

        def pipeline_run():
            rss.start()
            try:
                with tr.span("pipeline") as s:
                    fn()
            finally:
                rss.stop()
            pipe.append(s)

        t0 = time.perf_counter()
        while not layer_runs or time.perf_counter() - t0 < seconds:
            base.append(runs(pipeline_run)[0])
            dt, layers = runs(traced)
            traced_t.append(dt)
            if layers is None:
                break
            layer_runs.append(layers)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.dump(os.path.join(WORK, "traces", name + ".jsonl"))
    print(f"perfbench: start {session.start_s:.2f}s triple set {ensure:.2f}s "
          f"cold {cold:.2f}s "
          f"untraced {[round(t, 2) for t in base]} "
          f"traced {[round(t, 2) for t in traced_t]}", file=sys.stderr)

    values = {k: statistics.median(r[k] for r in layer_runs)
              for k in (layer_runs[0] if layer_runs else ())}
    values.update({
        "session.start_s": session.start_s,
        "pipeline.jobs": statistics.median(s.jobs for s in pipe),
        "pipeline.tasks": statistics.median(s.tasks for s in pipe),
        "pipeline.failed_tasks": max(s.failed_tasks for s in pipe),
        "pipeline.cpu_s": statistics.median(s.cpu_s for s in pipe),
        # the process tree's CPU spans the driver and the JVM's own
        # threads too, so it is taken over every core of the machine
        "pipeline.core_util": statistics.median(
            s.cpu_s / (s.wall_s * len(os.sched_getaffinity(0)))
            for s in pipe),
        "pipeline.peak_rss_mb": rss.peak / 2 ** 20,
        "trace.overhead_s": statistics.median(cover) - statistics.median(base),
    })
    return result_line(runs, values, "per_layer")


def smoke(cores: int, mem_mb: int) -> int:
    """Every workload at a tiny size, untraced and traced (the traced
    run covers the materialize layers too), golden gate on; exit code 0
    only if every run matched the oracle."""
    import steps
    import workloads
    from spans import Tracer

    report = {}
    with Session(cores, mem_mb) as session:
        spark = session.spark
        runs = Runs(session)
        for w in map(workloads.smoke, workloads.WORKLOADS.values()):
            inp = workloads.Inputs(w, 0, os.path.join(WORK, "inputs"))
            failed0 = runs.failed
            runs(lambda: steps.ensure_triples(spark, inp))
            runs(lambda: steps.factory(spark, inp))
            tr = Tracer(spark, "smoke-" + w.name)
            _, layers = runs(traced_fn(spark, inp, os.path.join(
                WORK, "out", "smoke-" + w.name), tr, []))
            report[w.name] = {"failed": runs.failed - failed0,
                              "layers": layers}
    print(json.dumps({"correct": runs.failed == 0,
                      "attempted": runs.attempted, "failed": runs.failed,
                      "workloads": report}))
    return 0 if runs.failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    prepare_env()
    import workloads  # needs the engine on sys.path

    cores, mem_mb = machine()
    if args.smoke:
        return smoke(cores, mem_mb)
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    w = workloads.WORKLOADS[args.workload]
    inp = workloads.Inputs(w, args.seed, os.path.join(WORK, "inputs"))
    bench = bench_traced if args.trace else bench_untraced
    print(bench(inp, args.seconds, cores, mem_mb))
    return 0


if __name__ == "__main__":
    sys.exit(main())
