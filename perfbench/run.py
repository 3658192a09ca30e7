"""Benchmark of the quality_filter batch jobs.

    python3 perfbench/run.py --workload filter_all --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client, closed loop: one batch job
at a time, back to back, on ``local[N]`` with N = min(4, usable cores).
The run sets up a Spark session (JVM, Python workers, scorer artifacts,
a cold job on a tiny input), loads or generates the seed's input, runs
warm-up jobs on it, then timed jobs for ``--seconds``, and checks every
job's output on the real input.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
runs traced jobs and every layer as its own stage, prints the per-layer
metrics and writes the spans to ``perfbench/_results``.  The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT))

from perfbench.metrics import END_TO_END, FAILED_FRAC, PER_LAYER, WORKLOAD_NAMES  # noqa: E402
from perfbench.probes import (  # noqa: E402
    process_start_monotonic, tree_cpu_s, tree_peak_rss_mb,
)

MAX_CORES = 4


def session_conf(work: Path) -> dict[str, str]:
    """Sized for a small host: capped driver heap, all scratch inside the
    run's work dir, no console progress bars."""
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # initial heap = maximum: the heap does not grow differently from
        # one run to the next.  A fixed set of JIT compiler threads: the CPU
        # metric leaves compilation out, which needs compiler threads that
        # do not exit between two readings.
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={work / 'tmp'}"
        ),
    }


def open_session(work: Path, cores: int):
    from quality_filter.session import get_spark

    return get_spark("perfbench", cores=cores, extra_conf=session_conf(work))


def close_jvm() -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run_job(wl, tables, exp, sink: Path, tracer, on_done=None) -> tuple[float, float, list[str]]:
    """One job plus its output check: (wall s, CPU s, errors).  ``on_done``
    sees the job's info and sink before the check and the sink's removal."""
    pid = jvm_pid()
    cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
    try:
        info = wl.job(tables, sink, tracer)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(pid) - cpu0
        if on_done is not None:
            on_done(info, sink)
        errors = wl.check(tables, sink, exp, info)
    except Exception:  # a failed job is counted and the loop goes on
        traceback.print_exc()
        return time.perf_counter() - t0, 0.0, ["job raised"]
    finally:
        shutil.rmtree(sink, ignore_errors=True)
    for e in errors:
        print(f"CHECK FAILED {wl.name}: {e}", file=sys.stderr)
    return wall, cpu, errors


def measure(args, t_start: float, work: Path) -> tuple[dict, int, int]:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    off = Tracer("untraced", enabled=False)
    try:
        spark = open_session(work, cores)
        session_s = time.monotonic() - t_start
        wl = WORKLOADS[args.workload](spark)
        # set-up: a cold job on a tiny in-memory input (generated code
        # compiled, artifacts built and broadcast, Python workers spawned),
        # then checked jobs on the real input while the JIT warms up.
        # Input generation runs in between and is not set-up time.
        wl.job(wl.warm_tables(args.seed), work / "warm", off)
        shutil.rmtree(work / "warm", ignore_errors=True)
        t0 = time.monotonic()
        tables, exp = wl.prepare(BENCH / "_data", args.seed)
        n_rows = wl.rows(tables)
        prepare_s = time.monotonic() - t0
        for i in range(wl.warm_jobs):
            _, _, errors = run_job(wl, tables, exp, work / f"warm{i}", off)
            if errors:
                raise RuntimeError(f"warm-up job failed: {errors}")
        setup_s = time.monotonic() - t_start - prepare_s
        print(f"{wl.name}: session {session_s:.1f} s, input {prepare_s:.1f} s, "
              f"set-up {setup_s:.1f} s, {n_rows} input rows", file=sys.stderr)
        if args.trace:
            return trace(args, wl, tables, exp, work, cores)

        results = []
        deadline = time.perf_counter() + args.seconds
        while not results or time.perf_counter() < deadline:
            results.append(run_job(wl, tables, exp, work / f"job{len(results)}", off))
        print(f"{wl.name}: timed job walls {[round(r[0], 3) for r in results]}", file=sys.stderr)
        ok = [r for r in results if not r[2]]
        if not ok:
            raise RuntimeError("every timed job failed")
        metrics = {
            "rows_per_s": statistics.median(n_rows / r[0] for r in ok),
            "cpu_s_per_mrow": statistics.median(r[1] for r in ok) / n_rows * 1e6,
            "setup_s": setup_s,
        }
        return metrics, len(results), len(results) - len(ok)
    finally:
        close_jvm()


def trace(args, wl, tables, exp, work, cores) -> tuple[dict, int, int]:
    """Per-layer metrics.  For ``--seconds``, untraced and traced jobs
    alternate (so JIT warm-up still under way does not bias the
    overhead); the traced jobs give Spark's counters and the workload's
    own figures.  Then every layer runs as its own stage, the jobs of the
    workload's trace companions are measured the same way, and for
    filter_all the same job runs on a fresh local[1] context for the
    scaling efficiency."""
    from perfbench.probes import SparkStores
    from perfbench.tracing import Tracer
    from perfbench.workloads import Stager

    stores = SparkStores(wl.spark)
    out = dict.fromkeys(PER_LAYER, 0.0)
    tracer = Tracer(f"{wl.name}-seed{args.seed}-{os.getpid()}")
    off = Tracer("untraced", enabled=False)
    untraced, traced, failed = [], [], 0

    def traced_done(info, sink):
        c = stores.since(mark)
        job = tracer.find("job")[-1]
        traced.append((job.end - job.start, c))
        out.update(wl.traced_job_metrics(tracer, c, sink, info))

    with tracer.span("run"):
        deadline = time.perf_counter() + args.seconds
        while not traced or time.perf_counter() < deadline:
            i = len(untraced)
            wall, _, errors = run_job(wl, tables, exp, work / f"untraced{i}", off)
            untraced.append(wall)
            failed += bool(errors)
            mark = stores.mark()
            _, _, errors = run_job(wl, tables, exp, work / f"traced{i}", tracer, traced_done)
            failed += bool(errors)
        if failed:
            raise RuntimeError(f"{failed} jobs of the traced run failed")
        wall = statistics.mean(w for w, _ in traced)
        for key in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s", "scheduler_delay_s"):
            out[f"session.{key}"] = statistics.mean(getattr(c, key) for _, c in traced)
        out["session.cpu_util"] = out["session.task_cpu_s"] / (wall * cores)
        out["session.peak_rss_mb"] = tree_peak_rss_mb(jvm_pid())
        untraced_wall = statistics.median(untraced)
        out["trace.overhead_frac"] = statistics.median(w for w, _ in traced) / untraced_wall - 1

        st = Stager(stores, tracer)
        try:
            out.update(wl.staged(st, tables, exp))
        finally:
            st.release()
        for comp_cls, keys in wl.trace_companions.items():
            comp = run_companion(comp_cls(wl.spark), args.seed, stores, tracer, work)
            out.update({k: comp[k] for k in keys})
    out["share.rules_scrub"] = (out["rules.self_s"] + out["scrub.self_s"]) / untraced_wall
    out["share.scoring"] = out["scoring.self_s"] / untraced_wall

    results_dir = BENCH / "_results"
    results_dir.mkdir(exist_ok=True)
    tracer.write(results_dir / f"trace-{wl.name}-seed{args.seed}.json")

    if wl.measures_scaling:
        # the same job on a fresh local[1] context in the same JVM
        from quality_filter.session import get_spark

        wl.spark.stop()
        wl.spark = get_spark("perfbench", cores=1, extra_conf=session_conf(work))
        tables1, _ = wl.prepare(BENCH / "_data", args.seed)
        # spawns the new context's Python workers; the JVM is already warm
        wl.job({**tables1, "input": tables1["input"].limit(2000)}, work / "warm1", off)
        shutil.rmtree(work / "warm1", ignore_errors=True)
        wall1, _, errors = run_job(wl, tables1, exp, work / "local1", off)
        if errors:
            raise RuntimeError(f"local[1] job failed its check: {errors}")
        out["session.scaling_eff_1_4"] = wall1 / (cores * untraced_wall)
    return out, len(untraced) + len(traced), 0


def run_companion(comp, seed: int, stores, tracer, work: Path) -> dict[str, float]:
    """Per-layer metrics of another workload's job, run inside this traced
    run: its cold tiny job, its input, its staged layers, then one traced
    and checked job."""
    from perfbench.tracing import Tracer
    from perfbench.workloads import Stager

    out: dict[str, float] = {}
    with tracer.span(f"companion.{comp.name}"):
        comp.job(comp.warm_tables(seed), work / "companion-warm", Tracer("untraced", enabled=False))
        shutil.rmtree(work / "companion-warm", ignore_errors=True)
        tables, exp = comp.prepare(BENCH / "_data", seed)
        st = Stager(stores, tracer)
        try:
            out.update(comp.staged(st, tables, exp))
        finally:
            st.release()
        mark = stores.mark()
        _, _, errors = run_job(
            comp, tables, exp, work / "companion", tracer,
            lambda info, sink: out.update(
                comp.traced_job_metrics(tracer, stores.since(mark), sink, info)
            ),
        )
    if errors:
        raise RuntimeError(f"{comp.name} job failed its check: {errors}")
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_monotonic()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "quality_filter" / "__init__.py").is_file() or not (
        ROOT / "tests" / "oracle.py"
    ).is_file():
        print(f"perfbench: {ROOT} is not a quality_filter checkout", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = BENCH / "_work" / f"{args.workload}-{os.getpid()}"
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = str(work / "tmp")
    try:
        metrics, attempted, failed = measure(args, t_start, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {k: v[0] for k, v in (PER_LAYER if args.trace else END_TO_END).items()}
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    print(f"{args.workload} {FAILED_FRAC[0]} = {failed / attempted:.6g} {FAILED_FRAC[1]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
