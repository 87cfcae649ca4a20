#!/usr/bin/env python3
"""Benchmark of the gbdc_spark feature engine.

    python3 perfbench/run.py --workload job_cnf --seed 1 --seconds 10 --trace 0

Starts one Spark session on ``local[<nproc>]``, generates the workload's
inputs from the seed, runs one cold pass and then two warm passes,
more until ``--seconds`` are used, checks every pass's output against an
oracle and prints the end-to-end metrics (``--trace 0``) or, from a
traced run of cumulative layer prefixes, the per-layer metrics
(``--trace 1``).  The last line of stdout is one JSON object.

Set-up and passes are measured in CPU seconds of the whole process tree
(driver, JVM, Python workers) as well as in wall time.  The end-to-end
metrics in the JSON use CPU time, which other load on a shared host does
not stretch; the wall times are printed beside them.
Everything the run writes goes under ``.perfbench/`` in the checkout;
its scratch directory is removed at exit, the span file is kept.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import asdict, dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GEN_REPEATS = 3  # input generations per run; setup_s takes their median

# the JSON's end-to-end metrics (BENCHMARK.json), all in CPU time but
# memory, and the wall-clock figures printed beside them
END_TO_END = {
    "setup_s": "s", "cold_cpu_s": "s", "pass_cpu_s": "s", "build_cpu_s": "s",
    "rows_per_cpu_s": "1/s", "peak_rss_mb": "MB",
}
WALL = {"setup_wall_s": "s", "cold_s": "s", "pass_s": "s", "build_s": "s", "rows_per_s": "1/s"}


@dataclass
class PassRecord:
    seconds: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU seconds
    build_s: float = 0.0
    build_cpu_s: float = 0.0
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    extract_task_s: float = 0.0
    cogroup_task_s: float = 0.0
    persisted_rdds: int = 0
    problems: list[str] = field(default_factory=list)


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench", description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["flagship_docs", "job_cnf", "asof_dense"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, cores: int):
    from gbdc_spark.session import get_spark

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = get_spark(app_name="perfbench", cores=cores, extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        # no /tmp/hsperfdata file: the run writes only inside its directory.
        # The whole heap is made resident at start, so the JVM's share of
        # peak_rss_mb does not depend on when the collector ran (it read
        # 1.0-1.2 GB across runs otherwise)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -Xms1g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job and stage of the run for the status-store counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python workers)
    has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def clear_caches(spark) -> None:
    """Drop what a fresh spark-submit would not have: cached DataFrames
    and the extraction size-probe memo."""
    from gbdc_spark.operators import partitioning

    spark.catalog.clearCache()
    getattr(partitioning, "_PROBE_CACHE", {}).clear()


def one_pass(wl, status, cpu=None) -> PassRecord:
    """One checked pass; ``cpu`` reads the process tree's CPU seconds
    (default: :func:`perfbench.rss.tree_cpu_s`)."""
    from perfbench.rss import tree_cpu_s
    from perfbench.status import COGROUP_OP, EXTRACT_OP
    from perfbench.workloads import BuildClock

    cpu = cpu or tree_cpu_s
    clear_caches(wl.spark)
    first = status.last_job_id()
    clock = BuildClock(cpu)
    c0 = cpu()
    t0 = time.perf_counter()
    try:
        result = wl.run(clock)
    except Exception as e:  # noqa: BLE001 — a failed pass is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        return PassRecord(problems=[f"pass raised {e!r}"[:500]])
    rec = PassRecord(seconds=time.perf_counter() - t0, cpu_s=cpu() - c0,
                     build_s=clock.s, build_cpu_s=clock.cpu_s)
    rec.persisted_rdds = status.persisted_rdds()
    c = status.counters(first, status.last_job_id())
    rec.jobs, rec.task_s, rec.shuffle_bytes = c.jobs, c.task_s, c.shuffle_write
    rec.extract_task_s, rec.cogroup_task_s = c.op_task_s(EXTRACT_OP), c.op_task_s(COGROUP_OP)
    try:
        rec.problems = wl.check(result)
    except Exception as e:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)
        rec.problems = [f"check raised {e!r}"[:500]]
    finally:
        wl.cleanup(result)
    # evidence that the pass recomputed its layers instead of reading a cache
    if wl.extracts and rec.extract_task_s <= 0:
        rec.problems.append("no extraction task time in the pass")
    if rec.cogroup_task_s <= 0:
        rec.problems.append("no as-of cogroup task time in the pass")
    return rec


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, setup: dict, recs: list[PassRecord], peak_bytes: int) -> dict:
    """End-to-end metrics and the wall-clock figures, in one dict."""
    warm = [r for r in recs[1:] if not r.problems]
    pass_cpu_s = median([r.cpu_s for r in warm])
    pass_s = median([r.seconds for r in warm])
    return {
        "setup_s": setup["cpu_s"],
        "cold_cpu_s": recs[0].cpu_s,
        "pass_cpu_s": pass_cpu_s,
        "build_cpu_s": median([r.build_cpu_s for r in warm]),
        "rows_per_cpu_s": wl.rows / pass_cpu_s if pass_cpu_s else 0.0,
        "peak_rss_mb": peak_bytes / 2**20,
        "setup_wall_s": setup["seconds"],
        "cold_s": recs[0].seconds,
        "pass_s": pass_s,
        "build_s": median([r.build_s for r in warm]),
        "rows_per_s": wl.rows / pass_s if pass_s else 0.0,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT]
    try:
        import gbdc_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import gen, layers
    from perfbench.rss import TreeMeter
    from perfbench.status import StatusCounters, Tracer
    from perfbench.workloads import WORKLOADS

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    cores = nproc()
    data = os.path.join(work, "data")
    spark = None
    try:
        with TreeMeter() as meter:
            c0, t0 = meter.cpu_s(), time.perf_counter()
            spark = start_session(work, cores)
            session = {"seconds": time.perf_counter() - t0, "cpu_s": meter.cpu_s() - c0}
            gens = []
            for _ in range(GEN_REPEATS):
                shutil.rmtree(data, ignore_errors=True)
                c0, t0 = meter.cpu_s(), time.perf_counter()
                meta = gen.GENERATORS[args.workload](data, args.seed)
                gens.append({"seconds": time.perf_counter() - t0, "cpu_s": meter.cpu_s() - c0})
            setup = {k: session[k] + median([g[k] for g in gens]) for k in session}

            wl = WORKLOADS[args.workload](spark, data, work, meta)
            wl.prepare()
            status = StatusCounters(spark)
            recs = [one_pass(wl, status, meter.cpu_s)]  # cold
            chains: list[layers.Chain] = []
            tracer = Tracer(status)
            t_meas = time.perf_counter()
            while True:  # wl.warm_passes (or one chain), then more until --seconds are used
                recs.append(one_pass(wl, status, meter.cpu_s))
                if args.trace:
                    # untraced passes on both sides of the chain, so JVM
                    # warm-up does not bias tracing.overhead_frac
                    chains.append(layers.traced_chain(wl, status, tracer, clear_caches))
                    recs.append(one_pass(wl, status, meter.cpu_s))
                enough = bool(chains) if args.trace else len(recs) - 1 >= wl.warm_passes
                if enough and time.perf_counter() - t_meas >= args.seconds:
                    break
            try:
                recs[0].problems += wl.check_once()
            except Exception as e:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                recs[0].problems.append(f"run check raised {e!r}"[:500])
            peak, peak_split = meter.peak_bytes, meter.peak_split
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    problems = [p for r in recs for p in r.problems] + [p for c in chains for p in c.problems]
    attempted = len(recs) + len(chains)
    failed = sum(1 for r in recs if r.problems) + sum(1 for c in chains if c.problems)
    if args.trace:
        metrics, units, shown = layers.per_layer(wl, chains, recs[1:]), layers.PER_LAYER, {}
    else:
        metrics, units, shown = end_to_end(wl, setup, recs, peak), END_TO_END, WALL

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": cores,
        "seconds": args.seconds, "passes": len(recs) - 1, "chains": len(chains),
        "attempted": attempted, "failed": failed, "problems": problems,
        "session": session, "generations": gens, "peak_rss_split": peak_split,
        "pass_records": [asdict(r) for r in recs], "metrics": metrics,
        "spans": [asdict(s) for s in tracer.spans],
    }
    with open(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} nproc={cores} "
          f"warm_passes={len(recs) - 1} chains={len(chains)} attempted={attempted} failed={failed} "
          f"failed_frac={failed / attempted:.4f}")
    for p in problems:
        print(f"  FAILED CHECK: {p}")
    for name, unit in units.items():
        print(f"  {name:32s} {metrics[name]:>16.6g} {unit}")
    for name, unit in shown.items():
        print(f"  {name:32s} {metrics[name]:>16.6g} {unit} (wall clock, not in the JSON)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
