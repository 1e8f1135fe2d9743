"""Pipeline benchmark: one seeded crawl workload per invocation.

    python3 perfbench/run.py --workload filter_zh --seed 1 --seconds 15 --trace 0

Closed loop on ``local[<nproc>]``: one job in flight at a time, from one
process.  The run (1) starts a warm session -- ``get_spark`` plus a first
Python-UDF job -- and times it as ``setup_s``, (2) generates or reuses the
seeded inputs under ``.perfbench/inputs`` (never timed), (3) runs
untimed warm-up jobs, (4) repeats the job for ``--seconds``, and (5) checks
every job's output.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.  ``--trace
1`` alternates untraced and traced jobs instead, prints the per-layer
metrics (medians over the traced jobs) and the tracing overhead, and
writes every span to ``.perfbench/traces/<workload>-seed<seed>.json``.

The last line of stdout is the result object; everything else goes to
stderr.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _env() -> None:
    """Keep every file the run writes inside the checkout, let Python
    workers import the checkout, and size the driver for a shared host."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(nproc: int):
    """get_spark plus a first Python-UDF job: the set-up a user waits for."""
    from pyspark.sql import functions as F

    from harvesttext_spark.functions.cleaning import make_clean_text_udf
    from harvesttext_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": os.path.join(STATE, "spark-local"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    clean = make_clean_text_udf()
    spark.range(0, 64 * nproc, numPartitions=nproc).select(
        clean(F.concat(F.lit("warm up "), F.col("id").cast("string")))
    ).collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM PySpark launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None, help="input docs (default per workload)")
    p.add_argument(
        "--corrupt", choices=("keep", "text"), default=None,
        help="corrupt one row of the first timed output before the checks "
        "(flip keep / alter one text_clean byte) to show the checks fire",
    )
    args = p.parse_args(argv)
    _env()

    from perfbench import report, workloads
    from perfbench.spans import RssSampler, Tracer

    if args.workload not in workloads.JOBS:
        p.error(f"--workload must be one of {sorted(workloads.JOBS)}")
    nproc = len(os.sched_getaffinity(0))
    spark = start_session(nproc)
    setup_main = time.perf_counter() - T0
    log(f"# setup {setup_main:.2f}s on local[{nproc}]")

    from perfbench.inputs import ensure_inputs

    size = args.size or workloads.DEFAULT_SIZES[args.workload]
    t = time.perf_counter()
    inp = ensure_inputs(
        spark, os.path.join(STATE, "inputs"), args.workload, args.seed, size, nproc
    )
    log(f"# inputs {time.perf_counter() - t:.2f}s: {json.dumps(inp)}")

    work = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    job = workloads.JOBS[args.workload]
    off, on = Tracer(spark, enabled=False), Tracer(spark, enabled=True)

    def run_job(tracer, tag):
        out = os.path.join(work, tag)
        t0 = time.perf_counter()
        stats = job(spark, tracer, inp, out)
        wall = time.perf_counter() - t0
        _release(spark)
        log(f"# {tag}: {wall:.2f}s{' traced' if tracer.enabled else ''}")
        return out, wall, stats

    for k in range(workloads.WARMUP_JOBS[args.workload]):
        run_job(off, f"warmup{k}")
    timed, traced, layer_rows, outputs, failures = [], [], [], [], 0
    min_jobs = 2 if args.trace else 1
    with RssSampler() as rss:
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i < min_jobs or time.perf_counter() < deadline:
            tag = f"job{i:03d}"
            try:
                if args.trace and i % 2 == 1:
                    first_span = len(on.spans)
                    out, wall, _ = run_job(on, tag)
                    # the curation recipe is traced on top of the job
                    traced.append(wall - sum(
                        s.wall_s for s in on.spans[first_span:] if s.name == "curate"
                    ))
                    layer_rows.append(
                        report.layer_metrics(on.spans[first_span:], inp, out)
                    )
                else:
                    out, wall, stats = run_job(off, tag)
                    timed.append((out, wall, stats))
                    rss.cut()
                outputs.append(out)
            except Exception:  # a failed job is a failed operation
                failures += 1
                log(f"# {tag} failed:\n{traceback.format_exc()[-4000:]}")
            i += 1
    attempted = i

    if args.corrupt and outputs:
        report.corrupt(spark, f"{outputs[0]}/data", args.corrupt)
    t = time.perf_counter()
    results = report.check(spark, args.workload, inp, outputs)
    log(f"# checks {time.perf_counter() - t:.2f}s over {len(outputs)} outputs")
    failures += sum(not r["ok"] for r in results.values())
    for k, r in sorted(results.items()):
        if not r["ok"]:
            log(f"# check failed on {outputs[k]}: {r}")

    if args.trace:
        metrics = report.median_layers(layer_rows)
        overhead = report.median(traced) - report.median(w for _, w, _ in timed)
        metrics["trace.overhead_s"] = overhead
        on_path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
        on.dump(on_path, {
            "workload": args.workload, "seed": args.seed, "input": inp,
            "untraced_wall_s": [w for _, w, _ in timed], "traced_wall_s": traced,
            "tracing_overhead_s": overhead, "per_layer": metrics,
        })
        log(f"# spans -> {on_path}; tracing overhead {overhead:.2f}s")
        units = report.PER_LAYER_UNITS
    else:
        metrics = report.end_to_end(args.workload, inp, timed, results, rss.job_peaks)
        units = report.END_TO_END_UNITS
    log(f"# {len(timed)} untraced / {len(traced)} traced jobs")

    shutil.rmtree(work, ignore_errors=True)
    stop_session(spark)
    if not args.trace:
        metrics["setup_s"] = setup_main

    result = {
        "correct": failures == 0,
        "attempted": attempted,
        "failed": failures,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _release(spark) -> None:
    """Drop every cached table so each job starts cold, as a job run does."""
    from harvesttext_spark.session import clear_persist_slots

    clear_persist_slots()
    spark.catalog.clearCache()


if __name__ == "__main__":
    sys.exit(main())
