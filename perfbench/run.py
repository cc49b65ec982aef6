"""perfbench: the repository's benchmark harness.

    python3 perfbench/run.py --workload catalog_match --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (before Spark starts),
starts a local Spark session on every core, sets the workload up several
times, runs one untimed warm-up unit and then timed units until
``--seconds`` of them have been measured. Every unit's outputs are
checked. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics, from traced
units alternated with untraced ones (the difference of their medians is
the tracing overhead) and the spans written to
``.perfbench/spans/<workload>-seed<seed>.json``. The line before it
records the generator's parameters and the sample counts.

Exit codes: 0 when every check passed, 1 when a check failed, 2 when
the engine cannot be found or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_UNITS = 3  # timed units per untraced run, however long they take
DRIVER_MEM = "2g"


def pin_environment(tmp: str, cores: int) -> dict[str, str]:
    """Environment for the session and its Python workers, set before the
    engine is imported; every path Spark writes to is under ``tmp``."""
    dirs = {k: os.path.join(tmp, k) for k in ("scratch", "local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SCRATCH=dirs["scratch"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # -UsePerfData: the JVM writes its hsperfdata file to the system
        # temp dir whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, tmp: str, cores: int) -> tuple[bool, int, int, dict, dict]:
    conf = pin_environment(tmp, cores)
    from gen import GENERATORS

    t0 = time.perf_counter()
    gen = GENERATORS[args.workload](args.seed, os.path.join(tmp, "data"))
    gen_s = time.perf_counter() - t0

    from fuzzy_item_matching_spark.session import get_spark
    from metrics import END_TO_END, PER_LAYER, unit_layer_metrics
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](gen, tmp)
    errors: list[str] = []
    attempted = failed = 0
    spark = None
    with RssSampler() as rss:
        try:
            setups, starts = [], []
            for _ in range(SETUP_REPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
                spark.range(1).count()
                t1 = time.perf_counter()
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
                starts.append(t1 - t0)
            run_id = f"{args.workload}-{args.seed}"
            untraced = Tracer(spark, False, run_id)
            traced = Tracer(spark, True, run_id)

            def unit(tr: Tracer) -> tuple[float, dict]:
                nonlocal attempted, failed
                tr.unit = wl.units
                t = time.perf_counter()
                with tr.span("unit"):
                    out = wl.run_unit(spark, tr)
                dt = time.perf_counter() - t
                errs = wl.check(spark, out)
                wl.after_unit(spark)
                attempted += 1
                if errs:
                    failed += 1
                    errors.extend(f"unit {tr.unit}: {e}" for e in errs)
                return dt, out

            unit(untraced)  # warm-up: checked, not timed
            times, outs, traced_times = [], [], []
            min_units = 1 if args.trace else MIN_UNITS
            while wl.units_left() and (
                len(times) < min_units or sum(times) + sum(traced_times) < args.seconds
            ):
                dt, out = unit(untraced)
                times.append(dt)
                outs.append(out)
                if args.trace and wl.units_left():
                    traced_times.append(unit(traced)[0])
            final = wl.final_errors()  # run-level checks count as one failure
            errors.extend(final)
            failed += bool(final)
        finally:
            stop_spark(spark)
    peak_rss = rss.peak

    items = sum(o["items"] for o in outs)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "generator": gen.params,
        "generate_s": gen_s,
        "timed_units": len(times),
        "traced_units": len(traced_times),
        "unit_s": times,
        "errors": errors[:20],
    }
    if args.trace:
        spans = traced.finish()
        path = os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(spans, f, indent=1)
        info["spans_file"] = os.path.relpath(path, ROOT)
        per_unit: dict[int, list] = {}
        for s in spans:
            per_unit.setdefault(s["unit"], []).append(s)
        layer = [unit_layer_metrics(v, cores) for v in per_unit.values()]
        values = {m: statistics.median(d[m] for d in layer) for m in layer[0]}
        values.update({
            "session.start_s": statistics.median(starts),
            "session.cold_start_s": starts[0],
            "tracing.traced_unit_s": statistics.median(traced_times),
            "tracing.untraced_unit_s": statistics.median(times),
            "tracing.overhead_s": statistics.median(traced_times) - statistics.median(times),
        })
        units = PER_LAYER
    else:
        q = wl.quality()
        values = {
            "setup_s": statistics.median(setups),
            "job_p50_s": statistics.median(times),
            "items_per_s": items / sum(times),
            "recall": q["recall"],
            "precision": q["precision"],
            "bytes_written_per_item": sum(wl.bytes_written(o) for o in outs) / items,
            "peak_rss_mb": peak_rss / 2**20,
        }
        units = END_TO_END
    metrics = {m: {"value": values[m], "unit": u} for m, u in units.items()}
    return not errors, attempted, failed, metrics, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog_match", "incremental_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fuzzy_item_matching_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        correct, attempted, failed, metrics, info = run(args, tmp, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    ))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
