"""Round-14 optimization measurement harness (guide §1).

Times named queries with the noop sink (min of N passes) and captures
``.explain("formatted")`` into plans/r14/<name>_<label>.txt so plan
claims in OPTIMIZATION_r14.md are checkable without running Spark.

Usage:
    python scripts/opt_measure.py [--label before|after] [--passes N]
        [--sf-dir DIR] [--no-plan] name [name ...]

Prints one line per query: name, min/median of per-pass seconds, and
the Exchange count + join strategies parsed from the formatted plan.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--label", default="before")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--plans-dir", default="r15")
    args = ap.parse_args()

    os.environ.setdefault(
        "SPARK_GRAFT_SCRATCH", f"/root/repo/.scratch/optm-{os.getpid()}"
    )
    from fuzzy_item_matching_spark import get_spark
    from fuzzy_item_matching_spark.queries import load_all

    spark = get_spark(app_name="opt-measure-r14")
    registry = load_all()
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.plans_dir,
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up

    for name in args.names:
        if name not in registry:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        q = registry[name]
        ts = []
        plan_txt = None
        for p in range(args.passes):
            spark.sparkContext.setJobDescription(f"optm:{name}:p{p}")
            t0 = time.monotonic()
            try:
                df = q.fn(spark, args.sf_dir)
                if plan_txt is None and not args.no_plan:
                    plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                df.write.mode("overwrite").format("noop").save()
                ts.append(time.monotonic() - t0)
            except Exception as e:  # noqa: BLE001
                print(f"{name}: FAILED pass {p}: {e}", flush=True)
                ts.append(float("nan"))
                break
            finally:
                spark.catalog.clearCache()
        if plan_txt is not None:
            with open(os.path.join(
                    plans_dir, f"{name}_{args.label}.txt"), "w") as fh:
                fh.write(plan_txt)
        n_ex = len(re.findall(r"\bExchange\b", plan_txt or ""))
        joins = sorted(set(re.findall(
            r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)\b", plan_txt or "")))
        py = sorted(set(re.findall(
            r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
            r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
            r"FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow)\b",
            plan_txt or "")))
        good = [t for t in ts if t == t]
        if not good:  # first pass failed: keep the failure message visible
            continue
        msg = (f"{name}: min={min(good):.3f}s med={statistics.median(good):.3f}s "
               f"passes={['%.2f' % t for t in ts]} Exchange={n_ex} "
               f"joins={joins} py={py}")
        print(msg, flush=True)


if __name__ == "__main__":
    main()
