"""Round-11 optimization profiler (guide §1: measure first).

Runs the full registered catalog once cold (building the shared caches the
bench's warm passes also see), then times N warm passes per query with the
bench's own action (`.count()`), and dumps `.explain("formatted")` for every
query to plans/r11/. Per-query wall seconds go to a JSON file for
before/after diffing.

Usage:
    python tools/profile_queries.py [--plans-suffix before] [--runs 2] \
        [--out /tmp/profile_before.json] [--only q1,q2,...]

The noop-sink cross-check (`--noop`) times `df.write.format("noop")` instead
of count() for the listed queries, exposing work count() lets the optimizer
prune.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# bench's import builds the corpora for SPARK_GRAFT_SF_DIR's scale factor
# (bench._parse_sf) and points SPARK_GRAFT_{BLOB,GIF,PNG,WAV}_DIR at them
# (fixtures.fixture_env), exactly as for the bench itself.
from bench import _bench_sf_dir as _sf_dir  # noqa: E402
from hadoop_hdfs_spark import registry  # noqa: E402
from hadoop_hdfs_spark.plans import formatted_plan  # noqa: E402
from hadoop_hdfs_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-suffix", default=None,
                    help="write plans/<round>/<q>_<suffix>.txt per query")
    ap.add_argument("--plans-round", default="r12",
                    help="plans/ subdirectory the dumps go to")
    ap.add_argument("--raw-plans", action="store_true",
                    help="dump plans under pin_override('off') so pinned "
                         "derivations keep their full physical shape "
                         "(VERDICT r11 #9) instead of collapsing to a "
                         "Scan ExistingRDD memo hit")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="/tmp/profile_times.json")
    ap.add_argument("--only", default=None)
    ap.add_argument("--noop", action="store_true",
                    help="time the noop sink instead of count()")
    ap.add_argument("--plans-only", action="store_true",
                    help="skip the timing passes; just dump plans")
    args = ap.parse_args()

    spark = get_spark("hadoop-hdfs-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    names = sorted(qs)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    spark.range(1).count()
    registry._entities(spark, _sf_dir)  # the entity image, built on first use

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(repo, "plans", args.plans_round)
    if args.plans_suffix:
        os.makedirs(plans_dir, exist_ok=True)

    def run(df):
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    cold: dict[str, float] = {}
    per_run: list[dict[str, float]] = []
    warm: dict[str, float] = {}
    if not args.plans_only:
        # cold pass (shared caches / staged fixtures build here)
        for n in names:
            spark.sparkContext.setJobDescription(f"cold:{n}")
            t0 = time.perf_counter()
            run(qs[n](spark, _sf_dir))
            cold[n] = round(time.perf_counter() - t0, 3)
        # warm passes
        for _ in range(args.runs):
            times: dict[str, float] = {}
            for n in names:
                spark.sparkContext.setJobDescription(f"warm:{n}")
                t0 = time.perf_counter()
                run(qs[n](spark, _sf_dir))
                times[n] = round(time.perf_counter() - t0, 3)
            per_run.append(times)
        warm = {
            n: round(min(r[n] for r in per_run), 3) for n in names
        }
    if args.plans_suffix:
        from contextlib import nullcontext

        ctx = registry.pin_override("off") if args.raw_plans else nullcontext()
        with ctx:
            for n in names:
                with open(os.path.join(plans_dir, f"{n}_{args.plans_suffix}.txt"), "w") as f:
                    f.write(formatted_plan(qs[n](spark, _sf_dir)))
    out = {
        "action": "noop" if args.noop else "count",
        "cold": cold,
        "warm_min": warm,
        "warm_total": round(sum(warm.values()), 3),
        "runs": per_run,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    for n, v in sorted(warm.items(), key=lambda kv: -kv[1])[:30]:
        print(f"{v:8.3f}  {n}")
    print("warm total:", out["warm_total"], "n:", len(warm))
    spark.stop()


if __name__ == "__main__":
    main()
