"""Run registered queries by name: rows, plan, operator metrics or a
builder/action profile.

    python tools/run_query.py QUERY... [--limit N] [--explain | --metrics]
    python tools/run_query.py --profile [QUERY...]
    python tools/run_query.py --list

The one per-query tool over the declared query surface (the registry
behind `__spark_entry__.queries()`), at `$SPARK_GRAFT_SF_DIR` (default
sf0.1, as `bench.py`):

- default: show the first `--limit` rows and the row count;
- `--explain`: the formatted physical plan, the first thing to look at
  when a query misbehaves at scale
  (`run_query.py --explain Q > plans/rNN/Q_before.txt`);
- `--metrics`: EXECUTES the query and prints the per-operator runtime
  metrics (output rows, shuffle/spill bytes, scan stats) from the
  executed plan: the EXPLAIN ANALYZE twin, and the second thing to
  look at (a plan can look right and still spill);
- `--profile`: per query, an untimed warm-up, then the best of 2 reps
  of builder wall (plan construction plus eager passes: collects,
  checkpoints, index lifecycle writes) and noop-write action wall,
  each with the Spark jobs it launched (job-group tagged). A builder
  with many jobs is latency-bound (per-job fixed cost), one with zero
  jobs but a big wall is analyzer bound. Every registered query when
  none is named. One line per query on stderr, one JSON line on stdout:
  `{"cpus", "sf_dir", "queries": {name: {build_s, action_s,
  build_jobs, action_jobs}}}`. A core-scaling ratio is `build_s +
  action_s` from two runs at different `SPARK_GRAFT_CPUS` over the same
  dir (`tools/make_scaled_dir.py`).

Unknown names exit 2 before a Spark session starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROFILE_REPS = 2


def _noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _profile_rep(spark, builder, sf_dir: str, group: str) -> dict:
    sc = spark.sparkContext
    spark._jvm.System.gc()
    sc.setJobGroup(f"{group}_build", group)
    t0 = time.time()
    df = builder(spark, sf_dir)
    t1 = time.time()
    sc.setJobGroup(f"{group}_act", group)
    _noop_write(df)
    t2 = time.time()
    sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup
    return {
        "build_s": round(t1 - t0, 3),
        "action_s": round(t2 - t1, 3),
        "build_jobs": len(jobs(f"{group}_build")),
        "action_jobs": len(jobs(f"{group}_act")),
    }


def profile(spark, registry, names: list[str], sf_dir: str) -> dict:
    out: dict[str, dict] = {}
    for name in names:
        builder = registry[name].builder
        _noop_write(builder(spark, sf_dir))  # warm-up: codegen, file listing
        # a group per rep: a group's job ids accumulate across reps
        best = min(
            (_profile_rep(spark, builder, sf_dir, f"prof{rep}_{name}")
             for rep in range(PROFILE_REPS)),
            key=lambda r: r["build_s"] + r["action_s"],
        )
        out[name] = best
        print(
            f"{name:40s} build {best['build_s']:7.3f}s ({best['build_jobs']:3d} jobs)  "
            f"action {best['action_s']:7.3f}s ({best['action_jobs']:3d} jobs)",
            file=sys.stderr,
        )
    return out


def print_metrics(df) -> None:
    # force full execution of THIS DataFrame's QueryExecution (a
    # write/save would plan a fresh one whose metrics we can't
    # see): toRdd().count() runs every operator distributed, no
    # decoded rows reach the driver. Walk the plan only after —
    # metrics materialize on execution and AQE re-plans mid-run.
    qe = df._jdf.queryExecution()
    qe.toRdd().count()

    def walk(n, depth=0):
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            # AQE hides the (re-planned) tree behind the adaptive
            # root; after execution its final plan is available
            walk(n.executedPlan(), depth)
            return
        if name.endswith("QueryStage"):
            # QueryStageExec wraps each materialized AQE stage
            walk(n.plan(), depth)
            return
        shown = []
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = kv._1(), kv._2()
            if metric.value() > 0 and any(
                s in key for s in ("numOutputRows", "spill", "bytes",
                                   "numFiles", "numPartitions", "numRows")
            ):
                shown.append(f"{key}={metric.value():,}")
        print("  " * depth + f"{name}" + (f"  [{', '.join(shown)}]" if shown else ""))
        for i in range(n.children().length()):
            walk(n.children().apply(i), depth + 1)

    walk(qe.executedPlan())


def main() -> int:
    p = argparse.ArgumentParser(prog="run_query")
    p.add_argument("names", nargs="*", metavar="QUERY",
                   help="registered query names")
    p.add_argument("--limit", type=int, default=20)
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--explain", action="store_true",
                      help="print the formatted physical plan, not rows")
    mode.add_argument("--metrics", action="store_true",
                      help="execute and print per-operator runtime metrics")
    mode.add_argument("--profile", action="store_true",
                      help="time builder and noop action (best of 2) with "
                           "job counts; every query when none is named")
    mode.add_argument("--list", action="store_true", dest="list_queries",
                      help="list every registered query")
    args = p.parse_args()

    from meshtastic_airsensor_database_spark.plans import REGISTRY

    if args.list_queries:
        for name, q in REGISTRY.items():
            twin = "oracle" if q.oracle is not None else "rows-only"
            print(f"{name:36s} [{twin}] {q.description}")
        return 0
    if not args.names and not args.profile:
        p.error("QUERY required (or --profile / --list)")
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries {unknown}; try --list", file=sys.stderr)
        return 2

    from meshtastic_airsensor_database_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("run_query")
    spark.sparkContext.setLogLevel("ERROR")
    if args.profile:
        out = profile(spark, REGISTRY, args.names or list(REGISTRY), sf_dir)
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        print(json.dumps({"cpus": cpus, "sf_dir": sf_dir, "queries": out}))
        return 0
    for name in args.names:
        df = REGISTRY[name].builder(spark, sf_dir)
        if args.explain:
            fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            sys.stdout.write(df._jdf.queryExecution().explainString(fmt))
        elif args.metrics:
            print_metrics(df)
        else:
            df.show(args.limit, truncate=False)
            print(f"({df.count()} rows total)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
