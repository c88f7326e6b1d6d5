"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

Workloads: ``dashboard`` and ``curation`` (one client sweeping a query
set, see queries.py), ``ingest_backlog`` (a closed-loop drain of landed
packets) and ``ingest_live`` (packets landing on a schedule beside a
rollup reader), see ingest.py. Run from the repository root. Everything
a run writes goes under ``.perfbench/`` there.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, measured with tracing off; with ``--trace 1``
the per-layer metrics of a traced run (every per-layer metric of
BENCHMARK.json is printed for every workload; a layer the workload does
not exercise reads 0). The line before it is the full record for that
run (the workload-specific figures with their sample counts, the
correctness checks, the host and its calibration probes, and every
layer the traced run produced); it is also written to
``.perfbench/results/``, with the spans of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import env  # noqa: E402
import ingest  # noqa: E402
from queries import QUERY_SETS  # noqa: E402

WORKLOADS = ("dashboard", "curation", "ingest_backlog", "ingest_live")
SETUP_REPS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric(value, unit):
    return {"value": value, "unit": unit}


def setup(get_spark, conf, register) -> tuple[object, list[float], list[float]]:
    """Start the session cold and register the workload's inputs (the
    query tables, or an ingest stream started and stopped on an empty
    landing directory), ``SETUP_REPS`` times in this driver. Every
    repetition launches a fresh JVM. Returns the last session, each
    repetition's seconds, and the part of them ``get_spark`` took."""
    times, starts = [], []
    for i in range(SETUP_REPS):
        if i:
            spark.stop()
            env.stop_jvm()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{i}", extra_conf=conf)
        starts.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        register(spark)
        times.append(time.perf_counter() - t0)
    return spark, times, starts


QUERY_LAYERS = (
    "plans.builder_s", "plans.builder_jobs", "operators.action_s", "operators.action_jobs",
    "operators.action_stages", "operators.action_tasks", "operators.shuffle_write_bytes",
    "operators.spill_bytes", "operators.output_rows", "functions.python_rows",
)
INGEST_LAYERS = (
    "sources.latest_offset_ms", "sources.get_batch_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.query_planning_ms", "streaming.jobs_per_batch",
    *(f"streaming.phase.{ph}_s" for ph in ingest.PHASES), "streaming.batch_self_s",
    "streaming.rows_in", "streaming.fact_rows", "streaming.dedup_kept_ratio",
    "streaming.serve_build_s", "streaming.serve_collect_s", "streaming.serve_failed",
)


def layer_names(workload: str) -> set[str]:
    """The per-layer metrics a traced run of ``workload`` produces."""
    names = {"session.start_s", "trace.overhead_frac"}
    if workload == "ingest_backlog":
        return names | set(INGEST_LAYERS) | {"streaming.batch_floor_s"}
    if workload == "ingest_live":
        return names | set(INGEST_LAYERS) | {
            "streaming.state_rows", "streaming.state_bytes", "streaming.state_commit_ms", "gen.late_p99_s",
        }
    per_query = {f"{layer}.{q}" for layer in ("plans.builder_s", "operators.action_s") for q in QUERY_SETS[workload]}
    return names | set(QUERY_LAYERS) | per_query


def check_manifest(manifest: dict) -> None:
    """Every per-layer metric of BENCHMARK.json must come out of a traced
    run of one of its workloads; one that none produces could not move."""
    produced = set().union(*(layer_names(w["name"]) for w in manifest["workloads"]))
    never = [m["name"] for m in manifest["per_layer"] if m["name"] not in produced]
    if never:
        raise RuntimeError(f"per-layer metrics no workload of BENCHMARK.json produces: {never}")


def query_layers(res: dict, tracer, workload: str) -> dict:
    traced = [s for s in res["sweeps"] if s["traced"] and not s["failed"]]
    spans = tracer.records()
    n = max(1, len(traced))

    def total(prefix, key=None):
        return sum((s[key] if key else s["end"] - s["start"]) for s in spans
                   if s["name"].startswith(prefix) and (key is None or key in s)) / n

    def per_query(prefix, name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == f"{prefix}:{name}") / n

    queries = QUERY_SETS[workload]
    out = {
        "plans.builder_s": metric(total("plans.builder:"), "s"),
        "plans.builder_jobs": metric(total("plans.builder:", "jobs"), "count"),
        **{f"plans.builder_s.{q}": metric(per_query("plans.builder", q), "s") for q in queries},
        "operators.action_s": metric(total("operators.action:"), "s"),
        "operators.action_jobs": metric(total("operators.action:", "jobs"), "count"),
        "operators.action_stages": metric(total("operators.action:", "stages"), "count"),
        "operators.action_tasks": metric(total("operators.action:", "tasks"), "count"),
        **{f"operators.action_s.{q}": metric(per_query("operators.action", q), "s") for q in queries},
        "operators.shuffle_write_bytes": metric(total("operators.action:", "shuffle_write_bytes"), "bytes"),
        "operators.spill_bytes": metric(total("operators.action:", "spill_bytes"), "bytes"),
        "operators.output_rows": metric(total("operators.action:", "output_rows"), "rows"),
        "functions.python_rows": metric(
            total("plans.builder:", "python_rows") + total("operators.action:", "python_rows"), "rows"
        ),
    }
    plain = statistics.median(s["seconds"] for s in res["sweeps"] if not s["traced"] and not s["failed"])
    overhead = statistics.median(s["seconds"] for s in traced) / plain - 1 if traced else 0
    out["trace.overhead_frac"] = metric(overhead, "ratio")
    return out


def ingest_layers(res: dict, tracer, workload: str) -> dict:
    from packets import FACT_TABLES
    from spans import percentile

    batches = [b for b in res["batches"] if b["traced"]]
    progress = [b["progress"] for b in batches]
    n = max(1, len(batches))

    def median_ms(name):
        return statistics.median([p["durationMs"].get(name, 0) for p in progress] or [0])

    batch_spans = {b["span_id"] for b in batches}
    phase_s = dict.fromkeys(ingest.PHASES, 0.0)
    for s in tracer.records():
        if s["name"].startswith("streaming.phase:") and s["parent"] in batch_spans:
            phase_s[s["name"].split(":", 1)[1]] += (s["end"] - s["start"]) / n
    reads = [r for r in res["reads"] if r["ok"]]
    fact_rows = sum(res["checks"][t]["rows"] for t in FACT_TABLES)
    out = {
        "sources.latest_offset_ms": metric(median_ms("latestOffset"), "ms"),
        "sources.get_batch_ms": metric(median_ms("getBatch"), "ms"),
        "streaming.add_batch_ms": metric(median_ms("addBatch"), "ms"),
        "streaming.wal_commit_ms": metric(median_ms("walCommit"), "ms"),
        "streaming.query_planning_ms": metric(median_ms("queryPlanning"), "ms"),
        "streaming.jobs_per_batch": metric(statistics.median([b.get("jobs", 0) for b in batches] or [0]), "count"),
        **{f"streaming.phase.{ph}_s": metric(v, "s") for ph, v in phase_s.items()},
        "streaming.batch_self_s": metric(tracer.self_seconds(only=batch_spans).get("streaming.batch", 0.0) / n, "s"),
        "streaming.rows_in": metric(res["rows_in"], "rows"),
        "streaming.fact_rows": metric(fact_rows, "rows"),
        "streaming.dedup_kept_ratio": metric(fact_rows / res["lines"], "ratio"),
        "streaming.serve_build_s": metric(statistics.median([r["build_s"] for r in reads] or [0]), "s"),
        "streaming.serve_collect_s": metric(statistics.median([r["collect_s"] for r in reads] or [0]), "s"),
        "streaming.serve_failed": metric(len(res["reads"]) - len(reads), "count"),
    }
    if workload == "ingest_backlog":
        out["streaming.batch_floor_s"] = metric(res["batch_floor_s"], "s")
    else:
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        out.update({
            "streaming.state_rows": metric(state[-1]["numRowsTotal"] if state else 0, "rows"),
            "streaming.state_bytes": metric(state[-1]["memoryUsedBytes"] if state else 0, "bytes"),
            "streaming.state_commit_ms": metric(statistics.median([s["commitTimeMs"] for s in state] or [0]), "ms"),
            "gen.late_p99_s": metric(percentile(res["late"], 99), "s"),
        })
    traced_s = [b["seconds"] for b in batches]
    plain_s = [b["seconds"] for b in res["batches"] if not b["traced"]]
    overhead = statistics.median(traced_s) / statistics.median(plain_s) - 1 if traced_s and plain_s else 0
    out["trace.overhead_frac"] = metric(overhead, "ratio")
    return out


def load_manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Fail fast, before any Spark work, where the engine is absent or
    # BENCHMARK.json lists a per-layer metric no workload produces.
    import meshtastic_airsensor_database_spark  # noqa: F401

    manifest = load_manifest()
    check_manifest(manifest)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "runs", run_id)
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    env.configure(work)

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.session import get_spark

    from spans import Tracer

    spark = None
    try:
        if args.workload.startswith("ingest"):
            register = ingest.start_stop_stream(work)
        else:
            from tables import QUERY_TABLES, write_query_tables

            sf_dir = os.path.join(work, "data")
            write_query_tables(sf_dir)

            def register(spark):
                for t in QUERY_TABLES:
                    load(spark, sf_dir, t).schema

        spark, setup_times, start_times = setup(get_spark, env.session_conf(work), register)
        jvm = env.jvm_pid(spark)
        calibration = env.calibration(spark, base)
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        off = Tracer(spark, run_id, enabled=False)
        if args.workload.startswith("ingest"):
            runner = ingest.run_live if args.workload == "ingest_live" else ingest.run_backlog
            res = runner(spark, tracer, off, work, args.seed, args.seconds)
            correct = res["correct"]
            n_batches = len(res["batches"])
            named = {
                "batch_p50_s": (res["batch_p50_s"], "s", n_batches),
                "batch_p90_s": (res["batch_p90_s"], "s", n_batches),
                "ingest_rows_per_s": (res["ingest_rows_per_s"], "1/s", n_batches),
            }
            e2e = {
                "latency_p50_s": res["batch_p50_s"],
                "latency_p90_s": res["batch_p90_s"],
                "throughput_per_s": res["ingest_rows_per_s"],
            }
            n_reads = sum(r["ok"] for r in res["reads"])
            if args.workload == "ingest_backlog":
                named.update(
                    batch_floor_s=(res["batch_floor_s"], "s", len(res["probe_s"])),
                    per_row_share=(res["per_row_share"], "ratio", n_batches),
                    serve_p50_s=(res["serve_p50_s"], "s", n_reads),
                )
            else:
                named.update(
                    freshness_p50_s=(res["freshness_p50_s"], "s", len(res["freshness"])),
                    freshness_p90_s=(res["freshness_p90_s"], "s", len(res["freshness"])),
                    serve_p50_s=(res["serve_p50_s"], "s", n_reads),
                    serve_p90_s=(res["serve_p90_s"], "s", n_reads),
                )
                e2e.update(latency_p50_s=res["freshness_p50_s"], latency_p90_s=res["freshness_p90_s"])
        else:
            import queries

            res = queries.run(spark, tracer, off, sf_dir, base, args.workload, args.seed, args.seconds)
            correct = not res["gate"]["mismatches"] and not res["gate"]["errors"] and not res["failed"]
            named = {
                "sweep_s": (res["sweep_s"], "s", res["n_sweeps"]),
                "sweep_p90_s": (res["sweep_p90_s"], "s", res["n_sweeps"]),
                "query_p50_s": (res["query_p50_s"], "s", res["n_samples"]),
                "query_p90_s": (res["query_p90_s"], "s", res["n_samples"]),
            }
            # A sweep is one pass of the client over the query set; its
            # median is steadier than the median query, which is one of
            # the short queries. The tail is the 90th percentile of every
            # query sample, the slow queries' time: a percentile of a few
            # sweeps would be their maximum. Throughput takes the
            # fastest sweep, as bench.py's min-of-sweeps does.
            e2e = {
                "latency_p50_s": res["sweep_s"],
                "latency_p90_s": res["query_p90_s"],
                "throughput_per_s": len(res["names"]) / res["sweep_min_s"],
            }
        setup_s = statistics.median(setup_times)
        rss = env.peak_rss_mb(jvm)
        e2e.update(setup_s=setup_s, peak_rss_mb=rss)
        named.update(
            setup_s=(setup_s, "s", len(setup_times)),
            failed_frac=(res["failed"] / res["attempted"], "ratio", res["attempted"]),
            peak_rss_mb=(rss, "MB", 1),
        )
        layers = {}
        if args.trace:
            layer_fn = ingest_layers if args.workload.startswith("ingest") else query_layers
            layers = layer_fn(res, tracer, args.workload)
            layers["session.start_s"] = metric(statistics.median(start_times), "s")
            if set(layers) != layer_names(args.workload):
                raise RuntimeError(f"layer names drifted: {sorted(set(layers) ^ layer_names(args.workload))}")
            metrics = {m["name"]: layers.get(m["name"], metric(0, m["unit"])) for m in manifest["per_layer"]}
            tracer.write(os.path.join(results, f"{run_id}.spans.json"))
        else:
            metrics = {m["name"]: metric(e2e[m["name"]], m["unit"]) for m in manifest["end_to_end"]}
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "run_id": run_id, "correct": correct,
            "host": env.host(), "calibration_suite": calibration,
            "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
            "setup_times_s": setup_times,
            "get_spark_s": start_times,
            # every layer the run produced, those BENCHMARK.json does not list too
            "layers": layers,
            "detail": {k: v for k, v in res.items() if k not in ("sweeps", "reads", "batches", "freshness", "late")},
        }
        with open(os.path.join(results, f"{run_id}.json"), "w") as f:
            json.dump({**record, "raw": res}, f, default=str)
        print(json.dumps(record, default=str))
        print(json.dumps({
            "correct": bool(correct), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        env.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
