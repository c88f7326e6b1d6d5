"""The query workloads: one client sweeping a fixed query set.

Each query is a registered builder (``plans.REGISTRY``): the builder
call builds the plan and runs any eager passes, the action executes the
returned plan in full on the executors (``toRdd().count()``: no rows
reach Python). A sample is builder plus action. The seed fixes the
order of the timed sweeps.

The first sweep is untimed. It checks correctness: every result is
collected and its order-insensitive value hash
(``tools/check_correctness.value_hash``) must equal that of the
query's DuckDB oracle twin on the same files. ``WARM_SWEEPS`` more
untimed sweeps finish warming the JVM; timed sweeps follow.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import traceback

# Sensor time-series queries over ``events``: almost all of their time
# is Spark action (scan, window, aggregate, as-of join, gap fill).
DASHBOARD = (
    "hourly_avg_by_node", "latest_reading_per_node", "rolling_avg_value",
    "outage_episodes", "asof_view_within_tolerance", "seasonal_anomaly_flags",
    "session_counts", "value_ks_drift",
)

# LLM-data curation queries over ``documents``/``embeddings``: most of
# their time is builder work (the index build/extend/probe lifecycle,
# a driver training loop, an eager pass) beside Spark actions.
CURATION = (
    "decon_index_report", "ann_pq_topk", "token_budget_selection",
    "exact_dedup_docs", "pii_redacted_docs",
)

# Untimed sweeps after the correctness sweep. On a 4-core host the
# curation sweep gets faster for four or five sweeps after the
# correctness sweep (7.2, 6.5, 6.4 s, then 5.4-6.1 s); two warm-up
# sweeps take the timed ones off the steepest part of that slope within
# the time a full check of the benchmark allows a run.
WARM_SWEEPS = 2

# Timed sweeps per run, at least: two samples of every query.
MIN_SWEEPS = 2

QUERY_SETS = {"dashboard": DASHBOARD, "curation": CURATION}


def sweep_order(workload: str, seed: int) -> list[str]:
    names = list(QUERY_SETS[workload])
    random.Random(seed).shuffle(names)
    return names


def oracle_hashes(names: list[str], sf_dir: str, tables, cache_path: str) -> dict[str, dict]:
    """Value hash and columns of each query's DuckDB oracle result.

    The input files are the same for every run, so the hashes are
    computed once per cache file, keyed by the oracle SQL and the
    input files' bytes, and read back after."""
    import hashlib

    import duckdb
    from check_correctness import value_hash

    import __spark_entry__ as entry

    digest = hashlib.sha256()
    for t in tables:
        with open(f"{sf_dir}/{t}.parquet", "rb") as f:
            digest.update(f.read())
    data_key = digest.hexdigest()
    oracles = entry.oracle_sql()
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    out, con = {}, None
    for name in names:
        key = hashlib.sha256((data_key + oracles[name]).encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            res = con.sql(oracles[name])
            cols = list(res.columns)
            rows = [tuple(r) for r in res.fetchall()]
            cache[key] = {"columns": sorted(cols), "rows": len(rows), "hash": value_hash(cols, rows)}
        out[name] = cache[key]
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out


def oracle_gate(spark, names: list[str], sf_dir: str, oracles: dict[str, dict]) -> dict:
    """Run each query once, collect it, and compare with its oracle."""
    from check_correctness import value_hash

    from meshtastic_airsensor_database_spark.plans import REGISTRY

    mismatches, errors, seconds = [], [], {}
    for name in names:
        t0 = time.time()
        try:
            df = REGISTRY[name].builder(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            cols = list(df.columns)
        except Exception:
            errors.append({"query": name, "error": traceback.format_exc(limit=3)})
            continue
        seconds[name] = (time.time() - t0, len(rows))
        want = oracles[name]
        if sorted(cols) != want["columns"] or value_hash(cols, rows) != want["hash"]:
            mismatches.append({"query": name, "rows": len(rows), "oracle_rows": want["rows"]})
    return {"checked": len(names), "mismatches": mismatches, "errors": errors, "per_query": seconds}


def _action(df) -> None:
    df._jdf.queryExecution().toRdd().count()


def run(spark, tracer, off, sf_dir: str, cache_dir: str, workload: str, seed: int, seconds: float) -> dict:
    from meshtastic_airsensor_database_spark.plans import REGISTRY
    from tables import QUERY_TABLES
    from spans import percentile, plan_metrics

    # The untimed sweeps run in the set's own order, so every run's JIT
    # warms up on the same sequence; the seed orders the timed sweeps.
    fixed = list(QUERY_SETS[workload])
    names = sweep_order(workload, seed)
    oracles = oracle_hashes(fixed, sf_dir, QUERY_TABLES, os.path.join(cache_dir, "oracle_hashes.json"))
    t0 = time.time()
    gate = oracle_gate(spark, fixed, sf_dir, oracles)
    gate["seconds"] = time.time() - t0

    def sweep(tr, order) -> dict:
        samples: dict[str, float] = {}
        failed = []
        for name in order:
            # GC fence outside the timed region, so one query's garbage
            # is not collected inside the next one's sample
            spark._jvm.System.gc()
            with tr.span(f"query:{name}") as q_span:
                try:
                    with tr.span(f"plans.builder:{name}", jobs=True) as b_span:
                        df = REGISTRY[name].builder(spark, sf_dir)
                    with tr.span(f"operators.action:{name}", jobs=True) as a_span:
                        _action(df)
                except Exception:
                    failed.append(name)
                    traceback.print_exc()
                    continue
            samples[name] = q_span.seconds
            if tr.enabled:
                b_span.attrs["query"] = a_span.attrs["query"] = name
                a_span.attrs.update(plan_metrics(df._jdf.queryExecution().executedPlan()))
        return {"traced": tr.enabled, "seconds": sum(samples.values()), "samples": samples, "failed": failed}

    # The first executions after the gate still compile and JIT:
    # WARM_SWEEPS untimed sweeps, then timed sweeps until ``seconds``
    # have passed (at least MIN_SWEEPS). A traced run alternates
    # untraced and traced sweeps, so the difference between them is the
    # tracing overhead.
    warm = [sweep(off, fixed) for _ in range(WARM_SWEEPS)]
    sweeps: list[dict] = []
    deadline = time.time() + seconds
    while len(sweeps) < MIN_SWEEPS or time.time() < deadline:
        traced = tracer.enabled and len(sweeps) % 2 == 1
        sweeps.append(sweep(tracer if traced else off, names))

    # A sweep in which a query failed is left out of every figure: its
    # time lacks that query. The failure still counts in ``failed``.
    failed = sum(len(s["failed"]) for s in warm + sweeps)
    plain = [s for s in sweeps if not s["traced"] and not s["failed"]]
    if not plain:
        raise RuntimeError(f"every timed sweep had a failing query: {[s['failed'] for s in sweeps]}")
    values = [v for s in plain for v in s["samples"].values()]
    sweep_s = [s["seconds"] for s in plain]
    return {
        "names": names,
        "gate": gate,
        "warm_s": [s["seconds"] for s in warm],
        "sweeps": sweeps,
        "failed": failed + len(gate["mismatches"]) + len(gate["errors"]),
        "attempted": len(names) * (1 + WARM_SWEEPS + len(sweeps)),
        "sweep_s": statistics.median(sweep_s),
        "sweep_p90_s": percentile(sweep_s, 90),
        "sweep_min_s": min(sweep_s),
        "n_sweeps": len(plain),
        "query_p50_s": statistics.median(values),
        "query_p90_s": percentile(values, 90),
        "n_samples": len(values),
    }
