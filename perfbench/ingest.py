"""The ingest workloads: seeded packets through the engine's ingest
stream (``run_ingest_stream`` with its public ``batch_processor`` hook
wrapped around ``idempotent_batch_processor``).

``ingest_backlog`` drains a pre-landed backlog in a closed loop on the
engine's default topology (in-batch dedup; no watermark dedup, as
``cli/ingest.py`` runs without ``--dedup``), ``FILES_PER_TRIGGER``
files per micro-batch. In landing order: a small warm-up batch, a
full-size warm-up batch, ``MEASURED_BATCHES`` full-size batches of
``FILES_PER_TRIGGER`` x ``BACKLOG_PACKETS`` packets, and a floor probe,
a batch of ``FILES_PER_TRIGGER`` x ``PROBE_PACKETS`` packets: its time
is the fixed per-batch cost, and the rest of a full-size batch's time
is per-row work. Each batch
is timed by ``StreamingQueryProgress.durationMs.triggerExecution``, so
file listing, planning and the offset and commit logs count with the
``foreachBatch`` body. After the drain, ``serve_series_stats`` is read
``SERVE_READS`` times from the settled rollup.

``ingest_live`` is an open loop: after ``WARM_FILES`` files are landed
and drained, one file of ``LIVE_PACKETS`` packets lands every
``LAND_INTERVAL_S`` whether or not ingest keeps up, on the default
trigger with watermark dedup, while one reader thread calls
``serve_series_stats`` on the hourly rollup every ``SERVE_INTERVAL_S``.
Freshness of a file runs from its scheduled landing time to the end of
the ``foreachBatch`` that committed it. A read that fails is counted
with its error class and never retried: the rollup's dynamic partition
overwrite deletes files a concurrent read may still be listing.

After the stream drains, the output is checked: rows per fact table and
in quarantine must equal ``packets.expected_counts`` for the micro-
batches the checkpoint says each file went to, and the served hourly
series must equal a recompute from the fact rows.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from datetime import datetime

from packets import FACT_TABLES, PacketGenerator, expected_counts
from spans import percentile

BACKLOG_PACKETS = 15_000
FILES_PER_TRIGGER = 4
MEASURED_BATCHES = 4
PROBE_PACKETS = 250
SERVE_READS = 5
LIVE_PACKETS = 250
LAND_INTERVAL_S = 0.5
SERVE_INTERVAL_S = 0.5
WARM_FILES = 4
PHASES = (
    "stats", "rollup", "dim_load", "dim_upsert", "dim_write",
    "facts_airwise_data", "facts_battery_data", "facts_airwise_datav1", "dlq_write",
)


class PhaseClock(dict):
    """A ``phase_clock`` mapping that also records each phase's
    interval as a span under the current batch span."""

    def __init__(self, tracer):
        super().__init__()
        self.tracer = tracer
        self.batch_span = None

    def __setitem__(self, name, total):
        end = time.time()
        start = end - (total - self.get(name, 0.0))
        super().__setitem__(name, total)
        self.tracer.add(f"streaming.phase:{name}", start, end, self.batch_span)


def error_class(exc: BaseException) -> str:
    text = str(exc)
    for known in ("FAILED_READ_FILE.FILE_NOT_EXIST", "java.io.FileNotFoundException"):
        if known in text:
            return known
    getter = getattr(exc, "getCondition", None)
    cond = getter() if getter else None
    return cond or type(exc).__name__


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """Landing file name -> id of the micro-batch that read it.

    The file-source log (``sources/0``) records each file under the
    source offset at which it was found; the offset log (``offsets``)
    records each micro-batch's end offset. A file found at offset k is
    read by the first micro-batch whose end offset reaches k."""
    found: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    found[os.path.basename(entry["path"])] = int(entry["batchId"])
    ends = []
    for path in glob.glob(os.path.join(checkpoint_dir, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as f:
                ends.append((json.loads(f.read().splitlines()[2])["logOffset"], int(name)))
    ends.sort()
    return {
        name: next(batch for end, batch in ends if end >= offset)
        for name, offset in found.items()
    }


def serve_read(spark, tracer, paths) -> dict:
    """One ``serve_series_stats`` read of the hourly temperature series,
    built and collected. A failure is recorded with its error class."""
    from meshtastic_airsensor_database_spark.streaming.rollup import serve_series_stats

    t0 = time.time()
    read = {"start": t0}
    try:
        with tracer.span("streaming.serve", jobs=True):
            df, source = serve_series_stats(
                spark, paths.table("airwise_data"), paths.table("airwise_hourly"), keys=["node"],
                grain="hour", ts_col="event_ts", value_col="temperature",
            )
            t1 = time.time()
            df.collect()
        read.update(ok=True, source=source, build_s=t1 - t0, collect_s=time.time() - t1)
    except Exception as exc:  # counted as a failed read, never retried
        read.update(ok=False, error=error_class(exc))
    read["seconds"] = time.time() - t0
    return read


class Reader(threading.Thread):
    """Polls ``serve_series_stats`` on a fixed cadence until stopped."""

    def __init__(self, spark, tracer, paths):
        super().__init__(name="serve-reader", daemon=True)
        self.spark, self.tracer, self.paths = spark, tracer, paths
        self.stop_event = threading.Event()
        self.reads: list[dict] = []

    def run(self):
        due = time.time()
        while not self.stop_event.is_set():
            self.reads.append(serve_read(self.spark, self.tracer, self.paths))
            due += SERVE_INTERVAL_S
            self.stop_event.wait(max(0.0, due - time.time()))
            due = max(due, time.time())


def check_output(spark, paths, expected: dict) -> dict:
    """Row counts per table against the generator, and the served
    hourly series against a recompute from the fact rows."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.streaming.rollup import serve_series_stats

    checks = {}
    for table in FACT_TABLES:
        n = spark.read.parquet(paths.table(table)).count()
        checks[table] = {"rows": n, "expected": expected[table], "ok": n == expected[table]}
    n = spark.read.json(paths.table("quarantine")).count()
    checks["quarantine"] = {"rows": n, "expected": expected["quarantine"], "ok": n == expected["quarantine"]}

    served, source = serve_series_stats(
        spark, paths.table("airwise_data"), paths.table("airwise_hourly"), keys=["node"],
        grain="hour", ts_col="event_ts", value_col="temperature",
    )
    facts = spark.read.parquet(paths.table("airwise_data"))
    recomputed = facts.groupBy(
        F.date_trunc("hour", "event_ts").alias("bucket_ts"), "node"
    ).agg(
        F.avg("temperature").alias("avg_value"), F.min("temperature").alias("min_value"),
        F.max("temperature").alias("max_value"), F.count("temperature").alias("n"),
    )

    def rows(df):
        return {
            (r.bucket_ts, r.node): (r.avg_value, r.min_value, r.max_value, r.n)
            for r in df.select("bucket_ts", "node", "avg_value", "min_value", "max_value", "n").collect()
        }

    def same(x, y):
        # the rollup's avg is a sum of partial sums over a count, so it
        # may differ from a one-pass avg in the last bits
        return x[1:] == y[1:] and abs(x[0] - y[0]) <= 1e-9 * max(abs(x[0]), abs(y[0]))

    a, b = rows(served), rows(recomputed)
    bad = sorted(k for k in a.keys() | b.keys() if k not in a or k not in b or not same(a[k], b[k]))
    checks["serve_vs_recompute"] = {
        "source": source, "rows": len(a), "ok": source == "rollup" and not bad,
        "mismatched": [str((k, a.get(k), b.get(k))) for k in bad[:3]],
    }
    return checks


def start_stop_stream(work_dir: str):
    """Setup step of the ingest workloads: start the ingest stream on a
    fresh, empty landing directory, wait for its first trigger, stop it."""
    from meshtastic_airsensor_database_spark.streaming.ingest import IngestPaths, run_ingest_stream

    count = iter(range(1_000_000))

    def register(spark):
        root = os.path.join(work_dir, f"setup-{next(count)}")
        paths = IngestPaths(os.path.join(root, "landing"), os.path.join(root, "out"))
        os.makedirs(paths.landing_dir)
        query = run_ingest_stream(spark, paths)
        try:
            query.processAllAvailable()
        finally:
            query.stop()

    return register


class Batches:
    """The ``foreachBatch`` body: the engine's ledgered processor, timed
    per micro-batch. A traced run traces odd micro-batches only (phase
    spans, job counts), so the even ones time the same stream without
    tracing, the baseline for the tracing overhead."""

    def __init__(self, paths, tracer, off, input_deduped: bool):
        from meshtastic_airsensor_database_spark.streaming.ingest import idempotent_batch_processor

        self.tracer, self.off = tracer, off
        self.clock = PhaseClock(tracer)
        self.plain = idempotent_batch_processor(paths, input_deduped=input_deduped)
        self.clocked = idempotent_batch_processor(paths, phase_clock=self.clock, input_deduped=input_deduped)
        self.done: dict[int, dict] = {}

    def __call__(self, batch_df, epoch_id):
        traced = self.tracer.enabled and epoch_id % 2 == 1
        with (self.tracer if traced else self.off).span("streaming.batch", jobs=True) as span:
            self.clock.batch_span = span
            (self.clocked if traced else self.plain)(batch_df, epoch_id)
        self.done[epoch_id] = {"id": epoch_id, "span_id": span.id, "start": span.start,
                               "end": span.end, "traced": traced, **span.attrs}


def _trigger_interval(progress: dict) -> tuple[float, float]:
    """Start and end (epoch seconds) of a micro-batch's trigger."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + progress["durationMs"]["triggerExecution"] / 1000


def _finish(spark, paths, batches, landed: dict[str, list[str]], dedup: bool, progress) -> dict:
    """Common tail of both workloads: check the output, attach each
    micro-batch's progress record and trigger interval."""
    mapping = file_batches(paths.checkpoint_dir)
    groups: dict[int, list[str]] = {}
    for name, lines in landed.items():
        groups.setdefault(mapping[name], []).extend(lines)
    expected = expected_counts([groups[b] for b in sorted(groups)], dedup_across_batches=dedup)
    by_id = {p.batchId: json.loads(p.json) for p in progress}
    for b in batches.done.values():
        b["progress"] = by_id.get(b["id"])
        if b["progress"]:
            b["trigger_start"], b["trigger_end"] = _trigger_interval(b["progress"])
            b["seconds"] = b["trigger_end"] - b["trigger_start"]
    return {
        "checks": check_output(spark, paths, expected),
        "expected": expected,
        "lines": sum(len(lines) for lines in landed.values()),
        "file_batches": mapping,
    }


def _summary(measured: list[dict]) -> dict:
    """Batch latencies are whole triggers; throughput is input rows over
    the wall time from the first measured trigger's start to the last
    one's end."""
    wall = max(b["trigger_end"] for b in measured) - min(b["trigger_start"] for b in measured)
    rows = sum(b["progress"]["numInputRows"] for b in measured)
    durations = [b["seconds"] for b in measured]
    return {
        "batches": measured,
        "rows_in": rows,
        "wall_s": wall,
        "ingest_rows_per_s": rows / wall,
        "batch_p50_s": statistics.median(durations),
        "batch_p90_s": percentile(durations, 90),
    }


def _tally(reads: list[dict]) -> dict[str, int]:
    errors: dict[str, int] = {}
    for r in reads:
        if not r["ok"]:
            errors[r["error"]] = errors.get(r["error"], 0) + 1
    return errors


def run_backlog(spark, tracer, off, work_dir: str, seed: int, seconds: float) -> dict:
    from meshtastic_airsensor_database_spark.sources.landing import write_packet_fixture
    from meshtastic_airsensor_database_spark.streaming.ingest import IngestPaths, run_ingest_stream

    paths = IngestPaths(os.path.join(work_dir, "landing"), os.path.join(work_dir, "out"))
    gen = PacketGenerator(seed)
    roles = ["warm-small", "warm", *["measured"] * MEASURED_BATCHES, "probe"]
    files = [
        (f"{i:02d}-{role}-{j}.jsonl", role, PROBE_PACKETS if role in ("warm-small", "probe") else BACKLOG_PACKETS)
        for i, role in enumerate(roles) for j in range(FILES_PER_TRIGGER)
    ]
    landed = {}
    base = time.time() - 2 * len(files)
    for i, (name, _, n) in enumerate(files):
        landed[name] = gen.lines(n)
        path = write_packet_fixture(paths.landing_dir, landed[name], name)
        # distinct modification times: the file source takes files in
        # that order, so micro-batch membership is the same every run
        os.utime(path, (base + 2 * i, base + 2 * i))
    batches = Batches(paths, tracer, off, input_deduped=False)
    query = run_ingest_stream(
        spark, paths, max_files_per_trigger=FILES_PER_TRIGGER, batch_processor=batches,
    )
    try:
        query.processAllAvailable()
    finally:
        progress = list(query.recentProgress)
        query.stop()
    out = _finish(spark, paths, batches, landed, dedup=False, progress=progress)
    reads = [serve_read(spark, tracer, paths) for _ in range(SERVE_READS)]
    ok_reads = [r for r in reads if r["ok"]]

    def of_role(role):
        ids = sorted({out["file_batches"][name] for name, r, _ in files if r == role})
        return [batches.done[b] for b in ids]

    measured = of_role("measured")
    probes = [b["seconds"] for b in of_role("probe")]
    floor = statistics.median(probes)
    summary = _summary(measured)
    failed_checks = sum(not c["ok"] for c in out["checks"].values())
    return {
        "mix": gen.mix.__dict__, **out, **summary,
        "probe_s": probes,
        "batch_floor_s": floor,
        # the share of a full-size batch that is not fixed per-batch cost
        "per_row_share": 1 - floor / summary["batch_p50_s"],
        "reads": reads,
        "read_errors": _tally(reads),
        "serve_p50_s": statistics.median(r["seconds"] for r in ok_reads) if ok_reads else None,
        "attempted": len(batches.done) + len(reads) + len(out["checks"]),
        "failed": len(reads) - len(ok_reads) + failed_checks,
        # nothing writes while these reads run, so none may fail
        "correct": failed_checks == 0 and len(ok_reads) == len(reads),
    }


def run_live(spark, tracer, off, work_dir: str, seed: int, seconds: float) -> dict:
    from meshtastic_airsensor_database_spark.sources.landing import write_packet_fixture
    from meshtastic_airsensor_database_spark.streaming.ingest import IngestPaths, run_ingest_stream

    paths = IngestPaths(os.path.join(work_dir, "landing"), os.path.join(work_dir, "out"))
    gen = PacketGenerator(seed)
    landed = {}
    for i in range(WARM_FILES):
        name = f"warm-{i:05d}.jsonl"
        landed[name] = gen.lines(LIVE_PACKETS)
        write_packet_fixture(paths.landing_dir, landed[name], name)
    live = [gen.lines(LIVE_PACKETS) for _ in range(max(1, int(seconds / LAND_INTERVAL_S)))]

    batches = Batches(paths, tracer, off, input_deduped=True)
    query = run_ingest_stream(spark, paths, dedup_within_watermark=True, batch_processor=batches)
    reader = Reader(spark, tracer, paths)
    try:
        query.processAllAvailable()
        warm = set(batches.done)
        reader.start()
        scheduled, late = {}, []
        t0 = time.time() + LAND_INTERVAL_S
        for i, lines in enumerate(live):
            due = t0 + i * LAND_INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            name = f"live-{i:05d}.jsonl"
            write_packet_fixture(paths.landing_dir, lines, name)
            late.append(time.time() - due)
            scheduled[name] = due
            landed[name] = lines
        query.processAllAvailable()
    finally:
        reader.stop_event.set()
        reader.join(timeout=60)
        progress = list(query.recentProgress)
        query.stop()

    out = _finish(spark, paths, batches, landed, dedup=True, progress=progress)
    freshness = [batches.done[out["file_batches"][n]]["end"] - due for n, due in scheduled.items()]
    measured = [batches.done[b] for b in sorted(set(batches.done) - warm) if batches.done[b].get("progress")]
    reads = reader.reads
    ok_reads = [r for r in reads if r["ok"]]
    failed_checks = sum(not c["ok"] for c in out["checks"].values())
    return {
        "mix": gen.mix.__dict__, **out, **_summary(measured),
        "freshness": freshness,
        "reads": reads,
        "read_errors": _tally(reads),
        "late": late,
        "attempted": len(measured) + len(reads) + len(out["checks"]),
        "failed": len(reads) - len(ok_reads) + failed_checks,
        "correct": failed_checks == 0,
        "freshness_p50_s": statistics.median(freshness),
        "freshness_p90_s": percentile(freshness, 90),
        "serve_p50_s": statistics.median(r["seconds"] for r in ok_reads) if ok_reads else None,
        "serve_p90_s": percentile([r["seconds"] for r in ok_reads], 90) if ok_reads else None,
    }
