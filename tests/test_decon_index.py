"""Persisted sign-LSH decontamination index (operators/decon_index.py):
build / extend / probe lifecycle for incremental eval decontamination —
new eval shards are checked against the full train corpus by reading
the INDEX, never the train embeddings table, and without shuffling the
index. The banding math is the shared functions/vectors.py helper the
oracle-pinned ``semantic_contaminated_evals_strict`` query uses; a
NumPy recomputation from ``hplsh_sign_py`` pins it here too."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.functions.vectors import (
    hplsh_sign_py,
    sign_band_rows,
)
from meshtastic_airsensor_database_spark.operators.decon_index import (
    DECON_BAND_BITS,
    DECON_BANDS,
    build_decon_index,
    extend_decon_index,
    probe_decon_index,
)

DIM = 6
TRAIN = [
    (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 1.0, 0.0, 0.0]),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture()
def index_path(tmp_path):
    return os.path.join(str(tmp_path), "decon_index")


def test_build_probe_finds_contaminating_neighbor(spark, index_path):
    build_decon_index(_df(spark, TRAIN), index_path)
    evals = _df(
        spark,
        [
            # parallel to train 1 -> identical signs on every plane ->
            # collides in all bands, exact cosine 1.0 >= 0.9
            (101, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
            # orthogonal to every indexed vector -> any band collision
            # is pruned by the exact verify (cosine 0 < threshold)
            (102, [0.0, 0.0, 0.0, 0.0, 1.0, 1.0]),
        ],
    )
    got = {
        (r.eval_id, r.train_id): r.cosine
        for r in probe_decon_index(evals, index_path).collect()
    }
    assert got == {(101, 1): 1.0}


def test_exact_verify_prunes_subthreshold_collisions(spark, index_path):
    """A pair that collides in EVERY band (the eval vector's dominant
    first component forces every projection's sign to match train 1's:
    |sign(p,0)*1.0| > |sign(p,5)*0.99| always) but whose exact cosine
    1/sqrt(1.9801) ~ 0.7107 is below the production threshold — the
    exact verify guarantees no false positives however hard the
    banding collides."""
    build_decon_index(_df(spark, TRAIN), index_path)
    evals = _df(spark, [(103, [1.0, 0.0, 0.0, 0.0, 0.0, 0.99])])
    assert probe_decon_index(evals, index_path).count() == 0
    # the same probe at a permissive threshold DOES surface the pair —
    # the banding admitted it; only the verify filter excluded it
    got = {
        (r.eval_id, r.train_id): r.cosine
        for r in probe_decon_index(evals, index_path, threshold=0.5).collect()
    }
    assert got == {(103, 1): pytest.approx(0.7107, abs=1e-4)}


def test_extend_then_probe_catches_new_train_shard(spark, index_path):
    build_decon_index(_df(spark, TRAIN), index_path)
    probe = _df(spark, [(201, [0.0, 0.0, 0.0, 0.0, 0.0, 3.0])])
    assert probe_decon_index(probe, index_path).count() == 0
    extend_decon_index(
        _df(spark, [(4, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0])]), index_path
    )
    got = {
        (r.eval_id, r.train_id): r.cosine
        for r in probe_decon_index(probe, index_path).collect()
    }
    assert got == {(201, 4): 1.0}
    # and the original corpus is still indexed (append did not clobber)
    again = _df(spark, [(202, [5.0, 0.0, 0.0, 0.0, 0.0, 0.0])])
    got2 = {
        (r.eval_id, r.train_id)
        for r in probe_decon_index(again, index_path).collect()
    }
    assert got2 == {(202, 1)}


def test_probe_plan_broadcasts_shard_never_shuffles_index(spark, index_path):
    """The 100-TB contract: every probe join broadcasts the EVAL side;
    the stored band/vector tables are scanned once each and never
    sort-merge-joined (which would shuffle the whole index per probe)."""
    build_decon_index(_df(spark, TRAIN), index_path)
    evals = _df(spark, [(101, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0])])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = (
        probe_decon_index(evals, index_path)
        ._jdf.queryExecution()
        .explainString(mode)
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_probe_drops_degenerate_index_buckets(spark, index_path):
    """The MAX_BUCKET guard, probe-side: a band key held by more than
    max_bucket indexed vectors (zero-ish/boilerplate embeddings) is
    dropped whole before the candidate join — one degenerate key must
    not fan a probe out by the bucket's size."""
    boiler = [1.0, 1.0, 1.0, 0.0, 0.0, 0.0]
    build_decon_index(
        _df(spark, [(i, list(boiler)) for i in range(5)]), index_path
    )
    probe = _df(spark, [(900, list(boiler))])
    # bucket size 5 > cap 4 -> dropped -> no candidates at all
    assert probe_decon_index(probe, index_path, max_bucket=4).count() == 0
    # with the cap above the bucket size the duplicates are all found
    got = {
        (r.eval_id, r.train_id)
        for r in probe_decon_index(probe, index_path, max_bucket=5).collect()
    }
    assert got == {(900, i) for i in range(5)}


def test_band_rows_match_numpy_recompute(spark):
    """Pin the shared banding helper against an independent Python
    recomputation from the md5 sign formula — projections fold in
    array order on both sides, so equality is exact. This also pins
    the refactored ``semantic_contaminated_evals_strict`` banding
    (same helper, same parameters) beyond its DuckDB oracle."""
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.5, -1.5, 2.0, 0.0, 3.0, -0.25]),
        (3, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),
    ]
    df = _df(spark, vecs).select("vec_id", F.col("embedding").alias("_v"))
    got = {
        (r.vec_id, r.band_idx): r.band_hash
        for r in sign_band_rows(
            df, "_v", DECON_BANDS, DECON_BAND_BITS, DIM, carry=("vec_id",)
        ).collect()
    }
    n_planes = DECON_BANDS * DECON_BAND_BITS
    for vid, v in vecs:
        projs = [
            sum(x * hplsh_sign_py(p, i) for i, x in enumerate(v))
            for p in range(n_planes)
        ]
        for b in range(DECON_BANDS):
            want = sum(
                (1 << j)
                for j in range(DECON_BAND_BITS)
                if projs[b * DECON_BAND_BITS + j] > 0
            )
            assert got[(vid, b)] == want, (vid, b)


def test_mismatched_params_or_dim_refused(spark, index_path):
    """A dim or banding-parameter mismatch vs the build's _meta.json
    stamp would corrupt the index silently (zip_with truncates against
    the sign matrix; different band-bit widths are a different key
    space) — extend and probe must refuse instead."""
    build_decon_index(_df(spark, TRAIN), index_path)
    wrong_dim = _df(spark, [(50, [1.0, 0.0])])  # dim 2 vs built dim 6
    with pytest.raises(ValueError, match="built with"):
        extend_decon_index(wrong_dim, index_path)
    with pytest.raises(ValueError, match="built with"):
        probe_decon_index(wrong_dim, index_path)
    ok = _df(spark, [(51, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0])])
    with pytest.raises(ValueError, match="built with"):
        probe_decon_index(ok, index_path, n_bands=4, band_bits=20)
    # matching parameters still work after the refusals
    assert probe_decon_index(ok, index_path, threshold=0.99).count() == 1


def test_missing_meta_stamp_refused(spark, index_path):
    """r10 verdict #3 / ADVICE: build writes _meta.json BEFORE any data
    table, so a missing stamp only ever means corruption — extend and
    probe must raise, never silently downgrade the mismatch guard to
    'caller owns discipline'."""
    build_decon_index(_df(spark, TRAIN), index_path)
    os.remove(os.path.join(index_path, "_meta.json"))
    shard = _df(spark, [(4, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0])])
    with pytest.raises(ValueError, match="no _meta.json stamp"):
        extend_decon_index(shard, index_path)
    with pytest.raises(ValueError, match="no _meta.json stamp"):
        probe_decon_index(shard, index_path)


def test_meta_stamp_written_before_data(spark, index_path, monkeypatch):
    """Crash-order pin: if the build dies at its first data write, the
    stamp must already be on disk IN THE STAGING DIR (the reverse order
    could leave data with no stamp, bypassing validation forever) — and
    since the whole build is staged (r11), the crash publishes NOTHING:
    no index appears at the path, probe refuses loudly, and a re-run
    build converges."""
    # patch the CONCRETE class — pyspark 4's classic DataFrame defines
    # its own `write` property shadowing pyspark.sql.DataFrame's
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    staging = index_path + ".build-staging"

    def _exploding_write(self):
        assert os.path.exists(os.path.join(staging, "_meta.json")), (
            "data write started before the _meta.json stamp landed"
        )
        raise RuntimeError("simulated crash at first data write")

    monkeypatch.setattr(ClassicDF, "write", property(_exploding_write))
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_decon_index(_df(spark, TRAIN), index_path)
    monkeypatch.undo()
    # nothing was published: no index dir, probe refuses loudly
    assert not os.path.exists(index_path)
    with pytest.raises(ValueError, match="no _meta.json stamp"):
        probe_decon_index(_df(spark, TRAIN), index_path).collect()
    # a re-run build sweeps the staging remnant and succeeds
    build_decon_index(_df(spark, TRAIN), index_path)
    assert not os.path.exists(staging)
    evals = _df(spark, [(101, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0])])
    assert probe_decon_index(evals, index_path).count() == 1


def test_rebuild_crash_never_mixes_generations(spark, index_path, monkeypatch):
    """The staged-swap contract (r11): a REBUILD that crashes mid-way
    leaves the ORIGINAL index fully intact — never new bands over old
    vectors (which would verify candidates against the wrong embeddings
    silently). Kill the rebuild at its second data write and probe."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    build_decon_index(_df(spark, TRAIN), index_path)
    evals = _df(spark, [(101, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0])])
    before = {(r.eval_id, r.train_id, r.cosine)
              for r in probe_decon_index(evals, index_path).collect()}

    real_write = ClassicDF.write
    calls = {"n": 0}

    def _second_write_dies(self):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-rebuild")
        return real_write.fget(self)

    monkeypatch.setattr(ClassicDF, "write", property(_second_write_dies))
    with pytest.raises(RuntimeError, match="mid-rebuild"):
        build_decon_index(
            _df(spark, [(9, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0])]), index_path
        )
    monkeypatch.undo()
    # the original generation is intact and untouched
    after = {(r.eval_id, r.train_id, r.cosine)
             for r in probe_decon_index(evals, index_path).collect()}
    assert after == before
    # the next (non-empty) lifecycle entry sweeps the dead staging
    extend_decon_index(
        _df(spark, [(9, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0])]), index_path
    )
    assert not os.path.exists(index_path + ".build-staging")


def test_crashed_extend_retry_converges(spark, index_path):
    """r10 ADVICE: extend appends vecs BEFORE bands, so the only crash
    state is vec rows with no band rows — inert (never candidates).
    Re-running the extend repairs it; the duplicate vec rows it leaves
    must not double-report pairs, and duplicate band rows (a retry of a
    COMPLETED extend) must not flip a legitimate bucket over the
    degenerate cap."""
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        _index_rows,
    )

    build_decon_index(_df(spark, TRAIN), index_path)
    shard = _df(spark, [(4, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0])])
    probe = _df(spark, [(201, [0.0, 0.0, 0.0, 0.0, 0.0, 3.0])])

    # simulate the crash: vecs landed, bands did not
    _, vecs, _ = _index_rows(shard, "vec_id", "embedding", DECON_BANDS, DECON_BAND_BITS)
    vecs.write.mode("append").parquet(os.path.join(index_path, "vecs"))
    # the orphaned vec rows are inert — the shard is not yet probed
    assert probe_decon_index(probe, index_path).count() == 0

    # the retry completes the extend; shard vec rows now exist twice
    extend_decon_index(shard, index_path)
    rows = probe_decon_index(probe, index_path).collect()
    assert [(r.eval_id, r.train_id, r.cosine) for r in rows] == [(201, 4, 1.0)]

    # retry of a COMPLETED extend: band rows duplicated too — the
    # distinct-id bucket count keeps the (single-vector) bucket alive
    # at max_bucket=1 where a raw row count of 2-3 would drop it
    extend_decon_index(shard, index_path)
    rows2 = probe_decon_index(probe, index_path, max_bucket=1).collect()
    assert [(r.eval_id, r.train_id, r.cosine) for r in rows2] == [(201, 4, 1.0)]


def test_probe_reports_pending_append(spark, index_path):
    """A leftover ``_APPEND_PENDING`` marker (an extend that crashed
    mid-publish) is reported by the probe as a RuntimeWarning."""
    from meshtastic_airsensor_database_spark.io_utils import _APPEND_PENDING_MARKER

    build_decon_index(_df(spark, TRAIN), index_path)
    open(os.path.join(index_path, _APPEND_PENDING_MARKER), "w").close()
    probe = _df(spark, [(201, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0])])
    with pytest.warns(RuntimeWarning, match="pending append"):
        rows = probe_decon_index(probe, index_path).collect()
    assert [(r.eval_id, r.train_id) for r in rows] == [(201, 1)]


def test_int8_storage_tier(spark, index_path):
    """storage='int8' stores quantized vectors (8x smaller verify
    scans); cosine runs directly on the int arrays because the
    per-vector scale cancels. Parallel pairs still score exactly 1.0,
    general pairs match the float64 tier within quantization error,
    and extend follows the INDEX's storage tier, not the caller's."""
    build_decon_index(_df(spark, TRAIN), index_path, storage="int8")
    stored = spark.read.parquet(os.path.join(index_path, "vecs"))
    assert dict(stored.dtypes)["vec"] == "array<int>"
    evals = _df(
        spark,
        [
            (101, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # parallel to train 1
            (103, [1.0, 0.0, 0.0, 0.0, 0.0, 0.99]),  # ~0.7107 with train 1
        ],
    )
    got = {
        (r.eval_id, r.train_id): r.cosine
        for r in probe_decon_index(evals, index_path, threshold=0.5).collect()
    }
    assert got[(101, 1)] == 1.0
    assert got[(103, 1)] == pytest.approx(0.7107, abs=2e-3)
    # extend encodes in the index's own tier -> schema does not fork
    extend_decon_index(
        _df(spark, [(4, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0])]), index_path
    )
    stored2 = spark.read.parquet(os.path.join(index_path, "vecs"))
    assert dict(stored2.dtypes)["vec"] == "array<int>"
    probe = _df(spark, [(201, [0.0, 0.0, 0.0, 0.0, 0.0, 3.0])])
    got2 = {
        (r.eval_id, r.train_id): r.cosine
        for r in probe_decon_index(probe, index_path).collect()
    }
    assert got2 == {(201, 4): 1.0}


def test_invalid_storage_rejected(spark, index_path):
    with pytest.raises(ValueError, match="storage must be one of"):
        build_decon_index(_df(spark, TRAIN), index_path, storage="fp4")


def test_probe_matches_duckdb_twin_on_real_embeddings(spark, sf_dir, index_path):
    """Oracle-grade pin of the PROBE math without registry load: build
    the index over the even-id half of the real sf0.001 embeddings,
    probe the odd-id half, and compare every (eval_id, train_id,
    cosine) pair against a DuckDB twin that derives the same md5 sign
    matrix element by element, applies the probe's TRAIN-side-only
    degenerate-bucket cap, and rounds cosine through the same decimal
    route. threshold=-1 keeps every banded candidate so the verify
    math is checked on all of them; a second pass at max_bucket=1
    exercises the cap in both engines."""
    import duckdb

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        DECON_BAND_BITS,
        DECON_BANDS,
    )
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        _DDB_COS,
        HPLSH_ORACLE_SALT,
    )

    # deterministic subset (an unordered limit() may pick different
    # rows for the build, probe, and toPandas jobs)
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 240)
    train = emb.filter(F.col("vec_id") % 2 == 0)
    evals = emb.filter(F.col("vec_id") % 2 == 1)
    build_decon_index(train, index_path)

    def band_sql(src):
        selects = []
        for b in range(DECON_BANDS):
            terms = []
            for j in range(DECON_BAND_BITS):
                p = b * DECON_BAND_BITS + j
                sign = (
                    "CASE WHEN (CAST(concat('0x', substr(md5("
                    f"'{HPLSH_ORACLE_SALT}:{p}:' || CAST(i - 1 AS VARCHAR)"
                    "), 1, 1)) AS INTEGER) & 1) = 1 THEN 1.0 ELSE -1.0 END"
                )
                proj = (
                    "list_sum(list_transform(range(1, len(v) + 1), "
                    f"i -> v[i] * ({sign})))"
                )
                terms.append(
                    f"CASE WHEN {proj} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
                )
            selects.append(
                f"SELECT vec_id, {b} AS band_idx, ("
                + " + ".join(terms)
                + f") AS band_hash FROM {src}"
            )
        return "\nUNION ALL\n".join(selects)

    con = duckdb.connect()
    con.register("train_pdf", train.toPandas())
    con.register("evals_pdf", evals.toPandas())
    cos = _DDB_COS.format(a="a.v", b="b.v")

    def twin(cap):
        return con.sql(f"""
WITH tr AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM train_pdf),
ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM evals_pdf),
tb_raw AS ({band_sql('tr')}),
tb AS (SELECT * FROM tb_raw
       QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {cap}),
eb AS ({band_sql('ev')}),
p AS (SELECT DISTINCT e.vec_id AS eval_id, t.vec_id AS train_id
      FROM eb e JOIN tb t USING (band_idx, band_hash))
SELECT eval_id, train_id,
       CAST(ROUND(CAST({cos} AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
FROM p JOIN ev a ON a.vec_id = eval_id JOIN tr b ON b.vec_id = train_id
""").fetchall()

    for cap in (100, 1):
        got = {
            (r.eval_id, r.train_id, r.cosine)
            for r in probe_decon_index(
                evals, index_path, threshold=-1.0, max_bucket=cap
            ).collect()
        }
        want = {tuple(r) for r in twin(cap)}
        assert got == want, (cap, len(got), len(want))
    # the parity must be over real work, not empty sets
    assert len(twin(100)) > 0


def test_empty_inputs_handled_per_lifecycle_stage(spark, index_path):
    """Automated pipelines hand the index whatever the upstream delta
    produced — sometimes nothing. build(empty) is a caller mistake and
    raises; extend(empty) is a no-op; probe(empty) returns an empty,
    schema-correct report instead of crashing on the dim peek."""
    empty = _df(spark, []).filter(F.lit(False))
    with pytest.raises(ValueError, match="empty corpus"):
        build_decon_index(empty, index_path)
    build_decon_index(_df(spark, TRAIN), index_path)
    n_band_rows = spark.read.parquet(
        os.path.join(index_path, "bands")
    ).count()
    extend_decon_index(empty, index_path)  # no-op, no new files/rows
    assert (
        spark.read.parquet(os.path.join(index_path, "bands")).count()
        == n_band_rows
    )
    out = probe_decon_index(empty, index_path)
    assert out.columns == ["eval_id", "train_id", "cosine"]
    assert out.count() == 0


def test_registered_lifecycle_query_equals_single_build(spark, sf_dir):
    """The registered ``decon_index_report`` query (driver-hash
    evidence for THIS module) must return exactly what a one-shot
    build over the full train corpus returns — i.e. the 2/3-build +
    1/3-extend split it runs internally is invisible in the report.
    Catches any extend-path divergence (encoding, banding, append
    clobber) the moment it would reach the driver's oracle gate."""
    import tempfile

    from meshtastic_airsensor_database_spark.io_utils import fan_out, load
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        SEMCON_EVAL_MOD,
        decon_index_report,
    )

    got = {
        (r.eval_id, r.train_id, r.cosine)
        for r in decon_index_report(spark, sf_dir).collect()
    }

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    is_eval = (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % SEMCON_EVAL_MOD
        == 0
    )
    path = os.path.join(tempfile.mkdtemp(prefix="decon_idx_t_"), "idx")
    build_decon_index(emb.filter(~is_eval), path)
    want = {
        (r.eval_id, r.train_id, r.cosine)
        for r in probe_decon_index(
            emb.filter(is_eval), path, threshold=-1.0
        ).collect()
    }
    assert got == want and len(got) > 0
