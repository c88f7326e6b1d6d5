"""Key-salting operators (operators/skew.py): semantics invariance,
outer-join guard, and the salted exchange plan shape."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.io_utils import load
from meshtastic_airsensor_database_spark.operators.skew import (
    SALT_COL,
    salted_join,
    with_salt,
)


def _li_pt(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_orderkey", "l_quantity"
    )
    pt = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    return li, pt


def _multiset(df):
    rows = df.collect()
    return sorted(tuple(x) for x in rows)


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, sf_dir, how):
    li, pt = _li_pt(spark, sf_dir)
    got = salted_join(li, pt, on=["partkey"], salt_n=8, how=how,
                      salt_on=["l_orderkey", "partkey"])
    want = li.join(pt, ["partkey"], how)
    assert sorted(got.columns) == sorted(want.columns)
    assert _multiset(got.select(*sorted(got.columns))) == _multiset(
        want.select(*sorted(want.columns))
    )


def test_salted_join_rejects_outer_builds(spark, sf_dir):
    li, pt = _li_pt(spark, sf_dir)
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="inner"):
            salted_join(li, pt, on=["partkey"], salt_n=4, how=how)
    with pytest.raises(ValueError, match="salt_n"):
        salted_join(li, pt, on=["partkey"], salt_n=0)


def test_salt_is_deterministic_and_bounded(spark, sf_dir):
    li, _ = _li_pt(spark, sf_dir)
    s1 = with_salt(li, 8, ["l_orderkey", "partkey"])
    mn, mx = s1.agg(F.min(SALT_COL), F.max(SALT_COL)).first()
    assert 0 <= mn and mx <= 7
    # same rows -> same salts on a second evaluation (no rand())
    a = _multiset(s1.select("l_orderkey", "partkey", SALT_COL))
    b = _multiset(with_salt(li, 8, ["l_orderkey", "partkey"])
                  .select("l_orderkey", "partkey", SALT_COL))
    assert a == b


def test_salted_join_shuffles_on_key_plus_salt(spark, sf_dir):
    """With broadcast disabled (the case salting exists for), the join
    must be an equi join whose exchanges hash-partition on
    (key, _salt) — the hot key's rows then spread across salt_n reduce
    tasks instead of one."""
    li, pt = _li_pt(spark, sf_dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(li, pt, on=["partkey"], salt_n=8,
                             salt_on=["l_orderkey", "partkey"])
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert re.search(rf"hashpartitioning\(partkey#\d+L?, {SALT_COL}", plan), plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
