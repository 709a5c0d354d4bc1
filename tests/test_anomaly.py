"""Trailing-window anomaly flags (operators/anomaly.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crysda_spark import Frame
from crysda_spark.operators.anomaly import anomaly_flags


def _series(spark, vals, key="a"):
    rows = [(key, i, float(v)) for i, v in enumerate(vals)]
    return Frame(spark.createDataFrame(rows, "k string, bucket int, v double"))


def test_anomaly_flags_spike(spark):
    vals = [10, 11, 9, 10, 11, 9, 10, 100, 10]   # spike at index 7
    out = {r["bucket"]: r for r in
           anomaly_flags(_series(spark, vals), "v", by="k",
                         order_col="bucket", window=7, z=3.0).sdf.collect()}
    assert out[7]["is_anomaly"] is True
    assert out[7]["zscore"] > 3
    # the row AFTER the spike: trailing window absorbs the outlier into
    # a huge stddev, so a normal value is not flagged
    assert out[8]["is_anomaly"] is False
    assert all(not out[i]["is_anomaly"] for i in range(7))  # cold start: never


def test_anomaly_cold_start_and_zero_variance(spark):
    flat = [5.0] * 10
    out = anomaly_flags(_series(spark, flat), "v", by="k",
                        window=4).sdf.collect()
    # zero trailing variance → NULL zscore, no flag (division guarded)
    assert all(r["zscore"] is None and r["is_anomaly"] is False for r in out)


def test_anomaly_per_key_isolation(spark):
    a = _series(spark, [1, 1, 1, 1, 50], key="a").sdf
    b = _series(spark, [50, 50, 50, 50, 50], key="b").sdf
    f = Frame(a.unionByName(b))
    out = {(r["k"], r["bucket"]): r["is_anomaly"]
           for r in anomaly_flags(f, "v", by="k", window=4, z=2.0).sdf.collect()}
    # key b is flat — nothing flagged despite key a's spike; a's spike
    # itself is unflagged only because a's trailing variance is zero
    # (guarded) — per-key isolation is the point here
    assert all(not out[("b", i)] for i in range(5))


def test_anomaly_validation(spark):
    f = _series(spark, [1, 2, 3])
    with pytest.raises(ValueError, match="window"):
        anomaly_flags(f, "v", window=1)
    bad = Frame(f.sdf.withColumn("zscore", F.lit(1.0)))
    with pytest.raises(ValueError, match="already exists"):
        anomaly_flags(bad, "v")


# --------------------------------------------------- winsorize / MAD
def test_winsorize_clamps_to_exact_quantiles(spark):
    from crysda_spark import from_records
    from crysda_spark.operators.anomaly import winsorize
    rows = [{"g": "a", "v": float(i)} for i in range(1, 101)]
    rows += [{"g": "a", "v": 1e9}, {"g": "b", "v": 5.0}]
    out = winsorize(from_records(spark, rows), "v", by="g",
                    q_lo=0.10, q_hi=0.90)
    a = [r.v_w for r in out.sdf.filter(F.col("g") == "a").collect()]
    assert max(a) < 1e9                      # the tail point clamped
    assert min(a) >= 1.0
    b = [r.v_w for r in out.sdf.filter(F.col("g") == "b").collect()]
    assert b == [5.0]                        # single-row group: v==q==v
    assert out.sdf.count() == len(rows)      # row count preserved


def test_winsorize_validation():
    import pytest as _pt
    from crysda_spark.operators.anomaly import winsorize
    with _pt.raises(ValueError, match="q_lo"):
        winsorize(None, "v", q_lo=0.9, q_hi=0.1)


def test_mad_outliers_robust_to_the_outlier_itself(spark):
    """The defining property vs z-scores: ONE extreme point cannot
    drag the baseline enough to hide itself or flag good points."""
    from crysda_spark import from_records
    from crysda_spark.operators.anomaly import mad_outliers
    rows = [{"g": "a", "v": float(v)}
            for v in [10, 11, 9, 10, 12, 10, 11, 9, 10, 1000]]
    out = {r.v: r.is_outlier
           for r in mad_outliers(from_records(spark, rows), "v",
                                 by="g", k=3.0).sdf.collect()}
    assert out[1000.0] is True
    assert all(not out[v] for v in out if v != 1000.0)


def test_mad_outliers_zero_mad_flags_nothing(spark):
    from crysda_spark import from_records
    from crysda_spark.operators.anomaly import mad_outliers
    rows = [{"g": "c", "v": 7.0}] * 9 + [{"g": "c", "v": 7.5}]
    out = mad_outliers(from_records(spark, rows), "v", by="g", k=3.0)
    assert out.sdf.filter(F.col("is_outlier")).count() == 0


def test_as_local_cardinality_cap(spark, monkeypatch):
    # the broadcast-back collect is capped (r9 advice): unbounded group
    # cardinality must fail with an actionable error, not a driver OOM
    from crysda_spark.operators import anomaly as am
    monkeypatch.setattr(am, "_LOCAL_CAP", 3)
    sdf = spark.range(10).selectExpr("id as g", "cast(id as double) as v")
    with pytest.raises(ValueError, match="too high-cardinality"):
        am.mad_outliers(Frame(sdf), "v", by="g")
    with pytest.raises(ValueError, match="too high-cardinality"):
        am.winsorize(Frame(sdf), "v", by="g")


def test_winsorize_mad_bounds_match_numpy_linear(spark):
    # winsorize/mad_outliers bounds are BIT-identical to numpy's
    # "linear" quantile over the group's present values (NULL and NaN
    # missing), on duplicate-heavy data in 3 groups
    import math
    import random

    import numpy as np
    from crysda_spark.operators import anomaly as am
    rng = random.Random(5)
    rows = [(rng.choice("xyz"), float(rng.randint(0, 40)) / 4)
            for _ in range(3000)] + [("x", None), ("z", float("nan"))]
    sdf = spark.createDataFrame(rows, "g string, v double")
    vals = {}
    for g, v in rows:
        if v is not None and not math.isnan(v):
            vals.setdefault(g, []).append(v)

    def q(a, p):
        return float(np.quantile(np.array(a), p, method="linear"))

    w = (am.winsorize(Frame(sdf), "v", by="g", q_lo=0.1, q_hi=0.9).sdf
         .groupBy("g").agg(F.min("v_w").alias("lo"), F.max("v_w").alias("hi")))
    assert {r.g: (r.lo.hex(), r.hi.hex()) for r in w.collect()} == \
        {g: (q(a, 0.1).hex(), q(a, 0.9).hex()) for g, a in vals.items()}
    m = (am.mad_outliers(Frame(sdf), "v", by="g", k=2.0).sdf
         .select("g", "_med", "_mad").distinct().collect())
    meds = {g: q(a, 0.5) for g, a in vals.items()}
    assert {r.g: (r._med.hex(), r._mad.hex()) for r in m} == \
        {g: (meds[g].hex(), q([abs(v - meds[g]) for v in a], 0.5).hex())
         for g, a in vals.items()}


def test_nan_group_key_fast_path_one_group(spark):
    # r10 advice: collected NaN doubles are distinct Python objects, so
    # a NaN grouping key fragmented the driver fast path's dict into one
    # group per row — and the duplicated bounds rows each rejoined every
    # NaN-key row (Spark joins treat NaN as equal), duplicating output.
    from crysda_spark.operators import anomaly as am
    rows = ([(float("nan"), float(v)) for v in range(10)]
            + [(1.0, float(v)) for v in range(10)])
    sdf = spark.createDataFrame(rows, "g double, v double")
    out_w = am.winsorize(Frame(sdf), "v", by="g", q_lo=0.1, q_hi=0.9)
    out_m = am.mad_outliers(Frame(sdf), "v", by="g", k=2.0)
    # row count preserved (no join fan-out), and the NaN group got ONE
    # consistent set of bounds
    assert out_w.sdf.count() == 20
    assert out_m.sdf.count() == 20
    nan_meds = {r["_med"] for r in
                out_m.sdf.filter(F.isnan("g")).select("_med").collect()}
    assert nan_meds == {4.5}
