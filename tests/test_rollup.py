"""Hypertable-style rollup cascade: fine grain aggregated once, coarser
grains derived by merging partials — merged results must equal direct
aggregation of the raw data at the coarse grain, and HLL sketches must
merge losslessly (union of hourly sketches == daily sketch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crysda_spark import Frame
from crysda_spark.operators import rollup as ru
from crysda_spark.operators.rollup import merge_rollup, time_rollup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from crysda_spark import read_parquet
    return read_parquet(spark, f"{SF_DIR}/events.parquet", nanos_cols={"ts": "ts"})


MEASURES = dict(n="count", total=("sum", "value"),
                vmin=("min", "value"), vmax=("max", "value"),
                users=("hll", "user_id"))


def test_merged_daily_equals_direct_daily(events):
    hourly = ru.time_rollup(events, "ts", "hour", keys=["event_type"], **MEASURES)
    daily_merged = ru.merge_rollup(hourly, "day", keys=["event_type"], from_grain="hour", **MEASURES)
    daily_direct = ru.time_rollup(events, "ts", "day", keys=["event_type"], **MEASURES)

    m = {(r["event_type"], r["bucket"]): r for r in daily_merged.sdf.collect()}
    d = {(r["event_type"], r["bucket"]): r for r in daily_direct.sdf.collect()}
    assert set(m) == set(d) and len(m) > 0
    for k in d:
        assert m[k]["n"] == d[k]["n"]
        assert abs(m[k]["total"] - d[k]["total"]) < 1e-6
        assert m[k]["vmin"] == d[k]["vmin"]
        assert m[k]["vmax"] == d[k]["vmax"]


def test_hll_union_is_lossless_and_estimate_close(events):
    hourly = ru.time_rollup(events, "ts", "hour", **MEASURES)
    daily_merged = ru.merge_rollup(hourly, "day", from_grain="hour", **MEASURES)
    est = daily_merged.sdf.select(
        "bucket", ru.hll_estimate("users").alias("approx"))
    exact = (events.sdf
             .withColumn("bucket", F.date_trunc("day", F.col("ts")))
             .groupBy("bucket")
             .agg(F.countDistinct("user_id").alias("exact")))
    j = {r["bucket"]: (r["approx"], r["exact"])
         for r in est.join(exact, on="bucket").collect()}
    assert len(j) > 0
    for approx, exact_n in j.values():
        assert abs(approx - exact_n) / max(exact_n, 1) < 0.05

    # lossless merge: union of hourly sketches == direct daily sketch
    direct = ru.time_rollup(events, "ts", "day", **MEASURES).sdf.select(
        "bucket", ru.hll_estimate("users").alias("direct"))
    jj = est.join(direct, on="bucket").filter(
        F.col("approx") != F.col("direct")).count()
    assert jj == 0


def test_rollup_validates_kinds_and_grains(events):
    with pytest.raises(ValueError, match="not mergeable"):
        ru.time_rollup(events, "ts", "hour", bad=("avg", "value"))
    with pytest.raises(ValueError, match="unknown grain"):
        ru.time_rollup(events, "ts", "fortnight", n="count")
    with pytest.raises(ValueError, match="needs a column"):
        ru.time_rollup(events, "ts", "hour", s="sum")


def test_merge_rollup_rejects_week_to_month(events):
    weekly = ru.time_rollup(events, "ts", "week", n="count")
    with pytest.raises(ValueError, match="straddle month boundaries"):
        ru.merge_rollup(weekly, "month", from_grain="week", n="count")
    with pytest.raises(ValueError, match="not coarser"):
        ru.merge_rollup(weekly, "day", from_grain="week", n="count")
    # nested merges stay allowed
    ru.merge_rollup(weekly, "year", from_grain="day", n="count")


def test_streaming_batch_rollup_schema_parity(spark, events):
    """tumbling_rollup's output column order must equal time_rollup's so
    batch and stream partials union positionally (lambda architecture)."""
    from crysda_spark.streaming import windows as sw
    measures = dict(n="count", total=("sum", "value"))
    batch = ru.time_rollup(events, "ts", "hour", keys=["event_type"], **measures)
    stream_shape = sw.tumbling_rollup(
        events.sdf, width="1 hour", keys=["event_type"],
        watermark=None, **measures)  # batch df: schema-only check
    assert stream_shape.columns == batch.sdf.columns


# -------------------------------------------------------- hist measure
def _hist_events(spark):
    rows = []
    for h in range(3):                      # 3 hours of one day
        for i in range(10):
            rows.append((f"2024-03-01 0{h}:00:{i:02d}", float(h * 10 + i)))
    rows.append(("2024-03-02 05:00:00", 250.0))  # clamps into last bin
    rows.append(("2024-03-02 06:00:00", -5.0))   # clamps into bin 0
    return Frame(spark.createDataFrame(rows, "ts string, v double")
                 .withColumn("ts", F.col("ts").cast("timestamp")))


def test_hist_cascade_merges_exactly(spark):
    """hour→day merged histograms must equal histograms built directly
    at day grain — the mergeability contract, bin for bin."""
    f = _hist_events(spark)
    spec = ("hist", "v", 0.0, 100.0, 10)
    hourly = time_rollup(f, "ts", "hour", h=spec)
    daily = merge_rollup(hourly, "day", from_grain="hour", h=spec)
    direct = time_rollup(f, "ts", "day", h=spec)
    a = {str(r["bucket"]): list(r["h"]) for r in daily.sdf.collect()}
    b = {str(r["bucket"]): list(r["h"]) for r in direct.sdf.collect()}
    assert a == b
    # clamping: day 2 has one value above hi (→ last bin), one below lo
    day2 = a["2024-03-02 00:00:00"]
    assert day2[0] == 1 and day2[-1] == 1 and sum(day2) == 2


def test_hist_quantile_matches_hand_interpolation(spark):
    from crysda_spark.operators.rollup import hist_quantile
    f = _hist_events(spark)
    spec = ("hist", "v", 0.0, 100.0, 10)
    daily = time_rollup(f, "ts", "day", h=spec)
    out = {str(r["bucket"]): r for r in daily.sdf.select(
        "bucket",
        hist_quantile("h", 0.5, 0.0, 100.0, 10).alias("p50"),
        hist_quantile("h", 0.0, 0.0, 100.0, 10).alias("p0"),
        hist_quantile("h", 1.0, 0.0, 100.0, 10).alias("p100")).collect()}
    # day 1: 30 values uniform over bins 0-2 (10 each). target=15 →
    # bin 1, interp 10 + 10*(15-10)/10 = 15.0
    d1 = out["2024-03-01 00:00:00"]
    assert abs(d1["p50"] - 15.0) < 1e-9
    assert d1["p0"] == 0.0 and abs(d1["p100"] - 30.0) < 1e-9


def test_hist_quantile_within_bin_width_of_exact(spark):
    import numpy as np
    from crysda_spark.operators.rollup import hist_quantile
    rng = np.random.default_rng(11)
    vals = rng.uniform(0, 100, 500).tolist()
    f = Frame(spark.createDataFrame(
        [("2024-01-01 00:00:00", v) for v in vals], "ts string, v double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    daily = time_rollup(f, "ts", "day", h=("hist", "v", 0.0, 100.0, 50))
    got = daily.sdf.select(
        hist_quantile("h", 0.9, 0.0, 100.0, 50).alias("p90")).collect()[0]["p90"]
    exact = float(np.quantile(np.array(vals), 0.9))
    assert abs(got - exact) <= 2.0 + 1e-9  # one bin width


def test_hist_spec_validation(spark):
    f = _hist_events(spark)
    with pytest.raises(ValueError, match="hist needs"):
        time_rollup(f, "ts", "hour", h=("hist", "v"))
    with pytest.raises(ValueError, match="nbins"):
        time_rollup(f, "ts", "hour", h=("hist", "v", 0.0, 1.0, 0))
    with pytest.raises(ValueError, match="hi > lo"):
        time_rollup(f, "ts", "hour", h=("hist", "v", 5.0, 1.0, 4))
    from crysda_spark.operators.rollup import hist_quantile
    with pytest.raises(ValueError, match="q must be"):
        hist_quantile("h", 1.5, 0.0, 1.0, 4)


def test_hist_quantile_null_for_empty(spark):
    from crysda_spark.operators.rollup import hist_quantile
    f = Frame(_hist_events(spark).sdf.withColumn(
        "v", F.lit(None).cast("double")))
    daily = time_rollup(f, "ts", "day", h=("hist", "v", 0.0, 100.0, 4))
    got = daily.sdf.select(
        hist_quantile("h", 0.5, 0.0, 100.0, 4).alias("p")).collect()
    assert all(r["p"] is None for r in got)


# ----------------------------------------------------- moments measure
def test_moments_cascade_and_variance(spark):
    import numpy as np
    f = _hist_events(spark)
    spec = ("moments", "v")
    hourly = time_rollup(f, "ts", "hour", m=spec)
    daily = merge_rollup(hourly, "day", from_grain="hour", m=spec)
    direct = time_rollup(f, "ts", "day", m=spec)
    a = {str(r["bucket"]): tuple(r["m"]) for r in daily.sdf.collect()}
    b = {str(r["bucket"]): tuple(r["m"]) for r in direct.sdf.collect()}
    assert a == b
    from crysda_spark.operators.rollup import (moments_mean, moments_stddev,
                                               moments_variance)
    got = {str(r["bucket"]): r for r in daily.sdf.select(
        "bucket", moments_mean("m").alias("mu"),
        moments_variance("m").alias("var"),
        moments_stddev("m").alias("sd")).collect()}
    vals = np.array([h * 10 + i for h in range(3) for i in range(10)],
                    dtype=float)
    d1 = got["2024-03-01 00:00:00"]
    assert abs(d1["mu"] - vals.mean()) < 1e-9
    assert abs(d1["var"] - vals.var(ddof=1)) < 1e-9
    assert abs(d1["sd"] - vals.std(ddof=1)) < 1e-9


def test_moments_degenerate_groups(spark):
    from crysda_spark.operators.rollup import moments_variance
    f = Frame(spark.createDataFrame(
        [("2024-03-01 00:00:00", 5.0)], "ts string, v double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    daily = time_rollup(f, "ts", "day", m=("moments", "v"))
    got = daily.sdf.select(moments_variance("m").alias("v")).collect()[0]
    assert got["v"] is None  # n=1, ddof=1 → undefined, not a crash


def test_moments_spec_validation(spark):
    f = _hist_events(spark)
    with pytest.raises(ValueError, match="moments needs"):
        time_rollup(f, "ts", "hour", m="moments")


def test_moments_8dp_square_exact(spark):
    """r7 regression: the squared state must carry 8 exact decimal
    places. 0.0625² = 0.00390625; the old decimal(28,8)² state
    collapsed to decimal(38,6) and stored 0.00390600."""
    from decimal import Decimal
    f = Frame(spark.createDataFrame(
        [("2024-03-01 00:00:00", 0.0), ("2024-03-01 01:00:00", 0.0625)],
        "ts string, v double").withColumn("ts", F.col("ts").cast("timestamp")))
    daily = time_rollup(f, "ts", "day", m=("moments", "v"))
    m = daily.sdf.select("m").collect()[0]["m"]
    assert m["s2"] == Decimal("0.00390625")
    from crysda_spark.operators.rollup import moments_stddev
    sd = daily.sdf.select(moments_stddev("m").alias("sd")).collect()[0]["sd"]
    import numpy as np
    assert sd == pytest.approx(np.std([0.0, 0.0625], ddof=1), rel=1e-12)


def test_moments_overflow_raises_not_nulls(spark):
    """|x| ≥ 1e10 overflows the decimal(18,8) operand; the contract is
    an ERROR, never a silent null that F.sum would skip (which yields
    a wrong — not null — variance)."""
    # Under ANSI mode (Spark 4 default) the cast itself raises; with
    # ANSI off, the explicit raise_error guard fires. Either way: error.
    from pyspark.errors import PySparkException
    f = Frame(spark.createDataFrame(
        [("2024-03-01 00:00:00", 1.0), ("2024-03-01 01:00:00", 1.5e10)],
        "ts string, v double").withColumn("ts", F.col("ts").cast("timestamp")))
    daily = time_rollup(f, "ts", "day", m=("moments", "v"))
    with pytest.raises(PySparkException,
                       match=r"1e10|Decimal\(18, ?8\)"):
        daily.sdf.collect()


# -------------------------------------------------------- cms measure
def test_cms_cascade_and_point_estimates(spark):
    from crysda_spark.operators.rollup import cms_estimate
    rows = []
    for h in range(3):
        rows += [(f"2024-03-01 {h:02d}:00:00", 7)] * 5     # key 7: 15 total
        rows += [(f"2024-03-01 {h:02d}:30:00", 11)] * 2    # key 11: 6 total
    rows += [("2024-03-02 01:00:00", 7)]                   # day 2: one 7
    f = Frame(spark.createDataFrame(rows, "ts string, k long")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    spec = ("cms", "k", 4, 32)
    hourly = time_rollup(f, "ts", "hour", c=spec)
    daily = merge_rollup(hourly, "day", from_grain="hour", c=spec)
    direct = time_rollup(f, "ts", "day", c=spec)
    a = {str(r["bucket"]): list(r["c"]) for r in daily.sdf.collect()}
    b = {str(r["bucket"]): list(r["c"]) for r in direct.sdf.collect()}
    assert a == b                       # merge exactness, counter for counter
    got = {str(r["bucket"]): r for r in daily.sdf.select(
        "bucket",
        cms_estimate("c", F.lit(7), 4, 32).alias("e7"),
        cms_estimate("c", F.lit(11), 4, 32).alias("e11"),
        cms_estimate("c", F.lit(9999), 4, 32).alias("e_absent")).collect()}
    d1 = got["2024-03-01 00:00:00"]
    # CMS never under-counts; with 21 items in a 4×32 sketch it is exact
    assert d1["e7"] == 15 and d1["e11"] == 6 and d1["e_absent"] == 0
    assert got["2024-03-02 00:00:00"]["e7"] == 1


def test_cms_overestimates_only(spark):
    import numpy as np
    from crysda_spark.operators.rollup import cms_estimate
    rng = np.random.default_rng(5)
    keys = rng.integers(0, 200, 2000).tolist()
    f = Frame(spark.createDataFrame(
        [("2024-03-01 00:00:00", int(k)) for k in keys], "ts string, k long")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    daily = time_rollup(f, "ts", "day", c=("cms", "k", 4, 64))
    from collections import Counter
    truth = Counter(keys)
    probes = sorted(truth)[:30]
    est = daily.sdf.select(
        *[cms_estimate("c", F.lit(int(k)), 4, 64).alias(f"k{k}")
          for k in probes]).collect()[0]
    for k in probes:
        assert est[f"k{k}"] >= truth[k]            # never under
        assert est[f"k{k}"] <= truth[k] + 2000 // 16  # loose CMS bound


def test_hist_cms_non_plain_inputs_match_plain(spark, tmp_path):
    """hist/cms inputs are projected to a plain alias before the
    aggregate, so a dotted struct ref, a name with a space and a Column
    expression each give the state of an equivalent plain column — in
    batch time_rollup and in a streaming tumbling_rollup, which share
    fine_measure_exprs."""
    from crysda_spark.streaming import windows as sw

    raw = spark.createDataFrame(
        [("2024-03-01 00:10:00", 0.5, 3), ("2024-03-01 00:20:00", 2.5, 7),
         ("2024-03-01 00:30:00", None, None),
         ("2024-03-01 01:05:00", 3.9, 3), ("2024-03-01 01:40:00", -1.0, 12)],
        "ts string, v double, k long").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "events")
    raw.coalesce(1).write.parquet(src)

    def shaped(sdf):
        return sdf.select(
            "ts", "v", "k", F.struct("v", "k").alias("s"),
            F.col("v").alias("v w"), F.col("k").alias("k w"),
            (F.col("v") * 2).alias("v2"), (F.col("k") + 1).alias("k1"))

    measures = dict(
        h=("hist", "v", 0.0, 4.0, 4), h_dot=("hist", "s.v", 0.0, 4.0, 4),
        h_sp=("hist", "v w", 0.0, 4.0, 4),
        h2=("hist", "v2", 0.0, 8.0, 4),
        h2_expr=("hist", F.col("s.v") * 2, 0.0, 8.0, 4),
        c=("cms", "k", 2, 8), c_dot=("cms", "s.k", 2, 8),
        c_sp=("cms", "k w", 2, 8),
        c1=("cms", "k1", 2, 8), c1_expr=("cms", F.col("s.k") + 1, 2, 8))
    same = [("h", "h_dot"), ("h", "h_sp"), ("h2", "h2_expr"),
            ("c", "c_dot"), ("c", "c_sp"), ("c1", "c1_expr")]

    def states(rows):
        return {str(r["bucket"]): {m: list(r[m]) for m in measures}
                for r in rows}

    batch = states(time_rollup(Frame(shaped(raw)), "ts", "hour",
                               **measures).sdf.collect())
    assert batch["2024-03-01 00:00:00"]["h"] == [1, 0, 1, 0]
    assert batch["2024-03-01 01:00:00"]["h"] == [1, 0, 0, 1]
    for st in batch.values():
        assert sum(st["c"]) == 2 * sum(st["h"])   # d rows, one count each
        for plain, odd in same:
            assert st[odd] == st[plain], (plain, odd)

    stream = shaped(sw.stream_from_parquet_dir(spark, src, raw.schema))
    out = sw.tumbling_rollup(stream, width="1 hour", watermark=None,
                             **measures)
    q = sw.run_to_memory(out, "rollup_non_plain", mode="complete")
    q.processAllAvailable()
    live = states(spark.table("rollup_non_plain").collect())
    q.stop()
    assert live == batch


def test_cms_spec_validation(spark):
    f = _hist_events(spark)
    with pytest.raises(ValueError, match="cms needs"):
        time_rollup(f, "ts", "hour", c=("cms", "v"))
    with pytest.raises(ValueError, match="depth"):
        time_rollup(f, "ts", "hour", c=("cms", "v", 9, 32))
    with pytest.raises(ValueError, match="width"):
        time_rollup(f, "ts", "hour", c=("cms", "v", 2, 1))


# ----------------------------------------------------- combine / gapfill
def test_combine_rollups_incremental_ingest(spark):
    f = _hist_events(spark)
    spec = dict(n="count", h=("hist", "v", 0.0, 100.0, 10),
                m=("moments", "v"))
    day1 = Frame(f.sdf.filter(F.col("ts") < "2024-03-02"))
    day2 = Frame(f.sdf.filter(F.col("ts") >= "2024-03-02"))
    a = time_rollup(day1, "ts", "hour", **spec)
    b = time_rollup(day2, "ts", "hour", **spec)
    combined = ru.combine_rollups(a, b, "hour", **spec)
    direct = time_rollup(f, "ts", "hour", **spec)
    ca = {str(r["bucket"]): (r["n"], list(r["h"]), tuple(r["m"]))
          for r in combined.sdf.collect()}
    cd = {str(r["bucket"]): (r["n"], list(r["h"]), tuple(r["m"]))
          for r in direct.sdf.collect()}
    assert ca == cd


def test_gapfill_fills_and_locf(spark):
    rows = [("a", "2024-03-01 00:00:00", 1.0),
            ("a", "2024-03-01 03:00:00", 4.0),   # hours 1, 2 missing
            ("b", "2024-03-01 05:00:00", 9.0)]
    f = Frame(spark.createDataFrame(rows, "k string, ts string, v double")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    hourly = time_rollup(f, "ts", "hour", keys="k",
                         n="count", s=("sum", "v"))
    out = ru.gapfill(hourly, "hour", keys="k", fill={"n": 0}, locf=["s"])
    got = {(r["k"], str(r["bucket"])): (r["n"], r["s"])
           for r in out.sdf.collect()}
    assert got[("a", "2024-03-01 01:00:00")] == (0, 1.0)   # filled + locf
    assert got[("a", "2024-03-01 02:00:00")] == (0, 1.0)
    assert got[("a", "2024-03-01 03:00:00")] == (1, 4.0)
    # key b: single bucket → no fills; spine is per-key, not global
    assert len([k for k in got if k[0] == "b"]) == 1


def test_gapfill_validation(spark):
    f = _hist_events(spark)
    hourly = time_rollup(f, "ts", "hour", n="count")
    with pytest.raises(ValueError, match="grain"):
        ru.gapfill(hourly, "month", keys="n")
    with pytest.raises(ValueError, match="key column"):
        ru.gapfill(hourly, "hour")


def test_gapfill_rejects_unknown_fill_columns(spark):
    f = _hist_events(spark)
    hourly = time_rollup(f, "ts", "hour", keys=(), n="count")
    hourly2 = Frame(hourly.sdf.withColumn("k", F.lit("x")))
    with pytest.raises(ValueError, match="not in frame"):
        ru.gapfill(hourly2, "hour", keys="k", fill={"typo": 0})
    with pytest.raises(ValueError, match="not in frame"):
        ru.gapfill(hourly2, "hour", keys="k", locf=["typo"])


def test_suggest_hist_bounds(spark):
    from crysda_spark.operators.rollup import (hist_quantile,
                                               suggest_hist_bounds,
                                               time_rollup)
    f = Frame(spark.createDataFrame(
        [("2024-03-01 00:00:00", float(v)) for v in range(10, 61)],
        "ts string, v double").withColumn("ts", F.col("ts").cast("timestamp")))
    lo, hi = suggest_hist_bounds(f, "v")
    assert (lo, hi) == (10.0, 60.0)
    lo2, hi2 = suggest_hist_bounds(f, "v", pad_frac=0.1)
    assert (lo2, hi2) == (5.0, 65.0)
    # feeds the hist measure directly
    daily = time_rollup(f, "ts", "day", h=("hist", "v", lo, hi, 10))
    med = daily.sdf.select(
        hist_quantile("h", 0.5, lo, hi, 10).alias("m")).collect()[0]["m"]
    assert abs(med - 35.0) <= (hi - lo) / 10 + 1e-9
    import pytest
    empty = Frame(spark.createDataFrame([(None,)], "v double"))
    with pytest.raises(ValueError, match="all-null"):
        suggest_hist_bounds(empty, "v")


# ------------------------------------------------------------- ksample
def test_ksample_exact_when_small_and_partition_invariant(spark):
    """Buckets with <= k rows sample EVERYTHING (quantiles exact), and
    the state is identical under different partitionings (bottom-k by
    hash is associative + commutative)."""
    import numpy as np
    from crysda_spark import Frame
    from crysda_spark.operators.rollup import ksample_quantile, time_rollup
    rows = [(i, f"2024-01-01 0{i % 3}:10:00", float((i * 37) % 101))
            for i in range(90)]
    sdf = spark.createDataFrame(rows, "id long, ts string, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    r1 = time_rollup(Frame(sdf), "ts", "hour",
                     s=("ksample", "v", "id", 128))
    r2 = time_rollup(Frame(sdf.repartition(13)), "ts", "hour",
                     s=("ksample", "v", "id", 128))
    q1 = {r.bucket: r.p for r in r1.sdf.select(
        "bucket", ksample_quantile("s", 0.5).alias("p")).collect()}
    q2 = {r.bucket: r.p for r in r2.sdf.select(
        "bucket", ksample_quantile("s", 0.5).alias("p")).collect()}
    assert q1 == q2
    # exact: every hour has 30 rows <= k=128, so p50 = 15th smallest
    for b, vals in [(b, sorted(float((i * 37) % 101)
                               for i in range(90) if i % 3 == h))
                    for h, b in enumerate(sorted(q1))]:
        assert q1[b] == vals[int(np.ceil(0.5 * len(vals))) - 1]


def test_ksample_cascade_equals_direct(spark):
    """merge_rollup(hour -> day) must produce the IDENTICAL state as
    sampling the day bucket directly — exact associativity, the
    property that makes the sketch cascade- and oracle-safe."""
    from crysda_spark import Frame
    from crysda_spark.operators.rollup import merge_rollup, time_rollup
    rows = [(i, f"2024-01-0{1 + i % 2} {i % 24:02d}:00:30", float(i) / 7)
            for i in range(2000)]
    sdf = spark.createDataFrame(rows, "id long, ts string, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    f = Frame(sdf)
    hourly = time_rollup(f, "ts", "hour", s=("ksample", "v", "id", 64))
    daily_c = merge_rollup(hourly, "day", from_grain="hour",
                           s=("ksample", "v", "id", 64))
    daily_d = time_rollup(f, "ts", "day", s=("ksample", "v", "id", 64))
    a = {r.bucket: r.s for r in daily_c.sdf.collect()}
    b = {r.bucket: r.s for r in daily_d.sdf.collect()}
    assert a == b


def test_ksample_rank_error_bound(spark):
    """Sampling error: with k=512 over 20k rows the p50 estimate's
    rank must sit within 4*sqrt(k) ranks of the true median (~5 sigma
    of the binomial rank spread — deterministic, not flaky: the hash
    sample is fixed)."""
    from crysda_spark import Frame
    from crysda_spark.operators.rollup import ksample_quantile, time_rollup
    n, k = 20000, 512
    rows = [(i, "2024-03-01 05:00:00", float((i * 7919) % n))
            for i in range(n)]
    sdf = spark.createDataFrame(rows, "id long, ts string, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    est = time_rollup(Frame(sdf), "ts", "hour",
                      s=("ksample", "v", "id", k)).sdf \
        .select(ksample_quantile("s", 0.5).alias("p")).collect()[0].p
    true_rank = est  # values are a permutation of 0..n-1
    assert abs(true_rank - n / 2) <= 4 * (n / (k ** 0.5)) / 2


def test_ksample_null_and_validation(spark):
    from crysda_spark import Frame
    from crysda_spark.operators.rollup import ksample_quantile, time_rollup
    import pytest as _pt
    rows = [(1, "2024-01-01 00:00:00", None),
            (2, "2024-01-01 00:30:00", 5.0)]
    sdf = spark.createDataFrame(rows, "id long, ts string, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = time_rollup(Frame(sdf), "ts", "hour",
                      s=("ksample", "v", "id", 16)).sdf \
        .select(F.size("s").alias("n"),
                ksample_quantile("s", 0.9).alias("p")).collect()[0]
    assert out.n == 1 and out.p == 5.0       # null value excluded
    with _pt.raises(ValueError, match="ksample k"):
        time_rollup(Frame(sdf), "ts", "hour", s=("ksample", "v", "id", 4))
    with _pt.raises(ValueError, match="ksample needs"):
        time_rollup(Frame(sdf), "ts", "hour", s=("ksample", "v"))


# ------------------------------------------------------------- topk
def test_topk_fine_is_exact_topk(events):
    hourly = ru.time_rollup(events, "ts", "hour", n="count",
                            hot=("topk", "event_type", 3))
    ex = ru.topk_explode(hourly, "hot").sdf.collect()
    # ground truth: per-bucket counts of event_type
    truth_rows = (events.sdf
                  .withColumn("bucket", F.date_trunc("hour", F.col("ts")))
                  .filter(F.col("event_type").isNotNull())
                  .groupBy("bucket", "event_type").count().collect())
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(r["bucket"], {})[r["event_type"]] = r["count"]
    got: dict = {}
    for r in ex:
        got.setdefault(r["bucket"], []).append(r)
    assert len(got) > 0
    for bucket, rows in got.items():
        t = truth[bucket]
        want = sorted(t.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert [(r["key"], r["lb"]) for r in rows] == want
        # fine states are exact: lb == ub == true count
        for r in rows:
            assert r["lb"] == r["ub"] == t[r["key"]]
            assert t[r["key"]] >= 0
        # cut bounds every absent key
        cut = rows[0]["cut"]
        present = {r["key"] for r in rows}
        for k_, c_ in t.items():
            if k_ not in present:
                assert c_ <= cut


def test_topk_merge_invariants_and_join_back(events):
    hourly = ru.time_rollup(events, "ts", "hour", n="count",
                            hot=("topk", "event_type", 2))
    daily = ru.merge_rollup(hourly, "day", from_grain="hour",
                            n="count", hot=("topk", "event_type", 2))
    # plain measure survives the join-back
    direct = ru.time_rollup(events, "ts", "day", n="count")
    nd = {r["bucket"]: r["n"] for r in direct.sdf.collect()}
    rows = daily.sdf.collect()
    assert {r["bucket"] for r in rows} == set(nd)
    for r in rows:
        assert r["n"] == nd[r["bucket"]]
    # invariants: true count within [lb, ub]; any key with true count
    # > cut must be present in the state
    truth_rows = (events.sdf
                  .withColumn("bucket", F.date_trunc("day", F.col("ts")))
                  .filter(F.col("event_type").isNotNull())
                  .groupBy("bucket", "event_type").count().collect())
    truth: dict = {}
    for tr in truth_rows:
        truth.setdefault(tr["bucket"], {})[tr["event_type"]] = tr["count"]
    for r in rows:
        st = r["hot"]
        present = {e["key"]: e for e in st["entries"]}
        for k_, c_ in truth[r["bucket"]].items():
            if c_ > st["cut"]:
                assert k_ in present, (k_, c_, st["cut"])
            if k_ in present:
                assert present[k_]["lb"] <= c_ <= present[k_]["ub"]


def test_topk_only_measures_and_combine(events):
    # a rollup with ONLY a topk measure works (no plain agg to join to)
    hourly = ru.time_rollup(events, "ts", "hour",
                            hot=("topk", "event_type", 2))
    assert set(hourly.columns) == {"bucket", "hot"}
    # combine_rollups merges two disjoint halves into valid states
    a = Frame(hourly.sdf.filter(F.dayofmonth("bucket") % 2 == 0))
    b = Frame(hourly.sdf.filter(F.dayofmonth("bucket") % 2 == 1))
    both = ru.combine_rollups(a, b, "hour", hot=("topk", "event_type", 2))
    assert both.sdf.count() == hourly.sdf.count()
    # merging a partition of the input changes nothing (single-state
    # cells merge to themselves: lb/ub stay exact)
    orig = {r["bucket"]: r["hot"] for r in hourly.sdf.collect()}
    for r in both.sdf.collect():
        o = orig[r["bucket"]]
        assert [e["key"] for e in r["hot"]["entries"]] == \
            [e["key"] for e in o["entries"]]
        assert [e["lb"] for e in r["hot"]["entries"]] == \
            [e["lb"] for e in o["entries"]]


def test_topk_validation_and_streaming_rejection(events):
    with pytest.raises(ValueError, match="topk needs"):
        ru.check_measures(dict(h=("topk", "event_type")))
    with pytest.raises(ValueError, match="k must be an int"):
        ru.check_measures(dict(h=("topk", "event_type", 0)))
    with pytest.raises(ValueError, match="stream into a finer"):
        ru.fine_measure_exprs(events.sdf, dict(h=("topk", "event_type", 3)))
    with pytest.raises(ValueError, match="no single merge"):
        ru.merge_measure_exprs(dict(h=("topk", "event_type", 3)))
