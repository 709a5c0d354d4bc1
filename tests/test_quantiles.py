"""operators.quantiles.quantile_cont — exact quantiles over Spark's
`percentile` aggregate: the long/wide contract around it, and bit
equality with DuckDB's quantile_cont on the oracle shapes."""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F

from crysda_spark.operators.quantiles import quantile_cont

from .conftest import SF_DIR


def _percentile_ref(sdf, col, qs, by):
    exprs = [F.percentile(col, F.lit(q)).alias(f"q{i}")
             for i, q in enumerate(qs)]
    return {tuple(r[k] for k in by): [r[f"q{i}"] for i in range(len(qs))]
            for r in sdf.groupBy(*by).agg(*exprs).collect()}


def test_grouped_matches_spark_percentile(orders):
    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {tuple([r["o_orderpriority"]]): {}
           for r in orders.sdf.select("o_orderpriority").distinct().collect()}
    out = quantile_cont(orders.sdf, "o_totalprice", qs,
                        by=["o_orderpriority"]).collect()
    for r in out:
        got[(r["o_orderpriority"],)][r["q"]] = r["value"]
    ref = _percentile_ref(orders.sdf, "o_totalprice", qs, ["o_orderpriority"])
    assert set(got) == set(ref)
    for k, vals in ref.items():
        for q, want in zip(qs, vals):
            assert got[k][q] == pytest.approx(want, abs=1e-9), (k, q)


def test_ungrouped_and_single_row_groups(spark):
    from crysda_spark import from_records
    f = from_records(spark, [{"g": "a", "v": float(i)} for i in range(10)]
                     + [{"g": "b", "v": 42.0}])
    # ungrouped: median of 0..9 and 42 (12 values incl. both groups)
    out = {r["q"]: r["value"]
           for r in quantile_cont(f.sdf, "v", [0.5]).collect()}
    want = f.sdf.select(F.percentile("v", F.lit(0.5))).collect()[0][0]
    assert out[0.5] == pytest.approx(want)
    # single-row group: every quantile is the value itself
    grp = {(r["g"], r["q"]): r["value"]
           for r in quantile_cont(f.sdf, "v", [0.0, 0.5, 1.0],
                                  by=["g"]).collect()}
    assert grp[("b", 0.0)] == grp[("b", 0.5)] == grp[("b", 1.0)] == 42.0


def test_nulls_excluded_and_null_group_key_kept(spark):
    from crysda_spark import from_records
    f = from_records(spark, [
        {"g": "a", "v": 1.0}, {"g": "a", "v": None}, {"g": "a", "v": 3.0},
        {"g": None, "v": 5.0}, {"g": None, "v": 7.0},
    ])
    grp = {(r["g"], r["q"]): r["value"]
           for r in quantile_cont(f.sdf, "v", [0.5], by=["g"]).collect()}
    assert grp[("a", 0.5)] == 2.0       # null value excluded, not zero-filled
    assert grp[(None, 0.5)] == 6.0      # NULL is a real group key


def test_validates_quantile_range(orders):
    with pytest.raises(ValueError):
        quantile_cont(orders.sdf, "o_totalprice", [1.5])
    with pytest.raises(ValueError):
        quantile_cont(orders.sdf, "o_totalprice", [])


def test_frame_verb_wide_and_long(orders):
    wide = (orders.group_by("o_orderpriority")
            .quantile_cont("o_totalprice", [0.5, 0.9]))
    assert set(wide.columns) == {"o_orderpriority", "p50", "p90"}
    ref = _percentile_ref(orders.sdf, "o_totalprice", [0.5, 0.9],
                          ["o_orderpriority"])
    for r in wide.sdf.collect():
        m, p90 = ref[(r["o_orderpriority"],)]
        assert r["p50"] == pytest.approx(m)
        assert r["p90"] == pytest.approx(p90)
    long = (orders.group_by("o_orderpriority")
            .quantile_cont("o_totalprice", [0.5], wide=False))
    assert set(long.columns) == {"o_orderpriority", "q", "value"}
    assert long.num_row == 5


def test_larger_data_many_buckets_matches_percentile(spark):
    """Lineitem-sized input (the sf0.01 oracle once caught wrong medians
    that sf0.001 hid) against Spark's exact percentile."""
    from crysda_spark import read_parquet
    li = read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    qs = [0.1, 0.5, 0.9]
    out = {(r["l_returnflag"], r["q"]): r["value"]
           for r in quantile_cont(li.sdf, "l_extendedprice", qs,
                                  by=["l_returnflag"]).collect()}
    ref = _percentile_ref(li.sdf, "l_extendedprice", qs, ["l_returnflag"])
    for (g,), vals in ref.items():
        for q, want in zip(qs, vals):
            assert out[(g, q)] == pytest.approx(want, abs=1e-9), (g, q)


def test_hypothesis_matches_numpy_linear(spark):
    """Property fuzz vs numpy's 'linear' percentile (the same
    (n-1)q interpolation): random value lists incl. duplicates and
    nulls."""
    import numpy as np
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
    from crysda_spark import from_records

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(vals=st.lists(st.one_of(st.none(),
                                   st.integers(-9, 9).map(float)),
                         min_size=1, max_size=24),
           q=st.sampled_from([0.0, 0.25, 0.5, 0.9, 1.0]))
    @example(vals=[1.0] * 20, q=0.5)      # massive-duplicate collapse
    @example(vals=[None, None], q=0.0)    # all-null group
    @example(vals=[-9.0, 9.0], q=0.25)    # two-point interpolation
    def prop(vals, q):
        present = [v for v in vals if v is not None]
        f = from_records(spark, [{"x": v} for v in vals], order=["x"])
        out = quantile_cont(f.sdf, "x", [q]).collect()
        if not present:
            assert out == []
            return
        want = float(np.percentile(present, q * 100, method="linear"))
        assert out[0]["value"] == pytest.approx(want, abs=1e-9)

    prop()


def test_many_partitions_still_exact(spark):
    """Small interleaved groups against Spark's exact percentile."""
    from crysda_spark import from_records
    rows = [{"g": chr(97 + i % 3), "v": float(i)} for i in range(30)]
    f = from_records(spark, rows)
    out = {(r["g"], r["q"]): r["value"]
           for r in quantile_cont(f.sdf, "v", [0.5, 0.9],
                                  by=["g"]).collect()}
    ref = _percentile_ref(f.sdf, "v", [0.5, 0.9], ["g"])
    for (g,), (m, p90) in ref.items():
        assert out[(g, 0.5)] == pytest.approx(m)
        assert out[(g, 0.9)] == pytest.approx(p90)


def test_massive_duplicate_value_stays_exact(spark):
    """One value duplicated 10^6 times must still produce numpy-exact
    quantiles (percentile holds it as one (value, count) entry)."""
    import numpy as np
    dup = spark.range(1_000_000).select(F.lit(5.0).alias("x"))
    tail = spark.createDataFrame(
        [(v,) for v in (1.0, 2.0, 3.0, 9.0, 11.0)], "x double")
    sdf = dup.unionByName(tail)
    qs = [0.0, 0.25, 0.5, 0.9, 0.999999, 1.0]
    out = quantile_cont(sdf, "x", qs)
    got = {r["q"]: r["value"] for r in out.collect()}
    arr = np.concatenate([np.full(1_000_000, 5.0),
                          np.array([1.0, 2.0, 3.0, 9.0, 11.0])])
    for q in qs:
        want = float(np.percentile(arr, q * 100, method="linear"))
        assert got[q] == pytest.approx(want, abs=1e-9), q


def test_reserved_group_column_raises(spark):
    from crysda_spark import from_records
    df = from_records(spark, [{"q": "a", "x": 1.0}, {"q": "b", "x": 2.0}]).sdf
    with pytest.raises(ValueError, match="collide with"):
        quantile_cont(df, "x", [0.5], by=["q"])
    # '_ps' (the aggregate's array column) is a working column too — a
    # group column of that name would be silently shadowed
    dfp = from_records(spark, [{"_ps": "a", "x": 1.0}, {"_ps": "b", "x": 2.0}]).sdf
    with pytest.raises(ValueError, match="collide with"):
        quantile_cont(dfp, "x", [0.5], by=["_ps"])
    # value_col named like an internal is fine — it is re-aliased at once
    df2 = from_records(spark, [{"g": "a", "_v": 1.0}, {"g": "a", "_v": 3.0}]).sdf
    rows = quantile_cont(df2, "_v", [0.5], by=["g"]).collect()
    assert rows[0]["value"] == 2.0


def test_duplicate_qs_deduped_everywhere(orders):
    f = orders.group_by("o_orderstatus")
    wide = f.quantile_cont("o_totalprice", [0.5, 0.5, 0.9]).sdf
    assert wide.columns.count("p50") == 1 and "p90" in wide.columns
    long = f.quantile_cont("o_totalprice", [0.5, 0.5, 0.9], wide=False).sdf
    per_group = long.groupBy("o_orderstatus").count().collect()
    assert all(r["count"] == 2 for r in per_group)  # 2 distinct qs


def test_with_index_pivot_key(orders):
    long = quantile_cont(orders.sdf, "o_totalprice", [0.25, 0.75],
                         by=["o_orderstatus"], with_index=True)
    rows = long.collect()
    assert {(r["_qi"], r["q"]) for r in rows} <= {(0, 0.25), (1, 0.75)}


def test_quantile_cont_pins_nothing(spark, orders):
    # one aggregate over one scan: no intermediate is cached
    from crysda_spark.plans.cache import pinned_count, release_pinned
    release_pinned()
    out = quantile_cont(orders.sdf, "o_totalprice", [0.5], by=["o_orderstatus"])
    out.count()
    assert pinned_count() == 0


def test_weighted_matches_expanded_rows_bitwise(spark):
    # weight_col contract: bit-identical to the unweighted quantile over
    # the weight-expanded rows, at every interpolation position
    import random
    rng = random.Random(11)
    vals = [(g, round(rng.uniform(0, 100), 2), rng.randint(1, 5))
            for g in ("a", "b") for _ in range(200)]
    wdf = spark.createDataFrame(vals, "g string, v double, w int")
    expanded = spark.createDataFrame(
        [(g, v) for g, v, w in vals for _ in range(w)],
        "g string, v double")
    qs = [0.0, 0.1, 0.25, 0.5, 0.73, 0.95, 1.0]
    got = {(r["g"], r["q"]): r["value"]
           for r in quantile_cont(wdf, "v", qs, by=["g"],
                                  weight_col="w").collect()}
    want = {(r["g"], r["q"]): r["value"]
            for r in quantile_cont(expanded, "v", qs, by=["g"]).collect()}
    assert got == want  # exact equality, not approx


def test_weighted_drops_nonpositive_and_null_weights(spark):
    rows = [("a", 1.0, 3), ("a", 100.0, 0), ("a", 200.0, -2),
            ("a", 2.0, 1), ("a", 300.0, None)]
    wdf = spark.createDataFrame(rows, "g string, v double, w int")
    # surviving multiset: {1,1,1,2} -> median 1.0
    out = quantile_cont(wdf, "v", [0.5], by=["g"], weight_col="w").collect()
    assert out[0]["value"] == 1.0


def _bits(v):
    return struct.pack(">d", v).hex()


@pytest.mark.parametrize("table,col,by,qs", [
    ("orders", "o_totalprice", "o_orderpriority", [0.5, 0.9]),
    ("lineitem", "l_extendedprice", "l_returnflag",
     [0.1, 0.25, 0.5, 0.9, 0.99]),
])
def test_bit_exact_vs_duckdb_sf001(spark, table, col, by, qs):
    """Every cell equals DuckDB quantile_cont by its float bit pattern
    on the sf0.01 oracle shapes — no approx, no rounding."""
    import duckdb
    path = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01",
                        f"{table}.parquet")
    got = {(r[by], r["q"]): _bits(r["value"])
           for r in quantile_cont(spark.read.parquet(path), col, qs,
                                  by=[by]).collect()}
    con = duckdb.connect()
    want = {}
    for q in qs:
        for g, v in con.execute(
                f"SELECT {by}, quantile_cont({col}, {q}) "
                f"FROM '{path}' GROUP BY {by}").fetchall():
            want[(g, q)] = _bits(v)
    assert got == want
