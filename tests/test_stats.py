"""One-pass pairwise correlation/covariance (operators/stats.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from crysda_spark import Frame
from crysda_spark.operators.stats import corr_matrix


def _rows(f):
    return {(r.col_x, r.col_y): r for r in f.sdf.collect()}


def test_corr_matrix_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a = rng.normal(10, 3, 400).round(4)
    b = (2.5 * a + rng.normal(0, 1, 400)).round(4)
    c = rng.uniform(-5, 5, 400).round(4)
    sdf = spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in zip(a, b, c)],
        "a double, b double, c double")
    got = _rows(corr_matrix(Frame(sdf), ["a", "b", "c"]))
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    # inputs have <= 4 dp, so quant=6 is lossless and corr is the true one
    assert got[("a", "b")].corr == pytest.approx(
        np.corrcoef(a, b)[0, 1], abs=1e-12)
    assert got[("a", "c")].corr == pytest.approx(
        np.corrcoef(a, c)[0, 1], abs=1e-12)
    assert got[("a", "b")].cov == pytest.approx(
        np.cov(a, b, ddof=1)[0, 1], abs=1e-10)
    assert all(r.n == 400 for r in got.values())


def test_corr_matrix_pairwise_null_handling(spark):
    # b is null exactly where a == 1.0: the (a,b) pair must use only the
    # 3 complete rows; the (a,c) pair must still use all 4
    rows = [(1.0, None, 10.0), (2.0, 4.0, 20.0),
            (3.0, 6.0, 30.0), (4.0, 8.0, 40.0)]
    sdf = spark.createDataFrame(rows, "a double, b double, c double")
    got = _rows(corr_matrix(Frame(sdf), ["a", "b", "c"]))
    assert got[("a", "b")].n == 3
    assert got[("a", "c")].n == 4
    assert got[("a", "b")].corr == pytest.approx(1.0, abs=1e-12)
    assert got[("a", "c")].corr == pytest.approx(1.0, abs=1e-12)


def test_corr_matrix_degenerate_pairs_are_null(spark):
    rows = [(1.0, 5.0, 1.0), (2.0, 5.0, None), (3.0, 5.0, None)]
    sdf = spark.createDataFrame(rows, "a double, const double, mostly double")
    got = _rows(corr_matrix(Frame(sdf), ["a", "const", "mostly"]))
    assert got[("a", "const")].corr is None          # zero variance
    assert got[("a", "mostly")].corr is None         # n = 1 < 2
    assert got[("a", "mostly")].cov is None
    assert got[("a", "const")].cov is not None       # cov(const)=0 is defined
    assert got[("a", "const")].cov == pytest.approx(0.0, abs=1e-12)


def test_corr_matrix_partition_invariant_bitwise(spark):
    rng = np.random.default_rng(11)
    rows = [(float(x), float(y)) for x, y in
            rng.normal(0, 1, (500, 2)).round(5)]
    sdf = spark.createDataFrame(rows, "a double, b double")
    one = _rows(corr_matrix(Frame(sdf.coalesce(1)), ["a", "b"]))
    many = _rows(corr_matrix(Frame(sdf.repartition(17)), ["a", "b"]))
    # exact-decimal sums -> the doubles are IDENTICAL, not approximately so
    assert one[("a", "b")].corr == many[("a", "b")].corr
    assert one[("a", "b")].cov == many[("a", "b")].cov


def test_corr_matrix_guards(spark):
    sdf = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    f = Frame(sdf)
    with pytest.raises(ValueError, match="at least 2"):
        corr_matrix(f, ["a"])
    with pytest.raises(ValueError, match="duplicate"):
        corr_matrix(f, ["a", "a"])
    with pytest.raises(ValueError, match="unknown"):
        corr_matrix(f, ["a", "zz"])
    with pytest.raises(ValueError, match="quant"):
        corr_matrix(f, ["a", "b"], quant=12)
    with pytest.raises(ValueError, match="wrong tool"):
        corr_matrix(f, [f"c{i}" for i in range(300)])
    # 40 columns no longer errors (r10 wide path) — unknown-col check
    # still fires first for these names
    with pytest.raises(ValueError, match="unknown"):
        corr_matrix(f, [f"c{i}" for i in range(40)])


def test_corr_matrix_wide_batches_match_narrow(spark):
    # the >32-column batched path must return the SAME bit-exact stats
    # as narrow single-aggregate calls over each pair
    import numpy as np
    rng = np.random.default_rng(3)
    k, n = 36, 150
    m = rng.normal(0, 2, (n, k)).round(3)
    cols = [f"c{i}" for i in range(k)]
    sdf = spark.createDataFrame(
        [tuple(float(x) for x in row) for row in m],
        ", ".join(f"{c} double" for c in cols))
    f = Frame(sdf)
    wide = _rows(corr_matrix(f, cols))
    assert len(wide) == k * (k - 1) // 2
    from crysda_spark.plans.cache import release_pinned
    release_pinned()
    # spot-check 6 pairs against the narrow kernel, bit-for-bit
    probe = [("c0", "c1"), ("c0", "c35"), ("c7", "c20"),
             ("c17", "c18"), ("c30", "c31"), ("c2", "c33")]
    for x, y in probe:
        narrow = _rows(corr_matrix(f, [x, y]))[(x, y)]
        assert wide[(x, y)].corr == narrow.corr
        assert wide[(x, y)].cov == narrow.cov
        assert wide[(x, y)].n == narrow.n


def test_corr_matrix_anticorrelated_sign(spark):
    rows = [(float(i), float(100 - i)) for i in range(50)]
    sdf = spark.createDataFrame(rows, "up double, down double")
    got = _rows(corr_matrix(Frame(sdf), ["up", "down"]))
    assert got[("up", "down")].corr == pytest.approx(-1.0, abs=1e-12)
    assert got[("up", "down")].cov < 0
    assert math.isfinite(got[("up", "down")].cov)


def test_corr_matrix_overflow_guard_raises_not_wraps(spark):
    # |x|*10^6 = 1e11 >> 3.03e9: a single product would overflow i64 —
    # the epilogue guard must RAISE, never return wrapped garbage
    rows = [(1e5 + i, 2e5 + i) for i in range(10)]
    sdf = spark.createDataFrame(rows, "a double, b double")
    # under ANSI (Spark 4 default) the product overflow itself raises
    # before the epilogue guard; with ANSI off the guard raises instead —
    # either way the result is an error, never wrapped garbage
    with pytest.raises(Exception,
                       match="scaled-long domain|ARITHMETIC_OVERFLOW"):
        corr_matrix(Frame(sdf), ["a", "b"], quant=6).sdf.collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="scaled-long domain"):
            corr_matrix(Frame(sdf), ["a", "b"], quant=6).sdf.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    # the same data fits at quant=2 (1e7 < 3.03e9) and is exact there
    got = _rows(corr_matrix(Frame(sdf), ["a", "b"], quant=2))
    assert got[("a", "b")].corr == pytest.approx(1.0, abs=1e-12)


def test_corr_matrix_negative_values_split_words_exact(spark):
    # negative products exercise the pmod/shiftright word split; compare
    # against numpy on sign-mixed data
    rng = np.random.default_rng(3)
    a = rng.normal(0, 50, 300).round(3)
    b = (-1.5 * a + rng.normal(0, 5, 300)).round(3)
    sdf = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)], "a double, b double")
    got = _rows(corr_matrix(Frame(sdf), ["a", "b"], quant=4))
    assert got[("a", "b")].corr == pytest.approx(
        np.corrcoef(a, b)[0, 1], abs=1e-12)
    assert got[("a", "b")].cov == pytest.approx(
        np.cov(a, b, ddof=1)[0, 1], rel=1e-10)


def test_corr_matrix_nan_inf_treated_as_missing(spark):
    # NaN/Inf have no scaled-long representation (floor(NaN*s+0.5) = 0,
    # which used to INCLUDE the row as a zero — r9 advice): they must be
    # excluded exactly like nulls, so the (a,b) stats over a NaN-bearing
    # column equal the stats over the clean subset
    nan, inf = float("nan"), float("inf")
    rows = [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0),
            (5.0, nan), (6.0, inf), (7.0, -inf)]
    sdf = spark.createDataFrame(rows, "a double, b double")
    got = _rows(corr_matrix(Frame(sdf), ["a", "b"]))
    clean = spark.createDataFrame(rows[:4], "a double, b double")
    want = _rows(corr_matrix(Frame(clean), ["a", "b"]))
    assert got[("a", "b")].n == 4
    assert got[("a", "b")].corr == want[("a", "b")].corr
    assert got[("a", "b")].cov == want[("a", "b")].cov


def test_corr_matrix_hi_word_bound_guards(spark, monkeypatch):
    # the hi-word product-sum bound n*(mx*my/2^31 + 1) can exceed the
    # other three bounds only at billions of rows; shrink the limit so
    # a small frame sits BETWEEN bound 3 (n*max|v| = 2*2.5e9 = 5e9, not
    # over) and bound 4 (2*((2.5e9)^2/2^31 + 1) ~ 5.8e9, over) — the
    # old three-bound guard passed this domain (r9 advice)
    from crysda_spark.operators import stats as stats_mod
    monkeypatch.setattr(stats_mod, "_MAX_NV", 5.0e9)
    sdf = spark.createDataFrame(
        [(2.5e9, 2.5e9), (-2.5e9, 2.4e9)], "a double, b double")
    with pytest.raises(Exception, match="scaled-long domain"):
        corr_matrix(Frame(sdf), ["a", "b"], quant=0).sdf.collect()


def test_corr_matrix_wide_empty_input_matches_narrow_shape(spark):
    # r10 advice: the wide kernel's mapInPandas yielded nothing for
    # empty partitions, so corr_matrix returned ZERO rows on empty input
    # while the narrow kernel emits one (n=0, NULL stats) row per pair —
    # the same call changed row-count behavior at the 8-column boundary.
    from crysda_spark.operators.stats import corr_matrix
    k = 10  # > _MAX_COLS -> wide kernel
    cols = [f"c{i}" for i in range(k)]
    schema = ", ".join(f"{c} double" for c in cols)
    empty = spark.createDataFrame([], schema)
    out = corr_matrix(Frame(empty), cols).sdf.collect()
    assert len(out) == k * (k - 1) // 2
    assert all(r["n"] == 0 and r["cov"] is None and r["corr"] is None
               for r in out)
    # filtered-to-empty (partitioned but all partitions empty) too
    filtered = spark.createDataFrame(
        [tuple(float(i + j) for j in range(k)) for i in range(50)],
        schema).where("c0 < -1")
    out2 = corr_matrix(Frame(filtered), cols).sdf.collect()
    assert len(out2) == k * (k - 1) // 2


def test_corr_matrix_wide_chunking_is_bit_exact(spark, monkeypatch):
    # r10 advice: exactness must not depend on the session's Arrow
    # batch size — the kernel chunks internally; shrink the chunk bound
    # and pin identical results to the unchunked run.
    from crysda_spark.operators import stats as st
    import random
    rng = random.Random(11)
    rows = [tuple(round(rng.uniform(-50, 50), 4) for _ in range(9))
            for _ in range(4000)]
    cols = [f"c{i}" for i in range(9)]
    sdf = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols))
    base = {(r["col_x"], r["col_y"]):
            (r["n"], repr(r["cov"]), repr(r["corr"]))
            for r in st.corr_matrix(Frame(sdf), cols).sdf.collect()}
    # shrink the internal chunk bound so each Arrow batch slices into
    # many chunks (captured at plan build, shipped in the closure) and
    # pin values unchanged — exactness must hold at ANY chunk geometry
    monkeypatch.setattr(st, "_MAX_CHUNK_ROWS", 37)
    got = {(r["col_x"], r["col_y"]):
           (r["n"], repr(r["cov"]), repr(r["corr"]))
           for r in st.corr_matrix(Frame(sdf), cols).sdf.collect()}
    assert got == base


# ------------------------------------------------- r13: grouped OLS

def test_grouped_ols_matches_numpy_polyfit(spark):
    from crysda_spark.operators.stats import grouped_ols
    rng = np.random.RandomState(5)
    rows = []
    for g, (true_slope, true_icpt) in enumerate([(2.5, 1.0), (-0.5, 10.0)]):
        for _ in range(50):
            x = float(rng.uniform(0, 100))
            y = true_slope * x + true_icpt + float(rng.normal(0, 0.5))
            rows.append((f"g{g}", round(x, 4), round(y, 4)))
    f = Frame(spark.createDataFrame(rows, "g string, x double, y double"))
    out = {r["g"]: r for r in
           grouped_ols(f, "g", "x", "y", quant=4).sdf.collect()}
    for g, sub in (("g0", rows[:50]), ("g1", rows[50:])):
        xs = np.array([r[1] for r in sub])
        ys = np.array([r[2] for r in sub])
        sl, ic = np.polyfit(xs, ys, 1)
        r2 = np.corrcoef(xs, ys)[0, 1] ** 2
        assert out[g]["n"] == 50
        assert out[g]["slope"] == pytest.approx(sl, rel=1e-6)
        assert out[g]["intercept"] == pytest.approx(ic, rel=1e-4)
        assert out[g]["r2"] == pytest.approx(r2, rel=1e-6)


def test_grouped_ols_degenerate_and_nan_handling(spark):
    from crysda_spark.operators.stats import grouped_ols
    rows = [
        ("one", 1.0, 5.0),                     # n=1 -> NULL stats
        ("flatx", 2.0, 1.0), ("flatx", 2.0, 9.0),   # zero x-variance
        ("flaty", 1.0, 7.0), ("flaty", 3.0, 7.0),   # zero y-variance
        ("ok", 0.0, 0.0), ("ok", 1.0, 2.0),
        ("ok", float("nan"), 99.0),            # NaN row excluded
        ("ok", 2.0, None),                     # null row excluded
    ]
    f = Frame(spark.createDataFrame(rows, "g string, x double, y double"))
    out = {r["g"]: r for r in
           grouped_ols(f, "g", "x", "y").sdf.collect()}
    assert out["one"]["n"] == 1 and out["one"]["slope"] is None
    assert out["flatx"]["slope"] is None       # denx == 0
    # zero y-variance: perfect horizontal fit — slope 0, r2 NULL
    assert out["flaty"]["slope"] == 0.0
    assert out["flaty"]["r2"] is None
    assert out["ok"]["n"] == 2                 # NaN + null rows dropped
    assert out["ok"]["slope"] == pytest.approx(2.0)
    assert out["ok"]["intercept"] == pytest.approx(0.0)
    assert out["ok"]["r2"] == pytest.approx(1.0)


def test_grouped_ols_guards_and_validation(spark):
    from crysda_spark.operators.stats import grouped_ols
    f = Frame(spark.createDataFrame(
        [("a", 1.0, 2.0)], "g string, x double, y double"))
    with pytest.raises(ValueError, match="unknown column"):
        grouped_ols(f, "g", "x", "zz")
    with pytest.raises(ValueError, match="must differ"):
        grouped_ols(f, "g", "x", "x")
    with pytest.raises(ValueError, match="quant"):
        grouped_ols(f, "g", "x", "y", quant=9)
    # domain overflow must RAISE, never wrap: under ANSI (this
    # session's default) the vx*vx product itself raises
    # ARITHMETIC_OVERFLOW; non-ANSI sessions hit the epilogue guard's
    # "scaled-long domain" raise_error instead (corr_matrix contract)
    big = Frame(spark.createDataFrame(
        [("a", 1e9, 1.0), ("a", 2e9, 2.0)],
        "g string, x double, y double"))
    with pytest.raises(Exception,
                       match="scaled-long domain|ARITHMETIC_OVERFLOW|overflow"):
        grouped_ols(big, "g", "x", "y", quant=4).sdf.collect()


def test_hi_word_bound_covers_asymmetric_magnitudes(spark, monkeypatch):
    # r14 advice: the fourth bound used mx*my, which only bounds the
    # xy hi-word partials — with max|vx| ~ 2.5e9 and |vy| ~ 1 the xx
    # hi-word sum is ~n*(mx^2/2^31), orders beyond mx*my. Shrink
    # _MAX_NV so a 2-row frame sits between bound 3
    # (n*greatest = 5e9, not over) and the widened bound 4
    # (2*((2.5e9)^2/2^31 + 1) ~ 5.8e9, over); the old mx*my form
    # evaluated to ~4.3 here and silently passed this domain.
    from crysda_spark.operators import stats as stats_mod
    from crysda_spark.operators.stats import corr_matrix, grouped_ols
    monkeypatch.setattr(stats_mod, "_MAX_NV", 5.0e9)
    sdf = spark.createDataFrame(
        [(2.5e9, 1.0), (-2.5e9, 1.0)], "a double, b double")
    with pytest.raises(Exception, match="scaled-long domain"):
        corr_matrix(Frame(sdf), ["a", "b"], quant=0).sdf.collect()
    g = spark.createDataFrame(
        [("g", 2.5e9, 1.0), ("g", -2.5e9, 1.0)],
        "g string, x double, y double")
    with pytest.raises(Exception, match="scaled-long domain"):
        grouped_ols(Frame(g), "g", "x", "y", quant=0).sdf.collect()
    # the wide (Arrow) kernel's epilogue shares the widened bound:
    # >8 columns routes there; c0 is the big-magnitude column
    k = 10
    cols = [f"c{i}" for i in range(k)]
    wide = spark.createDataFrame(
        [tuple([2.5e9] + [1.0] * (k - 1)),
         tuple([-2.5e9] + [1.0] * (k - 1))],
        ", ".join(f"{c} double" for c in cols))
    with pytest.raises(Exception, match="scaled-long domain"):
        corr_matrix(Frame(wide), cols, quant=0).sdf.collect()


def _bits(v):
    # exact bit pattern of a float (None stays None): parity must be
    # BIT-identical, not approx — the oracle hashes raw doubles
    import struct
    return None if v is None else struct.pack("<d", v)


# top-level column names the generated SQL must never parse: a dot, a
# backtick and a space
_ODD = {"a": "a.b", "b": "x`y", "c": "b col"}


def _renamed(sdf, mapping):
    return sdf.toDF(*[mapping.get(c, c) for c in sdf.columns])


def _assert_corr_rows_bitwise(plain, renamed, mapping):
    want = {(mapping.get(r.col_x, r.col_x), mapping.get(r.col_y, r.col_y)): r
            for r in plain.sdf.collect()}
    got = _rows(renamed)
    assert set(got) == set(want) and want
    for p in want:
        assert got[p].n == want[p].n
        assert _bits(got[p].cov) == _bits(want[p].cov)
        assert _bits(got[p].corr) == _bits(want[p].corr)


def test_stats_sql_parity_narrow(spark):
    # corr_matrix's narrow kernel must return bit-identical rows when the
    # same columns carry names with a dot, a backtick or a space, on
    # adversarial data (nulls, NaN, +-Inf, negatives, large magnitudes
    # near the guard bounds)
    import numpy as np

    rng = np.random.default_rng(42)
    n = 500
    a = rng.normal(0, 1e5, n).round(2)
    b = rng.uniform(-3e5, 3e5, n).round(2)
    c = 0.5 * a - 2.0 * b + rng.normal(0, 10, n)
    rows = []
    for i in range(n):
        ra = None if i % 11 == 0 else float(a[i])
        rb = float("nan") if i % 13 == 0 else float(b[i])
        rc = float("inf") if i % 17 == 0 else (
            float("-inf") if i % 19 == 0 else float(c[i]))
        rows.append((ra, rb, rc))
    sdf = spark.createDataFrame(rows, "a double, b double, c double")
    plain = corr_matrix(Frame(sdf), ["a", "b", "c"], quant=3)
    renamed = corr_matrix(Frame(_renamed(sdf, _ODD)),
                          [_ODD[x] for x in "abc"], quant=3)
    _assert_corr_rows_bitwise(plain, renamed, _ODD)

    # a small hand-checked input under a spaced name
    small = (spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.5)], "a double, b double")
        .withColumnRenamed("b", "b col"))
    got = _rows(corr_matrix(Frame(small), ["a", "b col"]))
    assert got[("a", "b col")].n == 3
    assert got[("a", "b col")].corr == pytest.approx(0.997948, abs=1e-4)


def test_stats_sql_parity_wide(spark):
    # the wide (Arrow) kernel under the same renaming — plus a quote and
    # a backslash, which reach the output only as SQL string literals
    import numpy as np

    rng = np.random.default_rng(5)
    k, n = 12, 200
    m = rng.normal(0, 500, (n, k)).round(3)
    cols = [f"c{i}" for i in range(k)]
    rows = []
    for i in range(n):
        r = [float(x) for x in m[i]]
        if i % 7 == 0:
            r[i % k] = None
        if i % 9 == 0:
            r[(i + 3) % k] = float("nan")
        rows.append(tuple(r))
    sdf = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols))
    mapping = {"c0": "a.b", "c1": "x`y", "c2": "b col", "c3": "it's",
               "c4": "back\\slash"}
    plain = corr_matrix(Frame(sdf), cols, quant=4)
    renamed = corr_matrix(Frame(_renamed(sdf, mapping)),
                          [mapping.get(c, c) for c in cols], quant=4)
    assert len(_rows(plain)) == k * (k - 1) // 2
    _assert_corr_rows_bitwise(plain, renamed, mapping)


def test_stats_sql_guard_still_raises(spark):
    # the generated-SQL guard must raise (not wrap) outside the domain
    sdf = spark.createDataFrame(
        [(4.0e9, 1.0), (5.0e9, 2.0)], "a double, b double")
    out = corr_matrix(Frame(sdf), ["a", "b"], quant=1)
    # ANSI mode (session default) raises on the product overflow itself;
    # with ANSI off the generated-SQL epilogue guard must raise instead
    with pytest.raises(Exception,
                       match="scaled-long domain|ARITHMETIC_OVERFLOW"):
        out.sdf.collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="scaled-long domain"):
            corr_matrix(Frame(sdf), ["a", "b"], quant=1).sdf.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_grouped_ols_sql_parity(spark):
    # grouped_ols must be bit-identical when the group, x and y columns
    # carry names with a dot, a backtick and a space, on data with
    # nulls/NaN/groups of every degeneracy
    import numpy as np

    from crysda_spark.operators.stats import grouped_ols
    rng = np.random.default_rng(11)
    rows = []
    for g in range(5):
        for i in range(80):
            x = round(float(rng.normal(0, 100)), 2)
            y = round(2.0 * x + float(rng.normal(0, 5)), 2)
            if i % 13 == 0:
                x = None
            if i % 17 == 0:
                y = float("nan")
            if g == 3:
                x = 7.0           # zero x-variance group
            rows.append((f"g{g}", x, y))
    rows.append(("solo", 1.0, 2.0))  # n = 1 group
    sdf = spark.createDataFrame(rows, "grp string, x double, y double")
    want = {r.grp: r for r in
            grouped_ols(Frame(sdf), ["grp"], "x", "y", quant=3).sdf.collect()}
    mapping = {"grp": "a.b", "x": "x`y", "y": "b col"}
    out = grouped_ols(Frame(_renamed(sdf, mapping)), ["a.b"], "x`y", "b col",
                      quant=3)
    assert out.columns == ["a.b", "n", "slope", "intercept", "r2"]
    got = {r["a.b"]: r for r in out.sdf.collect()}
    assert set(got) == set(want) and len(want) == 6
    for g in want:
        assert got[g].n == want[g].n
        for fld in ("slope", "intercept", "r2"):
            assert _bits(got[g][fld]) == _bits(want[g][fld]), (g, fld)
