"""Sources/sinks: CSV options (types/NA/skip/comment/headerless/gzip),
JSON flattening, literal builders, write_csv round-trip — mirroring the
reference's reader specs (spec/reader_spec.cr, FIXTURES.md §3-§7)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from crysda_spark import (Frame, dataframe_of, empty_df, from_json,
                          from_records, read_csv, read_json)
from crysda_spark.sources.sinks import write_csv

HEADER_TYPES_CSV = """a,b,c,d,e,f
x,1,1,1,TRUE,1
y,2,2,2,FALSE,2
z,3,3.141,3,true,3
q,4,4,4,false,4
w,5x,5,5,T,5
r,6,6,6,F,10000000000000
s,7,7,7,TRUE,7
"""


@pytest.fixture()
def header_types_path(tmp_path):
    p = tmp_path / "test_header_types.csv"
    p.write_text(HEADER_TYPES_CSV)
    return str(p)


def test_csv_type_inference_matrix(spark, header_types_path):
    """FIXTURES.md §3: expected String, String, Double, Long, Bool, Long."""
    f = read_csv(spark, header_types_path,
                 true_values=["T", "TRUE"], false_values=["F", "FALSE"])
    types = dict(f.sdf.dtypes)
    assert types["a"] == "string"
    assert types["b"] == "string"      # one "5x" poisons the numbers
    assert types["c"] == "double"      # one 3.141 promotes ints
    assert types["d"] in ("int", "bigint")
    assert types["e"] == "boolean"     # T/F vocabulary
    assert types["f"] == "bigint"      # 10000000000000 needs 64 bits
    assert f.num_row == 7


def test_csv_bool_vocab_inferred_by_default(spark, header_types_path):
    """Reference infers T/F columns as Bool WITHOUT an explicit vocabulary
    (src/crysda.cr:28-29; spec/reader_spec.cr:37-48 expects
    String,String,Float64,Int32,Bool,Int64 for test_header_types.csv)."""
    f = read_csv(spark, header_types_path)  # no true_values/false_values
    types = dict(f.sdf.dtypes)
    assert types["a"] == "string"
    assert types["b"] == "string"
    assert types["c"] == "double"
    assert types["d"] in ("int", "bigint")
    assert types["e"] == "boolean"
    assert types["f"] == "bigint"
    assert f.num_row == 7


def test_csv_custom_na(spark, tmp_path):
    p = tmp_path / "custom_na.csv"
    p.write_text("a\nCUSTOM_NA\nCUSTOM_NA\n1\n2\n3\n")
    f = read_csv(spark, str(p), na_value="CUSTOM_NA")
    h = f.sort_by("a").to_h()
    assert h["a"] == [1, 2, 3, None, None]
    assert dict(f.sdf.dtypes)["a"] in ("int", "bigint")


def test_csv_headerless_with_skip(spark, tmp_path):
    p = tmp_path / "headerless.txt"
    lines = ["# preamble"] * 3 + [f"{i}\tname{i}\t{i}.5" for i in range(1, 6)]
    p.write_text("\n".join(lines) + "\n")
    f = read_csv(spark, str(p), separator="\t", header=None, skip=3)
    assert f.columns == ["Col1", "Col2", "Col3"]
    assert f.num_row == 5


def test_csv_comment_char(spark, tmp_path):
    p = tmp_path / "commented.csv"
    p.write_text("# note\n# more\na,b\n1,x\n2,y\n")
    f = read_csv(spark, str(p), comment="#")
    assert f.columns == ["a", "b"]
    assert f.num_row == 2


def test_csv_gzip(spark, tmp_path):
    p = tmp_path / "data.csv.gz"
    with gzip.open(p, "wt") as fh:
        fh.write("a,b\n1,x\n2,y\n")
    f = read_csv(spark, str(p))
    assert f.num_row == 2
    assert dict(f.sdf.dtypes)["a"] in ("int", "bigint")


def test_csv_zip(spark, tmp_path):
    import zipfile
    p = tmp_path / "data.csv.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("data.csv", "a,b\n1,x\n2,y\n")
    f = read_csv(spark, str(p))
    assert f.num_row == 2
    assert dict(f.sdf.dtypes)["a"] in ("int", "bigint")


def test_read_jdbc_roundtrip_derby(spark, tmp_path):
    """Live JDBC round-trip against the embedded Derby that ships in
    Spark's jars — write via the JDBC sink, read back via read_jdbc."""
    from crysda_spark import from_records, read_jdbc
    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    f = from_records(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    (f.sdf.write.format("jdbc").option("url", url).option("dbtable", "t1")
     .option("driver", drv).mode("overwrite").save())
    back = read_jdbc(spark, url, "t1", driver=drv)
    assert back.num_row == 2
    assert {c.lower() for c in back.columns} == {"a", "b"}
    assert sorted(r[0] for r in back.sdf.select(back.columns[0]).collect()) == [1, 2]


def test_read_orc_roundtrip(spark, tmp_path):
    from crysda_spark import from_records, read_orc
    f = from_records(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    p = str(tmp_path / "orc_out")
    f.sdf.write.orc(p)
    back = read_orc(spark, p)
    assert back.num_row == 2
    assert set(back.columns) == {"a", "b"}


def test_read_text_lines_and_whole(spark, tmp_path):
    from crysda_spark import read_text
    p = tmp_path / "doc.txt"
    p.write_text("line one\nline two\nline three\n")
    lines = read_text(spark, str(p))
    assert lines.num_row == 3
    assert lines.columns == ["line"]
    whole = read_text(spark, str(p), whole_file=True)
    rows = whole.sdf.collect()
    assert len(rows) == 1
    assert "line two" in rows[0]["content"]


def test_read_parquet_nanos_bigint_div(spark, tmp_path):
    """bigint nanos → microsecond timestamps via integer div."""
    from crysda_spark import read_parquet
    p = str(tmp_path / "nanos_bigint")
    spark.sql("SELECT CAST(1622548800123456789 AS BIGINT) AS ts").write.parquet(p)
    f = read_parquet(spark, p, nanos_cols={"ts": "ts"})
    assert dict(f.sdf.dtypes)["ts"] == "timestamp"
    micros = f.sdf.select(F.unix_micros("ts")).collect()[0][0]
    assert micros == 1622548800123456  # nanos div 1000, no float loss


def test_read_parquet_nanos_guard_rejects_double(spark, tmp_path):
    """A double of nanoseconds must NOT be silently cast to a timestamp
    of seconds (the pre-round-5 blind else-branch did exactly that)."""
    from crysda_spark import read_parquet
    p = str(tmp_path / "nanos_double")
    spark.sql("SELECT CAST(1.6225488e18 AS DOUBLE) AS ts").write.parquet(p)
    with pytest.raises(ValueError, match="dtype 'double'"):
        read_parquet(spark, p, nanos_cols={"ts": "ts"})


def test_read_parquet_nanos_guard_rejects_string(spark, tmp_path):
    from crysda_spark import read_parquet
    p = str(tmp_path / "nanos_string")
    spark.sql("SELECT '2021-06-01 12:00:00' AS ts").write.parquet(p)
    with pytest.raises(ValueError, match="dtype 'string'"):
        read_parquet(spark, p, nanos_cols={"ts": "ts"})


def test_read_parquet_nanos_guard_missing_column(spark, tmp_path):
    from crysda_spark import read_parquet
    p = str(tmp_path / "nanos_missing")
    spark.sql("SELECT 1 AS a").write.parquet(p)
    with pytest.raises(ValueError, match="not found"):
        read_parquet(spark, p, nanos_cols={"nope": "nope"})


def test_read_parquet_ntz_instant_preserved_non_utc_session(spark, tmp_path):
    """TIMESTAMP_NTZ wall-clock is interpreted as UTC: the resulting
    instant must be identical whether the session tz is UTC or not
    (the pre-round-5 bare cast shifted it by the session offset)."""
    from crysda_spark import read_parquet
    p = str(tmp_path / "ntz_col")
    spark.sql("SELECT TIMESTAMP_NTZ'2021-06-01 12:00:00' AS ts").write.parquet(p)
    assert dict(spark.read.parquet(p).dtypes)["ts"] == "timestamp_ntz"
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        f = read_parquet(spark, p, nanos_cols={"ts": "ts"})
        assert dict(f.sdf.dtypes)["ts"] == "timestamp"
        secs = f.sdf.select(F.unix_seconds("ts")).collect()[0][0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    assert secs == 1622548800  # 2021-06-01T12:00:00Z, not shifted by -4h


def test_read_parquet_timestamp_passthrough(spark, tmp_path):
    """A plain TIMESTAMP source passes through with its instant intact."""
    from crysda_spark import read_parquet
    p = str(tmp_path / "ts_col")
    spark.sql("SELECT TIMESTAMP'2021-06-01 12:00:00Z' AS ts").write.parquet(p)
    f = read_parquet(spark, p, nanos_cols={"ts": "ts"})
    assert dict(f.sdf.dtypes)["ts"] == "timestamp"
    secs = f.sdf.select(F.unix_seconds("ts")).collect()[0][0]
    assert secs == 1622548800


def test_json_records_missing_keys(spark, tmp_path):
    p = tmp_path / "movies.json"
    p.write_text('[{"title": "A", "year": 2000, "votes": 10},'
                 ' {"title": "B", "votes": null},'
                 ' {"title": "C", "year": 2020}]')
    f = read_json(spark, str(p))
    h = f.sort_by("title").to_h()
    assert h["year"] == [2000, None, 2020]
    assert h["votes"] == [10, None, None]


def test_json_every_input_shape(spark, tmp_path):
    # every shape the read_json docstring names: JSON lines (one record
    # per line), a one-line array, a pretty-printed array (objects on
    # their own lines or broken over several) and one pretty object
    import json
    recs = [{"a": 1, "n": {"b": "x"}}, {"a": 2, "n": {"b": "y"}},
            {"a": 3, "n": {"b": "z"}}]
    shapes = {
        "lines.json": ("\n".join(json.dumps(r) for r in recs) + "\n", 3),
        "array.json": (json.dumps(recs[:2]), 2),
        "pretty_array.json": (json.dumps(recs[:2], indent=2), 2),
        "inline_array.json": (
            "[\n" + ",\n".join("  " + json.dumps(r) for r in recs[:2])
            + "\n]\n", 2),
        "pretty_object.json": (json.dumps(recs[0], indent=2), 1),
    }
    for name, (text, n) in shapes.items():
        p = tmp_path / name
        p.write_text(text)
        h = read_json(spark, str(p)).sort_by("a").to_h()
        assert h == {"a": [1, 2, 3][:n], "n.b": ["x", "y", "z"][:n]}, name


def test_json_nested_flatten(spark):
    f = from_json(spark, '[{"a": {"b": 1, "c": [{"d": 2}, {"d": 3}]}}]')
    assert set(f.columns) == {"a.b", "a.c.d"}
    assert sorted(f.to_h()["a.c.d"]) == [2, 3]


def test_dataframe_of_builder(spark):
    f = dataframe_of(spark, "a", "b").values(1, "x", 2, "y")
    assert f.to_h() == {"a": [1, 2], "b": ["x", "y"]}
    with pytest.raises(ValueError):
        dataframe_of(spark, "a", "b").values(1, "x", 2)


def test_empty_df_tolerates_verbs(spark):
    f = empty_df(spark)
    assert f.num_row == 0 and f.num_col == 0
    assert f.filter(F.lit(True)).num_row == 0
    assert f.distinct().num_row == 0
    assert f.head(3).num_row == 0


def test_write_csv_roundtrip_na(spark, tmp_path):
    f = from_records(spark, [{"a": 1, "b": "x"}, {"a": None, "b": "NA-ish"}])
    out = str(tmp_path / "out_csv")
    write_csv(f, out, single_file=True)
    back = read_csv(spark, out)
    h = back.sort_by("b").to_h()
    assert h["b"] == ["NA-ish", "x"]
    assert h["a"] == [None, 1]  # null → "NA" sentinel → null again


def test_write_xml_roundtrip(spark, tmp_path):
    """XML sink → source: types inferred back, markup-significant
    characters entity-escaped and restored, nulls as absent elements."""
    from crysda_spark import read_xml
    from crysda_spark.sources.sinks import write_xml
    f = from_records(spark, [
        {"id": 1, "name": "a<b>&c", "score": 1.5},
        {"id": 2, "name": 'quote"apos\'', "score": None},
        {"id": 3, "name": "plain", "score": -2.25},
    ])
    out = str(tmp_path / "out_xml")
    write_xml(f, out, row_tag="doc", root_tag="docs", single_file=True)
    back = read_xml(spark, out, row_tag="doc")
    h = Frame(back.sdf.select("id", "name", "score")).sort_by("id").to_h()
    assert h["id"] == [1, 2, 3]
    assert h["name"] == ["a<b>&c", 'quote"apos\'', "plain"]
    assert h["score"] == [1.5, None, -2.25]


def test_read_xml_explicit_schema_and_attributes(spark, tmp_path):
    """Explicit-schema path skips inference (the at-scale rule);
    attributes surface as _attr columns; nested elements as structs."""
    from crysda_spark import read_xml
    p = tmp_path / "t.xml"
    p.write_text(
        "<rows>"
        '<row id="7"><name>x</name><meta><lang>en</lang></meta></row>'
        '<row id="8"><name>y</name><meta><lang>de</lang></meta></row>'
        "</rows>")
    back = read_xml(spark, str(p), row_tag="row",
                    schema="_id long, name string, "
                           "meta struct<lang: string>")
    rows = sorted(back.sdf.collect(), key=lambda r: r._id)
    assert [(r._id, r.name, r.meta.lang) for r in rows] == [
        (7, "x", "en"), (8, "y", "de")]


def test_read_warc_wet_records(spark, tmp_path):
    """WARC/WET reader: record split on the version header, header
    fields case-insensitive, payload preserved (incl. newlines), type
    filter, trailing separator stripped."""
    from crysda_spark.sources.readers import read_warc

    def rec(wtype, uri, body, lower=False):
        tn = "warc-type" if lower else "WARC-Type"
        h = f"{tn}: {wtype}\r\n"
        if uri:
            h += f"WARC-Target-URI: {uri}\r\n"
        h += "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        h += f"Content-Length: {len(body.encode())}\r\n"
        return "WARC/1.0\r\n" + h + "\r\n" + body + "\r\n\r\n"

    p = tmp_path / "t.warc"
    p.write_text(rec("warcinfo", None, "software: test")
                 + rec("conversion", "https://a.example/x", "hello world")
                 + rec("conversion", "https://b.example/y",
                       "two\nlines here", lower=True),
                 newline="")
    rows = {r.warc_type + (r.target_uri or ""): r
            for r in read_warc(spark, str(p)).sdf.collect()}
    assert len(rows) == 3
    a = rows["conversionhttps://a.example/x"]
    assert (a.payload, a.content_length) == ("hello world", 11)
    b = rows["conversionhttps://b.example/y"]
    assert b.payload == "two\nlines here"  # interior newlines survive
    assert rows["warcinfo"].payload == "software: test"
    wet = read_warc(spark, str(p), record_types=["conversion"]).sdf
    assert wet.count() == 2


def test_write_parquet_dynamic_preserves_other_partitions(spark, tmp_path):
    from crysda_spark import Frame
    from crysda_spark.sources.sinks import write_parquet_dynamic
    path = str(tmp_path / "t")
    base = Frame(spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], "day string, v int"))
    write_parquet_dynamic(base, path, "day")
    # overwrite ONLY day 2 with new data; day 1 must survive
    delta = Frame(spark.createDataFrame(
        [("2024-01-02", 99)], "day string, v int"))
    write_parquet_dynamic(delta, path, "day")
    # partition-column inference reads 'day' back as DateType
    got = {(str(r["day"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1), ("2024-01-02", 99)}
    # config restored afterwards
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
