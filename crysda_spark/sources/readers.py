"""Sources (reference: src/crysda/builder.cr).

Spark-first: ``spark.read`` is lazy, streams decompression, infers
schema at planning, and splits large files across executors — unlike
the reference's whole-file-in-memory CSV.parse
(src/crysda/builder.cr:60-74). The reference options we reproduce:

- read_csv (src/crysda.cr:30-37): separator, quote, comment, skip N
  lines, header row index / headerless auto-names Col1..N, custom NA
  string, custom true/false vocabulary, gz/zip decompression, URL input.
- read_json (src/crysda.cr:39-47): JSON array of records or JSON lines,
  nested structures flattened column-by-column, missing keys → null.
"""

from __future__ import annotations

import os
import tempfile
import urllib.request
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..frame import Frame
from ..functions.infer import FALSE_VALUES, TRUE_VALUES, convert_types

MISSING_VALUE = "NA"  # reference sentinel (src/crysda/columns.cr:4)


def _fetch_url(path: str) -> str:
    """Reference supports http/https/ftp URLs (src/crysda/builder.cr:154-169).
    Spark reads hdfs/s3a/file natively; plain http we fetch driver-side
    to a temp file (small-file convenience path, not the scale path)."""
    if path.startswith(("http://", "https://", "ftp://")):
        suffix = os.path.basename(path).split("?")[0]
        fd, tmp = tempfile.mkstemp(suffix="_" + suffix)
        with os.fdopen(fd, "wb") as out, urllib.request.urlopen(path) as resp:
            out.write(resp.read())
        return tmp
    return path


def _unzip(path: str) -> str:
    """Reference decompresses ``.zip`` inputs (src/crysda/builder.cr:154-169).
    Spark streams ``.gz`` natively but has no zip codec, so we extract
    the first archive member driver-side to a temp file — a small-file
    convenience path like ``_fetch_url``, not the scale path (zip is not
    splittable anyway; at scale convert to parquet/gz)."""
    if not path.endswith(".zip"):
        return path
    import zipfile

    with zipfile.ZipFile(path) as zf:
        # first REAL member: skip directory entries and archiver metadata
        # (__MACOSX/, dotfiles) — zipping a folder lists those first
        names = [n for n in zf.namelist()
                 if not n.endswith("/") and not n.startswith("__MACOSX/")
                 and not os.path.basename(n).startswith(".")]
        if not names:
            raise ValueError(f"read_csv: no data member in zip archive {path!r}")
        fd, tmp = tempfile.mkstemp(suffix="_" + os.path.basename(names[0]))
        with os.fdopen(fd, "wb") as out:
            out.write(zf.read(names[0]))
        return tmp


def read_csv(spark: SparkSession, path: str, separator: str = ",",
             quote_char: str = '"', skip_blank_lines: bool = True,
             skip: int = 0, comment: str | None = "#",
             header: int | None = 0, na_value: str = MISSING_VALUE,
             true_values: list[str] | None = None,
             false_values: list[str] | None = None) -> Frame:
    path = _unzip(_fetch_url(path))
    reader = (spark.read
              .option("sep", separator)
              .option("quote", quote_char)
              .option("nullValue", na_value)
              .option("inferSchema", True)
              .option("mode", "PERMISSIVE"))
    if comment:
        reader = reader.option("comment", comment)
    # `skip` + header-row-index: Spark has skipRows (4.x) for leading lines.
    total_skip = skip + (header or 0)
    if total_skip:
        reader = reader.option("skipRows", total_skip)
    if header is None:
        reader = reader.option("header", False)
    else:
        reader = reader.option("header", True)
    sdf = reader.csv(path)
    if header is None:
        sdf = sdf.toDF(*[f"Col{i + 1}" for i in range(len(sdf.columns))])
    # skip_blank_lines: Spark's CSV source drops fully-blank lines already.
    # Reference infers T/F columns as Bool BY DEFAULT (src/crysda.cr:28-29;
    # spec/reader_spec.cr:37-48): run the re-inference cascade over residual
    # string columns unconditionally.  Spark's inferSchema already claimed
    # clean numerics, so this one aggregate pass only promotes bool-vocab
    # columns and comma-grouped numbers the reference would also promote.
    tv = true_values or TRUE_VALUES
    fv = false_values or FALSE_VALUES
    strings = [c for c, t in sdf.dtypes if t == "string"]
    if strings:
        sdf = convert_types(sdf, strings, true_values=tv, false_values=fv)
    return Frame(sdf)


def read_json(spark: SparkSession, path: str, flatten: bool = True) -> Frame:
    """JSON array / JSON-lines reader with iterative flattening of nested
    objects and arrays (reference: src/crysda/builder.cr:101-152).

    The input picks the parse. When its first non-blank character is
    ``[`` it is one JSON array, on one line or pretty-printed, and is
    read whole (``multiLine``). Anything else is read as JSON lines, one
    record per line; if no line parses on its own, the input is a single
    pretty-printed object and is read whole. A whole-file parse of JSON
    lines would stop after the first record."""
    path = _fetch_url(path)
    first = (spark.read.text(path)
             .select(F.regexp_extract("value", r"^\s*(\S)", 1).alias("c"))
             .where(F.col("c") != "").first())
    whole = first is not None and first["c"] == "["
    sdf = spark.read.option("multiLine", whole).json(path)
    if not whole and set(sdf.columns) == {"_corrupt_record"}:
        sdf = spark.read.option("multiLine", True).json(path)
    return Frame(_flatten_all(sdf) if flatten else sdf)


def from_json(spark: SparkSession, json_string: str, flatten: bool = True) -> Frame:
    sdf = spark.read.json(spark.sparkContext.parallelize([json_string]))
    return Frame(_flatten_all(sdf) if flatten else sdf)


def _flatten_all(sdf):
    """Iteratively expand struct columns to `parent.child` columns and
    explode array-of-struct columns, until flat."""
    from pyspark.sql.types import ArrayType, StructType

    changed = True
    while changed:
        changed = False
        for field in sdf.schema.fields:
            if isinstance(field.dataType, StructType):
                # backtick everything: flattened names contain literal dots
                others = [F.col(f"`{c}`") for c in sdf.columns if c != field.name]
                sdf = sdf.select(
                    *others,
                    *[F.col(f"`{field.name}`.`{sub.name}`").alias(f"{field.name}.{sub.name}")
                      for sub in field.dataType.fields])
                changed = True
                break
            if isinstance(field.dataType, ArrayType) and isinstance(field.dataType.elementType, StructType):
                # backtick-quote: flattened names contain literal dots
                sdf = sdf.withColumn(field.name,
                                     F.explode_outer(F.col(f"`{field.name}`")))
                changed = True
                break
    return sdf


def read_parquet(spark: SparkSession, path: str, nanos_cols: dict[str, str] | None = None) -> Frame:
    """Parquet reader, self-sufficient in ANY SparkSession.

    Parquet TIMESTAMP(NANOS) columns are unreadable by Spark unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on, in which case they
    arrive as bigint nanoseconds; on a PARQUET_TYPE_ILLEGAL failure we
    set that runtime SQLConf and retry, so the reader works in ANY
    session while ordinary parquet reads leave the caller's session
    conf untouched. ``nanos_cols={"ts": "ts"}`` converts such columns
    to real microsecond timestamps (integer div — no double precision
    loss); columns that already arrive as TIMESTAMP pass through
    unchanged, so callers can declare the mapping without knowing the
    writer's resolution. A TIMESTAMP_NTZ source (writer stamped the
    column timezone-naive) is interpreted as UTC wall-clock:
    convert_timezone('UTC', sessionTz, ntz) rewrites the wall-clock
    into the session timezone before the cast, so the resulting
    instant is correct in ANY session timezone, not just UTC. Any
    other source dtype (missing column, double, string, ...) raises
    ValueError — a double of nanoseconds must never be silently cast
    to a timestamp of *seconds*."""
    try:
        sdf = spark.read.parquet(path)
    except Exception as exc:
        # TIMESTAMP(NANOS) needs the legacy conf; set it only on demand
        # so ordinary parquet reads leave the caller's session untouched
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            raise exc  # conf is locked down — surface the READ error
        sdf = spark.read.parquet(path)
    dtypes = dict(sdf.dtypes)
    for src, dst in (nanos_cols or {}).items():
        dt = dtypes.get(src)
        if dt == "bigint":
            sdf = sdf.withColumn(dst, F.timestamp_micros(F.expr(f"`{src}` div 1000")))
        elif dt == "timestamp":
            # already event-time ready (watermarks/window() want TimestampType)
            sdf = sdf.withColumn(dst, F.col(f"`{src}`"))
        elif dt == "timestamp_ntz":
            # naive wall-clock: interpret as UTC regardless of session tz.
            # A bare .cast("timestamp") would re-read the wall-clock in the
            # session timezone and shift the instant in non-UTC sessions, so
            # first rewrite the wall-clock from UTC into the session tz; the
            # cast then recovers the original instant exactly.
            tz = spark.conf.get("spark.sql.session.timeZone")
            sdf = sdf.withColumn(
                dst,
                F.convert_timezone(F.lit("UTC"), F.lit(tz), F.col(f"`{src}`"))
                .cast("timestamp"))
        elif dt is None:
            raise ValueError(
                f"read_parquet(nanos_cols): column {src!r} not found in {path} "
                f"(columns: {sorted(dtypes)})")
        else:
            raise ValueError(
                f"read_parquet(nanos_cols): column {src!r} has dtype {dt!r}; "
                "expected bigint (nanosAsLong), timestamp, or timestamp_ntz — "
                "refusing a blind cast (a double of nanoseconds would silently "
                "become seconds)")
    return Frame(sdf)


def read_orc(spark: SparkSession, path: str) -> Frame:
    """ORC reader — native Spark source with the same pushdown/pruning
    properties as parquet (predicate pushdown, column pruning, splits)."""
    return Frame(spark.read.orc(path))


def read_text(spark: SparkSession, path: str, whole_file: bool = False,
              line_col: str = "line") -> Frame:
    """Plain-text reader. Default: one row per line (splittable,
    scales to any file size). ``whole_file=True``: one row per FILE with
    (path, content) — the shape document-ingestion pipelines want; each
    file must fit an executor, so it's for corpora of many small docs,
    not one giant file."""
    if whole_file:
        sdf = (spark.read.format("text").option("wholetext", True).load(path)
               .select(F.input_file_name().alias("path"),
                       F.col("value").alias("content")))
        return Frame(sdf)
    return Frame(spark.read.text(path).select(F.col("value").alias(line_col)))


def read_warc(spark: SparkSession, path: str,
              record_types: list[str] | None = None,
              version: str = "WARC/1.0") -> Frame:
    """WARC / WET reader for web-crawl corpora (ISO 28500 — the
    Common Crawl container format). Returns one row per record:
    (warc_type, target_uri, warc_date, content_length, payload).

    Scale shape: the file is read with Spark's text source using the
    record header as a custom ``lineSep``, so splitting/distribution is
    Hadoop TextInputFormat's — records split across executors with no
    driver-side parsing; header fields and the payload cut are pure
    codegen'd string expressions. Intended for WET / text-payload WARC
    (the text source decodes UTF-8, which would mangle binary
    ``response`` payloads — route those through binaryFiles + a codec
    kernel instead). ``record_types`` filters (e.g. ["conversion"] for
    WET text records; the filter is a pushed predicate)."""
    raw = spark.read.option("lineSep", version + "\r\n").text(path)
    rec = raw.filter(F.length(F.col("value")) > 0)
    headers = F.substring_index(F.col("value"), "\r\n\r\n", 1)

    def hdr(name: str):
        # header names are case-insensitive per spec
        return F.regexp_extract(headers, r"(?i)" + name + r":[ \t]*([^\r\n]+)", 1)

    payload = F.expr(
        "substring(value, length(substring_index(value, '\\r\\n\\r\\n', 1)) + 5)")
    out = rec.select(
        hdr("WARC-Type").alias("warc_type"),
        hdr("WARC-Target-URI").alias("target_uri"),
        hdr("WARC-Date").alias("warc_date"),
        hdr("Content-Length").cast("long").alias("content_length"),
        # strip the inter-record \r\n\r\n separator from the payload tail
        F.regexp_replace(payload, r"(\r\n)+$", "").alias("payload"))
    if record_types:
        out = out.filter(F.col("warc_type").isin(list(record_types)))
    return Frame(out)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row",
             **options: str) -> Frame:
    """XML reader — Spark 4's built-in XML source (migrated from
    spark-xml into sql/core): one row per ``row_tag`` element, nested
    elements become structs, attributes become ``_attr`` columns, types
    inferred. Splittable across executors like json/csv; schema
    inference is a separate pass, so pass ``schema=...`` (DDL string) in
    ``options`` at scale to skip it (same rule as read_json)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    schema = options.pop("schema", None)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return Frame(reader.load(path))


def read_jdbc(spark: SparkSession, url: str, table: str, **options: str) -> Frame:
    """SQL sources (reference `from(DB::ResultSet)`, src/crysda.cr:49-52).
    Spark JDBC pushes the query down and can parallelize on a partition
    column."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return Frame(reader.load())


def dataframe_of(spark: SparkSession, *header: str):
    """In-memory literal table builder (reference: src/crysda.cr:54-93)::

        df = dataframe_of(spark, "a", "b").values(1, "x", 2, "y")
    """
    class _Builder:
        def values(self, *args: Any) -> Frame:
            if len(header) == 0 or len(args) % len(header) != 0:
                raise ValueError(
                    f"dataframe_of: {len(args)} values do not fill {len(header)} columns")
            rows = [tuple(args[i:i + len(header)])
                    for i in range(0, len(args), len(header))]
            return from_records(spark, [dict(zip(header, r)) for r in rows], order=list(header))
    return _Builder()


def from_records(spark: SparkSession, records: list[dict], order: list[str] | None = None) -> Frame:
    if not records:
        return empty_df(spark)
    cols = order or list(records[0].keys())
    try:
        sdf = spark.createDataFrame(records)
    except Exception:
        # all-null columns defeat inference; the reference tolerates
        # all-NA columns (AnyCol) — fall back to explicit types with
        # string for the undecidable ones
        sdf = spark.createDataFrame(
            [tuple(r.get(c) for c in cols) for r in records],
            schema=_infer_schema(records, cols))
    return Frame(sdf.select(*cols))


def _infer_schema(records: list[dict], cols: list[str]):
    from pyspark.sql import types as T

    py_to_spark = {int: T.LongType(), float: T.DoubleType(),
                   str: T.StringType(), bool: T.BooleanType(),
                   bytes: T.BinaryType()}
    fields = []
    for c in cols:
        spark_t = T.StringType()
        for r in records:
            v = r.get(c)
            if v is not None:
                # bool before int: bool is an int subclass
                spark_t = T.BooleanType() if isinstance(v, bool) \
                    else py_to_spark.get(type(v), T.StringType())
                break
        fields.append(T.StructField(c, spark_t, True))
    return T.StructType(fields)


def empty_df(spark: SparkSession) -> Frame:
    """0×0 table that tolerates all verbs (reference: src/crysda.cr:95-98)."""
    return Frame(spark.createDataFrame([], schema="struct<>"))
