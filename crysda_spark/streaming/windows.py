"""Structured Streaming operators (beyond-reference, SURVEY §2.10 notes
the reference has no streaming surface; these are the Spark-native
stream forms of the engine's aggregation verbs).

Patterns:
- tumbling/sliding/session windows with watermarks for late data
- streaming dedup (dropDuplicatesWithinWatermark on a fingerprint)
- stateful sessionization via applyInPandasWithState

Each builder takes a *streaming* DataFrame (from ``readStream``) and
returns a transformed streaming DataFrame; callers attach the sink.
File-source streams over the same parquet layout as the batch tables
let every one of these be tested hermetically (see tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F


def tumbling_counts(sdf: SparkDF, ts_col: str = "ts", width: str = "1 hour",
                    keys: list[str] | None = None,
                    watermark: str | None = "30 minutes") -> SparkDF:
    """Tumbling-window count+avg. Watermark bounds state: late rows beyond
    the delay are dropped, windows finalize and evict."""
    keys = keys or []
    if watermark:
        sdf = sdf.withWatermark(ts_col, watermark)
    return (sdf
            .groupBy(F.window(ts_col, width).alias("win"), *keys)
            .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
            .select(F.col("win.start").alias("window_start"), *keys, "n", "avg_value"))


def tumbling_rollup(sdf: SparkDF, ts_col: str = "ts", width: str = "1 hour",
                    keys: list[str] | None = None,
                    watermark: str | None = "30 minutes",
                    **measures) -> SparkDF:
    """Streaming form of ``operators.rollup.time_rollup``: the same
    mergeable measure kinds (count/sum/min/max/hll) over a tumbling
    window, so a live stream and the batch rollup cascade produce
    interchangeable partials — the lambda-architecture contract. The
    output schema matches time_rollup's (keys..., bucket, measures...);
    merge_rollup can coarsen either source."""
    from ..operators.rollup import check_measures, fine_measure_exprs

    check_measures(measures)
    keys = keys or []
    if watermark:
        sdf = sdf.withWatermark(ts_col, watermark)
    sdf, aggs = fine_measure_exprs(sdf, measures)
    # column order matches time_rollup exactly (keys..., bucket,
    # measures...) so batch and stream partials union positionally too
    return (sdf
            .groupBy(F.window(ts_col, width).alias("win"), *keys)
            .agg(*aggs)
            .select(*keys, F.col("win.start").alias("bucket"),
                    *measures.keys()))


def sliding_counts(sdf: SparkDF, ts_col: str = "ts", width: str = "1 hour",
                   slide: str = "15 minutes", keys: list[str] | None = None,
                   watermark: str | None = "30 minutes") -> SparkDF:
    keys = keys or []
    if watermark:
        sdf = sdf.withWatermark(ts_col, watermark)
    return (sdf
            .groupBy(F.window(ts_col, width, slide).alias("win"), *keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("window_start"), *keys, "n"))


def session_counts(sdf: SparkDF, ts_col: str = "ts", gap: str = "30 minutes",
                   keys: list[str] | None = None,
                   watermark: str | None = "30 minutes") -> SparkDF:
    """Session windows: rows within ``gap`` of each other merge into one
    session per key. Spark's native session_window handles merge +
    state eviction."""
    keys = keys or []
    if watermark:
        sdf = sdf.withWatermark(ts_col, watermark)
    return (sdf
            .groupBy(F.session_window(ts_col, gap).alias("win"), *keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"), *keys, "n"))


def streaming_dedup(sdf: SparkDF, fingerprint_col, id_col: str = "event_id",
                    ts_col: str = "ts", watermark: str = "1 hour") -> SparkDF:
    """Streaming exact dedup: first occurrence of each fingerprint within
    the watermark horizon survives. State size is bounded by the
    watermark — the streaming analog of dedup_exact_by_fingerprint."""
    return (sdf.withColumn("__fp__", fingerprint_col)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__fp__"])
            .drop("__fp__"))


def stateful_running_totals(sdf: SparkDF, key_col: str = "user_id",
                            value_col: str = "value",
                            key_type: str = "bigint") -> SparkDF:
    """Custom stateful operator: per-key running (count, sum) maintained
    across micro-batches with applyInPandasWithState — the template for
    operators Spark's built-in windowed aggs can't express (per-key
    model state, CUSUM detectors, custom eviction policies).

    Each group's state is one (n, total) tuple — O(distinct keys) state,
    partitioned by key across executors; batches arrive as Arrow
    chunks. Output mode: update (one row per key per batch it appears
    in, carrying the running totals)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} {key_type}, n bigint, total double"
    state_schema = "n bigint, total double"

    def fn(key, pdfs, state):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    return (sdf.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def enrich_with_static(stream: SparkDF, dim: SparkDF, on: list[str] | str,
                       how: str = "left", hint_broadcast: bool = True) -> SparkDF:
    """Stream-static join: enrich each micro-batch with a batch dimension
    table. AQE doesn't apply to streaming plans, so the broadcast hint
    matters: without it a large-looking dim forces a per-batch shuffle
    of the stream side. The dim table is re-read per trigger (picks up
    slowly-changing dimensions for file/Delta sources)."""
    right = F.broadcast(dim) if hint_broadcast else dim
    return stream.join(right, on=on, how=how)


def stream_stream_interval_join(left: SparkDF, right: SparkDF,
                                on: list[str] | str,
                                left_ts: str = "ts", right_ts: str = "ts",
                                lower: str = "0 seconds",
                                upper: str = "1 hour",
                                left_watermark: str = "30 minutes",
                                right_watermark: str = "30 minutes",
                                how: str = "inner") -> SparkDF:
    """Stream-stream join with an event-time interval condition:
    matches right rows with ``left_ts <= right_ts <= left_ts + upper``
    (shifted by ``lower``).

    Both sides MUST carry watermarks — the interval bound plus the
    watermarks is what lets Spark expire buffered state; an unbounded
    stream-stream join would buffer both streams forever. State per key
    is bounded by (watermark + interval) of events. Outer variants emit
    unmatched rows only once the watermark passes the join window, so
    results trail event time by that delay — the correct semantics for
    late data, not a bug.

    The equality keys shuffle both streams to the same tasks (hash
    partitioning on ``on``); the interval condition is evaluated within
    the state store, so no cross-partition scan happens at any scale.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lw = left.withWatermark(left_ts, left_watermark).alias("l")
    rw = right.withWatermark(right_ts, right_watermark).alias("r")
    cond = _interval_cond(keys, left_ts, right_ts, lower, upper)
    return lw.join(rw, on=cond, how=how)


def _interval_cond(keys: list[str], left_ts: str, right_ts: str,
                   lower: str, upper: str):
    """Key equality + event-time interval condition over 'l'/'r'-aliased
    sides — the ONE matching predicate shared by the streaming join and
    its batch equivalent, so the oracle proves the semantics both run."""
    cond = None
    for k in keys:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    lo = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}")
    hi = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")
    return cond & (F.col(f"r.{right_ts}") >= lo) & (F.col(f"r.{right_ts}") <= hi)


def interval_join_batch(left: SparkDF, right: SparkDF,
                        on: list[str] | str,
                        left_ts: str = "ts", right_ts: str = "ts",
                        lower: str = "0 seconds", upper: str = "1 hour",
                        how: str = "inner") -> SparkDF:
    """Batch form of ``stream_stream_interval_join``: identical matching
    predicate (same ``_interval_cond``) over static DataFrames, no
    watermarks. This is the oracle surface for the streaming join —
    watermarks only bound state and lateness, so for in-watermark data
    the streaming inner join's row set equals this join's (pinned by
    tests/test_streaming.py and the DuckDB-oracled
    ``interval_join_click_error`` entry).

    Scale shape: Catalyst executes the key equality as the join key
    (shuffle or broadcast on ``on``) with the interval bounds as a
    post-join filter within matched key groups — the same
    per-key-locality the streaming state store exploits; no
    cross-partition scan at any scale."""
    keys = [on] if isinstance(on, str) else list(on)
    cond = _interval_cond(keys, left_ts, right_ts, lower, upper)
    return left.alias("l").join(right.alias("r"), on=cond, how=how)


def stream_from_parquet_dir(spark, path: str, schema) -> SparkDF:
    """File-source stream over a parquet directory — each new file is a
    micro-batch. Used to exercise streaming ops hermetically in tests
    and as the template for production file-drop ingestion."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def run_to_memory(stream_df: SparkDF, name: str, mode: str = "append"):
    """Drain a bounded stream into an in-memory table; returns the query.
    Test/debug helper — production sinks are kafka/parquet/delta."""
    q = (stream_df.writeStream.format("memory")
         .queryName(name).outputMode(mode)
         .trigger(availableNow=True).start())
    return q


def sliding_rollup(sdf: SparkDF, ts_col: str = "ts", width: str = "1 hour",
                   slide: str = "30 minutes", keys: list[str] | None = None,
                   watermark: str | None = "30 minutes",
                   **measures) -> SparkDF:
    """Sliding-window twin of ``tumbling_rollup`` — every measure kind
    (count/sum/min/max/hll/hist/moments/cms) over overlapping windows.
    Each event lands in width/slide windows; partials from overlapping
    windows must NOT be merged across window starts (they share
    events), which is why the bucket is the window START, never a
    coarser truncation."""
    from ..operators.rollup import check_measures, fine_measure_exprs

    check_measures(measures)
    keys = keys or []
    if watermark:
        sdf = sdf.withWatermark(ts_col, watermark)
    sdf, aggs = fine_measure_exprs(sdf, measures)
    return (sdf
            .groupBy(F.window(ts_col, width, slide).alias("win"), *keys)
            .agg(*aggs)
            .select(*keys, F.col("win.start").alias("bucket"),
                    *measures.keys()))
