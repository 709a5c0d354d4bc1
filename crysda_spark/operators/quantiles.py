"""Distributed EXACT linear-interpolation quantiles (``quantile_cont``).

Spark's exact ``percentile`` aggregate buffers EVERY value of a group in
a single aggregation buffer — at 100 TB with a handful of groups that is
billions of doubles flowing through one final-agg task. This operator
computes the identical result (DuckDB ``quantile_cont`` / Spark
``percentile`` semantics: rank ``h = 1 + (n-1)*q``, linear interpolation
between the floor/ceil order statistics) with no per-group value
buffering, via bucketed rank selection:

1. bucket every row by value with a DETERMINISTIC pure function:
   ``bucket = #{bounds < v}`` over driver-collected ``approxQuantile``
   split points. Bucket quality only affects balance, never
   correctness — any monotonic bucketing yields exact ranks. Crucially,
   because the bucket id is a function of the value (not of
   ``spark_partition_id`` after a range exchange), every plan branch
   sees identical bucketing by construction; an earlier design relied
   on two range exchanges sampling identical partition bounds, which
   Spark does not guarantee — caught by the DuckDB oracle when a
   persist() shifted one branch's bounds.
2. per-(group, bucket) counts → cumulative offsets (a tiny B×G frame,
   persisted) turn bucket-local positions into GLOBAL per-group ranks;
3. inside each bucket, identical values COLLAPSE to (value, count)
   first (a codegen'd hash aggregate with map-side combine), and the
   in-bucket cumulative-count window runs over DISTINCT values only —
   each distinct value v with count c owns the closed global rank range
   (off + cum - c, off + cum]. The window partition is therefore
   bounded by distinct values per bucket, NOT row counts: a single
   value duplicated billions of times contributes one window row
   instead of recreating the per-group buffering this design exists to
   avoid (the degenerate-bucket caveat of the previous revision);
4. the ≤ 2·G·Q target order statistics (floor/ceil of each ``h``) are
   selected with a broadcast range-containment join (target rank within
   a value's rank range) and interpolated in a final tiny aggregate.

The heavy data crosses the wire once (the value-collapse hash
exchange); the counts branch reduces map-side to ≤ G·B rows per task
before its exchange; the bounds come from one extra aggregation-only
pass (``approxQuantile``). Interpolation uses the same
``lo + (hi - lo) * frac`` form as Spark/DuckDB so results agree
bit-for-bit on the oracle path.

Beyond-reference operator (the Crystal reference has no quantile
aggregate); SURVEY §2.11 extension.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..plans.cache import pin

_MAX_BUCKETS = 512  # bounds are a driver-held literal array; cap its size

# internal working columns; grouping by one of these would silently
# alias the user's column into the algorithm's bookkeeping
_RESERVED = {"_v", "_b", "_c", "_off", "_rank", "_lrn", "_frac", "_kind",
             "_n", "_t", "_qi", "_h", "_vc", "_cum", "_glo", "_ghi",
             "_vlo", "_vhi", "_wt", "q", "value"}


def _null_safe_join(left: DataFrame, right: DataFrame, keys: list[str],
                    extra=None) -> DataFrame:
    """Broadcast inner join on keys that must not drop NULL group keys
    (groupBy treats NULL as a regular key; a plain equi-join would).
    Right-side keys are renamed before the join so the output resolves
    unambiguously. ``extra`` appends a non-equi condition (used for the
    rank-range containment join)."""
    renamed = right
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__r_{k}")
    cond = extra
    for k in keys:
        c = left[k].eqNullSafe(F.col(f"__r_{k}"))
        cond = c if cond is None else cond & c
    return (left.join(F.broadcast(renamed), cond)
            .drop(*[f"__r_{k}" for k in keys]))


def approx_split_bounds(sdf: DataFrame, value_col: str,
                        n_b: int) -> list[float]:
    """~Equi-depth split points for the deterministic value bucketing:
    ONE codegen'd ``percentile_approx`` aggregation (map-side partial
    aggregation, whole-stage codegen) replacing the r10-r14
    ``DataFrame.approxQuantile`` call, which runs on the RDD path —
    row-at-a-time QuantileSummaries with no codegen (r15 optimization
    round: the swap alone cut the bounds job roughly in half on the
    bench host). ``accuracy = 4·n_b`` reproduces the old call's
    ``relativeError = 1/(4·n_b)`` (percentile_approx's contract is
    relative error ``1/accuracy``). Bucket BALANCE is all the bounds
    affect — any monotonic bucketing yields exact ranks downstream."""
    if n_b <= 1:
        return []
    probs = [i / n_b for i in range(1, n_b)]
    row = (sdf.agg(F.percentile_approx(
        value_col, F.array(*[F.lit(p) for p in probs]),
        F.lit(4 * n_b)).alias("_sp")).first())
    sp = row["_sp"] or []
    return [float(x) for x in sp if x is not None]


def quantile_cont(sdf: DataFrame, value_col: str, qs: Iterable[float],
                  by: list[str] | None = None,
                  num_partitions: int | None = None,
                  with_index: bool = False,
                  weight_col: str | None = None,
                  bounds: list[float] | None = None) -> DataFrame:
    """Exact per-group quantiles with linear interpolation.

    Returns a long-format DataFrame ``(*by, q, value)`` with one row per
    (group, quantile) — plus a leading int column ``_qi`` (the position
    of ``q`` in ``qs``) when ``with_index=True``, so callers can pivot
    on an exact integer key instead of float equality. NULL values are
    excluded (aggregate semantics); empty groups produce no rows.
    ``num_partitions`` sets the bucket count (default:
    spark.sql.shuffle.partitions, capped at 512). ``bounds``: optional
    pre-computed split points (any monotonic bucketing is exact — see
    :func:`approx_split_bounds`); callers that already aggregate over
    the same projection pass them in to skip the bounds job.

    ``weight_col``: when set, each input row stands for ``weight``
    REPEATED observations of its value (a positive integer count;
    rows with NULL/zero/negative weight are dropped). The result is
    bit-identical to running the unweighted quantile over the expanded
    rows — ranks are cumulative WEIGHTS instead of row counts, which
    the bucketed-rank design already computes (in-bucket ranks come
    from collapsed (value, count) pairs). This is the low-distinct
    fast path: callers that already hold a per-(group, value) count
    table (mad_outliers, winsorize) skip re-shuffling the corpus —
    the quantile machinery then runs on distinct-value-sized data.

    DETERMINISM REQUIREMENT: the input plan is scanned twice (the
    bucket-counts branch and the rank branch); a nondeterministic
    upstream (``sample()``, ``rand()``, a nondeterministic UDF) can
    yield DIFFERENT rows per scan, silently corrupting ranks.
    Materialize such inputs first (``.persist()`` / checkpoint /
    write-read) — persisting the full data unconditionally here would
    be a 100 TB-scale cost imposed on the (overwhelmingly common)
    deterministic case.

    Cache note: the tiny B×G offsets frame is pinned via the scoped
    cache registry; call ``crysda_spark.plans.cache.release_pinned()``
    after consuming results in long-lived sessions.
    """
    by = list(by or [])
    qs = [float(q) for q in qs]
    if not qs:
        raise ValueError("quantile_cont: qs must be non-empty")
    if any(q < 0.0 or q > 1.0 for q in qs):
        raise ValueError(f"quantile_cont: quantiles must be in [0, 1], got {qs}")
    qs = list(dict.fromkeys(qs))  # dedupe, keep first-occurrence order
    clash = _RESERVED & set(by)  # value_col is immediately re-aliased to _v
    if clash:
        raise ValueError(
            f"quantile_cont: group column(s) {sorted(clash)} collide with "
            f"internal working columns {sorted(_RESERVED)} — rename before "
            "calling")
    spark = sdf.sparkSession

    if weight_col is None:
        base = (sdf.select(*by, F.col(value_col).cast("double").alias("_v"),
                           F.lit(1).cast("bigint").alias("_wt"))
                .where(F.col("_v").isNotNull()))
    else:
        base = (sdf.select(*by, F.col(value_col).cast("double").alias("_v"),
                           F.col(weight_col).cast("bigint").alias("_wt"))
                .where(F.col("_v").isNotNull() & (F.col("_wt") > 0)))
    n_b = min(int(num_partitions
                  or spark.conf.get("spark.sql.shuffle.partitions")),
              _MAX_BUCKETS)

    # deterministic monotonic bucketing: one aggregation-only pass for
    # approximate split points (accuracy affects balance only — never
    # correctness), then bucket = #{bounds < v} as a codegen'd array
    # filter. Callers that already ran an aggregate over the same
    # projection (winsorize's path probe) pass ``bounds`` in and skip
    # this job entirely.
    if bounds is None:
        bounds = approx_split_bounds(base, "_v", n_b)
    bounds = sorted({float(b) for b in bounds if b is not None})
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.size(F.filter(barr, lambda b: F.col("_v") > b))
    else:
        bucket = F.lit(0)
    bucketed = base.withColumn("_b", bucket)

    # B×G bucket counts -> per-group cumulative offsets (tiny frame).
    # Pinned: it feeds both the rank join and the target-rank frame;
    # without materialization each consumer would rescan the input to
    # rebuild it. (release_pinned() frees it once results are consumed.)
    bcounts = bucketed.groupBy(*by, "_b").agg(F.sum("_wt").alias("_c"))
    w_part = W.partitionBy(*by) if by else W.partitionBy()
    w_off = w_part.orderBy("_b")
    # the group total rides the SAME window exchange as the offsets
    # (r16, guide §2.3): a whole-partition sum over the identical
    # partition key adds a Window operator but no exchange, replacing
    # the groupBy aggregation the totals frame used to pay
    offsets = pin(bcounts
                  .withColumn("_off", F.coalesce(
                      F.sum("_c").over(
                          w_off.rowsBetween(W.unboundedPreceding, -1)),
                      F.lit(0)))
                  .withColumn("_n", F.sum("_c").over(w_part)))

    # one row per group: the last bucket's offset + count IS the group
    # total (counts are positive, so _off + _c is strictly increasing
    # within a group — exactly one row matches). The quantile list is
    # a LITERAL struct array exploded in-plan (r16, guide §5): no
    # createDataFrame round trip, no broadcast join for it.
    totals = (offsets
              .filter(F.col("_off") + F.col("_c") == F.col("_n"))
              .select(*by, "_n"))
    qarr = F.array(*[F.struct(F.lit(i).cast("int").alias("_qi"),
                              F.lit(q).alias("q"))
                     for i, q in enumerate(qs)])
    targets = (totals.select(*by, "_n", F.explode(qarr).alias("_qq"))
               .select(*by, "_n",
                       F.col("_qq._qi").alias("_qi"),
                       F.col("_qq.q").alias("q"))
               .withColumn("_h", F.lit(1.0) + (F.col("_n") - 1) * F.col("q"))
               .withColumn("_frac", F.col("_h") - F.floor("_h"))
               .select(*by, "_qi", "q", "_frac",
                       F.explode(F.array(
                           F.struct(F.floor("_h").cast("bigint").alias("_rank"),
                                    F.lit("lo").alias("_kind")),
                           F.struct(F.ceil("_h").cast("bigint").alias("_rank"),
                                    F.lit("hi").alias("_kind")))).alias("_t"))
               .select(*by, "_qi", "q", "_frac",
                       F.col("_t._rank").alias("_rank"),
                       F.col("_t._kind").alias("_kind")))

    # collapse identical values to (value, count) BEFORE the in-bucket
    # window: the cumulative-count window then runs over DISTINCT values
    # only, so its partition is bounded by distinct values per bucket —
    # a value duplicated billions of times is one window row, not a
    # billion (the degenerate-bucket hazard of the row_number design).
    # Value _v with count _vc owns global ranks (_glo .. _ghi] where
    # _ghi = _off + cumulative count through _v.
    # (An r16 attempt to pre-filter this collapse to the ≤ 2·Q buckets
    # owning a target rank — exact, and ~n_b-fold fewer shuffled bytes —
    # measured SLOWER here: the filter's broadcast branch re-evaluates
    # the targets/offsets subplan, doubling the plan's broadcast joins
    # (8 → 16) and AQE stage count at bench scale. Reverted; see
    # OPTIMIZATION_r16.md.)
    vcounts = bucketed.groupBy(*by, "_b", "_v").agg(
        F.sum("_wt").alias("_vc"))
    w_rn = W.partitionBy(*(by + ["_b"])).orderBy("_v")
    vranked = vcounts.withColumn(
        "_cum", F.sum("_vc").over(w_rn.rowsBetween(W.unboundedPreceding, 0)))
    vranked = _null_safe_join(vranked, offsets.select(*by, "_b", "_off"),
                              by + ["_b"])
    vranked = (vranked
               .withColumn("_ghi", F.col("_off") + F.col("_cum"))
               .withColumn("_glo", F.col("_ghi") - F.col("_vc") + 1))

    # each target order statistic falls inside exactly one value's rank
    # range; targets stay broadcast-sized (≤ 2·G·Q rows)
    picked = _null_safe_join(
        vranked, targets, by,
        extra=(F.col("_rank") >= F.col("_glo"))
        & (F.col("_rank") <= F.col("_ghi")))
    out_keys = (["_qi"] if with_index else []) + ["q"]
    return (picked.groupBy(*by, "_qi", "q")
            .agg(F.min("_frac").alias("_frac"),
                 F.max(F.when(F.col("_kind") == "lo", F.col("_v"))).alias("_vlo"),
                 F.max(F.when(F.col("_kind") == "hi", F.col("_v"))).alias("_vhi"))
            .select(*by, *out_keys,
                    (F.col("_vlo")
                     + (F.col("_vhi") - F.col("_vlo")) * F.col("_frac"))
                    .alias("value")))
