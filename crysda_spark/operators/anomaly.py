"""Trailing-window anomaly detection over time series / rollups.

The alerting primitive: flag buckets whose value deviates from the
TRAILING window's distribution by more than ``z`` sample standard
deviations. The trailing frame excludes the current row (an anomaly
must not raise its own baseline) and requires a full window before
flagging (cold-start buckets get NULL zscores, never false alarms).

One window pass per key — runs on rollup OUTPUT (small), not raw
events. Deterministic contract: zscores round to 6 decimals BEFORE
the threshold compare, so flags are reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..frame import Frame
from .quantiles import percentiles

__all__ = ["anomaly_flags", "trailing_score"]


def trailing_score(values, x, window: int, z: float):
    """THE scoring contract, stated once for batch and stream (the
    ``interval_join_batch`` pattern): ``values`` are the previous
    ``window`` ROWS' values (None for nulls — positional frame
    semantics), ``x`` the current value. Returns (expected, zscore,
    is_anomaly): expected = trailing mean of non-null values rounded
    to 6 dp (None when all-null); zscore = (x − mean)/sample-stddev
    rounded to 6 dp, only when ALL ``window`` trailing rows are
    non-null, the stddev is > 0, and ``x`` is non-null; is_anomaly =
    |zscore| > z, False on null zscore. ``anomaly_flags`` implements
    the same contract as JVM window expressions; the streaming twin
    calls this directly — equality is pinned by pytest."""
    import math
    present = [v for v in values if v is not None]
    expected = round(sum(present) / len(present), 6) if present else None
    zscore = None
    if len(present) == window and x is not None:
        mean = sum(present) / window
        var = sum((v - mean) ** 2 for v in present) / (window - 1)
        sd = math.sqrt(var)
        if sd > 0:
            zscore = round((x - mean) / sd, 6)
    return expected, zscore, (zscore is not None and abs(zscore) > z)


def anomaly_flags(f: Frame, value_col: str, by: list[str] | str | tuple = (),
                  order_col: str = "bucket", window: int = 7,
                  z: float = 3.0) -> Frame:
    """Append (expected, zscore, is_anomaly) to each row: expected =
    trailing-``window`` mean, zscore = (x − expected)/trailing stddev
    (sample), is_anomaly = |zscore| > ``z``. Rows without a FULL
    trailing window, or with zero trailing variance, get NULL zscore
    and a false flag."""
    if window < 2:
        raise ValueError(f"anomaly_flags: window must be ≥ 2, got {window}")
    keys = [by] if isinstance(by, str) else list(by)
    for c in ("expected", "zscore", "is_anomaly"):
        if c in f.columns:
            raise ValueError(f"anomaly_flags: column {c!r} already exists")
    base = W.partitionBy(*keys).orderBy(order_col) if keys else \
        W.partitionBy().orderBy(order_col)
    trail = base.rowsBetween(-window, -1)
    x = F.col(value_col).cast("double")
    mean = F.avg(x).over(trail)
    sd = F.stddev_samp(x).over(trail)
    n = F.count(x).over(trail)
    zscore = F.when((n == window) & (sd > 0),
                    F.round((x - mean) / sd, 6))
    return Frame(f.sdf
                 .withColumn("expected", F.round(mean, 6))
                 .withColumn("zscore", zscore)
                 .withColumn("is_anomaly",
                             F.coalesce(F.abs(F.col("zscore")) > z,
                                        F.lit(False))))


_LOCAL_CAP = 200_000  # rows — a G×Q bounds table beyond this is misuse


def _as_local(sdf, what: str = "quantile bounds"):
    """Materialize a groups-sized frame as a LOCAL DataFrame (collect +
    createDataFrame). Joined back as a lazy plan, a quantile aggregate
    re-executes once per downstream scan (mad_outliers' MAD pass scans
    the median's join); as local data it joins back with a one-job
    plan. The result is G×Q rows (bounded by the grouping contract — it
    is broadcast anyway), and the collect is capped at ``_LOCAL_CAP``
    rows so an unbounded-cardinality grouping fails with an actionable
    error instead of a driver OOM.

    Side effect callers must document: this executes the quantile job
    EAGERLY at transform-build time — bounds freeze when the operator
    is called, not when the result is first acted on."""
    rows = sdf.limit(_LOCAL_CAP + 1).collect()
    if len(rows) > _LOCAL_CAP:
        raise ValueError(
            f"anomaly: the per-group {what} table exceeds {_LOCAL_CAP:,} "
            "rows — the grouping keys are too high-cardinality for a "
            "broadcast-back design; aggregate to coarser groups first")
    return sdf.sparkSession.createDataFrame(rows, sdf.schema)


def _quantile_base(sdf, keys: list, value_col: str):
    """(keys..., _av) projection with nulls and NaN excluded — both are
    missing under the quantile contract (NaN additionally has no total
    order the two engines share)."""
    v = F.col(value_col).cast("double")
    return (sdf.where(v.isNotNull() & ~F.isnan(v))
            .select(*keys, v.alias("_av")))


def _group_quantiles(sdf, keys: list, value_col: str, qs: list[float],
                     names: list[str], what: str):
    """Local ``(keys..., *names)`` table of per-group exact quantiles —
    the one ``percentile`` aggregate (operators/quantiles.py), collected
    through ``_as_local``."""
    agg, _ = percentiles(sdf, value_col, qs, by=keys)
    return _as_local(agg.select(*keys, *[F.col("_ps")[i].alias(n)
                                         for i, n in enumerate(names)]),
                     what)


def _join_back(sdf, keys: list, table):
    return (sdf.join(F.broadcast(table), on=keys) if keys
            else sdf.crossJoin(F.broadcast(table)))


def winsorize(f: Frame, value_col: str, by: list[str] | str | tuple = (),
              q_lo: float = 0.01, q_hi: float = 0.99,
              out_col: str | None = None) -> Frame:
    """Clamp ``value_col`` into its per-group [q_lo, q_hi] EXACT
    quantile range — the standard heavy-tail guard before computing
    means/regressions on noisy web data. Adds ``out_col`` (default
    ``{value_col}_w``); rows keep their order and count.

    Scale shape: both bounds come from ONE grouped ``percentile``
    aggregate over the projected values (equal values collapse to
    per-group counts map-side), arrive as one tiny (groups × 2) table
    and join back broadcast; the clamp is a codegen'd least/greatest.
    Deterministic: interpolation arithmetic is fixed IEEE, so the
    clamped values are reproducible — and SQL-oracle-able (DuckDB's
    percentile_cont implements the same (n−1)q contract).
    Null and NaN values are missing (excluded from the distribution).

    EAGER: the quantile job runs NOW (at call time, via the bounded
    local collect — see ``_as_local``), so the clamp bounds freeze
    against the input as of this call; a source that mutates between
    this call and the first action on the result does not move them."""
    if not 0.0 <= q_lo < q_hi <= 1.0:
        raise ValueError(f"winsorize: need 0 <= q_lo < q_hi <= 1, "
                         f"got ({q_lo}, {q_hi})")
    keys = [by] if isinstance(by, str) else list(by)
    out_col = out_col or f"{value_col}_w"
    bounds = _group_quantiles(_quantile_base(f.sdf, keys, value_col), keys,
                              "_av", [q_lo, q_hi], ["_lo", "_hi"],
                              "winsorize bounds")
    clamped = F.least(F.greatest(F.col(value_col).cast("double"),
                                 F.col("_lo")), F.col("_hi"))
    return Frame(_join_back(f.sdf, keys, bounds)
                 .withColumn(out_col, clamped).drop("_lo", "_hi"))


def mad_outliers(f: Frame, value_col: str,
                 by: list[str] | str | tuple = (),
                 k: float = 3.0) -> Frame:
    """Flag rows whose |value − median| exceeds ``k`` × MAD (median
    absolute deviation) within their group — the robust outlier rule
    that, unlike z-scores, a few extreme points cannot drag. Adds
    ``is_outlier``. A zero MAD (over half the group at one value)
    flags NOTHING — constant-ish groups produce no alarms, matching
    the no-false-positive posture of ``anomaly_flags``.

    Scale shape: two grouped ``percentile`` aggregates — the median
    over the projected values, then the MAD over their absolute
    deviations — each group-sized result collected local (bounded —
    ``_as_local``) before joining back; as a lazy plan the median
    would re-execute inside the MAD pass. The output plan is one scan
    of the raw input plus two broadcast joins. Null and NaN values are
    missing.
    The comparison runs on round(9) values so the flag is reproducible
    cross-engine (|v−m| sits exactly AT k·MAD in ties; rounding both
    sides first removes the last-ulp ambiguity).

    EAGER: both quantile jobs run NOW (at call time, via the bounded
    local collect — see ``_as_local``); the median/MAD freeze against
    the input as of this call."""
    keys = [by] if isinstance(by, str) else list(by)
    base = _quantile_base(f.sdf, keys, value_col)
    med = _group_quantiles(base, keys, "_av", [0.5], ["_med"], "median")
    dev = _join_back(base, keys, med).select(
        *keys, F.abs(F.col("_av") - F.col("_med")).alias("_dv"))
    mad = _group_quantiles(dev, keys, "_dv", [0.5], ["_mad"], "MAD")
    full = _join_back(_join_back(f.sdf, keys, med), keys, mad)
    dev_out = F.abs(F.col(value_col).cast("double") - F.col("_med"))
    flag = ((F.col("_mad") > 0)
            & (F.round(dev_out, 9)
               > F.round(F.lit(float(k)) * F.col("_mad"), 9)))
    return Frame(full.withColumn("is_outlier", flag))
