"""Exact linear-interpolation quantiles (``quantile_cont``).

Semantics are DuckDB ``quantile_cont`` / Spark ``percentile``: position
``(n-1)*q`` over the sorted values of a group, linear interpolation
between the floor and ceil order statistics. The computation is ONE
grouped aggregate, Spark's exact ``percentile(value, array(qs),
frequency)``, so the input is scanned once; ``quantile_cont`` adds a
``posexplode`` for its long output.

``percentile`` collapses equal values into per-group counts (a hash map
merged map-side, like any partial aggregate), then holds the distinct
values of a group, with their counts, in ONE task. A group with very
many distinct values must therefore fit one executor's memory; data
with few distinct values per group costs little at any row count.

Beyond-reference operator (the Crystal reference has no quantile
aggregate); SURVEY §2.11 extension.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# working and output columns; grouping by one of these would silently
# alias the user's column into the aggregate's bookkeeping
_RESERVED = {"_v", "_wt", "_ps", "_qi", "q", "value"}


def percentiles(sdf: DataFrame, value_col: str, qs: Iterable[float],
                by: list[str] | None = None,
                weight_col: str | None = None
                ) -> tuple[DataFrame, list[float]]:
    """The one exact-quantile aggregate: ``(*by, _ps)`` with ``_ps`` the
    array of the group's quantiles, one row per group that has a
    value (ungrouped: one row, ``_ps`` NULL when no value exists).
    Returns the frame and the validated, de-duplicated ``qs`` (in
    first-occurrence order — the order of ``_ps``). See
    :func:`quantile_cont` for the NULL and weight contracts."""
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
    wt = F.lit(1) if weight_col is None else F.col(weight_col)
    base = (sdf.select(*by, F.col(value_col).cast("double").alias("_v"),
                       wt.cast("bigint").alias("_wt"))
            .where(F.col("_v").isNotNull() & (F.col("_wt") > 0)))
    ps = F.percentile("_v", F.array(*map(F.lit, qs)), F.col("_wt"))
    return base.groupBy(*by).agg(ps.alias("_ps")), qs


def quantile_cont(sdf: DataFrame, value_col: str, qs: Iterable[float],
                  by: list[str] | None = None,
                  with_index: bool = False,
                  weight_col: str | None = None) -> DataFrame:
    """Exact per-group quantiles with linear interpolation.

    Returns a long-format DataFrame ``(*by, q, value)`` with one row per
    (group, quantile) — plus a leading int column ``_qi`` (the position
    of ``q`` in the de-duplicated ``qs``) when ``with_index=True``, so
    callers can pivot on an exact integer key instead of float
    equality. NULL values are excluded (aggregate semantics); NULL
    group keys are kept; groups with no values produce no rows.

    ``weight_col``: when set, each input row stands for ``weight``
    REPEATED observations of its value (a positive integer count;
    rows with NULL/zero/negative weight are dropped). It is
    ``percentile``'s frequency argument, so the result is
    bit-identical to the unweighted quantile over the expanded rows.
    """
    by = list(by or [])
    agg, qs = percentiles(sdf, value_col, qs, by=by, weight_col=weight_col)
    qarr = F.array(*map(F.lit, qs))
    return (agg.select(*by, F.posexplode("_ps").alias("_qi", "value"))
            .select(*by, *(["_qi"] if with_index else []),
                    qarr[F.col("_qi")].alias("q"), "value"))
