"""String→type re-inference (reference: src/crysda/utils.cr:275-365).

The reference peeks at the first 20 values and tries
Int32 → Int64 → Float64 → Bool → String. A driver-side peek doesn't
distribute, so we decide the type with ONE aggregate pass per column:
count how many non-null values survive each try_cast and pick the first
type that loses nothing. That keeps the decision exact at any scale
(the reference's 20-value peek can mis-infer; ours cannot) at the cost
of one cheap job per ``convert=True`` call.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDF
from pyspark.sql import functions as F

# reference inference order (src/crysda/utils.cr:283-291); Int32 and Int64
# collapse to Spark long — reference's 32/64 split is a memory concern that
# Tungsten already handles.
_CASTS = ["bigint", "double", "boolean"]

TRUE_VALUES = ["T", "TRUE"]
FALSE_VALUES = ["F", "FALSE"]


def _clean_num(c: Column) -> Column:
    # reference strips thousands commas before float parse (utils.cr:319)
    return F.regexp_replace(c, ",", "")


def _cast_for(name: str, counts, tv: list[str], fv: list[str]) -> Column | None:
    c = F.col(name)
    up = F.upper(c)
    n = counts[f"{name}!n"]
    if n == 0:
        return None
    if counts[f"{name}!i"] == n:
        return _clean_num(c).cast("bigint")
    if counts[f"{name}!d"] == n:
        return _clean_num(c).cast("double")
    if counts[f"{name}!b"] == n:
        return F.when(up.isin(tv), F.lit(True)).when(up.isin(fv), F.lit(False))
    return None


def inferred_casts(sdf: SparkDF, names: list[str],
                   true_values: list[str] | None = None,
                   false_values: list[str] | None = None) -> dict[str, Column]:
    """Cast expressions for every inferable column in ``names`` — ALL
    columns decided with ONE aggregate job (4 counters per column), not
    one job per column."""
    tv = [v.upper() for v in (true_values or TRUE_VALUES)]
    fv = [v.upper() for v in (false_values or FALSE_VALUES)]
    aggs = []
    for name in names:
        c = F.col(name)
        aggs += [
            F.count(c).alias(f"{name}!n"),
            F.count(_clean_num(c).try_cast("bigint")).alias(f"{name}!i"),
            F.count(_clean_num(c).try_cast("double")).alias(f"{name}!d"),
            F.sum(F.upper(c).isin(tv + fv).cast("int")).alias(f"{name}!b"),
        ]
    if not aggs:
        return {}
    counts = sdf.agg(*aggs).collect()[0]
    out = {}
    for name in names:
        cast = _cast_for(name, counts, tv, fv)
        if cast is not None:
            out[name] = cast
    return out


def convert_types(sdf: SparkDF, cols: list[str], **kw) -> SparkDF:
    """Re-infer string columns to bigint/double/boolean where lossless."""
    names = [c for c in cols if dict(sdf.dtypes).get(c) == "string"]
    casts = inferred_casts(sdf, names, **kw)
    if casts:
        sdf = sdf.withColumns(casts)
    return sdf
