"""Hypertable-style time rollups with mergeable measures
(beyond-reference; the reference has no time-series surface).

The 100 TB pattern: aggregate the raw corpus ONCE at the finest grain
(the only corpus-sized shuffle), then derive every coarser grain by
MERGING the fine-grain partials — a rollup cascade over tables that are
orders of magnitude smaller than the source. That only works for
measures with an associative merge, so measures are declared by kind:

    kind    fine aggregate              merge at coarser grain
    count   count(1)                    sum
    sum     sum(col)                    sum
    min     min(col)                    min
    max     max(col)                    max
    hll     hll_sketch_agg(col)         hll_union_agg (Datasketches
                                        binary — mergeable approx
                                        distinct, est. via estimate())

avg is intentionally absent: it does not merge — carry (sum, count)
and divide at read time.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..frame import Frame

GRAINS = ("minute", "hour", "day", "week", "month", "quarter", "year")

# kind -> (fine-grain aggregate over the raw column,
#          merge aggregate over the fine-grain partial)
_KINDS: dict[str, tuple] = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "hll": (F.hll_sketch_agg, F.hll_union_agg),
}

# "hist" is handled out-of-band (it carries (lo, hi, nbins) parameters):
# fine aggregate = fixed-boundary bin counts (array<long>), merge =
# element-wise array sum — exactly mergeable, so histogram-derived
# quantiles (hist_quantile) cascade through coarser grains with NO
# additional error beyond the fixed bin resolution.


# "ksample" is a deterministic KMV quantile sample (bottom-k rows by a
# portable hash of the row id): state = array<struct<h,v>> of the k
# hash-smallest rows' values, sorted by hash. Bottom-k of a union IS
# the bottom-k of bottom-k's, so the merge (concat -> sort -> truncate)
# is exactly associative AND commutative -- the state is identical
# under any partitioning, shuffle order, or rollup cascade path, which
# also makes it the one approximate-quantile state a cross-engine SQL
# oracle can check for exact VALUE equality. Rank error is the usual
# uniform-sampling bound O(1/sqrt(k)). The hash is md5 over the id's
# decimal string -- bit-identical in every engine (xxhash64 is
# Spark-only); ids must be unique or duplicate rows silently collapse.


def _ksample_spec(name: str, spec) -> tuple:
    if not (isinstance(spec, tuple) and len(spec) == 4):
        raise ValueError(
            f"rollup measure {name!r}: ksample needs "
            f"({name}=('ksample', value_col, id_col, k))")
    _, col, id_col, k = spec
    if not (isinstance(k, int) and 16 <= k <= 65536):
        raise ValueError(
            f"rollup measure {name!r}: ksample k must be an int in "
            f"[16, 65536], got {k!r}")
    return col, id_col, k


def _ksample_fine(col, id_col, k: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    entry = F.when(c.isNotNull() & i.isNotNull(),
                   F.struct(F.md5(i.cast("string")).alias("h"),
                            c.cast("double").alias("v")))
    return F.slice(F.array_sort(F.collect_list(entry)), 1, k)


def _ksample_merge(name: str, k: int) -> Column:
    return F.slice(F.array_sort(F.flatten(F.collect_list(F.col(name)))),
                   1, k)


def ksample_quantile(state, q: float) -> Column:
    """Quantile estimate from a ksample state: the ceil(q*n)-th
    smallest sampled value (n = current sample size; exact when the
    bucket held <= k rows). Pure JVM expressions, usable on any grain
    the state was cascaded to."""
    if not 0.0 < q <= 1.0:
        raise ValueError(f"ksample_quantile: q must be in (0, 1], got {q}")
    s = F.col(state) if isinstance(state, str) else state
    vals = F.array_sort(F.transform(s, lambda x: x["v"]))
    n = F.size(vals)
    idx = F.greatest(F.ceil(F.lit(float(q)) * n).cast("int"), F.lit(1))
    return F.when(n > 0, F.element_at(vals, idx))


# ------------------------------------------------------- topk measure
# "topk" is a mergeable heavy-hitters state: the k keys with the
# largest per-bucket counts, each carrying [lb, ub] bounds on its true
# count, plus a bucket-level `cut` — an upper bound on the count of ANY
# key absent from the state. Fine states are EXACT (lb = ub = count,
# cut = the (k+1)-th count); merging unions entries (absent-state mass
# enters ub via that state's cut) and re-truncates, keeping the
# invariant: every key with true count > cut is guaranteed present,
# and every present key's true count lies in [lb, ub] (the Datasketches
# "frequent items" bound structure, Misra-Gries style).
#
# Unlike every other kind, topk is NOT a single aggregate expression —
# it needs a per-(bucket, key) count before truncation — so
# time_rollup / merge_rollup / combine_rollups split topk measures out,
# build them with the relational stages below, and join the state back
# on (keys..., bucket). fine_measure_exprs raises for it, which also
# makes the streaming rollups reject it with a clear error: stream into
# a finer batch rollup and merge instead.

_TOPK_ENTRY_T = "array<struct<key:string,lb:bigint,ub:bigint>>"
_TOPK_SPLITS = 64  # stage-1 tournament fan-in (see _topk_fine_frame)


def _topk_spec(name: str, spec) -> tuple:
    if not (isinstance(spec, tuple) and len(spec) == 3):
        raise ValueError(
            f"rollup measure {name!r}: topk needs "
            f"({name}=('topk', key_col, k))")
    _, col, k = spec
    if not (isinstance(k, int) and 1 <= k <= 4096):
        raise ValueError(
            f"rollup measure {name!r}: topk k must be an int in "
            f"[1, 4096], got {k!r}")
    return col, k


def _topk_measures(measures: dict) -> dict:
    return {n: s for n, s in measures.items()
            if isinstance(s, tuple) and s[0] == "topk"}


def _topk_state(entries: Column, cut: Column) -> Column:
    return F.struct(entries.alias("entries"), cut.alias("cut"))


def _topk_fine_frame(base, keys: list, name: str, key_col: str, k: int):
    """Exact per-bucket top-k state from raw rows — (keys..., bucket,
    state). Selection is a two-stage tournament so no single task ever
    sorts a whole bucket's key set: per-key counts shuffle by
    (bucket, key); stage 1 ranks within (bucket, hash(key) % S) splits
    (each window ≤ |keys|/S rows); stage 2 sorts the ≤ S·(k+1) split
    survivors INSIDE one aggregate (collect → array_sort → slice —
    bounded by S·(k+1) entries per bucket), replacing the r9 second
    window + cut join whose duplicated subtree recomputed the per-key
    count shuffle (the corpus-sized stage) twice. Exact for the entry
    list (a global top-k key is top-k in its split); `cut` may be the
    max of split cuts rather than the global (k+1)-th count — a VALID
    (just possibly looser) absent-key bound."""
    kc = F.col(key_col).cast("string")
    cnt = (base.filter(kc.isNotNull())
           .groupBy(*keys, "bucket", kc.alias("_k"))
           .agg(F.count(F.lit(1)).alias("_c")))
    from pyspark.sql.window import Window as _W
    # r16: the struct/transform/sort Columns below are server-side-
    # parsed expressions (the r15 _cms_fine treatment) — building them
    # Column-by-Column cost ~0.3 s of driver py4j time per call; the
    # parsed trees are literal-identical (int literals, named_struct
    # field order, xxhash64 over the string key), so states match
    # bit-for-bit. Internal column names only — nothing user-supplied
    # is interpolated.
    w1 = (_W.partitionBy(*keys, "bucket", "_sp")
          .orderBy(F.col("_c").desc(), F.col("_k")))
    s1 = (cnt.withColumn("_sp", F.expr(f"pmod(xxhash64(_k), {_TOPK_SPLITS})"))
          .withColumn("_rn", F.row_number().over(w1))
          .filter(F.expr(f"_rn <= {k + 1}")))
    # ONE aggregate finishes the tournament: sorted split winners
    # (rn ≤ k, ≤ S·k rows) yield the entries (top k) and the global
    # (k+1)-th count (position k+1 of the sort — counts descend, so it
    # is the max beyond-k count, the r9 `_s2cut`); the split cuts'
    # max (rn = k+1 rows) bounds anything dropped inside a split.
    st = (s1.groupBy(*keys, "bucket")
          .agg(F.expr(
              f"array_sort(collect_list(CASE WHEN _rn <= {k} THEN "
              f"named_struct('nc', -_c, 'key', _k, 'lb', _c, 'ub', _c) "
              f"END))").alias("_sorted"),
              F.expr(f"coalesce(max(CASE WHEN _rn = {k + 1} THEN _c END), "
                     f"0)").alias("_sc")))
    entries = (f"transform(slice(_sorted, 1, {k}), "
               f"s -> named_struct('key', s.key, 'lb', s.lb, 'ub', s.ub))")
    s2cut = (f"CASE WHEN size(_sorted) > {k} "
             f"THEN element_at(_sorted, {k + 1}).lb ELSE 0 END")
    state = F.expr(f"named_struct("
                   f"'entries', CAST({entries} AS {_TOPK_ENTRY_T}), "
                   f"'cut', greatest({s2cut}, _sc))")
    return st.select(*keys, "bucket", state.alias(name))


def _topk_merge_frame(sdf, keys: list, name: str, k: int):
    """Merge topk states sharing a (keys..., bucket) cell — ``sdf``
    must already carry the COARSE bucket column. Row volume is bounded
    by merge arity × k per cell (hour→day = 24·k), so the ranking
    window is safe.

    The state table is PINNED (scoped cache registry — callers release
    via ``release_pinned()``): the merge itself now consumes it once
    (r16 single-pass restructure below), but the pin keeps a CALLER
    consuming the merged output more than once (a gate plus a sink,
    repeated sink batches) from re-running the corpus-sized counting
    pipeline per consumer (the r9 failure this pin was added for).
    States are one row per fine bucket — the cache is rollup-output-
    sized, not corpus-sized."""
    from ..plans.cache import pin
    base = pin(sdf.select(*keys, "bucket", F.col(name).alias("_st")))
    # r16 restructure (VERDICT r15 #3 — fewer stages): the r9-r15 shape
    # ran THREE aggregation pipelines over the states (per-cell cut
    # sums, exploded per-key sums, the ranked entry collect) stitched
    # by TWO joins (~5 exchanges → ~5 AQE stage jobs of pure scheduling
    # on a rollup-sized table). This computes identical values in ONE
    # pass: posexplode_outer keeps entry-less states as a null-key row
    # per cell, the per-(cell, key) aggregate carries each state's cut
    # ONCE (`_c1`, attributed to position 0 / the null row), a window
    # over the cell turns Σ_c1 into the old per-cell `_cuts`, and the
    # ranking window + final aggregate reuse that same (keys, bucket)
    # exchange — 2 exchanges, no join. Value equivalence: real keys'
    # sums are untouched by the null-key row (its _lb is NULL, ranked
    # last under desc-nulls-last, excluded from entries by the
    # _k IS NOT NULL arm and from _cx because its _ub is NULL, which
    # max() ignores), and Σ_c1 over a cell is exactly Σ state cuts.
    # Expression bodies are server-side-parsed — see _topk_fine_frame.
    ex = base.select(*keys, "bucket", F.expr("_st.cut").alias("_scut"),
                     F.expr("posexplode_outer(_st.entries)")
                     .alias("_p", "_e"))
    perkey = (ex.groupBy(*keys, "bucket", F.expr("_e.key").alias("_k"))
              .agg(F.expr("sum(_e.lb)").alias("_lb"),
                   F.expr("sum(_e.ub)").alias("_ubp"),
                   F.expr("sum(_scut)").alias("_cutp"),
                   F.expr("sum(CASE WHEN _p IS NULL OR _p = 0 "
                          "THEN _scut ELSE 0 END)").alias("_c1")))
    from pyspark.sql.window import Window as _W
    wd = _W.partitionBy(*keys, "bucket")
    wr = wd.orderBy(F.col("_lb").desc(), F.col("_k"))
    # a state where the key is absent can hide at most its cut of mass
    ranked = (perkey
              .withColumn("_cuts", F.sum("_c1").over(wd))
              .withColumn("_rn", F.row_number().over(wr))
              .withColumn("_ub", F.expr("_ubp + (_cuts - _cutp)")))
    st = (ranked.groupBy(*keys, "bucket")
          .agg(F.expr(
              f"transform(array_sort(collect_list(CASE WHEN _rn <= {k} "
              f"AND _k IS NOT NULL THEN named_struct('nc', -_lb, "
              f"'key', _k, 'lb', _lb, 'ub', _ub) END)), "
              f"s -> named_struct('key', s.key, 'lb', s.lb, 'ub', s.ub))"
          ).alias("_entries"),
              F.expr(f"coalesce(max(CASE WHEN _rn > {k} THEN _ub END), "
                     f"0)").alias("_cx"),
              F.expr("max(_cuts)").alias("_cuts")))
    # every cell survives (the null-key row keeps entry-less cells), so
    # no join-back: entries may be EMPTY but never null, preserving the
    # fine states' non-null shape (r8 advice)
    return st.select(*keys, "bucket",
                     F.expr(f"named_struct("
                            f"'entries', coalesce(_entries, "
                            f"CAST(array() AS {_TOPK_ENTRY_T})), "
                            f"'cut', greatest(_cuts, coalesce(_cx, 0)))")
                     .alias(name))


def topk_explode(rollup: Frame, name: str,
                 keys: list[str] | tuple | str = ()) -> Frame:
    """Read a topk measure column as rows: (keys..., bucket, key, lb,
    ub, cut). Contract: every key whose true count in the bucket
    exceeds ``cut`` is present; each present key's true count lies in
    [lb, ub] (fine states: lb = ub = exact count, cut = (k+1)-th)."""
    keys = _norm_keys(keys)
    sdf = rollup.sdf
    ex = sdf.select(*keys, "bucket", F.col(f"{name}.cut").alias("cut"),
                    F.explode(f"{name}.entries").alias("_e"))
    return Frame(ex.select(*keys, "bucket", F.col("_e.key").alias("key"),
                           F.col("_e.lb").alias("lb"),
                           F.col("_e.ub").alias("ub"), "cut"))


def _hist_spec(name: str, spec) -> tuple:
    if not (isinstance(spec, tuple) and len(spec) == 5):
        raise ValueError(
            f"rollup measure {name!r}: hist needs "
            f"({name}=('hist', col, lo, hi, nbins))")
    _, col, lo, hi, nbins = spec
    if not isinstance(nbins, int) or nbins < 1:
        raise ValueError(f"rollup measure {name!r}: nbins must be a "
                         f"positive int, got {nbins!r}")
    import math
    if not (isinstance(lo, (int, float)) and isinstance(hi, (int, float))
            and math.isfinite(lo) and math.isfinite(hi)):
        # r15 advice: a non-finite bound reached the generated SQL as
        # 'infD'/'nanD' — a parse error instead of a clear ValueError
        raise ValueError(f"rollup measure {name!r}: lo/hi must be finite "
                         f"numbers, got ({lo!r}, {hi!r})")
    if not hi > lo:
        raise ValueError(f"rollup measure {name!r}: need hi > lo, "
                         f"got ({lo}, {hi})")
    return col, float(lo), float(hi), nbins


def _hist_fine(col: str, lo: float, hi: float, nbins: int) -> Column:
    """Fixed-boundary histogram aggregate over the plain column ``col``
    (``fine_measure_exprs`` projects every input to one): array<long>
    of bin counts. Values clamp into the edge bins (below lo → bin 0,
    at/above hi → bin nbins-1); nulls are not counted. Built as ONE
    parsed expression (see _cms_fine); the idx CASE is explicit about
    nulls because greatest/least ignore them (a null value would
    otherwise clamp into bin 0), null = i is null, and if() treats null
    as false -> 0."""
    width = (hi - lo) / nbins
    idx = (f"(case when {col} is not null then "
           f"least(greatest(cast(floor(({col} - {float(lo)!r}D) / "
           f"{float(width)!r}D) as int), 0), {nbins - 1}) end)")
    cells = ", ".join(
        f"sum(cast(if({idx} = {i}, 1, 0) as bigint))" for i in range(nbins))
    return F.expr(f"array({cells})")


def _hist_merge(name: str, nbins: int) -> Column:
    zero = F.array(*[F.lit(0).cast("long")] * nbins)
    return F.aggregate(F.collect_list(F.col(name)), zero,
                       lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b))


def hist_quantile(col, q: float, lo: float, hi: float, nbins: int) -> Column:
    """Interpolated quantile from a ``hist`` measure column — the read-
    time companion of the mergeable histogram. Error contract: within
    one bin width of the EMPIRICAL-CDF inverse (the type-1 /
    ``inverted_cdf`` quantile — the found bin contains that order
    statistic; Hypothesis-fuzzed). Deterministic arithmetic, so the
    whole cascade + quantile is SQL-oracle-able. Returns NULL for an all-empty histogram;
    q=0 → start of the first occupied bin, q=1 → end of the last."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"hist_quantile: q must be in [0, 1], got {q}")
    h = F.col(col) if isinstance(col, str) else col
    width = (hi - lo) / nbins
    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.lit(q) * total.cast("double")
    indexed = F.zip_with(h, F.sequence(F.lit(0), F.lit(nbins - 1)),
                         lambda c, i: F.struct(i.alias("i"), c.alias("c")))
    init = F.struct(F.lit(0).cast("long").alias("cum"),
                    F.lit(-1).alias("idx"),
                    F.lit(0).cast("long").alias("before"),
                    F.lit(0).cast("long").alias("cf"))

    def step(acc, x):
        found = ((acc["idx"] < 0) & (x["c"] > 0)
                 & ((acc["cum"] + x["c"]).cast("double") >= target))
        return F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.when(found, x["i"]).otherwise(acc["idx"]).alias("idx"),
            F.when(found, acc["cum"]).otherwise(acc["before"]).alias("before"),
            F.when(found, x["c"]).otherwise(acc["cf"]).alias("cf"))

    st = F.aggregate(indexed, init, step)
    est = (F.lit(lo) + F.lit(width)
           * (st["idx"] + (target - st["before"]) / st["cf"]))
    return F.when(total > 0, est)


def _norm_keys(keys) -> list[str]:
    return [keys] if isinstance(keys, str) else list(keys)


def _check(grain: str, measures: dict) -> None:
    if grain not in GRAINS:
        raise ValueError(f"rollup: unknown grain {grain!r}; pick one of {GRAINS}")
    check_measures(measures)


def check_measures(measures: dict) -> None:
    for name, spec in measures.items():
        kind = spec[0] if isinstance(spec, tuple) else spec
        if kind == "hist":
            _hist_spec(name, spec if isinstance(spec, tuple) else None)
            continue
        if kind == "moments":
            if not (isinstance(spec, tuple) and len(spec) == 2):
                raise ValueError(
                    f"rollup measure {name!r}: moments needs "
                    f"({name}=('moments', col))")
            continue
        if kind == "cms":
            _cms_spec(name, spec if isinstance(spec, tuple) else None)
            continue
        if kind == "ksample":
            _ksample_spec(name, spec if isinstance(spec, tuple) else None)
            continue
        if kind == "topk":
            _topk_spec(name, spec if isinstance(spec, tuple) else None)
            continue
        col = spec[1] if isinstance(spec, tuple) else None
        if kind not in _KINDS:
            raise ValueError(
                f"rollup measure {name!r}: kind {kind!r} not mergeable; "
                f"supported: {sorted(_KINDS) + ['hist']} (avg does not "
                "merge — carry sum+count instead)")
        if col is None and kind != "count":
            raise ValueError(
                f"rollup measure {name!r}: kind {kind!r} needs a column — "
                f"pass {name}=({kind!r}, <col>)")


def fine_measure_exprs(sdf, measures: dict) -> tuple:
    """Fine-grain aggregate expressions for every measure kind —
    shared by batch time_rollup and the streaming tumbling/sliding
    rollups so live and batch partials stay interchangeable for ALL
    kinds (including hist/moments/cms). Returns ``(sdf, aggs)``: the
    input with each hist/cms input projected to a plain alias (a
    column name, dotted struct ref or Column, resolved like every
    other kind's input), and the aggregates to run over it."""
    inputs, aggs = [], []
    for name, spec in measures.items():
        kind = spec[0] if isinstance(spec, tuple) else spec
        if kind in ("hist", "cms"):
            fine, parse = ((_hist_fine, _hist_spec) if kind == "hist"
                           else (_cms_fine, _cms_spec))
            col, *params = parse(name, spec)
            alias = f"_in_{name}"
            inputs.append(
                (F.col(col) if isinstance(col, str) else col).alias(alias))
            aggs.append(fine(alias, *params).alias(name))
            continue
        if kind == "moments":
            aggs.append(_moments_fine(spec[1]).alias(name))
            continue
        if kind == "ksample":
            aggs.append(_ksample_fine(*_ksample_spec(name, spec)).alias(name))
            continue
        if kind == "topk":
            raise ValueError(
                f"rollup measure {name!r}: topk is not a single aggregate "
                "expression (it ranks per-(bucket, key) counts before "
                "truncation) — batch time_rollup/merge_rollup build it "
                "relationally; streaming rollups cannot: stream into a "
                "finer batch rollup and merge instead")
        col = spec[1] if isinstance(spec, tuple) else None
        fine, _ = _KINDS[kind]
        aggs.append((fine(col) if col is not None else fine(None)).alias(name))
    return (sdf.select("*", *inputs) if inputs else sdf), aggs


def merge_measure_exprs(measures: dict) -> list:
    """Merge aggregates over the named partial columns for every kind —
    shared by merge_rollup, combine_rollups, and time_rollup's
    split-stage (ksample)."""
    aggs = []
    for name, spec in measures.items():
        kind = spec[0] if isinstance(spec, tuple) else spec
        if kind == "hist":
            aggs.append(_hist_merge(name, _hist_spec(name, spec)[3])
                        .alias(name))
        elif kind == "moments":
            aggs.append(_moments_merge(name).alias(name))
        elif kind == "cms":
            _, d, w = _cms_spec(name, spec)
            aggs.append(_cms_merge(name, d, w).alias(name))
        elif kind == "ksample":
            aggs.append(_ksample_merge(name, _ksample_spec(name, spec)[2])
                        .alias(name))
        elif kind == "topk":
            raise ValueError(
                f"rollup measure {name!r}: topk merges relationally "
                "(merge_rollup/combine_rollups split it out) — it has no "
                "single merge aggregate expression")
        else:
            _, merge = _KINDS[kind]
            aggs.append(merge(name).alias(name))
    return aggs


def time_rollup(f: Frame, ts_col: str, grain: str,
                keys: list[str] | tuple | str = (),
                **measures) -> Frame:
    """Aggregate to a time grain: (keys..., bucket, measures...).

    ``measures``: name=("count"|"sum"|"min"|"max"|"hll", col) or just the
    kind string for column-less kinds (count). This is the one
    corpus-sized aggregation; derive coarser grains from its OUTPUT with
    ``merge_rollup`` instead of re-scanning the source."""
    _check(grain, measures)
    keys = _norm_keys(keys)
    topks = _topk_measures(measures)
    measures = {n: s for n, s in measures.items() if n not in topks}
    base = f.sdf.withColumn("bucket", F.date_trunc(grain, F.col(ts_col)))
    if not measures:
        out = None
    else:
        out = _time_rollup_plain(base, keys, measures)
    for name, spec in topks.items():
        tf = _topk_fine_frame(base, keys, name, *_topk_spec(name, spec))
        # left join from the plain agg (every bucket with rows exists
        # there); a bucket whose key_col is all-null has no topk row —
        # fill the empty state so the column is never null
        out = tf if out is None else _topk_join_back(out, tf, keys, name)
    return Frame(out)


def _time_rollup_plain(base, keys: list, measures: dict):
    base, aggs = fine_measure_exprs(base, measures)
    ksamples = [spec for spec in measures.values()
                if isinstance(spec, tuple) and spec[0] == "ksample"]
    if ksamples:
        # ksample's fine aggregate buffers a list per group before
        # truncation; a billion-row bucket would pool in one reducer.
        # Pre-split each bucket by a hash of the sample id (so a row's
        # split is stable under any partitioning), build bounded
        # per-split states, then merge — bottom-k associativity makes
        # the result IDENTICAL to the unsplit aggregate.
        id_col = ksamples[0][2]
        base = base.withColumn(
            "_split", F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                             F.lit(64)))
        fine = base.groupBy(*keys, "bucket", "_split").agg(*aggs)
        return fine.groupBy(*keys, "bucket").agg(
            *merge_measure_exprs(measures))
    return base.groupBy(*keys, "bucket").agg(*aggs)


def _topk_empty_state() -> Column:
    return _topk_state(F.array().cast(_TOPK_ENTRY_T), F.lit(0).cast("bigint"))


def _topk_join_back(out, tf, keys: list, name: str):
    """Left-join a topk state frame onto the plain-measure rollup on
    (keys..., bucket), filling absent cells (key_col all-null in the
    bucket) with the empty state. Both sides are already rollup-sized
    (post-aggregation), so this join never touches the corpus."""
    jk = [*keys, "bucket"]
    renamed = tf
    for k in jk:
        renamed = renamed.withColumnRenamed(k, f"__r_{k}")
    cond = None
    for k in jk:
        c = out[k].eqNullSafe(F.col(f"__r_{k}"))  # null keys/buckets are
        cond = c if cond is None else cond & c    # real groupBy cells
    joined = out.join(renamed, cond, "left").drop(*[f"__r_{k}" for k in jk])
    return joined.withColumn(name, F.coalesce(F.col(name),
                                              _topk_empty_state()))


def _assert_nests(from_grain: str | None, coarser: str) -> None:
    """Merging is only valid when every fine bucket lies wholly inside
    one coarse bucket. Weeks cross month/quarter/year boundaries, so a
    week rollup CANNOT be merged into those grains — date_trunc('month',
    week_start) would silently misattribute the week's tail days."""
    if from_grain is None:
        return
    if from_grain not in GRAINS:
        raise ValueError(f"merge_rollup: unknown from_grain {from_grain!r}")
    order = {g: i for i, g in enumerate(GRAINS)}
    if order[coarser] <= order[from_grain]:
        raise ValueError(
            f"merge_rollup: {coarser!r} is not coarser than {from_grain!r}")
    if from_grain == "week" and coarser in ("month", "quarter", "year"):
        raise ValueError(
            "merge_rollup: week buckets straddle month boundaries — a week "
            "rollup cannot be merged into month/quarter/year; build those "
            "from a day (or finer) rollup instead")


def merge_rollup(rollup: Frame, coarser_grain: str,
                 keys: list[str] | tuple | str = (),
                 from_grain: str | None = None,
                 **measures) -> Frame:
    """Derive a coarser rollup by merging a finer one's partials —
    never touches the raw corpus. ``measures`` must carry the same
    name=kind declarations used to build the fine rollup (col is
    ignored here; the merge runs over the named partial column).

    Pass ``from_grain`` (the grain of the input rollup) to get the
    nesting check: merging is well-defined only when fine buckets nest
    in coarse ones — notably a WEEK rollup must never be merged into
    month/quarter/year (weeks straddle month boundaries and the tail
    days would be silently misattributed).

    CACHE SIDE EFFECT (r10 advice — applies to ``combine_rollups``
    too): when ``measures`` includes a topk, the fine state table is
    PERSISTED via the process-global pin registry (it is consumed
    three times inside the merge — see ``_topk_merge_frame``; the
    pinned table is rollup-output-sized, one row per fine bucket,
    never corpus-sized). Library callers running many merges in one
    session should call ``crysda_spark.plans.cache.release_pinned()``
    between batches, or the per-merge state tables accumulate in
    executor storage for the session lifetime."""
    _check(coarser_grain, measures)
    _assert_nests(from_grain, coarser_grain)
    keys = _norm_keys(keys)
    topks = _topk_measures(measures)
    plain = {n: s for n, s in measures.items() if n not in topks}
    coarse = rollup.sdf.withColumn(
        "bucket", F.date_trunc(coarser_grain, F.col("bucket")))
    out = (coarse.groupBy(*keys, "bucket")
           .agg(*merge_measure_exprs(plain))) if plain else None
    for name, spec in topks.items():
        mf = _topk_merge_frame(coarse, keys, name, _topk_spec(name, spec)[1])
        out = mf if out is None else _topk_join_back(out, mf, keys, name)
    return Frame(out)


def hll_estimate(col) -> Column:
    """Approximate distinct count from an hll measure column."""
    return F.hll_sketch_estimate(col)


# ----------------------------------------------------- moments measure
def _moments_fine(col) -> Column:
    """Mergeable second-moment state: (n, sum, sumsq) as exact decimal
    sums — variance/stddev derive at read time and the merge is
    field-wise addition, so the cascade carries NO float accumulation-
    order drift (the usual cross-engine variance trap).

    Precision contract (r8 fix): the square is computed on a
    decimal(18,8) operand, whose product type decimal(37,16) fits
    Spark's 38-digit cap with ZERO loss — squaring decimal(28,8)
    operands hit the allowPrecisionLoss collapse to decimal(38,6),
    silently rounding every squared value to 6 dp. The per-row square
    is then stored at scale 8 (exact whenever the input carries ≤ 4
    decimal places; 5-8 dp inputs round the square at 8 dp, never the
    value) and both sums carry decimal(38,8) headroom (~1e30). Inputs
    with |x| ≥ 1e10 (or NaN/Inf) RAISE rather than silently falling
    out of the sum via a null-producing cast."""
    c = F.col(col) if isinstance(col, str) else col
    d0 = c.cast("decimal(18,8)")
    d = F.when(
        c.isNotNull() & d0.isNull(),
        F.raise_error(F.lit(
            "moments measure: |value| >= 1e10 (or NaN/Inf) overflows "
            "the exact decimal(18,8) state"))).otherwise(d0)
    return F.struct(
        F.count(c).alias("n"),
        F.sum(d).cast("decimal(38,8)").alias("s"),
        F.sum((d * d).cast("decimal(29,8)")).cast("decimal(38,8)").alias("s2"))


def _moments_merge(name: str) -> Column:
    m = F.col(name)
    return F.struct(
        F.sum(m["n"]).alias("n"),
        F.sum(m["s"]).cast("decimal(38,8)").alias("s"),
        F.sum(m["s2"]).cast("decimal(38,8)").alias("s2"))


def moments_mean(col) -> Column:
    m = F.col(col) if isinstance(col, str) else col
    return F.when(m["n"] > 0, m["s"].cast("double") / m["n"])


def moments_variance(col, ddof: int = 1) -> Column:
    """Variance from a ``moments`` measure: (Σx² − (Σx)²/n) / (n−ddof).
    The sums stay EXACT decimals through the cascade (no accumulation-
    order drift) and convert to double right before this formula, so
    any engine computing the same expression over the same state gets
    bit-identical doubles (decimal÷decimal is avoided on purpose —
    result-scale rules differ across engines; double math does not)."""
    m = F.col(col) if isinstance(col, str) else col
    s, s2 = m["s"].cast("double"), m["s2"].cast("double")
    num = s2 - s * s / m["n"]
    return F.when(m["n"] > ddof, num / (m["n"] - ddof))


def moments_stddev(col, ddof: int = 1) -> Column:
    return F.sqrt(moments_variance(col, ddof))


# ---------------------------------------------------- count-min sketch
# Carter-Wegman universal hashing: h_r(x) = ((a_r·x + b_r) mod p) mod w
# with p = 2^31 − 1. Pairwise independent (the textbook CMS analysis
# applies directly) and every intermediate fits in 62 bits — no 64-bit
# wraparound, so the exact same arithmetic runs in ANY SQL engine
# (DuckDB raises on BIGINT overflow; a Knuth 64-bit mixer would not
# port). d rows × w counters as one flat array<long>, mergeable by
# element-wise addition like "hist".
_CMS_P = (1 << 31) - 1
_CMS_A = (1103515245, 766245317, 514229635, 1013904223)
_CMS_B = (12345, 987654321, 271828183, 141421357)


def _cms_spec(name: str, spec) -> tuple:
    if not (isinstance(spec, tuple) and len(spec) == 4):
        raise ValueError(f"rollup measure {name!r}: cms needs "
                         f"({name}=('cms', col, depth, width))")
    _, col, d, w = spec
    if not (isinstance(d, int) and 1 <= d <= len(_CMS_A)):
        raise ValueError(f"rollup measure {name!r}: depth must be "
                         f"1..{len(_CMS_A)}, got {d!r}")
    if not (isinstance(w, int) and w >= 2):
        raise ValueError(f"rollup measure {name!r}: width must be ≥ 2, "
                         f"got {w!r}")
    return col, d, w


def _cms_bucket(c: Column, row: int, w: int) -> Column:
    k = F.pmod(c.cast("long"), F.lit(_CMS_P))
    return F.pmod(F.pmod(k * _CMS_A[row] + _CMS_B[row], F.lit(_CMS_P)),
                  F.lit(w))


def _cms_fine(col: str, d: int, w: int) -> Column:
    """Count-min sketch aggregate over the plain column ``col``
    (``fine_measure_exprs`` projects every input to one): the d·w
    per-cell sums are ONE expr() parsed server-side (r15 optimization
    round) — building them as Columns made ~5 py4j round trips per
    cell (1.7 s of driver time at 4×64 before the first job could
    start). Codegen subexpression elimination de-duplicates the
    repeated bucket hash at runtime. The bucket hash is
    ``_cms_bucket``'s, so ``cms_estimate`` reads the same cells."""
    c = f"cast({col} as bigint)"
    cells = []
    for r in range(d):
        b = (f"pmod(pmod(pmod({c}, {_CMS_P}) * {_CMS_A[r]}L "
             f"+ {_CMS_B[r]}L, {_CMS_P}), {w})")
        cells.extend(
            f"sum(cast(if({col} is not null and {b} = {i}, 1, 0) "
            f"as bigint))" for i in range(w))
    return F.expr("array(" + ", ".join(cells) + ")")


def _cms_merge(name: str, d: int, w: int) -> Column:
    zero = F.array_repeat(F.lit(0).cast("long"), d * w)
    return F.aggregate(F.collect_list(F.col(name)), zero,
                       lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b))


def cms_estimate(sketch, key, d: int, w: int) -> Column:
    """Point-frequency estimate for ``key`` from a cms measure column:
    min over the d rows' counters (classic CMS upper-bound estimate —
    never under-counts, over-counts by at most εN w.h.p.)."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    k = key if isinstance(key, Column) else F.lit(key)
    est = None
    for r in range(d):
        cell = F.element_at(s, (F.lit(r * w) + _cms_bucket(k, r, w) + 1)
                            .cast("int"))
        est = cell if est is None else F.least(est, cell)
    return est


# ------------------------------------------------------------- gap fill
def combine_rollups(a: Frame, b: Frame, grain: str,
                    keys: list[str] | tuple | str = (),
                    **measures) -> Frame:
    """Merge two same-grain rollups (incremental ingest: yesterday's
    rollup table + today's delta rollup → updated table) — the union
    re-aggregates shared buckets with each kind's merge function.
    Same measure declarations as time_rollup/merge_rollup — including
    merge_rollup's topk CACHE SIDE EFFECT (the unioned state table is
    pinned; call ``release_pinned()`` between batched merges)."""
    _check(grain, measures)
    keys = _norm_keys(keys)
    u = a.sdf.unionByName(b.sdf)
    topks = _topk_measures(measures)
    plain = {n: s for n, s in measures.items() if n not in topks}
    out = (u.groupBy(*keys, "bucket")
           .agg(*merge_measure_exprs(plain))) if plain else None
    for name, spec in topks.items():
        mf = _topk_merge_frame(u, keys, name, _topk_spec(name, spec)[1])
        out = mf if out is None else _topk_join_back(out, mf, keys, name)
    return Frame(out)


_GRAIN_SECONDS = {"minute": 60, "hour": 3600, "day": 86400}


def gapfill(f: Frame, grain: str, keys: list[str] | tuple | str = (),
            fill: dict | None = None, locf: list[str] | tuple = (),
            bucket_col: str = "bucket") -> Frame:
    """Densify a rollup: emit a row for EVERY grain bucket between each
    key's first and last observed bucket (the Timescale
    ``time_bucket_gapfill`` shape). Missing measures fill from
    ``fill`` (constant per column, e.g. ``{"n": 0}``), then columns in
    ``locf`` carry the last observed value forward (ignore-nulls
    window). Fixed-width grains only (minute/hour/day — month-length
    arithmetic does not sequence).

    Scale shape: the dense bucket spine generates per key from a
    (first, last) aggregate — ``sequence`` + ``explode``, rows
    proportional to the OUTPUT, never a cross join against a global
    calendar; then one left join back on (keys, bucket) and at most
    one window pass for LOCF.
    """
    if grain not in _GRAIN_SECONDS:
        raise ValueError(f"gapfill: grain must be one of "
                         f"{sorted(_GRAIN_SECONDS)}, got {grain!r}")
    keys = _norm_keys(keys)
    if not keys:
        raise ValueError("gapfill: need at least one key column "
                         "(add a constant column to densify globally)")
    locf_cols = [locf] if isinstance(locf, str) else list(locf)
    unknown = [c for c in [*(fill or {}), *locf_cols] if c not in f.columns]
    if unknown:
        # withColumn would silently CREATE a typo'd column instead of
        # filling the intended one
        raise ValueError(f"gapfill: fill/locf columns not in frame: {unknown}")
    step = _GRAIN_SECONDS[grain]
    spine = (f.sdf.groupBy(*keys)
             .agg(F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi"))
             .select(*keys,
                     F.explode(F.sequence(
                         F.col("_lo"), F.col("_hi"),
                         F.expr(f"INTERVAL {step} SECOND"))).alias(bucket_col)))
    out = spine.join(f.sdf, on=[*keys, bucket_col], how="left")
    for col, v in (fill or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(v)))
    if locf_cols:
        from pyspark.sql.window import Window as _W
        w = (_W.partitionBy(*keys).orderBy(bucket_col)
             .rowsBetween(_W.unboundedPreceding, _W.currentRow))
        for col in locf_cols:
            out = out.withColumn(col, F.last(col, ignorenulls=True).over(w))
    return Frame(out)


def suggest_hist_bounds(f: Frame, col: str,
                        pad_frac: float = 0.0) -> tuple[float, float]:
    """One bounded 1-row aggregate: the (min, max) of ``col`` padded by
    ``pad_frac`` of the range on each side — the bounds probe for a
    ``hist`` measure when the domain is unknown (values outside the
    grid clamp into edge bins, so a pad absorbs future drift). Eager
    by design (documented driver action: two doubles)."""
    row = f.sdf.agg(F.min(col).alias("lo"), F.max(col).alias("hi")) \
        .collect()[0]
    if row["lo"] is None:
        raise ValueError(f"suggest_hist_bounds: column {col!r} is all-null")
    lo, hi = float(row["lo"]), float(row["hi"])
    span = (hi - lo) or 1.0
    return lo - pad_frac * span, hi + pad_frac * span
