"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-architected for 100 TB:

- exact: hash-groupBy on the content (or its md5 fingerprint — group on
  the 16-byte digest, not the document body, so the shuffle moves
  hashes, not text).
- minhash + LSH: shingle → minhash signature → band → bucket-join.
  Candidate generation is an equi-join on (band_id, band_hash), which
  Spark executes as a shuffle-hash join on small keys; only candidates
  get the exact Jaccard verification. No pairwise O(n²) anywhere.
- simhash: 64-bit sign-of-weighted-sum signature; near-dups = small
  hamming distance, bucketed by 16-bit chunks (pigeonhole: hamming<=3
  pairs share at least one of 4 chunks).
- n-gram Jaccard: exact set similarity on shingles for candidate pairs.

Signature computation is explode + codegen'd hash aggregate, NOT
higher-order array functions: Spark's lambda functions (transform/
aggregate) run interpreted per element, so a 32-pass transform tree is
orders of magnitude slower than `explode → groupBy(id).agg(32 × min)`,
which stays inside whole-stage codegen and partial-aggregates map-side
(the shuffle carries id + 32 longs per doc, never the text).

All hashes are xxhash64 with fixed integer salts — deterministic across
runs and cluster layouts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from ..frame import Frame
from ..plans.cache import pin
from .text import tokens

LONG_MAX = (1 << 63) - 1


# --------------------------------------------------------------------- exact
def dedup_exact_by_fingerprint(f: Frame, text_col: str, id_col: str) -> Frame:
    """Exact text dedup that shuffles 16-byte digests instead of documents:
    group on md5(normalized text). At 100 TB this is the difference
    between shuffling the corpus and shuffling 2% of it."""
    from .text import fingerprint
    fp = f.sdf.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    out = fp.groupBy("fp").agg(F.min(id_col).alias(id_col),
                               F.count(F.lit(1)).alias("n_copies"))
    return Frame(out)


# ----------------------------------------------------------------- shingling
def _shingles_of(t: Column, k: int = 3) -> Column:
    """Word k-shingles from an ALREADY-PROJECTED token-array column, as a
    distinct array.

    ``t`` must be a materialized attribute, not an expression tree:
    higher-order lambdas re-evaluate free subexpressions per array
    element, so slicing a `split(regexp_replace(...))` tree inside
    `transform` costs O(n_tokens) regex evaluations per shingle —
    measured 12× slower end-to-end. Project tokens in a prior select
    (see ``shingled``)."""
    n = F.size(t)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, k))))


def shingled(f: Frame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, sh: array<string>) — distinct word k-shingles per document,
    with the token array projected first so the shingle lambda reads an
    attribute (see ``_shingles_of``)."""
    tok = f.sdf.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    return tok.select(id_col, _shingles_of(F.col("_t"), k).alias("sh"))


def _shingles(text_col, k: int = 3) -> Column:
    """Column-level shingles for ad-hoc single-expression use. In
    pipelines prefer ``shingled`` — this form recomputes the token
    split per shingle (HOF lambda re-evaluation)."""
    return _shingles_of(tokens(text_col), k)


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ------------------------------------------------------------- minhash + LSH
def minhash_signatures_from_shingles(sh_df: DataFrame, id_col: str,
                                     n_hashes: int = 32) -> DataFrame:
    """(id, sig) minhash signatures from an existing (id, sh) shingle
    table — lets pipelines that ALSO need the shingles (e.g. exact
    Jaccard verification) tokenize the corpus once instead of twice.

    Scale path: explode shingles to rows, hash each shingle ONCE
    (xxhash64), derive the hash family by re-hashing the 8-byte digest
    with an integer salt, and take the n_hashes mins in a single
    codegen'd hash aggregate. Partial aggregation collapses each
    partition before the shuffle, so the exchange moves one row of
    (id, n_hashes × long) per document regardless of text size.
    Docs with no shingles (empty text) get a null signature row
    (explode_outer keeps them)."""
    sh = sh_df.select(id_col, F.explode_outer("sh").alias("_s"))
    hashed = sh.select(id_col, F.xxhash64("_s").alias("_h"))
    # ONE generated-SQL aggregate expression (r15 optimization round):
    # the per-hash min() Column builder made ~5 py4j round trips per
    # hash (~0.2 s of driver time at 32 before any job); array() of
    # aggregates collapses the agg + re-select into a single parse.
    sig_expr = F.expr(
        "array(" + ", ".join(f"min(xxhash64({i}, _h))"
                             for i in range(n_hashes)) + ")")
    return hashed.groupBy(id_col).agg(sig_expr.alias("sig"))


def minhash_signatures(f: Frame, text_col: str, id_col: str,
                       n_hashes: int = 32, k: int = 3) -> DataFrame:
    """(id, sig: array<long>[n_hashes]) minhash signatures — see
    ``minhash_signatures_from_shingles`` for the execution shape."""
    return minhash_signatures_from_shingles(
        shingled(f, text_col, id_col, k), id_col, n_hashes)


def minhash_signature(text_col, n_hashes: int = 32, k: int = 3) -> Column:
    """Column-level minhash for ad-hoc use on small/medium rows: ONE
    interpreted aggregate pass (acc = elementwise running min via
    zip_with), not n_hashes transform passes. Prefer
    ``minhash_signatures`` (explode + codegen agg) in pipelines."""
    sh = _shingles(text_col, k)
    init = F.array_repeat(F.lit(LONG_MAX).cast("long"), n_hashes)

    def step(acc, s):
        h = F.xxhash64(s)
        fam = F.array(*[F.xxhash64(F.lit(i), h) for i in range(n_hashes)])
        return F.zip_with(acc, fam, lambda a, b: F.least(a, b))

    return F.aggregate(sh, init, step)


def _band_hashes(sig: str, n_hashes: int, bands: int) -> Column:
    """array<long>[bands]: hash of each contiguous signature band of the
    signature column named ``sig``, built as one generated-SQL
    expression (r15 optimization round: the Column-builder form made
    ~110 py4j round trips per call — ~0.6 s of driver time each at
    32×8, three calls per dedup_incremental)."""
    rows_per_band = n_hashes // bands
    bands_sql = []
    for b in range(bands):
        parts = ", ".join(
            f"cast(element_at(`{sig}`, {b * rows_per_band + r + 1}) "
            "as string)" for r in range(rows_per_band))
        bands_sql.append(f"xxhash64({b}, concat_ws(',', {parts}))")
    return F.expr("array(" + ", ".join(bands_sql) + ")")


def _banded(sig: DataFrame, n_hashes: int, bands: int, *cols) -> DataFrame:
    """(*cols, band_id, band_hash): one row per band of every signature
    in the ``sig`` column; null signatures are skipped."""
    return (sig.filter(~F.element_at("sig", 1).isNull())
            .select(*cols, F.posexplode(_band_hashes("sig", n_hashes, bands))
                    .alias("band_id", "band_hash")))


def _lsh_candidates_from_sig(sig: DataFrame, id_col: str,
                             n_hashes: int, bands: int) -> DataFrame:
    """(id_a, id_b) candidate pairs from a signature table: docs sharing
    any band hash. Scale path: explode to (band_id, band_hash, id) —
    n_bands rows per doc — then self-join on the band key. The join key
    space is huge (64-bit hashes) so buckets stay tiny and the join
    never degenerates; dedup of pairs happens before verification."""
    banded = pin(_banded(sig, n_hashes, bands, id_col))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, on=["band_id", "band_hash"], how="inner")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates())


def minhash_lsh_candidates(f: Frame, text_col: str, id_col: str,
                           n_hashes: int = 32, bands: int = 8, k: int = 3) -> Frame:
    """Candidate near-duplicate pairs via LSH banding: docs sharing any
    band of the minhash signature. Returns (id_a, id_b) with id_a < id_b."""
    sig = minhash_signatures(f, text_col, id_col, n_hashes, k)
    return Frame(_lsh_candidates_from_sig(sig, id_col, n_hashes, bands))


def _verified_pairs(sh: DataFrame, sig: DataFrame, id_col: str,
                    threshold: float, n_hashes: int, bands: int) -> DataFrame:
    """(id_a, id_b, jaccard): LSH candidates of the signature table
    ``sig`` that verify at exact Jaccard >= ``threshold`` over the
    shingle table ``sh`` (id, sh) — the one candidate → verify block
    behind ``minhash_dedup`` and the dedup pipeline's in-batch stage."""
    cands = _lsh_candidates_from_sig(sig, id_col, n_hashes, bands)
    return (cands
            .join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), on="id_a")
            .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), on="id_b")
            .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_dedup(f: Frame, text_col: str, id_col: str, threshold: float = 0.8,
                  n_hashes: int = 32, bands: int = 8, k: int = 3) -> Frame:
    """Near-dup pairs with exact Jaccard verification >= threshold.
    The corpus is tokenized+shingled ONCE: the persisted shingle table
    feeds both the signature aggregate and the per-candidate exact
    Jaccard — at corpus scale that's a full text scan saved vs
    recomputing shingles for verification.

    Cache note: the shingle and band tables stay persisted after the
    result is consumed (they cannot be unpersisted before the lazy
    result runs). They are registered with the scoped cache registry —
    call ``crysda_spark.plans.cache.release_pinned()`` after consuming
    the result (bench.py does this between queries) so long-lived
    sessions don't accumulate pinned storage."""
    sh = pin(shingled(f, text_col, id_col, k))
    sig = minhash_signatures_from_shingles(sh, id_col, n_hashes)
    return Frame(_verified_pairs(sh, sig, id_col, threshold, n_hashes, bands))


def ngram_jaccard_exact(f: Frame, text_col: str, id_col: str,
                        threshold: float = 0.6, k: int = 3) -> Frame:
    """EXACT n-gram Jaccard near-dup pairs — full recall, no LSH.

    AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Chaudhuri et al., ICDE'06) keeps the join exact while avoiding the
    quadratic shared-shingle blowup: order every document's shingles by
    ascending global document frequency (rare first, ties by value); a
    pair with Jaccard >= t must share a shingle inside both documents'
    first ``n - ceil(t*n) + 1`` shingles — if the whole intersection sat
    in a document's suffix, it would have < t*n <= |A∩B| elements, a
    contradiction. Candidate generation therefore self-joins only those
    prefixes, and every candidate is verified with the exact Jaccard
    over the full shingle sets.

    Scale: the corpus-wide work is one doc-frequency aggregate (combines
    map-side) plus the prefix self-join; the high-frequency shingles that
    make a naive shared-shingle join quadratic sort to the END of the
    frequency order and fall out of every prefix. Shuffle rows carry
    (shingle, id), never documents. The verify join moves only candidate
    pairs' shingle sets.
    """
    sh = pin(shingled(f, text_col, id_col, k))
    # n rides along from size(sh) — shingles are distinct, so the array
    # size IS the per-doc shingle count the count()-window used to
    # recompute (r15 optimization round: one Window pass instead of two).
    ex = sh.select(id_col, F.size("sh").alias("n"), F.explode("sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window as W
    w = W.partitionBy(id_col).orderBy("df", "s")
    # prefix length: n - ceil(t*n) + 1.  The epsilon biases float ceil
    # DOWN at rational boundaries (0.6*5 must ceil to 3, not 4): a
    # too-long prefix only costs candidates, a too-short one loses pairs.
    # Pinned: both sides of the candidate self-join consume it; unpinned,
    # the explode + doc-frequency join + ranking window ran TWICE (the
    # broadcast side cannot reuse the other side's exchange).
    pref = pin(ex.join(dfreq, on="s")
               .withColumn("pos", F.row_number().over(w))
               .filter(F.col("pos")
                       <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - 1e-9) + 1)
               .select(id_col, "s", "pos", "n"))
    # PPJoin filters (Xiao et al., WWW'08), both epsilon-loosened at
    # rational boundaries (extra candidates only cost the exact verify;
    # a tight float bound losing a pair would cost recall):
    # - length filter: J >= t forces min(|A|,|B|) >= t·max(|A|,|B|) —
    #   size-mismatched pairs drop before the verify join ever fetches
    #   their shingle sets.
    # - positional filter: both shingle lists share ONE global
    #   (df, value) sort order, so for a shared token at positions
    #   (pa, pb): elements before it overlap at most min(pa-1, pb-1)
    #   and elements after at most min(na-pa, nb-pb) — an upper bound
    #   on |A∩B| valid for EVERY shared token. J >= t needs
    #   |A∩B| >= t/(1+t)·(na+nb); rows whose bound falls short drop
    #   out (a pair survives if any of its shared prefix tokens passes
    #   — conservative, exact verify decides).
    _ov_ub = (F.least(F.col("a.pos"), F.col("b.pos"))
              + F.least(F.col("a.n") - F.col("a.pos"),
                        F.col("b.n") - F.col("b.pos")))
    _alpha = (F.lit(threshold / (1.0 + threshold))
              * (F.col("a.n") + F.col("b.n")))
    cands = (pref.alias("a").join(pref.alias("b"), on="s")
             .filter((F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                     & (F.col("a.n") >= F.lit(threshold) * F.col("b.n") - 1e-9)
                     & (F.col("b.n") >= F.lit(threshold) * F.col("a.n") - 1e-9)
                     & (_ov_ub >= _alpha - 1e-9))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .dropDuplicates())
    out = (cands
           .join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), on="id_a")
           .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), on="id_b")
           .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    return Frame(out)


# -------------------------------------------------------------------- simhash
def simhash_signatures(f: Frame, text_col: str, id_col: str,
                       bits: int = 64) -> DataFrame:
    """(id, sh: long) simhash signatures via explode + codegen'd agg.

    Per token one xxhash64. Per-bit votes are packed 4-to-a-long
    (16-bit fields), so the hash aggregate carries bits/4 + 1 buffers
    instead of bits + 1 — the narrow buffer count matters twice: janino
    compiles the agg ~2× faster, and the map-side partial rows that
    cross the shuffle are 4× smaller. The vote for bit b is
    2 * count(bit b set) - n_tokens, unpacked in the post-agg
    projection. Tokens are capped at 65,535 per doc so no 16-bit
    counter can overflow into its neighbor."""
    assert bits % 4 == 0
    capped = F.slice(tokens(F.col(text_col)), 1, 0xFFFF)
    tok = f.sdf.select(F.col(id_col), F.explode_outer(capped).alias("_w"))
    hashed = tok.select(id_col, F.xxhash64(F.lit(0x51), "_w").alias("_h"))

    # generated-SQL expressions (r15 optimization round): the packing,
    # vote, and 64-term sign-composition Columns made ~650 py4j round
    # trips of driver time per call; three parsed expressions build the
    # IDENTICAL trees (same integer literals and operators, so every
    # bit is exact).
    def bitc_sql(b: int) -> str:
        return f"(shiftright(_h, {b}) & 1)"

    packed = []
    for g in range(bits // 4):
        terms = [f"cast({bitc_sql(4 * g)} as bigint)"]
        terms += [f"shiftleft(cast({bitc_sql(4 * g + j)} as bigint), "
                  f"{16 * j})" for j in range(1, 4)]
        packed.append(F.expr(" + ".join(terms)).alias(f"_p{g}"))
    pre = hashed.select(id_col, *packed)
    votes = pre.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.expr(f"sum(_p{g})").alias(f"_s{g}")
          for g in range(bits // 4)])
    # bits are disjoint, so + composes them (flat sum beats a
    # 64-deep bitwiseOR nest in codegen)
    sig_terms = ["cast(0 as bigint)"]
    for b in range(bits):
        cnt = f"(shiftright(_s{b // 4}, {16 * (b % 4)}) & 65535)"
        sig_terms.append(
            f"(case when {cnt} * 2 > _n then "
            f"shiftleft(cast(1 as bigint), {b}) "
            "else cast(0 as bigint) end)")
    sig = F.expr(" + ".join(sig_terms))
    return votes.select(id_col, sig.alias("sh"))


def simhash(text_col, bits: int = 64) -> Column:
    """Column-level simhash for ad-hoc use: a single interpreted aggregate
    pass accumulating a per-bit vote vector with zip_with against a
    constant bit-MASK array (shift functions need literal shift counts,
    so bit b is tested as ``h & mask != 0``). Matches
    ``simhash_signatures`` bit-for-bit; prefer that (explode + codegen
    agg) in pipelines. Caps at 65,535 tokens like the DF path."""
    def mask(b: int) -> int:
        return (1 << b) if b < 63 else -(1 << 63)

    masks = F.array(*[F.lit(mask(b)).cast("long") for b in range(bits)])
    t = F.slice(tokens(text_col), 1, 0xFFFF)
    init = F.array_repeat(F.lit(0).cast("long"), bits)

    def step(acc, w):
        h = F.xxhash64(F.lit(0x51), w)
        return F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1))
                              .otherwise(F.lit(-1)))

    votes = F.aggregate(t, init, step)
    packed = F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda a, x: a.bitwiseOR(x))
    return packed


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------------ cluster resolution
_DRIVER_MAX_EDGES = 100_000  # directed edge rows the driver union-find takes
_MAX_ITER = 20  # pointer jumping resolves diameter L in O(log L) rounds


def _cc_round(labels: DataFrame, edges: DataFrame
              ) -> tuple[DataFrame, DataFrame]:
    """One connected-components round: neighbor-min propagation + pointer
    jump. Returns ``(new_labels_plan, stepped_handle)`` — the caller
    localCheckpoints the plan and unpersists the handle after.

    Plain joins; hot keys are AQE's job (``skewJoin`` is on in
    ``session.py``). The src-keyed edge join is an inner join and the
    comp-keyed pointer jump is a left join whose skewed side (members
    of a giant component) is the left one — AQE splits both. The
    neighbor-min ``groupBy(dst)`` is a ``min``, combined map-side."""
    lbl_src = labels.withColumnsRenamed({"id": "src", "comp": "c"})
    neighbor_min = (edges.join(lbl_src, on="src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("c").alias("nmin")))
    # thread the pre-round label through the joins so convergence is
    # observed on the checkpoint job itself
    stepped = (labels.join(neighbor_min, on="id", how="left")
               .select("id", F.col("comp").alias("old"),
                       F.least("comp", "nmin").alias("comp"))
               .persist())  # both consumers below read it; without the
    # persist the neighbor-min join would run twice per round
    # pointer jumping: follow the label's own label one hop
    jump = stepped.select(F.col("id").alias("comp"),
                          F.col("comp").alias("cc"))
    new_labels = (stepped.join(jump, on="comp", how="left")
                  .select("id", "old", F.least("comp", "cc").alias("comp")))
    return new_labels, stepped


def _driver_cc(edges: DataFrame, rows: list) -> DataFrame:
    """Union-find on the driver over the already-collected ``(src, dst)``
    ``rows`` of ``edges`` (at most ``_DRIVER_MAX_EDGES``). Distributed
    label-propagation rounds cost scheduler jobs even when the graph is
    a few hundred edges — after LSH banding a lightly-duplicated corpus
    yields exactly that shape — while union-find over at most
    ``_DRIVER_MAX_EDGES`` edges is one pass of a driver loop. Labels
    match the distributed path exactly: comp = min reachable id."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r[0], r[1]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    data = [(v, comp_min[find(v)]) for v in parent]
    id_type = edges.schema["src"].dataType
    from pyspark.sql.types import StructField, StructType
    schema = StructType([StructField("id", id_type),
                         StructField("comp", id_type)])
    return edges.sparkSession.createDataFrame(data, schema)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """(id, component) for every id appearing in ``pairs``; component =
    min id reachable through the pair graph.

    One bounded collect of the distinct directed edges decides the
    path: at most ``_DRIVER_MAX_EDGES`` rows resolve by union-find on
    the driver over exactly those rows (``_driver_cc``) — the normal
    LSH output on a lightly-duplicated corpus. Larger graphs run
    iterative min-label propagation (``_cc_round``): each round every
    vertex takes the min of its own and its neighbors' labels, then
    follows its label's label one hop (pointer jumping), so a chain of
    length L resolves in O(log L) rounds, not L. ``localCheckpoint``
    truncates the lineage each round so plan size stays constant, and
    the number of changed labels is observed (``DataFrame.observe``)
    on that same checkpoint job — convergence costs no extra job.
    Labels still changing after ``_MAX_ITER`` rounds raise
    ``RuntimeError`` rather than return unmerged components.

    Cache ownership: ``pairs`` is consumed in a single pass (the edge
    build explodes both orientations from one scan — a prior
    two-branch union double-computed an un-materialized pairs plan
    inside the first action), so this call neither persists nor
    unpersists it; a caller-persisted pair frame keeps its cache."""
    edges = (pairs.select(F.explode(F.array(
                 F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                 F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))))
                 .alias("_e"))
             .select("_e.src", "_e.dst")
             .dropDuplicates().persist())
    try:
        rows = edges.limit(_DRIVER_MAX_EDGES + 1).collect()
        if len(rows) <= _DRIVER_MAX_EDGES:
            return _driver_cc(edges, rows)
        labels = (edges.select(F.col("src").alias("id"))
                  .dropDuplicates()
                  .withColumn("comp", F.col("id")))
        for _ in range(_MAX_ITER):
            new_plan, stepped = _cc_round(labels, edges)
            changed = Observation()
            labels = (new_plan.observe(changed, F.count_if(
                          F.col("comp") != F.col("old")).alias("n"))
                      .localCheckpoint())
            stepped.unpersist()
            if changed.get["n"] == 0:
                return labels.select("id", "comp")
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ITER} "
            "iterations")
    finally:
        edges.unpersist()


def dedup_survivors(f: Frame, pairs: DataFrame, id_col: str) -> Frame:
    """Collapse near-dup clusters to one canonical row each: the min-id
    member of every connected component survives; rows in no pair
    survive untouched. Returns (id, cluster_size) — size 1 for
    singletons.

    Scale note: the component-membership table is proportional to the
    DUPLICATE population — at web-corpus duplicate rates (20-50%) that
    is NOT broadcast-sized, so the join carries no broadcast hint: AQE
    still picks a broadcast join when the table measures small at
    runtime, and falls back to a shuffle join on (id) when it doesn't.
    (A forced ``F.broadcast`` here OOMed the plan review at 100 TB —
    the hint overrides AQE's size check.)"""
    comps = connected_components(pairs)
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    members = comps.join(sizes, on="comp")
    out = (f.sdf.select(F.col(id_col))
           .join(members.withColumnRenamed("id", id_col),
                 on=id_col, how="left")
           .filter(F.col("comp").isNull() | (F.col(id_col) == F.col("comp")))
           .select(id_col, F.coalesce("cluster_size", F.lit(1)).alias("cluster_size")))
    return Frame(out)


def dedup_assignments(f: Frame, pairs: DataFrame, id_col: str) -> Frame:
    """(id, survivor_id, is_survivor) for EVERY corpus row: the
    join-back API for actually removing duplicates. ``survivor_id`` is
    the component label (min reachable id) for rows in any near-dup
    pair, the row's own id otherwise. Filter ``is_survivor`` to drop
    duplicates, or rewrite references through ``survivor_id``.

    Same unhinted join shape as ``dedup_survivors`` — the assignment
    table scales with the duplicate population, so AQE decides
    broadcast vs shuffle at runtime."""
    comps = connected_components(pairs)
    out = (f.sdf.select(F.col(id_col))
           .join(comps.withColumnRenamed("id", id_col), on=id_col, how="left")
           .select(F.col(id_col),
                   F.coalesce("comp", F.col(id_col)).alias("survivor_id"),
                   (F.coalesce("comp", F.col(id_col)) == F.col(id_col))
                   .alias("is_survivor")))
    return Frame(out)


def _dedup_stages(f: Frame, index: DataFrame | None, text_col: str,
                  id_col: str, threshold: float, n_hashes: int, bands: int,
                  k: int) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The one dedup pipeline behind ``dedup_full``,
    ``dedup_full_assignments`` (``index`` None) and
    ``dedup_incremental``. Returns ``(rows, surv, sigs)``:

    - ``rows`` (id, text, _fp): every input row with its md5
      fingerprint (a 16-byte digest — text never crosses a shuffle
      below);
    - ``surv`` (_fp, _bcid, _n, _surv, reason): one row per distinct
      fingerprint — its canonical min id, its copy count, its final
      survivor and why (``exact`` = hit an indexed fingerprint,
      ``near``, ``unique``);
    - ``sigs`` (id, sig): minhash signatures of the fresh canonical
      docs (those not already in the index).

    Stages: fingerprint → canonical min id + copy count per fingerprint
    (before LSH — ``dedup_full`` says why) → with an index, exact
    hits; the misses are fresh → shingle the fresh canonical docs once
    (the shingles feed both signatures and the exact-Jaccard verify) →
    with an index, band-join against the indexed signatures and verify
    on the minhash estimate (the index keeps signatures, not text) →
    in-batch LSH candidates of the rest, exact-Jaccard verified, into
    ``connected_components`` → survivor = indexed survivor, else
    near-matched indexed survivor, else component label (min member
    id), else the canonical itself.

    Pins the canonical table, the shingles, the LSH band table and
    ``surv`` (with an index also the index and the near-vs-index
    matches): the returned frames are lazy and still read them, so
    callers ``release_pinned()`` after consuming. ``rows`` (a
    projection of the input) and ``sigs`` (one aggregate over the
    pinned shingles) stay unpinned: recomputing them is cheaper than a
    cache round trip at batch sizes."""
    from .text import fingerprint
    rows = f.sdf.select(F.col(id_col), F.col(text_col),
                        fingerprint(text_col).alias("_fp"))
    canon = pin(rows.groupBy("_fp")
                .agg(F.min(id_col).alias("_bcid"),
                     F.count(F.lit(1)).alias("_n")))
    if index is None:  # no exact or near hits to resolve against
        canon = canon.withColumns({"_old": F.lit(None), "_near": F.lit(None)})
    else:
        idx = pin(index)
        canon = canon.join(idx.select("_fp", F.col("survivor_id").alias("_old")),
                           on="_fp", how="left")
    fresh = canon.filter(F.col("_old").isNull()).select(F.col("_bcid").alias(id_col))
    sh = pin(shingled(Frame(rows.join(fresh, on=id_col).select(id_col, text_col)),
                      text_col, id_col, k))
    sigs = minhash_signatures_from_shingles(sh, id_col, n_hashes)
    rest = sigs
    if index is not None:
        old_cand = (_banded(sigs, n_hashes, bands, id_col)
                    .join(_banded(idx, n_hashes, bands,
                                  F.col("survivor_id").alias("_old_surv"),
                                  F.col("sig").alias("_old_sig")),
                          on=["band_id", "band_hash"])
                    .select(id_col, "_old_surv", "_old_sig")
                    .dropDuplicates([id_col, "_old_surv"]))
        # pinned: the anti-join and the survivor join both read it;
        # unpinned, the r11 sf1 rehearsal ran the band join 3x
        old_match = pin(old_cand.join(sigs, on=id_col)
                        .filter(_sig_jaccard(F.col("sig"), F.col("_old_sig"),
                                             n_hashes) >= threshold)
                        .groupBy(F.col(id_col).alias("_bcid"))
                        .agg(F.min("_old_surv").alias("_near")))
        rest = sigs.join(old_match.select(F.col("_bcid").alias(id_col)),
                         on=id_col, how="left_anti")
        canon = canon.join(old_match, on="_bcid", how="left")
    comps = connected_components(
        _verified_pairs(sh, rest, id_col, threshold, n_hashes, bands))
    surv = pin(canon.join(comps.withColumnRenamed("id", "_bcid"), on="_bcid",
                          how="left")
               .select("_fp", "_bcid", "_n",
                       F.coalesce("_old", "_near", "comp", "_bcid").alias("_surv"),
                       F.when(F.col("_old").isNotNull(), "exact")
                       .when(F.col("_near").isNotNull()
                             | (F.col("comp") != F.col("_bcid")), "near")
                       .otherwise("unique").alias("reason")))
    return rows, surv, sigs


def dedup_full(f: Frame, text_col: str, id_col: str, threshold: float = 0.8,
               n_hashes: int = 32, bands: int = 8, k: int = 3) -> Frame:
    """Production-shaped near-dedup for web-scale corpora: exact
    collapse FIRST, then near-dup LSH on canonical survivors only.

    Why the two stages matter at 100 TB: web corpora carry exact-copy
    populations in the billions (mirrors, boilerplate). Every copy of a
    document lands in the SAME LSH band buckets, so the band self-join
    degenerates to O(copies²) rows on those keys — a hot-bucket blowup
    no hash-key entropy can fix. Collapsing exact copies down to one
    canonical row per fingerprint (a cheap 16-byte-digest groupBy)
    BEFORE shingling removes that mass, shrinks the shingle/signature
    pass by the duplicate factor, and leaves the band join operating on
    unique content only.

    Pipeline: the stages of ``dedup_incremental`` without an index
    (``_dedup_stages``: md5-fingerprint collapse → minhash+LSH+exact-
    Jaccard on canonical docs → connected components), then the
    canonical→survivor table's copy counts summed per survivor — at
    canonical granularity, no per-row join.

    Returns (id, cluster_size): one row per surviving canonical
    document; cluster_size counts ALL original rows it absorbs (its
    exact copies + every near-dup member's exact copies); size 1 for
    unique singletons."""
    _, surv, _ = _dedup_stages(f, None, text_col, id_col, threshold,
                               n_hashes, bands, k)
    return Frame(surv.groupBy(F.col("_surv").alias(id_col))
                 .agg(F.sum("_n").alias("cluster_size")))


def dedup_full_assignments(f: Frame, text_col: str, id_col: str,
                           threshold: float = 0.8, n_hashes: int = 32,
                           bands: int = 8, k: int = 3) -> Frame:
    """Per-row ``(id, survivor_id, is_survivor)`` through the FULL
    production pipeline — the corpus-filtering companion to
    ``dedup_full``, over the same stages (``_dedup_stages`` without an
    index). Where ``dedup_assignments`` maps rows→survivors from a
    caller-supplied pair list, this routes every input row through the
    exact-collapse stage first: each row joins its fingerprint's
    canonical→survivor row, so exact copies, canonicals and near-dups
    all land on the final survivor. ``filter(is_survivor)`` reproduces
    ``dedup_full``'s survivor set exactly.

    Scale shape: the row→survivor hop is an equi-join on the 16-byte
    fingerprint (digests shuffle, text never does), unhinted — AQE
    picks broadcast vs shuffle at runtime."""
    rows, surv, _ = _dedup_stages(f, None, text_col, id_col, threshold,
                                  n_hashes, bands, k)
    return Frame(rows.join(surv, on="_fp")
                 .select(F.col(id_col), F.col("_surv").alias("survivor_id"),
                         (F.col(id_col) == F.col("_surv")).alias("is_survivor")))


# ------------------------------------------------------- incremental dedup
def build_dedup_index(f: Frame, text_col: str, id_col: str,
                      n_hashes: int = 32, k: int = 3) -> DataFrame:
    """Compact dedup state for INCREMENTAL ingestion: one row per
    distinct content fingerprint — ``(_fp, id, survivor_id, sig)``.

    A production corpus is not re-deduped per arriving batch; it keeps
    this index (16-byte digest + canonical id + its near-dup survivor
    + the n_hashes-long minhash signature ≈ 300 bytes/distinct doc —
    ~0.3 TB of state per billion docs, independent of document size)
    and runs :func:`dedup_incremental` on each new batch. The rows are
    the first stages of the dedup pipeline (fingerprint → canonical min
    id per fingerprint → signatures of the canonical docs) with no
    near-dup resolution: ``survivor_id`` is the canonical id itself.
    Feed the frame through :func:`dedup_full_assignments` output (or
    merge the delta rows returned by ``dedup_incremental``, whose
    survivors are resolved) to fold in near-dup survivorship."""
    from .text import fingerprint
    fp_rows = f.sdf.select(F.col(id_col), fingerprint(text_col).alias("_fp"))
    canon = (fp_rows.groupBy("_fp")
             .agg(F.min(id_col).alias(id_col)))
    canon_docs = Frame(f.sdf.select(id_col, text_col)
                       .join(canon.select(id_col), on=id_col, how="inner"))
    sigs = minhash_signatures(canon_docs, text_col, id_col, n_hashes, k)
    return (canon.join(sigs, on=id_col)
            .select("_fp", F.col(id_col).alias("id"),
                    F.col(id_col).alias("survivor_id"), "sig"))


def _sig_jaccard(a: Column, b: Column, n_hashes: int) -> Column:
    """Minhash-estimated Jaccard: fraction of agreeing components —
    the standard unbiased estimator (Broder 1997), stderr ≈
    sqrt(J(1−J)/n_hashes). Null signatures (empty docs) estimate 0."""
    agree = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return (F.when(a.isNull() | b.isNull(), F.lit(0.0))
            .otherwise(agree.cast("double") / F.lit(float(n_hashes))))


def dedup_incremental(new: Frame, index: DataFrame, text_col: str,
                      id_col: str, threshold: float = 0.8,
                      n_hashes: int = 32, bands: int = 8,
                      k: int = 3) -> tuple[Frame, DataFrame]:
    """Dedup a NEW batch against an existing corpus WITHOUT touching
    the corpus: returns ``(assignments, index_delta)``.

    - ``assignments``: one row per new-batch row —
      ``(id, survivor_id, reason ∈ {exact, near, unique})``. ``exact``
      rows match an indexed fingerprint (or an earlier row of this
      batch) byte-for-byte and map to its survivor; ``near`` rows band-
      collide with an indexed signature and verify at
      estimated-Jaccard ≥ ``threshold``, or near-match within the
      batch (exact-Jaccard verified — the batch's text is in hand);
      ``unique`` rows survive and seed new clusters.
    - ``index_delta``: index rows for this batch's NEW distinct
      fingerprints (survivor_id already resolved through both the
      old-corpus and intra-batch near-dup stages). Union it onto the
      index for the next batch — the index grows only by genuinely
      novel content.

    The stages are ``dedup_full``'s (``_dedup_stages``) plus the two
    index probes: exact hits by fingerprint, and near hits by band-join
    against the indexed signatures. Without an index the assignments
    equal ``dedup_full_assignments``' survivor map.

    Verification difference vs the batch path, stated honestly: new-vs-
    OLD near-dups verify on the minhash ESTIMATE (the index stores
    signatures, not shingle sets — exact verification would require
    keeping every past document's text reachable), while new-vs-new
    near-dups verify exact Jaccard like ``dedup_full``. At the default
    32 hashes the estimator's stderr at J=0.8 is ±0.07; raise
    ``n_hashes`` in the index when the threshold needs sharper edges.

    Scale shape: every stage is an equi-join keyed on digests or band
    hashes; the batch shuffles, the index is probed (AQE may broadcast
    a small delta); nothing re-reads old text. Band keys for the index
    are derived from stored signatures map-side at probe time (bands ×
    |index| rows, no shuffle) — persist a banded copy alongside the
    index if probing dominates.

    Caching note (same contract as ``minhash_dedup`` /
    ``merge_rollup``): this call PINS six intermediates — the batch
    canonical table, the index handle, the shingle table, the LSH band
    table, the near-vs-index matches and the canonical→survivor table —
    because the returned frames are lazy and still reference them.
    They are registered with the scoped cache registry — call
    ``crysda_spark.plans.cache.release_pinned()`` after consuming each
    batch's results (bench.py does this between queries) so a
    long-lived ingestion session doesn't accumulate executor storage
    across batches."""
    rows, surv, sigs = _dedup_stages(new, index, text_col, id_col, threshold,
                                     n_hashes, bands, k)
    assignments = (rows.join(surv, on="_fp")
                   .select(F.col(id_col), F.col("_surv").alias("survivor_id"),
                           # a non-canonical exact copy within the batch
                           # is an exact dup even when its fp is fresh
                           F.when(F.col(id_col) != F.col("_bcid"), "exact")
                           .otherwise(F.col("reason")).alias("reason")))
    delta = (surv.filter(F.col("reason") != "exact")
             .join(sigs.withColumnRenamed(id_col, "_bcid"), on="_bcid",
                   how="left")
             .select("_fp", F.col("_bcid").alias("id"),
                     F.col("_surv").alias("survivor_id"), "sig"))
    return Frame(assignments), delta


def _simhash_block(sh, offset: int, width: int) -> Column:
    return F.shiftright(sh, offset).bitwiseAND(F.lit((1 << width) - 1))


def simhash_near_dups(f: Frame, text_col: str, id_col: str,
                      max_hamming: int = 3, bits: int = 64,
                      n_chunks: int | None = None,
                      key_chunks: int | None = None) -> Frame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, with a
    RECALL GUARANTEE at any requested radius.

    Bucketing is Manku-style multi-block (Manku/Jain/Sarma, WWW'07
    "Detecting near-duplicates for web crawling"): the ``bits``-bit
    signature is split into ``n_chunks`` blocks, and every
    ``key_chunks``-sized combination of blocks forms one bucket key
    (hashed to 64 bits). A pair at hamming distance d touches at most d
    blocks, leaving ``n_chunks - d`` blocks identical — so whenever
    ``n_chunks - key_chunks >= max_hamming`` (enforced), at least one
    key combination is made entirely of identical blocks and the pair
    collides in that bucket. This replaces the old fixed 4×16-bit chunk
    scheme, which silently missed pairs beyond hamming 3 AND capped the
    key space at 65,536 buckets corpus-wide.

    Defaults: ``n_chunks = max_hamming + 2``, ``key_chunks = 2`` —
    C(m,2) = (k+2)(k+1)/2 bucket rows per doc with keys carrying
    ``2*bits/m`` bits of entropy. Scale note: key entropy shrinks as
    max_hamming grows; for billion-doc corpora at large radii raise
    ``key_chunks`` (recall still guaranteed while
    n_chunks - key_chunks >= max_hamming, at C(m,c) rows/doc).
    False bucket collisions only cost join width — the exact
    ``bit_count(xor)`` filter verifies every candidate."""
    sig = pin(simhash_signatures(f, text_col, id_col, bits))
    return Frame(simhash_pairs(sig, id_col, max_hamming, bits,
                               n_chunks, key_chunks))


def simhash_pairs(sig: DataFrame, id_col: str, max_hamming: int,
                  bits: int = 64, n_chunks: int | None = None,
                  key_chunks: int | None = None) -> DataFrame:
    """Multi-block bucketed pairing over an (id, sh: long) signature
    table — the guarantee-carrying core of ``simhash_near_dups``,
    separated so crafted signatures can exercise the pigeonhole bound
    directly in tests."""
    m = n_chunks if n_chunks is not None else max_hamming + 2
    c = key_chunks if key_chunks is not None else max(1, min(2, m - max_hamming))
    if c < 1:
        raise ValueError(
            f"simhash_pairs: key_chunks({c}) must be >= 1 — a zero-chunk "
            "key is one global bucket, i.e. the O(n²) cross join this "
            "bucketing exists to prevent")
    if m - c < max_hamming:
        raise ValueError(
            f"simhash_pairs: n_chunks({m}) - key_chunks({c}) < "
            f"max_hamming({max_hamming}) voids the pigeonhole recall guarantee")
    if m > bits:
        raise ValueError(f"simhash_pairs: n_chunks({m}) > bits({bits})")
    from itertools import combinations

    widths = [bits // m + (1 if i < bits % m else 0) for i in range(m)]
    offsets = [sum(widths[:i]) for i in range(m)]
    combos = list(combinations(range(m), c))
    keys = F.array(*[
        F.struct(F.lit(ci).alias("combo_id"),
                 F.xxhash64(F.lit(ci), *[
                     _simhash_block(F.col("sh"), offsets[i], widths[i])
                     for i in combo]).alias("bkey"))
        for ci, combo in enumerate(combos)])
    banded = sig.select(id_col, "sh", F.explode(keys).alias("k")) \
        .select(id_col, "sh", "k.combo_id", "k.bkey")
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, on=["combo_id", "bkey"], how="inner")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"]))


# ------------------------------------------------------------- decontamination
def ngram_overlap(corpus, benchmark, text_col: str, id_col: str,
                  n: int = 13, bench_text_col: str | None = None) -> DataFrame:
    """Benchmark decontamination scan: docs sharing >=1 word ``n``-gram
    with a benchmark/eval set (the GPT-3 §C / PaLM 13-gram method).
    Returns ``(id_col, n_overlap)`` for CONTAMINATED docs only, where
    ``n_overlap`` counts distinct shared grams.

    Scale shape: both sides explode word n-grams and reduce them to
    xxhash64 keys BEFORE the join, so the shuffle moves 8-byte hashes,
    never gram text; the benchmark side is distinct-ed (eval sets are
    MBs against TB corpora, so AQE turns the equi-join into a broadcast
    hash join in the common case — no hint forced, a genuinely large
    benchmark still works as SMJ). countDistinct guards against a gram
    repeating inside one doc. Hash collisions can in principle inflate
    a count (P ~ |grams|^2 / 2^64 — negligible); verification-grade
    exactness would re-join candidate docs on gram text."""
    csdf = corpus.sdf if hasattr(corpus, "sdf") else corpus
    bsdf = benchmark.sdf if hasattr(benchmark, "sdf") else benchmark
    if id_col in {"_t", "_g", "_gh", "n_overlap"}:
        raise ValueError(
            f"ngram_overlap: id column {id_col!r} collides with internal "
            "working columns ['_g', '_gh', '_t', 'n_overlap'] — rename "
            "before calling")
    from .text import _grams
    bcol = bench_text_col or text_col
    # tokens are projected to an attribute BEFORE the gram lambda: HOF
    # lambdas re-evaluate free subexpressions per element, so slicing
    # the raw split(regexp_replace(...)) tree would re-run the regex
    # once per gram — O(tokens) regexes per doc (see _shingles_of)
    ctok = csdf.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    cg = ctok.select(id_col, F.explode(_grams(F.col("_t"), n)).alias("_g")) \
        .select(id_col, F.xxhash64("_g").alias("_gh"))
    btok = bsdf.select(tokens(F.col(bcol)).alias("_t"))
    bg = btok.select(F.explode(_grams(F.col("_t"), n)).alias("_g")) \
        .select(F.xxhash64("_g").alias("_gh")).distinct()
    return (cg.join(bg, on="_gh", how="inner")
            .groupBy(id_col)
            .agg(F.countDistinct("_gh").alias("n_overlap")))


def decontaminate(corpus, benchmark, text_col: str, id_col: str,
                  n: int = 13, bench_text_col: str | None = None):
    """Drop contaminated docs: anti-join the corpus against the
    ``ngram_overlap`` hit set. Returns a Frame with the corpus schema."""
    csdf = corpus.sdf if hasattr(corpus, "sdf") else corpus
    hits = ngram_overlap(csdf, benchmark, text_col, id_col, n,
                         bench_text_col).select(id_col)
    return Frame(csdf.join(hits, on=id_col, how="left_anti"))
