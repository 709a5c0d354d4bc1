"""Text analysis for large-scale training-data pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions`` only —
no Python UDFs — so the whole stage stays inside whole-stage codegen
and scales linearly with document count. Each function returns a
Column usable in select/withColumn.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..frame import _c

WS = r"\s+"


def normalize(col) -> Column:
    """Lowercase, trim, collapse whitespace — canonical text form for
    fingerprinting and shingling."""
    return F.regexp_replace(F.trim(F.lower(_c(col))), WS, " ")


def normalize_aggressive(col) -> Column:
    r"""``normalize`` plus punctuation/symbol stripping (everything that
    is not a Unicode letter, digit, or whitespace becomes a space
    before collapsing) — the MinHash-style canonical form: near-dup
    pipelines normalize this hard before shingling so reformatting
    (quotes, dashes, markup residue) cannot hide a duplicate. Pure
    codegen regex; \p{L}/\p{N} classes are RE2-compatible, so the
    DuckDB oracle replays the identical transform."""
    stripped = F.regexp_replace(F.lower(_c(col)),
                                r"[^\p{L}\p{N}\s]", " ")
    return F.regexp_replace(F.trim(stripped), WS, " ")


def nfkc_normalize(col) -> Column:
    """Unicode NFKC compatibility normalization (full-width forms,
    ligatures, compatibility glyphs fold to canonical codepoints) —
    the step BEFORE ``normalize_aggressive`` for multilingual corpora.
    Needs Python's unicodedata table, so it runs as an Arrow-batched
    pandas_udf (vectorized, never per-row Python in the JVM loop)."""
    import pandas
    from pyspark.sql.functions import pandas_udf

    def k(s: pandas.Series) -> pandas.Series:
        import unicodedata
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFKC", x))

    # annotations are strings under `from __future__ import annotations`;
    # pyspark resolves them in THIS function's globals, so bind pandas
    # there before wrapping
    k.__globals__.setdefault("pandas", pandas)
    return pandas_udf(k, "string")(_c(col))


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    md5 (not xxhash) so external engines can reproduce it bit-for-bit."""
    return F.md5(normalize(col))


def tokens(col) -> Column:
    return F.split(normalize(col), " ")


def token_count(col) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col) -> Column:
    """BPE-ish token estimate: word pieces of <=4 chars. A regex proxy for
    subword tokenizers — counts ceil(len/4) per word in one pass."""
    t = tokens(col)
    return F.aggregate(
        t, F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int"))


def char_count(col) -> Column:
    return F.length(_c(col))


def punct_ratio(col) -> Column:
    """Fraction of characters that are punctuation."""
    c = _c(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def mean_word_length(col) -> Column:
    t = tokens(col)
    return F.when(F.size(t) > 0,
                  F.aggregate(t, F.lit(0), lambda a, w: a + F.length(w))
                  / F.size(t)).otherwise(F.lit(0.0))


_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}


def stopword_ratio(col, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    t = tokens(col)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    hits = F.size(F.filter(t, lambda w: F.array_contains(sw, w)))
    return F.when(F.size(t) > 0, hits / F.size(t)).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation,
    sane word lengths, some stopwords. The standard cheap pre-filter
    before expensive dedup/model scoring."""
    length_ok = F.least(token_count(col) / F.lit(20.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 5, F.lit(1.0))
    wl = mean_word_length(col)
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_ok = F.least(stopword_ratio(col) * 5, F.lit(1.0))
    return (length_ok + punct_ok + wl_ok + sw_ok) / 4


def lang_id_table(f, text_col: str, id_col: str, keep: tuple = ()):
    """(id, *keep, lang_guess) via the join-shaped language ID, one-pass:
    explode tokens, LEFT broadcast-join the (word, lang) stopword table,
    then a SINGLE groupBy(id) aggregate with one hit-counter per
    language and a struct array_max argmax (ties → larger lang code).
    Growing the vocabulary only grows the broadcast table; growing the
    LANGUAGE set adds one counter expression per language (fine for
    realistic dozens). One shuffle total, map-side combinable — the
    previous 3-shuffle shape (per-(doc,lang) agg → per-doc argmax agg →
    re-join docs for the zero-hit 'und' rows) re-shuffled the corpus
    twice and sort-merge-joined it against itself. Docs with zero vocab
    hits or zero tokens resolve to 'und' inside the same aggregate
    (explode_outer keeps them). ``keep`` carries passthrough columns as
    extra group keys (functionally dependent on id — free)."""
    sdf = f.sdf if hasattr(f, "sdf") else f
    spark = sdf.sparkSession
    langs = sorted(_STOPWORDS)
    vocab = spark.createDataFrame(
        [(w, lang) for lang, ws in _STOPWORDS.items() for w in ws],
        "_w string, _vlang string")
    tok = sdf.select(F.col(id_col), *[F.col(c) for c in keep],
                     F.explode_outer(tokens(F.col(text_col))).alias("_w"))
    hit = tok.join(F.broadcast(vocab), on="_w", how="left")
    agg = hit.groupBy(id_col, *keep).agg(
        *[F.count(F.when(F.col("_vlang") == lang, F.lit(1))).alias(f"_h_{i}")
          for i, lang in enumerate(langs)])
    best = F.array_max(F.array(*[
        F.struct(F.col(f"_h_{i}").alias("hits"), F.lit(lang).alias("lang"))
        for i, lang in enumerate(langs)]))
    return agg.select(
        id_col, *keep,
        F.when(best["hits"] > 0, best["lang"])
        .otherwise(F.lit("und")).alias("lang_guess"))


def lang_id(col) -> Column:
    """Heuristic language ID by stopword vote: the language whose stopword
    list hits the most tokens. Pure column expressions — one codegen'd
    pass, no UDF. Returns the language code, 'und' when nothing hits.
    For corpus-scale use prefer ``lang_id_table`` (broadcast-join shape)."""
    t = tokens(col)
    scores = []
    for lang, words in _STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.struct(F.size(F.filter(t, lambda w: F.array_contains(sw, w))).alias("hits"),
                     F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


# PII patterns — deliberately conservative, RE2-compatible (no
# backrefs/lookarounds) so the same strings run in Spark (Java regex),
# DuckDB, and RE2-based scanners.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_counts(col, kinds: list[str] | None = None) -> Column:
    """struct of per-kind PII match counts — the cheap audit pass a
    corpus runs before deciding what to redact. One codegen'd
    regexp_extract_all + size per kind, no Python."""
    c = _c(col)
    ks = kinds or list(PII_PATTERNS)
    return F.struct(*[
        F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[k]), F.lit(0))).alias(k)
        for k in ks])


def redact_pii(col, kinds: list[str] | None = None,
               replacement: str = "[PII]") -> Column:
    """Replace PII matches with a sentinel token. Chained
    regexp_replace — still one projection pass over the corpus, whole
    stage codegen'd."""
    c = _c(col)
    for k in (kinds or list(PII_PATTERNS)):
        c = F.regexp_replace(c, PII_PATTERNS[k], replacement)
    return c


def _grams(t: Column, n: int) -> Column:
    """Array of word ``n``-grams (space-joined) from a token array.
    Empty array when the document has fewer than ``n`` tokens — Spark's
    ``sequence`` would otherwise generate a DESCENDING range and emit
    bogus grams."""
    idx = F.sequence(F.lit(1), F.size(t) - n + 1)
    return F.when(F.size(t) >= n,
                  F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
                  ).otherwise(F.array().cast("array<string>"))


def _guard_id(id_col: str, reserved: set, fn: str) -> None:
    """The id column travels through internal working columns; a clash
    would silently alias user data into the algorithm's bookkeeping
    (same failure mode the quantile guard closes)."""
    if id_col in reserved:
        raise ValueError(
            f"{fn}: id column {id_col!r} collides with internal working "
            f"columns {sorted(reserved)} — rename before calling")


def repetition_stats(f, text_col: str, id_col: str,
                     top_n: int = 2, dup_n: int = 5, round_to: int = 6):
    """Gopher-style repetition quality filters (Rae et al. 2021, §A1.1):
    documents dominated by repeated lines or n-grams are low-quality
    training data. Per document:

    - ``dup_line_frac``       — fraction of lines (split on ``\\n``) that
      are repeats of an earlier line;
    - ``dup_line_char_frac``  — fraction of line characters inside those
      repeated lines;
    - ``top_ngram_char_frac`` — chars covered by the single most frequent
      word ``top_n``-gram (count × gram length) over normalized chars;
    - ``dup_ngram_char_frac`` — char mass of ``dup_n``-grams occurring
      more than once, over total ``dup_n``-gram char mass.

    Scale shape: line stats are pure per-row array expressions (no
    shuffle); n-gram stats explode grams and aggregate on
    ``(id, n, gram)`` — the shuffle key is well-spread (grams), never
    the document text, and both n-branches share one shuffle via a
    tagged union. An O(tokens²) per-row HOF alternative was rejected:
    long web documents make it quadratic per doc. Internal working
    columns ``_t _nc _nl _ndl _lc _dlc _n _g _c _top _dup _tot``.
    No reference analog (no text pipeline in /root/reference/src)."""
    _guard_id(id_col, {"_t", "_nc", "_nl", "_ndl", "_lc", "_dlc",
                       "_n", "_g", "_c", "_top", "_dup", "_tot"},
              "repetition_stats")
    sdf = f.sdf if hasattr(f, "sdf") else f
    text = F.col(text_col)
    toks = tokens(text)
    lines = F.split(text, "\n")
    dlines = F.array_distinct(lines)
    lchars = F.aggregate(lines, F.lit(0).cast("long"),
                         lambda a, x: a + F.length(x))
    dchars = F.aggregate(dlines, F.lit(0).cast("long"),
                         lambda a, x: a + F.length(x))
    base = sdf.select(
        F.col(id_col), toks.alias("_t"),
        F.length(normalize(text)).alias("_nc"),
        F.size(lines).alias("_nl"), F.size(dlines).alias("_ndl"),
        lchars.alias("_lc"), dchars.alias("_dlc"))

    def branch(n):
        return base.select(id_col, F.lit(n).alias("_n"),
                           F.explode(_grams(F.col("_t"), n)).alias("_g"))

    grams = branch(top_n)
    if dup_n != top_n:
        grams = grams.unionByName(branch(dup_n))
    chars = (F.col("_c") * F.length("_g")).cast("long")
    doc = (grams.groupBy(id_col, "_n", "_g")
           .agg(F.count(F.lit(1)).alias("_c"))
           .groupBy(id_col)
           .agg(F.max(F.when(F.col("_n") == top_n, chars)).alias("_top"),
                F.sum(F.when((F.col("_n") == dup_n) & (F.col("_c") > 1),
                             chars)).alias("_dup"),
                F.sum(F.when(F.col("_n") == dup_n, chars)).alias("_tot")))
    out = base.join(doc, on=id_col, how="left")
    z = F.lit(0.0)
    return out.select(
        id_col,
        F.round(F.when(F.col("_nl") > 0,
                       (F.col("_nl") - F.col("_ndl")) / F.col("_nl"))
                .otherwise(z), round_to).alias("dup_line_frac"),
        F.round(F.when(F.col("_lc") > 0,
                       (F.col("_lc") - F.col("_dlc")) / F.col("_lc"))
                .otherwise(z), round_to).alias("dup_line_char_frac"),
        F.round(F.when((F.col("_nc") > 0) & F.col("_top").isNotNull(),
                       F.col("_top") / F.col("_nc"))
                .otherwise(z), round_to).alias("top_ngram_char_frac"),
        F.round(F.when(F.col("_tot") > 0,
                       F.coalesce(F.col("_dup"), F.lit(0)) / F.col("_tot"))
                .otherwise(z), round_to).alias("dup_ngram_char_frac"))


def rolling_hash_from_tokens(t: Column, window: int = 8) -> Column:
    """Winnowing-style content fingerprint over an ALREADY-PROJECTED token
    array: xxhash64 of each ``window``-gram, keep the minimum — robust
    to small edits at the ends. ``t`` must be a materialized attribute:
    HOF lambdas re-evaluate free subexpressions per element, so passing
    the raw `tokens(text)` tree here costs one regex split per gram."""
    n = F.size(t)
    idx = F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, window))))
    return F.array_min(grams)


def _bm25_epilogue(j, id_col: str, k: int, k1: float, b: float,
                   round_to: int):
    """Shared BM25 scoring tail over ``(id, _tf, _df, _dl, _n,
    _avgdl)`` rows — ONE association of the idf/saturation formula so
    the inline and prebuilt-index paths (and the SQL oracles) produce
    bit-identical doubles before the deterministic rounded-score /
    id-tie-break top-k cut."""
    idf = F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5)
                / (F.col("_df") + 0.5))
    denom = F.col("_tf") + k1 * (F.lit(1.0) - b + b * F.col("_dl")
                                 / F.col("_avgdl"))
    contrib = idf * (F.col("_tf") * (k1 + 1.0)) / denom
    scored = j.groupBy(id_col).agg(
        F.round(F.sum(contrib), round_to).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def bm25_search(f, text_col: str, id_col: str, terms, k: int = 10,
                k1: float = 1.2, b: float = 0.75, round_to: int = 4):
    """Okapi BM25 keyword search over the corpus (Robertson & Zaragoza
    2009): top-``k`` docs for a bag of query terms, idf = ln(1 +
    (N-df+0.5)/(df+0.5)) (always-positive variant), tf saturation k1,
    length normalization b. For a standing corpus, build the index
    once with :func:`build_bm25_index` and query it with
    :func:`bm25_search_indexed` — this inline form re-derives
    everything from the text column each call.

    Scale shape (r14 slimming — was 4 corpus scans): term frequencies
    come from explode → filter-to-query-terms (an `isin` literal
    predicate evaluated map-side, so non-query tokens never shuffle)
    → groupBy(id, term); per-term document frequencies are a window
    count over that SAME tiny aggregate (one row per (doc, term), so
    count == countDistinct(doc)) instead of a second aggregate branch
    that re-scanned the corpus. Doc lengths are one narrow projection
    routed through an explicit id-keyed Exchange that BOTH consumers
    (the 1-row (N, avgdl) stats aggregate and the score join) reuse —
    a 12 B/row shuffle in place of re-reading and re-tokenizing the
    whole text column for the stats branch. Two corpus scans total;
    the only corpus-sized shuffles carry (doc, term) and (doc, len).
    The final top-k orders by the ROUNDED score with an id tie-break
    so results are deterministic across engines and partitionings.

    Null-id docs are excluded EVERYWHERE (corpus stats, document
    frequencies, results) — they could never be returned anyway, and
    one consistent rule keeps this path, the indexed path, and the SQL
    oracles bit-identical on degenerate inputs."""
    from pyspark.sql.window import Window as W
    _guard_id(id_col, {"_w", "_tf", "_df", "_dl", "_n", "_avgdl",
                       "score"}, "bm25_search")
    sdf = (f.sdf if hasattr(f, "sdf") else f) \
        .filter(F.col(id_col).isNotNull())
    qterms = list(dict.fromkeys(t.lower() for t in terms))
    if not qterms:
        raise ValueError("bm25_search: empty query")
    # the explicit isNotNull above also matches the IsNotNull the
    # score join infers on its side, so BOTH dl consumers canonicalize
    # to the SAME subtree and the Exchange below is planned once
    # (ReusedExchange at runtime)
    dl = (sdf.select(F.col(id_col),
                     F.size(tokens(F.col(text_col))).alias("_dl"))
          .repartition(F.col(id_col)))
    g = dl.agg(F.count(F.lit(1)).alias("_n"),
               (F.sum("_dl") / F.count(F.lit(1))).alias("_avgdl"))
    tok = sdf.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_w"))
    tf = (tok.filter(F.col("_w").isin(qterms))
          .groupBy(id_col, "_w").agg(F.count(F.lit(1)).alias("_tf")))
    tf = tf.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("_w")))
    j = tf.join(dl, id_col).crossJoin(F.broadcast(g))
    return _bm25_epilogue(j, id_col, k, k1, b, round_to)


def build_bm25_index(f, text_col: str = "text", id_col: str = "doc_id"):
    """Build the persistent BM25 retrieval structure: ``(postings,
    stats)`` Frames meant to be WRITTEN once (parquet, ideally
    partitioned or bucketed by term) and queried many times with
    :func:`bm25_search_indexed` — queries then cost term-pruned index
    reads, independent of corpus size.

    ``postings`` is the ROW-form posting table ``(term, {id}, tf, df,
    dl)`` — one row per (term, doc), denormalized with the per-term
    document frequency and per-doc length the scorer needs (the
    Lucene norms discipline), never an array: a stop-word term costs
    rows, not an aggregation buffer. ``stats`` is the 1-row
    ``(n_docs, avgdl)`` corpus summary, computed from the SAME raw
    projection (and the same drop-null-id rule) as the inline
    :func:`bm25_search` so both paths score bit-identically
    (null-TEXT docs still count into n_docs with NULL length on both,
    exactly like the SQL oracle's COUNT(*)/SUM).

    Scale shape: ONE corpus scan → explode → (doc, term) tf aggregate,
    then dl and df as window aggregates sharing that table's
    partitionings (id, then term) — no self-joins; plus one cheap
    text-pruned scan for the 1-row stats. Building 100 TB shuffles
    distinct (doc, term) pairs — the price of an index, paid once."""
    from pyspark.sql.window import Window as W
    from ..frame import Frame
    _guard_id(id_col, {"term", "tf", "df", "dl", "n_docs", "avgdl"},
              "build_bm25_index")
    sdf = (f.sdf if hasattr(f, "sdf") else f) \
        .filter(F.col(id_col).isNotNull())
    tok = sdf.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("term"))
    tc = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    postings = (tc
                .withColumn("dl", F.sum("tf").over(W.partitionBy(id_col)))
                .withColumn("df", F.count(F.lit(1))
                            .over(W.partitionBy("term")))
                .select("term", id_col, "tf", "df", "dl"))
    raw_dl = sdf.select(F.size(tokens(F.col(text_col))).alias("_dl"))
    # sum_dl (exact int64) makes the stats row ACCRETABLE (r15):
    # merge_bm25_index folds two indexes by summing n_docs/sum_dl and
    # re-deriving avgdl with ONE division — bit-identical to a single
    # build over the union corpus, which avgdl alone (already-divided
    # double) could not guarantee
    stats = raw_dl.agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("_dl").cast("long").alias("sum_dl"),
                       (F.sum("_dl") / F.count(F.lit(1))).alias("avgdl"))
    return Frame(postings), Frame(stats)


def bm25_search_indexed(postings, stats, terms, k: int = 10,
                        k1: float = 1.2, b: float = 0.75,
                        round_to: int = 4, id_col: str = "doc_id"):
    """Query a :func:`build_bm25_index` structure: top-``k`` docs for a
    bag of terms WITHOUT touching the corpus — the 100 TB search path.
    Accepts the (postings, stats) Frames (typically read back from
    parquet). Scale shape: the term `isin` filter prunes the posting
    scan (predicate pushdown; with term-partitioned parquet, partition
    pruning), the surviving rows are bounded by the query terms'
    posting lists, df/dl/tf ride in the rows, and stats is a 1-row
    broadcast — zero corpus-sized work at query time. Scores are
    bit-identical to the inline :func:`bm25_search` (shared epilogue,
    same idf/saturation association)."""
    _guard_id(id_col, {"_tf", "_df", "_dl", "_n", "_avgdl", "score"},
              "bm25_search_indexed")
    p = postings.sdf if hasattr(postings, "sdf") else postings
    s = stats.sdf if hasattr(stats, "sdf") else stats
    qterms = list(dict.fromkeys(t.lower() for t in terms))
    if not qterms:
        raise ValueError("bm25_search_indexed: empty query")
    j = (p.filter(F.col("term").isin(qterms))
         .select(F.col(id_col), F.col("tf").alias("_tf"),
                 F.col("df").alias("_df"), F.col("dl").alias("_dl"))
         .crossJoin(F.broadcast(s.select(
             F.col("n_docs").alias("_n"), F.col("avgdl").alias("_avgdl")))))
    return _bm25_epilogue(j, id_col, k, k1, b, round_to)


def unigram_logprob(f, text_col: str, id_col: str, model=None,
                    round_to: int = 4):
    """Per-document mean token log-probability under a unigram language
    model — the cheap perplexity proxy used for corpus quality scoring
    (the CCNet recipe swaps in a KenLM 5-gram; the pipeline shape is
    identical). Returns ``(id, n_tokens, lm_logprob)``; lower (more
    negative) = rarer tokens = likelier junk.

    ``model`` is an optional ``(word, count)`` DataFrame; by default
    the model is the corpus itself (self-scoring). Scale shape: one
    explode → term-count aggregate (map-side combinable, shuffles
    (token, count) — vocabulary-sized, not corpus-sized), a 1-row
    total broadcast, an equi-join of the token stream against the
    frequency table (AQE broadcasts it when the vocabulary is small),
    and one groupBy(id) average. Out-of-vocabulary tokens (only
    possible with an external model) are dropped from the average —
    add-one smoothing would need the vocab size, which an external
    model should supply."""
    _guard_id(id_col, {"_w", "_c", "_t", "n_tokens", "lm_logprob"},
              "unigram_logprob")
    sdf = f.sdf if hasattr(f, "sdf") else f
    tok = sdf.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_w"))
    if model is None:
        freq = tok.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    else:
        msdf = model.sdf if hasattr(model, "sdf") else model
        freq = msdf.select(F.col(msdf.columns[0]).alias("_w"),
                           F.col(msdf.columns[1]).cast("long").alias("_c"))
    tot = freq.agg(F.sum("_c").alias("_t"))
    return (tok.join(freq, on="_w", how="inner")
            .crossJoin(F.broadcast(tot))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg(F.log(F.col("_c") / F.col("_t"))),
                         round_to).alias("lm_logprob")))


# HTML extraction — raw-crawl → text, the step BEFORE every quality/
# dedup stage when the corpus arrives as WARC response records instead
# of pre-extracted WET text. Pure codegen regexp_replace chains;
# every pattern is RE2-compatible (inline (?is) flags, lazy
# quantifiers, NO backreferences — script/style/noscript strip in
# three literal-tag passes instead of a <(\w+)>.*?</\1> backref), so
# the DuckDB oracle replays the identical transform.

_HTML_BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|br|li|tr|h[1-6]|ul|ol|table|thead|tbody|td|th|"
    r"section|article|header|footer|blockquote|pre|form)(?:\s[^>]*)?/?>")
# &amp; decodes LAST so "&amp;lt;" yields "&lt;", not "<" (the
# standard single-pass entity discipline)
_HTML_ENTITIES = [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                  ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")]


def html_text(col) -> Column:
    """Visible text of an HTML document: script/style/noscript blocks
    and comments removed, block-level tags become newlines (paragraph
    structure survives for the line-level boilerplate stages), every
    other tag becomes a space, the six ubiquitous entities decode, and
    whitespace canonicalizes (spaces collapse within lines, blank
    lines drop). A trafilatura-class extractor also scores DOM nodes;
    this is the deterministic, engine-exact regex tier every crawl
    pipeline starts from — compose with
    :func:`~crysda_spark.pipeline.text.line_dedup`-style boilerplate
    removal for the rest."""
    c = _c(col)
    for tag in ("script", "style", "noscript"):
        c = F.regexp_replace(c, rf"(?is)<{tag}(?:\s[^>]*)?>.*?</{tag}\s*>",
                             " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, _HTML_BLOCK_TAG_RE, "\n")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        c = F.regexp_replace(c, ent, ch)
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")      # within-line collapse
    c = F.regexp_replace(c, r" ?\n ?", "\n")         # trim line edges
    c = F.regexp_replace(c, r"\n+", "\n")            # drop blank lines
    # trim() strips spaces only — document edges need \n stripped too
    return F.trim(F.regexp_replace(c, r"^\n+|\n+$", ""))


def html_title(col) -> Column:
    """<title> content ('' when absent), entity-decoded and
    whitespace-collapsed — the crawl corpus's cheapest document
    label."""
    t = F.regexp_extract(_c(col), r"(?is)<title[^>]*>(.*?)</title\s*>", 1)
    for ent, ch in _HTML_ENTITIES:
        t = F.regexp_replace(t, ent, ch)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# URL handling — web-corpus provenance columns. RE2-compatible patterns
# (no backrefs) so the same regex runs in Spark, DuckDB, and RE2 scanners.
_URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)"
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"

# Minimal two-part public suffixes for the naive registered-domain cut.
# A production deployment loads the full Public Suffix List; the
# operator shape (array slice off a split host) is unchanged by that.
_TWO_PART_SUFFIXES = ["co.uk", "com.au", "co.jp", "com.br", "co.in",
                      "com.cn", "co.kr", "com.mx", "co.za", "org.uk"]


def url_host(col) -> Column:
    """Lowercased host of a URL ('' for unparseable values)."""
    return F.lower(F.regexp_extract(_c(col), _URL_HOST_RE, 1))


def url_path(col) -> Column:
    """Path component of a URL ('' when absent)."""
    return F.regexp_extract(_c(col), _URL_PATH_RE, 1)


def registered_domain(col) -> Column:
    """Registrable domain of a URL's host: last two labels, or three
    when the last two form a known two-part public suffix (naive PSL —
    see _TWO_PART_SUFFIXES). The per-domain key for crawl dedup,
    provenance rollups, and domain-level filtering."""
    host = url_host(col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(".", F.element_at(parts, -3),
                        F.element_at(parts, -2), F.element_at(parts, -1))
    sfx = F.array(*[F.lit(s) for s in _TWO_PART_SUFFIXES])
    return (F.when((n >= 3) & F.array_contains(sfx, last2), last3)
            .when(n >= 2, last2)
            .otherwise(host))


# ------------------------------------------------------------ line dedup
_LINE_RESERVED = {"_pos", "_line", "_lh", "_dup"}


def dedup_lines(f, text_col: str = "text", id_col: str = "doc_id",
                min_dup: int = 2, min_chars: int = 1,
                delim: str = "\n", keep: str = "none"):
    """Corpus-wide exact line deduplication (the boilerplate-removal
    pass of CCNet/RefinedWeb-style pipelines): any line occurring in
    ≥ ``min_dup`` documents-or-positions corpus-wide is removed from
    EVERY document (``keep="none"``) or from every document except its
    globally-first occurrence by (id, position) order (``keep="first"``,
    the RefinedWeb one-copy-survives policy; ids must sort);
    surviving lines rejoin in original order.

    Scale design:
    - the duplicate count groups on ``xxhash64(line)`` — the corpus-
      wide shuffle carries 8-byte keys, never line text (64-bit
      collisions would only ever over-remove; acceptable and standard
      for exact-dedup-on-digest, cf. dedup.exact_dedup);
    - the duplicated-hash table is the COUNT-FILTERED output — tiny
      relative to the corpus (boilerplate is heavy-tailed), so AQE
      broadcasts the join back onto the line stream;
    - document reassembly is one groupBy(id) with an in-group
      array_sort on position — per-document state only.

    Lines shorter than ``min_chars`` are never counted nor removed
    (blank separators stay). Returns one row per input document:
    ``(id, <text_col>_clean, n_lines, n_removed)`` — documents whose
    every line was boilerplate come back with '' (they remain rows, so
    a downstream filter decides their fate explicitly).
    """
    import re as _re

    _guard_id(id_col, _LINE_RESERVED, "dedup_lines")
    lines = f.sdf.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(delim), -1))
         .alias("_pos", "_line"))
    lines = lines.withColumn("_lh", F.xxhash64("_line"))
    dup = (lines.filter(F.length("_line") >= min_chars)
           .groupBy("_lh").agg(F.count(F.lit(1)).alias("_c"))
           .filter(F.col("_c") >= min_dup)
           .select("_lh", F.lit(True).alias("_dup")))
    if keep not in ("none", "first"):
        raise ValueError(f"dedup_lines: keep must be none|first, got {keep!r}")
    marked = lines.join(dup, on="_lh", how="left")
    is_removed = F.col("_dup").isNotNull()
    if keep == "first":
        from pyspark.sql.window import Window as _W
        rn = F.row_number().over(
            _W.partitionBy("_lh").orderBy(F.col(id_col), F.col("_pos")))
        marked = marked.withColumn("_rn", rn)
        is_removed = F.col("_dup").isNotNull() & (F.col("_rn") > 1)
    kept_struct = F.when(~is_removed, F.struct("_pos", "_line"))
    out = (marked.groupBy(id_col)
           .agg(F.array_join(
                    F.transform(F.array_sort(F.collect_list(kept_struct)),
                                lambda s: s["_line"]),
                    delim).alias(f"{text_col}_clean"),
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(is_removed.cast("long")).alias("n_removed")))
    from ..frame import Frame
    return Frame(out)


# ---------------------------------------------------------------- tf-idf
def tfidf_top_terms(f, text_col: str = "text", id_col: str = "doc_id",
                    k: int = 5, round_decimals: int = 6):
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn's formula: ``tf · (ln((1+N)/(1+df)) + 1)``, which never
    zeroes a corpus-wide term and needs no special-casing of df=N).

    Scale shape: one (doc, token) shuffle for TF, one token shuffle
    for DF (distinct-doc counts), an AQE-broadcastable vocabulary join
    back, and the per-doc top-k window. Scores round before ranking
    and ties break token-ascending, so the selection is deterministic
    and SQL-oracle-able.

    Returns (id, term, tf, score, rank) with rank 1..k.
    """
    from pyspark.sql.window import Window as W

    _guard_id(id_col, {"_tok", "_tf", "_df", "_score", "_rank"},
              "tfidf_top_terms")
    tok = (f.sdf.select(F.col(id_col),
                        F.explode(F.split(normalize(F.col(text_col)), " "))
                         .alias("_tok"))
           .filter(F.length("_tok") > 0))
    tf = tok.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = f.sdf.select(id_col).distinct().count()     # scalar, 1 job
    scored = (tf.join(df, on="_tok")
              .select(id_col, F.col("_tok").alias("term"), "tf",
                      F.round(F.col("tf")
                              * (F.log(F.lit(float(1 + n_docs))
                                       / (F.col("_df") + 1)) + 1),
                              round_decimals).alias("score")))
    rank = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term")))
    from ..frame import Frame
    return Frame(scored.withColumn("rank", rank).filter(F.col("rank") <= k))


# ------------------------------------------------- cross-doc span dedup
def dup_span_stats(f, text_col: str = "text", id_col: str = "doc_id",
                   n: int = 3, min_dup: int = 2):
    """Cross-document duplicated-span coverage: for each document, how
    many of its tokens sit inside at least one word ``n``-gram that
    occurs ≥ ``min_dup`` times CORPUS-WIDE (the copy-paste-contamination
    signal behind suffix-array span dedup, Lee et al. 2022 — here the
    bounded n-gram approximation that stays relational).

    Scale shape: grams reduce to xxhash64 keys before the corpus-wide
    count shuffle (8-byte keys, never text); duplicated-gram hits
    explode to their ``n`` covered token positions and a distinct
    (doc, position) count measures the UNION of overlapping spans —
    no interval-merge state needed.

    Returns per input document (zero-filled when nothing matched):
    ``(id, n_tokens, n_dup_grams, covered_tokens, dup_token_frac)``.
    """
    _guard_id(id_col, {"_t", "_g", "_gh", "_gpos", "_idx", "_c", "_ntok"},
              "dup_span_stats")
    from ..plans.cache import pin
    base = (f.sdf.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
            .select(id_col, "_t", F.size("_t").alias("_ntok")))
    # the exploded gram table feeds BOTH the corpus-wide count and the
    # hit join — pin it so the tokenize+explode runs once, not twice
    # (caller releases with plans.cache.release_pinned)
    grams = pin(base.select(F.col(id_col),
                            F.posexplode(_grams(F.col("_t"), n))
                             .alias("_gpos", "_g"))
                .select(id_col, "_gpos", F.xxhash64("_g").alias("_gh")))
    dup = (grams.groupBy("_gh").agg(F.count(F.lit(1)).alias("_c"))
           .filter(F.col("_c") >= min_dup).select("_gh"))
    hit = grams.join(dup, on="_gh")
    occ = hit.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_grams"))
    cov = (hit.select(F.col(id_col),
                      F.explode(F.sequence(F.col("_gpos"),
                                           F.col("_gpos") + n - 1)).alias("_idx"))
           .distinct()
           .groupBy(id_col).agg(F.count(F.lit(1)).alias("covered_tokens")))
    out = (base.select(F.col(id_col), F.col("_ntok").alias("n_tokens"))
           .join(occ, on=id_col, how="left")
           .join(cov, on=id_col, how="left")
           .select(F.col(id_col), "n_tokens",
                   F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
                   F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
                   F.when(F.col("n_tokens") > 0,
                          F.round(F.coalesce("covered_tokens", F.lit(0))
                                  / F.col("n_tokens"), 6))
                    .otherwise(0.0).alias("dup_token_frac")))
    from ..frame import Frame
    return Frame(out)


# ------------------------------------------------------------ chunking
def chunk_documents(f, text_col: str, id_col: str,
                    chunk_tokens: int = 512, overlap: int = 0):
    """Split long documents into fixed-size token windows — the step
    between a cleaned corpus and sequence packing when documents
    exceed the training context. One row per chunk:
    ``(id, chunk_id, chunk_text, n_tokens)``; ``overlap`` tokens of
    each chunk repeat at the start of the next (stride =
    chunk_tokens − overlap). Empty/whitespace-only docs yield one
    empty chunk (provenance preserved — downstream joins never lose a
    doc id). The final chunk is the short remainder.

    Scale shape: tokens are projected ONCE per doc (the HOF-lesson
    from shingling), chunk starts come from a ``sequence`` expression,
    and ``posexplode`` fans out — all codegen'd JVM expressions, no
    shuffle at all until the caller aggregates. Deterministic slicing,
    so the whole operator is SQL-oracle-able."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_documents: chunk_tokens must be >= 1, "
                         f"got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"chunk_documents: need 0 <= overlap < "
                         f"chunk_tokens, got {overlap}")
    stride = chunk_tokens - overlap
    tok = f.sdf.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    # empty text -> split gives [""]; treat as zero tokens
    tok = tok.withColumn(
        "_t", F.when((F.size("_t") == 1) & (F.element_at("_t", 1) == ""),
                     F.array().cast("array<string>")).otherwise(F.col("_t")))
    n = F.size("_t")
    # chunk start indices (1-based): 1, 1+stride, ... while start <= n;
    # max(n,1) keeps one (empty) chunk for empty docs
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    out = (tok.select(
        F.col(id_col), "_t",
        F.posexplode(starts).alias("chunk_id", "_start"))
        .select(
            F.col(id_col), "chunk_id",
            F.concat_ws(" ", F.slice(F.col("_t"), F.col("_start"),
                                     chunk_tokens)).alias("chunk_text"),
            F.least(F.greatest(F.size("_t") - F.col("_start") + 1,
                               F.lit(0)),
                    F.lit(chunk_tokens)).alias("n_tokens")))
    from ..frame import Frame
    return Frame(out)


def build_inverted_index(f, text_col: str = "text",
                         id_col: str = "doc_id", min_df: int = 1,
                         max_postings: int | None = None):
    """Inverted index over the corpus: one row per term with its
    document frequency and a SORTED posting list — the core retrieval
    structure behind BM25/boolean search (Zobel & Moffat 2006).
    Returns ``(term, df, postings)``; ``df`` always counts ALL
    distinct documents containing the term even when ``max_postings``
    caps the stored list (the cap keeps stop-word rows bounded — a
    production 100 TB index shards long posting lists instead, but the
    plan shape below is the same either way).

    Scale shape: explode → DISTINCT (doc, term) — map-side combinable
    — then ONE vocabulary-keyed aggregate; no joins, no second corpus
    pass. ``min_df`` prunes hapax noise at the aggregate. Postings are
    ascending and capping keeps the SORTED prefix, so output is
    deterministic across partitionings and engines.

    With ``max_postings`` set, the cap is enforced BEFORE the array is
    built: a sort-based window ranks each term's postings by id (both
    hang off the same term-hash Exchange, and window sort spills to
    disk), and the aggregate collects only rank ≤ cap — so a 100 TB
    stop-word term never materializes a corpus-sized array in an
    aggregation buffer; its overflow costs sort/spill, not memory.
    Uncapped, the collect_set buffer is the honest cost of asking for
    complete posting lists (shard them instead at corpus scale)."""
    _guard_id(id_col, {"_tok", "_r", "term", "df", "postings"},
              "build_inverted_index")
    from pyspark.sql.window import Window as W
    sdf = f.sdf if hasattr(f, "sdf") else f
    e = (sdf.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("term"))
         .distinct())
    if max_postings is not None:
        r = F.row_number().over(
            W.partitionBy("term").orderBy(F.col(id_col)))
        agg = (e.withColumn("_r", r)
               .groupBy("term")
               .agg(F.count(F.lit(1)).alias("df"),
                    F.sort_array(F.collect_list(
                        F.when(F.col("_r") <= max_postings,
                               F.col(id_col)))).alias("postings")))
    else:
        agg = e.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_set(F.col(id_col))).alias("postings"))
    if min_df > 1:
        agg = agg.filter(F.col("df") >= min_df)
    from ..frame import Frame
    return Frame(agg)


def bigram_logprob(f, text_col: str, id_col: str, add_k: float = 1.0,
                   round_to: int = 4):
    """Per-document mean bigram log-probability under an add-k-smoothed
    bigram language model trained on the corpus itself — one model
    step up from :func:`unigram_logprob` on the CCNet-style quality
    ladder (KenLM swaps in a 5-gram; the pipeline shape is identical).
    ``P(w2|w1) = (c(w1 w2) + k) / (c(w1·) + k·V)`` where ``c(w1·)``
    sums bigram counts by prefix (exact conditional normalization) and
    ``V`` is the distinct-token vocabulary size. Returns
    ``(id, n_bigrams, lm2_logprob)`` — documents with fewer than two
    tokens have no bigrams and are absent, as in the reference's
    NA-dropping aggregate semantics.

    Scale shape: one explode → bigram-count aggregate (map-side
    combinable, shuffles (bigram, count) — vocabulary²-bounded but in
    practice Zipf-thin), a prefix re-aggregate of that SAME table
    (bigram-vocabulary-sized, never corpus-sized), two 1-row scalars
    (V), and an equi-join of the per-doc bigram stream against the
    model (AQE-broadcastable). The bigram-count table feeds BOTH the
    prefix aggregate and the model join, so it is PINNED
    (vocabulary-sized — the r11 multi-consumer lesson; call
    ``release_pinned()`` after consuming); the corpus-sized bigram
    stream is deliberately NOT persisted — its second consumer pays a
    re-scan, not executor memory. The per-doc mean rounds to
    ``round_to`` so the output is stable to summation-order noise."""
    _guard_id(id_col, {"_b", "_t", "_w", "_c2", "_c1", "_v", "n_bigrams",
                       "lm2_logprob"}, "bigram_logprob")
    from ..plans.cache import pin
    sdf = f.sdf if hasattr(f, "sdf") else f
    t = tokens(F.col(text_col))
    # project the token array BEFORE the gram lambda (r15 optimization
    # round, the `shingled` lesson): _grams' transform references its
    # input per element, and Catalyst inlines a raw tokenize EXPRESSION
    # into every reference — the regex split re-ran per gram position
    # (measured 8x on the gram pass; plan shows one split per row now)
    big = (sdf.select(F.col(id_col), t.alias("_t"))
           .select(id_col, F.explode(_grams(F.col("_t"), 2)).alias("_b")))
    c2 = pin(big.groupBy("_b").agg(F.count(F.lit(1)).alias("_c2")))
    c1 = (c2.groupBy(F.split(F.col("_b"), " ")[0].alias("_w"))
          .agg(F.sum("_c2").alias("_c1")))
    vocab = (sdf.select(F.explode(t).alias("_w")).distinct()
             .agg(F.count(F.lit(1)).alias("_v")))
    model = (c2.withColumn("_w", F.split(F.col("_b"), " ")[0])
             .join(c1, on="_w")
             .crossJoin(F.broadcast(vocab)))
    lp = F.log((F.col("_c2") + add_k)
               / (F.col("_c1") + add_k * F.col("_v")))
    from ..frame import Frame
    return Frame(
        big.join(model.select("_b", lp.alias("_lp")), on="_b")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.round(F.avg("_lp"), round_to).alias("lm2_logprob")))


def trigram_logprob(f, text_col: str, id_col: str, add_k: float = 1.0,
                    round_to: int = 4):
    """Per-document mean TRIGRAM log-probability under an
    add-k-smoothed trigram LM trained on the corpus itself — the next
    rung above :func:`bigram_logprob` on the CCNet-style quality
    ladder (the KenLM 5-gram shape at order 3, same pipeline).
    ``P(w3|w1 w2) = (c(w1w2w3) + k) / (c(w1w2·) + k·V)`` where
    ``c(w1w2·)`` sums trigram counts by their 2-word prefix (exact
    conditional normalization — int64 prefix sums, never a separate
    corpus pass) and ``V`` is the distinct-token vocabulary size.
    Returns ``(id, n_trigrams, lm3_logprob)``; documents with fewer
    than three tokens have no trigrams and are absent.

    Scale shape — identical to the bigram rung one order up: one
    explode → trigram-count aggregate (map-side combinable, shuffles
    (trigram, count) — Zipf-thin), a prefix re-aggregate of that SAME
    pinned table (trigram-vocabulary-sized, never corpus-sized), one
    1-row V scalar, and an equi-join of the per-doc trigram stream
    against the model (AQE-broadcastable). The trigram-count table
    feeds BOTH the prefix aggregate and the model join → PINNED
    (release via ``release_pinned()``); the corpus-sized trigram
    stream is deliberately NOT persisted — its second consumer pays a
    re-scan, not executor memory."""
    _guard_id(id_col, {"_b", "_t", "_p", "_c3", "_c2", "_v", "n_trigrams",
                       "lm3_logprob"}, "trigram_logprob")
    from ..plans.cache import pin
    sdf = f.sdf if hasattr(f, "sdf") else f
    t = tokens(F.col(text_col))
    # token array projected before the gram lambda — see bigram_logprob
    tri = (sdf.select(F.col(id_col), t.alias("_t"))
           .select(id_col, F.explode(_grams(F.col("_t"), 3)).alias("_b")))
    c3 = pin(tri.groupBy("_b").agg(F.count(F.lit(1)).alias("_c3")))
    prefix = F.concat_ws(" ", F.slice(F.split(F.col("_b"), " "), 1, 2))
    c2p = (c3.groupBy(prefix.alias("_p"))
           .agg(F.sum("_c3").alias("_c2")))
    vocab = (sdf.select(F.explode(t).alias("_w")).distinct()
             .agg(F.count(F.lit(1)).alias("_v")))
    model = (c3.withColumn("_p", prefix)
             .join(c2p, on="_p")
             .crossJoin(F.broadcast(vocab)))
    lp = F.log((F.col("_c3") + add_k)
               / (F.col("_c2") + add_k * F.col("_v")))
    from ..frame import Frame
    return Frame(
        tri.join(model.select("_b", lp.alias("_lp")), on="_b")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_trigrams"),
             F.round(F.avg("_lp"), round_to).alias("lm3_logprob")))


def ngram_logprob(f, text_col: str, id_col: str, order: int,
                  add_k: float = 1.0, round_to: int = 4):
    """Per-document mean ``order``-gram log-probability under an
    add-k-smoothed n-gram LM trained on the corpus itself — the
    GENERAL rung of the CCNet-style quality ladder (r15; the KenLM
    pipeline ships order 5). ``P(wₙ|w₁…wₙ₋₁) = (cₙ + k) / (cₙ₋₁· +
    k·V)`` with ``cₙ₋₁·`` the exact int64 prefix-sum of the n-gram
    counts (never a separate corpus pass) and ``V`` the
    distinct-token vocabulary. Returns ``(id, n_ngrams,
    lm{order}_logprob)``; documents with fewer than ``order`` tokens
    are absent. ``order=2``/``3`` reproduce
    :func:`bigram_logprob`/:func:`trigram_logprob` bit-for-bit
    (pytest-pinned) — those stay as the named rungs the entry
    queries oracle.

    Scale shape, identical at every order: one explode → n-gram-count
    aggregate (map-side combinable, shuffles (gram, count) —
    Zipf-thin, though the gram table fattens with order: the Heaps
    exponent climbs toward 1, which is the honest reason KenLM stops
    at 5), a prefix re-aggregate of that SAME pinned table, one 1-row
    V scalar, and an equi-join of the per-doc gram stream against the
    model (AQE-broadcastable). The corpus-sized gram stream is
    deliberately NOT persisted — its second consumer pays a re-scan,
    not executor memory."""
    if order < 2:
        raise ValueError(f"ngram_logprob: order must be >= 2, got {order}")
    _guard_id(id_col, {"_b", "_t", "_p", "_cn", "_cp", "_v", "n_ngrams",
                       f"lm{order}_logprob"}, "ngram_logprob")
    from ..plans.cache import pin
    sdf = f.sdf if hasattr(f, "sdf") else f
    t = tokens(F.col(text_col))
    # token array projected before the gram lambda — see bigram_logprob
    grams = (sdf.select(F.col(id_col), t.alias("_t"))
             .select(id_col,
                     F.explode(_grams(F.col("_t"), order)).alias("_b")))
    cn = pin(grams.groupBy("_b").agg(F.count(F.lit(1)).alias("_cn")))
    vocab = (sdf.select(F.explode(t).alias("_w")).distinct()
             .agg(F.count(F.lit(1)).alias("_v")))
    return _lm_score_epilogue(grams, cn, vocab, order, add_k, round_to,
                              id_col)


def _lm_score_epilogue(gram_stream, cn, v_df, order: int, add_k: float,
                       round_to: int, id_col: str):
    """Shared LM scoring tail: derive the prefix normalizer ``cp``
    from the gram-count table ``cn`` (``(_b, _cn)``), build the
    per-gram log-prob model, and average it over the per-doc gram
    stream. Used by both the self-scoring :func:`ngram_logprob` and
    the prebuilt-model :func:`score_with_ngram_model`, so a model
    built on a corpus scores that corpus IDENTICALLY to the inline
    path (pytest-pinned parity)."""
    from ..frame import Frame
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.col("_b"), " "), 1, order - 1))
    cp = (cn.groupBy(prefix.alias("_p"))
          .agg(F.sum("_cn").alias("_cp")))
    model = (cn.withColumn("_p", prefix)
             .join(cp, on="_p")
             .crossJoin(F.broadcast(v_df)))
    lp = F.log((F.col("_cn") + add_k)
               / (F.col("_cp") + add_k * F.col("_v")))
    return Frame(
        gram_stream.join(model.select("_b", lp.alias("_lp")), on="_b")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_ngrams"),
             F.round(F.avg("_lp"), round_to)
             .alias(f"lm{order}_logprob")))


def build_ngram_model(f, text_col: str = "text", order: int = 2):
    """Train the n-gram LM ONCE and keep it (r15 — the "write once,
    query many" discipline the BM25 index follows, applied to the
    CCNet-style quality scorer: CCNet ships a PRETRAINED KenLM and
    scores every new shard against it; the self-scoring
    :func:`ngram_logprob` re-trains per call, which is the wrong cost
    model for a growing corpus). Returns the ``(grams, vocab, stats)``
    triple of Frames that IS the model's sufficient statistic:

    - ``grams``: ``(gram, cnt)`` — n-gram counts (the prefix
      normalizer re-derives from this by exact int64 prefix-sum at
      score time, so it never needs separate maintenance);
    - ``vocab``: ``(token, cnt)`` — token counts; ``V`` is its row
      count (the counts make the vocabulary itself accretable);
    - ``stats``: one row ``(order, n_grams, n_tokens)`` — the order is
      part of the model (a scorer cannot guess it), the totals are
      exact int64 sums for sanity checks.

    Every count is an associative int64 sum over per-document local
    work, so models built per batch fold EXACTLY with
    :func:`merge_ngram_model` — unlike BM25's denormalized df there
    is no cross-batch-mutable column at all. Scale shape: one corpus
    scan → two map-side-combinable count aggregates (gram- and
    token-vocabulary-sized shuffles, Zipf-thin) + two 1-row totals."""
    if order < 2:
        raise ValueError(f"build_ngram_model: order must be >= 2, "
                         f"got {order}")
    from ..frame import Frame
    sdf = f.sdf if hasattr(f, "sdf") else f
    t = tokens(F.col(text_col))
    # token array projected before the gram lambda — see bigram_logprob
    grams = (sdf.select(t.alias("_t"))
             .select(F.explode(_grams(F.col("_t"), order)).alias("gram"))
             .groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")))
    vocab = (sdf.select(F.explode(t).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    stats = (grams.agg(F.sum("cnt").cast("long").alias("n_grams"))
             .crossJoin(vocab.agg(F.sum("cnt").cast("long")
                                  .alias("n_tokens")))
             .select(F.lit(order).cast("long").alias("order"),
                     "n_grams", "n_tokens"))
    stats_f = Frame(stats)
    # driver-side order tag (r15 optimization): the order is a LITERAL
    # of this plan, but reading it back via stats.first() would execute
    # the full gram/vocab aggregates — merge_ngram_model and
    # score_with_ngram_model did exactly that per call (6+ eager
    # vocabulary-sized jobs in a 3-batch accrete-and-score chain,
    # measured ~half of lm_model_scored's wall time). The tag rides the
    # Frame; consumers fall back to a (column-pruned) first() only for
    # models whose stats came from elsewhere (e.g. read_ngram_model).
    stats_f._lm_order = int(order)
    return Frame(grams), Frame(vocab), stats_f


def _lm_stats_order(stats) -> int:
    """Model order from a stats Frame WITHOUT running its plan when
    avoidable (r15 optimization). Stats built by
    :func:`build_ngram_model` / folded by :func:`merge_ngram_model`
    carry the order as a driver-side tag (it is a plan literal — no
    job needed); stats from other sources (``read_ngram_model``, a
    snapshot read) pay one column-pruned ``first()``, which for a
    1-row parquet stats file is a trivial scan, not the full
    gram/vocab aggregation the untagged in-memory plans would run.

    The ``_lm_order`` attribute is build/merge-INTERNAL (r15 advice):
    it is set only by :func:`build_ngram_model` and
    :func:`merge_ngram_model` on the exact Frame they return. Any
    Frame-level transformation of stats produces a NEW Frame without
    the tag (harmless — consumers fall back to ``first()``); code that
    rebuilds a stats frame must NOT copy the attribute across, because
    merge's order-mismatch check trusts the tag over the data."""
    o = getattr(stats, "_lm_order", None)
    if o is not None:
        return int(o)
    s = stats.sdf if hasattr(stats, "sdf") else stats
    return int(s.select("order").first()["order"])


def score_with_ngram_model(f, text_col: str, id_col: str, grams, vocab,
                           stats, add_k: float = 1.0, round_to: int = 4):
    """Score documents against a PREBUILT :func:`build_ngram_model`
    triple — per-doc mean add-k-smoothed log-probability, identical
    formula (and bit-identical output when the model was built on the
    scored corpus — pytest-pinned) to :func:`ngram_logprob`, but the
    model is an input, not a per-call training pass: scoring cost is
    one batch scan + a model-sized join, independent of how much
    corpus the model has accreted. Out-of-vocabulary grams are
    dropped from the average (the :func:`unigram_logprob` external-
    model contract); documents with fewer than ``order`` tokens, or
    whose every gram is OOV, are absent. Returns ``(id, n_ngrams,
    lm{order}_logprob)``.

    Scale shape: the model's gram table feeds both the prefix
    re-aggregate and the scoring join → PINNED (model-sized; release
    via ``release_pinned()``); the batch's gram stream is never
    persisted."""
    order = _lm_stats_order(stats)
    _guard_id(id_col, {"_b", "_t", "_p", "_cn", "_cp", "_v", "n_ngrams",
                       f"lm{order}_logprob"}, "score_with_ngram_model")
    from ..plans.cache import pin
    sdf = f.sdf if hasattr(f, "sdf") else f
    g = grams.sdf if hasattr(grams, "sdf") else grams
    v = vocab.sdf if hasattr(vocab, "sdf") else vocab
    t = tokens(F.col(text_col))
    # token array projected before the gram lambda — see bigram_logprob
    stream = (sdf.select(F.col(id_col), t.alias("_t"))
              .select(id_col,
                      F.explode(_grams(F.col("_t"), order)).alias("_b")))
    cn = pin(g.select(F.col("gram").alias("_b"),
                      F.col("cnt").cast("long").alias("_cn")))
    v_df = v.agg(F.count(F.lit(1)).alias("_v"))
    return _lm_score_epilogue(stream, cn, v_df, order, add_k, round_to,
                              id_col)


def merge_ngram_model(grams, vocab, stats, grams_delta, vocab_delta,
                      stats_delta):
    """Fold a new batch's :func:`build_ngram_model` triple into an
    existing one WITHOUT re-reading any corpus text: every model
    column is an associative int64 count, so the merge is a pure
    key-sum — ``(grams, vocab, stats)`` of the union corpus, EXACTLY
    equal to a single build over everything (pytest-pinned
    bit-for-bit, scores included). Orders must match (an order-2 and
    an order-3 model share no event space); mixing them raises.

    Scale shape: two vocabulary-sized union+sum shuffles and a 1-row
    stats fold. Unlike :func:`merge_bm25_index` there is no
    denormalized cross-batch column, so the OLD model is never
    rewritten row-by-row — merging N batches costs N vocabulary-sized
    aggregates, total."""
    from ..frame import Frame
    g = grams.sdf if hasattr(grams, "sdf") else grams
    v = vocab.sdf if hasattr(vocab, "sdf") else vocab
    s = stats.sdf if hasattr(stats, "sdf") else stats
    gd = grams_delta.sdf if hasattr(grams_delta, "sdf") else grams_delta
    vd = vocab_delta.sdf if hasattr(vocab_delta, "sdf") else vocab_delta
    sd = stats_delta.sdf if hasattr(stats_delta, "sdf") else stats_delta
    o1 = _lm_stats_order(stats)
    o2 = _lm_stats_order(stats_delta)
    if o1 != o2:
        raise ValueError(f"merge_ngram_model: order mismatch — model "
                         f"is order {o1}, delta is order {o2}")
    out_g = (g.unionByName(gd).groupBy("gram")
             .agg(F.sum("cnt").cast("long").alias("cnt")))
    out_v = (v.unionByName(vd).groupBy("token")
             .agg(F.sum("cnt").cast("long").alias("cnt")))
    out_s = (s.select("n_grams", "n_tokens")
             .unionByName(sd.select("n_grams", "n_tokens"))
             .agg(F.sum("n_grams").cast("long").alias("n_grams"),
                  F.sum("n_tokens").cast("long").alias("n_tokens"))
             .select(F.lit(o1).cast("long").alias("order"),
                     "n_grams", "n_tokens"))
    out_s_f = Frame(out_s)
    out_s_f._lm_order = o1  # see _lm_stats_order
    return Frame(out_g), Frame(out_v), out_s_f


def write_ngram_model(grams, vocab, stats, path: str):
    """Persist a :func:`build_ngram_model` triple under ``path`` —
    ``grams/`` gram-clustered (repartitioned + sorted by gram, the
    ``write_bm25_index`` layout) so parquet row-group min/max prunes a
    specific-gram lookup; ``vocab/`` token-clustered likewise;
    ``stats/`` the 1-row summary."""
    g = grams.sdf if hasattr(grams, "sdf") else grams
    v = vocab.sdf if hasattr(vocab, "sdf") else vocab
    s = stats.sdf if hasattr(stats, "sdf") else stats
    base = path.rstrip("/")
    (g.repartition(F.col("gram")).sortWithinPartitions("gram")
     .write.mode("overwrite").parquet(f"{base}/grams"))
    (v.repartition(F.col("token")).sortWithinPartitions("token")
     .write.mode("overwrite").parquet(f"{base}/vocab"))
    s.write.mode("overwrite").parquet(f"{base}/stats")


def read_ngram_model(spark, path: str):
    """Load a :func:`write_ngram_model` triple: ``(grams, vocab,
    stats)`` Frames ready for :func:`score_with_ngram_model` or
    further :func:`merge_ngram_model` accretion."""
    from ..frame import Frame
    base = path.rstrip("/")
    return (Frame(spark.read.parquet(f"{base}/grams")),
            Frame(spark.read.parquet(f"{base}/vocab")),
            Frame(spark.read.parquet(f"{base}/stats")))


def write_bm25_index(postings, stats, path: str):
    """Persist a :func:`build_bm25_index` pair under ``path`` —
    ``postings/`` is REPARTITIONED BY TERM AND TERM-SORTED WITHIN
    FILES, so parquet row-group min/max statistics prune a
    :func:`bm25_search_indexed` term filter to the row groups that
    actually hold the query terms' posting lists (the poor man's
    term-bucketing; on a real warehouse graduate to a bucketed table).
    ``stats/`` is the 1-row corpus summary. One shuffle, paid once."""
    p = postings.sdf if hasattr(postings, "sdf") else postings
    s = stats.sdf if hasattr(stats, "sdf") else stats
    base = path.rstrip("/")
    (p.repartition(F.col("term")).sortWithinPartitions("term")
     .write.mode("overwrite").parquet(f"{base}/postings"))
    s.write.mode("overwrite").parquet(f"{base}/stats")


def read_bm25_index(spark, path: str):
    """Load a :func:`write_bm25_index` pair: ``(postings, stats)``
    Frames ready for :func:`bm25_search_indexed`."""
    from ..frame import Frame
    base = path.rstrip("/")
    return (Frame(spark.read.parquet(f"{base}/postings")),
            Frame(spark.read.parquet(f"{base}/stats")))


def merge_bm25_index(postings, stats, postings_delta, stats_delta):
    """Fold a NEW batch's :func:`build_bm25_index` pair into an
    existing one WITHOUT re-reading any corpus text (r15 — "write
    once, query many" now survives corpus growth): returns the merged
    ``(postings, stats)``, bit-identical to a single
    :func:`build_bm25_index` over the union corpus.

    How each statistic accretes:

    - ``tf``/``dl`` rows are per-(term, doc) and per-doc — a doc lives
      wholly in one batch, so the rows UNION (document ids must be
      unique across batches, the accreting-sink discipline; a repeated
      id would double its rows, exactly as re-ingesting a document
      into any index would);
    - ``df`` is the one cross-batch-mutable column (denormalized per
      row, the Lucene norms discipline): the delta's per-term df adds
      to existing rows of that term and the old per-term df adds to
      delta rows. BOTH adjustments join against the
      vocabulary-of-the-DELTA-sized df table, broadcastable by AQE —
      the old postings are SCANNED and rewritten map-side, never
      shuffled (the honest cost of a denormalized index; a warehouse
      deployment would normalize df into a term side-table to avoid
      the rewrite);
    - ``n_docs``/``sum_dl`` are exact int64 sums; ``avgdl`` is
      re-derived with ONE division, so downstream
      :func:`bm25_search_indexed` scores are bit-identical to the
      inline path on the union corpus.

    Pre-r15 stats rows (no ``sum_dl``) cannot accrete exactly —
    rebuild once with the current :func:`build_bm25_index`."""
    from ..frame import Frame
    p = postings.sdf if hasattr(postings, "sdf") else postings
    s = stats.sdf if hasattr(stats, "sdf") else stats
    pd_ = postings_delta.sdf if hasattr(postings_delta, "sdf") \
        else postings_delta
    sd = stats_delta.sdf if hasattr(stats_delta, "sdf") else stats_delta
    for side, frame in (("stats", s), ("stats_delta", sd)):
        if "sum_dl" not in frame.columns:
            raise ValueError(
                f"merge_bm25_index: {side} carries no sum_dl (pre-r15 "
                "build) — avgdl cannot accrete exactly; rebuild the "
                "index once with the current build_bm25_index")
    id_col = [c for c in p.columns
              if c not in ("term", "tf", "df", "dl")][0]
    # per-term df of each side, delta-vocabulary-sized (df is constant
    # within a term, so max == the value)
    df_new = pd_.groupBy("term").agg(F.max("df").alias("_df_new"))
    df_old = (p.join(df_new.select("term"), on="term", how="leftsemi")
              .groupBy("term").agg(F.max("df").alias("_df_old")))
    merged_old = (p.join(df_new, on="term", how="left")
                  .withColumn("df", F.col("df")
                              + F.coalesce(F.col("_df_new"), F.lit(0)))
                  .drop("_df_new"))
    merged_new = (pd_.join(df_old, on="term", how="left")
                  .withColumn("df", F.col("df")
                              + F.coalesce(F.col("_df_old"), F.lit(0)))
                  .drop("_df_old"))
    cols = ["term", id_col, "tf", "df", "dl"]
    out_p = merged_old.select(cols).unionByName(merged_new.select(cols))
    tot = (s.select("n_docs", "sum_dl")
           .unionByName(sd.select("n_docs", "sum_dl"))
           .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("sum_dl").cast("long").alias("sum_dl")))
    out_s = tot.select("n_docs", "sum_dl",
                       (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))
    return Frame(out_p), Frame(out_s)
