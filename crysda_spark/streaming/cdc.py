"""Streaming sinks: parquet state maintained from a stream under
``foreachBatch``.

Spark has no MERGE sink without a table format (Delta/Iceberg); every
sink here composes the engine's own batch operators under
``foreachBatch`` — the pattern those formats document for streaming
upserts. There are two sink shapes:

- **static-index** (:func:`stream_decontaminate`,
  :func:`stream_match_audio`): each micro-batch is matched against an
  index loaded and pinned once at stream start; the output lands under
  ``out_path/batch_id=N``.
- **accreting** (:func:`stream_dedup_incremental`,
  :func:`stream_dupspan_dedup`, :func:`stream_image_dedup`,
  :func:`stream_bm25_index`, :func:`stream_ngram_model`): each
  micro-batch is folded into state that grows with the stream; any
  per-batch output lands under ``<table>/batch_id=N``.

:func:`stream_upsert_to_parquet` keeps a keyed snapshot: each batch is
``merge_into``-ed (update-wins, insert-new; duplicate keys WITHIN a
batch collapse to the latest by ``seq_col`` first) into the current
snapshot. A merge upsert is idempotent, so it needs no replay guard.

**The exactly-once contract** (every sink):

1. Per-batch output is overwritten by batch id, so Spark's replay of a
   failed batch (same id, same rows) rewrites it identically.
2. State is written to the inactive side of an A/B pair and published
   by an atomic rename of a ``MANIFEST`` file: readers always see a
   complete snapshot. The state directory must therefore be
   driver-local (``os.replace``).
3. An accreting sink's manifest also records the (batch id, content
   fingerprint) of the last flip. A batch that matches it is a replay
   landing after its own flip committed: it recomputes its per-batch
   output against the PRE-flip side and leaves the state alone —
   folding its delta in again would double-count. A checkpointless
   restart that reuses the id for NEW rows has another fingerprint
   and is merged normally.
4. Per-batch intermediates are pinned in a
   :func:`~crysda_spark.plans.cache.pin_scope`, so a concurrent
   pipeline or second stream in the same driver keeps its pins.

An empty micro-batch writes nothing and does not flip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from ..frame import Frame
from ..operators.merge import merge_into
from ..plans.cache import pin, pin_scope

__all__ = ["read_snapshot", "stream_upsert_to_parquet",
           "stream_dedup_incremental", "stream_decontaminate",
           "stream_dupspan_dedup", "stream_match_audio",
           "stream_image_dedup", "stream_bm25_index",
           "read_bm25_snapshot", "stream_ngram_model",
           "read_ngram_model_snapshot"]

_MANIFEST = "MANIFEST"


def _manifest_state(path: str) -> tuple[str | None, int | None,
                                        int | None]:
    """(active side, batch id, batch fingerprint) of the last
    committed flip, from an ``a@7@-123...`` manifest. A plain ``a``
    manifest (the upsert sink) reads as (side, None, None), which
    never matches a batch as a replay."""
    try:
        with open(os.path.join(path, _MANIFEST)) as fh:
            raw = fh.read().strip()
    except OSError:
        return None, None, None
    parts = raw.split("@")
    side = parts[0]
    if side not in ("a", "b"):
        return None, None, None

    def _int(i):
        try:
            return int(parts[i])
        except (IndexError, ValueError):
            return None

    return side, _int(1), _int(2)


def _active_side(path: str) -> str | None:
    return _manifest_state(path)[0]


def _batch_fingerprint(batch: SparkDF, *cols: str) -> int | None:
    """Order-free content fingerprint of a micro-batch, or None for an
    empty one — one tiny aggregate per batch, the price of
    distinguishing a true replay from a checkpointless restart reusing
    the same batch id for new rows. A bare bit_xor of row hashes is
    multiplicity-blind (even-count duplicates cancel: {A,A,B} and {B}
    collide), so the fingerprint folds in the row COUNT and the
    wrap-around SUM of hashes: all three are order-free and
    partitioning-free, and a multiplicity change moves count and sum
    even when the xor cancels.

    Upgrade boundary, stated honestly: changing this definition
    invalidates fingerprints already recorded in manifests — a replay
    of the LAST pre-upgrade batch against its committed flip would
    mismatch and re-merge (double-count), exactly once per state dir.
    Drain or checkpoint streams across a fingerprint-format change."""
    key = ", ".join(cols)
    row = batch.agg(
        F.expr(f"bit_xor(xxhash64({key}))").alias("x"),
        F.count(F.lit(1)).alias("n"),
        # sum in decimal(38,0) (no int64 overflow), wrap to 64 bits
        F.expr(f"sum(cast(xxhash64({key}) as decimal(38,0)))").alias("s"),
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        return None
    x = int(row["x"] or 0)
    s = int(row["s"] or 0) & 0xFFFFFFFFFFFFFFFF
    # mix with distinct odd multipliers; keep the value in int64 range
    # (the manifest grammar stores one signed integer)
    mixed = (x ^ (s * 0x9E3779B97F4A7C15) ^ (n * 0xC2B2AE3D27D4EB4F)) \
        & 0x7FFFFFFFFFFFFFFF
    return mixed


def _commit_flip(path: str, side: str, *stamp: int) -> None:
    """Atomically point the manifest at ``side``; an accreting sink
    stamps it with (batch id, batch fingerprint)."""
    tmp = os.path.join(path, _MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        fh.write("@".join([side, *map(str, stamp)]))
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _accrete(batch: SparkDF, batch_id: int, idx_dir: str,
             key_cols: tuple[str, ...], fold) -> None:
    """One micro-batch of an accreting sink under the module's
    exactly-once contract. ``fold(batch, batch_id, read_dir,
    write_dir)`` writes the sink's per-batch output and, when
    ``write_dir`` is set, the new state there. ``read_dir`` is the
    state side to fold into — the committed side, or the pre-flip side
    on a replay — and None when the state bootstraps from empty.
    ``write_dir`` is None on a replay, whose state already holds the
    batch."""
    fp = _batch_fingerprint(batch, *key_cols)
    if fp is None:
        return
    side, last_bid, last_fp = _manifest_state(idx_dir)
    replay = side is not None and (last_bid, last_fp) == (batch_id, fp)
    nxt = "b" if side == "a" else "a"
    if replay:
        read_dir = os.path.join(idx_dir, nxt)
        if not os.path.isdir(read_dir):
            read_dir = None  # a replayed batch 0 bootstraps from empty
    else:
        read_dir = os.path.join(idx_dir, side) if side else None
    with pin_scope():
        fold(batch, batch_id, read_dir,
             None if replay else os.path.join(idx_dir, nxt))
    if not replay:
        _commit_flip(idx_dir, nxt, batch_id, fp)


def _write_batch(df: SparkDF, out_dir: str, batch_id: int) -> None:
    """Overwrite one batch's output under ``out_dir/batch_id=N``."""
    df.write.mode("overwrite").parquet(
        f"{out_dir.rstrip('/')}/batch_id={batch_id}")


def _read_tables(spark, base: str, *names: str) -> tuple[Frame, ...]:
    """The named parquet tables of one state side."""
    return tuple(Frame(spark.read.parquet(os.path.join(base, n)))
                 for n in names)


def _per_batch(compute, out_dir: str):
    """foreachBatch body of a static-index sink: write
    ``compute(batch, batch_id)`` per batch inside a pin scope."""
    def apply_batch(batch: SparkDF, batch_id: int) -> None:
        if not batch.take(1):
            return
        with pin_scope():
            _write_batch(compute(batch, batch_id), out_dir, batch_id)
    return apply_batch


def _start(stream: SparkDF, apply_batch, checkpoint: str | None,
           mode: str = "append"):
    writer = stream.writeStream.foreachBatch(apply_batch).outputMode(mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_snapshot(spark, path: str) -> SparkDF | None:
    """Current committed snapshot, or None before the first batch."""
    side = _active_side(path)
    if side is None:
        return None
    return spark.read.parquet(os.path.join(path, side))


def stream_upsert_to_parquet(stream: SparkDF, path: str,
                             on: list[str] | str,
                             seq_col: str | None = None,
                             checkpoint: str | None = None):
    """Start the upsert sink: returns the StreamingQuery. ``on`` is the
    merge key; ``seq_col`` (e.g. an event timestamp) picks the LATEST
    change when one batch carries several rows per key — without it,
    intra-batch duplicate keys raise (merge_into's duplicate guard).
    The snapshot lives under ``path`` as an A/B pair with a plain-side
    manifest; cross-batch ordering is the stream's watermark
    discipline. One key shuffle per batch (AQE broadcasts small
    changesets against the big snapshot); the snapshot rewrite is the
    usual no-format tradeoff — a real deployment graduates to a table
    format for file-level upserts, keeping THIS operator's semantics."""
    keys = [on] if isinstance(on, str) else list(on)
    os.makedirs(path, exist_ok=True)

    def apply_batch(batch: SparkDF, batch_id: int) -> None:
        if seq_col is not None:
            from pyspark.sql.window import Window as W
            rn = F.row_number().over(
                W.partitionBy(*keys).orderBy(F.col(seq_col).desc()))
            batch = (batch.withColumn("_rn", rn)
                     .filter(F.col("_rn") == 1).drop("_rn"))
        side = _active_side(path)
        if side is None:
            new_snap = batch
        else:
            current = batch.sparkSession.read.parquet(
                os.path.join(path, side))
            new_snap = merge_into(Frame(current), Frame(batch),
                                  on=keys).sdf
        nxt = "b" if side == "a" else "a"
        new_snap.write.mode("overwrite").parquet(os.path.join(path, nxt))
        _commit_flip(path, nxt)

    return _start(stream, apply_batch, checkpoint, "update")


def stream_dedup_incremental(stream: SparkDF, path: str, text_col: str,
                             id_col: str, threshold: float = 0.8,
                             n_hashes: int = 32, bands: int = 8,
                             checkpoint: str | None = None):
    """Streaming corpus dedup, an accreting sink (module docstring):
    every micro-batch of documents runs
    :func:`~crysda_spark.pipeline.dedup.dedup_incremental` against the
    accreted fingerprint+signature index and commits TWO tables under
    ``path`` —

    - ``index/``: the dedup state (grows only by genuinely novel
      content; ~300 B per distinct doc, never any text), and
    - ``assignments/``: per-row ``(id, survivor_id, reason,
      batch_id)`` under ``batch_id=N`` — the log a downstream
      training-data job filters on (``reason = 'unique'`` keeps
      survivors).

    This is the production shape for web-crawl ingestion: the corpus
    is never re-deduped; each arriving crawl segment pays one pass
    over ITS OWN text plus equi-joins against digests/signatures."""
    from ..pipeline.dedup import build_dedup_index, dedup_incremental
    idx_dir = os.path.join(path, "index")
    asg_dir = os.path.join(path, "assignments")
    os.makedirs(idx_dir, exist_ok=True)
    os.makedirs(asg_dir, exist_ok=True)

    def fold(batch, batch_id, read_dir, write_dir):
        if read_dir is None:
            current = build_dedup_index(
                Frame(batch.limit(0)), text_col, id_col, n_hashes)
        else:
            current = batch.sparkSession.read.parquet(read_dir)
        assigns, delta = dedup_incremental(
            Frame(batch), current, text_col, id_col,
            threshold=threshold, n_hashes=n_hashes, bands=bands)
        _write_batch(assigns.sdf.withColumn("batch_id", F.lit(batch_id)),
                     asg_dir, batch_id)
        if write_dir:
            current.unionByName(delta).write.mode("overwrite") \
                .parquet(write_dir)

    def apply_batch(batch: SparkDF, batch_id: int) -> None:
        _accrete(batch, batch_id, idx_dir, (id_col, text_col), fold)

    return _start(stream, apply_batch, checkpoint)


def stream_decontaminate(stream: SparkDF, index_path: str, out_path: str,
                         text_col: str, id_col: str, min_len: int = 50,
                         checkpoint: str | None = None):
    """Streaming exact-substring decontamination, a static-index sink
    (module docstring): every micro-batch of training documents is cut
    against a benchmark index (built once with
    :func:`~crysda_spark.pipeline.dupspan.build_decontam_index` and
    written to ``index_path`` as parquet), and the cleaned rows land
    under ``out_path`` partitioned by batch id — the production shape
    for crawl ingestion where the benchmark suite changes rarely and
    train shards arrive forever.

    Each batch pays one window-hash map pass over ITS OWN text plus
    candidate-sized verify joins; the benchmark corpus is never
    re-read: the index is loaded, ``min_len``-validated, and pinned
    ONCE here (raising before the stream even starts on a mismatch)
    and every micro-batch probes the same persisted copy. Call
    ``release_pinned()`` after stopping the stream to drop the index
    pin (a mid-stream release merely forces an index re-read — never
    wrong results). ``out_path`` may be any Spark-writable URI
    (``s3a://``, ``hdfs://``, local). Output schema: ``(id, text,
    chars_removed)`` — rows whose text lost nothing pass through with
    ``chars_removed = 0``."""
    from ..pipeline.dupspan import decontaminate_spans_with_index, \
        _splice_cut, validate_decontam_index
    idx = Frame(pin(stream.sparkSession.read.parquet(index_path)))
    validate_decontam_index(idx, min_len)

    def compute(batch, batch_id):
        spans = decontaminate_spans_with_index(
            Frame(batch), idx, text_col, id_col, min_len,
            probe=False).sdf
        # the splice kernel emits chars_removed itself — no extra
        # join or third scan of the streaming source per batch
        return _splice_cut(batch, spans, text_col, id_col,
                           with_removed=True)

    return _start(stream, _per_batch(compute, out_path), checkpoint)


def stream_dupspan_dedup(stream: SparkDF, path: str, text_col: str,
                         id_col: str, min_len: int = 50,
                         min_dup: int = 2,
                         checkpoint: str | None = None,
                         fingerprint_only: bool = False):
    """Streaming WITHIN-CORPUS exact substring dedup, an accreting sink
    (module docstring; the twin of :func:`stream_decontaminate`, whose
    index is static): every micro-batch of documents is cut against
    the window-gram count state of everything seen so far
    (:func:`~crysda_spark.pipeline.dupspan.dupspan_increment` — a
    batch position is duplicated iff its ``min_len``-window occurs ≥
    ``min_dup`` times across state + batch; the first ``min_dup − 1``
    occurrences ship clean and stay clean, the keep-first discipline
    at batch granularity), committing TWO tables under ``path``:

    - ``index/``: the ``(_h, _g, cnt)`` count state — one row per
      distinct window ever seen (~16 B + ``min_len`` chars each; the
      honest suffix-array-equivalent state), merged batch-atomically;
    - ``cleaned/``: ``(id, text, chars_removed)`` per batch under
      ``batch_id=N`` — rows that lost nothing pass through with 0.

    Old text is NEVER re-read: each batch pays one Arrow window pass
    over ITS OWN text, one batch-sized count aggregate, and a state
    probe that scans-and-filters (never shuffles) the index. The
    replay guard matters most here: re-merging a delta into count
    state would silently double-count every window of the batch.

    ``fingerprint_only=True`` (r15): the state is ``(_h, cnt)`` — ~3×
    smaller at the default L=50 (16 B/window vs 16 B + the gram), the
    100 TB mode; see
    :func:`~crysda_spark.pipeline.dupspan.build_dupspan_index` for the
    quantified cross-batch collision bound. The state dir records
    ``min_len`` and the mode in a ``MINLEN`` sidecar at bootstrap and
    REFUSES a restart with different values — the silent-clean
    mismatch the gram state's probe used to catch, now caught in both
    modes and paid once per stream start instead of per batch."""
    idx_dir = os.path.join(path, "index")
    cln_dir = os.path.join(path, "cleaned")
    os.makedirs(idx_dir, exist_ok=True)
    os.makedirs(cln_dir, exist_ok=True)
    _check_minlen_sidecar(idx_dir, min_len, fingerprint_only)

    def apply_batch(batch: SparkDF, batch_id: int) -> None:
        _dupspan_apply_batch(batch, batch_id, idx_dir, cln_dir,
                             text_col, id_col, min_len, min_dup,
                             fingerprint_only)

    return _start(stream, apply_batch, checkpoint)


def _check_minlen_sidecar(idx_dir: str, min_len: int,
                          fingerprint_only: bool) -> None:
    """Record (min_len, state mode) in the state dir at bootstrap and
    refuse a restart with different values — a mismatch would silently
    mark every batch clean (wrong window length) or break the merge
    (mixed state modes). One tiny file read per stream START."""
    mode = "fp" if fingerprint_only else "gram"
    sidecar = os.path.join(idx_dir, "MINLEN")
    try:
        with open(sidecar) as fh:
            want_len, want_mode = fh.read().strip().split("@")
    except OSError:
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(f"{min_len}@{mode}")
        os.replace(tmp, sidecar)
        return
    if int(want_len) != min_len or want_mode != mode:
        raise ValueError(
            f"stream_dupspan_dedup: state at {idx_dir} was built with "
            f"min_len={want_len} mode={want_mode}, but this start "
            f"requested min_len={min_len} mode={mode} — a mismatch "
            "would silently mark every batch clean; restart with the "
            "recorded values or point at a fresh state dir")


def _dupspan_apply_batch(batch: SparkDF, batch_id: int, idx_dir: str,
                         cln_dir: str, text_col: str, id_col: str,
                         min_len: int, min_dup: int,
                         fingerprint_only: bool = False) -> None:
    """One micro-batch of :func:`stream_dupspan_dedup`, split out so
    the replay guard is directly testable: invoking this twice with
    one id and one batch must be byte-idempotent on BOTH tables."""
    from ..pipeline.dupspan import (build_dupspan_index,
                                    dupspan_cut_increment,
                                    merge_dupspan_index)

    def fold(batch, batch_id, read_dir, write_dir):
        if read_dir is None:
            current = build_dupspan_index(
                Frame(batch.limit(0)), text_col, id_col, min_len,
                fingerprint_only=fingerprint_only).sdf
        else:
            current = batch.sparkSession.read.parquet(read_dir)
        # the sink owns min_len for the state's whole lifetime, so the
        # per-call index probe is redundant here (probe=False — the
        # validate-once discipline of the decontam sink)
        cleaned, delta = dupspan_cut_increment(
            Frame(batch), Frame(current), text_col, id_col,
            min_len=min_len, min_dup=min_dup, probe=False)
        _write_batch(cleaned.sdf, cln_dir, batch_id)
        if write_dir:
            merge_dupspan_index(Frame(current), delta).sdf \
                .write.mode("overwrite").parquet(write_dir)

    _accrete(batch, batch_id, idx_dir, (id_col, text_col), fold)


def stream_match_audio(stream: SparkDF, index_path: str, out_path: str,
                       id_col: str = "id", payload_col: str = "payload",
                       min_votes: int = 5,
                       checkpoint: str | None = None):
    """Streaming audio identification, a static-index sink (module
    docstring): every micro-batch of WAV payloads is landmarked
    (:mod:`~crysda_spark.pipeline.audiofp`, Wang 2003 constellation)
    and matched against a landmark index (built once with
    ``fingerprint_audio(...)`` over the catalog and written to
    ``index_path`` as parquet ``(id, fp, t)``), with verdicts landing
    under ``out_path`` partitioned by batch id — the production shape
    for live media ingestion (copyright scan / catalog dedup) where
    the catalog changes rarely and clips arrive forever.

    Each batch pays one Arrow landmark pass over ITS OWN audio plus a
    hash equi-join against the pinned index — catalog audio is never
    re-read or re-landmarked (the index is loaded and pinned ONCE at
    stream construction; call ``release_pinned()`` after stopping the
    stream). ``out_path`` may be any Spark-writable URI. Output
    schema: ``(query_id, match_id, offset, votes, batch_id)`` —
    unmatched clips (no bin ≥ ``min_votes``) emit no row."""
    from ..pipeline.audiofp import fingerprint_audio, match_audio
    idx = Frame(pin(stream.sparkSession.read.parquet(index_path)))
    cols = set(idx.sdf.columns)
    if not {"id", "fp", "t"} <= cols:
        raise ValueError(
            f"stream_match_audio: index at {index_path!r} must carry "
            f"(id, fp, t) landmark columns, found {sorted(cols)} — "
            "build it with fingerprint_audio() over the catalog")

    def compute(batch, batch_id):
        qs = fingerprint_audio(Frame(batch), id_col, payload_col)
        return match_audio(qs, idx, min_votes=min_votes).sdf \
            .withColumn("batch_id", F.lit(batch_id))

    return _start(stream, _per_batch(compute, out_path), checkpoint)


def stream_image_dedup(stream: SparkDF, path: str, id_col: str = "id",
                       payload_col: str = "payload",
                       max_hamming: int = 3, n_bands: int = 4,
                       checkpoint: str | None = None):
    """Streaming image near-dedup, an accreting sink (module
    docstring): every micro-batch of image payloads is pHash-ed
    (:mod:`~crysda_spark.pipeline.phash`, real codecs) and checked
    against the ACCRETED hash index within Hamming radius
    ``max_hamming`` (banded equi-join — pigeonhole-exact recall, never
    all-pairs), committing TWO tables under ``path``:

    - ``index/``: one 28-byte row per NOVEL image seen so far (hash +
      geometry; pixels never stored), and
    - ``assignments/``: ``(id, survivor_id, hamming, batch_id)`` under
      ``batch_id=N`` — ``survivor_id = id`` with hamming 0 marks a
      novel image; otherwise the earliest indexed near-duplicate
      (smallest hamming, id tie-break).

    Within-batch duplicates of a novel image resolve NEXT batch (the
    index accretes batch-atomically — same contract as the text twin).
    Each batch pays one Arrow decode+hash pass over ITS OWN payloads
    plus band equi-joins against the hash index; catalog pixels are
    never re-read.
    """
    from pyspark.sql.window import Window as W

    from ..pipeline.phash import _validate_bands, hamming_bands, hash_images
    _validate_bands(n_bands, max_hamming, "stream_image_dedup")
    idx_dir = os.path.join(path, "index")
    asg_dir = os.path.join(path, "assignments")
    os.makedirs(idx_dir, exist_ok=True)
    os.makedirs(asg_dir, exist_ok=True)

    def bands(col):
        return hamming_bands(col, n_bands)

    def fold(batch, batch_id, read_dir, write_dir):
        # hashes feeds the match join AND the index delta
        hashes = pin(hash_images(Frame(batch), id_col, payload_col).sdf)
        current = (hashes.limit(0) if read_dir is None
                   else batch.sparkSession.read.parquet(read_dir))
        b = hashes.select(
            F.col("id"), F.col("phash"),
            F.posexplode(bands(F.col("phash"))).alias("_b", "_v"))
        ixb = current.select(
            F.col("id").alias("_sid"), F.col("phash").alias("_sh"),
            F.posexplode(bands(F.col("phash"))).alias("_b", "_v"))
        cand = (b.join(ixb, on=["_b", "_v"])
                .dropDuplicates(["id", "_sid"])
                .withColumn("hamming", F.bit_count(
                    F.col("phash").bitwiseXOR(F.col("_sh"))))
                .filter(F.col("hamming") <= max_hamming))
        rk = F.row_number().over(
            W.partitionBy("id").orderBy(F.col("hamming"), F.col("_sid")))
        best = (cand.withColumn("_rk", rk).filter(F.col("_rk") == 1)
                .select("id", F.col("_sid").alias("survivor_id"),
                        "hamming"))
        assigns = (hashes.join(best, on="id", how="left")
                   .select("id",
                           F.coalesce("survivor_id", "id")
                           .alias("survivor_id"),
                           F.coalesce("hamming", F.lit(0))
                           .alias("hamming"))
                   .withColumn("batch_id", F.lit(batch_id)))
        _write_batch(assigns, asg_dir, batch_id)
        if write_dir:
            novel = hashes.join(best.select("id"), on="id",
                                how="left_anti")
            current.unionByName(novel).write.mode("overwrite") \
                .parquet(write_dir)

    def apply_batch(batch: SparkDF, batch_id: int) -> None:
        _accrete(batch, batch_id, idx_dir, (id_col, payload_col), fold)

    return _start(stream, apply_batch, checkpoint)


def stream_bm25_index(stream: SparkDF, path: str, text_col: str = "text",
                      id_col: str = "doc_id",
                      checkpoint: str | None = None):
    """Maintain a queryable BM25 index over a document stream, an
    accreting sink (module docstring; the twin of the one-shot
    :func:`~crysda_spark.pipeline.text.build_bm25_index`): every
    micro-batch is indexed in isolation (one batch-text scan) and
    folded into the committed ``index/{a,b}/{postings,stats}`` state
    with :func:`~crysda_spark.pipeline.text.merge_bm25_index` — old
    corpus text is NEVER re-read, and :func:`read_bm25_snapshot` hands
    any concurrent reader the last committed ``(postings, stats)``
    pair for :func:`~crysda_spark.pipeline.text.bm25_search_indexed`.
    The sink has no per-batch output, so a replay is a no-op.

    Scale shape per batch: one Arrow-free JVM scan of the batch text,
    a batch-sized (doc, term) aggregate, a map-side df adjustment of
    the existing postings against the delta's vocabulary (broadcast;
    the old postings never shuffle — see ``merge_bm25_index``), and a
    term-clustered rewrite to the flip side (the
    ``write_bm25_index`` row-group-pruning layout). Scores served from
    any snapshot are bit-identical to an inline
    :func:`~crysda_spark.pipeline.text.bm25_search` over everything
    ingested so far (pytest-pinned, multi-batch). Document ids must be
    unique across batches (re-ingesting an id double-counts it,
    exactly as re-adding a document to any index would)."""
    from ..pipeline.text import build_bm25_index, merge_bm25_index
    idx_dir = os.path.join(path, "index")
    os.makedirs(idx_dir, exist_ok=True)

    def fold(batch, batch_id, read_dir, write_dir):
        if write_dir is None:
            return  # replay: the index already holds this batch
        new_p, new_s = build_bm25_index(Frame(batch), text_col, id_col)
        if read_dir is not None:
            new_p, new_s = merge_bm25_index(
                *_read_tables(batch.sparkSession, read_dir,
                              "postings", "stats"), new_p, new_s)
        (new_p.sdf.repartition(F.col("term"))
         .sortWithinPartitions("term")
         .write.mode("overwrite").parquet(
             os.path.join(write_dir, "postings")))
        new_s.sdf.write.mode("overwrite").parquet(
            os.path.join(write_dir, "stats"))

    def apply_batch(batch: SparkDF, batch_id: int) -> None:
        _accrete(batch, batch_id, idx_dir, (id_col, text_col), fold)

    return _start(stream, apply_batch, checkpoint)


def read_bm25_snapshot(spark, path: str):
    """Last committed ``(postings, stats)`` pair of a
    :func:`stream_bm25_index` state dir, or ``(None, None)`` before
    the first batch — feed straight into
    :func:`~crysda_spark.pipeline.text.bm25_search_indexed`."""
    idx_dir = os.path.join(path, "index")
    side = _active_side(idx_dir)
    if side is None:
        return None, None
    return _read_tables(spark, os.path.join(idx_dir, side),
                        "postings", "stats")


def stream_ngram_model(stream: SparkDF, path: str, text_col: str = "text",
                       id_col: str = "doc_id", order: int = 2,
                       checkpoint: str | None = None):
    """Maintain a queryable n-gram LM over a document stream, an
    accreting sink (module docstring; the twin of the one-shot
    :func:`~crysda_spark.pipeline.text.build_ngram_model`, the same
    shape :func:`stream_bm25_index` gives the BM25 index): every
    micro-batch is counted in isolation (one batch-text scan) and
    folded into the committed ``model/{a,b}/{grams,vocab,stats}``
    state with :func:`~crysda_spark.pipeline.text.merge_ngram_model` —
    old corpus text is NEVER re-read, and
    :func:`read_ngram_model_snapshot` hands any concurrent reader the
    last committed triple for
    :func:`~crysda_spark.pipeline.text.score_with_ngram_model`. The
    sink has no per-batch output, so a replay is a no-op.

    Scale shape per batch: one JVM scan of the batch text, two
    batch-vocabulary-sized count aggregates, two vocabulary-sized
    key-sum merges against the committed state (no per-row rewrite of
    old model rows — every LM statistic is an associative count,
    unlike BM25's denormalized df), and a gram-clustered rewrite to
    the flip side. Scores served from any snapshot are bit-identical
    to an inline :func:`~crysda_spark.pipeline.text.ngram_logprob`
    over everything ingested so far (pytest-pinned, multi-batch). The
    committed state's ORDER is enforced against ``order`` on every
    batch — feeding an order-3 stream into an order-2 state dir raises
    instead of silently mixing event spaces."""
    from ..pipeline.text import build_ngram_model, merge_ngram_model
    idx_dir = os.path.join(path, "model")
    os.makedirs(idx_dir, exist_ok=True)

    def fold(batch, batch_id, read_dir, write_dir):
        if write_dir is None:
            return  # replay: the model already holds this batch
        new_g, new_v, new_s = build_ngram_model(Frame(batch), text_col,
                                                order=order)
        if read_dir is not None:
            new_g, new_v, new_s = merge_ngram_model(
                *_read_tables(batch.sparkSession, read_dir,
                              "grams", "vocab", "stats"),
                new_g, new_v, new_s)
        (new_g.sdf.repartition(F.col("gram"))
         .sortWithinPartitions("gram")
         .write.mode("overwrite").parquet(os.path.join(write_dir, "grams")))
        (new_v.sdf.repartition(F.col("token"))
         .sortWithinPartitions("token")
         .write.mode("overwrite").parquet(os.path.join(write_dir, "vocab")))
        new_s.sdf.write.mode("overwrite").parquet(
            os.path.join(write_dir, "stats"))

    def apply_batch(batch: SparkDF, batch_id: int) -> None:
        _accrete(batch, batch_id, idx_dir, (id_col, text_col), fold)

    return _start(stream, apply_batch, checkpoint)


def read_ngram_model_snapshot(spark, path: str):
    """Last committed ``(grams, vocab, stats)`` triple of a
    :func:`stream_ngram_model` state dir, or ``(None, None, None)``
    before the first batch — feed straight into
    :func:`~crysda_spark.pipeline.text.score_with_ngram_model`."""
    idx_dir = os.path.join(path, "model")
    side = _active_side(idx_dir)
    if side is None:
        return None, None, None
    return _read_tables(spark, os.path.join(idx_dir, side),
                        "grams", "vocab", "stats")
