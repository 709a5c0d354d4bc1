"""Entity resolution (record linkage) for large-scale pipelines.

Links records that denote the same real-world entity under noisy
string keys (names, titles, addresses): normalize → block → score
candidates → transitive clustering. Classic pipeline shape after
Fellegi-Sunter; the blocking scheme is deletion-neighborhood indexing
(the SymSpell idea from the spell-correction literature): every record
emits its normalized key plus all single-character deletions of it,
and records sharing ANY such key become candidates. Two strings within
Levenshtein distance 1 ALWAYS share a deletion key (substitution:
delete the substituted position from both; insertion: delete the
inserted char), so radius-1 recall is guaranteed without any
all-pairs pass — larger radii chain transitively through connected
components (a→b→c links a to c even though a↔c is distance 2).

Scale shape (100 TB):
- blocking is an equi-join on short string keys — O(L) key rows per
  record (L = name length), never O(n²); hot keys are bounded by how
  many records genuinely collide within edit distance ~2;
- Levenshtein runs ONLY on blocked candidates, inside codegen
  (pyspark.sql.functions.levenshtein — no Python);
- clustering reuses :func:`~crysda_spark.pipeline.dedup.
  connected_components` (driver union-find for small pair graphs,
  plain distributed rounds otherwise).

No reference parity: the reference engine (src/crysda/*.cr) has no
record-linkage surface; this is beyond-reference pipeline tooling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..frame import Frame
from .dedup import connected_components

__all__ = ["normalize_entity", "deletion_keys", "er_candidates",
           "er_scored_pairs", "resolve_entities"]


def normalize_entity(c: Column) -> Column:
    """Case-fold and collapse non-alphanumerics to single spaces —
    the canonical form all blocking and scoring runs on."""
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def deletion_keys(nm: Column) -> Column:
    """array<string>: the normalized key plus its full single-deletion
    neighborhood. ``nm`` must be a PROJECTED attribute, not an
    expression tree — higher-order lambdas re-evaluate free
    subexpressions per element (the shingle lesson, dedup.py).

    The ``greatest(length, 1)`` floor keeps ``sequence`` ascending for
    empty keys (Spark's sequence(1, 0) would count DOWN), so an empty
    name yields the single key '' and empty-named records still block
    together."""
    dels = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(nm), F.lit(1))),
        lambda i: F.concat(F.substring(nm, F.lit(1), i - 1),
                           F.substring(nm, i + 1, F.length(nm))))
    return F.array_union(F.array(nm), dels)


def er_candidates(f: Frame, id_col: str, name_col: str) -> DataFrame:
    """(id_a, id_b, _nm_a, _nm_b) candidate pairs: records sharing any
    deletion-neighborhood key, each unordered pair once (id_a < id_b).
    The names ride along (they are short) so scoring needs no join
    back to the corpus."""
    norm = f.sdf.select(F.col(id_col).alias("_id"),
                        normalize_entity(F.col(name_col)).alias("_nm"))
    keys = norm.select("_id", "_nm",
                       F.explode(deletion_keys(F.col("_nm"))).alias("_k"))
    left = keys.select(F.col("_id").alias("id_a"),
                       F.col("_nm").alias("_nm_a"), "_k")
    right = keys.select(F.col("_id").alias("id_b"),
                        F.col("_nm").alias("_nm_b"), "_k")
    return (left.join(right, on="_k")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_nm_a", "_nm_b")
            .dropDuplicates(["id_a", "id_b"]))


def _similarity(a: Column, b: Column) -> Column:
    """1 − lev/max(len): plain IEEE arithmetic on codegen'd inputs —
    bit-identical across engines, so oracle thresholds cannot
    tie-break differently."""
    return F.lit(1.0) - (F.levenshtein(a, b).cast("double")
                         / F.greatest(F.length(a), F.length(b), F.lit(1)))


def er_scored_pairs(f: Frame, id_col: str, name_col: str,
                    threshold: float = 0.9) -> DataFrame:
    """(id_a, id_b, sim) — candidates scoring at or above ``threshold``
    normalized Levenshtein similarity. Levenshtein evaluates only on
    blocked candidates (the deletion-key equi-join), never all pairs."""
    cand = er_candidates(f, id_col, name_col)
    return (cand.withColumn("sim", _similarity(F.col("_nm_a"), F.col("_nm_b")))
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim"))


def resolve_entities(f: Frame, id_col: str, name_col: str,
                     threshold: float = 0.9) -> Frame:
    """(id, entity_id, is_canonical) for EVERY input row: entity_id is
    the min id reachable through the above-threshold match graph
    (transitive — a chain of radius-1 matches merges into one entity
    even where its endpoints exceed the radius), the row's own id for
    unmatched singletons. Filter ``is_canonical`` for one
    representative per entity."""
    pairs = er_scored_pairs(f, id_col, name_col, threshold) \
        .select("id_a", "id_b")
    comps = connected_components(pairs)
    out = (f.sdf.select(F.col(id_col))
           .join(comps.withColumnRenamed("id", id_col), on=id_col, how="left")
           .select(F.col(id_col),
                   F.coalesce("comp", F.col(id_col)).alias("entity_id"),
                   (F.coalesce("comp", F.col(id_col)) == F.col(id_col))
                   .alias("is_canonical")))
    return Frame(out)
