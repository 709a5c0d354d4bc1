"""Distributed graph metrics for corpus/provenance analysis.

Web-scale training pipelines rank crawl domains by link authority
(PageRank over the host graph is a standard quality prior — cf. the
Common Crawl host-level ranks). The reference engine has no graph
support; this module follows the same iterative-relational pattern as
``dedup.connected_components``:

- each power iteration is two shuffles (ranks⋈edges on src, then a
  groupBy(dst) contribution sum), both expressed declaratively so AQE
  handles skewed hubs;
- ``localCheckpoint`` every round truncates the lineage: each round
  reads ``ranks`` twice (dangling mass + contributions), so
  un-checkpointed lineage DOUBLES per iteration — O(2^rounds) replans,
  not just long ones;
- dangling-node mass (nodes with no out-edges) is redistributed
  uniformly each round, keeping Σrank = 1 exactly (Page et al. 1999,
  "The PageRank citation ranking", §2.7 dangling handling).

A FIXED iteration count with ``tol=0`` is deterministic relational
algebra, so small iteration counts have an exact unrolled-CTE SQL
oracle — rare for an iterative operator (see __spark_entry__
``pagerank_cust_supplier``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..frame import Frame

__all__ = ["pagerank", "out_degrees", "triangle_stats"]

_RESERVED = {"_src", "_dst", "_deg", "_rank", "_contrib"}


def out_degrees(edges: Frame, src: str = "src") -> Frame:
    """(node, out-degree) over the distinct edge list."""
    return Frame(edges.sdf.groupBy(F.col(src).alias("node"))
                 .agg(F.count(F.lit(1)).alias("out_deg")))


def pagerank(edges: Frame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, max_iter: int = 10,
             tol: float = 0.0) -> Frame:
    """PageRank over a directed edge list (duplicate edges count once —
    the edge list is distinct-ed on entry, matching the host-graph
    convention). Returns (node, rank); Σrank = 1 up to float error.

    ``tol > 0`` stops early when the L1 delta between iterations drops
    below it (one extra bounded driver action per round); ``tol=0``
    runs exactly ``max_iter`` rounds — the deterministic mode the SQL
    oracle pins.
    """
    for c in (src, dst):
        if c in _RESERVED:
            raise ValueError(f"pagerank: column {c!r} collides with internal "
                             f"working columns {sorted(_RESERVED)}")
    # materialize the (possibly expensive) edge derivation ONCE — every
    # round joins against it twice, and GraphX-style iteration always
    # pins the edge table rather than replaying its lineage per round
    e = (edges.sdf.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
         .distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("_src").alias("node"))
             .union(e.select(F.col("_dst").alias("node")))
             .distinct())
    deg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    # out-degree is a per-node attribute co-keyed with ranks: attach it
    # ONCE so the per-iteration join carries (node, rank, deg) — the
    # dangling marker is deg IS NULL. Fused setup (r16, guide §1.2):
    # the node derivation feeds only this join, so build base in the
    # SAME checkpoint job instead of materializing nodes separately,
    # and take n from the checkpointed base (a cheap count over the
    # already-materialized RDD) — one driver barrier and one
    # materialization fewer, identical rows everywhere.
    base = nodes.join(deg, nodes["node"] == deg["_src"], "left").select(
        "node", "_deg").localCheckpoint(eager=True)
    n = base.count()
    if n == 0:
        return Frame(base.select("node").withColumn("rank", F.lit(0.0)))
    ranks = base.withColumn("_rank", F.lit(1.0 / n))

    for _ in range(max_iter):
        # dangling mass as a 1-row broadcast — no driver collect per
        # round unless tol > 0. An r16 restructure folding this
        # aggregate and the contribution sums into ONE keyed
        # aggregate (sentinel dangling key) measured
        # SLOWER in a same-window interleaved A/B (OPTIMIZATION_r16.md:
        # med 3.12 vs 2.87 s, stage count unchanged at 62) — the
        # dangling sum then waits behind the wide exchange instead of
        # running in parallel with it. Kept as-is.
        dang = (ranks.filter(F.col("_deg").isNull())
                .agg(F.coalesce(F.sum("_rank"), F.lit(0.0)).alias("_dang")))
        contrib = (ranks.join(e, ranks["node"] == e["_src"])
                   .select(F.col("_dst").alias("node"),
                           (F.col("_rank") / F.col("_deg")).alias("_contrib"))
                   .groupBy("node").agg(F.sum("_contrib").alias("_in")))
        nxt = (base.join(contrib, on="node", how="left")
               .crossJoin(F.broadcast(dang))
               .select("node", "_deg",
                       (F.lit((1.0 - damping) / n)
                        + F.lit(damping) * F.col("_dang") / n
                        + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                        ).alias("_rank"))
               .localCheckpoint(eager=True))
        if tol > 0.0:
            delta = (nxt.select("node", "_rank")
                     .join(ranks.select("node", F.col("_rank").alias("_prev")),
                           on="node")
                     .agg(F.sum(F.abs(F.col("_rank") - F.col("_prev"))))
                     .collect()[0][0])
            ranks = nxt
            if delta < tol:
                break
        else:
            ranks = nxt

    return Frame(ranks.select("node", F.col("_rank").alias("rank")))


def triangle_stats(edges: Frame, id_a: str = "id_a",
                   id_b: str = "id_b") -> Frame:
    """Global triangle census over an UNDIRECTED edge list: one row
    (n_triangles, n_wedges, global_clustering) where
    global_clustering = 3·triangles / wedges (the transitivity ratio).

    Scale shape — degree-ordered orientation (the MapReduce-era
    triangle-listing standard, Suri & Vassilvitskii 2011 "Counting
    triangles and the curse of the last reducer"): each undirected
    edge orients from its lower-(degree, id) endpoint to the higher
    one, so every triangle is generated by exactly ONE wedge join and
    per-vertex fan-out is bounded by O(√m) regardless of raw degree —
    a celebrity hub never explodes the wedge stage. Three shuffles
    total (degree count, wedge self-join, closing-edge semi-join);
    self-loops and duplicate/reversed edges are normalized away first.

    Deterministic relational algebra end-to-end → exact SQL oracle
    (__spark_entry__ ``triangle_census``)."""
    from ..plans.cache import pin

    sdf = edges.sdf
    a, b = F.col(id_a), F.col(id_b)
    # canonical undirected edges: (lo, hi), self-loops dropped — PINNED:
    # the plan reads this table four times (degrees ×2, orientation,
    # closing edges); unpinned, each reference re-runs the distinct
    # over the raw edges (17 scans at plan review, one at 100 TB is
    # already too many). Caller releases via plans.cache.release_pinned.
    und = pin(sdf.filter(a != b)
              .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
              .dropDuplicates())
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # orient by (degree, id): strict total order → acyclic orientation
    du = deg.withColumnsRenamed({"node": "u", "deg": "du"})
    dv = deg.withColumnsRenamed({"node": "v", "deg": "dv"})
    oriented = pin(und.join(du, on="u").join(dv, on="v")
                   .select(
                    F.when((F.col("du") < F.col("dv"))
                           | ((F.col("du") == F.col("dv"))
                              & (F.col("u") < F.col("v"))),
                           F.col("u")).otherwise(F.col("v")).alias("src"),
                    F.when((F.col("du") < F.col("dv"))
                           | ((F.col("du") == F.col("dv"))
                              & (F.col("u") < F.col("v"))),
                           F.col("v")).otherwise(F.col("u")).alias("dst")))
    # wedges at the LOW end: (b, c) pairs sharing an oriented source;
    # dedup (b, c) per a via b < c on the oriented-dst ids
    w1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    w2 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = w1.join(w2, on="a").filter(F.col("b") < F.col("c"))
    closing = oriented.select(
        F.least("src", "dst").alias("b"), F.greatest("src", "dst").alias("c"))
    tri = wedges.join(closing, on=["b", "c"], how="left_semi")
    # transitivity denominator: wedges in the UNDIRECTED graph,
    # Σ deg·(deg−1)/2 — not the oriented wedge count
    n_wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
        .alias("n_wedges"))
    out = (tri.agg(F.count(F.lit(1)).alias("n_triangles"))
           .crossJoin(n_wedges)
           .select("n_triangles", "n_wedges",
                   F.when(F.col("n_wedges") > 0,
                          F.round(3.0 * F.col("n_triangles")
                                  / F.col("n_wedges"), 6))
                   .otherwise(F.lit(0.0)).alias("global_clustering")))
    return Frame(out)
