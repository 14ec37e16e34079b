"""Graph queries over the constructed knowledge graph.

The engine's sinks materialize the KG as partitioned edge/vertex
tables (`sources/sinks.py:write_graph_table`); these operators are the
query side a KG consumer runs next: neighborhood expansion (k_hop) and
global importance (pagerank).  The reference emits its graph as flat
triple files and leaves querying to downstream tools (see
/root/reference's output writers, e.g. to_one_file_each); re-homing the
queries on Spark is what a distributed engine adds.

Scale shapes:
- ``k_hop`` is frontier BFS: per hop, one equi-join frontier->edges
  (the frontier is usually tiny vs the edge table — AQE broadcasts
  it), one distinct, one anti-join against the visited set.  The
  visited/frontier frames are truncate()d every hop (iterative-loop
  barrier policy — each hop's plan embeds the previous one otherwise).
- ``triangle_counts`` enumerates each triangle once via the
  degree-ordered orientation (Suri & Vassilvitskii 2011's MR trick):
  edges point from the (degree, id)-smaller endpoint to the larger,
  so every wedge is generated at its lowest-degree apex and the
  out-degree of any vertex is O(sqrt(m)) — the high-degree-hub wedge
  explosion that kills the naive id-ordered join on power-law graphs
  never materializes.  Two equi-joins total, both on vertex keys.
- ``pagerank`` is the classic power iteration as join+groupBy: ranks
  live as an (v, pr) frame repartitioned once on v; each iteration
  joins edge contributions and sums per dst — two data-scale
  exchanges per iteration, which is the textbook distributed PageRank
  shuffle bound.  Ranks are truncate()d per iteration.  Dangling
  vertices (out-degree 0) contribute their mass uniformly — handled
  with a 1-row broadcast aggregate, never a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import materialize, truncate


def k_hop(edges: DataFrame, seeds: DataFrame, k: int,
          src_col: str = "src", dst_col: str = "dst",
          seed_col: str = "v") -> DataFrame:
    """Min-hop BFS from ``seeds``: returns (v, hop) for every vertex
    reachable within ``k`` directed hops, hop = shortest distance from
    ANY seed (seeds themselves at hop 0).  Frontier-only expansion —
    each hop joins the PREVIOUS frontier, not the visited set, so a
    vertex is expanded exactly once."""
    e = materialize(edges.select(F.col(src_col).alias("_s"),
                                 F.col(dst_col).alias("_d")).distinct())
    frontier = truncate(
        seeds.select(F.col(seed_col).alias("v")).distinct()
        .withColumn("hop", F.lit(0)))
    visited = frontier
    for i in range(1, k + 1):
        nxt = (e.join(frontier.select(F.col("v").alias("_s")), "_s")
               .select(F.col("_d").alias("v")).distinct()
               .join(visited.select("v"), "v", "left_anti")
               .withColumn("hop", F.lit(i)))
        frontier = truncate(nxt)
        if frontier.isEmpty():
            break
        visited = truncate(visited.unionByName(frontier))
    return visited


def triangle_counts(edges: DataFrame, src_col: str = "src",
                    dst_col: str = "dst") -> DataFrame:
    """Per-vertex triangle participation counts over the undirected
    simple graph induced by ``edges`` (direction and duplicates
    collapse, self-loops drop).  Returns (v, n_tri) for every vertex
    in at least one triangle.

    Each triangle is enumerated exactly once: canonical undirected
    edges re-orient from the (degree, id)-smaller endpoint to the
    larger, wedges form at the smallest apex (out-neighbors pairwise,
    kept in orientation order), and a final equi-join against the
    oriented edge set closes them.  The triangle SET is invariant to
    the orientation, so the DuckDB oracle may use the naive id
    ordering — only the join sizes differ.
    """
    und = materialize(
        edges.select(F.least(src_col, dst_col).alias("a"),
                     F.greatest(src_col, dst_col).alias("b"))
        .filter(F.col("a") != F.col("b")).distinct())
    deg = (und.select(F.col("a").alias("v"))
           .unionByName(und.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("deg")))
    ranked = (und.join(deg.withColumnRenamed("v", "a")
                       .withColumnRenamed("deg", "deg_a"), "a")
              .join(deg.withColumnRenamed("v", "b")
                    .withColumnRenamed("deg", "deg_b"), "b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    oriented = materialize(ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a"))
        .alias("deg_w")))
    o1 = oriented.select(F.col("u"), F.col("w").alias("v1"),
                         F.col("deg_w").alias("d1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("v2"),
                         F.col("deg_w").alias("d2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2"))))
    tri = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("w").alias("v2")),
        ["v1", "v2"])
    return (tri.select(F.explode(F.array("u", "v1", "v2")).alias("v"))
            .groupBy("v").agg(F.count("*").alias("n_tri")))


def label_propagation(edges: DataFrame, iters: int = 4,
                      src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the undirected simple graph: every vertex starts
    as its own label; each iteration every vertex adopts the most
    frequent label among its neighbors, ties broken by MIN label —
    the deterministic variant (the async random-order original is
    irreproducible across partitionings, which would break both the
    oracle and resume).  Fixed ``iters`` iterations; isolated vertices
    cannot occur (every vertex has an edge by construction of the
    symmetrized frame).  Returns (v, community).

    Scale shape: per iteration one join (labels onto the symmetrized
    edge frame, vertex-keyed) + one (vertex, label) groupBy + one
    per-vertex window argmax — all on the same vertex hashing; labels
    truncate()d per iteration (iterative barrier policy).  The oracle
    (q59) unrolls the iterations as CTE stages like q46's PageRank.
    """
    und = materialize(
        edges.select(F.least(src_col, dst_col).alias("a"),
                     F.greatest(src_col, dst_col).alias("b"))
        .filter(F.col("a") != F.col("b")).distinct())
    sym = materialize(
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(und.select(F.col("b").alias("u"),
                                F.col("a").alias("v"))))
    labels = truncate(
        sym.select(F.col("u").alias("v")).distinct()
        .withColumn("lbl", F.col("v")))
    w = Window.partitionBy("v").orderBy(F.desc("n"), "lbl")
    for _ in range(iters):
        neigh = (sym.join(labels.select(F.col("v").alias("u"),
                                        F.col("lbl")), "u")
                 .groupBy("v", "lbl").agg(F.count("*").alias("n")))
        labels = truncate(
            neigh.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1).select("v", "lbl"))
    return labels.select("v", F.col("lbl").alias("community"))


def adamic_adar(edges: DataFrame, k: int = 100, src_col: str = "src",
                dst_col: str = "dst") -> DataFrame:
    """Adamic-Adar link-prediction scores (Adamic & Adar 2003): for
    every non-adjacent vertex pair at distance 2, score =
    sum over common neighbors z of 1/ln(deg(z)); returns the global
    top-``k`` candidate edges (a, b, score, rank) — the classic
    heuristic ranker the q56 negative samples train against.

    Common neighbors only exist through wedges, so deg(z) >= 2 and
    ln(deg) is never zero.  Scale shape: one wedge self-join on the
    common neighbor (bounded by the same degree distribution as q55's
    triangle join), per-pair sum, an anti-join against the edge set,
    and a top-k that plans as TakeOrdered (never a full global sort).
    Rounded to 4 before ranking with the (a, b) tie-break —
    the cross-engine contract.
    """
    und = materialize(
        edges.select(F.least(src_col, dst_col).alias("a"),
                     F.greatest(src_col, dst_col).alias("b"))
        .filter(F.col("a") != F.col("b")).distinct())
    sym = (und.select(F.col("a").alias("z"), F.col("b").alias("x"))
           .unionByName(und.select(F.col("b").alias("z"),
                                   F.col("a").alias("x"))))
    # degree-1 vertices cannot be common neighbors; drop them BEFORE
    # the weight so ln(1)=0 never reaches the division (ANSI mode)
    deg = (sym.groupBy("z").agg(F.count("*").alias("deg"))
           .filter(F.col("deg") >= 2))
    # both wedge sides read this frame — barrier it so the sym/deg
    # subtree plans once
    wz = materialize(
        sym.join(deg, "z").withColumn("w", 1.0 / F.log("deg")))
    s1 = wz.select("z", F.col("x").alias("a"), "w")
    s2 = wz.select("z", F.col("x").alias("b"))
    scored = (s1.join(s2, "z").filter(F.col("a") < F.col("b"))
              .groupBy("a", "b")
              .agg(F.round(F.sum("w"), 4).alias("score"))
              .join(und, ["a", "b"], "left_anti"))
    top = scored.orderBy(F.desc("score"), "a", "b").limit(k)
    # rank assignment happens on the <= k surviving rows only: the
    # top-k itself plans as TakeOrdered, never a global sort/window
    w_rank = Window.orderBy(F.desc("score"), "a", "b")
    return (top.withColumn("rank", F.row_number().over(w_rank))
            .select("a", "b", "score", "rank"))


def negative_samples(edges: DataFrame, n_neg: int = 3,
                     src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Filtered tail-corruption negatives for link-prediction training
    (the corrupted-triple recipe of Bordes et al. 2013): for each
    positive edge and sample slot ``i`` in [0, n_neg), replace the
    tail with the entity whose dense index is ``h(src|dst|i) % |E|``
    (h = the first 15 hex digits of the md5, a 60-bit non-negative
    bigint: a 16-bit hash could never pick an entity whose index is
    >= 65,536), then drop candidates that collide
    with the true tail or with ANY positive edge (the "filtered"
    setting — unfiltered negatives teach the model to score true
    edges low).  Returns (src, dst, sample_id, neg_dst); fully
    deterministic, so shards regenerate identically on resume.

    Scale shape: the entity index is one vocabulary-scale sort
    (row_number over id — entities, not edges); candidate generation
    is a bounded explode (n_neg per edge); the filter is a broadcast-
    or shuffle-hash anti-join on (src, neg) against the positive set.
    No driver state, no RNG — the hash IS the sampler.
    """
    pos = materialize(edges.select(F.col(src_col).alias("src"),
                                   F.col(dst_col).alias("dst")).distinct())
    ents = materialize(
        pos.select(F.col("src").alias("v"))
        .unionByName(pos.select(F.col("dst").alias("v"))).distinct()
        .withColumn("idx",
                    F.row_number().over(Window.orderBy("v")) - 1))
    n = ents.count()
    cand = (pos.select(
        "src", "dst",
        F.explode(F.sequence(F.lit(0), F.lit(n_neg - 1))).alias("sample_id"))
        .withColumn("idx", F.conv(F.substring(F.md5(F.concat_ws(
            "|", "src", "dst", F.col("sample_id").cast("string"))), 1, 15),
            16, 10).cast("bigint") % n))
    out = (cand.join(ents, "idx")
           .select("src", "dst", "sample_id", F.col("v").alias("neg_dst"))
           .filter(F.col("neg_dst") != F.col("dst")))
    return out.join(
        pos.select("src", F.col("dst").alias("neg_dst")),
        ["src", "neg_dst"], "left_anti").select(
        "src", "dst", "sample_id", "neg_dst")


def pagerank(edges: DataFrame, iters: int = 5, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             round_to: int | None = 6) -> DataFrame:
    """Fixed-iteration PageRank over the directed edge list (duplicate
    edges collapse; a vertex is any endpoint).  Returns (v, pr) after
    ``iters`` power iterations from the uniform vector, teleport
    ``1-damping``; dangling mass is redistributed uniformly each
    iteration (the standard stochastic-matrix completion), computed as
    a 1-row aggregate joined broadcast-wise — no driver collect.
    ``round_to`` rounds the final pr (cross-engine float rule; None
    keeps raw doubles)."""
    e = materialize(edges.select(F.col(src_col).alias("_s"),
                                 F.col(dst_col).alias("_d")).distinct())
    verts = materialize(
        e.select(F.col("_s").alias("v"))
        .unionByName(e.select(F.col("_d").alias("v"))).distinct())
    n = verts.count()
    if n == 0:
        # empty graph: empty result with the right schema, not a
        # divide-by-zero in the uniform initialization
        return verts.withColumn("pr", F.lit(0.0))
    deg = materialize(e.groupBy("_s").agg(F.count("*").alias("_deg")))
    # out-degree per vertex (0 for dangling), fixed across iterations
    vdeg = materialize(
        verts.join(deg, verts.v == deg._s, "left")
        .select("v", F.coalesce("_deg", F.lit(0)).alias("deg")))
    ranks = truncate(vdeg.withColumn("pr", F.lit(1.0 / n)))
    for _ in range(iters):
        dangling = (ranks.filter(F.col("deg") == 0)
                    .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm")))
        contrib = (e.join(ranks.filter(F.col("deg") > 0)
                          .select(F.col("v").alias("_s"),
                                  (F.col("pr") / F.col("deg"))
                                  .alias("_c")), "_s")
                   .groupBy("_d").agg(F.sum("_c").alias("_in")))
        ranks = truncate(
            vdeg.join(contrib, vdeg.v == contrib._d, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "v", "deg",
                (F.lit((1.0 - damping) / n)
                 + damping * (F.coalesce("_in", F.lit(0.0))
                              + F.col("_dm") / n)).alias("pr")))
    out = ranks.select("v", "pr")
    if round_to is not None:
        out = out.select("v", F.round("pr", round_to).alias("pr"))
    return out
