"""Graph analytics over derived document/event graphs: fixed-point
PageRank.

Iterative algorithm under the exact-value hash gate: all arithmetic is
integer fixed-point (ppm — parts-per-million of rank mass), so a SQL
oracle can unroll the same bounded rounds and match bit-for-bit, the
same pattern as connected components (`operators/components.py`).

Scale posture per round: one equi-join of the rank vector onto the
out-degree-annotated adjacency (both hash-partitioned on the source
vertex), one map-side-combined SUM shuffle on the destination vertex,
one left join back onto the vertex set. Nothing global, nothing
driver-side; for deep iteration counts callers should localCheckpoint
every few rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import Window as SqlWindow

SCALE = 1_000_000          # 1.0 rank == 1e6 ppm
DAMP_PPM = 850_000         # 0.85 damping
BASE_PPM = SCALE - DAMP_PPM


def pagerank_fixed_point(edges: DataFrame, vertices: DataFrame,
                         rounds: int = 2,
                         src_col: str = "id_a", dst_col: str = "id_b",
                         vertex_col: str = "vertex",
                         checkpoint: bool = True) -> DataFrame:
    """PageRank with integer fixed-point arithmetic over an UNDIRECTED
    pair list (each pair contributes both directions).

    Per round: ``r_u = BASE + (DAMP * sum_in(r_v div deg_v)) div SCALE``
    — the per-edge integer division is part of the contract (both the
    operator and the oracle floor at the same points, so results are
    engine-exact). Isolated vertices settle at BASE_PPM. Returns
    (vertex, rank_ppm) after ``rounds`` synchronous rounds from a
    uniform 1.0 start.

    ``checkpoint`` (default on) localCheckpoints the degree-annotated
    adjacency before iterating. Without it the EDGES subtree is pasted
    into the plan once per reference — twice per unrolled round plus
    the degree aggregate — so an expensive edge derivation (x100 feeds
    the full MinHash-LSH pipeline in here) executes ~2*rounds times;
    with it the derivation runs exactly once and every round joins the
    materialized adjacency. Same contract either way.
    """
    # Symmetrize with ONE explode pass, not a self-union: a union
    # pastes the (possibly expensive) edges subtree into the plan
    # twice, so e.g. x100's LSH edge derivation would execute twice
    # even under the checkpoint below.
    adj = (edges
           .select(F.explode(F.array(
               F.struct(F.col(src_col).alias("v"),
                        F.col(dst_col).alias("u")),
               F.struct(F.col(dst_col).alias("v"),
                        F.col(src_col).alias("u")))).alias("e"))
           .select("e.v", "e.u"))
    # Degree-annotate with a count window over the same shuffle a
    # groupBy+join-back would need — but referencing adj (and through
    # it the edges subtree) exactly ONCE, so the whole edge derivation
    # executes once when the checkpoint below materializes.
    adj_deg = adj.withColumn(
        "deg", F.count("*").over(SqlWindow.partitionBy("v")))
    if checkpoint:
        adj_deg = adj_deg.localCheckpoint(eager=True)
    ranks = vertices.select(F.col(vertex_col),
                            F.lit(SCALE).cast("long").alias("rank_ppm"))
    for _ in range(rounds):
        contrib = (adj_deg
                   .join(ranks, adj_deg["v"] == ranks[vertex_col])
                   .select("u", F.expr("rank_ppm div deg").alias("c")))
        sums = contrib.groupBy("u").agg(F.sum("c").alias("s"))
        ranks = (vertices
                 .join(sums, vertices[vertex_col] == sums["u"], "left")
                 .select(F.col(vertex_col),
                         F.expr(f"{BASE_PPM}L + ({DAMP_PPM}L * "
                                f"coalesce(s, 0L)) div {SCALE}L")
                         .alias("rank_ppm")))
    return ranks


def triangle_census(edges: DataFrame,
                    src_col: str = "id_a",
                    dst_col: str = "id_b") -> DataFrame:
    """Edge/wedge/triangle census of an oriented edge list (every edge
    stored once with ``src < dst``): returns a single row ``(e, w, t)``
    — edge count, wedge count (sum over vertices of C(deg, 2)), and
    triangle count via the DEGREE-ORIENTED pivot enumeration
    (Schank–Wagner / Chiba–Nishizeki): each edge re-orients from its
    lower-(deg, id) to its higher-(deg, id) endpoint, candidate pairs
    come only from each vertex's OUT-neighbors, and the pair is
    confirmed against the id-oriented edge set. Every triangle has
    exactly one pivot under a total-order orientation, so the count is
    exact — identical to the old id-oriented closure, but the work is
    Σ outdeg² = O(m^1.5) worst case instead of Σ deg_hub × deg on
    boilerplate hubs (the id orientation went superlinear on a
    dup-dense 690k-doc sweep corpus: 118 s where this stays
    edge-bounded; counts unchanged).

    Shared by the registry entry (x149, uncapped portable-hash edges so
    DuckDB can replay) and the bench sweep's capped production variant
    — one census body, two edge builders, so the two measurements can
    never silently drift apart.

    Scale shape: two degree-attach equi-joins, one out-neighbor
    self-join keyed on the pivot, one membership equi-join — all plain
    shuffles over the (capped-in-production) edge list, never touching
    the documents again. No hints: edge lists are corpus-proportional.
    The EDGE LIST is materialized first (localCheckpoint): it feeds
    degree, orientation, membership and the edge count — four
    consumers — and the builder behind it (LSH banding over the whole
    corpus) is the expensive part; unmaterialized, Spark re-runs that
    builder once per consumer (the actual source of the 690k-doc sweep
    point's 118 s wall — the closure itself was never the cost there).
    The oriented list is checkpointed too (both sides of the
    self-join).
    """
    e = (edges.select(F.col(src_col).alias("id_a"),
                      F.col(dst_col).alias("id_b"))
         .localCheckpoint(eager=False))
    deg = (e.select(F.col("id_a").alias("v"))
           .unionAll(e.select(F.col("id_b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("deg")))
    wedges = deg.agg(F.sum(F.expr("deg * (deg - 1) div 2")).alias("w"))
    lower = ((F.col("da") < F.col("db"))
             | ((F.col("da") == F.col("db"))
                & (F.col("id_a") < F.col("id_b"))))
    eo = (e.join(deg.select(F.col("v").alias("id_a"),
                            F.col("deg").alias("da")), "id_a")
          .join(deg.select(F.col("v").alias("id_b"),
                           F.col("deg").alias("db")), "id_b")
          .select(F.when(lower, F.col("id_a")).otherwise(F.col("id_b"))
                  .alias("src"),
                  F.when(lower, F.col("id_b")).otherwise(F.col("id_a"))
                  .alias("dst"))
          .localCheckpoint(eager=False))
    cand = (eo.select(F.col("src"), F.col("dst").alias("id_a"))
            .join(eo.select(F.col("src"), F.col("dst").alias("id_b")),
                  "src")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b"))
    tri = cand.join(e, ["id_a", "id_b"]).agg(F.count("*").alias("t"))
    n_e = e.agg(F.count("*").alias("e"))
    return n_e.crossJoin(wedges).crossJoin(tri).select("e", "w", "t")
