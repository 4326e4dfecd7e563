"""Connected components over an edge DataFrame — duplicate-cluster
resolution for near-dup pipelines.

Pair emitters (MinHash-LSH, SimHash, exact-hash) produce *edges*;
collapsing a corpus to one survivor per duplicate *group* needs the
transitive closure. This implements min-label propagation:

    label(v) <- min(label(v), min over neighbours u of label(u))

iterated to fixpoint (or a caller-fixed round count, for differential
oracles that unroll the same rounds in SQL).

Scale posture (100 TB): each round is one self-equi-join of the label
table against the edge table plus a min-aggregate — both hash-shuffled
on the vertex id, so successive rounds reuse the same partitioning
(Exchange reuse; no resort). Near-dup graphs are unions of near-cliques,
so the diameter — and hence the round count — is tiny (3-4 covers web
corpora in practice; the alternating large-star/small-star variant of
Kiveris et al. "Connected Components in MapReduce and Beyond" (SOCC'14)
gives O(log n) worst-case rounds if ever needed). Labels are
``localCheckpoint``-ed every round to truncate the iterative lineage —
without it the plan doubles per round and the driver, not the data,
becomes the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(edges: DataFrame, vertices: DataFrame | None = None,
                         src: str = "id_a", dst: str = "id_b",
                         max_iter: int | None = None,
                         checkpoint: bool = True) -> DataFrame:
    """Resolve duplicate clusters: (vertex, component) with component =
    the minimum vertex id reachable over ``edges``.

    edges: undirected pairs (each pair listed once is enough).
    vertices: optional vertex universe; vertices without edges come out
        as singleton components. Defaults to the ids present in edges.
    max_iter: fixed round count (for oracle replay); None iterates to
        convergence with a per-round changed-label count.
    """
    # Both directions in ONE pass over ``edges``: a union of the two
    # projections would plan (and, before the checkpoint, run) the
    # whole pair emitter twice.
    adj = edges.select(F.inline(F.array(
        F.struct(F.col(src).alias("v"), F.col(dst).alias("u")),
        F.struct(F.col(dst).alias("v"), F.col(src).alias("u")))))
    if checkpoint:
        # Materialize the adjacency once: it is referenced in every
        # round, and a lazy plan would recompute the (expensive) pair
        # emitter per round.
        adj = adj.localCheckpoint(eager=True)
    if vertices is None:
        vertices = adj.select(F.col("v").alias("vertex")).distinct()
    labels = vertices.select("vertex", F.col("vertex").alias("component"))

    def step(lab: DataFrame) -> DataFrame:
        neigh = (adj.join(lab.withColumnRenamed("vertex", "u")
                          .withColumnRenamed("component", "u_comp"), "u")
                 .groupBy("v").agg(F.min("u_comp").alias("neigh_comp")))
        return (lab.join(neigh.withColumnRenamed("v", "vertex"),
                         "vertex", "left")
                .select("vertex",
                        F.least("component",
                                F.coalesce("neigh_comp", "component"))
                        .alias("component")))

    if max_iter is not None:
        for i in range(max_iter):
            labels = step(labels)
            if checkpoint and i < max_iter - 1:
                # Truncate the iterative lineage: without this the plan
                # doubles per round (each round references the previous
                # label table twice).
                labels = labels.localCheckpoint(eager=True)
        return labels

    while True:
        new = step(labels)
        if checkpoint:
            new = new.localCheckpoint(eager=True)
        changed = (new.alias("n")
                   .join(labels.alias("o"), "vertex")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .count())
        labels = new
        if changed == 0:
            return labels


def dedup_survivors(docs: DataFrame, edges: DataFrame,
                    id_col: str = "doc_id", **cc_kwargs) -> DataFrame:
    """Keep one document per duplicate cluster (the min-id member).

    The canonical tail of a near-dup pipeline: pairs -> components ->
    anti-join the non-survivors out. The loser set is
    edge-universe-sized — in a boilerplate-heavy crawl that is
    corpus-sized, so this is a plain shuffle anti-join, never a forced
    broadcast (a broadcast would materialize every duplicate id on the
    driver at 100 TB; AQE converts to broadcast when the set is
    genuinely small)."""
    comp = connected_components(edges, **cc_kwargs)
    losers = comp.filter(F.col("vertex") != F.col("component")) \
                 .select(F.col("vertex").alias(id_col))
    return docs.join(losers, id_col, "left_anti")


def majority_label_round(df: DataFrame, key_col: str, label_col: str,
                         out_col: str | None = None) -> DataFrame:
    """ONE synchronous round of majority label propagation over a
    blocking key: every row whose ``label_col`` is NULL adopts its
    ``key_col`` group's majority label among the currently-labeled
    members (ties broken to the MIN label — deterministic, so a
    differential SQL oracle can unroll the identical round).

    The semi-supervised leg of dedup-graph curation: seed quality /
    provenance labels on a vetted subset, then spread them through the
    same blocking groups the near-dup pass already builds (alternating
    the key between rounds — e.g. prefix, then suffix — lets labels
    travel along chains no single key connects).

    Scale posture (100 TB): the group winner is ONE count aggregate
    plus one |keys x labels|-row argmax — both hash-shuffled on the
    key, never pairwise; adopting is a left join back on the same key
    (same partitioning, Exchange reuse). Label cardinality is bounded
    (sources/quality tiers), so the winner table is keys-sized. The
    argmax is ``min(struct(-count, label))`` — no window, map-side
    combinable."""
    out = out_col or label_col
    lab = (df.filter(F.col(label_col).isNotNull())
           .groupBy(key_col, label_col)
           .agg(F.count("*").alias("_c")))
    win = (lab.groupBy(key_col)
           .agg(F.min(F.struct((-F.col("_c")).alias("nc"),
                               F.col(label_col).alias("l"))).alias("_w"))
           .select(key_col, F.col("_w.l").alias("_win")))
    return (df.join(win, key_col, "left")
            .withColumn(out, F.coalesce(F.col(label_col), F.col("_win")))
            .drop("_win"))
