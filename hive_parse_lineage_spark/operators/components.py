"""Connected components over an edge DataFrame — duplicate-cluster
resolution for near-dup pipelines.

Pair emitters (MinHash-LSH, SimHash, exact-hash) produce *edges*;
collapsing a corpus to one survivor per duplicate *group* needs the
transitive closure. This implements min-label propagation:

    label(v) <- min over u in N(v) ∪ {v} of label(u)

iterated to fixpoint (or a caller-fixed round count, for differential
oracles that unroll the same rounds in SQL).

The closed neighbourhood N(v) ∪ {v} comes from a self-loop ``(v, v)``
per vertex unioned into the adjacency, so a round is ONE join of the
adjacency against the previous labels plus one ``min`` aggregate, and
it references the previous labels exactly once: the plan of k rounds
grows linearly and stays lazy. Round 1 needs no join at all (every
label starts as the vertex id, so it is ``groupBy(v).min(u)``). The
adjacency is checkpointed once — without that every round re-runs the
pair emitter — and is then the only input each round scans, so AQE
plans it once per round from its known size (broadcast when small).

Scale posture (100 TB): each round is one equi-join plus a
min-aggregate, both hash-shuffled on the vertex id when the adjacency
is too big to broadcast. Near-dup graphs are unions of near-cliques,
so the diameter — and hence the round count — is tiny (3-4 covers web
corpora in practice; the alternating large-star/small-star variant of
Kiveris et al. "Connected Components in MapReduce and Beyond" (SOCC'14)
gives O(log n) worst-case rounds if ever needed). The converged mode
also checkpoints each round's labels, because it must count changed
labels before it can plan the next round; the count reads the previous
label off each vertex's self-loop row, so it needs no second join.
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
    vertices: optional vertex universe, one row per distinct non-null
        ``vertex``; vertices without edges come out as singleton
        components. An edge with an endpoint outside it is dropped:
        that endpoint is not labelled and passes no label on.
        Defaults to the ids present in edges.
    max_iter: fixed round count >= 1 (for oracle replay): the labels
        are the min vertex id within ``max_iter`` hops, planned lazily
        as one chain of rounds. None iterates to convergence with a
        per-round changed-label count.
    checkpoint: materialize the adjacency once (and, when converging,
        each round's labels); False keeps everything lazy.
    """
    # Both directions in ONE pass over ``edges``: a union of the two
    # projections would plan (and, before the checkpoint, run) the
    # whole pair emitter twice.
    adj = edges.select(F.inline(F.array(
        F.struct(F.col(src).alias("v"), F.col(dst).alias("u")),
        F.struct(F.col(dst).alias("v"), F.col(src).alias("u")))))
    if vertices is None:
        ids = adj.select("v").distinct()
    else:
        # the null filter the semi-joins infer anyway, spelled out so
        # the self-loop side reads the same vertex scan (Exchange reuse)
        ids = vertices.select(F.col("vertex").alias("v")).filter(
            F.col("v").isNotNull())
        # restrict both endpoints to the universe once, before the
        # checkpoint, so no round has to
        adj = (adj.join(ids, "v", "left_semi")
               .join(ids.withColumnRenamed("v", "u"), "u", "left_semi"))
    adj = adj.unionByName(ids.select("v", F.col("v").alias("u")))
    if checkpoint:
        # Materialize the adjacency once: it is referenced in every
        # round, and a lazy plan would recompute the (expensive) pair
        # emitter per round.
        adj = adj.localCheckpoint(eager=True)

    labels = None
    if max_iter is not None:
        if max_iter < 1:
            raise ValueError(f"max_iter must be >= 1, got {max_iter}")
        for _ in range(max_iter):
            labels = _round(adj, labels)
        return labels

    while True:
        new = _round(adj, labels, with_prev=True)
        if checkpoint:
            new = new.localCheckpoint(eager=True)
        changed = new.filter(F.col("component") != F.col("prev")).count()
        labels = new.drop("prev")
        if changed == 0:
            return labels


def _round(adj: DataFrame, labels: DataFrame | None,
           with_prev: bool = False) -> DataFrame:
    """One round: each vertex takes the min label over its closed
    neighbourhood (the self-loop rows of ``adj`` supply its own).
    ``labels`` None is the starting labelling (label = vertex id).
    ``with_prev`` adds the vertex's previous label, read off its
    self-loop row, so a changed-label count needs no second join."""
    if labels is None:
        nb = adj.withColumn("c", F.col("u"))
    else:
        nb = adj.join(labels.select(F.col("vertex").alias("u"),
                                    F.col("component").alias("c")), "u")
    aggs = [F.min("c").alias("component")]
    if with_prev:
        aggs.append(F.min(F.when(F.col("u") == F.col("v"), F.col("c")))
                    .alias("prev"))
    return nb.groupBy(F.col("v").alias("vertex")).agg(*aggs)


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
