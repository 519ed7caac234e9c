"""Distributed connected components — dup *pairs* -> dup *groups*.

The dedup funnel (SURVEY.md §2.10) ends at pair lists (simhash/MinHash/
Jaccard emit ``(id_a, id_b)``), but the operation a corpus pipeline
actually needs is "keep one document per duplicate *group*" — and groups
are the connected components of the pair graph (A~B, B~C means A,B,C are
one group even though (A,C) was never emitted as a pair).

Algorithm: iterative min-label propagation with pointer jumping. Every
node starts labeled with its own id; each round, every node takes the min
of its own label and its neighbors' labels, then follows the result one
more hop through the label table (comp := comp(comp) — path halving), so
the propagation distance roughly doubles per round and the loop converges
in O(log diameter) rounds; fixpoint = components labeled by their min
member. This is the Spark-idiomatic, dependency-free equivalent of
GraphX/GraphFrames ``connectedComponents``; the jump matters exactly on
chained near-dup graphs (A~B~C~... at hamming<=3), where plain
propagation pays one fixed-overhead Spark job per hop of diameter (14
rounds observed on the sf0.1 document graph vs 5 with the jump). The
large-star/small-star contraction (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014 — public literature) remains the
upgrade path for graphs whose EDGE set also needs shrinking per round.

Scale notes (100 TB corpus):
- The iteration state is ``(id, comp)`` — two longs per node *that appears
  in a pair*, which is orders of magnitude smaller than the corpus. The
  heavy lifting (pair generation) already happened upstream in the LSH
  funnel.
- Each round is one shuffle hash-join (edges ⋈ labels on node id) plus one
  partial-aggregated ``groupBy(id).min(comp)`` — both narrow-key shuffles
  Catalyst handles with map-side combine.
- ``localCheckpoint`` after every round truncates lineage; without it the
  plan doubles per iteration and the driver dies on plan analysis long
  before the executors sweat. (On a real cluster with an HDFS checkpoint
  dir, reliable ``checkpoint`` is the drop-in upgrade.)
- The per-round convergence test is one ``count`` action over the changed
  labels. A driver-side loop over *rounds* (not rows) is the standard
  structure for iterative algorithms on Spark — GraphX supersteps do the
  same; the data never visits the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dedup_by_components"]

# Edge-count ceiling for the driver-local labeling path (r12, guide §5: the
# driver hop is BOUNDED — two int64 columns × this many rows ≈ 16 MB via
# Arrow, the same order as a broadcast-join build side under the session's
# 64 MB autoBroadcastJoinThreshold). Above it the distributed loop runs.
_DRIVER_MAX_EDGES = 1_000_000


def _driver_components(bidir: DataFrame):
    """Label a SMALL edge set on the driver: one Arrow collect + vectorized
    numpy min-label propagation with pointer jumping — the identical
    fixpoint the distributed loop reaches (labels start at own id, only
    decrease, converge to the component min), computed in-memory instead
    of through ~2·log(diameter) shuffle-join jobs of sub-second fixed cost
    each. Returns a pandas DataFrame (id, comp) or None when the edge ids
    are not integers (the generic fallback stays distributed).

    np.unique returns SORTED ids, so index order == id order and the min
    INDEX fixpoint maps back to the min ID — the exact distributed label.
    """
    import numpy as np

    import pyspark.sql.types as T

    if not all(
        isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType))
        for f in bidir.schema.fields
    ):
        return None
    tbl = bidir.toArrow()
    s = tbl.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    d = tbl.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
    ids = np.unique(np.concatenate([s, d]))
    u = np.searchsorted(ids, s)
    v = np.searchsorted(ids, d)
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        new = lab.copy()
        # bidir already holds both directions, so one scatter-min per
        # round sees every neighbor; pointer jump (lab[x] <= x invariant)
        # doubles propagation distance per round exactly like the
        # distributed path-halving loop.
        np.minimum.at(new, v, lab[u])
        new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    import pandas as pd

    return pd.DataFrame({"id": ids, "comp": ids[lab]})


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_out: str = "id",
    comp_out: str = "component",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node of the undirected ``edges`` graph with the min id
    reachable from it. Returns one row per node that appears in any edge:
    ``(id_out, comp_out)``. Nodes never mentioned in ``edges`` are their own
    singleton components by definition and are omitted (join back against
    the corpus for them — see :func:`dedup_by_components`).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # Materialize the edge list ONCE: without this every round's join
    # re-executes the whole upstream pair-generation funnel (LSH banding
    # over the full corpus) — the dominant cost, paid max_iter times.
    bidir = (
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    # Size-adaptive two-phase (r12, same pattern as operators/rank.py): the
    # near-dup graphs this labels are DUPLICATE-sized, not corpus-sized —
    # 1,012 edges at sf0.1 — yet the distributed loop pays ~2 shuffle joins
    # + 1 action per round for ~10 rounds of fixed job overhead. Below the
    # bounded threshold, collect the edge list like a broadcast build side
    # and label in vectorized numpy; above it (web-scale dup graphs), the
    # distributed O(log d) loop below is unchanged.
    if bidir.count() <= _DRIVER_MAX_EDGES:
        pdf = _driver_components(bidir)
        if pdf is not None:
            out = bidir.sparkSession.createDataFrame(
                pdf, schema=f"id {bidir.schema.fields[0].dataType.simpleString()}, "
                            f"comp {bidir.schema.fields[0].dataType.simpleString()}"
            )
            return out.select(
                F.col("id").alias(id_out), F.col("comp").alias(comp_out)
            )
    labels = (
        bidir.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    # Convergence check without a join: min-label propagation is MONOTONE
    # (a label only ever decreases), so the label sum strictly decreases
    # on every non-converged round and "sum unchanged" == "no label
    # changed". The old shape joined new-vs-old labels and counted diffs —
    # a full extra shuffle join + action per round; the sum is one cheap
    # scan over the just-checkpointed labels. decimal(38,0) keeps the sum
    # exact at any node-count x id-width (a long sum could wrap at
    # web-corpus scale and alias two different label states).
    prev_sum = None
    for _ in range(max_iter):
        msgs = bidir.join(labels, bidir["s"] == labels["id"]).select(
            F.col("d").alias("id"), F.col("comp")
        )
        stepped = labels.union(msgs).groupBy("id").agg(F.min("comp").alias("comp"))
        # Pointer jump (path halving, r12): follow the freshly-stepped label
        # one more hop through the label table itself (comp := comp(comp)),
        # so propagation distance roughly doubles per round — O(log
        # diameter) rounds instead of O(diameter). On the sf0.1 doc graph
        # the edge-hop-only loop needed 14 rounds of ~0.5 s fixed job
        # overhead for <1k edges; chained near-dup graphs (A~B~C~...) are
        # exactly the long-diameter case. Correctness: comp(y) <= y is an
        # invariant of min-label propagation (labels start at own id and
        # only decrease), so the jump is monotone and has the same fixpoint
        # — at convergence comp(comp(x)) == comp(x); the decreasing-sum
        # convergence test stays valid. Each stepped row matches exactly
        # one parent row (parent is keyed by the unique node id), so the
        # join cannot expand.
        parent = stepped.select(
            F.col("id").alias("comp"), F.col("comp").alias("_jump")
        )
        # Lazy checkpoint: the convergence-sum action right below is what
        # materializes it, so each round costs exactly ONE job (the old
        # shape paid an eager-checkpoint job plus a join+count job).
        labels = (
            stepped.join(parent, "comp")
            .select("id", F.col("_jump").alias("comp"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).head()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("id").alias(id_out), F.col("comp").alias(comp_out))


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one representative row (the min-id member) per duplicate group.

    ``pairs`` is any near-dup pair list over ``df[id_col]``. Rows whose id
    never appears in a pair are kept untouched (left-anti against the
    non-representative members). The anti-join key is a single long; the
    loser list sizes with the number of *duplicates* — small corpora get a
    broadcast from AQE automatically, web-scale corpora (where dup rates
    of 30%+ make the list unbroadcastable) fall back to a narrow-key
    shuffle anti-join, so no explicit broadcast hint here.
    """
    comps = connected_components(pairs, src=src, dst=dst)
    losers = comps.where(F.col("id") != F.col("component")).select("id")
    return df.join(losers, df[id_col] == losers["id"], "left_anti")
