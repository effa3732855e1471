"""Connected components over a pair graph — iterative min-label
propagation (the union-find step after any near-dup pair generator:
pairs only say "a ~ b"; dedup POLICY needs the transitive cluster).

Algorithm: every node starts labeled with its own id; each round, a
node adopts the min label among itself and its neighbors; fixpoint =
components labeled by their min member id.  Converges in O(diameter)
rounds — near-dup clusters are shallow (duplicates of duplicates), so
a handful of rounds in practice.  Per round: one shuffle (groupBy id).
Storage follows ``operators/storage``'s one rule: every generation is a
checkpoint, the superseded one is released as soon as its successor
exists, and what the returned frame reads is tracked.

The driver-side loop is control flow only (a convergence counter); all
data movement is distributed.  GraphFrames does the same under the
hood; implementing directly avoids the external dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.storage import (
    checkpoint, release, track)


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iterations: int = 20) -> DataFrame:
    """(id, comp): comp = min node id reachable from id.

    Requires NUMERIC node ids: the one-action convergence signal casts
    labels to decimal (monotone label-sum).  For string ids (IRIs,
    bnode labels) use :func:`connected_components_star`, whose edge-set
    signature is type-agnostic.  Checked up front: under ANSI a
    non-numeric id would otherwise die mid-loop in an obscure
    CAST_INVALID_INPUT instead of this error."""
    from pyspark.sql.types import NumericType
    id_type = edges.schema[src].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            f"connected_components needs numeric node ids, got "
            f"{id_type.simpleString()} — use connected_components_star "
            "for string ids (IRIs, bnode labels, urls)")
    # materialized once: every round joins against it, and the pair
    # generator upstream must not re-run per round
    sym = checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct())
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .withColumn("comp", F.col("id")))

    prev_sum = None
    for _ in range(max_iterations):
        msgs = (sym.join(labels, sym.a == labels.id)
                .select(F.col("b").alias("id"), "comp"))
        # Labels are monotone non-increasing (new = min(old, neighbors)),
        # so the label sum strictly decreases until the fixpoint — equal
        # sums ⟺ zero changed labels, observed on the generation's own
        # checkpoint with no old-vs-new join and no second job.
        new_labels, seen = checkpoint(
            labels.union(msgs).groupBy("id")
            .agg(F.min("comp").alias("comp")),
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"))
        release(labels)  # a no-op on round 0's lazy labels
        labels = new_labels
        if seen["s"] is None or seen["s"] == prev_sum:
            break  # empty graph, or fixpoint reached
        prev_sum = seen["s"]
    release(sym)
    return track(labels)


def dedup_clusters(pairs: DataFrame, src: str = "id_a",
                   dst: str = "id_b") -> DataFrame:
    """Near-dup pairs → (id, cluster_id, is_canonical): canonical = the
    min-id member; everything else in the cluster is droppable.
    Routes by id type: numeric ids take the min-label algorithm,
    string ids (urls, IRIs) the type-agnostic star variant."""
    from pyspark.sql.types import NumericType
    if isinstance(pairs.schema[src].dataType, NumericType):
        comp = connected_components(pairs, src, dst)
    else:
        comp = connected_components_star(pairs, src, dst)
    return (comp.select(F.col("id"),
                        F.col("comp").alias("cluster_id"),
                        (F.col("id") == F.col("comp"))
                        .alias("is_canonical")))


# --------------------------------------------------------------------------
# large-star / small-star (alternating algorithm)
# --------------------------------------------------------------------------
#
# Min-label propagation above needs O(diameter) rounds — fine for
# shallow near-dup clusters, risky for path-shaped graphs (a 10^6-long
# chain would need 10^6 shuffles).  The alternating algorithm (Kiveris
# et al., "Connected Components in MapReduce and Beyond", SoCC'14)
# converges in O(log n) rounds on ANY graph shape by repeatedly
# re-rooting stars:
#
#   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
#   small-star(u): over edges directed larger→smaller, m = min neighbor;
#                  emit (x, m) for x ∈ (Γ(u) ∪ {u}) \ {m}
#
# Fixpoint: every non-root points directly at its component's min node.

def _large_star(e: DataFrame) -> DataFrame:
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (sym.groupBy("u").agg(F.min("v").alias("mn"))
         .select("u", F.least("mn", "u").alias("m")))
    return (sym.join(m, "u").filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v")).distinct())


def _small_star(e: DataFrame) -> DataFrame:
    # invariant: every edge has u > v (large-star output orientation)
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    withm = e.join(m, "u")
    neighbor_edges = (withm.filter(F.col("v") != F.col("m"))
                      .select(F.col("v").alias("u"), F.col("m").alias("v")))
    self_edges = withm.select("u", F.col("m").alias("v"))
    return neighbor_edges.union(self_edges).distinct()


def connected_components_star(edges: DataFrame, src: str = "id_a",
                              dst: str = "id_b",
                              max_iterations: int = 25) -> DataFrame:
    """(id, comp) via alternating large-star/small-star — same contract
    as :func:`connected_components`, O(log n) rounds on any topology."""
    # Materialize the input ONCE: each star round references the edge
    # set several times (symmetrize, min-agg, join), and the upstream
    # pair generator (e.g. the full PPJoin pipeline) must not re-run
    # per reference per round.  It stays pinned (tracked): the returned
    # labels read their node set from it.
    raw = track(checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))))
    # self-loops carry no connectivity but their nodes are still
    # component members (matching connected_components' contract)
    e = raw.filter(F.col("u") != F.col("v")).distinct()
    nodes = (raw.select(F.col("u").alias("id"))
             .union(raw.select(F.col("v").alias("id"))).distinct())

    prev_sig = None
    for _ in range(max_iterations):
        # the edge set is a function of the iteration state, so equal
        # signatures (count + hash sum, observed on the checkpoint) ⟺
        # fixpoint (hash-sum collision odds ~2^-64)
        new_e, seen = checkpoint(
            _small_star(_large_star(e)),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"))
        release(e)  # a no-op on round 0's lazy edge set
        e = new_e
        sig = (seen["n"], seen["h"])
        if sig == prev_sig or seen["n"] == 0:
            break
        prev_sig = sig

    track(e)  # the returned labels read it
    return (nodes.join(e.select(F.col("u").alias("id"),
                                F.col("v").alias("comp")), "id", "left")
            .select("id", F.coalesce("comp", F.col("id")).alias("comp")))


def dedup_clusters_star(pairs: DataFrame, src: str = "id_a",
                        dst: str = "id_b") -> DataFrame:
    """:func:`dedup_clusters` on the alternating algorithm — identical
    output, logarithmic round count (the variant to prefer when cluster
    diameter is unknown, e.g. chained boilerplate families)."""
    comp = connected_components_star(pairs, src, dst)
    return (comp.select(F.col("id"),
                        F.col("comp").alias("cluster_id"),
                        (F.col("id") == F.col("comp"))
                        .alias("is_canonical")))
