"""Graph analytics over the materialized knowledge graph: degrees and
PageRank — the standard next stage after KG construction (entity
importance for ranking, hub detection for skew salting).

The reference parser stops at the quad stream; these operators consume
the (subj, pred, obj) edges it defines
(/root/reference/lib/RdfaParser.ts:803-811 — every IRI-object quad is a
graph edge).

**Integer-exact PageRank.**  Floating-point PageRank is
order-nondeterministic (partial-aggregation order changes the last
bits), which would make the result unverifiable against a sequential
oracle.  All arithmetic here is scaled 64-bit integer:

  rank_0(v)   = SCALE                       (uniform, un-normalized)
  rank_k+1(v) = (15·SCALE) div 100
              + (85 · Σ_{u→v} (rank_k(u) div outdeg(u))) div 100

Integer sums are associative — any aggregation order, any partitioning,
any engine produces bit-identical ranks, so the DuckDB oracle (an
unrolled CTE chain, :func:`pagerank_sql`) hash-matches exactly.
Dangling nodes (outdeg 0) simply leak mass, the common large-graph
simplification (the Google matrix redistribution term costs an extra
all-to-one aggregate per round and changes no ordering).

Scale envelope: with SCALE = 10^12, a node of in-degree d holds at most
≈ d·SCALE before the 85/100 step; int64 overflows at d ≈ 10^5·SCALE/85.
For graphs with hotter hubs lower SCALE (ranks are relative).

Physical shape per iteration: one shuffle (groupBy dst), map-side
partial sums.  ``ranks`` and ``edges`` are both keyed by node id, so on
a real cluster pre-bucketing both by id makes the per-round join
co-located; a checkpoint every other round (``operators/storage``)
cuts the growing lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.storage import (
    checkpoint, release, track)

PAGERANK_SCALE = 1_000_000_000_000  # 10^12
DEFAULT_ITERATIONS = 6


def iri_edges(triples: DataFrame) -> DataFrame:
    """(src, dst) IRI→IRI edges of the KG: every triple whose object is
    an IRI; subjects that are blank nodes are skolemized strings already
    and participate like IRIs."""
    return (triples.filter(F.col("obj_kind") == "iri")
            .select(F.col("subj").alias("src"),
                    F.col("obj_value").alias("dst"))
            .distinct())


def degrees(edges: DataFrame) -> DataFrame:
    """(id, out_degree, in_degree) for every node incident to an edge."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    return (out_d.join(in_d, "id", "full_outer")
            .select("id",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree")))


def pagerank(edges: DataFrame, iterations: int = DEFAULT_ITERATIONS,
             scale: int = PAGERANK_SCALE) -> DataFrame:
    """(id, rank) after ``iterations`` rounds of integer power iteration.

    ``rank`` is the scaled integer (divide by ``scale`` for the
    conventional per-node score)."""
    # Materialize the two loop-invariant tables ONCE — every iteration
    # references both, and without an eager cut each round's plan would
    # re-derive them (plus the whole upstream extraction) from scratch.
    # track() registers the pinned invariants (and the final cut below)
    # for storage.release_tracked(): the lazy returned ranks still
    # reference them, so they cannot be released here — a long-lived
    # session releases them between queries once results materialize
    nodes = track(checkpoint(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id"))).distinct()))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # contribution edges carry outdeg so the per-round join is edges-only
    contrib_edges = track(checkpoint(
        edges.join(outdeg, "src").select("src", "dst", "outdeg")))

    base = (15 * scale) // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    prev_cut: DataFrame | None = None
    for i in range(iterations):
        inflow = (contrib_edges.join(ranks, ranks.id == contrib_edges.src)
                  .select(F.col("dst").alias("id"),
                          F.expr("rank DIV outdeg").alias("c"))
                  .groupBy("id").agg(F.sum("c").alias("inflow")))
        ranks = (nodes.join(inflow, "id", "left")
                 .select("id",
                         (F.lit(base)
                          + F.expr("85 * coalesce(inflow, 0) DIV 100")
                          ).cast("long").alias("rank")))
        # eager cut every other round: keeps the unrolled plan shallow
        # (two rounds deep max) without paying a materialization per round
        if i % 2 == 1 and i != iterations - 1:
            new_ranks = checkpoint(ranks)
            # the cut two rounds back is now superseded and unreferenced
            # (the new checkpoint is self-contained) — release it
            if prev_cut is not None:
                release(prev_cut)
            ranks = prev_cut = new_ranks
    if prev_cut is not None:  # the returned ranks still reference it
        track(prev_cut)
    return ranks


def cooccurrence_topk(edges: DataFrame, k: int = 20,
                      max_in_degree: int = 100) -> DataFrame:
    """Top-``k`` subject pairs by number of shared objects — the KG
    self-join ("entities citing the same things are related").

    Scale discipline: the join explodes quadratically in each object's
    in-degree, so super-hubs (rdf:type targets, popular vocab IRIs) are
    EXCLUDED first (``max_in_degree``) — the standard co-occurrence
    practice; a hub shared by everything carries no signal anyway.
    After the filter the pair count per object is ≤ C(max_in_degree, 2)
    — bounded fan-out, no skew.  Ties order by (n desc, src_a, src_b):
    a total order, so the limit is deterministic."""
    deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("in_d"))
    small = (edges.join(deg.filter(F.col("in_d") <= max_in_degree)
                        .select("dst"), "dst"))
    a = small.select(F.col("src").alias("src_a"), "dst")
    b = small.select(F.col("src").alias("src_b"), "dst")
    return (a.join(b, (a.dst == b.dst) & (a.src_a < b.src_b))
            .groupBy("src_a", "src_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .orderBy(F.desc("n_shared"), F.asc("src_a"), F.asc("src_b"))
            .limit(k))


def cooccurrence_topk_sql(edges_cte: str, k: int = 20,
                          max_in_degree: int = 100) -> str:
    """DuckDB mirror of :func:`cooccurrence_topk`."""
    return f"""
        WITH e AS ({edges_cte}),
        deg AS (SELECT dst FROM e GROUP BY dst
                HAVING count(*) <= {max_in_degree}),
        s AS (SELECT e.src, e.dst FROM e JOIN deg ON e.dst = deg.dst)
        SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
        FROM s a JOIN s b ON a.dst = b.dst AND a.src < b.src
        GROUP BY a.src, b.src
        ORDER BY n_shared DESC, src_a ASC, src_b ASC LIMIT {k}
    """


def pagerank_sql(edges_cte: str, iterations: int = DEFAULT_ITERATIONS,
                 scale: int = PAGERANK_SCALE) -> str:
    """DuckDB oracle: the same integer power iteration as an unrolled
    CTE chain.  ``edges_cte`` must be a SELECT yielding (src, dst)."""
    base = (15 * scale) // 100
    ctes = [
        f"e AS ({edges_cte})",
        "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "ce AS (SELECT e.src, e.dst, outdeg.outdeg FROM e "
        "JOIN outdeg ON e.src = outdeg.src)",
        f"r0 AS (SELECT id, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for k in range(iterations):
        ctes.append(f"""r{k + 1} AS (
          SELECT n.id,
                 CAST({base} + 85 * COALESCE(f.inflow, 0) // 100
                      AS BIGINT) AS rank
          FROM nodes n
          LEFT JOIN (
            SELECT ce.dst AS id, SUM(r{k}.rank // ce.outdeg) AS inflow
            FROM ce JOIN r{k} ON r{k}.id = ce.src
            GROUP BY ce.dst
          ) f ON f.id = n.id)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, rank FROM r{iterations}")
