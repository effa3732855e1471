"""Integer-exact k-means over the embeddings table — the classic
iterative ML workload (topic/quality bucketing of a corpus before
sampling), in the same determinism discipline as operators/graph:

Floating-point k-means is doubly nondeterministic (parallel sums
reorder, and assignment ties flip with them), so everything here is
scaled 64-bit integer:

- vectors are quantized once: ``v_i = floor(x_i · 10^6)`` (float32 →
  double → floor, exact on both engines);
- distances are integer squared-L2 (64 dims × (2·10^6)² ≈ 2.6·10^14,
  inside int64);
- assignment ties break by lowest centroid id (struct-min ordering);
- centroid updates are ``floor(sum / count)`` with |sum| ≪ 2^53, so
  the double division is exact and the floor identical everywhere;
- initial centroids are the vectors with ``vec_id < k`` — a
  deterministic seed (k-means++ needs an RNG; seeded-first-k is the
  reproducible convention).

Any aggregation order, any partitioning, any engine → bit-identical
assignments, which is what lets the DuckDB oracle (:func:`kmeans_sql`,
an unrolled CTE chain) hash-match the distributed run.

Physical shape per iteration: one map stage computing k distances per
row (codegen'd ``aggregate(zip_with(...))``, centroids inlined as
literals), one shuffle for the (cluster, dim) partial sums — map-side
combined, k·d result rows.  The driver holds only the k·d centroid
ints between rounds (the same bounded driver state Spark MLlib's
KMeans keeps); the vector table is checkpointed once up front.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KMEANS_SCALE = 1_000_000
DEFAULT_K = 4
DEFAULT_KMEANS_ITERATIONS = 3


def int_vectors(emb: DataFrame, scale: int = KMEANS_SCALE,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(vec_id, v: array<long>) — deterministic integer quantization."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * scale)
                    .cast("long")).alias("v"))


def kmeans_assignments(emb: DataFrame, k: int = DEFAULT_K,
                       iterations: int = DEFAULT_KMEANS_ITERATIONS,
                       scale: int = KMEANS_SCALE) -> DataFrame:
    """(vec_id, cluster) after ``iterations`` rounds of integer Lloyd
    steps; cluster ids are the seed vectors' vec_ids (0..k-1).  The
    final round is assignment-only (no centroid update), so
    ``iterations=1`` means "assign against the seeds"."""
    if iterations < 1:
        raise ValueError(
            f"kmeans iterations must be >= 1, got {iterations} "
            f"(the final round is the assignment pass)")
    # tracked: the returned assignments reference this pinned
    # checkpoint, so it is freed by storage.release_tracked() between
    # queries, not here
    from rdfa_streaming_parser_js_spark.operators.storage import (
        checkpoint, track)
    vecs = track(checkpoint(int_vectors(emb, scale)))
    seed = {r.vec_id: list(r.v)
            for r in vecs.filter(F.col("vec_id") < k).collect()}
    missing = [i for i in range(k) if i not in seed]
    if missing:
        raise ValueError(
            f"kmeans seed vectors vec_id={missing} absent from input "
            f"(deterministic seeding uses vec_id 0..k-1; pass a smaller "
            f"k or reindex the vectors)")
    cents = [seed[i] for i in range(k)]

    def assigned_df():
        dist_structs = F.array(*[
            F.struct(
                F.aggregate(
                    F.zip_with("v",
                               F.array(*[F.lit(c) for c in cents[ci]]),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("dist"),
                F.lit(ci).alias("cid"))
            for ci in range(k)])
        return vecs.withColumn(
            "cluster", F.array_min(dist_structs)["cid"])

    for it in range(iterations):
        assigned = assigned_df()
        if it == iterations - 1:
            break
        sums = (assigned
                .select("cluster", F.posexplode("v").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect())
        new_cents = [list(c) for c in cents]  # dangling cluster: keep old
        for r in sums:
            new_cents[r.cluster][r.pos] = math.floor(r.s / r.n)
        cents = new_cents
    return assigned.select("vec_id",
                           F.col("cluster").cast("int").alias("cluster"))


def kmeans_sql(k: int = DEFAULT_K,
               iterations: int = DEFAULT_KMEANS_ITERATIONS,
               scale: int = KMEANS_SCALE, dims: int = 64) -> str:
    """DuckDB oracle: the identical integer Lloyd iteration unrolled."""
    ctes = [
        f"""pos AS (SELECT unnest(generate_series(0, {dims - 1})) AS pos)""",
        f"""v AS (
          SELECT vec_id, pos,
                 CAST(floor(CAST(embedding[pos + 1] AS DOUBLE) * {scale})
                      AS BIGINT) AS val
          FROM embeddings, pos)""",
        f"c0 AS (SELECT vec_id AS cid, pos, val FROM v WHERE vec_id < {k})",
    ]
    for t in range(1, iterations + 1):
        ctes.append(f"""d{t} AS (
          SELECT v.vec_id, c.cid,
                 SUM((v.val - c.val) * (v.val - c.val)) AS dist
          FROM v JOIN c{t - 1} c ON v.pos = c.pos
          GROUP BY v.vec_id, c.cid)""")
        ctes.append(f"""a{t} AS (
          SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d{t}) WHERE rn = 1)""")
        if t < iterations:
            ctes.append(f"""cs{t} AS (
              SELECT a.cluster AS cid, v.pos,
                     SUM(v.val) AS s, COUNT(*) AS n
              FROM a{t} a JOIN v ON v.vec_id = a.vec_id
              GROUP BY a.cluster, v.pos)""")
            ctes.append(f"""c{t} AS (
              SELECT p.cid, p.pos,
                     COALESCE(CAST(floor(s * 1.0 / n) AS BIGINT), p.val)
                         AS val
              FROM c{t - 1} p LEFT JOIN cs{t} s
                ON s.cid = p.cid AND s.pos = p.pos)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT vec_id, CAST(cluster AS INT) AS cluster"
              f" FROM a{iterations}")
