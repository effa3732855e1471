"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "triples_per_sec": ...,
   "pages_per_sec": ..., "parallelism": N}

The flagship metric is RDFa extraction throughput (triples/sec) over an
amplified synthetic page corpus (PAGE_COPIES × documents rows); the
relational/dedup/similarity queries time the rest of the operator
inventory.  Scaling-efficiency evidence (same job at local[8] vs
local[32]) is produced by tools/scaling_bench.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# 64 copies ≈ 320k pages: each timed pass runs ~4-6 s, long enough that
# per-job fixed costs (task scheduling, count agg) stop dominating — the
# honest steady-state estimate for a job whose real tasks run for hours.
# At 16 copies the pass is ~1.9 s and ~half the wall is fixed overhead.
PAGE_COPIES = int(os.environ.get("SPARK_GRAFT_PAGE_COPIES", "64"))
# Median-of-N per query: the sandbox shows noisy-neighbor swings up to
# ~4x on shuffle-heavy queries; a single pass recorded 43.9 s in round 1
# for a query whose best-observed time is 4.8 s.
TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))


def force(df) -> int:
    """Fully execute a plan; returns row count (cheap single agg)."""
    return df.count()


def skew_main() -> None:
    """``bench.py --skew``: hub-heavy stress for the skew-sensitive
    operators.  The per-round bench corpus is UNIFORM (every page
    contributes the same 7 triples), so AQE skew handling and the
    star-shaped CC/resolution paths are plan-asserted but never
    data-stressed; this mode times each probe on two SAME-SIZE inputs
    — uniform vs one hub entity owning ~10% of all rows — and reports
    ``skew_ratio = t(hub)/t(uniform)`` (≈1 = skew-immune; a blowup
    here is the regression the uniform bench cannot see).  Probes:

    - ``cc_star``: alternating large/small-star CC over 2M edges;
      hub variant wires 10% of all edges into one giant star.
    - ``degree_agg``: groupBy-count over the same edges (the classic
      skewed aggregation; partial aggregation must absorb the hub).
    - ``sameas_resolution``: graph rewrite onto canonical ids where
      one sameAs cluster holds 10% of all aliases.

    Writes BENCH_SKEW.json and prints one compact JSON line."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_edges = int(os.environ.get("SPARK_GRAFT_SKEW_EDGES", "2000000"))

    from pyspark.sql import functions as F

    from rdfa_streaming_parser_js_spark.operators.components import (
        connected_components_star)
    from rdfa_streaming_parser_js_spark.operators.resolution import (
        resolve_same_as)
    from rdfa_streaming_parser_js_spark.operators.storage import (
        release_tracked)
    from rdfa_streaming_parser_js_spark.session import get_spark

    spark = get_spark("bench-skew", parallelism=cpus,
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    # Both variants are unions of STARS (diameter ≤ 2 before
    # symmetrization), so the star-CC round count is identical and the
    # ONLY difference is key balance: uniform = n/100 clusters of 100
    # (node i links its cluster center), hub = the same topology with
    # 10% of all edges rewired onto one center.  A diameter-varying
    # "uniform" (rings, random permutations) would measure round count,
    # not skew.
    def edges(hub: bool):
        center = F.col("id") - F.col("id") % 100
        if hub:
            center = (F.when(F.col("id") % 10 == 0, F.lit(0))
                      .otherwise(center))
        return spark.range(n_edges).select(
            F.concat(F.lit("n"), F.col("id")).alias("id_a"),
            F.concat(F.lit("n"), center).alias("id_b"))

    def sameas(hub: bool):
        # alias stars: every subject aliases its cluster canonical id;
        # hub variant points 10% of all subjects at ONE canonical
        # entity; plus one data row per subject the rewrite must
        # relabel
        pred = "http://www.w3.org/2002/07/owl#sameAs"
        canon = F.col("id") - F.col("id") % 100
        if hub:
            canon = (F.when(F.col("id") % 10 == 0, F.lit(0))
                     .otherwise(canon))
        base = spark.range(n_edges // 10).select(
            F.concat(F.lit("e"), "id").alias("subj"),
            F.lit("iri").alias("subj_kind"),
            F.lit(pred).alias("pred"),
            F.concat(F.lit("e"), canon).alias("obj_value"),
            F.lit("iri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"))
        data = spark.range(n_edges // 10).select(
            F.concat(F.lit("e"), "id").alias("subj"),
            F.lit("iri").alias("subj_kind"),
            F.lit("http://example.org/p").alias("pred"),
            F.concat(F.lit("v"), "id").alias("obj_value"),
            F.lit("literal").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"))
        return base.unionByName(data)

    probes = {
        "cc_star": lambda hub: connected_components_star(edges(hub)),
        "degree_agg": lambda hub: (edges(hub).groupBy("id_a")
                                   .count()),
        "sameas_resolution": lambda hub: resolve_same_as(sameas(hub)),
    }
    out = {"metric": "skew stress (hub=10% of rows) t(hub)/t(uniform)",
           "n_edges": n_edges, "parallelism": cpus,
           "loadavg": round(os.getloadavg()[0], 1), "probes": {}}
    for name, fn in probes.items():
        times = {}
        for variant in ("uniform", "hub"):
            trials = []
            for _ in range(TRIALS):
                t0 = time.time()
                force(fn(variant == "hub"))
                trials.append(time.time() - t0)
                release_tracked()
            times[variant] = round(statistics.median(trials), 3)
        out["probes"][name] = {
            **times,
            "skew_ratio": round(times["hub"]
                                / max(times["uniform"], 1e-9), 2)}
    spark.stop()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_SKEW.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from rdfa_streaming_parser_js_spark.session import get_spark
    import __spark_entry__ as entrymod
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_triples)
    from rdfa_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)

    spark = get_spark("bench", parallelism=cpus,
                      shuffle_partitions=max(cpus, 16),
                      arrow_batch_rows=2048)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    ranges: dict[str, list[float]] = {}
    loads: dict[str, float] = {}
    load_start = round(os.getloadavg()[0], 1)
    # retired-from-gate-window queries stay benchable (continuity with
    # BENCH_r01/r02 per-query medians)
    qs = {**entrymod.queries(), **entrymod.extra_queries()}

    # --- flagship: extraction throughput over amplified corpus ----------
    # Measure warm steady-state throughput: a 100 TB job runs for hours,
    # so the one-time Python-worker fork+import cost (~0.5 s/worker) is
    # noise there but would dominate a seconds-long sandbox measurement.
    # Warm the workers on a small slice first, then time the real pass
    # over pre-materialized (cached) pages so extraction — not parquet
    # read + page synthesis — is what's on the clock.
    pages = (pages_from_documents(spark, sf_dir, copies=PAGE_COPIES)
             .repartition(cpus * 2).cache())
    n_pages = pages.count()
    force(extract_triples(pages))  # untimed warmup pass over all workers
    extract_trials = []
    for _ in range(TRIALS):
        t0 = time.time()
        n_triples = force(extract_triples(pages))
        extract_trials.append(time.time() - t0)
    extract_sec = statistics.median(extract_trials)
    timings["rdfa_extract_amplified"] = round(extract_sec, 3)
    ranges["rdfa_extract_amplified"] = [
        round(min(extract_trials), 3), round(max(extract_trials), 3)]
    pages.unpersist()  # don't let the page cache crowd the suite queries

    # end-to-end: checkpointed extraction -> canonicalize -> bucketed
    # graph write (the spark-submit pipeline's core path)
    import shutil
    import tempfile
    from rdfa_streaming_parser_js_spark.operators.canonicalize import (
        materialize_graph)
    from rdfa_streaming_parser_js_spark.plans.lineage import (
        CheckpointedExtraction)
    e2e_trials = []
    for _ in range(TRIALS):
        tmp = tempfile.mkdtemp(prefix="bench_kg_")
        try:
            t0 = time.time()
            ck = CheckpointedExtraction(f"{tmp}/extract", n_buckets=32)
            ck.run(pages_from_documents(spark, sf_dir),
                   buckets_per_commit=32)
            materialize_graph(ck.triples(spark), f"{tmp}/graph")
            e2e_trials.append(time.time() - t0)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    timings["pipeline_e2e_sf_pages"] = round(
        statistics.median(e2e_trials), 3)
    ranges["pipeline_e2e_sf_pages"] = [
        round(min(e2e_trials), 3), round(max(e2e_trials), 3)]

    # --- operator suite ---------------------------------------------------
    bench_queries = [
        "rdfa_graph_canonical", "rdfa_extract_role_time",
        "entity_link_top1",
        "agg_events_by_type", "join_revenue_by_nation",
        "window_latest_event_per_user", "topk_parts_by_quantity",
        "customers_without_orders", "filter_revenue",
        "agg_lineitem_pricing", "windowed_event_counts",
        "sessionize_events", "rollup_orders", "percentiles_by_event_type",
        "embedding_lsh_topk", "multimodal_frame_sample",
        "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "dedup_simhash", "dedup_simhash_pairs",
        "embedding_cosine_topk", "embedding_near_dup",
        "text_quality", "text_fingerprint", "multimodal_decode_meta",
        "text_repetition", "url_canonical_dedup",
        "kg_degrees", "kg_pagerank", "warc_roundtrip", "warc_to_graph",
        "bm25_topk", "dedup_clusters_star", "corpus_curation",
        "embedding_kmeans",
        # round-3 SPARQL/KG slab
        "kg_path_list_members", "kg_sameas_resolution", "kg_rdfs_entail",
        "kg_describe_entities", "kg_shacl_report", "kg_void_stats",
        "kg_skolemized_graph", "kg_property_coverage", "kg_asof_snapshot",
        "nquads_roundtrip",
        # round-4 additions
        "kg_group_concat_keywords", "kg_ask_patterns", "text_chunking",
        "kg_path_zero_or_one", "kg_entity_table_multi",
        "graph_table_roundtrip", "kg_values_lang_label",
        "kg_exists_filters", "kg_bind_expr", "kg_sparql_select",
        "kg_sparql_update", "kg_owl_entail", "kg_maintenance_stream",
        "kg_ifp_resolution", "turtle_sink", "turtle_roundtrip",
        "kg_term_constructors", "kg_sparql_nested",
        "kg_graph_fingerprint", "dedup_exact_spans",
        "kg_shape_induction",
        # round-5 additions
        "kg_sparql_update_graph", "kg_sparql_values_term",
        "json_nodes_roundtrip", "entity_link_fuzzy",
        "sparql_results_roundtrip", "decontaminate_ngrams",
        "text_pii_redaction",
    ]
    from rdfa_streaming_parser_js_spark.operators.storage import (
        release_tracked)
    for name in bench_queries:
        trials = []
        qloads = []
        for _ in range(TRIALS):
            qloads.append(os.getloadavg()[0])
            t0 = time.time()
            force(qs[name](spark, sf_dir))
            trials.append(time.time() - t0)
            # release pinned frames (checkpoints, DISK_ONLY shingle
            # blocks) so repeated trials don't accumulate executor
            # storage (and each trial is honest: no cross-trial cache
            # reuse inside an operator)
            release_tracked()
        timings[name] = round(statistics.median(trials), 3)
        ranges[name] = [round(min(trials), 3), round(max(trials), 3)]
        loads[name] = round(statistics.median(qloads), 1)

    total = round(sum(timings.values()), 3)

    # --- two-point scale check ---------------------------------------
    # The same suite at a ~10x-smaller sf: a single-scale bench cannot
    # see super-linear blowups (the regression class most likely to
    # hide in the closure/CC queries).  scale_ratio = t(big)/t(small);
    # with 10x the data anything well beyond ~10x plus fixed overhead
    # is a scaling bug.  Small-scale runs are fixed-cost-dominated, so
    # ratios BELOW the data ratio are expected and fine.
    scale_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR",
                               "/root/testdata/sf0.01")
    scale_ratio: dict[str, float] = {}
    small_timings: dict[str, float] = {}
    if scale_dir != sf_dir and os.path.isdir(scale_dir):
        for name in bench_queries:
            trials = []
            for _ in range(TRIALS):
                t0 = time.time()
                force(qs[name](spark, scale_dir))
                trials.append(time.time() - t0)
                release_tracked()
            small = statistics.median(trials)
            small_timings[name] = round(small, 3)
            scale_ratio[name] = round(timings[name] / max(small, 1e-9), 2)

    # ALL per-query maps (medians, ranges, loadavg, small-scale medians,
    # scale ratios) go to a SIDE file.  The driver captures only a
    # 2,000-char tail of stdout: round 2 shipped parsed:null because the
    # inline ranges outgrew it, and round 4 shipped parsed:null AGAIN
    # because the per-query medians map alone (68 queries + scale
    # ratios) passed ~4.5k chars.  The printed final line is therefore a
    # COMPACT headline (≤1,500 chars, asserted below) and must remain
    # the LAST line; everything per-query lives in BENCH_RANGES.json.
    side = {"query_medians": timings, "query_ranges": ranges,
            "query_loadavg": loads, "trials_per_query": TRIALS,
            "scale_ratio": scale_ratio,
            "scale_small_sec": small_timings,
            "scale_small_sf": scale_dir}
    side_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_RANGES.json")
    try:
        with open(side_path, "w") as f:
            json.dump(side, f, indent=1, sort_keys=True)
    except OSError:
        side_path = "(unwritable)"
    max_ratio_q = (max(scale_ratio, key=scale_ratio.get)
                   if scale_ratio else None)
    out = {
        "metric": "headline suite wall time (flagship: RDFa extraction "
                  "triples/sec over synthetic Common-Crawl-style pages)",
        "value": total,
        "unit": "sec",
        # flagship timings only — the full 68-query map is in the
        # detail file (inline it would overflow the driver tail again)
        "queries": {
            "rdfa_extract_amplified": timings["rdfa_extract_amplified"],
            "pipeline_e2e_sf_pages": timings["pipeline_e2e_sf_pages"],
        },
        "n_queries": len(timings),
        "sf": sf_dir,
        "n_pages": n_pages,
        "n_triples": n_triples,
        "pages_per_sec": round(n_pages / extract_sec, 1),
        "triples_per_sec": round(n_triples / extract_sec, 1),
        "parallelism": cpus,
        "loadavg": [load_start, round(os.getloadavg()[0], 1)],
        "max_scale_ratio": (
            {"query": max_ratio_q, "ratio": scale_ratio[max_ratio_q],
             "small_sf": scale_dir} if max_ratio_q else None),
        "detail_file": side_path,
        "scaling_evidence": "tools/scaling_bench.py (see BENCH.md)",
        "note": f"median-of-{TRIALS}; per-query medians/ranges/loadavg/"
                "scale ratios in the detail_file",
    }
    spark.stop()
    line = json.dumps(out)
    # hard guarantee for the driver's 2,000-char tail capture
    assert len(line) <= 1500, f"final bench line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    if "--skew" in sys.argv[1:]:
        skew_main()
    else:
        main()
