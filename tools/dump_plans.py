"""Regenerate PLANS.md: formatted physical plans of headline queries,
annotated with the scale property each plan is designed for.

Run: python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

NOTES = {
    "rdfa_extract": (
        "Map-only: parquet scan → JVM page synthesis (whole-stage codegen) "
        "→ ArrowEvalPython/MapInArrow. **No Exchange anywhere** — extraction "
        "scales linearly with input splits."),
    "join_revenue_by_nation": (
        "Dimension join: nation broadcast (**BroadcastHashJoin**), "
        "orders↔customer shuffle join sized by AQE; single final "
        "hash-aggregate with map-side partials."),
    "rdfa_graph_canonical": (
        "One shuffle total (groupBy full triple key); provenance min/count "
        "ride the same aggregate — map-side partial aggregation halves "
        "shuffle volume."),
    "dedup_ngram_jaccard": (
        "PPJoin: window ranks shingles by global rarity; only prefixes are "
        "self-joined (small, skew-free buckets); size filter inside the "
        "join condition; exact intersection only for candidates."),
    "filter_revenue": (
        "Filters reach the scan: **PushedFilters** on l_discount/l_quantity; "
        "ReadSchema pruned to 4 of 11 lineitem columns."),
    "embedding_cosine_topk": (
        "Brute-force ANN baseline: codegen'd zip_with/aggregate dot "
        "product, TakeOrderedAndProject top-k — no global sort."),
    "url_canonical_dedup": (
        "Canonicalization itself is pure projection (zero Exchange before "
        "the final count aggregate) — the cheapest dedup pass available: "
        "one codegen'd map over the corpus plus one shuffled count."),
    "bm25_topk": (
        "Posting construction pre-filtered to the query terms (the "
        "explode feeds a filter BEFORE the shuffle, so partials carry a "
        "few rows per matching doc); corpus stats and per-term document "
        "frequencies enter as BroadcastNestedLoopJoin one-row sides; "
        "TakeOrderedAndProject top-k."),
    "kg_pagerank": (
        "Iterative: per round exactly one shuffle (groupBy dst with "
        "map-side partial sums) plus the ranks⋈edges join; lineage cut "
        "by a checkpoint every other round. Integer arithmetic keeps "
        "results bit-identical at any partitioning."),
    "kg_shacl_report": (
        "Shapes are DATA, not plan: one broadcast shapes table joined "
        "against the type slice (focus set) and the property slice "
        "(distinct value rows) — plan size is constant in the number of "
        "shapes; the (focus, shape) pairs left-join their values, then "
        "one aggregate per pair and one explode emit every violation."),
    "kg_void_stats": (
        "Dataset statistics in ONE aggregate: an Expand over the three "
        "grouping sets ((), pred, rdf:type class) feeds the distinct-"
        "aggregate Expand (×5, exact count-distincts) and one keyed "
        "HashAggregate; the vocabulary-sized result is broadcast into a "
        "left join onto one Range row (an empty input still yields the "
        "void:Dataset node) and ONE Generate explodes every triple. No "
        "Union; md5-derived partition IRIs keep the description "
        "byte-stable."),
    "kg_rdfs_entail": (
        "Instance table is NEVER shuffled: ontology closures are "
        "computed once (semi-naive, checkpointed) and every rule joins "
        "them **BroadcastHashJoin**; stratified rule order reaches the "
        "ρdf fixpoint in one pass."),
    "kg_describe_entities": (
        "CBD frontier loop: the (tiny) bnode frontier is broadcast "
        "against the subject column each round — rounds = bnode nesting "
        "depth (DOM-bounded), ONE job per round (the hop's reached-bnode "
        "ids are collected in the job that computes it; the seen set is "
        "driver-side, so round 2+ frontiers are literal LocalTableScans "
        "and the returned union re-runs no frontier jobs), and the "
        "triple table is only ever filtered by join."),
    "kg_asof_snapshot": (
        "Time travel in one Exchange: cutoff filter pushed to the scan "
        "(partition-prunable on a day-partitioned Iceberg table), then "
        "a single url-keyed window keeps the latest visible capture."),
    "kg_exists_filters": (
        "FILTER EXISTS / NOT EXISTS compile to **LeftSemi / LeftAnti** "
        "hash joins on the correlation variable — solution "
        "multiplicities cannot change, probe sides are predicate-pruned "
        "slices, and AQE broadcasts whichever side is small at "
        "runtime.  The §8.1.1 substitution leg (maybe-unbound ?src) "
        "splits the solution by bound-mask: the bound part is one more "
        "LeftSemi on the key, the unbound part a broadcast "
        "non-emptiness gate — still never a multiplying join."),
    "dedup_exact_spans": (
        "Winnowing is pure codegen over per-row arrays (gram md5s, "
        "window minima, rightmost-min anchors — no shuffle, no "
        "Python); the ONE Exchange is the map-side-combinable "
        "groupBy on the anchored-gram hash.  Phase-independent by "
        "construction, so no alignment join is ever needed."),
    "kg_shape_induction": (
        "Type slice ⋈ property slice on the subject key (instance-"
        "sized equi-join), then two keyed HashAggregates with map-side "
        "partials "
        "— per-(class,path,focus) counts, then per-(class,path) "
        "stats.  Output is ontology-sized; class sizes ride a "
        "broadcast join."),
    "kg_graph_fingerprint": (
        "One WL chain over the tagged 3-variant union: per-round "
        "label refinement is 2 keyed HashAggregates (map-side "
        "combined, sorted-multiset signatures) + 2 equi-joins on "
        "(url, node) — maximal-cardinality keys, no hub skew "
        "possible.  Each generation is localCheckpointed and the "
        "previous released (≤2 live), so the plan shows LogicalRDD "
        "scans instead of a 3^rounds lineage blowup.  Final "
        "fingerprint = one groupBy(url) md5 of the sorted triple "
        "multiset."),
    "kg_sparql_nested": (
        "Nested groups stay one join DAG: each nested OPTIONAL / UNION "
        "branch / MINUS body compiles bottom-up to its own "
        "predicate-pruned scan slice, then joins the enclosing "
        "solution on the certainty-checked shared variables — "
        "**SortMergeJoin LeftOuter** for certain-key OPTIONALs, "
        "**LeftAnti** for MINUS, and for the maybe-unbound-?d2 group a "
        "**Union of bound-mask partitions** (each an equi-join or "
        "anti-join; the §18.3 compatibility decomposition). No "
        "cartesian products, no UDFs; AQE broadcast-converts the "
        "small sides at runtime."),
    "turtle_sink": (
        "Serialization is pure projection: the compiled "
        "prefix-compaction CASE chain and ECHAR escaping run inside "
        "WholeStageCodegen — the only Exchange is the graph-set "
        "distinct the sink consumes (and a pre-deduplicated graph "
        "table needs none)."),
    "decontaminate_ngrams": (
        "Benchmark decontamination: corpus grams stay map-side — the "
        "distinct benchmark n-gram set is **BroadcastHashJoin "
        "LeftSemi-shaped** (inner probe) into the exploded grams, so "
        "the 100 TB side is never shuffled; the only Exchanges are "
        "the benchmark distinct (eval-suite-sized) and the "
        "map-side-combinable per-doc count."),
    "text_pii_redaction": (
        "Map-only: the four-detector regexp_replace chain and the "
        "audit regexp_counts are one WholeStageCodegen projection "
        "over the scan — zero Exchange, linear in corpus bytes."),
    "sparql_results_roundtrip": (
        "Results interchange: serializer (concat/CASE or to_json) and "
        "reader (split+regexp or from_json) are both pure projections "
        "in one codegen stage per format leg; the Exchanges belong to "
        "the solution DISTINCT and the left join minting the unbound "
        "?d column, not to the formats — a results dump of an "
        "existing solution table is map-only."),
    "kg_bind_expr": (
        "Extend-order surface: early BINDs, the late "
        "(after-OPTIONAL) COALESCE bind, and the §17.4.1.5 "
        "introspection CASE all fold into projections around the one "
        "**left join** for the OPTIONAL — Catalyst keeps the whole "
        "Extend chain inside the join stage's codegen; no extra "
        "Exchange for any BIND."),
}


def main() -> None:
    from rdfa_streaming_parser_js_spark.plans.explain import plan_string
    from rdfa_streaming_parser_js_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("plans", parallelism=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**e.queries(), **e.extra_queries()}

    print("# PLANS — physical plans of headline queries "
          "(`tools/dump_plans.py`)\n")
    print("Captured at sf0.001; plan SHAPE is scale-independent — AQE "
          "re-sizes shuffles at runtime. Tests in `tests/test_lineage.py` "
          "assert the load-bearing properties (map-only extraction, "
          "broadcast dims, pushdown, column pruning) so they cannot "
          "silently regress.\n")
    for name, note in NOTES.items():
        df = qs[name](spark, SF)
        print(f"## {name}\n\n{note}\n")
        print("```")
        plan = plan_string(df, "formatted")
        # keep the operator tree + scan details, drop long column dumps
        lines = plan.splitlines()
        cut = next((i for i, ln in enumerate(lines)
                    if ln.startswith("(1) ")), len(lines))
        tree = lines[:cut]
        details = [ln for ln in lines[cut:]
                   if any(k in ln for k in
                          ("PushedFilters", "ReadSchema", "Location",
                           "(1) Scan", "Arguments: "))][:12]
        print("\n".join(tree).rstrip())
        if details:
            print("\n-- scan details --")
            print("\n".join(d.strip()[:160] for d in details))
        print("```\n")
    spark.stop()


if __name__ == "__main__":
    main()
