"""GraphCatalog and materialize_graph: bucketed layout, partition-pruned
reads, table overwrite, Iceberg gating."""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
import pytest

from rdfa_streaming_parser_js_spark.operators.canonicalize import (
    GRAPH_BUCKETS, canonicalize_triples, materialize_graph)
from rdfa_streaming_parser_js_spark.operators.extract import extract_triples
from rdfa_streaming_parser_js_spark.plans.explain import plan_string
from rdfa_streaming_parser_js_spark.sources.catalog import (
    GraphCatalog, iceberg_available)
from rdfa_streaming_parser_js_spark.sources.pages import pages_from_documents

SF_DIR = "/root/testdata/sf0.001"


def test_iceberg_gating_is_honest(spark):
    # sandbox has no iceberg runtime: the adapter must detect that
    assert iceberg_available(spark, "kg") is False


def test_write_read_roundtrip_bucketed(spark, tmp_path):
    cat = GraphCatalog(spark, str(tmp_path), n_buckets=8)
    triples = extract_triples(pages_from_documents(spark, SF_DIR))
    cat.write(triples, "triples", bucket_key="subj")
    back = cat.read("triples")
    assert back.count() == triples.count()
    assert back.select("bucket").distinct().count() == 8
    # same subject always lands in the same bucket
    assert (back.groupBy("subj")
            .agg(F.count_distinct("bucket").alias("nb"))
            .filter("nb > 1").count()) == 0


def test_bucket_pruned_point_read(spark, tmp_path):
    cat = GraphCatalog(spark, str(tmp_path), n_buckets=8)
    triples = extract_triples(pages_from_documents(spark, SF_DIR))
    cat.write(triples, "triples", bucket_key="subj")
    subj = triples.select("subj").head().subj
    pruned = cat.read_bucket_of("triples", subj).filter(
        F.col("subj") == subj)
    assert pruned.count() == 7  # the template emits 7 triples per page
    # partition pruning visible in the plan: one bucket dir selected
    plan = plan_string(pruned)
    assert "PartitionFilters" in plan and "bucket" in plan


def test_overwrite_replaces_the_table(spark, tmp_path):
    # an overwrite keeps no bucket of the old table, even ones the new
    # rows never touch (Iceberg's createOrReplace semantics)
    cat = GraphCatalog(spark, str(tmp_path), n_buckets=8)
    cat.write(spark.range(40).selectExpr("CAST(id AS STRING) AS subj"),
              "t", bucket_key="subj")
    assert cat.read("t").select("bucket").distinct().count() == 8
    cat.write(spark.createDataFrame([("x",)], "subj string"), "t",
              bucket_key="subj")
    assert [r.subj for r in cat.read("t").collect()] == ["x"]


# -- materialize_graph: the graph table the batch build writes ------------

@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    """(input, out dir): every extracted row twice, so the write must
    deduplicate, materialized in a job group named after the out dir."""
    t = extract_triples(pages_from_documents(spark, SF_DIR))
    t = t.unionByName(t)
    out = str(tmp_path_factory.mktemp("warehouse") / "graph")
    sc = spark.sparkContext
    sc.setJobGroup(out, "materialize_graph")
    try:
        materialize_graph(t, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return t, out


def test_materialize_graph_rows_are_canonical_triples(spark, graph):
    t, out = graph
    got = spark.read.parquet(out).drop("bucket")
    want = canonicalize_triples(t)
    assert sorted(got.columns) == sorted(want.columns)
    assert got.count() == want.count() == t.count() // 2
    assert got.exceptAll(want.select(got.columns)).count() == 0


def test_materialize_graph_bucket_rule_and_one_file_per_bucket(
        spark, graph):
    _, out = graph
    g = spark.read.parquet(out)
    assert g.filter(F.col("bucket") != F.pmod(F.hash("subj"),
                                             F.lit(GRAPH_BUCKETS))
                    ).count() == 0
    dirs = sorted(Path(out).glob("bucket=*"))
    assert len(dirs) == g.select("bucket").distinct().count() > 1
    assert all(len(list(d.glob("*.parquet"))) == 1 for d in dirs)


def test_materialize_graph_point_read_scans_one_bucket(spark, graph):
    _, out = graph
    cat = GraphCatalog(spark, str(Path(out).parent), n_buckets=GRAPH_BUCKETS)
    g = cat.read("graph")
    subj = g.select("subj").head().subj
    pruned = cat.read_bucket_of("graph", subj)
    assert (pruned.filter(F.col("subj") == subj).count()
            == g.filter(F.col("subj") == subj).count() == 7)
    # the scan's own metrics, after it ran: one bucket dir, one file
    # (``inputFiles()`` lists the whole table: it ignores pruning)
    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    read = {m: scan.metrics().apply(m).value()
            for m in ("numPartitions", "numFiles")}
    assert read == {"numPartitions": 1, "numFiles": 1}
    assert len(g.inputFiles()) > 1


def test_materialize_graph_runs_one_shuffle(spark, graph):
    # Under AQE a shuffle's map stage runs as a job of its own, and the
    # write job lists that stage again (skipped) before its result
    # stage: one shuffle is 2 jobs and 3 stages (two shuffles: 3 and 6).
    _, out = graph
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(out)
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    assert (len(jobs), len(stages)) == (2, 3)
