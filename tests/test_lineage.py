"""Checkpoint/lineage/resume (plans.lineage) + plan-shape assertions
(plans.explain).  North-rule: restart from checkpoint must complete with
identical triple counts, skipping committed partitions."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rdfa_streaming_parser_js_spark.operators.extract import extract_triples
from rdfa_streaming_parser_js_spark.plans.explain import (
    assert_map_only, count_exchanges, has_broadcast_join,
    has_pushed_filter, plan_string, scan_read_schema)
from rdfa_streaming_parser_js_spark.plans.lineage import (
    CheckpointedExtraction)
from rdfa_streaming_parser_js_spark.sources.pages import pages_from_documents

SF_DIR = "/root/testdata/sf0.001"
N_BUCKETS = 8


@pytest.fixture(scope="module")
def pages(spark):
    return pages_from_documents(spark, SF_DIR).cache()


def test_resume_completes_with_identical_counts(spark, pages, tmp_path):
    full = extract_triples(pages)
    expected_total = full.count()

    ck = CheckpointedExtraction(str(tmp_path / "kg"), n_buckets=N_BUCKETS)
    # First attempt "dies" after 1 commit (2 buckets done).
    r1 = ck.run(pages, buckets_per_commit=2, stop_after_commits=1,
                run_id="attempt-1")
    assert r1["commits"] == 1
    assert len(r1["buckets_processed"]) == 2
    done_after_crash = ck.completed_buckets(spark)
    assert done_after_crash == set(r1["buckets_processed"])

    # Restart: processes ONLY the remaining buckets.
    r2 = ck.run(pages, buckets_per_commit=3, run_id="attempt-2")
    assert set(r2["buckets_skipped"]) == done_after_crash
    assert not set(r2["buckets_processed"]) & done_after_crash
    assert ck.completed_buckets(spark) == set(range(N_BUCKETS))

    # Identical output vs single-shot extraction.
    got = ck.triples(spark)
    assert got.count() == expected_total
    key = ["url", "subj", "pred", "obj_value"]
    assert full.select(key).exceptAll(got.select(key)).count() == 0

    # Lineage metrics: every bucket accounted for, totals add up.
    m = ck.metrics(spark).collect()
    assert {r.bucket for r in m} == set(range(N_BUCKETS))
    assert sum(r.n_triples for r in m) == expected_total
    n_pages = pages.count()
    assert sum(r.n_pages for r in m) == n_pages


def test_rerun_is_noop_and_reprocess_is_idempotent(spark, pages, tmp_path):
    ck = CheckpointedExtraction(str(tmp_path / "kg"), n_buckets=4)
    ck.run(pages, buckets_per_commit=4, run_id="a")
    total = ck.triples(spark).count()
    r = ck.run(pages, run_id="b")
    assert r["commits"] == 0 and r["buckets_processed"] == []
    assert ck.triples(spark).count() == total

    # Simulate a lost manifest for bucket 0 (partial data already on
    # disk): dynamic partition overwrite must replace, not duplicate.
    import shutil
    shutil.rmtree(f"{ck.manifest_dir}")
    ck2 = CheckpointedExtraction(ck.out_dir, n_buckets=4)
    ck2.run(pages, buckets_per_commit=4, run_id="c")
    assert ck2.triples(spark).count() == total


def test_manifest_counts_each_bucket(spark, tmp_path):
    """Every bucket's manifest row counts that bucket's input pages —
    a quarantined page (mutual rdfa:copy cycle) and a page without RDFa
    included — and exactly the rows under its triples/bucket=K dir."""
    from rdfa_streaming_parser_js_spark.plans.lineage import url_bucket
    cyclic = (b'<html><body prefix="schema: http://schema.org/">'
              b'<div resource="#a" typeof="rdfa:Pattern">'
              b'<link property="rdfa:copy" href="#b"/></div>'
              b'<div resource="#b" typeof="rdfa:Pattern">'
              b'<link property="rdfa:copy" href="#a"/></div>'
              b'<div typeof="schema:Person">'
              b'<link property="rdfa:copy" href="#a"/></div>'
              b'</body></html>')
    plain = b"<html><body><p>no RDFa here</p></body></html>"

    def normal(n):  # a page with n schema:name triples
        return (b'<html><body prefix="schema: http://schema.org/">'
                + b"".join(b'<span about="#it" property="schema:name">'
                           b'n%d</span>' % i for i in range(n))
                + b"</body></html>")

    rows = [("http://e.org/cyclic", bytearray(cyclic), None),
            ("http://e.org/plain", bytearray(plain), None)]
    rows += [(f"http://e.org/p{i}", bytearray(normal(i % 3 + 1)), None)
             for i in range(10)]
    df = spark.createDataFrame(rows, "url string, html binary, lang string")
    want_pages = dict(df.groupBy(url_bucket(4).alias("b")).count().collect())
    assert len(want_pages) >= 3  # the pages really spread across buckets

    ck = CheckpointedExtraction(str(tmp_path / "kg"), n_buckets=4)
    ck.run(df, buckets_per_commit=2, run_id="m")
    manifest = {r.bucket: r for r in ck.manifest(spark).collect()}
    assert sorted(manifest) == [0, 1, 2, 3]
    for b, r in manifest.items():
        assert r.n_pages == want_pages.get(b, 0), b
        try:
            on_disk = spark.read.parquet(
                f"{ck.triples_dir}/bucket={b}").count()
        except Exception:  # no triples at all: no bucket=K dir
            on_disk = 0
        assert r.n_triples == on_disk, b
    assert sum(r.n_pages for r in manifest.values()) == len(rows)
    assert sum(r.n_triples for r in manifest.values()) == sum(
        i % 3 + 1 for i in range(10))


def test_extraction_plan_is_map_only(spark, pages):
    assert_map_only(extract_triples(pages))
    assert count_exchanges(extract_triples(pages)) == 0


def test_canonicalize_is_single_shuffle(spark, pages):
    from rdfa_streaming_parser_js_spark.operators.canonicalize import (
        canonicalize_triples)
    # distinct-with-provenance must be ONE exchange (partial agg before)
    assert count_exchanges(canonicalize_triples(
        extract_triples(pages))) == 1


def test_pages_scan_prunes_columns(spark):
    # extract_triples must not drag unused document columns into the scan.
    triples = extract_triples(pages_from_documents(spark, SF_DIR))
    schemas = scan_read_schema(triples)
    assert schemas, "no ReadSchema in plan"
    assert all("n_chars" not in s for s in schemas), schemas


def test_nation_join_broadcasts(spark):
    import __spark_entry__ as e
    assert has_broadcast_join(e.q_join_revenue_by_nation(spark, SF_DIR))


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 24).select("l_orderkey")
    assert has_pushed_filter(q, "l_quantity"), plan_string(q)
