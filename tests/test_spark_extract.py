"""Spark integration: the mapInArrow extraction stage must agree with
(a) the pure-Python kernel called directly (UDF ≡ direct), and
(b) the DuckDB SQL oracle reconstructing expected triples from documents
    (the same comparison the correctness driver performs)."""

from __future__ import annotations

import duckdb
import pytest

from rdfa_streaming_parser_js_spark.kernel import parse_rdfa
from rdfa_streaming_parser_js_spark.operators import (extract_page_text,
                                                      extract_triples)
from rdfa_streaming_parser_js_spark.sources import pages as src
from rdfa_streaming_parser_js_spark.sources.pages import (
    expected_triples_sql, pages_from_documents)

N_SAMPLE = 50


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_from_documents(spark, sf_dir).cache()


def test_pages_schema(pages):
    fields = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert fields == {"page_id": "bigint", "url": "string",
                      "warc_ts": "timestamp", "html": "binary",
                      "text": "string", "lang": "string"}
    assert pages.count() == 500


def test_udf_equals_direct_kernel(pages):
    sample = pages.limit(N_SAMPLE).collect()
    via_spark = extract_triples(
        pages.limit(N_SAMPLE)).orderBy("url", "pred", "obj_value").collect()
    direct = []
    for row in sample:
        ex = parse_rdfa(row.html, base_iri=row.url, profile="html",
                        language=row.lang or None)
        for s, p, o in ex.triples:
            direct.append((row.url, s.value, p.value, o.value))
    got = [(r.url, r.subj, r.pred, r.obj_value) for r in via_spark]
    assert sorted(got) == sorted(direct)


def test_extracted_text_invariant(pages):
    """byte-identical extracted text per url vs the pages.text column."""
    joined = (extract_page_text(pages)
              .withColumnRenamed("text", "extracted")
              .join(pages.select("url", "text"), "url"))
    bad = joined.filter("extracted <> text").count()
    assert bad == 0


def test_matches_duckdb_oracle(pages, sf_dir):
    got = extract_triples(pages).collect()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    expected = con.sql(expected_triples_sql()).fetchall()
    got_set = {tuple(r) for r in got}
    exp_set = {tuple(r) for r in expected}
    assert len(got) == len(expected)
    assert got_set == exp_set


@pytest.mark.parametrize("kind,profile", [
    ("rich", "html"), ("xmlcopy", "html"), ("role_time", "xml")])
def test_short_documents_match_mirror(spark, tmp_path, kind, profile):
    """A document with fewer words than a template uses yields a page
    with empty slots, not a failed job, and the DuckDB mirror agrees."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    texts = ["solo", "two words", "three words here"]
    pq.write_table(pa.table({
        "doc_id": list(range(len(texts))), "text": texts,
        "lang": ["en"] * len(texts), "source": ["src0"] * len(texts),
        "n_chars": [len(t) for t in texts]}),
        tmp_path / "documents.parquet")
    gen = getattr(src, f"{kind}_pages_from_documents")
    got = extract_triples(gen(spark, str(tmp_path)), profile=profile,
                          lang_col=None).collect()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{tmp_path}/documents.parquet'")
    expected = con.sql(
        getattr(src, f"{kind}_expected_triples_sql")()).fetchall()
    assert len(got) == len(expected) > 0
    assert {tuple(r) for r in got} == {tuple(r) for r in expected}


def test_parallelism_invariance(pages):
    """Skolemized output is identical at any partitioning / task layout —
    the distributed replacement for the reference's process-global bnode
    counter (SURVEY.md §1.5)."""
    cols = ["url", "subj", "subj_kind", "pred", "obj_value", "obj_kind"]
    one = extract_triples(pages.repartition(1)).select(*cols)
    many = extract_triples(pages.repartition(16)).select(*cols)
    assert one.exceptAll(many).count() == 0
    assert many.exceptAll(one).count() == 0


def test_bnode_skolemization_deterministic(spark):
    """Pages with blank-node chains get url-scoped stable labels."""
    import pyspark.sql.functions as F
    html = (b'<div prefix="s: http://schema.org/" about="#a" rel="s:x">'
            b'<div rel="s:y"><span property="s:n">v</span></div></div>')
    rows = [(f"http://e.org/p{i}", bytearray(html), "en") for i in range(4)]
    df = spark.createDataFrame(rows, "url string, html binary, lang string")
    out1 = {tuple(r) for r in extract_triples(df).collect()}
    out2 = {tuple(r) for r in extract_triples(df.repartition(4)).collect()}
    assert out1 == out2
    bnodes = {r[1] for r in out1 if r[2] == "bnode"}
    assert len(bnodes) == 8  # two distinct skolem bnodes per page
    assert all(b.startswith("_:") and len(b) == 66 for b in bnodes)


def test_content_type_routing(spark):
    """Per-row MIME routing: html and svg pages in ONE DataFrame, each
    parsed under its profile (reference RdfaProfile.ts:150-161)."""
    html_doc = (b'<html><body><div about="#a" property="dc:title" '
                b'prefix="dc: http://purl.org/dc/terms/">T</div>'
                b'</body></html>')
    svg_doc = (b'<svg xmlns="http://www.w3.org/2000/svg" version="1.2" '
               b'prefix="dc: http://purl.org/dc/terms/">'
               b'<desc property="dc:description">An SVG</desc></svg>')
    df = spark.createDataFrame(
        [("http://e.org/h", bytearray(html_doc), "text/html"),
         ("http://e.org/s", bytearray(svg_doc), "image/svg+xml")],
        "url string, html binary, ctype string")
    got = extract_triples(df, lang_col=None, content_type_col="ctype")
    rows = {(r.url, r.pred): r.obj_value for r in got.collect()}
    assert rows[("http://e.org/h",
                 "http://purl.org/dc/terms/title")] == "T"
    assert rows[("http://e.org/s",
                 "http://purl.org/dc/terms/description")] == "An SVG"


def test_vocab_option_seeds_default_vocabulary(spark):
    """Reference `vocab` option (RdfaParser.ts:936-939): bare terms
    resolve against the configured default vocabulary."""
    html = b'<div about="#a"><span property="name">N</span></div>'
    df = spark.createDataFrame(
        [("http://e.org/v", bytearray(html), "en")],
        "url string, html binary, lang string")
    got = extract_triples(df, vocab="http://schema.org/").collect()
    assert {r.pred for r in got} == {"http://schema.org/name"}
    # without the vocab, the bare term does not resolve to a triple
    assert extract_triples(df).count() == 0


def test_default_graph_appends_constant_column(spark):
    """Reference defaultGraph option (RdfaParser.ts:37,803-811): one
    constant graph per run -> a constant `graph` column; omitted (the
    triple default) when not requested."""
    html = (b'<div about="#a" property="dc:t" '
            b'prefix="dc: http://purl.org/dc/terms/">T</div>')
    df = spark.createDataFrame(
        [("http://e.org/g", bytearray(html), "en")],
        "url string, html binary, lang string")
    plain = extract_triples(df)
    assert "graph" not in plain.columns
    quads = extract_triples(df, default_graph="http://e.org/graphs/g1")
    assert quads.columns[-1] == "graph"
    assert {r.graph for r in quads.collect()} == {"http://e.org/graphs/g1"}


def test_page_stats_quarantine(spark):
    """Broken xml pages land as diagnostic rows, not task failures."""
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_page_stats)
    ok = b'<svg xmlns="http://www.w3.org/2000/svg" property="dc:title" about="" prefix="dc: http://purl.org/dc/terms/">T</svg>'
    broken = b'</div><div>not well-formed'
    df = spark.createDataFrame(
        [("http://e.org/ok", bytearray(ok), None),
         ("http://e.org/bad", bytearray(broken), None)],
        "url string, html binary, lang string")
    rows = {r.url: r for r in
            extract_page_stats(df, profile="xml").collect()}
    assert rows["http://e.org/ok"].parse_error is None
    assert rows["http://e.org/ok"].n_triples == 1
    assert rows["http://e.org/bad"].parse_error is not None
    assert rows["http://e.org/bad"].n_triples == 0


def test_hard_kernel_failure_is_quarantined_not_task_failure(spark):
    """A page whose patterns form a MUTUAL rdfa:copy cycle exhausts the
    replay stack (RecursionError — the reference's JS throws a
    RangeError the same way, its cyclic guard at RdfaParser.ts:855-858
    only cuts direct self-cycles).  At 10^12-page scale one adversarial
    page must not fail the job: extract_triples quarantines it (zero
    triples), extract_page_stats records the error, extract_page_text
    yields empty text — and healthy pages in the same batch are
    unaffected."""
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_page_stats)
    cyclic = (b'<html><body prefix="schema: http://schema.org/">'
              b'<div resource="#a" typeof="rdfa:Pattern">'
              b'<link property="rdfa:copy" href="#b"/></div>'
              b'<div resource="#b" typeof="rdfa:Pattern">'
              b'<link property="rdfa:copy" href="#a"/></div>'
              b'<div typeof="schema:Person">'
              b'<link property="rdfa:copy" href="#a"/></div>'
              b'</body></html>')
    # @content supplies the literal, so the element text is NOT consumed
    # and survives into extracted_text()
    ok = (b'<html><body prefix="schema: http://schema.org/">'
          b'<div about="#it" property="schema:name" content="n">fine'
          b'</div></body></html>')
    df = spark.createDataFrame(
        [("http://e.org/cyclic", bytearray(cyclic), None),
         ("http://e.org/ok", bytearray(ok), None)],
        "url string, html binary, lang string")
    trips = extract_triples(df).collect()
    assert {r.url for r in trips} == {"http://e.org/ok"}
    stats = {r.url: r for r in extract_page_stats(df).collect()}
    assert stats["http://e.org/cyclic"].n_triples == 0
    assert "RecursionError" in stats["http://e.org/cyclic"].parse_error
    assert stats["http://e.org/ok"].n_triples == 1
    texts = {r.url: r.text for r in extract_page_text(df).collect()}
    assert texts["http://e.org/cyclic"] == ""
    assert texts["http://e.org/ok"] == "fine"


def test_shared_pass_gathers_page_columns_across_flushes(spark):
    """One input batch whose middle page yields more than _OUT_BATCH_ROWS
    triples, so an output batch is flushed mid-batch: every triple row
    still carries its own page's url and passthrough values, the rows
    equal direct parse_rdfa output in page order, and
    extract_page_stats (run with no lang and no content-type column)
    counts the same rows per url."""
    import datetime
    import hashlib
    from collections import Counter

    from rdfa_streaming_parser_js_spark.kernel.terms import (BlankNode,
                                                             Literal)
    from rdfa_streaming_parser_js_spark.operators.extract import (
        _OUT_BATCH_ROWS, extract_page_stats)

    head = b'<div prefix="s: http://schema.org/" about="#a">'
    big = head + b"".join(b'<span property="s:n">v%d</span>' % k
                          for k in range(_OUT_BATCH_ROWS + 500)) + b"</div>"
    small = (head + b'<span property="s:n" lang="fr">chat</span>'
             b'<span property="s:d" datatype="s:Date">2020</span>'
             b'<div rel="s:x"><span property="s:n">b</span></div></div>')
    docs = [small, big, small, b"<p>no rdfa</p>", small]
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(f"http://e.org/p{i}", bytearray(h), None, 10 * i,
             t0 + datetime.timedelta(hours=i)) for i, h in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "url string, html binary, lang string, bucket long, "
              "warc_ts timestamp").coalesce(1)
    page = {r[0]: (r[3], r[4]) for r in rows}

    got = extract_triples(df, passthrough=("bucket", "warc_ts")).collect()
    assert len(got) > _OUT_BATCH_ROWS
    assert all((r.bucket, r.warc_ts) == page[r.url] for r in got)

    def flat(term, url):
        if isinstance(term, BlankNode):
            label = hashlib.sha256(f"{url}|{term.value}".encode())
            return "_:" + label.hexdigest(), "bnode", None, None
        if isinstance(term, Literal):
            dt = term.datatype.value if term.datatype else None
            return term.value, "literal", dt, term.language
        return term.value, "iri", None, None

    direct = []
    for url, html, *_ in rows:
        for s, p, o in parse_rdfa(bytes(html), base_iri=url).triples:
            direct.append((url, *flat(s, url)[:2], p.value, *flat(o, url)))
    assert [tuple(r)[:8] for r in got] == direct
    assert {r.obj_kind for r in got} == {"literal", "bnode"}

    per_url = Counter(r.url for r in got)
    stats = {r.url: r.n_triples
             for r in extract_page_stats(df, lang_col=None).collect()}
    assert stats == {url: per_url.get(url, 0) for url in page}
    assert stats["http://e.org/p3"] == 0
