"""WARC source tests: record framing, gzip, malformed-input recovery,
and the full WARC → extraction path."""

import gzip

from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.sources.pages import (
    pages_from_documents)
from rdfa_streaming_parser_js_spark.sources.warc import (
    parse_warc_records, read_warc_pages, warc_record_bytes,
    warcinfo_record_bytes, write_warc_shards)

DATE = "2024-01-01T00:00:00Z"


def test_single_record_roundtrip():
    html = b"<html><body>hi</body></html>"
    rec = warc_record_bytes("http://e.org/p", DATE, html)
    got = list(parse_warc_records(rec))
    assert got == [("http://e.org/p", DATE, html)]


def test_payload_with_crlf_crlf_inside():
    """Content-Length framing: body markers must not split records."""
    html = b"<p>a\r\n\r\nWARC/1.0\r\n\r\nb</p>"
    data = (warc_record_bytes("http://e.org/1", DATE, html)
            + warc_record_bytes("http://e.org/2", DATE, b"<i>x</i>"))
    got = list(parse_warc_records(data))
    assert [u for u, _, _ in got] == ["http://e.org/1", "http://e.org/2"]
    assert got[0][2] == html


def test_warcinfo_skipped_and_gzip():
    data = (warcinfo_record_bytes("s.warc")
            + warc_record_bytes("http://e.org/p", DATE, b"<b>y</b>"))
    for blob in (data, gzip.compress(data)):
        got = list(parse_warc_records(blob))
        assert [u for u, _, _ in got] == ["http://e.org/p"]


def test_multi_member_gzip():
    """Common Crawl gzips each record as its own member."""
    m1 = gzip.compress(warcinfo_record_bytes("s.warc"))
    m2 = gzip.compress(warc_record_bytes("http://e.org/a", DATE, b"1"))
    m3 = gzip.compress(warc_record_bytes("http://e.org/b", DATE, b"2"))
    got = list(parse_warc_records(m1 + m2 + m3))
    assert [u for u, _, _ in got] == ["http://e.org/a", "http://e.org/b"]


def test_truncated_tail_skipped():
    full = warc_record_bytes("http://e.org/1", DATE, b"<p>ok</p>")
    trunc = warc_record_bytes("http://e.org/2", DATE, b"<p>lost</p>")[:-20]
    got = list(parse_warc_records(full + trunc))
    assert [u for u, _, _ in got] == ["http://e.org/1"]


def test_garbage_resync():
    rec = warc_record_bytes("http://e.org/1", DATE, b"<p>x</p>")
    got = list(parse_warc_records(b"not warc at all\r\n\r\n" + rec))
    assert [u for u, _, _ in got] == ["http://e.org/1"]
    assert list(parse_warc_records(b"")) == []
    assert list(parse_warc_records(b"\x1f\x8bbroken gzip")) == []


def test_bad_content_length_recovers():
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://e.org/bad\r\n"
           b"Content-Length: nope\r\n\r\n")
    rec = warc_record_bytes("http://e.org/1", DATE, b"<p>x</p>")
    got = list(parse_warc_records(bad + rec))
    assert [u for u, _, _ in got] == ["http://e.org/1"]


def test_spark_roundtrip_exact(spark, sf_dir, tmp_path):
    """write → distributed read: url, warc_ts, html all byte-exact."""
    pages = pages_from_documents(spark, sf_dir)
    write_warc_shards(pages, str(tmp_path), shard_size=7, compress=False)
    back = read_warc_pages(spark, str(tmp_path))
    orig = pages.select("url", "warc_ts", F.col("html").alias("h0"))
    joined = (back.join(orig, ["url", "warc_ts"])
              .withColumn("same", F.col("html") == F.col("h0")))
    rows = joined.collect()
    assert len(rows) == pages.count()
    assert all(r.same for r in rows)


def test_spark_roundtrip_gzip(spark, sf_dir, tmp_path):
    pages = pages_from_documents(spark, sf_dir)
    write_warc_shards(pages, str(tmp_path), shard_size=10, compress=True)
    back = read_warc_pages(spark, str(tmp_path))
    assert back.count() == pages.count()


def test_warc_to_triples(spark, sf_dir, tmp_path):
    """The full Common-Crawl path: WARC shards → pages → RDFa triples
    must equal extraction over the directly-synthesized pages."""
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_triples)
    pages = pages_from_documents(spark, sf_dir)
    write_warc_shards(pages, str(tmp_path), shard_size=16, compress=True)
    # no lang column in WARC pages: the <html lang> attribute carries
    # the language, so triples still come out identical
    via_warc = extract_triples(read_warc_pages(spark, str(tmp_path)),
                               lang_col=None)
    direct = extract_triples(pages)
    cols = ["url", "subj", "pred", "obj_value", "obj_kind", "obj_lang"]
    assert (sorted(map(tuple, via_warc.select(*cols).collect()))
            == sorted(map(tuple, direct.select(*cols).collect())))


def test_warc_ingestion_resume(spark, sf_dir, tmp_path):
    """Crash-and-resume: a run stopped after one commit leaves a
    manifest covering only its shards; the restart processes exactly
    the rest; a third run is a no-op; a newly-arrived shard is picked
    up incrementally.  A shard holding only a warcinfo record commits
    with zero pages and triples, and every shard's manifest counts
    match its own pages and its own triples."""
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_triples)
    from rdfa_streaming_parser_js_spark.sources.warc import (
        WarcIngestion, write_warc_shards)
    warc_dir, out_dir = str(tmp_path / "warc"), str(tmp_path / "out")
    pages = pages_from_documents(spark, sf_dir)
    write_warc_shards(pages, warc_dir, shard_size=130, compress=True)
    with open(f"{warc_dir}/info-only.warc", "wb") as f:
        f.write(warcinfo_record_bytes("info-only.warc"))

    ing = WarcIngestion(warc_dir, out_dir)
    r1 = ing.run(spark, shards_per_commit=2, stop_after_commits=1)
    assert r1["commits"] == 1 and len(r1["shards_processed"]) == 2
    # restart: completes the remaining shards, skips the committed ones
    r2 = ing.run(spark, shards_per_commit=2)
    assert set(r2["shards_skipped"]) == set(r1["shards_processed"])
    assert not set(r2["shards_processed"]) & set(r1["shards_processed"])
    # ingested triples == direct batch extraction over the same pages
    got = ing.triples(spark)
    want = extract_triples(pages)
    assert got.count() == want.count()
    cols = ["url", "subj", "pred", "obj_value"]
    assert (sorted(map(tuple, got.select(*cols).collect()))
            == sorted(map(tuple, want.select(*cols).collect())))
    # converged: nothing left to do
    r3 = ing.run(spark, shards_per_commit=2)
    assert r3["commits"] == 0 and not r3["shards_processed"]
    assert "info-only.warc" in r3["shards_skipped"]
    # incremental arrival: one new shard → exactly one shard processed
    import os
    new_pages = pages.filter("page_id < 5")
    sub = str(tmp_path / "new")
    write_warc_shards(new_pages, sub, shard_size=1000)
    os.rename(f"{sub}/shard-00000.warc", f"{warc_dir}/late-00000.warc")
    r4 = ing.run(spark, shards_per_commit=2)
    assert r4["shards_processed"] == ["late-00000.warc"]
    # metrics: manifest page counts cover every page exactly once
    # (the 5 late-shard pages appear under both their original shard
    # and the late shard, by construction of this test corpus)
    m = ing.manifest(spark)
    assert m.agg(F.sum("n_pages")).head()[0] == pages.count() + 5
    per_shard = {r.shard: (r.n_pages, r.n_triples) for r in m.collect()}
    assert len(per_shard) == m.count()
    assert per_shard["info-only.warc"] == (0, 0)
    shard_pages = dict(read_warc_pages(spark, warc_dir, with_shard=True)
                       .groupBy("shard").count().collect())
    shard_triples = dict(ing.triples(spark).groupBy("shard").count()
                         .collect())
    assert per_shard == {s: (shard_pages.get(s, 0), shard_triples.get(s, 0))
                         for s in per_shard}


# --- property-based fuzz ---------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    @given(st.binary(max_size=4096))
    @settings(max_examples=300, deadline=None)
    def test_fuzz_parser_never_crashes(data):
        """Arbitrary bytes: parse yields a (possibly empty) record list,
        never raises — a crawl always contains garbage."""
        for url, date, html in parse_warc_records(data):
            assert isinstance(url, str) and isinstance(html, bytes)

    @given(st.integers(0, 400), st.binary(max_size=64),
           st.integers(0, 255))
    @settings(max_examples=300, deadline=None)
    def test_fuzz_corrupted_record_stream(cut, payload, flip):
        """A valid record stream with a corrupted/truncated middle
        record still yields the intact leading record and never the
        corrupted one's payload as a crash."""
        good = warc_record_bytes("http://e.org/ok", DATE, b"<p>ok</p>")
        mid = bytearray(warc_record_bytes("http://e.org/mid", DATE,
                                          payload))
        if cut < len(mid):
            mid[cut] = flip  # corrupt one byte
        tail = warc_record_bytes("http://e.org/tail", DATE, b"<i>t</i>")
        got = list(parse_warc_records(bytes(good) + bytes(mid) + tail))
        urls = [u for u, _, _ in got]
        assert urls[0] == "http://e.org/ok"
        assert len(urls) <= 3
except ImportError:  # pragma: no cover - hypothesis always in sandbox
    pass


def test_malformed_warc_date_not_fatal(spark, tmp_path):
    """WARC 1.1 allows fractional-seconds dates and crawls carry
    garbage ones; under ANSI a plain to_timestamp would abort the whole
    scan — the page must instead come through with a NULL warc_ts
    (malformed fields are skipped, never fatal)."""
    recs = (warc_record_bytes("http://e.org/frac",
                              "2017-03-06T04:03:53.264Z",
                              b"<html><body>a</body></html>")
            + warc_record_bytes("http://e.org/garbage",
                                "not-a-date",
                                b"<html><body>b</body></html>")
            + warc_record_bytes("http://e.org/good",
                                "2024-01-01T00:00:00Z",
                                b"<html><body>c</body></html>"))
    (tmp_path / "s.warc").write_bytes(recs)
    back = read_warc_pages(spark, str(tmp_path))
    rows = {r.url: r.warc_ts for r in back.collect()}
    assert set(rows) == {"http://e.org/frac", "http://e.org/garbage",
                         "http://e.org/good"}
    assert rows["http://e.org/good"] is not None
    assert rows["http://e.org/garbage"] is None
