"""WARC source: distributed reader for Common Crawl's container format
(ISO 28500 / WARC 1.0).

Real 100 TB crawls arrive as WARC shards (~1 GB of concatenated
records, usually gzipped), not as a pages table — this module is the
ingestion edge that turns those shards into the pipeline's canonical
``(url, warc_ts, html)`` DataFrame, after which everything downstream
(extraction, canonicalization, dedup) is unchanged.

Physical shape: ``spark.read.format("binaryFile")`` yields one row per
shard file; an Arrow-batched ``mapInArrow`` parses records within each
shard.  That matches WARC's own granularity — gzip shards are not
byte-splittable, so the parallel unit IS the file, and a crawl has
millions of them (Common Crawl publishes ~64 000/month).  Memory per
task is bounded by one shard.  Malformed or truncated records are
skipped, never fatal — same quarantine philosophy as the extractor's
``parse_error`` column (a crawl always contains garbage).

The writer half is a driver-side helper for synthesizing test/bench
shards from a pages DataFrame at sandbox scale; production corpora are
already WARC.
"""

from __future__ import annotations

import gzip
import io
import os
import zlib
from collections.abc import Iterator

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from ..plans.lineage import _Checkpoint, _chunks
from ..worker import skip_unchanged_zip_rereads

WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"
_WARC_DATE_SPARK_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
_CRLF2 = b"\r\n\r\n"

WARC_MANIFEST_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("shard", StringType()),
    StructField("n_pages", LongType()),
    StructField("n_triples", LongType()),
    StructField("commit_wall_sec", DoubleType()),
    StructField("committed_at", DoubleType()),
])


# --------------------------------------------------------------------------
# record building / writing (test + bench corpora)
# --------------------------------------------------------------------------

def warc_record_bytes(url: str, date_iso: str, html: bytes) -> bytes:
    """One WARC ``response`` record wrapping an HTTP/1.1 response."""
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: " + str(len(html)).encode() + b"\r\n"
            b"\r\n" + html)
    headers = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: " + url.encode("utf-8") + b"\r\n"
        b"WARC-Date: " + date_iso.encode() + b"\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n"
        b"\r\n")
    return headers + http + _CRLF2


def warcinfo_record_bytes(filename: str) -> bytes:
    """A ``warcinfo`` header record (readers must skip non-response
    types)."""
    body = b"software: synthetic-warc-writer\r\n"
    headers = (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        b"WARC-Filename: " + filename.encode() + b"\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n")
    return headers + body + _CRLF2


def write_warc_shards(pages: DataFrame, out_dir: str,
                      shard_size: int = 1000,
                      compress: bool = False) -> list[str]:
    """Write ``pages`` (url, warc_ts, html) as WARC shard files;
    returns the shard paths.

    Driver-side on purpose: this is the TEST/BENCH corpus synthesizer
    (sandbox scale), not a production sink — real pipelines ingest
    WARC, they don't produce it.  Rows are ordered by url so shard
    contents are deterministic."""
    os.makedirs(out_dir, exist_ok=True)
    rows = (pages.select("url", F.date_format(
        "warc_ts", _WARC_DATE_SPARK_FMT).alias("warc_date"), "html")
        .orderBy("url").collect())
    paths = []
    for shard_i in range(0, len(rows), shard_size):
        n = shard_i // shard_size
        name = f"shard-{n:05d}.warc" + (".gz" if compress else "")
        path = os.path.join(out_dir, name)
        buf = io.BytesIO()
        buf.write(warcinfo_record_bytes(name))
        for r in rows[shard_i:shard_i + shard_size]:
            h = bytes(r.html) if not isinstance(r.html, bytes) else r.html
            buf.write(warc_record_bytes(r.url, r.warc_date, h))
        data = buf.getvalue()
        if compress:
            data = gzip.compress(data, mtime=0)  # deterministic bytes
        with open(path, "wb") as f:
            f.write(data)
        paths.append(path)
    return paths


# --------------------------------------------------------------------------
# parsing
# --------------------------------------------------------------------------

def parse_warc_records(data: bytes) -> Iterator[tuple[str, str, bytes]]:
    """Yield (url, warc_date, html_bytes) from one shard's bytes.

    Content-Length-driven (never splits on markers inside payloads);
    multi-member gzip (Common Crawl's record-per-member layout) and
    whole-file gzip both decompress via ``gzip.decompress``.  Records
    that are malformed, truncated, or not ``response`` type are
    skipped."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)
        except (OSError, EOFError, zlib.error):
            # bad header, truncated member, corrupt deflate stream
            return
    pos, n = 0, len(data)
    while pos < n:
        head_end = data.find(_CRLF2, pos)
        if head_end < 0:
            return
        head = data[pos:head_end]
        if not head.startswith(b"WARC/"):
            # resync: find the next record boundary
            nxt = data.find(b"WARC/1.", pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        fields = {}
        for line in head.split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields.get(b"content-length", b""))
        except ValueError:
            pos = head_end + len(_CRLF2)
            continue
        body_start = head_end + len(_CRLF2)
        body_end = body_start + length
        if body_end > n:
            return  # truncated tail
        if fields.get(b"warc-type") == b"response":
            url = fields.get(b"warc-target-uri", b"").decode(
                "utf-8", errors="replace")
            date = fields.get(b"warc-date", b"").decode("ascii",
                                                        errors="replace")
            payload = data[body_start:body_end]
            http_end = payload.find(_CRLF2)
            html = payload[http_end + len(_CRLF2):] if http_end >= 0 \
                else payload
            if url:
                yield url, date, html
        pos = body_end
        # consume the inter-record CRLFs
        while data.startswith(b"\r\n", pos):
            pos += 2


def read_warc_pages(spark: SparkSession, path: str | list[str],
                    with_shard: bool = False) -> DataFrame:
    """Distributed WARC scan → (url, warc_ts, html[, shard]) pages.

    One task per shard file (binaryFile rows), Arrow-batched record
    parsing, timestamp parsing JVM-side.  Output schema matches
    sources/pages.pages_from_documents, so
    ``extract_triples(read_warc_pages(...))`` is the full
    Common-Crawl-to-KG path.  ``with_shard`` adds the source shard's
    file name — the lineage/partition key for resumable ingestion."""
    import pyarrow as pa

    fields = [
        pa.field("url", pa.string()),
        pa.field("warc_date", pa.string()),
        pa.field("html", pa.binary()),
    ]
    if with_shard:
        fields.append(pa.field("shard", pa.string()))
    out_schema = pa.schema(fields)
    ddl = "url string, warc_date string, html binary" + (
        ", shard string" if with_shard else "")

    def parse_batches(batches):
        skip_unchanged_zip_rereads()
        for batch in batches:
            contents = batch.column("content")
            paths = batch.column("path") if with_shard else None
            urls, dates, htmls, shards = [], [], [], []
            for i in range(len(contents)):
                data = contents[i].as_py()
                shard = (os.path.basename(paths[i].as_py())
                         if with_shard else None)
                for url, date, html in parse_warc_records(data):
                    urls.append(url)
                    dates.append(date)
                    htmls.append(html)
                    if with_shard:
                        shards.append(shard)
            if urls:
                arrays = [pa.array(urls, pa.string()),
                          pa.array(dates, pa.string()),
                          pa.array(htmls, pa.binary())]
                if with_shard:
                    arrays.append(pa.array(shards, pa.string()))
                yield pa.RecordBatch.from_arrays(arrays,
                                                 schema=out_schema)

    cols = ["content"] + (["path"] if with_shard else [])
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*").load(path)
             .select(*cols))
    raw = files.mapInArrow(parse_batches, ddl)
    # try_to_timestamp, not to_timestamp: under Spark 4 ANSI defaults a
    # single non-conforming WARC-Date (WARC 1.1 allows fractional
    # seconds; crawl garbage is routine) would abort the whole scan —
    # the page is kept with a NULL warc_ts instead, per the module's
    # malformed-records-are-skipped-never-fatal contract
    keep = ["url",
            F.try_to_timestamp("warc_date",
                               F.lit(_WARC_DATE_SPARK_FMT))
            .alias("warc_ts"),
            "html"] + (["shard"] if with_shard else [])
    return raw.select(*keep)


# --------------------------------------------------------------------------
# resumable shard-level ingestion
# --------------------------------------------------------------------------

class WarcIngestion(_Checkpoint):
    """Idempotent, resumable WARC → triples ingestion with shard-level
    lineage — the Common-Crawl flavor of plans/lineage.

    The checkpoint unit is the WARC shard file (the crawl's own atomic
    unit: a shard either fully parses or is retried whole).  Each commit
    is ``plans/lineage._Checkpoint._commit``, the same routine as
    ``CheckpointedExtraction``'s, writing ``triples/shard=<file>/``
    with one manifest row per shard.  A restarted run anti-joins the
    manifest and processes exactly the shards without a committed row;
    newly-arrived shards are picked up the same way, so repeated
    invocations ARE the incremental crawl ingestion loop.
    """

    key, schema = "shard", WARC_MANIFEST_SCHEMA

    def __init__(self, warc_dir: str, out_dir: str):
        super().__init__(out_dir)
        self.warc_dir = warc_dir.rstrip("/")

    # -- lineage ----------------------------------------------------------

    def completed_shards(self, spark: SparkSession) -> set[str]:
        return self._completed(spark)

    def list_shards(self, spark: SparkSession) -> list[str]:
        """All shard paths currently in the crawl directory (listing
        only — file CONTENT is never read here)."""
        try:
            rows = (spark.read.format("binaryFile")
                    .option("pathGlobFilter", "*.warc*")
                    .load(self.warc_dir).select("path").collect())
        except Exception:
            return []
        return sorted(r.path for r in rows)

    # -- execution --------------------------------------------------------

    def run(self, spark: SparkSession, shards_per_commit: int = 8,
            stop_after_commits: int | None = None,
            run_id: str | None = None) -> dict:
        """Ingest every shard not yet in the manifest; returns counters
        for this invocation.  ``stop_after_commits`` simulates a
        mid-job crash for restart tests."""
        run_id = run_id or f"warc-{int(time.time() * 1000):x}"
        done = self.completed_shards(spark)
        remaining = [p for p in self.list_shards(spark)
                     if os.path.basename(p) not in done]
        chunks = _chunks(remaining, shards_per_commit, stop_after_commits)
        for chunk in chunks:
            self._commit(read_warc_pages(spark, chunk, with_shard=True),
                         [os.path.basename(p) for p in chunk], run_id,
                         lang_col=None)

        return {"run_id": run_id, "commits": len(chunks),
                "shards_processed": [os.path.basename(p)
                                     for c in chunks for p in c],
                "shards_skipped": sorted(done)}
