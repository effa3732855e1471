"""Vectorized RDFa extraction over a pages DataFrame: triples, per-page
stats and per-page text, all from one kernel pass.

The reference is a per-document Node Transform stream (RdfaParser.ts in
the reference parser).  Here the distributed scan IS the source.
:func:`_kernel_pass` is the only ``mapInArrow`` stage: per Arrow batch
it decodes (url, html, lang, content type), runs the pure-Python kernel
once per page, and hands each page's extractor to a small per-page
emitter that appends the caller's computed columns (the triple terms,
the page stats or the page text).  Page-level columns — ``url`` and any
``passthrough`` columns — are not re-emitted through Python: the pass
records each output row's page index and gathers them with ``take``, so
one page row fans out to N output rows as whole Arrow columns.

Scale notes (100 TB / 10^12 pages):
- the stage is map-only: no shuffle, linear in input, embarrassingly
  parallel across pages; Spark schedules one task per input split.
- only the page columns and the passthrough columns are shipped to
  Python — callers keep the scan column-pruned so parquet never
  materializes unused columns.
- blank-node labels are minted by a deterministic per-document counter
  (kernel) then skolemized as ``_:sha256(url || '|' || label)`` so output
  is identical at any parallelism / retry — a process-global counter like
  the reference's would not be.
- every Python task starts with PySpark's ``importlib.invalidate_caches()``,
  which on CPython before 3.13 re-reads the directory of each zip on the
  worker's import path (``pyspark.zip``, the py4j zip, the spark-core
  jar): 120–330 ms a task on a 4-core host, about a third of a
  240-page pass.  ``run`` first calls
  ``worker.skip_unchanged_zip_rereads``, so a reused worker re-reads
  only an archive that changed; the first task of each worker process
  still pays once.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import parse_rdfa
from ..kernel.extractor import RdfaExtractor
from ..kernel.terms import BlankNode, Literal, NamedNode
from ..worker import skip_unchanged_zip_rereads

# Computed columns of each public operator; ``url`` leads every output.
_TRIPLE_FIELDS = pa.schema([(n, pa.string()) for n in (
    "subj", "subj_kind", "pred", "obj_value", "obj_kind", "obj_datatype",
    "obj_lang")])
_STATS_FIELDS = pa.schema([("n_triples", pa.int64()),
                           ("text_chars", pa.int64()),
                           ("parse_error", pa.string())])
_TEXT_FIELDS = pa.schema([("text", pa.string())])

_DDL = {pa.string(): "string", pa.int64(): "long"}


def _ddl(fields: pa.Schema) -> str:
    return ", ".join(["url string"]
                     + [f"{f.name} {_DDL[f.type]}" for f in fields])


TRIPLES_SCHEMA = _ddl(_TRIPLE_FIELDS)

# Emit output batches around this many rows to bound memory.
_OUT_BATCH_ROWS = 8192

# emitter(cols, url, extractor, error) appends one page's computed
# columns and returns how many rows it appended.  ``extractor`` is None
# (and ``error`` set) for a quarantined page.
_Emitter = Callable[[list, str | None, RdfaExtractor | None, str | None],
                    int]


def _skolem(url: str, label: str) -> str:
    return "_:" + hashlib.sha256(f"{url}|{label}".encode()).hexdigest()


def _term_cols(term, url: str):
    """Flatten one RDF term → (value, kind, datatype, lang); a blank
    node's page-local label is skolemized with the page url."""
    if isinstance(term, NamedNode):
        return term.value, "iri", None, None
    if isinstance(term, BlankNode):
        return _skolem(url, term.value), "bnode", None, None
    lit: Literal = term
    return (lit.value, "literal",
            lit.datatype.value if lit.datatype else None, lit.language)


def _emit_triples(cols, url, ex, error) -> int:
    """``extract_triples``' emitter: one row of term columns per triple
    (``tools/kernel_bench.py time --split`` times it alone)."""
    if ex is None:
        return 0
    subj, subj_kind, pred, obj_value, obj_kind, obj_dt, obj_lang = (
        c.append for c in cols)
    for s, p, o in ex.triples:
        sv, sk, _, _ = _term_cols(s, url)
        ov, ok, odt, olang = _term_cols(o, url)
        subj(sv)
        subj_kind(sk)
        pred(p.value)
        obj_value(ov)
        obj_kind(ok)
        obj_dt(odt)
        obj_lang(olang)
    return len(ex.triples)


def _kernel_pass(pages: DataFrame, fields: pa.Schema, emit: _Emitter, *,
                 profile: str, url_col: str, html_col: str,
                 lang_col: str | None, content_type_col: str | None = None,
                 passthrough: tuple[str, ...] = (),
                 vocab: str | None = None) -> DataFrame:
    """pages → (url, *fields, *passthrough), one ``parse_rdfa`` per page.

    Row indices point into the current input batch, so an output batch
    is flushed at the latest when that input batch ends."""
    page_cols = (url_col, html_col, lang_col, content_type_col)
    # mapInArrow resolves its input columns by name, so each absent page
    # column needs a name of its own.
    pruned = pages.select(
        *(F.col(c) if c else F.lit(None).cast("string").alias(f"_absent{k}")
          for k, c in enumerate(page_cols)),
        *passthrough)
    n_page = len(page_cols)
    schema = _ddl(fields) + "".join(
        f", {c} {t}" for c, (_, t) in zip(passthrough,
                                          pruned.dtypes[n_page:]))
    names = ["url", *fields.names, *passthrough]

    def gather(batch: pa.RecordBatch, rows: list[int],
               cols: list[list]) -> pa.RecordBatch:
        idx = pa.array(rows, type=pa.int64())
        return pa.RecordBatch.from_arrays(
            [batch.column(0).take(idx)]
            + [pa.array(c, type=f.type) for c, f in zip(cols, fields)]
            + [batch.column(k).take(idx)
               for k in range(n_page, batch.num_columns)],
            names=names)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        skip_unchanged_zip_rereads()
        for batch in batches:
            urls, htmls, langs, ctypes = (
                batch.column(k).to_pylist() for k in range(n_page))
            rows: list[int] = []  # input page index of each output row
            cols: list[list] = [[] for _ in fields]
            for i, (url, html, lang, ctype) in enumerate(
                    zip(urls, htmls, langs, ctypes)):
                try:
                    ex = parse_rdfa(html or b"", base_iri=url or "",
                                    profile=profile, content_type=ctype,
                                    language=lang or None, vocab=vocab)
                    error = None
                except Exception as e:
                    # Quarantine: a hard kernel failure on an adversarial
                    # page (e.g. mutually-cyclic rdfa:copy patterns
                    # exhaust the replay stack, as the reference's JS
                    # does) reaches the emitter as a page with no
                    # extractor, never as a task failure.  Soft errors
                    # (malformed markup) never land here: the drivers
                    # record them on ``parse_error`` and keep partial
                    # triples.
                    ex, error = None, f"{type(e).__name__}: {e}"[:500]
                rows += [i] * emit(cols, url, ex, error)
                if len(rows) >= _OUT_BATCH_ROWS:
                    yield gather(batch, rows, cols)
                    rows, cols = [], [[] for _ in fields]
            if rows:
                yield gather(batch, rows, cols)

    return pruned.mapInArrow(run, schema)


def extract_triples(pages: DataFrame, profile: str = "html",
                    url_col: str = "url",
                    html_col: str = "html",
                    lang_col: str | None = "lang",
                    content_type_col: str | None = None,
                    passthrough: tuple[str, ...] = (),
                    vocab: str | None = None,
                    default_graph: str | None = None) -> DataFrame:
    """pages(url, html[, lang]) → triples DataFrame (TRIPLES_SCHEMA).

    ``passthrough`` columns (e.g. ``warc_ts`` for the streaming pipeline's
    event-time watermark) are carried through unchanged, repeated on every
    triple of their page — avoiding a post-extraction join back to pages.

    ``content_type_col`` routes each row to its RDFa profile by MIME type
    (text/html → html, application/xhtml+xml → xhtml, image/svg+xml /
    application/xml / text/xml → xml), mirroring the reference's
    contentType option (/root/reference/lib/RdfaProfile.ts:150-161); rows
    with an unmapped/missing content type fall back to ``profile``.

    ``vocab`` seeds the root evaluation context's default vocabulary,
    mirroring the reference's ``vocab`` option
    (/root/reference/lib/RdfaParser.ts:936-939).

    ``default_graph`` mirrors the reference's quad graph term
    (/root/reference/lib/RdfaParser.ts:37,803-811): the parser emits
    quads in one constant graph per run, so the columnar equivalent is
    a constant ``graph`` column appended to the output (omitted — the
    triple default — when None, leaving existing consumers unchanged).
    """
    out = _kernel_pass(pages, _TRIPLE_FIELDS, _emit_triples, profile=profile,
                       url_col=url_col, html_col=html_col,
                       lang_col=lang_col, content_type_col=content_type_col,
                       passthrough=passthrough, vocab=vocab)
    if default_graph is not None:
        out = out.withColumn("graph", F.lit(default_graph))
    return out


def extract_page_stats(pages: DataFrame, profile: str = "html",
                       url_col: str = "url", html_col: str = "html",
                       lang_col: str | None = "lang") -> DataFrame:
    """Per-page diagnostics: triple count, extracted-text length, and the
    recoverable parse error if any (kernel ``parse_error``, the
    per-document analogue of the reference's stream 'error' event).  At
    corpus scale this is the quarantine/monitoring table — broken pages
    are rows here, never task failures."""
    def emit(cols, url, ex, error):
        row = ((0, 0, error) if ex is None else
               (len(ex.triples), len(ex.extracted_text()), ex.parse_error))
        for col, v in zip(cols, row):
            col.append(v)
        return 1

    return _kernel_pass(pages, _STATS_FIELDS, emit, profile=profile,
                        url_col=url_col, html_col=html_col,
                        lang_col=lang_col)


def extract_page_text(pages: DataFrame, profile: str = "html",
                      url_col: str = "url", html_col: str = "html",
                      lang_col: str | None = "lang") -> DataFrame:
    """pages → (url, text) where text is the reference-semantics extracted
    text (the byte-identical-text invariant;
    /root/reference/lib/RdfaParser.ts:592-610,657)."""
    def emit(cols, url, ex, error):
        cols[0].append("" if ex is None else ex.extracted_text())
        return 1

    return _kernel_pass(pages, _TEXT_FIELDS, emit, profile=profile,
                        url_col=url_col, html_col=html_col,
                        lang_col=lang_col)
