"""Differential tests: FastHtmlSaxDriver must produce the same triples
and extracted text as the stdlib-based HtmlSaxDriver on the entire
fixture corpus, on seeded tag soup, and under arbitrary chunking."""

from __future__ import annotations

import hashlib
import json
import random
from pathlib import Path

import pytest

from rdfa_streaming_parser_js_spark.kernel import RdfaExtractor
from rdfa_streaming_parser_js_spark.kernel.fast_driver import (
    FastHtmlSaxDriver)
from rdfa_streaming_parser_js_spark.kernel.html_driver import HtmlSaxDriver
from rdfa_streaming_parser_js_spark.kernel.isomorphism import (
    flatten_triples, isomorphic)
from rdfa_streaming_parser_js_spark.kernel.profiles import RdfaFeatures

CASES = json.loads(
    (Path(__file__).parent / "fixtures" / "rdfa_cases.json").read_text()
)["cases"]
HTML_CASES = [c for c in CASES
              if c["options"].get("profile", "") != "xml"
              and c["options"].get("content_type") is None]


def _run(driver_cls, html, opts):
    features = (RdfaFeatures(**opts["features"])
                if "features" in opts else None)
    ex = RdfaExtractor(base_iri=opts.get("base_iri", ""),
                       profile=opts.get("profile", "html") or "html",
                       language=opts.get("language"),
                       vocab=opts.get("vocab"), features=features)
    d = driver_cls(ex)
    d.feed(html)
    d.finish()
    return flatten_triples(ex.triples), ex.extracted_text()


@pytest.mark.parametrize("case", HTML_CASES,
                         ids=[c["name"][:60] for c in HTML_CASES])
def test_fixture_parity(case):
    slow = _run(HtmlSaxDriver, case["html"], case["options"])
    fast = _run(FastHtmlSaxDriver, case["html"], case["options"])
    assert fast == slow


TAGS = ["div", "span", "p", "li", "meta", "base", "time", "a", "head",
        "body", "html", "svg", "title", "script", "style", "table",
        "tr", "td"]
ATTRS = ["about", "resource", "property", "rel", "typeof", "prefix",
         "vocab", "content", "datatype", "datetime", "href", "lang",
         "inlist", "xmlns:ex", "id", "data-x"]
VALS = ["", "x", "ex:y", "[ex:z]", "_:b1", "http://e.org/a", "#f",
        "../up", "dc:title schema:name", ":", "a b  c", "2024-03-01",
        "&amp;", "&lt;tag&gt;", "&bogus", "q'q", "é中"]
JUNK = ["<!--c-->", "<!-- unterminated", "<!DOCTYPE html>",
        "<![CDATA[x]]>", "&amp;", "&ampx", "&#65;", "&#x41;", "&bogus;",
        "&", "<", ">", "</", "<>", "< div>", "\x00", "<?pi?>",
        "</p extra>", "<a", "<div class=", "text&am"]
# Quote-split tags: a quoted value holding '>', and quotes cut at an
# inner '>' that a later quote in the document may close.  The driver
# may take a cached tag's end from its first '>' only when no later
# text can move it.  ``_soup`` mixes them in only when asked, so the
# golden-digest corpus below keeps its random stream.
QUOTE_SPLIT = ['<span b ="c>', '<span b ="c>d" property="ex:y">',
               "<p t='>'>", "<p t='a>b' about='#q'>", "<span b ='c>",
               "x' rel='ex:r'>", '<div title="a>b">', '"', "'"]


def _soup(rng: random.Random, quote_split: bool = False) -> str:
    parts = []
    for _ in range(rng.randrange(0, 20)):
        k = rng.randrange(7 if quote_split else 6)
        t = rng.choice(TAGS)
        if k == 0:
            attrs = []
            for _ in range(rng.randrange(0, 4)):
                a, v = rng.choice(ATTRS), rng.choice(VALS)
                style = rng.randrange(3)
                if style == 0:
                    attrs.append(f'{a}="{v}"')
                elif style == 1:
                    attrs.append(f"{a}='{v}'")
                else:
                    attrs.append(f"{a}={v.split()[0] if v.strip() else 'v'}")
            parts.append(f"<{t} {' '.join(attrs)}>")
        elif k == 1:
            parts.append(f"</{t}>")
        elif k == 2:
            parts.append(rng.choice(VALS))
        elif k == 3:
            parts.append(f"<{t}/>")
        elif k == 4:
            parts.append(rng.choice(JUNK))
        elif k == 5:
            parts.append(f"<{t.upper()} Prop='{rng.choice(VALS)}'>")
        else:
            parts.append(rng.choice(QUOTE_SPLIT))
    return "".join(parts)


def test_fuzz_parity_5000():
    rng = random.Random(20260817)
    opts = {"base_iri": "http://example.org/d/p"}
    for trial in range(5000):
        doc = _soup(rng, quote_split=True)
        slow = _run(HtmlSaxDriver, doc, opts)
        fast = _run(FastHtmlSaxDriver, doc, opts)
        assert fast == slow, f"trial {trial}: {doc!r}"


def test_chunked_parity():
    rng = random.Random(42)
    opts = {"base_iri": "http://example.org/"}
    for trial in range(400):
        doc = _soup(rng, quote_split=True)
        whole = _run(FastHtmlSaxDriver, doc, opts)
        ex = RdfaExtractor(base_iri=opts["base_iri"], profile="html")
        d = FastHtmlSaxDriver(ex)
        i = 0
        while i < len(doc):
            step = rng.randrange(1, 9)
            d.feed(doc[i:i + step])
            i += step
        d.finish()
        assert (flatten_triples(ex.triples),
                ex.extracted_text()) == whole, f"trial {trial}: {doc!r}"


# A cached tag's end from its first '>'.  After ``<span b ="c>`` is
# cached (its quote finds no close, so the tag ends at the '>'), the
# same text opening a tag whose quote closes later must not end there:
# the second document below has the triple (s, p, "v").  Each order is
# fed twice, so each document meets a cache the other one warmed.
_SPLIT_OPEN = ('<html><body><div about="http://x/s"><span b ="c></span>'
               '</div></body></html>')
_SPLIT_CLOSED = ('<html><body><div about="http://x/s"><span b ="c>d" '
                 'property="http://x/p">v</span></div></body></html>')
_SPLIT_TRIPLE = (("iri", "http://x/s"), ("iri", "http://x/p"),
                 ("lit", "v", None, None))


@pytest.fixture
def _cold_tag_cache(monkeypatch):
    from rdfa_streaming_parser_js_spark.kernel import fast_driver
    monkeypatch.setattr(fast_driver, "_TAG_CACHE", {})


@pytest.mark.parametrize("order", [(_SPLIT_OPEN, _SPLIT_CLOSED),
                                   (_SPLIT_CLOSED, _SPLIT_OPEN)],
                         ids=["open-first", "closed-first"])
def test_cached_tag_end_survives_a_later_quote(_cold_tag_cache, order):
    for doc in order * 2:
        fast = _run(FastHtmlSaxDriver, doc, {})
        assert fast == _run(HtmlSaxDriver, doc, {})
        assert (_SPLIT_TRIPLE in fast[0]) == (doc is _SPLIT_CLOSED)


def test_cached_tag_end_survives_a_later_quote_chunked(_cold_tag_cache):
    """Fed in chunks, a tag whose end a later quote may move waits for
    more text, cached or not."""
    rng = random.Random(7)
    for trial in range(200):
        doc = (_SPLIT_OPEN, _SPLIT_CLOSED)[trial % 2]
        ex = RdfaExtractor(profile="html")
        d = FastHtmlSaxDriver(ex)
        i = 0
        while i < len(doc):
            step = rng.randrange(1, 9)
            d.feed(doc[i:i + step])
            i += step
        d.finish()
        assert (flatten_triples(ex.triples), ex.extracted_text()) \
            == _run(HtmlSaxDriver, doc, {}), f"trial {trial}"


class _Recorder(RdfaExtractor):
    """Counts the start-tag events the driver sends."""

    def __init__(self, **kw):
        super().__init__(**kw)
        self.opens: list[str] = []
        self.plain: list[str] = []

    def on_tag_open(self, name, attributes, shape=None):
        self.opens.append(name)
        super().on_tag_open(name, attributes, shape)

    def on_plain_open(self, name, attributes):
        self.plain.append(name)
        super().on_plain_open(name, attributes)


_PLAIN_DOC = ("<html><body><div class='w'><p id='x'>t <b>u</b></p><div "
              "about='#s' property='http://e.org/a'>v</div></div>"
              "</body></html>")


def test_plain_tags_take_one_sink_call():
    """A plain start tag reaches the extractor as one ``on_plain_open``;
    <body> and the RDFa element reach ``on_tag_open``, and so does the
    root element, which is plain but opens a frame."""
    ex = _Recorder(base_iri="http://example.org/", profile="html")
    d = FastHtmlSaxDriver(ex)
    d.feed(_PLAIN_DOC)
    d.finish()
    assert ex.plain == ["html", "div", "p", "b"]
    assert ex.opens == ["html", "body", "div"]


def test_fast_tag_path_off_turns_off_the_driver_plain_path(_slow_tag_path):
    ex = _Recorder(base_iri="http://example.org/", profile="html")
    d = FastHtmlSaxDriver(ex)
    d.feed(_PLAIN_DOC)
    d.finish()
    assert ex.plain == []
    assert ex.opens == ["html", "body", "div", "p", "b", "div"]


def test_listener_sees_plain_tags_with_their_attributes():
    from rdfa_streaming_parser_js_spark.kernel import parse_rdfa
    from rdfa_streaming_parser_js_spark.kernel.html_driver import (
        HtmlParseListener)
    seen = []

    class Listener(HtmlParseListener):
        def on_tag_open(self, name, attributes):
            seen.append((name, dict(attributes)))

    ex = parse_rdfa(_PLAIN_DOC, base_iri="http://example.org/",
                    html_parse_listener=Listener())
    assert seen == [("html", {}), ("body", {}), ("div", {"class": "w"}),
                    ("p", {"id": "x"}), ("b", {}),
                    ("div", {"about": "#s",
                             "property": "http://e.org/a"})]
    assert ex.triples  # the extractor still saw the RDFa element


# CDATA (script/style) content-model corner cases: html.parser stays in
# CDATA mode until a FULL end-tag match ('</' \s* name \s* '>') naming
# the CDATA element; near-misses ('</scriptx>', '</script foo>',
# '</script/>', '</styles>') are raw text.  A prefix-match scanner
# exits CDATA too early on all of these.
CDATA_CASES = [
    "<script>x</scriptx>more</script>",
    "<script>var s = 'a</scriptfoo>b';</script><p property='dc:t'>T</p>",
    "<style>a::before{content:'</styles>'}</style>",
    "<script>x</script foo>y</script>",
    "<script>x</script/>y</script>",
    "<script>x</ script>after",
    "<script>x</SCRIPT >after",
    "<style>s</stylex></style><span property='p'>v</span>",
    "<script>x</scriptx>",           # unterminated: dropped at EOF
    "<script>x</script",             # partial close at EOF
    "<script>x</scr",                # partial near-miss at EOF
    "<script>a<b>c&amp;d</e></script>t",
    "<script></script' ></script>",
    "<script>x</script\t\n>y",
    "<p property='a'>A<script>ig<div property='no'>n</div></scripty>"
    "</script><span property='b'>B</span></p>",
]


@pytest.mark.parametrize("doc", CDATA_CASES)
def test_cdata_near_miss_parity(doc):
    opts = {"base_iri": "http://example.org/d/p"}
    assert _run(FastHtmlSaxDriver, doc, opts) \
        == _run(HtmlSaxDriver, doc, opts)


@pytest.mark.parametrize("doc", CDATA_CASES)
def test_cdata_near_miss_chunked(doc):
    """Byte-at-a-time feed must match the whole-document fast parse."""
    opts = {"base_iri": "http://example.org/d/p"}
    whole = _run(HtmlSaxDriver, doc, opts)
    ex = RdfaExtractor(base_iri=opts["base_iri"], profile="html")
    d = FastHtmlSaxDriver(ex)
    for ch in doc:
        d.feed(ch)
    d.finish()
    assert (flatten_triples(ex.triples), ex.extracted_text()) == whole


CDATA_BITS = ["</script", "</scriptx>", "</script foo>", "</script/>",
              "</ script>", "</scr", "</style>", "</styles>", "x", "'",
              '"', ">", "<", "&amp;", "a b", "</script>", "</SCRIPT>",
              "</script >", "\n", "</st", "ipt>"]


def test_cdata_fuzz_parity_2000():
    rng = random.Random(20260818)
    opts = {"base_iri": "http://example.org/d/p"}
    for trial in range(2000):
        body = "".join(rng.choice(CDATA_BITS)
                       for _ in range(rng.randrange(0, 8)))
        elem = rng.choice(["script", "style"])
        doc = (f"<p property='dc:a'>x</p><{elem}>{body}"
               + rng.choice(["", f"</{elem}>"])
               + "<span property='dc:b'>y</span>")
        slow = _run(HtmlSaxDriver, doc, opts)
        fast = _run(FastHtmlSaxDriver, doc, opts)
        assert fast == slow, f"trial {trial}: {doc!r}"


# --------------------------------------------------------------------------
# Extractor fast-path parity: the no-RDFa-attributes shortcut in
# on_tag_open (kernel/extractor.py FAST_TAG_PATH) must be behaviorally
# invisible.  Unlike the driver differentials above — where both drivers
# share the extractor — this compares the SAME driver with the shortcut
# disabled vs enabled, so a semantic divergence in the shortcut itself
# cannot cancel out.
# --------------------------------------------------------------------------

@pytest.fixture
def _slow_tag_path(monkeypatch):
    from rdfa_streaming_parser_js_spark.kernel import extractor as ex_mod
    monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", False)


def test_fast_tag_path_fixture_parity(monkeypatch):
    from rdfa_streaming_parser_js_spark.kernel import extractor as ex_mod
    for case in HTML_CASES:
        fast = _run(FastHtmlSaxDriver, case["html"], case["options"])
        monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", False)
        slow = _run(FastHtmlSaxDriver, case["html"], case["options"])
        monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", True)
        assert fast == slow, case["name"]


def test_fast_tag_path_fuzz_parity(monkeypatch):
    """Seeded soup, then the skipped-wrapper corpus: there the fast path
    and step 13 each build the stand-in frames the other reads."""
    from rdfa_streaming_parser_js_spark.kernel import extractor as ex_mod
    rng = random.Random(20260819)
    opts = {"base_iri": "http://example.org/d/p"}
    docs = [_soup(rng) for _ in range(3000)]
    docs += [_skipped_soup(rng) for _ in range(1000)]
    for trial, doc in enumerate(docs):
        fast = _run(FastHtmlSaxDriver, doc, opts)
        monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", False)
        slow = _run(FastHtmlSaxDriver, doc, opts)
        monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", True)
        assert fast == slow, f"trial {trial}: {doc!r}"


def test_fast_tag_path_plain_markup_parity(monkeypatch):
    """Attribute-less soup — the markup shape the fast path exists for:
    every non-root tag with only class/id/data-* attributes takes it."""
    from rdfa_streaming_parser_js_spark.kernel import extractor as ex_mod
    doc = ("<html prefix='ex: http://e.org/'><body vocab='http://v.org/'>"
           "<div class='a'><p id='x'>one <b>two</b></p>"
           "<span data-k='v'>three</span>"
           "<div about='ex:s' rel='ex:r'><ul><li><a href='x'>L</a></li>"
           "</ul></div>"
           "<div property='ex:p'>nested <i>text</i> here</div>"
           "</div></body></html>")
    fast = _run(FastHtmlSaxDriver, doc, {"base_iri": "http://example.org/"})
    monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", False)
    slow = _run(FastHtmlSaxDriver, doc, {"base_iri": "http://example.org/"})
    assert fast == slow
    assert fast[0]  # sanity: the document does yield triples


# --------------------------------------------------------------------------
# Kernel golden digest.  The differentials above run the same
# evaluation-context frame code on both sides, so a change in how frames
# are shared or cloned would cancel out there.  This pins the kernel's
# output itself: sorted triples and extracted text of the seeded soup
# corpus plus a boilerplate corpus where non-RDFa wrappers — plain ones
# and lang/prefix/vocab donors — nest under a parent object, with
# rdfa:Pattern and rdfa:copy inside the skipped wrappers.
# --------------------------------------------------------------------------

WRAPPERS = ["<div class='w'>", "<span id='i{n}'>", "<section>",
            "<div lang='fr'>", "<span xml:lang='de'>", "<div lang=''>",
            "<div prefix='p{n}: http://p{n}.example/'>",
            "<span vocab='http://v{n}.example/'>", "<div vocab=''>",
            "<p class='x' data-k='v'>"]
LEAVES = ["<span property='name'>N{n}</span>",
          "<span property='p{n}:name'>P{n}</span>",
          "<span property='dc:title' lang='it'>T{n}</span>",
          "<a rel='schema:url' href='/u{n}'>link</a>",
          "<span>plain {n}</span>", "text {n} ",
          "<div typeof='rdfa:Pattern' resource='#pat{n}'>"
          "<span property='schema:name'>Pat{n}</span>"
          "<b class='w'>bold {n}</b></div>",
          "<link property='rdfa:copy' href='#pat{m}'/>",
          "<div property='rdfa:copy' resource='#pat{m}'>c{n}</div>"]
PARENTS = ["<div about='#s{n}' typeof='schema:Thing'>",
           "<div resource='#r{n}'>", "<div vocab='http://schema.org/' "
           "typeof='Person' prefix='p{n}: http://q{n}.example/'>",
           "<div about='#s{n}' rel='schema:knows'>"]


def _skipped_soup(rng: random.Random) -> str:
    def wrap(depth: int) -> str:
        parts = []
        for _ in range(rng.randrange(1, 4)):
            n, m = rng.randrange(4), rng.randrange(4)
            if depth < 4 and rng.randrange(2):
                w = rng.choice(WRAPPERS + PARENTS).format(n=n)
                close = w[1:w.index(" ") if " " in w else -1]
                parts.append(f"{w}{wrap(depth + 1)}</{close}>")
            else:
                parts.append(rng.choice(LEAVES).format(n=n, m=m))
        return "".join(parts)

    body = "".join(rng.choice(PARENTS).format(n=rng.randrange(4))
                   + wrap(0) + "</div>" for _ in range(rng.randrange(1, 4)))
    return f"<html><body>{wrap(0)}{body}</body></html>"


# A different digest is a change in kernel output, not a test to update.
GOLDEN_DIGEST = (
    "e264742ce25044e03966f9d87cbdea03fa9d3f1905fbc927fc64e202bc189929")


def test_kernel_golden_digest():
    rng = random.Random(20261018)
    docs = [_soup(rng) for _ in range(3000)]
    docs += [_skipped_soup(rng) for _ in range(1000)]
    opts = {"base_iri": "http://example.org/d/p"}
    digest = hashlib.sha256()
    for doc in docs:
        triples, text = _run(FastHtmlSaxDriver, doc, opts)
        digest.update(repr((sorted(map(repr, triples)), text)).encode())
    assert digest.hexdigest() == GOLDEN_DIGEST


def test_kernel_golden_digest_with_tables_bounded_at_two(monkeypatch):
    """The prefix and term tables (kernel/util.py) cleared every few
    entries, mid-page too, change no output."""
    from rdfa_streaming_parser_js_spark.kernel import util
    monkeypatch.setattr(util, "TABLES_MAX", 2)
    monkeypatch.setattr(util, "_PREFIXES", {})
    monkeypatch.setattr(util, "_TERMS", {})
    test_kernel_golden_digest()


def test_skipped_donor_reaches_children():
    """A wrapper skipped under a parent object still donates its lang,
    prefix and vocab to the elements below it."""
    doc = ("<html><body><div about='#s' typeof='schema:Thing'>"
           "<div lang='fr'><b class='w'>"
           "<span property='schema:name'>Nom</span></b></div>"
           "<div prefix='ex: http://ex.example/'>"
           "<span property='ex:p'>P</span></div>"
           "<div vocab='http://v.example/'><span property='term'>T</span>"
           "</div><span property='schema:name'>Name</span>"
           "</div></body></html>")
    triples, _ = _run(FastHtmlSaxDriver, doc,
                      {"base_iri": "http://example.org/"})
    s = ("iri", "http://example.org/#s")
    assert (s, ("iri", "http://schema.org/name"),
            ("lit", "Nom", None, "fr")) in triples
    assert (s, ("iri", "http://ex.example/p"),
            ("lit", "P", None, None)) in triples
    assert (s, ("iri", "http://v.example/term"),
            ("lit", "T", None, None)) in triples
    assert (s, ("iri", "http://schema.org/name"),
            ("lit", "Name", None, None)) in triples


_COPY = "<link property='rdfa:copy' href='#p'/>"


@pytest.mark.parametrize("before,after,subject", [
    ("", _COPY, "#s"),  # copied once the pattern is known
    (_COPY, "", "#s"),  # copied when the pattern closes
    ("", "", "#p"),     # never copied: flushed at the end
])
def test_pattern_under_skipped_element_keeps_text(before, after, subject):
    """A pattern collected, or copied, under a skipped wrapper replays
    into a detached frame: its text never reaches the document text."""
    doc = ("<html><body><div about='#s' typeof='schema:Thing'>before "
           f"<div class='w'>{before}<div typeof='rdfa:Pattern' "
           "resource='#p'><span property='schema:name'>Pat</span> plain"
           f"</div>{after}</div> after</div></body></html>")
    triples, text = _run(FastHtmlSaxDriver, doc,
                         {"base_iri": "http://example.org/"})
    assert text == "before  after"
    assert (("iri", "http://example.org/" + subject),
            ("iri", "http://schema.org/name"),
            ("lit", "Pat", None, None)) in triples


RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_inlist_under_skipped_wrapper_emitted_once():
    """A list built under a skipped wrapper is emitted once, by the
    element that owns it; the wrapper's frame shares that list."""
    doc = ("<div about='#s' prefix='ex: http://ex.example/'><div class='w'>"
           "<b><span property='ex:l' inlist=''>a</span></b>"
           "<span property='ex:l' inlist=''>b</span></div></div>")
    triples, _ = _run(FastHtmlSaxDriver, doc,
                      {"base_iri": "http://example.org/"})
    s, rdf = ("iri", "http://example.org/#s"), RDF_NS
    assert isomorphic(triples, [
        (s, ("iri", "http://ex.example/l"), ("bnode", "a")),
        (("bnode", "a"), ("iri", rdf + "first"), ("lit", "a", None, None)),
        (("bnode", "a"), ("iri", rdf + "rest"), ("bnode", "b")),
        (("bnode", "b"), ("iri", rdf + "first"), ("lit", "b", None, None)),
        (("bnode", "b"), ("iri", rdf + "rest"), ("iri", rdf + "nil"))])

_HANGING = ("<html><body><div about='#s' rel='ex:l' inlist='' "
            "prefix='ex: http://ex.example/'><span class='w'>")
_PATTERN = ("<div typeof='rdfa:Pattern' resource='#p' about='#x'>"
            "<span property='ex:n'>N</span></div>")


@pytest.mark.parametrize("doc,flushed", [
    (_HANGING + _PATTERN + "</span></div></body></html>", True),
    (_HANGING + _COPY + "</span></div>" + _PATTERN + "</body></html>",
     False),
    (_HANGING + _PATTERN + _COPY + "</span></div></body></html>", False),
], ids=["flushed", "copied-later", "copied-at-once"])
def test_pattern_under_skipped_wrapper_completes_hanging_list(doc, flushed):
    """A pattern replayed into a skipped wrapper's frame, under a hanging
    @rel with @inlist, completes that list as the wrapper's parent would,
    also when the frame is replayed on its own at the document end."""
    triples, _ = _run(FastHtmlSaxDriver, doc,
                      {"base_iri": "http://example.org/"})
    s, x = ("iri", "http://example.org/#s"), ("iri", "http://example.org/#x")
    ex_l, nil = ("iri", "http://ex.example/l"), ("iri", RDF_NS + "nil")
    expected = [
        (s, ex_l, ("bnode", "a")),
        (("bnode", "a"), ("iri", RDF_NS + "rest"), nil),
        (x, ex_l, ("bnode", "b")),
        (("bnode", "b"), ("iri", RDF_NS + "first"), x),
        (("bnode", "b"), ("iri", RDF_NS + "rest"), nil),
        (x, ("iri", "http://ex.example/n"), ("lit", "N", None, None))]
    if flushed:
        expected.append((x, ("iri", RDF_NS + "type"),
                         ("iri", "http://www.w3.org/ns/rdfa#Pattern")))
    assert isomorphic(triples, expected)


@pytest.mark.parametrize("profile", ["html", "xhtml"])
def test_later_copy_mints_the_blank_nodes_earlier_copies_did_not(profile):
    """Copies of a pattern share its blank nodes.  A later copy that
    needs more of them than the first one minted (here: the one that
    completes a hanging @inlist) reuses the recorded nodes and mints
    the rest; the page is not lost."""
    doc = ("<div prefix='ex: http://ex.example/'><div about='#a'>" + _COPY
           + "</div><div about='#s' rel='ex:l' inlist=''>" + _COPY
           + "</div>" + _PATTERN + "</div>")
    triples, _ = _run(FastHtmlSaxDriver, doc,
                      {"base_iri": "http://example.org/",
                       "profile": profile})
    s, x = ("iri", "http://example.org/#s"), ("iri", "http://example.org/#x")
    ex_l, nil = ("iri", "http://ex.example/l"), ("iri", RDF_NS + "nil")
    name = (x, ("iri", "http://ex.example/n"), ("lit", "N", None, None))
    assert triples.count(name) == 2  # once per copy
    assert isomorphic(triples, [
        name,
        (s, ex_l, ("bnode", "a")),
        (("bnode", "a"), ("iri", RDF_NS + "rest"), nil),
        (x, ex_l, ("bnode", "b")),
        (("bnode", "b"), ("iri", RDF_NS + "first"), x),
        (("bnode", "b"), ("iri", RDF_NS + "rest"), nil)])


def test_xml_literal_tags_stay_out_of_text():
    """An XMLLiteral whose value is @content leaves its element's text,
    serialized tags and all, to the ancestors; only the plain segments
    reach the document text."""
    doc = ("<p>a <span property='ex:x' datatype='rdf:XMLLiteral' "
           "content='c'>b<b>bo</b></span> z</p>")
    _, text = _run(FastHtmlSaxDriver, doc, {"base_iri": "http://e.org/"})
    assert text == "a bbo z"


# --------------------------------------------------------------------------
# Counted elements.  A plain element (one that takes FAST_TAG_PATH) adds
# one to the depth count of the top frame instead of opening a frame of
# its own.  Four rules keep the output byte-identical to the per-element
# frames; each document below fails with one of them dropped.  Each runs
# with the fast path on and off.
# --------------------------------------------------------------------------

_BASE = {"base_iri": "http://example.org/"}


@pytest.fixture(params=[True, False], ids=["fast", "full"])
def _tag_path(request, monkeypatch):
    from rdfa_streaming_parser_js_spark.kernel import extractor as ex_mod
    monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", request.param)


def test_pending_copy_pins_its_frame(_tag_path):
    """(a) While an rdfa:copy waits for its pattern, plain elements open
    frames: the replay into the copy's still-open frame lands before the
    text of that frame's open children."""
    doc = ("<html><body><div about='#s1' typeof='schema:Thing'>"
           "<div property='rdfa:copy' resource='#p'>c</div><section>mid "
           "<div typeof='rdfa:Pattern' resource='#p'><span "
           "property='schema:name'>Pat</span><b>bold</b></div></section>"
           "</div></body></html>")
    _, text = _run(FastHtmlSaxDriver, doc, _BASE)
    assert text == "cboldmid "


def test_detached_copy_starts_with_no_text(_tag_path):
    """(b) A copy replayed into a detached copy of a skipped frame does
    not add its text to the skipped frame's own text list."""
    doc = ("<html><body><div typeof='rdfa:Pattern' resource='#p'><span "
           "property='schema:name'>Pat</span><b>bold</b></div><div "
           "about='#s' typeof='schema:Thing'>before <div lang='fr'>in "
           "<link property='rdfa:copy' href='#p'/> out</div> after</div>"
           "</body></html>")
    _, text = _run(FastHtmlSaxDriver, doc, _BASE)
    assert text == "before in  out after"


def test_closed_frame_keeps_no_text(_tag_path):
    """(c) An unreferenced pattern is flushed at the document end into
    its closed parent; that frame handed its text up at its close, so
    the flush reaches no open text list."""
    doc = ("<html><body><div lang='en'>w <div typeof='rdfa:Pattern' "
           "resource='#p'><b>bold</b></div></div></body></html>")
    _, text = _run(FastHtmlSaxDriver, doc, _BASE)
    assert text == "w "


def test_counted_parent_has_no_predicates(_tag_path):
    """(d) A literal under a plain element leaves its text out of the
    enclosing literal, as it does under any parent without predicates."""
    doc = ("<html><body><div about='#s'><span property='http://e.org/a'>"
           "A <b><span property='http://e.org/b'>x</span></b> z</span>"
           "</div></body></html>")
    triples, _ = _run(FastHtmlSaxDriver, doc, _BASE)
    s = ("iri", "http://example.org/#s")
    assert (s, ("iri", "http://e.org/a"), ("lit", "A  z", None, None)) \
        in triples
    assert (s, ("iri", "http://e.org/b"), ("lit", "x", None, None)) \
        in triples


_NAME = ("iri", "http://schema.org/name")


@pytest.mark.parametrize("inner", [
    "<link property='rdfa:copy' href='#p'/>",
    "<div property='rdfa:copy' resource='#p'>c</div>",
], ids=["link", "div"])
def test_copy_under_counted_elements_uses_the_innermost_frame(
        _tag_path, inner):
    """An rdfa:copy under nested plain elements replays into the stand-in
    frame of the innermost one: that frame is skipped, so the replay is
    detached and its text stays out."""
    doc = ("<html><body><div about='#s' typeof='schema:Thing'>"
           "<div typeof='rdfa:Pattern' resource='#p'><span "
           "property='schema:name'>Pat</span> plain</div>x <div "
           f"class='w'><b>y {inner}</b></div> z</div></body></html>")
    triples, text = _run(FastHtmlSaxDriver, doc, _BASE)
    assert text == "x y " + ("c" if "div" in inner else "") + " z"
    assert (("iri", "http://example.org/#s"), _NAME,
            ("lit", "Pat", None, None)) in triples


def test_pattern_under_counted_elements_is_flushed_detached(_tag_path):
    """An unreferenced pattern under nested plain elements is flushed at
    the document end into the innermost one's stand-in frame."""
    doc = ("<html><body><div about='#s' property='http://e.org/a'>x "
           "<div class='w'><b>y <div typeof='rdfa:Pattern' resource='#p'>"
           "<span property='schema:name'>Pat</span> plain</div></b></div>"
           " z</div></body></html>")
    triples, _ = _run(FastHtmlSaxDriver, doc, _BASE)
    assert (("iri", "http://example.org/#p"), _NAME,
            ("lit", "Pat", None, None)) in triples
    assert (("iri", "http://example.org/#s"), ("iri", "http://e.org/a"),
            ("lit", "x y  z", None, None)) in triples


_BLOCK = ("<div about='#s' typeof='schema:Thing'><span property="
          "'schema:name'>N</span><div rel='schema:knows'><span "
          "about='#o'>o</span></div></div>")
_BLOCK_DEPTH = 3


class _StackDepth(RdfaExtractor):
    """Records the deepest frame stack seen at an element's open."""

    deepest = 0

    def on_tag_open(self, name, attributes, shape=None):
        super().on_tag_open(name, attributes, shape)
        self.deepest = max(self.deepest, len(self.stack))

    def on_plain_open(self, name, attributes):
        super().on_plain_open(name, attributes)
        self.deepest = max(self.deepest, len(self.stack))


def test_plain_elements_allocate_no_frame(monkeypatch):
    """2,000 plain siblings and 5,000-deep plain nesting around one RDFa
    block cost no frame: as many frames are built as for the bare block,
    and the stack never holds more than the root frame, <body> and the
    block's own frames."""
    from rdfa_streaming_parser_js_spark.kernel import extractor as ex_mod
    built = [0]

    class Counted(ex_mod.ActiveTag):
        __slots__ = ()

        def __init__(self):
            built[0] += 1
            super().__init__()

    monkeypatch.setattr(ex_mod, "ActiveTag", Counted)

    def run(doc):
        built[0] = 0
        ex = _StackDepth(base_iri="http://example.org/", profile="html")
        d = FastHtmlSaxDriver(ex)
        d.feed(doc)
        d.finish()
        return (built[0], ex.deepest,
                (flatten_triples(ex.triples), ex.extracted_text()))

    siblings = "<p class='x'>t <b>u</b></p>" * 1000
    wrapped = ("<body>" + siblings + "<div class='w'>" * 5000 + _BLOCK
               + "</div>" * 5000 + siblings + "</body>")
    bare_built, _, _ = run("<body>" + _BLOCK + "</body>")
    n_built, deepest, out = run(wrapped)
    assert n_built == bare_built
    assert deepest <= _BLOCK_DEPTH + 2
    assert out[0]  # the block's triples
    monkeypatch.setattr(ex_mod, "FAST_TAG_PATH", False)
    assert run(wrapped)[2] == out
