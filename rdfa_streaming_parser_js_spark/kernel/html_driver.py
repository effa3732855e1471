"""SAX drivers feeding the RDFa extractor.

The reference tokenizes with htmlparser2 configured as
``{decodeEntities: true, recognizeSelfClosing: true, xmlMode: profile==='xml'}``
(/root/reference/lib/RdfaParser.ts:870-920). We reproduce the observable
event stream on Python stdlib:

- html/xhtml profiles → ``html.parser.HTMLParser`` subclass with
  htmlparser2's html-mode behaviors layered on top: void-element implicit
  closing, open-implies-close (``<li><li>``...), first-duplicate-attribute
  wins, lowercased names, entity decoding, stray end-tag recovery.
- xml profile → ``xml.parsers.expat`` (case-preserving, strict
  well-formedness, CDATA as character data).

One driver instance per document; constant memory in document depth.
"""

from __future__ import annotations

import re
from html import entities as html_entities
from html.parser import HTMLParser
from xml.parsers import expat

from .extractor import RdfaExtractor

# htmlparser2 html-mode void elements (implicit self-closing).
VOID_ELEMENTS = frozenset((
    "area", "base", "basefont", "br", "col", "command", "embed", "frame",
    "hr", "img", "input", "isindex", "keygen", "link", "meta", "param",
    "source", "track", "wbr",
))

_FORM_TAGS = frozenset((
    "input", "option", "optgroup", "select", "button", "datalist", "textarea",
))
_P_TAG = frozenset(("p",))

# htmlparser2 html-mode openImpliesClose: opening tag K implicitly closes
# open tags in the mapped set (popped while on top of the stack).
OPEN_IMPLIES_CLOSE: dict[str, frozenset] = {
    "tr": frozenset(("tr", "th", "td")),
    "th": frozenset(("th",)),
    "td": frozenset(("thead", "th", "td")),
    "body": frozenset(("head", "link", "script")),
    "li": frozenset(("li",)),
    "p": _P_TAG,
    "h1": _P_TAG, "h2": _P_TAG, "h3": _P_TAG,
    "h4": _P_TAG, "h5": _P_TAG, "h6": _P_TAG,
    "select": _FORM_TAGS, "input": _FORM_TAGS, "output": _FORM_TAGS,
    "button": _FORM_TAGS, "datalist": _FORM_TAGS, "textarea": _FORM_TAGS,
    "option": frozenset(("option",)),
    "optgroup": frozenset(("optgroup", "option")),
    "dd": frozenset(("dt", "dd")),
    "dt": frozenset(("dt", "dd")),
    "address": _P_TAG, "article": _P_TAG, "aside": _P_TAG,
    "blockquote": _P_TAG, "details": _P_TAG, "div": _P_TAG, "dl": _P_TAG,
    "fieldset": _P_TAG, "figcaption": _P_TAG, "figure": _P_TAG,
    "footer": _P_TAG, "form": _P_TAG, "header": _P_TAG, "hr": _P_TAG,
    "main": _P_TAG, "nav": _P_TAG, "ol": _P_TAG, "pre": _P_TAG,
    "section": _P_TAG, "table": _P_TAG, "ul": _P_TAG,
    "rt": frozenset(("rt", "rp")),
    "rp": frozenset(("rt", "rp")),
    "tbody": frozenset(("thead", "tbody")),
    "tfoot": frozenset(("thead", "tbody")),
}

_FOREIGN_CONTEXT = frozenset(("svg", "math"))


class HtmlSaxDriver(HTMLParser):
    """htmlparser2-html-mode-equivalent event stream over html.parser."""

    def __init__(self, sink: RdfaExtractor) -> None:
        super().__init__(convert_charrefs=True)
        self.sink = sink
        self.open_tags: list[str] = []
        self._foreign_depth = 0

    # -- tag events ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        self._open(tag, attrs, self_closing=False)

    def handle_startendtag(self, tag: str, attrs) -> None:
        # recognizeSelfClosing: <x/> opens and immediately closes
        self._open(tag, attrs, self_closing=True)

    def _open(self, tag: str, attrs, self_closing: bool,
              shape=None) -> None:
        if type(attrs) is dict:
            # FastHtmlSaxDriver hands over a prebuilt (cached) attr dict;
            # copy because the extractor mutates it (rel/rev drops,
            # xmlns re-declaration during XMLLiteral collection)
            attributes: dict[str, str] = attrs.copy()
        else:
            attributes = {}
            for key, value in attrs:
                if key not in attributes:  # first duplicate wins (htmlparser2)
                    attributes[key] = value if value is not None else ""

        if self._foreign_depth == 0:
            closers = OPEN_IMPLIES_CLOSE.get(tag)
            if closers:
                while self.open_tags and self.open_tags[-1] in closers:
                    self._close_top()

        if self_closing or (self._foreign_depth == 0
                            and tag in VOID_ELEMENTS):
            self.sink.on_tag_open(tag, attributes, shape)
            self.sink.on_tag_close()
            return

        if tag in _FOREIGN_CONTEXT:
            self._foreign_depth += 1
        self.open_tags.append(tag)
        self.sink.on_tag_open(tag, attributes, shape)

    def _close_top(self) -> None:
        closed = self.open_tags.pop()
        if closed in _FOREIGN_CONTEXT and self._foreign_depth > 0:
            self._foreign_depth -= 1
        self.sink.on_tag_close()

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS and self._foreign_depth == 0:
            return  # stray </br> etc. ignored in html mode
        if tag in self.open_tags:
            while self.open_tags:
                top = self.open_tags[-1]
                self._close_top()
                if top == tag:
                    break
        # unmatched end tags are ignored

    # -- character data ------------------------------------------------
    def handle_data(self, data: str) -> None:
        self.sink.on_text(data)

    # comments / PIs / doctype / CDATA-in-html are ignored, matching the
    # reference which registers no handlers for them.

    def finish(self) -> None:
        self.close()
        while self.open_tags:
            self._close_top()
        self.sink.on_end()


_XML_PREDEFINED = frozenset(("amp", "lt", "gt", "quot", "apos"))
_ENTITY_RE = re.compile(r"&(\w+);")


def _decode_html_entities_for_xml(text: str) -> str:
    """htmlparser2 xmlMode with decodeEntities also resolves HTML named
    entities; expat only knows the XML five — pre-substitute the rest."""

    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name in _XML_PREDEFINED:
            return m.group(0)
        decoded = html_entities.html5.get(name + ";")
        return decoded if decoded is not None else m.group(0)

    return _ENTITY_RE.sub(sub, text)


class XmlSaxDriver:
    """XML driver (profile 'xml': SVG, XHTML-as-XML, generic XML).

    Lenient like htmlparser2's xmlMode: a well-formedness error stops
    consumption of the document at that point (everything parsed so far
    is kept, open elements are implicitly closed) instead of raising —
    at corpus scale one broken page must not kill a task.  The error is
    recorded on ``self.error`` (the per-document analogue of the
    reference's stream 'error' event, /root/reference/lib/RdfaParser.ts:880)."""

    def __init__(self, sink: RdfaExtractor) -> None:
        self.sink = sink
        self._depth = 0
        self.error: str | None = None
        parser = expat.ParserCreate()
        parser.buffer_text = True
        parser.StartElementHandler = self._start
        parser.EndElementHandler = self._end
        parser.CharacterDataHandler = sink.on_text
        self._parser = parser

    def _start(self, name: str, attrs: dict) -> None:
        self._depth += 1
        self.sink.on_tag_open(name, dict(attrs))

    def _end(self, _name: str) -> None:
        self._depth -= 1
        self.sink.on_tag_close()

    def feed(self, data: str) -> None:
        if self.error is not None:
            return
        try:
            self._parser.Parse(_decode_html_entities_for_xml(data), False)
        except expat.ExpatError as e:
            self.error = str(e)

    def finish(self) -> None:
        if self.error is None:
            try:
                self._parser.Parse(b"", True)
            except expat.ExpatError as e:
                self.error = str(e)  # truncated document
        # The parser holds this driver's bound handlers: drop it, so no
        # reference cycle keeps the page alive until a gc pass.
        self._parser = None
        while self._depth > 0:
            self._depth -= 1
            self.sink.on_tag_close()
        self.sink.on_end()


class HtmlParseListener:
    """API-parity hook with the reference's ``IHtmlParseListener``
    (/root/reference/lib/IHtmlParseListener.ts:4-29): observes the raw
    tokenizer event stream alongside RDFa processing.  Subclass and
    override; events fire AFTER the extractor handles each one, matching
    the reference's ordering (/root/reference/lib/RdfaParser.ts:893-912).
    """

    def on_tag_open(self, name: str, attributes: dict) -> None: ...

    def on_text(self, data: str) -> None: ...

    def on_tag_close(self) -> None: ...

    def on_end(self) -> None: ...


class _TeeSink:
    """Forwards tokenizer events to the extractor, then the listener."""

    def __init__(self, extractor: RdfaExtractor,
                 listener: HtmlParseListener) -> None:
        self._x = extractor
        self._l = listener

    def on_tag_open(self, name: str, attributes: dict, shape=None) -> None:
        self._x.on_tag_open(name, attributes, shape)
        self._l.on_tag_open(name, attributes)

    def on_text(self, data: str) -> None:
        self._x.on_text(data)
        self._l.on_text(data)

    def on_tag_close(self) -> None:
        self._x.on_tag_close()
        self._l.on_tag_close()

    def on_end(self) -> None:
        self._x.on_end()
        self._l.on_end()


def parse_rdfa(html: str | bytes, base_iri: str = "",
               profile: str | None = "html",
               content_type: str | None = None,
               language: str | None = None, vocab: str | None = None,
               features=None,
               html_parse_listener: HtmlParseListener | None = None,
               ) -> RdfaExtractor:
    """Parse one document and return the extractor (triples + text).

    This is the per-document kernel entry point; the Spark layer calls it
    once per row inside an Arrow-batched UDF.  ``html_parse_listener``
    mirrors the reference's ``htmlParseListener`` option
    (/root/reference/lib/RdfaParser.ts:944-947).
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    extractor = RdfaExtractor(base_iri=base_iri, profile=profile,
                              content_type=content_type, language=language,
                              vocab=vocab, features=features)
    sink = (_TeeSink(extractor, html_parse_listener)
            if html_parse_listener else extractor)
    if extractor.profile == "xml":
        driver: XmlSaxDriver | HtmlSaxDriver = XmlSaxDriver(sink)
    else:
        # fast regex scanner; event-stream parity with HtmlSaxDriver is
        # enforced by differential tests (tests/test_fast_driver.py)
        from .fast_driver import FastHtmlSaxDriver
        driver = FastHtmlSaxDriver(sink)
    driver.feed(html)
    driver.finish()
    extractor.parse_error = getattr(driver, "error", None)
    return extractor
