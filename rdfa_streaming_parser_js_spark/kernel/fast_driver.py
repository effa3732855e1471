"""Fast HTML tokenizer: same event stream as ``HtmlSaxDriver``, ~2-4×
faster.

``html.parser``'s ``goahead`` loop pays per-character bookkeeping
(``updatepos``, interesting-char regex scans, charref piecemeal
handling) that dominates kernel time on real pages.  This driver keeps
byte-compatible *parsing* by reusing ``html.parser``'s own module-level
tolerant regexes (``tagfind_tolerant``, ``attrfind_tolerant``,
``locatestarttagend_tolerant``) inside a tight ``str.find('<')`` scan,
and inherits all html-mode *semantics* (void elements, open-implies-
close, foreign-content depth, stray-end-tag recovery) from
``HtmlSaxDriver`` unchanged.

Per start tag the scan pays one ``_TAG_CACHE`` hit on templated pages:
a cached tag whose end no later text can move (``_end_stable``) is
found from its first '>' with no regex, and a plain one (no RDFa
attribute, no xmlns*, not name-triggered, void, foreign or CDATA) goes
to the sink's ``on_plain_open`` with no attribute copy, after the
open-implies-close rule.  Any other start tag reaches ``on_tag_open``
with its cached ``extractor.TagShape``, so the extractor analyzes each
distinct tag once per worker.  An end tag that closes the top of the
stack outside foreign content closes it directly.

Parity is enforced by differential tests: the full transcribed fixture
corpus and a seeded 5000-document tag-soup fuzz are run through BOTH
drivers and must produce identical triples and extracted text
(tests/test_fast_driver.py).
"""

from __future__ import annotations

import html as html_mod
import html.parser as _hp

import re

from . import extractor as _extractor
from .extractor import RdfaExtractor, tag_shape
from .html_driver import (
    _FOREIGN_CONTEXT, OPEN_IMPLIES_CLOSE, VOID_ELEMENTS, HtmlSaxDriver)

_CDATA_ELEMS = ("script", "style")
# Full close pattern, mirroring html.parser's set_cdata_mode
# ``interesting`` regex: near-misses ('</scriptx>', '</script foo>',
# '</script/>') never end CDATA content and are part of the raw text.
_CDATA_CLOSE = {e: re.compile(r"</\s*%s\s*>" % e, re.IGNORECASE)
                for e in _CDATA_ELEMS}

_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")

# Start-tag parse cache: parsing a raw ``<tag ...>`` slice is a pure
# function of the slice, and crawl corpora are heavily templated — the
# same tag source recurs across millions of pages.  Keyed on the exact
# raw text; value is (tag, attrs-as-dict, kind, end_stable, shape) where
# kind 0 = junk (emit raw as data), 1 = self-closing, 2 = start tag, 3 =
# plain start tag: not void, foreign or CDATA, and plain by its shape
# (``extractor.tag_shape``: no RDFa attribute, no xmlns*, not
# name-triggered), which the driver opens with one ``on_plain_open``
# call.  ``shape`` depends on the tag's name and attributes only, never
# on the profile, so html and xhtml pages share entries; the driver
# hands it to ``on_tag_open`` with every other start tag.  The dict is
# prebuilt with ``_open``'s first-duplicate-wins + None→"" rules so the
# sink path is at most one C-level ``dict.copy`` per event instead of a
# Python attr loop.  ``end_stable`` lets the scan take a tag's end from
# the first '>' instead of the tolerant regex (``_end_stable``).
# Bounded: reset when full (adversarial corpora with unbounded distinct
# tags must not grow worker memory).
_TAG_CACHE: dict = {}
_TAG_CACHE_MAX = 1 << 16

# End-tag parse cache: raw ``</...>`` slice → tag name to close (None =
# bogus end tag with no salvageable name; dropped).  Same templated-
# corpus rationale as _TAG_CACHE.
_END_CACHE: dict = {}


def _unescape(text: str) -> str:
    return html_mod.unescape(text) if "&" in text else text


def _end_stable(raw: str) -> bool:
    """Whether no text after ``raw``, a start tag ending in '>', can
    move its end.

    Proof.  In ``locatestarttagend_tolerant`` only a quoted value
    ('...' or "...") can consume '>'; every other element stops at it.
    So the regex paths that read past the '>' ending ``raw`` are those
    that open a quote before it and find no closing quote inside
    ``raw``.  ``re`` returns the first path in priority order that
    succeeds.  Over ``raw`` + any text, a path that stays inside ``raw``
    succeeds or fails as it does over ``raw`` alone.  A path that opens
    such a quote fails over ``raw`` alone; over a text holding the
    closing quote it succeeds (all that follows a value may match
    empty) and ends past the '>'.  So some text moves the end exactly
    when such a path comes before the path that wins over ``raw``.
    Appending ``'"`` closes either quote, so that happens exactly when
    the match over ``raw + '"`` ends past the '>'.  Otherwise every
    text leaves the match, and so the end the scan takes from it (at
    the '>' or its '/>'), as it is over ``raw``.

    Two uses: the scan takes a cached end-stable tag's end from the
    first '>' after its '<', with no regex; and, feeding in chunks, it
    holds back a tag that is not end-stable, since a quote in a later
    chunk may close it.  The paths that make such a tag unstable failed
    over the whole buffer too (had their quote closed there, one of them
    would have won), so the buffer's end cuts them off."""
    return (raw[-1:] == ">" and _hp.locatestarttagend_tolerant.match(
        raw + "'\"").end() < len(raw))


def _tag_entry(s: str, i: int, endpos: int) -> tuple:
    """Parse the start tag ``s[i:endpos]`` into its ``_TAG_CACHE``
    entry."""
    mt = _hp.tagfind_tolerant.match(s, i + 1)
    tag = mt.group(1).lower()
    attrs: dict = {}
    k = mt.end()
    while k < endpos:
        am = _hp.attrfind_tolerant.match(s, k)
        if not am:
            break
        name, rest, value = am.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] \
                or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = _unescape(value)
        name = name.lower()
        if name not in attrs:  # first duplicate wins
            attrs[name] = value if value is not None else ""
        k = am.end()

    endtext = s[k:endpos].strip()
    kind = 0 if endtext not in (">", "/>") else 1 if endtext == "/>" else 2
    shape = tag_shape(tag, attrs)
    if kind == 2 and tag not in VOID_ELEMENTS \
            and tag not in _FOREIGN_CONTEXT and tag not in _CDATA_ELEMS \
            and shape.plain:
        kind = 3
    return tag, attrs, kind, _end_stable(s[i:endpos]), shape


class FastHtmlSaxDriver(HtmlSaxDriver):
    """Drop-in replacement for HtmlSaxDriver with a fast scan loop."""

    def __init__(self, sink: RdfaExtractor) -> None:
        super().__init__(sink)
        self._tail = ""
        self._cdata_elem: str | None = None

    # -- feeding -------------------------------------------------------

    def feed(self, data: str) -> None:
        self._tail = self._scan(self._tail + data, final=False)

    def close(self) -> None:
        if self._tail:
            rest = self._scan(self._tail, final=True)
            self._tail = ""
            if rest:  # trailing text / unterminated construct → data
                self.handle_data(_unescape(rest)
                                 if self._cdata_elem is None else rest)

    # -- scanner -------------------------------------------------------

    def _scan(self, s: str, final: bool) -> str:
        sink, open_tags = self.sink, self.open_tags
        open_tag, on_text, on_close = self._open, sink.on_text, \
            sink.on_tag_close
        # A sink without on_plain_open (the listener tee) gets every
        # start tag through ``_open``, attributes and all.
        plain_open = (getattr(sink, "on_plain_open", None)
                      if _extractor.FAST_TAG_PATH else None)
        unescape = html_mod.unescape
        i, n = 0, len(s)
        while i < n:
            if self._cdata_elem is not None:
                m = _CDATA_CLOSE[self._cdata_elem].search(s, i)
                if not m:
                    # html.parser buffers CDATA until the FULL close tag
                    # arrives and silently DROPS unterminated content at
                    # EOF (goahead breaks without emitting, and the
                    # end-of-input flush is gated on ``not cdata_elem``)
                    return "" if final else s[i:]
                if i < m.start():
                    # one raw chunk, no unescape — html.parser emits the
                    # whole CDATA run at once when the close is found
                    on_text(s[i:m.start()])
                elem = self._cdata_elem
                self._cdata_elem = None
                self.handle_endtag(elem)
                i = m.end()
                continue

            lt = s.find("<", i)
            if lt < 0:
                lt = n
            if i < lt:
                text = s[i:lt]
                if not final and lt == n:
                    # hold back a possibly-split trailing charref
                    amp = text.rfind("&")
                    if amp >= 0 and ";" not in text[amp:] \
                            and len(text) - amp < 34:
                        if amp:
                            on_text(_unescape(text[:amp]))
                        return text[amp:]
                on_text(unescape(text) if "&" in text else text)
            if lt >= n:
                return ""
            i = lt
            nxt = s[i + 1] if i + 1 < n else ""
            if nxt == "/":
                gt = s.find(">", i)
                if gt < 0:
                    # endtagfind / the bogus-tag salvage both need a '>'
                    if not final:
                        return s[i:]
                    i = self._salvage(s, i)
                    continue
                raw = s[i:gt + 1]
                if raw in _END_CACHE:
                    closes = _END_CACHE[raw]
                else:
                    m = _hp.endtagfind.match(raw)  # </tag >
                    if m:
                        closes = m.group(1).lower()
                    else:
                        # bogus end tag: html.parser salvages the tag name
                        # if the contents start like one, else drops it
                        m2 = _hp.tagfind_tolerant.match(raw, 2)
                        closes = m2.group(1).lower() if m2 else None
                    if len(_END_CACHE) >= _TAG_CACHE_MAX:
                        _END_CACHE.clear()
                    _END_CACHE[raw] = closes
                if closes is not None:
                    if open_tags and open_tags[-1] == closes \
                            and not self._foreign_depth:
                        # handle_endtag's common case.  With no foreign
                        # content open no void element is on the stack.
                        open_tags.pop()
                        on_close()
                    else:
                        self.handle_endtag(closes)
                i = gt + 1
                continue
            if nxt == "!":
                if s.startswith("<!--", i):
                    m = _hp.commentclose.search(s, i + 4)
                    if not m:
                        if not final:
                            return s[i:]
                        i = self._salvage(s, i)
                        continue
                    i = m.end()
                    continue
                if s.startswith("<![", i):
                    end = s.find("]>", i + 3)
                    if end < 0:
                        if not final:
                            return s[i:]
                        i = self._salvage(s, i)
                        continue
                    i = end + 2
                    continue
                gt = s.find(">", i)  # doctype & friends: ignored
                if gt < 0:
                    if not final:
                        return s[i:]
                    i = self._salvage(s, i)
                    continue
                i = gt + 1
                continue
            if nxt == "?":
                gt = s.find(">", i)
                if gt < 0:
                    if not final:
                        return s[i:]
                    i = self._salvage(s, i)
                    continue
                i = gt + 1
                continue
            if nxt not in _ASCII_LETTERS:  # '<' + ASCII letter opens a tag
                # '<' not opening a construct → literal text, like
                # html.parser's invalid-'<' path
                if not final and i + 1 >= n:
                    return s[i:]
                on_text("<")
                i += 1
                continue

            # start tag.  A cached end-stable tag ends at its first '>'
            # whatever follows, so one dict hit replaces the regex scan
            # (gt < 0 slices '', which is never a key).
            gt = s.find(">", i)
            entry = _TAG_CACHE.get(s[i:gt + 1])
            if entry is not None and entry[3]:
                endpos = gt + 1
            else:
                # mirrors html.parser check_for_whole_start_tag +
                # parse_starttag decision structure exactly
                m = _hp.locatestarttagend_tolerant.match(s, i)
                j = m.end()
                nxt2 = s[j:j + 1]
                if nxt2 == ">":
                    endpos = j + 1
                elif nxt2 == "/":
                    if s.startswith("/>", j):
                        endpos = j + 2
                    elif j + 1 >= n:
                        if not final:
                            return s[i:]  # possibly split across chunks
                        i = self._salvage(s, i)
                        continue
                    else:
                        on_text(s[i:j])  # junk: '<...' becomes text
                        i = j
                        continue
                elif nxt2 == "" or nxt2 in (
                        "abcdefghijklmnopqrstuvwxyz="
                        "ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
                    # end of input, possibly inside an attribute value —
                    # buffer boundary (check_for_whole_start_tag returns
                    # -1)
                    if not final:
                        return s[i:]
                    i = self._salvage(s, i)
                    continue
                else:
                    endpos = j if j > i else i + 1
                raw = s[i:endpos]
                entry = _TAG_CACHE.get(raw)
                if entry is None:
                    entry = _tag_entry(s, i, endpos)
                    if len(_TAG_CACHE) >= _TAG_CACHE_MAX:
                        _TAG_CACHE.clear()
                    _TAG_CACHE[raw] = entry
                if not (final or entry[3]) and raw[-1] == ">":
                    return s[i:]  # a later quote may move its end

            tag, attrs, kind, _, shape = entry
            if kind == 3 and plain_open is not None \
                    and not self._foreign_depth:
                closers = OPEN_IMPLIES_CLOSE.get(tag)
                if closers:
                    while open_tags and open_tags[-1] in closers:
                        self._close_top()
                open_tags.append(tag)
                plain_open(tag, attrs)
            elif kind == 0:
                on_text(s[i:endpos])
            elif kind == 1:
                open_tag(tag, attrs, True, shape)
            else:
                open_tag(tag, attrs, False, shape)
                if tag in _CDATA_ELEMS:  # html.parser enters CDATA mode
                    self._cdata_elem = tag  # regardless of context
            i = endpos
        return ""

    def _salvage(self, s: str, i: int) -> int:
        """Incomplete construct at EOF: html.parser consumes up to the
        next '>' (inclusive) or '<' (exclusive), emits that slice as
        charref-decoded data, and RESUMES parsing (goahead's k<0 path)."""
        k = s.find(">", i + 1)
        if k < 0:
            k = s.find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        self.handle_data(_unescape(s[i:k])
                         if self._cdata_elem is None else s[i:k])
        return k
