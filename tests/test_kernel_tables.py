"""The kernel's per-worker tables: interned prefix maps and the term
memo (``kernel/util.py``), and the tag shapes the HTML driver caches
(``fast_driver._TAG_CACHE``).

One worker parses many pages, so a table entry made on one page is read
on the next.  The driver-parity tests run one extractor under both
drivers and cannot see a wrong memo key; these tests can.  Each fails on
a memo keyed on the term alone, or on one that ignores the base (it
memoizes relative IRIs too), or on both."""

from __future__ import annotations

import random
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from rdfa_streaming_parser_js_spark.kernel import fast_driver, parse_rdfa, util
from rdfa_streaming_parser_js_spark.kernel.isomorphism import flatten_triples


@pytest.fixture
def cold_tables(monkeypatch):
    """Empty tables, as in a fresh worker."""
    monkeypatch.setattr(util, "_PREFIXES", {})
    monkeypatch.setattr(util, "_TERMS", {})
    monkeypatch.setattr(fast_driver, "_TAG_CACHE", {})


def _triples(html, base="http://page.example/doc", profile="html"):
    return sorted(flatten_triples(
        parse_rdfa(html, base_iri=base, profile=profile).triples))


def _iri(v):
    return ("iri", v)


def _lit(v):
    return ("lit", v, None, None)


_PREFIX_PAGE = ("<html><body prefix='ex: {iri}'><div about='http://s.example/'"
                " property='ex:p'>v</div></body></html>")


@pytest.mark.parametrize("order", [("a", "b"), ("b", "a")])
def test_one_prefix_bound_to_two_iris_on_two_pages(cold_tables, order):
    """Fails on a memo keyed on the term alone: the second page would
    read the first page's ``ex:p``."""
    for name in order * 2:
        iri = f"http://{name}.example/"
        assert _triples(_PREFIX_PAGE.format(iri=iri)) == [
            (_iri("http://s.example/"), _iri(iri + "p"), _lit("v"))]


_NEXT_PAGE = ("<html><body><a about='http://s.example/' rel='next' "
              "href='http://o.example/'>n</a></body></html>")


@pytest.mark.parametrize("order", [("html", "xhtml"), ("xhtml", "html")])
def test_html_and_xhtml_pages_in_one_process(cold_tables, order):
    """Only the XHTML initial context binds the term ``next``; the two
    profiles share the tag's cached shape.  Fails on a memo keyed on the
    term alone."""
    for profile in order * 2:
        got = _triples(_NEXT_PAGE, profile=profile)
        assert got == ([] if profile == "html" else [
            (_iri("http://s.example/"),
             _iri("http://www.w3.org/1999/xhtml/vocab#next"),
             _iri("http://o.example/"))])


def test_relative_prefix_iri_in_vocab_mode_follows_each_page_base(
        cold_tables):
    """A prefix bound to a relative IRI makes a vocab-mode CURIE resolve
    against the document base, which differs per page.  Fails on a memo
    that ignores the base."""
    page = _PREFIX_PAGE.format(iri="/v/")
    for host in ("a", "b", "a"):
        assert _triples(page, base=f"http://{host}.example/doc") == [
            (_iri("http://s.example/"), _iri(f"http://{host}.example/v/p"),
             _lit("v"))]


def test_base_tag_mid_document_moves_a_later_fragment(cold_tables):
    """``about="#x"`` before and after a ``<base href>``: the same term
    names two subjects.  Fails on a memo that ignores the base."""
    div = "<div about='#x' property='http://p.example/'>{}</div>"
    page = ("<html><body>" + div.format(1)
            + "<base href='http://other.example/dir/'>" + div.format(2)
            + "</body></html>")
    assert _triples(page) == [
        (_iri("http://other.example/dir/#x"), _iri("http://p.example/"),
         _lit("2")),
        (_iri("http://page.example/doc#x"), _iri("http://p.example/"),
         _lit("1"))]


_BASES = ["http://a.example/x/y", "http://b.example/", "https://c.example/p?q",
          "http://d.example/r/s#top", "urn:isbn:1", ""]
_DECLS = ["", " prefix='ex: http://one.example/'",
          " prefix='ex: http://two.example/ dc: /rel/'",
          " prefix='ex: rel/'", " vocab='http://v.example/'",
          " vocab='http://w.example/' prefix='ex: http://one.example/'"]
_TERMS_ = ["ex:p", "dc:t", "name", "schema:name", "ex:p name", "next"]
_REFS = ["#it", "", "rel/a", "../up", "http://abs.example/a", "ex:q",
         "[ex:q]", "_:b", "?q=1"]


def _corpus(rng: random.Random, n: int) -> list[tuple]:
    pages = []
    for _ in range(n):
        body = "".join(
            f"<div{rng.choice(_DECLS)} about='{rng.choice(_REFS)}' "
            f"typeof='{rng.choice(_TERMS_)}'>"
            f"<span property='{rng.choice(_TERMS_)}' "
            f"resource='{rng.choice(_REFS)}'>t</span>"
            f"<a rel='{rng.choice(_TERMS_)}' href='{rng.choice(_REFS)}'>"
            f"l</a></div>" for _ in range(rng.randrange(1, 4)))
        pages.append((f"<html><body{rng.choice(_DECLS)}>{body}</body></html>",
                      rng.choice(_BASES), rng.choice(("html", "xhtml"))))
    return pages


def test_warm_tables_in_shuffled_order_give_cold_output(cold_tables):
    """A seeded corpus with varied bases, prefixes and vocabularies,
    parsed once with cold tables before each page and once warm in a
    shuffled order, gives equal output page by page.  Fails on both
    naive memos."""
    rng = random.Random(20261021)
    pages = _corpus(rng, 400)
    cold = []
    for html, base, profile in pages:
        for table in (util._PREFIXES, util._TERMS, fast_driver._TAG_CACHE):
            table.clear()
        cold.append(_triples(html, base, profile))
    order = list(range(len(pages)))
    rng.shuffle(order)
    for i in order:
        assert _triples(*pages[i]) == cold[i], pages[i]


def test_page_without_patterns_is_freed_by_refcount():
    """With gc off, a parsed page leaves no reference cycle: the deleted
    extractor of a page without rdfa:Pattern is gone at once, and a
    collection after the pattern-free fixtures finds nothing.  Run in a
    fresh interpreter, so no other test's garbage is counted."""
    script = textwrap.dedent("""
        import gc, json, sys, weakref
        from rdfa_streaming_parser_js_spark.kernel import parse_rdfa
        from rdfa_streaming_parser_js_spark.kernel.profiles import (
            RdfaFeatures)
        cases = json.load(open(sys.argv[1]))["cases"]
        gc.collect()
        gc.disable()
        alive = []
        for case in cases:
            if "rdfa:Pattern" in case["html"]:
                continue
            opts = dict(case["options"])
            if "features" in opts:
                opts["features"] = RdfaFeatures(**opts["features"])
            ex = weakref.ref(parse_rdfa(case["html"], **opts))
            if ex() is not None:
                alive.append(case["name"])
        print(json.dumps([alive, gc.collect()]))
    """)
    fixtures = Path(__file__).parent / "fixtures" / "rdfa_cases.json"
    out = subprocess.run(
        [sys.executable, "-c", script, str(fixtures)], check=True,
        capture_output=True, text=True,
        cwd=Path(__file__).resolve().parent.parent).stdout
    assert out.strip() == "[[], 0]"
