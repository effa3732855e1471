"""Helper-level unit tests, ported from /root/reference/test/Util-test.ts
(prefix parsing :23-172, term expansion :174-240, content types :242-272,
createIri :281-485, createLiteral :487-640)."""

from __future__ import annotations

import random

import pytest

from rdfa_streaming_parser_js_spark.kernel.active_tag import ActiveTag
from rdfa_streaming_parser_js_spark.kernel.iri import _resolve_split, resolve
from rdfa_streaming_parser_js_spark.kernel.terms import BlankNode, Literal, NamedNode
from rdfa_streaming_parser_js_spark.kernel.util import (
    Util, content_type_to_profile, expand_prefixed_term, is_valid_iri,
    parse_prefixes)


def make_util(base="http://example.org/"):
    return Util(base)


def tag(prefixes=None, vocab=None, language=None, datatype=None,
        interpret_time=False):
    t = ActiveTag()
    t.prefixes_all = prefixes or {}
    t.vocab = vocab
    t.language = language
    t.datatype = datatype
    t.interpret_object_as_time = interpret_time
    return t


class TestParsePrefixes:
    def test_no_prefix_attribute(self):
        assert parse_prefixes({}, {}, False) == {}

    def test_empty_prefix_attribute(self):
        assert parse_prefixes({"prefix": ""}, {}, False) == {}

    def test_one_prefix(self):
        assert parse_prefixes(
            {"prefix": "dc: http://purl.org/dc/terms/"}, {}, False
        ) == {"dc": "http://purl.org/dc/terms/"}

    def test_two_prefixes(self):
        assert parse_prefixes(
            {"prefix": "dc: http://purl.org/dc/terms/ abc: http://example.org"},
            {}, False) == {"dc": "http://purl.org/dc/terms/",
                           "abc": "http://example.org"}

    def test_ignores_invalid_without_colon(self):
        got = parse_prefixes(
            {"prefix": "dc: http://purl.org/dc/terms/ abc"}, {}, False)
        assert got["dc"] == "http://purl.org/dc/terms/"
        assert "abc" not in got

    def test_invalid_with_colon_no_iri_is_falsy(self):
        got = parse_prefixes(
            {"prefix": "dc: http://purl.org/dc/terms/ abc:"}, {}, False)
        # the reference maps this to undefined; we map to '' — both falsy,
        # never expanded by expand_prefixed_term
        assert not got.get("abc")

    def test_inherits_parent(self):
        assert parse_prefixes({}, {"ex": "http://example.org"}, False) == {
            "ex": "http://example.org"}

    def test_overrides_parent(self):
        assert parse_prefixes(
            {"prefix": "dc: http://purl.org/dc/terms/"},
            {"dc": "http://example.org"}, False
        ) == {"dc": "http://purl.org/dc/terms/"}

    def test_newlines(self):
        assert parse_prefixes(
            {"prefix": "dc: http://purl.org/dc/terms/\nex: \nhttp://example.org/"},
            {}, False) == {"dc": "http://purl.org/dc/terms/",
                           "ex": "http://example.org/"}

    def test_xmlns_disabled(self):
        assert parse_prefixes({"xmlns:ex": "http://example.org/"}, {}, False) == {}

    def test_xmlns_enabled(self):
        assert parse_prefixes({"xmlns:ex": "http://example.org/"}, {}, True) == {
            "ex": "http://example.org/"}

    def test_prefix_beats_xmlns(self):
        assert parse_prefixes(
            {"prefix": "ex: http://example.org/",
             "xmlns:ex": "http://ignored.org/"}, {}, True
        ) == {"ex": "http://example.org/"}


class TestExpandPrefixedTerm:
    def test_valid_prefix(self):
        t = tag({"dc": "http://purl.org/dc/terms/"})
        assert expand_prefixed_term("dc:bla", t) == "http://purl.org/dc/terms/bla"

    def test_empty_prefix(self):
        assert expand_prefixed_term(":bla", tag()) == \
            "http://www.w3.org/1999/xhtml/vocab#bla"

    def test_term(self):
        t = tag({"term": "http://purl.org/dc/terms/term"})
        assert expand_prefixed_term("term", t) == "http://purl.org/dc/terms/term"

    def test_unknown_prefix(self):
        t = tag({"dc": "http://purl.org/dc/terms/"})
        assert expand_prefixed_term("bla:bla", t) == "bla:bla"

    def test_url_untouched(self):
        t = tag({"dc": "http://purl.org/dc/terms/"})
        assert expand_prefixed_term("http://example.org/bla", t) == \
            "http://example.org/bla"

    def test_unknown_term(self):
        assert expand_prefixed_term("bla", tag({"dc": "x"})) == "bla"

    def test_empty_term(self):
        assert expand_prefixed_term("", tag({"": "http://purl.org/dc/terms/"})) == ""


class TestContentType:
    @pytest.mark.parametrize("ct,profile", [
        ("text/unknown", ""), ("text/html", "html"),
        ("application/xhtml+xml", "xhtml"), ("application/xml", "xml"),
        ("text/xml", "xml"), ("image/svg+xml", "xml")])
    def test_mapping(self, ct, profile):
        assert content_type_to_profile(ct) == profile


class TestCreateIri:
    def test_absolute_no_curie(self):
        u = make_util()
        assert u.create_iri("http://ex.org/abc", tag(), False, False, True) == \
            NamedNode("http://ex.org/abc")

    def test_relative_no_curie(self):
        u = make_util()
        assert u.create_iri("abc", tag(), False, False, True) == \
            NamedNode("http://example.org/abc")

    def test_invalid_vocab_mode_no_curie(self):
        assert make_util().create_iri("abc", tag(), True, False, True) is None

    def test_blank_node(self):
        assert make_util().create_iri("_:b1", tag(), False, True, True) == \
            BlankNode("b1")

    def test_blank_node_disallowed(self):
        assert make_util().create_iri("_:b1", tag(), False, True, False) is None

    def test_prefixed(self):
        u = make_util()
        t = tag({"ex": "http://example.org/"})
        assert u.create_iri("ex:def", t, False, True, True) == \
            NamedNode("http://example.org/def")

    def test_unknown_prefix_kept(self):
        assert make_util().create_iri("ex:def", tag(), False, True, True) == \
            NamedNode("ex:def")

    def test_relative(self):
        assert make_util().create_iri("def", tag(), False, True, True) == \
            NamedNode("http://example.org/def")

    def test_relative_vocab_mode_without_vocab(self):
        assert make_util().create_iri("def", tag(), True, True, True) is None

    def test_relative_vocab_mode_with_vocab(self):
        assert make_util().create_iri(
            "def", tag(vocab="http://vocab.org/"), True, True, True) == \
            NamedNode("http://vocab.org/def")

    def test_prefixed_relative(self):
        t = tag({"abc": "abc/"})
        assert make_util().create_iri("abc:def", t, False, True, True) == \
            NamedNode("http://example.org/abc/def")

    def test_explicit_bnode(self):
        assert make_util().create_iri("[_:b]", tag(), False, True, True) == \
            BlankNode("b")

    def test_bnode_no_label(self):
        assert make_util().create_iri("_:", tag(), False, True, True) == \
            BlankNode("b_identity")

    def test_explicit_bnode_no_label(self):
        assert make_util().create_iri("[_:]", tag(), False, True, True) == \
            BlankNode("b_identity")

    def test_explicit_iri(self):
        assert make_util().create_iri(
            "[http://example.org]", tag(), False, True, True) == \
            NamedNode("http://example.org")

    def test_invalid_explicit_iri(self):
        assert make_util().create_iri("[invalid]", tag(), False, True, True) is None

    def test_term_expansion(self):
        t = tag({"license": "http://www.w3.org/1999/xhtml/vocab#license"})
        assert make_util().create_iri("license", t, True, True, True) == \
            NamedNode("http://www.w3.org/1999/xhtml/vocab#license")

    def test_case_insensitive_term(self):
        t = tag({"license": "http://www.w3.org/1999/xhtml/vocab#license"})
        assert make_util().create_iri("LiCeNSe", t, True, True, True) == \
            NamedNode("http://www.w3.org/1999/xhtml/vocab#license")

    def test_vocab_beats_term(self):
        t = tag({"license": "http://www.w3.org/1999/xhtml/vocab#license"},
                vocab="http://vocab.org/")
        assert make_util().create_iri("license", t, True, True, True) == \
            NamedNode("http://vocab.org/license")

    def test_relative_prefix_base_mode(self):
        t = tag({"pre": "relative/prefix#"})
        assert make_util().create_iri("pre:suffix", t, False, True, True) == \
            NamedNode("http://example.org/relative/prefix#suffix")

    def test_relative_prefix_vocab_mode(self):
        t = tag({"pre": "relative/prefix#"})
        assert make_util().create_iri("pre:suffix", t, True, True, True) == \
            NamedNode("http://example.org/relative/prefix#suffix")

    def test_empty_base_mode(self):
        assert make_util().create_iri(
            "", tag(vocab="http://vocab.org/"), False, True, True) == \
            NamedNode("http://example.org/")

    def test_none_base_mode(self):
        assert make_util().create_iri(
            None, tag(vocab="http://vocab.org/"), False, True, True) == \
            NamedNode("http://example.org/")

    def test_empty_vocab_mode(self):
        assert make_util().create_iri(
            "", tag(vocab="http://vocab.org/"), True, True, True) == \
            NamedNode("http://vocab.org/")


class TestCreateLiteral:
    def test_plain(self):
        assert make_util().create_literal("abc", tag()) == Literal("abc")

    def test_datatyped(self):
        t = tag(datatype=NamedNode("http://example.org/datatype"))
        assert make_util().create_literal("abc", t) == \
            Literal("abc", datatype=NamedNode("http://example.org/datatype"))

    def test_language(self):
        t = tag(language="EN-us")
        assert make_util().create_literal("abc", t) == \
            Literal("abc", language="en-us")

    @pytest.mark.parametrize("value,xsd_type", [
        ("P2Y6M5DT12H35M30S", "duration"),
        ("2012-03-18T00:00:00Z", "dateTime"),
        ("2012-03-18T00:00:00+01:00", "dateTime"),
        ("2012-03-18", "date"),
        ("2012-03-18Z", "date"),
        ("00:00:00", "time"),
        ("00:00:00Z", "time"),
        ("00:00:00-02:00", "time"),
        ("2012-03", "gYearMonth"),
        ("2012", "gYear"),
    ])
    def test_time_sniffing(self, value, xsd_type):
        t = tag(interpret_time=True)
        got = make_util().create_literal(value, t)
        assert got.datatype == NamedNode(
            f"http://www.w3.org/2001/XMLSchema#{xsd_type}")
        assert got.value == value  # lexical form verbatim

    def test_invalid_time_stays_plain(self):
        t = tag(interpret_time=True)
        assert make_util().create_literal("not a date", t) == \
            Literal("not a date")

    def test_explicit_datatype_beats_time(self):
        t = tag(datatype=NamedNode("http://ex.org/dt"), interpret_time=True)
        got = make_util().create_literal("2012-03-18", t)
        assert got.datatype == NamedNode("http://ex.org/dt")


class TestIriResolve:
    @pytest.mark.parametrize("ref,base,out", [
        ("", "http://example.org/", "http://example.org/"),
        ("abc", "http://example.org/", "http://example.org/abc"),
        ("abc", "http://example.org/dir/x", "http://example.org/dir/abc"),
        ("/abc", "http://example.org/dir/x", "http://example.org/abc"),
        ("#f", "http://example.org/x", "http://example.org/x#f"),
        ("?q=1", "http://example.org/x", "http://example.org/x?q=1"),
        ("../up", "http://example.org/a/b/c", "http://example.org/a/up"),
        ("//other.org/p", "http://example.org/", "http://other.org/p"),
        ("http://abs.org/x", "http://example.org/", "http://abs.org/x"),
        ("abc", "http://example.org", "http://example.org/abc"),
        # a fragment may hold a newline (the split once raised on it)
        ("x#a\nb", "http://example.org/", "http://example.org/x#a\nb"),
        ("x", "http://example.org/d#a\nb", "http://example.org/x"),
    ])
    def test_resolution(self, ref, base, out):
        assert resolve(ref, base) == out

    def test_fragment_refs_match_the_rfc_path(self):
        """A fragment-only ref skips the RFC split (§5.2.2, empty path):
        over random bases with and without an authority, query, fragment
        and dot segments, and scheme-less ones, ``resolve`` agrees with
        the full path."""
        rng = random.Random(3986)
        parts = {
            "scheme": ["http:", "urn:", "a+b.c-d:", "", "1x:"],
            "auth": ["", "//h.example", "//u@h:8080", "//"],
            "path": ["", "/", "/a/b", "a/./b/../c", "/a/../../b/.", "x:y/z",
                     "/a\nb"],
            "query": ["", "?", "?q=1", "?a#b?c"],
            "frag": ["", "#", "#f", "#a#b", "#x\ny", "#\n"],
        }
        for _ in range(3000):
            base = "".join(rng.choice(v) for v in parts.values())
            for ref in ("#", "#x", "#a#b", "#\n", "#a\nb"):
                if base:
                    assert resolve(ref, base) == _resolve_split(ref, base), (
                        ref, base)


class TestIsValidIri:
    @pytest.mark.parametrize("iri,valid", [
        ("http://example.org/x", True),
        ("ex:def", True),
        ("_:b", True),
        ("abc", False),
        ("http://ex.org/a b", False),
        ("", False),
    ])
    def test_validity(self, iri, valid):
        assert is_valid_iri(iri) is valid
