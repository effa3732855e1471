"""RDFa term/IRI/literal utilities.

Semantic port of /root/reference/lib/Util.ts (constants :12-32, prefix
parsing :52-80, term expansion :88-120, IRI validity :127-129, content-type
mapping :137-139, base-IRI handling :146-172, vocab IRIs :182-195, literal
construction + time sniffing :203-213, CURIE/IRI resolution :239-297).

All functions are pure Python — they run inside the Arrow-batched UDF, never
per-row through Spark.

Two per-worker tables make a term cost one dict hit after its first page:

- ``_PREFIXES`` interns prefix maps.  ``parse_prefixes`` and
  ``merge_prefixes`` return one shared map per (parent map, declaration),
  so every page that declares ``prefix="schema: http://schema.org/"``
  under the same initial context gets the same map objects.  Maps stay
  copy-on-write: nothing mutates a map once built.
- ``_TERMS`` memoizes ``create_iri`` and ``create_vocab_iris`` on (term or
  term tuple, flags, vocab, identity of the tag's ``prefixes_all``), and
  only for a result no base can change: a vocab term, a blank node, a
  CURIE or IRI that is absolute before resolution.  A relative IRI,
  including a vocab-mode prefixed one (resolved against the document
  base), is resolved again on every use.

Keys hold map identities (``id``).  Each value also holds the maps its key
names, so no id in a live key can be reused by a new map.  Both tables
are bounded like ``fast_driver._TAG_CACHE`` and cleared together when
full (``_remember``).
"""

from __future__ import annotations

import re
from itertools import count
from typing import Callable, Optional

from .active_tag import ActiveTag
from .iri import SCHEME_RE, resolve
from .profiles import RDFA_CONTENTTYPES
from .terms import BlankNode, Literal, NamedNode

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDFA = "http://www.w3.org/ns/rdfa#"
XHTML_VOCAB = "http://www.w3.org/1999/xhtml/vocab#"

# /root/reference/lib/Util.ts:16 — one `prefix: iri` pair per match; a pair
# without a ':' or without an IRI is silently ignored / maps to ''.
_PREFIX_RE = re.compile(r"\s*([^\s:]*):\s*(\S*)\s*")

# /root/reference/lib/Util.ts:17-30 — xsd datatype sniffing for <time>
# contents and datetime attributes. Lexical forms are preserved verbatim;
# only the datatype tag is derived. First match wins.
TIME_REGEXES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"^-?P(\d+Y)?(\d+M)?(\d+D)?(T(\d+H)?(\d+M)?(\d+(\.\d)?S)?)?$"),
     "duration"),
    (re.compile(r"^\d+-\d\d-\d\dT\d\d:\d\d:\d\d((Z?)|([+-]\d\d:\d\d))$"),
     "dateTime"),
    (re.compile(r"^\d+-\d\d-\d\dZ?$"), "date"),
    (re.compile(r"^\d\d:\d\d:\d\d((Z?)|([+-]\d\d:\d\d))$"), "time"),
    (re.compile(r"^\d+-\d\d$"), "gYearMonth"),
    (re.compile(r"^\d+$"), "gYear"),
]

# /root/reference/lib/Util.ts:32 — structural IRI validity.
_IRI_RE = re.compile(r'^([A-Za-z][\d+-.A-Za-z]*|_):[^ "<>[\\\]`{|}]*$')

_PREFIXES: dict = {}
_TERMS: dict = {}
TABLES_MAX = 1 << 16


def _remember(table: dict, key, value) -> None:
    if len(_PREFIXES) + len(_TERMS) >= TABLES_MAX:
        _PREFIXES.clear()
        _TERMS.clear()
    table[key] = value


def parse_prefixes(attributes: dict[str, str], parent_prefixes: dict[str, str],
                   xmlns_prefix_mappings: bool) -> dict[str, str]:
    """Extract prefix mappings from @prefix / xmlns:* attributes.

    Copy-on-write: returns ``parent_prefixes`` unchanged when the tag
    declares nothing new (/root/reference/lib/Util.ts:66-79).
    Otherwise the map is interned per (parent map, declaration).
    """
    additional = tuple(
        (attribute[6:], value) for attribute, value in attributes.items()
        if attribute.startswith("xmlns")) if xmlns_prefix_mappings else ()
    prefix_attr = attributes.get("prefix")
    if not (prefix_attr or additional):
        return parent_prefixes
    key = (id(parent_prefixes), prefix_attr, additional)
    hit = _PREFIXES.get(key)
    if hit is None:
        prefixes = {**parent_prefixes, **dict(additional)}
        for m in _PREFIX_RE.finditer(prefix_attr or ""):
            prefixes[m.group(1)] = m.group(2)
        hit = (prefixes, parent_prefixes)
        _remember(_PREFIXES, key, hit)
    return hit[0]


def merge_prefixes(parent_all: dict[str, str],
                   custom: dict[str, str]) -> dict[str, str]:
    """A tag's in-scope map: its parent's overridden by its own custom
    prefixes, interned per pair of maps."""
    if not custom:
        return parent_all
    key = (id(parent_all), id(custom))
    hit = _PREFIXES.get(key)
    if hit is None:
        hit = ({**parent_all, **custom}, parent_all, custom)
        _remember(_PREFIXES, key, hit)
    return hit[0]


def expand_prefixed_term(term: str, active_tag: ActiveTag) -> str:
    """CURIE prefix / bare-term expansion (/root/reference/lib/Util.ts:88-120)."""
    colon = term.find(":")
    prefix: Optional[str] = None
    local: Optional[str] = None
    if colon >= 0:
        prefix = term[:colon]
        local = term[colon + 1:]

    # Empty prefix → XHTML default vocabulary
    if prefix == "":
        return XHTML_VOCAB + (local or "")

    if prefix:
        mapped = active_tag.prefixes_all.get(prefix)
        if mapped:
            return mapped + (local or "")

    if term:
        expanded = active_tag.prefixes_all.get(term.lower())
        if expanded:
            return expanded

    return term


def is_valid_iri(iri: str) -> bool:
    return _IRI_RE.match(iri) is not None


def content_type_to_profile(content_type: str) -> str:
    return RDFA_CONTENTTYPES.get(content_type, "")


class Util:
    """Stateful utility holder: document base IRI + blank-node factory.

    Mirrors the instance side of /root/reference/lib/Util.ts:34-43. The
    ``base_iri`` is document-global (mutated by <base>, lib/RdfaParser.ts:206)
    while ``base_iri_document`` stays frozen at the initial value (used for
    vocab-mode prefixed relative IRIs, lib/Util.ts:291).
    """

    def __init__(self, base_iri: str | None) -> None:
        self.base_iri = NamedNode(base_iri or "")
        self.base_iri_document = self.base_iri
        self.blank_node_factory: Optional[Callable[[], BlankNode]] = None
        self._labels = count()

    def fresh_blank_node(self) -> BlankNode:
        """Deterministic per-document labels g_0, g_1, ...  The extractor
        calls it through its ``util`` and keeps no bound copy, so no
        reference cycle keeps a parsed page alive."""
        return BlankNode(f"g_{next(self._labels)}")

    def get_base_iri(self, base_iri_value: str) -> NamedNode:
        """<base href> / xml:base handling: strip fragment, resolve
        against the current base (/root/reference/lib/Util.ts:146-153)."""
        href = base_iri_value
        frag = href.find("#")
        if frag >= 0:
            href = href[:frag]
        return NamedNode(resolve(href, self.base_iri.value))

    def get_base_iri_term(self, active_tag: ActiveTag) -> NamedNode:
        return active_tag.local_base_iri or self.base_iri

    def get_resource_or_base_iri(self, term, active_tag: ActiveTag):
        """Resolve the boolean-as-baseIRI sentinel
        (/root/reference/lib/Util.ts:161-163)."""
        return self.get_base_iri_term(active_tag) if term is True else term

    def create_blank_node(self) -> BlankNode:
        if self.blank_node_factory is not None:
            return self.blank_node_factory()
        return self.fresh_blank_node()

    def create_vocab_iris(self, terms: tuple, active_tag: ActiveTag,
                          allow_terms: bool, allow_blank_node: bool) -> tuple:
        """Whitespace-split multi-valued attribute → term list
        (/root/reference/lib/Util.ts:182-195)."""
        # ``terms`` comes split already (``TagShape``); the result is a
        # memoized tuple.
        key = (terms, allow_terms, allow_blank_node, active_tag.vocab,
               id(active_tag.prefixes_all))
        hit = _TERMS.get(key)
        if hit is not None:
            return hit[0]
        out, shared = [], True
        for term in terms:
            if allow_terms or ":" in term:
                created, base_free = self._iri(term, active_tag, True, True,
                                               allow_blank_node)
                shared = shared and base_free
                if created is not None:
                    out.append(created)
        out = tuple(out)
        if shared:
            _remember(_TERMS, key, (out, active_tag.prefixes_all))
        return out

    def create_literal(self, literal: str, active_tag: ActiveTag) -> Literal:
        """Literal with time-datatype sniffing; datatype wins over language;
        language lowercased (/root/reference/lib/Util.ts:203-213)."""
        if active_tag.interpret_object_as_time and not active_tag.datatype:
            for regex, xsd_type in TIME_REGEXES:
                if regex.match(literal):
                    active_tag.datatype = NamedNode(XSD + xsd_type)
                    break
        if active_tag.datatype:
            return Literal(literal, datatype=active_tag.datatype)
        if active_tag.language:
            return Literal(literal, language=active_tag.language.lower())
        return Literal(literal)

    def create_iri(self, term: str | None, active_tag: ActiveTag, vocab: bool,
                   allow_safe_curie: bool, allow_blank_node: bool):
        """CURIE/safe-CURIE/IRI resolution
        (/root/reference/lib/Util.ts:239-297). Returns NamedNode, BlankNode,
        or None for invalid terms; memoized."""
        key = (term, vocab, allow_safe_curie, allow_blank_node,
               active_tag.vocab, id(active_tag.prefixes_all))
        hit = _TERMS.get(key)
        if hit is not None:
            return hit[0]
        created, base_free = self._iri(term, active_tag, vocab,
                                       allow_safe_curie, allow_blank_node)
        if base_free:
            _remember(_TERMS, key, (created, active_tag.prefixes_all))
        return created

    def _iri(self, term: str | None, active_tag: ActiveTag, vocab: bool,
             allow_safe_curie: bool, allow_blank_node: bool) -> tuple:
        """``create_iri``'s result, and whether no base can change it."""
        term = term or ""
        base = None
        if not allow_safe_curie:
            iri = term
            if not vocab:
                base = self.get_base_iri_term(active_tag).value
        else:
            # Safe CURIEs: [prefix:local]; must contain a prefix separator
            if term.startswith("[") and term.endswith("]"):
                term = term[1:-1]
                if ":" not in term:
                    return None, True

            # Blank nodes
            if term.startswith("_:"):
                if not allow_blank_node:
                    return None, True
                return BlankNode(term[2:] or "b_identity"), True

            # Vocab IRIs
            if vocab and active_tag.vocab and ":" not in term:
                return NamedNode(active_tag.vocab + term), True

            # Prefixed IRIs
            iri = expand_prefixed_term(term, active_tag)
            if not vocab:
                base = self.get_base_iri_term(active_tag).value
            elif term != iri:
                # prefixed relative IRI in vocab-mode resolves against the
                # document (not mutated) base
                base = self.base_iri_document.value
        # ``resolve`` returns an absolute IRI unchanged
        base_free = base is None or SCHEME_RE.match(iri) is not None
        if not base_free:
            iri = resolve(iri, base)
        return (NamedNode(iri) if is_valid_iri(iri) else None), base_free
