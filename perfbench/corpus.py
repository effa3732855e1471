"""Seeded input generators for the three workloads.

Everything here is derived from the benchmark's ``--seed``: the
``documents`` tables the repo's page generators read, the heavy-tailed
non-RDFa boilerplate spliced around each page's RDFa block, the recrawl
layout (k crawls per url, a share of them with changed content) and the
SPARQL query mix with its constants.  The program under test only ever
sees the tables written from these; the oracle rebuilds its expectations
from the same ``documents`` tables.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field
from statistics import NormalDist

import pyarrow as pa

from rdfa_streaming_parser_js_spark.operators.entity_link import (
    DEFAULT_ENTITY_NAMES)
from rdfa_streaming_parser_js_spark.sources.pages import (
    PAGE_URL_PREFIX, RICH_URL_PREFIX, SOURCE_IRI_PREFIX)

# Block kinds: the repo's three synthetic RDFa corpora (sources/pages.py).
ARTICLE, RICH, XMLCOPY = "article", "rich", "xmlcopy"
KINDS = (ARTICLE, RICH, XMLCOPY)

LANGS = ("en", "fr", "de", "es", "it")
N_SOURCES = 12

_SYLLABLES = ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu",
              "bo", "da")
# Fixed vocabulary (independent of the seed): the entity-link dictionary
# names plus 2- and 3-syllable words.  Lowercase letters only, so no word
# can open a tag, an entity or an RDFa attribute.
VOCAB = tuple(DEFAULT_ENTITY_NAMES) + tuple(
    a + b for a in _SYLLABLES for b in _SYLLABLES) + tuple(
    a + b + c for a in _SYLLABLES[:8] for b in _SYLLABLES[:8]
    for c in _SYLLABLES[:6])

# Boilerplate elements carry only non-RDFa attributes (class/id), never
# about/content/datatype/href/inlist/lang/prefix/property/rel/resource/
# rev/src/typeof/vocab, so a page's triples stay exactly its block's.
_BOILER_TAGS = (
    '<div class="nav"><ul><li>{}</li><li>{}</li></ul></div>',
    '<p class="lead">{} <em>{}</em></p>',
    '<section id="s"><h2>{}</h2><p>{}</p></section>',
    '<table class="t"><tr><td>{}</td><td>{}</td></tr></table>',
    '<footer><span class="c">{}</span> <strong>{}</strong></footer>',
)


def _text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(12, 40)))


def documents_table(doc_ids: list[int], texts: list[str], langs: list[str],
                    sources: list[str]) -> pa.Table:
    """The ``documents`` schema the repo's page generators read."""
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
    })


def _fresh_docs(rng: random.Random, doc_ids: list[int]) -> pa.Table:
    return documents_table(
        doc_ids, [_text(rng) for _ in doc_ids],
        [rng.choice(LANGS) for _ in doc_ids],
        [f"src{rng.randrange(N_SOURCES)}" for _ in doc_ids])


@dataclass
class Corpus:
    """One workload's generated input, before staging."""

    docs: dict[str, pa.Table]           # block kind -> documents table
    # doc_id -> boilerplate byte budget (empty: no boilerplate)
    boiler_bytes: dict[int, int] = field(default_factory=dict)
    k_crawls: int = 1
    unchanged_ids: frozenset = frozenset()  # doc_ids whose crawls agree

    @property
    def all_docs(self) -> pa.Table:
        return pa.concat_tables(self.docs.values())

    def doc_ids(self, kind: str) -> list[int]:
        if kind not in self.docs:
            return []
        return sorted(set(self.docs[kind].column("doc_id").to_pylist()))


def _balanced_kinds(rng: random.Random, n: int,
                    kinds: tuple[str, ...]) -> dict[str, list[int]]:
    """Assign doc ids 0..n-1 to kinds in fixed shares, seeded order."""
    labels = [kinds[i % len(kinds)] for i in range(n)]
    rng.shuffle(labels)
    out: dict[str, list[int]] = {k: [] for k in kinds}
    for i, k in enumerate(labels):
        out[k].append(i)
    return out


def heavy_tail_sizes(rng: random.Random, n: int, median: int,
                     sigma: float, lo: int, hi: int) -> list[int]:
    """Log-normal sizes by stratified quantiles: each page draws from its
    own 1/n slice of the distribution, so the seed moves every size but
    barely moves the total — runs on different seeds do the same work."""
    nd = NormalDist()
    sizes = [min(hi, max(lo, int(median * math.exp(
        sigma * nd.inv_cdf((i + rng.random()) / n))))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def extract_corpus(seed: int, n_pages: int) -> Corpus:
    """Pages of all three block kinds, each wrapped in boilerplate whose
    size is heavy-tailed (median ~24 KB, tail up to ~320 KB)."""
    rng = random.Random(f"{seed}:extract")
    by_kind = _balanced_kinds(rng, n_pages, KINDS)
    docs = {k: _fresh_docs(rng, ids) for k, ids in by_kind.items()}
    sizes = heavy_tail_sizes(rng, n_pages, median=24_000, sigma=0.9,
                             lo=4_000, hi=320_000)
    return Corpus(docs=docs, boiler_bytes=dict(enumerate(sizes)))


def recrawl_corpus(seed: int, n_urls: int, k: int,
                   changed_share: float) -> Corpus:
    """Article-template pages, each url crawled ``k`` times; every
    recrawl after the first has changed text with ``changed_share``
    probability (same url, lang and source)."""
    rng = random.Random(f"{seed}:recrawl")
    base = _fresh_docs(rng, list(range(n_urls)))
    ids, texts, langs, sources = [], [], [], []
    unchanged = set(range(n_urls))
    for row in base.to_pylist():
        for c in range(k):
            text = row["text"]
            if c > 0 and rng.random() < changed_share:
                text = _text(rng)
                unchanged.discard(row["doc_id"])
            ids.append(row["doc_id"])
            texts.append(text)
            langs.append(row["lang"])
            sources.append(row["source"])
    docs = documents_table(ids, texts, langs, sources)
    return Corpus(docs={ARTICLE: docs}, k_crawls=k,
                  unchanged_ids=frozenset(unchanged))


def template_corpus(seed: int, n_pages: int) -> Corpus:
    """Small template pages without boilerplate (article 3/5, rich 1/5,
    xmlcopy 1/5): the pages extract_small parses and the graph kg_query
    reads."""
    rng = random.Random(f"{seed}:template")
    by_kind = _balanced_kinds(
        rng, n_pages, (ARTICLE, ARTICLE, ARTICLE, RICH, XMLCOPY))
    docs = {k: _fresh_docs(rng, ids) for k, ids in by_kind.items()}
    return Corpus(docs=docs)


def boilerplate(rng: random.Random, nbytes: int) -> str:
    """Non-RDFa HTML of about ``nbytes`` bytes."""
    parts, size = [], 0
    while size < nbytes:
        chunk = rng.choice(_BOILER_TAGS).format(
            " ".join(rng.choices(VOCAB, k=rng.randint(8, 40))),
            " ".join(rng.choices(VOCAB, k=rng.randint(2, 12))))
        parts.append(chunk)
        size += len(chunk)
    return "".join(parts)


# -- SPARQL query mix -------------------------------------------------------

QUERY_CLASSES = ("lookup", "analytic", "aggregate", "path", "describe", "ask")

_PREFIXES = ("PREFIX schema: <http://schema.org/> "
             "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> ")


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    params: tuple  # the seeded constants, for the oracle


def _article_subj(doc_id: int) -> str:
    return f"{PAGE_URL_PREFIX}{doc_id}#it"


def _rich_subj(doc_id: int) -> str:
    return f"{RICH_URL_PREFIX}{doc_id}#it"


def _distinct_keywords_doc(rng: random.Random, corpus: Corpus) -> int:
    """A rich page whose two list keywords differ, so the path answer
    holds no repeated value whose multiplicity SPARQL leaves open."""
    rich = corpus.docs[RICH]
    texts = dict(zip(rich.column("doc_id").to_pylist(),
                     rich.column("text").to_pylist()))
    ids = sorted(texts)
    while True:
        d = rng.choice(ids)
        w = texts[d].split(" ")
        if w[1] != w[2]:
            return d


def make_query(cls: str, rng: random.Random, corpus: Corpus) -> Query:
    articles = corpus.doc_ids(ARTICLE)
    # path wants rdf:List cells; a corpus without rich pages asks about an
    # article subject instead (an empty answer).
    rich = corpus.doc_ids(RICH)
    if cls == "lookup":
        s = _article_subj(rng.choice(articles))
        return Query(cls, f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}", (s,))
    if cls == "analytic":
        src = f"{SOURCE_IRI_PREFIX}src{rng.randrange(N_SOURCES)}"
        n = rng.randint(30, 60)
        return Query(cls, _PREFIXES + (
            "SELECT ?doc ?name ?wc WHERE { ?doc a schema:Article ; "
            f"schema:name ?name ; schema:isPartOf <{src}> . "
            "OPTIONAL { ?doc schema:wordCount ?wc } "
            f"FILTER(STRLEN(?name) > {n}) }} "
            "ORDER BY ?doc ?name ?wc LIMIT 10"), (src, n))
    if cls == "aggregate":
        src = f"{SOURCE_IRI_PREFIX}src{rng.randrange(N_SOURCES)}"
        return Query(cls, _PREFIXES + (
            "SELECT ?lang (COUNT(?doc) AS ?n) WHERE { ?doc a schema:Article "
            f"; schema:inLanguage ?lang ; schema:isPartOf <{src}> }} "
            "GROUP BY ?lang"), (src,))
    if cls == "path":
        s = (_rich_subj(_distinct_keywords_doc(rng, corpus)) if rich
             else _article_subj(rng.choice(articles)))
        return Query(cls, _PREFIXES + (
            f"SELECT ?kw WHERE {{ <{s}> schema:keywords ?l . "
            "?l rdf:rest*/rdf:first ?kw }"), (s,))
    if cls == "describe":
        # Article subjects only: a rich subject's bnode closure takes about
        # three times as long, and a class that mixed the two would let
        # the seed set its latency.
        s = _article_subj(rng.choice(articles))
        return Query(cls, f"DESCRIBE <{s}>", (s,))
    if cls == "ask":
        s = _article_subj(rng.choice(articles))
        w = rng.choice(VOCAB)
        return Query(cls, _PREFIXES + (
            f'ASK {{ <{s}> schema:name ?n . FILTER(CONTAINS(?n, "{w}")) }}'),
            (s, w))
    raise ValueError(f"unknown query class {cls!r}")


def query_mix(seed: int, corpus: Corpus, n: int, tag: str = "mix"
              ) -> list[Query]:
    """``n`` queries in rounds of one query per class, each round in a
    seeded order, so any prefix of the mix is balanced across classes."""
    rng = random.Random(f"{seed}:{tag}")
    out: list[Query] = []
    while len(out) < n:
        order = list(QUERY_CLASSES)
        rng.shuffle(order)
        out.extend(make_query(c, rng, corpus) for c in order)
    return out[:n]
