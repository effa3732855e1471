"""Graph isomorphism.

The reference's fixture suite compares quad sets with graph isomorphism
(``toBeRdfIsomorphic``, /root/reference/test/RdfParser-test.ts:178) —
blank-node labels don't matter, structure does. ``isomorphic(a, b)`` is
an exact bnode-bijection check (backtracking with signature pruning;
fixture graphs are small).

Triples here are *flattened*: tuples of term tuples
``('iri', v) | ('bnode', label) | ('lit', value, datatype, language)``.
"""

from __future__ import annotations

from .terms import BlankNode, Literal, NamedNode


_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def flatten_term(term) -> tuple:
    if isinstance(term, NamedNode):
        return ("iri", term.value)
    if isinstance(term, BlankNode):
        return ("bnode", term.value)
    if isinstance(term, Literal):
        dt = term.datatype.value if term.datatype else None
        if dt == _XSD_STRING:
            dt = None  # RDF 1.1: xsd:string IS the plain-literal datatype
        return ("lit", term.value, dt, term.language)
    raise TypeError(f"not a term: {term!r}")


def flatten_triples(triples) -> list[tuple]:
    return [tuple(flatten_term(t) for t in triple) for triple in triples]


def _is_bnode(x) -> bool:
    return x[0] == "bnode"


def _has_bnode(t) -> bool:
    return any(_is_bnode(x) for x in t)


def _signature(label: str, triples) -> tuple:
    sig = []
    key = ("bnode", label)
    for t in triples:
        for i, x in enumerate(t):
            if x == key:
                sig.append((i, tuple(
                    y if not _is_bnode(y) else ("bnode",)
                    for j, y in enumerate(t) if j != i)))
    return tuple(sorted(sig))


def isomorphic(a, b) -> bool:
    """Bnode-label-independent graph equality over flattened triples."""
    set_a, set_b = set(a), set(b)
    if len(set_a) != len(set_b):
        return False
    ground_a = {t for t in set_a if not _has_bnode(t)}
    ground_b = {t for t in set_b if not _has_bnode(t)}
    if ground_a != ground_b:
        return False
    rest_a = sorted(set_a - ground_a)
    rest_b = set_b - ground_b
    labels_a = sorted({x[1] for t in rest_a for x in t if _is_bnode(x)})
    labels_b = sorted({x[1] for t in rest_b for x in t if _is_bnode(x)})
    if len(labels_a) != len(labels_b):
        return False

    sig_a = {l: _signature(l, rest_a) for l in labels_a}
    sig_b = {l: _signature(l, rest_b) for l in labels_b}
    candidates = {
        l: [m for m in labels_b if sig_b[m] == sig_a[l]] for l in labels_a}
    if any(not c for c in candidates.values()):
        return False
    order = sorted(labels_a, key=lambda l: len(candidates[l]))

    mapping: dict[str, str] = {}
    used: set[str] = set()

    def substitute(t):
        return tuple(("bnode", mapping[x[1]]) if _is_bnode(x) else x
                     for x in t)

    def backtrack(i: int) -> bool:
        if i == len(order):
            return {substitute(t) for t in rest_a} == rest_b
        label = order[i]
        for cand in candidates[label]:
            if cand in used:
                continue
            mapping[label] = cand
            used.add(cand)
            if backtrack(i + 1):
                return True
            del mapping[label]
            used.discard(cand)
        return False

    return backtrack(0)
