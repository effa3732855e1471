"""RDF term model for the extraction kernel.

The reference uses RDFJS terms (NamedNode | BlankNode | Literal); see
/root/reference/lib/IActiveTag.ts:11-19. We use tiny slotted classes with
value equality so the kernel stays allocation-light inside the Arrow UDF.

Subjects may additionally be the sentinel ``True`` meaning "the base IRI"
(/root/reference/lib/Util.ts:161-163); that trick stays internal to the
kernel and is resolved via ``Util.get_resource_or_base_iri``.
"""

from __future__ import annotations


class NamedNode:
    __slots__ = ("value",)
    term_type = "NamedNode"

    def __init__(self, value: str) -> None:
        self.value = value

    def __eq__(self, other: object) -> bool:
        return isinstance(other, NamedNode) and other.value == self.value

    def __hash__(self) -> int:
        return hash(("iri", self.value))

    def __repr__(self) -> str:
        return f"<{self.value}>"


class BlankNode:
    __slots__ = ("value",)
    term_type = "BlankNode"

    def __init__(self, value: str) -> None:
        self.value = value

    def __eq__(self, other: object) -> bool:
        return isinstance(other, BlankNode) and other.value == self.value

    def __hash__(self) -> int:
        return hash(("bnode", self.value))

    def __repr__(self) -> str:
        return f"_:{self.value}"


class Literal:
    """A literal with optional datatype IRI or language tag.

    Mirrors rdf-data-factory semantics used by the reference
    (/root/reference/lib/Util.ts:203-213): datatype wins over language;
    a language-tagged literal implicitly has datatype rdf:langString and a
    plain one xsd:string — we keep those implicit (None) and only
    materialize them at serialization time, like N-Triples does.
    """

    __slots__ = ("value", "datatype", "language")
    term_type = "Literal"

    def __init__(self, value: str, datatype: NamedNode | None = None,
                 language: str | None = None) -> None:
        self.value = value
        self.datatype = datatype
        self.language = language

    def __eq__(self, other: object) -> bool:
        return (isinstance(other, Literal) and other.value == self.value
                and other.datatype == self.datatype
                and other.language == self.language)

    def __hash__(self) -> int:
        return hash(("lit", self.value,
                     self.datatype.value if self.datatype else None,
                     self.language))

    def __repr__(self) -> str:
        if self.datatype:
            return f'"{self.value}"^^{self.datatype!r}'
        if self.language:
            return f'"{self.value}"@{self.language}'
        return f'"{self.value}"'

