"""Per-element evaluation-context frame.

Semantic port of /root/reference/lib/IActiveTag.ts:7-30 and
/root/reference/lib/IRdfaPattern.ts:7-16. One frame per open element; the
stack of these frames is the complete RDFa state for a document.

Plain elements are the exception.  A plain element (no RDFa attribute,
no xmlns*, not the root, not <base>/<time>/<head>/<body>, not inside an
XMLLiteral or a pattern) opens no frame: it adds one to the ``depth`` of
the top frame, which is its effective parent, and its close subtracts
one.  It does open the frame it would have had while an rdfa:copy waits
for its pattern, and when a pattern root or an rdfa:copy opens inside
it.  The HTML driver classifies each distinct raw tag once
(``extractor.tag_shape``) and opens a plain one with
``RdfaExtractor.on_plain_open``, which counts it without copying its
attributes; only the root element, XMLLiteral and pattern contents get
a copy, on the full path.

The top frame is always the next element's parent.  A skipped element's
frame (``skip_element``) stands in for its parent: it carries the
parent's ``subject``, ``object``, ``list_mapping``, ``local_base_iri``
and ``incomplete_triples`` (and, with no @inlist of its own, the
parent's ``inlist``, ``explicit_new_subject`` and
``list_mapping_local``), keeps the lang, prefixes and vocab it declares
itself, and emits no list at its close.

A frame owns one ``text`` list: the text segments below it and, while
collecting an XMLLiteral, the serialized tags, marked as ``Markup``.  At
its close a frame hands the list to its parent and keeps none.
"""

from __future__ import annotations


class Markup(str):
    """A serialized tag in a frame's ``text``; plain text is the rest."""

    __slots__ = ()


class ActiveTag:
    __slots__ = (
        "name", "prefixes_all", "prefixes_custom", "subject",
        "explicit_new_subject", "predicates", "object", "text", "vocab",
        "language", "datatype",
        "collect_child_tags", "collect_child_tags_for_current_tag",
        "collected_pattern_tag", "interpret_object_as_time",
        "incomplete_triples", "inlist", "list_mapping",
        "list_mapping_local", "skip_element", "local_base_iri", "depth",
    )

    def __init__(self) -> None:
        self.name = ""
        self.prefixes_all: dict[str, str] = {}
        self.prefixes_custom: dict[str, str] = {}
        self.subject = None              # NamedNode | BlankNode | True | None
        self.explicit_new_subject = False
        self.predicates = None           # tuple[NamedNode, ...] | None
        self.object = None               # NamedNode | BlankNode | True | None
        self.text = None                 # list[str | Markup] | None
        self.vocab = None                # str | None
        self.language = None             # str | None
        self.datatype = None             # NamedNode | None
        self.collect_child_tags = False
        self.collect_child_tags_for_current_tag = False
        self.collected_pattern_tag = None  # RdfaPattern | None
        self.interpret_object_as_time = False
        self.incomplete_triples: list[tuple] = []  # (predicate, reverse, list)
        self.inlist = False
        self.list_mapping: dict[str, list] = {}
        self.list_mapping_local: dict[str, list] = {}
        self.skip_element = False
        self.local_base_iri = None       # NamedNode | None
        self.depth = 0                   # plain elements open above it


class RdfaPattern:
    """Stored rdfa:Pattern subtree for rdfa:copy instantiation."""

    __slots__ = ("root_pattern", "name", "attributes", "text", "children",
                 "referenced", "parent_tag", "constructed_blank_nodes")

    def __init__(self, name: str, attributes: dict[str, str],
                 root_pattern: bool, parent_tag: ActiveTag | None = None) -> None:
        self.root_pattern = root_pattern
        self.name = name
        self.attributes = attributes
        self.text: list[str] = []
        self.children: list[RdfaPattern] = []
        self.referenced = False
        self.parent_tag = parent_tag
        self.constructed_blank_nodes: list = []  # shared by all copies
