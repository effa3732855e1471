"""RDFa Core 1.1 + HTML5 evaluation-context state machine.

Semantic port of /root/reference/lib/RdfaParser.ts (tag-open processing
steps 1-13 :87-590, text accumulation :592-610, tag-close emission
:612-724, document-end pattern flush :726-755, list mapping :775-795,
triple validation :803-811, rdfa:Pattern copying :819-868).

This class is driven by SAX-style events (``on_tag_open`` / ``on_text`` /
``on_tag_close`` / ``on_end``) — the same seam the reference exposes
(/root/reference/README.md "advanced usage") — so unit tests can bypass
HTML tokenization, and the HTML/XML drivers in ``html_driver.py`` feed it.

Blank nodes are minted from a deterministic per-document counter
(labels ``g_0``, ``g_1``, ...) so extraction is reproducible at any
parallelism — unlike the reference's process-global counter
(/root/reference/lib/Util.ts:219-224); fixture comparison uses graph
isomorphism so labels don't matter, and distributed runs skolemize with
sha1(url || label) downstream.

An element's open pays only for what depends on its context.  What its
name and attributes alone decide is a ``TagShape``, built once per
distinct raw tag by the HTML driver (``fast_driver._TAG_CACHE``) and
once per call for every other caller.  Terms resolve through the
per-worker prefix and term tables in ``util.py``, which share a result
between pages only where no base can change it.
"""

from __future__ import annotations

from copy import copy
from functools import cached_property
from itertools import count

from .active_tag import ActiveTag, Markup, RdfaPattern
from .contexts import INITIAL_CONTEXT, INITIAL_CONTEXT_XHTML
from .profiles import RDFA_FEATURES, RdfaFeatures
from .terms import BlankNode, NamedNode
from .util import (
    RDF, RDFA, XHTML_VOCAB, Util, content_type_to_profile, merge_prefixes,
    parse_prefixes)

# Hoisted constant terms (NamedNode is immutable value-equality):
# constructing these per emitted triple showed up in profiles.
_RDF_TYPE = NamedNode(RDF + "type")
_RDF_FIRST = NamedNode(RDF + "first")
_RDF_REST = NamedNode(RDF + "rest")
_RDF_NIL = NamedNode(RDF + "nil")
_RDFA_USES_VOCABULARY = NamedNode(RDFA + "usesVocabulary")

# Attributes that make a tag RDFa-relevant: if none of these (and no
# xmlns*) appear, steps 2-13 collapse to taking the parent's context,
# and the element is counted on the top frame instead of opening a
# frame (``plain_element``).  Most real-web markup (div/span/p/a soup
# without RDFa) lands there.
_RDFA_ATTRS = frozenset((
    "about", "resource", "href", "src", "typeof", "property", "rel",
    "rev", "content", "datatype", "datetime", "inlist", "vocab",
    "prefix", "role", "lang", "xml:lang", "xml:base"))
# Tags with name-triggered behavior (base-IRI override, time datatype
# sniffing, head/body subject inheritance) that must take the full path
# even with no attributes.
_NAME_TRIGGERED_TAGS = frozenset(("base", "time", "head", "body"))
# Differential-test switch (tests/test_fast_driver.py): off, every
# element opens a frame on the full path and the HTML driver hands every
# start tag to ``on_tag_open``.  Counting must be behaviorally
# invisible; parity is asserted by running the fixture + fuzz corpora
# with this flag off and on.
FAST_TAG_PATH = True

_INITIAL_CONTEXT_WITH_XHTML = {**INITIAL_CONTEXT, **INITIAL_CONTEXT_XHTML}
_NO_PREFIXES: dict[str, str] = {}


def plain_element(name: str, attributes) -> bool:
    """True when an element's name and attributes give RDFa nothing to
    do: no RDFa attribute, no xmlns*, no name-triggered behavior.  The
    one rule behind ``on_tag_open``'s fast path and the HTML driver's
    plain-tag classification (``fast_driver._TAG_CACHE``)."""
    if name in _NAME_TRIGGERED_TAGS \
            or not _RDFA_ATTRS.isdisjoint(attributes):
        return False
    for a in attributes:
        if a.startswith("xmlns"):
            return False
    return True


class TagShape:
    """What RDFa processing reads from a start tag's name and attributes
    alone (``tag_shape``): whether it is plain, an rdfa:Pattern root or
    an rdfa:copy, whether it declares prefixes, the values of the
    attributes that steps 5-11 read, and the whitespace-split tokens of
    @typeof, @property, @rel and @rev (None: absent).

    The HTML driver caches one shape per distinct raw start tag
    (``fast_driver._TAG_CACHE``, shared by html and xhtml pages), so a
    shape holds no fact that depends on the profile's features or on the
    element's context; ``on_tag_open`` makes those choices.  A shape is
    immutable once built."""

    __slots__ = ("plain", "pattern", "copy", "declares", "about",
                 "resource", "href", "src", "content", "datatype", "inlist",
                 "typeof", "property", "rel", "rev")

    def __init__(self, name: str, attributes) -> None:
        get = attributes.get
        self.plain = plain_element(name, attributes)
        self.pattern = get("typeof") == "rdfa:Pattern"
        self.copy = get("property") == "rdfa:copy"
        self.declares = bool(get("prefix")) or any(
            a.startswith("xmlns") for a in attributes)
        (self.about, self.resource, self.href, self.src, self.content,
         self.datatype) = map(get, ("about", "resource", "href", "src",
                                    "content", "datatype"))
        self.inlist = "inlist" in attributes
        self.typeof, self.property, self.rel, self.rev = (
            None if v is None else tuple(v.split())  # splits as \s+ does
            for v in map(get, ("typeof", "property", "rel", "rev")))


# The shape of every plain tag: plain, and no RDFa attribute.
_PLAIN = TagShape("span", {})


def tag_shape(name: str, attributes) -> TagShape:
    """The one function that analyzes a start tag for ``on_tag_open``."""
    return _PLAIN if plain_element(name, attributes) \
        else TagShape(name, attributes)


def _plain_frame(parent: ActiveTag) -> ActiveTag:
    """The frame a plain element would open under ``parent``: all of its
    context is the parent's, and with a parent object it is skipped
    (the 5.2 no-attribute arm, RdfaParser.ts:412-419)."""
    tag = ActiveTag()
    tag.vocab = parent.vocab
    tag.prefixes_custom = parent.prefixes_custom
    tag.prefixes_all = parent.prefixes_all
    tag.language = parent.language
    tag.skip_element = bool(parent.object)
    _stand_in(tag, parent)
    return tag


def _stand_in(tag: ActiveTag, parent: ActiveTag) -> None:
    """Make a skipped tag's frame stand in for its parent: the parent's
    subject, object, lists, base and incomplete triples, by reference.
    Without an @inlist of its own it also answers step 12's search for
    the list owner as the parent would, so a frame kept for a pattern
    replay finds the owner with no stack below it."""
    tag.subject = parent.subject
    tag.object = parent.object
    tag.list_mapping = parent.list_mapping
    tag.local_base_iri = parent.local_base_iri
    tag.incomplete_triples = parent.incomplete_triples
    if not tag.inlist:
        tag.inlist = parent.inlist
        tag.explicit_new_subject = parent.explicit_new_subject
        tag.list_mapping_local = parent.list_mapping_local


class RdfaExtractor:
    """One instance per document. Collects triples into ``self.triples``."""

    def __init__(self, base_iri: str = "", profile: str | None = "",
                 content_type: str | None = None, language: str | None = None,
                 vocab: str | None = None,
                 features: RdfaFeatures | None = None) -> None:
        if content_type is not None:
            profile = content_type_to_profile(content_type)
        profile = profile or ""
        self.profile = profile
        self._features = features or RDFA_FEATURES[profile]
        self.util = Util(base_iri)
        self.triples: list[tuple] = []

        self._copy_rdfa_patterns = self._features.copy_rdfa_patterns
        self.rdfa_patterns: dict[str, RdfaPattern] = {}
        self.pending_copies: dict[str, list[ActiveTag]] = {}

        root = ActiveTag()
        root.language = language
        root.vocab = vocab
        # Prefix maps are copy-on-write, so the root shares the constants.
        root.prefixes_custom = _NO_PREFIXES
        root.prefixes_all = (_INITIAL_CONTEXT_WITH_XHTML
                             if self._features.xhtml_initial_context
                             else INITIAL_CONTEXT)
        self.stack: list[ActiveTag] = [root]

    @cached_property
    def features(self) -> RdfaFeatures:
        """The document's feature flags.  The extractor never mutates the
        shared ones; the first read here detaches a private copy."""
        self._features = self._features.copy()
        return self._features

    # ------------------------------------------------------------------
    def _is_inherit_subject_in_head_body(self, name: str) -> bool:
        # /root/reference/lib/RdfaParser.ts:763-765
        return (self._features.inherit_subject_in_head_body
                and name in ("head", "body"))

    # ------------------------------------------------------------------
    def on_tag_open(self, name: str, attributes: dict[str, str],
                    shape: TagShape | None = None) -> None:
        """Open an element.  ``shape`` is ``tag_shape(name, attributes)``
        as the HTML driver cached it; every other caller (the XML driver,
        pattern replay, ``on_end``, the listener tee, tests) leaves it
        out and the shape is worked out here."""
        if shape is None:
            shape = tag_shape(name, attributes)
        stack = self.stack

        # The top frame is the parent.  A skipped tag's frame stands in
        # for its own parent (``_stand_in``) and a plain element opens no
        # frame, so the reference's walk back over skipped tags
        # (RdfaParser.ts:89-104) is never needed.
        parent = stack[-1]
        if FAST_TAG_PATH and shape.plain and self._count_plain(parent):
            return

        features = self._features
        util = self.util

        # A pattern root or an rdfa:copy keeps its parent frame past its
        # own close (to replay into it), so under counted elements the
        # innermost one first opens the frame it would have had.
        if parent.depth and self._copy_rdfa_patterns and (
                shape.pattern or shape.copy):
            parent.depth -= 1
            parent = _plain_frame(parent)
            stack.append(parent)

        tag = ActiveTag()
        tag.name = name
        tag.collect_child_tags = parent.collect_child_tags
        tag.collect_child_tags_for_current_tag = \
            parent.collect_child_tags_for_current_tag
        tag.inlist = inlist = shape.inlist
        tag.list_mapping_local = parent.list_mapping
        tag.local_base_iri = parent.local_base_iri
        stack.append(tag)

        # XMLLiteral/HTML collection: serialize the open tag, re-declaring
        # inherited custom prefixes alphabetically (RdfaParser.ts:123-139).
        if tag.collect_child_tags:
            for prefix in sorted(parent.prefixes_custom.keys()):
                key = "xmlns" if prefix == "" else f"xmlns:{prefix}"
                if key not in attributes:
                    attributes[key] = parent.prefixes_custom[prefix]
            serialized = " ".join(f'{k}="{v}"' for k, v in attributes.items())
            tag.text = [Markup(
                f"<{name} {serialized}>" if serialized else f"<{name}>")]
            if features.skip_handling_xml_literal_children:
                return

        typeof, prop, rel, rev = (shape.typeof, shape.property, shape.rel,
                                  shape.rev)
        about, resource, content, datatype = (
            shape.about, shape.resource, shape.content, shape.datatype)
        href_or_src = shape.href or shape.src
        allow_terms_in_rel = True
        allow_terms_in_rev = True
        if features.only_allow_uri_rel_rev_if_property and prop is not None:
            # Drop non-CURIE rel/rev when property is present
            # (RdfaParser.ts:143-157)
            if rel is not None:
                allow_terms_in_rel = False
                if ":" not in attributes["rel"]:
                    del attributes["rel"]
                    rel = None
            if rev is not None:
                allow_terms_in_rev = False
                if ":" not in attributes["rev"]:
                    del attributes["rev"]
                    rev = None

        if self._copy_rdfa_patterns:
            # Collect children of an open pattern (RdfaParser.ts:161-173)
            if parent.collected_pattern_tag is not None:
                pattern = RdfaPattern(name, attributes, root_pattern=False)
                parent.collected_pattern_tag.children.append(pattern)
                tag.collected_pattern_tag = pattern
                return
            # Start a new pattern (RdfaParser.ts:176-187)
            if shape.pattern:
                tag.collected_pattern_tag = RdfaPattern(
                    name, attributes, root_pattern=True, parent_tag=parent)
                return
            # Instantiate on rdfa:copy (RdfaParser.ts:190-201).  A copy
            # under a skipped tag replays into a detached frame, as the
            # reference's object spread does, so its text stays out: the
            # detached frame starts with no text list of its own.
            if shape.copy:
                if parent.skip_element:
                    parent = copy(parent)
                    parent.text = None
                copy_id = resource or href_or_src
                if copy_id in self.rdfa_patterns:
                    self.emit_pattern_copy(
                        parent, self.rdfa_patterns[copy_id], copy_id)
                else:
                    self.pending_copies.setdefault(copy_id, []).append(parent)
                return

        # <base> overrides the document base; xml:base is subtree-scoped
        # (RdfaParser.ts:204-211)
        if features.base_tag and name == "base" and shape.href:
            util.base_iri = util.get_base_iri(shape.href)
        if features.xml_base and attributes.get("xml:base"):
            tag.local_base_iri = util.get_base_iri(attributes["xml:base"])

        # <time> sniffs datatypes (RdfaParser.ts:214-216)
        if features.time_tag and name == "time" and datatype is None:
            tag.interpret_object_as_time = True

        # RDFa Core processing steps 1-13 (RdfaParser.ts:218-589)
        new_subject = None
        current_object_resource = None
        typed_resource = None

        # 2: vocab
        if "vocab" in attributes:
            if attributes["vocab"]:
                tag.vocab = attributes["vocab"]
                self.emit_triple(
                    util.get_base_iri_term(tag),
                    _RDFA_USES_VOCABULARY,
                    NamedNode(tag.vocab))
            else:
                tag.vocab = stack[0].vocab
        else:
            tag.vocab = parent.vocab

        # 3: prefixes, interned (util.py); a tag that declares none
        # shares its parent's maps
        if shape.declares:
            tag.prefixes_custom = parse_prefixes(
                attributes, parent.prefixes_custom,
                bool(features.xmlns_prefix_mappings))
            tag.prefixes_all = merge_prefixes(parent.prefixes_all,
                                              tag.prefixes_custom)
        else:
            tag.prefixes_custom = parent.prefixes_custom
            tag.prefixes_all = parent.prefixes_all

        # @role (RdfaParser.ts:253-268)
        if features.role_attribute and attributes.get("role"):
            if attributes.get("id"):
                role_subject = util.create_iri(
                    "#" + attributes["id"], tag, False, False, False)
            else:
                role_subject = util.create_blank_node()
            vocab_old = tag.vocab
            tag.vocab = XHTML_VOCAB
            for role in util.create_vocab_iris(
                    tuple(attributes["role"].split()), tag, True, False):
                self.emit_triple(
                    role_subject, NamedNode(XHTML_VOCAB + "role"), role)
            tag.vocab = vocab_old

        # 4: language
        if "xml:lang" in attributes or (
                features.lang_attribute and "lang" in attributes):
            tag.language = (attributes.get("xml:lang")
                            or attributes.get("lang") or None)
        else:
            tag.language = parent.language

        is_root_tag = len(stack) == 2
        if rel is None and rev is None:
            # 5: new subject without rel/rev
            if prop is not None and content is None and datatype is None:
                # 5.1
                if about is not None:
                    new_subject = util.create_iri(
                        about, tag, False, True, True)
                    tag.explicit_new_subject = bool(new_subject)
                elif is_root_tag:
                    new_subject = True
                elif parent.object:
                    new_subject = parent.object

                if typeof is not None:
                    if about is not None:
                        typed_resource = util.create_iri(
                            about, tag, False, True, True)
                    if not typed_resource and is_root_tag:
                        typed_resource = True
                    if not typed_resource and resource is not None:
                        typed_resource = util.create_iri(
                            resource, tag, False, True, True)
                    if not typed_resource and (
                            shape.href is not None or shape.src is not None):
                        typed_resource = util.create_iri(
                            href_or_src, tag, False, False, True)
                    if (not typed_resource
                            and self._is_inherit_subject_in_head_body(name)):
                        typed_resource = new_subject
                    if not typed_resource:
                        typed_resource = util.create_blank_node()
                    current_object_resource = typed_resource
            else:
                # 5.2
                if about is not None or resource is not None:
                    new_subject = util.create_iri(
                        about or resource, tag, False, True, True)
                    tag.explicit_new_subject = bool(new_subject)
                if not new_subject and (
                        shape.href is not None or shape.src is not None):
                    new_subject = util.create_iri(
                        href_or_src, tag, False, False, True)
                    tag.explicit_new_subject = bool(new_subject)
                if not new_subject:
                    if is_root_tag:
                        new_subject = True
                    elif self._is_inherit_subject_in_head_body(name):
                        new_subject = parent.object
                    elif typeof is not None:
                        new_subject = util.create_blank_node()
                        tag.explicit_new_subject = True
                    elif parent.object:
                        new_subject = parent.object
                        if prop is None:
                            tag.skip_element = True
                if typeof is not None:
                    typed_resource = new_subject
        else:
            # 6: new subject with rel/rev
            if about is not None:
                new_subject = util.create_iri(about, tag, False, True, True)
                tag.explicit_new_subject = bool(new_subject)
                if typeof is not None:
                    typed_resource = new_subject
            elif is_root_tag:
                new_subject = True
            elif parent.object:
                new_subject = parent.object

            if resource is not None:
                current_object_resource = util.create_iri(
                    resource, tag, False, True, True)
            if not current_object_resource:
                if shape.href is not None or shape.src is not None:
                    current_object_resource = util.create_iri(
                        href_or_src, tag, False, False, True)
                elif (typeof is not None and about is None
                      and not self._is_inherit_subject_in_head_body(name)):
                    current_object_resource = util.create_blank_node()

            if typeof is not None and about is None:
                if self._is_inherit_subject_in_head_body(name):
                    typed_resource = new_subject
                else:
                    typed_resource = current_object_resource

        # 7: emit rdf:type for the typed resource
        if typed_resource:
            for type_term in util.create_vocab_iris(typeof, tag, True, True):
                self.emit_triple(
                    util.get_resource_or_base_iri(typed_resource, tag),
                    _RDF_TYPE, type_term)

        # 8: reset list mapping on new subject
        if new_subject:
            tag.list_mapping = {}

        # 9: emit triples for the current object resource
        if current_object_resource:
            if rel is not None and inlist:
                for predicate in util.create_vocab_iris(
                        rel, tag, allow_terms_in_rel, False):
                    self.add_list_mapping(
                        tag, new_subject, predicate, current_object_resource)
            else:
                if rel is not None:
                    for predicate in util.create_vocab_iris(
                            rel, tag, allow_terms_in_rel, False):
                        self.emit_triple(
                            util.get_resource_or_base_iri(new_subject, tag),
                            predicate,
                            util.get_resource_or_base_iri(
                                current_object_resource, tag))
                if rev is not None:
                    for predicate in util.create_vocab_iris(
                            rev, tag, allow_terms_in_rev, False):
                        self.emit_triple(
                            util.get_resource_or_base_iri(
                                current_object_resource, tag),
                            predicate,
                            util.get_resource_or_base_iri(new_subject, tag))

        # 10: store incomplete triples when no object yet
        if not current_object_resource:
            if rel is not None:
                for predicate in util.create_vocab_iris(
                        rel, tag, allow_terms_in_rel, False):
                    if inlist:
                        self.add_list_mapping(tag, new_subject, predicate, False)
                    tag.incomplete_triples.append((predicate, False, inlist))
            if rev is not None:
                for predicate in util.create_vocab_iris(
                        rev, tag, allow_terms_in_rev, False):
                    tag.incomplete_triples.append((predicate, True, False))
            if tag.incomplete_triples:
                current_object_resource = util.create_blank_node()

        # 11: property values
        if prop is not None:
            tag.predicates = util.create_vocab_iris(prop, tag, True, False)

            local_object_resource = None
            if datatype is not None:
                tag.datatype = util.create_iri(
                    datatype, tag, True, True, False)
                if tag.datatype and (
                        tag.datatype.value == RDF + "XMLLiteral"
                        or (features.html_datatype
                            and tag.datatype.value == RDF + "HTML")):
                    tag.collect_child_tags = True
                    tag.collect_child_tags_for_current_tag = True
            else:
                if rev is None and rel is None and content is None:
                    if resource is not None:
                        local_object_resource = util.create_iri(
                            resource, tag, False, True, True)
                    if not local_object_resource and shape.href is not None:
                        local_object_resource = util.create_iri(
                            shape.href, tag, False, False, True)
                    if not local_object_resource and shape.src is not None:
                        local_object_resource = util.create_iri(
                            shape.src, tag, False, False, True)
                if typeof is not None and about is None:
                    local_object_resource = typed_resource

            # A non-XMLLiteral tag inside a collecting parent stops
            # collection for the current tag (RdfaParser.ts:499-504)
            if not datatype:
                tag.collect_child_tags_for_current_tag = False

            if content is not None:
                # content= wins over text (RdfaParser.ts:506-521)
                values = [util.create_literal(content, tag)]
            elif features.datetime_attribute and "datetime" in attributes:
                tag.interpret_object_as_time = True
                values = [util.create_literal(attributes["datetime"], tag)]
            elif local_object_resource:
                values = [util.get_resource_or_base_iri(
                    local_object_resource, tag)]
            else:
                values = []  # the element's text, at its close
            for obj in values:
                if inlist:
                    for predicate in tag.predicates:
                        self.add_list_mapping(tag, new_subject, predicate, obj)
                else:
                    subject = util.get_resource_or_base_iri(new_subject, tag)
                    for predicate in tag.predicates:
                        self.emit_triple(subject, predicate, obj)
                tag.predicates = None

        # 12: complete incomplete triples from the parent
        incomplete_completed = False
        if (not tag.skip_element and new_subject
                and parent.incomplete_triples):
            incomplete_completed = True
            subject = util.get_resource_or_base_iri(parent.subject, tag)
            obj = util.get_resource_or_base_iri(new_subject, tag)
            for predicate, reverse, is_list in parent.incomplete_triples:
                if reverse:
                    self.emit_triple(obj, predicate, subject)
                elif is_list:
                    # The nearest ancestor with @inlist owns the list
                    first_in_list_tag = None
                    for i in range(len(stack) - 1, -1, -1):
                        if stack[i].inlist:
                            first_in_list_tag = stack[i]
                            break
                    self.add_list_mapping(
                        first_in_list_tag, new_subject, predicate, obj)
                else:
                    self.emit_triple(subject, predicate, obj)
        if not incomplete_completed and parent.incomplete_triples:
            tag.incomplete_triples = (tag.incomplete_triples
                                      + parent.incomplete_triples)

        # 13: save evaluation context
        if tag.skip_element:
            _stand_in(tag, parent)
        else:
            tag.subject = new_subject or parent.subject
            tag.object = current_object_resource or new_subject

    def on_plain_open(self, name: str, attributes: dict[str, str]) -> None:
        """The HTML driver's entry for a start tag it classified plain
        (``plain_element``).  ``attributes`` is the driver's cached dict,
        shared by every occurrence of the raw tag, so only a copy may
        reach ``on_tag_open``, which can mutate it."""
        if not self._count_plain(self.stack[-1]):
            self.on_tag_open(name, attributes.copy(), _PLAIN)

    def _count_plain(self, parent: ActiveTag) -> bool:
        """Take a plain element's open without the full path, which
        would only hand it ``parent``'s context: count it on ``parent``
        (``depth``), its effective parent, or, while an rdfa:copy waits
        for its pattern, open the frame it would have had
        (``_plain_frame``), so the replay into the copy's frame lands
        before the text of that frame's children.  False where it takes
        the full path: the root element, inside an XMLLiteral or an
        rdfa:Pattern collection.  Exactly equivalent to the full path
        (differential-tested with FAST_TAG_PATH off/on over the fixture
        and fuzz corpora)."""
        stack = self.stack
        if (parent.collect_child_tags or len(stack) == 1
                or (self._copy_rdfa_patterns
                    and parent.collected_pattern_tag is not None)):
            return False
        if self.pending_copies:
            stack.append(_plain_frame(parent))
        else:
            parent.depth += 1
        return True

    # ------------------------------------------------------------------
    def on_text(self, data: str) -> None:
        tag = self.stack[-1]
        if self._copy_rdfa_patterns and tag.collected_pattern_tag is not None:
            tag.collected_pattern_tag.text.append(data)
            return
        if tag.text is None:
            tag.text = [data]
        else:
            tag.text.append(data)

    # ------------------------------------------------------------------
    def on_tag_close(self) -> None:
        tag = self.stack[-1]
        if tag.depth:  # a counted element
            tag.depth -= 1
            return
        util = self.util
        parent = self.stack[-2] if len(self.stack) >= 2 else None

        if not (tag.collect_child_tags and parent is not None
                and parent.collect_child_tags
                and self.features.skip_handling_xml_literal_children):
            # Finalize rdfa:Pattern (RdfaParser.ts:619-642)
            if (self._copy_rdfa_patterns
                    and tag.collected_pattern_tag is not None
                    and tag.collected_pattern_tag.root_pattern):
                pattern_id = tag.collected_pattern_tag.attributes.get("resource")
                tag.collected_pattern_tag.attributes.pop("resource", None)
                tag.collected_pattern_tag.attributes.pop("typeof", None)
                self.rdfa_patterns[pattern_id] = tag.collected_pattern_tag
                if pattern_id in self.pending_copies:
                    for pending_tag in self.pending_copies[pattern_id]:
                        self.emit_pattern_copy(
                            pending_tag, tag.collected_pattern_tag, pattern_id)
                    del self.pending_copies[pattern_id]
                self.stack.pop()
                return

            # Emit pending property literals from accumulated text
            # (RdfaParser.ts:645-673)
            if tag.predicates is not None:
                subject = util.get_resource_or_base_iri(tag.subject, tag)
                segments = tag.text or []
                if not tag.collect_child_tags_for_current_tag:
                    segments = [s for s in segments
                                if type(s) is not Markup]
                elif (tag.collect_child_tags and parent is not None
                        and parent.collect_child_tags):
                    # Inside an XMLLiteral child with RDFa content:
                    # drop the collected open-tag token
                    segments = segments[1:]
                obj = util.create_literal("".join(segments), tag)
                if tag.inlist:
                    for predicate in tag.predicates:
                        self.add_list_mapping(tag, subject, predicate, obj)
                else:
                    for predicate in tag.predicates:
                        self.emit_triple(subject, predicate, obj)
                if (parent is None or parent.predicates is None
                        or parent.depth):  # a counted parent has none
                    tag.text = None

            # 14: local list mappings → rdf:first/rest/nil chains
            # (RdfaParser.ts:676-698); a stand-in's list is its parent's
            if tag.object and tag.list_mapping and not tag.skip_element:
                subject = util.get_resource_or_base_iri(tag.object, tag)
                for predicate_value, values in tag.list_mapping.items():
                    predicate = NamedNode(predicate_value)
                    if values:
                        bnodes = [util.create_blank_node() for _ in values]
                        last = len(values) - 1
                        for i, value in enumerate(values):
                            obj = util.get_resource_or_base_iri(value, tag)
                            self.emit_triple(
                                bnodes[i], _RDF_FIRST, obj)
                            self.emit_triple(
                                bnodes[i], _RDF_REST,
                                bnodes[i + 1] if i < last
                                else _RDF_NIL)
                        self.emit_triple(subject, predicate, bnodes[0])
                    else:
                        self.emit_triple(
                            subject, predicate, _RDF_NIL)

        self.stack.pop()

        # Serialize close tag for XMLLiteral collection
        if tag.collect_child_tags and tag.text is not None:
            tag.text.append(Markup(f"</{tag.name}>"))

        # Propagate text to the parent (RdfaParser.ts:705-723).  A closed
        # frame keeps no list: a pattern flushed into it later must not
        # reach the list it handed up.
        if tag.text is not None and parent is not None:
            if parent.text is None:
                parent.text = tag.text
            else:
                parent.text += tag.text
            tag.text = None

    # ------------------------------------------------------------------
    def on_end(self) -> None:
        """Flush unreferenced patterns and dangling rdfa:copy links
        (RdfaParser.ts:726-755)."""
        if self._copy_rdfa_patterns:
            self._copy_rdfa_patterns = False

            for pattern_id in list(self.rdfa_patterns):
                pattern = self.rdfa_patterns[pattern_id]
                if not pattern.referenced:
                    pattern.attributes["typeof"] = "rdfa:Pattern"
                    pattern.attributes["resource"] = pattern_id
                    self.emit_pattern_copy(
                        pattern.parent_tag, pattern, pattern_id)
                    pattern.referenced = False
                    pattern.attributes.pop("typeof", None)
                    pattern.attributes.pop("resource", None)

            for pattern_id, tags in list(self.pending_copies.items()):
                for parent_tag in tags:
                    self.stack.append(parent_tag)
                    self.on_tag_open(
                        "link", {"property": "rdfa:copy", "href": pattern_id})
                    self.on_tag_close()
                    self.stack.pop()

            self._copy_rdfa_patterns = True

    # ------------------------------------------------------------------
    def add_list_mapping(self, active_tag: ActiveTag, subject, predicate,
                         current_object_resource) -> None:
        """RdfaParser.ts:775-795 — explicit new subjects emit singleton
        lists immediately; otherwise buffer per (predicate) in the local
        list mapping (ordered, per-document)."""
        if active_tag.explicit_new_subject:
            bnode = self.util.create_blank_node()
            self.emit_triple(
                self.util.get_resource_or_base_iri(subject, active_tag),
                predicate, bnode)
            self.emit_triple(
                bnode, _RDF_FIRST,
                self.util.get_resource_or_base_iri(
                    current_object_resource, active_tag))
            self.emit_triple(
                bnode, _RDF_REST, _RDF_NIL)
        else:
            values = active_tag.list_mapping_local.setdefault(
                predicate.value, [])
            if current_object_resource:
                values.append(current_object_resource)

    # ------------------------------------------------------------------
    def emit_triple(self, subject, predicate, obj) -> None:
        """Validate and emit (RdfaParser.ts:803-811): NamedNodes must
        contain ':'; triples with a missing term are dropped (the
        reference would raise a stream error for nulls — unreachable on
        well-formed input).  Booleans are dropped too: the reference's
        internal use-base-IRI sentinel can leak a raw ``false`` into a
        quad on degenerate markup (about + rel + inlist with no object
        and no children — getResourceOrBaseIri, lib/Util.ts:161-163,
        only maps ``true``), producing an unrepresentable term; we emit
        the representable subset of its output instead (fuzz-found)."""
        if (subject is None or predicate is None or obj is None
                or isinstance(subject, bool) or isinstance(obj, bool)):
            return
        if ((isinstance(subject, NamedNode) and ":" not in subject.value)
                or (isinstance(predicate, NamedNode)
                    and ":" not in predicate.value)
                or (isinstance(obj, NamedNode) and ":" not in obj.value)):
            return
        self.triples.append((subject, predicate, obj))

    # ------------------------------------------------------------------
    def emit_pattern_copy(self, parent_tag: ActiveTag, pattern: RdfaPattern,
                          root_pattern_id: str) -> None:
        """Instantiate a pattern under parent_tag; blank nodes are minted
        once and shared across all copies (RdfaParser.ts:819-842)."""
        self.stack.append(parent_tag)
        pattern.referenced = True

        nodes, i = pattern.constructed_blank_nodes, count()

        def replay_or_mint() -> BlankNode:
            # the k-th node of this copy is the k-th any copy minted; a
            # copy that needs more than earlier copies mints the rest
            k = next(i)
            if k == len(nodes):
                nodes.append(self.util.fresh_blank_node())
            return nodes[k]

        self.util.blank_node_factory = replay_or_mint

        self.emit_pattern_copy_absolute(pattern, True, root_pattern_id)

        self.util.blank_node_factory = None
        self.stack.pop()

    def emit_pattern_copy_absolute(self, pattern: RdfaPattern, root: bool,
                                   root_pattern_id: str) -> None:
        """Replay the stored pattern subtree; cyclic copies are cut
        (RdfaParser.ts:854-868)."""
        if (not root and pattern.attributes.get("property") == "rdfa:copy"
                and pattern.attributes.get("href") == root_pattern_id):
            return
        self.on_tag_open(pattern.name, pattern.attributes)
        for text in pattern.text:
            self.on_text(text)
        for child in pattern.children:
            self.emit_pattern_copy_absolute(child, False, root_pattern_id)
        self.on_tag_close()

    # ------------------------------------------------------------------
    def extracted_text(self) -> str:
        """The document's accumulated text (the byte-identical-text
        invariant): the root frame's plain segments joined, matching
        textWithoutTags in RdfaParser.ts:592-610 + :717-723."""
        return "".join(s for s in self.stack[0].text or ()
                       if type(s) is not Markup)
