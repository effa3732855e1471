"""SPARQL query-text front-end: parse a SPARQL 1.1 subset and compile
it onto the engine's BGP/path algebra.

The reference parser (rubensworks/rdfa-streaming-parser.js) feeds its
quad stream into RDF/JS stores that consumers then query with SPARQL
(its README pipes into ``rdf-store-stream``; /root/reference/README.md:
37-57).  ``operators/bgp.py`` and ``operators/paths.py`` already give
that query layer Spark-native semantics; this module closes the last
usability gap by accepting the *query text itself*, so a user of the
reference stack can bring their SPARQL strings as-is:

    >>> sparql_query(triples, '''
    ...     PREFIX schema: <http://schema.org/>
    ...     SELECT DISTINCT ?doc ?name WHERE {
    ...         ?doc a schema:Article ; schema:name ?name .
    ...         FILTER(STRLEN(?name) > 3)
    ...     } ORDER BY ?doc LIMIT 10''')

Everything compiles to the existing operators — the parser adds ZERO
execution code, so every scale property of the algebra (predicate
pushdown per pattern, equi-joins on shared variables, frontier-seeded
closures, anti-join MINUS) carries over unchanged.  A group graph
pattern has one shape: the parser builds each ``{...}`` group once,
as the :class:`bgp.GroupSpec` the algebra evaluates — a query's or
an update's WHERE and every OPTIONAL / MINUS / EXISTS body alike,
flat or nested, with each sub-SELECT a relation entry of its group —
and one evaluator, ``bgp._eval_spec``, runs them all, so a group's
answer never depends on how deeply it nests or which form holds it.
The group-shape rules live in ``GroupSpec`` and surface here as
:class:`SparqlSyntaxError`.

Supported grammar (SPARQL 1.1 subset, keywords case-insensitive):

- ``PREFIX`` / ``BASE`` prologue; ``a`` for rdf:type.
- ``SELECT [DISTINCT|REDUCED] (?v... | * | (expr AS ?v)...)``,
  ``ASK``, ``CONSTRUCT { template } WHERE`` (and the ``CONSTRUCT
  WHERE { triples }`` shorthand), and ``DESCRIBE`` (IRIs and/or
  variables bound by an optional WHERE clause; Concise Bounded
  Description via :func:`operators.bgp.describe`).
- One block routine (``_parse_template``) reads every CONSTRUCT
  template, DELETE/INSERT template and INSERT/DELETE DATA block, and
  the parser gives each constant its RDF term there: a literal of any
  form (plain, tagged, typed, numeric, boolean) is a ``bgp.Lit``, an
  IRI or ``_:`` blank node a string.  ``bgp_construct`` instantiates
  by that one rule, so the same text may stand as an IRI, a plain and
  a tagged literal in one template.
- Triples blocks with ``;`` predicate and ``,`` object lists; the
  predicate position takes an IRI, a ``?variable``, or a property
  path.
- Property paths in the predicate position: ``^`` inverse, ``/``
  sequence, ``|`` alternative, ``+`` ``*`` ``?`` closures,
  ``!(p1|^p2|...)`` negated property sets, parentheses.
- ``FILTER`` (expression or ``[NOT] EXISTS {...}``), ``OPTIONAL``,
  ``MINUS``, ``BIND (expr AS ?v)``, ``VALUES`` (in-group, and the
  query-final trailing ValuesClause — the parameterized-query idiom —
  compiled onto the in-group machinery when every VALUES variable is
  bound by the required patterns of each UNION branch, the condition
  under which the §18.2 outer join provably commutes inward; grouped
  queries and unbound-variable constraints raise), ``{...} UNION
  {...}`` as the entire group body, and mid-group ``{ SELECT ... }``
  sub-queries (§18.2) joined into the group on their shared
  variables — at the top level AND inside OPTIONAL / MINUS / EXISTS
  bodies (compiled as lazy GroupSpec relations; a body may even be a
  sub-SELECT alone, ``OPTIONAL { { SELECT ... } }``).  The join is
  §18.3-exact: a shared variable that is maybe-unbound on either
  side (an OPTIONAL/BIND projection of the sub-query, or an
  OPTIONAL/BIND/VALUES variable of the group) routes through the
  bound-mask compatibility machinery instead of a plain equi join.
  ``BIND`` / ``VALUES`` also work INSIDE an OPTIONAL /
  MINUS / EXISTS group (applied after the group's patterns, before
  its filters).  A BIND whose expression references a variable
  introduced by a PRECEDING OPTIONAL (or by such a bind) applies
  after the left joins, per §18.2.2.6 syntax order — the ``OPTIONAL
  {...} BIND(COALESCE(?x, "default") AS ?y)`` idiom works at the top
  level and inside nested groups; a BIND referencing a variable that
  only a LATER-written OPTIONAL binds keeps the engine's
  patterns-then-binds order and fails analysis rather than silently
  reading the later binding — write the OPTIONAL first.  Those groups
  NEST: ``OPTIONAL { P1 OPTIONAL
  { P2 } }``, ``OPTIONAL { {A} UNION {B} }``, ``MINUS { P FILTER
  NOT EXISTS {...} }`` — any depth, evaluated bottom-up (§18.5).
- Language-tagged and datatyped literal CONSTANTS in pattern object
  position (``?s schema:name "chat"@fr`` / ``?s schema:wordCount
  "5"^^xsd:integer``): exact SPARQL term equality — lexical form AND
  kind/language/datatype — compiled as pushed metadata-column scan
  filters (``bgp.Lit``).  Requires the full term schema.
- Term constructors as the entire BIND expression: ``BIND(IRI(expr)
  AS ?v)`` (scheme-less values resolve against ``BASE`` by
  concatenation), ``BIND(STRDT(expr, <dt>) AS ?v)``,
  ``BIND(STRLANG(expr, "tag") AS ?v)``, ``BIND(BNODE(expr) AS ?v)``
  (deterministic skolem-style labels — see deviations) — the
  constructed term's metadata is minted as companion columns, so
  LANG / DATATYPE / isIRI / isBlank / SAMETERM and metadata-faithful
  templates see it.  A BIND whose entire expression is a string
  constant or a string function (CONCAT, STR, LCASE, UCASE, SUBSTR,
  REPLACE, STRBEFORE, STRAFTER) binds a simple literal the same way,
  and one whose entire expression is a numeric constant or ``+ - * /``
  a literal typed by its SQL result type (xsd:double, xsd:decimal or
  xsd:integer); a bare variable, an IRI, IF, COALESCE or any other
  BIND binds a bare value, which a template instantiates as an IRI or
  blank node.
- ``GRAPH ?g {...}`` / ``GRAPH <iri> {...}`` (§13) over a QUADS table
  (a ``graph`` column, e.g. extraction output with ``url`` aliased to
  ``graph``): the graph term becomes a 4th match position on each
  contained pattern — a constant graph is a pushed scan filter, a
  shared ``?g`` an equi-join.  Patterns outside GRAPH match across all
  graphs (union default graph) with the table's own multiplicity.
  GRAPH blocks hold triple patterns, property paths, plain FILTERs,
  and NESTED GRAPH blocks (§13.3 — the inner block re-scopes its own
  patterns to its graph term; an outer GRAPH variable left with
  NOTHING to scope — every contained pattern re-scoped by a nested
  block — ranges over every graph name per the algebra, compiled as a
  broadcast join with the distinct graph-name dimension, in WHERE and
  in nested groups alike).  A path under a VARIABLE graph evaluates once over
  graph-prefixed node ids (paths cannot cross graphs, so the prefix
  partitions the closure per graph) and binds the variable from the
  prefix.
- Solution modifiers: ``GROUP BY`` + aggregates (COUNT / SUM / MIN /
  MAX / AVG / SAMPLE / GROUP_CONCAT), ``HAVING`` (one or more
  conditions; each may reference a SELECT aggregate alias OR contain
  aggregate calls directly — the latter compile as hidden aggregate
  columns inside the same grouping), ``ORDER BY [ASC|DESC]``,
  ``LIMIT`` / ``OFFSET``.  ``GROUP BY`` / ``HAVING`` also work on
  CONSTRUCT (§16.2 + §11: grouping acts on the solution sequence
  before template instantiation — every template variable must be a
  group key since templates cannot project aggregates; a grouped
  key's term-metadata companions are carried as one co-observed
  struct so a copied literal stays the same literal).

- SPARQL 1.1 Update, one operation per call (:func:`sparql_update` —
  returns the NEW graph, nothing mutates): ``INSERT DATA`` / ``DELETE
  DATA`` (ground triples, read by the template block routine),
  ``DELETE WHERE``, and ``DELETE {} INSERT {} WHERE {}`` — compiled
  onto :mod:`operators.update` (lexical-identity deletes,
  metadata-preserving inserts, set-semantics result).  An update's
  WHERE is a query group like any other (UNION, sub-SELECT, BIND after
  OPTIONAL, GRAPH ranges included); a sub-SELECT hands out the term
  metadata of what it projects from plain patterns, so a literal it
  binds is inserted as that literal.  All four forms
  are QUADS-aware: ``GRAPH <g> { ... }`` wrappers in DATA blocks
  (§3.1.1 QuadData, ground graph IRIs only) and ``GRAPH ?g/<iri>
  { ... }`` wrappers in DELETE/INSERT templates (§3.1.3 QuadPattern)
  scope their triples to a named graph over a quads table — bare
  triples target the default graph (NULL); plus the §3.2
  graph-management operations over a QUADS table — ``CLEAR`` / ``DROP``
  (``GRAPH <g>`` / ``DEFAULT`` / ``NAMED`` / ``ALL``), ``ADD`` /
  ``MOVE`` / ``COPY`` (``TO``-pairs of graph-or-DEFAULT), and
  ``CREATE`` (identity — a quads table records no empty graphs);
  ``SILENT`` accepted and ignored.
- Term-introspection builtins — ``LANG``, ``DATATYPE``, ``isIRI`` /
  ``isURI``, ``isBlank``, ``isLiteral``, ``isNumeric``, ``SAMETERM``
  (variable arguments), plus ``LANGMATCHES`` — compiled onto
  term-metadata companion columns (``bgp_match(meta_vars=...)``);
  requires the full term schema (``obj_kind`` / ``obj_lang`` /
  ``obj_datatype``) when the variable binds in object position.
- Scalar builtins over the lexical form: the string family (``STR``,
  ``STRLEN``, ``UCASE``/``LCASE``, ``CONTAINS``, ``STRSTARTS`` /
  ``STRENDS``, ``STRBEFORE`` / ``STRAFTER``, ``SUBSTR``, ``CONCAT``,
  ``REPLACE``, ``REGEX``, ``ENCODE_FOR_URI``), numerics (``ABS`` /
  ``CEIL`` / ``FLOOR`` / ``ROUND``), hashes (``MD5`` / ``SHA1`` /
  ``SHA256`` / ``SHA384`` / ``SHA512``), conditionals (``BOUND``,
  ``COALESCE``, ``IF``, ``IN`` / ``NOT IN``), and the datetime
  accessors (``YEAR`` … ``SECONDS``, ``TZ``) — the last computed
  lexically on the xsd:dateTime string so components stay in the
  literal's own timezone.

Documented deviations (each raises or is noted, never silent):

- Term-introspection builtins take a plain variable or a
  ``COALESCE(?a, ?b, ...)`` of plain variables (§17.4.1.5: the result
  is the first BOUND argument's term, compiled as a dispatch-on-
  boundness CASE onto each variable's own metadata companions —
  ``LANG(COALESCE(?n, ?alt))`` over OPTIONAL-bound variables works);
  any other nested argument raises.  Each variable must be bound by a
  plain triple pattern in scope (property-path endpoints carry no
  metadata), by a constructor or computed-literal BIND, or by a
  sub-SELECT that projects
  it from a plain pattern.
- Plain, numeric and boolean constants in patterns match the LEXICAL
  value (the engine-wide identity documented on bgp_match) — only
  tagged/typed constants get strict term equality.  Tagged/typed
  literals in VALUES are term-exact too (they join on the variable's
  metadata companion columns) and can only CONSTRAIN a variable the
  group binds — a Lit entry for an unbound variable raises (extend
  with the bare lexical form instead).
- Term constructors are only valid as the entire BIND expression;
  STRDT's datatype and STRLANG's tag must be constants; nested
  anywhere else they raise.  ``BNODE(expr)`` mints a deterministic
  skolem-style label (sha2 of the argument, ``_:fn…``) — the same
  argument yields the SAME bnode in every solution, deviating from
  §17.4.2.9's per-solution freshness (the deterministic distributed
  choice, same convention as GROUP_CONCAT/SAMPLE below).  Zero-arg
  ``BNODE()`` IS §17.4.2.9-fresh: one ``_:fr…`` label per solution
  row (hash of the whole row + an index among identical rows,
  ``bgp._apply_bind``) — distinct across rows, duplicates included,
  and deterministic as a multiset under distributed re-evaluation;
  costs one Exchange on the full row key.
- ``GROUP_CONCAT`` concatenates in sorted value order (SPARQL leaves
  the order undefined; sorted is the only deterministic distributed
  choice) and ``SAMPLE`` returns the minimum.
- Comparing a bare variable against a numeric literal casts the
  variable to DOUBLE (SPARQL's numeric-comparison semantics over this
  engine's lexical columns).  In ``+ - * /`` a bare variable casts to
  DOUBLE too (so ``"120" + 1`` is ``121.0``); a non-numeric value
  leaves that row's result unbound (§17.2).
- With ``DISTINCT``, ``ORDER BY`` keys must be projected variables
  (ordering applies after de-duplication).
- ``ORDER BY`` compares the LEXICAL form (binary UTF-8 — the engine's
  solution columns are lexical strings), not SPARQL §15.1's typed
  value order; numeric keys order numerically by wrapping the key in
  an explicit numeric context at the query site (e.g. ``ORDER BY``
  a ``BIND(... AS ?k)`` of a cast) — the deterministic distributed
  choice, matching the GROUP_CONCAT convention.
- Groups, flat or nested (OPTIONAL / MINUS / EXISTS / UNION *inside*
  an OPTIONAL / MINUS / EXISTS group, to any depth), evaluate
  bottom-up via :class:`bgp.GroupSpec`.  A shared variable bound only
  under an OPTIONAL, in some UNION branches, or by BIND/VALUES — i.e.
  maybe-UNBOUND, whether in the group, in the enclosing solution, or
  BOTH — gets exact SPARQL §18.3 compatibility (unbound matches
  anything; an unbound side takes the other side's value) via
  bound-mask-pair decomposition into equi/anti joins.  EXISTS /
  NOT EXISTS correlation through a maybe-unbound ENCLOSING variable
  is exact §8.1.1 substitution semantics (a row that binds the
  variable correlates on it; a row that leaves it unbound leaves it
  FREE in the group, constraining nothing for that row) via the same
  bound-mask decomposition.  It raises only beyond the 2^4 fan-out
  cap, and for a shared variable maybe-unbound in the EXISTS group's
  OWN solutions (substitution and §18.3 compatibility genuinely
  diverge there — bind it in the group's required patterns).  An
  enclosing variable that occurs ONLY inside an EXISTS group's nested
  OPTIONAL / MINUS / NOT EXISTS bodies (never in the group's required
  patterns) does not correlate: nested members evaluate bottom-up
  with group-local scope rather than substituting the outer binding
  into negation — the area covered by the SPARQL-EXISTS errata
  (sparql-exists CG), where conformant engines legitimately differ.
  A group (top-level or nested) may contain BOTH a sub-SELECT and
  OPTIONAL/MINUS/EXISTS when the join orders provably commute —
  every variable those blocks touch that also appears in the
  sub-SELECT's projection must be certain (bound by the group's own
  triple patterns); a maybe-unbound shared variable makes §18.2's
  left-to-right order semantically significant, and the compiler
  raises rather than pick one (compose at the DataFrame level).  A
  group combining a sub-SELECT with BIND/VALUES/OPTIONAL/MINUS/
  EXISTS must keep at least one triple pattern of its own to anchor
  the order.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators import paths as P
from rdfa_streaming_parser_js_spark.operators.bgp import (
    BNODE_FRESH_SENTINEL, META_SUFFIXES, TERM_COLS, GroupSpec, Lit,
    _certain_vars, _eval_spec, _is_var, _pattern_vars, _plain_bound,
    bgp_construct, describe)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlSyntaxError(ValueError):
    """Raised on text the supported SPARQL subset cannot parse."""


# --------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
    | (?P<VAR>\?[A-Za-z_]\w*)
    | (?P<STRING>"(?:[^"\\\n]|\\.)*")
    | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<NUMBER>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<BNODE>_:\w+)
    | (?P<PNAME>(?:[A-Za-z_][\w.-]*)?:[A-Za-z0-9_](?:[\w.-]*[\w-])?)
    | (?P<COLON>(?:[A-Za-z_][\w.-]*)?:)
    | (?P<NAME>[A-Za-z_]\w*)
    | (?P<DHAT>\^\^)
    | (?P<OP>&&|\|\||!=|<=|>=|[{}().;,|/^*+?!=<>-])
    """,
    re.X,
)


@dataclass(frozen=True)
class _Tok:
    kind: str
    text: str
    pos: int


def _tokenize(text: str) -> list[_Tok]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if m is None:
            raise SparqlSyntaxError(
                f"unrecognized input at offset {i}: {text[i:i + 20]!r}")
        if m.lastgroup != "WS":
            toks.append(_Tok(m.lastgroup, m.group(), i))
        i = m.end()
    toks.append(_Tok("EOF", "", len(text)))
    return toks


# --------------------------------------------------------------------
# parsed-query model
# --------------------------------------------------------------------

def _relation_entry(sq: "ParsedQuery"):
    """A sub-SELECT → the ``(thunk, certain, cols)`` relation entry of
    its enclosing :class:`bgp.GroupSpec`, made once when the sub-SELECT
    closes.  The thunk defers to :func:`_execute_select` at evaluation
    time, when the triples DataFrame exists and meta-variable stamping
    has completed, and keeps the metadata companions the enclosing
    group asks for."""
    return (lambda triples, meta, _sq=sq: _execute_select(triples, _sq,
                                                          meta),
            _certain_out_vars(sq), tuple(sorted(_projected_vars(sq))))


@dataclass
class SelectItem:
    var: str                # output column name
    sql: str | None = None  # None = plain variable
    is_agg: bool = False


@dataclass
class ParsedQuery:
    form: str          # "select" | "ask" | "construct" | "describe"
    where: GroupSpec | None = None   # None: DESCRIBE with no WHERE
    select: list[SelectItem] | None = None   # None = SELECT *
    distinct: bool = False
    group_by: list[str] = field(default_factory=list)
    # (sql, contains_aggregate) per HAVING condition
    having: list[tuple[str, bool]] = field(default_factory=list)
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    template: list | None = None   # CONSTRUCT triples
    describe_targets: list = field(default_factory=list)  # IRIs/?vars
    meta_vars: frozenset = frozenset()  # vars needing term metadata


# --------------------------------------------------------------------
# parser
# --------------------------------------------------------------------

_AGG_FNS = {"count", "sum", "min", "max", "avg", "sample", "group_concat"}

# scalar builtins → Spark SQL (callable renders the arg list)
_SCALAR_FNS = {
    "str": lambda a: f"CAST({a[0]} AS STRING)",
    "strlen": lambda a: f"length({a[0]})",
    "ucase": lambda a: f"upper({a[0]})",
    "lcase": lambda a: f"lower({a[0]})",
    "contains": lambda a: f"contains({a[0]}, {a[1]})",
    "strstarts": lambda a: f"startswith({a[0]}, {a[1]})",
    "strends": lambda a: f"endswith({a[0]}, {a[1]})",
    "substr": lambda a: f"substring({', '.join(a)})",
    "concat": lambda a: f"concat({', '.join(a)})",
    "replace": lambda a: f"regexp_replace({', '.join(a)})",
    "regex": lambda a: f"({a[0]} RLIKE {a[1]})",
    "bound": lambda a: f"({a[0]} IS NOT NULL)",
    "coalesce": lambda a: f"coalesce({', '.join(a)})",
    "if": lambda a: f"if({', '.join(a)})",
    "abs": lambda a: f"abs({a[0]})",
    "ceil": lambda a: f"ceil({a[0]})",
    "floor": lambda a: f"floor({a[0]})",
    "round": lambda a: f"round({a[0]})",
    # §17.4.3.4/5: prefix/suffix around the FIRST occurrence; no match
    # → ''.  instr('', any) and instr(x, '') both behave per spec
    # (empty needle: STRBEFORE → '', STRAFTER → the whole string).
    "strbefore": lambda a: (
        f"(CASE WHEN instr({a[0]}, {a[1]}) > 0 THEN "
        f"substring({a[0]}, 1, instr({a[0]}, {a[1]}) - 1) "
        f"ELSE '' END)"),
    "strafter": lambda a: (
        f"(CASE WHEN instr({a[0]}, {a[1]}) > 0 THEN "
        f"substring({a[0]}, instr({a[0]}, {a[1]}) + length({a[1]})) "
        f"ELSE '' END)"),
    # §17.4.2.8 ENCODE_FOR_URI: RFC 3986 unreserved set.  Spark's
    # url_encode is form-encoding (space → '+', '*' kept, '~' → %7E);
    # three fix-ups make it exact.
    "encode_for_uri": lambda a: (
        f"replace(replace(replace(url_encode({a[0]}), "
        f"'+', '%20'), '*', '%2A'), '%7E', '~')"),
    # §17.4.4.4–4.6 hash functions (lowercase hex, per spec examples)
    "md5": lambda a: f"md5({a[0]})",
    "sha1": lambda a: f"sha1({a[0]})",
    "sha256": lambda a: f"sha2({a[0]}, 256)",
    "sha384": lambda a: f"sha2({a[0]}, 384)",
    "sha512": lambda a: f"sha2({a[0]}, 512)",
    # §17.4.5 datetime accessors — computed LEXICALLY on the
    # xsd:dateTime string, so each component is in the literal's OWN
    # timezone (a CAST to TIMESTAMP would shift into the session zone)
    # and a malformed value yields NULL (dropped by FILTER, per the
    # type-error rule).  SECONDS returns the decimal seconds; TZ the
    # 'Z' / '±HH:MM' designator or '' when absent (§17.4.5.8).
    "year": lambda a: (
        f"TRY_CAST(nullif(regexp_extract({a[0]}, "
        f"'^(-?\\\\d{{4,}})-', 1), '') AS INT)"),
    "month": lambda a: (
        f"TRY_CAST(nullif(regexp_extract({a[0]}, "
        f"'^-?\\\\d{{4,}}-(\\\\d{{2}})-', 1), '') AS INT)"),
    "day": lambda a: (
        f"TRY_CAST(nullif(regexp_extract({a[0]}, "
        f"'^-?\\\\d{{4,}}-\\\\d{{2}}-(\\\\d{{2}})', 1), '') AS INT)"),
    "hours": lambda a: (
        f"TRY_CAST(nullif(regexp_extract({a[0]}, "
        f"'T(\\\\d{{2}}):', 1), '') AS INT)"),
    "minutes": lambda a: (
        f"TRY_CAST(nullif(regexp_extract({a[0]}, "
        f"'T\\\\d{{2}}:(\\\\d{{2}})', 1), '') AS INT)"),
    "seconds": lambda a: (
        f"TRY_CAST(nullif(regexp_extract({a[0]}, "
        f"'T\\\\d{{2}}:\\\\d{{2}}:(\\\\d{{2}}(?:\\\\.\\\\d+)?)', 1), "
        f"'') AS DOUBLE)"),
    "tz": lambda a: (
        f"regexp_extract({a[0]}, '(Z|[+-]\\\\d{{2}}:\\\\d{{2}})$', 1)"),
    # SPARQL §17.4.3.20: '*' matches any non-empty tag, otherwise
    # case-insensitive exact or '-'-boundary prefix match.  A NULL
    # language (LANG of a non-literal = type error) stays NULL, so the
    # enclosing FILTER drops the row, per SPARQL error semantics.
    "langmatches": lambda a: (
        f"(CASE WHEN {a[1]} = '*' THEN coalesce({a[0]}, '') <> '' "
        f"ELSE lower({a[0]}) = lower({a[1]}) OR "
        f"startswith(lower({a[0]}), concat(lower({a[1]}), '-')) END)"),
}

_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
#: the XSD numeric type tree (SPARQL §17.4.2.4 operand types)
_XSD_NUMERIC = tuple(
    _XSD + t for t in (
        "integer", "decimal", "float", "double", "nonPositiveInteger",
        "negativeInteger", "long", "int", "short", "byte",
        "nonNegativeInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte", "positiveInteger"))

# term-introspection builtins: each takes a plain ?var and compiles
# onto the companion metadata columns bgp_match(meta_vars=...) binds
# ({v}__kind / {v}__lang / {v}__dt).  A type error (e.g. LANG of an
# IRI) yields NULL, which FILTER treats as false — SPARQL §17.2.
_TERM_FNS = {
    "lang": lambda v: (f"(CASE WHEN {v}__kind = 'literal' "
                       f"THEN coalesce({v}__lang, '') END)"),
    "datatype": lambda v: (
        f"(CASE WHEN {v}__kind = 'literal' THEN coalesce({v}__dt, "
        f"CASE WHEN {v}__lang IS NOT NULL THEN '{_RDF_LANGSTRING}' "
        f"ELSE '{_XSD}string' END) END)"),
    "isiri": lambda v: f"({v}__kind = 'iri')",
    "isuri": lambda v: f"({v}__kind = 'iri')",
    "isblank": lambda v: f"({v}__kind = 'bnode')",
    "isliteral": lambda v: f"({v}__kind = 'literal')",
    "isnumeric": lambda v: (
        f"({v}__kind = 'literal' AND coalesce({v}__dt, '') IN ("
        + ", ".join(f"'{d}'" for d in _XSD_NUMERIC) + "))"),
}

#: term constructors: valid only as the ENTIRE BIND expression, where
#: the engine can mint the constructed term's metadata companion
#: columns (see _Parser._parse_constructor); nested inside a larger
#: expression there is nowhere to carry the metadata, so they raise
_CONSTRUCTOR_FNS = frozenset({"iri", "uri", "bnode", "strdt", "strlang"})

#: scalar builtins whose result is a simple literal: as the entire
#: BIND expression they bind one (a constructed term, like the above);
#: arithmetic binds a literal typed by its SQL result type
_STRING_FNS = frozenset({"concat", "str", "lcase", "ucase", "substr",
                         "replace", "strbefore", "strafter"})

_NUM_RE = re.compile(r"^\d+(\.\d*)?([eE][+-]?\d+)?$")
_IDENT_RE = re.compile(r"^[A-Za-z_]\w*$")


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        # variables referenced by term-introspection builtins anywhere
        # in the query (over-approximation across groups is harmless:
        # companion columns are only minted where the variable binds)
        self.meta_vars: set[str] = set()
        # set while a template or DATA block is read: parse_term then
        # keeps every literal as the bgp.Lit it instantiates
        self.in_template = False
        # every sub-SELECT body parsed anywhere in the query (top-level
        # groups AND nested OPTIONAL/MINUS/EXISTS bodies, where the
        # ParsedQuery hides inside a GroupSpec relation thunk): kept
        # flat so meta-variable stamping reaches all of them
        self.all_subqueries: list = []
        # HAVING bodies may contain aggregate calls (§11.1) — the flag
        # gates _primary's aggregate branch, the counter records that
        # the current condition actually used one
        self._allow_agg = False
        self._saw_agg = False

    # -- token helpers ------------------------------------------------
    def peek(self, ahead: int = 0) -> _Tok:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *words: str) -> bool:
        t = self.peek()
        return t.kind == "NAME" and t.text.lower() in words

    def take_kw(self, *words: str) -> bool:
        if self.at_kw(*words):
            self.next()
            return True
        return False

    def expect_kw(self, word: str) -> None:
        if not self.take_kw(word):
            self.fail(f"expected {word.upper()}")

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.text in ops

    def take_op(self, *ops: str) -> bool:
        if self.at_op(*ops):
            self.next()
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.take_op(op):
            self.fail(f"expected {op!r}")

    def fail(self, msg: str) -> None:
        t = self.peek()
        raise SparqlSyntaxError(
            f"{msg} at offset {t.pos} (near {t.text!r})")

    # -- prologue + terms ---------------------------------------------
    def parse_prologue(self) -> None:
        while True:
            if self.take_kw("prefix"):
                t = self.next()
                if t.kind not in ("PNAME", "COLON"):
                    self.fail("expected prefix name")
                name = t.text[:t.text.index(":")]
                iri = self.next()
                if iri.kind != "IRIREF":
                    self.fail("expected IRI after PREFIX")
                self.prefixes[name] = iri.text[1:-1]
            elif self.take_kw("base"):
                iri = self.next()
                if iri.kind != "IRIREF":
                    self.fail("expected IRI after BASE")
                self.base = iri.text[1:-1]
            else:
                return

    def expand_iri(self, t: _Tok) -> str:
        if t.kind == "IRIREF":
            iri = t.text[1:-1]
            if self.base and "://" not in iri and not iri.startswith(
                    ("urn:", "mailto:")):
                return self.base + iri
            return iri
        if t.kind in ("PNAME", "COLON"):
            pfx, _, local = t.text.partition(":")
            if pfx not in self.prefixes:
                raise SparqlSyntaxError(f"undeclared prefix {pfx!r}:")
            return self.prefixes[pfx] + local
        raise SparqlSyntaxError(f"not an IRI token: {t.text!r}")

    def parse_term(self) -> "str | Lit":
        """A subject/object term → the engine's form: a string for an
        IRI, a blank node or a variable, and a :class:`bgp.Lit` for a
        literal.  In a pattern a plain, numeric or boolean literal is
        its bare lexical form instead (matched by lexical value, the
        engine-wide identity); in a template or DATA block
        (``in_template``) every literal is a Lit, the term
        instantiated."""
        t = self.next()
        if t.kind in ("VAR", "BNODE"):
            return t.text
        if t.kind in ("IRIREF", "PNAME", "COLON"):
            return self.expand_iri(t)
        if t.kind == "NAME" and t.text == "a":
            return RDF_TYPE
        lang = dt = None
        if t.kind == "NAME" and t.text.lower() in ("true", "false"):
            # §19.8 BooleanLiteral
            lex, dt, exact = t.text.lower(), f"{_XSD}boolean", False
        elif t.kind == "NUMBER":
            lex, exact = t.text, False
            dt = _XSD + ("double" if "e" in lex.lower()
                         else "decimal" if "." in lex else "integer")
        elif t.kind == "STRING":
            lex = _unquote(t.text)
            if self.peek().kind == "LANGTAG":
                lang = self.next().text[1:].lower()
            elif self.peek().kind == "DHAT":
                self.next()
                it = self.next()
                if it.kind not in ("IRIREF", "PNAME", "COLON"):
                    self.fail("expected a datatype IRI after ^^")
                dt = self.expand_iri(it)
            exact = bool(lang or dt)
        else:
            self.fail("expected a term")
        if exact or self.in_template:
            return Lit(lex, lang=lang, datatype=dt)
        return lex

    # -- property paths -----------------------------------------------
    def parse_path(self):
        """Path → a plain predicate IRI string (single forward link), a
        ``?var`` (variable predicate — the SPARQL path grammar has no
        variables, so no modifier may follow), or a paths.PathExpr
        (anything richer)."""
        if self.peek().kind == "VAR":
            return self.next().text
        expr = self._path_alt()
        if isinstance(expr, P.Link):
            return expr.pred
        return expr

    def _path_alt(self):
        parts = [self._path_seq()]
        while self.take_op("|"):
            parts.append(self._path_seq())
        return P.alt(*parts)

    def _path_seq(self):
        parts = [self._path_elt_or_inv()]
        while self.take_op("/"):
            parts.append(self._path_elt_or_inv())
        return P.seq(*parts)

    def _path_elt_or_inv(self):
        if self.take_op("^"):
            return P.inv(self._path_elt())
        return self._path_elt()

    def _path_elt(self):
        prim = self._path_primary()
        if self.take_op("+"):
            return P.plus(prim)
        if self.take_op("*"):
            return P.star(prim)
        if self.take_op("?"):
            return P.opt(prim)
        return prim

    def _path_primary(self):
        t = self.peek()
        if t.kind == "OP" and t.text == "(":
            self.next()
            inner = self._path_alt()
            self.expect_op(")")
            return inner
        if t.kind == "OP" and t.text == "!":
            self.next()
            return self._path_negated_set()
        if t.kind == "NAME" and t.text == "a":
            self.next()
            return P.link(RDF_TYPE)
        if t.kind in ("IRIREF", "PNAME", "COLON"):
            return P.link(self.expand_iri(self.next()))
        self.fail("expected a path element")

    def _path_negated_set(self):
        """``!(p1|^p2|...)`` or ``!p`` — forward and inverse members
        split per SPARQL 1.1 §9.1 (NPS evaluates them separately)."""
        fwd, bwd = [], []

        def one():
            if self.take_op("^"):
                lst = bwd
            else:
                lst = fwd
            t = self.next()
            if t.kind == "NAME" and t.text == "a":
                lst.append(RDF_TYPE)
            else:
                lst.append(self.expand_iri(t))

        if self.take_op("("):
            one()
            while self.take_op("|"):
                one()
            self.expect_op(")")
        else:
            one()
        parts = []
        if fwd:
            parts.append(P.nps(*fwd))
        if bwd:
            parts.append(P.inv(P.nps(*bwd)))
        return P.alt(*parts)

    # -- group graph pattern ------------------------------------------
    def parse_group(self) -> GroupSpec:
        """One ``{...}`` group graph pattern → its :class:`bgp.GroupSpec`,
        built once when the group closes.  Nested OPTIONAL / MINUS /
        EXISTS bodies and UNION branches are GroupSpecs already, and a
        sub-SELECT becomes a relation entry as soon as it closes.
        GroupSpec checks the group-shape rules; a violation re-raises
        here as a syntax error."""
        self.expect_op("{")
        if self.take_kw("select"):
            # '{' SubSelect '}' (grammar rule 53): the group is one
            # sub-SELECT, as in the form '{ { SELECT ... } }'
            spec = GroupSpec(relations=[self._subselect()])
            self.expect_op("}")
            return spec
        if self.at_op("{") and not (
                self.peek(1).kind == "NAME"
                and self.peek(1).text.lower() == "select"):
            # {A} UNION {B} [UNION {C}...] — at the top level or
            # nested inside OPTIONAL/MINUS/EXISTS (GroupSpec recursion)
            union = [self.parse_group()]
            while self.take_kw("union"):
                union.append(self.parse_group())
            if not self.at_op("}"):
                self.fail("UNION must be the entire group body — "
                          "join further patterns at the DataFrame "
                          "level")
            self.next()
            return GroupSpec(union=union)
        g = {f.name: [] for f in fields(GroupSpec)}  # its members
        while not self.at_op("}"):
            if self.take_op("{"):
                # mid-group braced block: a sub-SELECT (§18.2) — at
                # the top level or inside an OPTIONAL/MINUS/EXISTS
                # body; either way it compiles to a GroupSpec relation
                if not self.take_kw("select"):
                    self.fail("expected SELECT (only sub-SELECT blocks "
                              "may appear mid-group; UNION must be the "
                              "entire group body)")
                g["relations"].append(self._subselect())
                self.expect_op("}")
            elif self.take_kw("filter"):
                self._parse_filter(g)
            elif self.take_kw("optional"):
                g["optionals"].append(self.parse_group())
            elif self.take_kw("minus"):
                g["minus"].append(self.parse_group())
            elif self.take_kw("graph"):
                t = self.peek()
                if t.kind == "VAR":
                    gterm = self.next().text
                elif t.kind in ("IRIREF", "PNAME", "COLON"):
                    gterm = self.expand_iri(self.next())
                else:
                    self.fail("expected a variable or IRI after GRAPH")
                sub = self.parse_group()
                if any(members for name, members in vars(sub).items()
                       if name not in ("patterns", "filters",
                                       "graph_ranges")):
                    self.fail(
                        "GRAPH blocks support triple patterns and plain "
                        "FILTER only — compose richer graph-scoped "
                        "groups at the DataFrame level")
                # stamp the graph term onto each contained pattern; the
                # compiler treats it as a 4th match position (a FILTER
                # inside GRAPH scopes to the enclosing group, per
                # SPARQL's group-level filter semantics).  A NESTED
                # GRAPH block re-scopes its own patterns (§13.3: the
                # inner block changes the active graph), so patterns
                # already carrying a graph term pass through unstamped.
                stamped = [pat if len(pat) == 4 else pat + (gterm,)
                           for pat in sub.patterns]
                g["patterns"].extend(stamped)
                g["filters"].extend(sub.filters)
                g["graph_ranges"].extend(sub.graph_ranges)
                if (gterm.startswith("?")
                        and not any(pat[3] == gterm for pat in stamped)):
                    # the variable scoped NOTHING (every pattern was
                    # re-scoped by a nested GRAPH block): §13.3 still
                    # ranges it over every graph name — record it for
                    # the distinct-graph-name join in bgp._eval_spec
                    g["graph_ranges"].append(gterm[1:])
            elif self.take_kw("bind"):
                self.expect_op("(")
                expr = self._parse_constructor()
                if expr is None:
                    expr, kind = self._or_expr()
                    if kind in ("literal", "num"):
                        # a string or numeric constant, a string
                        # function or arithmetic is a literal;
                        # bgp._apply_bind types it
                        expr = (expr, "literal", None, None)
                self.expect_kw("as")
                v = self.next()
                if v.kind != "VAR":
                    self.fail("expected variable after AS")
                self.expect_op(")")
                if isinstance(expr, tuple):
                    # constructed terms carry companion metadata
                    # columns — same lifecycle as introspected vars
                    # (SELECT * drops them, projection hides them)
                    self.meta_vars.add(v.text[1:])
                # §18.2.2.6 syntax order: a BIND whose expression
                # references a variable introduced by a PRECEDING
                # OPTIONAL (or by an earlier late bind) must apply
                # after that left join — route it to late_binds.
                # Identifier scan over-approximates (same convention
                # as _entry_vars): a false hit only delays the bind,
                # which is always safe before MINUS/FILTER/EXISTS.
                refs = set()
                for part in (expr if isinstance(expr, tuple)
                             else (expr,)):
                    if isinstance(part, str):
                        refs |= set(_SQL_IDENT.findall(part))
                opt = set().union(*map(_entry_vars, g["optionals"]))
                late = {name for name, _ in g["late_binds"]}
                if refs & ((opt - _pattern_vars(g["patterns"])) | late):
                    g["late_binds"].append((v.text[1:], expr))
                else:
                    g["binds"].append((v.text[1:], expr))
            elif self.take_kw("values"):
                g["values"].extend(self._parse_values())
            else:
                self._parse_triples_block(g["patterns"])
            self.take_op(".")
        self.expect_op("}")
        try:
            spec = GroupSpec(**g)
        except ValueError as e:
            self.fail(str(e))
        if spec.relations:
            _check_subselect_commutes(spec)
        return spec

    def _subselect(self) -> tuple:
        """A sub-SELECT, read after its SELECT keyword → the relation
        entry of its group."""
        sq = self._parse_select_body()
        entry = _relation_entry(sq)
        self.all_subqueries.append(sq)
        return entry

    def _parse_filter(self, g: dict) -> None:
        negate = False
        if self.take_kw("not"):
            self.expect_kw("exists")
            negate = True
        elif self.take_kw("exists"):
            pass
        else:
            g["filters"].append(self.parse_expr_or_call())
            return
        g["not_exists" if negate else "exists"].append(self.parse_group())

    def _parse_triples_block(self, out: list) -> None:
        """One subject's triples (``;`` / ``,`` lists) → ``out``."""
        subj = self.parse_term()
        while True:
            pred = self.parse_path()
            obj = self.parse_term()
            out.append((subj, pred, obj))
            while self.take_op(","):
                out.append((subj, pred, self.parse_term()))
            if not self.take_op(";"):
                return
            if self.at_op(".", "}"):  # trailing ; before . or }
                return

    def _parse_values(self) -> list[dict]:
        def value(var):
            if self.take_kw("undef"):
                return None
            v = self.parse_term()
            if isinstance(v, Lit):
                # term-exact VALUES entry: the variable joins on its
                # metadata companion columns too (bgp._join_values);
                # mark it so the compiler binds them
                self.meta_vars.add(var)
            return v

        if self.peek().kind == "VAR":  # VALUES ?v { v1 v2 }
            var = self.next().text[1:]
            self.expect_op("{")
            rows = []
            while not self.at_op("}"):
                rows.append({var: value(var)})
            self.expect_op("}")
            return rows
        self.expect_op("(")
        names = []
        while self.peek().kind == "VAR":
            names.append(self.next().text[1:])
        self.expect_op(")")
        self.expect_op("{")
        rows = []
        while self.take_op("("):
            vals = [value(n) for n in names]
            self.expect_op(")")
            rows.append(dict(zip(names, vals)))
        self.expect_op("}")
        return rows

    def _parse_constructor(self):
        """IRI / URI / STRDT / STRLANG as the ENTIRE BIND expression →
        a ``(lex_sql, kind, datatype, lang)`` 4-tuple for bgp's
        constructor-bind channel (the variable gets term-metadata
        companion columns minted alongside the value).  Returns None
        when the next tokens are not a constructor call.  STRDT's
        datatype and STRLANG's tag must be constants in this engine
        (the metadata rides in literal companion columns, one value
        per BIND).  BNODE(expr) mints a deterministic skolem-style
        label (same argument → same bnode across solutions, the
        documented deviation); zero-arg BNODE() mints a FRESH label
        per solution row (§17.4.2.9) — a hash of the whole row plus
        an index among identical rows, deterministic as a multiset
        under distributed re-evaluation (bgp._apply_bind)."""
        t = self.peek()
        if (t.kind != "NAME" or t.text.lower() not in _CONSTRUCTOR_FNS
                or self.peek(1).kind != "OP"
                or self.peek(1).text != "("):
            return None
        word = t.text.lower()
        self.next()
        self.next()
        if word == "bnode":
            if self.at_op(")"):
                # §17.4.2.9 fresh blank node per solution: the label
                # is a function of the whole solution row plus an
                # index among identical rows (bgp._apply_bind) — fresh
                # per solution AND deterministic as a multiset under
                # distributed re-evaluation
                self.expect_op(")")
                return (BNODE_FRESH_SENTINEL, "bnode", None, None)
            sql = self.parse_expr()
            self.expect_op(")")
            # deterministic skolem-style label: a pure function of the
            # argument, so the same argument yields the SAME bnode in
            # every solution (documented deviation from §17.4.2.9's
            # per-solution freshness — the deterministic distributed
            # choice).  The '_:fn' prefix keeps minted labels disjoint
            # from extractor/serializer labels ('_:b…').
            return (f"concat('_:fn', substr(sha2(CAST({sql} AS STRING)"
                    ", 256), 1, 40))", "bnode", None, None)
        if word in ("iri", "uri"):
            sql = self.parse_expr()
            self.expect_op(")")
            if self.base:
                # resolve scheme-less values against BASE (same naive
                # concat rule as expand_iri applies to parsed IRIs)
                b = _sql_str(self.base)
                sql = (f"(CASE WHEN {sql} RLIKE "
                       "'^[A-Za-z][A-Za-z0-9+.-]*:' "
                       f"THEN {sql} ELSE concat({b}, {sql}) END)")
            return (sql, "iri", None, None)
        sql = self.parse_expr()
        self.expect_op(",")
        if word == "strdt":
            dt_tok = self.next()
            if dt_tok.kind not in ("IRIREF", "PNAME", "COLON"):
                self.fail("STRDT takes a constant datatype IRI in "
                          "this engine")
            self.expect_op(")")
            return (f"CAST({sql} AS STRING)", "literal",
                    self.expand_iri(dt_tok), None)
        lt = self.next()  # strlang
        if lt.kind != "STRING":
            self.fail("STRLANG takes a constant language tag in this "
                      "engine")
        self.expect_op(")")
        return (f"CAST({sql} AS STRING)", "literal", None,
                _unquote(lt.text).lower())

    # -- expressions → Spark SQL --------------------------------------
    def parse_expr_or_call(self) -> str:
        """FILTER body: a bracketted expression or a bare builtin
        call (both legal per the SPARQL grammar)."""
        if self.at_op("("):
            return self.parse_expr()
        return self._primary()[0]

    def parse_expr(self) -> str:
        return self._or_expr()[0]

    def _or_expr(self):
        sql, kind = self._and_expr()
        while self.take_op("||"):
            rhs, _ = self._and_expr()
            sql, kind = f"({sql} OR {rhs})", "other"
        return sql, kind

    def _and_expr(self):
        sql, kind = self._rel_expr()
        while self.take_op("&&"):
            rhs, _ = self._rel_expr()
            sql, kind = f"({sql} AND {rhs})", "other"
        return sql, kind

    _REL_OPS = {"=": "=", "!=": "<>", "<": "<", ">": ">",
                "<=": "<=", ">=": ">="}

    def _rel_expr(self):
        sql, kind = self._add_expr()
        t = self.peek()
        if t.kind == "OP" and t.text in self._REL_OPS:
            self.next()
            rhs, rkind = self._add_expr()
            lhs = sql
            # SPARQL numeric comparison over lexical columns: cast the
            # bare-variable side when the other side is a number.  A
            # non-numeric value is a type error (NULL), which drops the
            # row (§17.2) instead of aborting the query under ANSI.
            if rkind == "num" and kind == "var":
                lhs = f"TRY_CAST({lhs} AS DOUBLE)"
            elif kind == "num" and rkind == "var":
                rhs = f"TRY_CAST({rhs} AS DOUBLE)"
            return f"({lhs} {self._REL_OPS[t.text]} {rhs})", "other"
        negated = False
        if (self.peek().kind == "NAME" and self.peek().text.lower() == "not"
                and self.peek(1).kind == "NAME"
                and self.peek(1).text.lower() == "in"):
            self.next()
            negated = True
        if self.take_kw("in"):
            self.expect_op("(")
            items = [self._add_expr()[0]]
            while self.take_op(","):
                items.append(self._add_expr()[0])
            self.expect_op(")")
            op = "NOT IN" if negated else "IN"
            return f"({sql} {op} ({', '.join(items)}))", "other"
        if negated:
            self.fail("expected IN after NOT")
        return sql, kind

    def _add_expr(self):
        lhs = self._mul_expr()
        while self.at_op("+", "-"):
            op = self.next().text
            lhs = _arith(lhs, op, self._mul_expr())
        return lhs

    def _mul_expr(self):
        lhs = self._unary()
        while self.at_op("*", "/"):
            op = self.next().text
            lhs = _arith(lhs, op, self._unary())
        return lhs

    def _unary(self):
        if self.take_op("!"):
            sql, _ = self._unary()
            return f"(NOT {sql})", "other"
        if self.take_op("-"):
            sql, kind = self._unary()
            # a negated numeric constant is still one
            return f"(- {sql})", "num" if kind == "num" else "other"
        if self.take_op("+"):
            return self._unary()
        return self._primary()

    def _primary(self):
        t = self.peek()
        if t.kind == "OP" and t.text == "(":
            self.next()
            sql, _ = self._or_expr()
            self.expect_op(")")
            return f"({sql})", "other"
        if t.kind == "VAR":
            self.next()
            return t.text[1:], "var"
        if t.kind == "NUMBER":
            self.next()
            return t.text, "num"
        if t.kind == "STRING":
            self.next()
            if self.peek().kind in ("LANGTAG", "DHAT"):
                raise SparqlSyntaxError(
                    "tagged literals in expressions are not supported "
                    f"(offset {t.pos})")
            return _sql_str(_unquote(t.text)), "literal"
        if t.kind == "IRIREF" or t.kind == "PNAME":
            self.next()
            return _sql_str(self.expand_iri(t)), "str"
        if t.kind == "NAME":
            word = t.text.lower()
            if word in ("true", "false"):
                self.next()
                return word.upper(), "other"
            if word in _TERM_FNS:
                self.next()
                self.expect_op("(")
                a = self.peek()
                if a.kind == "NAME" and a.text.lower() == "coalesce":
                    # LANG(COALESCE(?a, ?b, ...)) — §17.4.1.5 COALESCE
                    # of plain variables: the result term is the first
                    # BOUND argument's term, so the introspection
                    # dispatches on boundness to that variable's own
                    # metadata companions (an unbound tail → NULL →
                    # type error, dropped by FILTER per §17.2).
                    self.next()
                    self.expect_op("(")
                    vs = []
                    while True:
                        v = self.next()
                        if v.kind != "VAR":
                            self.fail(
                                f"{t.text.upper()}(COALESCE(...)) "
                                "takes plain variables in this engine "
                                "(nested expressions carry no term "
                                "metadata)")
                        vs.append(v.text[1:])
                        if self.take_op(","):
                            continue
                        break
                    self.expect_op(")")
                    self.expect_op(")")
                    self.meta_vars.update(vs)
                    branches = " ".join(
                        f"WHEN {v} IS NOT NULL "
                        f"THEN {_TERM_FNS[word](v)}" for v in vs)
                    return f"(CASE {branches} END)", "other"
                if a.kind != "VAR":
                    self.fail(
                        f"{t.text.upper()}() takes a plain variable "
                        "or a COALESCE of plain variables in this "
                        "engine (other nested expressions carry no "
                        "term metadata)")
                self.next()
                self.expect_op(")")
                self.meta_vars.add(a.text[1:])
                return _TERM_FNS[word](a.text[1:]), "other"
            if word == "sameterm":
                # §17.4.1.8: RDF-term equality — lexical form AND
                # kind/datatype/language, all null-safe, via the
                # term-metadata companion columns of both variables.
                self.next()
                self.expect_op("(")
                vs = []
                for _ in range(2):
                    a = self.next()
                    if a.kind != "VAR":
                        self.fail("SAMETERM() takes two plain variables "
                                  "in this engine (nested expressions "
                                  "carry no term metadata)")
                    vs.append(a.text[1:])
                    if len(vs) == 1:
                        self.expect_op(",")
                self.expect_op(")")
                self.meta_vars.update(vs)
                x, y = vs
                return ("((" + f"{x} <=> {y}) AND "
                        + " AND ".join(
                            f"({x}{sfx} <=> {y}{sfx})"
                            for sfx in META_SUFFIXES) + ")"), "other"
            if word in _CONSTRUCTOR_FNS:
                raise SparqlSyntaxError(
                    f"term constructor {t.text.upper()}() is only "
                    "supported as the entire BIND expression — "
                    f"BIND({t.text.upper()}(...) AS ?v) — where its "
                    "term metadata can be carried as companion columns "
                    f"(offset {t.pos})")
            if word in _AGG_FNS:
                if self._allow_agg:
                    self.next()
                    self._saw_agg = True
                    return self._agg_call(word), "other"
                raise SparqlSyntaxError(
                    f"aggregate {t.text.upper()}() is only allowed in "
                    f"SELECT expressions and HAVING conditions "
                    f"(offset {t.pos})")
            if word in _SCALAR_FNS:
                self.next()
                self.expect_op("(")
                args = []
                if not self.at_op(")"):
                    args.append(self.parse_expr())
                    while self.take_op(","):
                        args.append(self.parse_expr())
                self.expect_op(")")
                return _SCALAR_FNS[word](args), (
                    "literal" if word in _STRING_FNS else "other")
            self.fail(f"unsupported function or keyword {t.text!r}")
        self.fail("expected an expression")

    # -- SELECT items + aggregates ------------------------------------
    def parse_select_item(self) -> SelectItem:
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            return SelectItem(var=t.text[1:])
        self.expect_op("(")
        sql, is_agg = self._agg_or_expr()
        self.expect_kw("as")
        v = self.next()
        if v.kind != "VAR":
            self.fail("expected variable after AS")
        self.expect_op(")")
        return SelectItem(var=v.text[1:], sql=sql, is_agg=is_agg)

    def _agg_or_expr(self) -> tuple[str, bool]:
        t = self.peek()
        if t.kind == "NAME" and t.text.lower() in _AGG_FNS:
            fn = self.next().text.lower()
            return self._agg_call(fn), True
        return self.parse_expr(), False

    def _agg_call(self, fn: str) -> str:
        """Parse the parenthesized body of an aggregate call (the name
        token is already consumed) and return its Spark SQL."""
        self.expect_op("(")
        distinct = self.take_kw("distinct")
        if fn == "count" and self.take_op("*"):
            if distinct:
                raise SparqlSyntaxError(
                    "COUNT(DISTINCT *) is not supported — project "
                    "the variables and COUNT(DISTINCT ?v) instead")
            self.expect_op(")")
            return "count(1)"
        arg, kind = self._or_expr()
        sep = " "
        if fn == "group_concat" and self.take_op(";"):
            self.expect_kw("separator")
            self.expect_op("=")
            s = self.next()
            if s.kind != "STRING":
                self.fail("expected string SEPARATOR value")
            sep = _unquote(s.text)
        self.expect_op(")")
        d = "DISTINCT " if distinct else ""
        if fn == "group_concat":
            inner = (f"collect_set({arg})" if distinct
                     else f"collect_list({arg})")
            return (f"array_join(array_sort({inner}), "
                    f"{_sql_str(sep)})")
        if fn == "sample":
            return f"min({d}{arg})"
        if fn in ("sum", "avg") and kind == "var":
            # a lexical column: a group holding a non-numeric value is
            # unbound (the aggregate is a type error, §18.5.1) instead
            # of an ANSI cast error that aborts the query
            num = f"TRY_CAST({arg} AS DOUBLE)"
            return (f"CASE WHEN count_if({arg} IS NOT NULL AND {num} IS "
                    f"NULL) = 0 THEN {fn}({d}{num}) END")
        return f"{fn}({d}{arg})"

    def _parse_select_body(self) -> ParsedQuery:
        """Everything after the SELECT keyword (shared by the top-level
        form and mid-group sub-SELECTs, §18.2)."""
        q = ParsedQuery(form="select")
        if self.take_kw("distinct") or self.take_kw("reduced"):
            q.distinct = True
        if self.take_op("*"):
            q.select = None
        else:
            items = []
            while self.peek().kind == "VAR" or self.at_op("("):
                items.append(self.parse_select_item())
            if not items:
                self.fail("SELECT needs at least one item or *")
            q.select = items
        self.expect_kw("where")
        q.where = self.parse_group()
        _parse_modifiers(self, q)
        return q


def _arith(lhs: tuple, op: str, rhs: tuple) -> tuple:
    """``lhs op rhs`` over the engine's lexical columns.  A bare-variable
    operand is TRY_CAST to DOUBLE, as in the numeric comparisons and
    SUM/AVG: a column's SQL type is fixed for every row, so DOUBLE is
    the one type that keeps both "120" and a fraction ("1.5", or a
    double an earlier BIND or aggregate computed) exact enough, and a
    non-numeric value leaves that row's result unbound (§17.2) instead
    of aborting the query under ANSI.  The result's kind is
    ``literal``: as the entire BIND expression it binds a numeric
    literal."""
    def operand(side):
        sql, kind = side
        return f"TRY_CAST({sql} AS DOUBLE)" if kind == "var" else sql
    return f"({operand(lhs)} {op} {operand(rhs)})", "literal"


def _unquote(raw: str) -> str:
    """Decode a SPARQL string literal body (ECHAR escapes).

    Sentinel-free, like functions/ntriples.unescape_literal: any raw
    byte (including NUL) may legitimately appear inside the body, so a
    sentinel character would corrupt it — split on escaped-backslash
    pairs, decode ECHARs per part, re-join with a real backslash."""
    def echars(part: str) -> str:
        return (part.replace("\\t", "\t").replace("\\n", "\n")
                    .replace("\\r", "\r").replace('\\"', '"')
                    .replace("\\'", "'"))
    return "\\".join(echars(p) for p in raw[1:-1].split("\\\\"))


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# --------------------------------------------------------------------
# SPARQL 1.1 Update (single operation; compiled onto operators/update)
# --------------------------------------------------------------------

@dataclass
class ParsedUpdate:
    form: str                      # insert_data | delete_data | modify
    data: list = field(default_factory=list)   # ground (s, p, o[, g])
    delete: list | None = None     # template patterns
    insert: list | None = None
    where: GroupSpec | None = None
    meta_vars: frozenset = frozenset()  # vars whose FILTERs need term meta
    target: str | None = None      # clear/drop/create selector
    src: str | None = None         # add/move/copy source graph
    dst: str | None = None         # add/move/copy destination graph


def _parse_template(p: _Parser, ground: bool = False) -> list:
    """One ``{ triples }`` block — a CONSTRUCT or DELETE/INSERT
    template, or with ``ground`` an INSERT/DELETE DATA block — → its
    patterns, every literal a :class:`bgp.Lit`.  Variables may stand
    anywhere, the predicate included; property paths raise.  ``GRAPH
    ?g/<iri> { triples }`` wrappers (§3.1.3 QuadPattern, §3.1.1
    QuadData) emit 4-tuple patterns targeting that named graph — the
    executing table must then be a quads table; bare triples target
    the default graph.  A DATA block is ground: no variables, no
    ``GRAPH ?g``, and no literal subject."""
    out = []
    p.expect_op("{")
    p.in_template = True
    try:
        while not p.at_op("}"):
            graph = ()
            if p.take_kw("graph"):
                t = p.peek()
                if t.kind in ("IRIREF", "PNAME", "COLON"):
                    graph = (p.expand_iri(p.next()),)
                elif t.kind == "VAR" and not ground:
                    graph = (p.next().text,)
                elif ground:
                    p.fail("expected a graph IRI after GRAPH (DATA blocks "
                           "are ground — no graph variables)")
                else:
                    p.fail("expected a variable or IRI after GRAPH")
                p.expect_op("{")
                if p.at_op("}"):
                    p.fail("GRAPH template block contains no triple "
                           "pattern")
            block = []
            while not p.at_op("}") and (graph or not p.at_kw("graph")):
                p._parse_triples_block(block)
                p.take_op(".")
            if graph:
                p.expect_op("}")
                p.take_op(".")
            out += [pat + graph for pat in block]
    finally:
        p.in_template = False
    p.expect_op("}")
    if not out:
        p.fail("empty DATA block" if ground else "empty template")
    for pat in out:
        if not isinstance(pat[1], str):
            raise SparqlSyntaxError(
                "templates take plain triple patterns only — property "
                "paths are not allowed")
        if ground and (isinstance(pat[0], Lit)
                       or any(_is_var(t) for t in pat)):
            raise SparqlSyntaxError(
                "a DATA block is ground: an IRI or blank-node subject, "
                f"an IRI predicate and no variables, not {pat}")
    return out


def parse_update(text: str) -> ParsedUpdate:
    """Parse one SPARQL 1.1 Update operation: ``INSERT DATA``,
    ``DELETE DATA``, ``DELETE WHERE``, or ``DELETE {} INSERT {} WHERE
    {}`` (either template optional).  One operation per call — chain
    calls for ``;``-sequences."""
    p = _Parser(text)
    p.parse_prologue()

    def _graph_ref():
        """((GRAPH)? iri) | DEFAULT — ADD/MOVE/COPY operand."""
        if p.take_kw("default"):
            return "DEFAULT"
        p.take_kw("graph")
        t = p.peek()
        if t.kind in ("IRIREF", "PNAME", "COLON"):
            return p.expand_iri(p.next())
        p.fail("expected DEFAULT or a graph IRI")

    mgmt = next((v for v in ("clear", "drop", "create", "add", "move",
                             "copy") if p.take_kw(v)), None)
    if mgmt:
        # graph management (§3.2); SILENT accepted and ignored — the
        # quads-table representation has no missing-graph errors
        p.take_kw("silent")
        if mgmt in ("clear", "drop"):
            if p.take_kw("default"):
                tgt = "DEFAULT"
            elif p.take_kw("named"):
                tgt = "NAMED"
            elif p.take_kw("all"):
                tgt = "ALL"
            else:
                p.expect_kw("graph")
                t = p.peek()
                if t.kind not in ("IRIREF", "PNAME", "COLON"):
                    p.fail("expected a graph IRI after GRAPH")
                tgt = p.expand_iri(p.next())
            u = ParsedUpdate(mgmt, target=tgt)
        elif mgmt == "create":
            p.expect_kw("graph")
            t = p.peek()
            if t.kind not in ("IRIREF", "PNAME", "COLON"):
                p.fail("expected a graph IRI after GRAPH")
            u = ParsedUpdate("create", target=p.expand_iri(p.next()))
        else:
            src = _graph_ref()
            p.expect_kw("to")
            u = ParsedUpdate(mgmt, src=src, dst=_graph_ref())
        if p.peek().kind != "EOF":
            p.fail("trailing input after update (one operation per "
                   "call)")
        return u
    if p.take_kw("insert"):
        if p.take_kw("data"):
            u = ParsedUpdate("insert_data", data=_parse_template(p, True))
        else:
            tmpl = _parse_template(p)
            p.expect_kw("where")
            u = ParsedUpdate("modify", insert=tmpl,
                             where=p.parse_group())
    elif p.take_kw("delete"):
        if p.take_kw("data"):
            u = ParsedUpdate("delete_data", data=_parse_template(p, True))
        elif p.take_kw("where"):
            # DELETE WHERE shorthand: the block is read as
            # the WHERE group, then again as the template
            start = p.i
            where = p.parse_group()
            p.i = start
            u = ParsedUpdate("modify", delete=_parse_template(p),
                             where=where)
        else:
            tmpl = _parse_template(p)
            ins = _parse_template(p) if p.take_kw("insert") else None
            p.expect_kw("where")
            u = ParsedUpdate("modify", delete=tmpl, insert=ins,
                             where=p.parse_group())
    else:
        p.fail("expected INSERT, DELETE, CLEAR, DROP, CREATE, ADD, "
               "MOVE or COPY")
    if p.peek().kind != "EOF":
        p.fail("trailing input after update (one operation per call)")
    _stamp_meta(u, p)
    return u


def sparql_update(graph: DataFrame, text: str) -> DataFrame:
    """Parse and apply one SPARQL Update operation against the graph
    (full term schema required for template forms); returns the NEW
    graph DataFrame — nothing mutates in place (see operators/update
    for semantics: lexical-identity DELETE, metadata-preserving
    INSERT, set-semantics result)."""
    from rdfa_streaming_parser_js_spark.operators import update as U

    u = parse_update(text)
    if u.form in ("clear", "drop"):
        return (U.clear_graph if u.form == "clear"
                else U.drop_graph)(graph, u.target)
    if u.form == "create":
        # CREATE GRAPH: a quads table is a SET of quads — empty graphs
        # have no rows to record, so this is the identity (the §3.2.1
        # reading for stores without empty-graph bookkeeping)
        U._require_quads(graph)
        return graph
    if u.form in ("add", "move", "copy"):
        fn = {"add": U.add_graph, "move": U.move_graph,
              "copy": U.copy_graph}[u.form]
        return fn(graph, u.src, u.dst)
    if u.form == "insert_data":
        return U.insert_data(graph, u.data)
    if u.form == "delete_data":
        return U.delete_data(graph, u.data)
    return U.apply_update(
        graph, delete=u.delete, insert=u.insert, where=u.where,
        meta_vars=u.meta_vars)


# --------------------------------------------------------------------
# top-level parse
# --------------------------------------------------------------------

def parse_sparql(text: str) -> ParsedQuery:
    """Parse SPARQL text into a :class:`ParsedQuery` (no Spark work)."""
    p = _Parser(text)
    p.parse_prologue()
    if p.take_kw("select"):
        q = p._parse_select_body()
    elif p.take_kw("ask"):
        q = ParsedQuery(form="ask")
        p.take_kw("where")
        q.where = p.parse_group()
    elif p.take_kw("describe"):
        q = ParsedQuery(form="describe")
        while True:
            t = p.peek()
            if t.kind == "VAR":
                q.describe_targets.append(p.next().text)
            elif t.kind in ("IRIREF", "PNAME", "COLON"):
                q.describe_targets.append(p.expand_iri(p.next()))
            else:
                break
        if not q.describe_targets:
            p.fail("DESCRIBE needs at least one IRI or variable")
        if p.take_kw("where") or p.at_op("{"):
            q.where = p.parse_group()
        if (any(v.startswith("?") for v in q.describe_targets)
                and q.where is None):
            p.fail("DESCRIBE with a variable needs a WHERE clause "
                   "binding it")
    elif p.take_kw("construct"):
        q = ParsedQuery(form="construct")
        if p.take_kw("where"):
            # CONSTRUCT WHERE { ... } shorthand (§10.2.3): the block is
            # read as the WHERE group, then again as the template.  The
            # spec limits the body to triple patterns.
            start = p.i
            q.where = p.parse_group()
            if any(members for name, members in vars(q.where).items()
                   if name != "patterns"):
                p.fail("CONSTRUCT WHERE shorthand allows triple "
                       "patterns only (SPARQL §10.2.3)")
            p.i = start
        q.template = _parse_template(p)
        if any(len(pat) == 4 for pat in q.template):
            raise SparqlSyntaxError(
                "CONSTRUCT templates take plain triple patterns only — "
                "GRAPH is not allowed")
        if q.where is None:
            p.expect_kw("where")
            q.where = p.parse_group()
        _parse_modifiers(p, q)
    else:
        p.fail("expected SELECT, ASK or CONSTRUCT")
    if p.peek().kind != "EOF":
        p.fail("trailing input after query")
    _stamp_meta(q, p)
    return q


def _stamp_meta(q: "ParsedQuery | ParsedUpdate", p: _Parser) -> None:
    """Record the term-metadata variable set on the query or update
    and on every sub-SELECT parsed anywhere in it — the parser's flat
    ``all_subqueries`` registry lists them all, nested ones included
    (the set is parser-global; a variable only gains companion columns
    in groups that actually bind it)."""
    for sq in (q, *p.all_subqueries):
        sq.meta_vars = frozenset(p.meta_vars)


def _parse_modifiers(p: _Parser, q: ParsedQuery) -> None:
    if p.take_kw("group"):
        p.expect_kw("by")
        while p.peek().kind == "VAR":
            q.group_by.append(p.next().text[1:])
        if not q.group_by:
            p.fail("GROUP BY needs at least one variable")
    if p.take_kw("having"):
        # HavingCondition+ (§11.1): each condition may contain
        # aggregate calls directly — compiled later as hidden agg
        # columns — or reference SELECT aggregate aliases (?n).
        p._allow_agg = True
        try:
            while True:
                p._saw_agg = False
                q.having.append((p.parse_expr_or_call(), p._saw_agg))
                if not p.at_op("("):
                    break
        finally:
            p._allow_agg = False
    if p.take_kw("order"):
        p.expect_kw("by")
        while True:
            if p.take_kw("asc"):
                p.expect_op("(")
                q.order_by.append((p.parse_expr(), True))
                p.expect_op(")")
            elif p.take_kw("desc"):
                p.expect_op("(")
                q.order_by.append((p.parse_expr(), False))
                p.expect_op(")")
            elif p.peek().kind == "VAR":
                q.order_by.append((p.next().text[1:], True))
            else:
                break
        if not q.order_by:
            p.fail("ORDER BY needs at least one key")
    # LIMIT/OFFSET accepted in either order, per the SPARQL grammar
    # (grammar requires INTEGER — a decimal NUMBER token must fail as
    # a SparqlSyntaxError, not a raw ValueError)
    for _ in range(2):
        if p.take_kw("limit"):
            t = p.next()
            if t.kind != "NUMBER" or not t.text.lstrip("+-").isdigit():
                p.fail("expected integer LIMIT count")
            q.limit = int(t.text)
        elif p.take_kw("offset"):
            t = p.next()
            if t.kind != "NUMBER" or not t.text.lstrip("+-").isdigit():
                p.fail("expected integer OFFSET count")
            q.offset = int(t.text)
    if p.at_kw("values"):
        p.next()
        _attach_trailing_values(p, q)


def _attach_trailing_values(p: "_Parser", q: ParsedQuery) -> None:
    """Trailing ``VALUES`` block (the grammar's query-final
    ValuesClause — the standard parameterized-query idiom).  §18.2
    joins the inline data with the whole query pattern, which commutes
    with pushing the join INTO the group exactly when every VALUES
    variable is bound by the group's required triple patterns (then
    ``Join(LeftJoin(P,O), V) = LeftJoin(Join(P,V), O)``, and the join
    distributes over every UNION branch).  So the rows compile onto
    the existing in-group VALUES machinery under that guard; grouping/
    aggregates (where §18.2.4 puts the join AFTER aggregation) and
    VALUES variables the required patterns don't bind raise rather
    than silently mis-evaluate — put the VALUES inside WHERE there."""
    rows = p._parse_values()
    if q.group_by or q.having or any(
            it.is_agg for it in (q.select or [])):
        p.fail("a trailing VALUES block on a grouped/aggregated query "
               "is not supported — put the VALUES block inside WHERE")
    used = set()
    for row in rows:
        used |= set(row)

    def _inject(g: GroupSpec) -> None:
        if g.union:
            for b in g.union:
                _inject(b)
            return
        missing = used - _pattern_vars(g.patterns)
        if missing:
            p.fail("trailing VALUES constrains "
                   f"{sorted('?' + v for v in missing)} which the "
                   "group's required triple patterns do not bind — "
                   "put the VALUES block inside WHERE")
        g.values.extend(rows)

    _inject(q.where)


# --------------------------------------------------------------------
# execution
# --------------------------------------------------------------------

_SQL_IDENT = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")


def _entry_vars(spec: GroupSpec, refs: bool = True) -> set:
    """Over-approximate every variable a group can bind or reference:
    pattern variables, BIND names + expression identifiers, VALUES
    keys, graph-range names, sub-SELECT projections, filter-SQL
    identifiers (which over-count — function names match the
    identifier regex — but an over-approximation can only RAISE more,
    never silently mis-evaluate), recursing through nested groups.
    ``refs=False`` keeps only the variables the group's solution binds
    (its columns): no expression identifiers, no MINUS/EXISTS
    bodies."""
    out = set(spec.graph_ranges) | _pattern_vars(spec.patterns)
    for name, expr in spec.binds + spec.late_binds:
        out.add(name)
        if refs:
            out |= set(_SQL_IDENT.findall(
                expr if isinstance(expr, str) else expr[0]))
    for row in spec.values:
        out |= set(row)
    for _thunk, _cert, cols in spec.relations:
        out |= set(cols)
    subs = spec.optionals + spec.union
    if refs:
        subs += spec.minus + spec.exists + spec.not_exists
        for f in spec.filters:
            out |= set(_SQL_IDENT.findall(f))
    for sub in subs:
        out |= _entry_vars(sub, refs)
    return out


def _projected_vars(q: "ParsedQuery") -> set:
    """The variables a sub-SELECT's solution relation binds, computed
    at parse time (no DataFrame yet): the explicit projection, or for
    ``SELECT *`` the columns its WHERE group binds."""
    if q.select is not None:
        return {it.var for it in q.select}
    return _entry_vars(q.where, refs=False)


def _certain_out_vars(q: "ParsedQuery") -> frozenset:
    """The sub-SELECT projections bound in EVERY solution row — the
    sound under-approximation the §18.3 mask machinery needs (claiming
    certainty for a NULL-able column would compute wrong answers, the
    reverse only costs extra mask partitions).  A plain projected
    variable is certain iff certain in the WHERE group; every
    expression/aggregate projection counts as maybe-unbound (COUNT
    never is, but conservatism is free here)."""
    cert = _certain_vars(q.where)
    if q.select is None:
        return frozenset(cert)
    return frozenset(it.var for it in q.select
                     if it.sql is None and not it.is_agg
                     and it.var in cert)


def _check_subselect_commutes(g: GroupSpec) -> None:
    """§18.2 composition guard: the compiled plan joins sub-SELECT
    relations AFTER the group's OPTIONAL/MINUS/EXISTS, i.e. it
    evaluates ``Join(LeftJoin(P, O), S)``.  SPARQL's
    left-to-right group algebra can instead mean
    ``LeftJoin(Join(P, S), O)`` — the two commute exactly when every
    variable an O-entry touches that also appears in a sub-SELECT's
    projection is CERTAIN in the group's own patterns (bound in every
    P solution, so the left join can neither mint nor rewrite it —
    rewriting happens only for maybe-unbound shared variables under
    the §18.3 mask machinery).  Anything else raises rather than
    silently picking an order."""
    all_cols = {c for _thunk, _cert, cols in g.relations for c in cols}
    certain = _pattern_vars(g.patterns)
    for entry in (g.optionals + g.minus + g.exists + g.not_exists):
        clash = (_entry_vars(entry) & all_cols) - certain
        if clash:
            raise SparqlSyntaxError(
                "sub-SELECT and OPTIONAL/MINUS/EXISTS in one group "
                f"share maybe-unbound variable(s) {sorted(clash)} — "
                "join order is semantically significant here; "
                "compose at the DataFrame level")


def sparql_query(triples: DataFrame, text: str) -> DataFrame:
    """Parse and execute SPARQL ``text`` against the ``triples`` table
    (the engine's extraction schema: subj/pred/obj_value...).  Returns
    the solution DataFrame: one column per projected variable, one
    boolean ``ask`` column for ASK, triples-shaped rows for CONSTRUCT.
    """
    q = parse_sparql(text)
    if q.form == "select":
        return _execute_select(triples, q)
    if q.form == "describe":
        spark = triples.sparkSession
        iris = [v for v in q.describe_targets
                if not v.startswith("?")]
        seeds = (spark.createDataFrame([(i,) for i in iris],
                                       "node string")
                 if iris else None)
        var_names = [v[1:] for v in q.describe_targets
                     if v.startswith("?")]
        if var_names:
            sol = _eval_spec(triples, q.where, q.meta_vars)
            for v in var_names:
                s = sol.select(F.col(v).alias("node")).distinct()
                seeds = s if seeds is None else (
                    seeds.unionByName(s).distinct())
        return describe(triples, seeds)
    meta = q.meta_vars
    if q.form == "construct" and set(TERM_COLS) <= set(triples.columns):
        # a template variable a plain pattern binds keeps its source
        # term, as in apply_update: a copied literal stays that literal
        meta = meta | (_pattern_vars(q.template) & _plain_bound(q.where))
    sol = _eval_spec(triples, q.where, meta)
    if q.form == "ask":
        return (sol.limit(1)
                .agg((F.count(F.lit(1)) > 0).alias("ask")))
    # CONSTRUCT solution modifiers act on the SOLUTION SEQUENCE, not on
    # the constructed triple bag (SPARQL 1.1 §16.2: template
    # instantiation happens after ORDER/LIMIT/OFFSET) — slicing the
    # output triples would truncate to an arbitrary subset of a graph.
    if q.having and not q.group_by:
        raise SparqlSyntaxError("HAVING requires GROUP BY")
    if q.group_by:
        # §16.2 + §11: grouping acts on the solution sequence BEFORE
        # template instantiation.  The grouped solution binds only the
        # group keys (CONSTRUCT templates have no AS, so aggregates
        # can't be projected — they may only appear in HAVING), so
        # every template variable must be a group key.
        bad = sorted(_pattern_vars(q.template) - set(q.group_by))
        if bad:
            raise SparqlSyntaxError(
                "CONSTRUCT template variable(s) ?" + " ?".join(bad)
                + " must appear in GROUP BY (aggregates cannot be "
                "projected into a template)")
        hidden = [F.expr(expr).alias(f"__having_{i}")
                  for i, (expr, has_agg) in enumerate(q.having)
                  if has_agg]
        carried, unpack = _carry_meta(sol, q.group_by)
        if hidden or carried:
            sol = sol.groupBy(*q.group_by).agg(*hidden, *carried)
        else:
            sol = sol.select(*q.group_by).dropDuplicates()
        for i, (expr, has_agg) in enumerate(q.having):
            if not has_agg:
                raise SparqlSyntaxError(
                    "HAVING in CONSTRUCT must be an aggregate "
                    "condition (there are no SELECT aliases to "
                    "reference)")
            sol = sol.filter(F.col(f"__having_{i}"))
        sol = sol.select(*q.group_by, *unpack)
    if q.order_by:
        sol = _order(sol, q.order_by)
    sol = _slice(sol, q)
    return bgp_construct(sol, q.template)


def _carry_meta(sol: DataFrame, keys) -> tuple[list, list]:
    """Carry each group key's term-metadata companions through a
    grouping as one co-observed (kind, lang, dt) tuple — min of the
    struct is deterministic and never mixes columns from different
    source terms.  Returns the aggregates to add to the grouping and
    the columns that unpack them afterwards."""
    carried, unpack = [], []
    for v in keys:
        comps = [v + sfx for sfx in META_SUFFIXES]
        if all(c in sol.columns for c in comps):
            carried.append(F.min(F.struct(*comps)).alias(f"__meta_{v}"))
            unpack += [F.col(f"__meta_{v}.{c}").alias(c) for c in comps]
    return carried, unpack


def _execute_select(triples: DataFrame, q: ParsedQuery,
                    keep_meta: frozenset = frozenset()) -> DataFrame:
    """The SELECT pipeline (shared by top-level queries and §18.2
    sub-SELECTs): aggregate path vs plain projection, then DISTINCT /
    ORDER / LIMIT / OFFSET in SPARQL's slice order.  ``keep_meta``
    names variables whose term-metadata companions the result keeps
    (what an enclosing group asks of a sub-SELECT); only plainly
    projected variables that the WHERE group binds by plain patterns
    have them."""
    items = q.select
    keep = keep_meta & _plain_bound(q.where)
    if items is not None:
        keep &= {it.var for it in items if it.sql is None}
    sol = _eval_spec(triples, q.where, q.meta_vars | keep)
    agg_mode = bool(q.group_by) or bool(
        items and any(it.is_agg for it in items))
    if agg_mode:
        if items is None:
            raise SparqlSyntaxError(
                "SELECT * cannot be combined with GROUP BY/aggregates")
        aggs = [F.expr(it.sql).alias(it.var)
                for it in items if it.is_agg]
        keys = [it.var for it in items if not it.is_agg]
        for k in keys:
            if k not in q.group_by:
                raise SparqlSyntaxError(
                    f"non-aggregated SELECT variable ?{k} must appear "
                    "in GROUP BY")
        if not aggs:
            raise SparqlSyntaxError(
                "GROUP BY without any aggregate in SELECT")
        # HAVING conditions that contain aggregates evaluate IN the
        # grouping (hidden boolean agg columns, filtered then
        # projected away); aggregate-free ones reference SELECT
        # aliases and filter the grouped solution directly.
        hidden = [F.expr(expr).alias(f"__having_{i}")
                  for i, (expr, has_agg) in enumerate(q.having)
                  if has_agg]
        carried, unpack = _carry_meta(sol, [k for k in keys if k in keep])
        sol = (sol.groupBy(*q.group_by).agg(*aggs, *hidden, *carried)
               if q.group_by else sol.agg(*aggs, *hidden))
        for i, (expr, has_agg) in enumerate(q.having):
            sol = sol.filter(F.col(f"__having_{i}") if has_agg
                             else F.expr(expr))
        sol = sol.select(*[it.var for it in items], *unpack)
    else:
        for it in items or []:
            if it.sql is not None:
                if it.var in sol.columns:
                    raise SparqlSyntaxError(
                        f"(expr AS ?{it.var}) would rebind an "
                        "in-scope variable")
                sol = sol.withColumn(it.var, F.expr(it.sql))
        if q.having:
            raise SparqlSyntaxError("HAVING requires GROUP BY")
        if not q.distinct and q.order_by:
            # order on the full solution (keys may be unprojected —
            # SPARQL sorts before projection)...
            sol = _order(sol, q.order_by)
        # companion metadata columns are engine plumbing, not solution
        # variables — drop after ordering (ORDER BY expressions may
        # reference them) unless the enclosing group keeps them
        kept = [v + sfx for v in keep for sfx in META_SUFFIXES
                if v + sfx in sol.columns]
        if items is not None:
            sol = sol.select(*[it.var for it in items], *kept)
        elif q.meta_vars:
            sol = sol.drop(*[v + sfx for v in q.meta_vars
                             for sfx in META_SUFFIXES
                             if v + sfx not in kept])

    if q.distinct:
        sol = sol.dropDuplicates()
        # ...but after DISTINCT / aggregation the earlier sort is
        # shuffled away, so ordering applies to projected columns.
        if q.order_by:
            sol = _order(sol, q.order_by)
    elif agg_mode and q.order_by:
        sol = _order(sol, q.order_by)
    return _slice(sol, q)


def _order(sol: DataFrame, keys: list[tuple[str, bool]]) -> DataFrame:
    cols = [F.expr(sql).asc() if asc else F.expr(sql).desc()
            for sql, asc in keys]
    return sol.orderBy(*cols)


def _slice(sol: DataFrame, q: ParsedQuery) -> DataFrame:
    if q.offset:
        sol = sol.offset(q.offset)
    if q.limit is not None:
        sol = sol.limit(q.limit)
    return sol
