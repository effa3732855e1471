"""Querying the constructed knowledge graph: SPARQL-style basic graph
patterns and typed-entity views.

The reference parser's whole purpose is to feed a triple store that is
then queried with SPARQL basic graph patterns (its README pipes the quad
stream into rdfjs stores; /root/reference/README.md:37-57).  These
operators close that loop Spark-first: a BGP is compiled into a
DataFrame join plan — each triple pattern is a constant-filtered scan of
the triples table, each shared variable an equi-join — so Catalyst does
what a SPARQL engine's optimizer would (join reordering, predicate
pushdown into parquet, broadcast of selective patterns) with zero custom
execution code.

Scale notes (100 TB / 10^12 pages → ~10^13 triples):
- Every pattern with a constant predicate prunes to one predicate's
  slice at the scan (`PushedFilters: [EqualTo(pred,...)]`); on the
  bucketed graph catalog (sources/catalog.py) a constant subject prunes
  to one bucket.
- Shared-variable joins are plain hash equi-joins; AQE handles hub-value
  skew (a `?x rdf:type schema:Article` pattern is huge, its join to a
  selective pattern gets broadcast by size at runtime).
- Solution multiplicity is SPARQL bag semantics over the *distinct*
  triple set — callers who materialized the graph without dedup should
  pass `triples.dropDuplicates()`; the compiled plan itself never
  introduces or removes duplicates, so a SQL mirror with the same joins
  is bit-identical.
- `entity_table` is one shuffle (groupBy subj) with an explicit pivot
  value list — no driver-side distinct-predicates pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Pattern = tuple[str, str, str]
# a named-graph-scoped pattern: (subject, predicate, object, graph) —
# the 4th term matches the quad table's ``graph`` column (SPARQL §13)
QuadPattern = tuple[str, str, str, str]
# Every group is a :class:`GroupSpec`.  Its constructor also takes
# nested entries in the flat tuple form ``(patterns, filters or None[,
# binds or None[, values or None]])`` and converts each to a GroupSpec,
# so bgp_match's keyword surface and the SPARQL parser build the same
# shape, which one evaluator (:func:`_eval_spec`) runs.

_XSD = "http://www.w3.org/2001/XMLSchema#"
_XSD_STRING = _XSD + "string"


@dataclass
class GroupSpec:
    """A recursive group graph pattern — the full bgp_match surface as
    a value and the one shape of a group, which the SPARQL parser
    builds directly: a query's or update's WHERE and every
    ``optionals`` / ``minus`` / ``exists`` / ``not_exists`` entry is
    one, so groups NEST: ``OPTIONAL { P1
    OPTIONAL { P2 } }``, ``OPTIONAL { {A} UNION {B} } }``, ``MINUS { P
    FILTER NOT EXISTS {...} }``.

    Evaluation is SPARQL bottom-up (§18.5): the spec compiles to its
    own solution relation (patterns and graph ranges → VALUES → BIND →
    OPTIONAL → MINUS → FILTER → EXISTS → relations), which the enclosing
    group then left/anti/semi joins.  ``union`` makes the spec a
    UNION node instead — the branch specs stack by variable name — and
    is exclusive with every other field except nothing (the SPARQL
    grammar makes UNION the entire group body).

    Join-key certainty: variables bound by the spec's required
    patterns are certain (never NULL); variables introduced under a
    nested OPTIONAL, bound in only some UNION branches, or minted by
    BIND/VALUES (NULL on error / UNDEF) are maybe-unbound.  When a
    shared variable is maybe-unbound — on the group side, the
    enclosing side, or BOTH — the enclosing join decomposes by
    bound-mask on each side into exact SPARQL §18.3 compatibility
    (:func:`_compat_join`): still pure equi/semi/anti joins, one
    partition per mask pair, merged per §18.3 (an unbound side takes
    the other side's value).  It raises only when the total mask
    fan-out would exceed 2^{_MASK_CAP} partitions — never silently
    computing non-SPARQL answers.

    ``relations`` holds pre-compiled solution relations joined INTO
    the spec's own solution (the §18.2 sub-SELECT composition, e.g. a
    ``{ SELECT ... }`` block inside an OPTIONAL/MINUS/EXISTS body):
    each entry is ``(thunk, certain, cols)`` — ``thunk(triples,
    meta_vars)`` yields the relation DataFrame lazily at evaluation
    time, with term-metadata companions for those of ``meta_vars`` it
    projects from a plain pattern (see :func:`_plain_bound`),
    ``certain`` the frozenset of its columns that are bound in every
    row, ``cols`` its full column tuple (used by composition guards
    without evaluating).  Relations join after the spec's own
    OPTIONAL/MINUS/FILTER/EXISTS (callers must guard that the orders
    commute), by the same §18.3-exact :func:`_compat_join`.  A spec
    may consist of relations only (``OPTIONAL { { SELECT ... } }``).

    ``graph_ranges`` names GRAPH variables that scoped no pattern
    (every contained pattern re-scoped by a nested GRAPH block): §13.3
    still ranges each over every graph name, so they join with the
    patterns, before every other member, with the distinct named-graph
    dimension (a broadcast join); they are certain (never NULL)."""
    patterns: "list[Pattern]" = field(default_factory=list)
    filters: "list[str]" = field(default_factory=list)
    binds: "list[tuple]" = field(default_factory=list)
    #: BINDs whose expressions reference OPTIONAL-introduced variables
    #: (or earlier late binds): applied AFTER the optionals join —
    #: the ``OPTIONAL {...} BIND(COALESCE(?x, d) AS ?y)`` idiom, where
    #: §18.2.2.6 puts the Extend after the LeftJoin it follows in
    #: syntax — and before MINUS / FILTER / EXISTS
    late_binds: "list[tuple]" = field(default_factory=list)
    values: "list[dict]" = field(default_factory=list)
    optionals: "list[GroupSpec]" = field(default_factory=list)
    minus: "list[GroupSpec]" = field(default_factory=list)
    exists: "list[GroupSpec]" = field(default_factory=list)
    not_exists: "list[GroupSpec]" = field(default_factory=list)
    union: "list[GroupSpec]" = field(default_factory=list)
    relations: list = field(default_factory=list)  # (thunk, certain, cols)
    graph_ranges: "list[str]" = field(default_factory=list)

    def __post_init__(self):
        # the group-shape rules, checked here once for every producer
        # (the SPARQL parser re-raises them as syntax errors).  None
        # reads as an empty member; a flat ``(patterns, filters[,
        # binds[, values]])`` nested entry becomes a GroupSpec.
        for f in fields(self):
            members = getattr(self, f.name) or []
            if f.name in ("optionals", "minus", "exists", "not_exists"):
                members = [e if isinstance(e, GroupSpec) else GroupSpec(
                    **dict(zip(("patterns", "filters", "binds", "values"),
                               e))) for e in members]
            setattr(self, f.name, members)
        if self.union and any(getattr(self, f.name) for f in fields(self)
                              if f.name != "union"):
            raise ValueError(
                "a UNION GroupSpec holds only its branches — SPARQL "
                "makes UNION the entire group body")
        if not self.union and not self.patterns and not self.relations:
            raise ValueError(
                "empty group pattern — a group needs at least one "
                "triple pattern, sub-SELECT or UNION branch")
        if self.relations and not self.patterns and (
                self.binds or self.late_binds or self.values
                or self.optionals
                or self.minus or self.exists or self.not_exists):
            raise ValueError(
                "a group whose only relation is a sub-SELECT supports "
                "FILTER only — BIND/VALUES/OPTIONAL/MINUS/EXISTS need a "
                "triple pattern of the group's own to anchor join order "
                "(§18.2); add one or compose at the DataFrame level")


def _pattern_vars(patterns) -> set:
    """Variables bound by a list of (quad) patterns — required
    bindings, so never NULL in the compiled solution."""
    out = set()
    for pat in patterns:
        for t in pat:
            if _is_var(t):
                out.add(t[1:])
    return out


def _plain_bound(spec: GroupSpec) -> set[str]:
    """Variables that can carry term-metadata companions out of a
    group: those a plain (non-path) pattern or a sub-SELECT projection
    binds, in the group itself or in a UNION branch, less any a branch
    binds by property paths alone (path endpoints carry no metadata).
    A sub-SELECT relation keeps companions only for what its own group
    binds plainly, so a projection counts here and is checked there."""
    plain, path_only, todo = set(), set(), [spec]
    while todo:
        g = todo.pop()
        todo += g.union
        bound = _pattern_vars(p for p in g.patterns if isinstance(p[1], str))
        bound |= {c for _thunk, _cert, cols in g.relations for c in cols}
        plain |= bound
        path_only |= _pattern_vars(g.patterns) - bound
    return plain - path_only


def _certain_vars(spec: GroupSpec) -> set:
    """Variables bound in EVERY solution of a group (valid equi-join
    keys).  Conservative: BIND / VALUES variables are excluded (NULL on
    expression error / UNDEF row), nested-OPTIONAL variables are
    excluded, and a UNION is the intersection of its branches."""
    if spec.union:
        sets = [_certain_vars(b) for b in spec.union]
        out = sets[0]
        for s in sets[1:]:
            out &= s
        return out
    # relations are inner-joined into the spec's solution and graph
    # ranges inner-joined with non-NULL names, so both are certain too
    out = _pattern_vars(spec.patterns) | set(spec.graph_ranges)
    for _thunk, cert, _cols in spec.relations:
        out |= set(cert)
    return out


@dataclass(frozen=True)
class Lit:
    """A literal CONSTANT.  In a pattern's object position it matches
    on lexical form AND term metadata (SPARQL simple-entailment term
    equality), unlike a bare string term, which keeps the engine-wide
    lexical-value identity; in a CONSTRUCT/update template or a DATA
    row it is the literal instantiated (:func:`bgp_construct`).

    ``Lit("chat", lang="fr")`` ≙ ``"chat"@fr`` and
    ``Lit("5", datatype=XSD+"integer")`` ≙ ``"5"^^xsd:integer``.
    A plain ``Lit("x")`` is the simple literal ``"x"`` (matches a NULL
    or explicit xsd:string datatype, no language tag).  Language tags
    compare case-insensitively (RDF 1.1 lowercases them; the kernel
    does too, kernel/util.py literal creation).  Requires the full term
    schema (``obj_kind/obj_lang/obj_datatype``)."""
    lex: str
    lang: "str | None" = None
    datatype: "str | None" = None


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def node_kind(value):
    """The kind of a term known only by its value, which is not a
    literal: ``_:`` prefix → ``bnode``, else ``iri`` (the engine's
    skolemized-bnode convention)."""
    return F.when(value.startswith("_:"), F.lit("bnode")).otherwise("iri")


def _literal_filter(df: DataFrame, col: str, lit: Lit) -> DataFrame:
    """Push a :class:`Lit` constant as a metadata-exact scan filter."""
    if col != "obj_value":
        raise ValueError(
            f"literal constant {lit.lex!r} in the "
            f"{'graph' if col == 'graph' else col} position — RDF "
            "literals are only legal as objects")
    for need in ("obj_kind", "obj_lang", "obj_datatype"):
        if need not in df.columns:
            raise ValueError(
                f"typed/tagged literal constant {lit.lex!r} needs the "
                f"full term schema, but the table has no {need!r} "
                "column — match the bare lexical form instead")
    cond = ((F.col("obj_value") == lit.lex)
            & (F.col("obj_kind") == "literal"))
    if lit.lang:
        # rdf:langString: the tag compares case-insensitively and the
        # datatype column is redundant (NULL or rdf:langString)
        cond &= F.lower(F.col("obj_lang")) == lit.lang.lower()
    else:
        cond &= F.col("obj_lang").isNull()
        if lit.datatype is None or lit.datatype == _XSD_STRING:
            # "x" and "x"^^xsd:string are the same RDF 1.1 term; the
            # engine stores the default datatype as NULL but imported
            # quad dumps may carry it explicitly
            cond &= (F.col("obj_datatype").isNull()
                     | (F.col("obj_datatype") == _XSD_STRING))
        else:
            cond &= F.col("obj_datatype") == lit.datatype
    return df.filter(cond)


#: companion-column suffixes attached for ``meta_vars`` bindings
META_SUFFIXES = ("__kind", "__lang", "__dt")

#: the full seven-column RDF term schema every graph table carries —
#: the single definition (update/entailment/resolution import it)
TERM_COLS = ("subj", "subj_kind", "pred", "obj_value", "obj_kind",
             "obj_datatype", "obj_lang")


def _meta_exprs(triples: DataFrame, var: str, col: str) -> list:
    """Companion term-metadata expressions for a variable first bound
    from position column ``col``: ``{var}__kind`` (iri/bnode/literal),
    ``{var}__lang`` (BCP47 tag or NULL), ``{var}__dt`` (datatype IRI or
    NULL — NULL means the SPARQL default: xsd:string, or rdf:langString
    when a language tag is present)."""
    cols = set(triples.columns)
    if col == "obj_value":
        for need in ("obj_kind", "obj_lang", "obj_datatype"):
            if need not in cols:
                raise ValueError(
                    f"term metadata requested for ?{var} bound in object "
                    f"position, but the triple table has no {need!r} "
                    "column — metadata builtins need the full term "
                    "schema (subj, pred, obj_value, obj_kind, "
                    "obj_datatype, obj_lang)")
        return [F.col("obj_kind").alias(f"{var}__kind"),
                F.col("obj_lang").alias(f"{var}__lang"),
                F.col("obj_datatype").alias(f"{var}__dt")]
    if col == "subj":
        kind = (F.col("subj_kind") if "subj_kind" in cols
                else node_kind(F.col("subj")))
        return [kind.alias(f"{var}__kind"),
                F.lit(None).cast("string").alias(f"{var}__lang"),
                F.lit(None).cast("string").alias(f"{var}__dt")]
    if col == "pred":
        return [F.lit("iri").alias(f"{var}__kind"),
                F.lit(None).cast("string").alias(f"{var}__lang"),
                F.lit(None).cast("string").alias(f"{var}__dt")]
    if col == "graph":
        # graph names are IRIs (page urls); an N-Quads-sourced table
        # may label graphs with bnodes and says so via graph_kind
        kind = (F.col("graph_kind") if "graph_kind" in cols
                else F.lit("iri"))
        return [kind.alias(f"{var}__kind"),
                F.lit(None).cast("string").alias(f"{var}__lang"),
                F.lit(None).cast("string").alias(f"{var}__dt")]
    raise ValueError(
        f"term metadata requested for ?{var}, but the variable binds a "
        "property-path endpoint — the path engine computes bare node "
        "pairs without term metadata; bind the variable in a plain "
        "triple pattern instead")


def _compile_group(triples: DataFrame, patterns: list[Pattern],
                   constant_only_ok: bool = False,
                   meta_vars: "frozenset[str] | set[str]" = frozenset()
                   ) -> DataFrame:
    from rdfa_streaming_parser_js_spark.operators.paths import (
        PathExpr, inv, path_pairs)

    solution: DataFrame | None = None
    gates: list[DataFrame] = []  # fully-constant patterns
    meta_done: set[str] = set()  # meta vars already given companions
    for pat in patterns:
        if len(pat) == 4:  # graph-scoped quad pattern (SPARQL §13)
            s, p, o, g = pat
            if "graph" not in triples.columns:
                raise ValueError(
                    "graph-scoped pattern over a table with no 'graph' "
                    "column — query a quads table (e.g. extraction with "
                    "url aliased to graph, or parse_nquads_lines output)")
        else:
            (s, p, o), g = pat, None
        if isinstance(p, PathExpr):
            # property-path pattern: endpoints bind against the
            # (a, b) pairs the path engine computes.  A constant
            # endpoint seeds the evaluation (frontier BFS from the
            # bound term) instead of materializing the graph-wide
            # closure — object-bound paths run inverted and flip.
            if isinstance(s, Lit) or isinstance(o, Lit):
                raise ValueError(
                    "typed/tagged literal constants cannot be property-"
                    "path endpoints — the path engine computes bare "
                    "node pairs without term metadata; match the bare "
                    "lexical form or bind a variable and FILTER on its "
                    "companion columns instead")
            src = triples
            graph_var = g is not None and _is_var(g)
            if g is not None and not graph_var:
                # constant graph: pre-filter the edge table — the whole
                # path (closure included) evaluates within that graph
                src = triples.filter(F.col("graph") == g)
            graphs = None
            if graph_var:
                # GRAPH ?var: a path never crosses graph boundaries, so
                # per-graph evaluation = ONE evaluation over node ids
                # prefixed with their graph ("<g>\x1f<node>") — edges
                # only ever connect same-prefix nodes, closures stay
                # inside their graph, and the prefix splits back out
                # afterwards to bind ?var.  Sound because graph names
                # are IRIs and IRIs exclude control characters
                # (RFC 3987), so the FIRST 0x1f is always the boundary
                # even when a literal endpoint contains 0x1f.
                named = src.filter(F.col("graph").isNotNull())

                def _pref(c):
                    return F.concat(F.col("graph"), F.lit("\x1f"),
                                    F.col(c))
                graphs = named.select("graph").distinct()
                src = named.select(_pref("subj").alias("subj"), "pred",
                                   _pref("obj_value").alias("obj_value"))
            spark = triples.sparkSession

            def _seed(term):
                if graph_var:
                    # the bound endpoint seeds once PER NAMED GRAPH;
                    # graphs not containing it die at the first join
                    return graphs.select(
                        F.concat(F.col("graph"), F.lit("\x1f"),
                                 F.lit(term)).alias("a"))
                return spark.createDataFrame([(term,)], "a string")
            if not _is_var(s):
                part = path_pairs(src, p, seeds=_seed(s))
            elif not _is_var(o):
                part = (path_pairs(src, inv(p), seeds=_seed(o))
                        .select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
            else:
                part = path_pairs(src, p)
            terms = ((s, "a"), (o, "b"))
            if graph_var:
                gcol = F.substring_index(F.col("a"), "\x1f", 1)
                part = part.select(
                    gcol.alias("graph"),
                    F.col("a").substr(F.length(gcol) + F.lit(2),
                                      F.length(F.col("a"))).alias("a"),
                    F.col("b").substr(F.length(gcol) + F.lit(2),
                                      F.length(F.col("b"))).alias("b"))
                terms += ((g, "graph"),)
        else:
            part = triples
            terms = ((s, "subj"), (p, "pred"), (o, "obj_value"))
            if g is not None:
                terms += ((g, "graph"),)
        bound: dict[str, str] = {}  # var name -> source column
        for term, col in terms:
            if _is_var(term):
                name = term[1:]
                if name in bound:  # repeated var inside the pattern
                    part = part.filter(F.col(col) == F.col(bound[name]))
                else:
                    bound[name] = col
            elif isinstance(term, Lit):
                part = _literal_filter(part, col, term)
            else:
                part = part.filter(F.col(col) == term)
        if not bound:
            # fully-constant pattern (legal SPARQL — SPARQL 1.1 §5.1):
            # an existence constraint on the whole group.  Compiled to
            # a 1-or-0-row gate cross-joined in at the end: present →
            # solutions unchanged, absent → empty.  The limit(1) keeps
            # the probe a pushed-filter scan that stops at first match.
            gates.append(part.limit(1).select(F.lit(1).alias("_gate")))
            continue
        meta_cols: list = []
        for v, c in bound.items():
            # path endpoints ("a"/"b") carry no term metadata; a later
            # plain-pattern binding of the same variable supplies it
            if v in meta_vars and v not in meta_done and c not in ("a",
                                                                   "b"):
                meta_cols.extend(_meta_exprs(triples, v, c))
                meta_done.add(v)
        part = part.select(
            *[F.col(c).alias(v) for v, c in bound.items()], *meta_cols)
        if solution is None:
            solution = part
        else:
            shared = [v for v in part.columns if v in solution.columns]
            solution = (solution.join(part, on=shared, how="inner")
                        if shared else solution.crossJoin(part))
    if solution is None:
        if constant_only_ok:
            # EXISTS/NOT EXISTS callers: a constant-only group is a
            # legitimate global probe — combine the per-pattern gates
            # into one 1-row-iff-all-present frame (column ``_gate``).
            probe = gates[0]
            for g in gates[1:]:
                probe = probe.crossJoin(
                    g.select(F.col("_gate").alias("_g2"))).drop("_g2")
            return probe
        raise ValueError(
            "group binds no variable (all patterns constant) — there is "
            "no solution relation to return; probe existence with "
            "bgp_ask/an aggregate over a variable pattern instead")
    for gate in gates:
        solution = solution.crossJoin(F.broadcast(gate)).drop("_gate")
    for v in meta_vars:
        if v in solution.columns and v not in meta_done:
            _meta_exprs(triples, v, "a")  # raises: bound by paths only
    return solution


def _join_values(solution: DataFrame,
                 rows: "list[dict[str, str | None]]") -> DataFrame:
    """SPARQL VALUES: join an inline multiset of partial bindings into
    the solution (SPARQL 1.1 §10.2 ``Join(Ω, data)``).

    ``None`` is UNDEF.  Rows are grouped by their defined-variable mask;
    each mask group is a tiny literal DataFrame broadcast-joined on the
    variables the solution already binds (required bindings are never
    NULL, so the equi-join IS SPARQL compatibility).  Variables the
    solution does not bind become new columns; variables a row leaves
    UNDEF surface as NULL.  Duplicate rows multiply, per bag semantics.

    Each mask group's branch re-references the solution plan (one
    branch per distinct UNDEF shape — almost always one); over an
    expensive group, materialize the triples input first (the gated
    queries read the checkpointed extraction cut, so a re-reference is
    a cheap cached scan).

    A :class:`Lit` value (tagged/typed literal) constrains the
    variable as an RDF TERM — lexical form AND kind/language/datatype
    via the variable's metadata companion columns (the variable must
    be bound with ``meta_vars`` and may not be VALUES-extended; the
    SPARQL front-end arranges both).  The companion comparisons ride
    in the same broadcast join as extra null-safe equi-keys.
    """
    spark = solution.sparkSession
    all_vars = sorted({v for r in rows for v in r})
    sol_cols = set(solution.columns)
    by_mask: dict[tuple, list] = {}
    for r in rows:
        key = tuple(sorted((k, isinstance(r[k], Lit))
                           for k in r if r[k] is not None))
        by_mask.setdefault(key, []).append(r)
    out: DataFrame | None = None
    for key, rws in by_mask.items():
        mask = [k for k, _ in key]
        lit_vars = [k for k, is_lit in key if is_lit]
        for v in lit_vars:
            if v not in sol_cols:
                raise ValueError(
                    f"tagged/typed literal for ?{v} in VALUES, but the "
                    "group does not bind it — term-exact VALUES can "
                    "only CONSTRAIN a bound variable (extend with the "
                    "bare lexical form and FILTER instead)")
            if f"{v}__kind" not in sol_cols:
                raise ValueError(
                    f"tagged/typed literal for ?{v} in VALUES needs "
                    f"its term-metadata companions — pass "
                    f"meta_vars={{{v!r}}} to bgp_match")
        # the trailing literal keeps an all-UNDEF mask a valid 1-column
        # frame (pure multiplicity row, joins everything); Lit columns
        # carry their normalized tag/datatype as companion keys
        fields, datarows = [], []
        for v in mask:
            fields.append(f"`{v}` string")
            if v in lit_vars:
                fields += [f"`__{v}_lang` string", f"`__{v}_dt` string"]
        for r in rws:
            row = []
            for v in mask:
                x = r[v]
                if isinstance(x, Lit):
                    row += [x.lex,
                            x.lang.lower() if x.lang else None,
                            None if x.datatype in (None, _XSD_STRING)
                            else x.datatype]
                else:
                    row.append(x)
            datarows.append(tuple(row) + (1,))
        schema = ", ".join(fields + ["`_undef` int"])
        data = F.broadcast(spark.createDataFrame(datarows, schema))
        shared = [v for v in mask if v in sol_cols
                  and v not in lit_vars]
        if lit_vars:
            d = data.alias("_vdata")
            s = solution.alias("_vsol")
            cond = F.lit(True)
            for v in shared:
                cond &= F.col(f"_vsol.{v}") == F.col(f"_vdata.{v}")
            for v in lit_vars:
                dlang = F.col(f"_vdata.__{v}_lang")
                cond &= (
                    (F.col(f"_vsol.{v}") == F.col(f"_vdata.{v}"))
                    & (F.col(f"_vsol.{v}__kind") == "literal")
                    & F.lower(F.col(f"_vsol.{v}__lang"))
                    .eqNullSafe(dlang)
                    & (dlang.isNotNull()
                       | (F.coalesce(F.col(f"_vsol.{v}__dt"),
                                     F.lit(_XSD_STRING))
                          == F.coalesce(F.col(f"_vdata.__{v}_dt"),
                                        F.lit(_XSD_STRING)))))
            part = s.join(d, on=cond, how="inner")
            dropped = (list(mask)
                       + [c for v in lit_vars
                          for c in (f"__{v}_lang", f"__{v}_dt")])
            part = part.drop(*[d[c] for c in set(dropped)
                               if c in data.columns])
        else:
            part = (solution.join(data, on=shared, how="inner")
                    if shared else solution.crossJoin(data))
        part = part.drop("_undef")
        for v in all_vars:
            if v not in part.columns:
                part = part.withColumn(v, F.lit(None).cast("string"))
        out = part if out is None else out.unionByName(part)
    return out


# Sentinel lex_sql for a zero-arg BNODE() constructor: the label is a
# function of the WHOLE solution row (plus an index among identical
# rows), not of any single expression, so it cannot be a plain SQL
# string — _apply_bind special-cases it.
BNODE_FRESH_SENTINEL = "__bnode_fresh__"

#: SQL result type → the datatype of the literal a BIND computes
_SQL_XSD = {"double": _XSD + "double", "decimal": _XSD + "decimal",
            **{t: _XSD + "integer"
               for t in ("byte", "short", "integer", "long")}}


def _apply_bind(solution: DataFrame, var: str, expr) -> DataFrame:
    """One SPARQL BIND (``Extend``): ``expr`` is a SQL string, or a
    ``(lex_sql, kind, datatype, lang)`` 4-tuple for the term
    constructors (IRI/STRDT/STRLANG/BNODE) and the computed literals
    (a string function or arithmetic) — those mint the variable's
    term-metadata companion columns alongside the value, so LANG /
    DATATYPE / isIRI / SAMETERM and CONSTRUCT's metadata-faithful
    instantiation work on constructed terms exactly as on matched
    ones.  A literal with neither datatype nor language takes its
    datatype from the SQL result type: DOUBLE → xsd:double, DECIMAL →
    xsd:decimal, integral → xsd:integer, a string → none (a simple
    literal).  Companions are NULL where the value expression is NULL
    (an error in SPARQL leaves the variable unbound).

    ``lex_sql == BNODE_FRESH_SENTINEL`` is zero-arg ``BNODE()``
    (§17.4.2.9 fresh blank node per solution): the label is
    ``sha2`` of the ENTIRE row plus a ``row_number`` among identical
    rows — distinct rows get distinct labels, duplicate rows get
    distinct labels too, and the OUTPUT MULTISET is deterministic
    under re-evaluation/retry (rows inside one window partition are
    identical, so any tie-break yields the same (row, label)
    multiset).  Costs one Exchange on the full row key; the '_:fr'
    prefix keeps fresh labels disjoint from extractor ('_:b…'/'_:g…')
    and skolem-constructor ('_:fn…') labels."""
    if var in solution.columns:
        raise ValueError(
            f"BIND would rebind ?{var} — the variable is already "
            "in scope (SPARQL grammar note 12 forbids this)")
    if not isinstance(expr, tuple):
        return solution.withColumn(var, F.expr(expr))
    lex_sql, knd, dt, lang = expr
    if lex_sql == BNODE_FRESH_SENTINEL:
        from pyspark.sql import Window
        cols = solution.columns
        fp = F.sha2(F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"),
                                 F.lit("\x00")) for c in cols]), 256)
        idx = F.row_number().over(
            Window.partitionBy(*cols).orderBy(F.lit(1)))
        solution = solution.withColumn(
            var, F.concat(F.lit("_:fr"), F.substring(fp, 1, 32),
                          F.lit("_"), idx.cast("string")))
    else:
        solution = solution.withColumn(var, F.expr(lex_sql))
    if knd == "literal" and dt is None and lang is None:
        dt = _SQL_XSD.get(solution.schema[var].dataType.typeName())
    bound = F.col(var).isNotNull()
    meta = {"__kind": knd, "__dt": dt, "__lang": lang}
    for sfx, val in meta.items():
        solution = solution.withColumn(
            f"{var}{sfx}",
            F.when(bound, F.lit(val)).cast("string"))
    return solution


def bgp_match(triples: DataFrame, patterns: list[Pattern],
              select: list[str] | None = None,
              filters: list[str] | None = None,
              optionals: "list | None" = None,
              minus: "list | None" = None,
              values: "list[dict[str, str | None]] | None" = None,
              binds: "list[tuple[str, str]] | None" = None,
              late_binds: "list[tuple[str, str]] | None" = None,
              exists: "list | None" = None,
              not_exists: "list | None" = None,
              meta_vars: "frozenset[str] | set[str]" = frozenset()
              ) -> DataFrame:
    """Compile a basic graph pattern into a DataFrame join plan.

    Each pattern is a ``(subject, predicate, object)`` triple of terms;
    a term starting with ``?`` is a variable, anything else a constant
    matched against ``subj`` / ``pred`` / ``obj_value``.  A bare string
    constant matches the LEXICAL value (the engine-wide identity); a
    :class:`Lit` object constant additionally matches kind / language /
    datatype (exact SPARQL term equality for ``"chat"@fr`` /
    ``"5"^^xsd:integer`` constants) and needs the full term schema.
    Returns one
    row per solution mapping with one column per variable (SPARQL bag
    semantics over the input's multiplicity).  ``select`` optionally
    projects/orders the output variables.

    A variable repeated *within* one pattern constrains both positions
    to be equal (e.g. ``("?x", "ex:knows", "?x")`` finds self-loops).

    A fully-constant pattern (no variable at all) is an existence
    constraint on the group: solutions pass through unchanged when the
    triple is present and the group is empty when it is not.  A group
    consisting ONLY of constant patterns raises — there is no solution
    relation to return (use an aggregate/ASK-style probe instead).

    A pattern's predicate may also be a ``operators.paths.PathExpr``
    (SPARQL property path): the pattern then matches the path's
    endpoint pairs, e.g. ``("?list", seq(star(link(RDF_REST)),
    link(RDF_FIRST)), "?member")``.

    **Named graphs (SPARQL §13)**: a 4-tuple pattern ``(s, p, o, g)``
    scopes the match to a graph — the 4th term binds or filters the
    quad table's ``graph`` column exactly like any other position (a
    constant graph is a pushed scan filter; a shared ``?g`` across
    patterns is an equi-join, i.e. ``GRAPH ?g { ... }``).  3-tuple
    patterns over a quads table match across ALL graphs (the pragmatic
    union-default-graph dataset) with the table's own multiplicity —
    pre-dedup on the term columns for RDF-merge set semantics.  A
    property-path pattern under a CONSTANT graph pre-filters the edge
    table (the closure evaluates within that graph); under a VARIABLE
    graph the node ids are prefixed with their graph name for one
    pooled evaluation (paths cannot cross graphs, so prefixed ids
    partition the closure per graph) and the prefix splits back out to
    bind the variable.

    ``filters``: SPARQL FILTER — SQL boolean expressions over the
    variable columns (e.g. ``"CAST(wc AS BIGINT) > 50"``), applied to
    the required group.  Catalyst pushes each conjunct as far down the
    join tree as its variables allow — a single-variable filter lands
    on that pattern's scan, exactly where a SPARQL optimizer would put
    it.

    ``optionals``: SPARQL OPTIONAL — each ``(patterns, filters)`` group
    is compiled like the required group (its filters apply *inside* the
    group, per SPARQL left-join semantics) and then LEFT-joined on the
    variables shared with the required solution: non-matching solutions
    keep NULL for the group's new variables.

    ``minus``: SPARQL MINUS — each ``(patterns, filters)`` group is
    compiled the same way and the solutions compatible with it on their
    shared variables are REMOVED (a left-anti join — Catalyst plans the
    same broadcast/shuffled anti hash join it uses for NOT IN).  Per
    SPARQL §8.3.3, a MINUS group sharing no variable with the required
    group removes nothing (the anti join would wrongly delete
    everything, so it is skipped).

    ``values``: SPARQL VALUES — an inline multiset of partial bindings
    (``[{"lang": "en", "label": "English"}, {"lang": "de",
    "label": None}]``; ``None`` = UNDEF) joined into the REQUIRED group
    (``Join(Ω, data)``, §10.2) before OPTIONAL/MINUS, so compatibility
    is decided on required variables (always bound — the broadcast
    equi-join is exact).  Variables the group does not bind become new
    output columns; UNDEF positions surface as NULL; duplicate rows
    multiply (bag semantics).

    ``binds``: SPARQL BIND — ``(var, sql_expr)`` assignments evaluated
    in order against the required solution (after FILTER and VALUES,
    before OPTIONAL/MINUS), each extending every solution with a new
    column (``Extend(Ω, var, expr)``, §18.4).  Rebinding an in-scope
    variable raises, per the SPARQL grammar constraint; later binds may
    reference earlier ones.  Pure projection — Catalyst folds the
    expressions into the surrounding stage, no shuffle.  An entry may
    instead carry a ``(lex_sql, kind, datatype, lang)`` 4-tuple — the
    term-constructor form (IRI / STRDT / STRLANG): the variable gets
    term-metadata companion columns minted alongside the value, so the
    introspection builtins and metadata-faithful CONSTRUCT see the
    constructed term's kind/datatype/language.

    ``late_binds``: BINDs applied AFTER the optionals join (and before
    MINUS / FILTER / EXISTS) — for expressions referencing
    OPTIONAL-introduced variables, where §18.2.2.6 puts the Extend
    after the LeftJoin it follows in syntax (the ``OPTIONAL {...}
    BIND(COALESCE(?x, d) AS ?y)`` idiom).  Same entry forms as
    ``binds``.

    ``optionals`` / ``minus`` / ``exists`` / ``not_exists`` entries
    are :class:`GroupSpec` values — groups that may themselves nest
    OPTIONAL / MINUS / EXISTS / UNION, evaluated bottom-up by
    recursion — or flat tuples ``(patterns, filters[, binds[,
    values]])``, with BIND / VALUES scoped INSIDE the group.  Each
    tuple becomes a GroupSpec when the group is built, so a flat
    group and a nested one are evaluated the same way (the group's
    filters apply after its BIND / VALUES, mirroring the enclosing
    group's member order).  Shared variables bound in every
    group solution (:func:`_certain_vars`) equi-join directly; shared
    variables that may be UNBOUND — in the group, in the enclosing
    solution, or both — decompose by bound-mask pairs into exact
    SPARQL §18.3 compatibility (unbound matches anything; an unbound
    side takes the other side's value — see :func:`_compat_join`);
    only a mask fan-out beyond 2^4 partitions raises.

    ``exists`` / ``not_exists``: SPARQL FILTER (NOT) EXISTS — each
    ``(patterns, filters)`` group keeps (removes) the solutions that
    some group solution agrees with on the shared variables: a semi
    (anti) join, so output multiplicities never change.  Applied AFTER
    OPTIONAL/MINUS, per FILTER placement.  Unlike ``minus``, a group
    sharing no variable — a constant-only group included — acts as a
    GLOBAL probe: ``exists`` keeps all solutions iff the group matches
    at all, ``not_exists`` empties the result iff it does (the §8.3.3
    case where NOT EXISTS and MINUS differ).  Correlation through a
    maybe-unbound ENCLOSING variable (an OPTIONAL / partial-UNION /
    BIND / VALUES binding) is exact SPARQL §8.1.1 substitution
    semantics: a row that binds the variable correlates on it, a row
    that leaves it unbound leaves it FREE in the group (it constrains
    nothing for that row) — decomposed by bound-mask in
    :func:`_compat_join`, capped at 2^4 partitions.  A shared
    variable maybe-unbound in the GROUP's own solutions still raises
    (substitution and compatibility genuinely diverge there — bind it
    in the group's required patterns).

    ``meta_vars``: variable names whose bindings should carry RDF term
    metadata as companion columns ``{var}__kind`` (iri/bnode/literal),
    ``{var}__lang``, ``{var}__dt`` (NULL datatype = the SPARQL default
    — xsd:string, or rdf:langString with a language tag), taken from
    the position the variable FIRST binds in.  This is what SPARQL's
    term-introspection builtins (``LANG``, ``DATATYPE``, ``isIRI``,
    ``isBlank``, ``isLiteral``, ``isNumeric``) compile onto — filters
    and binds may reference the companion columns directly.  Requires
    the full term schema for object-position bindings; a variable bound
    only by property-path endpoints carries no metadata and raises.
    Companion columns ride along in the output — project with
    ``select`` to drop them.  Variable compatibility (joins, OPTIONAL,
    MINUS, EXISTS) stays on the lexical value alone, the engine-wide
    identity documented above; companion columns never join.
    """
    if not patterns:
        raise ValueError("bgp_match requires at least one pattern")
    spec = GroupSpec(patterns=patterns, filters=filters, binds=binds,
                     late_binds=late_binds, values=values,
                     optionals=optionals, minus=minus, exists=exists,
                     not_exists=not_exists)
    solution = _eval_spec(triples, spec, frozenset(meta_vars))
    return solution.select(*select) if select else solution


def _check_join_keys(kind: str, unc_g: list) -> None:
    """Raise when an EXISTS group shares a variable its own solutions
    may leave unbound.  EXISTS is SUBSTITUTION (§8.1.1), not
    compatibility: the group's solution relation is not sufficient
    evidence (a substituted OPTIONAL can never fail the group), so
    masking the group side would pick one of two non-equivalent
    readings silently.  Enclosing-side unboundness is exact under
    substitution (:func:`_compat_join`)."""
    if unc_g:
        raise ValueError(
            f"{kind} group shares variable(s) {sorted(unc_g)} with the "
            "enclosing solution, but they are not bound in every group "
            "solution (nested OPTIONAL / partial UNION branch / BIND / "
            "VALUES) — an unbound variable is compatible with anything "
            "(SPARQL §18.3), which an equi-join cannot express; bind "
            "them in the group's required patterns or rename")


_MASK_CAP = 4  # ≤ 2^4 mask-pair partitions; beyond this the plan
               # fans out too far — bind vars in required patterns


def _check_fan_out(kind: str, unc_s: list, unc_g: list) -> None:
    """Raise when the bound-mask decomposition over the maybe-unbound
    shared variables of the enclosing solution (``unc_s``) and of the
    group (``unc_g``) would fan out beyond 2^_MASK_CAP partitions."""
    if len(unc_s) + len(unc_g) > _MASK_CAP:
        raise ValueError(
            f"{kind} group shares {len(unc_s) + len(unc_g)} "
            f"maybe-unbound variable sides (enclosing {sorted(unc_s)}, "
            f"group {sorted(unc_g)}) — the bound-mask decomposition "
            f"fans out 2^k joins and is capped at k={_MASK_CAP}; bind "
            "some in required patterns or rename")


def _masks(df: DataFrame, uncertain: list):
    """Yield ``(nulls, part)`` for every bound-mask over ``uncertain``
    columns: the rows where exactly the ``nulls`` subset is NULL.
    Partitions are disjoint, so bag multiplicities add up exactly
    once."""
    for bits in range(2 ** len(uncertain)):
        nulls = [v for i, v in enumerate(uncertain) if bits >> i & 1]
        part = df
        for v in uncertain:
            part = part.filter(F.col(v).isNull() if v in nulls
                               else F.col(v).isNotNull())
        yield nulls, part


_KIND = {"inner": "sub-SELECT", "left": "OPTIONAL", "minus": "MINUS",
         "left_semi": "EXISTS", "left_anti": "NOT EXISTS"}


def _compat_join(solution: DataFrame, group: DataFrame, how: str,
                 certain_s, certain_g) -> DataFrame:
    """Join a nested group's solutions into ``solution`` with exact
    SPARQL semantics; ``how`` names the operator:

    - ``inner``: Join (§18.3), the §18.2 sub-SELECT composition;
    - ``left``: LeftJoin, OPTIONAL — the inner join plus the Diff: the
      solutions no group row is compatible with, NULL-extended;
    - ``minus``: Minus (§18.5) removes a solution iff some group row is
      compatible AND shares a bound variable with it, so a mask pair
      with no key removes nothing (the §8.3.3 disjoint-domain rule);
    - ``left_semi`` / ``left_anti``: FILTER EXISTS / NOT EXISTS, which
      substitute the row's bindings into the group (§8.1.1, §18.6): a
      variable the row leaves unbound stays FREE in the group, so a
      pair with no key is a global non-emptiness probe of the group.
      Group-side unboundness raises (:func:`_check_join_keys`).

    ``certain_s`` / ``certain_g`` name the variables bound in every row
    of each side.  A shared variable outside them may be unbound (an
    OPTIONAL / partial-UNION / BIND / VALUES binding) and partitions
    its side by bound mask (:func:`_masks`).  Each mask pair joins on
    the variables bound on both sides (an unbound variable constrains
    nothing); a variable bound on one side takes that side's value and
    one bound on neither stays NULL.  Partitions are disjoint, so bag
    multiplicities add up exactly once, and every join is an equi,
    semi or anti join.  With no maybe-unbound shared variable there is
    one mask pair: one plain join, no Union, no checkpoint.  The mask
    fan-out is capped by :func:`_check_fan_out`."""
    kind = _KIND[how]
    shared = [v for v in group.columns if v in solution.columns
              and v != "_gate" and not v.endswith(META_SUFFIXES)]
    if how == "left" and not shared:
        raise ValueError(
            "OPTIONAL group shares no variable with the required "
            f"group: {group.columns}")
    unc_s = [v for v in shared if v not in certain_s]
    unc_g = [v for v in shared if v not in certain_g]
    if how in ("left_semi", "left_anti"):
        _check_join_keys(kind, unc_g)
    _check_fan_out(kind, unc_s, unc_g)
    merge = how in ("inner", "left")
    # against one group mask a left join is one left join per solution
    # mask; against several, their inner joins plus the Diff, which
    # anti-joins each solution mask with every group mask like MINUS
    diff = how == "left" and bool(unc_g)
    filtering = not merge or diff
    filt = how if how in ("left_semi", "left_anti") else "left_anti"
    # A side that more than one partition plan reads is checkpointed
    # once (tracked: release_tracked() frees it) instead of being
    # re-evaluated per read.  Every mask pair reads the group; a
    # merging join's pairs read the solution too, while a filtering
    # join chains the group masks onto one read per solution mask.
    n_s, n_g = 2 ** len(unc_s), 2 ** len(unc_g)
    if n_s * n_g > 1:
        from rdfa_streaming_parser_js_spark.operators.storage import (
            checkpoint, track)
        if merge or n_s > 1:
            solution = track(checkpoint(solution))
        group = track(checkpoint(group))
    parts = []
    for s_nulls, sol_s in _masks(solution, unc_s):
        kept = sol_s
        for g_nulls, grp_g in _masks(group, unc_g):
            keys = [v for v in shared if v not in s_nulls + g_nulls]
            if merge:
                left = sol_s.drop(*[v for v in s_nulls if v not in g_nulls])
                parts.append(left.join(grp_g.drop(*g_nulls), keys or None,
                                       "inner" if diff else how))
            if filtering and keys:
                kept = kept.join(grp_g.select(*keys), keys, filt)
            elif filtering and how != "minus":
                gate = grp_g.limit(1).select(F.lit(1).alias("_exists"))
                kept = kept.join(F.broadcast(gate), F.lit(True), filt)
        if filtering:
            parts.append(kept)
    return bgp_union(*parts)


def _eval_spec(triples: DataFrame, spec: GroupSpec,
               meta_vars: frozenset,
               constant_only_ok: bool = False) -> DataFrame:
    """Evaluate one :class:`GroupSpec` bottom-up (SPARQL §18.5), in
    the member order patterns and graph ranges → VALUES → BIND →
    OPTIONAL → MINUS → FILTER → EXISTS/NOT EXISTS → relations.  This is
    the one group evaluator: a query's WHERE and every nested group
    run through it.  Group FILTERs apply to the WHOLE group solution
    (SPARQL §8.3) — after VALUES/BIND/OPTIONAL/MINUS — so expressions
    may reference optionally-bound variables (the OPTIONAL + !BOUND
    negation idiom) and VALUES/BIND columns.  Catalyst still pushes
    each conjunct down the join tree as far as its null semantics
    allow, so a required-var filter lands on its pattern's scan."""
    if spec.union:
        return bgp_union(*[_eval_spec(triples, b, meta_vars)
                           for b in spec.union])
    relations = list(spec.relations)
    if spec.patterns:
        solution = _compile_group(triples, spec.patterns,
                                  constant_only_ok=constant_only_ok,
                                  meta_vars=meta_vars)
        # variables certainly bound (never NULL) in the ENCLOSING
        # solution: required-pattern bindings only — VALUES (UNDEF),
        # BIND (error → NULL), and OPTIONAL-introduced variables are
        # all maybe-unbound
        certain = _pattern_vars(spec.patterns)
    else:
        # relations-only spec (``OPTIONAL { { SELECT ... } }``): the
        # first relation IS the solution; the rest join below.  The
        # constructor guarantees no BIND/VALUES/OPTIONAL/MINUS/EXISTS.
        (thunk, cert, _cols), *relations = relations
        solution = thunk(triples, meta_vars)
        certain = set(cert)
    for var in spec.graph_ranges:
        # a GRAPH variable that scoped nothing (§13.3) ranges over
        # every graph name — NAMED graphs only, so default-graph rows
        # (NULL graph) mint no name.  The distinct-name dimension is
        # tiny relative to the quads table: broadcast, never a shuffle.
        # It joins with the patterns, so the group's VALUES, BIND,
        # OPTIONAL, MINUS and FILTER see it.
        if "graph" not in triples.columns:
            raise ValueError(
                f"GRAPH ?{var} ranges over graph names, but the input "
                "has no 'graph' column — query a quads table")
        names = (triples.filter(F.col("graph").isNotNull())
                 .select(F.col("graph").alias(var)).distinct())
        solution = (solution.join(F.broadcast(names), on=var, how="inner")
                    if var in solution.columns
                    else solution.crossJoin(F.broadcast(names)))
        certain.add(var)
    if spec.values:
        solution = _join_values(solution, spec.values)
    for var, expr in spec.binds:
        solution = _apply_bind(solution, var, expr)

    def nested(solution, grp, how):
        """Evaluate one OPTIONAL/MINUS/EXISTS group and join it into
        the current solution."""
        group = _eval_spec(
            triples, grp,
            meta_vars=frozenset(v for v in meta_vars
                                if v not in solution.columns),
            constant_only_ok=how in ("left_semi", "left_anti"))
        return _compat_join(solution, group, how, certain,
                            _certain_vars(grp))

    for grp in spec.optionals:
        solution = nested(solution, grp, "left")
    # BINDs that reference OPTIONAL-introduced variables apply after
    # the left joins that bind them (§18.2.2.6 syntax order — the
    # ``OPTIONAL {...} BIND(COALESCE(?x, d) AS ?y)`` idiom), before
    # MINUS / FILTER / EXISTS
    for var, expr in spec.late_binds:
        solution = _apply_bind(solution, var, expr)
    for grp in spec.minus:
        solution = nested(solution, grp, "minus")
    if not spec.relations:
        for expr in spec.filters:
            solution = solution.filter(F.expr(expr))
    for grp in spec.exists:
        solution = nested(solution, grp, "left_semi")
    for grp in spec.not_exists:
        solution = nested(solution, grp, "left_anti")
    # §18.2 sub-SELECT relations join after the group's own members
    # (callers guard that the join orders commute: every variable the
    # spec's O-entries share with a relation's columns must be certain
    # in the spec's own patterns).  Group FILTERs may reference
    # relation variables (§8.3 scopes them to the whole group), so
    # with relations present they apply here; filters commute with
    # the semi/anti EXISTS joins above.
    for thunk, cert, _cols in relations:
        rel = thunk(triples, frozenset(v for v in meta_vars
                                       if v not in solution.columns))
        solution = _compat_join(solution, rel, "inner", certain, cert)
        certain |= set(cert)
    if spec.relations:
        for expr in spec.filters:
            solution = solution.filter(F.expr(expr))
    return solution


def bgp_construct(solutions: DataFrame, template: list[Pattern]
                  ) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate a triple template once per
    solution row, producing a new triples-shaped DataFrame.

    Each template pattern is ``(subject, predicate, object)``; every
    term gets its kind, datatype and language by one rule:

    - a :class:`Lit` constant is that literal;
    - a string constant is a bnode if it starts with ``_:``, else an
      IRI (:func:`node_kind`);
    - a ``?var`` pulls the solution column of that name and takes its
      kind, datatype and language from the ``{var}__kind`` /
      ``__dt`` / ``__lang`` companions when the solutions carry them
      (``bgp_match(meta_vars=...)``, or a BIND that mints them), so a
      copied literal stays the same literal; without them its kind is
      the string constant's.

    Output schema matches the engine's term columns (``subj,
    subj_kind, pred, obj_value, obj_kind, obj_datatype, obj_lang``),
    all strings, so the result unions into a graph table whatever SQL
    type a BIND gave a solution column.  Rows where any template
    position is NULL (an unbound OPTIONAL variable) are dropped, per
    SPARQL, and so is a pattern with a literal subject (§16.2: it
    instantiates no RDF triple).  One projection + union per template
    pattern — no shuffle; dedup to graph-set semantics downstream like
    every other producer.
    """
    if not template:
        raise ValueError("bgp_construct requires at least one pattern")
    cols = set(solutions.columns)

    def term(t):
        """``(value, kind, datatype, lang)`` columns of one term."""
        if isinstance(t, Lit):
            parts = (t.lex, "literal", t.datatype, t.lang)
        elif _is_var(t) and f"{t[1:]}__kind" in cols:
            parts = [F.col(t[1:] + sfx)
                     for sfx in ("", "__kind", "__dt", "__lang")]
        else:
            parts = (F.col(t[1:]) if _is_var(t) else t, None, None, None)
        value, kind, dt, lang = (F.lit(c).cast("string") for c in parts)
        return value, F.coalesce(kind, node_kind(value)), dt, lang

    # QUAD templates: a 4-tuple pattern ``(s, p, o, g)`` targets a named
    # graph (variable or IRI); when any pattern carries one, EVERY
    # output row gets a ``graph`` column (3-tuples emit NULL = the
    # default graph), so the result unions cleanly into a quads table.
    has_graph = any(len(pat) == 4 for pat in template)
    out: DataFrame | None = None
    for pat in template:
        (sv, skind, _, _), (pv, _, _, _), (ov, *obj) = map(term, pat[:3])
        if isinstance(pat[0], Lit):
            sv = F.lit(None).cast("string")
        part = (solutions
                .filter(sv.isNotNull() & pv.isNotNull() & ov.isNotNull()))
        sel = [c.alias(name) for c, name in zip(
            (sv, skind, pv, ov, *obj), TERM_COLS)]
        if has_graph:
            g = pat[3] if len(pat) == 4 else None
            gv = term(g)[0] if g else F.lit(None).cast("string")
            if _is_var(g):
                part = part.filter(gv.isNotNull())
            sel.append(gv.alias("graph"))
        part = part.select(*sel)
        out = part if out is None else out.unionByName(part)
    return out


def bgp_union(*solutions: DataFrame) -> DataFrame:
    """SPARQL UNION of compiled groups: solutions stack by variable
    name; a variable absent from one branch is NULL (unbound) in that
    branch's rows."""
    if not solutions:
        raise ValueError("bgp_union requires at least one solution")
    out = solutions[0]
    for s in solutions[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out


def describe(triples: DataFrame, seeds: DataFrame,
             max_rounds: int = 30) -> DataFrame:
    """SPARQL DESCRIBE as a Concise Bounded Description: every triple
    whose subject is a seed node, plus — recursively — the triples of
    blank nodes reached in object position (bnodes have no global
    identity, so an entity export without them would be unusable;
    IRIs reached in object position are NOT expanded, per CBD).

    ``seeds`` is a one-column ``node`` DataFrame.  Frontier loop: each
    round joins the (tiny, broadcastable) frontier against the triple
    table's subject and COLLECTS the newly reached bnode ids — anti-
    joined against the seed set in the same job, de-duplicated against
    earlier rounds driver-side — in ONE Spark action per round; rounds
    = bnode nesting depth (bounded by DOM depth for RDFa-minted
    bnodes).  The instance table is only ever filtered by join, never
    shuffled.

    Driver state is the cumulative reached-bnode id set: the SAME rows
    the previous design materialized per round via localCheckpoint and
    shipped to every executor as a broadcast — holding the one driver
    copy is no new scale assumption, and it removes the 2 extra jobs
    per round (emptiness probe + seen-set checkpoint) that dominated
    this operator's wall time at sandbox scale.  The returned lazy
    union references only the seed projection and literal local
    relations of those ids, so re-evaluation by the caller re-runs no
    frontier jobs and there is nothing persisted to release.

    Minimal three-column graphs (``subj``/``pred``/``obj_value`` only,
    no ``obj_kind``) carry no term-kind information, so bnodes cannot
    be identified; the CBD degrades to the plain subject slice of the
    seeds (zero expansion rounds).
    """
    seeds_d = seeds.select("node").distinct()
    if "obj_kind" not in triples.columns:
        return (triples.join(F.broadcast(seeds_d),
                             triples.subj == F.col("node"))
                .drop("node"))

    spark = triples.sparkSession
    seen: set[str] = set()  # bnodes expanded in earlier rounds
    frontier = seeds_d
    out: DataFrame | None = None
    for _ in range(max_rounds):
        hop = (triples.join(F.broadcast(frontier),
                            triples.subj == F.col("node"))
               .drop("node"))
        out = hop if out is None else out.unionByName(hop)
        # one action: materialize the next frontier's ids (bnode seeds
        # are already expanded by hop 0 — the anti-join runs in-job)
        reached = (hop.filter(F.col("obj_kind") == "bnode")
                   .select(F.col("obj_value").alias("node"))
                   .distinct()
                   .join(seeds_d, "node", "left_anti"))
        fresh = [r["node"] for r in reached.collect()
                 if r["node"] not in seen]
        if not fresh:
            return out
        seen.update(fresh)
        frontier = spark.createDataFrame(
            [(n,) for n in fresh], "node string")
    raise RuntimeError(
        f"describe did not drain its bnode frontier in {max_rounds} "
        "rounds; raise max_rounds for deeper bnode nesting")


def entity_table(triples: DataFrame, type_iri: str,
                 properties: dict[str, str]) -> DataFrame:
    """Materialize a wide typed-entity view: one row per subject typed
    ``type_iri``, one column per requested property.

    ``properties`` maps output column name -> predicate IRI.  A
    multi-valued property collapses deterministically to its ``min``
    (lexicographic) value; absent properties are NULL.  This is the
    standard "schema.org entities as a table" projection downstream
    consumers join against (the reference leaves it to the rdfjs store;
    here it is one pivoted aggregation).
    """
    return _pivot_entities(triples, type_iri, properties, "entity_table",
                           F.min("obj_value"), lambda c: c)


def entity_table_multi(triples: DataFrame, type_iri: str,
                       properties: dict[str, str]) -> DataFrame:
    """Faithful multi-valued variant of :func:`entity_table`: each
    property column holds the SORTED ARRAY of the property's distinct
    values (``array_sort ∘ collect_set``) instead of collapsing to
    ``min`` — lossless for real schema.org data where authors/keywords
    repeat.  Absent properties are NULL (not an empty array), matching
    ``entity_table``'s missing-row semantics.  Same single pivoted
    aggregation — one shuffle on ``subj`` regardless of column count;
    the sort is per-row (array_sort), byte-stable at any parallelism.
    """
    # collect_set over zero rows yields [] — normalize to NULL so a
    # subject lacking one property matches one lacking all of them
    return _pivot_entities(triples, type_iri, properties,
                           "entity_table_multi",
                           F.array_sort(F.collect_set("obj_value")),
                           lambda c: F.when(F.size(c) > 0, c))


def _pivot_entities(triples: DataFrame, type_iri: str,
                    properties: dict[str, str], name: str, agg,
                    finish) -> DataFrame:
    """The typed-subject slice, one pivoted ``agg`` per property
    (``finish`` maps each pivoted column) and the left join back, so a
    subject with the type but none of the properties still gets a
    row."""
    if not properties:
        raise ValueError(f"{name} requires at least one property")
    pred_to_col = {iri: col for col, iri in properties.items()}
    typed = (triples
             .filter((F.col("pred") ==
                      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
                     & (F.col("obj_value") == type_iri))
             .select("subj").distinct())
    props = (triples
             .filter(F.col("pred").isin(list(pred_to_col)))
             .join(typed, "subj")
             .groupBy("subj")
             .pivot("pred", list(pred_to_col))
             .agg(agg))
    renamed = props.select(
        "subj", *[finish(F.col(f"`{iri}`")).alias(col)
                  for iri, col in pred_to_col.items()])
    return (typed.join(renamed, "subj", "left")
            .select("subj", *pred_to_col.values()))
