"""SPARQL 1.1 property paths over the triple table, compiled to
DataFrame plans.

The reference parser (rubensworks/rdfa-streaming-parser.js) emits the
triples; querying them with paths is the downstream KG half this engine
adds.  Semantics follow SPARQL 1.1 §9.1 (PredicatePath, InversePath,
SequencePath, AlternativePath, OneOrMorePath, ZeroOrMorePath,
ZeroOrOnePath) with one
documented simplification: results are SET-semantics throughout — each
connected ``(a, b)`` pair is returned once, the way SPARQL already
evaluates the closure operators (ALP) and the way every shipped engine
canonicalizes mixed path results.

Compilation strategy (scale-first):

- The AST is normalized to a union of *branches*, each branch a pure
  sequence of edge scans and closure atoms: ``alt`` concatenates
  branches, ``seq`` takes their cross product, ``inv`` reverses and
  flips, and ``star(p)`` rewrites to ``identity ∪ plus(p)`` — with the
  identity element DROPPED from any branch that contains another atom
  (identity is the neutral element of sequence composition).  A full
  graph-terms scan is therefore materialized only when a branch is
  *nothing but* zero-length (e.g. a bare ``star``), never as a join
  input inside ``rest*/first``-style sequences.
- Each edge atom is one pushed-down filter on the triple scan
  (``pred = <iri>``), so Catalyst prunes columns and pushes the
  predicate to parquet.
- ``plus`` runs semi-naive transitive closure (the Datalog TC loop):
  the base edge set is computed once, each round joins only the *delta*
  against it and anti-joins out already-seen pairs.  Storage follows
  ``operators/storage``'s one rule: every generation is a checkpoint,
  the superseded one is released as soon as its successor exists, and
  the returned closure is tracked.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_streaming_parser_js_spark.operators.storage import (
    checkpoint, release, track)


# --------------------------------------------------------------------
# AST
# --------------------------------------------------------------------

@dataclass(frozen=True)
class PathExpr:
    """Marker base class for path expressions."""


@dataclass(frozen=True)
class Link(PathExpr):
    pred: str


@dataclass(frozen=True)
class Inv(PathExpr):
    inner: PathExpr


@dataclass(frozen=True)
class Seq(PathExpr):
    parts: tuple[PathExpr, ...]


@dataclass(frozen=True)
class Alt(PathExpr):
    parts: tuple[PathExpr, ...]


@dataclass(frozen=True)
class Nps(PathExpr):
    """Negated property set ``!(p1|...|pn)`` — one forward edge via any
    predicate NOT in the set (SPARQL 1.1 §9.1)."""
    preds: tuple[str, ...]


@dataclass(frozen=True)
class Plus(PathExpr):
    inner: PathExpr


@dataclass(frozen=True)
class Star(PathExpr):
    inner: PathExpr


@dataclass(frozen=True)
class Opt(PathExpr):
    inner: PathExpr


def link(pred: str) -> PathExpr:
    """``<p>`` — one forward edge via predicate IRI ``pred``."""
    return Link(pred)


def inv(p: PathExpr) -> PathExpr:
    """``^path`` — inverse."""
    return Inv(p)


def seq(*parts: PathExpr) -> PathExpr:
    """``p1/p2/...`` — sequence."""
    if not parts:
        raise ValueError("seq requires at least one part")
    return parts[0] if len(parts) == 1 else Seq(tuple(parts))


def alt(*parts: PathExpr) -> PathExpr:
    """``p1|p2|...`` — alternative."""
    if not parts:
        raise ValueError("alt requires at least one part")
    return parts[0] if len(parts) == 1 else Alt(tuple(parts))


def nps(*preds: str) -> PathExpr:
    """``!(p1|p2|...)`` — negated property set.  ``inv(nps(...))`` is
    the inverse form ``!(^p1|^p2|...)``."""
    if not preds:
        raise ValueError("nps requires at least one predicate")
    return Nps(tuple(preds))


def plus(p: PathExpr) -> PathExpr:
    """``path+`` — one-or-more (transitive closure)."""
    return Plus(p)


def star(p: PathExpr) -> PathExpr:
    """``path*`` — zero-or-more.  The zero-length component matches
    every term of the graph (SPARQL 1.1 §9.3), but inside a sequence it
    is composed away algebraically, so no term scan is materialized
    unless the star is the entire branch."""
    return Star(p)


def opt(p: PathExpr) -> PathExpr:
    """``path?`` — zero-or-one (SPARQL 1.1 §9.1 ZeroOrOnePath).

    Normalizes to ``identity ∪ branches(p)`` — exactly ``star`` minus
    the transitive closure, so no closure work is ever materialized:
    ``a/b?`` compiles to the union of the ``a`` scan and the ``a/b``
    join, and the zero-length identity is composed away algebraically
    inside sequences just like ``star``'s."""
    return Opt(p)


# --------------------------------------------------------------------
# Normalization: AST -> branches (union of atom sequences)
# --------------------------------------------------------------------

_IDENTITY = "identity"  # zero-length marker atom


def _invert(p: PathExpr) -> PathExpr:
    if isinstance(p, (Link, Nps)):
        return Inv(p)
    if isinstance(p, Inv):
        return p.inner
    if isinstance(p, Seq):
        return Seq(tuple(_invert(x) for x in reversed(p.parts)))
    if isinstance(p, Alt):
        return Alt(tuple(_invert(x) for x in p.parts))
    if isinstance(p, Plus):
        return Plus(_invert(p.inner))
    if isinstance(p, Star):
        return Star(_invert(p.inner))
    if isinstance(p, Opt):
        return Opt(_invert(p.inner))
    raise TypeError(f"not a path expression: {p!r}")


def _branches(p: PathExpr) -> list[list]:
    """Normalize to a union (list) of sequences (lists) of atoms.

    Atom = ``("edge", pred, inverted)`` | ``("plus", PathExpr)`` |
    ``_IDENTITY``.  Branches containing another atom drop identity
    (neutral element); a branch of only identities collapses to one.
    """
    if isinstance(p, Link):
        return [[("edge", p.pred, False)]]
    if isinstance(p, Nps):
        return [[("nedge", p.preds, False)]]
    if isinstance(p, Inv):
        inner = p.inner
        if isinstance(inner, Inv):  # inv(inv(x)) = x, any nesting depth
            return _branches(inner.inner)
        if isinstance(inner, Link):  # primitive inverted atoms
            return [[("edge", inner.pred, True)]]
        if isinstance(inner, Nps):
            return [[("nedge", inner.preds, True)]]
        return _branches(_invert(inner))  # push into composites
    if isinstance(p, Alt):
        return [b for part in p.parts for b in _branches(part)]
    if isinstance(p, Seq):
        out: list[list] = [[]]
        for part in p.parts:
            out = [pre + suf for pre in out for suf in _branches(part)]
        return [_drop_identity(b) for b in out]
    if isinstance(p, Plus):
        return [[("plus", p.inner)]]
    if isinstance(p, Star):
        return [[_IDENTITY]] + _branches(Plus(p.inner))
    if isinstance(p, Opt):
        return [[_IDENTITY]] + _branches(p.inner)
    raise TypeError(f"not a path expression: {p!r}")


def _drop_identity(branch: list) -> list:
    real = [a for a in branch if a is not _IDENTITY]
    return real if real else [_IDENTITY]


# --------------------------------------------------------------------
# Compilation: branches -> DataFrame (a, b)
# --------------------------------------------------------------------

def _edge_pairs(triples: DataFrame, pred: str,
                inverted: bool) -> DataFrame:
    e = triples.filter(F.col("pred") == pred)
    a, b = ("obj_value", "subj") if inverted else ("subj", "obj_value")
    return e.select(F.col(a).alias("a"), F.col(b).alias("b"))


def _nedge_pairs(triples: DataFrame, preds: tuple[str, ...],
                 inverted: bool) -> DataFrame:
    e = triples.filter(~F.col("pred").isin(list(preds)))
    a, b = ("obj_value", "subj") if inverted else ("subj", "obj_value")
    return e.select(F.col(a).alias("a"), F.col(b).alias("b"))


def _graph_terms(triples: DataFrame) -> DataFrame:
    """Every RDF term in the graph, as zero-length (x, x) pairs."""
    terms = (triples.select(F.col("subj").alias("t"))
             .union(triples.select(F.col("obj_value").alias("t")))
             .distinct())
    return terms.select(F.col("t").alias("a"), F.col("t").alias("b"))




def transitive_closure(pairs: DataFrame, max_rounds: int = 30,
                       seeds: DataFrame | None = None) -> DataFrame:
    """Semi-naive transitive closure of an ``(a, b)`` edge set.

    Each round joins the pairs found in the previous round against the
    base edges, anti-joins them against the total so far, and
    checkpoints the next generation: the total with the new pairs
    marked.  That checkpoint is the round's one action, and the count
    of new pairs observed on it ends the loop at zero, after
    depth(graph) rounds.  Raises if ``max_rounds`` is hit with new
    pairs still arriving — silent truncation would be an incorrect
    closure.

    ``seeds`` (a one-column ``a`` DataFrame) restricts the closure to
    pairs whose start is a seed: the frontier begins at the seeds' own
    edges and only ever explores reachable rows.  With a bound SPARQL
    endpoint this is the difference between BFS-from-one-node and
    materializing the full quadratic closure — mandatory at
    10^13-triple scale.
    """
    base = checkpoint(pairs.select("a", "b").distinct()
                      .withColumn("new", F.lit(True)))
    gen = base if seeds is None else checkpoint(
        base.join(seeds.select("a").distinct(), "a"))
    for _ in range(max_rounds):
        grown = (gen.filter(F.col("new")).alias("d")
                 .join(base.alias("e"), F.col("d.b") == F.col("e.a"))
                 .select(F.col("d.a").alias("a"), F.col("e.b").alias("b"))
                 .distinct())
        # anti-joined against the total, so the union stays distinct
        fresh = grown.join(gen, ["a", "b"], "left_anti")
        nxt, seen = checkpoint(
            gen.withColumn("new", F.lit(False))
            .unionByName(fresh.withColumn("new", F.lit(True))),
            F.count_if("new").alias("n"))
        if seen["n"] == 0:
            # gen already holds every pair.  Returning it, not nxt, keeps
            # the optimizer's size estimate of the last growing round:
            # nxt's carries one more join product, enough to make a
            # later query plan a runtime bloom filter (two more jobs).
            release(nxt)
            if gen is not base:
                release(base)
            return track(gen.drop("new"))
        if gen is not base:
            release(gen)
        gen = nxt
    release(gen)
    release(base)
    raise RuntimeError(
        f"transitive closure did not converge in {max_rounds} "
        "rounds; raise max_rounds for deeper graphs")


def path_pairs(triples: DataFrame, path: PathExpr,
               max_rounds: int = 30,
               seeds: DataFrame | None = None) -> DataFrame:
    """All ``(a, b)`` term pairs connected by ``path`` in the graph.

    ``triples`` is the engine's triple table (``subj``, ``pred``,
    ``obj_value`` columns are used; duplicate provenance rows collapse
    to graph-set semantics).  Output columns: ``a``, ``b`` — distinct.

    ``seeds`` (one-column ``a`` DataFrame) restricts evaluation to
    paths STARTING at a seed term.  Every closure atom is then
    frontier-seeded too — a branch like ``rest*/first`` explores only
    the cells reachable from the seeds, never the graph-wide closure.
    For a path with a bound OBJECT endpoint, evaluate
    ``path_pairs(t, inv(path), seeds=objs)`` and flip the output.
    """
    out: DataFrame | None = None
    for branch in _branches(path):
        cur: DataFrame | None = None
        for atom in branch:
            if atom is _IDENTITY:
                nxt = (seeds.select("a", F.col("a").alias("b")).distinct()
                       if seeds is not None else _graph_terms(triples))
            elif atom[0] in ("edge", "nedge"):
                pairs_of = (_edge_pairs if atom[0] == "edge"
                            else _nedge_pairs)
                nxt = pairs_of(triples, atom[1], atom[2])
                if cur is None and seeds is not None:
                    nxt = nxt.join(seeds.select("a").distinct(), "a")
            else:  # ("plus", inner)
                inner = path_pairs(triples, atom[1], max_rounds)
                if cur is not None:
                    # closure seeded by the current frontier's ends
                    frontier = cur.select(F.col("b").alias("a"))
                    nxt = transitive_closure(inner, max_rounds,
                                             seeds=frontier)
                elif seeds is not None:
                    nxt = transitive_closure(inner, max_rounds,
                                             seeds=seeds)
                else:
                    nxt = transitive_closure(inner, max_rounds)
            if cur is None:
                cur = nxt
            else:
                cur = (cur.alias("l")
                       .join(nxt.alias("r"), F.col("l.b") == F.col("r.a"))
                       .select(F.col("l.a").alias("a"),
                               F.col("r.b").alias("b")))
        out = cur if out is None else out.union(cur)
    return out.distinct()
