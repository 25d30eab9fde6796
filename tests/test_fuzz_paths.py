"""Randomized differential fuzzing for property paths: seeded random
graphs × seeded random path expressions, evaluated by the Spark engine
(`operators/paths.py`) AND by a tiny in-memory reference evaluator
implementing SPARQL §9.3 path semantics directly (including the
zero-length-path domain rule: ``p?``/``p*`` match every term occurring
in the queried graph).  Results must agree as sets of (src, dst) IRIs.

Complements the hand-written closure fixtures (test_semantics) the way
test_fuzz_oracle complements the gate: the generator reaches operator
COMBINATIONS (nested closures over alternatives over inverses…) no
hand-written case enumerates."""

import random

import pytest
from pyspark.sql.types import StructField, StructType

from oxigraph_spark.algebra import ast as A
from oxigraph_spark.model import terms as T
from oxigraph_spark.operators.update import MutableQuadSource
from oxigraph_spark.plans.compiler import _term_to_py
from oxigraph_spark.store import Store

pytestmark = pytest.mark.slow

EX = "urn:ex:"
PREDS = ["p", "q", "r"]


def _store(spark, edges):
    schema = StructType([StructField(c, T.TERM_SCHEMA)
                         for c in ("s", "p", "o", "g")])
    default_g = (T.KIND_DEFAULT_GRAPH, "", None, None, None, None, None,
                 None, None)
    rows = [(_term_to_py(A.NamedNode(EX + s)),
             _term_to_py(A.NamedNode(EX + p)),
             _term_to_py(A.NamedNode(EX + o)), default_g)
            for s, p, o in edges]
    df = spark.createDataFrame(rows, schema)
    return Store(spark, MutableQuadSource(spark, df))


# -- random path expressions -------------------------------------------------

def _gen_path(rng, depth):
    """Random path AST as (sparql_string, eval_fn_tag, children...)."""
    if depth == 0 or rng.random() < 0.35:
        p = rng.choice(PREDS)
        form = rng.choice(["link", "link", "inv", "nps", "nps_mixed"])
        if form == "link":
            return ("link", p)
        if form == "inv":
            return ("inv", p)
        if form == "nps":
            return ("nps", rng.sample(PREDS, rng.randint(1, 2)), [])
        # mixed negated set: forward AND inverse members (§9.1
        # NegatedPropertySet with ^iri elements)
        return ("nps", rng.sample(PREDS, rng.randint(0, 2)),
                rng.sample(PREDS, rng.randint(1, 2)))
    form = rng.choice(["seq", "alt", "plus", "star", "opt"])
    if form in ("seq", "alt"):
        return (form, _gen_path(rng, depth - 1), _gen_path(rng, depth - 1))
    return (form, _gen_path(rng, depth - 1))


def _to_sparql(t):
    kind = t[0]
    if kind == "link":
        return f"ex:{t[1]}"
    if kind == "inv":
        return f"^ex:{t[1]}"
    if kind == "nps":
        members = [f"ex:{m}" for m in t[1]] + [f"^ex:{m}" for m in t[2]]
        return "!(" + "|".join(members) + ")"
    if kind == "seq":
        return f"({_to_sparql(t[1])}/{_to_sparql(t[2])})"
    if kind == "alt":
        return f"({_to_sparql(t[1])}|{_to_sparql(t[2])})"
    mark = {"plus": "+", "star": "*", "opt": "?"}[t[0]]
    return f"({_to_sparql(t[1])}){mark}"


# -- reference evaluator (SPARQL §9.3) ---------------------------------------

def _closure(pairs):
    out = set(pairs)
    while True:
        new = {(a, d) for a, b in out for c, d in out if b == c} - out
        if not new:
            return out
        out |= new


def _eval_ref(t, edges, nodes):
    kind = t[0]
    if kind == "link":
        return {(s, o) for s, p, o in edges if p == t[1]}
    if kind == "inv":
        return {(o, s) for s, p, o in edges if p == t[1]}
    if kind == "nps":
        fwd, inv = t[1], t[2]
        out = set()
        if fwd or not inv:         # forward part absent only for !(^q...)
            out |= {(s, o) for s, p, o in edges if p not in fwd}
        if inv:
            out |= {(o, s) for s, p, o in edges if p not in inv}
        return out
    if kind == "seq":
        a = _eval_ref(t[1], edges, nodes)
        b = _eval_ref(t[2], edges, nodes)
        return {(s, d) for s, m in a for m2, d in b if m == m2}
    if kind == "alt":
        return _eval_ref(t[1], edges, nodes) | _eval_ref(t[2], edges, nodes)
    inner = _eval_ref(t[1], edges, nodes)
    if kind == "plus":
        return _closure(inner)
    ident = {(n, n) for n in nodes}
    if kind == "star":
        return _closure(inner) | ident
    return inner | ident                      # opt


@pytest.mark.parametrize("seed", [11, 22, 33, 44])
def test_fuzz_paths_vs_reference(spark, seed):
    rng = random.Random(seed)
    n_nodes = rng.randint(8, 14)
    names = [f"n{i}" for i in range(n_nodes)]
    edges = set()
    for _ in range(rng.randint(15, 35)):
        edges.add((rng.choice(names), rng.choice(PREDS), rng.choice(names)))
    edges = sorted(edges)
    nodes = sorted({s for s, _, _ in edges} | {o for _, _, o in edges})
    store = _store(spark, edges)

    for qi in range(5):
        tree = _gen_path(rng, 2)
        sparql = ("PREFIX ex: <urn:ex:>\n"
                  f"SELECT ?s ?o WHERE {{ ?s {_to_sparql(tree)} ?o }}")
        got = {(r["s"]["lex"].removeprefix(EX),
                r["o"]["lex"].removeprefix(EX))
               for r in store.query(sparql).collect()}
        want = _eval_ref(tree, edges, nodes)
        assert got == want, (
            f"seed={seed} q{qi}: path {_to_sparql(tree)}\n"
            f"missing={sorted(want - got)[:10]}\n"
            f"extra={sorted(got - want)[:10]}")

        # seeded variant: concrete subject endpoint
        start = rng.choice(nodes)
        sparql2 = ("PREFIX ex: <urn:ex:>\n"
                   f"SELECT ?o WHERE {{ ex:{start} {_to_sparql(tree)} ?o }}")
        got2 = {r["o"]["lex"].removeprefix(EX)
                for r in store.query(sparql2).collect()}
        want2 = {d for s, d in want if s == start}
        assert got2 == want2, (
            f"seed={seed} q{qi} seeded from {start}: "
            f"path {_to_sparql(tree)}")

        # ghost-seeded variant: concrete endpoint NOT in the graph —
        # §9.3 zero-length paths still relate the term to itself, so
        # star/opt shapes must yield the ghost (round-5 semantics fix).
        # The reference evaluates with the ghost added to the node
        # domain (it has no edges, so only its self-pair can appear).
        ghost_ref = _eval_ref(tree, edges, nodes + ["ghost"])
        sparql3 = ("PREFIX ex: <urn:ex:>\n"
                   f"SELECT ?o WHERE {{ ex:ghost {_to_sparql(tree)} ?o }}")
        got3 = {r["o"]["lex"].removeprefix(EX)
                for r in store.query(sparql3).collect()}
        want3 = {d for s, d in ghost_ref if s == "ghost"}
        assert got3 == want3, (
            f"seed={seed} q{qi} ghost-seeded: path {_to_sparql(tree)}\n"
            f"missing={sorted(want3 - got3)} extra={sorted(got3 - want3)}")
        # and the reverse: concrete ghost OBJECT endpoint
        sparql4 = ("PREFIX ex: <urn:ex:>\n"
                   f"SELECT ?s WHERE {{ ?s {_to_sparql(tree)} ex:ghost }}")
        got4 = {r["s"]["lex"].removeprefix(EX)
                for r in store.query(sparql4).collect()}
        want4 = {s for s, d in ghost_ref if d == "ghost"}
        assert got4 == want4, (
            f"seed={seed} q{qi} ghost-object: path {_to_sparql(tree)}\n"
            f"missing={sorted(want4 - got4)} extra={sorted(got4 - want4)}")
        # VALUES-bound VARIABLE subject = ghost: §18.1.7 var-var
        # zero-length ranges over nodes(G) only, so the joined result
        # must follow DOMAIN semantics (no ghost self-pair) — the
        # opposite of the ground-written case above, and the rule a
        # BGP-seeded closure optimization must preserve
        sparql5 = ("PREFIX ex: <urn:ex:>\n"
                   "SELECT ?o WHERE { VALUES ?s { ex:ghost } "
                   f"?s {_to_sparql(tree)} ?o }}")
        got5 = {r["o"]["lex"].removeprefix(EX)
                for r in store.query(sparql5).collect()}
        want5 = {d for s, d in want if s == "ghost"}  # domain-based ⇒ ∅
        assert got5 == want5, (
            f"seed={seed} q{qi} VALUES-ghost: path {_to_sparql(tree)}\n"
            f"missing={sorted(want5 - got5)} extra={sorted(got5 - want5)}")


@pytest.mark.parametrize("seed", [55, 66])
def test_fuzz_paths_key64_vs_reference(spark, seed):
    """Same seeded graph/path differential under the compact 64-bit
    dictionary keys (round 4): the closure/seed/zero-length machinery
    must agree with the reference evaluator in both key widths."""
    rng = random.Random(seed)
    n_nodes = rng.randint(8, 14)
    names = [f"n{i}" for i in range(n_nodes)]
    edges = set()
    for _ in range(rng.randint(15, 35)):
        edges.add((rng.choice(names), rng.choice(PREDS), rng.choice(names)))
    edges = sorted(edges)
    nodes = sorted({s for s, _, _ in edges} | {o for _, _, o in edges})
    schema = StructType([StructField(c, T.TERM_SCHEMA)
                         for c in ("s", "p", "o", "g")])
    default_g = (T.KIND_DEFAULT_GRAPH, "", None, None, None, None, None,
                 None, None)
    rows = [(_term_to_py(A.NamedNode(EX + s)),
             _term_to_py(A.NamedNode(EX + p)),
             _term_to_py(A.NamedNode(EX + o)), default_g)
            for s, p, o in edges]
    df = spark.createDataFrame(rows, schema)
    store = Store(spark, MutableQuadSource(spark, df, key_width=64))

    for qi in range(4):
        tree = _gen_path(rng, 2)
        sparql = ("PREFIX ex: <urn:ex:>\n"
                  f"SELECT ?s ?o WHERE {{ ?s {_to_sparql(tree)} ?o }}")
        got = {(r["s"]["lex"].removeprefix(EX),
                r["o"]["lex"].removeprefix(EX))
               for r in store.query(sparql).collect()}
        want = _eval_ref(tree, edges, nodes)
        assert got == want, sparql
