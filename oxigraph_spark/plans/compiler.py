"""Algebra → DataFrame compiler.

This is our analog of the reference's evaluator compile step
(``lib/spareval/src/eval.rs`` · ``SimpleEvaluator`` compiles the optimized
algebra bottom-up into closures).  We compile bottom-up into *DataFrame
plans* instead: each algebra node yields a DataFrame with one nullable
TERM column per in-scope variable (unbound = NULL), and Catalyst+Tungsten
replace the reference's hand-rolled joins/iterators wholesale (SURVEY.md
§3/§4).

Scale-critical choices:
- joins are on :func:`terms.term_key` (4-field identity), never the
  9-field struct — narrow shuffle keys;
- *certainly-bound* analysis (SURVEY.md §4.2.2): a shared variable bound
  on both sides compiles to a null-rejecting equi-join Catalyst can hash;
  the NULL-tolerant compatibility predicate (SPARQL §18.3) is emitted only
  for variables that may be unbound (they arise only under OPTIONAL/UNION);
- triple patterns with a bound predicate scan a single vertical partition
  (predicate-pruned parquet read) — the Spark equivalent of the reference's
  index selection (``Store::quads_for_pattern``).
"""

from __future__ import annotations

import itertools
import json
import math
import re
import uuid as _uuid
from dataclasses import dataclass, replace
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Context, Decimal
from functools import reduce
from typing import Dict, List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

from ..algebra import ast as A
from ..functions import builtins as B
from ..functions import kernels as K
from ..model import terms as T
from ..session import pin



@dataclass
class Compiled:
    df: DataFrame
    vars: frozenset
    certain: frozenset  # subset of vars that can never be NULL
    # per-variable static value class (kernels.VC_*) where GUARANTEED for
    # every non-error binding — sparopt type_inference port (§4.2.3);
    # inferred from direct-mapping column types at pattern scans and
    # propagated through joins/unions/extends
    stypes: "dict" = None
    ntypes: "dict" = None   # numeric subtype per var where guaranteed
    # var → name of a hidden sidecar column holding the term's 128-bit
    # content-hash identity key (terms.join_key layout), materialized ONCE
    # when the var was first bound and carried through joins/unions — the
    # dictionary-encoded id wiring (SURVEY.md §1.4 M7+; the reference's
    # ``EncodedTerm``/``StrHash`` ids, storage/numeric_encoder.rs).
    # Invariant: the id column is NULL iff the term column is NULL.
    ids: "dict" = None

    def __post_init__(self):
        if self.stypes is None:
            object.__setattr__(self, "stypes", {})
        if self.ntypes is None:
            object.__setattr__(self, "ntypes", {})
        if self.ids is None:
            object.__setattr__(self, "ids", {})


# -- static value-class inference (SURVEY.md §4.2.3, port of the idea in
# lib/sparopt/src/type_inference.rs): most expressions have a statically
# known value class, which lets kernels collapse their dynamic dispatch —
# essential to keep Catalyst expression trees small.

_BOOL_FNS = {"REGEX", "LANGMATCHES", "CONTAINS", "STRSTARTS", "STRENDS",
             "SAMETERM", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL",
             "ISNUMERIC", "BOUND", "ISTRIPLE"}
_PLAIN_STR_FNS = {"STR", "LANG", "ENCODE_FOR_URI", "MD5", "SHA1", "SHA256",
                  "SHA384", "SHA512", "STRUUID", "TZ"}
_NUM_FNS = {"STRLEN", "ABS", "CEIL", "FLOOR", "ROUND", "YEAR", "MONTH",
            "DAY", "HOURS", "MINUTES", "SECONDS", "RAND"}
_DT_FNS = {"NOW"}

_INT_NFNS = {"STRLEN", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES"}
_PRESERVE_NFNS = {"ABS", "CEIL", "FLOOR", "ROUND"}


def ntype_of(e, env_nt: Optional[dict] = None) -> Optional[str]:
    """Static numeric subtype ('integer' | 'decimal' | 'double' | None).
    Only meaningful when stype_of(e) == VC_NUMERIC."""
    if isinstance(e, A.EVar):
        return (env_nt or {}).get(e.name)
    if isinstance(e, A.ETerm) and isinstance(e.term, A.Literal):
        dt = e.term.datatype or ""
        if dt in T.INTEGER_DATATYPES:
            return "integer"
        if dt == T.XSD_DECIMAL:
            return "decimal"
        if dt in (T.XSD_FLOAT, T.XSD_DOUBLE):
            return "double"
        return None
    if isinstance(e, A.EOp) and e.op in ("+", "-", "*", "/", "u-", "u+"):
        if e.op in ("u-", "u+"):
            return ntype_of(e.args[0])
        na, nb = ntype_of(e.args[0], env_nt), ntype_of(e.args[1], env_nt)
        if na == "double" or nb == "double":
            return "double"
        if na in ("integer", "decimal") and nb in ("integer", "decimal"):
            if e.op == "/" or "decimal" in (na, nb):
                return "decimal"
            return "integer"
        return None
    if isinstance(e, A.ECall):
        n = e.name.upper() if not e.name.startswith("http") else e.name
        if n in _INT_NFNS:
            return "integer"
        if n == "SECONDS":
            return "decimal"
        if n == "RAND":
            return "double"
        if n in _PRESERVE_NFNS and e.args:
            return ntype_of(e.args[0], env_nt)
        if n == T.XSD_INTEGER:
            return "integer"
        if n == T.XSD_DECIMAL:
            return "decimal"
        if n in (T.XSD_DOUBLE, T.XSD_FLOAT):
            return "double"
    return None


def stype_of(e, env_st: Optional[dict] = None) -> Optional[int]:
    """Static value class of an expression result (None = unknown).
    The contract: when the expression evaluates without error, its term is
    of this class; on error the term is NULL (all payload fields NULL).
    ``env_st`` supplies per-variable classes inferred from scan positions."""
    if isinstance(e, A.EVar):
        return (env_st or {}).get(e.name)
    if isinstance(e, A.ETerm):
        t = e.term
        if isinstance(t, (A.NamedNode, A.BlankNode, A.QuotedTriple)):
            return K.VC_NONLIT
        if t.lang:
            return K.VC_LANGSTRING
        dt = t.datatype or T.XSD_STRING
        if dt in T.NUMERIC_DATATYPES:
            return K.VC_NUMERIC
        if dt == T.XSD_BOOLEAN:
            return K.VC_BOOLEAN
        if dt in (T.XSD_DATETIME, T.XSD_DATE, T.XSD_TIME,
                  T.XSD_GYEAR, T.XSD_GYEARMONTH):
            return K.VC_DATETIME
        if dt == T.XSD_STRING:
            return K.VC_STRING
        return K.VC_OTHER
    if isinstance(e, A.EOp):
        if e.op in ("&&", "||", "!", "=", "!=", "<", "<=", ">", ">="):
            return K.VC_BOOLEAN
        if e.op in ("*", "/", "u-", "u+"):
            return K.VC_NUMERIC
        if e.op in ("+", "-"):
            # + and - are overloaded for temporal arithmetic (XPath
            # operator mapping): dateTime ± duration → dateTime,
            # duration ± duration → duration, dateTime − dateTime →
            # duration.  Claiming VC_NUMERIC here used to specialize
            # downstream comparisons numerically and silently NULL
            # them.  Only claim numeric when BOTH operands are.
            sa = stype_of(e.args[0], env_st)
            sb = stype_of(e.args[1], env_st)
            if sa == K.VC_NUMERIC and sb == K.VC_NUMERIC:
                return K.VC_NUMERIC
            if sa == K.VC_DATETIME and sb == K.VC_OTHER:
                return K.VC_DATETIME      # dateTime ± duration
            if e.op == "+" and sa == K.VC_OTHER and sb == K.VC_DATETIME:
                return K.VC_DATETIME      # duration + dateTime
            return None
        return None
    if isinstance(e, (A.EIn, A.EExists)):
        return K.VC_BOOLEAN
    if isinstance(e, A.ECall):
        n = e.name.upper() if not e.name.startswith("http") else e.name
        if n in _BOOL_FNS:
            return K.VC_BOOLEAN
        if n in _PLAIN_STR_FNS:
            return K.VC_STRING
        if n in _NUM_FNS:
            return K.VC_NUMERIC
        if n in _DT_FNS:
            return K.VC_DATETIME
        if n.startswith(T.XSD):
            if n in T.NUMERIC_DATATYPES:
                return K.VC_NUMERIC
            if n == T.XSD_BOOLEAN:
                return K.VC_BOOLEAN
            if n == T.XSD_STRING:
                return K.VC_STRING
            if n in (T.XSD_DATETIME, T.XSD_DATE):
                return K.VC_DATETIME
        if n == "IF":
            a, b = stype_of(e.args[1], env_st), stype_of(e.args[2], env_st)
            return a if a == b else None
        if n == "COALESCE":
            sts = {stype_of(a, env_st) for a in e.args}
            return sts.pop() if len(sts) == 1 else None
        return None
    return None


def _true() -> Column:
    return F.lit(True)


def _opaque(c: Column) -> Column:
    """Wrap an expression so Catalyst may not inline it through Projects.

    ``when(rand() >= 0, c)`` is semantically ``c`` (rand ∈ [0,1)), but the
    nondeterministic guard stops every alias-substitution path —
    PushPredicateThroughNonJoin.replaceAlias, PhysicalOperation /
    ScanOperation collectProjectsAndFilters, CollapseProject — all of which
    require deterministic aliases.  Substitution through chained SSA temp
    columns is exponential in expression depth and hangs planning;
    references to the wrapped column remain plain (deterministic)
    attributes, so joins/sorts/aggregates over it are unaffected.
    (``rand() >= 0`` gets constant-folded away by Spark 4;
    ``monotonically_increasing_id() >= -1`` survives.)"""
    return F.when(F.monotonically_increasing_id() >= -1, c)


class _Precompiled:
    """Wraps an already-compiled subpattern so filter machinery can reuse
    _c_Filter uniformly."""

    def __init__(self, compiled: "Compiled"):
        self.compiled = compiled


# Spark DDL type of the sidecar identity-key columns (terms.join_key layout)
ID_KEY_T = "struct<h1:bigint,h2:bigint>"


def _idname(v: str) -> str:
    return f"__jk_{v}"


# NOTE on the _key_col invariant (now Compiler methods, key-width aware):
# identity keys are safe to EMIT into an output row only when NULL iff
# the term is NULL — downstream null-tolerant compatibility checks test
# the key instead of the term; join_key of an all-NULL struct is a
# non-NULL constant, so the guard preserves the invariant.


def _merge_types(lv, lt, rv, rt) -> dict:
    """Merge per-var type dicts across a join/union: a guarantee survives
    only if every side that can bind the var gives the same class."""
    out = {}
    for v in lv | rv:
        a = lt.get(v) if v in lv else None
        b = rt.get(v) if v in rv else None
        if v in lv and v in rv:
            if a is not None and a == b:
                out[v] = a
        elif v in lv:
            if a is not None:
                out[v] = a
        else:
            if b is not None:
                out[v] = b
    return out


def _leaf(e) -> bool:
    return isinstance(e, (A.EVar, A.ETerm, A.EExists))


def _inline_ok(e) -> bool:
    """True when an expression may compose inline instead of becoming an
    SSA temp column: leaves, and single-level ops over leaves (typed
    kernels keep those to ~10²  nodes — one inlining level cannot compound,
    deeper levels still get opaque temps)."""
    if _leaf(e):
        return True
    if isinstance(e, A.EOp) and all(_leaf(a) for a in e.args):
        return True
    if isinstance(e, A.ECall) and e.args and all(_leaf(a) for a in e.args):
        n = e.name.upper() if not e.name.startswith("http") else e.name
        # IF/COALESCE: keep lazy forms materialized.  RDF-star accessors:
        # their kernels embed the full N-Triples token parser (~20 KB tree
        # even let-bound) — inlining one into e.g. SAMETERM duplicates it
        # per struct field; always materialize as an opaque temp.
        return n not in ("IF", "COALESCE",
                         "TRIPLE", "SUBJECT", "PREDICATE", "OBJECT")
    return False


def _split_and(e: A.Expression) -> List[A.Expression]:
    if isinstance(e, A.EOp) and e.op == "&&":
        return _split_and(e.args[0]) + _split_and(e.args[1])
    return [e]


def _expr_vars(e) -> frozenset:
    if isinstance(e, A.EVar):
        return frozenset([e.name])
    if isinstance(e, A.EOp):
        out = frozenset()
        for a in e.args:
            out |= _expr_vars(a)
        return out
    if isinstance(e, A.ECall):
        out = frozenset()
        for a in e.args:
            if isinstance(a, (A.EVar, A.ETerm, A.EOp, A.ECall, A.EIn, A.EExists)):
                out |= _expr_vars(a)
        return out
    if isinstance(e, A.EIn):
        out = _expr_vars(e.expr)
        for o in e.options:
            out |= _expr_vars(o)
        return out
    if isinstance(e, A.EExists):
        return frozenset(A.pattern_vars(e.pattern))
    return frozenset()


def _expr_mentioned(e) -> frozenset:
    """Like _expr_vars but EExists recurses into every variable MENTIONED
    in the sub-pattern (filter-only variables included)."""
    if isinstance(e, A.EExists):
        return _mentioned_vars(e.pattern)
    if isinstance(e, A.EOp):
        out = frozenset()
        for a in e.args:
            out |= _expr_mentioned(a)
        return out
    if isinstance(e, A.ECall):
        out = frozenset()
        for a in e.args:
            if isinstance(a, (A.EVar, A.ETerm, A.EOp, A.ECall, A.EIn,
                              A.EExists)):
                out |= _expr_mentioned(a)
        return out
    if isinstance(e, A.EIn):
        out = _expr_mentioned(e.expr)
        for o in e.options:
            out |= _expr_mentioned(o)
        return out
    return _expr_vars(e)


def _mentioned_vars(node) -> frozenset:
    """Every variable MENTIONED anywhere in a pattern — the §18.6
    substitution scope, which unlike ``A.pattern_vars`` (in-scope/bindable
    variables) also includes variables used only inside FILTER / BIND /
    OPTIONAL-condition expressions.  Subqueries (Project) are their own
    scope: only the projected variables correlate."""
    if isinstance(node, _Precompiled):
        return node.compiled.vars
    if isinstance(node, (A.TriplePattern, A.PathPattern, A.Values)):
        return A.pattern_vars(node)
    if isinstance(node, A.BGP):
        out = frozenset()
        for p in node.patterns:
            out |= _mentioned_vars(p)
        return out
    if isinstance(node, (A.Join, A.Union_, A.Minus)):
        return _mentioned_vars(node.left) | _mentioned_vars(node.right)
    if isinstance(node, A.LeftJoin):
        out = _mentioned_vars(node.left) | _mentioned_vars(node.right)
        if node.expr is not None:
            out |= _expr_mentioned(node.expr)
        return out
    if isinstance(node, A.Filter):
        return _mentioned_vars(node.inner) | _expr_mentioned(node.expr)
    if isinstance(node, A.Extend):
        return (_mentioned_vars(node.inner) | frozenset([node.var.name])
                | _expr_mentioned(node.expr))
    if isinstance(node, A.Graph):
        extra = (frozenset([node.name.name])
                 if isinstance(node.name, A.Var) else frozenset())
        return _mentioned_vars(node.inner) | extra
    if isinstance(node, A.Group):
        out = (frozenset(v.name for v in node.by)
               | frozenset(v.name for v, _ in node.aggregates))
        for _, agg in node.aggregates:
            if getattr(agg, "expr", None) is not None:
                out |= _expr_mentioned(agg.expr)
        return out | _mentioned_vars(node.inner)
    if isinstance(node, A.OrderBy):
        out = _mentioned_vars(node.inner)
        for c in node.conds:
            out |= _expr_mentioned(c.expr)
        return out
    if isinstance(node, (A.Distinct, A.Reduced, A.Slice)):
        return _mentioned_vars(node.inner)
    if isinstance(node, A.Project):
        return frozenset(v.name for v in node.vars)
    if isinstance(node, A.Service):
        return A.pattern_vars(node)
    return A.pattern_vars(node)


def _seed_into(node, pre: "_Precompiled"):
    """Rewrite an EXISTS sub-pattern so the outer correlated bindings
    (``pre``, a distinct projection) are joined INSIDE it — the compiled
    equivalent of §18.6's substitution (reference: correlated
    ``Expression::Exists`` nested-loop).  The seed is pushed under
    top-level Filter/Extend chains (so inner filters see the outer
    bindings), into the LEFT side of OPTIONAL (a lone OPTIONAL keeps the
    seed row even when its right side has no match) and MINUS, and into
    both UNION branches.  Other nodes (BGP, paths, VALUES, subqueries,
    SERVICE) get the seed joined at their root."""
    if isinstance(node, A.Filter):
        return A.Filter(node.expr, _seed_into(node.inner, pre))
    if isinstance(node, A.Extend):
        return A.Extend(_seed_into(node.inner, pre), node.var, node.expr)
    if isinstance(node, A.Join):
        return A.Join(_seed_into(node.left, pre), node.right)
    if isinstance(node, A.LeftJoin):
        return A.LeftJoin(_seed_into(node.left, pre), node.right, node.expr)
    if isinstance(node, A.Minus):
        return A.Minus(_seed_into(node.left, pre), node.right)
    if isinstance(node, A.Union_):
        return A.Union_(_seed_into(node.left, pre),
                        _seed_into(node.right, pre))
    if isinstance(node, A.Graph):
        return A.Graph(node.name, _seed_into(node.inner, pre))
    return A.Join(pre, node)


class Compiler:
    def __init__(self, spark: SparkSession, source, *,
                 optimize: bool = True,
                 default_graph_as_union: bool = False,
                 service_bind_join: bool = True,
                 service_max_total_bindings: "Optional[int]" = None,
                 service_pool: int = 4):
        self.spark = spark
        self.source = source  # exposes .scan(p_lex) -> DataFrame(s,p,o,g)
        self.optimize = optimize
        # False disables the FedX bind-join seed (used by explain-only
        # compilation: seeding collects local bindings, i.e. runs Spark
        # jobs, which explain is documented not to do)
        self.service_bind_join = service_bind_join
        # per-instance override of the class-level bound-join seed cap
        # (Store exposes it as a constructor option)
        if service_max_total_bindings is not None:
            self.MAX_SERVICE_TOTAL_BINDINGS = service_max_total_bindings
        # bounded concurrency for shipping the ≤10 bound-join VALUES
        # chunks: each chunk is an independent HTTP round-trip; a small
        # pool cuts federated latency ~pool× without hammering the
        # endpoint (1 = sequential)
        self.service_pool = max(1, service_pool)
        # pyoxigraph's use_default_graph_as_union: patterns outside GRAPH
        # match quads from EVERY graph (the RDF merge), instead of the
        # store's default graph only.  Overridden by an explicit FROM
        # dataset, matching upstream.
        self.default_graph_as_union = default_graph_as_union
        # sidecar identity-key columns (Compiled.ids); disabled only when a
        # query's own variable names could collide with the __jk_ prefix
        self.use_ids = True
        self.now = datetime.now(timezone.utc)  # NOW() fixed per query (§2.7)
        self._counter = itertools.count()
        self._exists_markers: Dict[int, str] = {}
        self._env_st: Dict[str, int] = {}
        self._env_nt: Dict[str, str] = {}
        # identity-key width: 128-bit struct (default, safe at any corpus
        # size) or the opt-in compact 64-bit longs (source.key_width=64;
        # SURVEY §1.4 dictionary variant — halves exchange/group key
        # width, bounded to ≲10⁹-distinct-term corpora).  EVERY key
        # computation dispatches through these so mixed widths never meet
        # in a comparison.
        self.key_width = getattr(source, "key_width", 128)
        if self.key_width == 64:
            self._jk = T.join_key64
            self._jk_named = T.join_key64_named
            self._gk_named = T.guarded_key64_named
            self._id_t = "bigint"
        else:
            self._jk = T.join_key
            self._jk_named = T.join_key_named
            self._gk_named = T.guarded_key_named
            self._id_t = ID_KEY_T

    def _key_col(self, term_col: Column, id_col: Optional[Column]) -> Column:
        """Identity key, NULL iff the term is NULL (see module note)."""
        if id_col is not None:
            return id_col
        return F.when(term_col.isNotNull(), self._jk(term_col))

    def _out_id(self, c: "Compiled", v: str) -> Column:
        """Identity key of var ``v`` for emission FROM ``c.df``
        (single-frame contexts only: the no-sidecar path resolves ``v``
        unqualified)."""
        if v in c.ids:
            return c.df[c.ids[v]]
        return self._gk_named(v)

    def _set_type_env(self, c: "Compiled") -> None:
        self._env_st = dict(c.stypes)
        self._env_nt = dict(c.ntypes)

    def _stype(self, e) -> Optional[int]:
        return stype_of(e, self._env_st)

    def _ntype(self, e) -> Optional[str]:
        return ntype_of(e, self._env_nt)

    # ------------------------------------------------------------------
    # entry points
    # ------------------------------------------------------------------

    def compile_query(self, q: A.Query) -> DataFrame:
        # FROM / FROM NAMED: when present, the active dataset is exactly
        # what's listed (spec §13.2) — _graph_filter consults these
        self._from_graphs = tuple(getattr(q, "from_graphs", ()) or ())
        self._from_named = tuple(getattr(q, "from_named", ()) or ())
        pat = getattr(q, "pattern", None)
        if pat is not None and any(
                v.startswith("__jk_") for v in A.pattern_vars(pat)):
            self.use_ids = False  # ?__jk_* is a legal SPARQL variable name
        if isinstance(q, A.SelectQuery):
            c = self.compile_pattern(q.pattern)
            drop = [n for n in c.ids.values() if n in c.df.columns]
            return c.df.drop(*drop) if drop else c.df
        if isinstance(q, A.AskQuery):
            inner = self.compile_pattern(q.pattern).df.limit(1)
            return inner.select(F.lit(True).alias("ask")).limit(1)
        if isinstance(q, A.ConstructQuery):
            return self._compile_construct(q)
        if isinstance(q, A.DescribeQuery):
            return self._compile_describe(q)
        raise TypeError(type(q))

    # ------------------------------------------------------------------
    # graph patterns
    # ------------------------------------------------------------------

    def compile_pattern(self, node, graph_ctx=None) -> Compiled:
        if isinstance(node, _Precompiled):
            return node.compiled
        m = getattr(self, f"_c_{type(node).__name__}", None)
        if m is None:
            raise NotImplementedError(f"pattern node {type(node).__name__}")
        return m(node, graph_ctx)

    def _fresh(self, prefix: str) -> str:
        return f"__{prefix}{next(self._counter)}"

    # -- triple patterns ------------------------------------------------

    def _c_TriplePattern(self, tp: A.TriplePattern, graph_ctx,
                         native_filters=None) -> Compiled:
        p_lex = tp.p.iri if isinstance(tp.p, A.NamedNode) else None
        df = self.source.scan(p_lex, native_filters=native_filters) \
            if native_filters else self.source.scan(p_lex)
        df = self._graph_filter(df, graph_ctx)

        conds: List[Column] = []
        sel: Dict[str, Column] = {}
        pos_of: Dict[str, str] = {}
        for pos, term in (("s", tp.s), ("p", tp.p), ("o", tp.o)):
            col = df[pos]
            if isinstance(term, A.Var):
                if term.name in sel:  # repeated var in one pattern
                    conds.append(T.same_term(sel[term.name], col))
                else:
                    sel[term.name] = col
                    pos_of[term.name] = pos
            elif isinstance(term, A.NamedNode):
                if pos != "p" or p_lex is None:
                    conds.append(F.expr(_same_term_const_sql(pos, term)))
            elif isinstance(term, (A.Literal, A.QuotedTriple)):
                conds.append(F.expr(_same_term_const_sql(pos, term)))
            else:
                raise NotImplementedError(
                    f"{type(term).__name__} in triple pattern (bnodes are "
                    "replaced by variables during parsing)")
        if isinstance(graph_ctx, A.Var):
            if graph_ctx.name not in sel:
                sel[graph_ctx.name] = df["g"]
                pos_of[graph_ctx.name] = "g"
        if conds:
            df = df.where(reduce(lambda a, b: a & b, conds))
        # all-concrete pattern: one (empty) solution per matching quad
        ids: Dict[str, str] = {}
        id_cols: List[Column] = []
        if sel and self.use_ids:
            # materialize each var's identity key ONCE at the scan — reused
            # by every downstream join/distinct/minus/exists instead of
            # re-hashing the term per operator.  A store that persisted
            # dictionary keys at ingest (quad_store write_with_ids) serves
            # them straight from parquet; otherwise they're a map-side
            # 2×xxhash64 that Catalyst prunes when unused.
            for v, pos in pos_of.items():
                kc = df[f"{pos}_key"] if f"{pos}_key" in df.columns \
                    else self._jk_named(pos)
                ids[v] = _idname(v)
                id_cols.append(kc.alias(ids[v]))
        out = df.select(*[c.alias(v) for v, c in sel.items()], *id_cols) \
            if sel else df.select(F.lit(1).alias("__unit"))
        names = frozenset(sel)
        st: Dict[str, int] = {}
        nt: Dict[str, str] = {}
        if isinstance(tp.s, A.Var) and tp.s.name in sel:
            st[tp.s.name] = K.VC_NONLIT  # subjects are IRIs/bnodes
        if isinstance(tp.p, A.Var) and tp.p.name in sel:
            st[tp.p.name] = K.VC_NONLIT
        if isinstance(graph_ctx, A.Var):
            st[graph_ctx.name] = K.VC_NONLIT
        if p_lex is not None and isinstance(tp.o, A.Var):
            pt = getattr(self.source, "pred_types", None)
            if pt is not None:
                vc, nsub = pt(p_lex)
                if vc is not None:
                    st[tp.o.name] = vc
                if nsub is not None:
                    nt[tp.o.name] = nsub
        return Compiled(out, names, names, st, nt, ids)

    def _graph_filter(self, df: DataFrame, graph_ctx) -> DataFrame:
        from_g = getattr(self, "_from_graphs", ())
        from_n = getattr(self, "_from_named", ())
        dataset = bool(from_g or from_n)
        if graph_ctx is None:
            if dataset:
                # FROM list present: the default graph is the MERGE of the
                # listed graphs (the store's real default graph excluded);
                # FROM NAMED only ⇒ empty default graph
                if not from_g:
                    return df.where(F.lit(False))
                return df.where((df["g"]["kind"] == T.KIND_IRI)
                                & df["g"]["lex"].isin(*from_g))
            if self.default_graph_as_union:
                return df  # every graph participates (the RDF merge)
            return df.where(df["g"]["kind"] == T.KIND_DEFAULT_GRAPH)
        if isinstance(graph_ctx, A.NamedNode):
            cond = (df["g"]["kind"] == T.KIND_IRI) \
                & (df["g"]["lex"] == graph_ctx.iri)
            if dataset and graph_ctx.iri not in from_n:
                return df.where(F.lit(False))
            return df.where(cond)
        if isinstance(graph_ctx, A.Var):
            cond = df["g"]["kind"] != T.KIND_DEFAULT_GRAPH
            if dataset:
                if not from_n:
                    return df.where(F.lit(False))
                cond = cond & (df["g"]["kind"] == T.KIND_IRI) \
                    & df["g"]["lex"].isin(*from_n)
            return df.where(cond)
        raise TypeError(type(graph_ctx))

    def _c_PathPattern(self, pp: A.PathPattern, graph_ctx) -> Compiled:
        from ..operators.paths import compile_path
        return compile_path(self, pp, graph_ctx)

    def _c_BGP(self, bgp: A.BGP, graph_ctx,
               pending: Optional[List[A.Expression]] = None) -> Compiled:
        """Compile a BGP; ``pending`` filter conjuncts (from an enclosing
        FILTER, pushed here by _c_Filter — the algebra-level analog of the
        reference's sparopt push-filters pass) are applied as early as
        their variables are bound: single-pattern conjuncts directly on the
        pattern scan (⇒ parquet data filters), the rest right after the
        join that binds them (⇒ filter-before-next-join)."""
        pending = list(pending or [])
        if not bgp.patterns:
            df = self.spark.range(1).select(F.lit(1).alias("__unit"))
            out = Compiled(df, frozenset(), frozenset())
            return self._apply_conjuncts(out, pending, graph_ctx)

        stars, loose = self._extract_star_groups(list(bgp.patterns), graph_ctx,
                                                 pending)
        units: List = stars + (
            self._order_patterns(loose) if self.optimize else loose)

        def compile_one(u) -> Compiled:
            nonlocal pending
            # single-pattern scans get the same native-predicate pushdown
            # as star scans: conjuncts over just this pattern's object var
            # translate to raw-column predicates (parquet PushedFilters).
            # The scan applies every one; an exact one leaves `pending`,
            # so no term-level filter re-checks it, a hint stays there.
            nf = None
            if (isinstance(u, A.TriplePattern) and isinstance(u.p, A.NamedNode)
                    and isinstance(u.o, A.Var) and graph_ctx is None):
                nf, exact = self._native_filters(pending, u.p.iri, u.o.name)
                pending = [e for e in pending if e not in exact]
            if nf:
                c = self._c_TriplePattern(u, graph_ctx, native_filters=nf)
            else:
                c = u if isinstance(u, Compiled) else \
                    self.compile_pattern(u, graph_ctx)
            mine = [e for e in pending
                    if _expr_vars(e) <= c.vars and not _find_exists(e)]
            if mine:
                pending = [e for e in pending if e not in mine]
                c = self._apply_conjuncts(c, mine, graph_ctx)
            return c

        acc = compile_one(units[0])
        for u in units[1:]:
            # closure paths whose subject is already bound: seed the BFS
            # from the bound values instead of closing the whole relation
            if (isinstance(u, A.PathPattern)
                    and isinstance(u.path, (A.POneOrMore, A.PZeroOrMore))
                    and isinstance(u.s, A.Var) and u.s.name in acc.vars
                    and u.s.name in acc.certain):
                from ..operators.paths import compile_path
                seed_cols = [acc.df[u.s.name].alias("src")]
                if u.s.name in acc.ids:  # ship the materialized key too
                    seed_cols.append(acc.df[acc.ids[u.s.name]].alias("sk"))
                seeds = acc.df.select(*seed_cols).distinct()
                c = compile_path(self, u, graph_ctx, seeds=seeds)
                acc = self._join(acc, c, "inner")
            else:
                acc = self._join(acc, compile_one(u), "inner")
            ready = [e for e in pending
                     if _expr_vars(e) <= acc.vars and not _find_exists(e)]
            if ready:
                pending = [e for e in pending if e not in ready]
                acc = self._apply_conjuncts(acc, ready, graph_ctx)
        return self._apply_conjuncts(acc, pending, graph_ctx)

    def _native_filters(self, pending: List[A.Expression], p_lex: str,
                        var: str):
        """Raw-column predicates for the scan of ``?s <p_lex> ?var`` from
        the conjuncts in ``pending`` over ``?var`` alone: ([(op, value)],
        [conjuncts translated exactly]).  Both are empty when the
        source has no typed raw columns (no ``pred_types``)."""
        pt = getattr(self.source, "pred_types", None)
        if pt is None:
            return [], []
        vc, nsub = pt(p_lex)
        preds: List = []
        exact: List[A.Expression] = []
        for e in pending:
            if _expr_vars(e) == {var}:
                tr = _native_preds(e, var, vc, nsub)
                if tr:
                    preds.extend(tr[0])
                    if tr[1]:
                        exact.append(e)
        return preds, exact

    def _extract_star_groups(self, pats: List, graph_ctx,
                             pending: List[A.Expression]):
        """Property-table optimization: patterns sharing a subject variable
        whose concrete predicates all map to ONE source table compile to a
        single scan (source.star_scan) instead of an N-way self-join.
        This is the star-join shape every relational-over-RDF workload has
        (SELECT of many attributes of one entity) — at 100 TB it removes
        N-1 shuffles per entity star.  Conjuncts a star scan applies
        exactly are removed from ``pending``."""
        star_scan = getattr(self.source, "star_scan", None)
        if not self.optimize or star_scan is None or graph_ctx is not None:
            return [], pats
        from collections import defaultdict
        const_pred = getattr(self.source, "const_object_pred", None)
        groups = defaultdict(list)
        loose: List = []
        for tp in pats:
            if not (isinstance(tp, A.TriplePattern)
                    and isinstance(tp.p, A.NamedNode)):
                loose.append(tp)
                continue
            var_o = isinstance(tp.o, A.Var)
            const_o = isinstance(tp.o, (A.NamedNode, A.Literal))
            if isinstance(tp.s, A.Var) and (const_o or (
                    var_o and tp.o.name != tp.s.name)):
                groups[("v", tp.s.name)].append(tp)
            elif isinstance(tp.s, A.NamedNode) and (var_o or const_o):
                groups[("c", tp.s.iri)].append(tp)
            else:
                loose.append(tp)
        compiled: List[Compiled] = []
        for (skind, skey), tps in groups.items():
            proj = [tp for tp in tps if isinstance(tp.o, A.Var)]
            # constant-object members (?s <p> "const") become EXACT native
            # column predicates inside the scan instead of a separate scan
            # + self-join — the dominant point-lookup/segment-filter shape
            # in short-query mixes; untranslatable constants (non-canonical
            # lexicals, lang tags, type mismatches) stay on the term path
            consts, const_preds = [], []
            for tp in tps:
                if isinstance(tp.o, A.Var):
                    continue
                tr = None
                if const_pred is not None:
                    o = tp.o
                    tr = const_pred(tp.p.iri, "iri", o.iri) \
                        if isinstance(o, A.NamedNode) else \
                        const_pred(tp.p.iri, "lit", o.lex, o.datatype, o.lang)
                if tr is None:
                    loose.append(tp)
                else:
                    consts.append(tp)
                    const_preds.extend(
                        (tp.p.iri, op, val) for op, val in tr)
            ovars = [tp.o.name for tp in proj]
            subject_iri = skey if skind == "c" else None
            # collapse when it saves a join (≥2 members) or turns a
            # constant-subject star into a native pk point lookup
            if (len(set(ovars)) != len(ovars)
                    or (skind == "v" and len(proj) + len(consts) < 2)
                    or (skind == "c" and not proj)):
                loose.extend(proj)
                loose.extend(consts)
                continue
            # translate single-variable FILTER conjuncts into native
            # column predicates and hand them to the scan — they reach
            # parquet as PushedFilters (row-group pruning at 100 TB).  Once
            # the scan exists, exactly translated conjuncts leave
            # `pending`; hints keep their term-level filter above.
            nf: Dict[int, list] = {}
            exact: List[A.Expression] = []
            for i, tp in enumerate(proj):
                preds, ex = self._native_filters(pending, tp.p.iri, tp.o.name)
                if preds:
                    nf[i] = preds
                    exact.extend(ex)
            df = star_scan([tp.p.iri for tp in proj], native_filters=nf or None,
                           const_preds=const_preds or None,
                           subject_iri=subject_iri)
            if df is None:
                loose.extend(proj)
                loose.extend(consts)
                continue
            pending[:] = [e for e in pending if e not in exact]
            sel = ([df["s"].alias(skey)] if skind == "v" else []) + [
                df[f"o{i}"].alias(v) for i, v in enumerate(ovars)]
            ids: Dict[str, str] = {}
            if self.use_ids:
                keyed = ([(skey, "s")] if skind == "v" else []) + [
                    (vv, f"o{i}") for i, vv in enumerate(ovars)]
                for v, cn in keyed:
                    ids[v] = _idname(v)
                    sel.append(self._jk_named(cn).alias(ids[v]))
            names = frozenset(([skey] if skind == "v" else []) + ovars)
            st: Dict[str, int] = {skey: K.VC_NONLIT} if skind == "v" else {}
            nt: Dict[str, str] = {}
            pt = getattr(self.source, "pred_types", None)
            if pt is not None:
                for tp in proj:
                    vc, nsub = pt(tp.p.iri)
                    if vc is not None:
                        st[tp.o.name] = vc
                    if nsub is not None:
                        nt[tp.o.name] = nsub
            compiled.append(Compiled(df.select(*sel), names, names, st, nt,
                                     ids))
        return compiled, loose

    def _apply_conjuncts(self, c: Compiled, conjuncts: List[A.Expression],
                         graph_ctx=None) -> Compiled:
        # graph_ctx matters only for conjuncts containing EXISTS: their
        # sub-patterns must evaluate against the ACTIVE graph (§13.3)
        for e in conjuncts:
            c = self._c_Filter(A.Filter(e, _Precompiled(c)), graph_ctx)
        return c

    def _order_patterns(self, pats: List) -> List:
        """Greedy join ordering by bound-term selectivity — the
        reference's heuristic (``lib/sparopt/src/optimizer.rs`` join
        reordering): start with the most-bound pattern, then repeatedly
        pick the most-bound pattern connected to the bound-variable set
        (avoids Cartesian products).  Equally-bound candidates tie-break
        on ESTIMATED CARDINALITY when the source exposes zero-cost
        statistics (``source.pred_card``: parquet-footer row counts, no
        Spark job) — smaller relation first shrinks every downstream
        shuffle, and at 100 TB the per-predicate size spread is many
        orders of magnitude, past what AQE can recover after the fact
        (selectivity-guided BGP ordering per Stocker et al., WWW 2008).
        AQE still fixes residual skew at runtime."""
        def bound_score(tp, bound_vars) -> int:
            if isinstance(tp, A.PathPattern):
                terms = [tp.s, tp.o]
                score = 1  # paths are less selective than plain patterns
            else:
                terms = [tp.s, tp.p, tp.o]
                score = 0
            for t in terms:
                if not isinstance(t, A.Var) or t.name in bound_vars:
                    score += 2
            return score

        card_fn = getattr(self.source, "pred_card", None)
        unknown = 1 << 62

        def est_card(tp) -> int:
            if (card_fn is None or not isinstance(tp, A.TriplePattern)
                    or not isinstance(tp.p, A.NamedNode)):
                return unknown
            n = card_fn(tp.p.iri)
            return n if n is not None else unknown

        remaining = list(pats)
        out: List = []
        bound: set = set()
        while remaining:
            connected = [tp for tp in remaining
                         if not out or (A.pattern_vars(tp) & bound)]
            pool = connected or remaining
            best = max(pool,
                       key=lambda tp: (bound_score(tp, bound), -est_card(tp)))
            out.append(best)
            remaining.remove(best)
            bound |= A.pattern_vars(best)
        return out

    # -- binary operators ----------------------------------------------

    def _join(self, l: Compiled, r: Compiled, how: str,
              extra_expr: Optional[A.Expression] = None,
              graph_ctx=None) -> Compiled:
        """Compatibility-aware join (SPARQL §18.3 Join/LeftJoin/Minus core)."""
        shared = sorted(l.vars & r.vars)
        rdf = r.df
        ren = {v: f"{v}__r" for v in shared}
        ren_id = {v: f"{_idname(v)}__r" for v in shared if v in r.ids}
        for v, rv in ren.items():
            rdf = rdf.withColumnRenamed(v, rv)
        for v, rv in ren_id.items():
            rdf = rdf.withColumnRenamed(r.ids[v], rv)

        conds: List[Column] = []
        for v in shared:
            lc, rc = l.df[v], rdf[ren[v]]
            # join on the materialized identity key when a side carries
            # one (computed once at its scan) instead of re-hashing the
            # term per join — the dictionary-encoded id path (§1.4 M7+)
            lk = l.df[l.ids[v]] if v in l.ids else self._jk(lc)
            rk = rdf[ren_id[v]] if v in r.ids else self._jk(rc)
            if v in l.certain and v in r.certain:
                conds.append(lk == rk)
            else:
                conds.append(lc.isNull() | rc.isNull() | (lk == rk))

        # merged-view environment for expressions scoping over both sides
        env: Dict[str, Column] = {}
        for v in l.vars:
            env[v] = F.coalesce(l.df[v], rdf[ren[v]]) if v in shared else l.df[v]
        for v in r.vars - l.vars:
            env[v] = rdf[v]
        if extra_expr is not None:
            # type env must reflect THIS join's operands (stale env from a
            # previous expression site could claim wrong value classes)
            self._env_st = _merge_types(l.vars, l.stypes, r.vars, r.stypes)
            self._env_nt = _merge_types(l.vars, l.ntypes, r.vars, r.ntypes)
            cond_expr = K.ebv(self.compile_expr(extra_expr, env))
            conds.append(F.coalesce(cond_expr, F.lit(False)))

        cond = reduce(lambda a, b: a & b, conds) if conds else _true()
        joined = l.df.join(rdf, cond, how)

        if how in ("leftsemi", "leftanti"):
            return Compiled(joined, l.vars, l.certain, l.stypes, l.ntypes,
                            l.ids)

        out_cols = [env[v].alias(v) for v in sorted(l.vars | r.vars)]
        if not out_cols:
            out_cols = [F.lit(1).alias("__unit")]
        # propagate identity keys: merged for shared vars (null iff the
        # merged term is null), passthrough for one-sided vars
        out_ids: Dict[str, str] = {}
        for v in sorted(l.vars | r.vars):
            if v in shared:
                if v not in l.ids and v not in r.ids:
                    continue
                lkg = self._key_col(l.df[v],
                               l.df[l.ids[v]] if v in l.ids else None)
                rkg = self._key_col(rdf[ren[v]],
                               rdf[ren_id[v]] if v in r.ids else None)
                key = F.coalesce(lkg, rkg)
            elif v in l.ids:
                key = l.df[l.ids[v]]
            elif v in r.ids:
                key = rdf[r.ids[v]]
            else:
                continue
            out_ids[v] = _idname(v)
            out_cols.append(key.alias(out_ids[v]))
        out = joined.select(*out_cols)
        if how == "inner":
            certain = l.certain | r.certain
        elif how == "left":
            certain = l.certain
        else:
            certain = frozenset()
        st = _merge_types(l.vars, l.stypes, r.vars, r.stypes)
        nt = _merge_types(l.vars, l.ntypes, r.vars, r.ntypes)
        return Compiled(out, l.vars | r.vars, certain, st, nt, out_ids)

    def _c_Join(self, n: A.Join, graph_ctx) -> Compiled:
        # bind-join: a SERVICE operand joined with a local one compiles
        # AFTER its partner so the partner's bindings can ship to the
        # endpoint as a VALUES seed (_service_values)
        if self.optimize and isinstance(n.right, A.Service) \
                and not isinstance(n.left, A.Service):
            left = self.compile_pattern(n.left, graph_ctx)
            return self._join(
                left, self._c_Service(n.right, graph_ctx, bind_from=left),
                "inner")
        if self.optimize and isinstance(n.left, A.Service) \
                and not isinstance(n.right, A.Service):
            right = self.compile_pattern(n.right, graph_ctx)
            return self._join(
                self._c_Service(n.left, graph_ctx, bind_from=right),
                right, "inner")
        return self._join(self.compile_pattern(n.left, graph_ctx),
                          self.compile_pattern(n.right, graph_ctx), "inner")

    def _c_LeftJoin(self, n: A.LeftJoin, graph_ctx) -> Compiled:
        # the OPTIONAL-embedded FILTER must be part of the join condition,
        # not a post-filter (SPARQL §8.3; reference GraphPattern::LeftJoin)
        if n.expr is not None and _find_exists(n.expr):
            return self._c_leftjoin_exists(n, graph_ctx)
        fused = self._try_optional_star_fuse(n, graph_ctx)
        if fused is not None:
            return fused
        left = self.compile_pattern(n.left, graph_ctx)
        if self.optimize and isinstance(n.right, A.Service):
            # OPTIONAL { SERVICE … }: the seed only drops remote rows no
            # left row could join — unmatched left rows keep their NULLs
            # either way, so the left-join result is unchanged
            right = self._c_Service(n.right, graph_ctx, bind_from=left)
        else:
            right = self.compile_pattern(n.right, graph_ctx)
        return self._join(left, right, "left", extra_expr=n.expr)

    def _try_optional_star_fuse(self, n: A.LeftJoin,
                                graph_ctx) -> Optional[Compiled]:
        """LeftJoin (chain) of stars on the SAME subject over ONE source
        table → a single scan with nullable optional columns (the
        "optional property table" rewrite): ``?s p1 ?a OPTIONAL { ?s p2
        ?b FILTER(e) } OPTIONAL { ?s p3 ?c }`` keeps every left row and
        binds each optional group only where its columns are present AND
        its filter holds — expressible as per-row projections because
        the source guarantees at most one object per (subject,
        predicate) (``single_valued_stars``; a multi-valued store would
        need the real left joins for their multiplicities).  Replaces
        k+1 scans + k left-outer joins (an exchange per side at scale)
        with zero joins.  Later filters see EARLIER optional vars in
        their post-fusion (nulled-when-unmatched) form, matching the
        nested LeftJoin evaluation order."""
        star_scan = getattr(self.source, "star_scan", None)
        if (not self.optimize or star_scan is None or graph_ctx is not None
                or not getattr(self.source, "single_valued_stars", False)):
            return None
        # flatten LeftJoin(LeftJoin(base, O1, e1), O2, e2) inner-first
        opts: List = []
        cur = n
        while isinstance(cur, A.LeftJoin):
            if cur.expr is not None and _find_exists(cur.expr):
                return None
            if not isinstance(cur.right, A.BGP) or not cur.right.patterns:
                return None
            opts.append((cur.right, cur.expr))
            cur = cur.left
        opts.reverse()
        if not isinstance(cur, A.BGP) or not cur.patterns:
            return None

        def star_shape(pats):
            svar, proj, consts = None, [], []
            for tp in pats:
                if not (isinstance(tp, A.TriplePattern)
                        and isinstance(tp.s, A.Var)
                        and isinstance(tp.p, A.NamedNode)):
                    return None
                if svar is None:
                    svar = tp.s.name
                elif tp.s.name != svar:
                    return None
                if isinstance(tp.o, A.Var):
                    if tp.o.name == svar:
                        return None
                    proj.append(tp)
                elif isinstance(tp.o, (A.NamedNode, A.Literal)):
                    consts.append(tp)
                else:
                    return None
            return svar, proj, consts

        lsh = star_shape(cur.patterns)
        if lsh is None:
            return None
        lsvar, lproj, lconsts = lsh
        groups = []                    # [(proj_patterns, expr)] per OPTIONAL
        seen = {lsvar} | {tp.o.name for tp in lproj}
        for rbgp, rexpr in opts:
            rsh = star_shape(rbgp.patterns)
            if rsh is None:
                return None
            rsvar, rproj, rconsts = rsh
            # each optional must share exactly the subject, bind only
            # fresh vars, and carry no constant members
            if rsvar != lsvar or rconsts or not rproj:
                return None
            rv = [tp.o.name for tp in rproj]
            if len(set(rv)) != len(rv) or seen & set(rv):
                return None
            seen |= set(rv)
            groups.append((rproj, rexpr))
        lovars = [tp.o.name for tp in lproj]
        if len(set(lovars)) != len(lovars):
            return None
        const_pred = getattr(self.source, "const_object_pred", None)
        const_preds = []
        for tp in lconsts:
            tr = None
            if const_pred is not None:
                o = tp.o
                tr = const_pred(tp.p.iri, "iri", o.iri) \
                    if isinstance(o, A.NamedNode) else \
                    const_pred(tp.p.iri, "lit", o.lex, o.datatype, o.lang)
            if tr is None:
                return None
            const_preds.extend((tp.p.iri, op, val) for op, val in tr)
        all_proj = lproj + [tp for g, _e in groups for tp in g]
        p_lexes = [tp.p.iri for tp in all_proj]
        opt_idx = frozenset(range(len(lproj), len(p_lexes)))
        try:
            df = star_scan(p_lexes, const_preds=const_preds or None,
                           optional_idx=opt_idx)
        except TypeError:  # source without optional-fusion support
            return None
        if df is None:
            return None
        st: Dict[str, int] = {lsvar: K.VC_NONLIT}
        nt: Dict[str, str] = {}
        pt = getattr(self.source, "pred_types", None)
        if pt is not None:
            for tp in all_proj:
                vc, nsub = pt(tp.p.iri)
                if vc is not None:
                    st[tp.o.name] = vc
                if nsub is not None:
                    nt[tp.o.name] = nsub
        # §8.3 per group, inner-to-outer: μ2 exists iff every column of
        # the group is present AND the embedded filter holds over the
        # merged row (error ⇒ false).  env carries EARLIER groups'
        # post-fusion (nulled-when-unmatched) columns so a later filter
        # referencing an unmatched earlier optional sees it unbound.
        # Materialize each group's wrapped (nulled-when-unmatched)
        # columns with ONE narrow Project per group rather than carrying
        # `succ` as a shared inline expression: inlined, the compiled
        # filter tree is duplicated into every wrapped value AND id
        # column, and Spark's EAGER per-transformation analysis walks the
        # multiplied tree (measured 0.7 s of a 0.8 s compile on a
        # 2-OPTIONAL star).  After materialization every later reference
        # is a plain column ref; Catalyst's CollapseProject folds the k
        # extra Projects back into one.
        all_names = ["s"] + [f"o{i}" for i in range(len(all_proj))]
        opt_members: List[Tuple[str, int]] = []       # (var, idx)
        base = len(lovars)
        for gproj, gexpr in groups:
            idxs = list(range(base, base + len(gproj)))
            base += len(gproj)
            succ = reduce(lambda a, b: a & b,
                          [df[f"o{i}"].isNotNull() for i in idxs])
            if gexpr is not None:
                genv: Dict[str, Column] = {lsvar: df["s"]}
                for i, v in enumerate(lovars):
                    genv[v] = df[f"o{i}"]
                for v, i in opt_members:              # earlier groups:
                    genv[v] = df[f"o{i}"]             # materialized form
                for i, tp in zip(idxs, gproj):
                    genv[tp.o.name] = df[f"o{i}"]     # own group: raw
                self._env_st = dict(st)
                self._env_nt = dict(nt)
                # SSA, not plain compile_expr: inlined, the nested
                # ebv/error wrappers multiply the constant-term subtrees
                # (a 1-comparison filter analyzed to a 273 KB tree and
                # 0.8 s of eager analysis)
                df, cond, _temps = self.compile_expr_ssa(df, gexpr, genv)
                succ = succ & F.coalesce(
                    K.ebv_typed(cond, self._stype(gexpr)), F.lit(False))
            wrap = {f"o{i}": F.when(succ, df[f"o{i}"]).alias(f"o{i}")
                    for i in idxs}
            # temps are dropped here: the wrap Project selects only the
            # star columns
            df = df.select(*[wrap.get(c, df[c]) for c in all_names])
            opt_members.extend((tp.o.name, i) for i, tp in zip(idxs, gproj))
        sel = [df["s"].alias(lsvar)] + [
            df[f"o{i}"].alias(v) for i, v in enumerate(lovars)] + [
            df[f"o{i}"].alias(v) for v, i in opt_members]
        ids: Dict[str, str] = {}
        if self.use_ids:
            ids[lsvar] = _idname(lsvar)
            sel.append(self._jk_named("s").alias(ids[lsvar]))
            for i, v in enumerate(lovars):
                ids[v] = _idname(v)
                sel.append(self._jk_named(f"o{i}").alias(ids[v]))
            for v, i in opt_members:
                ids[v] = _idname(v)
                # o{i} is already the wrapped term, so key-of-null is
                # guarded by its own nullness
                sel.append(F.when(df[f"o{i}"].isNotNull(),
                                  self._jk_named(f"o{i}"))
                           .alias(ids[v]))
        names = frozenset(seen)
        certain = frozenset([lsvar] + lovars)
        return Compiled(df.select(*sel), names, certain, st, nt, ids)

    def _c_leftjoin_exists(self, n: A.LeftJoin, graph_ctx) -> Compiled:
        """LeftJoin whose embedded filter contains EXISTS/NOT EXISTS.

        The marker-join decorrelation needs a DataFrame to hang markers
        on, which a join *condition* does not have, so decompose per the
        §8.3 definition:  passing = Filter(expr, Join(L, R));  result =
        passing ∪ { μ1 ∈ L with no passing extension }, the complement
        via an anti-join of L against passing on a per-row id.

        The id (not a value projection of L's variables) is essential:
        ``passing``'s shared vars are coalesce(l, r)-merged, so an L row
        whose unbound shared var got bound by its extension projects to
        a *different* tuple than the L row itself — a value anti-join
        would emit that bare L row in addition to its extension, and
        wrongly drop any distinct L row that happens to equal the merged
        projection.  The id is pinned with a lazy localCheckpoint so
        both branches (passing and complement) see identical ids."""
        l0 = self.compile_pattern(n.left, graph_ctx)
        r = self.compile_pattern(n.right, graph_ctx)
        rid = self._fresh("ljrow")
        ldf = l0.df.withColumn(rid, F.monotonically_increasing_id()) \
                   .transform(pin)
        l = Compiled(ldf, l0.vars | {rid}, l0.certain | {rid},
                     l0.stypes, l0.ntypes, l0.ids)
        joined = self._join(l, r, "inner")
        inner, env, markers = self._attach_exists(joined, n.expr, graph_ctx)
        self._set_type_env(inner)
        df, cond, temps = self.compile_expr_ssa(inner.df, n.expr, env)
        flag = F.coalesce(K.ebv_typed(cond, self._stype(n.expr)),
                          F.lit(False))
        passing = df.where(flag)
        drop = markers + temps
        if drop:
            passing = passing.drop(*drop)
        allvars = sorted(l0.vars | r.vars)
        pids = passing.select(rid).distinct()
        comp = ldf.join(pids, ldf[rid] == pids[rid], "leftanti") \
                  .drop(rid)
        passing = passing.select(*allvars)
        for v in sorted(r.vars - l0.vars):
            comp = comp.withColumn(v, B.err())
        out = passing.unionByName(comp.select(*allvars))
        st = _merge_types(l0.vars, l0.stypes, r.vars, r.stypes)
        nt = _merge_types(l0.vars, l0.ntypes, r.vars, r.ntypes)
        return Compiled(out, l0.vars | r.vars, l0.certain, st, nt)

    def _c_Minus(self, n: A.Minus, graph_ctx) -> Compiled:
        l = self.compile_pattern(n.left, graph_ctx)
        r = self.compile_pattern(n.right, graph_ctx)
        shared = sorted(l.vars & r.vars)
        if not shared:
            # disjoint domains: MINUS removes nothing (spec §8.3.3)
            return l
        # the anti-join only needs the right side's term IDENTITIES:
        # project to 16-byte keys before the distinct, so the exchange
        # ships fixed-width keys instead of full term structs (lex
        # strings included) — the dictionary-encoded id path (§1.4 M7+).
        # Key NULL ⟺ term NULL (the _out_id invariant), so the
        # compatibility null-checks can test the key directly.
        rkeys = r.df.select(
            *[self._out_id(r, v).alias(f"__mk_{v}") for v in shared]).distinct()
        compat = []
        overlap = []
        for v in shared:
            lc, rk = l.df[v], rkeys[f"__mk_{v}"]
            lk = l.df[l.ids[v]] if v in l.ids else self._jk(lc)
            compat.append(lc.isNull() | rk.isNull() | (lk == rk))
            overlap.append(lc.isNotNull() & rk.isNotNull())
        cond = reduce(lambda a, b: a & b, compat) \
            & reduce(lambda a, b: a | b, overlap)
        out = l.df.join(rkeys, cond, "leftanti")
        return Compiled(out, l.vars, l.certain, l.stypes, l.ntypes, l.ids)

    def _c_Union_(self, n: A.Union_, graph_ctx) -> Compiled:
        l = self.compile_pattern(n.left, graph_ctx)
        r = self.compile_pattern(n.right, graph_ctx)
        lv, rv = l.vars, r.vars
        ldf, rdf = l.df, r.df
        for v in sorted(rv - lv):
            ldf = ldf.withColumn(v, B.err())
        for v in sorted(lv - rv):
            rdf = rdf.withColumn(v, B.err())
        # identity keys survive a union when every branch supplies them:
        # passthrough where materialized, guarded compute where the branch
        # binds the var without a key, typed-NULL where it pads
        id_vars = sorted(set(l.ids) | set(r.ids))
        for v in id_vars:
            if v not in l.ids:
                ldf = ldf.withColumn(
                    _idname(v),
                    self._gk_named(v) if v in lv
                    else F.lit(None).cast(self._id_t))
            if v not in r.ids:
                rdf = rdf.withColumn(
                    _idname(v),
                    self._gk_named(v) if v in rv
                    else F.lit(None).cast(self._id_t))
        out = ldf.unionByName(rdf.select(*ldf.columns))
        certain = (l.certain & r.certain)
        st = _merge_types(lv, l.stypes, rv, r.stypes)
        nt = _merge_types(lv, l.ntypes, rv, r.ntypes)
        return Compiled(out, lv | rv, certain, st, nt,
                        {v: _idname(v) for v in id_vars})

    # -- unary operators -----------------------------------------------

    def _c_Filter(self, n: A.Filter, graph_ctx) -> Compiled:
        if isinstance(n.inner, A.BGP):
            # always route Filter-over-BGP through the BGP compiler so each
            # conjunct lands on the earliest join operand that binds its vars
            return self._c_BGP(n.inner, graph_ctx, pending=_split_and(n.expr))
        inner = self.compile_pattern(n.inner, graph_ctx)
        inner, env, markers = self._attach_exists(inner, n.expr, graph_ctx)
        self._set_type_env(inner)
        df, cond, temps = self.compile_expr_ssa(inner.df, n.expr, env)
        flag = F.coalesce(K.ebv_typed(cond, self._stype(n.expr)), F.lit(False))
        df = df.where(flag)
        drop = markers + temps
        if drop:
            df = df.drop(*drop)
        return Compiled(df, inner.vars, inner.certain,
                        inner.stypes, inner.ntypes, inner.ids)

    def _c_Extend(self, n: A.Extend, graph_ctx) -> Compiled:
        inner = self.compile_pattern(n.inner, graph_ctx)
        if n.var.name in inner.vars:
            # SPARQL §10.1/§18.2.1: the BIND / SELECT-expression target
            # must not already be in scope — a syntax error, not a rebind
            raise ValueError(
                f"variable ?{n.var.name} is already in scope and cannot "
                "be the target of BIND / AS")
        inner, env, markers = self._attach_exists(inner, n.expr, graph_ctx)
        self._set_type_env(inner)
        df, col, temps = self.compile_expr_ssa(inner.df, n.expr, env)
        if not isinstance(n.expr, (A.EVar, A.ETerm)):
            col = _opaque(col)
        df = df.withColumn(n.var.name, col)
        drop = markers + temps
        if drop:
            df = df.drop(*drop)
        st = dict(inner.stypes)
        nt = dict(inner.ntypes)
        vt = self._stype(n.expr)
        if vt is not None:
            st[n.var.name] = vt
        vn = self._ntype(n.expr)
        if vn is not None:
            nt[n.var.name] = vn
        return Compiled(df, inner.vars | {n.var.name}, inner.certain, st, nt,
                        inner.ids)

    def _c_Values(self, n: A.Values, graph_ctx) -> Compiled:
        # Its rows are built in the JVM: one JSON string literal that
        # Catalyst parses and folds once (from_json; a SQL named_struct
        # per cell took seconds to analyze at 10,000 rows), exploded over
        # a one-partition, one-row range.  createDataFrame would plan a
        # Scan ExistingRDD, a Python-RDD job for every run.  A VALUES
        # block is literal query text, so it is small by construction and
        # up to 10,000 rows it gets the broadcast hint (without it
        # P4-shaped queries paid a SortMergeJoin with two exchanges+sorts
        # against a 2-row inline table, plans/r09/P4_values_before.txt).
        # Programmatic clients can inline larger binding lists; there the
        # planner picks the join (a 1e6-row VALUES degrades to
        # SortMergeJoin instead of an executor-wide broadcast).
        names = frozenset(v.name for v in n.vars)
        certain = frozenset(
            v.name for i, v in enumerate(n.vars)
            if all(row[i] is not None for row in n.rows))
        schema = StructType([StructField(v.name, T.TERM_SCHEMA)
                             for v in n.vars])
        doc = json.dumps([{v.name: _term_json(t)
                           for v, t in zip(n.vars, row)}
                          for row in n.rows])
        df = self.spark.range(1, numPartitions=1).select(F.inline(
            F.from_json(F.lit(doc), ArrayType(schema),
                        {"timestampFormat": _VALUES_TS_PATTERN})))
        if len(n.rows) <= 10000:
            df = df.hint("broadcast")
        return Compiled(df, names, certain)

    def _c_Graph(self, n: A.Graph, graph_ctx) -> Compiled:
        sol = self.compile_pattern(n.inner, n.name)
        if isinstance(n.name, A.Var) and n.name.name not in sol.vars:
            # §13.3: GRAPH ?g P is the union over the dataset's NAMED
            # graphs of eval(D[n], P) ⋈ {g→n}.  When P contains no quad
            # pattern (e.g. the empty group), no scan ever binds ?g —
            # bind it here by crossing with the distinct named-graph
            # names (dataset-restricted via the same _graph_filter the
            # scans use).  Named-graph counts are small; the distinct is
            # one shuffle of g terms only.
            g = self._graph_filter(self.source.scan(None), n.name)
            names = g.select(g["g"].alias(n.name.name)).distinct()
            return Compiled(sol.df.crossJoin(names),
                            sol.vars | {n.name.name},
                            sol.certain | {n.name.name},
                            stypes=dict(sol.stypes),
                            ntypes=dict(sol.ntypes), ids=dict(sol.ids))
        return sol

    # pluggable federation (J7): mirrors spareval's ServiceHandler
    # (lib/spareval/src/service.rs) — a handler takes (spark, pattern)
    # and returns a DataFrame with one TERM column per variable.
    SERVICE_HANDLERS: Dict[str, "object"] = {}

    @classmethod
    def register_service_handler(cls, iri: str, handler) -> None:
        cls.SERVICE_HANDLERS[iri] = handler

    # bind-join seed caps: one protocol REQUEST ships at most
    # MAX_SERVICE_BINDINGS distinct bindings; local sides larger than
    # that are shipped as sequential VALUES chunks (one request each, the
    # FedX bound-join batching) up to MAX_SERVICE_TOTAL_BINDINGS, beyond
    # which the plain evaluate-then-join runs instead — at that point the
    # local side is no longer selective enough for probing to beat one
    # bulk download
    MAX_SERVICE_BINDINGS = 1000
    MAX_SERVICE_TOTAL_BINDINGS = 10000

    def _service_values(self, n: A.Service,
                        bind_from) -> "Optional[List[str]]":
        """FedX-style bound join (Schwarte et al., ISWC 2011): when a
        SERVICE pattern joins a local operand, ship the local side's
        DISTINCT bindings of their shared variables as a VALUES block so
        the endpoint evaluates only compatible solutions — a selective
        local side turns "download the remote relation" into a probe.

        Multiplicity-safety: only CERTAINLY-BOUND shared vars are
        shipped (every VALUES row fully ground, no UNDEF).  Then for any
        remote solution μ and local row l, exactly one VALUES row (l's
        own projection) can merge into the μ∪v the local join accepts,
        so per-(l, μ) multiplicities match the unseeded evaluation —
        with UNDEF rows a single μ could merge with several v and
        duplicate.  Blank nodes / quoted triples abort (not shippable).
        The |shared-bindings| collect is driver-side and capped.

        Snapshot semantics: the seed collects the local operand AT
        COMPILE TIME.  For the engine's own stores this is sound — every
        mutation bumps ``source.generation``, which keys the plan cache,
        so a stale compiled plan is never re-executed.  For mutable
        EXTERNAL sources whose generation never changes (e.g.
        ``Store.from_dataframes`` over a live JDBC/Delta view), re-running
        the compiled DataFrame after upstream rows appear would probe the
        endpoint with the OLD seed and drop matches for the new local
        rows — re-compile (``use_cache=False``) after upstream changes,
        or disable seeding via ``service_bind_join=False``."""
        if bind_from is None or n.raw is None or not self.service_bind_join:
            return None
        shared = sorted(frozenset(bind_from.certain)
                        & A.pattern_vars(n.inner))
        if not shared:
            return None
        from ..sources.service_http import values_clause
        rows = (bind_from.df.select(*shared).distinct()
                .limit(self.MAX_SERVICE_TOTAL_BINDINGS + 1).collect())
        if not rows or len(rows) > self.MAX_SERVICE_TOTAL_BINDINGS:
            return None
        chunks: List[str] = []
        for i in range(0, len(rows), self.MAX_SERVICE_BINDINGS):
            vc = values_clause(shared, rows[i:i + self.MAX_SERVICE_BINDINGS])
            if vc is None:  # unshippable term anywhere ⇒ unseeded join
                return None
            chunks.append(vc)
        return chunks

    def _c_Service(self, n: A.Service, graph_ctx,
                   bind_from: "Optional[Compiled]" = None) -> Compiled:
        if isinstance(n.name, A.Var):
            # variable SERVICE target: evaluate the inner pattern against
            # every REGISTERED endpoint, binding the var to the endpoint
            # IRI (the practical federation semantics — an engine can only
            # call endpoints it knows how to reach)
            parts: List[Compiled] = []
            for iri in sorted(self.SERVICE_HANDLERS):
                sub = self._c_Service(
                    A.Service(A.NamedNode(iri), n.inner, n.silent,
                              raw=n.raw, prefixes=n.prefixes), graph_ctx,
                    bind_from=bind_from)
                df = sub.df.withColumn(
                    n.name.name, _const_term_col(A.NamedNode(iri)))
                parts.append(Compiled(df, sub.vars | {n.name.name},
                                      sub.certain | {n.name.name}))
            if not parts:
                if n.silent:
                    df = self.spark.range(1).select(F.lit(1).alias("__unit"))
                    return Compiled(df, frozenset(), frozenset())
                raise ValueError("variable SERVICE target with no "
                                 "registered handlers")
            all_vars = frozenset().union(*(p.vars for p in parts))
            dfs = []
            for p in parts:
                df = p.df
                for v in sorted(all_vars - p.vars):
                    df = df.withColumn(v, B.err())
                dfs.append(df.select(*sorted(all_vars)))
            out = reduce(lambda x, y: x.unionByName(y), dfs)
            certain = frozenset.intersection(*(p.certain for p in parts))
            return Compiled(out, all_vars, certain)
        handler = self.SERVICE_HANDLERS.get(n.name.iri)
        if handler is None and n.name.iri.startswith(("http://", "https://")):
            # default SPARQL-Protocol client for unregistered http(s)
            # endpoints (upstream's built-in service client)
            from ..sources.service_http import HttpServiceHandler
            handler = HttpServiceHandler(n.name.iri)
        if handler is None:
            if n.silent:  # SILENT: failure ⇒ single empty solution (§13.2)
                df = self.spark.range(1).select(F.lit(1).alias("__unit"))
                return Compiled(df, frozenset(), frozenset())
            raise ValueError(
                f"no service handler registered for <{n.name.iri}> "
                "(Compiler.register_service_handler)")
        try:
            df = self._call_handler(handler, n, bind_from=bind_from)
        except Exception:
            if n.silent:  # network/parse failure under SILENT (§13.2)
                df = self.spark.range(1).select(F.lit(1).alias("__unit"))
                return Compiled(df, frozenset(), frozenset())
            raise
        names = frozenset(df.columns)
        return Compiled(df, names, frozenset())

    def _call_handler(self, handler, n: A.Service,
                      bind_from: "Optional[Compiled]" = None) -> DataFrame:
        """Invoke a service handler, passing the raw pattern source (and
        the bind-join VALUES seed, when one applies) to handlers that
        accept them (HttpServiceHandler); legacy handlers keep the plain
        ``(spark, pattern)`` protocol."""
        import inspect
        try:
            params = inspect.signature(handler).parameters
            has_kwargs = any(p.kind is inspect.Parameter.VAR_KEYWORD
                             for p in params.values())
            takes_raw = "raw" in params or has_kwargs
            takes_values = "values" in params or has_kwargs
        except (TypeError, ValueError):
            takes_raw = takes_values = False
        if takes_raw:
            kw = {"raw": n.raw, "prefixes": n.prefixes}
            if not takes_values:
                return handler(self.spark, n.inner, **kw)
            seeds = self._service_values(n, bind_from)
            if not seeds:
                return handler(self.spark, n.inner, values=None, **kw)
            # chunked bound join: each distinct seed row lives in exactly
            # one chunk, so the bag-union of per-chunk responses equals
            # the single-request response row for row.  Chunks are
            # independent HTTP round-trips → ship them through a bounded
            # thread pool (futures gathered in chunk order, so the union
            # plan is deterministic; the RESULT is a bag either way).
            if len(seeds) > 1 and self.service_pool > 1:
                from concurrent.futures import ThreadPoolExecutor
                with ThreadPoolExecutor(
                        max_workers=min(self.service_pool,
                                        len(seeds))) as pool:
                    parts = list(pool.map(
                        lambda vc: handler(self.spark, n.inner,
                                           values=vc, **kw), seeds))
            else:
                parts = [handler(self.spark, n.inner, values=vc, **kw)
                         for vc in seeds]
            return reduce(
                lambda x, y: x.unionByName(y, allowMissingColumns=True),
                parts)
        return handler(self.spark, n.inner)

    def _c_Project(self, n: A.Project, graph_ctx) -> Compiled:
        inner = self.compile_pattern(n.inner, graph_ctx)
        cols = [(inner.df[v.name] if v.name in inner.vars else B.err())
                .alias(v.name) for v in n.vars]
        names = frozenset(v.name for v in n.vars)
        # keep the projected vars' identity keys alive across the
        # projection (a subselect's output often joins right back)
        keep_ids = {v: inner.ids[v] for v in names if v in inner.ids}
        cols.extend(inner.df[c] for c in keep_ids.values())
        return Compiled(inner.df.select(*cols), names,
                        inner.certain & names,
                        {k: v for k, v in inner.stypes.items() if k in names},
                        {k: v for k, v in inner.ntypes.items() if k in names},
                        keep_ids)

    def _c_Distinct(self, n: A.Distinct, graph_ctx) -> Compiled:
        inner = self.compile_pattern(n.inner, graph_ctx)
        return replace(inner, df=inner.df.distinct())

    def _c_Reduced(self, n: A.Reduced, graph_ctx) -> Compiled:
        # REDUCED permits any level of duplicate elimination (§15.3.1)
        inner = self.compile_pattern(n.inner, graph_ctx)
        return replace(inner, df=inner.df.distinct())

    def _c_Slice(self, n: A.Slice, graph_ctx) -> Compiled:
        inner = self.compile_pattern(n.inner, graph_ctx)
        df = inner.df
        if n.offset:
            df = df.offset(n.offset)
        if n.limit is not None:
            df = df.limit(n.limit)
        return replace(inner, df=df)

    def _c_OrderBy(self, n: A.OrderBy, graph_ctx) -> Compiled:
        inner = self.compile_pattern(n.inner, graph_ctx)
        env = {v: inner.df[v] for v in inner.vars}
        self._set_type_env(inner)
        df = inner.df
        sort_cols = []
        temps: List[str] = []
        for c in n.conds:
            df, col, ts = self.compile_expr_ssa(df, c.expr, env)
            temps.extend(ts)
            k = _sort_key_typed(col, self._stype(c.expr))
            sort_cols.append(k.asc() if c.asc else k.desc())
        df = df.orderBy(*sort_cols)
        if temps:
            df = df.drop(*temps)
        return replace(inner, df=df)

    # -- grouping / aggregation ----------------------------------------

    def _c_Group(self, n: A.Group, graph_ctx) -> Compiled:
        inner = self.compile_pattern(n.inner, graph_ctx)
        df = inner.df
        env = {v: df[v] for v in inner.vars}
        self._set_type_env(inner)

        # pre-compute aggregate input expressions as columns
        pre_cols = list(df.columns)
        group_set = {v.name for v in n.by}
        # SAMPLE over a GROUP BY key needs no aggregate at all: every row
        # of a group carries the identical key term (grouping is by term
        # identity), so the sampled value IS the rebuilt group key.  The
        # alternative — first(term_struct) — carries a STRUCT aggregation
        # buffer, and one struct buffer pushes the ENTIRE aggregate from
        # HashAggregate onto the Sort+SortAggregate path (guide §5:
        # "hash aggregate vs sort aggregate"; plan evidence
        # plans/r09/A_aggregates_before.txt vs _after.txt).
        sample_of_key: Dict[str, str] = {}
        for var, agg in n.aggregates:
            if (agg.name.upper() == "SAMPLE"
                    and isinstance(agg.expr, A.EVar)
                    and agg.expr.name in group_set):
                sample_of_key[var.name] = agg.expr.name
        agg_inputs: Dict[str, str] = {}
        for var, agg in n.aggregates:
            if var.name in sample_of_key:
                continue
            if (agg.name.upper() == "COUNT" and agg.distinct
                    and isinstance(agg.expr, A.EVar)
                    and agg.expr.name in inner.ids):
                # COUNT(DISTINCT ?v): distinct over the materialized
                # 8-byte identity key instead of the 9-field term struct
                # — same distinct-count under the engine's dictionary
                # identity contract (key NULL iff term NULL; all joins /
                # dedups already key on it), and the distinct exchange
                # ships longs instead of full terms (guide §2.3 "shuffle
                # fewer bytes / narrower types").
                agg_inputs[var.name] = inner.ids[agg.expr.name]
                continue
            if agg.expr is not None:
                df, col, _temps = self.compile_expr_ssa(df, agg.expr, env)
                cname = self._fresh("aggin")
                df = df.withColumn(cname, col)
                agg_inputs[var.name] = cname

        group_cols = [v.name for v in n.by]
        aggs: List[Column] = []
        # static type info lets the aggregate kernels collapse their
        # dynamic dispatch (smaller codegen, mutable agg buffers)
        agg_types: Dict[str, tuple] = {}
        for var, agg in n.aggregates:
            if agg.expr is not None:
                agg_types[var.name] = (self._stype(agg.expr),
                                       self._ntype(agg.expr))
            else:
                agg_types[var.name] = (None, None)
        # COUNT(DISTINCT *) counts distinct SOLUTIONS (§18.5.1): the
        # distinct key is the tuple of in-scope variable columns
        star_cols = [c for c in pre_cols if not c.startswith("__")]
        for var, agg in n.aggregates:
            if var.name in sample_of_key:
                continue  # rebuilt from the group key below, no aggregate
            cname = agg_inputs.get(var.name)
            st_, nt_ = agg_types[var.name]
            aggs.extend(_agg_exprs(var.name, agg, cname, st_, nt_,
                                   star_cols=star_cols))
        # group on the FLATTENED 4-field term identity (kind, lex,
        # datatype, lang as separate native columns, not a struct): keeps
        # the shuffle key narrow AND — together with mutable aggregate
        # buffers — makes the plan eligible for HashAggregate instead of
        # Sort+SortAggregate (struct keys/buffers force the sort path).
        # The representative term is REBUILT from the key fields after the
        # aggregation (identical identity ⇒ identical derived payloads),
        # so no first(struct) buffer is ever carried.
        if group_cols:
            key_cols = []
            for v in group_cols:
                for fld in ("kind", "lex", "datatype", "lang"):
                    key_cols.append(df[v][fld].alias(f"__k_{v}_{fld}"))
            gdf = df.groupBy(*key_cols).agg(*aggs)
        else:
            gdf = df.groupBy().agg(*aggs)
        out_cols = []
        reps: Dict[str, Column] = {}
        for v in group_cols:
            kind, lex = gdf[f"__k_{v}_kind"], gdf[f"__k_{v}_lex"]
            dt, lang = gdf[f"__k_{v}_datatype"], gdf[f"__k_{v}_lang"]
            # statically-known value class → rebuild the payload for that
            # class only; the full make_typed datatype dispatch is the
            # single most expensive expression in a GROUP BY plan
            vc, nt_ = inner.stypes.get(v), inner.ntypes.get(v)
            if vc == K.VC_STRING:
                typed = T.term_struct(T.KIND_LITERAL, lex, datatype=dt)
            elif vc == K.VC_NUMERIC and nt_ == "double":
                typed = T.term_struct(T.KIND_LITERAL, lex, datatype=dt,
                                      dbl=T._xsd_double(lex))
            elif vc == K.VC_NUMERIC and nt_ is not None:
                typed = T.term_struct(T.KIND_LITERAL, lex, datatype=dt,
                                      num=lex.cast(T.DECIMAL_T))
            else:
                typed = T.make_typed(lex, dt)
            lit = F.when(lang.isNotNull(),
                         T.term_struct(T.KIND_LITERAL, lex, datatype=dt,
                                       lang=lang)) \
                   .otherwise(typed)
            rep = (F.when(kind.isNull(), B.err())
                    .when(kind == T.KIND_LITERAL, lit)
                    .otherwise(T.term_struct(kind, lex)))
            reps[v] = rep
            out_cols.append(rep.alias(v))
        for var, agg in n.aggregates:
            if var.name in sample_of_key:
                # SAMPLE of a group key: the group's rows all carry the
                # identical key term, so the rebuilt key IS the sample
                out_cols.append(reps[sample_of_key[var.name]]
                                .alias(var.name))
                continue
            st_, nt_ = agg_types[var.name]
            out_cols.append(
                _agg_finalize(gdf, var.name, agg, st_, nt_).alias(var.name))
        out = gdf.select(*out_cols)
        names = frozenset(group_cols) | frozenset(v.name for v, _ in n.aggregates)
        st = {k: v for k, v in inner.stypes.items() if k in group_cols}
        nt = {k: v for k, v in inner.ntypes.items() if k in group_cols}
        for var, agg in n.aggregates:
            k = agg.name.upper()
            if k == "COUNT":
                st[var.name] = K.VC_NUMERIC
                nt[var.name] = "integer"
            elif k in ("SUM", "AVG"):
                st[var.name] = K.VC_NUMERIC
            elif k == "GROUP_CONCAT":
                st[var.name] = K.VC_STRING
            elif k in ("MIN", "MAX", "SAMPLE") and isinstance(agg.expr, A.EVar):
                if agg.expr.name in inner.stypes:
                    st[var.name] = inner.stypes[agg.expr.name]
                if agg.expr.name in inner.ntypes:
                    nt[var.name] = inner.ntypes[agg.expr.name]
        return Compiled(out, names, frozenset(group_cols) & inner.certain, st, nt)

    # -- EXISTS handling ------------------------------------------------

    def _attach_exists(self, inner: Compiled, expr: A.Expression, graph_ctx):
        """Decorrelate EXISTS subpatterns (reference evaluates them as
        correlated nested loops — ``Expression::Exists``; we compile to a
        marker left-join so Catalyst can pick hash joins)."""
        markers: List[str] = []
        env: Dict[str, Column] = {}
        exists_nodes = _find_exists(expr)
        df = inner.df
        for node in exists_nodes:
            marker = self._fresh("ex")
            mentioned = _mentioned_vars(node.pattern)
            scope = frozenset(A.pattern_vars(node.pattern))
            corr = sorted(mentioned & inner.vars)
            extras = (mentioned & inner.vars) - scope
            sub = None
            if corr and not extras:
                sub = self.compile_pattern(node.pattern, graph_ctx)
                if not all(v in inner.certain and v in sub.certain
                           for v in corr):
                    sub = None  # fall through to the seeded compilation
            if corr and sub is None:
                # §18.6 substitution semantics: variables mentioned only
                # in inner FILTER/BIND expressions, or bindable only on
                # an inner OPTIONAL/UNION branch, must see the OUTER
                # binding — compile the sub-pattern with the distinct
                # outer correlated bindings seeded INSIDE it (reference:
                # correlated ``Expression::Exists``).
                seed_cols = [inner.df[v].alias(v) for v in corr]
                seed_ids: Dict[str, str] = {}
                for v in corr:
                    if v in inner.ids:
                        seed_cols.append(
                            inner.df[inner.ids[v]].alias(inner.ids[v]))
                        seed_ids[v] = inner.ids[v]
                seed = Compiled(
                    inner.df.select(*seed_cols).distinct(),
                    frozenset(corr), inner.certain & frozenset(corr),
                    {v: inner.stypes[v] for v in corr
                     if v in inner.stypes},
                    {v: inner.ntypes[v] for v in corr
                     if v in inner.ntypes},
                    seed_ids)
                sub = self.compile_pattern(
                    _seed_into(node.pattern, _Precompiled(seed)),
                    graph_ctx)
            if corr:
                shared = corr
                # the marker join only needs the subpattern's term
                # IDENTITIES: ship 16-byte keys, not term structs (§1.4)
                kn = {v: f"{v}__e{marker}" for v in shared}
                sdf = sub.df.select(
                    *[self._out_id(sub, v).alias(kn[v]) for v in shared]) \
                    .distinct() \
                    .withColumn(marker, F.lit(True))

                def cond_for(ldf: DataFrame) -> Column:
                    conds = []
                    for v in shared:
                        lc = ldf[v]
                        lk = ldf[inner.ids[v]] if v in inner.ids \
                            else self._jk(lc)
                        rk = sdf[kn[v]]
                        if v in inner.certain and v in sub.certain:
                            conds.append(lk == rk)
                        else:
                            conds.append(lc.isNull() | rk.isNull()
                                         | (lk == rk))
                    return reduce(lambda a, b: a & b, conds)

                if all(v in inner.certain and v in sub.certain
                       for v in shared):
                    # strict equality against a distinct key set matches
                    # ≤1 sdf row per input row: safe as a plain left join
                    df = df.join(sdf, cond_for(df), "left") \
                           .drop(*kn.values())
                else:
                    # null-tolerant compatibility: an UNBOUND shared var
                    # is compatible with EVERY key row, so a plain left
                    # join would duplicate the input row once per match —
                    # a solution-multiplicity bug.  Pin a row id, detect
                    # hits with a semi-join, re-attach the marker 1:1.
                    rid = self._fresh("exrow")
                    df = df.withColumn(
                        rid, F.monotonically_increasing_id()) \
                        .transform(pin)
                    hits = df.join(sdf, cond_for(df), "leftsemi") \
                             .select(F.col(rid).alias(f"{rid}__h"),
                                     F.lit(True).alias(marker))
                    df = df.join(hits, df[rid] == hits[f"{rid}__h"],
                                 "left").drop(f"{rid}__h", rid)
            else:
                # uncorrelated EXISTS: one-row broadcast flag (true iff the
                # subpattern has any solution; agg over empty input → NULL)
                sub = self.compile_pattern(node.pattern, graph_ctx)
                flag = sub.df.select(F.lit(True).alias(marker)) \
                    .agg(F.max(F.col(marker)).alias(marker))
                df = df.crossJoin(F.broadcast(flag))
            self._exists_markers[id(node)] = marker
            markers.append(marker)
        for v in inner.vars:
            env[v] = df[v]
        return Compiled(df, inner.vars, inner.certain,
                        inner.stypes, inner.ntypes, inner.ids), env, markers

    # ------------------------------------------------------------------
    # expressions
    # ------------------------------------------------------------------

    # SSA-linearized expression compilation: nested kernels reference their
    # argument subtrees many times (vclass/ebv expand each operand ~10-20×),
    # so naive tree composition explodes exponentially with nesting depth —
    # deep FILTER expressions hang Catalyst analysis.  We materialize every
    # non-leaf sub-expression as a temp column; duplication becomes additive.
    # (CollapseProject keeps the linearization: since SPARK-36718 it only
    # inlines aliases that are cheap or referenced once.)

    def compile_expr_ssa(self, df: DataFrame, e: A.Expression,
                         env: Dict[str, Column]) -> Tuple[DataFrame, Column, List[str]]:
        """Returns (df', column, temp_col_names)."""
        temps: List[str] = []

        def rec(df: DataFrame, e: A.Expression) -> Tuple[DataFrame, Column]:
            if isinstance(e, (A.EVar, A.ETerm, A.EExists)):
                return df, self.compile_expr(e, env)

            def arg_col(df: DataFrame, a: A.Expression) -> Tuple[DataFrame, Column]:
                df, c = rec(df, a)
                if _inline_ok(a):
                    return df, c
                name = self._fresh("x")
                temps.append(name)
                return df.withColumn(name, _opaque(c)), F.col(name)

            if isinstance(e, A.EOp):
                cols = []
                for a in e.args:
                    df, c = arg_col(df, a)
                    cols.append(c)
                return df, self._apply_op(e.op, cols, e.args)
            if isinstance(e, A.ECall):
                return self._apply_call_ssa(df, e, env, arg_col)
            if isinstance(e, A.EIn):
                df, x = arg_col(df, e.expr)
                opts = []
                for o in e.options:
                    df, c = arg_col(df, o)
                    opts.append(c)
                return df, self._apply_in(x, opts, e.negated)
            raise TypeError(type(e))

        df, col = rec(df, e)
        return df, col, temps

    def _apply_call_ssa(self, df, e: A.ECall, env, arg_col):
        name = e.name.upper() if not e.name.startswith("http") else e.name
        if name == "BOUND":
            return df, self._compile_call(e, env)
        if name in ("NOW", "RAND", "UUID", "STRUUID", "BNODE"):
            return df, self._compile_call(e, env)
        cols = []
        for a in e.args:
            df, c = arg_col(df, a)
            cols.append(c)
        if name == "IF":
            c = K.ebv_typed(cols[0], self._stype(e.args[0]))
            return df, F.when(c, cols[1]).when(~c, cols[2]).otherwise(B.err())
        if name == "COALESCE":
            return df, F.coalesce(*cols, B.err())
        if name.startswith(T.XSD):
            return df, B.fn_cast(name, cols[0])
        fn = B.REGISTRY.get(name)
        if fn is None:
            raise NotImplementedError(f"function {e.name}")
        return df, fn(*cols)

    def _apply_op(self, op: str, args: List[Column],
                  asts: Optional[Tuple] = None) -> Column:
        sts = [self._stype(a) for a in asts] if asts is not None \
            else [None] * len(args)
        if op in ("&&", "||"):
            a = K.ebv_typed(args[0], sts[0])
            b = K.ebv_typed(args[1], sts[1])
            return B.bool_term(a & b if op == "&&" else a | b)
        if op == "!":
            return B.bool_term(~K.ebv_typed(args[0], sts[0]))
        if op in ("=", "!="):
            c = K.eq_typed(args[0], args[1], sts[0], sts[1])
            return B.bool_term(~c if op == "!=" else c)
        if op in ("<", "<=", ">", ">="):
            return B.bool_term(K.cmp_typed(args[0], args[1], op,
                                           sts[0], sts[1]))
        if op in ("+", "-", "*", "/"):
            if asts is not None:
                return K.arith_typed(op, args[0], args[1],
                                     self._ntype(asts[0]), self._ntype(asts[1]))
            return K.arith(op, args[0], args[1])
        if op == "u-":
            return K.neg(args[0])
        if op == "u+":
            return F.when(T.is_numeric(args[0]), args[0]).otherwise(B.err())
        raise NotImplementedError(f"operator {op}")

    def _apply_in(self, x: Column, opts: List[Column], negated: bool) -> Column:
        eqs = [K.eq(x, o) for o in opts]
        if not eqs:
            res: Column = F.lit(False)
        else:
            any_true = reduce(lambda a, b: a | b,
                              [c.eqNullSafe(F.lit(True)) for c in eqs])
            any_err = reduce(lambda a, b: a | b, [c.isNull() for c in eqs])
            res = F.when(any_true, F.lit(True)) \
                   .when(any_err, F.lit(None).cast("boolean")) \
                   .otherwise(F.lit(False))
        return B.bool_term(~res if negated else res)

    def compile_expr(self, e: A.Expression, env: Dict[str, Column]) -> Column:
        if isinstance(e, A.EVar):
            return env.get(e.name, B.err())
        if isinstance(e, A.ETerm):
            return _const_term_col(e.term)
        if isinstance(e, A.EOp):
            return self._compile_op(e, env)
        if isinstance(e, A.ECall):
            return self._compile_call(e, env)
        if isinstance(e, A.EIn):
            return self._compile_in(e, env)
        if isinstance(e, A.EExists):
            marker = self._exists_markers.get(id(e))
            if marker is None:
                raise NotImplementedError("EXISTS outside FILTER/BIND scope")
            c = F.coalesce(F.col(marker), F.lit(False))
            return B.bool_term(~c if e.negated else c)
        raise TypeError(type(e))

    def _compile_op(self, e: A.EOp, env) -> Column:
        return self._apply_op(e.op, [self.compile_expr(a, env) for a in e.args],
                              e.args)

    def _compile_call(self, e: A.ECall, env) -> Column:
        name = e.name.upper() if not e.name.startswith("http") else e.name
        if name == "BOUND":
            if not isinstance(e.args[0], A.EVar):
                raise ValueError("BOUND requires a variable")
            v = env.get(e.args[0].name)
            return B.bool_term(v.isNotNull() if v is not None else F.lit(False))
        if name == "IF":
            c = K.ebv(self.compile_expr(e.args[0], env))
            a = self.compile_expr(e.args[1], env)
            b = self.compile_expr(e.args[2], env)
            return F.when(c, a).when(~c, b).otherwise(B.err())
        if name == "COALESCE":
            return F.coalesce(*[self.compile_expr(a, env) for a in e.args],
                              B.err())
        if name == "NOW":
            return T.datetime_lit(F.lit(self.now.replace(tzinfo=None)),
                                  tz_min=F.lit(0))
        if name == "RAND":
            return T.double_lit(F.rand())
        if name == "UUID":
            return T.iri(F.concat(F.lit("urn:uuid:"), F.expr("uuid()")))
        if name == "STRUUID":
            return T.str_lit(F.expr("uuid()"))
        if name == "BNODE" and not e.args:
            return T.bnode(F.expr("uuid()"))
        if name == "BNODE":
            # BNODE(str): same label + same solution → same bnode,
            # different solutions → different bnodes (§17.4.2.9).  Row
            # identity is a DETERMINISTIC hash of the solution's bound
            # term columns (xxhash64 over the TERM structs), so two
            # BNODE("l") references agree even when they evaluate in
            # different projections/stages, under lazily-evaluated
            # branches, or across a task retry — unlike a
            # monotonically_increasing_id nonce, which is per-instance
            # and nondeterministic under recompute.  A solution mapping
            # is a function Var→Term, so duplicate rows ARE the same
            # mapping and correctly share a bnode.  A fresh per-query
            # nonce keeps labels from colliding across queries/graphs.
            lbl = self.compile_expr(e.args[0], env)
            ok = ((lbl["kind"] == T.KIND_LITERAL)
                  & (lbl["datatype"] == T.XSD_STRING)
                  & lbl["lang"].isNull())
            # per-QUERY nonce (not per-call!): two BNODE("l") references
            # in the same query must agree for the same row
            if not hasattr(self, "_bnode_nonce"):
                self._bnode_nonce = _uuid.uuid4().hex[:8]
            # the env-var list is captured at the FIRST BNODE compile and
            # reused by every later one: a subsequent BIND extends env
            # with the previous BNODE's own output, so hashing "all of
            # env" would give each reference a different row key
            if not hasattr(self, "_bnode_env_vars"):
                self._bnode_env_vars = sorted(env)
            keys = [env[v] for v in self._bnode_env_vars if v in env]
            row_key = (F.xxhash64(*keys) if keys
                       else F.lit(0).cast("bigint"))
            lex = F.concat(F.lit(f"bl{self._bnode_nonce}x"),
                           F.md5(lbl["lex"]).substr(1, 16), F.lit("r"),
                           F.lower(F.hex(row_key)))
            return F.when(ok, T.bnode(lex)).otherwise(B.err())
        if name.startswith(T.XSD):
            return B.fn_cast(name, self.compile_expr(e.args[0], env))
        fn = B.REGISTRY.get(name)
        if fn is None:
            raise NotImplementedError(f"function {e.name}")
        return fn(*[self.compile_expr(a, env) for a in e.args])

    def _compile_in(self, e: A.EIn, env) -> Column:
        return self._apply_in(self.compile_expr(e.expr, env),
                              [self.compile_expr(o, env) for o in e.options],
                              e.negated)

    # ------------------------------------------------------------------
    # CONSTRUCT / DESCRIBE
    # ------------------------------------------------------------------

    def _compile_construct(self, q: A.ConstructQuery) -> DataFrame:
        sol = self.compile_pattern(q.pattern)
        sol_df = sol.df
        if any(_template_has_bnode(tp.s, tp.p, tp.o) for tp in q.template):
            # fresh bnode per solution per template label (§16.2.1): a row
            # id makes the SAME label in DIFFERENT template triples map to
            # the SAME bnode within one solution; the checkpoint pins the
            # ids against re-evaluation across the union branches
            sol_df = sol_df.withColumn(
                "__crow", F.monotonically_increasing_id()
            ).transform(pin)
        env = {v: sol_df[v] for v in sol.vars}
        bprefix = f"tb{_uuid.uuid4().hex[:8]}"
        frames = []
        for tp in q.template:
            row = sol_df.select(
                _template_term_col(tp.s, env, bprefix).alias("s"),
                _template_term_col(tp.p, env, bprefix).alias("p"),
                _template_term_col(tp.o, env, bprefix).alias("o"))
            # drop incomplete triples (unbound template var → skip)
            row = row.where(F.col("s").isNotNull() & F.col("p").isNotNull()
                            & F.col("o").isNotNull())
            # positions must be valid RDF: no literal subjects etc.
            row = row.where((F.col("s")["kind"] != T.KIND_LITERAL)
                            & (F.col("p")["kind"] == T.KIND_IRI))
            frames.append(row)
        out = reduce(lambda a, b: a.unionByName(b), frames)
        return out.distinct()

    def _compile_describe(self, q: A.DescribeQuery) -> DataFrame:
        # implementation-defined; like the reference we return the outgoing
        # triples of each described resource (Query::Describe eval)
        targets: List[Compiled] = []
        if q.pattern is not None:
            sol = self.compile_pattern(q.pattern)
            for t in q.terms:
                if isinstance(t, A.Var) and t.name in sol.vars:
                    targets.append(Compiled(
                        sol.df.select(sol.df[t.name].alias("node")).distinct(),
                        frozenset(["node"]), frozenset(["node"])))
        for t in q.terms:
            if isinstance(t, A.NamedNode):
                targets.append(Compiled(
                    self.spark.range(1).select(_const_term_col(t).alias("node")),
                    frozenset(["node"]), frozenset(["node"])))
        nodes = reduce(lambda a, b: a.unionByName(b),
                       [t.df for t in targets]).distinct()
        quads = self.source.scan().where(
            F.col("g")["kind"] == T.KIND_DEFAULT_GRAPH)

        def outgoing(frontier: DataFrame) -> DataFrame:
            return quads.join(
                F.broadcast(frontier),
                self._jk(quads["s"]) == self._jk(frontier["node"]),
                "leftsemi")

        out = outgoing(nodes).transform(pin)
        # concise-bounded-description closure: a blank-node OBJECT cannot
        # be referenced from outside the result, so its own description
        # is recursively included (matches upstream's DESCRIBE eval).
        # Bounded driver loop; the frontier is bnode keys only and stays
        # broadcast-sized by construction.
        seen = nodes.select(self._jk(nodes["node"]).alias("k")).distinct()
        described = out
        for _ in range(16):
            bn = described.where(F.col("o")["kind"] == T.KIND_BNODE) \
                          .select(F.col("o").alias("node")).distinct()
            bn = bn.join(F.broadcast(seen),
                         self._jk(bn["node"]) == seen["k"], "leftanti") \
                   .transform(pin)
            if bn.count() == 0:
                break
            seen = seen.unionByName(
                bn.select(self._jk(bn["node"]).alias("k")))
            described = outgoing(bn).transform(pin)
            out = out.unionByName(described)
        return out.select("s", "p", "o").distinct()


# ---------------------------------------------------------------------------
# constants & aggregate helpers
# ---------------------------------------------------------------------------


def _py_escape(s: str) -> str:
    """Python replica of sources.ntriples._escape (same order)."""
    return (s.replace("\\", "\\\\").replace('"', '\\"')
             .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t"))


def _py_token(t: A.GroundTerm) -> str:
    """Ground term → canonical N-Triples token; MUST serialize identically
    to the JVM ``sources.ntriples.format_term`` so constant quoted triples
    and TRIPLE()-built / data-read ones share term identity."""
    if isinstance(t, A.NamedNode):
        return f"<{t.iri}>"
    if isinstance(t, A.BlankNode):
        return f"_:{t.label}"
    if isinstance(t, A.Literal):
        if t.lang:
            suffix = f"@{t.lang}"
        elif t.datatype and t.datatype != T.XSD_STRING:
            suffix = f"^^<{t.datatype}>"
        else:
            suffix = ""
        return f'"{_py_escape(t.lex)}"{suffix}'
    if isinstance(t, A.QuotedTriple):
        return f"<<{_py_quoted_lex(t)}>>"
    raise TypeError(type(t))


def _py_quoted_lex(t: A.QuotedTriple) -> str:
    return f"{_py_token(t.s)} {_py_token(t.p)} {_py_token(t.o)}"


def _template_has_bnode(*terms) -> bool:
    """True if any template term (recursing into quoted triples) is a
    blank node — callers then attach a per-solution ``__crow`` id."""
    def rec(t):
        if isinstance(t, A.BlankNode):
            return True
        if isinstance(t, A.QuotedTriple):
            return rec(t.s) or rec(t.p) or rec(t.o)
        return False
    return any(rec(t) for t in terms)


def _qt_has_var(t: A.QuotedTriple) -> bool:
    def rec(x):
        if isinstance(x, A.Var):
            return True
        if isinstance(x, A.QuotedTriple):
            return rec(x.s) or rec(x.p) or rec(x.o)
        return False
    return rec(t.s) or rec(t.p) or rec(t.o)


def _template_term_col(t, env: Dict[str, Column], bprefix: str) -> Column:
    """Template term → TERM column under solution bindings ``env``
    (CONSTRUCT §16.2 / update quad instantiation §19.6, shared).

    - Var: the binding (NULL when unbound → caller drops the row);
    - BlankNode: fresh per solution, SAME label → SAME bnode within a
      solution (requires ``__crow`` on the frame; ``bprefix`` is unique
      per instantiation so repeated updates never collide);
    - QuotedTriple with variables: runtime TRIPLE() construction
      (invalid components → NULL → row dropped, SPARQL 1.2 §16.2);
    - ground terms: constant columns.
    """
    if isinstance(t, A.Var):
        return env.get(t.name, B.err())
    if isinstance(t, A.BlankNode):
        return T.bnode(F.concat(F.lit(f"{bprefix}_{t.label}_"),
                                F.col("__crow").cast("string")))
    if isinstance(t, A.QuotedTriple) and _qt_has_var(t):
        from ..functions import rdfstar as RS
        return RS.fn_triple(_template_term_col(t.s, env, bprefix),
                            _template_term_col(t.p, env, bprefix),
                            _template_term_col(t.o, env, bprefix))
    return _const_term_col(t)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# typed NULL fragments for the TERM struct fields, in schema order
_TERM_NULLS = (
    ("datatype", "CAST(NULL AS STRING)"),
    ("lang", "CAST(NULL AS STRING)"),
    ("num", "CAST(NULL AS DECIMAL(38,18))"),
    ("dbl", "CAST(NULL AS DOUBLE)"),
    ("ts", "CAST(NULL AS TIMESTAMP)"),
    ("tz_min", "CAST(NULL AS SMALLINT)"),
    ("bool", "CAST(NULL AS BOOLEAN)"),
)

_TZ_RE = re.compile(r"(Z|[+-]\d{2}:\d{2})$")


# Column objects are immutable wrappers over a JVM expression tree and
# can be reused across DataFrames and queries; constants repeat heavily
# across a workload (every query mentions the same predicate IRIs), so
# memoizing by SQL token removes one py4j round-trip + SQL parse per
# reuse — part of the round-4 plan-build latency work.
_CONST_COL_CACHE: Dict[str, Column] = {}
_CONST_COL_CTX: Optional[int] = None


def _const_term_col(t: A.GroundTerm) -> Column:
    """Ground term → literal TERM struct as ONE ``F.expr`` call.

    Constants are the hottest builder in plan construction (every triple
    pattern's predicate, every literal in a filter): the generic
    ``term_struct``/``typed_lit`` path costs ~30 py4j round-trips and a
    parse-kernel expression tree per constant, all of which Catalyst
    constant-folds away anyway.  Emitting the folded form directly as a
    single SQL ``named_struct`` keeps build time and analyzer input
    small, and the resulting Column is memoized by token.  Payload SQL
    mirrors ``typed_lit``'s kernels exactly (same CAST semantics, same
    XSD INF/NaN cases); durations keep the kernel path — their
    month/second decomposition lives in JVM expressions."""
    sql = _const_term_sql(t)
    if sql is not None:
        # cached Columns hold JVM expression refs: invalidate wholesale
        # if the backing SparkContext was restarted
        from pyspark import SparkContext
        ctx = id(SparkContext._active_spark_context)
        global _CONST_COL_CTX
        if ctx != _CONST_COL_CTX or len(_CONST_COL_CACHE) > 4096:
            _CONST_COL_CACHE.clear()
            _CONST_COL_CTX = ctx
        col = _CONST_COL_CACHE.get(sql)
        if col is None:
            col = _CONST_COL_CACHE[sql] = F.expr(sql)
        return col
    # fallback: duration-typed literals
    return T.typed_lit(F.lit(t.lex), t.datatype)


def _same_term_const_sql(name: str, t: A.GroundTerm) -> str:
    """``same_term(df[name], const)`` as one SQL fragment: null-safe
    field-wise equality on the identity 4-tuple against the constant's
    (precomputed) identity — semantically identical to
    ``T.same_term(col, _const_term_col(t))`` but one py4j call."""
    if isinstance(t, A.NamedNode):
        k, lex, dt, lang = T.KIND_IRI, t.iri, None, None
    elif isinstance(t, A.BlankNode):
        k, lex, dt, lang = T.KIND_BNODE, t.label, None, None
    elif isinstance(t, A.QuotedTriple):
        k, lex, dt, lang = T.KIND_TRIPLE, _py_quoted_lex(t), None, None
    elif isinstance(t, A.Literal):
        k, lex = T.KIND_LITERAL, t.lex
        if t.lang:
            dt, lang = T.RDF_LANGSTRING, t.lang
        else:
            dt, lang = (t.datatype or T.XSD_STRING), None
    else:
        raise TypeError(type(t))
    c = "`" + name.replace("`", "``") + "`"

    def eq(f, v):
        return f"{c}.{f} <=> " + ("NULL" if v is None else _sql_quote(v))

    return (f"({c}.kind <=> {k}Y AND {eq('lex', lex)} AND "
            f"{eq('datatype', dt)} AND {eq('lang', lang)})")


def _const_term_sql(t: A.GroundTerm) -> Optional[str]:
    vals = {}
    if isinstance(t, A.NamedNode):
        kind, lex = T.KIND_IRI, t.iri
    elif isinstance(t, A.BlankNode):
        kind, lex = T.KIND_BNODE, t.label
    elif isinstance(t, A.QuotedTriple):
        kind, lex = T.KIND_TRIPLE, _py_quoted_lex(t)
    elif isinstance(t, A.Literal):
        kind, lex = T.KIND_LITERAL, t.lex
        L = _sql_quote(lex)
        if t.lang:
            vals["datatype"] = _sql_quote(T.RDF_LANGSTRING)
            vals["lang"] = _sql_quote(t.lang)
        else:
            d = t.datatype or T.XSD_STRING
            if d in T.DURATION_DATATYPES:
                return None
            vals["datatype"] = _sql_quote(d)
            if d in T.INTEGER_DATATYPES or d == T.XSD_DECIMAL:
                vals["num"] = f"CAST({L} AS DECIMAL(38,18))"
            elif d in (T.XSD_FLOAT, T.XSD_DOUBLE):
                vals["dbl"] = (
                    f"CASE WHEN {L} = 'INF' THEN CAST('Infinity' AS DOUBLE) "
                    f"WHEN {L} = '-INF' THEN CAST('-Infinity' AS DOUBLE) "
                    f"WHEN {L} = 'NaN' THEN CAST('NaN' AS DOUBLE) "
                    f"ELSE CAST({L} AS DOUBLE) END")
            elif d == T.XSD_BOOLEAN:
                vals["bool"] = (
                    f"CASE WHEN {L} IN ('true', '1') THEN true "
                    f"WHEN {L} IN ('false', '0') THEN false END")
            elif d in (T.XSD_DATETIME, T.XSD_DATE, T.XSD_TIME,
                       T.XSD_GYEAR, T.XSD_GYEARMONTH):
                if d == T.XSD_TIME:
                    # epoch-day anchor, same convention as typed_lit
                    vals["ts"] = (
                        f"TO_TIMESTAMP(CONCAT('1970-01-01T', {L}))")
                elif d in (T.XSD_GYEAR, T.XSD_GYEARMONTH):
                    mm = re.match(r"^(.*?)(Z|[+-]\d\d:\d\d)?$", lex)
                    pad = "-01-01" if d == T.XSD_GYEAR else "-01"
                    anchored = _sql_quote(
                        mm.group(1) + pad + (mm.group(2) or ""))
                    vals["ts"] = f"TO_TIMESTAMP({anchored})"
                else:
                    vals["ts"] = f"TO_TIMESTAMP({L})"
                m = _TZ_RE.search(lex)
                if m:
                    z = m.group(1)
                    off = 0 if z == "Z" else (
                        (-1 if z[0] == "-" else 1)
                        * (int(z[1:3]) * 60 + int(z[4:6])))
                    vals["tz_min"] = f"{off}S"
    else:
        raise TypeError(type(t))
    parts = [f"'kind', {kind}Y", f"'lex', {_sql_quote(lex)}"]
    for name, null_sql in _TERM_NULLS:
        parts.append(f"'{name}', {vals.get(name, null_sql)}")
    return f"named_struct({', '.join(parts)})"


# Spark from_json pattern of the VALUES `ts` payload text, which
# datetime.isoformat(timespec="microseconds") writes (4-digit year)
_VALUES_TS_PATTERN = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _term_json(t: Optional[A.GroundTerm]):
    """VALUES cell → TERM struct as a JSON object (UNDEF → null), with the
    ``_term_to_py`` payload.  ``num`` is sent as the DECIMAL(38,18)
    text (NULL past its range, like a CAST), ``ts`` as UTC wall time."""
    if t is None:
        return None
    kind, lex, dt, lang, num, dbl, ts, tz, b = _term_to_py(t)
    num = None if num is None else _term_decimal(num)
    return {"kind": kind, "lex": lex, "datatype": dt, "lang": lang,
            "num": None if num is None else format(num, "f"), "dbl": dbl,
            "tz_min": tz, "bool": b,
            "ts": None if ts is None else ts.isoformat(timespec="microseconds")}


def _term_to_py(t: Optional[A.GroundTerm]):
    """Ground term → TERM struct Row tuple (for VALUES)."""
    if t is None:
        return None
    kind, lex, datatype, lang = None, None, None, None
    num = dbl = ts = tz = b = None
    if isinstance(t, A.NamedNode):
        kind, lex = T.KIND_IRI, t.iri
    elif isinstance(t, A.BlankNode):
        kind, lex = T.KIND_BNODE, t.label
    elif isinstance(t, A.QuotedTriple):
        kind, lex = T.KIND_TRIPLE, _py_quoted_lex(t)
    elif isinstance(t, A.Literal):
        kind, lex = T.KIND_LITERAL, t.lex
        lang = t.lang
        datatype = t.datatype or (T.RDF_LANGSTRING if t.lang else T.XSD_STRING)
        try:
            if datatype in T.INTEGER_DATATYPES or datatype == T.XSD_DECIMAL:
                num = Decimal(lex)
            elif datatype in (T.XSD_FLOAT, T.XSD_DOUBLE):
                dbl = float(lex)
            elif datatype == T.XSD_BOOLEAN:
                b = lex in ("true", "1")
            elif datatype in T.DURATION_DATATYPES:
                # value payload (months, seconds) — same decomposition as
                # the JVM kernels (terms._dur_months/_dur_seconds); a
                # duration term missing it would compare by TERM identity
                # instead of value (caught by the dur-* manifest entries)
                m = re.match(T._DUR_RE, lex)
                if m and re.search(r"\d", lex):
                    g = [float(x) if x else 0.0 for x in m.groups()]
                    sign = -1.0 if lex.startswith("-") else 1.0
                    num = Decimal(sign * (g[0] * 12 + g[1])).quantize(
                        Decimal(1))
                    dbl = sign * (g[2] * 86400 + g[3] * 3600 + g[4] * 60
                                  + g[5])
            elif datatype in (T.XSD_DATETIME, T.XSD_DATE, T.XSD_TIME,
                              T.XSD_GYEAR, T.XSD_GYEARMONTH):
                iso = lex.replace("Z", "+00:00")
                if datatype == T.XSD_TIME:
                    # epoch-day anchor, same convention as typed_lit
                    iso = "1970-01-01T" + iso
                elif datatype in (T.XSD_GYEAR, T.XSD_GYEARMONTH):
                    m = re.match(r"^(.*?)([+-]\d\d:\d\d)?$", iso)
                    body, off = m.group(1), m.group(2) or ""
                    pad = "-01-01" if datatype == T.XSD_GYEAR else "-01"
                    iso = f"{body}{pad}T00:00:00{off}"
                ts = datetime.fromisoformat(iso)
                if ts.tzinfo is not None:
                    tz = int(ts.utcoffset().total_seconds() // 60)
                    ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
        except (ValueError, ArithmeticError):
            pass
    return (kind, lex, datatype, lang, num, dbl, ts, tz, b)


def _agg_exprs(name: str, agg: A.AggExpr, cname: Optional[str],
               stype: Optional[int] = None,
               ntype: Optional[str] = None,
               star_cols: Optional[List[str]] = None) -> List[Column]:
    """Partial aggregate columns for one SPARQL aggregate (map-side combine
    happens for free — every one of these is a built-in Spark aggregate).

    When the input's value class / numeric subtype is statically known
    (sparopt-style inference) the kernels specialize: a known-numeric SUM
    is one sum over the native payload field plus an error counter instead
    of the six-column dynamic-promotion shape — the buffers stay mutable
    primitives, which keeps the whole aggregate on the HashAggregate path."""
    k = agg.name.upper()
    if k == "COUNT":
        if cname is None:
            if agg.distinct and star_cols:
                # COUNT(DISTINCT *): distinct solutions, i.e. the tuple
                # of in-scope variable columns (§18.5.1 Distinct(ω))
                return [F.count_distinct(F.struct(*star_cols))
                        .alias(f"{name}__cnt")]
            return [F.count(F.lit(1)).alias(f"{name}__cnt")]
        c = F.col(cname)
        if agg.distinct:
            return [F.count_distinct(c).alias(f"{name}__cnt")]
        return [F.count(c).alias(f"{name}__cnt")]
    c = F.col(cname)
    numeric = stype == K.VC_NUMERIC and ntype is not None
    if k in ("SUM", "AVG"):
        if numeric:
            # known numeric class: errors are exactly the NULL terms
            val = c["dbl"] if ntype == "double" else c["num"]
            s = F.sum_distinct(val) if agg.distinct else F.sum(val)
            cnt = F.count_distinct(val) if agg.distinct else F.count(c)
            return [s.alias(f"{name}__sv"), cnt.alias(f"{name}__n"),
                    F.count(F.when(c.isNull(), 1)).alias(f"{name}__err")]
        d = K.as_double(c)
        num = c["num"]
        if agg.distinct:
            # distinct on the term value; exact/double tracked separately
            sum_n, sum_d = F.sum_distinct(num), F.sum_distinct(d)
            cnt = F.count_distinct(c)
        else:
            sum_n, sum_d = F.sum(num), F.sum(d)
            cnt = F.count(c)
        return [
            sum_n.alias(f"{name}__sn"),
            sum_d.alias(f"{name}__sd"),
            cnt.alias(f"{name}__n"),
            F.count(F.when(c.isNull() | ~T.is_numeric(c), 1)).alias(f"{name}__err"),
            F.max(c["dbl"].isNotNull()).alias(f"{name}__hasdbl"),
            F.min(c["datatype"].isin(*T.INTEGER_DATATYPES)).alias(f"{name}__allint"),
        ]
    if k in ("MIN", "MAX") and numeric:
        # native min/max over the payload + error counter; the term is
        # rebuilt from the value in _agg_finalize (canonical lexical form)
        val = c["dbl"] if ntype == "double" else c["num"]
        v = (F.min(val) if k == "MIN" else F.max(val)).alias(f"{name}__nv")
        return [v, F.count(F.when(c.isNull(), 1)).alias(f"{name}__err")]
    if k == "MIN":
        return [F.min_by(c, T.sort_key(c)).alias(f"{name}__v")]
    if k == "MAX":
        return [F.max_by(c, T.sort_key(c)).alias(f"{name}__v")]
    if k == "SAMPLE":
        return [F.first(c, ignorenulls=True).alias(f"{name}__v")]
    if k == "GROUP_CONCAT":
        s = F.when(c["kind"].isin(T.KIND_LITERAL, T.KIND_IRI), c["lex"])
        lst = F.collect_set(s) if agg.distinct else F.collect_list(s)
        # element order is implementation-defined per spec §18.5.1.7; we
        # sort for determinism (oracle-checkable, stable across runs)
        lst = F.array_sort(lst)
        return [F.array_join(lst, agg.separator).alias(f"{name}__s"),
                F.count(F.when(c.isNotNull() & ~_stringable(c), 1)).alias(f"{name}__err")]
    raise NotImplementedError(f"aggregate {agg.name}")


def _stringable(c: Column) -> Column:
    return c["kind"].isin(T.KIND_LITERAL, T.KIND_IRI)


_NATIVE_CMP = {"<": "lt", "<=": "le", ">": "gt", ">=": "ge",
               "=": "eq", "!=": "ne"}
_NATIVE_CMP_FLIP = {"<": "gt", "<=": "ge", ">": "lt", ">=": "le",
                    "=": "eq", "!=": "ne"}
_NATIVE_STR_FNS = {"STRSTARTS": "startswith", "STRENDS": "endswith",
                   "CONTAINS": "contains"}
# ordering comparisons on strings stay pruning hints; these are exact
_EXACT_STR_OPS = frozenset(("eq", "ne"))
_DECIMAL_LEX = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)")
_DOUBLE_LEX = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")
_TERM_DECIMAL_ULP = Decimal(1).scaleb(-18)
_TERM_DECIMAL_CTX = Context(prec=80, rounding=ROUND_HALF_UP)


def _term_decimal(d: Decimal) -> Optional[Decimal]:
    """``d`` as a term's DECIMAL(38,18) ``num`` payload, with CAST
    semantics: HALF_UP to 18 fractional digits, None from 10^20 up."""
    if not d.is_finite() or d.adjusted() >= 20:
        return None
    d = d.quantize(_TERM_DECIMAL_ULP, context=_TERM_DECIMAL_CTX)
    return d if abs(d) < 10 ** 20 else None


def _native_lit_value(lit: A.Literal, vc: Optional[int],
                      nsub: Optional[str]):
    """SPARQL literal → (value, exact) for a native predicate on a column
    of value class ``vc`` (numeric subtype ``nsub``), or None when the
    literal has no sound native form (the term-level filter decides
    alone).

    Numeric values are the ones the term comparison uses.  An
    integer/decimal literal is its DECIMAL(38,18) payload, compared
    exactly against an integer column (``_native_cond`` rounds the
    bound) and as a double against a double column.  A finite
    float/double literal is exact against a double column.  Against an
    integer column SPARQL compares in double, which rounds column values
    past 2^53 as well, so no literal bound is exact there: no native
    form, like NaN/INF.  Datetime values (timezone semantics) and
    booleans are hints only."""
    dt = lit.datatype or T.XSD_STRING
    try:
        if vc == K.VC_NUMERIC and dt in T.NUMERIC_DATATYPES:
            if dt in (T.XSD_FLOAT, T.XSD_DOUBLE):
                if not _DOUBLE_LEX.fullmatch(lit.lex):
                    return None
                f = float(lit.lex)
                if nsub == "double" and math.isfinite(f):
                    return f, True
                return None
            d = _term_decimal(Decimal(lit.lex)) \
                if _DECIMAL_LEX.fullmatch(lit.lex) else None
            if d is None:
                return None
            if nsub == "integer":
                return d, True
            return (float(d), True) if nsub == "double" else None
        if vc == K.VC_STRING and dt == T.XSD_STRING and not lit.lang:
            return lit.lex, True
        if vc == K.VC_DATETIME and dt in (T.XSD_DATETIME, T.XSD_DATE):
            v = datetime.fromisoformat(lit.lex.replace("Z", "+00:00"))
            if v.tzinfo is not None:
                v = v.astimezone(timezone.utc).replace(tzinfo=None)
            return v, False
        if vc == K.VC_BOOLEAN and dt == T.XSD_BOOLEAN:
            return lit.lex in ("true", "1"), False
    except ValueError:
        return None
    return None


def _native_preds(e: A.Expression, var: str, vc: Optional[int],
                  nsub: Optional[str]):
    """FILTER conjunct over one scan variable → ([(op, value)], exact)
    for the scan's raw column, or None.  Every translation is sound: the
    native predicate keeps at least the rows the conjunct keeps.  It is
    ``exact`` when it keeps exactly those rows among the column's
    non-null values; the caller then drops the conjunct once the scan
    applied it.  Otherwise it only prunes, and the term-level filter
    still runs above."""
    if vc is None:
        return None
    if isinstance(e, A.EOp) and e.op in _NATIVE_CMP and len(e.args) == 2:
        a, b = e.args
        if isinstance(a, A.EVar) and a.name == var \
                and isinstance(b, A.ETerm) and isinstance(b.term, A.Literal):
            op, lit = _NATIVE_CMP[e.op], b.term
        elif isinstance(b, A.EVar) and b.name == var \
                and isinstance(a, A.ETerm) and isinstance(a.term, A.Literal):
            op, lit = _NATIVE_CMP_FLIP[e.op], a.term
        else:
            return None
        v = _native_lit_value(lit, vc, nsub)
        if v is None:
            return None
        return [(op, v[0])], v[1] and (
            vc != K.VC_STRING or op in _EXACT_STR_OPS)
    if isinstance(e, A.ECall) and e.name.upper() in _NATIVE_STR_FNS \
            and vc == K.VC_STRING and len(e.args) == 2:
        a, b = e.args
        if isinstance(a, A.EVar) and a.name == var \
                and isinstance(b, A.ETerm) and isinstance(b.term, A.Literal) \
                and not b.term.lang \
                and (b.term.datatype or T.XSD_STRING) == T.XSD_STRING:
            return [(_NATIVE_STR_FNS[e.name.upper()], b.term.lex)], True
        return None
    if isinstance(e, A.EIn) and not e.negated \
            and isinstance(e.expr, A.EVar) and e.expr.name == var:
        vals, exact = [], True
        for o in e.options:
            if not (isinstance(o, A.ETerm) and isinstance(o.term, A.Literal)):
                return None
            v = _native_lit_value(o.term, vc, nsub)
            if v is None:
                return None
            vals.append(v[0])
            exact = exact and v[1]
        return ([("isin", vals)], exact) if vals else None
    return None


def _sort_key_typed(col: Column, stype: Optional[int]) -> Column:
    """ORDER BY key specialized by static value class: a known-class
    column sorts on its native payload field instead of the full 8-field
    total-order struct — the range-partitioning/sort expressions shrink
    ~10x.  NULL placement matches the general key (NULL term = class 0
    sorts first ascending / last descending, same as SQL NULL ordering)."""
    if stype == K.VC_STRING:
        return col["lex"]
    if stype == K.VC_NUMERIC:
        return F.coalesce(col["dbl"], col["num"].cast("double"))
    if stype == K.VC_DATETIME:
        return col["ts"]
    if stype == K.VC_NONLIT:
        # unbound (0) < bnode (1) < IRI (2), then lexical
        cls = (F.when(col.isNull() | col["kind"].isNull(), F.lit(0))
                .when(col["kind"] == T.KIND_BNODE, F.lit(1))
                .otherwise(F.lit(2)))
        return F.struct(cls.alias("cls"), col["lex"].alias("lex"))
    return T.sort_key(col)


def _num_term(v: Column, ntype: str) -> Column:
    """Numeric value → canonical literal term for the known subtype."""
    if ntype == "double":
        return T.double_lit(v)
    if ntype == "integer":
        n = v.cast(T.DECIMAL_T)
        return T.term_struct(T.KIND_LITERAL, n.cast("long").cast("string"),
                             datatype=F.lit(T.XSD_INTEGER), num=n)
    n = v.cast(T.DECIMAL_T)
    return T.term_struct(T.KIND_LITERAL, K._decimal_lex(n),
                         datatype=F.lit(T.XSD_DECIMAL), num=n)


def _agg_finalize(gdf: DataFrame, name: str, agg: A.AggExpr,
                  stype: Optional[int] = None,
                  ntype: Optional[str] = None) -> Column:
    k = agg.name.upper()
    numeric = stype == K.VC_NUMERIC and ntype is not None
    if k == "COUNT":
        return T.int_lit(F.coalesce(gdf[f"{name}__cnt"], F.lit(0)))
    if k in ("SUM", "AVG") and numeric:
        s, n, err = gdf[f"{name}__sv"], gdf[f"{name}__n"], gdf[f"{name}__err"]
        out_nt = ntype
        if k == "AVG":
            s = s / n
            if ntype != "double":
                out_nt = "decimal"  # avg of integers is decimal (§17.4.4)
        return (F.when(err > 0, B.err())
                 .when(n == 0, T.int_lit(F.lit(0)))
                 .otherwise(_num_term(s, out_nt)))
    if k in ("MIN", "MAX") and numeric:
        v, err = gdf[f"{name}__nv"], gdf[f"{name}__err"]
        return (F.when(err > 0, B.err())
                 .when(v.isNull(), B.err())
                 .otherwise(_num_term(v, ntype))) if k == "MIN" else \
               (F.when(v.isNull(), B.err()).otherwise(_num_term(v, ntype)))
    if k in ("SUM", "AVG"):
        sn, sd = gdf[f"{name}__sn"], gdf[f"{name}__sd"]
        n = gdf[f"{name}__n"]
        err, hasdbl = gdf[f"{name}__err"], gdf[f"{name}__hasdbl"]
        allint = gdf[f"{name}__allint"]
        if k == "AVG":
            sn = (sn / n).cast(T.DECIMAL_T)
            sd = sd / n
            allint = F.lit(False)  # avg of integers is decimal (§17.4.4)
        exact = F.when(
            F.coalesce(allint, F.lit(False)),
            T.term_struct(T.KIND_LITERAL, sn.cast("long").cast("string"),
                          datatype=F.lit(T.XSD_INTEGER), num=sn.cast(T.DECIMAL_T))
        ).otherwise(
            T.term_struct(T.KIND_LITERAL, K._decimal_lex(sn.cast(T.DECIMAL_T)),
                          datatype=F.lit(T.XSD_DECIMAL), num=sn.cast(T.DECIMAL_T)))
        dbl = T.double_lit(sd)
        empty = T.int_lit(F.lit(0))  # SUM({})=0, AVG({})=0 (§18.5.1)
        return (F.when(err > 0, B.err())
                 .when(n == 0, empty)
                 .when(F.coalesce(hasdbl, F.lit(False)), dbl)
                 .otherwise(exact))
    if k in ("MIN", "MAX", "SAMPLE"):
        return gdf[f"{name}__v"]
    if k == "GROUP_CONCAT":
        return F.when(gdf[f"{name}__err"] > 0, B.err()) \
                .otherwise(T.str_lit(F.coalesce(gdf[f"{name}__s"], F.lit(""))))
    raise NotImplementedError(k)


def _find_exists(e) -> List[A.EExists]:
    out: List[A.EExists] = []
    if isinstance(e, A.EExists):
        out.append(e)
    elif isinstance(e, (A.EOp, A.ECall)):
        for a in e.args:
            out.extend(_find_exists(a))
    elif isinstance(e, A.EIn):
        out.extend(_find_exists(e.expr))
        for o in e.options:
            out.extend(_find_exists(o))
    return out
