"""Engine facade — the analog of the reference's ``Store`` API
(``lib/oxigraph/src/store.rs`` · ``Store::query`` / ``quads_for_pattern``)
and of pyoxigraph's ``Store.query`` (``python/src/store.rs`` ·
``PyStore::query``): SPARQL text in, DataFrame out.
"""

from __future__ import annotations

import dataclasses
from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .algebra import ast as A
from .algebra.parser import parse_query
from .lru import LRUCache
from .model import terms as T
from .plans.compiler import Compiler

# functions whose value differs per evaluation (SPARQL 1.1 §17.4)
_VOLATILE_FNS = frozenset({"NOW", "RAND", "UUID", "STRUUID", "BNODE"})


def _volatile(node) -> bool:
    """True when the algebra calls a ``_VOLATILE_FNS`` function outside
    SERVICE (a SERVICE pattern is a compile-time snapshot by design)."""
    if isinstance(node, A.ECall) and node.name.upper() in _VOLATILE_FNS:
        return True
    if isinstance(node, A.Service):
        return False
    if isinstance(node, (tuple, list)):
        return any(_volatile(x) for x in node)
    if dataclasses.is_dataclass(node):
        return any(_volatile(getattr(node, f.name))
                   for f in dataclasses.fields(node))
    return False


class Store:
    def __init__(self, spark: SparkSession, source, *, optimize: bool = True,
                 service_max_total_bindings: "int | None" = None,
                 service_pool: int = 4):
        self.spark = spark
        self.source = source
        self.optimize = optimize
        # SERVICE bound-join knobs (VERDICT r6 item 3): cap on the local
        # seed size shipped as VALUES chunks (None = compiler default,
        # 10k; above the cap the join falls back to full download), and
        # the concurrent-chunk HTTP pool width (1 = sequential).
        self.service_max_total_bindings = service_max_total_bindings
        self.service_pool = service_pool
        # compiled-plan cache (the prepared-query analog of upstream's
        # ``Query`` objects, ``lib/spareval/src/lib.rs`` ·
        # ``SparqlEvaluator::parse_query`` reuse): (SPARQL text, source
        # ``generation``, union flag) → (compiled DataFrame, {max_rows:
        # bounded DataFrame}).  A DataFrame owns one QueryExecution, so
        # serving the same object skips parse, py4j plan build and
        # Catalyst analysis; re-collecting it (``prepare``) also skips
        # optimize and physical planning and, under AQE, re-reads the
        # broadcast relations and shuffle outputs its first run built.
        # Those stay valid while the generation is unchanged; an update
        # bumps it (and ``update`` returns a new Store with an empty
        # cache), so a stale entry is never served again and ages out.
        # An entry therefore pins executed broadcast relations (small:
        # session.get_spark fixes 1 MB Tungsten pages); the cache keeps
        # the 256 most recently used entries.  Texts calling NOW(),
        # RAND(), UUID(), STRUUID() or BNODE() are never cached: their
        # values must differ per run, and a cached plan freezes them.
        self._plan_cache = LRUCache(256)

    @classmethod
    def from_tables(cls, spark: SparkSession, sf_dir: str, tables=None,
                    key_width: int = 64, table_defs=None, **kw) -> "Store":
        """``key_width``: dictionary identity-key width.  64 (default)
        = single-xxhash64 BIGINT keys — half the exchange/group width,
        measured 1.3–1.6× faster on join/closure shapes
        (tools/ab_keywidth.py); collision-safe to ~10⁹ distinct terms.
        Pass ``key_width=128`` (struct<h1,h2> double-hash) for corpora
        beyond that — the 100 TB / 10¹²-distinct-term tier.

        ``table_defs``: map YOUR OWN tables instead of the driver
        fixtures — ``{table: ((pk_col, …), {fk_col: referenced_table})}``;
        an empty pk tuple selects row-hash subject nodes (the W3C direct
        mapping's keyless-table rule).  Tables may be parquet, CSV, or
        JSON Lines files named ``{table}.{ext}`` under ``sf_dir``."""
        from .sources.direct_mapping import DirectMappingSource
        return cls(spark, DirectMappingSource(spark, sf_dir, tables=tables,
                                              key_width=key_width,
                                              table_defs=table_defs), **kw)

    @classmethod
    def from_dataframes(cls, spark: SparkSession, frames, table_defs,
                        key_width: int = 64, **kw) -> "Store":
        """Direct-map IN-MEMORY DataFrames — any Spark source (JDBC,
        Delta, temp views, computed frames), no files required.
        ``frames``: ``{table_name: DataFrame}``; ``table_defs`` as in
        :meth:`from_tables` and must cover every frame."""
        from .sources.direct_mapping import DirectMappingSource
        return cls(spark, DirectMappingSource(spark, frames=frames,
                                              table_defs=table_defs,
                                              key_width=key_width), **kw)

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, **kw) -> "Store":
        from .sources.quad_store import ParquetQuadStore
        return cls(spark, ParquetQuadStore(spark, path), **kw)

    def query(self, sparql: str, use_cache: bool = True,
              use_default_graph_as_union: bool = False) -> DataFrame:
        """Run a SPARQL query; returns a DataFrame of TERM structs
        (SELECT: one column per projected variable; ASK: single boolean;
        CONSTRUCT/DESCRIBE: columns s, p, o).

        ``use_default_graph_as_union=True`` makes patterns outside GRAPH
        match quads from every graph (pyoxigraph's flag of the same
        name; ``python/src/store.rs`` · ``PyStore::query``).

        ``use_cache=False`` forces a fresh compile (used by tests and
        by ``explain`` when plan construction itself is under study);
        a text calling NOW(), RAND(), UUID(), STRUUID() or BNODE() is
        compiled afresh on every call regardless."""
        key = self._cache_key(sparql, use_default_graph_as_union)
        if use_cache:
            hit = self._plan_cache.get(key)
            if hit is not None:
                return hit[0]
        ast = parse_query(sparql)
        compiler = Compiler(
            self.spark, self.source, optimize=self.optimize,
            default_graph_as_union=use_default_graph_as_union,
            service_max_total_bindings=self.service_max_total_bindings,
            service_pool=self.service_pool)
        df = compiler.compile_query(ast)
        if use_cache and not _volatile(ast):
            self._plan_cache.put(key, (df, {}))
        return df

    def prepare(self, sparql: str, max_rows: int) -> DataFrame:
        """``query(sparql).limit(max_rows)``, kept in the plan-cache entry
        of ``sparql``: repeated calls return the same DataFrame, so each
        ``collect()`` re-runs one QueryExecution — its optimized and
        physical plan and, under AQE, its materialized broadcast and
        shuffle stages.  The protocol endpoint serves result documents
        from this frame.  A text the cache does not keep (volatile
        functions) gets a fresh bounded frame per call."""
        df = self.query(sparql)
        entry = self._plan_cache.get(self._cache_key(sparql, False))
        if entry is None or entry[0] is not df:
            return df.limit(max_rows)
        bounded = entry[1].get(max_rows)
        if bounded is None:
            bounded = entry[1].setdefault(max_rows, df.limit(max_rows))
        return bounded

    def _cache_key(self, sparql: str, union: bool) -> tuple:
        return (sparql, getattr(self.source, "generation", 0), union)

    def explain(self, sparql: str, mode: str = "formatted") -> str:
        """Compile a SPARQL query and return its execution explanation:
        the parsed algebra tree followed by the Spark plan in the given
        ``mode`` ('simple' | 'extended' | 'formatted' | 'cost' |
        'codegen').  The profiling surface for the Catalyst story —
        check ``ReadSchema``/``PushedFilters`` on bound-predicate scans
        and ``Exchange`` placement without running the query.

        SERVICE bind-join seeding is disabled here (collecting the seed
        would run Spark jobs, and explain must not); a query executed
        via ``query()`` may therefore carry an extra VALUES seed inside
        its SERVICE call that this plan does not show."""
        ast = parse_query(sparql)
        compiler = Compiler(self.spark, self.source, optimize=self.optimize,
                            service_bind_join=False)
        df = compiler.compile_query(ast)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode)
        return f"== SPARQL algebra ==\n{ast!r}\n\n{plan}"

    def profile(self, sparql: str) -> str:
        """Run the query and return a per-operator execution profile:
        the physical plan tree annotated with each node's runtime
        metrics (output rows, spill, build/scan times).  The analog of
        the reference's ``QueryExplanation`` per-node statistics
        (upstream ``lib/spareval`` · ``QueryEvaluator::explain``) —
        there the evaluator counts per-closure, here the numbers come
        from Spark's SQLMetrics after a real run.  AQE-replanned
        subtrees report their FINAL shape."""
        df = self.query(sparql)
        # execute THIS DataFrame's queryExecution (a derived action like
        # .count() would run a different plan whose metrics we can't
        # see) WITHOUT materializing rows on the driver: run the
        # physical plan's RDD and count JVM-side — O(1) driver memory
        # even when the result is the whole store
        df._jdf.queryExecution().executedPlan().execute().count()

        def node_children(node):
            name = node.nodeName()
            # AQE wrappers: descend into the executed/materialized plan
            for acc in ("executedPlan", "plan"):
                if name.startswith(("AdaptiveSparkPlan",
                                    "ShuffleQueryStage",
                                    "BroadcastQueryStage",
                                    "ResultQueryStage")):
                    try:
                        return [getattr(node, acc)()]
                    except Exception:  # noqa: BLE001 — try next accessor
                        continue
            ch = node.children()
            return [ch.apply(i) for i in range(ch.size())]

        lines = []

        def walk(node, depth):
            mets = node.metrics()
            it = mets.iterator()
            parts = []
            while it.hasNext():
                kv = it.next()
                m = kv._2()
                v = m.value()
                if v:  # only populated metrics
                    parts.append(f"{kv._1()}={v}")
            lines.append("  " * depth + node.nodeName()
                         + (f"  [{', '.join(sorted(parts))}]"
                            if parts else ""))
            for c in node_children(node):
                walk(c, depth + 1)

        walk(df._jdf.queryExecution().executedPlan(), 0)
        return "\n".join(lines)

    def quads_for_pattern(self, s=None, p=None, o=None, g=None) -> DataFrame:
        """Programmatic pattern scan (``Store::quads_for_pattern``,
        pyoxigraph ``PyStore::quads_for_pattern``): each argument is an
        algebra ground term (``A.NamedNode`` / ``A.Literal`` / …) or
        None for a wildcard; returns the matching quads DataFrame.  A
        bound predicate routes to the pruned per-predicate scan."""
        from .plans.compiler import _same_term_const_sql
        p_lex = p.iri if isinstance(p, A.NamedNode) else None
        df = self.source.scan(p_lex)
        for pos, term in (("s", s), ("p", p), ("o", o), ("g", g)):
            if term is None or (pos == "p" and p_lex is not None):
                continue
            df = df.where(F.expr(_same_term_const_sql(pos, term)))
        return df

    def named_graphs(self) -> DataFrame:
        """Distinct named-graph terms in the store (pyoxigraph
        ``named_graphs``): one TERM column ``g``."""
        from .model import terms as T
        q = self.source.quads()
        named = q.where(q["g"]["kind"] != T.KIND_DEFAULT_GRAPH)
        # dedup over (g, __k): g is determined by its content-hash key,
        # and key-only dedup would put the g struct in a first() buffer
        # HashAggregate cannot hold (Sort+SortAggregate path; r9 §5)
        return named.select("g", T.join_key(named["g"]).alias("__k")) \
                    .dropDuplicates().select("g")

    def contains(self, s, p, o, g=None) -> bool:
        """True iff the ground quad is in the store (``Store::contains``)."""
        return len(self.quads_for_pattern(s, p, o, g).take(1)) > 0

    def count_quads(self) -> int:
        """Total quads (``len(store)`` in pyoxigraph) — a full-scan
        count; Spark computes it as a metadata-only parquet count when
        the source allows."""
        return self.source.quads().count()

    def ask(self, sparql: str) -> bool:
        # compile_query caps ASK with limit(1), so collect() is bounded
        # and re-runs the cached frame's own QueryExecution
        return len(self.query(sparql).collect()) > 0

    def update(self, sparql: str) -> "Store":
        """Run SPARQL Update ops; returns a NEW Store over the rewritten
        quads.  Over a :class:`TransactionalQuadStore` source this is
        ONE atomic commit (ACID — ``Store::update`` analog incl. the
        transaction); other sources keep batch single-writer semantics
        (see operators/update.py)."""
        if hasattr(self.source, "update") and hasattr(self.source,
                                                      "refresh"):
            self.source.update(sparql)
            return Store(self.spark, self.source.refresh(),
                         optimize=self.optimize,
                         service_max_total_bindings=(
                             self.service_max_total_bindings),
                         service_pool=self.service_pool)
        from .algebra.parser import parse_update
        from .operators.update import MutableQuadSource
        mut = MutableQuadSource.from_source(self.spark, self.source)
        mut.apply_all(parse_update(sparql))
        return Store(self.spark, mut, optimize=self.optimize,
                     service_max_total_bindings=(
                         self.service_max_total_bindings),
                     service_pool=self.service_pool)


# -- result extraction (for interop / oracle comparison) --------------------

_EXTRACTORS = {
    "str": lambda c: c["lex"],
    "long": lambda c: c["num"].cast("long"),
    "double": lambda c: F.coalesce(c["dbl"], c["num"].cast("double")),
    "decimal": lambda c: c["num"],
    "ts": lambda c: c["ts"],
    "bool": lambda c: c["bool"],
}


def to_native(df: DataFrame, spec: Dict[str, str]) -> DataFrame:
    """Project TERM columns to native Spark types, e.g.
    ``to_native(df, {"name": "str", "total": "double"})``."""
    cols = []
    for name, kind in spec.items():
        cols.append(_EXTRACTORS[kind](df[name]).alias(name))
    return df.select(*cols)
