"""Physical-plan shape guards: the scale story as regression tests.
These assert the plan INVARIANTS the engine's design promises —
star-join collapse, pushdown, no cartesian joins — so a refactor that
silently regresses them fails fast (tools/audit_plans.py is the
full-gate version of this)."""

import re

from pyspark.sql import functions as F


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_star_collapse(spark, sf_dir):
    """Flagship Q1: k attributes of one entity = ONE scan, a pushed
    filter, and no more than 2 exchanges (partial+final aggregate)."""
    import __spark_entry__ as E
    df = E.queries()["flagship_q1"](spark, sf_dir)
    plan = _plan(df)
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 1
    assert "PushedFilters: [" in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2


def test_bound_predicate_scan_prunes_columns(spark, sf_dir):
    """A bound-predicate pattern reads exactly the 2 needed columns."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    df = store.query(E.PFX + "SELECT ?n WHERE { ?x r:r_name ?n }")
    m = re.search(r"ReadSchema: struct<([^>]*)>", _plan(df))
    assert m is not None
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) <= {"r_regionkey", "r_name"}


def test_dedup_paths_no_cartesian(spark, sf_dir):
    """Every dedup candidate join is bucket/hash keyed, never all-pairs."""
    import __spark_entry__ as E
    for name in ("X_dedup_minhash", "X_dedup_ngram", "X_dedup_simhash",
                 "X_embed_dedup", "X_substring_spans"):
        plan = _plan(E.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_store_plan_cache_and_invalidation(spark, sf_dir):
    """Round-4 prepared-plan cache: repeated SPARQL text returns the SAME
    compiled DataFrame (no recompile); use_cache=False forces a fresh
    compile; a mutated source (new generation) never serves stale
    plans."""
    from oxigraph_spark.store import Store
    st = Store.from_tables(spark, sf_dir, tables=["region", "nation"])
    q = ("PREFIX r: <urn:g:region#> "
         "SELECT ?n WHERE { ?s r:r_name ?n }")
    d1 = st.query(q)
    d2 = st.query(q)
    assert d1 is d2
    d3 = st.query(q, use_cache=False)
    assert d3 is not d1
    assert sorted(x["n"]["lex"] for x in d1.collect()) \
        == sorted(x["n"]["lex"] for x in d3.collect())

    # mutation bumps the source generation -> cache key changes
    st2 = st.update('INSERT DATA { <urn:g:region/99> '
                    '<urn:g:region#r_name> "NOWHERE" }')
    e1 = st2.query(q)
    assert e1 is st2.query(q)
    before = {x["n"]["lex"] for x in d1.collect()}
    after = {x["n"]["lex"] for x in e1.collect()}
    assert after == before | {"NOWHERE"}
    st3 = st2.update('DELETE DATA { <urn:g:region/99> '
                     '<urn:g:region#r_name> "NOWHERE" }')
    assert {x["n"]["lex"] for x in st3.query(q).collect()} == before


def test_scan_memo_reuses_dataframes(spark, sf_dir):
    """star_scan / filtered scan results are memoized per source — the
    second query over the same shape skips scan re-derivation."""
    from oxigraph_spark.sources.direct_mapping import DirectMappingSource
    src = DirectMappingSource(spark, sf_dir, tables=["customer"])
    a = src.star_scan(["urn:g:customer#c_name", "urn:g:customer#c_acctbal"])
    b = src.star_scan(["urn:g:customer#c_name", "urn:g:customer#c_acctbal"])
    assert a is b
    f = [("gt", 100.0)]
    c = src.scan("urn:g:customer#c_acctbal", native_filters=f)
    d = src.scan("urn:g:customer#c_acctbal", native_filters=list(f))
    assert c is d
    # different filters -> different plan
    e = src.scan("urn:g:customer#c_acctbal", native_filters=[("gt", 5.0)])
    assert e is not c


def test_volatile_texts_bypass_plan_cache(spark):
    """NOW(), RAND(), UUID(), STRUUID() and BNODE() must differ per run,
    and a cached plan freezes them (NOW() at compile, Spark's per-plan
    seeds for the rest): such texts are compiled per call."""
    from tests.test_semantics import iri, lit, quads_store
    st = quads_store(spark, [(iri("a"), iri("name"), lit("Alice"))])
    q = ("SELECT (STR(NOW()) AS ?now) (RAND() AS ?r) (UUID() AS ?u) "
         "(STRUUID() AS ?su) (BNODE() AS ?b) WHERE {}")
    a, b = (st.query(q).collect()[0] for _ in range(2))
    for var in ("now", "r", "u", "su", "b"):
        assert a[var]["lex"] != b[var]["lex"], var
    assert st.query(q) is not st.query(q)
    assert len(st._plan_cache) == 0
    # nested in a FILTER / EXISTS counts too; a plain text is cached
    nested = ("SELECT ?n WHERE { ?s <urn:ex:name> ?n "
              "FILTER EXISTS { FILTER(RAND() < 2) } }")
    assert st.query(nested) is not st.query(nested)
    plain = "SELECT ?n WHERE { ?s <urn:ex:name> ?n }"
    assert st.query(plain) is st.query(plain)
    assert st.prepare(plain, 10) is st.prepare(plain, 10)
    assert st.prepare(plain, 10) is not st.prepare(plain, 5)
    assert st.prepare(q, 10) is not st.prepare(q, 10)


def test_lru_cache_evicts_least_recently_used():
    from oxigraph_spark.lru import LRUCache
    c = LRUCache(3)
    for k in "abc":
        c.put(k, k.upper())
    assert c.get("a") == "A"          # refreshes a
    c.put("d", "D")                   # evicts b, the least recent
    assert c.keys() == ["c", "a", "d"]
    assert c.get("b") is None and c.get("b", 0) == 0
    c.put("c", "C2")                  # re-put refreshes, no eviction
    c.put("e", "E")                   # evicts a
    assert c.keys() == ["d", "c", "e"] and c.get("c") == "C2"
    assert len(c) == 3


def test_lru_cache_concurrent_stress():
    """More threads than cores hammer one cache with a tiny switch
    interval: no lost update may leave it over capacity, with duplicate
    keys, or with a value stored under another key."""
    import random
    import sys
    import threading
    from oxigraph_spark.lru import LRUCache
    c = LRUCache(64)
    errors = []

    def worker(tid):
        rng = random.Random(tid)
        try:
            for i in range(3000):
                c.put((tid, i), (tid, i))
                got = c.get((rng.randrange(8), rng.randrange(i + 1)))
                assert got is None or isinstance(got, tuple)
        except Exception as ex:  # noqa: BLE001 — reported below
            errors.append(ex)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,))
                   for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    keys = c.keys()
    assert len(keys) == len(set(keys)) == len(c) == 64
    assert all(c.get(k) == k for k in keys)


def test_plan_cache_is_bounded_lru(spark):
    """The plan cache keeps the 256 most recently used texts; a hit
    refreshes its entry, so eviction drops the least recently used."""
    from oxigraph_spark.lru import LRUCache
    from tests.test_semantics import iri, lit, quads_store
    st = quads_store(spark, [(iri("a"), iri("name"), lit("Alice"))])
    assert isinstance(st._plan_cache, LRUCache)
    assert st._plan_cache.capacity == 256
    st._plan_cache = LRUCache(2)  # same policy, small enough to fill
    q1, q2, q3 = (f"SELECT ?n WHERE {{ ?s <urn:ex:name> ?n }} LIMIT {i}"
                  for i in (1, 2, 3))
    d1, d2 = st.query(q1), st.query(q2)
    assert st.query(q1) is d1         # hit: q1 is now the most recent
    st.query(q3)                      # evicts q2
    assert st.query(q1) is d1
    assert st.query(q2) is not d2


def test_scan_memo_is_bounded(spark, sf_dir):
    """One memo entry per distinct filter constant, at most 256 kept."""
    from oxigraph_spark.sources.direct_mapping import DirectMappingSource
    src = DirectMappingSource(spark, sf_dir, tables=["customer"])
    p = "urn:g:customer#c_acctbal"
    for i in range(300):
        src.scan(p, native_filters=[("gt", float(i))])
    assert len(src._scan_memo) == 256
    last = src.scan(p, native_filters=[("gt", 299.0)])
    assert src.scan(p, native_filters=[("gt", 299.0)]) is last
    assert src._scan_memo.get((p, repr([("gt", 0.0)]))) is None


def test_key_width_64_equivalence(spark, sf_dir):
    """Default compact 64-bit dictionary keys (source.key_width=64,
    SURVEY §1.4 variant): joins, closures, aggregates, MINUS and
    OPTIONAL produce results identical to the 128-bit fallback
    (key_width=128, for ≳10⁹-distinct-term corpora)."""
    from oxigraph_spark.store import Store
    queries = [
        """PREFIX c: <urn:g:customer#> PREFIX n: <urn:g:nation#>
           PREFIX r: <urn:g:region#>
           SELECT ?cn ?rn WHERE { ?c c:c_name ?cn ; c:ref_nation ?n .
             ?n n:ref_region ?r . ?r r:r_name ?rn }""",
        """PREFIX n: <urn:g:nation#>
           SELECT ?a ?b WHERE { ?a (n:ref_region|^n:ref_region)+ ?b }""",
        """PREFIX n: <urn:g:nation#>
           SELECT ?nn WHERE { ?n n:n_name ?nn .
             MINUS { ?n n:n_regionkey 0 } } ORDER BY ?nn LIMIT 5""",
        """PREFIX r: <urn:g:region#> PREFIX n: <urn:g:nation#>
           SELECT ?rn (COUNT(?n) AS ?cnt) WHERE { ?r r:r_name ?rn .
             OPTIONAL { ?n n:ref_region ?r } } GROUP BY ?rn""",
    ]
    st128 = Store.from_tables(spark, sf_dir, key_width=128)
    st64 = Store.from_tables(spark, sf_dir)  # 64 is the default
    for q in queries:
        a = sorted(map(str, st128.query(q).collect()))
        b = sorted(map(str, st64.query(q).collect()))
        assert a == b


def test_quad_store_64bit_keys_roundtrip(spark, sf_dir, tmp_path):
    """write(key_width=64) persists BIGINT sidecars; a Store over the
    64-keyed ParquetQuadStore answers queries correctly."""
    from oxigraph_spark.store import Store
    from oxigraph_spark.sources.quad_store import ParquetQuadStore
    src = Store.from_tables(spark, sf_dir, tables=["region", "nation"])
    p = str(tmp_path / "qs64")
    ParquetQuadStore.write(src.source.quads(), p, key_width=64)
    qs = ParquetQuadStore(spark, p, key_width=64)
    assert dict(qs.scan("urn:g:nation#n_name").dtypes)["s_key"] == "bigint"
    st = Store(spark, qs)
    rows = st.query("""PREFIX n: <urn:g:nation#> PREFIX r: <urn:g:region#>
        SELECT ?nn ?rn WHERE { ?n n:n_name ?nn ; n:ref_region ?r .
                               ?r r:r_name ?rn }""").collect()
    assert len(rows) == 25


def test_pred_card_footer_statistics(spark, sf_dir):
    """pred_card serves parquet-footer row counts with no Spark job and
    orders the relation sizes correctly (lineitem >> nation > region)."""
    from oxigraph_spark.sources.direct_mapping import (
        DirectMappingSource, pred_iri, RDF_TYPE)
    src = DirectMappingSource(spark, sf_dir)
    li = src.pred_card(pred_iri("lineitem", "l_quantity"))
    na = src.pred_card(pred_iri("nation", "n_name"))
    re_ = src.pred_card(pred_iri("region", "r_name"))
    assert li and na and re_ and li > na > re_
    # rdf:type spans every table; unknown predicates have no estimate
    assert src.pred_card(RDF_TYPE) >= li
    assert src.pred_card("urn:nope#p") is None


def test_cardinality_tiebreak_orders_small_relation_first(spark, sf_dir):
    """Equally-bound patterns start from the smaller relation: with
    `?c c:ref_nation ?n . ?n n:n_name ?nm` both patterns carry one
    constant (the predicate), so the statistics tie-break must pick the
    nation pattern (25 rows) before the customer pattern (150 rows at
    sf0.001)."""
    from oxigraph_spark.algebra import parser as P
    from oxigraph_spark.algebra import ast as A
    from oxigraph_spark.sources.direct_mapping import (
        DirectMappingSource, pred_iri, ref_pred_iri)
    from oxigraph_spark.plans.compiler import Compiler
    src = DirectMappingSource(spark, sf_dir)
    comp = Compiler(spark, src)
    pats = [
        A.TriplePattern(A.Var("c"), A.NamedNode(ref_pred_iri(
            "customer", "nation")), A.Var("n")),
        A.TriplePattern(A.Var("n"), A.NamedNode(pred_iri(
            "nation", "n_name")), A.Var("nm")),
    ]
    ordered = comp._order_patterns(pats)
    assert ordered[0].p.iri == pred_iri("nation", "n_name")
    # and the result stays correct end-to-end
    from oxigraph_spark.store import Store
    st = Store(spark, src)
    n = st.query("""
        PREFIX c: <urn:g:customer#> PREFIX n: <urn:g:nation#>
        SELECT ?nm WHERE { ?c c:ref_nation ?n . ?n n:n_name ?nm }
    """).count()
    assert n == src._table_rows("customer")


def test_quad_store_pred_card(spark, sf_dir, tmp_path):
    """The native layout serves per-predicate footer counts too."""
    from oxigraph_spark.sources.quad_store import ParquetQuadStore
    from oxigraph_spark.sources.direct_mapping import (
        DirectMappingSource, pred_iri)
    src = DirectMappingSource(spark, sf_dir, tables=["nation", "region"])
    path = str(tmp_path / "qs")
    ParquetQuadStore.write(src.quads(), path)
    qs = ParquetQuadStore(spark, path)
    na = qs.pred_card(pred_iri("nation", "n_name"))
    re_ = qs.pred_card(pred_iri("region", "r_name"))
    assert na == 25 and re_ == 5
    assert qs.pred_card("urn:nope#p") == 0


def test_const_object_star_collapse(spark, sf_dir):
    """Constant-object members of a subject star (?o o:o_totalprice ?tp ;
    o:o_orderstatus "O") collapse into the SAME scan as native equality
    predicates — no self-join, constant pushed to parquet."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    df = store.query(E.PFX + """
        SELECT ?o ?tp WHERE { ?o o:o_totalprice ?tp ;
                                 o:o_orderstatus "O" }""", use_cache=False)
    plan = _plan(df)
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 1
    assert "Join" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*o_orderstatus,O", plan)
    # term semantics survive: results equal the unoptimized path
    from oxigraph_spark.store import Store
    un = Store(spark, store.source, optimize=False)
    q = E.PFX + 'SELECT ?nm WHERE { ?c c:c_mktsegment "BUILDING" ; c:c_name ?nm }'
    a = sorted(r["nm"]["lex"] for r in store.query(q, use_cache=False).collect())
    b = sorted(r["nm"]["lex"] for r in un.query(q, use_cache=False).collect())
    assert a == b and len(a) > 0


def test_const_subject_star_native_point_lookup(spark, sf_dir):
    """A constant-subject star (<urn:g:customer/7> c:c_name ?nm ;
    c:c_acctbal ?b) compiles to ONE scan with the primary key pushed as
    a native EqualTo — a parquet point lookup, not a string comparison
    over concatenated IRIs."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    df = store.query(E.PFX + """
        SELECT ?nm ?b WHERE { <urn:g:customer/7> c:c_name ?nm ;
                                                 c:c_acctbal ?b }""",
                     use_cache=False)
    plan = _plan(df)
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 1
    assert "Join" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(c_custkey,7\)", plan)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["nm"]["lex"]


def test_const_object_star_term_semantics(spark, sf_dir):
    """Non-canonical / lang-tagged / type-mismatched constants do NOT
    translate natively — term equality is preserved (they match nothing
    in the direct-mapped graph, same as the unoptimized path)."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    xsd = "http://www.w3.org/2001/XMLSchema#"
    for q in (
        # non-canonical integer lexical is a DIFFERENT term
        f'SELECT ?o WHERE {{ ?o o:o_orderstatus "O" ; '
        f'o:o_custkey "07"^^<{xsd}integer> }}',
        # lang tag never matches a direct-mapped plain literal
        'SELECT ?nm WHERE { ?c c:c_mktsegment "BUILDING"@en ; c:c_name ?nm }',
        # IRI with a non-numeric key names no row
        'SELECT ?nm WHERE { ?c c:ref_nation <urn:g:nation/xx> ; c:c_name ?nm }',
    ):
        assert store.query(E.PFX + q, use_cache=False).count() == 0, q
    # canonical FK IRI object collapses and matches
    df = store.query(E.PFX + """
        SELECT ?c WHERE { ?c c:ref_nation <urn:g:nation/5> ;
                             c:c_mktsegment "BUILDING" }""", use_cache=False)
    plan = _plan(df)
    assert "Join" not in plan
    assert df.count() > 0


def test_bucketed_quad_store_colocated_join(spark, sf_dir, tmp_path):
    """Subject-bucketed native layout: an s-s join across predicate
    partitions runs with ZERO exchanges (both sides co-located by
    bucket), an FK-chain join shuffles only the probe side, and results
    equal the unbucketed store's."""
    from oxigraph_spark.sources.direct_mapping import DirectMappingSource
    from oxigraph_spark.sources.quad_store import (BucketedQuadStore,
                                                   ParquetQuadStore)
    from oxigraph_spark.store import Store
    src = DirectMappingSource(spark, sf_dir, tables=["customer", "nation"])
    BucketedQuadStore.write_bucketed(src.quads(), "bq_t",
                                     str(tmp_path / "bq"), n_buckets=8)
    bstore = Store(spark, BucketedQuadStore(spark, str(tmp_path / "bq"),
                                            "bq_t"))
    pfx = "PREFIX c: <urn:g:customer#> PREFIX n: <urn:g:nation#>\n"
    q = pfx + "SELECT ?a ?b WHERE { ?x c:c_name ?a . ?x c:c_acctbal ?b }"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bstore.query(q, use_cache=False)
        assert _plan(df).count("Exchange") == 0
        ParquetQuadStore.write(src.quads(), str(tmp_path / "pq"),
                               key_width=64)
        pstore = Store(spark, ParquetQuadStore(spark, str(tmp_path / "pq"),
                                               key_width=64))
        dfp = pstore.query(q, use_cache=False)
        assert _plan(dfp).count("Exchange") == 2
        key = lambda rows: sorted(
            (r["a"]["lex"], r["b"]["lex"]) for r in rows)
        assert key(df.collect()) == key(dfp.collect())
        fk = pfx + "SELECT ?nm WHERE { ?c c:ref_nation ?n . ?n n:n_name ?nm }"
        dfk = bstore.query(fk, use_cache=False)
        assert _plan(dfk).count("Exchange") == 1  # probe side only
        assert dfk.count() == src._table_rows("customer")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bq_t")


def test_optional_star_fusion(spark, sf_dir):
    """LeftJoin of two same-subject stars over one table fuses into a
    single scan with nullable optional columns (sound because the
    direct mapping is single-valued per predicate): zero joins, and
    results identical to the unoptimized left-join path — including an
    erroring embedded filter (error ⇒ optional unbound, §8.3)."""
    import __spark_entry__ as E
    from oxigraph_spark.store import Store
    store = E._store(spark, sf_dir)
    un = Store(spark, store.source, optimize=False)
    q = E.PFX + """
        SELECT ?nm ?bal WHERE { ?s s:s_name ?nm .
          OPTIONAL { ?s s:s_acctbal ?bal . FILTER(?bal > 4000) } }"""
    df = store.query(q, use_cache=False)
    plan = _plan(df)
    assert "Join" not in plan
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 1
    key = lambda rows: sorted(
        (r["nm"]["lex"], r["bal"]["lex"] if r["bal"] else None) for r in rows)
    assert key(df.collect()) == key(un.query(q, use_cache=False).collect())
    # bound vs unbound split is real (filter excludes some, not all)
    rows = df.collect()
    bound = sum(1 for r in rows if r["bal"] is not None)
    assert 0 < bound < len(rows)
    # erroring filter ⇒ optional unbound everywhere, rows kept
    qe = E.PFX + """
        SELECT ?nm ?bal WHERE { ?s s:s_name ?nm .
          OPTIONAL { ?s s:s_acctbal ?bal . FILTER(?bal > "abc") } }"""
    re_rows = store.query(qe, use_cache=False).collect()
    assert len(re_rows) == len(rows)
    assert all(r["bal"] is None for r in re_rows)


def test_optional_chain_star_fusion(spark, sf_dir):
    """A CHAIN of OPTIONALs on the same subject/table fuses into one
    scan; a later filter referencing an EARLIER optional var sees its
    post-fusion (unbound-when-unmatched) value, matching nested
    LeftJoin evaluation order."""
    import __spark_entry__ as E
    from oxigraph_spark.store import Store
    store = E._store(spark, sf_dir)
    un = Store(spark, store.source, optimize=False)
    q = E.PFX + """
        SELECT ?p ?st ?tp WHERE { ?o o:o_orderpriority ?p .
          OPTIONAL { ?o o:o_orderstatus ?st . FILTER(?st = "NOPE") }
          OPTIONAL { ?o o:o_totalprice ?tp . FILTER(!BOUND(?st)) } }"""
    df = store.query(q, use_cache=False)
    plan = _plan(df)
    assert "Join" not in plan
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 1
    key = lambda rows: sorted(
        tuple("N" if r[f] is None else r[f]["lex"] for f in ("p", "st", "tp"))
        for r in rows)
    assert key(df.collect()) == key(un.query(q, use_cache=False).collect())
    # group 1 never matches, so group 2's !BOUND(?st) passes everywhere
    rows = df.collect()
    assert all(r["st"] is None for r in rows)
    assert all(r["tp"] is not None for r in rows)


def _filters(plan):
    """Condition text of every physical Filter node."""
    return [ln.split("Filter ", 1)[1] for ln in plan.splitlines()
            if re.search(r"(^|[\s*)])Filter \(", ln)]


def test_exact_native_filter_runs_once_at_scan(spark, sf_dir):
    """A FILTER conjunct that translates exactly to a raw-column
    predicate is applied at the scan only: PushedFilters carries it and
    no Filter rebuilds the TERM struct to re-check it (the T6 shape of
    the explore benchmark)."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    q = E.PFX + ("SELECT ?st (COUNT(*) AS ?cnt) WHERE { ?o o:o_orderstatus "
                 "?st ; o:o_custkey ?ck . FILTER(?ck < 77) } GROUP BY ?st")
    df = store.query(q, use_cache=False)
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_custkey,77\)", plan)
    assert not any("struct(" in f for f in _filters(plan)), plan
    got = {r["st"]["lex"]: int(r["cnt"]["lex"]) for r in df.collect()}
    import duckdb
    want = dict(duckdb.connect().execute(
        f"SELECT o_orderstatus, count(*) FROM '{sf_dir}/orders.parquet' "
        "WHERE o_custkey < 77 GROUP BY 1").fetchall())
    assert got == want


def test_hint_only_native_filters_keep_term_filter(spark, sf_dir):
    """Datetime conjuncts (timezone semantics) still prune the scan but
    keep their term-level filter; an INF literal, and a double literal
    against an integer column, have no native form and are filtered on
    the term alone."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    dt = store.query(E.PFX + (
        'SELECT ?o WHERE { ?o o:o_orderdate ?d . '
        'FILTER(?d < "1995-01-01T00:00:00"^^xsd:dateTime) }'),
        use_cache=False)
    plan = _plan(dt)
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate,", plan)
    assert any("struct(" in f for f in _filters(plan)), plan
    inf = store.query(E.PFX + (
        'SELECT ?c WHERE { ?c c:c_acctbal ?b . '
        'FILTER(?b < "INF"^^xsd:double) }'), use_cache=False)
    plan = _plan(inf)
    assert "LessThan(c_acctbal" not in plan
    assert any("struct(" in f for f in _filters(plan)), plan
    assert inf.count() == store.query(
        E.PFX + "SELECT ?c WHERE { ?c c:c_acctbal ?b }").count()
    # an integer column compares with a double literal in double, which
    # rounds column values past 2^53 too: no native form at all
    big = store.query(E.PFX + (
        'SELECT ?c WHERE { ?c c:c_custkey ?k . '
        'FILTER(?k <= "9007199254740992"^^xsd:double) }'),
        use_cache=False)
    plan = _plan(big)
    assert "LessThanOrEqual(c_custkey" not in plan
    assert any("struct(" in f for f in _filters(plan)), plan
    assert big.count() == store.query(
        E.PFX + "SELECT ?c WHERE { ?c c:c_custkey ?k }").count()


def test_native_bound_rounding_regressions(spark):
    """Decimal literals against an integer column: the native bound
    rounds instead of truncating (`F.lit(5.5).cast("bigint")` is 5, which
    dropped key 5 from `?k < 5.5`)."""
    import __spark_entry__ as E
    from oxigraph_spark.store import Store
    from tests.conftest import SF01_DIR
    st = Store.from_tables(spark, SF01_DIR, tables=["customer"])

    def keys(body):
        q = E.PFX + "SELECT ?k WHERE { ?c c:c_custkey ?k " + body + " }"
        return sorted(int(r["k"]["lex"])
                      for r in st.query(q, use_cache=False).collect())

    assert keys(". FILTER(?k < 5.5)") == [0, 1, 2, 3, 4, 5]
    assert keys("; c:c_name ?n . FILTER(?k > -0.5 && ?k < 3)") == [0, 1, 2]
    assert keys("; c:c_name ?n . FILTER(?k != 2.5 && ?k < 4)") \
        == [0, 1, 2, 3]
    assert keys(". FILTER(?k = 2.5)") == []
    assert keys(". FILTER(?k IN (1, 2.5, 3.0))") == [1, 3]
    assert keys(". FILTER(?k >= 146.5 && ?k < 150)") == [147, 148, 149]
    assert keys(". FILTER(?k <= 1.999)") == [0, 1]


def test_optional_member_conjunct_not_consumed(spark, sf_dir):
    """A FILTER over a variable bound only inside OPTIONAL is never
    turned into a scan predicate: rows where the optional is unbound
    must still be removed (the filter errors there), and the OPTIONAL's
    own filter keeps rows with the value unbound."""
    import __spark_entry__ as E
    from oxigraph_spark.store import Store
    store = E._store(spark, sf_dir)
    un = Store(spark, store.source, optimize=False)
    key = lambda rows: sorted(
        (r["nm"]["lex"], r["bal"]["lex"] if r["bal"] else None)
        for r in rows)
    outer = E.PFX + """SELECT ?nm ?bal WHERE { ?s s:s_name ?nm
        OPTIONAL { ?s s:s_acctbal ?bal } FILTER(?bal > 4000) }"""
    rows = store.query(outer, use_cache=False).collect()
    assert rows and all(r["bal"] is not None
                        and float(r["bal"]["lex"]) > 4000 for r in rows)
    assert key(rows) == key(un.query(outer, use_cache=False).collect())
    inner = E.PFX + """SELECT ?nm ?bal WHERE { ?s s:s_name ?nm
        OPTIONAL { ?s s:s_acctbal ?bal FILTER(?bal > 4000) } }"""
    rows = store.query(inner, use_cache=False).collect()
    assert any(r["bal"] is None for r in rows)
    assert key(rows) == key(un.query(inner, use_cache=False).collect())


def test_values_rows_built_in_jvm(spark, sf_dir):
    """VALUES rows are a JVM literal (no Python-RDD Scan ExistingRDD)
    and keep the broadcast hint (the T9 shape of the explore
    benchmark)."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    q = E.PFX + """SELECT ?nn WHERE { VALUES ?rn { "ASIA" "EUROPE" }
        ?r r:r_name ?rn . ?n n:ref_region ?r ; n:n_name ?nn }"""
    df = store.query(q, use_cache=False)
    plan = _plan(df)
    assert "ExistingRDD" not in plan
    assert "BroadcastExchange" in plan
    import duckdb
    want = sorted(r[0] for r in duckdb.connect().execute(
        f"SELECT n_name FROM '{sf_dir}/nation.parquet' JOIN "
        f"'{sf_dir}/region.parquet' ON n_regionkey = r_regionkey "
        "WHERE r_name IN ('ASIA', 'EUROPE')").fetchall())
    assert sorted(r["nn"]["lex"] for r in df.collect()) == want


def test_values_undef_and_large(spark, sf_dir):
    """VALUES with UNDEF cells (NULL terms: unbound, joining anything)
    and with more rows than the 10,000-row broadcast bound."""
    import __spark_entry__ as E
    store = E._store(spark, sf_dir)
    rows = store.query(
        'SELECT ?a ?b WHERE { VALUES (?a ?b) { (1 UNDEF) '
        '(UNDEF "x"@en) ("P1Y"^^<http://www.w3.org/2001/XMLSchema#duration>'
        ' 2.5) } }', use_cache=False).collect()
    cells = sorted((
        tuple((c["lex"], c["datatype"], c["lang"]) if c else None
              for c in (r["a"], r["b"])) for r in rows), key=repr)
    xsd = "http://www.w3.org/2001/XMLSchema#"
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    assert cells == sorted([
        (("1", xsd + "integer", None), None),
        (None, ("x", rdf + "langString", "en")),
        (("P1Y", xsd + "duration", None), ("2.5", xsd + "decimal", None))],
        key=repr)
    all_keys = [int(r["k"]["lex"]) for r in store.query(
        E.PFX + "SELECT ?k WHERE { ?c c:c_custkey ?k }").collect()]
    q = E.PFX + "SELECT ?c WHERE { VALUES ?k { 1 2 UNDEF } ?c c:c_custkey ?k }"
    assert store.query(q, use_cache=False).count() \
        == len(all_keys) + len({1, 2} & set(all_keys))
    big = " ".join(str(i) for i in range(0, 20020, 2))  # 10,010 rows
    q = E.PFX + ("SELECT ?k WHERE { VALUES ?k { " + big + " } "
                 "?c c:c_custkey ?k }")
    df = store.query(q, use_cache=False)
    assert "ExistingRDD" not in _plan(df)
    got = sorted(int(r["k"]["lex"]) for r in df.collect())
    assert got == sorted(k for k in all_keys if k % 2 == 0 and k < 20020)
    # dates before year 1000 keep their `ts` payload (4-digit year text)
    q = E.PFX + ('SELECT ?d WHERE { VALUES ?d { "0099-05-01"^^xsd:date '
                 '"2020-01-02"^^xsd:date } '
                 'FILTER(?d < "0100-01-01"^^xsd:date) }')
    assert [r["d"]["lex"] for r in store.query(q, use_cache=False)
            .collect()] == ["0099-05-01"]
