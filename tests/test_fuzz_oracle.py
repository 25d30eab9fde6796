"""Randomized SPARQL-vs-DuckDB differential fuzzing.

Each seed generates ONE plan description and renders it BOTH as a SPARQL
query (run through the full parser+compiler+Spark stack) and as ANSI SQL
over the same relational parquet (run in DuckDB).  Value multisets must
agree.  This catches systematic compiler bugs that the self-differential
fuzzer (optimized vs unoptimized, `test_fuzz_differential.py`) cannot —
a bug shared by both compilation modes.

Deterministic: fixed seeds, no LIMIT, doubles rounded to 6 dp."""

import random

import duckdb
import pytest

from oxigraph_spark.store import Store, to_native
from oxigraph_spark.sources.direct_mapping import DirectMappingSource

PFX = """PREFIX c: <urn:g:customer#>
PREFIX n: <urn:g:nation#>
PREFIX o: <urn:g:orders#>
"""

ATTRS = [("c_name", "str"), ("c_acctbal", "num"), ("c_mktsegment", "str")]
NUM_OPS = ["<", "<=", ">", ">=", "!="]


def gen_case(seed: int):
    """seed → (sparql, sql, spec) rendered from one plan description."""
    rng = random.Random(seed)

    if rng.random() < 0.25:                       # aggregate variant
        having = rng.random() < 0.5
        flt = (f"FILTER(?m > {rng.randint(-500, 5000)}.0)"
               if rng.random() < 0.5 else "")
        sparql = (PFX + "SELECT ?g (COUNT(*) AS ?cnt) (SUM(?m) AS ?sm) "
                  "WHERE { ?s c:c_mktsegment ?g ; c:c_acctbal ?m . "
                  + flt + " } GROUP BY ?g"
                  + (" HAVING(COUNT(*) > 3)" if having else ""))
        sql_flt = flt.replace("FILTER(?m >", "AND c_acctbal >") \
                     .rstrip(")") + ("" if not flt else "")
        sql = ("SELECT c_mktsegment AS g, COUNT(*) AS cnt, "
               "CAST(SUM(c_acctbal) AS DOUBLE) AS sm FROM customer "
               "WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL "
               + sql_flt + " GROUP BY 1"
               + (" HAVING COUNT(*) > 3" if having else ""))
        return sparql, sql, {"g": "str", "cnt": "long", "sm": "double"}

    pats, filters, wheres = [], [], []
    joins = []
    proj = []                                      # (var, kind, sql_expr)

    for attr, kind in rng.sample(ATTRS, rng.randint(1, 3)):
        pats.append(f"?s c:{attr} ?{attr} .")
        wheres.append(f"c.{attr} IS NOT NULL")
        proj.append((attr, kind, f"c.{attr}"))
        if rng.random() < 0.45:
            if kind == "num":
                op = rng.choice(NUM_OPS)
                val = f"{rng.randint(-999, 9999)}.{rng.randint(0, 99):02d}"
                filters.append(f"FILTER(?{attr} {op} {val})")
                wheres.append(f"c.{attr} {op} {val}")
            elif rng.random() < 0.5:
                ch = rng.choice("aeiou135")
                filters.append(f'FILTER(CONTAINS(?{attr}, "{ch}"))')
                wheres.append(f"contains(c.{attr}, '{ch}')")
            else:
                op = rng.choice(NUM_OPS)
                k = rng.randint(5, 25)
                filters.append(f"FILTER(STRLEN(?{attr}) {op} {k})")
                wheres.append(f"length(c.{attr}) {op} {k}")

    if rng.random() < 0.5:                         # chain to nation
        pats += ["?s c:ref_nation ?nat .", "?nat n:n_name ?n_name ."]
        wheres.append("c.c_nationkey IS NOT NULL")
        joins.append("JOIN nation n ON n.n_nationkey = c.c_nationkey "
                     "AND n.n_name IS NOT NULL")
        proj.append(("n_name", "str", "n.n_name"))

    if rng.random() < 0.35:                        # OPTIONAL + inner filter
        thr = f"{rng.randint(0, 9000)}.0"
        pats.append("OPTIONAL { ?s c:c_acctbal ?ob . FILTER(?ob > "
                    + thr + ") }")
        joins.append("LEFT JOIN (SELECT c_custkey AS ck, c_acctbal AS ob "
                     "FROM customer WHERE c_acctbal IS NOT NULL AND "
                     f"c_acctbal > {thr}) o ON o.ck = c.c_custkey")
        proj.append(("ob", "num", "o.ob"))

    if rng.random() < 0.3:                         # UNION block (bag!)
        pats.append('{ { ?s c:c_mktsegment ?seg . '
                    'FILTER(CONTAINS(?seg, "A")) } UNION '
                    '{ ?s c:c_mktsegment ?seg . '
                    'FILTER(CONTAINS(?seg, "U")) } }')
        joins.append(
            "JOIN (SELECT c_custkey AS ck2, c_mktsegment AS seg "
            "FROM customer WHERE c_mktsegment IS NOT NULL "
            "AND contains(c_mktsegment, 'A') UNION ALL "
            "SELECT c_custkey, c_mktsegment FROM customer "
            "WHERE c_mktsegment IS NOT NULL "
            "AND contains(c_mktsegment, 'U')) u ON u.ck2 = c.c_custkey")
        proj.append(("seg", "str", "u.seg"))

    if rng.random() < 0.35:                        # reverse chain: orders
        # bag-semantics stress — each customer row multiplies by its
        # (filtered) orders
        cap = rng.randint(50, 800)
        pats += ["?ord o:ref_customer ?s .", "?ord o:o_orderkey ?ok .",
                 f"FILTER(?ok < {cap})"]
        joins.append("JOIN orders o2 ON o2.o_custkey = c.c_custkey "
                     "AND o2.o_custkey IS NOT NULL "
                     f"AND o2.o_orderkey IS NOT NULL")
        wheres.append(f"o2.o_orderkey < {cap}")
        proj.append(("ok", "num", "o2.o_orderkey"))

    picked = rng.sample(proj, k=rng.randint(1, len(proj)))
    distinct = rng.random() < 0.3
    spec = {v: ("double" if kind == "num" else "str")
            for v, kind, _ in picked}
    sparql = (PFX + "SELECT " + ("DISTINCT " if distinct else "")
              + " ".join(f"?{v}" for v, _, _ in picked)
              + " WHERE { " + " ".join(pats + filters) + " }")
    sql_cols = ", ".join(
        (f"CAST({e} AS DOUBLE) AS {v}" if kind == "num" else f"{e} AS {v}")
        for v, kind, e in picked)
    sql = ("SELECT " + ("DISTINCT " if distinct else "") + sql_cols
           + " FROM customer c " + " ".join(joins)
           + " WHERE " + " AND ".join(wheres))
    return sparql, sql, spec


def _norm(rows):
    out = []
    for r in rows:
        out.append(tuple(
            round(v, 6) if isinstance(v, float) else v for v in r))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _check_against_duckdb(spark, sf_dir, sparql, sql, spec):
    st = Store(spark, DirectMappingSource(spark, sf_dir))
    got = _norm([tuple(r) for r in
                 to_native(st.query(sparql), spec).collect()])
    con = duckdb.connect()
    for t in ("customer", "nation", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{sf_dir}/{t}.parquet'")
    want = _norm([tuple(r) for r in con.execute(sql).fetchall()])
    assert got == want, f"\nSPARQL: {sparql}\nSQL: {sql}"


@pytest.mark.parametrize("seed", range(16))
def test_fuzz_duckdb_oracle(spark, sf_dir, seed):
    _check_against_duckdb(spark, sf_dir, *gen_case(seed))


# Round-8 (r7 verdict item 7): structurally distinct seeds promoted from
# the per-round sweep range (16+).  Signatures: 24 CONTAINS+UNION;
# 28 HAVING agg; 30 DISTINCT+OPTIONAL; 31 HAVING+FILTER agg.
@pytest.mark.parametrize("seed", [24, 28, 30, 31])
def test_fuzz_sweep_promoted_oracle_seeds(spark, sf_dir, seed):
    test_fuzz_duckdb_oracle(spark, sf_dir, seed)


# Native-filter generator: FILTER conjuncts the compiler applies as
# raw-column predicates at the scan, most of them exactly (no term-level
# re-check).  Decimal literals against integer keys exercise the bound
# rounding (`?k < 5.5` keeps 5, `?k != 2.5` keeps every key); against a
# double column they compare as doubles (`>`/`>=` also exclude NaN).
# Next to them: =, !=, IN and string = / != / IN / STRSTARTS.
NATIVE_TABLES = [
    # (table, prefix, integer key, max key, [(string column, values)],
    #  (double column, sample values))
    ("customer", "c", "c_custkey", 150,
     [("c_mktsegment", ["BUILDING", "MACHINERY", "HOUSEHOLD", "NONE"]),
      ("c_name", ["Customer#000000007", "Customer#000000042"])],
     ("c_acctbal", [-846.69, 2095.23, 6281.08, 9916.12])),
    ("orders", "o", "o_orderkey", 1500,
     [("o_orderstatus", ["F", "O", "P", "X"])],
     ("o_totalprice", [1320.51, 17263.63, 144449.04, 499705.05])),
]
INT_OPS = ["<", "<=", ">", ">=", "=", "!="]


def _native_num(rng, hi):
    """An integer or decimal literal near the key range (often
    non-integral, sometimes negative or past the largest key)."""
    n = rng.randint(-3, hi + 3)
    r = rng.random()
    if r < 0.3:
        return str(n)
    if r < 0.4:
        return rng.choice(["-0.5", "0.5", f"{n}.0"])
    return f"{n}.{rng.choice(['5', '25', '75', '001', '999'])}"


def _native_dbl(rng, vals):
    """A decimal (sometimes integer) literal near a sample value of a
    double column, sometimes that value itself (values of the sf0.001
    tables, so `=` and IN can match)."""
    v = rng.choice(vals)
    r = rng.random()
    if r < 0.3:
        return f"{v:.2f}"
    if r < 0.4:
        return str(int(v))
    return f"{v + rng.uniform(-1000, 1000):.2f}"


def gen_native_case(seed: int):
    """seed → (sparql, sql, spec) for a scan whose FILTER conjuncts all
    translate to native column predicates."""
    rng = random.Random(seed)
    table, pfx, key, hi, strs, (dcol, dvals) = rng.choice(NATIVE_TABLES)
    scol, svals = rng.choice(strs)
    star = rng.random() < 0.6        # star scan vs single-pattern scan
    if rng.random() < 0.4:           # numeric conjuncts on the double column
        col, var, kind, lit, near = dcol, "d", "double", _native_dbl, dvals
    else:
        col, var, kind, lit, near = key, "k", "long", _native_num, hi
    filters, wheres = [], [f"{col} IS NOT NULL"]
    for _ in range(rng.randint(1, 2)):
        if rng.random() < 0.25:
            opts = [lit(rng, near) for _ in range(rng.randint(1, 4))]
            filters.append(f"FILTER(?{var} IN ({', '.join(opts)}))")
            wheres.append(f"{col} IN ({', '.join(opts)})")
        else:
            op, x = rng.choice(INT_OPS), lit(rng, near)
            filters.append(f"FILTER(?{var} {op} {x})")
            wheres.append(f"{col} {op} {x}")
    if star:
        wheres.append(f"{scol} IS NOT NULL")
        r, v = rng.random(), rng.choice(svals)
        if r < 0.25:
            op = rng.choice(["=", "!="])
            filters.append(f'FILTER(?s {op} "{v}")')
            wheres.append(f"{scol} {op} '{v}'")
        elif r < 0.5:
            w = rng.choice(svals)
            filters.append(f'FILTER(?s IN ("{v}", "{w}"))')
            wheres.append(f"{scol} IN ('{v}', '{w}')")
        elif r < 0.75:
            p = v[:rng.randint(1, len(v))]
            filters.append(f'FILTER(STRSTARTS(?s, "{p}"))')
            wheres.append(f"starts_with({scol}, '{p}')")
    pats = f"?x {pfx}:{col} ?{var}" + (f" ; {pfx}:{scol} ?s" if star else "")
    sparql = (PFX + (f"SELECT ?{var} ?s" if star else f"SELECT ?{var}")
              + " WHERE { " + pats + " . " + " ".join(filters) + " }")
    sql = (f"SELECT {col} AS {var}" + (f", {scol} AS s" if star else "")
           + f" FROM {table} WHERE " + " AND ".join(wheres))
    spec = {var: kind, **({"s": "str"} if star else {})}
    return sparql, sql, spec


@pytest.mark.parametrize("seed", range(100, 116))
def test_fuzz_native_filter_oracle(spark, sf_dir, seed):
    _check_against_duckdb(spark, sf_dir, *gen_native_case(seed))
