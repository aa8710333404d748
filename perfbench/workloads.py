"""Workload definitions for the graft benchmark.

A workload is a list of queries. Each query is either a fixed row of
`graft.SparkEntry.queries` (checked against `SparkEntry.oracleSql`) or a
Pig Latin script generated from a template with seeded constants (checked
against the template's DuckDB SQL twin). The seed picks the constants of
the generated scripts; the harness also uses it to order every pass.
"""
import random

# Pipe-API rows run beside the generated Pig scripts in `interactive`.
INTERACTIVE_ROWS = ["q_filter", "q_group", "q_foreach"]

CURATION_ROWS = ["q_connected_components", "q_dedup_exact", "q_pii_scrub",
                 "q_ann_lsh"]

STREAM_ROWS = ["q_stream_window", "q_stream_cep", "q_stream_dedup",
               "q_stream_match", "q_pig_stream_cep"]

# Wall time of one warm pass on the reference machine (4 cores). A run
# makes round(seconds / this) timed passes, at least two.
NOMINAL_PASS_S = {"interactive": 3.4, "curation": 3.6, "stream_replay": 3.5}

# graft module each curation row spends its time in (per-module query time)
MODULE_OF = {"q_connected_components": "graph", "q_dedup_exact": "dedup",
             "q_pii_scrub": "text", "q_ann_lsh": "sim"}

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PART_NOUNS = ["gear", "anvil", "widget", "rod", "bolt", "plate", "ring", "gizmo"]


def _load(alias, sf, table):
    return f"{alias} = LOAD '{sf}/{table}.parquet' USING ParquetStorage();"


def pig_queries(rng, sf, out):
    """The ten templates, each as (name, script, alias, twin SQL).

    `sf` is the table directory; `out` a directory the STORE round trip
    may write into. Constants come from `rng`. Range filters use a window
    of fixed width, so the seed moves which rows a script selects, not how
    many: the work per pass stays about the same across seeds."""
    qs = []

    q = rng.randint(1, 41)
    qs.append(("pig_group_agg", f"""
{_load('l', sf, 'lineitem')}
f = FILTER l BY l_quantity >= {q} AND l_quantity < {q + 10};
g = GROUP f BY l_returnflag;
r = FOREACH g GENERATE group AS flag, COUNT(f) AS cnt,
      MAX(f.l_extendedprice) AS mx, MIN(f.l_partkey) AS mn;""", "r",
        f"""SELECT l_returnflag AS flag, COUNT(*) AS cnt,
              MAX(l_extendedprice) AS mx, MIN(l_partkey) AS mn
            FROM lineitem WHERE l_quantity >= {q} AND l_quantity < {q + 10}
            GROUP BY 1"""))

    q, p = rng.randint(1, 46), rng.randint(0, 400) * 1000
    qs.append(("pig_join_filter", f"""
{_load('l', sf, 'lineitem')}
{_load('o', sf, 'orders')}
j = JOIN l BY l_orderkey, o BY o_orderkey;
f = FILTER j BY l_quantity >= {q} AND l_quantity < {q + 5}
      AND o_totalprice >= {p} AND o_totalprice < {p + 100000};
r = FOREACH f GENERATE o_orderkey, l_linenumber, l_quantity, o_orderpriority;""",
        "r",
        f"""SELECT o_orderkey, l_linenumber, l_quantity, o_orderpriority
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_quantity >= {q} AND l_quantity < {q + 5}
              AND o_totalprice >= {p} AND o_totalprice < {p + 100000}"""))

    a = rng.randint(-1000, 5000)
    qs.append(("pig_nested_distinct", f"""
{_load('c', sf, 'customer')}
f = FILTER c BY c_acctbal >= {a} AND c_acctbal < {a + 5000};
g = GROUP f BY c_nationkey;
r = FOREACH g {{
  seg = f.c_mktsegment;
  useg = DISTINCT seg;
  GENERATE group AS nk, COUNT(useg) AS uniq_cnt;
}};""", "r",
        f"""SELECT c_nationkey AS nk, COUNT(DISTINCT c_mktsegment) AS uniq_cnt
            FROM customer WHERE c_acctbal >= {a} AND c_acctbal < {a + 5000}
            GROUP BY 1"""))

    s = rng.randint(1, 31)
    qs.append(("pig_wordcount", f"""
{_load('p', sf, 'part')}
f = FILTER p BY p_size >= {s} AND p_size < {s + 20};
words = FOREACH f GENERATE FLATTEN(TOKENIZE(p_name)) AS word;
g = GROUP words BY word;
r = FOREACH g GENERATE group AS word, COUNT(words) AS cnt;""", "r",
        f"""SELECT word, COUNT(*) AS cnt FROM
              (SELECT unnest(string_split_regex(p_name, '[, "]')) AS word
               FROM part WHERE p_size >= {s} AND p_size < {s + 20})
            WHERE word <> '' GROUP BY word"""))

    st, n = rng.choice("OFP"), rng.randint(10, 500)
    qs.append(("pig_order_limit", f"""
{_load('o', sf, 'orders')}
f = FILTER o BY o_orderstatus == '{st}';
s = ORDER f BY o_totalprice DESC, o_orderkey ASC;
t = LIMIT s {n};
r = FOREACH t GENERATE o_orderkey, o_custkey, o_totalprice;""", "r",
        f"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_orderstatus = '{st}'
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {n}"""))

    prio, nk = rng.choice(PRIORITIES), rng.randint(0, 20)
    qs.append(("pig_cogroup", f"""
{_load('o', sf, 'orders')}
{_load('c', sf, 'customer')}
fo = FILTER o BY o_orderpriority == '{prio}';
fc = FILTER c BY c_nationkey >= {nk} AND c_nationkey < {nk + 5};
cg = COGROUP fo BY o_custkey, fc BY c_custkey;
r = FOREACH cg GENERATE group AS ck, COUNT(fo) AS n_orders, COUNT(fc) AS n_cust;""",
        "r",
        f"""WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n FROM orders
                       WHERE o_orderpriority = '{prio}' GROUP BY 1),
                 b AS (SELECT c_custkey AS k, COUNT(*) AS n FROM customer
                       WHERE c_nationkey >= {nk} AND c_nationkey < {nk + 5}
                       GROUP BY 1)
            SELECT coalesce(a.k, b.k) AS ck, coalesce(a.n, 0) AS n_orders,
                   coalesce(b.n, 0) AS n_cust
            FROM a FULL OUTER JOIN b ON a.k = b.k"""))

    prio, p, nk = rng.choice(PRIORITIES), rng.randint(0, 400) * 1000, rng.randint(0, 24)
    qs.append(("pig_distinct_union", f"""
{_load('o', sf, 'orders')}
{_load('c', sf, 'customer')}
fo = FILTER o BY o_orderpriority == '{prio}' AND o_totalprice >= {p}
      AND o_totalprice < {p + 100000};
a = FOREACH fo GENERATE o_custkey AS ck;
fc = FILTER c BY c_nationkey == {nk};
b = FOREACH fc GENERATE c_custkey AS ck;
u = UNION a, b;
r = DISTINCT u;""", "r",
        f"""SELECT o_custkey AS ck FROM orders
            WHERE o_orderpriority = '{prio}' AND o_totalprice >= {p}
              AND o_totalprice < {p + 100000}
            UNION SELECT c_custkey AS ck FROM customer WHERE c_nationkey = {nk}"""))

    d = rng.randint(0, 8)
    lo, hi = f"0.0{d}", f"0.{d + 2:02d}"
    qs.append(("pig_split", f"""
{_load('l', sf, 'lineitem')}
SPLIT l INTO hi IF l_discount >= {lo} AND l_discount <= {hi}, rest OTHERWISE;
r = FOREACH hi GENERATE l_orderkey, l_linenumber, l_discount;""", "r",
        f"""SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
            WHERE l_discount >= {lo} AND l_discount <= {hi}"""))

    t, noun = rng.choice(PART_TYPES), rng.choice(PART_NOUNS)
    qs.append(("pig_string_filter", f"""
{_load('p', sf, 'part')}
f = FILTER p BY p_type == '{t}' AND p_name MATCHES '.* {noun}';
r = FOREACH f GENERATE p_partkey, p_name, p_retailprice;""", "r",
        f"""SELECT p_partkey, p_name, p_retailprice FROM part
            WHERE p_type = '{t}' AND regexp_full_match(p_name, '.* {noun}')"""))

    p = rng.randint(0, 400) * 1000
    qs.append(("pig_store_load", f"""
{_load('o', sf, 'orders')}
f = FILTER o BY o_totalprice >= {p} AND o_totalprice < {p + 100000};
s = FOREACH f GENERATE o_orderkey, o_custkey, o_orderpriority;
STORE s INTO '{out}/pig_store_load' USING ParquetStorage();
b = LOAD '{out}/pig_store_load' USING ParquetStorage();
r = FOREACH b GENERATE o_orderkey, o_custkey, o_orderpriority;""", "r",
        f"""SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
            WHERE o_totalprice >= {p} AND o_totalprice < {p + 100000}"""))
    return qs


def build(workload, seed, sf, out):
    """Queries of `workload` for `seed`: a list of dicts with keys
    name, kind ('entry' or 'pig') and, for pig, alias, script and sql."""
    rows = {"interactive": INTERACTIVE_ROWS, "curation": CURATION_ROWS,
            "stream_replay": STREAM_ROWS}[workload]
    qs = [{"name": n, "kind": "entry"} for n in rows]
    if workload == "interactive":
        rng = random.Random(seed)
        qs += [{"name": n, "kind": "pig", "script": s.strip(), "alias": a,
                "sql": sql}
               for n, s, a, sql in pig_queries(rng, sf, out)]
    return qs


WORKLOADS = ["interactive", "curation", "stream_replay"]
