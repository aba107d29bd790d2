"""Seeded operation streams for the three workloads.

Every operation carries the text the program runs and, for the façade
workloads, the DuckDB statements whose results it must equal. A `key`
names one (template, parameters) pair: equal keys must give equal
results, and the key doubles as a file name for saved outputs.

Workloads (why each was chosen is recorded in BENCHMARK.json):
  facade_read     DataFusion-dialect statements through SqlEngine.executeSql,
                  among them a multi-statement DDL/DML call with a Json
                  read-back (write_roundtrip)
  curation_batch  SparkEntry.queries rows written to the noop sink
"""
import hashlib
import random

from fixtures import TABLES

# Set-up's first statement: what a caller's first execute_sql waits for.
SETUP_SQL = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem "
             "GROUP BY l_returnflag, l_linestatus "
             "ORDER BY l_returnflag, l_linestatus")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _sum_dec(col):
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


# ------------------------------------------------------------ facade_read
# Each template maps a seeded rng to (program text, [DuckDB text per statement]).
# Results are compared order-insensitively (check.py).

def t_point_order(r):
    k = r.randrange(150000)
    q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
         f"o_orderpriority FROM orders WHERE o_orderkey = {k}")
    return q, [q]


def t_point_customer(r):
    k = r.randrange(15000)
    q = ("SELECT c_custkey, c_name, c_acctbal, n_name, r_name FROM customer "
         "JOIN nation ON c_nationkey = n_nationkey "
         f"JOIN region ON n_regionkey = r_regionkey WHERE c_custkey = {k}")
    return q, [q]


def t_q1_agg(r):
    y = r.randint(1995, 2000)
    q = ("SELECT l_returnflag, l_linestatus, "
         f"{_sum_dec('l_quantity')} AS sum_qty, "
         f"{_sum_dec('l_extendedprice')} AS sum_base_price, "
         "ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS count_order "
         f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{y}-{r.randint(1, 12):02d}-01' "
         f"AND l_shipdate < TIMESTAMP '{y + 1}-01-01' "
         "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    return q, [q]


def t_join_agg(r):
    y = r.randint(1995, 2000)
    q = (f"SELECT n_name, COUNT(*) AS n_orders, {_sum_dec('o_totalprice')} AS revenue "
         "FROM orders JOIN customer ON o_custkey = c_custkey "
         "JOIN nation ON c_nationkey = n_nationkey "
         f"WHERE o_orderdate >= TIMESTAMP '{y}-01-01' "
         f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01' "
         f"AND c_mktsegment = '{r.choice(SEGMENTS)}' "
         "GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10")
    return q, [q]


def t_window_topk(r):
    q = ("SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM ("
         "SELECT c_mktsegment, c_custkey, c_acctbal, ROW_NUMBER() OVER "
         "(PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn "
         f"FROM customer WHERE c_nationkey = {r.randrange(25)}) t "
         "WHERE rn <= 3 ORDER BY c_mktsegment, rn")
    return q, [q]


def t_percentile(r):
    q = ("SELECT c_mktsegment, MEDIAN(c_acctbal) AS med_bal, "
         "PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY c_acctbal) AS p90_bal "
         f"FROM customer WHERE c_nationkey = {r.randrange(25)} "
         "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    return q, [q]


def t_groups_frame(r):
    c = r.randrange(15000)
    q = ("SELECT o_orderkey, o_orderpriority, COUNT(*) OVER (ORDER BY o_orderpriority "
         "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS n_near "
         f"FROM orders WHERE o_custkey = {c} ORDER BY o_orderkey")
    # DuckDB 1.0 has no GROUPS frames: count the rows of this peer group
    # and the one before it by dense rank
    d = ("WITH t AS (SELECT o_orderkey, o_orderpriority, "
         "DENSE_RANK() OVER (ORDER BY o_orderpriority) AS g "
         f"FROM orders WHERE o_custkey = {c}), "
         "n AS (SELECT g, COUNT(*) AS k FROM t GROUP BY g) "
         "SELECT o_orderkey, o_orderpriority, "
         "(SELECT SUM(k) FROM n WHERE n.g BETWEEN t.g - 1 AND t.g) AS n_near "
         "FROM t ORDER BY o_orderkey")
    return q, [d]


def t_similar_to(r):
    a, b = r.sample(["large", "hot", "blue", "old", "cold", "red", "green", "small"], 2)
    size = r.randint(10, 50)
    q = ("SELECT p_type, COUNT(*) AS n_parts FROM part "
         f"WHERE p_name SIMILAR TO '({a}|{b}) %' AND p_size <= {size} "
         "GROUP BY p_type ORDER BY p_type")
    d = ("SELECT p_type, COUNT(*) AS n_parts FROM part "
         f"WHERE regexp_full_match(p_name, '({a}|{b}) .*') AND p_size <= {size} "
         "GROUP BY p_type ORDER BY p_type")
    return q, [d]


def t_generate_series(r):
    n = r.randint(5, 50)
    q = ("SELECT g.value AS size, COUNT(p_partkey) AS n_parts "
         f"FROM generate_series(1, {n}) g JOIN part ON p_size = g.value "
         "GROUP BY g.value ORDER BY g.value")
    d = ("SELECT g.value AS size, COUNT(p_partkey) AS n_parts FROM "
         f"(SELECT generate_series AS value FROM generate_series(1, {n})) g "
         "JOIN part ON p_size = g.value GROUP BY g.value ORDER BY g.value")
    return q, [d]


def t_first_value(r):
    n = r.randrange(25)
    q = ("SELECT c_mktsegment, FIRST_VALUE(c_name ORDER BY c_acctbal DESC) AS top_name "
         f"FROM customer WHERE c_nationkey = {n} "
         "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    d = ("SELECT c_mktsegment, arg_max(c_name, c_acctbal) AS top_name "
         f"FROM customer WHERE c_nationkey = {n} "
         "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    return q, [d]


def t_info_schema(r):
    t = r.choice(TABLES)
    q = ("SELECT table_name, column_name, data_type FROM information_schema.columns "
         f"WHERE table_name = '{t}' ORDER BY ordinal_position")
    # DuckDB names the same types differently
    d = ("SELECT table_name, column_name, CASE data_type "
         "WHEN 'BIGINT' THEN 'bigint' WHEN 'INTEGER' THEN 'int' "
         "WHEN 'DOUBLE' THEN 'double' WHEN 'VARCHAR' THEN 'string' "
         "WHEN 'TIMESTAMP' THEN 'timestamp' WHEN 'FLOAT[]' THEN 'array<float>' "
         "ELSE data_type END AS data_type FROM information_schema.columns "
         f"WHERE table_name = '{t}' ORDER BY ordinal_position")
    return q, [d]


def t_multi_statement(r):
    reg, nat = r.randrange(5), r.randrange(25)
    qs = [f"SELECT COUNT(*) AS n_nations FROM nation WHERE n_regionkey = {reg}",
          f"SELECT r_name FROM region WHERE r_regionkey = {reg}",
          f"SELECT COUNT(*) AS n_customers FROM customer WHERE c_nationkey = {nat}"]
    return "; ".join(qs), qs


# A deck holds each template as often as its weight, in one fixed
# interleaved order (`deck_order`), and runs whole, so every run measures
# the same mix in the same sequence; the seed picks the literals. The
# order is fixed because sequence matters (the curation rows ran up to
# 30% faster straight after themselves): with a seeded shuffle, one
# seed's median sat ~10% below two others' at both local[2] and local[4].
# Measured per-template medians (4-vCPU VM) form a near-continuum from
# point lookups (~140 ms) through SIMILAR TO, FIRST_VALUE, window top-k,
# generate_series, GROUPS and the multi-statement call (250-440 ms), then
# jump to the join aggregate, Q1 and information_schema (~470-700 ms) and
# MEDIAN/PERCENTILE_CONT and the write round trip (~1200-1400 ms). A
# percentile on a jump flips between its two sides from run to run, so
# the 40 weights put the median (ranks 20-21) and p75 (ranks 30-31)
# inside the continuum, at least four ranks below the first jump (rank
# 35/36). p90 (ranks 36-37) would read the mixed slow class of join
# aggregate, Q1 and information_schema.
READ_TEMPLATES = [
    ("point_order", t_point_order, 9),
    ("point_customer", t_point_customer, 7),
    ("similar_to", t_similar_to, 5),
    ("first_value", t_first_value, 4),
    ("generate_series", t_generate_series, 4),
    ("window_topk", t_window_topk, 4),
    ("multi_statement", t_multi_statement, 1),
    ("groups_frame", t_groups_frame, 1),
    ("join_agg", t_join_agg, 1),
    ("q1_agg", t_q1_agg, 1),
    ("info_schema", t_info_schema, 1),
    ("percentile", t_percentile, 1),
    ("write_roundtrip", None, 1),  # write_op, Json format
]


# -------------------------------------------------------- write_roundtrip
WRITE_FORMATS = ["CSV", "JSON", "PARQUET"]


def write_op(r, op_id, prev_id, fmt, io_dir):
    """One executeSql call: drop the previous call's tables, CTAS + INSERT a
    managed table, write an external table of the given format, and read
    both back as a join of a few thousand rows."""
    lo = r.randrange(0, 150000 - 1500)
    hi = lo + 1500
    a, x = f"w{op_id}_a", f"w{op_id}_x"
    sel_l = ("SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem "
             f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}")
    sel_o = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
             f"WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")
    read = ("SELECT a.l_orderkey, a.l_partkey, a.l_quantity, a.l_extendedprice, "
            "x.o_custkey, x.o_orderstatus, x.o_totalprice FROM {a} a "
            "JOIN {x} x ON a.l_orderkey = x.o_orderkey "
            "ORDER BY a.l_orderkey, a.l_partkey, a.l_extendedprice")
    stmts = []
    if prev_id is not None:
        stmts += [f"DROP TABLE IF EXISTS w{prev_id}_a", f"DROP TABLE IF EXISTS w{prev_id}_x"]
    stmts += [
        f"CREATE TABLE {a} AS {sel_l} AND l_linenumber <= 3",
        f"INSERT INTO {a} {sel_l} AND l_linenumber = 7",
        f"CREATE EXTERNAL TABLE {x} (o_orderkey BIGINT, o_custkey BIGINT, "
        f"o_orderstatus STRING, o_totalprice DOUBLE) STORED AS {fmt} "
        f"LOCATION '{io_dir}/{x}'",
        f"INSERT INTO {x} {sel_o}",
        read.format(a=a, x=x),
    ]
    duck_read = ("WITH a AS ({l} AND l_linenumber <= 3 UNION ALL {l} AND l_linenumber = 7), "
                 "x AS ({o}) ").format(l=sel_l, o=sel_o) + read.format(a="a", x="x")
    duck = [None] * (len(stmts) - 1) + [duck_read]
    key = f"write_{fmt.lower()}_{lo}_{'d' if prev_id is not None else 'f'}"
    return "; ".join(stmts), duck, key


# --------------------------------------------------------- curation_batch
# One deck is the list below, run in this order; the seed only picks
# where in the cycle a run starts. The order is fixed because it matters:
# a query run straight after itself ran up to 30% faster than after
# another one, and a shuffled deck of x71, x118 x3 and x123 spread its
# median by 0.29 between seeds. Warm medians (local[2], 4-vCPU VM):
# x123 ~1.15 s, x118 ~1.45 s, x71 ~2.3 s, so the median is x118's and
# p90 lies inside x71's share (the top third). Left out to keep a run inside
# the time budget: x94 streaming join (4.4 s warm, 8 s cold), x98c PCA
# (2.7 s), x138 BPE (1.3 s), x66 (3.3 s), x63, x27.
CURATION = [
    "x71_cluster_sizes",           # connected-components dedup
    "x118_containment_pairs",      # containment / similarity
    "x123_line_dedup",             # text analysis
]
# Untimed decks after the check pass. x71 is the slowest to warm: its
# third and fourth runs in a JVM were ~30% slower than its sixth.
CURATION_WARMUP_DECKS = 3

# The percentile reported as latency_p90_ms: the highest one whose rank
# sits inside a latency class of the workload's deck, not on the edge
# between two (see READ_TEMPLATES and CURATION).
REPORTED_PERCENTILE = {"facade_read": 75, "curation_batch": 90}


def session_conf(workload, cpus):
    """Session settings on top of SqlEngine.newSession's. The curation
    rows run as the project's own bench runs them: one shuffle partition
    per core (the façade keeps its session defaults)."""
    if workload == "curation_batch":
        return {"spark.sql.shuffle.partitions": str(cpus)}
    return {}


def deck_order(templates):
    """Each (name, gen, weight) template `weight` times, spread evenly:
    smooth weighted round robin, so within a deck no template runs twice
    in a row unless its weight is over half the deck."""
    total = sum(w for _, _, w in templates)
    credit = [0] * len(templates)
    order = []
    for _ in range(total):
        for i, t in enumerate(templates):
            credit[i] += t[2]
        best = max(range(len(templates)), key=lambda i: credit[i])
        credit[best] -= total
        order.append(templates[best])
    return order


def _key(template, text):
    return f"{template}-{hashlib.sha1(text.encode()).hexdigest()[:10]}"


def make_plan(workload, seed, n_decks, io_dir, warehouse_dir):
    """Warm-up deck, timed decks and the DuckDB expectation per key."""
    r = random.Random(f"{workload}:{seed}")
    expect = {}
    decks = []
    op_id = 0
    prev_write = None

    def op(kind, template, key, fmt, text, size_dirs=()):
        nonlocal op_id
        op_id += 1
        return {"id": op_id, "kind": kind, "template": template, "key": key,
                "format": fmt, "text": text, "size_dirs": list(size_dirs)}

    for _ in range(n_decks + 1):
        deck = []
        if workload == "facade_read":
            # the warm-up deck is a full deck too: with half a deck the JIT
            # was still compiling during the timed deck and the median moved
            # by up to a third between seeds on a quiet host
            for name, gen, _w in deck_order(READ_TEMPLATES):
                if gen is None:
                    wid = op_id + 1
                    text, duck, key = write_op(r, wid, prev_write, r.choice(WRITE_FORMATS),
                                               io_dir)
                    dirs = [f"{warehouse_dir}/w{wid}_a", f"{io_dir}/w{wid}_x"]
                    deck.append(op("sql", name, key, "json", text, dirs))
                    prev_write = wid
                else:
                    text, duck = gen(r)
                    key = _key(name, text)
                    deck.append(op("sql", name, key, "table", text))
                expect[key] = duck
        elif workload == "curation_batch":
            if not decks:
                start = r.randrange(len(CURATION))
                cycle = CURATION[start:] + CURATION[:start]
                # warm-up: the check pass, then whole untimed decks
                deck = ([op("check", n, n, "", n) for n in CURATION]
                        + [op("query", n, n, "", n) for _ in range(CURATION_WARMUP_DECKS)
                           for n in cycle])
            else:
                deck = [op("query", n, n, "", n) for n in cycle]
        else:
            raise ValueError(f"unknown workload {workload!r}")
        decks.append(deck)
    return {"warmup": decks[0], "decks": decks[1:], "expect": expect}
