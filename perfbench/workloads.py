"""Seeded op lists for the benchmark's workloads.

An op is `(id, kind, class, layer, group, args)`: `class` is `read` or
`write`, `layer` names the graft module the op calls into. Ops with an
empty `group` run in every pass, in an order shuffled per pass, the
same for every seed.
Ops in group k run, in list order, only in pass k + 1: the ingest batch
a pass commits. The seed picks keys and batches; the op mix per pass is
fixed, so seeds differ in inputs, not in how much of each kind a pass
runs.

Workloads:
- `query`: reference-surface lookups and mutations over the cached
  graph, an iterative analytics operator, and one operator from each
  non-graph module; set-up loads the graph.
- `ingest`: per pass, the next batch committed through both manifest
  sinks and read back at the new and at an older pinned version; the
  cold pass commits batch 0, the sinks' first version, so every warm
  pass takes the incremental path. Set-up caches the sink inputs.
"""
import random

import duckdb

# the analytics cohort member with the most jobs (82 on sf0.1)
ANALYTICS = ["g_densest"]
# one operator per non-graph module
PIPELINE = [("q5_multijoin", "relational"), ("d_dedup_minhash", "dedup"),
            ("s_ann_ivf", "similarity"), ("t_tfidf", "textops"),
            ("m_phash_dedup", "multimodal")]
INGEST_BATCHES = 12
# rounds of pinned-version reads after each ingest commit of a warm
# pass: a read takes 0.1-1 s, so one sample per version would let a
# single stall set `read_ms`; the report takes each read's median
READ_ROUNDS = 5


def _con(data: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def _col(con, sql):
    return [r[0] for r in con.execute(sql).fetchall()]


def _queries(names_layers) -> list:
    return [(f"{name}", "query", "read", layer, "", [name])
            for name, layer in names_layers]


def lookups(seed: int, data: str) -> list:
    """Reference-surface point ops: 8 reads and 2 writes. Keyed reads
    go half to leaves and half to hubs, so degree skew shows in the
    latencies. Each op draws its key from one fixed kind of node, so
    seeds differ in keys, not in how much work a pass does. Each write
    is two mutations on one snapshot, read back on the result, so a
    pass calls all four."""
    rnd = random.Random(seed)
    con = _con(data)
    customers = _col(con, "SELECT c_custkey FROM customer ORDER BY 1")
    orders = _col(con, "SELECT o_orderkey FROM orders ORDER BY 1")
    hot_parts = _col(con, "SELECT l_partkey FROM lineitem GROUP BY 1 "
                          "ORDER BY count(*) DESC, 1 LIMIT 10")
    ops = []

    def add(kind, cls, *args):
        ops.append((f"{kind}{len(ops)}", kind, cls, "graphops", "",
                    [str(a) for a in args]))

    add("get_node", "read", "region", rnd.randrange(5))
    # a balance band holding about 1 % of the customers; the bounds carry
    # a third decimal, so no stored balance sits on one
    lo = round(rnd.uniform(-999.0, 9800.0), 2) + 0.005
    add("get_nodes", "read", "customer", lo, round(lo + 110.0, 3))
    add("egress", "read", "customer", rnd.choice(customers))
    add("egress", "read", "part", rnd.choice(hot_parts))
    add("ingress", "read", "nation", rnd.randrange(25))
    add("ingress", "read", "order", rnd.choice(orders))
    edge = con.execute(
        "SELECT 'PLACED', 'customer', o_custkey, 'order', o_orderkey "
        "FROM orders ORDER BY o_orderkey LIMIT 1 OFFSET ?",
        [rnd.randrange(len(orders))]).fetchone()
    eid = con.execute("SELECT md5(concat_ws('|', ?, ?, CAST(? AS VARCHAR), "
                      "?, CAST(? AS VARCHAR)))", list(edge)).fetchone()[0]
    add("edge_by_id", "read", eid)
    # endpoints joined by at least one customer>order>part>supplier path
    c, s = con.execute(
        "SELECT o.o_custkey, l.l_suppkey FROM orders o JOIN lineitem l "
        "ON l.l_orderkey = o.o_orderkey ORDER BY 1, 2 LIMIT 1 OFFSET ?",
        [rnd.randrange(1000)]).fetchone()
    add("paths_to", "read", c, s)
    # upsertNodes (a new customer), then upsertEdges from it to an order;
    # read back through the order's in-edges
    key = max(customers) + 1 + rnd.randrange(100)
    add("upsert", "write", key, f"upserted-{rnd.randrange(10**6)}",
        round(rnd.uniform(-999.0, 9999.0), 2), rnd.choice(orders),
        rnd.randrange(2, 9))
    # removeNodes on one customer, then updateNodeProps on another; read
    # back both keys' props
    victim, other = rnd.sample(customers, 2)
    add("remove_update", "write", victim, other,
        f"renamed-{rnd.randrange(10**6)}")
    con.close()
    return ops


def ingest(seed: int, data: str, out: str) -> list:
    """Writes the sink inputs under `out`, orders and line items hashed
    by the seed into batches (src_manifest_time_travel's construction),
    and returns per batch both sink commits, then reads of the new
    version and, after batch 0, of one older pinned version through each
    sink's reader, READ_ROUNDS times after batch 0. Batch b runs in pass
    b + 1."""
    rnd = random.Random(seed)
    con = _con(data)
    salt = rnd.randrange(1, 2**31)
    n = INGEST_BATCHES
    # ivm join sink rows: orders batched by order key, line items by part
    # key, so a batch's delta joins the stored sides as well as itself
    con.execute(f"""COPY (
        SELECT 'o' AS side, o_orderkey AS key, o_orderpriority AS pri,
               CAST(0 AS BIGINT) AS cents,
               CAST(hash(o_orderkey + {salt}) % {n} AS BIGINT) AS batch
        FROM orders
        UNION ALL
        SELECT 'l', l_orderkey, '',
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),
               CAST(hash(l_partkey + {salt}) % {n} AS BIGINT)
        FROM lineitem
        ORDER BY batch, side, key, cents
    ) TO '{out}/ingest_ivm.parquet' (FORMAT PARQUET)""")
    # cc sink edges: customer-order stars, every 7th order bridged into a
    # mod-50 hub, so later batches relabel earlier components
    con.execute(f"""COPY (
        SELECT o_custkey AS a, 100000000 + o_orderkey AS b,
               CAST(hash(o_orderkey + {salt}) % {n} AS BIGINT) AS batch
        FROM orders
        UNION ALL
        SELECT o_custkey, o_custkey % 50,
               CAST(hash(o_orderkey + {salt}) % {n} AS BIGINT)
        FROM orders WHERE o_orderkey % 7 = 0
        ORDER BY batch, a, b
    ) TO '{out}/ingest_cc.parquet' (FORMAT PARQUET)""")
    ivm_rows = dict(con.execute(
        f"SELECT batch, count(*) FROM '{out}/ingest_ivm.parquet' GROUP BY 1"
    ).fetchall())
    cc_rows = dict(con.execute(
        f"SELECT batch, count(*) FROM '{out}/ingest_cc.parquet' GROUP BY 1"
    ).fetchall())
    con.close()
    ops = []
    for b in range(n):
        g = v = str(b)
        ops += [(f"ivm_commit{b}", "ivm_commit", "write", "streams", g,
                 [v, str(ivm_rows.get(b, 0))]),
                (f"cc_commit{b}", "cc_commit", "write", "streams", g,
                 [v, str(cc_rows.get(b, 0))])]
        versions = [v] + ([str(rnd.randrange(b))] if b else [])
        # batch 0 is the cold pass, which only counts in `setup_s`
        for r in range(READ_ROUNDS if b else 1):
            for ver in versions:
                ops += [(f"ivm_read{b}_{ver}.{r}", "ivm_read", "read",
                         "streams", g, [ver]),
                        (f"cc_read{b}_{ver}.{r}", "cc_read", "read",
                         "streams", g, [ver])]
    return ops


def query(seed: int, data: str, out: str) -> list:
    return (lookups(seed, data)
            + _queries([(n, "analytics") for n in ANALYTICS] + PIPELINE))


MAKERS = {"query": query, "ingest": ingest}
# untraced warm passes a run makes at least; `pass_s` is their median.
# The benchmark's 48 runs must fit 3 420 s with two builds: a `query`
# run costs ~30 s before its first warm pass and ~12 s per warm pass,
# an `ingest` run ~20 s and ~18-23 s per warm pass (one batch).
WARM_PASSES = {"query": 2, "ingest": 1}
WORKLOADS = list(MAKERS)


def write_ops(path: str, ops: list) -> None:
    with open(path, "w") as f:
        for op_id, kind, cls, layer, group, args in ops:
            f.write("\t".join([op_id, kind, cls, layer, group] + args) + "\n")
