"""Independent expected results for every op, and the comparison.

Graph ops are recomputed in DuckDB over the graph the repository's own
oracle CTE (`PropertyGraph.oracleCte`) builds from the raw tables;
analytics and pipeline queries run their DuckDB oracle SQL
(`SparkEntry.oracleSql`); sink reads are recomputed from the batch
prefix they pin (a SQL join-aggregate for the ivm view, a union-find
for the component labels).
"""
import datetime
import decimal
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]
_EPOCH = datetime.datetime(1970, 1, 1)


class MapValue(dict):
    """A SQL MAP value: rendered as a JSON object, where a plain dict (a
    DuckDB STRUCT) renders as the list of its field values."""


def canon(v):
    """The Python twin of the JVM side's `Canon.value`."""
    if isinstance(v, MapValue):
        return {str(k): canon(x) for k, x in v.items()}
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=None) - _EPOCH
        return f"us:{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def _same(a, b) -> bool:
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and \
            not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _sort_key(row):
    def norm(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, list):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in sorted(v.items())}
        return v
    return repr(norm(row))


def compare(got: dict, want_cols, want_rows):
    """got = {"cols": sorted names, "rows": rows in that column order};
    want_rows are rows in `want_cols` order. Returns None or a reason."""
    order = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    cols = [want_cols[i] for i in order]
    if list(got["cols"]) != cols:
        return f"columns {got['cols']} vs expected {cols}"
    want = [[canon(r[i]) for i in order] for r in want_rows]
    rows = got["rows"]
    if len(rows) != len(want):
        return f"{len(rows)} rows vs expected {len(want)}"
    for g, w in zip(sorted(rows, key=_sort_key), sorted(want, key=_sort_key)):
        if not _same(g, w):
            return f"row {g} vs expected {w}"
    return None


class Oracle:
    def __init__(self, data: str, ingest: str, graph_cte: str,
                 oracle_sql: dict):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data}/{t}.parquet')")
        self.ingest = ingest
        self.oracle_sql = oracle_sql
        self.graph_ready = False
        self.graph_cte = graph_cte

    def _graph(self):
        if not self.graph_ready:
            self.con.execute(f"CREATE TABLE nodes AS {self.graph_cte} "
                             "SELECT * FROM nodes")
            self.con.execute(f"CREATE TABLE edges AS {self.graph_cte} "
                             "SELECT * FROM edges")
            self.graph_ready = True

    def _q(self, sql, params=()):
        rel = self.con.execute(sql, params if isinstance(params, dict)
                               else list(params))
        cols = [d[0] for d in rel.description]
        return cols, rel.fetchall()

    def expected(self, kind: str, args: list):
        """(cols, rows) the op must return."""
        return getattr(self, "_" + kind)(*args)

    # ---- graph reference surface -----------------------------------
    def _get_node(self, label, key):
        self._graph()
        return self._q("SELECT label, key, name, balance FROM nodes "
                       "WHERE label = ? AND key = ?", (label, int(key)))

    def _get_nodes(self, label, lo, hi):
        self._graph()
        return self._q("SELECT label, key, name, balance FROM nodes "
                       "WHERE label = ? AND balance BETWEEN ? AND ?",
                       (label, float(lo), float(hi)))

    _EGRESS = """SELECT e.elabel, e.dst_label, e.dst_key, n.name AS dst_name,
                        e.weight
                 FROM edges e JOIN nodes n
                   ON n.label = e.dst_label AND n.key = e.dst_key
                 WHERE e.src_label = ? AND e.src_key = ?"""
    _INGRESS = """SELECT e.elabel, e.src_label, e.src_key, n.name AS src_name,
                         e.weight
                  FROM {edges} e JOIN {nodes} n
                    ON n.label = e.src_label AND n.key = e.src_key
                  WHERE e.dst_label = ? AND e.dst_key = ?"""

    def _egress(self, label, key):
        self._graph()
        return self._q(self._EGRESS, (label, int(key)))

    def _ingress(self, label, key):
        self._graph()
        return self._q(self._INGRESS.format(edges="edges", nodes="nodes"),
                       (label, int(key)))

    def _edge_by_id(self, eid):
        self._graph()
        return self._q(
            """SELECT * FROM (
                 SELECT md5(concat_ws('|', e.elabel, e.src_label,
                          CAST(e.src_key AS VARCHAR), e.dst_label,
                          CAST(e.dst_key AS VARCHAR))) AS eid,
                        e.elabel, e.src_label, e.src_key, s.name AS src_name,
                        e.dst_label, e.dst_key, d.name AS dst_name, e.weight
                 FROM edges e
                 JOIN nodes s ON s.label = e.src_label AND s.key = e.src_key
                 JOIN nodes d ON d.label = e.dst_label AND d.key = e.dst_key)
               WHERE eid = ?""", (eid,))

    def _paths_to(self, src, dst):
        """Directed simple paths customer:src -> supplier:dst, depth <= 3,
        unrolled one block per depth."""
        self._graph()
        s, d = f"customer:{int(src)}", f"supplier:{int(dst)}"
        return self._q(
            """WITH e AS (
                 SELECT src_label || ':' || src_key AS s,
                        dst_label || ':' || dst_key AS d FROM edges)
               SELECT e1.s || '>' || e1.d AS path, 1 AS depth
               FROM e e1 WHERE e1.s = $s AND e1.d = $d
               UNION ALL
               SELECT e1.s || '>' || e1.d || '>' || e2.d, 2
               FROM e e1 JOIN e e2 ON e2.s = e1.d
               WHERE e1.s = $s AND e2.d = $d AND e1.d <> $s AND e1.d <> $d
               UNION ALL
               SELECT e1.s || '>' || e1.d || '>' || e2.d || '>' || e3.d, 3
               FROM e e1 JOIN e e2 ON e2.s = e1.d JOIN e e3 ON e3.s = e2.d
               WHERE e1.s = $s AND e3.d = $d
                 AND e1.d <> $s AND e1.d <> $d
                 AND e2.d <> $s AND e2.d <> $d AND e2.d <> e1.d""",
            {"s": s, "d": d})

    def _upsert(self, cust, name, balance, order, weight):
        """The order's in-edges after upserting customer `cust` and a
        PLACED edge from it to the order."""
        self._graph()
        c, o, w = int(cust), int(order), int(weight)
        self.con.execute(
            """CREATE OR REPLACE TEMP TABLE nodes_upserted AS
               SELECT * FROM nodes WHERE NOT (label = 'customer' AND key = ?)
               UNION ALL SELECT 'customer', ?, ?, ?""",
            [c, c, name, float(balance)])
        self.con.execute(
            """CREATE OR REPLACE TEMP TABLE edges_upserted AS
               SELECT * FROM edges WHERE NOT (elabel = 'PLACED'
                 AND src_label = 'customer' AND src_key = ?
                 AND dst_label = 'order' AND dst_key = ?)
               UNION ALL SELECT 'PLACED', 'customer', ?, 'order', ?, ?""",
            [c, o, c, o, w])
        return self._q(self._INGRESS.format(edges="edges_upserted",
                                            nodes="nodes_upserted"),
                       ("order", o))

    def _remove_update(self, victim, other, name):
        """Props of both customers after removing `victim` and renaming
        `other`: only `other` remains."""
        self._graph()
        rows = self.con.execute("SELECT key, balance FROM nodes WHERE "
                                "label = 'customer' AND key = ?",
                                [int(other)]).fetchall()
        out = []
        for key, bal in rows:
            props = {"name": name}
            if bal is not None:
                props["balance"] = str(decimal.Decimal(repr(bal)).quantize(
                    decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP))
            out.append(("customer", key, MapValue(props)))
        return ["label", "key", "props"], out

    # ---- analytics / pipeline queries ------------------------------
    def _query(self, name):
        return self._q(self.oracle_sql[name])

    # ---- sink reads: recompute over the pinned batch prefix --------
    def _ivm_read(self, version):
        v = int(version)
        return self._q(
            f"""SELECT o.pri AS o_orderpriority,
                       CAST(sum(l.cents) AS BIGINT) AS rev_cents,
                       count(*) AS n_pairs
                FROM '{self.ingest}/ingest_ivm.parquet' o
                JOIN '{self.ingest}/ingest_ivm.parquet' l ON l.key = o.key
                WHERE o.side = 'o' AND l.side = 'l'
                  AND o.batch <= ? AND l.batch <= ?
                GROUP BY 1""", (v, v))

    def _cc_read(self, version):
        edges = self.con.execute(
            f"SELECT a, b FROM '{self.ingest}/ingest_cc.parquet' WHERE batch <= ?",
            [int(version)]).fetchall()
        parent = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return ["id", "comp"], [(x, find(x)) for x in parent]
