"""Seeded input generation for the three workloads.

Everything the benchmark feeds the engine comes from here and depends
only on the seed (and, for the Delta life cycle, on the `orders` rows):
the interactive statement list, the kernel order and the commit
sequence. The same seed gives the same inputs.
"""
import random

# Five heavy pipeline kernels: the r22 top-time and ROADMAP driver-gap
# target q89 (ConnectedComponents), TPC-H Q5 (q82), and the custom
# operators DistributedRank (q99, q102) and PageRank (q162). One pass at
# local[4] takes 15-20 s, which is what one run can afford.
KERNELS = [
    "q89_dedup_clusters", "q82_tpch_q5", "q99_distributed_rank",
    "q102_sequence_packing", "q162_pagerank_centrality",
]


def kernel_order(seed):
    order = list(KERNELS)
    random.Random(f"kernels:{seed}").shuffle(order)
    return order


# ----------------------------------------------------------- interactive

# Each source: the DDL's format and location, an optional PARTITIONED BY
# column, the DuckDB relation holding the same rows (the file itself
# where DuckDB reads the format, else the corpus rows the fixture was
# built from), and the family of statements it supports.
# `{fx:name}` is a fixture the JVM builds at set-up, `{sf}` the corpus.
SOURCES = {
    "orders_pq": dict(fmt="PARQUET", loc="{sf}/orders.parquet", family="orders",
                      duck="read_parquet('{sf}/orders.parquet')"),
    "orders_part": dict(fmt="PARQUET", loc="{fx:orders_part}", family="orders",
                        part="o_orderpriority",
                        duck="read_parquet('{fx:orders_part}/*/*.parquet', "
                             "hive_partitioning = true)"),
    "orders_delta": dict(fmt="DELTA", loc="{fx:orders_delta}", family="orders",
                         delta=True, versions=2,
                         duck="(SELECT * FROM read_parquet('{sf}/orders.parquet') "
                              "WHERE o_orderkey % 7 <> 0)"),
    "lineitem_pq": dict(fmt="PARQUET", loc="{sf}/lineitem.parquet",
                        family="lineitem",
                        duck="read_parquet('{sf}/lineitem.parquet')"),
    "customer_pq": dict(fmt="PARQUET", loc="{sf}/customer.parquet",
                        family="customer",
                        duck="read_parquet('{sf}/customer.parquet')"),
    "customer_json": dict(fmt="JSON", loc="{fx:customer_json}", family="customer",
                          duck="read_json_auto('{fx:customer_json}/*.json')"),
    "nation_csv": dict(fmt="CSV", loc="{fx:nation_csv}", family="nation",
                       duck="read_csv('{fx:nation_csv}/*.csv', header = true)"),
    "nation_arrow": dict(fmt="ARROW", loc="{fx:nation_arrow}", family="nation",
                         duck="read_parquet('{sf}/nation.parquet')"),
    "supplier_delta": dict(fmt="DELTA", loc="{fx:supplier_delta}",
                           family="supplier", delta=True, versions=2,
                           duck="read_parquet('{sf}/supplier.parquet')"),
}

def _select(rng, t, family, variant):
    """A filtered/aggregated select over table `t`. `variant` (0 or 1)
    picks the shape, the seed picks the literals; every literal keeps the
    selectivity fixed, so two seeds ask questions of the same cost. Every
    output column is an integer or a string, so both engines agree bit
    for bit."""
    if family == "orders":
        if variant == 0:
            k = rng.randrange(0, 100_000)
            return (f"SELECT o_orderpriority, count(*) AS n, "
                    f"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents "
                    f"FROM {t} WHERE o_orderkey BETWEEN {k} AND {k + 50_000} "
                    f"GROUP BY o_orderpriority ORDER BY o_orderpriority")
        return (f"SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS lo, "
                f"max(o_orderkey) AS hi FROM {t} WHERE o_custkey % 7 = {rng.randrange(7)} "
                f"GROUP BY o_orderstatus ORDER BY o_orderstatus")
    if family == "lineitem":
        if variant == 0:
            return (f"SELECT l_returnflag, l_linestatus, count(*) AS n, "
                    f"CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty "
                    f"FROM {t} WHERE l_orderkey % 7 = {rng.randrange(7)} "
                    f"GROUP BY l_returnflag, l_linestatus "
                    f"ORDER BY l_returnflag, l_linestatus")
        k = rng.randrange(0, 100_000)
        return (f"SELECT count(*) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty "
                f"FROM {t} WHERE l_orderkey BETWEEN {k} AND {k + 50_000}")
    if family == "customer":
        k = rng.randrange(0, 15)
        if variant == 0:
            return (f"SELECT c_mktsegment, count(*) AS n, "
                    f"CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents "
                    f"FROM {t} WHERE c_nationkey BETWEEN {k} AND {k + 10} "
                    f"GROUP BY c_mktsegment ORDER BY c_mktsegment")
        return (f"SELECT c_nationkey, count(*) AS n FROM {t} "
                f"WHERE c_custkey % 5 = {rng.randrange(5)} "
                f"GROUP BY c_nationkey ORDER BY c_nationkey")
    if family == "nation":
        k = rng.randrange(0, 15)
        if variant == 0:
            return (f"SELECT n_regionkey, count(*) AS n, min(n_name) AS first "
                    f"FROM {t} WHERE n_nationkey BETWEEN {k} AND {k + 10} "
                    f"GROUP BY n_regionkey ORDER BY n_regionkey")
        return (f"SELECT n_name, n_regionkey FROM {t} "
                f"WHERE n_nationkey BETWEEN {k} AND {k + 5} ORDER BY n_name")
    m = 3 if variant == 0 else 5
    return (f"SELECT s_nationkey, count(*) AS n FROM {t} "
            f"WHERE s_suppkey % {m} = {rng.randrange(m)} "
            f"GROUP BY s_nationkey ORDER BY s_nationkey")


REGEX = {
    "nation": ("n_name", ["^[A-M]", "AN", "^[^AEIOU]", "A$"]),
    "customer": ("c_mktsegment", ["^B", "ING$", "[MN]", "^(AUTO|FURN)"]),
    "orders": ("o_orderpriority", ["^[12]-", "LOW|HIGH", "SPECIFIED$"]),
    "supplier": ("s_name", ["0$", "Supplier#0000001", "[13579]$"]),
    "lineitem": ("l_returnflag", ["^[AR]", "N", "^[^F]"]),
}


def _ddl(t, src):
    s = SOURCES[src]
    part = f"PARTITIONED BY ({s['part']}) " if "part" in s else ""
    return (f"CREATE EXTERNAL TABLE {t} STORED AS {s['fmt']} {part}"
            f"LOCATION '{s['loc']}'")


def statements(seed, rounds=3):
    """Statements in rounds: every source registered, then per round the
    same multiset of (statement kind, source), in seeded order,
    with seeded literals and table names. Per source: re-register it,
    view its rows (`SELECT * … LIMIT 50`), describe it and ask two
    filtered or aggregated questions; per family one pg-regex filter;
    history and detail of each Delta table, its partitions, two URL
    tables, two small EXPLAIN ANALYZE and two information_schema lookups.

    Returns (items, round_ends): each item has id, kind, sql (with
    placeholders), src (the source read, for the checker), table, and
    `delta` (fixture name) when it reads a Delta table; statements name
    the table most recently registered for their source. A run stops at
    a round end."""
    rng = random.Random(f"interactive:{seed}")
    srcs = sorted(SOURCES)
    deltas = [s for s in srcs if SOURCES[s].get("delta")]
    fams = sorted({SOURCES[s]["family"] for s in srcs})

    def one_round():
        work = [(k, s) for s in srcs for k in ("ddl", "view", "schema", "select0", "select1")]
        work += [("regex", min(s for s in srcs if SOURCES[s]["family"] == f))
                 for f in fams]
        work += [(k, s) for s in deltas for k in ("history", "detail")]
        work += [("partitions", "orders_delta"), ("url", "lineitem_pq"),
                 ("url", "customer_json"), ("explain", "nation_csv"),
                 ("explain", "supplier_delta"), ("info_schema", "customer_json"),
                 ("info_schema", "orders_part")]
        rng.shuffle(work)
        return work

    out, current, n_ddl, ends = [], {}, 0, []

    def emit(kind, sql, src, **kw):
        item = dict(id=len(out), kind=kind, sql=sql, src=src, **kw)
        if src is not None and SOURCES[src].get("delta"):
            item["delta"] = src
        out.append(item)

    for src in srcs:
        current[src] = f"t_{src}"
        emit("ddl", _ddl(current[src], src), src, table=current[src])
    work = []
    for _ in range(rounds):
        work += one_round()
        ends.append(len(srcs) + len(work))
    for kind, src in work:
        t, fam = current[src], SOURCES[src]["family"]
        if kind == "ddl":
            n_ddl += 1
            t = current[src] = f"r{n_ddl}_{src}"
            emit("ddl", _ddl(t, src), src, table=t)
        elif kind == "view":
            emit("view", f"SELECT * FROM {t} LIMIT 50", src, table=t)
        elif kind == "schema":
            emit("schema", f"DESCRIBE {t}", src, table=t)
        elif kind.startswith("select"):
            emit("select", _select(rng, t, fam, int(kind[-1])), src, table=t)
        elif kind == "info_schema":
            emit("info_schema",
                 f"SELECT column_name FROM information_schema.columns "
                 f"WHERE table_name = '{t}' ORDER BY column_name", src, table=t)
        elif kind == "regex":
            col, pats = REGEX[fam]
            op = rng.choice(["~", "!~", "~*"])
            pat = rng.choice(pats)
            emit("regex", f"SELECT count(*) AS n FROM {t} WHERE {col} {op} '{pat}'",
                 src, table=t, col=col, op=op, pat=pat)
        elif kind in ("history", "detail", "partitions"):
            verb = {"history": "DESCRIBE HISTORY", "detail": "DESCRIBE DETAIL",
                    "partitions": "SHOW PARTITIONS"}[kind]
            emit(kind, f"{verb} {t}", src, table=t)
        elif kind == "url":
            m, r = 7, rng.randrange(7)
            if src == "lineitem_pq":
                sql = (f"SELECT count(*) AS n FROM parquet.`{{sf}}/lineitem.parquet` "
                       f"WHERE l_orderkey % {m} = {r}")
                duck = (f"SELECT count(*) AS n FROM read_parquet('{{sf}}/lineitem.parquet') "
                        f"WHERE l_orderkey % {m} = {r}")
            else:
                sql = (f"SELECT count(*) AS n FROM json.`{{fx:customer_json}}` "
                       f"WHERE c_custkey % {m} = {r}")
                duck = (f"SELECT count(*) AS n FROM read_json_auto('{{fx:customer_json}}/*.json') "
                        f"WHERE c_custkey % {m} = {r}")
            emit("url", sql, src, duck=duck)
        elif kind == "explain":
            emit("explain", f"EXPLAIN ANALYZE SELECT count(*) AS n FROM {t}",
                 src, table=t)
    return out, ends


# ------------------------------------------------------- delta life cycle

def row_bytes(row):
    """Bytes of one submitted row as the user hands it over: three 8-byte
    integers plus the UTF-8 strings."""
    return 24 + len(row[2].encode()) + len(row[4].encode())


def fingerprint(row):
    """The per-row integer the JVM computes as `Lifecycle.fingerprint`."""
    k, _, status, cents, prio = row
    return (k * 1000003 + cents * 7919 + ord(status[0]) * 131 +
            ord(prio[0]) * 17) % 2147483629


class Model:
    """The life-cycle table as the checker believes it to be: key -> row,
    with its digest (rows, sum key, sum cents, sum fingerprint) kept
    incrementally. Independent of the engine's writer and reader."""

    def __init__(self, rows):
        self.rows = {}
        self.sums = [0, 0, 0, 0]
        for r in rows:
            self.put(r)

    def _acc(self, r, sign):
        for i, v in enumerate((1, r[0], r[3], fingerprint(r))):
            self.sums[i] += sign * v

    def put(self, r):
        old = self.rows.get(r[0])
        if old is not None:
            self._acc(old, -1)
        self.rows[r[0]] = r
        self._acc(r, 1)

    def drop(self, k):
        self._acc(self.rows.pop(k), -1)

    def digest(self):
        return list(self.sums)


# The data commits in the order every run makes them: about 60% append,
# 15% merge upsert, 10% deletion-vector delete, 15% update, with a
# compaction after every fourth. The seed picks what each commit writes.
COMMITS = ["append", "merge", "append", "delete", "compact",
           "append", "update", "append", "append", "compact"]


def lifecycle(seed, orders, commits=COMMITS, checkpoint_every=4):
    """The commit sequence and the model's expected digest after each.

    `orders`: (o_orderkey, o_custkey, o_orderstatus, cents, o_orderpriority)
    rows. The base table is the orders whose key is `res` mod 4; appends
    and merge inserts draw the rest in seeded order, merges and updates
    change seeded rows and deletes drop a seeded key range. The JVM
    checkpoints after every `checkpoint_every` commits. Returns (plan,
    expected) where expected[i] is the digest after commit i and
    expected[-1] is the final table's (the change-feed fold target).
    """
    rng = random.Random(f"lifecycle:{seed}")
    mod, res = 4, rng.randrange(4)
    model = Model(tuple(r) for r in orders if r[0] % mod == res)
    table = model.rows
    reserve = [tuple(r) for r in orders if r[0] % mod != res]
    rng.shuffle(reserve)

    plan, expected, submitted = [], [], 0
    for kind in commits:
        c = {"kind": kind}
        if kind == "append":
            rows = [reserve.pop() for _ in range(rng.randint(200, 600))]
            for r in rows:
                model.put(r)
            c["rows"] = [list(r) for r in rows]
            submitted += sum(row_bytes(r) for r in rows)
        elif kind == "merge":
            keys = sorted(table)
            upd = rng.sample(keys, rng.randint(50, 150))
            rows = [(k, table[k][1], "M", table[k][3] + rng.randint(1, 10_000),
                     table[k][4]) for k in upd]
            rows += [reserve.pop() for _ in range(rng.randint(50, 150))]
            for r in rows:
                model.put(r)
            c["rows"] = [list(r) for r in rows]
            submitted += sum(row_bytes(r) for r in rows)
        elif kind in ("delete", "update"):
            keys = sorted(table)
            w = rng.randint(100, 400) if kind == "delete" else rng.randint(300, 900)
            i0 = rng.randrange(len(keys) - w - 1)
            lo, hi = keys[i0], keys[i0 + w]
            c.update(lo=lo, hi=hi)
            hit = keys[i0:i0 + w]
            if kind == "delete":
                for k in hit:
                    model.drop(k)
            else:
                m = rng.choice([2, 3, 5])
                r_ = rng.randrange(m)
                add = rng.randint(1, 100_000)
                c.update(mod=m, res=r_, add=add)
                for k in hit:
                    r = table[k]
                    if r[1] % m == r_:
                        model.put((k, r[1], "U", r[3] + add, r[4]))
                        submitted += row_bytes(table[k])
        plan.append(c)
        expected.append(model.digest())
    return {"base": {"mod": mod, "res": res}, "commits": plan,
            "checkpoint_every": checkpoint_every,
            "submitted_bytes": submitted}, expected
