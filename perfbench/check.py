"""Output checks. Every timed operation is checked; an operation that
raised or whose output is wrong counts as failed.

- interactive: results against DuckDB over the same file where DuckDB
  reads the format (parquet, CSV, NDJSON), else over the corpus rows the
  fixture was built from; `LIMIT` without `ORDER BY` is checked by row
  count and schema only.
- kernels: row count plus an order-insensitive digest of all output
  columns, against the DuckDB oracle (`SparkEntry.oracleSql`) run over
  the corpus; kernels without an oracle need at least one row.
- delta_lifecycle: each read's digest against the model in gen.py, and
  the folded change feed against the final table.
"""
import datetime
import hashlib
import math
import os
import re

import duckdb

CORPUS = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonical(cols, rows):
    """Columns sorted by name, rows sorted by value (the comparison of
    scripts/check_oracle.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def digest(cols, rows):
    """(row count, order-insensitive digest of every column)."""
    c, r = canonical(cols, rows)
    return len(r), hashlib.sha256(repr((c, r)).encode()).hexdigest()


def connect(sf_dir, tmp_dir):
    """An in-memory DuckDB over the corpus, bounded to the cores this
    process may use and 2 GB of memory (it spills to `tmp_dir`)."""
    con = duckdb.connect()
    con.sql(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.sql("SET memory_limit = '2GB'")
    con.sql(f"SET temp_directory = '{tmp_dir}'")
    for t in CORPUS:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# ---------------------------------------------------------------- kernels

def materialized(sql):
    """The same query with every CTE materialized. DuckDB inlines a CTE
    at each reference; the label-propagation oracles (q89) name each step
    twice, so inlined they repeat the shingle self-join 2^k times (45 s
    and 11 GB at sf0.1, against 1 s and 0.3 GB materialized)."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def oracle_expectation(con, sql):
    rel = con.sql(materialized(sql))
    n, d = digest(list(rel.columns), rel.fetchall())
    return {"n": n, "digest": d}


def check_kernel(con, path, expect):
    """None when the kernel output at `path` is right, else the reason."""
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    if expect is None:
        n = len(rel.fetchall())
        return None if n > 0 else "no rows"
    n, d = digest(list(rel.columns), rel.fetchall())
    if n != expect["n"]:
        return f"{n} rows, oracle has {expect['n']}"
    if d != expect["digest"]:
        return "rows differ from the oracle"
    return None


# ------------------------------------------------------------ interactive

class Interactive:
    def __init__(self, con, sf_dir, fixtures, sources):
        self.con, self.sf, self.fx, self.sources = con, sf_dir, fixtures, sources
        self.memo = {}

    def resolve(self, s):
        s = s.replace("{sf}", self.sf)
        for k, v in self.fx.items():
            s = s.replace("{fx:" + k + "}", v)
        return s

    def query(self, sql):
        if sql not in self.memo:
            self.memo[sql] = self.con.sql(sql).fetchall()
        return self.memo[sql]

    def duck(self, src):
        return self.resolve(self.sources[src]["duck"])

    def cols(self, src):
        return sorted(r[0] for r in self.query(f"DESCRIBE SELECT * FROM {self.duck(src)}"))

    def check(self, st, op):
        """None when statement `st`'s result `op` is right, else why not."""
        kind, rows, n = st["kind"], op.get("rows", []), op.get("n")
        t = st.get("table")
        if kind == "ddl":
            return None if n == 0 else f"DDL returned {n} rows"
        src = st.get("src")
        if kind == "view":
            want = min(50, self.query(f"SELECT count(*) FROM {self.duck(src)}")[0][0])
            if n != want:
                return f"{n} rows, expected {want}"
            if sorted(op["cols"]) != self.cols(src):
                return f"columns {sorted(op['cols'])}"
            return None
        if kind == "schema":
            got = sorted(r[0] for r in rows if r[0] and not r[0].startswith("#"))
            return None if got == self.cols(src) else f"described {got}"
        if kind == "info_schema":
            got = [r[0] for r in rows]
            return None if got == self.cols(src) else f"columns {got}"
        if kind == "history":
            return (None if n == self.sources[src]["versions"]
                    and "version" in op["cols"] else f"{n} versions")
        if kind == "detail":
            return None if n == 1 and rows[0][0] == "delta" else f"detail {rows}"
        if kind == "partitions":
            want = [list(r) for r in self.query(
                f"SELECT DISTINCT o_orderpriority FROM {self.duck(src)} ORDER BY 1")]
            return None if rows == want else f"partitions {rows}"
        if kind == "explain":
            ok = (n == 1 and rows[0][0] == "Plan with Metrics" and "metrics=" in rows[0][1])
            return None if ok else "no metric-annotated plan"
        if kind == "regex":
            neg = "NOT " if st["op"] == "!~" else ""
            flags = ", 'i'" if st["op"] == "~*" else ""
            sql = (f"SELECT count(*) AS n FROM {self.duck(src)} WHERE "
                   f"{neg}regexp_matches({st['col']}, '{st['pat']}'{flags})")
        elif kind == "url":
            sql = self.resolve(st["duck"])
        else:  # select: the same SQL, the table swapped for its DuckDB relation
            sql = st["sql"].replace(f" {t} ", f" {self.duck(src)} ")
        want = [list(r) for r in self.query(sql)]
        return None if rows == want else f"rows {rows[:3]} vs DuckDB {want[:3]}"


# ----------------------------------------------------- delta life cycle

def check_lifecycle(op, expected):
    if op["kind"] == "read":
        want = expected[op["after"]]
        return None if op["digest"] == want else f"digest {op['digest']} vs model {want}"
    if op["kind"] == "stream":
        want = expected[-1]
        return None if op["fold"] == want else f"change-feed fold {op['fold']} vs {want}"
    return None
