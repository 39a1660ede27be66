"""Expected answers from DuckDB and the checks against them.

Suite queries are compared with the answers of the engine's own DuckDB
oracle SQL (`graft.Oracle.forDir`), object-API requests with DuckDB SQL
written for each request kind. Both by row count and an
order-insensitive digest of the rows (column names included, exact
values) that `perfbench.Canon` computes the same way on the engine side.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)


# ---- suite: the oracle SQL's answers ----

class SuiteOracle:
    """Row count and digest of each query's DuckDB answer, computed once
    per SQL text (and version of this file, which renders the rows) and
    kept under `cache`."""

    def __init__(self, sql_by_name, cache):
        self.sql = sql_by_name
        self.cache = cache
        self.con = duckdb.connect()
        os.makedirs(cache, exist_ok=True)

    def expected(self, name):
        with open(__file__, "rb") as f:
            key = hashlib.sha256(self.sql[name].encode() + f.read()).hexdigest()[:24]
        path = os.path.join(self.cache, f"{name}-{key}.json")
        if not os.path.exists(path):
            rows = query_rows(self.con, self.sql[name])
            with open(path + ".tmp", "w") as f:
                json.dump([len(rows), digest(rows)], f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return tuple(json.load(f))

    def prepare(self, names):
        """Compute every expected answer before the engine runs."""
        for n in names:
            self.expected(n)

    def check(self, name, rows, dig):
        """None if the engine's row count and digest match, else the reason."""
        if name not in self.sql:
            return "no oracle SQL"
        n, d = self.expected(name)
        return None if (rows, dig) == (n, d) else \
            f"rows/digest engine=({rows}, {dig}) duckdb=({n}, {d})"


# ---- object API: canonical rows and digests ----

def canon(v):
    """Canonical text of one value; mirrors perfbench.Canon.value."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b:" + ("true" if v else "false")
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, float):
        return "d:%x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, str):
        return "s:" + v.replace("\\", "\\\\").replace(",", "\\,")
    if isinstance(v, datetime.datetime):
        d = v - EPOCH
        return "t:%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "t:%d" % ((v - EPOCH.date()).days * 86400 * 1000000)
    if isinstance(v, decimal.Decimal):
        t = format(v.normalize(), "f")
        return "n:" + (t if "." not in t else t.rstrip("0").rstrip("."))
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(sorted(canon(x) for x in v)) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(rows):
    """Order-insensitive digest of dict rows; mirrors perfbench.Canon.digest."""
    acc = 0
    for r in rows:
        md = hashlib.md5(canon(r).encode("utf-8")).digest()
        acc = (acc + int.from_bytes(md[:8], "big")) % (1 << 64)
    return "%x" % acc


def query_rows(con, sql, params=()):
    """Rows of a DuckDB query as dicts (nested STRUCT/LIST come back as
    dicts/lists)."""
    rel = con.execute(sql, params)
    cols = [d[0] for d in rel.description]
    return [dict(zip(cols, r)) for r in rel.fetchall()]
