"""Seeded operation lists of the benchmark's workloads.

The engine only ever sees what these functions produce from the
workload seed: the order of the suite's queries, the object-API
requests, and the versioned-table mutations with the reads that follow
them. The same seed always yields byte-identical lists.
"""
import copy
import datetime
import json
import math

import numpy as np

# percentiles the tail metric may report, lowest first
TAIL_PERCENTILES = (90, 95, 99, 99.9)
# families of the declared queries (name prefix); the rest are "other"
FAMILIES = ("agg", "graph", "pipeline", "dedup", "ts", "tpch", "sim", "sample",
            "join", "win", "text")
# queries in the suite sample
SUITE_SIZE = 20
# kinds of the object-API requests, in the order they repeat: one cycle of
# the session's reads, so every cycle holds every kind; three in seven are
# point lookups
READ_PATTERN = ("point", "page", "point", "group", "point", "one_many", "reach")
# kinds of the mutations, in the order they repeat; the first three
# cover every kind
WRITE_PATTERN = ("insert", "update", "delete", "insert", "insert")
# object-API session: one mutation after every READS_PER_WRITE requests
READS_PER_WRITE = len(READ_PATTERN)
ZIPF_S = 1.1
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def tail(values):
    """(percentile, value, samples beyond) for the highest percentile in
    TAIL_PERCENTILES with at least 10 samples above its nearest-rank
    position. With fewer than 100 samples none qualifies and p90 is
    reported, with the samples beyond it as they are."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return (TAIL_PERCENTILES[0], 0.0, 0)
    best = None
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if best is None or n - rank >= 10:
            best = (p, s[rank - 1], n - rank)
    return best


def mix_mean(samples):
    """Mean latency of a mix of operations, robust to stragglers: the
    samples, (group, latency) pairs, are replaced by their group's median
    and weighted by the group's share of the samples."""
    by = {}
    for g, v in samples:
        by.setdefault(g, []).append(v)
    n = sum(len(v) for v in by.values())
    return sum(len(v) * median(v) for v in by.values()) / n if n else 0.0


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


class Zipf:
    """Keys drawn with probability ~ 1/rank^s; ranks are mapped to keys
    through a seeded permutation so the hot keys are spread out."""

    def __init__(self, keys, rng, s=ZIPF_S):
        self.keys = np.asarray(keys)[rng.permutation(len(keys))]
        w = 1.0 / np.arange(1, len(keys) + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.rng = rng

    def rank(self):
        return int(min(np.searchsorted(self.cdf, self.rng.random()), len(self.cdf) - 1))

    def draw(self):
        return int(self.keys[self.rank()])


# ---- suite ----

def family(query):
    return next((f for f in FAMILIES if query.startswith(f + "_")), "other")


def allot(sizes, n):
    """Seats of `n` per family: one each, the rest by highest averages
    (Sainte-Lague) on the families' sizes."""
    seats = {f: 1 for f in sizes}
    while sum(seats.values()) < n:
        f = max(sorted(sizes), key=lambda f: sizes[f] / (seats[f] + 0.5))
        seats[f] += 1
    return seats


def suite_sample(cost, n=SUITE_SIZE):
    """The suite sample, drawn from `cost` (every declared query's CPU
    seconds in one measured full pass). Each family gets seats by its
    number of queries; its queries ranked by cost are cut into as many
    equal strata as it has seats, and from each stratum the query whose
    cost is nearest the stratum's mean is taken. So every family is in
    the sample, and the sample's cost mix follows the full pass's."""
    by = {}
    for q in sorted(cost):
        by.setdefault(family(q), []).append(q)
    seats = allot({f: len(qs) for f, qs in by.items()}, n)
    out = []
    for f in sorted(by):
        ranked = sorted(by[f], key=lambda q: (cost[q], q))
        k = seats[f]
        for i in range(k):
            stratum = ranked[i * len(ranked) // k:(i + 1) * len(ranked) // k]
            mean = sum(cost[q] for q in stratum) / len(stratum)
            out.append(min(stratum, key=lambda q: (abs(cost[q] - mean), q)))
    return sorted(out)


def compare(cost, sample):
    """The sample against the full pass: per family its queries, seats
    and share of CPU in each, and the mean CPU seconds per query."""
    fams = sorted({family(q) for q in cost})
    total, part = sum(cost.values()), sum(cost[q] for q in sample)
    return {"families": {f: {"queries": sum(family(q) == f for q in cost),
                             "seats": sum(family(q) == f for q in sample),
                             "full_cpu_share": sum(c for q, c in cost.items() if family(q) == f) / total,
                             "sample_cpu_share": sum(cost[q] for q in sample if family(q) == f) / part}
                         for f in fams},
            "mean_cpu_s": {"full": total / len(cost), "sample": part / len(sample)}}


def suite_orders(names, seed, passes):
    """`passes` seeded permutations of the suite sample."""
    rng = _rng(seed, 1)
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]


# ---- naqed: object-API requests ----

def _request(kind, rng, z):
    if kind == "point":
        q = {"customer": {"$c_custkey": z["customer"].draw(), "c_name": True, "c_acctbal": True,
                          "nation": {"n_name": True, "region": {"r_name": True}}}}
    elif kind == "one_many":
        q = {"customer": {"$c_custkey": z["customer"].draw(), "c_name": True,
                          "orders": {"o_orderdate": True, "o_totalprice": True,
                                     "lineitem": {"l_quantity": True, "l_extendedprice": True}}}}
    elif kind == "page":
        q = {"orders": {"$o_orderpriority": PRIORITIES[int(rng.integers(0, 5))],
                        "o_orderkey": True, "o_totalprice": True, "o_orderdate": True,
                        "$sort": "o_totalprice",
                        "$after": round(float(rng.uniform(1000, 495000)), 2), "$limit": 20}}
    elif kind == "group":
        q = {"lineitem": {"$l_suppkey": z["supplier"].draw(), "$groupBy": "l_returnflag",
                          "$agg": {"n": "count", "qty": "sum:l_quantity",
                                   "top": "max:l_extendedprice",
                                   "parts": "count_distinct:l_partkey"}}}
    elif kind == "reach":
        q = {"part": {"$p_partkey": z["part"].draw(), "co_parts": {"$depth": 2}}}
    else:
        raise ValueError(kind)
    return json.dumps(q, sort_keys=True)


def read_requests(seed, n, domains, stream=2, prefix="r"):
    """`n` object-API requests. `domains` maps customer/supplier/part to
    their key lists (part: the parts that have co-purchase edges)."""
    rng = _rng(seed, stream)
    z = {k: Zipf(v, _rng(seed, stream * 10 + i)) for i, (k, v) in enumerate(sorted(domains.items()))}
    return [{"id": f"{prefix}{i}", "kind": READ_PATTERN[i % len(READ_PATTERN)],
             "json": _request(READ_PATTERN[i % len(READ_PATTERN)], rng, z)} for i in range(n)]


def interleave(reads, writes):
    """The session's operation order: cycles of READS_PER_WRITE reads with
    a write after the second."""
    out, w = [], iter(writes)
    for i, r in enumerate(reads):
        out.append(r)
        if (i + 1) % READS_PER_WRITE == 2:
            nxt = next(w, None)
            if nxt is not None:
                out.append(nxt)
    return out


# ---- naqed: versioned writes ----

class OrdersModel:
    """The benchmark's own model of the versioned orders table."""

    def __init__(self, rows):
        self.rows = {r["o_orderkey"]: dict(r) for r in rows}
        self.by_cust = {}
        for k, r in self.rows.items():
            self.by_cust.setdefault(r["o_custkey"], set()).add(k)

    def insert(self, r):
        self.rows[r["o_orderkey"]] = r
        self.by_cust.setdefault(r["o_custkey"], set()).add(r["o_orderkey"])

    def update(self, key, sets):
        self.rows[key].update(sets)

    def delete(self, key):
        r = self.rows.pop(key)
        self.by_cust[r["o_custkey"]].discard(key)

    def scan(self, key):
        return [dict(self.rows[key])] if key in self.rows else []

    def customer_orders(self, cust):
        return [{"o_orderkey": k, "o_custkey": cust, "o_totalprice": self.rows[k]["o_totalprice"],
                 "o_orderstatus": self.rows[k]["o_orderstatus"]}
                for k in self.by_cust.get(cust, ())]


def write_ops(seed, n, rows, customers, stream=3, prefix="w"):
    """`n` mutations of the orders table that start from `rows`, each
    with the scan predicate and request that read the result back.
    Returns (ops, models): models[i] is the table after op i."""
    rng = _rng(seed, stream)
    model = OrdersModel(rows)
    original = sorted(model.rows)
    hot = Zipf(original, _rng(seed, stream * 10 + 1))
    cust = Zipf(customers, _rng(seed, stream * 10 + 2))
    next_key = max(original) + 1
    ops, expected = [], []
    for i in range(n):
        kind = WRITE_PATTERN[i % len(WRITE_PATTERN)]
        if kind == "insert":
            day = datetime.datetime(1995, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 2400)))
            row = {"o_orderkey": next_key, "o_custkey": cust.draw(),
                   "o_orderstatus": "FOP"[int(rng.integers(0, 3))],
                   "o_totalprice": round(float(rng.uniform(1000, 500000)), 2),
                   "o_orderdate": day,
                   "o_orderpriority": PRIORITIES[int(rng.integers(0, 5))]}
            next_key += 1
            wire = dict(row, o_orderdate=day.strftime("%Y-%m-%d %H:%M:%S"))
            mutation = {"~orders": [wire]}
            model.insert(row)
            key = row["o_orderkey"]
        else:
            key = hot.draw()
            while key not in model.rows:
                key = hot.draw()
            if kind == "update":
                sets = {"o_totalprice": round(float(rng.uniform(1000, 500000)), 2),
                        "o_orderstatus": "FOP"[int(rng.integers(0, 3))]}
                mutation = {"~orders": {"$o_orderkey": key, "$set": sets}}
            else:
                mutation = {"~orders": {"$o_orderkey": key, "$delete": True}}
        c = model.rows[key]["o_custkey"] if key in model.rows else None
        if kind == "update":
            model.update(key, sets)
        elif kind == "delete":
            model.delete(key)
        read = {"orders": {"$o_custkey": c, "o_orderkey": True, "o_totalprice": True,
                           "o_orderstatus": True}}
        ops.append({"id": f"{prefix}{i}", "kind": kind, "key": key, "cust": c,
                    "mutation": mutation, "scan": f"o_orderkey = {key}",
                    "read": json.dumps(read, sort_keys=True)})
        expected.append((copy.deepcopy(model.scan(key)), model.customer_orders(c)))
    return ops, expected
