#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from the checkout (once per source state), generates
the input tables (once; fixed data seed), derives the workload's
operations from --seed, runs them through `perfbench.Main`, checks every
output against DuckDB or the benchmark's own model, and prints one JSON
line last: the end-to-end metrics (--trace 0) or the per-layer metrics
of a traced run (--trace 1). Per-operation detail goes to perfbench/out/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import engine  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {
    # name: (data scale, client threads)
    "suite_sf0.01": (0.01, 1),
    "naqed_sf0.01": (0.01, 1),
}
# Spark's local executor slots: half the cores of a 4-core machine, so the
# JIT compiler and GC threads do not queue behind the tasks
CORES = 2
# end-to-end metrics (--trace 0): name -> unit
END_TO_END = {"setup_s": "s", "op_mean_ms": "ms", "cpu_ms_per_op": "ms", "space_amp": "ratio"}
# per-layer metrics (--trace 1): (name, unit, better); "/op" = per operation
PER_LAYER = (
    [("lat.op_p50_ms", "ms", "lower"), ("lat.op_tail_ms", "ms", "lower"),
     ("lat.op_mean_wall_ms", "ms", "lower"), ("host.steal_frac", "ratio", "lower"),
     ("api.req_p50_ms", "ms", "lower"), ("api.compile_ms_p50", "ms", "lower"),
     ("api.exec_ms_p50", "ms", "lower"), ("api.jobs_per_req", "count", "lower"),
     ("api.rows_read_per_row_out", "ratio", "lower"),
     ("ops.construct_s", "s", "lower"), ("ops.action_s", "s", "lower")]
    + [(f"ops.cpu_s.{f}", "s", "lower") for f in workloads.FAMILIES + ("other",)]
    + [("tables.load_s", "s", "lower"), ("shared.build_s", "s", "lower"),
       ("shared.build_wall_s", "s", "lower"), ("shared.cached_mb", "MB", "lower"),
       ("plan.analysis_s", "s/op", "lower"), ("plan.optimization_s", "s/op", "lower"),
       ("plan.planning_s", "s/op", "lower"), ("plan.executions", "count/op", "lower"),
       ("plan.codegen_compiles", "count/op", "lower"),
       ("exec.jobs", "count/op", "lower"), ("exec.stages", "count/op", "lower"),
       ("exec.tasks", "count/op", "lower"), ("exec.task_cpu_s", "s/op", "lower"),
       ("exec.task_run_s", "s/op", "lower"), ("exec.task_wait_s", "s/op", "lower"),
       ("exec.shuffle_write_mb", "MB/op", "lower"), ("exec.spill_mb", "MB/op", "lower"),
       ("exec.input_records", "count/op", "lower"), ("exec.peak_task_mem_mb", "MB", "lower"),
       ("exec.stage_skew", "ratio", "lower"),
       ("driver.cpu_s", "s/op", "lower"), ("jvm.gc_s", "s/op", "lower"),
       ("jvm.jit_s", "s/op", "lower"), ("ledger.cpu_s", "s", "lower"),
       ("ledger.task_frac", "ratio", "higher"), ("ledger.driver_frac", "ratio", "lower"),
       ("ledger.gc_frac", "ratio", "lower"), ("ledger.jit_frac", "ratio", "lower"),
       ("ledger.spark_threads_frac", "ratio", "lower"),
       ("ledger.executor_other_frac", "ratio", "lower"),
       ("ledger.other_task_frac", "ratio", "lower"),
       ("ledger.unattributed_frac", "ratio", "lower"),
       ("sources.commit_ms_p50.insert", "ms", "lower"),
       ("sources.commit_ms_p50.update", "ms", "lower"),
       ("sources.commit_ms_p50.delete", "ms", "lower"),
       ("sources.readback_ms_p50", "ms", "lower"),
       ("sources.files_written_per_commit", "count", "lower"),
       ("sources.bytes_written_per_row", "B", "lower"),
       ("sources.scan_files_kept_frac", "ratio", "lower"),
       ("sources.head_files", "count", "lower"),
       ("setup.warmup_s", "s", "lower"), ("jvm.heap_peak_mb", "MB", "lower"),
       ("jvm.heap_live_mb", "MB", "lower")])
SETUP_REPS = 3
# space_amp is read after this many writes of the window (insert, update)
SPACE_WRITES = 2
# A run's operations are sized from --seconds at a fixed rate, never by a
# deadline, so the same arguments always send the same operations: one
# pass of the suite sample per SUITE_PASS_S (at least one); one cycle of
# the object-API mix per NAQED_CYCLE_S (at least NAQED_MIN_CYCLES, so the
# window holds three requests of every kind and writes every kind once,
# and at least SPACE_WRITES times).
SUITE_PASS_S = 30
NAQED_CYCLE_S = 10
NAQED_MIN_CYCLES = 3
# the suite sample, drawn from a measured full pass by sample.py
SAMPLE = os.path.join(HERE, "suite_sample.json")
ENGINE_TIMEOUT = 170
FIRST_RUN_TIMEOUT = 880
OUT = os.path.join(HERE, "out")


def data_dir(sf):
    d = os.path.join(engine.STATE, "data", f"sf{sf}")
    done = os.path.join(d, ".complete")
    if not os.path.exists(done) or open(done).read() != str(datagen.DATA_SEED):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf)
        with open(done, "w") as f:
            f.write(str(datagen.DATA_SEED))
    return d


def describe(cp, data, work):
    """Declared query names (in order) and their oracle SQL for `data`."""
    stamp = open(os.path.join(engine.STATE, "build.stamp")).read()[:16]
    path = os.path.join(engine.STATE, f"describe-{stamp}-{os.path.basename(data)}.json")
    if not os.path.exists(path):
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--describe", data, path + ".tmp"],
                       check=True, timeout=120, stdout=subprocess.DEVNULL, cwd=work)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


# ---- per-workload plans and checks ----

def suite_plan(args, cp, data, work, plan):
    desc = describe(cp, data, work)
    with open(SAMPLE) as f:
        names = json.load(f)["sample"]
    missing = sorted(set(names) - set(desc["declared"]))
    if missing:
        raise RuntimeError(f"suite sample names undeclared queries {missing}; rerun sample.py")
    suite = oracle.SuiteOracle(desc["oracle"], os.path.join(engine.STATE, "expected",
                                                            os.path.basename(data)))
    suite.prepare(names)
    plan["passes"] = workloads.suite_orders(names, args.seed,
                                            max(1, round(args.seconds / SUITE_PASS_S)))

    def check(op):
        return suite.check(op["query"], op["rows"], op["digest"])
    # op_mean_ms: each query at its median over the passes
    return check, (lambda op: op["query"])


# the strong co-purchase graph (parts co-ordered >= 2 times), both directions
UD_SQL = """CREATE TEMP TABLE ud AS WITH e AS (
    SELECT a.l_partkey AS s, b.l_partkey AS t FROM {lineitem} a JOIN {lineitem} b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2)
  SELECT s, t FROM e UNION ALL SELECT t, s FROM e"""

def _read_domains(data):
    """Key lists the requests draw from: customers, suppliers, and the
    parts that have strong co-purchase edges (so reach requests walk)."""
    path = os.path.join(data, "domains.json")
    if not os.path.exists(path):
        con = duckdb.connect()
        con.execute(UD_SQL.format(lineitem=f"read_parquet('{data}/lineitem.parquet')"))
        count = lambda t: con.execute(f"SELECT count(*) FROM read_parquet('{data}/{t}.parquet')").fetchone()[0]
        doms = {"customer": list(range(count("customer"))),
                "supplier": list(range(count("supplier"))),
                "part": [r[0] for r in con.execute("SELECT DISTINCT s FROM ud ORDER BY 1").fetchall()]}
        with open(path + ".tmp", "w") as f:
            json.dump(doms, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


READ_SQL = {
    "point": """SELECT c.c_custkey, c.c_name, c.c_acctbal,
        struct_pack(n_name := n.n_name, n_nationkey := n.n_nationkey,
          region := struct_pack(r_name := r.r_name, r_regionkey := r.r_regionkey)) AS nation
      FROM {customer} c LEFT JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN {region} r ON n.n_regionkey = r.r_regionkey
      WHERE c.c_custkey = $c_custkey""",
    "one_many": """WITH li AS (
        SELECT l_orderkey, list(struct_pack(l_quantity := l_quantity,
          l_extendedprice := l_extendedprice, l_linenumber := l_linenumber,
          l_partkey := l_partkey, l_suppkey := l_suppkey)) AS lineitem
        FROM {lineitem} WHERE l_orderkey IN
          (SELECT o_orderkey FROM {orders} WHERE o_custkey = $c_custkey)
        GROUP BY l_orderkey),
      o AS (SELECT o.o_custkey, list(struct_pack(o_orderdate := o.o_orderdate,
          o_totalprice := o.o_totalprice, lineitem := li.lineitem,
          o_orderkey := o.o_orderkey)) AS orders
        FROM {orders} o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
        WHERE o.o_custkey = $c_custkey GROUP BY o.o_custkey)
      SELECT c.c_custkey, c.c_name, o.orders FROM {customer} c
        LEFT JOIN o ON c.c_custkey = o.o_custkey WHERE c.c_custkey = $c_custkey""",
    "page": """SELECT o_orderkey, o_totalprice, o_orderdate, o_custkey FROM {orders}
      WHERE o_orderpriority = $o_orderpriority AND o_totalprice > $after
      ORDER BY o_totalprice, o_orderkey, o_custkey LIMIT $limit""",
    "group": """SELECT l_returnflag, count(*) AS n, count(DISTINCT l_partkey) AS parts,
        sum(l_quantity) AS qty, max(l_extendedprice) AS top
      FROM {lineitem} WHERE l_suppkey = $l_suppkey GROUP BY l_returnflag""",
    "reach": """WITH RECURSIVE r(v, depth) AS (
        SELECT CAST($p_partkey AS BIGINT), 0
        UNION SELECT ud.t, r.depth + 1 FROM r JOIN ud ON ud.s = r.v WHERE r.depth < $depth)
      SELECT v, CAST(min(depth) AS INTEGER) AS depth FROM r GROUP BY v""",
}


def naqed_plan(args, cp, data, work, plan):
    doms = _read_domains(data)
    rows = pq.read_table(os.path.join(data, "orders.parquet")).to_pylist()
    # warm-up: one request of each kind, and two writes
    warm_reads = []
    for r in workloads.read_requests(args.seed, len(workloads.READ_PATTERN), doms,
                                     stream=5, prefix="warm"):
        if r["kind"] not in {w["kind"] for w in warm_reads}:
            warm_reads.append(r)
    warm_writes, _ = workloads.write_ops(args.seed, 2, rows, doms["customer"], stream=6, prefix="warmw")
    cycles = max(NAQED_MIN_CYCLES, SPACE_WRITES, round(args.seconds / NAQED_CYCLE_S))
    reads = workloads.read_requests(args.seed, cycles * workloads.READS_PER_WRITE, doms)
    writes, after = workloads.write_ops(args.seed, cycles, rows, doms["customer"])
    wire = lambda o: {k: o[k] for k in ("id", "kind", "mutation", "scan", "read")}
    plan["warmup"] = workloads.interleave(warm_reads, [wire(o) for o in warm_writes])
    plan["ops"] = workloads.interleave(reads, [wire(o) for o in writes])
    plan["space_writes"] = SPACE_WRITES
    text_of = {r["id"]: r["json"] for r in reads}
    index = {o["id"]: i for i, o in enumerate(writes)}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = {t: f"read_parquet('{data}/{t}.parquet')"
              for t in ("customer", "nation", "region", "orders", "lineitem")}
    con.execute(UD_SQL.format(**tables))
    memo = {}

    def expected(req_json, kind):
        if req_json not in memo:
            q = next(iter(json.loads(req_json).values()))
            params = {"c_custkey": q.get("$c_custkey"), "o_orderpriority": q.get("$o_orderpriority"),
                      "after": q.get("$after"), "limit": q.get("$limit"),
                      "l_suppkey": q.get("$l_suppkey"), "p_partkey": q.get("$p_partkey"),
                      "depth": q.get("co_parts", {}).get("$depth")}
            sql = READ_SQL[kind].format(**tables)
            used = {k: v for k, v in params.items() if "$" + k in sql}
            rows = oracle.query_rows(con, sql, used)
            memo[req_json] = (len(rows), oracle.digest(rows))
        return memo[req_json]

    def check(op):
        if op["id"] in index:
            # a write: the benchmark's own model of the orders table
            scan, orders = after[index[op["id"]]]
            got = (op["count"], op["scan_rows"], op["scan_digest"], op["rows"], op["digest"])
            want = (1, len(scan), oracle.digest(scan), len(orders), oracle.digest(orders))
            return None if got == want else \
                f"(count, scan rows, scan digest, rows, digest) engine={got} model={want}"
        n, d = expected(text_of[op["id"]], op["kind"])
        if (op["rows"], op["digest"]) != (n, d):
            return f"rows/digest engine=({op['rows']}, {op['digest']}) duckdb=({n}, {d})"
        return None
    # op_mean_ms: each kind of request or write at its median, weighted by its count
    return check, (lambda op: op["kind"])


PLANS = {"suite_sf0.01": suite_plan, "naqed_sf0.01": naqed_plan}


def unstolen(wall, steal):
    """Wall time less the host's steal: `wall` scaled by the share of the
    busy CPU time the host did not steal meanwhile."""
    return wall * (1.0 - steal)


def summarize(res, ops, group):
    n = max(1, len(ops))
    space = 1.0
    if "head_bytes" in res:
        space = res["table_bytes"] / max(1, res["head_bytes"])
    loads = [unstolen(w, st) for w, st in zip(res["setup_s"], res["setup_steal"])]
    metrics = {
        # the median of the repeated table loads, plus the shared builds
        "setup_s": workloads.median(loads) + unstolen(res["build_s"], res["build_steal"]),
        "op_mean_ms": workloads.mix_mean([(group(o), unstolen(o["ms"], o["steal"])) for o in ops]),
        "cpu_ms_per_op": res["cpu_s"] * 1e3 / n,
        "space_amp": space,
    }
    return metrics, workloads.tail([o["ms"] for o in ops])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    engine.require_engine()
    started = time.time()
    sf, clients = WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(engine.STATE, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    first_build = not os.path.exists(os.path.join(engine.STATE, "classpath.txt"))
    cp = engine.classpath(os.path.join(engine.STATE, "build.log"))
    data = data_dir(sf)
    plan = {"workload": args.workload, "data": data, "work": work, "clients": clients,
            "cores": CORES, "setup_reps": SETUP_REPS, "trace": bool(args.trace)}
    phases = {"build_s": time.time() - started}
    check, group = PLANS[args.workload](args, cp, data, work, plan)
    phases["plan_s"] = time.time() - started - sum(phases.values())
    budget = FIRST_RUN_TIMEOUT if first_build else ENGINE_TIMEOUT
    res = engine.run_engine(cp, plan, work, max(30, budget - (time.time() - started)))
    phases["engine_s"] = time.time() - started - sum(phases.values())

    ops = res["ops"]
    failures = []
    for op in ops:
        why = None
        if op.get("ok"):
            try:
                why = check(op)
            except Exception as e:  # a check that cannot run is a failure too
                why = f"check failed: {type(e).__name__}: {e}"
            if why:
                op["wrong"] = why
        if not op.get("ok") or why:
            failures.append(op)
    phases["check_s"] = time.time() - started - sum(phases.values())
    timed = [o for o in ops if o["kind"] != "prime"]
    metrics, tail = summarize(res, timed, group)
    # per layer: the window's median and tail latency (a window of 20-24
    # operations has no tail with 10 samples beyond it), op_mean_ms before
    # the steal is taken out, and the window's steal share
    latency = {"lat.op_p50_ms": workloads.median([o["ms"] for o in timed]),
               "lat.op_tail_ms": tail[1],
               "lat.op_mean_wall_ms": workloads.mix_mean([(group(o), o["ms"]) for o in timed]),
               "host.steal_frac": res["window_steal"]}
    layers = dict(res.get("layers", {}), **latency)
    # task and client-thread CPU of the suite's queries by family, per pass
    # (traced runs record each operation's task CPU)
    passes = max(1, len(res.get("passes", [])))
    for f in workloads.FAMILIES + ("other",):
        layers[f"ops.cpu_s.{f}"] = sum(
            (o.get("task_cpu_ms", 0.0) + o.get("driver_cpu_ms", 0.0)) / 1e3 for o in timed
            if o["kind"] == "query" and workloads.family(o["query"]) == f) / passes
    layers["setup.warmup_s"] = res["warmup_s"]
    layers["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    layers["jvm.heap_live_mb"] = res["heap_live_mb"]
    os.makedirs(OUT, exist_ok=True)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "tail": {"metric": "lat.op_tail_ms", "percentile": tail[0],
                                            "samples_beyond": tail[2], "samples": len(timed)},
              "metrics": metrics, "latency": latency,
              "layers": layers if args.trace else {},
              "failures": [{k: o.get(k) for k in ("id", "kind", "query", "error", "message", "wrong")}
                           for o in failures],
              "phases": phases,
              "run": {k: res[k] for k in ("setup_s", "setup_steal", "build_s", "build_steal",
                                          "warmup_s", "window_s", "window_steal", "cpu_s",
                                          "passes", "table_bytes", "head_bytes", "thread_cpu_s")
                      if k in res},
              "ops": ops}
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        with open(os.path.join(OUT, tag + "-spans.jsonl"), "w") as f:
            for s in res.get("spans", []):
                f.write(json.dumps(s) + "\n")
    for sub in ("out", "vt", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    print(f"{args.workload} seed {args.seed}: {len(timed)} ops, {len(failures)} failed; "
          f"op_p50_ms {latency['lat.op_p50_ms']:.1f}; op_tail_ms {tail[1]:.1f} is p{tail[0]} "
          f"with {tail[2]} samples beyond; detail in perfbench/out/{tag}.json")
    if args.trace:
        out = {k: {"value": layers[k], "unit": u} for k, u, _ in PER_LAYER}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": max(1, len(timed)),
                      "failed": len(failures), "metrics": out}, separators=(",", ":")))


if __name__ == "__main__":
    main()
