#!/usr/bin/env python3
"""Draws the suite sample from one measured full pass.

    python3 perfbench/sample.py [--seed <n>]

Runs every declared query once, the way `suite_sf0.01` runs its sample
(4 clients, caches dropped, the prime step first, traced), checks every
result against DuckDB, and takes each query's CPU seconds: the task CPU
of its job group plus the CPU of the client thread that built and ran
it. Writes `perfbench/suite_sample.json`: those costs, the sample that
`workloads.suite_sample` draws from them, and the sample's per-family
CPU shares and mean cost beside the full pass's. `--seed` orders the
pass.
"""
import argparse
import json
import os
import platform
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

CLIENTS = 4


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    engine.require_engine()
    cp = engine.classpath(os.path.join(engine.STATE, "build.log"))
    data = run.data_dir(0.01)
    work = os.path.join(engine.STATE, "runs", "full-pass")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    desc = run.describe(cp, data, work)
    names = desc["declared"]
    suite = oracle.SuiteOracle(desc["oracle"], os.path.join(engine.STATE, "expected",
                                                            os.path.basename(data)))
    suite.prepare(names)
    plan = {"workload": "suite_sf0.01", "data": data, "work": work, "clients": CLIENTS,
            "cores": CLIENTS, "setup_reps": 1, "trace": True,
            "passes": workloads.suite_orders(names, args.seed, 1)}
    res = engine.run_engine(cp, plan, work, 1800)
    ops = [o for o in res["ops"] if o["kind"] == "query"]
    bad = [(o["id"], o.get("error"), o.get("message")) for o in res["ops"] if not o.get("ok")]
    bad += [(o["id"], why) for o in ops
            if o.get("ok") and (why := suite.check(o["query"], o["rows"], o["digest"]))]
    shutil.rmtree(work, ignore_errors=True)
    if bad or len(ops) != len(names):
        raise SystemExit(f"full pass: {len(ops)} of {len(names)} queries ran; failures: {bad}")
    cost = {o["query"]: round((o["task_cpu_ms"] + o["driver_cpu_ms"]) / 1e3, 4) for o in ops}
    sample = workloads.suite_sample(cost)
    out = {"pass": {"queries": len(ops), "clients": CLIENTS, "order_seed": args.seed,
                    "wall_s": res["window_s"], "cpu_s": res["cpu_s"],
                    "machine": f"{os.cpu_count()} cores, {platform.machine()}"},
           "sample": sample, "comparison": workloads.compare(cost, sample), "cost_s": cost}
    with open(run.SAMPLE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in ("pass", "sample", "comparison")}, indent=1))


if __name__ == "__main__":
    main()
