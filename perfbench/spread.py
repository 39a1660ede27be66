#!/usr/bin/env python3
"""Spread of the end-to-end metrics over the untraced runs in
perfbench/out/, and the baseline file of a workload.

    python3 perfbench/spread.py <workload>                 # print medians and spreads
    python3 perfbench/spread.py <workload> --baseline <seed>
        # also write perfbench/baseline/<workload>.json from the traced
        # run of <seed> and the untraced runs

The spread of a metric is (Q3 - Q1) / median over the runs, with the
quartiles of statistics.quantiles(values, n=4).
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(workload, trace):
    runs = []
    for path in sorted(glob.glob(os.path.join(HERE, "out", f"{workload}-seed*-trace{trace}.json"))):
        with open(path) as f:
            runs.append(json.load(f))
    return runs


def spreads(runs):
    out = {}
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[k] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0, "runs": len(vals)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--baseline", type=int, help="seed of the traced run to record")
    args = ap.parse_args()
    runs = load(args.workload, 0)
    if not runs:
        raise SystemExit(f"no untraced runs of {args.workload} in perfbench/out")
    s = spreads(runs)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    for k, v in s.items():
        print(f"{k:16s} median {v['median']:12.4f}  spread {v['spread']:.3f}  "
              f"bound {bounds.get(k, 0):.2f}  ({v['runs']} runs)")
    if args.baseline is None:
        return
    with open(os.path.join(HERE, "out", f"{args.workload}-seed{args.baseline}-trace1.json")) as f:
        traced = json.load(f)
    overhead = {k: traced["metrics"][k] / s[k]["median"] - 1.0
                for k in ("op_mean_ms", "cpu_ms_per_op") if s[k]["median"]}
    base = {"workload": args.workload,
            "untraced": {"seeds": sorted(r["seed"] for r in runs), "metrics": s},
            "traced": {"seed": traced["seed"], "seconds": traced["seconds"],
                       "metrics": traced["metrics"], "tail": traced["tail"],
                       "layers": traced["layers"], "run": traced["run"],
                       "failures": traced["failures"]},
            "tracing_overhead": overhead}
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    with open(os.path.join(HERE, "baseline", f"{args.workload}.json"), "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
