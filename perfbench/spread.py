"""Run the benchmark on several seeds and summarize it as a baseline.

    python3 perfbench/spread.py --seeds 401-410 --out perfbench/BASELINE.json

For every workload in BENCHMARK.json, runs ``run.py --trace 0`` once per
seed and reports each end-to-end metric's median, quartiles and spread
(the distance between the quartiles as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them), next to the metric's
bound. Then one ``--trace 1`` run per workload, on the first seed, gives
the layer breakdown. The summary also records the commit, the core count
and each workload's input properties.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    from run import run_workload

    _, result = run_workload(workload, seed, seconds, trace, stderr=subprocess.DEVNULL)
    if result is None:
        raise SystemExit(f"{workload} seed {seed} --trace {trace} printed no result")
    return result


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 401-410")
    p.add_argument("--out", help="write the summary JSON here")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, HERE)
    import gen

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout.strip()
    summary = {"commit": commit or "unknown", "nproc": len(os.sched_getaffinity(0)),
               "run_seconds": bench["run_seconds"], "seeds": args.seeds, "workloads": {}}
    for w in [x["name"] for x in bench["workloads"]]:
        results = [run(w, s, bench["run_seconds"], 0) for s in seeds(args.seeds)]
        entry = {
            "input": gen.properties(gen.generate(w, seeds(args.seeds)[0]), w),
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "end_to_end": {},
        }
        for name in bounds:
            s = summarize([r["metrics"][name]["value"] for r in results])
            s.update(unit=results[0]["metrics"][name]["unit"], bound=bounds[name])
            entry["end_to_end"][name] = s
            print(f"{w:<14} {name:<16} median {s['median']:>10.4g} {s['unit']:<8} "
                  f"spread {s['spread']:.3f} (bound {s['bound']}, n={len(results)})", flush=True)
        traced = run(w, seeds(args.seeds)[0], bench["run_seconds"], 1)
        entry["layers"] = {k: v["value"] for k, v in traced["metrics"].items()}
        summary["workloads"][w] = entry
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
