#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload stream_sessionize --seeds 1-10 [--trace 0] [--out f.json]

For every metric: the median, the quartiles (statistics.quantiles, n=4) and
the inter-quartile distance as a share of the median. Each run is the
benchmark command of BENCHMARK.json, from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {out.returncode}")
        r = json.loads(out.stdout.splitlines()[-1])
        r["seed"], r["wall_s"] = seed, round(time.time() - t0, 1)
        runs.append(r)
        print(f"seed {seed}: {r['wall_s']} s, failed {r['failed']}/{r['attempted']}", file=sys.stderr)
    summary = {}
    for name in runs[0]["metrics"]:
        vs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med, "q1": q1,
                         "q3": q3, "spread": (q3 - q1) / abs(med) if med else 0.0}
        print(f"{name:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {summary[name]['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "trace": a.trace, "runs": runs,
                       "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
