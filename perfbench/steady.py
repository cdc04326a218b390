#!/usr/bin/env python3
"""Steadiness check: run a workload once per seed and report, for every
end-to-end metric, the median and the inter-quartile spread as a share of
the median (``statistics.quantiles(values, n=4)``).

    python3 perfbench/steady.py --workload registry --seeds 1-10 --seconds 12 \
        [--out perfbench/steadiness/registry.json]

Each run's full result line is kept in the output file, so the record
shows every value behind each spread.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", args.seconds, "--trace", args.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-2000:])
            raise SystemExit(f"seed {seed}: run failed ({r.returncode})")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res["seed"], res["run_s"] = seed, round(time.time() - t0, 1)
        runs.append(res)
        print(f"seed {seed}: {res['run_s']} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    names = list(runs[0]["metrics"])
    summary = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs]
        summary[n] = {"median": statistics.median(vals),
                      "spread": analysis.spread(vals) if len(vals) >= 2 else 0.0,
                      "unit": runs[0]["metrics"][n]["unit"]}
        print(f"  {n:<28} median {summary[n]['median']:>12.4f}  spread {summary[n]['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": float(args.seconds),
                       "trace": int(args.trace), "summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
