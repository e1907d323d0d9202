#!/usr/bin/env python3
"""Repeat run.py over seeds and summarise each metric's spread.

    python3 perfbench/sweep.py --workloads a,b --seeds 1-10 --seconds 10 \
        [--trace 0|1] [--out FILE]

For every workload and metric it reports the values, their median, the
quartiles (statistics.quantiles(values, n=4)) and the inter-quartile
range as a share of the median. With --out the summary, plus each run's
full record from .bench_build/perfbench/records/, is written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                               cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout + r.stderr)
                raise SystemExit(f"{w} seed {s} exited {r.returncode}")
            line = json.loads(r.stdout.strip().splitlines()[-1])
            with open(os.path.join(build.OUT, "records",
                                   f"{w}-seed{s}-trace{a.trace}.json")) as f:
                rec = json.load(f)
            runs.append({"seed": s, "result": line, "record": rec})
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
        names = runs[0]["result"]["metrics"]
        metrics = {n: summary([r["result"]["metrics"][n]["value"] for r in runs])
                   for n in names}
        for n, m in metrics.items():
            if m["iqr_share"] is not None:
                print(f"  {w} {n}: median {m['median']:.4g}, IQR/median {m['iqr_share']:.3f}")
        report[w] = {"metrics": metrics,
                     "all_correct": all(r["result"]["correct"] for r in runs),
                     "runs": runs}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
