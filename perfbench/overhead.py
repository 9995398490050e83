"""Tracing overhead: run each workload untraced and traced on the same seeds
and report, per end-to-end metric, the traced median against the untraced
median.

    python3 perfbench/overhead.py [--seeds 1,2,3] [--seconds 18] [workload ...]

The traced run (--trace 1) prints its own end-to-end metrics on a
"[trace] end_to_end" line of standard error; the untraced run prints them
as its result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("daily", "corpus_dedup")


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    if trace == 0:
        return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    line = [l for l in p.stderr.splitlines() if l.startswith("[trace] end_to_end ")][-1]
    return json.loads(line[len("[trace] end_to_end "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", default="18")
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    for w in a.workloads:
        runs = {0: [], 1: []}
        for s in seeds:
            for t in (0, 1):
                runs[t].append(one(w, s, a.seconds, t))
        print(f"## {w} (seeds {a.seeds})")
        print("| metric | untraced median | traced median | overhead |")
        print("|---|---:|---:|---:|")
        for m, v in runs[0][0].items():
            u = statistics.median(r[m]["value"] for r in runs[0])
            t = statistics.median(r[m]["value"] for r in runs[1])
            over = f"{(t - u) / u:+.1%}" if u else "n/a"
            print(f"| {m} ({v['unit']}) | {u:.4g} | {t:.4g} | {over} |")
        print()


if __name__ == "__main__":
    main()
