#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a parent checkout against a change.

    python3 tools/abpairs.py --parent DIR --change DIR --seeds 121-130 \\
        [--workloads corpus_dedup,daily] [--seconds 18] [--out runs.jsonl]
    python3 tools/abpairs.py --report runs.jsonl

For each workload and seed it runs `perfbench/run.py --trace 0` once in each
checkout, alternating which side runs first from one seed to the next. Each
side builds into its own CARGO_TARGET_DIR (`--target-root`/parent and
`--target-root`/change), so neither reuses the other's classes. Every run's
result line is appended to `--out` as it finishes; `--report` prints the
report of such a file without running anything.

Per workload and end-to-end metric of BENCHMARK.json, the report gives each
side's median and quartiles (`statistics.quantiles(n=4)`), how many pairs
the change won (ties count for neither side), whether a gain holds by the
rule of ten pairs (the change wins at least nine tenths of the pairs and the
medians differ by more than the parent's interquartile range) and whether
the change's median is worse than the parent's by more than the metric's
bound. The metric names, directions and bounds come from BENCHMARK.json of
the parent checkout (with `--report`: of `--parent` if given, else of this
repository); nothing else of either checkout is read besides `perfbench/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_one(checkout, target, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0 or result is None:
        tail = p.stderr.strip().splitlines()[-3:]
        return {"ok": False, "error": " | ".join(tail)}
    return {"ok": True, "result": result}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(records, bench):
    metrics = bench["end_to_end"]
    ok = True
    for wl in sorted({r["workload"] for r in records}):
        runs = {s: {} for s in SIDES}
        failed = {s: 0 for s in SIDES}
        for r in records:
            if r["workload"] != wl:
                continue
            if r["ok"]:
                runs[r["side"]][r["seed"]] = r["result"]
            else:
                failed[r["side"]] += 1
        seeds = sorted(set(runs["parent"]) & set(runs["change"]))
        print(f"== {wl}: {len(seeds)} pairs (seeds {','.join(map(str, seeds))}); "
              f"failed runs parent {failed['parent']}, change {failed['change']}")
        if not seeds:
            ok = False
            continue
        for s in SIDES:
            bad = [sd for sd in seeds if not runs[s][sd].get("correct", False)]
            if bad:
                ok = False
                print(f"   {s}: output checks failed on seeds {bad}")
        print(f"   {'metric':<18} {'parent median [q1-q3]':>30} "
              f"{'change median [q1-q3]':>30} {'delta':>8} {'wins':>6}  verdict")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {s: [runs[s][sd]["metrics"][name]["value"] for sd in seeds
                        if name in runs[s][sd].get("metrics", {})] for s in SIDES}
            if len(vals["parent"]) != len(seeds) or len(vals["change"]) != len(seeds):
                print(f"   {name:<18} missing in some runs")
                continue
            p1, pm, p3 = quartiles(vals["parent"])
            c1, cm, c3 = quartiles(vals["change"])
            wins = sum((c < p) if lower else (c > p)
                       for p, c in zip(vals["parent"], vals["change"]))
            better = cm < pm if lower else cm > pm
            gain = better and wins * 10 >= 9 * len(seeds) and abs(cm - pm) > p3 - p1
            delta = (cm - pm) / pm if pm else 0.0
            verdict = []
            if gain:
                verdict.append("gain holds")
            if (delta if lower else -delta) > m["bound"]:
                verdict.append(f"WORSE than bound {m['bound']}")
                ok = False
            print(f"   {name:<18} {pm:>12.4g} [{p1:.4g}-{p3:.4g}]".ljust(52) +
                  f" {cm:>12.4g} [{c1:.4g}-{c3:.4g}]".ljust(31) +
                  f" {delta:>+7.1%} {wins:>3}/{len(seeds):<2}  {', '.join(verdict)}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--seeds", help="e.g. 121-130 or 1,5,9")
    ap.add_argument("--workloads", default="corpus_dedup")
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--target-root", default=None,
                    help="build dirs go to <this>/parent and <this>/change "
                         "(default: .bench_build/abpairs in the change checkout)")
    ap.add_argument("--out", default=None, help="JSONL file the runs are appended to")
    ap.add_argument("--report", help="only print the report of this JSONL file")
    a = ap.parse_args()

    if a.report:
        with open(a.report) as f:
            records = [json.loads(l) for l in f if l.strip()]
        bench_dir = a.parent or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(bench_dir, "BENCHMARK.json")) as f:
            bench = json.load(f)
        return 0 if report(records, bench) else 1

    if not (a.parent and a.change and a.seeds):
        ap.error("--parent, --change and --seeds are required unless --report")
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(dirs["parent"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    root = os.path.abspath(a.target_root or
                           os.path.join(dirs["change"], ".bench_build", "abpairs"))
    out = a.out or os.path.join(root, "runs.jsonl")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    records = []
    for wl in a.workloads.split(","):
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for side in order:
                r = run_one(dirs[side], os.path.join(root, side), wl, seed, a.seconds)
                r.update(workload=wl, seed=seed, side=side, first=order[0])
                records.append(r)
                with open(out, "a") as f:
                    f.write(json.dumps(r) + "\n")
                v = (r["result"]["metrics"].get("read_p50_s", {}).get("value")
                     if r["ok"] else r["error"])
                print(f"[abpairs] {wl} seed {seed} {side}: {v}", file=sys.stderr, flush=True)
    return 0 if report(records, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
