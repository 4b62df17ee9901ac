#!/usr/bin/env python3
"""Steadiness report for the graft benchmark.

Runs perfbench/run.py N times per workload (seeds base..base+N-1) and
prints, per metric, the median, the quartiles and the spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json.
The workload's own named metrics (the line before the result) are
reported too. Run from the root of a checkout:

    python3 perfbench/steady.py --runs 10 --out set1.json
    python3 perfbench/steady.py --runs 10 --seed-base 101 --out set2.json
    python3 perfbench/steady.py --compare set1.json set2.json
    python3 perfbench/steady.py --runs 3 --trace 1 --out traced.json
    python3 perfbench/steady.py --compare set1.json traced.json   # tracing overhead
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("event_store", "analytics_sweep")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def run_set(args):
    seconds = args.seconds or spec()["run_seconds"]
    out = {"trace": args.trace, "seconds": seconds, "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            seed = args.seed_base + i
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                runs.append({"seed": seed, "wall_s": wall, "error": p.returncode})
                continue
            res = json.loads(lines[-1])
            detail = {}
            if len(lines) > 1:
                try:
                    d = json.loads(lines[-2])
                    detail = {k: v["value"] for k, v in d.get("detail", {}).items()}
                    detail["steal_pct"] = float(d["host"]["steal_pct"])
                except (ValueError, KeyError):
                    pass
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}, "detail": detail})
            print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']} failed={res['failed']}", file=sys.stderr)
        out["workloads"][w] = runs
    return out


def report(data):
    bounds = {m["name"]: m.get("bound") for m in spec()["end_to_end"]}
    for w, runs in data["workloads"].items():
        ok = [r for r in runs if "metrics" in r]
        walls = [r["wall_s"] for r in runs]
        print(f"\n== {w}: {len(ok)}/{len(runs)} runs ok, all correct={all(r['correct'] for r in ok)}, "
              f"failed ops={sum(r['failed'] for r in ok)}, wall/run median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        if not ok:
            continue
        print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
        for src in ("metrics", "detail"):
            for k in ok[0][src]:
                vals = [r[src][k] for r in ok if r[src].get(k) is not None]
                if not vals:
                    continue
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med if med else float("nan")
                b = bounds.get(k) if src == "metrics" else None
                flag = "" if b is None else ("ok" if spread <= b / 3 else ("WIDE" if spread <= b else "FAIL"))
                print(f"{k:34s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {'' if b is None else b:>6} {flag}")


def compare(a, b):
    spec_ = spec()
    e2e = {m["name"]: m for m in spec_["end_to_end"]}
    for w in a["workloads"]:
        ra = [r for r in a["workloads"][w] if "metrics" in r]
        rb = [r for r in b["workloads"].get(w, []) if "metrics" in r]
        if not ra or not rb:
            continue
        print(f"\n== {w}")
        if a["trace"] == b["trace"]:
            for k, m in e2e.items():
                ma = statistics.median(r["metrics"][k] for r in ra)
                mb = statistics.median(r["metrics"][k] for r in rb)
                worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
                print(f"{k:20s} {ma:12.4f} -> {mb:12.4f}  worse by {worse:+.3f} (bound {m['bound']}) "
                      f"{'ok' if worse <= m['bound'] else 'FAIL'}")
        else:
            un, tr = (ra, rb) if b["trace"] else (rb, ra)
            mu = statistics.median(r["metrics"]["round_s"] for r in un)
            mt = statistics.median(r["metrics"]["trace.round_s"] for r in tr)
            print(f"round_s untraced {mu:.4f}s, traced {mt:.4f}s: tracing overhead {(mt - mu) / mu:+.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=0, help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--out", help="save the raw runs as JSON")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), help="compare two saved sets")
    ap.add_argument("--show", metavar="SET", help="report a saved set")
    args = ap.parse_args()
    if args.compare:
        with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
            compare(json.load(fa), json.load(fb))
        return
    if args.show:
        with open(args.show) as fh:
            report(json.load(fh))
        return
    data = run_set(args)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(data, fh, indent=1)
    report(data)


if __name__ == "__main__":
    main()
