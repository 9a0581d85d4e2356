#!/usr/bin/env python3
"""Steadiness tool: run one workload N times on this tree and report each
metric's median, quartiles and spread (interquartile range over median).

    python3 perfbench/steady.py --workload curation --runs 10 [--seed0 100]
        [--seconds 10] [--trace 0] [--out runs.json]
    python3 perfbench/steady.py --compare a.json b.json

Each run uses its own seed (seed0, seed0+1, ...). The spread of every
end-to-end metric is printed next to its bound from BENCHMARK.json; `--compare`
sets two saved series side by side and reports how far the second median moved
from the first, as a share of the first, against the same bound.
Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def bounds():
    path = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def run_series(workload, runs, seed0, seconds, trace):
    series = []
    for i in range(runs):
        seed = seed0 + i
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-3000:])
            raise SystemExit(f"run with seed {seed} failed (exit {r.returncode})")
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"] if len(lines) > 1 else {}
        series.append({"seed": seed, "wall_s": wall, "result": result, "record": record})
        print(f"seed {seed}: {wall:.1f} s, steal {record.get('cpu_steal_pct')} %, " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), file=sys.stderr)
    return series


def summarize(series):
    names = list(series[0]["result"]["metrics"])
    out = {}
    for n in names:
        vals = [s["result"]["metrics"][n]["value"] for s in series]
        q1, med, q3 = quartiles(vals)
        out[n] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else float("nan"),
                  "min": min(vals), "max": max(vals),
                  "unit": series[0]["result"]["metrics"][n]["unit"]}
    walls = [s["wall_s"] for s in series]
    out["_wall_s"] = {"median": statistics.median(walls), "max": max(walls), "sum": sum(walls)}
    return out


def print_summary(summary):
    b = bounds()
    print(f"{'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for n, s in summary.items():
        if n.startswith("_"):
            continue
        bound = b.get(n, {}).get("bound")
        print(f"{n:24s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
              f"{s['spread']:8.3f} {bound if bound is not None else '':>6}")
    w = summary["_wall_s"]
    print(f"wall per run: median {w['median']:.1f} s, max {w['max']:.1f} s, total {w['sum']:.0f} s")


def compare(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    sa, sb = summarize(a["series"]), summarize(b["series"])
    bnd = bounds()
    print(f"{'metric':24s} {'median A':>12s} {'median B':>12s} {'B vs A':>8s} {'bound':>6s}  verdict")
    ok = True
    for n in sa:
        if n.startswith("_"):
            continue
        m = bnd.get(n)
        worse = (sb[n]["median"] - sa[n]["median"]) / sa[n]["median"]
        if m and m["better"] == "higher":
            worse = -worse
        verdict = "within" if m is None or worse <= m["bound"] else "WORSE"
        ok &= verdict == "within"
        print(f"{n:24s} {sa[n]['median']:12.5g} {sb[n]['median']:12.5g} {worse:8.3f} "
              f"{m['bound'] if m else '':>6}  {verdict}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()
    if a.compare:
        return compare(*a.compare)
    if not a.workload:
        ap.error("--workload is required unless --compare is given")
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    series = run_series(a.workload, a.runs, a.seed0, seconds, a.trace)
    summary = summarize(series)
    print_summary(summary)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "trace": a.trace,
                       "series": series, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
