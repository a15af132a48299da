#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

    python3 perfbench/compare.py run --out DIR [--workload W ...]
        [--seeds 1-10] [--trace 0|1] [--seconds S]
        Runs perfbench/run.py once per workload and seed and stores each
        result as DIR/<workload>/trace<0|1>/<seed>.json.

    python3 perfbench/compare.py spread DIR
        For one set: each end-to-end metric's median, quartiles and
        spread (quartile distance over median) against its bound.

    python3 perfbench/compare.py diff BASE NEW
        For each workload and end-to-end metric: median and quartiles of
        both sets; flags a move past the metric's bound, and reports
        "unresolved" where either set's spread exceeds the bound. Then
        lists the per-layer metrics (traced runs) that moved most, so a
        regression names its layer.

Bounds, units and directions come from BENCHMARK.json at the repo root.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def load(d, trace):
    """{workload: {metric: [values]}} plus failure counts, from one set."""
    out, bad = {}, {}
    for path in sorted(glob.glob(os.path.join(d, "*", f"trace{trace}", "*.json"))):
        wl = path.split(os.sep)[-3]
        with open(path) as f:
            r = json.load(f)
        if not r.get("correct") or r.get("failed"):
            bad[wl] = bad.get(wl, 0) + 1
        for name, m in r["metrics"].items():
            out.setdefault(wl, {}).setdefault(name, []).append(float(m["value"]))
    return out, bad


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def rel_spread(xs):
    q1, q2, q3 = quart(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def cmd_run(a):
    wls = a.workload or [w["name"] for w in spec()["workloads"]]
    secs = a.seconds or spec()["run_seconds"]
    for wl in wls:
        d = os.path.join(a.out, wl, f"trace{a.trace}")
        os.makedirs(d, exist_ok=True)
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl,
                 "--seed", str(s), "--seconds", str(secs), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            if p.returncode != 0:
                print(f"{wl} seed {s}: exit {p.returncode}", flush=True)
                continue
            with open(os.path.join(d, f"{s}.json"), "w") as f:
                f.write(last + "\n")
            print(f"{wl} seed {s}: {last}", flush=True)


def cmd_spread(a):
    sp = spec()
    vals, bad = load(a.dir, 0)
    for wl, ms in sorted(vals.items()):
        print(f"== {wl}  ({len(next(iter(ms.values())))} runs, {bad.get(wl, 0)} not correct)")
        for m in sp["end_to_end"]:
            xs = ms.get(m["name"])
            if not xs:
                continue
            q1, q2, q3 = quart(xs)
            r = rel_spread(xs)
            flag = "ok" if r < m["bound"] / 3 else ("wide" if r <= m["bound"] else "TOO WIDE")
            print(f"  {m['name']:<26} median {q2:>14.4f} {m['unit']:<7} "
                  f"q1 {q1:.4f} q3 {q3:.4f}  spread {r:.3f} / bound {m['bound']}  {flag}")


def cmd_diff(a):
    sp = spec()
    base, bad_b = load(a.base, 0)
    new, bad_n = load(a.new, 0)
    for wl in sorted(set(base) | set(new)):
        print(f"== {wl}  (not correct: base {bad_b.get(wl, 0)}, new {bad_n.get(wl, 0)})")
        for m in sp["end_to_end"]:
            xb, xn = base.get(wl, {}).get(m["name"]), new.get(wl, {}).get(m["name"])
            if not xb or not xn:
                continue
            b1, b2, b3 = quart(xb)
            n1, n2, n3 = quart(xn)
            worse = (n2 - b2) / abs(b2) if b2 else 0.0
            if m["better"] == "higher":
                worse = -worse
            if max(rel_spread(xb), rel_spread(xn)) > m["bound"]:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict = "REGRESSION"
            elif -worse > m["bound"]:
                verdict = "improved"
            else:
                verdict = "within bound"
            print(f"  {m['name']:<26} base {b2:.4f} [{b1:.4f}, {b3:.4f}]  "
                  f"new {n2:.4f} [{n1:.4f}, {n3:.4f}]  worse by {worse:+.1%}  {verdict}")
    tb, _ = load(a.base, 1)
    tn, _ = load(a.new, 1)
    for wl in sorted(set(tb) & set(tn)):
        moves = []
        for name in set(tb[wl]) & set(tn[wl]):
            b = statistics.median(tb[wl][name])
            n = statistics.median(tn[wl][name])
            if b == 0 and n == 0:
                continue
            moves.append((abs(n - b) / max(abs(b), abs(n)), name, b, n))
        moves.sort(reverse=True)
        print(f"== {wl}: per-layer metrics that moved most")
        for rel, name, b, n in moves[:a.top]:
            layer = name.rsplit(".", 1)[0] if "." in name else name
            print(f"  {name:<36} {b:.4f} -> {n:.4f}  ({rel:.1%} of the larger)  layer {layer}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workload", action="append")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--seconds", type=int)
    s = sub.add_parser("spread")
    s.add_argument("dir")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    d.add_argument("--top", type=int, default=10)
    a = ap.parse_args()
    {"run": cmd_run, "spread": cmd_spread, "diff": cmd_diff}[a.cmd](a)


if __name__ == "__main__":
    main()
