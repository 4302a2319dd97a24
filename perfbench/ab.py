#!/usr/bin/env python3
"""A/B runner and steadiness check for the benchmark.

A/B: two checkouts (each a directory holding a built or buildable commit),
N pairs per workload, alternating which side runs first:

    python3 perfbench/ab.py --a PATH_A --b PATH_B --pairs 10 [--workloads ...]

Steadiness: two sets of N runs of one checkout, the second set on fresh
seeds; reports each metric's spread and the shift between the set medians
against the metric's bound in BENCHMARK.json:

    python3 perfbench/ab.py --steady PATH --runs 10 [--workloads ...]

Each run is `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` started in the checkout, exactly as the benchmark contract runs
it. Results go to stdout, one line per workload and metric, and as JSON to
--out when given.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "lib"))
import stats  # noqa: E402

BENCH = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                                    "BENCHMARK.json")))


def run_once(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    r = json.loads(lines[-1])
    if not r["correct"]:
        print(f"  incorrect run: {checkout} {workload} seed {seed}", file=sys.stderr)
    return {k: v["value"] for k, v in r["metrics"].items()}


def summary(values):
    if len(values) < 2:
        return {"median": values[0], "q1": values[0], "q3": values[0], "spread": 0.0}
    q1, med, q3 = stats.quartiles(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": stats.spread(values)}


def better(metric):
    return next(m["better"] for m in BENCH["end_to_end"] if m["name"] == metric)


def ab(a, b, workloads, pairs, seconds, seed0):
    out = {}
    for w in workloads:
        runs = {"a": [], "b": []}
        for i in range(pairs):
            order = ("a", "b") if i % 2 == 0 else ("b", "a")
            for side in order:
                runs[side].append(run_once(a if side == "a" else b, w, seed0 + i, seconds))
        for m in runs["a"][0]:
            va, vb = [r[m] for r in runs["a"]], [r[m] for r in runs["b"]]
            sign = 1 if better(m) == "higher" else -1
            won = sum(1 for x, y in zip(va, vb) if sign * (y - x) > 0)
            sa, sb = summary(va), summary(vb)
            out[f"{w}/{m}"] = {"a": sa, "b": sb, "b_won": won, "pairs": pairs}
            print(f"{w:13s} {m:14s} A {sa['median']:12.4f} [{sa['q1']:.4f}, {sa['q3']:.4f}]  "
                  f"B {sb['median']:12.4f} [{sb['q1']:.4f}, {sb['q3']:.4f}]  "
                  f"B won {won}/{pairs}", flush=True)
    return out


def steady(path, workloads, runs, seconds, seed0):
    out = {}
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    for w in workloads:
        sets = [[run_once(path, w, seed0 + k * runs + i, seconds) for i in range(runs)]
                for k in range(2)]
        for m in sets[0][0]:
            s1, s2 = (summary([r[m] for r in s]) for s in sets)
            shift = (s2["median"] - s1["median"]) / s1["median"]
            worse = shift if better(m) == "lower" else -shift
            ok = worse <= bounds[m] and max(s1["spread"], s2["spread"]) <= bounds[m]
            out[f"{w}/{m}"] = {"set1": s1, "set2": s2, "shift": shift, "bound": bounds[m],
                               "ok": ok}
            print(f"{w:13s} {m:14s} med {s1['median']:12.4f} / {s2['median']:12.4f} "
                  f"spread {s1['spread']:.3f} / {s2['spread']:.3f} shift {shift:+.3f} "
                  f"bound {bounds[m]} {'ok' if ok else 'NOT STEADY'}", flush=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a")
    ap.add_argument("--b")
    ap.add_argument("--steady")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.steady:
        res = steady(a.steady, a.workloads, a.runs, a.seconds, a.seed)
    elif a.a and a.b:
        res = ab(a.a, a.b, a.workloads, a.pairs, a.seconds, a.seed)
    else:
        ap.error("give --a and --b, or --steady")
    if a.out:
        json.dump(res, open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()
