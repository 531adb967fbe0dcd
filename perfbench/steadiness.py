#!/usr/bin/env python3
"""Steadiness check for one workload.

    python3 perfbench/steadiness.py --workload harvest --runs 10 \
        [--seconds 20] [--trace 0] [--other ../parent-checkout] [--first-seed 1]

Runs ``perfbench/run.py`` ``--runs`` times with seeds first-seed,
first-seed+1, ...  With ``--other`` the runs alternate between this
checkout and the other one (same seed for each pair), as an A/B of two
versions of the program with the same benchmark.  For each checkout it
prints every end-to-end metric's median, first and third quartile and
the quartile spread as a share of the median (``statistics.quantiles(n=4)``),
next to the metric's bound; with ``--trace 1`` the end-to-end figures are
those of traced runs (the tracing overhead is the difference) and the
per-layer medians follow.

It also prints the op-time trend: for each op kind, the median over
runs of the kind's mean wall time in each round, warm-up rounds
included, and the ratio of the late half of the timed rounds to the
early half.  A ratio near 1 says the warm-up was long enough; a run with
a long ``--seconds`` shows where op times stop falling.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(checkout, workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--other", help="second checkout to alternate with")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    checkouts = [root] + ([os.path.abspath(args.other)] if args.other else [])

    results = {c: [] for c in checkouts}
    for i in range(args.runs):
        seed = args.first_seed + i
        order = checkouts if i % 2 == 0 else checkouts[::-1]
        for c in order:
            summary, res = run_once(c, args.workload, seed, seconds, args.trace)
            results[c].append((summary, res))
            print(f"# {os.path.basename(c) or c} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in summary["end_to_end"].items()),
                  flush=True)

    for c in checkouts:
        rs = results[c]
        print(f"\n== {c}: {args.workload}, {len(rs)} runs, {seconds} s windows")
        print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}")
        for name in rs[0][0]["end_to_end"]:
            med, q1, q3, rel = spread([s["end_to_end"][name] for s, _ in rs])
            b = bounds.get(name)
            print(f"{name:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {rel:8.3f} "
                  f"{'' if b is None else b:>6}")
        if args.trace:
            print("per-layer medians (traced run):")
            for name in rs[0][1]["metrics"]:
                print(f"  {name:32} {statistics.median(r['metrics'][name]['value'] for _, r in rs):14.3f}")
        shares = {r["failed"] / r["attempted"] for _, r in rs}
        print(f"failed share per run: {sorted(shares)}; all correct: {all(r['correct'] for _, r in rs)}")
        # op-time trend: per kind, the mean wall of its ops in each round
        # (fixed composition per round), median over runs; W = warm-up
        print("op-time trend (ms, per round, median over runs; W = warm-up round):")
        for k in sorted({o[1] for s, _ in rs for o in s["ops"]}):
            per_run = []
            for s, _ in rs:
                rounds = {}
                for phase, kind, rnd, wall, _ in s["ops"]:
                    if kind == k:
                        rounds.setdefault((rnd, phase), []).append(wall)
                per_run.append([(ph, statistics.mean(w)) for (_, ph), w in sorted(rounds.items())])
            n = min(len(x) for x in per_run)
            cells = [("W" if per_run[0][j][0] == "warmup" else "")
                     + f"{statistics.median(x[j][1] for x in per_run):.0f}" for j in range(n)]
            ratios = []
            for x in per_run:
                t = [w for ph, w in x if ph == "timed"]
                if len(t) >= 2:
                    ratios.append(statistics.mean(t[len(t) - len(t) // 2:]) / statistics.mean(t[:len(t) // 2]))
            late = f"late/early {statistics.median(ratios):.3f}" if ratios else "late/early n/a"
            print(f"  {k:10} {late:18} " + " ".join(cells))

if __name__ == "__main__":
    main()
