#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload in two checkouts.

Runs `python3 perfbench/run.py` alternately in a parent and a change
checkout, N pairs, swapping which side goes first every pair (a box
that drifts during the session then penalises both sides alike). Each
pair uses one seed from the given range, cycling through it. For every
end-to-end metric that the change's BENCHMARK.json names it prints each
side's median and quartiles, the change/parent median ratio and the
change's win count, and applies the pairing rule: a gain is claimed
only when the change wins at least nine tenths of the pairs (ties count
for neither) and the medians differ by more than the distance between
the parent's quartiles. Wins are counted over all pairs run, and no
gain is claimed when any run failed or the change failed more
operations than the parent.

Usage:
    python3 tools/bench_pairs.py --workload esvc-wasm --seeds 4401-4410 \\
        --pairs 10 --parent ../parent --change . [--out pairs.json]

Every run lasts the change's BENCHMARK.json `run_seconds`, untraced.
Each checkout builds its own program on its first run (perfbench keeps
the build while the sources are unchanged). A run that exits non-zero
or prints no result line counts as a failed run; its pair is left out
of the medians and quartiles, and the change does not win it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"run failed in {checkout} (seed {seed}, rc {p.returncode}):\n"
                         + "\n".join(p.stderr.splitlines()[-10:]) + "\n")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seed_range, required=True, help="inclusive range, e.g. 4401-4410")
    p.add_argument("--pairs", type=int, help="number of pairs (default: one per seed)")
    p.add_argument("--parent", required=True, help="parent checkout (repository root)")
    p.add_argument("--change", required=True, help="change checkout (repository root)")
    p.add_argument("--out", help="write every run's result and the summary to this JSON file")
    args = p.parse_args()
    n = args.pairs or len(args.seeds)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["better"] for m in bench["end_to_end"]}

    runs = []  # one entry per run; result is None for a failed run
    for i in range(n):
        seed = args.seeds[i % len(args.seeds)]
        order = [("parent", args.parent), ("change", args.change)]
        if i % 2:
            order.reverse()
        for side, checkout in order:
            res = run_once(checkout, args.workload, seed, bench["run_seconds"])
            runs.append({"pair": i, "seed": seed, "side": side, "result": res})
            line = "FAILED" if res is None else " ".join(
                f"{k}={res['metrics'][k]['value']:.4g}" for k in e2e if k in res["metrics"])
            print(f"pair {i + 1}/{n} seed {seed} {side}: {line}", flush=True)

    by_pair = {}
    for r in runs:
        if r["result"] is not None:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
    whole = [v for v in by_pair.values() if len(v) == 2]
    failed_runs = {s: sum(1 for r in runs if r["side"] == s and r["result"] is None)
                   for s in ("parent", "change")}
    failed_ops = {s: sum(r["result"]["failed"] for r in runs if r["side"] == s and r["result"])
                  for s in ("parent", "change")}
    print(f"\n{args.workload}: {len(whole)} whole pairs of {n}; failed runs {failed_runs}; "
          f"failed operations {failed_ops}")
    clean = sum(failed_runs.values()) == 0 and failed_ops["change"] <= failed_ops["parent"]
    print("metric: parent median [q1, q3] | change median [q1, q3] | change/parent | change wins")
    summary = {}
    for name, better in e2e.items():
        pairs = [(v["parent"]["metrics"][name]["value"], v["change"]["metrics"][name]["value"])
                 for v in whole if name in v["parent"]["metrics"] and name in v["change"]["metrics"]]
        if not pairs:
            continue
        sign = 1 if better == "lower" else -1
        wins = sum(1 for a, b in pairs if sign * (a - b) > 0)
        pq1, pmed, pq3 = quartiles([a for a, _ in pairs])
        cq1, cmed, cq3 = quartiles([b for _, b in pairs])
        gain = clean and wins >= 0.9 * n and sign * (pmed - cmed) > (pq3 - pq1)
        ratio = cmed / pmed if pmed else float("nan")
        summary[name] = {"parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
                         "ratio": ratio, "wins": wins, "pairs": n, "gain": gain}
        print(f"{name}: {pmed:.4g} [{pq1:.4g}, {pq3:.4g}] | {cmed:.4g} [{cq1:.4g}, {cq3:.4g}] | "
              f"{ratio:.3f} | {wins}/{n} -> {'gain' if gain else 'no gain'}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
