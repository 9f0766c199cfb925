#!/usr/bin/env python3
"""Compare two checkouts on one benchmark workload in alternating pairs.

    python3 tools/bench_pairs.py <parent_dir> <change_dir> --workload <w> --seeds <list>

For each seed (comma-separated, e.g. 11,12,13) runs
`python3 graftbench/run.py --workload <w> --seed <s> --seconds <run_seconds>
--trace 0` once in each checkout, alternating which side runs first, and
reads the JSON line each run prints last. `run_seconds`, the end-to-end
metrics, their directions and their bounds come from the change's
BENCHMARK.json. Both checkouts build their own engine (graftbench/run.py
does it on first use), so build them once beforehand to keep the build out
of the first pair.

Prints one line per run, then for each end-to-end metric: each side's
median and quartiles, the change's wins over the pairs (ties count for
neither side), whether the change's median is within the metric's bound of
the parent's, and whether the gain rule holds: the change wins at least
nine tenths of the pairs and its median is better than the parent's by
more than the parent's interquartile range. Then each side's share of
failed operations. Nothing under either checkout's graftbench/ is edited.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """The JSON result of one untraced run, or None if it printed none."""
    p = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma-separated seeds, one pair per seed")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",") if s.strip()]
    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}

    results = []  # (seed, {side: result or None})
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            r = run(sides[side], a.workload, seed, bench["run_seconds"])
            pair[side] = r
            if r is None:
                print(f"run seed={seed} side={side} NO RESULT", flush=True)
            else:
                vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                                for m in metrics if m["name"] in r["metrics"])
                print(f"run seed={seed} side={side} correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} {vals}",
                      flush=True)
        results.append((seed, pair))

    complete = [p for _, p in results if p["parent"] and p["change"]]
    print(f"pairs {len(complete)} of {len(seeds)} complete")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pairs = [(p["parent"]["metrics"][name]["value"],
                  p["change"]["metrics"][name]["value"])
                 for p in complete
                 if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not pairs:
            print(f"metric {name} no values")
            continue
        par = [x for x, _ in pairs]
        chg = [y for _, y in pairs]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum(1 for x, y in pairs if (y > x if higher else y < x))
        losses = sum(1 for x, y in pairs if (y < x if higher else y > x))
        gain = cmed - pmed if higher else pmed - cmed
        limit = pmed * (1 - m["bound"]) if higher else pmed * (1 + m["bound"])
        within = cmed >= limit if higher else cmed <= limit
        rule = wins >= 0.9 * len(pairs) and gain > pq3 - pq1
        print(f"metric {name} ({m['unit']}, {m['better']} is better) "
              f"parent median={pmed:.4g} q1={pq1:.4g} q3={pq3:.4g} | "
              f"change median={cmed:.4g} q1={cq1:.4g} q3={cq3:.4g} | "
              f"change/parent={cmed / pmed if pmed else float('nan'):.3f} "
              f"wins={wins} losses={losses} of {len(pairs)} | "
              f"within_bound({m['bound']})={'yes' if within else 'NO'} "
              f"gain_rule={'holds' if rule else 'not met'}")
    for side in ("parent", "change"):
        att = sum(p[side]["attempted"] for p in complete)
        fail = sum(p[side]["failed"] for p in complete)
        wrong = sum(1 for p in complete if not p[side]["correct"])
        print(f"failures {side} failed={fail} of attempted={att} "
              f"share={fail / att if att else 0.0:.4f} incorrect_runs={wrong}")


if __name__ == "__main__":
    main()
