#!/usr/bin/env python3
"""Run two sets of untraced runs of one commit and report, per workload
and end-to-end metric, whether the sets agree within the bounds in
BENCHMARK.json.

A metric agrees when each set's spread -- the distance between the first
and third quartile of its values (statistics.quantiles, n=4) as a share
of their median -- stays within the metric's bound (setup_s is exempt),
and the second set's median is not worse than the first's by more than
the bound. The share of failed operations must be the same in both sets.

Usage (from the root of a checkout):
  python3 perfbench/compare.py [--runs 10] [--workloads keyspace,query_mix]
                               [--first-seed 1] [--save PATH]
  python3 perfbench/compare.py --load PATH   # re-analyse saved results
Set A uses seeds first-seed.., set B the next `runs` seeds; runs of the
two sets alternate.
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


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first, second, better):
    """How much worse the second median is than the first, as a share."""
    if better == "lower":
        return (second - first) / first
    return (first - second) / first


def run_once(workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "rc": proc.returncode,
           "wall_s": round(time.time() - t0, 2)}
    if proc.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr"] = proc.stderr[-2000:]
    return rec


def report(records, cfg):
    ok = True
    for w in sorted({r["workload"] for r in records}):
        sets = [[r for r in records if r["workload"] == w and r["set"] == s] for s in "AB"]
        if min(len(s) for s in sets) < 2:
            ok = False
            print(f"{w}: a set has fewer than two runs")
            continue
        bad = [r for s in sets for r in s if "result" not in r or not r["result"]["correct"]]
        if bad:
            ok = False
            print(f"{w}: {len(bad)} run(s) failed or incorrect, e.g. seed {bad[0]['seed']}")
            continue
        shares = [sum(r["result"]["failed"] for r in s) / sum(r["result"]["attempted"] for r in s)
                  for s in sets]
        walls = [r["wall_s"] for s in sets for r in s]
        print(f"{w}: failed share A {shares[0]:.4f} B {shares[1]:.4f}; "
              f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        ok &= shares[0] == shares[1]
        for m in cfg["end_to_end"]:
            vals = [[r["result"]["metrics"][m["name"]]["value"] for r in s] for s in sets]
            med = [statistics.median(v) for v in vals]
            spr = [spread(v) for v in vals]
            drift = worse_by(med[0], med[1], m["better"])
            agree = drift <= m["bound"] and (m["name"] == "setup_s" or max(spr) <= m["bound"])
            ok &= agree
            print(f"  {m['name']:<12} bound {m['bound']:.2f}  median A {med[0]:.6g} B {med[1]:.6g}"
                  f"  spread A {spr[0]:.3f} B {spr[1]:.3f}  B worse by {drift:+.3f}  "
                  f"{'agree' if agree else 'DISAGREE'}")
    print("sets agree" if ok else "sets DISAGREE")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save", help="write every run's record here (JSON lines)")
    ap.add_argument("--load", help="analyse records saved by --save instead of running")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2 (quartiles need two values)")
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.load:
        records = [json.loads(line) for line in open(args.load)]
    else:
        names = args.workloads.split(",") if args.workloads else \
            [w["name"] for w in cfg["workloads"]]
        records = []
        for w in names:
            # alternate the sets, so that a drift of the host lands in both
            for i in range(2 * args.runs):
                k, b = divmod(i, 2)
                rec = run_once(w, args.first_seed + k + b * args.runs, cfg["run_seconds"])
                rec["set"] = "AB"[b]
                records.append(rec)
                print(f"[run] {w} seed {rec['seed']} set {rec['set']}: rc {rec['rc']}, "
                      f"{rec['wall_s']} s", file=sys.stderr, flush=True)
                if args.save:
                    with open(args.save, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
    sys.exit(0 if report(records, cfg) else 1)


if __name__ == "__main__":
    main()
