#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on each workload
and reports, for every end-to-end metric, the inter-quartile spread as
a share of the median against the metric's bound (and a third of it,
the target), plus each run's wall time.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--out FILE]
    python3 perfbench/steady.py --compare FILE_A FILE_B

--compare applies the regression rule to two saved result files: for
every metric, the second median may be worse than the first by at most
the bound.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(spec, workloads, seeds):
    out = {}
    for w in workloads:
        for seed in seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed (rc={p.returncode}):\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {seed}: outputs wrong:\n{p.stdout[-3000:]}")
            row = {k: v["value"] for k, v in res["metrics"].items()}
            row["run_wall_s"] = wall
            out.setdefault(w, []).append(row)
            print(f"{w} seed {seed}: {wall:.1f} s "
                  + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
    return out


def report(spec, runs):
    ok = True
    for w, rows in runs.items():
        walls = [r["run_wall_s"] for r in rows]
        print(f"\n{w}: {len(rows)} runs, wall median {stats.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for m in spec["end_to_end"]:
            vals = [r[m["name"]] for r in rows]
            sp = stats.spread(vals) if len(vals) >= 2 else float("nan")
            target = m["bound"] / 3
            flag = "ok" if sp <= target else ("WITHIN BOUND" if sp <= m["bound"] else "TOO WIDE")
            if sp > m["bound"]:
                ok = False
            print(f"  {m['name']:<18} median {stats.median(vals):<12.5g} spread {sp:7.4f}"
                  f"  bound {m['bound']:.3f} (target {target:.3f}) {flag}")
    return ok


def compare(spec, a, b):
    ok = True
    for w in a:
        for m in spec["end_to_end"]:
            ma = stats.median([r[m["name"]] for r in a[w]])
            mb = stats.median([r[m["name"]] for r in b[w]])
            worse = stats.worse_by(ma, mb, m["better"])
            good = stats.within_bound(ma, mb, m["better"], m["bound"])
            ok = ok and good
            print(f"{w:<16} {m['name']:<18} {ma:<12.5g} -> {mb:<12.5g} "
                  f"worse by {worse:+.4f} (bound {m['bound']}) {'ok' if good else 'REGRESSED'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.compare:
        runs = [json.load(open(p)) for p in args.compare]
        sys.exit(0 if compare(spec, *runs) else 1)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    runs = collect(spec, workloads, seeds_of(args.seeds))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    sys.exit(0 if report(spec, runs) else 1)


if __name__ == "__main__":
    main()
