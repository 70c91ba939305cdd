"""Steadiness check: run each workload repeatedly, one fresh process per
run and a different seed each time, and print every end-to-end metric's
median, quartiles and spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10                    # seeds 1..10
    python3 perfbench/steady.py --runs 10 --seed-base 1001   # held-out seeds
    python3 perfbench/steady.py --runs 1                     # one table of every metric
    python3 perfbench/steady.py --runs 10 --save a.json
    python3 perfbench/steady.py --runs 10 --compare a.json   # median shift vs a.json

Spread is the inter-quartile distance over the median, the figure the
bound is checked against; "steady" means below a third of the bound.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import summarize  # noqa: E402


def run_once(workload, seed, seconds, trace=0):
    """(result line, detail line with the run's wall seconds) of one
    run.py process."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    out = subprocess.run(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=400
    )
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: run.py exited {out.returncode}")
    return json.loads(lines[-1]), {**json.loads(lines[-2]), "wall_s": wall}


def verdict(spread, bound):
    if spread <= bound / 3:
        return "steady"
    return "within bound" if spread <= bound else "NOISY"


def main(argv=None):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", action="store_true", help="add one traced run per workload")
    ap.add_argument("--save", help="write the per-run values as JSON")
    ap.add_argument("--compare", help="a --save file to report median shifts against")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    previous = None
    if args.compare:
        with open(args.compare) as f:
            previous = json.load(f)

    saved = {}
    for workload in args.workloads.split(","):
        values = {}
        failed = attempted = 0
        hot = 0
        for k in range(args.runs):
            seed = args.seed_base + k
            result, detail = run_once(workload, seed, args.seconds)
            attempted += result["attempted"]
            failed += result["failed"]
            hot += bool(detail.get("hot_host"))
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(
                f"# {workload} seed {seed}: correct={result['correct']} wall={detail['wall_s']:.1f}s "
                f"load_avg_start={detail['load_avg_start']} "
                f"steal={detail['cpu_steal_frac']:.3f} "
                f"setup_steal={detail['setup_steal_frac']:.3f} "
                f"round_steal={','.join(f'{x:.3f}' for x in detail['round_steal'])} "
                f"latencies={','.join(f'{x:.2f}' for x in detail['latencies_s'])} "
                f"wall_latencies={','.join(f'{x:.2f}' for x in detail['wall_latencies_s'])} "
                f"wall_setup={detail['wall_setup_s']:.1f}s "
                + " ".join(f"{n}={m['value']:.4g}" for n, m in result["metrics"].items()),
                flush=True,
            )
        saved[workload] = values
        print(f"\n{workload}: {args.runs} runs, seeds {args.seed_base}.."
              f"{args.seed_base + args.runs - 1}, {hot} started on a hot host")
        print(f"  {'metric':<18}{'unit':<8}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}  verdict")
        for name, vals in values.items():
            s = summarize(vals)
            b = bounds[name]
            line = (
                f"  {name:<18}{b['unit']:<8}{s['median']:>12.4f}{s['q1']:>12.4f}"
                f"{s['q3']:>12.4f}{s['spread']:>9.3f}{b['bound']:>7.2f}  "
                f"{verdict(s['spread'], b['bound'])}"
            )
            if previous and name in previous.get(workload, {}):
                before = summarize(previous[workload][name])["median"]
                shift = (s["median"] - before) / before
                worse = -shift if b["better"] == "higher" else shift
                line += f"  shift {shift:+.3f}" + (" REGRESSED" if worse > b["bound"] else "")
            print(line)
        print(f"  {'failed_frac':<18}{'ratio':<8}{failed / attempted:>12.4f}"
              f"  ({failed} of {attempted} operations)")
        if args.trace:
            result, _ = run_once(workload, args.seed_base, args.seconds, trace=1)
            print(f"  traced run (seed {args.seed_base}):")
            for name, m in result["metrics"].items():
                print(f"    {name:<40}{m['unit']:<7}{m['value']:>16.6g}")
        print(flush=True)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(saved, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
