"""Compare two sets of benchmark results: a parent commit and a change.

Collect alternating pairs (the side that runs first alternates with the
seed), each checkout running its own benchmark code::

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload analyst_sql --seeds 1-10 --out ab/

then report, per workload and metric, each side's median and quartiles,
the share of pairs the change won and a verdict::

    python3 perfbench/compare.py report ab/parent ab/change

A result directory holds one file per run named
``<workload>-seed<N>.json`` whose last line is the JSON object
``run.py`` prints. Runs pair up by workload and seed.

Verdicts (choosing-metrics guide, section 8):

- ``gain``: the change won at least 9 of every 10 pairs (ties count for
  neither side) and the medians differ, in the better direction, by
  more than the parent's own interquartile distance;
- ``no worse``: the change's median is not worse than the parent's by
  more than the metric's bound, and the parent's spread (interquartile
  distance over median) is within the bound — or every change run reads
  better than every parent run;
- ``worse``: the change's median is worse by more than the bound while
  the spread is within it;
- ``unresolved``: anything else (the spread is wider than the bound).

Metrics without a bound (the per-layer ones) only get ``gain`` or
``unresolved``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

_NAME = re.compile(r"^(?P<workload>[A-Za-z0-9_]+)-seed(?P<seed>\d+)\.json$")


def load_results(folder: str) -> dict[tuple[str, int], dict]:
    out = {}
    for fname in sorted(os.listdir(folder)):
        m = _NAME.match(fname)
        if not m:
            continue
        with open(os.path.join(folder, fname)) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        out[(m["workload"], int(m["seed"]))] = json.loads(lines[-1])
    return out


def load_spec(path: str) -> dict[str, dict]:
    """Metric name -> {"better": ..., "bound": ... or None} from
    BENCHMARK.json."""
    with open(path) as f:
        spec = json.load(f)
    out = {}
    for m in spec.get("end_to_end", []):
        out[m["name"]] = {"better": m["better"], "bound": m["bound"]}
    for m in spec.get("per_layer", []):
        out[m["name"]] = {"better": m["better"], "bound": None}
    return out


def verdict(parent: list[float], change: list[float], better: str, bound: float | None) -> dict:
    """Medians, quartiles, pair wins and the verdict for one metric;
    ``parent[i]`` and ``change[i]`` form pair i."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = stats.quartiles(parent)
    cq1, cmed, cq3 = stats.quartiles(change)
    share = wins / len(parent)
    gain = share >= 0.9 and sign * (cmed - pmed) > (pq3 - pq1)
    if gain:
        v = "gain"
    elif bound is None:
        v = "unresolved"
    elif min(sign * x for x in change) > max(sign * x for x in parent):
        v = "no worse"  # every change run beats every parent run
    elif stats.relative_spread(parent) > bound:
        v = "unresolved"
    elif sign * (cmed - pmed) < -bound * abs(pmed):
        v = "worse"
    else:
        v = "no worse"
    return {
        "parent": (pq1, pmed, pq3),
        "change": (cq1, cmed, cq3),
        "wins": share,
        "pairs": len(parent),
        "verdict": v,
    }


def report(parent_dir: str, change_dir: str, spec_path: str) -> int:
    spec = load_spec(spec_path)
    parent, change = load_results(parent_dir), load_results(change_dir)
    keys = sorted(set(parent) & set(change))
    if not keys:
        print("no runs pair up by workload and seed", file=sys.stderr)
        return 1
    worse = 0
    for workload in sorted({w for w, _ in keys}):
        seeds = [s for w, s in keys if w == workload]
        names = [n for n in parent[(workload, seeds[0])]["metrics"] if n in spec]
        fails = sum(parent[(workload, s)]["failed"] + change[(workload, s)]["failed"] for s in seeds)
        print(f"{workload}: {len(seeds)} pairs, {fails} failed ops")
        print(f"  {'metric':40s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} {'won':>5s}  verdict")
        for name in names:
            p = [parent[(workload, s)]["metrics"][name]["value"] for s in seeds]
            c = [change[(workload, s)]["metrics"][name]["value"] for s in seeds]
            r = verdict(p, c, spec[name]["better"], spec[name]["bound"])
            worse += r["verdict"] == "worse"
            fmt = lambda t: "/".join(f"{x:.4g}" for x in t)  # noqa: E731
            print(f"  {name:40s} {fmt(r['parent']):>32s} {fmt(r['change']):>32s} "
                  f"{r['wins']:5.0%}  {r['verdict']}")
    return 2 if worse else 0


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def collect(args) -> int:
    """Alternating pairs: for seed i the parent runs first when i is
    even, the change first when i is odd."""
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    if args.seconds is None:
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    for side in sides:
        os.makedirs(os.path.join(args.out, side), exist_ok=True)
    for seed in _seeds(args.seeds):
        order = ["parent", "change"] if seed % 2 == 0 else ["change", "parent"]
        for side in order:
            cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            res = subprocess.run(cmd, cwd=sides[side], capture_output=True, text=True)
            if res.returncode != 0:
                sys.stderr.write(res.stderr[-4000:])
                print(f"{side} seed {seed}: run failed", file=sys.stderr)
                return 1
            path = os.path.join(args.out, side, f"{args.workload}-seed{seed}.json")
            with open(path, "w") as f:
                f.write(res.stdout.strip().splitlines()[-1] + "\n")
            print(f"{side} seed {seed}: done", flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    rp = sub.add_parser("report", help="compare two result directories")
    rp.add_argument("parent_dir")
    rp.add_argument("change_dir")
    rp.add_argument("--spec", default="BENCHMARK.json", help="BENCHMARK.json with directions and bounds")
    cp = sub.add_parser("run", help="collect alternating parent/change pairs")
    cp.add_argument("--parent", required=True, help="root of the parent checkout")
    cp.add_argument("--change", required=True, help="root of the change checkout")
    cp.add_argument("--workload", required=True)
    cp.add_argument("--seeds", default="1-10", help="'1-10' or '3,5,8'")
    cp.add_argument("--seconds", type=float, help="default: run_seconds of the change's BENCHMARK.json")
    cp.add_argument("--trace", type=int, choices=(0, 1), default=0)
    cp.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.cmd == "report":
        return report(args.parent_dir, args.change_dir, args.spec)
    return collect(args)


if __name__ == "__main__":
    sys.exit(main())
