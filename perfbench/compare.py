"""Summarise and compare benchmark runs.

    python3 perfbench/compare.py RUN_OUTPUT...
    python3 perfbench/compare.py --base RUN_OUTPUT... --new RUN_OUTPUT...

Each RUN_OUTPUT is a file holding the standard output of one run.py
invocation. The first form prints, per workload and metric, the median
of the runs and their spread: the distance between the first and third
quartile as a share of the median, flagged when it is not below a third
of the metric's bound in BENCHMARK.json. The second form also prints
each metric's median change from --base to --new, flags changes for the
worse beyond the bound, and, for the seeds run on both sides, the median
and spread of the per-seed ratios new / base: pairing by seed takes the
differences between seeds' inputs out of the comparison, leaving the
code change and the host's drift. Runs made at different core counts
are refused: their numbers do not compare.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> dict:
    """{workload: [(info, result), ...]} from run output files."""
    out: dict = {}
    for p in paths:
        with open(p) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            raise SystemExit(f"{p}: no result line")
        info, result = json.loads(lines[-2]), json.loads(lines[-1])
        out.setdefault(info["workload"], []).append((info, result))
    return out


def by_seed(runs: list, name: str) -> dict:
    return {info["seed"]: r["metrics"][name]["value"] for info, r in runs}


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) as statistics.quantiles(n=4) gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}


def nprocs(runs: dict) -> set:
    return {info["host"]["nproc"] for rs in runs.values() for info, _ in rs}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("runs", nargs="*")
    ap.add_argument("--base", nargs="+", default=[])
    ap.add_argument("--new", nargs="+", default=[])
    args = ap.parse_args(argv)
    specs = metric_specs()
    new = load(args.new or args.runs)
    base = load(args.base) if args.base else {}
    cores = nprocs(new) | nprocs(base)
    if len(cores) > 1:
        print(f"refusing to compare runs made at different core counts: {sorted(cores)}")
        return 2
    bad = 0
    for wl, rs in sorted(new.items()):
        wrong = sum(1 for _, r in rs if not r["correct"])
        print(f"{wl}: {len(rs)} runs, {wrong} with correct=false")
        bad += wrong
        for name in rs[0][1]["metrics"]:
            vals = [r["metrics"][name]["value"] for _, r in rs]
            spec = specs.get(name, {})
            bound = spec.get("bound")
            if len(vals) < 2:
                print(f"  {name:40s} {vals[0]:14.4f}")
                continue
            med, sp = spread(vals)
            flag = ""
            if bound is not None and sp >= bound / 3:
                flag = f"  SPREAD >= bound/3 ({bound / 3:.3f})"
                bad += 1
            line = f"  {name:40s} median {med:14.4f}  spread {sp:6.3f}{flag}"
            if wl in base and bound is not None:
                bvals = [r["metrics"][name]["value"] for _, r in base[wl]]
                bmed = statistics.median(bvals)
                change = (med - bmed) / bmed if bmed else 0.0
                worse = change if spec["better"] == "lower" else -change
                line += f"  vs base {change:+.3f}"
                if worse > bound:
                    line += f"  WORSE than bound {bound}"
                    bad += 1
                old, now = by_seed(base[wl], name), by_seed(rs, name)
                ratios = [now[sd] / old[sd] for sd in sorted(old.keys() & now.keys())
                          if old[sd]]
                if len(ratios) >= 2:
                    rmed, rsp = spread(ratios)
                    line += f"  paired x{rmed:.3f} (n={len(ratios)}, spread {rsp:.3f})"
            print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
