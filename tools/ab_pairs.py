"""A/B the benchmark between two checkouts in alternating pairs.

Usage: python tools/ab_pairs.py <parent_dir> <change_dir> --workload W --pairs N --seed0 S

Pair i runs ``perfbench/run.py --workload W --seed S+i --seconds 12
--trace 0`` once in each checkout, one run at a time; the side that
goes first alternates from pair to pair, so a drift of the host over
the session falls on both sides alike. One line per run as it
finishes, then, for each end-to-end metric of BENCHMARK.json, the
median and quartiles of each side, the pairs the change won, and
whether the claim rule holds: the change wins at least 9 of every 10
pairs, and its median beats the parent's by more than the parent's
interquartile range. Every run must also be correct. The last line is
the summary as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """runs: one dict per run, ``{"pair", "side", "correct", "metrics":
    {name: value}}``; better: metric -> "lower" or "higher". Returns, per
    metric, each side's median and quartiles, the pairs the change won
    and the claim verdict, plus ``all_correct`` over every run."""
    by_pair: dict[int, dict[str, dict]] = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    # a pair counts when both of its runs reported metrics
    pairs = [
        p for p in by_pair.values()
        if set(p) == set(SIDES) and all(p[s]["metrics"] for s in SIDES)
    ]
    out = {"pairs": len(pairs), "all_correct": all(r["correct"] for r in runs),
           "metrics": {}}
    if not pairs:
        return out
    for name, direction in better.items():
        sign = 1.0 if direction == "lower" else -1.0
        side_vals = {
            side: [p[side]["metrics"][name] for p in pairs] for side in SIDES
        }
        stats = {
            side: {"median": quantile(v, 0.5), "q1": quantile(v, 0.25),
                   "q3": quantile(v, 0.75)}
            for side, v in side_vals.items()
        }
        won = sum(
            sign * (c - p) < 0
            for p, c in zip(side_vals["parent"], side_vals["change"])
        )
        gap = sign * (stats["parent"]["median"] - stats["change"]["median"])
        iqr = stats["parent"]["q3"] - stats["parent"]["q1"]
        out["metrics"][name] = {
            **stats,
            "won": won,
            "gap": gap,
            "parent_iqr": iqr,
            "claim": (
                out["all_correct"]
                and won >= math.ceil(0.9 * len(pairs))
                and gap > iqr
            ),
        }
    return out


def run_once(checkout: str, workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "12", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "metrics": {}}
    return {
        "correct": proc.returncode == 0 and res["correct"],
        "metrics": {k: v["value"] for k, v in res["metrics"].items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    dirs = {"parent": args.parent_dir, "change": args.change_dir}
    runs = []
    for i in range(args.pairs):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            r = run_once(dirs[side], args.workload, args.seed0 + i)
            runs.append({"pair": i, "side": side, **r})
            vals = " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items())
            print(f"pair {i} seed {args.seed0 + i} {side}: "
                  f"correct={r['correct']} {vals}", flush=True)
    summary = summarize(runs, better)
    for name, m in summary["metrics"].items():
        p, c = m["parent"], m["change"]
        print(f"{name}: parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]"
              f" -> change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}];"
              f" won {m['won']}/{summary['pairs']}; gap {m['gap']:.4g}"
              f" vs parent IQR {m['parent_iqr']:.4g}; claim {m['claim']}")
    print(json.dumps(summary))
    return 0 if summary["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
