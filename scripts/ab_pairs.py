"""Interleaved A/B pairs of ``perfbench/run.py`` between two checkouts.

Each pair runs the same workload and seed once in the parent tree and
once in the change tree, one after the other; which side runs first
alternates from pair to pair, so a host that drifts in speed during
the session loads both sides alike. Every run's JSON line is kept
(``--out``, one line per run), and the script prints, per workload and
end-to-end metric of ``BENCHMARK.json``, each side's median with its
quartiles, the change's per-pair win count, the median shift against
the metric's bound, and the gap between the medians beside the
parent's quartile distance — the table format of CHANGES.md:

    | workload (pairs) | metric | parent | change | change better |

Usage (from the change tree; both trees are plain checkouts, e.g. made
with ``git clone`` or ``git archive`` of the two commits):

    python scripts/ab_pairs.py --parent <parent tree> --change . \\
        --workload churn search --seeds 500-509 [--seconds 8] \\
        [--trace 0] [--out pairs.jsonl]
    python scripts/ab_pairs.py --from pairs.jsonl   # re-print a table

It runs ``perfbench/run.py`` unmodified in each tree and reads
``BENCHMARK.json`` only.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def seed_list(spec: str) -> list[int]:
    """``"500-509"`` or ``"500,503,507"`` → seeds."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(tree: str, workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    """One ``perfbench/run.py`` run in ``tree`` → its JSON line (or a
    ``{"correct": False, "error": …}`` stand-in when it printed none)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        return {"correct": False, "metrics": {},
                "error": f"exit {proc.returncode}: {proc.stderr[-400:]}"}
    return json.loads(lines[-1])


def run_pairs(args, out, names: set[str]) -> list[dict]:
    trees = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    rows = []
    for workload in args.workload:
        for i, seed in enumerate(seed_list(args.seeds)):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for side in order:
                res = run_once(trees[side], workload, seed, args.seconds,
                               args.trace)
                row = {"workload": workload, "seed": seed, "side": side,
                       "first": order[0], **res}
                rows.append(row)
                if out:
                    out.write(json.dumps(row) + "\n")
                    out.flush()
                m = res.get("metrics", {})
                print(f"{workload} seed={seed} {side:6s} "
                      f"correct={res.get('correct')} "
                      f"failed={res.get('failed')} " + " ".join(
                          f"{k}={v['value']:.4g}" for k, v in m.items()
                          if k in names), file=sys.stderr)
    return rows


def _fmt(v: float) -> str:
    return f"{v:.4g}" if abs(v) < 1000 else f"{v:.0f}"


def summary(rows: list[dict], bench: dict) -> list[str]:
    """The CHANGES.md table for ``rows`` (only seeds both sides ran)."""
    lines = ["| workload (pairs) | metric | parent | change "
             "| change better |", "|---|---|---|---|---|"]
    notes = []
    for workload in dict.fromkeys(r["workload"] for r in rows):
        runs = {(r["seed"], r["side"]): r for r in rows
                if r["workload"] == workload}
        paired = sorted(s for s, side in runs
                        if side == "parent" and (s, "change") in runs)
        bad = [f"{side} seed {s}" for s in paired for side in SIDES
               if not runs[s, side].get("correct")
               or runs[s, side].get("failed")]
        seeds = [s for s in paired
                 if all(runs[s, side]["metrics"] for side in SIDES)]
        notes.append(f"{workload}: {2 * len(paired)} runs, "
                     + (f"not correct or with failed ops: {', '.join(bad)}"
                        if bad else "every run correct, 0 failed ops"))
        first = True
        for spec in bench["end_to_end"]:
            name = spec["name"]
            if not seeds:
                continue
            val = {side: np.array([runs[s, side]["metrics"][name]["value"]
                                   for s in seeds], float) for side in SIDES}
            sign = 1 if spec["better"] == "lower" else -1
            wins = int(np.sum(sign * (val["parent"] - val["change"]) > 0))
            q = {side: np.percentile(val[side], [25, 50, 75])
                 for side in SIDES}
            med_p, med_c = q["parent"][1], q["change"][1]
            shift = (med_c - med_p) / med_p * 100 if med_p else 0.0
            label = (f"{workload} ({len(seeds)}, seeds "
                     f"{seeds[0]}–{seeds[-1]})" if first else workload)
            first = False
            cells = [f"{_fmt(q[s][1])} [{_fmt(q[s][0])}–{_fmt(q[s][2])}]"
                     for s in SIDES]
            lines.append(
                f"| {label} | `{name}` | {cells[0]} | {cells[1]} | "
                f"{wins}/{len(seeds)} ({shift:+.1f}%, bound "
                f"{spec['bound'] * 100:.0f}%; gap {_fmt(abs(med_c - med_p))}"
                f" vs parent IQR {_fmt(q['parent'][2] - q['parent'][0])}) |")
    return lines + [""] + notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="parent checkout")
    ap.add_argument("--change", default=ROOT, help="change checkout")
    ap.add_argument("--workload", nargs="+", default=["churn"])
    ap.add_argument("--seeds", default="500-509")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append each run's JSON line here")
    ap.add_argument("--from", dest="load",
                    help="print the table of a saved --out file")
    args = ap.parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.load:
        with open(args.load) as f:
            rows = [json.loads(ln) for ln in f if ln.strip()]
    else:
        if not args.parent:
            ap.error("pass --parent (or --from)")
        out = open(args.out, "a") if args.out else None
        try:
            rows = run_pairs(args, out,
                             {m["name"] for m in bench["end_to_end"]})
        finally:
            if out:
                out.close()
    print("\n".join(summary(rows, bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
