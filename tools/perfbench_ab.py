"""Interleaved parent/change A/B of the repo benchmark (BENCHMARK.json).

    python3 tools/perfbench_ab.py --parent HEAD~1 --workload cdc_backfill --seeds 2-11

Exports the parent revision's committed files into a temporary directory
(``git archive``) and runs ``perfbench/run.py`` there and in this checkout
once per seed, alternating which side runs first. Prints every run, then
per metric each side's median and quartiles, the change/parent ratio of
the medians and the pairs the change won, then the host anchors, and last
one JSON object with all of it. Exits 1 if any run crashed, was not
``correct`` or had ``failed > 0``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ANCHORS = ("anchor.noop_job_ms", "anchor.matmul768_ms")
# run.py stops itself after ~165 s; this only catches a hung process
RUN_TIMEOUT_S = 600


def parse_seeds(spec: str) -> list[int]:
    """'2-11' or '1,3,5' (or a mix) → the seeds in order."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def parse_run(stdout: str) -> dict:
    """run.py's stdout → {correct, failed, metrics, anchors}: the last
    line is the JSON verdict; the lines before it are ``name value unit``."""
    lines = stdout.strip().splitlines()
    verdict = json.loads(lines[-1])
    anchors = {}
    for line in lines[:-1]:
        name, _, rest = line.partition(" ")
        if name in ANCHORS:
            anchors[name] = float(rest.split()[0])
    return {
        "correct": bool(verdict["correct"]),
        "failed": int(verdict["failed"]),
        "metrics": {k: m["value"] for k, m in verdict["metrics"].items()},
        "anchors": anchors,
    }


def run_once(cwd: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
        if p.returncode != 0:
            raise RuntimeError(f"exit {p.returncode}: {p.stderr[-2000:]}")
        return parse_run(p.stdout)
    except (RuntimeError, subprocess.TimeoutExpired, ValueError, KeyError, IndexError) as e:
        return {"correct": False, "failed": -1, "metrics": {}, "anchors": {}, "error": str(e)}


def quartiles(xs: list[float]) -> list[float]:
    return [float(v) for v in np.percentile(xs, [25, 50, 75])]


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    """pairs: [{seed, parent, change}] of parsed runs; better: metric →
    'higher'|'lower'. Per metric: each side's [q25, median, q75], the
    change/parent ratio of the medians and the pairs the change won
    (ties count for neither side)."""
    ok = [p for p in pairs if p["parent"]["metrics"] and p["change"]["metrics"]]
    out = {}
    for name, way in better.items():
        par = [p["parent"]["metrics"][name] for p in ok if name in p["parent"]["metrics"]]
        chg = [p["change"]["metrics"][name] for p in ok if name in p["change"]["metrics"]]
        if not par or len(par) != len(chg):
            continue
        sign = 1 if way == "higher" else -1
        qp, qc = quartiles(par), quartiles(chg)
        out[name] = {
            "parent": qp,
            "change": qc,
            "ratio": qc[1] / qp[1] if qp[1] else float("nan"),
            "wins": sum(sign * (c - p) > 0 for p, c in zip(par, chg)),
            "pairs": len(par),
        }
    anchors = {
        side: {a: quartiles(v) for a in ANCHORS
               if (v := [p[side]["anchors"][a] for p in ok if a in p[side]["anchors"]])}
        for side in ("parent", "change")
    }
    return {"metrics": out, "anchors": anchors}


def all_good(pairs: list[dict]) -> bool:
    return all(p[s]["correct"] and p[s]["failed"] == 0 for p in pairs for s in ("parent", "change"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True, choices=["cdc_backfill", "corpus_ops"])
    ap.add_argument("--seeds", required=True, help="e.g. 2-11 or 1,3,5")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    work = tempfile.mkdtemp(prefix="perfbench-ab-")
    try:
        parent_dir = os.path.join(work, "parent")
        os.makedirs(parent_dir)
        archive = subprocess.run(["git", "-C", ROOT, "archive", args.parent],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", parent_dir], input=archive, check=True)
        sides = {"parent": parent_dir, "change": ROOT}
        pairs = []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                r = pair[side] = run_once(sides[side], args.workload, seed, seconds)
                vals = " ".join(f"{k}={v:.6g}" for k, v in r["metrics"].items())
                print(f"seed {seed} {side:6s} correct={r['correct']} failed={r['failed']} "
                      f"{vals} {r.get('error', '')}".rstrip(), flush=True)
            pairs.append(pair)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = summarize(pairs, better)
    print(f"\n{args.workload}: change vs {args.parent}, {len(pairs)} pairs, {seconds:g} s runs")
    print(f"{'metric':18s} {'parent q25/med/q75':>28s} {'change q25/med/q75':>28s} {'ratio':>7s} wins")
    for name, m in summary["metrics"].items():
        fmt = "/".join(f"{v:.4g}" for v in m["parent"]), "/".join(f"{v:.4g}" for v in m["change"])
        print(f"{name:18s} {fmt[0]:>28s} {fmt[1]:>28s} {m['ratio']:7.3f} {m['wins']}/{m['pairs']}")
    for side, anchors in summary["anchors"].items():
        for a, q in anchors.items():
            print(f"{side:6s} {a} q25/med/q75 " + "/".join(f"{v:.4g}" for v in q))
    good = all_good(pairs)
    print(json.dumps({"workload": args.workload, "parent": args.parent, "seconds": seconds,
                      "all_correct": good, "runs": pairs, **summary}))
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main())
