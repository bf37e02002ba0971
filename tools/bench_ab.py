"""Paired A/B runs of the benchmark: a parent commit against a change.

Usage (from the repository root):

    python3 tools/bench_ab.py --parent HEAD~1 --workload etl_write \\
        --seeds 51-60 [--workload query] [--seconds 20] [--trace 0] \\
        [--change DIR] [--out results.json]

The parent side is ``git archive <ref>`` extracted into a temporary
directory outside the repository; the change side is ``--change``
(default: this checkout's working tree). Each seed is one pair: both
sides run the unmodified ``perfbench/run.py`` of their own tree with the
same arguments, one run at a time, and the side that runs first
alternates from seed to seed. The metrics read are the ones
``perfbench/run.py`` prints on its last stdout line.

For each workload and metric the report gives each side's median and
Q1/Q3, the pairs the change won and tied (by the metric's ``better``
direction in ``BENCHMARK.json``), and whether the gain rule holds: the
change wins at least 9/10 of the pairs and the medians differ by more
than the parent's interquartile range. Each metric's median delta is
also shown against its ``BENCHMARK.json`` regression bound (relative to
the parent's median), where it has one. A run that fails or reports a
failed step is listed and left out of the figures.

Each run's full record (``perfbench/.runs/records/``, named on the run's
stderr) is read as soon as the run ends, before the parent's temporary
tree is removed, for its per-step figures: each step's least steady
``work_cpu_s``, the terms ``pass_cpu_s`` adds up. The report gives each
step's median of those per side, so a change to ``pass_cpu_s`` can be
traced to the steps that moved.
"""

from __future__ import annotations

import argparse
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: share of pairs the change must win before a gain is claimed
WIN_SHARE = 0.9


def parse_seeds(text: str) -> list[int]:
    """``"51-60"`` or ``"3,5,9"`` (or a mix) -> list of seeds."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def extract_ref(ref: str, dest: str) -> None:
    """Extract the committed tree of ``ref`` into ``dest``."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", ref],
                             check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(dest, filter="data")


def step_cpu(record: dict) -> dict[str, float]:
    """Each step's least ``work_cpu_s`` over the untraced steady passes of
    one run record: the per-step terms of ``pass_cpu_s``."""
    steady = {p["pass"] for p in record["passes"]
              if p["kind"] == "steady" and not p["traced"]}
    out: dict[str, float] = {}
    for c in record["calls"]:
        if c["pass"] in steady and "work_cpu_s" in c:
            out[c["name"]] = min(out.get(c["name"], math.inf), c["work_cpu_s"])
    return out


def record_steps(stderr: str) -> dict[str, float] | None:
    """``step_cpu`` of the record a run names on its stderr
    (``perfbench: record <path>``), or None when there is none."""
    for line in reversed(stderr.splitlines()):
        if line.startswith("perfbench: record "):
            path = line[len("perfbench: record "):].strip()
            if os.path.isfile(path):
                with open(path) as fh:
                    return step_cpu(json.load(fh))
    return None


def run_once(tree: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One ``perfbench/run.py`` run in ``tree``; its last stdout line plus
    its per-step CPU (``steps``), or ``{"error": ...}`` when the run
    fails."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                              timeout=seconds * 20 + 900)
    except subprocess.TimeoutExpired:
        return {"error": "timeout", "wall_s": time.time() - t0}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"error": f"exit {proc.returncode}: {' | '.join(tail)}",
                "wall_s": time.time() - t0}
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    out["steps"] = record_steps(proc.stderr)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3); a single value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[tuple[float, float]], better: str,
              bound: float | None) -> dict:
    """Figures for one metric from its (parent, change) pairs."""
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in pairs)
    ties = sum(p == c for p, c in pairs)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gap = sign * (pmed - cmed)  # > 0 when the change is better
    out = {
        "n": len(pairs), "parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
        "wins": wins, "ties": ties, "median_gap": gap, "parent_iqr": pq3 - pq1,
        "gain": bool(pairs) and wins >= WIN_SHARE * len(pairs) and gap > pq3 - pq1,
        "delta_frac": (cmed - pmed) / pmed if pmed else None,
    }
    if bound is not None:
        worse = -gap / abs(pmed) if pmed else 0.0
        out["bound"] = bound
        out["within_bound"] = worse <= bound
    return out


def metric_specs(bench: dict) -> dict[str, dict]:
    """name -> {"better", "bound"} for every metric ``BENCHMARK.json`` lists."""
    return {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}


def step_report(good: list[dict]) -> list[str]:
    """Per step, each side's median of its least steady ``work_cpu_s``
    over the pairs whose records were read."""
    pairs = [r for r in good if r["parent"].get("steps") and r["change"].get("steps")]
    if not pairs:
        return []
    lines = [f"   per step, least steady work_cpu_s, median of {len(pairs)} pairs:"]
    for name in sorted(pairs[0]["parent"]["steps"]):
        side = {k: [r[k]["steps"][name] for r in pairs if name in r[k]["steps"]]
                for k in ("parent", "change")}
        if not side["parent"] or not side["change"]:
            continue
        pmed = statistics.median(side["parent"])
        cmed = statistics.median(side["change"])
        delta = f" {100 * (cmed - pmed) / pmed:+.1f}%" if pmed else ""
        lines.append(f"     {name:30s} parent {pmed:.4g}  change {cmed:.4g}{delta}")
    return lines


def report(results: dict, specs: dict[str, dict]) -> list[str]:
    lines = []
    for workload, runs in results.items():
        good = [r for r in runs
                if "error" not in r["parent"] and "error" not in r["change"]
                and r["parent"]["failed"] == 0 and r["change"]["failed"] == 0]
        lines.append(f"== {workload}: {len(good)}/{len(runs)} clean pairs")
        for r in runs:
            if r not in good:
                lines.append(f"   seed {r['seed']} left out: parent "
                             f"{r['parent'].get('error', r['parent'].get('failed'))}"
                             f", change {r['change'].get('error', r['change'].get('failed'))}")
        if not good:
            continue
        for name in good[0]["parent"]["metrics"]:
            spec = specs.get(name, {"better": "lower"})
            s = summarize([(r["parent"]["metrics"][name]["value"],
                            r["change"]["metrics"][name]["value"]) for r in good],
                          spec["better"], spec.get("bound"))
            pq1, pmed, pq3 = s["parent"]
            cq1, cmed, cq3 = s["change"]
            delta = ("" if s["delta_frac"] is None
                     else f" {100 * s['delta_frac']:+.1f}%")
            line = (f"   {name:26s} parent {pmed:.4g} ({pq1:.4g}/{pq3:.4g})"
                    f"  change {cmed:.4g} ({cq1:.4g}/{cq3:.4g}){delta}"
                    f"  wins {s['wins']}/{s['n']} ties {s['ties']}"
                    f"  gain {'yes' if s['gain'] else 'no'}"
                    f" (gap {s['median_gap']:.4g} vs IQR {s['parent_iqr']:.4g})")
            if "bound" in s:
                line += (f"  bound {s['bound']}: "
                         f"{'ok' if s['within_bound'] else 'WORSE'}")
            lines.append(line)
        lines.extend(step_report(good))
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git ref of the parent side")
    ap.add_argument("--change", default=ROOT,
                    help="checkout of the change side (default: this one)")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="e.g. 51-60 or 3,5,9")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's output here as JSON")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        specs = metric_specs(json.load(fh))
    parent_dir = tempfile.mkdtemp(prefix="bench_ab_parent_")
    results: dict[str, list] = {w: [] for w in args.workload}
    try:
        extract_ref(args.parent, parent_dir)
        for workload in args.workload:
            for i, seed in enumerate(args.seeds):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    tree = parent_dir if side == "parent" else args.change
                    pair[side] = run_once(tree, workload, seed, args.seconds,
                                          args.trace)
                    figures = pair[side].get("error") or {
                        k: round(v["value"], 4)
                        for k, v in pair[side]["metrics"].items()
                        if k in ("setup_s", "pass_cpu_s", "exec.tasks",
                                 "plans.py4j_calls")}
                    print(f"{workload} seed {seed} {side}: {figures}",
                          file=sys.stderr, flush=True)
                results[workload].append(pair)
                if args.out:
                    with open(args.out, "w") as fh:
                        json.dump({"parent": args.parent, "change": args.change,
                                   "seconds": args.seconds, "trace": args.trace,
                                   "results": results}, fh, indent=1)
    finally:
        shutil.rmtree(parent_dir, ignore_errors=True)
    print("\n".join(report(results, specs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
