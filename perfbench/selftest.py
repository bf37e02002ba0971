"""Self-test of the benchmark: pins the result and record schema.

Usage (from the repository root; about five minutes on 4 vCPUs):

    python3 perfbench/selftest.py

For every workload it makes one short untraced and one short traced run
and checks that

- the last stdout line has exactly ``correct``, ``attempted``, ``failed``
  and ``metrics``, the run is correct, and ``metrics`` holds every
  end-to-end (untraced) or per-layer (traced) metric of ``BENCHMARK.json``
  with its unit;
- the run record carries its host facts, and every span that is not a
  call's root names a parent span of the same call;
- ``plans.py4j_calls`` and ``plans.construct_jobs`` are whole numbers
  and repeat exactly in a second traced run with another seed.

It also checks that a copy holding only ``BENCHMARK.json`` and the
benchmark's own files exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD_KEYS = {"schema", "key", "workload", "seed", "trace", "sf", "cpus",
               "git_commit", "loadavg_start", "loadavg_end", "passes",
               "attempted", "failed", "failed_frac", "setup", "end_to_end",
               "per_layer", "calls", "spans"}


EXACT_COUNTS = ("plans.py4j_calls", "plans.construct_jobs")


def _run(cwd: str, workload: str, trace: int, seed: int = 1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int,
              seed: int = 1) -> tuple[list[str], dict]:
    """Errors of one short run, and its metrics."""
    errors = []
    out = _run(ROOT, workload, trace, seed)
    tag = f"{workload} trace={trace} seed={seed}"
    if out.returncode != 0:
        return [f"{tag}: exit {out.returncode}: {out.stderr[-1000:]}"], {}
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{tag}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{tag}: not correct: {result}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in want}:
        errors.append(f"{tag}: metrics {sorted(got)}")
    for m in want:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"{tag}: {m['name']} = {v}")
    if trace:
        for name in EXACT_COUNTS:
            if float(got[name]["value"]) != int(got[name]["value"]):
                errors.append(f"{tag}: {name} not whole: {got[name]}")
    path = next((line.split("record ", 1)[1] for line in out.stderr.splitlines()
                 if line.startswith("perfbench: record ")), None)
    if path is None:
        return errors + [f"{tag}: no record path on stderr"], got
    with open(path) as fh:
        record = json.load(fh)
    missing = RECORD_KEYS - set(record)
    if missing:
        errors.append(f"{tag}: record lacks {sorted(missing)}")
    ids = {s["id"]: s for s in record["spans"]}
    for s in record["spans"]:
        if s["name"] == "call":
            if s["parent"] is not None:
                errors.append(f"{tag}: root span with parent {s}")
        elif s["parent"] not in ids or ids[s["parent"]]["trace"] != s["trace"]:
            errors.append(f"{tag}: span without parent {s}")
    if not any(s["parent"] for s in record["spans"]):
        errors.append(f"{tag}: no child spans")
    return errors, got


def check_bare_copy() -> list[str]:
    """Without the engine's sources the benchmark must fail cleanly."""
    bare = os.path.join(HERE, ".runs", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".runs", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = _run(bare, "query", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or out.stdout.strip():
        return [f"bare copy: exit {out.returncode}, stdout {out.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = check_bare_copy()
    for w in spec["workloads"]:
        errors += check_run(spec, w["name"], 0)[0]
        runs = [check_run(spec, w["name"], 1, seed) for seed in (1, 2)]
        for e, _ in runs:
            errors += e
        if all(got for _, got in runs):
            for name in EXACT_COUNTS:
                values = [got[name]["value"] for _, got in runs]
                if values[0] != values[1]:
                    errors.append(f"{w['name']}: {name} differs by seed: {values}")
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
