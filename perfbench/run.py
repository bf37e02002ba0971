"""Layered ETL/QA benchmark of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

One run starts one Spark session at ``local[<cpus>]``, generates its
inputs from ``--seed`` (``perfbench/gen.py``), computes the DuckDB oracle
of every step, runs one cold pass, then steady passes of the workload
(``perfbench/workloads.py``) until ``--seconds`` have passed. Every call
into the engine is timed from outside in three layers -- ``plans`` (the
entry call ``fn(spark, sf_dir)``), ``catalyst`` (forcing the executed
plan) and ``exec`` (``collect``) -- and the ``sources.lifecycle`` calls
of the write workload are timed as ``sources``. Every result is checked
against DuckDB outside the timed region.

``--trace 0`` prints the end-to-end metrics (see ``Bench.end_to_end``).
``--trace 1`` alternates untraced and traced passes; traced passes also
read Spark's job, stage and SQL status stores after each call, and the
per-layer metrics are the medians over traced passes. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the full record
(per-call figures, spans, host facts) goes to
``perfbench/.runs/records/<workload>-s<seed>-t<trace>-<time>-<pid>.json``.

All temporary files (inputs, Spark local dirs, the engine's temp dirs)
live under ``perfbench/.runs/<run key>/`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")

#: steady passes a run makes even when the window is shorter; the
#: end-to-end figures take each step's fastest steady call, so every step
#: needs several samples
MIN_STEADY_PASSES = 3

#: printed with ``--trace 0``. The record also keeps the wall-clock
#: figures ``pass_s``, ``first_pass_s``, ``query_p50_s`` and
#: ``query_tail_s``, and ``first_pass_cpu_s`` and ``peak_rss_mb``. On a
#: shared 4-vCPU host the hypervisor's CPU steal comes in bursts that can
#: last a whole run and slow every call in it by up to half, so walls
#: spread from run to run about as wide as the largest usable bound, and
#: so does anything measured once per run (the cold pass). Stolen time
#: is not charged as CPU time, and ``pass_cpu_s`` takes the least of
#: several steady calls per step.
END_TO_END_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "plans.construct_s": "s", "plans.py4j_calls": "count",
    "plans.construct_jobs": "count", "plans.construct_job_s": "s",
    "catalyst.plan_s": "s",
    "exec.execute_s": "s", "exec.task_s": "s", "exec.gc_s": "s",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.task_skew": "ratio",
    "operators.udf_s": "s", "operators.udf_rows": "count",
    "operators.cache_pinned": "count",
    "sources.input_bytes": "B", "sources.input_rows": "count",
    "sources.scan_s": "s", "sources.write_s": "s",
    "sources.bytes_written": "B", "sources.files_written": "count",
    "sources.write_amp": "ratio", "sources.tmp_bytes_left": "B",
    "trace.overhead_frac": "ratio",
}
#: per-layer figures that are summed over the calls of a pass
_PASS_SUMS = [k for k in PER_LAYER_UNITS
              if k not in ("session.start_s", "exec.task_skew",
                           "operators.cache_pinned", "sources.write_amp",
                           "sources.tmp_bytes_left", "trace.overhead_frac")]
_TABLES_WRITTEN = ("orders", "lineitem", "supplier", "part")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _isolate(run_dir: str) -> None:
    """Point every temp and scratch location of Python, the JVM and
    Spark into ``run_dir`` before the JVM starts."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    # status-store retention well above one run's jobs, so no call's
    # figures are evicted before they are read
    retain = " ".join(f"--conf {k}=1000000" for k in (
        "spark.ui.retainedJobs", "spark.ui.retainedStages",
        "spark.sql.ui.retainedExecutions"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        f"{retain} pyspark-shell")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload, seed: int, seconds: float, traced: bool,
                 run_dir: str):
        self.w, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.rng = random.Random(seed)
        self.spark = None
        self.jvm_proc = None
        self.calls: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0

    # -- set-up -----------------------------------------------------------

    def setup(self) -> dict:
        t0 = time.perf_counter()
        from pyspark import SparkContext

        import __spark_entry__ as entrymod
        import gen
        from observe import Py4jCounter, StatusReader, Tracer, tree_cpu_s
        from workloads import (N_DOCS, N_VECS, SF, ChangeBatch, duck_digest,
                               open_oracle)
        from apde_etl_spark.session import get_spark

        self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        sc = self.spark.sparkContext
        self.counter = Py4jCounter(sc._gateway._gateway_client)
        self.tracer = Tracer()
        self.cpu_s = lambda: tree_cpu_s(os.getpid())
        self.status = StatusReader(self.spark) if self.traced else None

        t = time.perf_counter()
        gen.generate(self.data_dir, SF, self.seed, N_DOCS, N_VECS)
        gen_s = time.perf_counter() - t
        self.table_bytes = {
            n: os.path.getsize(os.path.join(self.data_dir, f"{n}.parquet"))
            for n in _TABLES_WRITTEN}

        t = time.perf_counter()
        self.queries = entrymod.queries()
        oracles = entrymod.oracle_sql()
        self.con = open_oracle(self.data_dir)
        self.expected = {n: duck_digest(self.con, oracles[n]) for n in self.w.entries}
        self.batch = ChangeBatch.from_seed(self.seed)
        if self.w.writes:
            self.con.execute(self.batch.expected_sql()).fetchone()
        oracle_s = time.perf_counter() - t
        return {"session_s": session_s, "gen_s": gen_s, "oracle_s": oracle_s,
                "setup_s": session_s + gen_s + oracle_s}

    # -- one call ---------------------------------------------------------

    def _call(self, pass_no: int, name: str, run, check, traced: bool,
              layer: str = "plans.construct") -> dict:
        """Time one call into the engine from outside; check its output
        afterwards. ``run()`` returns a DataFrame to plan and collect, or
        anything else when the call itself did the work (a write)."""
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        cid = f"p{pass_no}.{len(self.calls)}.{name}"
        sc.setJobGroup(cid, name)
        rec = {"id": cid, "pass": pass_no, "name": name, "ok": False}
        self.attempted += 1
        rows = cols = None
        if traced:
            self.status.mark()
        cpu0 = self.cpu_s()
        c0 = self.counter.calls
        t0 = time.perf_counter()
        t1 = t2 = t3 = None
        try:
            out = run()
            t1 = time.perf_counter()
            rec["py4j_calls"] = self.counter.calls - c0
            construct_jobs = self.status.job_ids(cid) if traced else set()
            t1b = time.perf_counter()
            if isinstance(out, DataFrame):
                out._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                cols = out.columns
                rows = [tuple(r) for r in out.collect()]
            else:
                t2 = t1b
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        end = time.perf_counter()
        cpu = [b - a for a, b in zip(cpu0, self.cpu_s())]
        if t3 is not None:
            rec.update(wall_s=(t1 - t0) + (t3 - t1b), cpu_s=cpu[0],
                       work_cpu_s=cpu[1], construct_s=t1 - t0,
                       plan_s=t2 - t1b, execute_s=t3 - t2)
            root = self.tracer.add("call", cid, None, t0, t3, entry=name)
            self.tracer.add(layer, cid, root, t0, t1, py4j_calls=rec["py4j_calls"])
            if t2 > t1b:
                self.tracer.add("catalyst.plan", cid, root, t1b, t2)
                self.tracer.add("exec.collect", cid, root, t2, t3)
            if traced:
                self._read_status(rec, cid, construct_jobs)
        tc = time.perf_counter()
        if "error" not in rec:
            try:
                rec["ok"] = bool(check(rows, cols))
            except Exception as e:  # noqa: BLE001 - a failed check is a failure
                rec["error"] = f"check {type(e).__name__}: {e}"[:500]
        if not rec["ok"]:
            self.failures.append({k: rec.get(k) for k in ("id", "error")})
        rec["check_s"] = time.perf_counter() - tc
        rec["overhead_s"] = tc - end
        self.calls.append(rec)
        return rec

    def _read_status(self, rec: dict, cid: str, construct_jobs: set) -> None:
        jobs = self.status.jobs(self.status.job_ids(cid))
        cjobs = [j for j in jobs if j["jobId"] in construct_jobs]
        rec["layers"] = {
            "plans.construct_jobs": len(cjobs),
            "plans.construct_job_s": sum(
                (j["completionTime"] - j["submissionTime"]) / 1e3
                for j in cjobs if j.get("completionTime")),
            **self.status.stage_figures(jobs),
            **self.status.sql_figures(),
        }

    # -- passes -----------------------------------------------------------

    def _entry_step(self, name: str):
        fn = self.queries[name]
        expected = self.expected[name]
        from workloads import frame_digest
        return (name, lambda: fn(self.spark, self.data_dir),
                lambda rows, cols: frame_digest(cols, rows) == expected)

    def _steps(self, pass_no: int):
        """The chains of one pass, in the seed's order for this pass."""
        chains = [[self._entry_step(n)] for n in self.w.entries]
        write = None
        if self.w.writes:
            from workloads import WritePass
            write = WritePass(self.spark, self.data_dir,
                              os.path.join(self.run_dir, "work", f"pass{pass_no}"),
                              self.con, self.batch)
            chains += write.chains()
        self.rng.shuffle(chains)
        return chains, write

    def run_pass(self, kind: str, traced: bool = False) -> dict:
        """One pass of ``kind`` (``cold`` or ``steady``); calls refer to it
        by its index in ``self.passes``."""
        from apde_etl_spark.operators.cache import release_scope, tracked_count

        from observe import host_cpu_ticks, steal_frac
        from workloads import WRITE_SOURCES

        pass_no = len(self.passes)
        chains, write = self._steps(pass_no)
        first = len(self.calls)
        host0 = host_cpu_ticks()
        t0 = time.perf_counter()
        for chain in chains:
            for name, run, check in chain:
                # the lifecycle calls are the sources layer itself; the
                # write-per-call entries write while they construct
                layer = ("sources.write" if name in WRITE_SOURCES
                         and name not in self.queries else "plans.construct")
                self._call(pass_no, name, run, check, traced, layer)
        pinned = tracked_count()
        release_scope(None)
        calls = self.calls[first:]
        wall = time.perf_counter() - t0 - sum(c["check_s"] for c in calls)
        steal = steal_frac(host0, host_cpu_ticks())
        if write is not None:
            write.cleanup()
        p = {"pass": pass_no, "kind": kind, "traced": traced, "pass_s": wall,
             "calls": len(calls), "failed": sum(not c["ok"] for c in calls),
             "cache_pinned": pinned, "host_steal_frac": steal}
        if traced:
            layers = {k: 0.0 for k in _PASS_SUMS}
            layers["source_bytes"] = 0
            for c in calls:
                layers["plans.construct_s"] += c.get("construct_s", 0.0)
                layers["plans.py4j_calls"] += c.get("py4j_calls", 0)
                layers["catalyst.plan_s"] += c.get("plan_s", 0.0)
                layers["exec.execute_s"] += c.get("execute_s", 0.0)
                if c["name"] in WRITE_SOURCES:
                    layers["sources.write_s"] += c.get("construct_s", 0.0)
                    layers["source_bytes"] += self.table_bytes[WRITE_SOURCES[c["name"]]]
                for k, v in c.get("layers", {}).items():
                    if k != "exec.task_skew":
                        layers[k] += v
            layers["exec.task_skew"] = max(
                [c.get("layers", {}).get("exec.task_skew", 0.0) for c in calls] or [0.0])
            layers["operators.cache_pinned"] = pinned
            src = layers.pop("source_bytes")
            layers["sources.write_amp"] = (
                layers["sources.bytes_written"] / src if src else 0.0)
            p["layers"] = layers
        self.passes.append(p)
        return p

    def measure(self) -> None:
        """One cold pass, then steady passes while another one fits in the
        window, and at least ``MIN_STEADY_PASSES``. A traced run
        alternates untraced and traced steady passes, untraced first."""
        self.first_pass = self.run_pass("cold")
        deadline = time.perf_counter() + self.seconds
        for n in itertools.count(1):
            p = self.run_pass("steady", traced=self.traced and n % 2 == 0)
            if (n >= MIN_STEADY_PASSES
                    and time.perf_counter() + p["pass_s"] > deadline):
                break

    def _steady(self, traced: bool) -> list[dict]:
        return [p for p in self.passes
                if p["kind"] == "steady" and p["traced"] == traced]

    # -- results ----------------------------------------------------------

    def peak_rss_mb(self) -> float:
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if self.jvm_proc is not None:
            try:
                with open(f"/proc/{self.jvm_proc.pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0

    def end_to_end(self, setup: dict) -> dict:
        """``pass_cpu_s`` adds up, over the steps of a pass, each step's
        least CPU over the untraced steady passes, without the JIT
        compiler threads: the engine's own work once warm. ``pass_s``
        adds up each step's fastest wall the same way; the fastest call is
        the one a burst of CPU steal (``host_steal_frac`` per pass) missed.
        ``first_pass_cpu_s`` is all the CPU of the cold pass, JIT
        included, which a once-a-day job pays. The per-pass medians and
        per-call percentiles are kept in the record."""
        steady = self._steady(traced=False)
        timed = {p["pass"] for p in steady}
        calls = [c for c in self.calls if c["pass"] in timed and "wall_s" in c]
        walls = [c["wall_s"] for c in calls]
        fastest = {}
        for c in calls:
            wall, cpu = fastest.get(c["name"], (math.inf, math.inf))
            fastest[c["name"]] = (min(wall, c["wall_s"]),
                                  min(cpu, c["work_cpu_s"]))
        # the tail is the highest percentile with at least ten samples
        # beyond it; a run has few calls, so it is recorded, not bounded
        walls.sort()
        n = len(walls)
        tail_q = max(0.5, 1.0 - 10.0 / n) if n else 0.0
        return {
            "setup_s": setup["setup_s"],
            "pass_s": sum(wall for wall, _ in fastest.values()),
            "pass_cpu_s": sum(cpu for _, cpu in fastest.values()),
            "first_pass_s": self.first_pass["pass_s"],
            "first_pass_cpu_s": sum(c.get("cpu_s", 0.0) for c in self.calls
                                    if c["pass"] == self.first_pass["pass"]),
            "pass_median_s": _median([p["pass_s"] for p in steady]),
            "query_p50_s": _median(walls),
            "query_tail_s": walls[max(0, math.ceil(tail_q * n) - 1)] if n else 0.0,
            "query_tail_q": tail_q,
            "query_samples": n,
            "peak_rss_mb": self.peak_rss_mb(),
        }

    def per_layer(self, setup: dict, tmp_bytes_left: int) -> dict:
        traced = self._steady(traced=True)
        untraced = self._steady(traced=False)
        out = {k: _median([p["layers"][k] for p in traced])
               for k in traced[0]["layers"]}
        out["session.start_s"] = setup["session_s"]
        out["sources.tmp_bytes_left"] = tmp_bytes_left
        base = _median([p["pass_s"] for p in untraced])
        out["trace.overhead_frac"] = (
            _median([p["pass_s"] for p in traced]) / base - 1.0) if base else 0.0
        return out

    def close(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it started) to exit."""
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - shutting down regardless
                pass
        proc = self.jvm_proc
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, ValueError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import SF, WORKLOADS, data_digest

    key = (f"{args.workload}-s{args.seed}-t{args.trace}-"
           f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{os.getpid()}")
    run_dir = os.path.join(RUNS, key)
    _isolate(run_dir)
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), run_dir)
    load_start = os.getloadavg()
    try:
        setup = bench.setup()
        bench.measure()
        e2e = bench.end_to_end(setup)
        record_inputs = data_digest(bench.data_dir)
        tmp_left = _dir_bytes(os.path.join(run_dir, "tmp"))
        layers = bench.per_layer(setup, tmp_left) if args.trace else None
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = len(bench.failures)
    record = {
        "schema": 1, "key": key, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "sf": SF,
        "cpus": _cpus(), "git_commit": _git_commit(),
        "loadavg_start": list(load_start), "loadavg_end": list(os.getloadavg()),
        "inputs_sha256": record_inputs, "table_bytes": bench.table_bytes,
        "setup": setup, "n_passes": len(bench.passes), "passes": bench.passes,
        "attempted": bench.attempted,
        "failed": failed, "failed_frac": failed / bench.attempted,
        "failures": bench.failures, "end_to_end": e2e, "per_layer": layers,
        "calls": bench.calls, "spans": bench.tracer.spans,
    }
    path = os.path.join(RUNS, "records", f"{key}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"perfbench: record {path}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
