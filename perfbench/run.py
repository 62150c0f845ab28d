"""goskema_spark benchmark: seeded workloads through the public API,
every pass checked against a DuckDB expectation.

Usage (from the repository root):

  python3 perfbench/run.py --workload nightly_clean --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics (setup_s, rows_per_cpu_s,
jvm_peak_rss_mb) of three untraced JVMs: two set-ups alone, then a
set-up and a job of a cold pass and passes.warm_passes(--seconds) warm
passes. --trace 1 prints the per-layer table, the cold and warm pass
times, trace.overhead and jvm.gc_ms of one traced JVM (worker.py).

Times are CPU seconds of the worker's Python process and its Spark JVM
(passes.cpu_s), not wall time: on a shared host the wall clock also
counts the time other tenants hold the vCPUs. Wall times are printed
alongside.

Inputs and expectations are generated once per (workload, seed) and
cached under .bench_build/perfbench in the current directory. Each JVM
runs in its own Python process, one at a time. The last line of
standard output is the JSON result; the lines before it are a readable
summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# the checkout holds only what git commits: leave no bytecode beside it
sys.dont_write_bytecode = True

import expect  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_EXIT_TIMEOUT_S = 30
# set-ups per untraced run (fresh JVMs); setup_s is their median
SETUPS = 3


def usable_cores() -> int:
    with open(os.path.join(HERE, "session.json")) as f:
        cap = json.load(f)["max_cores"]
    return min(cap, len(os.sched_getaffinity(0)))


def ensure_inputs(workload: str, seed: int) -> str:
    """Generate (once) the parquet inputs and the DuckDB expectation."""
    d = gen.input_dir(CACHE, workload, seed)
    if not os.path.exists(os.path.join(d, "expect.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, workload, seed)
        exp = expect.compute(tmp, workload)
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(exp, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def kill_jvm(pid: int) -> None:
    """End the JVM of a worker that failed before ending it itself (the
    worker then leaves its .pid file behind), so that no two JVMs of this
    benchmark ever overlap."""
    try:
        os.kill(pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + JVM_EXIT_TIMEOUT_S
    while alive(pid) and time.monotonic() < deadline:
        time.sleep(0.02)


def alive(pid: int) -> bool:
    """False once the process has ended, reaped or not (a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def run_worker(workload: str, input_dir: str, cores: int, seconds: float,
               eventlog: str | None = None, setup_only: bool = False) -> dict:
    work = os.path.join(CACHE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--input", input_dir, "--work", work, "--cache", CACHE, "--cores", str(cores),
           "--seconds", str(seconds), "--out", out]
    if eventlog:
        cmd += ["--eventlog", eventlog]
    if setup_only:
        cmd.append("--setup-only")
    # Spark writes its shuffle and block files under SPARK_LOCAL_DIRS:
    # keep them inside the cache too. spark-submit's launcher JVM would
    # write its performance-data file to the system temporary directory.
    env = dict(os.environ, TMPDIR=tmp, PYTHONDONTWRITEBYTECODE="1",
               SPARK_LOCAL_DIRS=os.path.join(CACHE, "spark-local"),
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
    started = time.time()
    # the worker's stdout joins our stderr: our stdout carries the result
    proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if os.path.exists(out + ".pid"):
        with open(out + ".pid") as f:
            kill_jvm(int(f.read()))
    # the JVM was ended by a kill (the worker's or ours), which skips
    # Spark's own clean-up of its temporary directories
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: worker for {workload} failed with code {proc.returncode}")
    with open(out) as f:
        res = json.load(f)
    res["setup_wall_s"] = res["setup_done_at"] - started
    return res


def median_cpu_s(passes: list) -> float:
    """The median CPU seconds of a list of (wall, cpu) pass times."""
    return statistics.median(c for _, c in passes)


def end_to_end(res: dict, setup_cpu: list) -> dict:
    # the whole job of the third JVM: its cold pass and its warm passes.
    # Summed over the job, JIT compilation counts the same whether a JVM
    # does it in the cold pass or a pass later.
    job = [res["cold"]] + res["warm"]
    return {
        "setup_s": (statistics.median(setup_cpu), "s"),
        "rows_per_cpu_s": (res["rows"] * len(job) / sum(c for _, c in job), "rows/cpu_s"),
        "jvm_peak_rss_mb": (res["rss_kb"] / 1024, "MB"),
    }


def per_layer(res: dict) -> dict:
    out = {k: (v, unit_of(k)) for k, v in res["layers"].items()}
    out["pass.cold_cpu_s"] = (res["cold"][1], "s")
    out["pass.cold_wall_s"] = (res["cold"][0], "s")
    out["pass.warm_cpu_s"] = (median_cpu_s(res["untraced"]), "s")
    out["pass.warm_wall_s"] = (statistics.median(w for w, _ in res["untraced"]), "s")
    out["trace.overhead"] = (median_cpu_s(res["untraced"]) / median_cpu_s(res["warm"]), "ratio")
    out["jvm.gc_ms"] = (res["gc_ms_per_pass"], "ms")
    return out


RATIOS = {"gate_precision", "useful_ratio", "inline", "branch_sum_over_fused",
          "overhead"}


def unit_of(name: str) -> str:
    metric = name.split(".", 1)[1]
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric == "bytes_per_violation":
        return "bytes/violation"
    return "ratio" if metric in RATIOS else "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "goskema_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds goskema_spark/", file=sys.stderr)
        return 2

    cores = usable_cores()
    input_dir = ensure_inputs(args.workload, args.seed)
    with open(os.path.join(input_dir, "expect.json")) as f:
        props = json.load(f)["properties"]

    if args.trace:
        eventlog = os.path.join(CACHE, "eventlog")
        shutil.rmtree(eventlog, ignore_errors=True)
        os.makedirs(eventlog)
        res = run_worker(args.workload, input_dir, cores, args.seconds, eventlog=eventlog)
        metrics = per_layer(res)
    else:
        setups = [run_worker(args.workload, input_dir, cores, args.seconds, setup_only=True)
                  for _ in range(SETUPS - 1)]
        res = run_worker(args.workload, input_dir, cores, args.seconds)
        setups.append(res)
        metrics = end_to_end(res, [r["setup_cpu_s"] for r in setups])
        print("set-ups: wall " + str([round(r["setup_wall_s"], 3) for r in setups])
              + " s, cpu " + str([round(r["setup_cpu_s"], 3) for r in setups]) + " s")

    attempted, failed = res["attempted"], res["failed"]
    for e in res["errors"][:10]:
        print(f"perfbench: mismatch: {e}", file=sys.stderr)

    print(f"workload {args.workload} seed {args.seed} cores {cores}")
    print("inputs " + json.dumps(props, sort_keys=True))
    warm = res["warm"] if not args.trace else res["untraced"]
    print(f"jvm: cold {res['cold'][0]:.3f} s wall, {res['cold'][1]:.3f} s cpu; "
          f"{len(warm)} warm passes, wall {[round(w, 3) for w, _ in warm]} s, "
          f"cpu {[round(c, 3) for _, c in warm]} s")
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:16.4f} {unit}")
    print(f"{'error_rate':40s} {failed / attempted:16.4f} ratio ({failed}/{attempted} passes)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
