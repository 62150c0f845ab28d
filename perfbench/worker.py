"""One Spark JVM of a benchmark run. run.py starts this script in a fresh
Python process, so the first pass here is a cold pass.

--setup-only: set-up alone (session up, inputs read), then the JVM ends.
Untraced: set-up, a cold pass, then passes.warm_passes(--seconds) warm
passes. With --eventlog (the traced run): set-up, a cold pass, then
untraced and traced warm passes in turn (Spark's event log on, job
description bench:<workload>:pass), then the per-layer probes of
layers.py with the event log on.

The result is written as JSON to --out. Every pass is checked against
the DuckDB expectation; a pass that raises or disagrees counts as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def session_conf(cores: int, cache: str, trace: bool) -> dict:
    with open(os.path.join(HERE, "session.json")) as f:
        spec = json.load(f)
    conf = dict(spec["conf"])
    if trace:
        conf.update(spec["trace_conf"])
    subst = {"{cores}": str(cores), "{cache}": cache}
    out = {"spark.master": spec["master"]}
    out.update(conf)
    for k, v in out.items():
        for a, b in subst.items():
            v = v.replace(a, b)
        out[k] = v
    return out


def build_session(conf: dict):
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("goskema_spark_perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError("VmHWM missing from /proc status")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--eventlog", default=None,
                    help="traced run: write the Spark event log here")
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # the checkout root holds goskema_spark; run.py verified it exists
    sys.path.insert(0, os.path.dirname(HERE))
    from passes import Workload, cpu_s, timed_pass, warm_passes

    with open(os.path.join(args.input, "expect.json")) as f:
        expected = json.load(f)
    trace = args.eventlog is not None
    spark = build_session(session_conf(args.cores, args.cache, trace))
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    # run.py ends the JVM through this file if this process fails before
    # it has ended the JVM itself
    pid_file = args.out + ".pid"
    with open(pid_file, "w") as f:
        f.write(str(jvm_pid))
    try:
        wl = Workload(spark, args.workload, args.input, args.work, args.cores, expected,
                      jvm_pid)
        result = {"setup_done_at": time.time(), "setup_cpu_s": cpu_s(jvm_pid)}
        if not args.setup_only:
            sink = {"attempted": 0, "failed": 0, "errors": []}
            result["cold"] = timed_pass(wl, sink)
            n = warm_passes(args.seconds)
            if trace:
                from layers import EventLog, traced_warm_loop, trace_layers
                result.update(traced_warm_loop(wl, args.eventlog, n, sink))
                with EventLog(spark, args.eventlog, "layers"):
                    result["layers"] = trace_layers(wl, sink)
            else:
                result["warm"] = [timed_pass(wl, sink) for _ in range(n)]
            result.update(sink, rows=wl.rows)
            result["rss_kb"] = jvm_peak_rss_kb(jvm_pid)
    finally:
        # no spark.stop(): the event logs are already closed, and run.py
        # removes Spark's temporary directories. pyspark's JVM would take
        # seconds to notice this process is done: end it now, and reap it
        jvm = spark.sparkContext._gateway.proc
        jvm.kill()
        jvm.wait()
        os.remove(pid_file)
    if trace:
        from layers import layer_table
        result["layers"] = layer_table(args.workload, result["layers"], args.eventlog)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
