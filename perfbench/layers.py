"""Per-layer probes for the traced run, and the Spark event-log parser
that turns them into the per-layer table.

Each probe calls one module's public functions on the workload's input.
The call that returns the lazy DataFrame is timed on the driver
(`build_ms`); the output is then actioned alone into a noop sink under
the job description `bench:<workload>:<layer>` (`wall_ms`), and the
executor-side numbers of exactly those jobs come from the event log.
Counting jobs run under `bench:<workload>:<layer>:count` and are kept
out of the layer's executor numbers.

Layers: rowpass, uniqueness, referential, runner, stats, drift, ledger.
"""

from __future__ import annotations

import fileinput
import glob
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from gen import HIST_BUCKETS, HIST_HI, HIST_LO
from expect import part_key, viol_key
from passes import PROFILE_COLS, QUANTILE_PROBS, diff, fresh_schema, timed_pass

RUN_ID = "nightly"

LAYERS = ["rowpass", "uniqueness", "referential", "runner", "stats", "drift", "ledger"]
# Per-task "JVM GC Time" is not among them: in local mode every task
# reports the JVM-wide GC time of its run, so concurrent tasks count one
# collection several times, and short layers often see none at all. GC is
# reported per traced warm pass instead, from the JVM's own counters
# (jvm.gc_ms).
EXEC_METRICS = ["exec_run_ms", "exec_cpu_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "tasks"]
# the per-layer counts whose value must repeat exactly across runs, and
# the expect.py key each is checked against
EXACT_COUNTS = {
    "rowpass.rows_in": "rows_in",
    "rowpass.dirty_rows": "dirty_rows",
    "rowpass.viol_rows": "rowpass_viol_rows",
    "uniqueness.dup_keys": "dup_keys",
    "uniqueness.subset_rows": "subset_rows",
    "uniqueness.viol_rows": "uniq_viol_rows",
    "referential.miss_rows": "miss_rows",
}


class EventLog:
    """Spark's own EventLoggingListener (uncompressed, per the session's
    spark.eventLog.compress=false), started on the running context and
    stopped, flushed, on exit. Switching it on and off lets the traced
    run interleave untraced and traced passes in one JVM, which a
    session-level spark.eventLog.enabled would not allow. Uses the
    driver-internal listener bus of pyspark 4.1's JVM through py4j."""

    def __init__(self, spark, log_dir: str, attempt: str):
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        self.attempt = attempt

    def __enter__(self):
        jvm, ctx = self.sc._jvm, self.sc._jsc.sc()
        # one log directory per attempt id: eventlog_v2_<app>_<attempt>
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            ctx.applicationId(), jvm.scala.Some(self.attempt),
            jvm.java.net.URI("file://" + os.path.abspath(self.log_dir)),
            ctx.conf(), self.sc._jsc.hadoopConfiguration())
        self.listener.start()
        ctx.listenerBus().addToEventLogQueue(self.listener)
        return self

    def __exit__(self, *exc):
        ctx = self.sc._jsc.sc()
        ctx.listenerBus().waitUntilEmpty()
        ctx.removeSparkListener(self.listener)
        self.listener.stop()
        return False


def jvm_gc_ms(spark) -> int:
    """Total collection time of every collector of this (driver = executor)
    JVM so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


@contextmanager
def job_description(sc, desc: str):
    """setJobDescription sticks to every later job of the thread: clear it."""
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def traced_warm_loop(wl, eventlog_dir: str, passes: int, sink: dict) -> dict:
    """Untraced and traced warm passes in turn, `passes` of each, so that
    both sample the same stretch of the JVM's warm-up; trace.overhead
    compares their medians. Also the JVM's GC time per traced pass."""
    untraced: list = []
    traced: list = []
    gc = 0
    for _ in range(passes):
        untraced.append(timed_pass(wl, sink))
        with EventLog(wl.spark, eventlog_dir, f"pass{len(traced)}"), \
                job_description(wl.spark.sparkContext, f"bench:{wl.name}:pass"):
            gc0 = jvm_gc_ms(wl.spark)
            traced.append(timed_pass(wl, sink))
            gc += jvm_gc_ms(wl.spark) - gc0
    return {"untraced": untraced, "warm": traced, "gc_ms_per_pass": gc / len(traced)}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"),
                                                      recursive=True)
               if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_")))


class Probe:
    """The layer probes' driver-side timings and counts (`m`), and the job
    descriptions their Spark jobs run under."""

    def __init__(self, wl):
        self.wl = wl
        self.sc = wl.spark.sparkContext
        self.m: dict = {}

    def job(self, layer: str, suffix: str = ""):
        return job_description(self.sc, f"bench:{self.wl.name}:{layer}{suffix}")

    def timed(self, key: str, fn):
        t = time.perf_counter()
        out = fn()
        self.m[key] = self.m.get(key, 0.0) + (time.perf_counter() - t) * 1000
        return out

    def count(self, layer: str, df) -> int:
        with self.job(layer, ":count"):
            return df.count()


def trace_layers(wl, sink: dict) -> dict:
    """Run every layer probe; return {metric: value} for the driver-side
    numbers plus exact counts (executor numbers come from the event log).
    The counts and the ledger probe's final ledger are checked against
    the expectation; a mismatch counts as one failed attempt."""
    from goskema_spark.corpus import row_id_col
    from goskema_spark.drift import histogram
    from goskema_spark.referential import MAX_INLINE_VALUES, referential_violations
    from goskema_spark.rowpass import validate_rows
    from goskema_spark.runner import validate
    from goskema_spark.stats import numeric_quantiles, profile
    from goskema_spark.uniqueness import duplicate_keys, uniqueness_violations

    p = Probe(wl)
    m = p.m
    spark, corpus, rid = wl.spark, wl.corpus, row_id_col()
    carry = ["source"]

    def fresh_dim():
        return spark.read.parquet(os.path.join(wl.input_dir, "dim.parquet"))

    # rowpass: check compile (fresh schema), gate, violation body, explode
    ann, viols, clean = p.timed("rowpass.build_ms", lambda: validate_rows(
        corpus, fresh_schema(), rid, carry=carry))
    with p.job("rowpass"):
        p.timed("rowpass.wall_ms", lambda: noop(viols))
    rows_in = p.count("rowpass", corpus)
    m["rowpass.rows_in"] = rows_in
    m["rowpass.gate_rows"] = rows_in - p.count("rowpass", clean)
    m["rowpass.dirty_rows"] = p.count("rowpass", ann.filter(F.size("_violations") > 0))
    m["rowpass.viol_rows"] = p.count("rowpass", viols)
    m["rowpass.gate_precision"] = m["rowpass.dirty_rows"] / max(m["rowpass.gate_rows"], 1)

    # uniqueness: hash aggregate + dup-subset join
    uv = p.timed("uniqueness.build_ms", lambda: uniqueness_violations(
        corpus, "doc_id", "_ord", rid, carry=carry))
    with p.job("uniqueness"):
        p.timed("uniqueness.wall_ms", lambda: noop(uv))
    with p.job("uniqueness", ":count"):
        dk = duplicate_keys(corpus, "doc_id").agg(
            F.count(F.lit(1)).alias("k"), F.sum("cnt").alias("n")).collect()[0]
    m["uniqueness.dup_keys"] = dk["k"]
    m["uniqueness.subset_rows"] = int(dk["n"] or 0)
    m["uniqueness.viol_rows"] = p.count("uniqueness", uv)
    m["uniqueness.useful_ratio"] = m["uniqueness.viol_rows"] / max(m["uniqueness.subset_rows"], 1)

    # referential: a fresh dim object, so the inline-domain collect is
    # part of build_ms as on a cold pass
    dim = fresh_dim()
    rv = p.timed("referential.build_ms", lambda: referential_violations(
        corpus, "source", dim, "source", rid, carry=carry))
    with p.job("referential"):
        p.timed("referential.wall_ms", lambda: noop(rv))
    m["referential.inline"] = int(p.count("referential", dim) <= MAX_INLINE_VALUES)
    m["referential.miss_rows"] = p.count("referential", rv)

    # runner: lazy validate() build, then the report write, violations
    # read-back and verdicts of a report_path run
    dims = {"dim_source": fresh_dim()}
    schema = fresh_schema()
    p.timed("runner.build_ms", lambda: validate(corpus, schema, rid, dims=dims))
    report = os.path.join(wl.work_dir, "trace_report")
    with p.job("runner"):
        res = p.timed("runner.write_ms", lambda: validate(
            corpus, schema, rid, dims=dims, report_path=report,
            report_partitions=wl.cores))
        p.timed("runner.violations_read_ms", lambda: noop(res.violations))
        p.timed("runner.verdicts_ms", lambda: res.verdicts.collect())
    m["runner.wall_ms"] = (m["runner.write_ms"] + m["runner.violations_read_ms"]
                           + m["runner.verdicts_ms"])
    m["runner.report_rows"] = p.count("runner", spark.read.parquet(report))
    m["runner.report_files"] = len(glob.glob(os.path.join(report, "part-*")))
    m["runner.report_bytes"] = tree_bytes(report)
    n_viol = p.count("runner", res.violations)
    m["runner.bytes_per_violation"] = m["runner.report_bytes"] / max(n_viol, 1)
    m["runner.branch_sum_over_fused"] = (
        m["rowpass.wall_ms"] + m["uniqueness.wall_ms"] + m["referential.wall_ms"]
    ) / m["runner.write_ms"]

    # stats: profile + numeric_quantiles
    prof, qs = p.timed("stats.build_ms", lambda: (
        profile(corpus, PROFILE_COLS),
        numeric_quantiles(corpus, "n_tok", probs=QUANTILE_PROBS)))
    with p.job("stats"):
        p.timed("stats.wall_ms", lambda: (noop(prof), noop(qs)))

    # drift: the n_tok histogram drift_check compares
    h = p.timed("drift.build_ms", lambda: histogram(corpus, "n_tok", HIST_LO,
                                                    HIST_HI, HIST_BUCKETS))
    with p.job("drift"):
        p.timed("drift.wall_ms", lambda: noop(h))

    errs = ledger_probe(p, fresh_dim)

    exp = wl.exp["layers"]
    errs += [f"{k}: {m[k]} != {exp[e]}" for k, e in EXACT_COUNTS.items() if m[k] != exp[e]]
    sink["attempted"] += 1
    if errs:
        sink["failed"] += 1
        sink["errors"].extend(errs)
    return m


def ledger_probe(p: Probe, fresh_dim) -> list:
    """A crashed run (fail_partition_limit: LEDGER_DONE_SHARE of the named
    partitions) as untimed set-up, then the timed resume: the completed-
    partitions read, the resumed run_with_ledger with its partitioned
    violations write and ledger append, and the ledger read. Returns the
    mismatches of the final ledger against an uninterrupted run's."""
    from goskema_spark.ledger import completed_partitions, read_ledger, run_with_ledger

    wl, m = p.wl, p.m
    spark, exp = wl.spark, wl.exp["ledger"]
    ledger = os.path.join(wl.work_dir, "ledger")
    viol_path = os.path.join(wl.work_dir, "violations")

    def run(**kw):
        from goskema_spark.corpus import row_id_col
        return run_with_ledger(spark, wl.corpus, fresh_schema(), row_id_col(),
                               run_id=RUN_ID, ledger_path=ledger,
                               violations_path=viol_path,
                               dims={"dim_source": fresh_dim()}, **kw)

    with p.job("ledger", ":setup"):
        run(fail_partition_limit=len(exp["done"]))
    viol_before = tree_bytes(viol_path)
    with p.job("ledger"):
        done, _ = p.timed("ledger.completed_ms", lambda: completed_partitions(
            spark, ledger, RUN_ID))
        p.timed("ledger.wall_ms", run)
        led = p.timed("ledger.build_ms", lambda: read_ledger(spark, ledger, RUN_ID))
        rows = p.timed("ledger.wall_ms", lambda: led.collect())
    m["ledger.partitions_validated"] = len(rows) - len(done)
    m["ledger.violations_bytes"] = tree_bytes(viol_path) - viol_before
    m["ledger.ledger_bytes"] = tree_bytes(ledger)

    got = {part_key(r["source"]): {"rows": r["rows"], "violations": r["violations"],
                                   "checks": dict(r["checks"])} for r in rows}
    errs = diff("ledger", got, exp["final"])
    if len(rows) != len(got):
        errs.append(f"ledger: {len(rows)} rows for {len(got)} partitions")
    errs += [f"ledger verdict {r['source']}: {r['verdict']}" for r in rows
             if r["verdict"] != ("fail" if r["violations"] else "pass")]
    keys = [f"v_{s}" for s in exp["resumed"]] + ["__NULL__"]
    with p.job("ledger", ":count"):
        vi = (spark.read.parquet(viol_path)
              .filter((F.col("run_id") == RUN_ID) & F.col("part_key").isin(keys))
              .groupBy("path", "code", "rule").count().collect())
    got = {viol_key(r["path"], r["code"], r["rule"]): r["count"] for r in vi}
    return errs + diff("resumed violations", got, exp["resumed_violations"])


def read_eventlog(eventlog_dir: str) -> dict:
    """{job description: {exec metric: sum over that description's tasks}}
    from the uncompressed event logs in `eventlog_dir`."""
    # Spark 4 rolls the log by default: eventlog_v2_<app>_<attempt>/
    # events_<n>_<app>_<attempt>; stage ids are unique across attempts
    files = sorted(glob.glob(os.path.join(eventlog_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))
    if not files:
        raise RuntimeError(f"no event log under {eventlog_dir}")
    stage_desc: dict = {}
    out: dict = {}
    with fileinput.input(files) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                for s in ev["Stage IDs"]:
                    # a stage re-listed by a later job was skipped there
                    stage_desc.setdefault(s, desc)
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if desc is None or tm is None:
                    continue
                agg = out.setdefault(desc, dict.fromkeys(EXEC_METRICS, 0))
                agg["exec_run_ms"] += tm["Executor Run Time"]
                agg["exec_cpu_ms"] += tm["Executor CPU Time"] / 1e6
                sr = tm["Shuffle Read Metrics"]
                agg["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                agg["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                agg["spill_bytes"] += tm["Disk Bytes Spilled"]
                agg["tasks"] += 1
    return out


def layer_table(workload: str, probe_metrics: dict, eventlog_dir: str) -> dict:
    by_desc = read_eventlog(eventlog_dir)
    table = dict(probe_metrics)
    for layer in LAYERS:
        ex = by_desc.get(f"bench:{workload}:{layer}", dict.fromkeys(EXEC_METRICS, 0))
        for k in EXEC_METRICS:
            table[f"{layer}.{k}"] = ex[k]
    return table
