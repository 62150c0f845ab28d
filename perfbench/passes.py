"""One timed pass per workload, through goskema_spark's public API, and
the comparison of its outputs with the DuckDB expectation (expect.py).

A pass returns its collected outputs; `check()` runs outside the timed
window and returns a list of mismatch descriptions (empty = correct).
"""

from __future__ import annotations

import os
import time
import traceback

from pyspark.sql import SparkSession

from expect import part_key, viol_key
from gen import HIST_BUCKETS, HIST_HI, HIST_LO, MAX_LEN, MAX_NTOK, VOCAB

PROFILE_COLS = ["doc_id", "n_tok", "source"]
QUANTILE_PROBS = (0.5, 0.9, 0.99)
# profile() estimates n_distinct with an HLL sketch at rsd 0.05
DISTINCT_TOLERANCE = 0.2
# numeric_quantiles() uses percentile_approx at accuracy 10000
RANK_TOLERANCE = 0.002
# a run measures at least this many warm passes, however short --seconds is
MIN_WARM_PASSES = 3
NOMINAL_WARM_PASS_S = 3.0


def fresh_schema():
    from goskema_spark.corpus import corpus_schema
    return corpus_schema(max_len=MAX_LEN, max_ntok=MAX_NTOK, vocab=VOCAB)


class Workload:
    """Inputs registered once per JVM; `run()` is one timed pass:
    validate(report_path=...), then the violations and verdicts read
    back, then (nightly_clean) the stats profile, the n_tok quantiles and
    the drift check against the reference snapshot."""

    def __init__(self, spark: SparkSession, name: str, input_dir: str,
                 work_dir: str, cores: int, expected: dict, jvm_pid: int):
        from goskema_spark.corpus import row_id_col
        self.spark = spark
        self.name = name
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.cores = cores
        self.exp = expected
        self.corpus = spark.read.parquet(os.path.join(input_dir, "corpus"))
        self.dim = spark.read.parquet(os.path.join(input_dir, "dim.parquet"))
        self.ref = spark.read.parquet(os.path.join(input_dir, "ref.parquet"))
        self.schema = fresh_schema()
        self.row_id = row_id_col()
        self.report_path = os.path.join(work_dir, "report")
        self.rows = expected["rows"]
        self.jvm_pid = jvm_pid

    def run(self) -> dict:
        from goskema_spark.runner import validate
        res = validate(self.corpus, self.schema, self.row_id,
                       dims={"dim_source": self.dim},
                       report_path=self.report_path,
                       report_partitions=self.cores)
        out = {
            "violations": res.violations.groupBy("path", "code", "rule").count().collect(),
            "verdicts": res.verdicts.collect(),
        }
        if self.name == "nightly_clean":
            from goskema_spark.drift import drift_check
            from goskema_spark.stats import numeric_quantiles, profile
            out["profile"] = profile(self.corpus, PROFILE_COLS).collect()
            out["quantiles"] = numeric_quantiles(self.corpus, "n_tok",
                                                 probs=QUANTILE_PROBS).collect()
            out["drift"] = drift_check(self.corpus, "n_tok", self.ref,
                                       HIST_LO, HIST_HI, HIST_BUCKETS)
        return out

    def check(self, out: dict) -> list:
        got = {viol_key(r["path"], r["code"], r["rule"]): r["count"]
               for r in out["violations"]}
        errs = diff("violations", got, self.exp["violations"])
        got = {part_key(r["source"]): {"rows": r["rows"], "violations": r["violations"]}
               for r in out["verdicts"]}
        errs += diff("verdicts", got, self.exp["verdicts"])
        errs += [f"verdict {r['source']}: {r['verdict']}" for r in out["verdicts"]
                 if r["verdict"] != ("fail" if r["violations"] else "pass")]
        if "profile" in out:
            errs += self._check_stats(out)
        return errs

    def _check_stats(self, out: dict) -> list:
        errs = []
        exp = self.exp["stats"]
        for r in out["profile"]:
            e = exp[r["col"]]
            for k in ("cnt", "nulls", "min_v", "max_v"):
                if r[k] != e[k]:
                    errs.append(f"profile {r['col']}.{k}: {r[k]!r} != {e[k]!r}")
            if abs(r["n_distinct"] - e["n_distinct"]) > DISTINCT_TOLERANCE * e["n_distinct"]:
                errs.append(f"profile {r['col']}.n_distinct: {r['n_distinct']} vs {e['n_distinct']}")
        q = out["quantiles"][0]
        e = exp["n_tok_quantiles"]
        for k in ("cnt", "min_v", "max_v"):
            if q[k] != e[k]:
                errs.append(f"quantiles {k}: {q[k]} != {e[k]}")
        if abs(q["avg_v"] - e["avg_v"]) > 1e-9 * abs(e["avg_v"]):
            errs.append(f"quantiles avg_v: {q['avg_v']} != {e['avg_v']}")
        counts = {int(k): v for k, v in e["value_counts"].items()}
        for p in QUANTILE_PROBS:
            v = q[f"p{int(p * 100)}"]
            below = sum(c for x, c in counts.items() if x < v) / e["cnt"]
            upto = sum(c for x, c in counts.items() if x <= v) / e["cnt"]
            if not below - RANK_TOLERANCE <= p <= upto + RANK_TOLERANCE:
                errs.append(f"quantile p{p}: {v} has rank [{below:.4f}, {upto:.4f}]")
        d, ed = out["drift"], self.exp["drift"]
        for k in ("psi", "ks"):
            if abs(d[k] - ed[k]) > 1e-9:
                errs.append(f"drift {k}: {d[k]} != {ed[k]}")
        return errs


def diff(what: str, got: dict, exp: dict) -> list:
    errs = [f"{what} {k!r}: got {got.get(k)!r}, expected {exp.get(k)!r}"
            for k in sorted(set(got) | set(exp)) if got.get(k) != exp.get(k)]
    return errs[:5] + ([f"{what}: {len(errs) - 5} more"] if len(errs) > 5 else [])


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this Python process and by the Spark JVM
    (its threads, and the children it has reaped: spark-submit's launcher).
    Unlike wall time, this does not grow while a vCPU of the shared host
    is taken away from the benchmark."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # utime, stime, cutime, cstime: fields 14-17 of proc(5)
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / CLOCK_TICKS + time.process_time()


def timed_pass(wl, sink: dict) -> tuple:
    """Run one pass; record attempt/failure in `sink`; return its
    (wall seconds, CPU seconds)."""
    sink["attempted"] += 1
    c = cpu_s(wl.jvm_pid)
    t = time.perf_counter()
    try:
        out = wl.run()
    except Exception:  # a pass that raises is a failed pass, not a crash
        sink["failed"] += 1
        sink["errors"].append(traceback.format_exc(limit=3))
        return time.perf_counter() - t, cpu_s(wl.jvm_pid) - c
    dt = time.perf_counter() - t, cpu_s(wl.jvm_pid) - c
    errs = wl.check(out)
    if errs:
        sink["failed"] += 1
        sink["errors"].extend(errs[:10])
    return dt


def warm_passes(seconds: float) -> int:
    """The number of warm passes a run measures: a fixed count for a given
    --seconds, so that every run does the same work whatever the host's
    speed. Both workloads are sized for warm passes of about
    NOMINAL_WARM_PASS_S on a 4-vCPU host."""
    return max(MIN_WARM_PASSES, round(seconds / NOMINAL_WARM_PASS_S))

