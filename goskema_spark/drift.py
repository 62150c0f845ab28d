"""Distribution-drift detection on n_tok histograms (north rule):
fixed-width histogram via width_bucket (built-in, single hash aggregate),
then PSI (population stability index) and a two-sample KS statistic.

drift_check computes the statistics ON THE DRIVER from the two (tiny)
collected histograms; psi_ks_between, psi_ks_by_group, windowed_drift
and streaming.drift_stream stay in Spark and share one scorer,
score_grouped_histograms. Every histogram comes from grouped_histogram.

The scale story: the only distributed work over the input is one
groupBy over the bucket id (and group) — partial+final hash agg, k
buckets out per group regardless of input size. The statistics are O(k)
arithmetic per group.

Semantics anchor: this is the aggregate analog of goskema's
`aggregate_violation` code (reference errors.go:31) — a dataset-level
rule violation rather than a per-row one.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from goskema_spark.issues import Codes

DEFAULT_BUCKETS = 16
# floor of a bucket's share, so an empty bucket keeps ln(p / q) finite
EPS = 1e-6


def grouped_histogram(df: DataFrame, column: str, group_expr,
                      lo: float, hi: float,
                      buckets: int = DEFAULT_BUCKETS,
                      cnt_name: str = "cnt_a",
                      group_name: str = "g") -> DataFrame:
    """(group, bucket, cnt) equal-width histogram — the one place values
    are bucketed. `group_expr` may be a column name, a Column (e.g. a
    window) or None for no group column: (bucket, cnt). Bucket 0
    catches < lo, bucket `buckets+1` catches >= hi (width_bucket
    semantics).

    The value is try_cast to double and null AND NaN values are
    dropped: a non-numeric string must drop, not crash the job (ANSI)
    or survive as a NULL-bucket row that inflates the totals
    (non-ANSI, where isnan(NULL) is false); NaN width_buckets to NULL,
    and a NULL bucket key never matches in the PSI/KS full-outer join,
    so keeping it would distort both sides' distributions."""
    cd = F.col(column).try_cast("double")
    keys = [F.width_bucket(cd, F.lit(float(lo)), F.lit(float(hi)),
                           F.lit(buckets)).alias("bucket")]
    if group_expr is not None:
        ge = F.col(group_expr) if isinstance(group_expr, str) else group_expr
        keys.insert(0, ge.alias(group_name))
    return (df.filter(cd.isNotNull() & ~F.isnan(cd))
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias(cnt_name)))


def histogram(df: DataFrame, column: str, lo: float, hi: float,
              buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Equal-width histogram with its bucket edges: (bucket, bucket_lo,
    bucket_hi, cnt); grouped_histogram without a group."""
    width = (hi - lo) / buckets
    return (
        grouped_histogram(df, column, None, lo, hi, buckets, "cnt")
        .withColumn("bucket_lo", (F.lit(lo) + (F.col("bucket") - 1) * F.lit(width)).cast("double"))
        .withColumn("bucket_hi", (F.lit(lo) + F.col("bucket") * F.lit(width)).cast("double"))
        .select("bucket", "bucket_lo", "bucket_hi", "cnt")
    )


def _normalize(hist: dict, buckets: int) -> list:
    total = sum(hist.values()) or 1
    # buckets 0..buckets+1 (underflow/overflow included)
    return [max(hist.get(i, 0) / total, EPS) for i in range(0, buckets + 2)]


def psi(cur_hist: dict, ref_hist: dict, buckets: int = DEFAULT_BUCKETS) -> float:
    """Population Stability Index: sum((p - q) * ln(p / q)). Rule of thumb:
    < 0.1 stable, 0.1-0.25 moderate, > 0.25 drifted."""
    p = _normalize(cur_hist, buckets)
    q = _normalize(ref_hist, buckets)
    return float(sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q)))


def ks_statistic(cur_hist: dict, ref_hist: dict, buckets: int = DEFAULT_BUCKETS) -> float:
    """Two-sample KS statistic on binned data: max |CDF_p - CDF_q|."""
    p = _normalize(cur_hist, buckets)
    q = _normalize(ref_hist, buckets)
    sp = sq = 0.0
    tp, tq = sum(p), sum(q)
    d = 0.0
    for pi, qi in zip(p, q):
        sp += pi / tp
        sq += qi / tq
        d = max(d, abs(sp - sq))
    return float(d)


def score_grouped_histograms(ha: DataFrame, hb: DataFrame,
                             group_col: str | None = "g") -> DataFrame:
    """The distributed PSI + KS scorer every drift operator shares:
    ha(group_col, bucket, cnt_a) vs hb(group_col, bucket, cnt_b) ->
    (group_col, psi, ks), one row per group present with rows on BOTH
    sides; a group with no reference (or no current) distribution has
    nothing to compare against and is omitted rather than reported as a
    fake zero. With group_col None the histograms have no group column
    and the result is one (psi, ks) row whatever the inputs: an empty side's
    shares degrade to 0 -> EPS and score as total drift (instead of
    DIVIDE_BY_ZERO under ANSI, or an all-NULL ks that masks the drift
    under non-ANSI), and two empty sides give a NULL row.

    Buckets are aligned by a full-outer join (a bucket missing on one
    side counts 0 there; buckets absent from both contribute 0 to both
    statistics). Shares are floored at EPS, the CDF is a running sum
    over the buckets, and both statistics are rounded to 6 places.

    Scale story: inputs are G x (buckets+2) rows regardless of corpus
    size; a full-outer join per group on the bucket axis, per-group
    totals joined back, and a window over <= buckets+2 rows per group
    for the CDF. Nothing is collected.
    """
    from pyspark.sql import Window

    keys = [] if group_col is None else [group_col]
    joined = (ha.join(hb, keys + ["bucket"], "full")
              .select(*keys, "bucket",
                      F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
                      F.coalesce("cnt_b", F.lit(0)).alias("cnt_b")))
    tot = joined.groupBy(*keys).agg(F.sum("cnt_a").alias("ta"),
                                    F.sum("cnt_b").alias("tb"))
    if group_col is None:
        j = joined.crossJoin(F.broadcast(tot))
    else:
        j = joined.join(tot.filter((F.col("ta") > 0) & (F.col("tb") > 0)),
                        group_col)
    share = lambda c, t: F.when(F.col(t) > 0,  # noqa: E731
                                F.col(c) / F.col(t)).otherwise(F.lit(0.0))
    p = F.greatest(share("cnt_a", "ta"), F.lit(EPS))
    q = F.greatest(share("cnt_b", "tb"), F.lit(EPS))
    w = (Window.partitionBy(*keys).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    cdf = lambda c, t: F.when(F.col(t) > 0,  # noqa: E731
                              F.sum(F.col(c)).over(w) / F.col(t)) \
        .otherwise(F.lit(0.0))
    scored = j.select(
        *keys,
        ((p - q) * F.log(p / q)).alias("psi_term"),
        (cdf("cnt_a", "ta") - cdf("cnt_b", "tb")).alias("cdf_diff"),
    )
    return scored.groupBy(*keys).agg(
        F.round(F.sum("psi_term"), 6).alias("psi"),
        F.round(F.max(F.abs(F.col("cdf_diff"))), 6).alias("ks"),
    )


def psi_ks_between(df_a: DataFrame, df_b: DataFrame, column: str,
                   lo: float, hi: float,
                   buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Fully-distributed PSI + KS between two datasets' histograms of
    `column` — one row out, total drift when one side is empty (see
    score_grouped_histograms). Unlike drift_check (driver-side
    arithmetic on a collected histogram), this stays in Spark
    end-to-end, so it can run inside a larger pipeline and be
    oracle-checked."""
    return score_grouped_histograms(
        grouped_histogram(df_a, column, None, lo, hi, buckets, "cnt_a"),
        grouped_histogram(df_b, column, None, lo, hi, buckets, "cnt_b"),
        None)


def score_against_reference(ha: DataFrame, ref_hist: DataFrame,
                            group_col: str) -> DataFrame:
    """PSI + KS of every group of ha(group_col, bucket, cnt_a) against
    ONE reference histogram ref_hist(bucket, cnt_b): the observed groups
    are crossed with the broadcast reference (tiny x tiny), then scored
    by score_grouped_histograms. Shared by windowed_drift and the
    streaming drift operator."""
    hb = ha.select(group_col).distinct().crossJoin(F.broadcast(ref_hist))
    return score_grouped_histograms(ha, hb, group_col)


def psi_ks_by_group(df_a: DataFrame, df_b: DataFrame, column: str,
                    group_col: str, lo: float, hi: float,
                    buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Per-group PSI + KS — the per-partition-lineage form of the drift
    check (north rule: drift per source, not just globally). One row per
    group present in BOTH sides. Two (group, bucket) hash aggregates
    feeding score_grouped_histograms (see there for the scale story)."""
    ha = grouped_histogram(df_a, column, group_col, lo, hi, buckets,
                           "cnt_a", group_col)
    hb = grouped_histogram(df_b, column, group_col, lo, hi, buckets,
                           "cnt_b", group_col)
    return score_grouped_histograms(ha, hb, group_col)


def windowed_drift(df: DataFrame, column: str, ref: DataFrame,
                   lo: float, hi: float, buckets: int = DEFAULT_BUCKETS,
                   ts_col: str = "ts", window: str = "1 hour") -> DataFrame:
    """Per-time-window PSI + KS of `column` against a FIXED reference
    snapshot: (window_start, psi, ks), one row per tumbling window that
    has any in-range rows. The batch twin of the streaming drift
    operator (streaming.drift_stream) — both score through
    score_against_reference, so the stream can be cross-validated
    against this.

    Scale story: one (window, bucket) hash aggregate over the corpus
    (W x (buckets+2) rows out), one bucket aggregate over the reference,
    reference histogram broadcast-crossed to the observed windows (tiny
    x tiny), then score_grouped_histograms. Nothing is collected.
    """
    ws = F.window(F.col(ts_col).cast("timestamp"), window)["start"]
    ha = grouped_histogram(df, column, ws, lo, hi, buckets,
                           "cnt_a", "window_start")
    ref_hist = grouped_histogram(ref, column, None, lo, hi, buckets, "cnt_b")
    return score_against_reference(ha, ref_hist, "window_start")


def drift_check(df: DataFrame, column: str, ref: DataFrame, lo: float, hi: float,
                buckets: int = DEFAULT_BUCKETS, psi_threshold: float = 0.25,
                ks_threshold: float = 0.30) -> dict:
    """Compare df[column]'s histogram against a reference snapshot
    (schema: bucket|bucket_lo, cnt). Returns a verdict dict; `code`
    is `aggregate_violation` when drifted (FIXTURES.md F3 contract)."""
    cur = {r["bucket"]: r["cnt"] for r in histogram(df, column, lo, hi, buckets).collect()}
    ref_rows = ref.collect()
    if ref_rows and "bucket" in ref_rows[0].asDict():
        refh = {r["bucket"]: r["cnt"] for r in ref_rows}
    else:  # FIXTURES F3 shape: bucket_lo/bucket_hi/cnt
        width = (hi - lo) / buckets
        refh = {int(round((r["bucket_lo"] - lo) / width)) + 1: r["cnt"] for r in ref_rows}
    p = psi(cur, refh, buckets)
    k = ks_statistic(cur, refh, buckets)
    drifted = p > psi_threshold or k > ks_threshold
    return {
        "check": f"drift_{column}",
        "psi": p,
        "ks": k,
        "psi_threshold": psi_threshold,
        "ks_threshold": ks_threshold,
        "verdict": "fail" if drifted else "pass",
        "code": Codes.AGGREGATE_VIOLATION if drifted else None,
    }
