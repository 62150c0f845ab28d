"""Tests for distribution drift: the per-group PSI/KS operator must agree
group-by-group with the oracle-proven global operator, drift_check's
verdicts, and the empty-side contract of the global operator."""

from pyspark.sql import functions as F, types as T

from goskema_spark.drift import psi_ks_between, psi_ks_by_group

_SCHEMA = T.StructType([
    T.StructField("g", T.StringType(), False),
    T.StructField("v", T.IntegerType(), True),
])


def _data(spark):
    rows = []
    for i in range(400):
        rows.append(("a", i % 50))            # uniform-ish
        rows.append(("b", (i * i) % 50))      # skewed
    return spark.createDataFrame(rows, _SCHEMA)


def _shifted(spark):
    rows = []
    for i in range(400):
        rows.append(("a", (i + 7) % 50))      # same shape, shifted
        rows.append(("b", i % 25))            # genuinely different
    return spark.createDataFrame(rows, _SCHEMA)


def test_by_group_matches_global_per_group(spark):
    cur, ref = _data(spark), _shifted(spark)
    grouped = {r["g"]: (r["psi"], r["ks"])
               for r in psi_ks_by_group(cur, ref, "v", "g", 0, 50, 10).collect()}
    assert set(grouped) == {"a", "b"}
    for g in ("a", "b"):
        row = psi_ks_between(cur.filter(F.col("g") == g),
                             ref.filter(F.col("g") == g),
                             "v", 0, 50, 10).collect()[0]
        assert grouped[g] == (row["psi"], row["ks"]), g
    # b's distribution actually changed; a's barely did
    assert grouped["b"][0] > grouped["a"][0]


def test_by_group_omits_one_sided_groups(spark):
    cur = _data(spark)
    ref = _shifted(spark).filter(F.col("g") == "a")
    got = {r["g"] for r in
           psi_ks_by_group(cur, ref, "v", "g", 0, 50, 10).collect()}
    assert got == {"a"}      # "b" has no reference side -> omitted


def test_by_group_ignores_nulls_in_column(spark):
    cur = _data(spark).withColumn(
        "v", F.when(F.col("v") % 17 == 0, None).otherwise(F.col("v")))
    out = psi_ks_by_group(cur, _shifted(spark), "v", "g", 0, 50, 10)
    assert out.count() == 2  # still one row per group, no NaN poisoning
    for r in out.collect():
        assert r["psi"] is not None and r["ks"] is not None


def _hist_ref(df):
    from goskema_spark.drift import histogram
    return histogram(df, "v", 0, 50, 10)


def test_drift_check_identical_sample_passes(spark):
    from goskema_spark.drift import drift_check

    cur = _data(spark)
    out = drift_check(cur, "v", _hist_ref(cur).select("bucket", "cnt"),
                      0, 50, 10)
    assert out["verdict"] == "pass" and out["code"] is None
    assert out["psi"] == 0 and out["ks"] == 0


def test_drift_check_shifted_sample_fails(spark):
    from goskema_spark.drift import drift_check

    ref = _hist_ref(_data(spark)).select("bucket", "cnt")
    cur = _data(spark).withColumn("v", F.col("v") + 20)
    out = drift_check(cur, "v", ref, 0, 50, 10)
    assert out["verdict"] == "fail"
    assert out["code"] == "aggregate_violation"


def test_drift_check_reference_shapes_agree(spark):
    """A (bucket, cnt) reference and the FIXTURES F3 (bucket_lo,
    bucket_hi, cnt) reference of the same histogram score the same."""
    from goskema_spark.drift import drift_check

    h = _hist_ref(_shifted(spark))
    by_id = h.select("bucket", "cnt")
    by_edges = h.select(F.col("bucket_lo").cast("int").alias("bucket_lo"),
                        F.col("bucket_hi").cast("int").alias("bucket_hi"),
                        "cnt")
    a = drift_check(_data(spark), "v", by_id, 0, 50, 10)
    b = drift_check(_data(spark), "v", by_edges, 0, 50, 10)
    assert a["psi"] > 0
    assert (a["psi"], a["ks"]) == (b["psi"], b["ks"])


def test_drift_check_empty_current_sample_fails(spark):
    from goskema_spark.drift import drift_check

    ref = _hist_ref(_data(spark)).select("bucket", "cnt")
    out = drift_check(_data(spark).filter(F.lit(False)), "v", ref, 0, 50, 10)
    assert out["verdict"] == "fail"
    assert out["code"] == "aggregate_violation"


def test_psi_ks_between_empty_sides(spark):
    """One empty side scores as total drift in one row; both sides empty
    give one all-NULL row."""
    data = _data(spark)
    empty = data.filter(F.lit(False))
    for a, b in ((empty, data), (data, empty)):
        rows = psi_ks_between(a, b, "v", 0, 50, 10).collect()
        assert len(rows) == 1
        assert rows[0]["ks"] == 1.0 and rows[0]["psi"] > 0.25
    rows = psi_ks_between(empty, empty, "v", 0, 50, 10).collect()
    assert len(rows) == 1
    assert rows[0]["psi"] is None and rows[0]["ks"] is None
