"""Checkpoint/resume protocol tests (FIXTURES.md F4): kill after k
partitions, re-run with the same run_id, assert completed partitions are
skipped and the final ledger matches an uninterrupted run."""

import shutil
import tempfile

from pyspark.sql import functions as F

from goskema_spark.corpus import corpus_from_documents, corpus_schema, dim_source_df, row_id_col
from goskema_spark.ledger import read_ledger, run_with_ledger

SF = "/root/testdata/sf0.001"


def _ledger_key(rows):
    return sorted(
        ((r["source"], r["rows"], r["violations"], r["verdict"]) for r in rows),
        key=repr,
    )


def test_resume_matches_uninterrupted(spark):
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        # uninterrupted reference run
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="full", ledger_path=f"{tmp}/led_full", dims=dims)
        full = _ledger_key(read_ledger(spark, f"{tmp}/led_full", "full").collect())
        assert len(full) > 0

        # interrupted run: only 5 partitions complete, then "crash"
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="r1", ledger_path=f"{tmp}/led", dims=dims,
                        fail_partition_limit=5)
        partial = read_ledger(spark, f"{tmp}/led", "r1").collect()
        assert len(partial) == 5

        # resume: same run_id — completed partitions must be skipped
        res = run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                              run_id="r1", ledger_path=f"{tmp}/led", dims=dims)
        done_sources = {r["source"] for r in partial}
        resumed_sources = {r["source"] for r in res.verdicts.collect()}
        assert not (done_sources & resumed_sources)

        final = _ledger_key(read_ledger(spark, f"{tmp}/led", "r1").collect())
        assert final == full

        # third run: everything complete -> no-op
        assert run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                               run_id="r1", ledger_path=f"{tmp}/led", dims=dims) is None
        assert _ledger_key(read_ledger(spark, f"{tmp}/led", "r1").collect()) == full
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ledger_checks_map_and_null_partition(spark):
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="x", ledger_path=f"{tmp}/led", dims=dims,
                        violations_path=f"{tmp}/viols")
        led = read_ledger(spark, f"{tmp}/led", "x").collect()
        # NULL source is a logical partition with its own ledger row
        assert any(r["source"] is None for r in led)
        by_src = {r["source"]: r for r in led}
        assert set(by_src["parachute"]["checks"].keys()) == {
            "rowpass", "unique_doc_id", "ref_source"}
        assert by_src["parachute"]["verdict"] == "fail"
        viols = spark.read.parquet(f"{tmp}/viols")
        assert viols.filter(F.col("run_id") == "x").count() > 0

        # Per-check verdicts reflect each check's OWN violation class
        # (VERDICT r4 #2): derive the expectation from the violations
        # table and compare against every ledger row's checks map.
        vrows = viols.filter(F.col("run_id") == "x").collect()
        uniq_fail = {r["source"] for r in vrows
                     if r["rule"] == "unique_by" and r["path"] == "/doc_id"}
        ref_fail = {r["source"] for r in vrows if r["rule"] == "ref_source"}
        rp_fail = {r["source"] for r in vrows
                   if not (r["rule"] == "unique_by" and r["path"] == "/doc_id")
                   and r["rule"] != "ref_source"}
        for r in led:
            ck = r["checks"]
            assert ck["unique_doc_id"] == (
                "fail" if r["source"] in uniq_fail else "pass"), r
            assert ck["ref_source"] == (
                "fail" if r["source"] in ref_fail else "pass"), r
            assert ck["rowpass"] == (
                "fail" if r["source"] in rp_fail else "pass"), r
        # a partition failing rowpass only must NOT inherit the overall
        # verdict into unaffected checks
        only_rp = [r for r in led if r["verdict"] == "fail"
                   and r["source"] in rp_fail
                   and r["source"] not in uniq_fail
                   and r["source"] not in ref_fail]
        assert only_rp, "fixture should contain a rowpass-only partition"
        assert all(r["checks"]["unique_doc_id"] == "pass" for r in only_rp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_violations_not_duplicated(spark):
    """Crash between the violations write and the ledger write: the
    resume re-validates those partitions and must REPLACE their violation
    rows (dynamic partition overwrite), not append duplicates."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="ref", ledger_path=f"{tmp}/led_ref", dims=dims,
                        violations_path=f"{tmp}/v_ref")
        ref_n = spark.read.parquet(f"{tmp}/v_ref").count()

        # partial run writes violations for 5 partitions, then "crash"
        # loses the ledger (worst-case ordering)
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="r", ledger_path=f"{tmp}/led", dims=dims,
                        violations_path=f"{tmp}/v", fail_partition_limit=5)
        shutil.rmtree(f"{tmp}/led")

        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="r", ledger_path=f"{tmp}/led", dims=dims,
                        violations_path=f"{tmp}/v")
        assert spark.read.parquet(f"{tmp}/v").count() == ref_n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_fail_limit_reaches_null_partition_and_timestamps(spark):
    """r5 review: with fail_partition_limit, the NULL partition must be
    able to fill the batch quota once the named partitions are done —
    isin([]) alone starved it forever, so a caller looping until None
    never terminated. Also: started_at must precede finished_at (the
    start is captured driver-side before validate; a same-query
    current_timestamp pair always rendered duration zero)."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        rounds = 0
        while run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                              run_id="nl", ledger_path=f"{tmp}/led",
                              dims=dims, fail_partition_limit=3) is not None:
            rounds += 1
            assert rounds < 30, "resume loop did not terminate"
        led = read_ledger(spark, f"{tmp}/led", "nl").collect()
        assert any(r["source"] is None for r in led)  # NULL got ledgered
        assert all(r["started_at"] <= r["finished_at"] for r in led)
        assert any(r["started_at"] < r["finished_at"] for r in led)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_drops_committed_task_file_of_crashed_append(spark):
    """A driver that dies mid-append can leave a committed task file
    under <ledger>/_temporary/0/task_*; the next append's job commit
    would merge it in beside the resumed row. Resume must count every
    partition exactly once."""
    import glob
    import os

    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="full", ledger_path=f"{tmp}/led_full", dims=dims)
        full_rows = read_ledger(spark, f"{tmp}/led_full", "full")
        full = _ledger_key(full_rows.collect())

        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="r1", ledger_path=f"{tmp}/led", dims=dims,
                        fail_partition_limit=5)
        done = {r["source"] for r in read_ledger(spark, f"{tmp}/led", "r1").collect()}
        pending = sorted(r["source"] for r in full_rows.collect()
                         if r["source"] is not None and r["source"] not in done)[0]
        # the unfinished partition's ledger row, as a task of the crashed
        # append committed it before the driver died
        (full_rows.filter(F.col("source") == pending)
         .withColumn("run_id", F.lit("r1"))
         .coalesce(1).write.parquet(f"{tmp}/planted"))
        task_dir = f"{tmp}/led/_temporary/0/task_202610170000_0001_m_000000"
        os.makedirs(task_dir)
        for part in glob.glob(f"{tmp}/planted/part-*.parquet"):
            shutil.copy(part, task_dir)

        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="r1", ledger_path=f"{tmp}/led", dims=dims)
        rows = read_ledger(spark, f"{tmp}/led", "r1").collect()
        sources = [r["source"] for r in rows]
        assert len(sources) == len(set(sources))
        assert _ledger_key(rows) == full
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
