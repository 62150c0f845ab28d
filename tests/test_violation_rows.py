"""The violation-row contract shared by every producer: `row_id`, then the
VIOLATION_STRUCT fields, then the carry columns, with the field types of
issues.VIOLATION_SCHEMA (reference errors.go:39-54)."""

import pytest
from pyspark.sql import functions as F, types as T

from goskema_spark.corpus import golden_corpus, golden_dim, golden_schema, row_id_col
from goskema_spark.issues import VIOLATION_SCHEMA
from goskema_spark.referential import referential_violations
from goskema_spark.rowpass import validate_rows
from goskema_spark.runner import validate
from goskema_spark.uniqueness import uniqueness_violations, within_row_unique_violations

CARRY = ["source"]


def _assert_contract(df, carry):
    assert df.columns == VIOLATION_SCHEMA.names + carry
    for f in VIOLATION_SCHEMA.fields:
        assert df.schema[f.name].dataType == f.dataType, f.name
    assert df.count() > 0


def test_violation_row_contract(spark, tmp_path):
    corpus = golden_corpus(spark)
    dim = golden_dim(spark)
    rid = row_id_col()

    _, viols, _ = validate_rows(corpus, golden_schema(), rid, carry=CARRY)
    _assert_contract(viols, CARRY)
    for broadcast in (True, "auto"):
        _assert_contract(uniqueness_violations(corpus, "doc_id", "_ord", rid,
                                               carry=CARRY, broadcast=broadcast), CARRY)
    lists = spark.createDataFrame([("a", [1, 2, 1]), ("b", [3])], T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("xs", T.ArrayType(T.IntegerType()))]))
    _assert_contract(within_row_unique_violations(lists, "xs", F.col("id")), [])
    for max_inline in (4096, 0):
        _assert_contract(referential_violations(corpus, "source", dim, "source", rid,
                                                carry=CARRY,
                                                max_inline_values=max_inline), CARRY)
    dims = {"dim_source": dim}
    _assert_contract(validate(corpus, golden_schema(), rid, dims=dims).violations, CARRY)
    _assert_contract(validate(corpus, golden_schema(), rid, dims=dims,
                              report_path=str(tmp_path / "report")).violations, CARRY)


@pytest.mark.parametrize("broadcast", ["Auto", "yes", 1])
def test_uniqueness_broadcast_rejects_unknown_values(spark, broadcast):
    df = spark.createDataFrame([("a", 0), ("a", 1)], T.StructType([
        T.StructField("k", T.StringType()), T.StructField("o", T.LongType())]))
    with pytest.raises(ValueError, match="broadcast"):
        uniqueness_violations(df, "k", "o", F.col("k"), broadcast=broadcast)
