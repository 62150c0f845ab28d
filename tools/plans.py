"""Dump the optimized and physical plan plus the sorted collected rows of
validate() and of declared queries at sf0.001, for a plan diff between
two checkouts.

Usage: python tools/plans.py OUTDIR [NAME ...]

NAME is `validate` (its violations, verdicts, clean and annotated
outputs over the corpus, lazily, with the source dimension) or any
`__spark_entry__.queries()` key. Without NAMEs: `validate` plus every
declared `*violations*`, `verdicts*` and `rowpass*` query.

Each output writes OUTDIR/<name>.plan and OUTDIR/<name>.rows. Attribute
ids (`#12`), `plan_id=` values and the numeric suffixes of lambda
variables are stripped, so run it in both checkouts and compare with
`diff -r`.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.conftest import SF_DIR  # noqa: E402  (the inputs the tests read)

_STRIP = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    # `x_14L`: the number goes, the type suffix (here `L`) stays
    (re.compile(r"(lambda \w+?)_\d+(?!\d)"), r"\1"),
]


def _strip(text: str) -> str:
    for pat, rep in _STRIP:
        text = pat.sub(rep, text)
    return text


def _dump(outdir: str, name: str, df) -> None:
    qe = df._jdf.queryExecution()
    plan = ("== Optimized Logical Plan ==\n" + qe.optimizedPlan().toString()
            + "\n== Physical Plan ==\n" + qe.executedPlan().toString())
    with open(os.path.join(outdir, f"{name}.plan"), "w") as f:
        f.write(_strip(plan))
    rows = sorted(repr(r) for r in df.collect())
    with open(os.path.join(outdir, f"{name}.rows"), "w") as f:
        f.write("\n".join(rows) + "\n")
    print(f"{name}: {len(rows)} rows")


def _validate_outputs(spark) -> dict:
    from goskema_spark.corpus import (corpus_from_documents, corpus_schema,
                                      dim_source_df, row_id_col)
    from goskema_spark.runner import validate

    corpus = corpus_from_documents(spark, SF_DIR)
    res = validate(corpus, corpus_schema(), row_id_col(),
                   dims={"dim_source": dim_source_df(spark)})
    return {"validate.violations": res.violations,
            "validate.verdicts": res.verdicts,
            "validate.clean": res.clean,
            "validate.annotated": res.annotated}


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    outdir, names = sys.argv[1], sys.argv[2:]
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    qs = entry.queries()
    if not names:
        names = ["validate"] + sorted(
            k for k in qs if "violations" in k or k.startswith(("verdicts", "rowpass")))
    unknown = [n for n in names if n != "validate" and n not in qs]
    if unknown:
        sys.exit(f"unknown NAME(s): {', '.join(unknown)}")
    os.makedirs(outdir, exist_ok=True)
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name in names:
            outs = (_validate_outputs(spark) if name == "validate"
                    else {name: qs[name](spark, SF_DIR)})
            for out_name, df in outs.items():
                _dump(outdir, out_name, df)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
