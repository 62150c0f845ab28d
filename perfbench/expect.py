"""Expected outputs of every workload pass, computed with DuckDB over the
generated parquet, independently of goskema_spark.

The rules restate the corpus constraint set (goskema_spark.corpus.
corpus_schema with the limits in gen.py) in SQL, the same way the
oracle queries of `__spark_entry__.oracle_sql()` do:

- required on each of doc_id, tokens, n_tok, source;
- too_short / too_long on len(tokens), too_small / too_big on n_tok;
- business_rule when n_tok <> len(tokens);
- domain_range at /tokens/<i> for every element outside [0, VOCAB);
- uniqueness for every non-first (by _ord) occurrence of a doc_id;
- invalid_enum for every non-null source missing from the dimension.

The result is a JSON-serialisable dict, cached next to the inputs.
"""

from __future__ import annotations

import math

import duckdb

from gen import (HIST_BUCKETS, HIST_HI, HIST_LO, LEDGER_DONE_SHARE, MAX_LEN,
                 MAX_NTOK, VOCAB)

# every violation as (source, path, code, rule)
VIOLATIONS_SQL = f"""
SELECT source, '/doc_id' AS path, 'required' AS code, 'required' AS rule FROM corpus WHERE doc_id IS NULL
UNION ALL SELECT source, '/tokens', 'required', 'required' FROM corpus WHERE tokens IS NULL
UNION ALL SELECT source, '/n_tok', 'required', 'required' FROM corpus WHERE n_tok IS NULL
UNION ALL SELECT source, '/source', 'required', 'required' FROM corpus WHERE source IS NULL
UNION ALL SELECT source, '/tokens', 'too_short', 'array_min' FROM corpus WHERE len(tokens) < 1
UNION ALL SELECT source, '/tokens', 'too_long', 'array_max' FROM corpus WHERE len(tokens) > {MAX_LEN}
UNION ALL SELECT source, '/n_tok', 'too_small', 'min' FROM corpus WHERE n_tok < 1
UNION ALL SELECT source, '/n_tok', 'too_big', 'max' FROM corpus WHERE n_tok > {MAX_NTOK}
UNION ALL SELECT source, '/n_tok', 'business_rule', 'n_tok_matches_tokens' FROM corpus
  WHERE n_tok <> len(tokens)
UNION ALL SELECT source, '/tokens/' || CAST(i - 1 AS VARCHAR), 'domain_range', 'elem_domain'
  FROM (SELECT source, unnest(tokens) AS t, generate_subscripts(tokens, 1) AS i FROM corpus)
  WHERE t < 0 OR t >= {VOCAB}
UNION ALL SELECT c.source, '/doc_id', 'uniqueness', 'unique_by' FROM corpus c
  JOIN (SELECT doc_id, min(_ord) AS first FROM corpus WHERE doc_id IS NOT NULL
        GROUP BY doc_id HAVING count(*) > 1) d
  ON c.doc_id = d.doc_id WHERE c._ord <> d.first
UNION ALL SELECT source, '/source', 'invalid_enum', 'ref_source' FROM corpus
  WHERE source IS NOT NULL AND source NOT IN (SELECT source FROM dim)
"""

# rows with at least one row-pass violation (the uniqueness and
# referential classes are aggregate checks, not row-pass)
DIRTY_ROW_SQL = f"""
doc_id IS NULL OR tokens IS NULL OR n_tok IS NULL OR source IS NULL
OR len(tokens) < 1 OR len(tokens) > {MAX_LEN} OR n_tok < 1 OR n_tok > {MAX_NTOK}
OR n_tok <> len(tokens)
OR list_bool_or(list_transform(tokens, t -> t < 0 OR t >= {VOCAB}))
"""


def viol_key(path, code, rule) -> str:
    return f"{path}|{code}|{rule}"


def part_key(source) -> str:
    """JSON-safe partition key: NULL gets its own token."""
    return "\0NULL" if source is None else source


def _psi_ks(cur: dict, ref: dict) -> tuple:
    """PSI and binned KS over buckets 0..B+1 with each share floored at
    1e-6 (the normalisation drift_check documents)."""
    def norm(h):
        total = sum(h.values()) or 1
        return [max(h.get(i, 0) / total, 1e-6) for i in range(HIST_BUCKETS + 2)]
    p, q = norm(cur), norm(ref)
    psi = sum((a - b) * math.log(a / b) for a, b in zip(p, q))
    tp, tq = sum(p), sum(q)
    sp = sq = ks = 0.0
    for a, b in zip(p, q):
        sp += a / tp
        sq += b / tq
        ks = max(ks, abs(sp - sq))
    return psi, ks


def compute(input_dir: str, workload: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{input_dir}/corpus/*.parquet')")
        con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{input_dir}/dim.parquet')")
        con.execute(f"CREATE TEMP TABLE v AS {VIOLATIONS_SQL}")
        return _compute(con, input_dir, workload)
    finally:
        con.close()


def _compute(con, input_dir: str, workload: str) -> dict:
    q = con.execute
    rows = q("SELECT count(*) FROM corpus").fetchone()[0]
    sources = [r[0] for r in q("SELECT DISTINCT source FROM corpus").fetchall()]

    per_part = {part_key(s): [r, 0] for s, r in
                q("SELECT source, count(*) FROM corpus GROUP BY source").fetchall()}
    for s, n in q("SELECT source, count(*) FROM v GROUP BY source").fetchall():
        per_part[part_key(s)][1] = n
    checks = {part_key(s): {"rowpass": rp, "unique_doc_id": un, "ref_source": rf}
              for s, rp, un, rf in q("""
        SELECT source, count(*) FILTER (WHERE rule NOT IN ('unique_by', 'ref_source')),
               count(*) FILTER (WHERE rule = 'unique_by'),
               count(*) FILTER (WHERE rule = 'ref_source')
        FROM v GROUP BY source""").fetchall()}

    dirty_rows = q(f"SELECT count(*) FROM corpus WHERE {DIRTY_ROW_SQL}").fetchone()[0]
    dup_keys, subset_rows, hot = q("""
        SELECT count(*), coalesce(sum(n), 0), coalesce(max(n), 0) FROM (
          SELECT count(*) AS n FROM corpus WHERE doc_id IS NOT NULL
          GROUP BY doc_id HAVING count(*) > 1)""").fetchone()
    dim_size = q("SELECT count(DISTINCT source) FROM dim").fetchone()[0]

    def viol_counts(where: str = "TRUE") -> dict:
        return {viol_key(p, c, r): n for p, c, r, n in q(
            f"SELECT path, code, rule, count(*) FROM v WHERE {where} "
            "GROUP BY path, code, rule").fetchall()}

    all_counts = viol_counts()
    rowpass_viols = sum(n for k, n in all_counts.items()
                        if not k.endswith(("|unique_by", "|ref_source")))
    uniq_viols = sum(n for k, n in all_counts.items() if k.endswith("|unique_by"))
    miss_rows = sum(n for k, n in all_counts.items() if k.endswith("|ref_source"))

    # the ledger probe's crash: run_with_ledger completes the first
    # LEDGER_DONE_SHARE of the named partitions in sorted order; the
    # resume validates the rest, the NULL partition included
    named = sorted(s for s in sources if s is not None)
    done = named[:int(len(named) * LEDGER_DONE_SHARE)]
    resumed = named[len(done):]
    in_resumed = (f"(source IN ({','.join(repr(s) for s in resumed)}) OR source IS NULL)"
                  if resumed else "source IS NULL")
    no_viol = {"rowpass": 0, "unique_doc_id": 0, "ref_source": 0}

    exp = {
        "rows": rows,
        "violations": all_counts,
        "verdicts": {k: {"rows": r, "violations": n} for k, (r, n) in per_part.items()},
        "layers": {
            "rows_in": rows,
            "dirty_rows": dirty_rows,
            "rowpass_viol_rows": rowpass_viols,
            "dup_keys": dup_keys,
            "subset_rows": int(subset_rows),
            "uniq_viol_rows": uniq_viols,
            "miss_rows": miss_rows,
        },
        "ledger": {
            "done": done,
            "resumed": resumed,
            "resumed_violations": viol_counts(in_resumed),
            "final": {k: {"rows": r, "violations": n,
                          "checks": {c: ("fail" if m else "pass")
                                     for c, m in checks.get(k, no_viol).items()}}
                      for k, (r, n) in per_part.items()},
        },
        "properties": {
            "rows": rows,
            "violating_row_share": round(dirty_rows / rows, 6),
            "violations_per_dirty_row": round(rowpass_viols / max(dirty_rows, 1), 4),
            "duplicate_key_share": round(uniq_viols / rows, 6),
            "hot_key_rows": hot,
            "referential_miss_share": round(miss_rows / rows, 6),
            "dimension_size": dim_size,
            "partitions": len(sources),
        },
    }
    if workload == "nightly_clean":
        exp["stats"] = _stats(con)
        exp["drift"] = _drift(con, input_dir)
    return exp


def _stats(con) -> dict:
    out = {}
    for col in ("doc_id", "n_tok", "source"):
        cnt, nulls, nd, mn, mx = con.execute(
            f"SELECT count(*), count(*) - count({col}), count(DISTINCT {col}), "
            f"CAST(min({col}) AS VARCHAR), CAST(max({col}) AS VARCHAR) FROM corpus"
        ).fetchone()
        out[col] = {"cnt": cnt, "nulls": nulls, "n_distinct": nd, "min_v": mn, "max_v": mx}
    cnt, mn, mx, avg = con.execute(
        "SELECT count(n_tok), min(n_tok), max(n_tok), avg(n_tok) FROM corpus").fetchone()
    value_counts = dict(con.execute(
        "SELECT n_tok, count(*) FROM corpus WHERE n_tok IS NOT NULL GROUP BY n_tok").fetchall())
    out["n_tok_quantiles"] = {"cnt": cnt, "min_v": float(mn), "max_v": float(mx),
                              "avg_v": float(avg),
                              "value_counts": {str(k): v for k, v in value_counts.items()}}
    return out


def _drift(con, input_dir: str) -> dict:
    width = (HIST_HI - HIST_LO) / HIST_BUCKETS
    cur = dict(con.execute(f"""
        SELECT CASE WHEN n_tok < {HIST_LO} THEN 0 WHEN n_tok >= {HIST_HI} THEN {HIST_BUCKETS + 1}
                    ELSE CAST(floor((n_tok - {HIST_LO}) / {width}) AS BIGINT) + 1 END AS b,
               count(*)
        FROM corpus WHERE n_tok IS NOT NULL GROUP BY b""").fetchall())
    ref = dict(con.execute(
        f"SELECT bucket, cnt FROM read_parquet('{input_dir}/ref.parquet')").fetchall())
    psi, ks = _psi_ks(cur, ref)
    return {"psi": psi, "ks": ks}
