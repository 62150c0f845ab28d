"""Seeded input generator for the perfbench workloads.

Every workload writes the north-rule corpus shape (doc_id string,
tokens array<int32>, n_tok int32, source string, _ord bigint), a source
dimension and a reference n_tok histogram snapshot, all as parquet. The
inputs are a pure function of (workload, seed, GEN_VERSION): numpy's
PCG64 stream seeded from those three values drives every random choice.

Nothing here imports goskema_spark; the library only ever sees the
parquet files this module writes.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump whenever the generated bytes or the expectations (expect.py)
# change for an existing seed: both are cached under this version
GEN_VERSION = 3

# constraint limits the corpus is generated against; the worker passes
# the same values to goskema_spark.corpus.corpus_schema()
VOCAB = 1000
MAX_LEN = 64
MAX_NTOK = 64

# drift reference histogram layout (drift.histogram / drift_check args)
HIST_LO, HIST_HI, HIST_BUCKETS = 0, 64, 16

# corpus parquet layout: enough files that every core has scan work
CORPUS_FILES = 16

WORKLOADS = {
    # the common nightly job: few violations, a small inline dimension
    "nightly_clean": dict(
        rows=300_000, sources=20, dim_size=20, dirty=0.01, dirty_kind="sparse",
        dup=0.001, hot=0.0, miss=0.0),
    # a dirty re-ingest: heavy violations, duplicates with one hot key,
    # a dimension above the inline cap with ~1% misses
    "dirty_reingest": dict(
        rows=100_000, sources=64, dim_size=5000, dirty=0.40, dirty_kind="dense",
        dup=0.19, hot=0.01, miss=0.01),
}

# the traced run's ledger probe crashes after this share of the named
# partitions (run_with_ledger's fail_partition_limit) and then resumes
LEDGER_DONE_SHARE = 7 / 8


def rng_for(workload: str, seed: int) -> np.random.Generator:
    digest = hashlib.sha256(f"{workload}:{seed}:{GEN_VERSION}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def input_dir(cache_root: str, workload: str, seed: int) -> str:
    return os.path.join(cache_root, f"v{GEN_VERSION}", workload, f"seed{seed}")


def _dim_values(spec: dict) -> list:
    width = len(str(spec["dim_size"] - 1))
    return [f"src{i:0{width}d}" for i in range(spec["dim_size"])]


def _sparse_dirty(rng, idx):
    """Roughly one violation class per dirty row, spread over the row-pass
    checks (required, too_short/too_long, domain_range, too_small/too_big,
    business_rule)."""
    kind = rng.integers(0, 8, len(idx))
    plan = {name: idx[kind == i] for i, name in enumerate(
        ["null_doc", "null_tokens", "empty", "oor_rows", "too_long", "mismatch",
         "ntok_zero", "null_ntok"])}
    plan["oor_rate"] = 0.0
    return plan


def _dense_dirty(rng, idx):
    """Several violations per dirty row: out-of-range tokens at many
    positions, plus length and n_tok mismatches on a share of them."""
    u = rng.random(len(idx))
    return dict(null_doc=idx[u < 0.02], null_tokens=idx[(u >= 0.02) & (u < 0.04)],
                empty=np.empty(0, np.int64), oor_rows=idx[u >= 0.04], oor_rate=0.15,
                too_long=idx[(u >= 0.04) & (u < 0.16)],
                mismatch=idx[(u >= 0.16) & (u < 0.66)],
                ntok_zero=idx[(u >= 0.66) & (u < 0.70)],
                null_ntok=np.empty(0, np.int64))


def generate(out_dir: str, workload: str, seed: int) -> None:
    """Write corpus/, dim.parquet and ref.parquet for (workload, seed)."""
    spec = WORKLOADS[workload]
    rng = rng_for(workload, seed)
    n = spec["rows"]
    ords = np.arange(n, dtype=np.int64)

    lengths = rng.integers(1, MAX_LEN + 1, n).astype(np.int64)
    dirty_idx = np.sort(rng.choice(n, int(round(n * spec["dirty"])), replace=False))
    if spec["dirty_kind"] == "sparse":
        plan = _sparse_dirty(rng, dirty_idx)
    else:
        plan = _dense_dirty(rng, dirty_idx)
    lengths[plan["too_long"]] = rng.integers(MAX_LEN + 1, MAX_LEN + 33,
                                             len(plan["too_long"]))
    lengths[plan["empty"]] = 0
    n_tok = lengths.copy()
    # a NULL list entry must own no child values
    lengths[plan["null_tokens"]] = 0

    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1])).astype(np.int32)
    row_of = np.repeat(np.arange(n), lengths)
    if len(plan["oor_rows"]):
        oor_mask = np.zeros(n, dtype=bool)
        oor_mask[plan["oor_rows"]] = True
        elem = oor_mask[row_of] & (rng.random(len(values)) < plan["oor_rate"])
        # every out-of-range row keeps at least its first element bad
        firsts = offsets[plan["oor_rows"]][lengths[plan["oor_rows"]] > 0]
        elem[firsts] = True
        k = int(elem.sum())
        bad = np.where(rng.random(k) < 0.5, rng.integers(-9, 0, k),
                       rng.integers(VOCAB, 2 * VOCAB, k)).astype(np.int32)
        values[elem] = bad

    n_tok[plan["mismatch"]] += rng.integers(1, 6, len(plan["mismatch"]))
    n_tok[plan["ntok_zero"]] = 0

    # doc ids: unique by default, then duplicates copied from earlier rows
    # that keep their own id, so every rewritten row is a non-first
    # occurrence of its key
    doc_ids = np.char.add(f"d{seed}-", ords.astype("U"))
    dup_n = int(round(n * spec["dup"]))
    hot_n = int(round(n * spec["hot"]))
    if dup_n + hot_n:
        dup_rows = rng.choice(np.arange(1, n), dup_n + hot_n, replace=False)
        kept = np.ones(n, dtype=bool)
        kept[dup_rows] = False
        pool = np.flatnonzero(kept)  # sorted, and holds row 0
        below = np.searchsorted(pool, dup_rows)
        src_rows = pool[(rng.random(dup_n + hot_n) * below).astype(np.int64)]
        doc_ids[dup_rows] = doc_ids[src_rows]
        if hot_n:
            doc_ids[dup_rows[:hot_n]] = doc_ids[0]

    dim = _dim_values(spec)
    used = sorted(rng.choice(len(dim), spec["sources"], replace=False)) \
        if spec["sources"] < len(dim) else range(len(dim))
    used = np.array([dim[i] for i in used], dtype=object)
    source = used[rng.integers(0, len(used), n)]
    miss_n = int(round(n * spec["miss"]))
    if miss_n:
        miss_rows = rng.choice(n, miss_n, replace=False)
        source[miss_rows] = np.array([f"unknown{i}" for i in range(8)],
                                     dtype=object)[rng.integers(0, 8, miss_n)]

    null_doc = np.zeros(n, dtype=bool)
    null_doc[plan["null_doc"]] = True
    null_tokens = np.zeros(n, dtype=bool)
    null_tokens[plan["null_tokens"]] = True
    null_ntok = np.zeros(n, dtype=bool)
    null_ntok[plan["null_ntok"]] = True
    null_src = np.zeros(n, dtype=bool)
    null_src[rng.choice(n, max(1, n // 5000), replace=False)] = True

    tokens = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                      pa.array(values, pa.int32()),
                                      mask=pa.array(null_tokens))
    table = pa.table({
        "doc_id": pa.array(doc_ids.astype(object), pa.string(), mask=null_doc),
        "tokens": tokens,
        "n_tok": pa.array(n_tok.astype(np.int32), pa.int32(), mask=null_ntok),
        "source": pa.array(source, pa.string(), mask=null_src),
        "_ord": pa.array(ords, pa.int64()),
    })

    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    per = -(-n // CORPUS_FILES)
    for i in range(CORPUS_FILES):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(corpus_dir, f"part-{i:05d}.parquet"),
                       row_group_size=per)
    pq.write_table(pa.table({"source": pa.array(dim, pa.string())}),
                   os.path.join(out_dir, "dim.parquet"))

    # reference snapshot: the n_tok histogram of an independent clean
    # draw, in drift_check's (bucket, cnt) shape
    ref = rng.integers(1, MAX_NTOK + 1, 200_000)
    width = (HIST_HI - HIST_LO) / HIST_BUCKETS
    b = np.where(ref < HIST_LO, 0, np.where(ref >= HIST_HI, HIST_BUCKETS + 1,
                                            np.floor((ref - HIST_LO) / width) + 1))
    buckets, counts = np.unique(b.astype(np.int64), return_counts=True)
    pq.write_table(pa.table({"bucket": pa.array(buckets, pa.int64()),
                             "cnt": pa.array(counts.astype(np.int64))}),
                   os.path.join(out_dir, "ref.parquet"))
