"""Deterministic structure-preserving K-fold scale-up of an SF directory
(r12, VERDICT r11 item 4: sf0.1's 8-vs-32-core ratios sit at ~1 because
every catalog row is stage-latency-bound at 17 MB of input — larger-SF
evidence is needed to show which rows actually scale with cores).

The scaled directory holds K disjoint isomorphic copies of every fact
table, so each query's per-copy work is identical to sf0.1 and total
work is exactly K x:

- Key columns get a per-copy offset of ``copy * stride`` where stride is
  the table's key-space size (orderkey 150000, custkey/user_id 15000,
  partkey 20000, suppkey 1000, doc_id/vec_id 5000 — doc and vec SHARE a
  stride because embedding_gated_curation joins vec_id = doc_id).  All
  within-copy join structure (copurchase graph components, order
  baskets, user sessions) is preserved; copies never join to each other.
- ``nation``/``region`` are dimensions — kept as one copy, FK values
  unchanged.
- ``documents.text`` gets every token suffixed with a per-copy letter
  tag (copy 0 unchanged), so within-copy shingle/token structure is
  isomorphic to sf0.1 while cross-copy Jaccard is 0 — without this, K
  identical corpora would add K^2/2 cross-copy near-dup pairs and the
  scaled workload would measure an artificial quadratic term, not the
  operator.  n_chars is recomputed for the suffixed text.
- ``embeddings.embedding`` gets a per-copy isometry (cyclic dimension
  shift + deterministic sign flips): within-copy cosines are EXACTLY
  those of copy 0 (norms preserved), cross-copy cosines are pseudo-
  random and far from the near-dup threshold, so LSH/kNN candidate
  structure scales linearly like a real corpus.

This directory is for PERFORMANCE measurement only (core-scaling
ratios); the DuckDB oracle never sees it and no query result from it is
compared across configurations except spark-vs-spark.

Usage: python tools/scale_up_sf.py [K] [src] [dst]
       (defaults: K=10, src=/root/testdata/sf0.1, dst=/root/testdata_scaled/sf0.1x<K>)
"""

from __future__ import annotations

import os
import shutil
import string
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRIDES = {
    "o_orderkey": 150_000,
    "l_orderkey": 150_000,
    "o_custkey": 15_000,
    "c_custkey": 15_000,
    "user_id": 15_000,
    "l_partkey": 20_000,
    "p_partkey": 20_000,
    "l_suppkey": 1_000,
    "s_suppkey": 1_000,
    "doc_id": 5_000,
    "vec_id": 5_000,  # shares the doc stride: vec_id joins doc_id
    "event_id": 100_000,
}

DIMENSIONS = {"nation", "region"}  # single copy, FKs unchanged


def scale_table(src: str, dst: str, name: str, k: int) -> None:
    t = pq.read_table(os.path.join(src, f"{name}.parquet"))
    out_path = os.path.join(dst, f"{name}.parquet")
    if name in DIMENSIONS:
        pq.write_table(t, out_path)
        return
    cols = {c: t.column(c).to_numpy(zero_copy_only=False) for c in t.column_names}
    writer = pq.ParquetWriter(out_path, t.schema)
    for c in range(k):
        new = {}
        for col_name, arr in cols.items():
            if col_name in STRIDES:
                new[col_name] = arr + np.int64(c) * np.int64(STRIDES[col_name])
            else:
                new[col_name] = arr
        if name == "documents" and c > 0:
            # unique per copy for any K (base-26, two letters)
            tag = (
                "zz"
                + string.ascii_lowercase[c // 26]
                + string.ascii_lowercase[c % 26]
            )
            texts = np.array(
                [
                    " ".join(w + tag for w in s.split()) if s else s
                    for s in cols["text"]
                ],
                dtype=object,
            )
            new["text"] = texts
            new["n_chars"] = np.array(
                [len(s) if s else 0 for s in texts], dtype=np.int64
            )
        if name == "embeddings" and c > 0:
            emb = np.stack(
                [np.asarray(v, dtype=np.float32) for v in cols["embedding"]]
            )
            dim = emb.shape[1]
            shift = (c * 7) % dim
            signs = (
                np.random.default_rng(c).integers(0, 2, size=dim) * 2 - 1
            ).astype(np.float32)
            emb = np.roll(emb, shift, axis=1) * signs[None, :]
            new["embedding"] = list(emb)
        batch_cols = []
        for field in t.schema:
            v = new[field.name]
            if field.name == "embedding":
                batch_cols.append(pa.array([list(map(float, r)) for r in v],
                                           type=field.type))
            else:
                batch_cols.append(pa.array(v, type=field.type))
        writer.write_table(pa.Table.from_arrays(batch_cols, schema=t.schema))
    writer.close()


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = (
        sys.argv[3]
        if len(sys.argv) > 3
        else f"/root/testdata_scaled/sf0.1x{k}"
    )
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    names = [
        f[: -len(".parquet")]
        for f in sorted(os.listdir(src))
        if f.endswith(".parquet")
    ]
    for name in names:
        t0 = time.time()
        scale_table(src, dst, name, k)
        print(f"{name}: x{k} in {time.time() - t0:.1f}s", file=sys.stderr)
    print(dst)


if __name__ == "__main__":
    main()
