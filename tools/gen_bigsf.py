"""Replicate /root/testdata/sf0.1 K-fold into a builder-local big SF
fixture that mimics the driver's layout (ONE row group per table).

The driver's larger-scale data is not persisted between sessions, so
A/B measurements above sf0.1 need a stand-in. Per-copy key offsets
keep referential integrity (orders <-> lineitem <-> customer,
part/supplier); dimension tables (nation/region) stay single-copy.
Document text is token-suffix-mutated PER COPY so copies share no
3-gram shingles: the MinHash pair output grows ~linearly in K
(K disjoint sf0.1-sized near-dup spaces) instead of the K^2-dense
blowup a verbatim replication produces (r7 escalation-check note).

Usage: python tools/gen_bigsf.py [K] [out_dir]
"""
from __future__ import annotations

import glob
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
K = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bigsf"

# int64 key columns to offset per copy (offset = copy * 1e9 is far
# above every sf0.1 max key and keeps cross-table equality intact)
OFFSET_COLS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
SINGLE_COPY = {"nation", "region"}
OFF = 1_000_000_000


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    for f in sorted(glob.glob(os.path.join(SRC, "*.parquet"))):
        name = os.path.basename(f).removesuffix(".parquet")
        base = pq.read_table(f)
        if name in SINGLE_COPY:
            out_tbl = base
        else:
            copies = []
            for k in range(K):
                cols = {}
                for col in base.schema.names:
                    arr = base.column(col)
                    if col in OFFSET_COLS.get(name, []) and k > 0:
                        arr = pa.chunked_array(
                            [pc.add(c, k * OFF) for c in arr.chunks]
                        )
                    elif name == "embeddings" and col == "embedding" and k > 0:
                        # deterministic per-copy direction perturbation:
                        # verbatim copies give every vector K exact
                        # duplicates and inflate every LSH/grid bucket
                        # density ~K² — the same artificial near-dup-
                        # dense regime the r7 escalation note flags for
                        # text. A fixed pseudo-noise per (copy, row,
                        # dim) keeps the corpus isotropic-ish while
                        # decorrelating copies.
                        import numpy as np

                        lists = arr.to_pylist()
                        rng = np.random.RandomState(1000 + k)
                        out = []
                        for v in lists:
                            if v is None:
                                out.append(None)
                                continue
                            x = np.asarray(v, dtype=np.float32)
                            x = x + rng.standard_normal(x.shape).astype(np.float32) * 1.4 * (
                                float(np.linalg.norm(x)) / max(len(x) ** 0.5, 1.0)
                            )
                            out.append(x.tolist())
                        arr = pa.array(out, type=base.schema.field(col).type)
                    elif name == "documents" and col == "text" and k > 0:
                        # suffix every token: copy k shares no shingle
                        # with copy 0 (pure-python; 5k docs per copy)
                        tag = f"x{k}"
                        arr = pa.array(
                            [
                                None
                                if t is None
                                else " ".join(w + tag for w in t.split(" "))
                                for t in arr.to_pylist()
                            ],
                            type=pa.string(),
                        )
                    cols[col] = arr
                copies.append(pa.table(cols, schema=base.schema))
            out_tbl = pa.concat_tables(copies).combine_chunks()
        pq.write_table(
            out_tbl,
            os.path.join(OUT, f"{name}.parquet"),
            row_group_size=max(out_tbl.num_rows, 1),  # ONE row group, like the driver files
            compression="snappy",
        )
        print(f"{name}: {out_tbl.num_rows} rows -> {OUT}")
    open(os.path.join(OUT, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
