"""Seeded benchmark inputs, written to parquet during set-up.

``sf_tables`` makes the contract-query tables (documents, embeddings,
events, the TPC-H-ish star) with the schema and value distributions of
the sf0.1 query fixture, drawn from a numpy generator seeded by the
workload seed. The benchmark reads nothing outside its own checkout, so
it makes its fixture instead of reading the external one. Each parameter
below comes from a statistic measured on that fixture
(``fixture_stats.FIXTURE_SF01``); the self-tests check the generator
against them.

Spark reads a directory of several files per table (so a scan splits
across the cores); DuckDB reads a single-file copy of the same rows
(``tools/check_oracle.duck_run`` opens ``<dir>/<table>.parquet``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 30 words drawn uniformly, 10-99 per document; "dup" only marks near-duplicates
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_SHARE = 0.05  # documents that copy another document and append " dup"
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PART_TYPES = np.array(["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"])
PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
N_LABELS = 10
USERS_PER_EVENT = 0.015  # 1,500 users over 100,000 events
# fixture row counts at sf = 1 (the sf0.1 fixture holds a tenth of each)
ROWS_PER_SF = {
    "documents": 50_000,
    "embeddings": 20_000,
    "events": 1_000_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "customer": 150_000,
    "part": 200_000,
    "supplier": 10_000,
}
# files per table on the Spark side: one scan task per file
SPARK_FILES = 4


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n)).astype("datetime64[us]")


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(VOCAB)
    lens = rng.integers(10, 100, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # near-duplicates are made in turn, so one may copy an earlier one
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array(np.char.add("src", (ids % 20).astype(str))),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    # isotropic unit vectors; the label is independent of the vector
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label})


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
        }
    )


def sf_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every contract-query table at scale factor ``sf``; same seed, same rows."""
    rng = np.random.default_rng([seed, 0x5F])
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    n_cust, n_part, n_supp, n_ord, n_li = (n[k] for k in ("customer", "part", "supplier", "orders", "lineitem"))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = rng.integers(90_000, 10_500_001, n_li) / 100.0
    return {
        "documents": documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
        "events": _events(rng, n["events"], max(2, round(n["events"] * USERS_PER_EVENT))),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
                "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
                "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
                "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": np.char.add("Customer#", np.char.zfill(np.arange(n_cust).astype(str), 9)),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": rng.integers(-99_999, 999_981, n_cust) / 100.0,
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": np.char.add("Supplier#", np.char.zfill(np.arange(n_supp).astype(str), 9)),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": rng.integers(-99_999, 999_981, n_supp) / 100.0,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
    }


def write_tables(tables: dict[str, pa.Table], spark_dir: str, duck_dir: str | None = None) -> int:
    """Write each table as ``<spark_dir>/<name>.parquet/part-*.parquet``
    (several files) and, if asked, ``<duck_dir>/<name>.parquet`` (one
    file). Returns the bytes written on the Spark side."""
    total = 0
    for name, t in tables.items():
        d = os.path.join(spark_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // SPARK_FILES)
        for i in range(0, max(t.num_rows, 1), max(step, 1)):
            path = os.path.join(d, f"part-{i // max(step, 1):05d}.parquet")
            pq.write_table(t.slice(i, step), path)
            total += os.path.getsize(path)
        if duck_dir is not None:
            os.makedirs(duck_dir, exist_ok=True)
            pq.write_table(t, os.path.join(duck_dir, f"{name}.parquet"))
    return total

