"""Statistics of a set of query tables, to compare the benchmark's
generated inputs with the repo's sf0.1 query fixture.

    python3 perfbench/fixture_stats.py <dir of <table>.parquet files>
    python3 perfbench/fixture_stats.py --generated <seed> <sf>

``FIXTURE_SF01`` records the figures measured on the sf0.1 fixture (the
directory ``bench.py`` reads by default); ``perfbench/inputs.py`` takes
its parameters from them, and the self-tests check that the generator at
sf0.1 reproduces them.
"""

from __future__ import annotations

import json
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "embeddings", "events", "orders", "lineitem", "customer", "part", "supplier")

# measured on the sf0.1 fixture with this script
FIXTURE_SF01 = {
    "documents.rows": 5000,
    "embeddings.rows": 2000,
    "events.rows": 100000,
    "orders.rows": 150000,
    "lineitem.rows": 600000,
    "customer.rows": 15000,
    "part.rows": 20000,
    "supplier.rows": 1000,
    "documents.words_min": 10,
    "documents.words_max": 100,
    "documents.words_mean": 54.1408,
    "documents.vocab": 31,
    "documents.dup_share": 0.05,
    "documents.exact_dup_share": 0.0016,
    "documents.near_dup_pairs": 256,
    "documents.en_share": 0.4118,
    "documents.sources": 20,
    "embeddings.dim": 64,
    "embeddings.norm_err": 1.2e-07,
    "embeddings.centroid_z": 1.0132,
    "embeddings.label_centroid_z_max": 1.08,
    "embeddings.max_pair_cos": 0.6009,
    "embeddings.labels": 10,
    "events.users": 1500,
    "events.per_user_median": 66.0,
    "events.ts_span_days": 30,
    "events.ts_sorted": 1,
    "events.types": 5,
    "events.value_mean": 49.8683,
    "events.props_k": 100,
    "orders.totalprice_mean": 250155.9417,
    "lineitem.orders_hit": 147236,
    "lineitem.extendedprice_mean": 52952.0035,
    "lineitem.quantity_mean": 25.5007,
    "customer.acctbal_mean": 4547.0741,
    "part.names": 64,
    "part.brands": 25,
    "part.retailprice_mean": 949.95,
}


def _near_dup_pairs(words: list[list[str]]) -> int:
    """Pairs of documents whose word-3-shingle sets have Jaccard >= 0.5
    (inverted index over shingles; shingles shared by > 200 docs skipped)."""
    shingles = [set(zip(w, w[1:], w[2:])) for w in words]
    index: dict[tuple, list[int]] = {}
    for i, s in enumerate(shingles):
        for g in s:
            index.setdefault(g, []).append(i)
    shared: dict[tuple[int, int], int] = {}
    for ids in index.values():
        if len(ids) <= 200:
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    shared[(ids[a], ids[b])] = shared.get((ids[a], ids[b]), 0) + 1
    return sum(1 for (a, b), c in shared.items() if c / len(shingles[a] | shingles[b]) >= 0.5)


def measure(tables: dict[str, pa.Table]) -> dict[str, float]:
    out: dict[str, float] = {f"{t}.rows": tables[t].num_rows for t in TABLES}

    d = tables["documents"].to_pandas()
    words = [t.split() for t in d["text"]]
    lens = np.array([len(w) for w in words])
    out.update(
        {
            "documents.words_min": int(lens.min()),
            "documents.words_max": int(lens.max()),
            "documents.words_mean": float(lens.mean()),
            "documents.vocab": len({x for w in words for x in w}),
            "documents.dup_share": float(np.mean([w[-1] == "dup" for w in words])),
            "documents.exact_dup_share": float(d["text"].duplicated().mean()),
            "documents.near_dup_pairs": _near_dup_pairs(words),
            "documents.en_share": float((d["lang"] == "en").mean()),
            "documents.sources": int(d["source"].nunique()),
        }
    )

    e = tables["embeddings"].to_pandas()
    x = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    cos = x @ x.T
    np.fill_diagonal(cos, -2.0)
    # ||mean|| * sqrt(n) is ~1 for isotropic unit vectors and grows with
    # any shared direction (a cluster centre)
    out.update(
        {
            "embeddings.dim": x.shape[1],
            "embeddings.norm_err": float(np.abs(np.linalg.norm(x, axis=1) - 1.0).max()),
            "embeddings.centroid_z": float(np.linalg.norm(x.mean(0)) * np.sqrt(len(x))),
            "embeddings.label_centroid_z_max": float(
                max(np.linalg.norm(x[e["label"] == v].mean(0)) * np.sqrt((e["label"] == v).sum()) for v in e["label"].unique())
            ),
            "embeddings.max_pair_cos": float(cos.max()),
            "embeddings.labels": int(e["label"].nunique()),
        }
    )

    ev = tables["events"].to_pandas()
    out.update(
        {
            "events.users": int(ev["user_id"].nunique()),
            "events.per_user_median": float(ev["user_id"].value_counts().median()),
            "events.ts_span_days": round((ev["ts"].max() - ev["ts"].min()).total_seconds() / 86400.0),
            "events.ts_sorted": int(ev["ts"].is_monotonic_increasing),
            "events.types": int(ev["event_type"].nunique()),
            "events.value_mean": float(ev["value"].mean()),
            "events.props_k": int(ev["props"].nunique()),
        }
    )

    li = tables["lineitem"].to_pandas()
    out.update(
        {
            "orders.totalprice_mean": float(tables["orders"]["o_totalprice"].to_numpy().mean()),
            "lineitem.orders_hit": int(li["l_orderkey"].nunique()),
            "lineitem.extendedprice_mean": float(li["l_extendedprice"].mean()),
            "lineitem.quantity_mean": float(li["l_quantity"].mean()),
            "customer.acctbal_mean": float(tables["customer"]["c_acctbal"].to_numpy().mean()),
            "part.names": len(set(tables["part"]["p_name"].to_pylist())),
            "part.brands": len(set(tables["part"]["p_brand"].to_pylist())),
            "part.retailprice_mean": float(tables["part"]["p_retailprice"].to_numpy().mean()),
        }
    )
    return out


def main(argv: list[str]) -> int:
    if argv[:1] == ["--generated"] and len(argv) == 3:
        import inputs

        tables = inputs.sf_tables(int(argv[1]), float(argv[2]))
    elif len(argv) == 1:
        tables = {t: pq.read_table(f"{argv[0]}/{t}.parquet") for t in TABLES}
    else:
        print(__doc__, file=sys.stderr)
        return 2
    print(json.dumps(measure(tables), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
