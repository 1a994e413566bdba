"""Seeded input generators for the benchmark.

``registry_tables`` writes the star-schema + documents + embeddings tables
that the ``dedup_*`` and ``tpch_*`` registry queries read, with the same
schemas and value domains as the TPC-H-style test data of TESTDATA.md,
from numpy alone (no JVM). ``kg_docs`` writes the pipeline's input corpus
through the program's own deterministic generator
(``ner_spark.synth.synth_docs``) and needs a live Spark session.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
REGISTRY_TABLES = (
    "region nation customer supplier part orders lineitem documents embeddings".split()
)


def _days(rng: np.random.Generator, day0, n_days: int, n: int) -> np.ndarray:
    return (day0 + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random-word documents; ~5% are near-duplicates of an earlier
    document (same tokens plus a trailing ``dup``), the structure the
    dedup family mines."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    """Unit vectors around ten labelled cluster centres."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + rng.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v), "label": label}
    )


def registry_frames(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The registry tables at scale ``sf`` (sf=0.01: 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_docs = int(6_000_000 * sf), int(50_000 * sf)
    n_vec = max(int(20_000 * sf), 500)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    keys = lambda n: np.arange(n, dtype=np.int64)  # noqa: E731
    out = {
        "region": pd.DataFrame({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pd.DataFrame(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": keys(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": keys(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": keys(n_part),
                "p_name": [
                    f"{COLORS[c]} {NOUNS[w]}"
                    for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(P_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": keys(n_ord),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, ORDER_DAY0, ORDER_DAYS, n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, SHIP_DAY0, SHIP_DAYS, n_line),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vec),
    }
    return out


def registry_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the registry tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in registry_frames(seed, sf).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir


def kg_docs(spark, out_dir: str, seed: int, n_docs: int) -> str:
    """Write ``n_docs`` pipeline input documents for ``seed`` as parquet."""
    from ner_spark import synth

    synth.synth_docs(spark, n_docs, seed=seed).write.mode("overwrite").parquet(out_dir)
    return out_dir
