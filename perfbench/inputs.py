"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from the run's
seed: the catalog's star-schema tables (the column names, types and
value domains the catalog queries expect) and the wide respondent
tables of the survey workloads. The same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from qudo_etl_pipeline_spark.fixtures import make_responses

# question columns of the respondent fixture; a survey is widened by
# tiling them under fragment-preserving names, so scheme selection by
# name fragment picks the copies up too
QUESTION_COLS = [
    "weightgain_ww_concern_rb",
    "fin_uk_risk_rb",
    "tech_ww_techcomfort_rb_ord",
    "psy_ww_openness_sc",
    "fin_uk_goal_fb",
    "mc_ww_smplatform_gg",
]

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def survey_responses(n: int, width: int, seed: int) -> pd.DataFrame:
    """``n`` respondents with ``width`` x 6 question columns."""
    pdf = make_responses(n=n, seed=seed)
    for i in range(1, width):
        for c in QUESTION_COLS:
            head, _, tail = c.rpartition("_")
            pdf[f"{head}{i}_{tail}"] = pdf[c]
    return pdf


def _timestamps(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days * 86_400_000_000, size=n)
    return base + offs.astype("timedelta64[us]")


def _dates(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, size=n)).astype("datetime64[us]")


def catalog_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """Star-schema tables at a TPC-H-like scale factor (6M lineitem rows
    at 1.0), with the row counts, key ranges and value domains of the
    repository's sf0.1 test tables at 0.1 (perfbench/README.md)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 100)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 100)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 100)
    n_users = max(int(15_000 * scale), 10)
    n_docs = max(int(50_000 * scale), 100)
    n_vec = max(int(20_000 * scale), 100)

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            n_cust,
        ),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjectives = ["large", "hot", "blue", "red", "small", "cold", "green", "old"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in rng.integers(0, 8, (n_part, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
    })
    ts = np.sort(_timestamps(rng, n_ev, "2024-01-01", 30))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(
            ["signup", "purchase", "view", "click", "error"], n_ev
        ),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lengths = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths]
    # near duplicates (a copy with one appended token) and exact copies,
    # so the dedup and LSH queries have real groups to find
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1) % n_docs] + " dup"
    for i in rng.choice(n_docs, max(n_docs // 600, 1), replace=False):
        texts[i] = texts[(i + 7) % n_docs]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def write_catalog(out_dir: str, seed: int, scale: float) -> None:
    """Write every catalog table as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in catalog_tables(seed, scale).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
