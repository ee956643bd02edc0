"""Output checks, run outside the timed region.

Catalog: each query's Spark result is compared with its DuckDB oracle
by the order-insensitive result hash of tools/selfcheck.py; the one
query without an oracle, ``lca_documents``, by the invariants of its
class sizes. Survey: every respondent is labelled exactly once, each
fitted family has k distinct labels, every family wrote non-empty
deliver and discover sinks and one ``metrics_csv`` row, and the
deterministic families' deliver digests equal the digests kept in
``digests.json``.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pyarrow.parquet as pq

from tools.selfcheck import result_hash

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")

# families whose labels do not depend on a random seed
DETERMINISTIC = ("rules_based", "kmodes", "kprototypes")


# -- catalog -------------------------------------------------------------

def duckdb_oracle(data_dir: str):
    """A DuckDB connection with one view per catalog table."""
    import duckdb

    from qudo_etl_pipeline_spark.catalog import create_duckdb_views

    con = duckdb.connect()
    create_duckdb_views(con, data_dir)
    return con


def catalog_matches(con, oracle_sql: str, spark_pdf: pd.DataFrame) -> bool:
    """The repository's oracle gate: same columns, same rows in any
    order (tools/selfcheck.py)."""
    return result_hash(con.sql(oracle_sql).df()) == result_hash(spark_pdf)


def lca_sizes_problems(con, pdf: pd.DataFrame, k: int) -> list[str]:
    """``lca_documents`` has no oracle (iterative EM): its class sizes
    must be 1..k distinct classes that partition the documents."""
    n_docs = con.sql("select count(*) from documents").fetchone()[0]
    problems = []
    if list(pdf.columns) != ["cluster", "n"]:
        problems.append(f"columns {list(pdf.columns)}")
    elif not (1 <= len(pdf) <= k and pdf["cluster"].is_unique and (pdf["n"] > 0).all()):
        problems.append(f"class sizes {pdf.to_dict('records')} for k={k}")
    elif pdf["n"].sum() != n_docs:
        problems.append(f"class sizes sum to {pdf['n'].sum()}, {n_docs} documents")
    return problems


# -- surveys -------------------------------------------------------------

def _read_parquet_dir(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def deliver_digest(out_dir: str, scheme: str, algo: str) -> str:
    # floats rounded to 6 decimals, so a summation-order change in the
    # last bits does not flip the digest
    deliver = _read_parquet_dir(os.path.join(out_dir, scheme, algo, "deliver"))
    return result_hash(deliver.round(6))


def survey_problems(
    results: dict, out_dir: str, n_respondents: int, id_col: str, rules_col: str
) -> list[str]:
    """Every broken survey invariant, as one message each. A family
    that reports ``n_clusters`` must have that many distinct labels;
    rules_based must map the distinct non-null answers of ``rules_col``
    one to one onto its labels."""
    from pyspark.sql import functions as F

    problems = []
    n_families = 0
    for scheme, by_algo in results.items():
        for algo, res in by_algo.items():
            n_families += 1
            tag = f"{scheme}/{algo}"
            if res.get("labels") is None:
                problems.append(f"{tag}: no labels ({res['metrics']})")
                continue
            aggs = [
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(id_col).alias("ids"),
                F.countDistinct("prediction").alias("k"),
            ]
            if algo == "rules_based":
                aggs += [
                    F.countDistinct(rules_col).alias("answers"),
                    F.countDistinct(rules_col, "prediction").alias("pairs"),
                ]
            row = res["labels"].agg(*aggs).first()
            if not (row["n"] == row["ids"] == n_respondents):
                problems.append(
                    f"{tag}: {row['n']} labels for {row['ids']} ids, "
                    f"{n_respondents} respondents"
                )
            k = res["metrics"].get("n_clusters")
            if algo == "rules_based":
                k = row["answers"]
                if row["pairs"] != k:
                    problems.append(f"{tag}: {row['pairs']} (answer, label) pairs, {k} answers")
            if isinstance(k, int) and row["k"] != k:
                problems.append(f"{tag}: {row['k']} distinct labels, k={k}")
            elif row["k"] < 2:
                problems.append(f"{tag}: {row['k']} distinct labels")
            for sink in ("deliver", "discover"):
                files = glob.glob(os.path.join(out_dir, scheme, algo, sink, "*.parquet"))
                rows = sum(pq.read_metadata(f).num_rows for f in files)
                if rows == 0:
                    problems.append(f"{tag}: empty {sink} sink")
    csvs = glob.glob(os.path.join(out_dir, "metrics_csv", "*.csv"))
    n_rows = sum(len(pd.read_csv(f)) for f in csvs)
    if n_rows != n_families:
        problems.append(f"metrics_csv has {n_rows} rows for {n_families} families")
    return problems


def digest_problems(results: dict, out_dir: str, key: str) -> list[str]:
    """Deterministic families' deliver digests vs the kept ones."""
    kept = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            kept = json.load(fh)
    problems = []
    for scheme, by_algo in results.items():
        for algo in by_algo:
            if algo not in DETERMINISTIC:
                continue
            name = f"{key}/{scheme}/{algo}"
            got = deliver_digest(out_dir, scheme, algo)
            if kept.get(name) != got:
                problems.append(f"{name}: deliver digest {got} != kept {kept.get(name)}")
    return problems
