"""The survey's driver-held summaries: the value census taken by
``features.build_code_maps`` and the collected contingency cells.

Everything the survey asks after the encode is answered from these two
summaries, so the cases where a derived count can go wrong — NULL
clusters and NULL answers — are checked here against the direct
computation over the rows. The inference results built on the driver
must enter Spark as local scans, not as Python-backed RDD scans.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import business as B
from qudo_etl_pipeline_spark.ml import clustering as C
from qudo_etl_pipeline_spark.ml import features as FE
from qudo_etl_pipeline_spark.operators import contingency as CT


@pytest.fixture(scope="module")
def survey(spark):
    """Clusters 0/1/2 plus a NULL cluster; NULL answers in every
    question, a cluster whose `mc_` answers are all NULL, and a question
    that is NULL everywhere."""
    rows = []
    for i in range(120):
        cl = None if i % 10 == 0 else i % 3
        # q1 follows the cluster, so the tables have significant cells
        q1 = None if i % 7 == 0 else "abc"[cl if cl is not None and i % 4 else 2]
        mc = None if cl == 2 or i % 11 == 0 else ["Facebook", "Twitter"][i % 2]
        num = None if i % 5 == 0 else str(i % 4)
        rows.append((i, cl, q1, mc, num, None))
    return spark.createDataFrame(
        rows,
        "id long, cluster int, q1 string, mc_social string, q_num string,"
        " q_empty string",
    ).cache()


VARS = ["q1", "mc_social", "q_num", "q_empty"]


@pytest.fixture(scope="module")
def tables(survey):
    return CT.contingency_tables(survey, "cluster", variables=VARS)


def test_driver_built_frames_are_local_scans(spark, tables):
    """deliver, discover, chi2, post-hoc and Cramér's V frames plan as
    LocalTableScan: a ``Scan ExistingRDD`` over a PythonRDD forks a
    Python worker for every action on the frame."""
    deliver = CT.deliver_stats(tables, alpha=1.0)
    frames = {
        "deliver_stats": deliver,
        "discover_stats": CT.discover_stats(deliver),
        "chi2_by_variable": CT.chi2_by_variable(tables),
        "post_hoc_cells": CT.post_hoc_cells(tables, alpha=1.0),
        "cramers_v": CT.cramers_v(tables),
    }
    assert frames["deliver_stats"].collect()
    for name, df in frames.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
        assert "LocalTableScan" in plan, (name, plan)


def test_deliver_rows_are_the_deliver_frame(tables):
    """The metrics read the rows the deliver frame holds."""
    rows = CT.deliver_rows(tables, alpha=1.0)
    assert rows
    assert rows == CT.deliver_stats(tables, alpha=1.0).collect()


def test_census_sniff_matches_try_cast_pass(spark):
    """The census' numeric sniff is the old per-column try-cast pass:
    schema-numeric columns first, then the string columns whose every
    non-null value casts to double, NULLs and all-NULL columns
    included."""
    df = spark.createDataFrame(
        [
            ("1", None, 1.5, "x", None, 3, None),
            (None, None, None, "2", None, None, True),
            ("2.5", None, 2.5, None, None, 4, False),
        ],
        "s_num string, s_null string, d double, s_mixed string,"
        " i_null int, i int, b boolean",
    )
    strings = ["s_num", "s_null", "s_mixed"]
    bad = df.agg(
        *[
            F.sum(
                (
                    F.col(c).isNotNull() & F.col(c).try_cast("double").isNull()
                ).cast("int")
            ).alias(c)
            for c in strings
        ]
    ).first()
    expect = ["d", "i_null", "i"] + [c for c in strings if not bad[c]]
    assert expect == ["d", "i_null", "i", "s_num", "s_null"]
    assert FE.sniff_numeric_columns(df) == expect
    census = FE.build_code_maps(df, df.columns)
    assert census.all_numeric == expect
    # NULL rows are counted, so every column's census sums to the rows
    assert all(sum(c.values()) == 3 for c in census.counts.values())
    assert census.counts["s_null"] == {None: 3}


def test_rules_labels_from_census(survey):
    """Labels from the census code map equal the labels rules_based
    builds itself, on the raw answers and on the encoded codes; a NULL
    answer has no label."""
    census = FE.build_code_maps(survey, ["q1"])

    def labels(df, **kw):
        return {
            (r["id"], r["prediction"])
            for r in C.rules_based(df, "q1", **kw).select("id", "prediction").collect()
        }

    own = labels(survey)
    assert labels(survey, code_map=census["q1"]) == own
    encoded = FE.label_encode(survey, ["q1"], code_maps=census)
    identity = {str(i): i for i in census["q1"].values()}
    assert labels(encoded, code_map=identity) == own
    assert {p for i, p in own if i % 7 == 0} == {None}


def test_cluster_sizes_from_row_markers(survey, tables):
    """Every cluster's size, the NULL cluster's as total less the
    others."""
    clusters = survey.toPandas()["cluster"]
    want = Counter(None if math.isnan(c) else int(c) for c in clusters)
    assert tables.cluster_n == dict(want)
    assert tables.cluster_n[None] == 12


def test_magnitude_reads_row_marker_sizes(survey, tables):
    deliver = [
        {"q_code": "x_tgt", "targeting_seg": "0"},
        {"q_code": "y_tgt", "targeting_seg": None},
    ]
    m = B.magnitude(deliver, tables.cluster_n, ["x_tgt", "y_tgt"])
    n = survey.count()
    sizes = {
        r["cluster"]: r["count"]
        for r in survey.groupBy("cluster").count().collect()
    }
    assert m[0] == round(0.5 * round(sizes[0] / n, 2), 3)
    assert m[None] == round(0.5 * round(sizes[None] / n, 2), 3)
    assert m[1] == 0.0


def test_social_presence_cells_match_rows(survey, tables):
    """Shares from the tables' cells equal both the one-aggregation
    path and the reference's rule over the rows, per cluster and for
    the NULL cluster; a cluster answering nothing scores 0.0."""
    pdf = survey.toPandas()
    want = {}
    for key, g in pdf.groupby("cluster", dropna=False):
        k = None if math.isnan(key) else int(key)
        want[k] = round(int((g["mc_social"] == "Facebook").sum()) / len(g), 3)
    from_cells = B.social_presence(survey, "Facebook", pred="cluster", tables=tables)
    from_rows = B.social_presence(survey, "Facebook", pred="cluster")
    assert from_cells == want
    assert from_rows == want
    assert want[2] == 0.0 and None in want
    # tables without every mc_ column fall back to one aggregation
    partial = CT.contingency_tables(survey, "cluster", variables=["q1"])
    got = B.social_presence(survey, "Facebook", pred="cluster", tables=partial)
    assert got == want
    assert math.isnan(
        B.social_presence(survey, "Snapchat", pred="cluster", tables=tables)
    )


def test_mode_list_from_cells_matches_pandas(survey, tables):
    """Per non-NULL cluster, mode(dropna=False).head(1): NULL answers
    count as a value and sort last on ties; an all-NULL question's mode
    is NULL; the cluster column's own row is kept."""
    pdf = survey.toPandas()
    got = {
        (r["cluster"], r["variable"]): r["mode_value"]
        for r in CT.cluster_mode_list(tables).collect()
    }
    want = {}
    for key, g in pdf.dropna(subset=["cluster"]).groupby("cluster"):
        seg = str(int(key))
        for v in VARS:
            counts = Counter(g[v])
            want[(seg, v)] = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0] is None, kv[0] or "")
            )[0]
        want[(seg, "cluster")] = seg
    assert got == want
    assert {got[(s, "q_empty")] for s in ("0", "1", "2")} == {None}


def test_hot_cell_bound_from_census(spark):
    """The census bound: no cell holds more than the n rows, so a hot
    cell is possible only while n reaches HOT_SHARE of the
    aggregation's n row markers plus non-null answers."""
    assert CT.HOT_SHARE == 0.3

    def counts(answered):
        # n = 100 rows; 100 + 100 + `answered` non-null answers
        return {
            "q1": {"a": 50, "b": 50},
            "q2": {"x": 60, "y": 40},
            "q3": {"a": answered, None: 100 - answered},
        }

    # 100 / (100 + 233) = 0.3003 and 100 / (100 + 234) = 0.2994
    assert CT.hot_cell_possible(counts(33))
    assert not CT.hot_cell_possible(counts(34))
    wide = {f"q{i}": {"a": 50, "b": 50} for i in range(10)}
    assert not CT.hot_cell_possible(wide)
    # two filled columns can hold a hot cell, three cannot
    assert CT.hot_cell_possible({"q1": {"a": 100}, "q2": {"b": 100}})
    assert not CT.hot_cell_possible(
        {"q1": {"a": 100}, "q2": {"b": 100}, "q3": {"c": 100}}
    )
    # the planted sentinel cell of the salting test: the probe fires,
    # and the census cannot rule it out
    rows = [(i, 0, "not selected") for i in range(1700)]
    rows += [(i, 1 + i % 2, ["a", "b", "c"][i % 3]) for i in range(1700, 2000)]
    df = spark.createDataFrame(rows, "id long, cluster int, q1_tgt string")
    census = FE.build_code_maps(df, ["q1_tgt"])
    assert CT.hot_cell_possible(census.counts)
    salted = CT.contingency_tables(
        df, "cluster", variables=["q1_tgt"], id_vars=["id"],
        salt_cells="auto", value_counts=census.counts,
    )
    assert "_salt" in salted.cells._jdf.queryExecution().toString()
