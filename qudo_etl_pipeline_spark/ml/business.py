"""Business metrics over the deliver-stats table and labeled data.

Re-implements (reference: src/kraken/app/metrics.py):
- M28 uniqueness (:311-337): per cluster, 1 - share of
  (q_code, sig_more_category) pairs that any other cluster also has.
- M29 communicability (:340-361): distinct significant 'psy|ae'
  q_codes per segment + the average over all segments.
- M30 social presence (:364-404): detect the `mc_` column carrying the
  platform, then per-cluster share answering exactly that platform.
- M31 magnitude (:636-687): cluster share (rounded 2) x share of
  significant `_tgt` variables (per segment), rounded 3, + total;
  NaN when the total is 0 or exceeds 1.
- M35 message reach (:690-711): social presence x signal per segment.
- M36 significant-variable spread (:177-231): counts of significant
  variables per segment (all and `_tgt`-only) and per-question-prefix
  proportions.
- M37 get_all_metrics (:814-911): the composition layer.

`deliver` is the deliver-stats output of operators/contingency.py
(q_code, targeting_seg, sig_more_category list, chi_2_result,
pop_mode...) as driver-held rows (``contingency.deliver_rows``): it is
aggregate-sized (significant variables x segments, at most
|variables| x |clusters| rows), so the deliver metrics are plain Python
over it and launch no Spark job.

Social presence and magnitude read their counts from the survey's
collected contingency cells (``ContingencyTables``): the `mc_`
column's (cluster, value) cells give the platform counts, and the
row-marker cells give every cluster's size, a NULL cluster included.
:func:`get_all_metrics` takes the survey's tables; a
:func:`social_presence` caller without them gets one cell aggregation
over the `mc_` columns.
`labeled` is the respondent DataFrame with a `prediction` column; the
quality and signal metrics over it aggregate to segment-cardinality
results before collecting.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, Row

from qudo_etl_pipeline_spark.operators.contingency import (
    ContingencyTables,
    contingency_tables,
)


def _pair_key(row: Row) -> str:
    """(q_code, sig_more_category) identity: the reference tuples the
    category list (metrics.py:330-332). NULLs contribute nothing."""
    cats = row["sig_more_category"] or []
    return (row["q_code"] or "") + "".join(c for c in cats if c is not None)


def uniqueness(deliver: list[Row], seg_col: str = "targeting_seg") -> dict:
    """M28: per cluster, 1 - duplicated-pair share (metrics.py:311-337).
    A pair is duplicated when two or more non-NULL segments hold it; a
    NULL segment is scored but never makes a pair a duplicate."""
    pairs = [(r[seg_col], _pair_key(r)) for r in deliver]
    owners: dict[str, set] = {}
    for seg, pair in pairs:
        if seg is not None:
            owners.setdefault(pair, set()).add(seg)
    n = Counter(seg for seg, _ in pairs)
    n_dup = Counter(
        seg for seg, pair in pairs if len(owners.get(pair, ())) > 1
    )
    return {seg: 1 - n_dup[seg] / n[seg] for seg in n}


def communicability(
    deliver: list[Row], seg_col: str = "targeting_seg", pattern: str = "psy|ae"
) -> dict:
    """M29 (metrics.py:340-361): distinct significant q_codes matching
    the creative/psychometric regex per segment; avg = total / number of
    segments in the WHOLE deliver table (a NULL segment counts)."""
    rx = re.compile(pattern)
    codes: dict = {}
    for r in deliver:
        if r["q_code"] is not None and rx.search(r["q_code"]):
            codes.setdefault(r[seg_col], set()).add(r["q_code"])
    data = {seg: len(qs) for seg, qs in codes.items()}
    n_segs = len({r[seg_col] for r in deliver})
    avg = sum(data.values()) / n_segs if n_segs else float("nan")
    return {"data": data, "avg": avg}


def find_social_column(
    tables: ContingencyTables, sm_platform: str, candidates: list[str]
) -> str | None:
    """The first candidate column whose values mention the platform
    (metrics.py:374-390), read off the collected cells."""
    needle = sm_platform.lower()
    for c in candidates:
        if any(needle in cell.value.lower() for cell in tables.cells_of(c)):
            return c
    return None


def social_presence(
    labeled: DataFrame,
    sm_platform: str,
    pred: str = "prediction",
    marker: str = "mc_",
    tables: ContingencyTables | None = None,
) -> dict | float:
    """M30 (metrics.py:364-404): per-cluster share answering exactly
    `sm_platform` on the detected column, rounded 3 with Python round
    (metrics.py:402). NaN if no column.

    Read from ``tables`` (the cells of ``labeled`` by ``pred``) when
    every `marker` column of ``labeled`` is one of its variables; else
    one cell aggregation over those columns answers both the detection
    and the shares. A cluster's share is its platform cell over its row
    count, so a cluster with no answer on the column scores 0.0, as the
    reference's ``(col == platform).sum() / len`` does."""
    cands = [c for c in labeled.columns if marker in c]
    if not cands:
        return float("nan")
    if tables is None or not set(cands) <= set(tables.variables):
        tables = contingency_tables(labeled, pred, variables=cands)
    col = find_social_column(tables, sm_platform, cands)
    if col is None:
        return float("nan")
    hits = {
        c.cluster: c.observed
        for c in tables.cells_of(col)
        if c.value == sm_platform
    }
    return {k: round(hits.get(k, 0) / n, 3) for k, n in tables.cluster_n.items()}


def magnitude(
    deliver: list[Row],
    cluster_n: dict,
    tgt_cols: list[str],
    seg_col: str = "targeting_seg",
) -> dict | float:
    """M31 (metrics.py:636-687): magnitude = cluster share (round 2) x
    (significant `_tgt` rows per segment / #tgt variables), round 3;
    plus 'all_clusters' total; NaN if total is 0 or > 1. ``cluster_n``
    is {cluster: rows}, a NULL cluster included
    (:attr:`ContingencyTables.cluster_n`)."""
    num_tgt = len(tgt_cols)
    if num_tgt == 0:
        return float("nan")
    total = sum(cluster_n.values())
    pct = {k: round(n / total, 2) for k, n in cluster_n.items()}
    sig_counts = Counter(
        r[seg_col]
        for r in deliver
        if r["q_code"] is not None and "tgt" in r["q_code"].lower()
    )
    out = {}
    for seg, share in pct.items():
        ratio = sig_counts.get(str(seg), sig_counts.get(seg, 0)) / num_tgt
        out[seg] = round(ratio * share, 3)
    s = round(sum(out.values()), 3)
    if s <= 0 or s > 1:
        return float("nan")
    out["all_clusters"] = s
    return out


def message_reach(social: dict, signal: dict) -> dict | float:
    """M35 (metrics.py:690-711): presence x signal per segment."""
    signal = dict(signal)
    if not isinstance(social, dict):
        return float("nan")
    if len(signal) > len(social):
        signal.pop("all", None)
    if len(signal) != len(social) or not signal:
        return float("nan")
    out = {}
    for label in sorted(int(k) for k in signal):
        out[str(label)] = round(
            social[label] * signal[str(label)]["signal"], 3
        )
    return out


def question_prefix(code: str | None) -> str | None:
    """Prefix before '_' when present, else the whole code
    (metrics.py:192-197); a NULL code is its own (NULL) prefix."""
    return code.split("_")[0] if code is not None else None


def significant_variables_and_spread(
    deliver: list[Row],
    alpha: float = 0.05,
    seg_col: str = "targeting_seg",
) -> tuple[dict, dict, dict, dict]:
    """M36 (metrics.py:208-231): counts of significant variables per
    segment (all / `_tgt`), and per-question-prefix proportions of
    significant variables vs all variables (all / `_tgt` universes)."""

    def is_tgt(r: Row) -> bool:
        return r["q_code"] is not None and "_tgt" in r["q_code"]

    sig = [
        r
        for r in deliver
        if r["chi_2_result"] is not None and r["chi_2_result"] <= alpha
    ]
    sig_tgt = [r for r in sig if is_tgt(r)]

    def spread(filtered: list[Row], universe: list[Row]) -> dict:
        # the denominator is the prefix count over the UNFILTERED rows
        # across ALL segments — the reference's overall_counts
        # (metrics.py:198-204) divides exactly so; per-segment universes
        # would read more naturally but would break parity
        overall = Counter(question_prefix(r["q_code"]) for r in universe)
        counts = Counter(
            (r[seg_col], question_prefix(r["q_code"])) for r in filtered
        )
        out: dict = {}
        for (seg, p), n in counts.items():
            out.setdefault(seg, {})[p] = n / overall[p]
        return out

    return (
        dict(Counter(r[seg_col] for r in sig)),
        dict(Counter(r[seg_col] for r in sig_tgt)),
        spread(sig, deliver),
        spread(sig_tgt, [r for r in deliver if is_tgt(r)]),
    )


def get_all_metrics(
    labeled: DataFrame,
    tables: ContingencyTables,
    deliver: list[Row] | None = None,
    features_col: str = "features",
    pred: str = "prediction",
    tgt_cols: list[str] | None = None,
    n_seed=None,
    sm_platform: str = "Facebook",
    refit=None,
    with_random_baseline: bool = True,
    social_df: DataFrame | None = None,
    feature_dim: int | None = None,
) -> dict:
    """M37 (metrics.py:814-911): compose quality + consistency +
    business metrics into one dict. `refit` (optional) is the
    train->scorer callable used by the consistency checks. ``tables``:
    the contingency tables of ``social_df`` by ``pred``; the magnitude's
    cluster sizes and, when its `mc_` columns are variables, social
    presence read their cells.

    ``deliver``: the deliver-stats rows
    (:func:`~qudo_etl_pipeline_spark.operators.contingency.deliver_rows`).
    ``social_df``: frame with the ORIGINAL (unencoded) answers plus the
    prediction column, for social presence — the reference passes
    full_data separately from data_encoded (metrics.py:840) because
    'facebook' matching cannot work on label codes. Defaults to
    ``labeled`` for callers that kept string answers. ``feature_dim``:
    the width of ``features_col``, when the caller knows it (saves
    cluster_quality's probe)."""
    from qudo_etl_pipeline_spark.ml import quality as Q
    from qudo_etl_pipeline_spark.ml import signal as S

    social_df = labeled if social_df is None else social_df
    metrics = Q.cluster_quality(
        labeled, features=features_col, pred=pred, n_seed=n_seed, dim=feature_dim
    )
    if with_random_baseline:
        metrics = Q.random_checker(
            labeled, features=features_col, pred=pred, cluster_metrics=metrics
        )
    metrics["fb_presence"] = social_presence(
        social_df, sm_platform, pred=pred, tables=tables
    )
    if refit is not None:
        metrics["model_consistency"] = S.model_consistency(labeled, refit, label_col=pred)
        metrics["label_consistency"] = S.label_consistency(labeled, refit, label_col=pred)
    else:
        metrics["model_consistency"] = float("nan")
        metrics["label_consistency"] = float("nan")
    if deliver is not None:
        metrics["uniqueness"] = uniqueness(deliver)
        comm = communicability(deliver)
        metrics["communicability_clusters"] = comm["data"]
        metrics["communicability_avg"] = comm["avg"]
        if tgt_cols:
            metrics["magnitude"] = magnitude(deliver, tables.cluster_n, tgt_cols)
            sig = S.signal_loss(labeled, tgt_cols, target_col=pred)
            metrics["signal_loss"] = sig
            metrics["message_reach"] = message_reach(
                metrics["fb_presence"], sig
            )
        (
            metrics["num_sig_vars"],
            metrics["num_sig_tgt_vars"],
            metrics["sig_question_groups"],
            metrics["sig_tgt_question_groups"],
        ) = significant_variables_and_spread(deliver)
    return metrics
