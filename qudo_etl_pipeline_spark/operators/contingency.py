"""Contingency-table / chi-squared inference core.

Re-implements the reference's ``ChiSquaredTester`` engine
(reference: src/kraken/app/inference/chisquared_tester.py). The
reference loops ``clusters x variables`` times over the full pandas
table, computing one ``pd.crosstab`` per pair
(chisquared_tester.py:1434-1589). Here the wide table is melted once
(plans/melt.py) and ONE ``groupBy(variable, cluster, value).count()``
produces every crosstab cell simultaneously. That aggregation is the
only Spark work: :class:`ContingencyTables` collects its rows once, and
the finalize step — dense grids, expected counts, the chi-squared test,
post-hoc residuals and deliver rows — runs on the driver in plain
Python, the same small-crosstab arithmetic the reference runs with
``chi2_contingency`` and ``round`` (chisquared_tester.py:331-379). The
per-cluster modes and the survey's business metrics read the same
collected cells. The results come back as Arrow-backed local frames
(``sources.io.local_frame``, a ``LocalTableScan``), so sinks and
downstream Spark consumers keep their DataFrame interface and no action
over them starts a Python worker.

Scale notes (100 TB design):
- The only full-data shuffle is the cell aggregation, with map-side
  partial aggregation; cluster sizes ride the SAME aggregation as a
  constant pseudo-variable, so the input is scanned once.
- The collected cell table is schema-bound: at most
  |variables| x |values| x |clusters| rows (a few hundred for a
  30-question survey), independent of row count. The finalize step is
  linear in it.
- Whether the cell aggregation needs salting can be read off the
  survey's value census, with no sampled probe
  (:func:`hot_cell_possible`).

Semantics replicated from the reference (file:line cites):
- "Not shown" rows excluded from crosstabs        (chisquared_tester.py:229-236)
- Yates correction requested iff any cell <= 5    (chisquared_tester.py:244-256)
  and (scipy semantics) applied iff dof == 1, clamped at |O-E|
- degenerate tables -> p = 1.0                    (chisquared_tester.py:376-377)
- adjusted residual rounded to 3 decimals         (chisquared_tester.py:475)
- cell significant iff |z| >= 1.96 AND
  chi2_sf(z^2, 1) <= alpha / (r*c)  [Bonferroni]  (chisquared_tester.py:544-552)
- deliver stats: p rounded to 5, percentages to 2 (chisquared_tester.py:1546-1560)
- 'not selected' stripped from significant-category lists and empty rows
  dropped                                         (chisquared_tester.py:1653-1662)
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import cached_property
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.functions.stats import chi2_sf
from qudo_etl_pipeline_spark.plans.melt import melt
from qudo_etl_pipeline_spark.sources.io import local_frame

NOT_SHOWN = "Not shown"
NOT_SELECTED = "not selected"
# a cell holding this share of the aggregation's rows is salted
HOT_SHARE = 0.3


def _round(x: float, ndigits: int) -> float:
    """Python ``round`` (the reference's rounding), with a zero result
    always +0.0: the round-half-even digits are Python's, the sign of
    zero is Spark's (Python keeps -0.0 for small negatives)."""
    return round(x, ndigits) + 0.0


class _Cell(NamedTuple):
    value: str
    cluster: object
    seg: str | None  # the cluster as Spark casts it to string
    observed: int
    w_observed: float


class _DenseCell(NamedTuple):
    value: str
    cluster: object
    observed: int
    w_observed: float
    expected: float
    adj_residual: float | None


@dataclass
class _Crosstab:
    """One variable's crosstab with pd.crosstab shape semantics and its
    scipy-semantics chi-squared test."""

    variable: str
    cells: list[_Cell]  # every cell of the variable, sorted by value
    values: list  # crosstab rows, sorted
    clusters: list  # crosstab columns, sorted
    dense: list[_DenseCell]  # the (value x cluster) grid, value-major
    n: int
    dof: int
    yates: bool
    chi2_stat: float | None
    p_value: float

    def post_hoc(self, alpha: float) -> list[str]:
        """'pos'/'neg'/'neu' per dense cell: |z| >= 1.96 AND the
        Bonferroni test chi2_sf(z^2, 1) <= alpha/m over the table's m
        cells (chisquared_tester.py:544-552)."""
        m = len(self.dense)
        return [
            "neu"
            if d.adj_residual is None
            or abs(d.adj_residual) < 1.96
            or chi2_sf(d.adj_residual * d.adj_residual, 1) > alpha / m
            else ("pos" if d.observed > d.expected else "neg")
            for d in self.dense
        ]


def _crosstab(variable: str, cells: list[_Cell]) -> _Crosstab | None:
    """The finalize step for one variable; None when no cell survives
    the crosstab filter (the variable then has no test at all)."""
    # _observed's filter: NULL clusters and "Not shown" on either axis
    # never enter a crosstab (chisquared_tester.py:229-236)
    obs = {
        (c.value, c.cluster): c
        for c in cells
        if c.cluster is not None and NOT_SHOWN not in (c.value, c.seg)
    }
    if not obs:
        return None
    values = sorted({v for v, _ in obs})
    clusters = sorted({k for _, k in obs})
    row_tot = dict.fromkeys(values, 0)
    col_tot = dict.fromkeys(clusters, 0)
    for (v, k), c in obs.items():
        row_tot[v] += c.observed
        col_tot[k] += c.observed
    n = sum(row_tot.values())
    # value-major, zero-filled; every sum below runs in this order, so
    # the statistics are reproducible bit for bit
    dense = []
    plain = corrected = 0.0
    for v in values:
        for k in clusters:
            c = obs.get((v, k))
            o, w = (c.observed, c.w_observed) if c else (0, 0.0)
            # through DOUBLE before the multiply: exact below 2^53
            e = float(row_tot[v]) * col_tot[k] / n
            d = o - e
            plain += d * d / e
            g = max(abs(d) - 0.5, 0.0)
            corrected += g * g / e
            # rounded to 3 before any test (chisquared_tester.py:473);
            # a one-row or one-column table has no residual
            s = math.sqrt(e * (1 - row_tot[v] / n) * (1 - col_tot[k] / n))
            z = _round(d / s, 3) if s else None
            dense.append(_DenseCell(v, k, o, w, e, z))
    dof = (len(values) - 1) * (len(clusters) - 1)
    # Yates requested iff any dense cell <= 5, applied iff dof == 1
    yates = min(d.observed for d in dense) <= 5
    stat = (corrected if yates and dof == 1 else plain) if dof > 0 else None
    return _Crosstab(
        variable, cells, values, clusters, dense, n, dof, yates, stat,
        chi2_sf(stat, dof) if dof > 0 else 1.0,
    )


class _Collected(NamedTuple):
    cells: dict[str, list[_Cell]]  # per variable, sorted by value
    sizes: dict  # {cluster: (cluster_n, cluster_w, targeting_seg)}
    total: int  # input rows, NULL-cluster rows included


@dataclass
class ContingencyTables:
    """Aggregated crosstab state shared by every downstream statistic.

    ``cells``  — one row per (variable, cluster, value) with ``observed``
                 count and ``w_observed`` weighted count, *including*
                 sentinel values (callers filter as needed).
    ``cluster_sizes`` — one row per cluster: ``cluster_n`` rows,
                 ``cluster_w`` total weight.
    ``variables`` — the aggregated columns, in the caller's order.

    Both are lazy views of ONE aggregation, so construction launches no
    job. The first statistic computed from the tables collects that
    aggregation once (:attr:`_collected`); every later one reuses the
    rows on the driver.
    """

    cells: DataFrame
    cluster_sizes: DataFrame
    cluster_col: str
    variables: list[str]
    weighted: bool
    _all_cells: DataFrame
    _row_marker: str

    @cached_property
    def _collected(self) -> _Collected:
        cc = self.cluster_col
        rows = self._all_cells.select(
            "variable",
            "value",
            F.col(cc).alias("cluster"),
            F.col(cc).cast("string").alias("seg"),
            "observed",
            "w_observed",
        ).collect()
        sizes, total, by_var = {}, 0, {}
        for r in rows:
            if r.variable == self._row_marker:
                # the NULL-cluster row counts toward the total but can
                # never be a targeting segment
                total += r.observed
                if r.cluster is not None:
                    sizes[r.cluster] = (r.observed, r.w_observed, r.seg)
            else:
                by_var.setdefault(r.variable, []).append(
                    _Cell(r.value, r.cluster, r.seg, r.observed, r.w_observed)
                )
        for cells in by_var.values():
            cells.sort(key=lambda c: c.value)
        return _Collected(by_var, sizes, total)

    @cached_property
    def _tabs(self) -> list[_Crosstab]:
        """The crosstabs, sorted by variable."""
        cells = self._collected.cells
        tabs = [_crosstab(v, cells[v]) for v in sorted(cells)]
        return [t for t in tabs if t is not None]

    def cells_of(self, variable: str) -> list[_Cell]:
        """The collected (value, cluster) cells of one variable, NULL
        answers excluded, sorted by value; empty for a column that is
        not a variable."""
        return self._collected.cells.get(variable, [])

    @property
    def cluster_n(self) -> dict:
        """{cluster: rows} for every cluster with rows, the NULL
        cluster included (its size is the total less the others')."""
        _, sizes, total = self._collected
        out = {k: n for k, (n, _, _) in sizes.items()}
        if total > sum(out.values()):
            out[None] = total - sum(out.values())
        return out

    def _frame(self, rows: list, schema: str) -> DataFrame:
        # one partition: the table is driver-sized, and a sink written
        # from it stays one file
        return local_frame(self.cells.sparkSession, rows, schema).coalesce(1)


def detect_cell_skew(
    long: DataFrame,
    keys: list[str],
    sample_frac: float = 0.05,
    hot_share: float = HOT_SHARE,
    seed: int = 7,
) -> bool:
    """Sampled probe: does one cell key hold >= ``hot_share`` of rows?

    One cheap job over a ``sample_frac`` sample of the melted frame —
    the decision input for salting the cell aggregation. A single
    dominant (variable, cluster, value) key (e.g. a sentinel answer in
    one big cluster) concentrates on one reducer; everything else is
    absorbed by map-side partial aggregation and AQE.
    """
    top = (
        long.sample(fraction=sample_frac, seed=seed)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .collect()[0]
    )
    if not top["tot"]:
        return False
    return top["mx"] / top["tot"] >= hot_share


def hot_cell_possible(value_counts: dict[str, dict]) -> bool:
    """Can one cell of the aggregation over these columns hold
    ``HOT_SHARE`` of its rows? ``value_counts`` is the value census of
    the aggregated columns: {column: {value (None = NULL): rows}}.

    Exact and job-free: no cell holds more than the n input rows (a
    value's count or a cluster's row markers), and the aggregation's
    input is the n row markers plus every non-null answer. So a hot
    cell is possible only while the answers number under ~2.3 n: with
    answers filled in, a scheme of at most 2 columns.
    """
    n = sum(next(iter(value_counts.values()), {}).values())
    answered = sum(
        m for c in value_counts.values() for v, m in c.items() if v is not None
    )
    return n >= HOT_SHARE * (n + answered)


def contingency_tables(
    wide: DataFrame,
    cluster_col: str,
    variables: list[str] | None = None,
    weight_col: str | None = None,
    id_vars: list[str] | None = None,
    salt_cells: bool | str = False,
    n_salts: int = 8,
    value_counts: dict[str, dict] | None = None,
) -> ContingencyTables:
    """Melt ``wide`` and aggregate every crosstab cell in one shuffle.

    ``salt_cells``: False (default) uses the plain one-shuffle hash
    aggregation — map-side partial aggregation already bounds per-key
    reduce input by the task count, which covers ordinary hot keys.
    True forces the two-phase salted aggregation (plans/skew.py) for
    inputs known to concentrate on single cells; ``"auto"`` salts iff a
    cell holds ``HOT_SHARE`` of the rows: when ``value_counts`` (the
    value census of ``wide``'s variables, as ``features.build_code_maps``
    takes it) proves no cell can (:func:`hot_cell_possible`), nothing is
    salted and no job runs; otherwise :func:`detect_cell_skew` decides
    (ONE sampled job at build time — only then does construction launch
    a job).
    """
    if variables is None:
        excluded = {cluster_col, weight_col, *(id_vars or [])}
        variables = [c for c in wide.columns if c not in excluded]

    keep = [cluster_col] + ([weight_col] if weight_col else [])
    # A constant pseudo-variable rides the melt so per-cluster row counts
    # fall out of the SAME aggregation — cluster sizes must count every
    # row (answered or not), which no real variable's cells can provide,
    # and a separate groupBy over `wide` would be a second full-data scan.
    row_marker = "__rows__"
    while row_marker in variables:  # survey columns are externally named
        row_marker += "_"
    long = melt(
        wide.select(*keep, *variables, F.lit("1").alias(row_marker)),
        id_vars=keep,
        value_vars=variables + [row_marker],
    )

    # null weights count as 0 (same as sum's null-skip) so w_observed is
    # never NULL — the weighted denominators and the weighted-mode argmax
    # need a number
    w = (
        F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
        if weight_col
        else F.lit(1.0)
    )
    # THE one big-data shuffle (and the only pass over the input). The
    # result is tiny (|vars| x |values| x |clusters|) and is collected
    # once by ContingencyTables; the catalog's Spark-side consumers of
    # `cells` key on `variable` (or a superset), so the hash layout by
    # `variable` serves them without a re-exchange. The repartition
    # carries no explicit partition count, so AQE right-sizes it.
    keys = ["variable", cluster_col, "value"]
    nn = long.filter(F.col("value").isNotNull()).withColumn("_w", w)
    if salt_cells == "auto":
        salt_cells = (
            value_counts is None
            or hot_cell_possible({v: value_counts[v] for v in variables})
        ) and detect_cell_skew(nn, keys)
    if salt_cells:
        from qudo_etl_pipeline_spark.plans.skew import salted_aggregate

        # two-phase (keys, salt) aggregation: the hot cell fans out over
        # n_salts reducers; _w is never NULL (coalesced above), so
        # count(_w) == count(*)
        cells_agg = salted_aggregate(
            nn,
            keys,
            {"observed": ("_w", "count"), "w_observed": ("_w", "sum")},
            n_salts=n_salts,
        )
    else:
        cells_agg = nn.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("observed"),
            F.sum("_w").alias("w_observed"),
        )
    all_cells = cells_agg.repartition("variable")
    cells = all_cells.filter(F.col("variable") != row_marker)

    cluster_sizes = all_cells.filter(F.col("variable") == row_marker).select(
        cluster_col,
        F.col("observed").alias("cluster_n"),
        F.col("w_observed").alias("cluster_w"),
    )
    return ContingencyTables(
        cells=cells,
        cluster_sizes=cluster_sizes,
        cluster_col=cluster_col,
        variables=variables,
        weighted=weight_col is not None,
        _all_cells=all_cells,
        _row_marker=row_marker,
    )


def _observed(cells: DataFrame, cluster_col: str) -> DataFrame:
    """Crosstab input cells: the reference drops rows where EITHER side of
    the crosstab is the "Not shown" sentinel (chisquared_tester.py:229-236).
    The cluster cast makes the filter a typed no-op on numeric predictions.

    NULL clusters are excluded EXPLICITLY (not as a side effect of the
    != comparison's NULL semantics): pd.crosstab drops NaN index/column
    labels by default, so a row with no cluster contributes to no
    crosstab — matching the reference.
    """
    return cells.filter(
        F.col(cluster_col).isNotNull()
        & (F.col("value") != NOT_SHOWN)
        & (F.col(cluster_col).cast("string") != NOT_SHOWN)
    )


def _dense_grid(cells: DataFrame, cluster_col: str) -> DataFrame:
    """Densify per-variable crosstabs to the full (value x cluster) grid.

    Mirrors ``pd.crosstab`` shape semantics: only values and clusters that
    actually occur for the variable (after the "Not shown" filter) form
    the table; missing combinations are zero cells
    (chisquared_tester.py:241-246).

    Built as one groupBy(variable) + double explode rather than two
    distinct-projections joined back: every step keys on ``variable`` so
    the cells' hash layout satisfies it and the whole densification adds
    ZERO exchanges.
    """
    observed = _observed(cells, cluster_col)
    sets = observed.groupBy("variable").agg(
        F.collect_set("value").alias("_vals"),
        F.collect_set(cluster_col).alias("_cls"),
    )
    grid = sets.select(
        "variable", F.explode("_vals").alias("value"), "_cls"
    ).select("variable", "value", F.explode("_cls").alias(cluster_col))
    return (
        grid.join(observed, ["variable", cluster_col, "value"], "left")
        .na.fill({"observed": 0, "w_observed": 0.0})
    )


def chi2_by_variable(tables: ContingencyTables) -> DataFrame:
    """Per-variable chi-squared test over all crosstabs at once.

    Returns: variable, chi2_stat, dof, yates, n_values, n_clusters,
    p_value — one row per variable with at least one crosstab cell,
    ordered by variable. ``chi2_stat`` is NULL where dof == 0.
    """
    return tables._frame(
        [
            (t.variable, t.chi2_stat, t.dof, t.yates, len(t.values),
             len(t.clusters), t.p_value)
            for t in tables._tabs
        ],
        "variable string, chi2_stat double, dof bigint not null,"
        " yates boolean, n_values bigint not null,"
        " n_clusters bigint not null, p_value double",
    )


def post_hoc_cells(tables: ContingencyTables, alpha: float = 0.05) -> DataFrame:
    """Adjusted residuals + Bonferroni post-hoc per crosstab cell.

    Returns one row per (variable, cluster, value) of every variable whose
    chi-squared p <= alpha, with ``adj_residual`` (rounded to 3, as the
    reference does before squaring — chisquared_tester.py:475) and
    ``post_hoc`` in {'pos','neg','neu'}.
    """
    cc = tables.cluster_col
    ctype = tables.cells.schema[cc].dataType.simpleString()
    cc_ddl = cc.replace("`", "``")
    return tables._frame(
        [
            (t.variable, d.cluster, d.value, d.observed, d.w_observed,
             d.expected, d.adj_residual, label, t.p_value, t.chi2_stat)
            for t in tables._tabs
            if t.p_value <= alpha
            for d, label in zip(t.dense, t.post_hoc(alpha))
        ],
        f"variable string, `{cc_ddl}` {ctype}, value string,"
        " observed bigint not null, w_observed double not null,"
        " expected double, adj_residual double, post_hoc string not null,"
        " p_value double, chi2_stat double",
    )


def _pct(part: float, whole: float, ndigits: int) -> float | None:
    """Rounded percentage; None (the reference's NaN) on a zero whole —
    a cluster whose weights are all NULL has zero weighted size."""
    return _round(part / whole * 100, ndigits) if whole else None


def _deliver_columns(tables: ContingencyTables, include_chi2_stat: bool):
    cols = [
        ("q_code", "string"),
        ("pop_mode", "string"),
        ("response_rate", "double"),
        ("mode_pop_perc", "double"),
        ("chi_2_result", "double"),
        ("sig_more_category", "array<string> not null"),
        ("category_percentages", "array<double> not null"),
        ("targeting_seg", "string"),
    ]
    if include_chi2_stat:
        cols.append(("chi2_stat", "double"))
    if tables.weighted:
        cols += [
            ("weighted_pop_mode", "string"),
            ("weighted_pop_mode_perc", "double"),
            ("weighted_category_percentages", "array<double> not null"),
        ]
    return cols


def deliver_stats(
    tables: ContingencyTables,
    alpha: float = 0.05,
    include_chi2_stat: bool = True,
) -> DataFrame:
    """The flagship inference output ("deliver_pg_stats").

    One row per (significant variable, segment):
      q_code, pop_mode, response_rate, mode_pop_perc, chi_2_result,
      sig_more_category, category_percentages, targeting_seg
      [+ chi2_stat] [+ weighted_pop_mode, weighted_pop_mode_perc,
      weighted_category_percentages when the input was weighted]
    ordered by (chi_2_result, q_code, targeting_seg).

    Reference: chisquared_tester.py:1434-1589 (lazy path) and :1671-1731.
    Divergence note: the reference's weighted_pop_mode takes
    ``category_sizes.max()["category"]`` — the lexicographic max category,
    an apparent bug (chisquared_tester.py:966-971). We compute the argmax
    of the weighted count (the documented intent: "the category with the
    highest weighted sum").
    """
    return tables._frame(
        deliver_rows(tables, alpha, include_chi2_stat),
        ", ".join(
            f"{name} {ddl}"
            for name, ddl in _deliver_columns(tables, include_chi2_stat)
        ),
    )


def deliver_rows(
    tables: ContingencyTables,
    alpha: float = 0.05,
    include_chi2_stat: bool = True,
) -> list[Row]:
    """The rows of :func:`deliver_stats`, for the deliver metrics
    (ml/business.py). Plain Python over the collected cells, so a
    second call costs no Spark work."""
    _, sizes, total_rows = tables._collected
    rows = []
    for t in tables._tabs:
        if t.p_value > alpha:
            continue
        labels = t.post_hoc(alpha)
        # response rate sums EVERY cell of the variable, NULL-cluster
        # and sentinel cells included (chisquared_tester.py:1503)
        response_rate = sum(c.observed for c in t.cells) / total_rows * 100
        for k in t.clusters:
            # significant "more" categories in value order, 'not
            # selected' stripped and empty rows dropped
            # (chisquared_tester.py:1653 + helper_functions.py:24-30)
            pos = [
                d
                for d, label in zip(t.dense, labels)
                if label == "pos" and d.cluster == k and d.value != NOT_SELECTED
            ]
            if not pos:
                continue
            # answer denominators count sentinel values (pandas
            # value_counts(normalize=True), chisquared_tester.py:
            # 1527-1536); modes exclude "Not shown", ties broken by
            # ascending value like pandas .mode() (:914-918)
            answered = [c for c in t.cells if c.cluster == k]
            shown = [c for c in answered if c.value != NOT_SHOWN]
            mode = min(shown, key=lambda c: (-c.observed, c.value))
            answered_n = sum(c.observed for c in answered)
            size_n, size_w, seg = sizes[k]
            row = [
                t.variable,
                mode.value,
                response_rate,
                _pct(mode.observed, size_n, 2),
                _round(t.p_value, 5),
                [d.value for d in pos],
                [_pct(d.observed, answered_n, 2) for d in pos],
                seg,
            ]
            if include_chi2_stat:
                row.append(_round(t.chi2_stat, 2))
            if tables.weighted:
                answered_w = 0.0
                for c in answered:
                    answered_w += c.w_observed
                wmode = min(shown, key=lambda c: (-c.w_observed, c.value))
                row += [
                    wmode.value,
                    _pct(wmode.w_observed, size_w, 0),
                    [_pct(d.w_observed, answered_w, 2) for d in pos],
                ]
            rows.append(row)
    rows.sort(key=lambda r: (r[4], r[0], r[7]))
    make = Row(*(name for name, _ in _deliver_columns(tables, include_chi2_stat)))
    return [make(*r) for r in rows]


def cluster_mode_list(tables: ContingencyTables) -> DataFrame:
    """Per-cluster modal answer for every variable — the third element
    of the reference's ``return_API_data`` triple (M26).

    Reference: chisquared_tester.py:1788-1792 — for each cluster group,
    ``sub_frame.mode(dropna=False).head(1)``: per column the most
    frequent value, with nulls counted as a value, ties broken by the
    ascending sort pandas.mode applies (nulls last). The group sub-frame
    includes the cluster column itself, so its (trivial) mode row is kept
    for output-shape parity. pandas groupby drops NaN group keys, so a
    NULL cluster has no modes.

    Read from the collected cells, with no Spark work of its own: the
    cells drop NULL values, so a variable's NULL count in a cluster is
    ``cluster_n`` less its observed cells there. Output: cluster
    (string), variable, mode_value.
    """
    cells, sizes, _ = tables._collected
    counts: dict = {}
    for v, vcells in cells.items():
        for c in vcells:
            counts.setdefault((v, c.cluster), []).append((c.observed, c.value))
    rows = []
    for k, (n, _, seg) in sorted(sizes.items(), key=lambda kv: kv[1][2]):
        for v in tables.variables:
            seen = counts.get((v, k), [])
            nulls = n - sum(o for o, _ in seen)
            # (-count, nulls last, value): pandas mode(dropna=False) order
            best = min(
                seen + ([(nulls, None)] if nulls else []),
                key=lambda t: (-t[0], t[1] is None, t[1] or ""),
            )
            rows.append((seg, v, best[1]))
        rows.append((seg, tables.cluster_col, seg))
    return tables._frame(
        rows, "cluster string, variable string not null, mode_value string"
    )


def discover_stats(deliver: DataFrame, n_feats: int = 10) -> DataFrame:
    """Top-``n_feats`` variables per segment by ascending p-value.

    Reference: seg_discover_stats_df (chisquared_tester.py:1671-1731) —
    renames pop_mode->mode / mode_pop_perc->mode_perc, drops rows whose
    mode is a sentinel, keeps the first n_feats per segment.
    """
    ranked = deliver.filter(
        ~F.col("pop_mode").isin(NOT_SELECTED, NOT_SHOWN)
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("targeting_seg").orderBy(
                F.asc("chi_2_result"), F.asc("q_code")
            )
        ),
    )
    return (
        ranked.filter(F.col("rn") <= n_feats)
        .select(
            "targeting_seg",
            F.col("q_code"),
            F.col("pop_mode").alias("mode"),
            F.col("mode_pop_perc").alias("mode_perc"),
            "sig_more_category",
            "category_percentages",
        )
    )


def cramers_v(tables: ContingencyTables) -> DataFrame:
    """Cramér's V effect size per variable — the magnitude companion to
    the chi-squared p-value (p says "dependent"; V says "how much"):
    V = sqrt(chi2 / (n * (min(r, c) - 1))), in [0, 1].

    V is derived from the statistic rounded to 6, mirroring the chi2
    query's rounding so the oracle derives from the identical value.
    """
    rows = []
    for t in tables._tabs:
        k = float(min(len(t.values), len(t.clusters)) - 1)
        stat6 = None if t.chi2_stat is None else _round(t.chi2_stat, 6)
        v = _round(math.sqrt(stat6 / (float(t.n) * k)), 6) if k > 0 else None
        rows.append((t.variable, stat6, t.dof, t.n, v))
    return tables._frame(
        rows,
        "variable string, chi2_stat double, dof bigint not null,"
        " n_obs bigint, cramers_v6 double",
    )
