"""Information-theoretic column profiles + Benford first-digit conformity.

The reference has no entropy/MI/Benford operators; these extend the
validation surface the way expect_column_kl_divergence_to_be_less_than
(reference expectations/core/expect_column_kl_divergence_to_be_less_than.py)
extends the distribution family: sufficient statistics are computed
distributed with groupBy + map-side combine, and the information measure
is evaluated from closed-form identities that need no second data pass.

Identities (so no window over the raw data is ever needed):
  H(X)    = ln N - (1/N) * sum_v c_v ln c_v          (entropy in nats)
  MI(X,Y) = sum_ab (c_ab/N) ln(N c_ab / (c_a c_b))   (nats)
Marginal counts for MI come from windows over the *joint-count* frame,
whose cardinality is the number of distinct (a, b) pairs — the same
low-cardinality contract as the chi-square / Cramér's-φ crosstab
(stats.py), enforced with the same max_groups-style cap.

Benford digit extraction is STRING-based (first [1-9] of the decimal
rendering), not floor(log10(x)) — log10 at power-of-ten boundaries is
libm-dependent, so a float path could classify 1000.0 as digit 9 on one
engine and 1 on another; the regexp path is exact on every engine and
stays inside whole-stage codegen.

Scale: one shuffle per profile (the groupBy on (column, value) or
(a, b)); everything downstream runs over dimension-sized count frames.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Joint-distribution cap, mirroring stats.CROSSTAB_MAX_GROUPS: MI over an
# unbounded-cardinality pair would silently materialize the pair frame.
MI_MAX_GROUPS = 10_000

_FLOATY = ("float", "double")


def _clean_str(df: DataFrame, c: str) -> Column:
    """Column as a string category with NaN ≡ NULL on float columns (the
    codebase-wide pandas-parity rule, conditions.py) — so the profile
    functions agree with the registered column.entropy metric."""
    col = F.col(c)
    if dict(df.dtypes).get(c) in _FLOATY:
        col = F.when(~F.isnan(col), col)
    return col.cast("string")


def entropy_profile(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Shannon entropy (nats) per column, one shuffle for all columns.

    Returns (column, n, distinct_values, entropy, normalized_entropy):
    n counts non-null rows; normalized_entropy = H / ln(distinct), the
    0..1 evenness score (0 for constant or single-valued columns).

    Plan: melt to (column, value) with stack (no Python boundary), one
    groupBy(column, value) with map-side combine, then a dimension-sized
    groupBy(column) evaluating H = ln N - (sum c ln c)/N.
    """
    if not columns:
        raise ValueError("entropy_profile needs at least one column")
    pairs = []
    for c in columns:
        pairs.extend([F.lit(c), _clean_str(df, c)])
    melted = df.select(
        F.stack(F.lit(len(columns)), *pairs).alias("column", "value")
    ).where(F.col("value").isNotNull())
    counts = melted.groupBy("column", "value").agg(F.count("*").alias("c"))
    prof = counts.groupBy("column").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("distinct_values"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("_clnc"),
    )
    # every requested column appears in the output, even all-null ones
    # (n=0, entropy NULL — "no data" is not "zero entropy")
    spine = df.sparkSession.createDataFrame(
        [(c,) for c in columns], "column string"
    )
    prof = spine.join(prof, "column", "left").select(
        "column",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("distinct_values", F.lit(0)).alias("distinct_values"),
        "_clnc",
    )
    h = F.when(
        F.col("n") > 0, F.log(F.col("n")) - F.col("_clnc") / F.col("n")
    )
    return prof.select(
        "column",
        "n",
        "distinct_values",
        F.round(h, 6).alias("entropy"),
        F.round(
            F.when(F.col("distinct_values") > 1, h / F.log(F.col("distinct_values")))
            .when(F.col("n") > 0, F.lit(0.0)),
            6,
        ).alias("normalized_entropy"),
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str, max_groups: int = MI_MAX_GROUPS
) -> DataFrame:
    """Mutual information between two (categorical) columns, in nats.

    One row: (column_a, column_b, n, pair_cardinality, mi, nmi) where
    nmi = MI / sqrt(H(a) * H(b)) in [0, 1] (0 when either side is
    constant). Rows where either side is NULL are excluded (the
    both-present distribution, matching ignore_row_if=either_value_is_missing
    semantics from the pair expectations).

    Plan: one groupBy(a, b) shuffle; marginals and totals are windows
    over the joint-count frame (cardinality capped at max_groups, same
    guard + error contract as stats.crosstab).
    """
    a, b = _clean_str(df, col_a), _clean_str(df, col_b)
    joint = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("a"), b.alias("b"))
        .agg(F.count("*").alias("c"))
    )
    # persist the (capped-size) joint frame so the guard count and the
    # MI job share ONE shuffle over the data instead of recomputing it
    joint = joint.persist()
    card = joint.limit(max_groups + 1).count()
    if card > max_groups:
        joint.unpersist()
        raise ValueError(
            f"mutual_information({col_a}, {col_b}) exceeds "
            f"max_groups={max_groups} distinct pairs; pre-bin a numeric "
            "side or raise max_groups explicitly"
        )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wt = Window.partitionBy()
    scored = joint.select(
        "a",
        "b",
        "c",
        F.sum("c").over(wa).alias("ca"),
        F.sum("c").over(wb).alias("cb"),
        F.sum("c").over(wt).alias("n"),
    )
    n = F.col("n").cast("double")
    mi_term = (F.col("c") / n) * F.log(n * F.col("c") / (F.col("ca") * F.col("cb")))
    # marginal entropies from the same frame: each joint row contributes
    # its own c/n share of -ln(p_marginal), summing to H exactly
    ha_term = -(F.col("c") / n) * F.log(F.col("ca") / n)
    hb_term = -(F.col("c") / n) * F.log(F.col("cb") / n)
    agg = scored.agg(
        F.sum(mi_term).alias("_mi"),
        F.sum(ha_term).alias("_ha"),
        F.sum(hb_term).alias("_hb"),
        F.max("n").alias("n"),
        F.count("*").alias("pair_cardinality"),
    )
    denom = F.sqrt(F.col("_ha") * F.col("_hb"))
    result = agg.select(
        F.lit(col_a).alias("column_a"),
        F.lit(col_b).alias("column_b"),
        "n",
        "pair_cardinality",
        F.round(F.col("_mi"), 6).alias("mi"),
        F.round(
            F.when(denom > 0, F.col("_mi") / denom).otherwise(F.lit(0.0)), 6
        ).alias("nmi"),
    )
    # materialize the 1-row result, then release the cached joint frame —
    # a long-lived session profiling many pairs must not accumulate
    # storage memory (same persist/unpersist discipline as dedup.py)
    rows = result.collect()
    joint.unpersist()
    return df.sparkSession.createDataFrame(rows, result.schema)


#: Benford expected first-digit proportions, log10(1 + 1/d).
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _first_digit(col: Column) -> Column:
    # first nonzero digit of the decimal rendering; engine-portable where
    # floor(log10(x)) is not (see module docstring)
    return F.regexp_extract(col.cast("string"), "[1-9]", 0).cast("int")


def benford_profile(df: DataFrame, column: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law.

    Nine rows (digit 1..9 always present, zero-filled):
    (digit, n, observed_p, expected_p, chisq, mad) — chisq is the total
    Pearson statistic Σ (n_d - N p_d)² / (N p_d) and mad the mean
    absolute deviation of observed vs expected proportions (Nigrini's
    conformity measure); both repeat on every row so the frame is
    self-contained. Only strictly positive values participate.

    Plan: one groupBy(digit) over the filtered scan, right-joined to a
    9-row literal spine; the statistics are windows over 9 rows.
    """
    in_dom = F.col(column).isNotNull() & (F.col(column) > 0)
    if dict(df.dtypes).get(column) in _FLOATY:
        # NaN satisfies `> 0` in Spark and Infinity renders without a
        # digit — both would silently vanish at the spine join; exclude
        # them from the domain explicitly
        in_dom = in_dom & ~F.isnan(F.col(column)) & (
            F.col(column) != F.lit(float("inf"))
        )
    pos = df.where(in_dom)
    counts = pos.groupBy(_first_digit(F.col(column)).alias("digit")).agg(
        F.count("*").alias("n")
    )
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d, BENFORD_P[d]) for d in range(1, 10)], "digit int, expected_p double"
    )
    full = spine.join(counts, "digit", "left").select(
        "digit", F.coalesce("n", F.lit(0)).alias("n"), "expected_p"
    )
    wt = Window.partitionBy()
    tot = F.sum("n").over(wt).cast("double")
    # try_divide: an all-filtered column (no positive values) yields NULL
    # proportions/statistics instead of an ANSI divide-by-zero error
    obs_p = F.try_divide(F.col("n"), tot)
    scored = full.select(
        "digit",
        "n",
        F.round(obs_p, 6).alias("observed_p"),
        F.round("expected_p", 6).alias("expected_p"),
        F.round(
            F.sum(
                F.try_divide(
                    F.pow(F.col("n") - tot * F.col("expected_p"), 2),
                    tot * F.col("expected_p"),
                )
            ).over(wt),
            6,
        ).alias("chisq"),
        F.round(F.avg(F.abs(obs_p - F.col("expected_p"))).over(wt), 6).alias("mad"),
    )
    return scored.orderBy("digit")


def information_gain(
    df: DataFrame,
    label: str,
    features: Sequence[str],
    max_groups: int = MI_MAX_GROUPS,
) -> DataFrame:
    """Per-feature information gain IG(label; feature) = MI, for every
    feature in ONE melt + ONE groupBy shuffle — the feature-relevance /
    label-leakage ranking (a feature with IG ≈ H(label) is leaking the
    label; IG ≈ 0 is uninformative).

    Returns one row per feature: (feature, n, label_entropy, gain,
    gain_ratio) where gain_ratio = IG / H(label) in [0, 1] (0 when the
    label is constant). Rows with a NULL label or NULL feature value are
    excluded per-feature (both-present domain, like
    mutual_information). Cardinality guard: any single feature exceeding
    ``max_groups`` distinct (feature_value, label) pairs fails with the
    crosstab-style error.

    Plan: stack-melt to (feature, value, label) inside codegen, one
    groupBy(feature, value, label) with map-side combine; marginals are
    windows over the joint-count frame partitioned by feature, so every
    feature's MI is evaluated from one dimension-sized pass.
    """
    if not features:
        raise ValueError("information_gain needs at least one feature")
    lab = _clean_str(df, label)
    pairs = []
    for c in features:
        pairs.extend([F.lit(c), _clean_str(df, c)])
    melted = df.where(lab.isNotNull()).select(
        F.stack(F.lit(len(features)), *pairs).alias("feature", "value"),
        lab.alias("label"),
    ).where(F.col("value").isNotNull())
    joint = melted.groupBy("feature", "value", "label").agg(F.count("*").alias("c"))
    # one shuffle total: the guard job materializes the persisted joint
    # frame and the MI job reuses it
    joint = joint.persist()
    over = joint.groupBy("feature").agg(F.count("*").alias("k")).where(
        F.col("k") > max_groups
    )
    bad = [r["feature"] for r in over.collect()]
    if bad:
        joint.unpersist()
        raise ValueError(
            f"information_gain: features {bad} exceed max_groups={max_groups} "
            "distinct (value, label) pairs; pre-bin numeric features or raise "
            "max_groups explicitly"
        )
    wf = Window.partitionBy("feature")
    wv = Window.partitionBy("feature", "value")
    wl = Window.partitionBy("feature", "label")
    scored = joint.select(
        "feature",
        "c",
        F.sum("c").over(wv).alias("cv"),
        F.sum("c").over(wl).alias("cl"),
        F.sum("c").over(wf).alias("n"),
    )
    n = F.col("n").cast("double")
    mi_term = (F.col("c") / n) * F.log(n * F.col("c") / (F.col("cv") * F.col("cl")))
    hl_term = -(F.col("c") / n) * F.log(F.col("cl") / n)
    agg = scored.groupBy("feature").agg(
        F.max("n").alias("n"),
        F.sum(mi_term).alias("_mi"),
        F.sum(hl_term).alias("_hl"),
    )
    # every requested feature appears, even all-null ones (n=0, NULL gain)
    spine = df.sparkSession.createDataFrame(
        [(c,) for c in features], "feature string"
    )
    agg = spine.join(agg, "feature", "left")
    result = agg.select(
        "feature",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(F.col("_hl"), 6).alias("label_entropy"),
        F.round(F.col("_mi"), 6).alias("gain"),
        F.round(
            F.when(F.col("_hl") > 0, F.col("_mi") / F.col("_hl"))
            .when(F.col("n").isNotNull(), F.lit(0.0)),
            6,
        ).alias("gain_ratio"),
    )
    # materialize the #features-row result, then release the cache (see
    # mutual_information) — callers get a local frame, no leaked storage
    rows = result.collect()
    joint.unpersist()
    return df.sparkSession.createDataFrame(rows, result.schema)


def cohens_kappa(
    df: DataFrame,
    col_a: "str | Column",
    col_b: "str | Column",
    max_groups: int = MI_MAX_GROUPS,
    name_a: str | None = None,
    name_b: str | None = None,
) -> DataFrame:
    """Cohen's κ — chance-corrected agreement between two categorical
    labelings of the same rows: κ = (p_o − p_e) / (1 − p_e) with
    p_o = Σ_v c_vv / n (observed agreement) and p_e = Σ_v c_a(v)·c_b(v)/n²
    (agreement expected from the marginals alone). The labeled-data QC
    primitive the crosstab family (chi-square/Cramér's φ, stats.py;
    MI, above) doesn't cover: "does heuristic B actually agree with gold
    label A beyond chance?" — κ of a classifier vs its gold column, or of
    two annotators. No reference analog; extends the pair family the way
    expect_column_pair_cramers_phi_value_to_be_less_than
    (reference expectations/core/...cramers_phi_value_to_be_less_than.py:42)
    frames dependence.

    ``col_a``/``col_b`` are column names or derived Columns (e.g.
    ``text.langid("text")``); a Column needs a ``name_a``/``name_b``
    display name. Rows where either side is NULL are excluded (the
    both-present domain, like mutual_information); NaN ≡ NULL on float
    name-columns. One row out: (column_a, column_b, n, n_categories,
    p_observed, p_expected, kappa) — n_categories the size of the union
    of both sides' observed label sets; κ is NULL when p_e = 1 (both
    sides constant and equal: agreement is perfect but chance-correction
    is undefined, 0/0).

    Plan: one groupBy(a, b) shuffle over the data (cardinality capped at
    ``max_groups``, same guard + persist/unpersist discipline as
    mutual_information); the marginals, their same-category product, and
    the diagonal are aggregates over the dimension-sized joint-count
    frame, joined as 1×1 scalar frames.
    """

    def _side(c, name, fallback):
        if isinstance(c, str):
            return _clean_str(df, c), name or c
        if name is None:
            raise ValueError(
                f"cohens_kappa: a Column-valued {fallback} needs an explicit "
                f"{fallback.replace('col', 'name')}= display name"
            )
        return c.cast("string"), name

    a, name_a = _side(col_a, name_a, "col_a")
    b, name_b = _side(col_b, name_b, "col_b")
    joint = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("a"), b.alias("b"))
        .agg(F.count("*").alias("c"))
    )
    joint = joint.persist()
    card = joint.limit(max_groups + 1).count()
    if card > max_groups:
        joint.unpersist()
        raise ValueError(
            f"cohens_kappa({name_a}, {name_b}) exceeds max_groups="
            f"{max_groups} distinct pairs; pre-bin a side or raise "
            "max_groups explicitly"
        )
    ma = joint.groupBy(F.col("a").alias("v")).agg(F.sum("c").alias("ca"))
    mb = joint.groupBy(F.col("b").alias("v")).agg(F.sum("c").alias("cb"))
    marg = ma.join(mb, "v", "full").select(
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = joint.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(F.lit(0))).alias(
            "_diag"
        ),
    )
    pe_f = marg.agg(
        # double product: bigint ca*cb overflows 2^63 when both marginals
        # exceed ~3e9 rows (ANSI crash / silent wrap) — counts below 2^53
        # stay exact in float64 and the ratio is rounded to 6 dp anyway
        F.sum(F.col("ca").cast("double") * F.col("cb").cast("double")).alias(
            "_pepn"
        ),
        F.count("*").alias("n_categories"),
    )
    # two 1x1 scalar frames — the crossJoin is dimension-free (same
    # pattern as distribution.py's scalar-frame join)
    both = tot.crossJoin(pe_f)
    # empty both-present domain: sums over the empty joint are NULL —
    # normalize to n=0 with NULL statistics (try_divide keeps 0/0 NULL)
    n = F.coalesce(F.col("n"), F.lit(0)).cast("double")
    po = F.try_divide(F.col("_diag"), n)
    pe = F.try_divide(F.col("_pepn"), n * n)
    result = both.select(
        F.lit(name_a).alias("column_a"),
        F.lit(name_b).alias("column_b"),
        n.cast("bigint").alias("n"),
        "n_categories",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 6).alias("kappa"),
    )
    rows = result.collect()
    joint.unpersist()
    return df.sparkSession.createDataFrame(rows, result.schema)


# ---------------------------------------------------------------------------
# Metric registry + expectations (suite-usable forms)
# ---------------------------------------------------------------------------

from .expectations import (  # noqa: E402  (registration-time import)
    ColumnAggregateExpectation,
    Expectation,
    build_domain,
    register_expectation,
    validate_value_between,
)
from .metrics import (  # noqa: E402
    Domain,
    MetricConfiguration,
    eager_metric,
    freeze_kwargs,
)


@eager_metric("column.entropy")
def _entropy_metric(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    """Distributed: groupBy(value) counts + one scalar agg via the
    H = ln N - (Σ c ln c)/N identity — only one row reaches the driver,
    so unlike column.value_counts no cardinality cap is needed."""
    col = cfg.domain.column
    nn = F.col(col).isNotNull()
    if col in resolver.float_cols_of(cfg.domain):
        nn = nn & ~F.isnan(F.col(col))
    counts = ddf.where(nn).groupBy(col).agg(F.count("*").alias("c"))
    row = counts.agg(
        F.sum("c").alias("n"),
        F.count("*").alias("k"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clnc"),
    ).collect()[0]
    if not row["n"]:
        return None
    h = math.log(row["n"]) - row["clnc"] / row["n"]
    if cfg.kw("normalized", False):
        return h / math.log(row["k"]) if row["k"] > 1 else 0.0
    return h


@eager_metric("column_pair.mutual_information")
def _mi_metric(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    d = cfg.domain
    row = mutual_information(
        ddf, d.column_a, d.column_b, max_groups=int(cfg.kw("max_groups", MI_MAX_GROUPS))
    ).collect()[0]
    # an empty joint frame aggregates n to NULL, not 0 — `not` covers both
    if not row["n"]:
        return None
    return row["nmi"] if cfg.kw("normalized", False) else row["mi"]


@eager_metric("column_pair.cohens_kappa")
def _kappa_metric(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    d = cfg.domain
    row = cohens_kappa(
        ddf, d.column_a, d.column_b, max_groups=int(cfg.kw("max_groups", MI_MAX_GROUPS))
    ).collect()[0]
    if not row["n"]:
        return None
    # kappa itself may be NULL (p_e == 1, both sides constant-equal);
    # validate_value_between treats None as failure, which is right — a
    # degenerate label pair can't certify agreement beyond chance
    return row["kappa"]


@eager_metric("column.benford_mad")
def _benford_metric(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    rows = benford_profile(ddf, cfg.domain.column).collect()
    if sum(r["n"] for r in rows) == 0:
        return None
    return {"mad": rows[0]["mad"], "chisq": rows[0]["chisq"],
            "digit_counts": {r["digit"]: r["n"] for r in rows}}


register_expectation(
    ColumnAggregateExpectation(
        "expect_column_entropy_to_be_between", "column.entropy", ("normalized",)
    )
)


class MutualInformationExpectation(Expectation):
    """expect_column_pair_mutual_information_to_be_between(column_A,
    column_B, min_value, max_value, normalized=False) — dependence bound
    on the information scale; the MI analog of the reference's
    expect_column_pair_cramers_phi_value_to_be_less_than (reference
    expectations/core/...cramers_phi...py:42). Typical use: flag
    redundant column pairs (high NMI) or broken correlations (NMI ~ 0
    where dependence is expected)."""

    name = "expect_column_pair_mutual_information_to_be_between"

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        d = build_domain(cfg)
        vk = {}
        if cfg.get("normalized") is not None:
            vk["normalized"] = bool(cfg.get("normalized"))
        if cfg.get("max_groups") is not None:
            vk["max_groups"] = int(cfg.get("max_groups"))
        return MetricConfiguration(
            "column_pair.mutual_information",
            Domain(row_condition=d.row_condition, filter_conditions=d.filter_conditions,
                   column_a=d.column_a, column_b=d.column_b),
            freeze_kwargs(**vk),
        )

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        observed = resolver[self._metric_cfg(cfg)]
        success = validate_value_between(
            observed,
            min_value=cfg.get("min_value"),
            max_value=cfg.get("max_value"),
            strict_min=bool(cfg.get("strict_min", False)),
            strict_max=bool(cfg.get("strict_max", False)),
        )
        ret = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed}
        return ret


class BenfordExpectation(Expectation):
    """expect_column_benford_mad_to_be_less_than(column, threshold=0.015)
    — Benford first-digit conformity via Nigrini's MAD bands (< 0.006
    close, < 0.012 acceptable, < 0.015 marginal). Null/non-positive
    values are out of domain, matching benford_profile."""

    name = "expect_column_benford_mad_to_be_less_than"

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration(
            "column.benford_mad", build_domain(cfg), freeze_kwargs()
        )

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        obs = resolver[self._metric_cfg(cfg)]
        threshold = float(cfg.get("threshold", 0.015))
        if obs is None:
            ret = {"success": True, "result": {"observed_value": None}}
        else:
            ret = {"success": obs["mad"] < threshold}
            if rf["result_format"] != "BOOLEAN_ONLY":
                ret["result"] = {
                    "observed_value": obs["mad"],
                    "details": {"chisq": obs["chisq"],
                                "digit_counts": obs["digit_counts"]},
                }
        if rf["result_format"] == "BOOLEAN_ONLY":
            ret.pop("result", None)
        return ret


class CohensKappaExpectation(Expectation):
    """expect_column_pair_cohens_kappa_to_be_between(column_A, column_B,
    min_value, max_value) — chance-corrected agreement bound between two
    categorical labelings: κ = (p_o − p_e) / (1 − p_e). Typical use:
    "the cheap heuristic classifier must agree with the gold label
    column beyond chance" (min_value ≥ 0.4, say) as a standing suite
    member over each delivery. A degenerate pair (both sides constant
    and equal) yields κ = NULL and fails — it cannot certify agreement
    beyond chance. The agreement-scale sibling of
    expect_column_pair_mutual_information_to_be_between."""

    name = "expect_column_pair_cohens_kappa_to_be_between"

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        d = build_domain(cfg)
        vk = {}
        if cfg.get("max_groups") is not None:
            vk["max_groups"] = int(cfg.get("max_groups"))
        return MetricConfiguration(
            "column_pair.cohens_kappa",
            Domain(row_condition=d.row_condition, filter_conditions=d.filter_conditions,
                   column_a=d.column_a, column_b=d.column_b),
            freeze_kwargs(**vk),
        )

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        observed = resolver[self._metric_cfg(cfg)]
        success = validate_value_between(
            observed,
            min_value=cfg.get("min_value"),
            max_value=cfg.get("max_value"),
            strict_min=bool(cfg.get("strict_min", False)),
            strict_max=bool(cfg.get("strict_max", False)),
        )
        ret = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed}
        return ret


register_expectation(MutualInformationExpectation())
register_expectation(BenfordExpectation())
register_expectation(CohensKappaExpectation())
