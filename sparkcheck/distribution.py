"""Distribution metrics + KL-divergence / PSI drift expectations.

Spark plan (SURVEY.md §2.9): the reference computes histograms with an
extra Bucketizer+groupBy job plus two between-count jobs
(column_histogram.py:228-303, column_values_between_count.py:200-255);
we fold the ENTIRE histogram — every bin count and both tail counts — into
the single fused agg pass as one ``array(sum(when(bin_cond,1)), ...)``
aggregate expression, so distribution drift costs zero extra Spark jobs
beyond the suite's one aggregation pass.

Driver-side math is a port of
expect_column_kl_divergence_to_be_less_than.py:378-736:
  - weights = hist / nonnull_count
  - categorical path aligns observed/expected, fills absent-expected with
    tail_weight_holdout / n_absent (:476-487)
  - continuous path handles tail holdout for data outside the partition,
    internal_weight_holdout redistributed to zero-weight bins (:547-554)
  - KL = sum(p * ln(p/q)) over normalized vectors (scipy.stats.entropy
    semantics, :489/:704, reimplemented in numpy — scipy not required)
  - success = kl <= threshold (:714)

PSI (our extension for baseline-snapshot drift, same machinery):
  psi = sum((p - q) * ln(p / q)) with epsilon-smoothed zero buckets.
"""

from __future__ import annotations

import math
from typing import Any, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .expectations import Expectation, build_domain, register_expectation
from .metrics import (
    Domain,
    MetricConfiguration,
    MetricResolver,
    agg_metric,
    derived_metric,
    freeze_kwargs,
)


def histogram_terms(col: Column, bins: "Sequence[float]") -> "list[Column]":
    """The n_bins + 2 aggregate count terms [below, bin_0.., above] for a
    numeric column against fixed edges — the ONE definition of this
    engine's bin semantics, shared by the column.histogram metric and the
    mergeable histogram states (states.histogram_states), so merged
    per-partition counts are bit-identical to a full-scan histogram.

    Bin i counts values in [b_i, b_{i+1}) except the last bin which is
    [b_{n-1}, b_n] (reference adds the upper-bound-equal count separately,
    column_histogram.py:279; same semantics here). ±inf endpoints become
    one-sided predicates (expect_column_kl_divergence...py:558-698 cases).
    """
    bins = [float(b) for b in bins]

    def cnt(cond: Column) -> Column:
        return F.coalesce(F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))), F.lit(0))

    terms: list[Column] = []
    # below the partition (strictly less than the first finite edge)
    terms.append(
        cnt(col < F.lit(bins[0])) if math.isfinite(bins[0]) else cnt(F.lit(False))
    )
    for i in range(len(bins) - 1):
        lo, hi = bins[i], bins[i + 1]
        last = i == len(bins) - 2
        if not math.isfinite(lo) and not math.isfinite(hi):
            cond = col.isNotNull()
        elif not math.isfinite(lo):
            cond = (col < F.lit(hi)) if not last else (col <= F.lit(hi))
        elif not math.isfinite(hi):
            cond = col >= F.lit(lo)
        else:
            cond = (col >= F.lit(lo)) & (
                (col <= F.lit(hi)) if last else (col < F.lit(hi))
            )
        terms.append(cnt(cond))
    terms.append(
        cnt(col > F.lit(bins[-1])) if math.isfinite(bins[-1]) else cnt(F.lit(False))
    )
    return terms


@agg_metric("column.histogram")
def _histogram(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    """Bin counts + below/above-partition tails as ONE aggregate array
    (see histogram_terms for the bin semantics)."""
    from .metrics import domain_col

    bins = [float(b) for b in cfg.kw("bins")]
    col = domain_col(domain, ctx)  # NaN≡NULL on float columns
    return F.array(*histogram_terms(col, bins))


_NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")
# a categorical partition above this many values keeps value_counts. One
# sum(when) per value costs generated-code size, not rows: a KL check plus
# the row count, validate_df and validate_and_extract, 4 cores, the
# counts against a value_counts pass took 0.21 vs 0.20 s at 17 values on
# 5k rows and 0.30 vs 0.28-0.30 s on 200k rows; at 32 values 0.29 vs
# 0.18 s (5k) and 0.44 vs 0.20 s (200k); at 256 values 2.3 vs 0.18 s
# (200k).
CATEGORICAL_AGG_MAX_VALUES = 17


@agg_metric("column.categorical_histogram")
def _categorical_histogram(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    """The categorical twin of ``column.histogram``: ONE aggregate array
    ``[count(col = v_0), ..., count(col = v_k), count of non-null values
    outside the partition]`` for the partition ``values``, so categorical
    KL rides the suite's aggregate pass instead of a value_counts job.

    Spark's ``=`` agrees with the Python equality that the value_counts
    path applies on the driver only for a string column against string
    values and a numeric column against int/float values (not bool); any
    other pairing — or an unknown column type, or more than
    CATEGORICAL_AGG_MAX_VALUES values — yields NULL, and the expectation
    reads ``column.value_counts`` instead."""
    from .metrics import domain_col

    values = list(cfg.kw("values"))
    dtype = (getattr(ctx, "dtypes", None) or {}).get(domain.column)
    strings = dtype == "string" and all(isinstance(v, str) for v in values)
    numbers = dtype in _NUMERIC_DTYPES and all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in values
    )
    if not (strings or numbers) or len(values) > CATEGORICAL_AGG_MAX_VALUES:
        return F.max(F.lit(None).cast("array<bigint>"))
    col = domain_col(domain, ctx)  # NaN≡NULL on float columns
    terms = [
        F.coalesce(F.sum(F.when(col == F.lit(v), 1).otherwise(0)), F.lit(0))
        for v in values
    ]
    return F.array(*terms, F.count(F.when(~col.isin(*values), col)))


def _quantile_cfg(domain: Domain, n_bins: int, exact: bool) -> MetricConfiguration:
    qs = tuple(float(i) / n_bins for i in range(n_bins + 1))
    return MetricConfiguration(
        "column.quantile_values", domain, freeze_kwargs(quantiles=qs, exact=exact)
    )


@derived_metric(
    "column.partition",
    deps_fn=lambda cfg: _partition_deps(cfg),
)
def _partition(resolved: dict, cfg: MetricConfiguration):
    """Bin-edge computation — pure driver math over dependency metrics
    (reference: column_partition.py:20-120)."""
    mode = cfg.kw("mode", "uniform")
    n_bins = int(cfg.kw("n_bins", 10))
    if mode == "uniform":
        lo = resolved[MetricConfiguration("column.min", cfg.domain).id]
        hi = resolved[MetricConfiguration("column.max", cfg.domain).id]
        lo, hi = float(lo), float(hi)
        if lo == hi:
            lo, hi = lo - 0.5, hi + 0.5
        return list(np.linspace(lo, hi, n_bins + 1))
    # quantile / ntile / auto -> evenly spaced quantiles
    q = resolved[_quantile_cfg(cfg.domain, n_bins, bool(cfg.kw("exact", True))).id]
    edges = sorted(set(float(x) for x in q))
    if len(edges) < 2:
        edges = [edges[0] - 0.5, edges[0] + 0.5] if edges else [0.0, 1.0]
    return edges


def _partition_deps(cfg: MetricConfiguration) -> dict[str, MetricConfiguration]:
    if cfg.kw("mode", "uniform") == "uniform":
        return {
            "min": MetricConfiguration("column.min", cfg.domain),
            "max": MetricConfiguration("column.max", cfg.domain),
        }
    return {
        "q": _quantile_cfg(
            cfg.domain, int(cfg.kw("n_bins", 10)), bool(cfg.kw("exact", True))
        )
    }


# ---------------------------------------------------------------------------
# Driver-side divergence math
# ---------------------------------------------------------------------------


def kl_divergence(pk: np.ndarray, qk: np.ndarray) -> float:
    """scipy.stats.entropy(pk, qk) semantics: normalize both, sum p*ln(p/q);
    inf when q==0 where p>0."""
    pk = np.asarray(pk, dtype=float)
    qk = np.asarray(qk, dtype=float)
    if pk.sum() <= 0:
        return 0.0
    pk = pk / pk.sum()
    qk = qk / qk.sum() if qk.sum() > 0 else qk
    mask = pk > 0
    if np.any(qk[mask] <= 0):
        return float("inf")
    return float(np.sum(pk[mask] * np.log(pk[mask] / qk[mask])))


def psi(pk: np.ndarray, qk: np.ndarray, eps: float = 1e-6) -> float:
    pk = np.asarray(pk, dtype=float)
    qk = np.asarray(qk, dtype=float)
    p = np.clip(pk / pk.sum() if pk.sum() else pk, eps, None)
    q = np.clip(qk / qk.sum() if qk.sum() else qk, eps, None)
    p, q = p / p.sum(), q / q.sum()
    return float(np.sum((p - q) * np.log(p / q)))


# stands for "some value outside the categorical partition" when only
# the count of such values is known (see _categorical_counts)
_OUTSIDE = object()


class KLDivergenceExpectation(Expectation):
    """expect_column_kl_divergence_to_be_less_than.

    kwargs: column, partition_object ({bins,weights} continuous or
    {values,weights} categorical) | None, threshold,
    tail_weight_holdout=0, internal_weight_holdout=0,
    bucketize_data=True, n_bins=10 (auto-partition bin count).
    """

    name = "expect_column_kl_divergence_to_be_less_than"

    # --- request plumbing -------------------------------------------------

    def metric_requests(self, cfg, rf):
        domain = build_domain(cfg)
        po = cfg.get("partition_object")
        reqs = {"nonnull": MetricConfiguration("column.nonnull_count", domain)}
        if po is None:
            if cfg.get("bucketize_data", True):
                reqs["partition"] = MetricConfiguration(
                    "column.partition",
                    domain,
                    freeze_kwargs(
                        mode=cfg.get("partition_mode", "uniform"),
                        n_bins=int(cfg.get("n_bins", 10)),
                        exact=bool(cfg.get("exact", True)),
                    ),
                )
            else:
                reqs["value_counts"] = MetricConfiguration(
                    "column.value_counts", domain, freeze_kwargs(sort="value")
                )
        elif "bins" in po:
            reqs["histogram"] = MetricConfiguration(
                "column.histogram", domain, freeze_kwargs(bins=tuple(po["bins"]))
            )
        else:  # categorical partition
            reqs["counts"] = MetricConfiguration(
                "column.categorical_histogram",
                domain,
                freeze_kwargs(values=tuple(po["values"])),
            )
        return reqs

    @staticmethod
    def _value_counts_cfg(cfg) -> MetricConfiguration:
        return MetricConfiguration(
            "column.value_counts", build_domain(cfg), freeze_kwargs(sort="value")
        )

    @staticmethod
    def _needs_value_counts(cfg, counts) -> bool:
        """The labels of values outside a categorical partition matter
        only when a tail holdout spreads weight over them; without one any
        outside value makes the divergence infinite."""
        if counts is None:  # the column type needs the driver-side equality
            return True
        return counts[-1] > 0 and float(cfg.get("tail_weight_holdout", 0.0)) > 0

    def _categorical_counts(self, cfg, rf, resolver) -> list:
        """(value, count) pairs for the categorical path: the partition's
        values with their observed counts plus one stand-in for "values
        outside the partition", or ``column.value_counts`` when the
        outside labels are needed."""
        po = cfg.get("partition_object")
        counts = resolver[self.metric_requests(cfg, rf)["counts"]]
        if self._needs_value_counts(cfg, counts):
            return resolver[self._value_counts_cfg(cfg)]
        pairs = list(zip(po["values"], counts[:-1]))
        return pairs + ([(_OUTSIDE, counts[-1])] if counts[-1] else [])

    def stage2_requests(self, cfg, rf, resolver):
        po = cfg.get("partition_object")
        if po is not None and "bins" not in po:
            counts = resolver[self.metric_requests(cfg, rf)["counts"]]
            if self._needs_value_counts(cfg, counts):
                return {"value_counts": self._value_counts_cfg(cfg)}
            return {}
        if po is None and cfg.get("bucketize_data", True):
            domain = build_domain(cfg)
            reqs = self.metric_requests(cfg, rf)
            bins = resolver[reqs["partition"]]
            return {
                "histogram": MetricConfiguration(
                    "column.histogram", domain, freeze_kwargs(bins=tuple(bins))
                )
            }
        return {}

    # --- validation --------------------------------------------------------

    def validate(self, cfg, rf, resolver):
        # threshold=None always succeeds (reference: used by profiling to
        # capture the partition without asserting on it)
        thr = cfg.get("threshold", 0.6)
        threshold = None if thr is None else float(thr)
        tail_holdout = float(cfg.get("tail_weight_holdout", 0.0))
        internal_holdout = float(cfg.get("internal_weight_holdout", 0.0))
        po = cfg.get("partition_object")
        domain = build_domain(cfg)
        reqs = self.metric_requests(cfg, rf)
        nonnull = int(resolver[reqs["nonnull"]] or 0)

        if po is not None and "bins" not in po:
            observed_kl, details = self._categorical(
                self._categorical_counts(cfg, rf, resolver), po, nonnull, tail_holdout
            )
        else:
            if po is None:
                if not cfg.get("bucketize_data", True):
                    # categorical self-partition: compare against itself -> 0;
                    # degenerate but mirrors GX behavior of building the
                    # expected partition from the data when absent.
                    vc = resolver[reqs["value_counts"]]
                    weights = [c / nonnull for _, c in vc] if nonnull else []
                    po_eff = {"values": [v for v, _ in vc], "weights": weights}
                    observed_kl, details = self._categorical(
                        vc, po_eff, nonnull, tail_holdout
                    )
                    return self._result(rf, observed_kl, threshold, details)
                bins = list(resolver[reqs["partition"]])
                hist_cfg = MetricConfiguration(
                    "column.histogram", domain, freeze_kwargs(bins=tuple(bins))
                )
                hist = list(resolver[hist_cfg])
                weights = (
                    [h / nonnull for h in hist[1:-1]] if nonnull else [0.0] * (len(bins) - 1)
                )
                po_eff = {"bins": bins, "weights": weights}
            else:
                po_eff = po
                hist = list(resolver[reqs["histogram"]])
            observed_kl, details = self._continuous(
                hist, po_eff, nonnull, tail_holdout, internal_holdout
            )
        return self._result(rf, observed_kl, threshold, details)

    @staticmethod
    def _result(rf, observed_kl, threshold, details):
        # undefined/infinite divergence reports observed_value=None
        # (reference expect_column_kl_divergence...py: np.isinf/isnan -> None)
        if observed_kl is not None and (
            math.isinf(observed_kl) or math.isnan(observed_kl)
        ):
            observed_kl = None
        if threshold is None:
            success = True
        else:
            success = observed_kl is not None and observed_kl <= threshold
        ret: dict[str, Any] = {"success": bool(success)}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed_kl, "details": details}
        return ret

    @staticmethod
    def _categorical(value_counts, po, nonnull, tail_holdout):
        obs = {v: c for v, c in value_counts}
        exp_vals = list(po["values"])
        exp_w = [float(w) for w in po["weights"]]
        # observed values absent from expected partition
        absent = sorted(
            (v for v in obs if v not in set(exp_vals)), key=lambda x: str(x)
        )
        p, q, labels = [], [], []
        for v, w in zip(exp_vals, exp_w):
            labels.append(v)
            p.append(obs.get(v, 0) / nonnull if nonnull else 0.0)
            q.append(w * (1.0 - tail_holdout))
        if absent:
            if tail_holdout <= 0:
                return float("inf"), {
                    "observed_partition": {"values": labels, "weights": p},
                    "expected_partition": {"values": exp_vals, "weights": exp_w},
                }
            fill = tail_holdout / len(absent)  # reference :476-487
            for v in absent:
                labels.append(v)
                p.append(obs.get(v, 0) / nonnull if nonnull else 0.0)
                q.append(fill)
        kl = kl_divergence(np.array(p), np.array(q))
        return kl, {
            "observed_partition": {"values": labels, "weights": p},
            "expected_partition": {"values": exp_vals, "weights": exp_w},
        }

    @staticmethod
    def _continuous(hist, po, nonnull, tail_holdout, internal_holdout):
        below, above = int(hist[0]), int(hist[-1])
        bin_counts = [int(h) for h in hist[1:-1]]
        exp_w = np.array([float(w) for w in po["weights"]], dtype=float)
        obs_w = (
            np.array(bin_counts, dtype=float) / nonnull
            if nonnull
            else np.zeros(len(bin_counts))
        )
        below_w = below / nonnull if nonnull else 0.0
        above_w = above / nonnull if nonnull else 0.0

        exp_tails = po.get("tail_weights")
        if exp_tails is not None:
            # explicit expected tail mass in the partition object
            # (weights + tail_weights sum to 1 per the reference's
            # is_valid_continuous_partition_object)
            q = exp_w * (1.0 - internal_holdout)
            zeros = q == 0
            if internal_holdout > 0 and zeros.any():
                q[zeros] = internal_holdout / zeros.sum()
            p = [below_w] + list(obs_w) + [above_w]
            qq = [float(exp_tails[0])] + list(q) + [float(exp_tails[1])]
            kl = kl_divergence(np.array(p), np.array(qq))
            return kl, {
                "observed_partition": {
                    "bins": po["bins"],
                    "weights": list(obs_w),
                    "tail_weights": [below_w, above_w],
                },
                "expected_partition": {
                    "bins": po["bins"],
                    "weights": list(exp_w),
                    "tail_weights": [float(exp_tails[0]), float(exp_tails[1])],
                },
            }

        # internal holdout -> redistribute to zero-weight expected bins
        # (reference :547-554)
        q = exp_w * (1.0 - tail_holdout - internal_holdout)
        zeros = q == 0
        if internal_holdout > 0 and zeros.any():
            q[zeros] = internal_holdout / zeros.sum()

        p = list(obs_w)
        qq = list(q)
        if below > 0 or above > 0 or tail_holdout > 0:
            if tail_holdout <= 0 and (below > 0 or above > 0):
                kl = float("inf")
                return kl, {
                    "observed_partition": {
                        "bins": po["bins"],
                        "weights": list(obs_w),
                        "tail_weights": [below_w, above_w],
                    },
                    "expected_partition": {
                        "bins": po["bins"],
                        "weights": list(exp_w),
                        "tail_weights": [0.0, 0.0],
                    },
                }
            p = [below_w] + p + [above_w]
            qq = [tail_holdout / 2] + qq + [tail_holdout / 2]
        kl = kl_divergence(np.array(p), np.array(qq))
        return kl, {
            "observed_partition": {
                "bins": po["bins"],
                "weights": list(obs_w),
                "tail_weights": [below_w, above_w],
            },
            "expected_partition": {
                "bins": po["bins"],
                "weights": list(exp_w),
                "tail_weights": [tail_holdout / 2, tail_holdout / 2]
                if tail_holdout > 0
                else [0.0, 0.0],
            },
        }


class PSIExpectation(KLDivergenceExpectation):
    """expect_column_psi_to_be_less_than — population-stability-index drift
    vs a baseline snapshot partition ({bins,weights}). Our extension; uses
    the identical single-pass histogram machinery, symmetric-ish smoothed
    divergence instead of KL.
    """

    name = "expect_column_psi_to_be_less_than"

    def validate(self, cfg, rf, resolver):
        threshold = float(cfg.get("threshold", 0.2))
        po = cfg.get("partition_object")
        reqs = self.metric_requests(cfg, rf)
        nonnull = int(resolver[reqs["nonnull"]] or 0)
        hist = list(resolver[reqs["histogram"]])
        bin_counts = np.array(hist[1:-1], dtype=float)
        obs_w = bin_counts / nonnull if nonnull else bin_counts
        exp_w = np.array([float(w) for w in po["weights"]], dtype=float)
        observed_psi = psi(obs_w, exp_w)
        success = observed_psi <= threshold
        ret: dict[str, Any] = {"success": bool(success)}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {
                "observed_value": observed_psi,
                "details": {
                    "observed_partition": {"bins": po["bins"], "weights": list(obs_w)},
                    "expected_partition": {"bins": po["bins"], "weights": list(exp_w)},
                },
            }
        return ret


register_expectation(KLDivergenceExpectation())
register_expectation(PSIExpectation())


def two_sample_drift(df_a, df_b, column: str, bins: "list[float]"):
    """PSI and KL divergence between the distributions of ``column`` in two
    frames, over the SAME explicit bin edges — the A/B slice comparison
    ("did this source's length distribution drift from the rest?") that
    the baseline-snapshot expectations can't express directly.

    Each side is ONE ``sum(when)`` histogram aggregate (no Bucketizer job,
    no shuffle beyond the agg); the two single-row frames cross-join (1x1)
    and PSI/KL fold as plain Column arithmetic over the bin columns —
    nothing is collected to the driver. Bins are caller-fixed so the
    result is engine-reproducible; the last edge is inclusive. Bins where
    either side is empty contribute via an ``eps`` clip (1e-6) WITHOUT
    renormalization — choose covering bins if exactness matters.

    Returns one row: (n_a, n_b, psi, kl_ab), PSI/KL rounded to 6 dp.
    """
    eps = 1e-6
    k = len(bins) - 1

    def hist(df, tag):
        aggs = []
        for i in range(k):
            lo, hi = bins[i], bins[i + 1]
            cond = (F.col(column) >= F.lit(lo)) & (
                (F.col(column) <= F.lit(hi))
                if i == k - 1
                else (F.col(column) < F.lit(hi))
            )
            aggs.append(F.sum(cond.cast("long")).alias(f"{tag}{i}"))
        aggs.append(F.count(F.col(column)).alias(f"{tag}_n"))
        return df.agg(*aggs)

    both = hist(df_a, "a").crossJoin(hist(df_b, "b"))

    def frac(tag, i):
        return F.greatest(
            F.col(f"{tag}{i}") / F.col(f"{tag}_n"), F.lit(eps)
        )

    psi_e = None
    kl_e = None
    for i in range(k):
        p, q = frac("a", i), frac("b", i)
        t_psi = (p - q) * F.log(p / q)
        t_kl = p * F.log(p / q)
        psi_e = t_psi if psi_e is None else psi_e + t_psi
        kl_e = t_kl if kl_e is None else kl_e + t_kl
    return both.select(
        F.col("a_n").alias("n_a"),
        F.col("b_n").alias("n_b"),
        F.round(psi_e, 6).alias("psi"),
        F.round(kl_e, 6).alias("kl_ab"),
    )


def two_sample_distances(df_a, df_b, column: str, by: "list[str] | None" = None):
    """EXACT two-sample KS statistic and 1-Wasserstein (earth-mover)
    distance between the distributions of ``column`` in two frames —
    the binning-free complement to ``two_sample_drift``: PSI/KL answer
    "how surprised is a fixed-bin histogram", these answer "how far
    apart are the full ECDFs" with no bin-edge choice to game and no
    eps-clip artifacts on empty bins.

    Both reduce to the merged distinct-value spine: per-value counts
    for each side (map-side combined), one full-outer join on the
    value, then cumulative counts in value order. KS is
    max |F_a - F_b| over the spine; W1 is sum |F_a - F_b| * gap between
    consecutive distinct values (the exact integral of the ECDF
    difference). One narrow shuffle per side + a window over the spine
    only — the data never sorts; same bounded-cardinality applicability
    note as stats.exact_quantiles. Nulls are excluded per side; an
    empty side yields NULL distances (no evidence, not zero drift).

    ``by`` computes the distances PER GROUP ("which segment drifted?"):
    the spine keys on (group cols..., value), the windows partition by
    the groups, and the result has one row per group observed on EITHER
    side (a group missing from one side has that side's n at 0 and NULL
    distances). Rows with a NULL group value are excluded — a drift
    verdict needs a stable segment identity.

    Returns (``by`` cols..., n_a, n_b, ks_stat, wasserstein), distances
    rounded to 6dp (every per-row term is exact integer-ratio
    arithmetic; only W1's summation order is engine-dependent)."""
    from pyspark.sql import Window

    groups = list(by) if by else []

    def counts(df, tag):
        cond = F.col(column).isNotNull()
        for g in groups:
            cond = cond & F.col(g).isNotNull()
        return (
            df.where(cond)
            .groupBy(*groups, F.col(column).cast("double").alias("__v"))
            .agg(F.count(F.lit(1)).alias(tag))
        )

    merged = (
        counts(df_a, "__ca")
        .join(counts(df_b, "__cb"), groups + ["__v"], "full_outer")
        .select(
            *groups,
            "__v",
            F.coalesce("__ca", F.lit(0)).alias("__ca"),
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
        )
    )
    wc = (
        Window.partitionBy(*groups)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*groups)
    wlead = Window.partitionBy(*groups).orderBy("__v")
    r = merged.select(
        *groups,
        "__v",
        F.sum("__ca").over(wc).alias("__cuma"),
        F.sum("__cb").over(wc).alias("__cumb"),
        F.sum("__ca").over(wall).alias("__na"),
        F.sum("__cb").over(wall).alias("__nb"),
        F.lead("__v").over(wlead).alias("__nv"),
    )
    # try_divide: an empty side has n=0 and must yield NULL (ANSI mode
    # would throw DIVIDE_BY_ZERO; DuckDB's x/0 is NULL, so the oracle
    # agrees)
    diff = F.abs(
        F.try_divide(F.col("__cuma"), F.col("__na"))
        - F.try_divide(F.col("__cumb"), F.col("__nb"))
    )
    # a single-value spine has no gaps: sum() over zero terms is NULL,
    # but two non-empty one-point distributions are distance 0 — coalesce
    # under a KS guard (KS non-null == both sides non-empty)
    ks = F.max(diff)
    w1 = F.sum(diff * (F.col("__nv") - F.col("__v")))
    aggs = [
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.round(ks, 6).alias("ks_stat"),
        F.round(
            F.when(ks.isNotNull(), F.coalesce(w1, F.lit(0.0))), 6
        ).alias("wasserstein"),
    ]
    return r.groupBy(*groups).agg(*aggs) if groups else r.agg(*aggs)
