"""Mergeable per-partition metric states — incremental aggregation.

The north rule wants per-partition lineage + metrics with resume from the
last committed partition. The validation side of that lives in runner.py
(checkpoint/resume of EVRs); this module is the *metric* side: algebraic
aggregation states that can be computed per partition, persisted, and
merged — so corpus-level column stats over 10^12 docs never rescan
partitions that already committed a state. (Deequ calls these metric
"states"; the reference GX has no analog — it recomputes from scratch.)

State per (state_key, column):  n, n_null, s (=Σx), mean, m2, mn, mx
— with m2 the centered second moment n·var_pop, merged exactly with the
generalized Chan/Welford identity in its *stable* form:

    N  = Σ n_i,   S = Σ s_i,   mean = S / N,
    M2 = Σ m2_i + Σ n_i · (mean_i − mean)²

The grand mean is computed first (a window over the dimension-sized
states frame — #partitions × #columns rows, so the second pass is free),
then each partition's deviation term is folded. Every summand is
non-negative, so the merge cannot cancel catastrophically when
|mean| ≫ σ — the regime where the algebraically-equivalent
Σ s_i²/n_i − S²/N form loses all significant digits at 10^12 rows.
A residual tiny-negative M2 from float noise is clamped to 0; a
negative beyond a relative epsilon indicates corrupt states (e.g. a
double-counted partition) and raises instead of silently zeroing.

An optional HLL sketch column (pyspark 4 hll_sketch_agg/hll_union_agg)
rides along for mergeable approximate distinct counts; it is excluded
from exact-oracle comparisons and tested against exact distinct within
the sketch's rsd in pytest.

Scale: column_states is one groupBy(state_key) with map-side combine
over a pruned scan (only the profiled columns are read); states frames
are dimension-sized (#partitions × #columns rows), so merge_states and
persistence are free at any corpus size.

Every family — moments and fixed-bin histograms here, Misra-Gries and
quantile summaries in sketches.py — is described once as a
:class:`StateKind` (:func:`moments`, :func:`histogram`,
``sketches.misra_gries``, ``sketches.quantiles``) and goes through one
incremental refresh (:func:`update`), one supersede rule
(:func:`latest_committed`) and, in runner.py, one write and read path
(``write_states``/``read_states``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pyspark >= 3.5
    from pyspark.sql.functions import hll_sketch_agg, hll_union_agg  # noqa: F401

    _HAS_HLL = True
except ImportError:  # pragma: no cover - older pyspark
    _HAS_HLL = False

STATE_FIELDS = ["n", "n_null", "s", "mean", "m2", "mn", "mx"]


def column_states(
    df: DataFrame,
    columns: Sequence[str],
    state_key: str | None = None,
    include_hll: bool = False,
) -> DataFrame:
    """Aggregation states per (state_key, column), long format.

    ``state_key`` is any Spark SQL expression naming the commit unit —
    an Iceberg partition value, a date bucket, ``pmod(hash(id), k)``;
    default ``spark_partition_id()`` (one state per input split).
    Columns must be numeric (cast to double).

    One wide groupBy computes every column's aggregates in a single
    shuffle; the melt to long format runs on the dimension-sized result.
    """
    if not columns:
        raise ValueError("column_states needs at least one column")
    key = F.expr(state_key) if state_key else F.spark_partition_id()
    aggs = []
    for c in columns:
        x = F.col(c).cast("double")
        aggs += [
            F.count(x).alias(f"__n_{c}"),
            F.sum(F.when(x.isNull(), 1).otherwise(0)).alias(f"__nn_{c}"),
            F.sum(x).alias(f"__s_{c}"),
            F.avg(x).alias(f"__mean_{c}"),
            (F.var_pop(x) * F.count(x)).alias(f"__m2_{c}"),
            F.min(x).alias(f"__mn_{c}"),
            F.max(x).alias(f"__mx_{c}"),
        ]
        if include_hll:
            if not _HAS_HLL:
                raise RuntimeError("include_hll needs pyspark >= 3.5")
            # sketch input must be int/bigint/string/binary; the string
            # rendering preserves distinct identity for any numeric type
            aggs.append(hll_sketch_agg(F.col(c).cast("string")).alias(f"__hll_{c}"))
    wide = df.groupBy(key.alias("state_key")).agg(*aggs)
    stack_args = []
    per_col = 1 + len(STATE_FIELDS) + (1 if include_hll else 0)
    for c in columns:
        stack_args.append(F.lit(c))
        stack_args += [F.col(f"__{f}_{c}") for f in ["n", "nn", "s", "mean", "m2", "mn", "mx"]]
        if include_hll:
            stack_args.append(F.col(f"__hll_{c}"))
    assert len(stack_args) == per_col * len(columns)
    out_cols = ["column"] + STATE_FIELDS + (["hll"] if include_hll else [])
    melted = wide.select(
        "state_key",
        F.stack(F.lit(len(columns)), *stack_args).alias(*out_cols),
    )
    # an all-null column in a partition has n=0 and NULL m2 (var_pop of
    # nothing); normalize so merges stay pure sums
    return melted.withColumn(
        "m2", F.when(F.col("n") > 0, F.col("m2")).otherwise(F.lit(0.0))
    ).withColumn("s", F.coalesce("s", F.lit(0.0)))


def merge_states(states: DataFrame, round_to: int = 6) -> DataFrame:
    """Fold states into the corpus-level profile, exactly.

    Returns (column, n, n_null, mean, stddev_samp, variance_samp, mn, mx)
    — bit-for-bit the same statistics a full rescan would produce (up to
    float rounding at ``round_to`` decimals). Stable two-stage fold: the
    grand mean per column is computed first (window over the
    dimension-sized states frame — free at any corpus size), then
    M2 = Σ m2_i + Σ n_i·(mean_i − mean)², every term non-negative, so
    the result never cancels even when |mean| ≫ σ. Float noise can still
    leave M2 a hair negative; it is clamped at 0 only within a relative
    epsilon — a larger negative raises, because that means the states
    themselves are inconsistent and a silent 0 stddev would violate the
    merged == rescan contract.
    """
    has_hll = "hll" in states.columns
    if has_hll and not _HAS_HLL:
        raise RuntimeError(
            "these states carry HLL sketches but this pyspark lacks "
            "hll_union_agg (needs >= 3.5); drop the 'hll' column to merge "
            "without distinct counts"
        )
    from pyspark.sql import Window

    w = Window.partitionBy("column")
    enriched = (
        states.withColumn("_N", F.sum("n").over(w))
        .withColumn("_Stot", F.sum("s").over(w))
        .withColumn(
            "_gmean",
            F.when(F.col("_N") > 0, F.col("_Stot") / F.col("_N").cast("double")),
        )
    )
    dev = F.when(
        (F.col("n") > 0) & F.col("mean").isNotNull(),
        F.col("n").cast("double")
        * (F.col("mean") - F.col("_gmean"))
        * (F.col("mean") - F.col("_gmean")),
    ).otherwise(F.lit(0.0))
    aggs = [
        F.sum("n").alias("n"),
        F.sum("n_null").alias("n_null"),
        F.sum("s").alias("_S"),
        (F.sum("m2") + F.sum(dev)).alias("_m2_total"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    ]
    if has_hll:
        aggs.append(hll_union_agg("hll").alias("_hll"))
    g = enriched.groupBy("column").agg(*aggs)
    n = F.col("n").cast("double")
    mean = F.when(F.col("n") > 0, F.col("_S") / n)
    # clamp only float dust: anything more negative than eps·scale means
    # the states are corrupt (e.g. hand-edited or double-counted)
    m2_raw = F.col("_m2_total")
    scale = F.greatest(F.abs(F.col("_S")) * F.abs(F.col("_S")) / F.greatest(n, F.lit(1.0)), F.lit(1.0))
    m2_total = F.when(
        m2_raw >= 0, m2_raw
    ).otherwise(
        F.when(
            m2_raw > -1e-9 * scale, F.lit(0.0)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("merge_states: negative M2 beyond float tolerance for column "),
                    F.col("column"),
                    F.lit(" — inconsistent states (m2="),
                    m2_raw.cast("string"),
                    F.lit(")"),
                )
            ).cast("double")
        )
    )
    var_samp = F.when(F.col("n") > 1, m2_total / (n - 1))
    out = g.select(
        "column",
        "n",
        "n_null",
        F.round(mean, round_to).alias("mean"),
        F.round(F.sqrt(var_samp), round_to).alias("stddev_samp"),
        F.round(var_samp, round_to).alias("variance_samp"),
        "mn",
        "mx",
        *(
            [F.expr("hll_sketch_estimate(_hll)").alias("approx_distinct")]
            if has_hll
            else []
        ),
    )
    return out


# ---------------------------------------------------------------------------
# Mergeable histogram states — incremental distribution drift
# ---------------------------------------------------------------------------


def histogram_states(
    df: DataFrame,
    bins_by_column: "dict[str, Sequence[float]]",
    state_key: str | None = None,
) -> DataFrame:
    """Fixed-bin histogram counts per (state_key, column, bin), long format.

    The distribution-drift counterpart of :func:`column_states`: bin
    counts over FIXED edges are pure sums, so per-commit-unit histograms
    merge exactly — corpus-level KL/PSI drift against a baseline snapshot
    never rescans partitions that already committed
    (:func:`drift_from_states`). Bin semantics are shared with the
    column.histogram metric via distribution.histogram_terms (bin 0 =
    below the first edge, 1..B the partition's bins with the last bin
    closed on the right, B+1 = above), so merged == rescan holds
    bit-for-bit. NaN is normalized to NULL like the metric path; nulls
    are not counted in any bin (KL/PSI are nonnull-conditioned).

    One wide groupBy(state_key) computes every (column, bin) count in a
    single shuffle of dimension-sized rows; the melt to long format runs
    on the result (#commit-units × Σ(bins+2) rows).
    """
    from .distribution import histogram_terms

    if not bins_by_column:
        raise ValueError("histogram_states needs at least one column")
    key = F.expr(state_key) if state_key else F.spark_partition_id()
    aggs = []
    layout: list[tuple[str, int]] = []  # (column, n_terms)
    for c, edges in bins_by_column.items():
        edges = [float(b) for b in edges]
        if len(edges) < 2:
            raise ValueError(f"column {c}: need >= 2 bin edges, got {edges}")
        if sorted(edges) != edges or len(set(edges)) != len(edges):
            raise ValueError(f"column {c}: bin edges must be strictly increasing")
        xc = F.col(c).cast("double")
        x = F.when(F.isnan(xc), F.lit(None)).otherwise(xc)
        terms = histogram_terms(x, edges)
        for i, t in enumerate(terms):
            aggs.append(t.alias(f"__h_{c}_{i}"))
        layout.append((c, len(terms)))
    wide = df.groupBy(key.alias("state_key")).agg(*aggs)
    stack_args = []
    for c, n_terms in layout:
        for i in range(n_terms):
            stack_args += [F.lit(c), F.lit(i), F.col(f"__h_{c}_{i}")]
    n_rows = sum(n for _, n in layout)
    return wide.select(
        "state_key",
        F.stack(F.lit(n_rows), *stack_args).alias("column", "bin", "cnt"),
    )


def merge_histogram_states(states: DataFrame) -> DataFrame:
    """Fold histogram states into corpus-level (column, bin, cnt) — pure
    sums over the dimension-sized states frame, exactly equal to a full
    rescan with the same edges."""
    return (
        states.groupBy("column", "bin")
        .agg(F.sum("cnt").alias("cnt"))
        .orderBy("column", "bin")
    )


def quantile_bounds(
    merged: DataFrame,
    bins_by_column: "dict[str, Sequence[float]]",
    ps: "Sequence[float]",
) -> DataFrame:
    """EXACT quantile brackets from merged histogram states: for each
    column and probability p, the bin that provably contains the type-1
    quantile (rank ceil(p·n) over the nonnull count, the same all-integer
    rank arithmetic as stats.exact_quantiles), returned as (column, p, n,
    bin, lo, hi). The bracket is deterministic and exact — the true
    quantile lies in [lo, hi) (last finite bin closed on the right) by
    construction, with guaranteed width = one bin — so quantile
    expectations are answerable INCREMENTALLY from committed states:
    bracket inside the allowed range ⇒ definite pass, bracket disjoint ⇒
    definite fail, straddling ⇒ indeterminate (rescan or tighten bins).
    Day N+1 never rescans committed partitions for any definite verdict.

    ``bins_by_column`` must be the edges the states were built with
    (tails: bin 0 = (-inf, first edge), top bin = (last edge, +inf));
    ``merged`` is merge_histogram_states output. Everything here is a
    window + aggregate over the dimension-sized states frame — free at
    any corpus size. n = 0 (all-null column) yields NULL bin/lo/hi.
    """
    from pyspark.sql import Window

    from .stats import _p_fraction

    ps = list(ps)
    if not ps:
        raise ValueError("quantile_bounds needs at least one probability")
    rows = []
    for c, edges in bins_by_column.items():
        edges = [float(b) for b in edges]
        rows.append((c, 0, float("-inf"), edges[0]))
        for i in range(len(edges) - 1):
            rows.append((c, i + 1, edges[i], edges[i + 1]))
        rows.append((c, len(edges), edges[-1], float("inf")))
    spark = merged.sparkSession
    edges_df = spark.createDataFrame(
        rows, "column string, bin int, lo double, hi double"
    )
    wc = Window.partitionBy("column")
    cum = merged.withColumn(
        "__cum", F.sum("cnt").over(wc.orderBy("bin"))
    ).withColumn("__n", F.sum("cnt").over(wc))
    aggs = [F.max("__n").alias("n")]
    for i, p in enumerate(ps):
        num, den = _p_fraction(p)
        k = F.expr(f"({num} * __n + {den - 1}) DIV {den}")
        aggs.append(
            F.min(F.when(F.col("__cum") >= k, F.col("bin"))).alias(f"__b_{i}")
        )
    picked = cum.groupBy("column").agg(*aggs)
    stack_args = []
    for i, p in enumerate(ps):
        stack_args += [F.lit(float(p)), F.col(f"__b_{i}")]
    long = picked.select(
        "column",
        "n",
        F.stack(F.lit(len(ps)), *stack_args).alias("p", "bin"),
    ).withColumn("bin", F.when(F.col("n") > 0, F.col("bin")))
    return long.join(F.broadcast(edges_df), ["column", "bin"], "left").select(
        "column", "p", "n", "bin", "lo", "hi"
    )


def quantile_bracket_verdicts(
    bounds: DataFrame,
    allowed: "dict[str, dict[float, tuple[float, float]]]",
) -> DataFrame:
    """Three-valued incremental quantile expectation over
    :func:`quantile_bounds` output: per (column, p) with an allowed
    [min_value, max_value], the verdict is

      - ``pass``          — the bracket lies inside the allowed range, so
                            the exact quantile certainly passes;
      - ``fail``          — the bracket is disjoint from the allowed
                            range, so it certainly fails;
      - ``indeterminate`` — the bracket straddles an allowed endpoint
                            (tighten the bins or rescan for an exact
                            value);
      - ``no_data``       — n = 0.

    The bracket is treated as CLOSED [lo, hi] (conservative: definite
    verdicts are never wrong, at the price of some straddles). Everything
    is a broadcast join over two dimension-sized frames."""
    rows = [
        (c, float(p), float(lo), float(hi))
        for c, by_p in allowed.items()
        for p, (lo, hi) in by_p.items()
    ]
    if not rows:
        raise ValueError("quantile_bracket_verdicts needs at least one range")
    spark = bounds.sparkSession
    adf = spark.createDataFrame(
        rows, "column string, p double, amin double, amax double"
    )
    j = bounds.join(F.broadcast(adf), ["column", "p"], "inner")
    verdict = (
        F.when(F.col("n") == 0, F.lit("no_data"))
        .when(
            (F.col("amin") <= F.col("lo")) & (F.col("hi") <= F.col("amax")),
            F.lit("pass"),
        )
        .when(
            (F.col("hi") < F.col("amin")) | (F.col("lo") > F.col("amax")),
            F.lit("fail"),
        )
        .otherwise(F.lit("indeterminate"))
    )
    return j.select(
        "column", "p", "n", "lo", "hi", "amin", "amax",
        verdict.alias("verdict"),
    )


def drift_from_states(
    merged: DataFrame,
    baseline: "dict[str, dict]",
    tail_weight_holdout: float = 0.0,
) -> "list[dict]":
    """Per-column KL and PSI drift of the merged histogram states against
    a baseline partition snapshot — the incremental form of the KL/PSI
    expectations: day N+1 re-profiles only the new commit units
    (``update(histogram(...), ...)``) and this fold stays driver-side math over
    a #columns × (bins+2)-row frame.

    ``merged`` is merge_histogram_states output; ``baseline`` maps column
    -> GE-style partition object {"bins": [...], "weights": [...]} whose
    edges MUST be the ones the states were built with (validated by bin
    count). ``tail_weight_holdout`` is split across the two tails like
    the KL expectation (reference expect_column_kl_divergence...py:
    tail_weight_holdout docs); with holdout 0 any observed tail mass
    makes KL infinite, exactly like the full-scan expectation. PSI
    matches expect_column_psi_to_be_less_than exactly: inner bins only
    (the expectation drops tail mass before calling psi), so incremental
    and full-scan PSI agree on identical data.
    """
    from .distribution import kl_divergence, psi

    rows = merged.collect()
    by_col: dict[str, dict[int, int]] = {}
    for r in rows:
        by_col.setdefault(r["column"], {})[int(r["bin"])] = int(r["cnt"])
    out = []
    for c in sorted(baseline):
        po = baseline[c]
        weights = [float(w) for w in po["weights"]]
        n_terms = len(weights) + 2
        if c not in by_col:
            raise ValueError(f"drift_from_states: no states for column {c}")
        bins_seen = by_col[c]
        if set(bins_seen) != set(range(n_terms)):
            raise ValueError(
                f"drift_from_states: column {c} states carry bins "
                f"{sorted(bins_seen)} but the baseline has {len(weights)} "
                "weights (+2 tails); edges mismatch — recompute states"
            )
        pk = [bins_seen[i] for i in range(n_terms)]
        th = float(tail_weight_holdout)
        qk = [th / 2.0] + [w * (1.0 - th) for w in weights] + [th / 2.0]
        out.append(
            {
                "column": c,
                "n": int(sum(pk)),
                "kl": kl_divergence(pk, qk),
                # PSIExpectation feeds psi() the INNER bin counts only
                # (tail mass is dropped, not eps-clipped) — mirror it so
                # merged-state PSI == the expectation's observed_value
                "psi": psi(pk[1:-1], weights),
            }
        )
    return out


# ---------------------------------------------------------------------------
# The mergeable-state protocol: one kind type, one update, one supersede rule
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class StateKind:
    """One mergeable-state family, described once so the runner, the
    streaming monitor and :func:`update` share a single code path.

    ``build(frame, state_key)`` returns the family's state rows keyed by
    the ``state_key`` SQL expression; it reads only ``columns``. Rows land
    in the store table ``table``. ``shape`` is the set of rows
    ``states.selectExpr(*shape_sql).distinct()`` yields for states this
    kind built — the column set, ``(column, n_bins)`` or ``(column, k)`` —
    so states of another shape are refused instead of merged."""

    table: str
    columns: "tuple[str, ...]"
    build: "Callable[[DataFrame, str], DataFrame]"
    shape_sql: "tuple[str, ...]"
    shape: frozenset


def moments(columns: Sequence[str], include_hll: bool = False) -> StateKind:
    """Column moments (:func:`column_states`), folded by :func:`merge_states`."""
    cols = tuple(columns)
    return StateKind(
        "column_states",
        cols,
        lambda df, key: column_states(df, cols, key, include_hll=include_hll),
        ("column",),
        frozenset((c,) for c in cols),
    )


def histogram(bins_by_column: "dict[str, Sequence[float]]") -> StateKind:
    """Fixed-bin histograms (:func:`histogram_states`), folded by
    :func:`merge_histogram_states`; bins 0..n_bins-1 include both tails."""
    bins = {c: [float(b) for b in e] for c, e in bins_by_column.items()}
    return StateKind(
        "histogram_states",
        tuple(bins),
        lambda df, key: histogram_states(df, bins, key),
        ("column", "max(bin) OVER (PARTITION BY column) + 1"),
        frozenset((c, len(e) + 1) for c, e in bins.items()),
    )


def update(
    kind: StateKind, existing: DataFrame, new_data: DataFrame, state_key: str
) -> DataFrame:
    """Incremental refresh: ``kind``'s states for ``new_data`` replace the
    persisted ``existing`` states of every state_key the delta covers
    (last-write-wins per commit unit, NULL key included — a nullable
    partition column must not double-count), and the other units are
    kept. The delta is read once: the fresh rows are unioned onto
    ``existing`` and, per state_key, only the fresh ones survive where
    there are any. ``existing`` must have the shape ``kind`` builds —
    changed columns, edges or k are not mergeable."""
    from pyspark.sql import Window

    fresh = kind.build(new_data, state_key)
    shape = {tuple(r) for r in existing.selectExpr(*kind.shape_sql).distinct().collect()}
    if shape != kind.shape or set(existing.columns) != set(fresh.columns):
        raise ValueError(
            f"{kind.table}: persisted states have shape {sorted(shape, key=str)} "
            f"and columns {sorted(existing.columns)}, but "
            f"{sorted(kind.shape, key=str)} with {sorted(fresh.columns)} was "
            "requested; a changed column set, bin count or a different k is "
            "not mergeable — recompute states from scratch"
        )
    both = existing.withColumn("__new", F.lit(False)).unionByName(
        fresh.withColumn("__new", F.lit(True))
    )
    w = Window.partitionBy("state_key")
    return (
        both.withColumn("__any_new", F.max("__new").over(w))
        .where(F.col("__new") == F.col("__any_new"))
        .drop("__new", "__any_new")
    )


def latest_committed(states: DataFrame, committed: Sequence[str]) -> DataFrame:
    """Restrict a stored states frame to the ``committed`` commit units,
    keeping per state_key every row of its NEWEST append — set-level
    last-write-wins on ``(ts, append_id)``.

    The read side of the commit protocol for every kind: a crash between
    a state append and the manifest commit leaves orphan rows; units
    that never committed are dropped by one broadcast semi-join (a
    long-running stream commits unboundedly many batches, so no IN-list),
    and a redelivered unit's older rows vanish as a set — a multi-row
    summary's value set can change between deliveries. Rows of one
    append share ts and append_id; the id breaks a same-tick ts tie (a
    row without one sorts as ""). Returns the state columns only."""
    from pyspark.sql import Window

    keys = states.sparkSession.createDataFrame(
        [(k,) for k in committed], "state_key string"
    )
    df = states.join(F.broadcast(keys), "state_key", "left_semi")
    aid = F.col("append_id") if "append_id" in df.columns else F.lit(None)
    tag = F.struct(F.col("ts"), F.coalesce(aid.cast("string"), F.lit("")))
    w = Window.partitionBy("state_key")
    return (
        df.withColumn("__tag", tag)
        .withColumn("__newest", F.max("__tag").over(w))
        .where(F.col("__tag") == F.col("__newest"))
        .drop("__tag", "__newest", "run_id", "ts", "append_id")
    )
