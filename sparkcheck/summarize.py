"""Map-condition summarizers + EVR (result dict) shaping.

Two halves:

1. Parametric summarizer metrics over any registered condition —
   ``map.unexpected_count`` joins the fused agg pass as
   ``sum(when(unexpected, 1))`` (reference:
   map_condition_auxilliary_methods.py:625-640 — zero extra Spark job for
   COLUMN domains). The reference collects unexpected-value samples with
   one action per expectation (:337-384); here every sample of a row-local
   condition over one row set comes from one sample pass
   (``_sample_pass``), and a uniqueness check's count and sample from one
   uniqueness pass (``_uniqueness_pass``). Other window conditions, row
   extraction (``unexpected_rows``/``unexpected_index_list``) and a
   pass's failure-isolation fallback run as their own filter jobs
   (reference :643-700).

2. ``format_map_output`` — field-by-field port of the reference's result
   contract (expectations/expectation.py:3465-3609 ``_format_map_output``):
   element_count, unexpected_count, unexpected_percent (of nonnull),
   missing_count/percent, unexpected_percent_total/nonmissing,
   partial_unexpected_list, partial_unexpected_counts (sorted by
   (-count, value), :3571-3579), unexpected_list, unexpected_index_list.

Key scale deviation (SURVEY.md §2.7): the reference collect()s unexpected
rows to the driver; we keep counts in the agg pass and materialize full
violations as a DataFrame (see ``unexpected_df``), collecting only
``partial_unexpected_count`` samples for the EVR dict.
"""

from __future__ import annotations

from collections import Counter
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from .conditions import get_condition
from .metrics import (
    Domain,
    MetricConfiguration,
    MetricResolver,
    SharedPass,
    _stable_id,
    agg_metric,
    domain_predicate,
    eager_metric,
    float_columns,
)


def _thaw(frozen: Any) -> Any:
    """Inverse of metrics.freeze_kwargs for a (key, value) tuple tree."""
    if isinstance(frozen, tuple) and all(
        isinstance(x, tuple) and len(x) == 2 and isinstance(x[0], str) for x in frozen
    ):
        return {k: _thaw(v) for k, v in frozen}
    if isinstance(frozen, tuple):
        return [_thaw(x) for x in frozen]
    return frozen


def condition_kwargs(cfg: MetricConfiguration) -> tuple[str, dict[str, Any]]:
    name = cfg.kw("condition")
    kw = _thaw(cfg.kw("condition_kwargs", ()))
    return name, kw or {}


def _mask_id(cfg: MetricConfiguration) -> tuple:
    """The identity of ``cfg``'s unexpected mask: its domain and condition.
    A check's count, sample and window-count requests share one mask."""
    condition = [cfg.kw("condition"), cfg.kw("condition_kwargs")]
    return (cfg.domain.domain_id, _stable_id(condition))


def unexpected_mask(cfg: MetricConfiguration, resolver: MetricResolver) -> Column:
    """The unexpected mask of ``cfg``'s condition over its domain, built
    once per (condition, domain, frame dtypes) and then reused
    (``MetricResolver.column``)."""

    def build() -> Column:
        name, kw = condition_kwargs(cfg)
        return get_condition(name).unexpected(
            cfg.domain, kw, resolver.float_cols_of(cfg.domain), resolver.dtypes
        )

    return resolver.column("mask", _mask_id(cfg), build)


@agg_metric("map.unexpected_count")
def _unexpected_count_agg(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    # joins the domain's aggregate bundle — reference :625-640
    return F.sum(F.when(unexpected_mask(cfg, ctx), 1).otherwise(0))


_UNIQUENESS = ("column_values.unique", "compound_columns.unique")


def _shared_pass(cfg: MetricConfiguration) -> SharedPass | None:
    """The pass that resolves a sample or window-count request together
    with the other ready requests: the uniqueness pass of its domain for
    the two uniqueness conditions, the sample pass of its row set for a
    sample of any other row-local condition, else None (own query)."""
    name, _ = condition_kwargs(cfg)
    if name in _UNIQUENESS:
        return SharedPass(_uniqueness_pass, (cfg.domain.domain_id, name))
    if cfg.name == "map.unexpected_values" and not get_condition(name).is_window:
        return SharedPass(_sample_pass, cfg.domain.explode_col)
    return None


def _value_columns(dom: Domain) -> list[str]:
    if dom.column is not None:
        return [dom.column]
    return list(dom.column_list) if dom.column_list else [dom.column_a, dom.column_b]


def _aliases(cfgs: list[MetricConfiguration]) -> dict[str, str]:
    """Plain aliases for the value columns of ``cfgs`` (an accessor such as
    ``__span.kind`` would otherwise come back named ``kind``)."""
    cols = dict.fromkeys(c for cfg in cfgs for c in _value_columns(cfg.domain))
    return {c: f"__v{k}" for k, c in enumerate(cols)}


def _sample_value(dom: Domain, row: Any, alias: dict[str, str]) -> Any:
    """One EVR sample value: the column value, a dict of a multicolumn
    domain (reference compound-unique fixtures: {"b": 1, "c": 1}), or the
    [A, B] pair (reference pair fixtures: [[6.0, null], ...])."""
    if dom.column is not None:
        return row[alias[dom.column]]
    if dom.column_list:
        return {c: row[alias[c]] for c in dom.column_list}
    return [row[alias[dom.column_a]], row[alias[dom.column_b]]]


def _sample_pass(resolver, cfgs: list[MetricConfiguration]) -> dict:
    """Every ready sample request over one row set (a ``Domain.explode_col``)
    in ONE query.

    The query numbers the rows (``__pos``, partition order), builds one
    flag per request — its unexpected mask on the rows of its domain —
    posexplodes the flag array, keeps the hits and, unless a request is
    unlimited (COMPLETE), keeps ``row_number() over (partition by __i
    order by __pos) <= limit``: Spark plans that as a partial
    WindowGroupLimit below the exchange, so each task ships at most
    ``limit`` rows per request. The driver sorts each request's hits by
    ``__pos``: it gets its first ``limit`` unexpected rows in partition
    order, exactly what ``filter(mask).limit(n).collect()`` returns. A
    request whose mask cannot be built gets its exception as its value."""
    out: dict[tuple, Any] = {}
    flags, sampled = [], []
    for cfg in cfgs:
        def flag(cfg: MetricConfiguration = cfg) -> Column:
            mask = unexpected_mask(cfg, resolver)
            pred = domain_predicate(cfg.domain)  # the mask never sees other rows
            return F.coalesce(mask if pred is None else F.when(pred, mask), F.lit(False))

        try:
            flags.append(resolver.column("flag", _mask_id(cfg), flag))
        except Exception as e:  # noqa: BLE001
            out[cfg.id] = e
            continue
        sampled.append(cfg)
    if not sampled:  # no mask could be built: nothing to read rows for
        raise out[cfgs[0].id]
    limits = [cfg.kw("limit") for cfg in sampled]
    base = resolver.domain_df(Domain(explode_col=cfgs[0].domain.explode_col))
    alias = _aliases(sampled)
    hits = (
        base.withColumn("__pos", F.monotonically_increasing_id())
        .select(
            "__pos",
            *[F.col(c).alias(a) for c, a in alias.items()],
            F.posexplode(F.array(*flags)).alias("__i", "__hit"),
        )
        .where(F.col("__hit"))
    )
    if None not in limits:
        rank = F.row_number().over(Window.partitionBy("__i").orderBy("__pos"))
        hits = hits.withColumn("__rn", rank).where(F.col("__rn") <= max(limits))
    by_request: dict[int, list] = {}
    for r in hits.select("__i", "__pos", *alias.values()).collect():
        by_request.setdefault(r["__i"], []).append(r)
    for i, cfg in enumerate(sampled):
        mine = sorted(by_request.get(i, []), key=lambda r: r["__pos"])
        out[cfg.id] = [
            _sample_value(cfg.domain, r, alias) for r in mine[: cfg.kw("limit")]
        ]
    return out


def _uniqueness_pass(resolver, cfgs: list[MetricConfiguration]) -> dict:
    """Count and sample of one uniqueness domain from ONE query.

    With a sample requested, the query projects the key columns and
    ``__pos`` (partition order), keeps ``count(1) over (partition by
    keys) > 1``, and observes the count of those rows while
    ``orderBy(__pos).limit(n)`` — a top-N with no exchange of its own, so
    the Observation is in the result stage — collects the first
    duplicated rows in partition order. The window shuffles every (key,
    ``__pos``) pair and sorts a key's rows in one task. Against the
    skew-safe pair of queries — a groupBy count, then a left-semi-join
    sample — ``validate_df`` of one BASIC uniqueness check over 2M
    parquet rows on 4 cores took 1.2-1.5 vs 2.7-4.4 s with 7% of rows
    duplicated, 1.1-1.3 vs 1.5-1.7 s with one key on half the rows,
    1.2-1.3 vs 1.3-1.5 s with a compound key's NULL group on half the
    rows, and 1.1-1.2 vs 0.75-0.84 s with 100 distinct keys (where the
    groupBy's map-side combine wins). Observing the semi-join's output to
    make that one query is not safe: under adaptive execution a top-N
    over a join re-planned from sort-merge to broadcast ran the observed
    plan twice and doubled the count (a 5-row frame). A count-only
    request takes the groupBy count. A single-column key skips NULLs (a
    NULL is missing, not a duplicate); a compound key groups NULLs
    together, as GX's window does."""
    dom = cfgs[0].domain
    name, _ = condition_kwargs(cfgs[0])
    alias = _aliases(cfgs[:1])
    keys = list(alias.values())
    ddf = resolver.domain_df(dom)
    if name == "column_values.unique":
        ddf = ddf.where(F.col(dom.column).isNotNull())
    keyed = ddf.select(*[F.col(c).alias(a) for c, a in alias.items()])
    samples = [c for c in cfgs if c.name == "map.unexpected_values"]
    out: dict[tuple, Any] = {}
    if samples:
        dup = (
            keyed.withColumn("__pos", F.monotonically_increasing_id())
            .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
            .where(F.col("__n") > 1)
        )
        obs = Observation()
        q = dup.observe(obs, F.count(F.lit(1)).alias("n"))
        limits = [c.kw("limit") for c in samples]
        # unlimited: sort on the driver — a global orderBy would run the
        # observed plan twice (its range-partition sampling job) and
        # double the count
        if None in limits:
            rows = sorted(q.collect(), key=lambda r: r["__pos"])
        else:
            rows = q.orderBy("__pos").limit(max(limits)).collect()
        n = obs.get["n"]
        for cfg in samples:
            out[cfg.id] = [
                _sample_value(dom, r, alias) for r in rows[: cfg.kw("limit")]
            ]
    else:
        groups = keyed.groupBy(*keys).count().where(F.col("count") > 1)
        n = groups.agg(F.sum("count")).collect()[0][0] or 0
    for cfg in cfgs:
        if cfg.name == "map.unexpected_count.window":
            out[cfg.id] = int(n)
    return out


@eager_metric("map.unexpected_count.window", shared_pass=_shared_pass)
def _unexpected_count_window(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    # window conditions can't live inside agg() — reference :643-668.
    # Uniqueness counts come from the uniqueness pass, not from here.
    name, _kw = condition_kwargs(cfg)
    if name in ("column_values.increasing", "column_values.decreasing"):
        _guard_global_window(ddf, name, _kw)
    return ddf.withColumn(
        "__unexpected", unexpected_mask(cfg, resolver)
    ).filter(F.col("__unexpected")).count()


# Refusal threshold for global-ordering checks: a single-partition window
# over more rows than this is a diagnostic misuse, not a query plan.
GLOBAL_WINDOW_MAX_ROWS = 10_000_000


def _guard_global_window(ddf: DataFrame, name: str, kw: dict[str, Any]) -> None:
    """increasing/decreasing compile to a single-partition global-order
    window (reference: column_values_increasing.py:133-137 — the documented
    scaling hazard). They are fine as small-partition diagnostics; above
    GLOBAL_WINDOW_MAX_ROWS rows the check refuses to run rather than
    funneling the dataset through one task."""
    n = ddf.count()
    if n > GLOBAL_WINDOW_MAX_ROWS:
        raise ValueError(
            f"{name} evaluates a single-partition global-order window; "
            f"refusing to run over {n} rows (> {GLOBAL_WINDOW_MAX_ROWS}). "
            "Validate a partition/sample instead, or check monotonicity "
            "per natural partition."
        )


def filter_unexpected_rows(
    ddf: DataFrame,
    condition_name: str,
    domain: Domain,
    kwargs: dict[str, Any],
    float_cols: frozenset[str] = frozenset(),
    dtypes: dict[str, str] | None = None,
) -> DataFrame:
    """Rows violating a condition, with skew-safe routing for uniqueness.

    Uniqueness checks do NOT use the window mask
    ``count().over(Window.partitionBy(col))`` — that shuffles ENTIRE rows
    (including fat payload columns) keyed by value. Instead: derive the
    duplicated *keys* via groupBy-count>1 (key-only shuffle with map-side
    combine, AQE skew-split applies) and left-semi join the rows back; the
    dup-key side is almost always tiny, so Catalyst broadcasts it and the
    full rows are never shuffled at all. Same rows, orders of magnitude
    less shuffle I/O at corpus scale.
    """
    if condition_name == "column_values.unique":
        col = domain.column
        dups = (
            ddf.where(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .select(col)
        )
        return ddf.join(dups, on=col, how="left_semi")
    if condition_name == "compound_columns.unique":
        cols = list(domain.column_list)
        dups = (
            ddf.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .select(*[F.col(c).alias(f"__k_{c}") for c in cols])
        )
        # null-safe equality: the window form groups NULL keys together, so
        # the join must too
        on = None
        for c in cols:
            term = ddf[c].eqNullSafe(dups[f"__k_{c}"])
            on = term if on is None else (on & term)
        return ddf.join(dups, on=on, how="left_semi")
    if condition_name in ("column_values.increasing", "column_values.decreasing"):
        _guard_global_window(ddf, condition_name, kwargs)
    mask = get_condition(condition_name).unexpected(domain, kwargs, float_cols, dtypes)
    # materialize the mask with withColumn before filtering — window
    # expressions are not allowed directly in WHERE (Spark restriction)
    return (
        ddf.withColumn("__unexpected", mask)
        .filter(F.col("__unexpected"))
        .drop("__unexpected")
    )


def _filter_unexpected(
    ddf: DataFrame, cfg: MetricConfiguration, resolver: MetricResolver
) -> DataFrame:
    name, kw = condition_kwargs(cfg)
    return filter_unexpected_rows(
        ddf, name, cfg.domain, kw, resolver.float_cols_of(cfg.domain), resolver.dtypes
    )


@eager_metric("map.unexpected_values", shared_pass=_shared_pass)
def _unexpected_values(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    # reference: column_map_condition_auxilliary_methods.py:337-384. Row-
    # local and uniqueness conditions are sampled by their shared pass;
    # only the other window conditions reach this filter + limit.
    limit = cfg.kw("limit")
    alias = _aliases([cfg])
    out = _filter_unexpected(ddf, cfg, resolver)
    out = out.select(*[F.col(c).alias(a) for c, a in alias.items()])
    rows = (out.limit(int(limit)) if limit is not None else out).collect()
    return [_sample_value(cfg.domain, r, alias) for r in rows]


@eager_metric("map.unexpected_index_list")
def _unexpected_index_list(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    # reference: map_condition_auxilliary_methods.py:703-794
    index_cols = list(cfg.kw("index_columns", ()))
    limit = cfg.kw("limit")
    dom = cfg.domain
    value_cols = (
        [dom.column]
        if dom.column
        else list(dom.column_list)
        if dom.column_list
        else [dom.column_a, dom.column_b]
    )
    sel = list(dict.fromkeys(index_cols + value_cols))
    out = _filter_unexpected(ddf, cfg, resolver).select(*sel)
    rows = (out.limit(int(limit)) if limit is not None else out).collect()
    return [r.asDict() for r in rows]


@eager_metric("map.unexpected_rows")
def _unexpected_rows(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    """Whole violating rows for ``include_unexpected_rows`` (reference:
    map_condition_auxilliary_methods.py:671-700 ``_spark_map_condition_rows``
    — COMPLETE collects all, otherwise limit(partial_unexpected_count);
    surfaced in the EVR by expectation.py:3543-3548)."""
    limit = cfg.kw("limit")
    out = _filter_unexpected(ddf, cfg, resolver)
    rows = (out.limit(int(limit)) if limit is not None else out).collect()
    return [r.asDict(recursive=True) for r in rows]


@eager_metric("map.unexpected_value_counts")
def _unexpected_value_counts(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    # reference: column_map_condition_auxilliary_methods.py:387-428
    dom = cfg.domain
    out = (
        _filter_unexpected(ddf, cfg, resolver)
        .groupBy(F.col(dom.column).alias("v"))
        .count()
        .orderBy(F.desc("count"), F.col("v"))
        .collect()
    )
    return [(r["v"], r["count"]) for r in out]


def unexpected_df(
    df: DataFrame,
    domain: Domain,
    condition_name: str,
    kwargs: dict[str, Any],
    expectation: str,
    doc_id_col: str = "doc_id",
    span_index_col: str | None = None,
) -> DataFrame:
    """Violation rows as a DataFrame — the scale path for COMPLETE results.

    Returns (doc_id, span_index, expectation, observed_value); written to
    the violations table by the runner instead of collect()ing
    (SURVEY.md §2.7 'Key deviation').
    """
    observed: Column
    if domain.column is not None:
        observed = F.col(domain.column).cast("string")
    elif domain.column_list:
        observed = F.to_json(F.struct(*[F.col(c) for c in domain.column_list]))
    else:
        observed = F.to_json(F.struct(F.col(domain.column_a), F.col(domain.column_b)))
    out = filter_unexpected_rows(
        domain.apply(df), condition_name, domain, kwargs, float_columns(df)
    )
    if span_index_col is None and domain.explode_col:
        span_index_col = "__span_index"  # span domains carry the ordinal
    span_index = (
        F.col(span_index_col).cast("int") if span_index_col else F.lit(None).cast("int")
    )
    return out.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        span_index.alias("span_index"),
        F.lit(expectation).alias("expectation"),
        observed.alias("observed_value"),
    )


def format_map_output(
    result_format: dict[str, Any],
    success: bool,
    element_count: int,
    nonnull_count: int,
    unexpected_count: int,
    partial_unexpected_list: list[Any] | None = None,
    unexpected_list: list[Any] | None = None,
    unexpected_index_list: list[dict] | None = None,
    unexpected_rows: list[dict] | None = None,
) -> dict[str, Any]:
    """Port of _format_map_output (expectation.py:3465-3609)."""
    rf = result_format["result_format"]
    ret: dict[str, Any] = {"success": success}
    if rf == "BOOLEAN_ONLY":
        return ret

    missing_count = element_count - nonnull_count
    if element_count > 0:
        missing_percent = missing_count / element_count * 100
        unexpected_percent_total = unexpected_count / element_count * 100
        if nonnull_count > 0:
            unexpected_percent_nonmissing = unexpected_count / nonnull_count * 100
        else:
            unexpected_percent_nonmissing = None
    else:
        missing_percent = None
        unexpected_percent_total = None
        unexpected_percent_nonmissing = None

    partial = list(partial_unexpected_list or [])[
        : result_format["partial_unexpected_count"]
    ]
    ret["result"] = {
        "element_count": element_count,
        "missing_count": missing_count,
        "missing_percent": missing_percent,
        "unexpected_count": unexpected_count,
        "unexpected_percent": unexpected_percent_nonmissing,
        "unexpected_percent_total": unexpected_percent_total,
        "unexpected_percent_nonmissing": unexpected_percent_nonmissing,
        "partial_unexpected_list": partial,
    }
    # unexpected_rows lands at BASIC level and above when requested
    # (reference expectation.py:3543-3548 — the update precedes the BASIC
    # early-return)
    if result_format.get("include_unexpected_rows"):
        ret["result"]["unexpected_rows"] = unexpected_rows
    if rf == "BASIC":
        return ret

    # SUMMARY and COMPLETE add counted/indexed views
    counts = Counter(
        v if not isinstance(v, (dict, list)) else str(v) for v in partial
    )
    ret["result"]["partial_unexpected_counts"] = [
        {"value": v, "count": c}
        for v, c in sorted(counts.items(), key=lambda kv: (-kv[1], str(kv[0])))
    ]
    if unexpected_index_list is not None:
        ret["result"]["partial_unexpected_index_list"] = unexpected_index_list[
            : result_format["partial_unexpected_count"]
        ]
    if rf == "SUMMARY":
        return ret

    if unexpected_list is not None:
        ret["result"]["unexpected_list"] = unexpected_list
    if unexpected_index_list is not None:
        ret["result"]["unexpected_index_list"] = unexpected_index_list
    return ret


def mostly_success(
    nonnull_count: int, unexpected_count: int, mostly: float
) -> bool:
    """success = (nonnull - unexpected)/nonnull >= mostly, with vacuous
    truth on an empty domain (reference: expectation.py:2900-2910,
    3630-3640; vacuous truth :2900-2903)."""
    if nonnull_count == 0:
        return True
    return (nonnull_count - unexpected_count) / nonnull_count >= mostly


@eager_metric("map.unexpected_index_query")
def _unexpected_index_query(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    """Stringified retrieval query for the violating rows (reference:
    map_condition_auxilliary_methods.py:797-836) — documentation aid, not
    executed by the engine."""
    mask = unexpected_mask(cfg, resolver)
    try:
        expr = mask._jc.toString()  # noqa: SLF001 — classic pyspark
    except AttributeError:  # pragma: no cover — Spark Connect columns
        expr = str(mask)
    return f"df.filter({expr})"


@eager_metric("map.filtered_row_count")
def _filtered_row_count(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    # reference: <name>.filtered_row_count (metric_function_types.py:106-112)
    # row count of the compute domain after ignore_row_if/row_condition
    return ddf.count()


def suite_violations(
    df: DataFrame,
    suite,
    doc_id_col: str = "doc_id",
    run_id: str = "",
    partition_id: str = "",
) -> DataFrame | None:
    """Violation rows for every map-style expectation in a suite, as ONE
    unioned DataFrame (doc_id, span_index=null, expectation, observed_value)
    ready for the violations table — the scale replacement for COMPLETE
    result_format collections (SURVEY.md §2.7 deviation). Non-map
    expectations (aggregates, table shape) have no per-row violations and
    are skipped. Returns None if the suite has no map expectations."""
    from pyspark.sql import functions as _F

    from .expectations import build_domain, get_expectation

    # one shared resolver: two-stage expectations (z-scores) resolve their
    # stage-1 statistics through it before the mask is built, and repeated
    # stats across expectations are memoized into one fused agg pass
    resolver = MetricResolver(df)
    parts = []
    for cfg in suite.expectations:
        try:
            exp = get_expectation(cfg.expectation_type)
        except KeyError:
            continue
        cond_name = getattr(exp, "condition_name", None)
        if not cond_name:
            continue
        domain = build_domain(cfg)
        kwargs = exp.resolved_condition_kwargs(cfg, resolver)
        parts.append(
            unexpected_df(
                df, domain, cond_name, kwargs, cfg.expectation_type, doc_id_col
            )
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        _F.lit(run_id).alias("run_id"),
        _F.lit(partition_id).alias("partition_id"),
        "doc_id",
        "span_index",
        "expectation",
        "observed_value",
    )
