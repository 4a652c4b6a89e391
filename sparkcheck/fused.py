"""Single-scan validation + row extraction via CollectMetrics.

``validate_and_extract`` runs a suite AND a violation-row extraction over
ONE pass of the stored table: the suite's whole-table aggregate metrics
(row counts, per-check unexpected counts, min/max/mean/...) are attached
to the row-producing query as a ``df.observe`` (CollectMetrics) node, so
they are computed for free while the rows stream past — instead of a
separate aggregate-only job that re-scans the table.

Why this matters at 10^12 documents: the classic checkpoint shape is
``validate_df(docs, suite)`` (scan 1) then ``span_violations(docs)`` /
quarantine routing (scan 2). Both scans read the same stored partitions;
at 100 TB the second full pass is the single largest avoidable cost in
the pipeline. CollectMetrics is the Spark-native fix: the optimizer will
NOT push filters below an observe node (the observed values reflect every
row of the node's child, guaranteed by Catalyst), so the metrics are
exactly the whole-table aggregates the validator would have computed.

What rides the observe node: metrics whose spec is a bundled aggregate
(kind == "agg"), with no metric dependencies, over the UNFILTERED table
domain (no row_condition / filter_conditions / explode) — counts,
min/max/mean/stddev, quantiles, histogram bins and the categorical
KL counts (``column.categorical_histogram``). A filtered domain stays
off the node, so a row_condition that raises at run time (an ANSI cast)
fails only its own EVR, never the violation append. Everything else
resolves in a prefetch thread that overlaps the append: one sample pass
per row set (the unexpected-value samples), one uniqueness pass per
uniqueness check (count and sample together) and one ``df.agg`` bundle
per filtered domain. The seeded resolver cache
makes the handoff exact: the validator sees pre-resolved metric values
keyed by the same metric ids it would have requested, so EVRs are
bit-identical to the two-pass report (tests/test_fused.py asserts this).

Reference analog: GE computes validation metrics and row-level
unexpected extraction as separate passes (validator.py graph_validate +
result-format machinery); a single-pass fusion has no reference
counterpart — it exists because Spark can express it.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, Observation

from .expectations import get_expectation
from .metrics import MetricResolver, get_metric_spec
from .suite import ExpectationSuite, parse_result_format
from .validator import Validator, _bind_config


def stage1_requests(
    suite: ExpectationSuite,
    result_format: Any = None,
    evaluation_parameters: dict[str, Any] | None = None,
) -> dict[tuple, Any]:
    """Every stage-1 metric request of the suite, by id (errors skipped —
    the validator converts them to failed EVRs later)."""
    out: dict[tuple, Any] = {}
    for cfg in suite.expectations:
        rf = parse_result_format(cfg.get("result_format", result_format))
        try:
            bcfg = _bind_config(cfg, evaluation_parameters or {}, None)
            exp = get_expectation(bcfg.expectation_type)
            for m in exp.metric_requests(bcfg, rf).values():
                out[m.id] = m
        except Exception:  # noqa: BLE001
            continue
    return out


def is_observable(m: Any) -> bool:
    """Whether request ``m`` can ride a CollectMetrics node on the bare
    table: a bundled aggregate, no deps, unfiltered whole-table domain."""
    try:
        spec = get_metric_spec(m.name)
    except KeyError:
        return False
    d = m.domain
    return (
        spec.kind == "agg"
        and spec.deps_fn is None
        and d.row_condition is None
        and not d.filter_conditions
        and d.explode_col is None
    )


def validate_and_extract(
    df: DataFrame,
    suite: ExpectationSuite,
    rows_builder: Callable[[DataFrame], DataFrame],
    action: Callable[[DataFrame], Any] | None = None,
    result_format: Any = "BOOLEAN_ONLY",
    evaluation_parameters: dict[str, Any] | None = None,
) -> tuple[dict[str, Any], DataFrame, Any]:
    """Run ``suite`` against ``df`` and ``rows_builder(df)`` in ONE scan.

    ``rows_builder`` maps the (observed) table to the violation-row frame
    — e.g. ``spans.span_violations`` or a quarantine projection. It MUST
    derive its output from the DataFrame it is given (that frame carries
    the CollectMetrics node); building rows from a fresh read would put
    the metrics on a dead plan.

    ``action`` executes the row frame (default: noop-format write, which
    fully materializes every row without driver collection). Its return
    value is passed through as the third tuple element — pass e.g.
    ``lambda r: r.write.parquet(path)`` to land violations durably in the
    same pass. It must execute the row plan exactly once, because every
    execution adds to the observed metrics. A global sort runs it twice:
    ``orderBy`` first samples its input for the range partitioner, so
    ``observe(count).orderBy(x).collect()`` over 2 rows observes 4 and
    every report count doubles. Sort after the action, or use
    ``orderBy(...).limit(n)``, which plans as one top-N pass.

    Returns ``(report, rows_df, action_result)`` where ``report`` is the
    standard validate_df report — identical to the two-pass result — and
    ``rows_df`` is the already-executed row frame (re-usable; Spark will
    re-run it if acted on again).

    Falls back to the classic two-pass shape automatically when nothing
    in the suite is observable (report correctness never depends on the
    fusion)."""
    seed_resolver = MetricResolver(df)
    all_reqs = stage1_requests(suite, result_format, evaluation_parameters)
    reqs = {mid: m for mid, m in all_reqs.items() if is_observable(m)}

    aliased = []
    alias_to_id: dict[str, tuple] = {}
    for i, (mid, m) in enumerate(reqs.items()):
        try:
            col = get_metric_spec(m.name).agg_fn(m.domain, m, seed_resolver)
        except Exception:  # noqa: BLE001 — leave it to the normal path
            continue
        alias = f"__obs_{i}"
        aliased.append(col.alias(alias))
        alias_to_id[alias] = mid

    obs: Observation | None = None
    base = df
    if aliased:
        obs = Observation()
        try:
            base = df.observe(obs, *aliased)
        except Exception:  # noqa: BLE001 — non-observable expr: two-pass
            obs = None
            base = df

    rows = rows_builder(base)
    if action is None:
        def action(r: DataFrame) -> None:
            r.write.format("noop").mode("overwrite").save()

    validator = Validator(df)

    # overlap the NON-observable metric jobs (the sample pass, the
    # uniqueness passes, the filtered-domain bundles — narrow,
    # column-pruned scans) with the row-extraction action: Spark schedules
    # concurrent jobs from separate threads across the same executors, so
    # their wall-time hides behind the full-width pass instead of
    # following it. Memoized into the same resolver the validator reads,
    # so nothing recomputes.
    prefetch_thread = None
    if obs is not None:
        nonobs = [m for mid, m in all_reqs.items() if mid not in reqs]
        if nonobs:
            import threading

            def _prefetch() -> None:
                try:
                    validator.resolver.resolve(nonobs, raise_errors=False)
                except Exception:  # noqa: BLE001 — validate() retries/records
                    pass

            prefetch_thread = threading.Thread(target=_prefetch, daemon=True)
            prefetch_thread.start()

    action_result = action(rows)
    if prefetch_thread is not None:
        prefetch_thread.join()

    if obs is not None:
        got = obs.get  # blocks until the action's query completes
        for alias, mid in alias_to_id.items():
            if alias in got:
                validator.resolver.cache[mid] = got[alias]

    report = validator.validate(
        suite,
        result_format=result_format,
        evaluation_parameters=evaluation_parameters,
    )
    return report, rows, action_result
