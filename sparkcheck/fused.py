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

What rides the observe node: every aggregate metric (kind == "agg") of
the suite over the UNFILTERED table domain (no row_condition /
filter_conditions / explode) — counts, min/max/mean/stddev, quantiles,
histogram bins and the categorical KL counts
(``column.categorical_histogram``). ``MetricResolver.observe`` builds and
reads that bundle, as it does every other one. A filtered domain stays
off the node, so a row_condition that raises at run time (an ANSI cast)
fails only its own EVR, never the violation append. Everything else
resolves in a prefetch thread that overlaps the append: one sample pass
per row set (the unexpected-value samples), one uniqueness pass per
uniqueness check (count and sample together) and one noop-write bundle
per filtered domain. The resolver runs those queries side by side, each
from its own worker thread, so the prefetch no longer takes the sum of
their times. The prefetch thread starts right after the suite is planned,
so it also overlaps the main thread's building of the observe node and
the row plan. The seeded resolver cache makes the handoff exact:
the validator sees pre-resolved metric values keyed by the same metric
ids it would have requested, so EVRs are bit-identical to the two-pass
report (tests/test_fused.py asserts this).

Reference analog: GE computes validation metrics and row-level
unexpected extraction as separate passes (validator.py graph_validate +
result-format machinery); a single-pass fusion has no reference
counterpart — it exists because Spark can express it.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

from .metrics import get_metric_spec
from .suite import ExpectationSuite
from .validator import Validator


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

    Jobs started for the rest of the suite run in a prefetch thread that
    inherits the caller's Spark local properties (job group, tags)."""
    validator = Validator(df)
    resolver = validator.resolver
    _, stage1, _ = validator._plan(suite, result_format, evaluation_parameters)  # noqa: SLF001
    on_table = [
        m for m in stage1 if m.domain.is_table and get_metric_spec(m.name).kind == "agg"
    ]
    if action is None:
        def action(r: DataFrame) -> None:
            r.write.format("noop").mode("overwrite").save()

    # overlap the other metric jobs (the sample pass, the uniqueness
    # passes, the filtered-domain bundles — narrow, column-pruned scans,
    # which the resolver runs side by side on its round's workers) with
    # the observe node, the row plan and the row-extraction action: Spark
    # schedules concurrent jobs from separate threads across the same
    # executors, so their wall-time hides behind the main thread's work
    # instead of following it. Memoized into the same resolver the
    # validator reads, so nothing recomputes.
    observed = {m.id for m in on_table}
    rest = [m for m in stage1 if m.id not in observed]
    prefetch_thread = None
    if rest:
        def _prefetch() -> None:
            try:
                resolver.resolve(rest, raise_errors=False)
            except Exception:  # noqa: BLE001 — validate() retries/records
                pass

        prefetch_thread = threading.Thread(
            target=inheritable_thread_target(df.sparkSession)(_prefetch), daemon=True
        )
        prefetch_thread.start()
    try:
        base, read = resolver.observe(df, on_table)
        rows = rows_builder(base)
        action_result = action(rows)
    finally:  # a raising step never leaves the prefetch's jobs running
        if prefetch_thread is not None:
            prefetch_thread.join()

    for mid, value in read().items():  # blocks until the action's query ends
        (resolver.failed if isinstance(value, Exception) else resolver.cache)[mid] = value

    report = validator.validate(
        suite,
        result_format=result_format,
        evaluation_parameters=evaluation_parameters,
    )
    return report, rows, action_result
