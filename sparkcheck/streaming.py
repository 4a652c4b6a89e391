"""Streaming validation: Structured Streaming micro-batches through the
same engine.

The reference is strictly batch (SURVEY.md §2.11 — no watermarks, windows,
or stateful operators anywhere in GX); production incrementality there is
"re-run the checkpoint on new batches". Ours keeps that batch-first design
for the 10^12-doc corpus, but exposes the natural Spark-native bridge: a
``foreachBatch`` sink that runs the full expectation suite + span-level
violation extraction on every micro-batch and appends per-batch results /
violations through the same store + manifest used by the batch runner —
so a streaming ingest pipeline and a backfill job share one validation
code path and one results table.

Notes for scale:
  - each micro-batch is a bounded DataFrame, so the fused-agg bundling,
    skew-safe uniqueness, and violation-DataFrame paths apply unchanged;
  - exactly-once: foreachBatch delivers (batch_id, df) at-least-once on
    retry; the store's partition manifest keyed by ``batch={id}`` makes
    the append idempotent (skip batches already committed);
  - no engine-managed watermark: validation is per-batch, not windowed.
    Late data simply lands in a later batch — matching the reference's
    batch-revalidation semantics rather than inventing new ones. Windowed
    drift checks can be layered by pre-aggregating with watermarks before
    the sink.

Corpus-level metrics over a stream come from ``StateMonitor``: every
micro-batch appends the mergeable states of its ``StateKind``s
(states.moments/histogram, sketches.misra_gries/quantiles) through the
batch runner's write path, and reads fold the committed batches through
the same supersede rule (states.latest_committed) — the streaming
counterpart of ``update`` on a batch corpus.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .runner import (
    ParquetStore,
    _validate_unit,
    _write_lineage,
    _write_results,
    read_states,
    store_has_partition,
    write_states,
)
from .states import StateKind
from .suite import ExpectationSuite


class StreamingValidationSink:
    """``foreachBatch`` callable validating each micro-batch.

    Usage::

        sink = StreamingValidationSink(store, suite, run_id="ingest",
                                       violations_fn=span_violations)
        q = (stream_df.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt).start())
    """

    def __init__(
        self,
        store: ParquetStore,
        suite: ExpectationSuite,
        run_id: str = "stream",
        violations_fn: Callable[[DataFrame, str, str], DataFrame] | None = None,
        result_format: str = "BOOLEAN_ONLY",
        on_result: Callable[[int, dict[str, Any]], None] | None = None,
        actions: list[Any] | None = None,
    ):
        self.store = store
        self.suite = suite
        self.run_id = run_id
        self.violations_fn = violations_fn
        self.result_format = result_format
        self.on_result = on_result
        # notification actions (actions.py): run after each batch commit
        # with the same notify_on gate as batch checkpoints — the streaming
        # "page someone on a bad micro-batch" hook; outcomes never fail the
        # stream, the latest batch's outcomes land in last_action_outcomes
        self.actions = actions
        self.batches_validated = 0
        self.last_action_outcomes: dict[str, Any] | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        pid = f"batch={batch_id}"
        # idempotent replay: foreachBatch re-delivers on failure/restart.
        # O(1) probe — a long-running stream must not re-parse every
        # manifest ever committed on every micro-batch
        if store_has_partition(self.store, self.run_id, pid):
            return
        rows_builder = None
        if self.violations_fn is not None:
            def rows_builder(d: DataFrame) -> DataFrame:
                return self.violations_fn(d, self.run_id, pid)

        # the batch runner's one-scan unit leg and result/lineage writers:
        # one results-table schema across streaming and batch validation
        result, n_rows = _validate_unit(
            batch_df,
            self.suite,
            rows_builder,
            lambda rows: self.store.append("violations", rows),
            self.result_format,
        )
        spark = batch_df.sparkSession
        _write_results(self.store, spark, self.run_id, pid, result)
        _write_lineage(self.store, spark, self.run_id, pid, result, n_rows)
        self.store.commit_partition(
            self.run_id, pid, {"success": result["success"], "n_docs": int(n_rows)}
        )
        self.batches_validated += 1
        if self.actions:
            from .actions import run_actions

            self.last_action_outcomes = run_actions(
                self.actions,
                {
                    "run_id": f"{self.run_id}/{pid}",
                    "success": result["success"],
                    "result": result,
                },
                {
                    "spark": batch_df.sparkSession,
                    "store": self.store,
                    "suite_name": self.suite.name,
                },
            )
        if self.on_result is not None:
            self.on_result(batch_id, result)


def windowed_violation_counts(
    df: DataFrame,
    suite: ExpectationSuite,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-event-time-window validation metrics as ONE watermarked streaming
    aggregation: element_count plus a fused ``sum(when(mask))`` unexpected
    count per map expectation in the suite — the windowed/late-data form of
    the engine's fused agg pass. With a streaming input the watermark bounds
    state and drops data later than ``watermark``; on a batch DataFrame the
    same plan computes historical per-window metrics (used for parity
    testing and backfills)."""
    from pyspark.sql import functions as F

    from .expectations import build_domain, get_expectation
    from .conditions import get_condition
    from .metrics import float_columns

    fc = float_columns(df)
    aggs = [F.count(F.lit(1)).alias("element_count")]
    for i, cfg in enumerate(suite.expectations):
        try:
            exp = get_expectation(cfg.expectation_type)
        except KeyError:
            continue
        cond_name = getattr(exp, "condition_name", None)
        if not cond_name:
            continue
        spec = get_condition(cond_name)
        if spec.is_window:
            continue  # window/order conditions have no per-row mask
        try:
            kwargs = exp._condition_kwargs(cfg)  # noqa: SLF001 — same package
            mask = spec.unexpected(build_domain(cfg), kwargs, fc)
        except Exception:  # noqa: BLE001 — e.g. two-stage (z-score) masks
            # need batch-resolved stats (mean/stddev) that a streaming agg
            # cannot supply; skip rather than sink the whole aggregation
            continue
        col = cfg.get("column") or "_"
        # the index keeps aliases unique when two expectations share
        # (type, column), e.g. two between-checks with different bounds
        aggs.append(
            F.sum(mask.cast("long")).alias(
                f"unexpected__{i}__{cfg.expectation_type}__{col}"
            )
        )
    src = df
    if df.isStreaming:
        src = df.withWatermark(ts_col, watermark)
    return src.groupBy(
        F.window(F.col(ts_col), window_duration).alias("window")
    ).agg(*aggs)


def stateful_key_counts(stream_df: DataFrame, key_col: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running batch-count statistics with spike flagging (a batch
    whose row count exceeds 3x the key's running mean). Demonstrates the
    engine's extension point for stateful checks Spark's built-in windowed
    aggregations cannot express (cross-batch per-key memory). State is one
    small tuple per key — bounded, no timeline retention."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "key string, batch_count long, total_count long, "
        "n_batches long, spike boolean"
    )
    state_schema = "total long, n long"

    def fn(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        cnt = 0
        for pdf in pdfs:
            cnt += len(pdf)
        total, n = state.get if state.exists else (0, 0)
        mean = (total / n) if n else None
        spike = bool(mean is not None and cnt > 3 * mean)
        total, n = total + cnt, n + 1
        state.update((total, n))
        yield pd.DataFrame({
            "key": [key[0]], "batch_count": [cnt], "total_count": [total],
            "n_batches": [n], "spike": [spike],
        })

    # applyInPandasWithState needs a plain grouping column — project the
    # stringified key first rather than aliasing inside groupBy
    keyed = stream_df.withColumn("__skc_key", F.col(key_col).cast("string"))
    return keyed.groupBy("__skc_key").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def validate_stream(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    store: ParquetStore,
    checkpoint_dir: str,
    run_id: str = "stream",
    violations_fn: Callable[[DataFrame, str, str], DataFrame] | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Start a streaming query that validates every micro-batch. Returns the
    StreamingQuery (caller owns awaitTermination/stop)."""
    sink = StreamingValidationSink(
        store, suite, run_id=run_id, violations_fn=violations_fn
    )
    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def streaming_dedup(
    stream_df: DataFrame, key_col: str, id_col: str
) -> DataFrame:
    """Streaming exact deduplication with unbounded-lookback state — the
    streaming twin of dedup.exact duplicates: one state row per distinct
    fingerprint, so a document seen in ANY earlier micro-batch is flagged
    as a duplicate forever (Spark's built-in ``dropDuplicates`` on a
    stream needs a watermark and forgets keys past it).

    Emits one row per (key, batch) it saw: the canonical first-seen id,
    whether this batch was the key's first appearance (``is_first`` —
    downstream keeps exactly the rows of first-appearance batches), and
    batch/running duplicate counts. State is one (id, count) tuple per
    key: bounded by distinct keys, not by stream length; at 10^12-doc
    scale the key should be a 16-byte content fingerprint (text.fingerprint)
    so state stays compact and uniformly hash-partitioned."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "key string, first_id string, is_first boolean, "
        "batch_count long, total_count long"
    )
    state_schema = "first_id string, total long"

    def fn(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        cnt = 0
        first_in_batch = None
        for pdf in pdfs:
            if len(pdf) and first_in_batch is None:
                first_in_batch = str(pdf["__sd_id"].iloc[0])
            cnt += len(pdf)
        if state.exists:
            first_id, total = state.get
            is_first = False
        else:
            first_id, total = first_in_batch, 0
            is_first = True
        total += cnt
        state.update((first_id, total))
        yield pd.DataFrame({
            "key": [key[0]], "first_id": [first_id], "is_first": [is_first],
            "batch_count": [cnt], "total_count": [total],
        })

    keyed = stream_df.select(
        F.col(key_col).cast("string").alias("__sd_key"),
        F.col(id_col).cast("string").alias("__sd_id"),
    )
    return keyed.groupBy("__sd_key").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def windowed_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bins: list[float],
    baseline_weights: list[float],
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    threshold: float = 0.2,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-event-time-window PSI drift against a baseline snapshot — the
    streaming form of the PSI expectation (distribution.py psi).

    One watermarked aggregation computes the per-window bin counts as fused
    ``sum(when(bucket))`` terms; the PSI itself is pure Column arithmetic
    over that aggregated row (clip observed weights to ``eps``,
    renormalize, Σ (p−q)·ln(p/q)) with the baseline distribution clipped
    and renormalized the same way AT PLAN TIME and embedded as literals —
    so there is exactly one stateful operator and zero Python in the
    stream. On a batch DataFrame the identical plan computes historical
    per-window drift (parity testing / backfills / the DuckDB oracle).

    Binning: ``bins`` are n+1 finite edges for n buckets; the first and
    last buckets absorb out-of-range values (every observation scores
    against the baseline, the usual PSI convention — unlike the KL
    expectation's explicit tail handling).

    Output: window_start, n_values, psi (6 dp), drift (psi > threshold).
    Windows with zero non-null values emit psi NULL, drift NULL.
    """
    from pyspark.sql import functions as F

    n_buckets = len(bins) - 1
    if n_buckets < 1:
        raise ValueError("need at least 2 bin edges")
    if len(baseline_weights) != n_buckets:
        raise ValueError("baseline_weights must have len(bins)-1 entries")

    import numpy as np

    q = np.clip(np.asarray(baseline_weights, dtype=float), eps, None)
    q = q / q.sum()

    v = F.col(value_col)
    conds = []
    for i in range(n_buckets):
        if i == 0:
            c = v < F.lit(float(bins[1])) if n_buckets > 1 else v.isNotNull()
        elif i == n_buckets - 1:
            c = v >= F.lit(float(bins[i]))
        else:
            c = (v >= F.lit(float(bins[i]))) & (v < F.lit(float(bins[i + 1])))
        conds.append(c & v.isNotNull())

    aggs = [
        F.coalesce(F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))), F.lit(0))
        .alias(f"__b{i}")
        for i, c in enumerate(conds)
    ]
    src = df
    if df.isStreaming:
        src = df.withWatermark(ts_col, watermark)
    agg = src.groupBy(
        F.window(F.col(ts_col), window_duration).alias("window")
    ).agg(*aggs)

    n = sum((F.col(f"__b{i}") for i in range(n_buckets)), F.lit(0)).cast("double")
    # clip + renormalize the observed weights, mirroring distribution.psi
    clipped = [
        F.greatest(F.col(f"__b{i}") / n, F.lit(float(eps)))
        for i in range(n_buckets)
    ]
    s = clipped[0]
    for c in clipped[1:]:
        s = s + c
    psi_col = None
    for i in range(n_buckets):
        p = clipped[i] / s
        term = (p - F.lit(float(q[i]))) * F.log(p / F.lit(float(q[i])))
        psi_col = term if psi_col is None else psi_col + term
    psi_out = F.when(n > 0, F.round(psi_col, 6))
    return agg.select(
        F.col("window.start").alias("window_start"),
        n.cast("long").alias("n_values"),
        psi_out.alias("psi"),
        F.when(n > 0, psi_out > F.lit(float(threshold))).alias("drift"),
    )


class FreshnessMonitor:
    """``foreachBatch`` callable tracking event-time lag per micro-batch —
    the streaming analog of ``temporal.freshness`` and the first alarm a
    10^12-doc ingest needs: is the pipeline falling behind its sources?

    For each batch it computes max/min event time in ONE tiny aggregate,
    takes the processing-time lag against the driver wall clock at commit
    time, and appends a row (batch_id, processed_at, n_rows, min_ts,
    max_ts, lag_seconds) to the store's ``freshness`` table. ``on_lag``
    fires when lag exceeds ``max_lag_seconds`` — wire paging/backpressure
    there. Batches are committed idempotently like the validation sink
    (foreachBatch re-delivers on restart).
    """

    def __init__(
        self,
        store: ParquetStore,
        ts_col: str,
        run_id: str = "freshness",
        max_lag_seconds: float | None = None,
        on_lag: Callable[[int, float], None] | None = None,
    ):
        self.store = store
        self.ts_col = ts_col
        self.run_id = run_id
        self.max_lag_seconds = max_lag_seconds
        self.on_lag = on_lag

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from datetime import datetime, timezone

        pid = f"batch={batch_id}"
        if store_has_partition(self.store, self.run_id, pid):
            return
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(self.ts_col).alias("mn"),
            F.max(self.ts_col).alias("mx"),
        ).collect()[0]
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        lag = (now - row.mx).total_seconds() if row.mx is not None else None
        spark = batch_df.sparkSession
        fresh_row = (int(batch_id), now, int(row.n), row.mn, row.mx,
                     float(lag) if lag is not None else None)
        from pyspark.sql.types import StructType

        from .runner import append_control_rows

        # 1-row control record per micro-batch: the driver-side Arrow
        # write keeps the store append off the micro-batch latency path
        append_control_rows(
            self.store, spark, "freshness", [fresh_row],
            StructType.fromDDL(
                "batch_id long, processed_at timestamp, n_rows long, "
                "min_ts timestamp, max_ts timestamp, lag_seconds double"
            ),
        )
        self.store.commit_partition(
            self.run_id, pid,
            {"n_docs": int(row.n), "lag_seconds": lag},
        )
        if (
            self.on_lag is not None
            and lag is not None
            and self.max_lag_seconds is not None
            and lag > self.max_lag_seconds
        ):
            self.on_lag(int(batch_id), float(lag))


class StateMonitor:
    """``foreachBatch`` callable maintaining continuously-updated corpus
    states of several kinds (states.StateKind: moments, histograms,
    Misra-Gries and quantile summaries) — the streaming half of the
    per-partition metric-resume story. Each micro-batch appends its
    state rows of every kind (state_key = ``batch={id}``) through the
    batch runner's ``write_states`` and then makes ONE manifest commit;
    ``states(spark, kind)`` returns the committed rows of a kind at any
    moment, for the kind's fold (merge_states, drift_from_states over
    merge_histogram_states, certified_heavy_hitters over merge_mg_states,
    quantile_sketch_bounds) — past batches are never rescanned. (The
    reference has no analog — GX profiling is batch-rescan only.)

    Exactly-once: foreachBatch delivers at-least-once on restart; the
    manifest keyed by batch id skips batches already committed, and a
    crash between a state append and the manifest commit leaves orphan
    rows that the redelivery supersedes as a set per state_key
    (states.latest_committed, the batch runner's read rule).
    """

    def __init__(
        self,
        store: ParquetStore,
        kinds: "list[StateKind]",
        run_id: str = "stream_states",
    ):
        tables = [k.table for k in kinds]
        if len(set(tables)) != len(tables):
            # one append per unit and table: a second kind in the same
            # table would supersede the first one's rows
            raise ValueError(f"one kind per state table, got {tables}")
        self.store = store
        self.kinds = list(kinds)
        self.run_id = run_id

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        pid = f"batch={batch_id}"
        if store_has_partition(self.store, self.run_id, pid):
            return
        write_states(self.store, self.kinds, batch_df, self.run_id, pid)
        self.store.commit_partition(self.run_id, pid, {})

    def states(self, spark, kind: "StateKind") -> DataFrame:
        """``kind``'s state rows over every batch committed so far."""
        return read_states(self.store, spark, self.run_id, kind)


def streaming_group_cap(
    stream_df: DataFrame, group_col: str, cap: int, id_col: str
) -> DataFrame:
    """Streaming per-group quota — the stateful twin of
    sampling.per_group_cap: each group admits at most ``cap`` rows over
    the stream's lifetime, in ARRIVAL order (streaming semantics; the
    batch operator's deterministic hash order needs the whole corpus).
    Emits one (group, id, accepted) row per input row, so downstream
    keeps `accepted` and the reject stream stays auditable.

    State is ONE long per group (rows admitted so far) — bounded by
    distinct groups, not stream length. Groups hash-partition across
    executors; a hot group serializes only its own tiny counter update.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "group string, id string, accepted boolean"
    state_schema = "taken long"

    def fn(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        taken = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n = len(pdf)
            if not n:
                continue
            k = max(0, min(cap - taken, n))
            yield pd.DataFrame(
                {
                    "group": [key[0]] * n,
                    "id": pdf["__gc_id"].astype(str).tolist(),
                    "accepted": [True] * k + [False] * (n - k),
                }
            )
            taken += k
        state.update((taken,))

    keyed = stream_df.select(
        F.col(group_col).cast("string").alias("__gc_key"),
        F.col(id_col).cast("string").alias("__gc_id"),
    )
    return keyed.groupBy("__gc_key").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
