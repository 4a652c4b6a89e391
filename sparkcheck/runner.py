"""Per-partition validation runner with checkpoint/resume.

North rule: per-partition pass/fail + violation rows, per-partition
lineage + metric rows checkpointed to a results table so interrupted runs
resume from the last committed partition.

Production target is Iceberg (`spark.table("cat.db.results")`, atomic
snapshot commits give exactly-once per partition). The Iceberg runtime jar
is not in this image, so the local store is parquet append + an atomic
per-partition manifest file — the same commit protocol (write data, then
commit the partition marker; on resume, skip partitions with markers;
uncommitted partial writes are ignored because reads go through the
manifest). ``IcebergStore`` is gated behind an import-try.

Partitioning of the doc corpus: ``pmod(xxhash64(doc_id), n_buckets)`` —
hash buckets, not value ranges, so the hot doc_id prefixes (the seeded
skew) spread uniformly across partitions; this is the explicit salting of
the north rule applied at the partition level. In Iceberg this is a
``bucket(n, doc_id)`` partition transform and each runner partition is one
partition-pruned scan.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .expectations import build_domain
from .schema import EVAL_PARAM_SCHEMA, LINEAGE_SCHEMA, RESULT_SCHEMA, VIOLATION_SCHEMA
from .sketches import (
    certified_heavy_hitters,
    merge_mg_states,
    misra_gries,
    quantile_sketch_bounds,
    quantiles,
)
from .states import (
    StateKind,
    drift_from_states,
    histogram,
    latest_committed,
    merge_histogram_states,
    merge_states,
    moments,
    quantile_bounds,
)
from .suite import ExpectationConfiguration, ExpectationSuite
from .validator import Validator


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


#: Spark -> Arrow types for the control-plane schemas (schema.py). Only
#: the scalar types those schemas use; anything else falls back to the
#: Spark write path in append_rows.
_PA_SCALAR_TYPES = {
    "string": "string",
    "boolean": "bool_",
    "bigint": "int64",
    "int": "int32",
    "double": "float64",
    "float": "float32",
}


def _ts_micros(dt: datetime) -> int:
    """Epoch microseconds with the exact semantics of Spark's
    ``TimestampType.toInternal``: tz-aware datetimes use their own zone,
    naive datetimes are interpreted in the Python process's local tz —
    so Arrow-written and Spark-written files agree on instants."""
    import calendar
    import time as _time

    seconds = (
        calendar.timegm(dt.utctimetuple()) if dt.tzinfo else _time.mktime(dt.timetuple())
    )
    return int(seconds) * 1_000_000 + dt.microsecond


def _pa_schema_for(schema) -> "Any":
    import pyarrow as pa

    fields = []
    for f in schema.fields:
        s = f.dataType.simpleString()
        if s == "timestamp":
            # isAdjustedToUTC=true so Spark reads these back as
            # TimestampType (LTZ), matching its own written files —
            # naive-UTC datetimes round-trip bit-identically
            t = pa.timestamp("us", tz="UTC")
        elif s in _PA_SCALAR_TYPES:
            t = getattr(pa, _PA_SCALAR_TYPES[s])()
        else:
            raise KeyError(s)
        fields.append((f.name, t))
    return pa.schema(fields)


class ParquetStore:
    """Append-only local results store with an atomic partition manifest."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)

    # -- commit protocol ---------------------------------------------------

    def committed_partitions(self, run_id: str) -> set[str]:
        mdir = os.path.join(self.root, "_manifest")
        out = set()
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    d = json.load(f)
                if d.get("run_id") == run_id:
                    out.add(d["partition_id"])
        return out

    def commit_partition(self, run_id: str, partition_id: str, stats: dict[str, Any]) -> None:
        mdir = os.path.join(self.root, "_manifest")
        path = os.path.join(mdir, f"{run_id}_{partition_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"run_id": run_id, "partition_id": partition_id, **stats}, f)
        os.replace(tmp, path)  # atomic on POSIX — the commit point

    def has_partition(self, run_id: str, partition_id: str) -> bool:
        """O(1) committed-check for one partition — the per-micro-batch
        idempotency probe of a long-running stream must not re-parse
        every manifest file ever committed (committed_partitions is
        O(total commits) and stays for the resume path, which genuinely
        needs the full set once per run)."""
        return os.path.exists(
            os.path.join(self.root, "_manifest", f"{run_id}_{partition_id}.json")
        )

    # -- appends -----------------------------------------------------------

    def append(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(os.path.join(self.root, table))

    def append_rows(self, table: str, rows: list, schema, spark=None) -> None:
        """Driver-side append of dimension-sized control-plane records
        (per-partition EVRs, lineage/metric rows — data that is already
        a Python list on the driver): one small parquet file written
        with Arrow, no Spark job. Row-scale data (violations) must go
        through ``append`` — this path is only for driver-resident
        frames. In production (IcebergStore) these appends are table
        commits either way; locally a 1-row ``createDataFrame().write``
        costs a full 32-task job plus the Hadoop committer's temp-dir
        rename dance (~0.3-0.5 s), which multiplied by 3 control writes
        × n_buckets dominated the checkpoint runner's wall at small
        scale.

        Timestamp semantics mirror ``TimestampType.toInternal`` exactly
        (tz-aware → its own tz; naive → the Python process's local tz),
        so files written here and by the Spark append path carry the
        same instants in one table even on a non-UTC driver."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        n_fields = len(schema.fields)
        for i, r in enumerate(rows):
            # zip(*rows) would otherwise silently truncate EVERY column
            # to the shortest row (and drop trailing fields of long rows)
            if len(r) != n_fields:
                raise ValueError(
                    f"append_rows({table!r}): row {i} has {len(r)} fields, "
                    f"schema has {n_fields}"
                )
        try:
            pa_schema = _pa_schema_for(schema)
        except KeyError:
            # exotic column type — keep the Spark write path
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    f"append_rows({table!r}): schema needs the Spark write "
                    "path but no SparkSession is active on this thread; "
                    "pass spark= explicitly"
                )
            self.append(table, spark.createDataFrame(rows, schema=schema))
            return
        cols = list(zip(*rows)) if rows else [() for _ in pa_schema]
        arrays = []
        for c, f in zip(cols, pa_schema):
            if pa.types.is_timestamp(f.type):
                # epoch micros exactly as Spark's TimestampType.toInternal
                c = [None if v is None else _ts_micros(v) for v in c]
            arrays.append(pa.array(list(c), type=f.type))
        tbl = pa.Table.from_arrays(arrays, schema=pa_schema)
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        pq.write_table(tbl, os.path.join(tdir, f"part-{uuid.uuid4().hex}-arrow.parquet"))

    def append_small(self, table: str, df: DataFrame) -> None:
        """Append a dimension-sized Spark frame (e.g. per-partition
        aggregation states: #columns rows) by collecting it to Arrow on
        the driver and writing one file — the aggregation still runs as
        a Spark job, but the Hadoop committer round-trip is skipped.
        Never use for row-scale frames."""
        import pyarrow.parquet as pq

        tbl = df.toArrow()
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        pq.write_table(tbl, os.path.join(tdir, f"part-{uuid.uuid4().hex}-arrow.parquet"))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        # mergeSchema: state tables gained an append_id column mid-life —
        # a store written by mixed engine versions must still read whole
        return spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self.root, table)
        )


class IcebergStore:
    """Iceberg-backed store: appends become atomic table commits and the
    manifest becomes a ``run_manifest`` Iceberg table, so per-partition
    commit points are snapshot-isolated table appends instead of POSIX
    renames (the north rule's "checkpointed to an Iceberg results table").

    Construction requires an Iceberg-enabled SparkSession (the
    iceberg-spark-runtime jar on the classpath + a configured catalog);
    exercised end-to-end by scripts/iceberg_e2e.py and
    tests/test_iceberg.py, both gated on the jar being available — the
    build sandbox has no network to fetch it (documented in README)."""

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {namespace}.run_manifest "
            "(run_id STRING, partition_id STRING, stats STRING, ts TIMESTAMP) "
            "USING iceberg"
        )

    # -- commit protocol: Iceberg snapshot commits --------------------------

    def committed_partitions(self, run_id: str) -> set[str]:
        rows = (
            self.spark.table(f"{self.namespace}.run_manifest")
            .where(F.col("run_id") == run_id)
            .select("partition_id")
            .collect()
        )
        return {r["partition_id"] for r in rows}

    def commit_partition(
        self, run_id: str, partition_id: str, stats: dict[str, Any]
    ) -> None:
        # one-row append = one Iceberg snapshot commit — atomic; a crash
        # before this leaves no manifest row, so the partition re-runs
        row = [(run_id, partition_id, json.dumps(stats), _utcnow())]
        self.spark.createDataFrame(
            row, "run_id string, partition_id string, stats string, ts timestamp"
        ).writeTo(f"{self.namespace}.run_manifest").append()

    # -- appends -------------------------------------------------------------

    def append(self, table: str, df: DataFrame) -> None:
        full = f"{self.namespace}.{table}"
        # gate on existence instead of a blanket except — a real append
        # failure (schema mismatch, concurrent-commit conflict) must surface
        # as itself, not as a confusing "table already exists" from create()
        if self.spark.catalog.tableExists(full):
            df.writeTo(full).append()
        else:
            df.writeTo(full).create()

    def append_rows(self, table: str, rows: list, schema, spark=None) -> None:
        # Iceberg appends ARE the atomic commit protocol — always go
        # through a table commit, never a bare file write
        self.append(table, self.spark.createDataFrame(rows, schema=schema))

    def append_small(self, table: str, df: DataFrame) -> None:
        self.append(table, df)

    def has_partition(self, run_id: str, partition_id: str) -> bool:
        return (
            self.spark.table(f"{self.namespace}.run_manifest")
            .where(
                (F.col("run_id") == run_id)
                & (F.col("partition_id") == partition_id)
            )
            .limit(1)
            .count()
            > 0
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(f"{self.namespace}.{table}")


def append_control_rows(
    store: Any, spark: SparkSession, table: str, rows: list, schema
) -> None:
    """Route dimension-sized, driver-resident control-plane rows to a
    store: the Arrow fast path when the store provides it (ParquetStore —
    no Spark job; IcebergStore — a table commit), else a plain Spark
    append for third-party stores. The single dispatch point for every
    control-table writer (results/lineage/eval-params/metrics/freshness)."""
    if hasattr(store, "append_rows"):
        store.append_rows(table, rows, schema, spark=spark)
    else:
        store.append(table, spark.createDataFrame(rows, schema=schema))


def store_has_partition(store: Any, run_id: str, partition_id: str) -> bool:
    """O(1) committed-probe when the store supports it, else the full
    manifest read — the per-micro-batch idempotency check of a
    long-running stream must not re-parse every manifest ever written."""
    if hasattr(store, "has_partition"):
        return store.has_partition(run_id, partition_id)
    return partition_id in store.committed_partitions(run_id)


def store_validation_result(
    store: "ParquetStore",
    spark: SparkSession,
    report: dict[str, Any],
    suite_name: str | None = None,
    run_id: str = "adhoc",
) -> None:
    """Persist a validation report's EVRs into the evaluation-parameter
    store so later suites can reference them through
    ``urn:great_expectations:validations:<suite>:<metric>`` (reference:
    EvaluationParameterStore writes in validator.py:1258-1290)."""
    suite = suite_name or report.get("meta", {}).get("expectation_suite_name", "?")
    now = _utcnow()
    rows = [
        (
            suite,
            r.get("expectation_config", {}).get("expectation_type", "?"),
            json.dumps(r, default=str),
            run_id,
            now,
        )
        for r in report.get("results", [])
    ]
    if rows:
        append_control_rows(
            store, spark, "evaluation_parameters", rows, EVAL_PARAM_SCHEMA
        )


def _iter_evr_rows_desc(matches: DataFrame, page_size: int, stats: dict | None = None):
    """Iterate a filtered evaluation-parameter frame newest-first in
    bounded pages (keyset pagination on (ts, run_id) — no OFFSET, no
    unbounded collect). A store holding years of history costs the
    driver at most one page per probe; callers that find their match in
    the newest page never touch the rest.

    Rows within one run share (ts, run_id) — store_validation_results
    stamps the batch once — so a page boundary can split a key group.
    We truncate the page at the boundary key and re-fetch that key
    exactly, which keeps the iteration exhaustive (nothing skipped,
    nothing repeated) while every query stays bounded by
    max(page_size, largest single-run group)."""
    last: tuple | None = None
    while True:
        page_df = matches
        if last is not None:
            ts0, rid0 = last
            page_df = page_df.where(
                (F.col("ts") < F.lit(ts0))
                | ((F.col("ts") == F.lit(ts0)) & (F.col("run_id") < F.lit(rid0)))
            )
        rows = (
            page_df.orderBy(F.desc("ts"), F.desc("run_id"))
            .limit(page_size)
            .collect()
        )
        if stats is not None:
            stats["pages"] = stats.get("pages", 0) + 1
            stats["rows"] = stats.get("rows", 0) + len(rows)
        if not rows:
            return
        if len(rows) < page_size:
            yield from rows
            return
        bk = (rows[-1]["ts"], rows[-1]["run_id"])
        head = [r for r in rows if (r["ts"], r["run_id"]) != bk]
        if head:
            # the boundary key group may continue past the page edge:
            # yield only the complete groups and restart the next page
            # just after the last yielded key, so group bk is re-fetched
            # whole on the next iteration
            yield from head
            last = (head[-1]["ts"], head[-1]["run_id"])
        else:
            # the whole page is one key group: fetch it exactly (bounded
            # by that run's row count) and advance past it
            group = matches.where(
                (F.col("ts") == F.lit(bk[0])) & (F.col("run_id") == F.lit(bk[1]))
            ).collect()
            if stats is not None:
                stats["pages"] = stats.get("pages", 0) + 1
                stats["rows"] = stats.get("rows", 0) + len(group)
            yield from group
            last = bk


def resolve_validation_urn(
    store: "ParquetStore",
    spark: SparkSession,
    urn: str,
    page_size: int = 100,
    _stats: dict | None = None,
):
    """Resolve urn:great_expectations:validations:<suite>:<metric>[:<kwargs>]
    against the evaluation-parameter store.

    ``<metric>`` is ``<expectation_type>.<path...>`` (e.g.
    ``expect_table_row_count_to_be_between.result.observed_value``);
    ``<kwargs>`` filters on expectation kwargs (``column=x_0``), matching
    the reference grammar (core/urn.py ge_validations_urn). The newest
    matching EVR wins."""
    from .evaluation_parameters import EvaluationParameterError

    m = re.match(
        r"^urn:great_expectations:validations:([^:]+):([^:]+)(?::(.+))?$", urn
    )
    if not m:
        raise EvaluationParameterError(f"unparseable validations urn {urn!r}")
    suite, metric, kwargs_s = m.group(1), m.group(2), m.group(3)
    parts = metric.split(".")
    expectation, path = parts[0], parts[1:]
    want_kwargs = dict(
        kv.split("=", 1) for kv in kwargs_s.split("&") if "=" in kv
    ) if kwargs_s else {}
    try:
        df = store.read(spark, "evaluation_parameters")
    except Exception as e:  # noqa: BLE001 — empty store
        raise EvaluationParameterError(
            f"no stored validation results to resolve {urn!r}"
        ) from e
    matches = df.where(
        (F.col("suite_name") == suite) & (F.col("expectation") == expectation)
    )
    # push the kwargs filter into the store query so a match older than the
    # newest page is still found; JSON-path pushdown only works for plain
    # identifier keys — exotic kwarg names fall back to the driver-side
    # filter below, but EITHER way the history is consumed newest-first in
    # bounded keyset pages (never one unbounded collect of the full store)
    if all(re.fullmatch(r"[A-Za-z0-9_]+", k) for k in want_kwargs):
        for k, v in want_kwargs.items():
            matches = matches.where(
                F.get_json_object(F.col("evr"), f"$.expectation_config.kwargs.{k}")
                == F.lit(v)
            )
    for r in _iter_evr_rows_desc(matches, page_size, _stats):
        evr = json.loads(r["evr"])
        cfg_kwargs = evr.get("expectation_config", {}).get("kwargs", {})
        if any(str(cfg_kwargs.get(k)) != v for k, v in want_kwargs.items()):
            continue
        node: Any = evr
        try:
            for p in path:
                node = node[p]
        except (KeyError, TypeError):
            continue
        return node
    raise EvaluationParameterError(
        f"no stored EVR matches {urn!r} (suite={suite!r}, "
        f"expectation={expectation!r}, kwargs={want_kwargs})"
    )


def _validate_unit(
    part: DataFrame,
    suite: ExpectationSuite,
    rows_builder: Callable[[DataFrame], DataFrame] | None,
    append: Callable[[DataFrame], None],
    result_format: Any = None,
) -> tuple[dict[str, Any], int]:
    """Validate one commit unit (runner bucket, streaming micro-batch) and
    land its violation rows in the same scan. Returns ``(report,
    n_docs)``.

    With a ``rows_builder`` the suite aggregates ride a CollectMetrics
    node on the violation append (fused.validate_and_extract) — no
    persist, one full-width pass. Without one there is no row query to
    ride, so the suite runs as a plain Validator pass. ``n_docs`` is the
    element_count of an EVR over the whole unfiltered unit; only a report
    without one costs a ``count()`` job."""
    # imported per call, so a wrapper patched onto the fused module
    # (tracing, profiling) sees the runner's and the sink's calls too
    from .fused import validate_and_extract

    if rows_builder is not None:
        result, _, _ = validate_and_extract(
            part, suite, rows_builder, action=append, result_format=result_format
        )
    else:
        result = Validator(part).validate(suite, result_format=result_format)
    for r in result["results"]:
        n = r.get("result", {}).get("element_count")
        if n is None:
            continue
        cfg = r["expectation_config"]
        d = build_domain(ExpectationConfiguration(cfg["expectation_type"], cfg["kwargs"]))
        # a row_condition / ignore_row_if / span domain counts other rows
        if d.is_table:
            return result, int(n)
    return result, part.count()


def _write_results(
    store: Any, spark: SparkSession, run_id: str, pid: str, result: dict[str, Any]
) -> None:
    rows = []
    now = _utcnow()
    for r in result["results"]:
        cfg = r.get("expectation_config", {})
        res = r.get("result", {})
        obs = res.get("observed_value")
        rows.append(
            (
                run_id,
                pid,
                cfg.get("expectation_type", "?"),
                cfg.get("kwargs", {}).get("column"),
                bool(r["success"]),
                res.get("element_count"),
                res.get("unexpected_count"),
                None if obs is None else json.dumps(obs, default=str),
                json.dumps(r, default=str),
                now,
            )
        )
    append_control_rows(store, spark, "results", rows, RESULT_SCHEMA)


def _write_lineage(
    store: Any,
    spark: SparkSession,
    run_id: str,
    pid: str,
    result: dict[str, Any],
    n_docs: int,
) -> None:
    now = _utcnow()
    rows = [(run_id, pid, None, "doc_count", float(n_docs), now)]
    for r in result["results"]:
        res = r.get("result", {})
        if isinstance(res.get("unexpected_count"), (int, float)):
            rows.append(
                (
                    run_id,
                    pid,
                    None,
                    f"{r['expectation_config']['expectation_type']}.unexpected_count",
                    float(res["unexpected_count"]),
                    now,
                )
            )
    append_control_rows(store, spark, "lineage", rows, LINEAGE_SCHEMA)


def write_states(
    store: Any,
    kinds: Sequence[StateKind],
    frame: DataFrame,
    run_id: str,
    pid: str,
    lock: Any = None,
) -> None:
    """Append one commit unit's state rows of every kind, each stamped
    with ``run_id``, ``ts`` and a per-append ``append_id`` so
    states.latest_committed can supersede a crash's orphan rows as a set.
    With more than one kind the narrow projection of their source columns
    is cached for the kinds' jobs. Dimension-sized rows are written
    through ``append_small`` (driver-side Arrow, lock-free), else a Spark
    ``append`` under ``lock``, which shares the committer's _temporary
    dir with the caller's other appends."""
    if not kinds:
        return
    src = frame.select(*sorted({c for k in kinds for c in k.columns}))
    cache = len(kinds) > 1
    if cache:
        src = src.persist()
    try:
        for kind in kinds:
            rows = kind.build(src, f"'{pid}'").select(
                F.lit(run_id).alias("run_id"),
                "*",
                F.lit(_utcnow()).alias("ts"),
                F.lit(uuid.uuid4().hex).alias("append_id"),
            )
            if hasattr(store, "append_small"):
                store.append_small(kind.table, rows)
            else:
                with lock or contextlib.nullcontext():
                    store.append(kind.table, rows)
    finally:
        if cache:
            src.unpersist()


def read_states(
    store: Any, spark: SparkSession, run_id: str, kind: StateKind
) -> DataFrame:
    """``kind``'s state rows of the units of ``run_id`` committed so far,
    newest append per unit (states.latest_committed) — the input of the
    family's fold; never a rescan of the data."""
    rows = store.read(spark, kind.table).where(F.col("run_id") == run_id)
    return latest_committed(rows, sorted(store.committed_partitions(run_id)))


@dataclass
class RunReport:
    run_id: str
    partitions_run: list[str] = field(default_factory=list)
    partitions_skipped: list[str] = field(default_factory=list)
    #: (partition_id, error_repr) for partitions that crashed under
    #: on_error="continue" — never committed, so a resume retries them
    partitions_failed: list[tuple] = field(default_factory=list)
    docs_validated: int = 0
    expectation_evals: int = 0
    wall_secs: float = 0.0
    success: bool = True


class CheckpointRunner:
    def __init__(
        self,
        spark: SparkSession,
        store: ParquetStore,
        n_buckets: int = 8,
        violations_fn: Callable[[DataFrame, str, str], DataFrame] | None = None,
        suite_violation_rows: bool = False,
        doc_id_col: str = "doc_id",
        max_concurrency: int = 1,
        profile_columns: Sequence[str] | None = None,
        profile_bins: "dict[str, Sequence[float]] | None" = None,
        profile_mg: "tuple[str, int] | None" = None,
        profile_quantiles: "tuple[str, int] | None" = None,
    ):
        self.spark = spark
        self.store = store
        self.n_buckets = n_buckets
        self.violations_fn = violations_fn
        # every committed partition also persists the mergeable states of
        # these kinds beside its EVRs, and the corpus_* readers fold the
        # committed states instead of rescanning 10^12 rows; a resumed run
        # only adds states for the partitions it actually ran:
        #   profile_columns   -> column moments (corpus_profile)
        #   profile_bins      -> fixed-bin histograms (corpus_histogram,
        #                        corpus_drift, corpus_quantile_bounds)
        #   profile_mg        -> (column, k) Misra-Gries summaries
        #                        (corpus_heavy_hitters)
        #   profile_quantiles -> (column, k) quantile summaries
        #                        (corpus_quantile_sketch_bounds)
        kinds = {
            "profile_columns": profile_columns and moments(profile_columns),
            "profile_bins": profile_bins and histogram(profile_bins),
            "profile_mg": profile_mg and misra_gries(*profile_mg),
            "profile_quantiles": profile_quantiles and quantiles(*profile_quantiles),
        }
        self._kinds = {option: kind for option, kind in kinds.items() if kind}
        self.states: list[StateKind] = list(self._kinds.values())
        # corpus_quantile_bounds maps the histogram's bins back to values
        self.profile_bins = dict(profile_bins) if profile_bins else None
        # when set, per-row violations for every map expectation in the
        # suite are derived automatically (summarize.suite_violations) and
        # appended alongside any custom violations_fn output
        self.suite_violation_rows = suite_violation_rows
        self.doc_id_col = doc_id_col
        # >1 validates partitions concurrently from a thread pool — the
        # analog of GX's checkpoint-level AsyncExecutor
        # (core/async_executor.py:41-77), but submitting Spark jobs, which
        # the scheduler interleaves across cores. Store appends stay
        # serialized behind a lock: concurrent parquet appends into one
        # directory share the committer's _temporary dir and can clobber.
        self.max_concurrency = max_concurrency
        import threading

        self._write_lock = threading.Lock()

    def run(
        self,
        docs: DataFrame,
        suite: ExpectationSuite,
        run_id: str | None = None,
        fail_after: int | None = None,  # test hook: die after N partitions
        bucket_col: str = "doc_id",
        on_error: str = "raise",
    ) -> RunReport:
        """``on_error="continue"`` is the poison-partition policy for
        long corpus runs: a partition that crashes (corrupt file, UDF
        error) is recorded in ``report.partitions_failed`` with its
        error and the run proceeds — the failed partition is never
        committed, so the next run with the same run_id retries exactly
        the failed set (the normal resume path). ``"raise"`` (default)
        propagates the first failure, failing fast."""
        if on_error not in ("raise", "continue"):
            raise ValueError(
                f'on_error must be "raise" or "continue", got {on_error!r}'
            )
        run_id = run_id or uuid.uuid4().hex[:12]
        report = RunReport(run_id=run_id)
        t0 = time.monotonic()
        committed = self.store.committed_partitions(run_id)

        if "__bucket" not in docs.columns:
            docs = docs.withColumn(
                "__bucket",
                F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(self.n_buckets)),
            )
        # else: caller pre-bucketed (PartitionedCorpusRunner) — the filter
        # below then hits a physical partition column and prunes files

        todo = []
        for b in range(self.n_buckets):
            pid = f"bucket={b}"
            if pid in committed:
                report.partitions_skipped.append(pid)
            else:
                todo.append((b, pid))

        def _one(b: int, pid: str):
            if on_error == "raise":
                return self._run_partition(docs, suite, run_id, pid, b)
            try:
                return self._run_partition(docs, suite, run_id, pid, b)
            except Exception as e:  # noqa: BLE001 — poison-partition policy
                return (pid, None, repr(e))

        if self.max_concurrency > 1 and fail_after is None:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            # each partition's jobs carry the caller's Spark local
            # properties (job group, tags); wrapped per task, so every
            # task gets its own copy of them
            with ThreadPoolExecutor(self.max_concurrency) as pool:
                futures = [
                    pool.submit(inheritable_thread_target(self.spark)(_one), b, pid)
                    for b, pid in todo
                ]
                outcomes = [f.result() for f in futures]
        else:
            outcomes = []
            done = 0
            for b, pid in todo:
                outcomes.append(_one(b, pid))
                done += 1
                if fail_after is not None and done >= fail_after:
                    raise RuntimeError(f"injected failure after {done} partitions")

        for pid, n_docs, result in outcomes:
            if n_docs is None:  # failed under on_error="continue"
                report.partitions_failed.append((pid, result))
                report.success = False
                continue
            report.partitions_run.append(pid)
            report.docs_validated += int(n_docs)
            report.expectation_evals += result["statistics"]["evaluated_expectations"]
            report.success = report.success and result["success"]

        report.wall_secs = time.monotonic() - t0
        return report

    def _run_partition(self, docs, suite, run_id: str, pid: str, b: int):
        """Validate + commit one bucket in one scan: the suite aggregates
        ride the violation-row append (see _validate_unit), nothing is
        persisted. Thread-safe: Spark job submission is safe from multiple
        threads; store writes serialize behind _write_lock; the manifest
        commit is last (the commit point)."""
        from .summarize import suite_violations

        part = docs.filter(F.col("__bucket") == b).drop("__bucket")

        def rows_builder(base: DataFrame) -> DataFrame:
            frames = []
            if self.violations_fn is not None:
                frames.append(self.violations_fn(base, run_id, pid))
            if self.suite_violation_rows:
                sv = suite_violations(base, suite, self.doc_id_col, run_id, pid)
                if sv is not None:
                    frames.append(sv)
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f, allowMissingColumns=True)
            return out

        def append(rows: DataFrame) -> None:
            with self._write_lock:
                self.store.append("violations", rows)

        # pre-flight on the un-observed frame: is there a violation frame?
        has_rows = self.violations_fn is not None or (
            self.suite_violation_rows
            and suite_violations(part, suite, self.doc_id_col, run_id, pid)
            is not None
        )
        result, n_docs = _validate_unit(
            part, suite, rows_builder if has_rows else None, append
        )
        with self._write_lock:
            _write_results(self.store, self.spark, run_id, pid, result)
            store_validation_result(self.store, self.spark, result, run_id=run_id)
            _write_lineage(self.store, self.spark, run_id, pid, result, n_docs)
        # the partition is never persisted, so the states are one extra
        # NARROW scan (only the profiled columns reach the reader). Outside
        # the lock: it is a real Spark job and must overlap across
        # concurrent partitions; its write is lock-free (Arrow file)
        write_states(self.store, self.states, part, run_id, pid, self._write_lock)
        self.store.commit_partition(
            run_id, pid, {"success": result["success"], "n_docs": int(n_docs)}
        )
        return pid, n_docs, result

    def _committed_states(self, run_id: str, option: str, reader: str):
        """The run's committed state rows of the kind the runner was
        constructed with through keyword ``option``, and that kind."""
        kind = self._kinds.get(option)
        if kind is None:
            raise ValueError(f"{reader} needs the runner constructed with {option}")
        return read_states(self.store, self.spark, run_id, kind), kind

    def corpus_profile(self, run_id: str, round_to: int = 6) -> DataFrame:
        """Corpus-level column profile for a run, folded from the
        per-partition states — never rescans the corpus. Covers exactly
        the partitions committed so far (an interrupted run yields the
        committed subset's profile; after resume it equals the full
        rescan — the states module's merged == rescan contract, now
        served through the runner API). Requires profile_columns."""
        rows, _ = self._committed_states(run_id, "profile_columns", "corpus_profile")
        return merge_states(rows, round_to=round_to)

    def corpus_histogram(self, run_id: str) -> DataFrame:
        """Merged corpus histogram (column, bin, cnt) folded from the
        per-partition histogram states of the committed partitions —
        never rescans the corpus, orphan rows superseded like
        corpus_profile. Requires profile_bins."""
        rows, _ = self._committed_states(run_id, "profile_bins", "corpus_histogram")
        return merge_histogram_states(rows)

    def corpus_drift(
        self,
        run_id: str,
        baseline: "dict[str, dict]",
        tail_weight_holdout: float = 0.0,
    ) -> "list[dict]":
        """Per-column KL/PSI drift of the run's merged histogram states
        against a baseline partition snapshot ({column: {bins, weights}})
        — the incremental form of the KL expectation: only newly
        committed partitions were ever scanned, and the fold itself is
        driver math over a #columns x (bins+2)-row frame. Baseline edges
        must match profile_bins (validated by bin count)."""
        return drift_from_states(
            self.corpus_histogram(run_id),
            baseline,
            tail_weight_holdout=tail_weight_holdout,
        )

    def corpus_heavy_hitters(self, run_id: str, min_fraction: float) -> DataFrame:
        """Three-valued corpus hot-key verdicts (value, lower, upper, n,
        threshold, verdict ∈ certified/indeterminate) folded from the
        committed partitions' Misra-Gries states — never rescans the
        corpus; set-level last-write-wins supersedes redelivered units.
        Requires profile_mg=(column, k)."""
        rows, kind = self._committed_states(run_id, "profile_mg", "corpus_heavy_hitters")
        (_, k), = kind.shape
        return certified_heavy_hitters(merge_mg_states(rows, k), min_fraction)

    def corpus_quantile_bounds(
        self, run_id: str, ps: "Sequence[float]"
    ) -> DataFrame:
        """One-bin-wide quantile brackets (column, p, n, bin, lo, hi) from
        the run's merged histogram states — states.quantile_bounds over
        corpus_histogram, edges taken from profile_bins. Definite quantile
        expectations (states.quantile_bracket_verdicts) follow without
        ever rescanning committed partitions."""
        return quantile_bounds(
            self.corpus_histogram(run_id), self.profile_bins, ps
        )

    def corpus_quantile_sketch_bounds(
        self, run_id: str, ps: "Sequence[float]"
    ) -> DataFrame:
        """Certified quantile brackets (column, p, n, lo, hi, est) from
        the run's merged quantile-summary states — the EDGE-FREE
        counterpart of corpus_quantile_bounds: no profile_bins needed,
        the bracket width is the summary's worst-case rank certificate
        instead of one bin. Definite three-valued verdicts follow via
        states.quantile_bracket_verdicts without ever rescanning
        committed partitions. Requires profile_quantiles=(column, k)."""
        rows, _ = self._committed_states(
            run_id, "profile_quantiles", "corpus_quantile_sketch_bounds"
        )
        return quantile_sketch_bounds(rows, ps)


class PartitionedCorpusRunner(CheckpointRunner):
    """CheckpointRunner over a hash-bucket-partitioned corpus directory
    (synth.write_bucketed_corpus layout; in production an Iceberg table
    with a bucket(n, doc_id) partition spec).

    Where the base runner filters ``pmod(xxhash64(doc_id), n) == b`` over a
    full scan per bucket (O(n_buckets x corpus) reads — fine for one
    DataFrame in memory, wrong for 100 TB), this one relies on partition
    pruning: each bucket's read plans only that bucket's files, so a full
    run reads the corpus exactly once regardless of n_buckets, and a
    resumed run reads only the uncommitted buckets' files.
    """

    def __init__(self, spark: SparkSession, store: ParquetStore, corpus_path: str,
                 n_buckets: int | None = None, **kwargs):
        detected = self._detect_buckets(corpus_path)
        if n_buckets is None:
            if detected is None:
                raise ValueError(
                    f"{corpus_path} has no bucket=<n> partition directories; "
                    "pass n_buckets explicitly for unpartitioned corpora"
                )
            n_buckets = detected
        elif detected is not None and detected > n_buckets:
            # a too-small n_buckets would silently skip buckets >= n_buckets
            # and report success on a partial run
            raise ValueError(
                f"corpus has {detected} bucket partitions but runner was "
                f"configured with n_buckets={n_buckets}; buckets "
                f">= {n_buckets} would never be validated"
            )
        super().__init__(spark, store, n_buckets=n_buckets, **kwargs)
        self.corpus_path = corpus_path

    @staticmethod
    def _detect_buckets(corpus_path: str) -> int | None:
        """Bucket count from the partition layout (cheap directory listing,
        the parquet analog of reading Iceberg's partition spec). None if the
        layout is not bucket-partitioned."""
        try:
            vals = [
                int(name.split("=", 1)[1])
                for name in os.listdir(corpus_path)
                if name.startswith("bucket=")
            ]
        except (OSError, ValueError):
            return None
        return max(vals) + 1 if vals else None

    def run(self, docs: DataFrame | None, suite: ExpectationSuite,
            run_id: str | None = None, fail_after: int | None = None,
            bucket_col: str = "doc_id", on_error: str = "raise") -> RunReport:
        base = self.spark.read.parquet(self.corpus_path)
        # partition-pruned view: filtering on the partition column prunes
        # directories at planning time (verify: plan shows PartitionFilters)
        pruned = base.withColumn("__bucket", F.col("bucket")).drop("bucket")
        return super().run(
            pruned, suite, run_id=run_id, fail_after=fail_after,
            bucket_col=bucket_col, on_error=on_error,
        )
