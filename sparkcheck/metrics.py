"""Metric model + Spark resolution engine with aggregate bundling.

The reference resolves a dependency graph of MetricConfigurations and
bundles all *aggregate partials* sharing a compute-domain into a single
``df.agg(*aggs).collect()`` pass (reference:
great_expectations/execution_engine/sparkdf_execution_engine.py:702-780,
single collect at :758; partial/bundle split
execution_engine/execution_engine.py:378-477). We keep the bundle — it is
the one GX optimization Catalyst cannot do for us (it fuses aggregates
within one action, not across actions) — and carry it differently: every
bundle is ONE ``Observation`` (a CollectMetrics node) on ONE action, built
and read by :meth:`MetricResolver.observe`. The resolver's own action is a
noop write of the compute domain, one Spark job where ``df.agg().collect()``
runs two under adaptive execution (the partial aggregate, then the final
one after an exchange); ``fused.validate_and_extract`` hosts the
table-domain bundle on the caller's row action instead. Map-condition
unexpected-counts and histogram bins are ``sum(when(...))`` columns of the
same bundle. Requests that need rows rather than an aggregate are bundled
too (``SharedPass``): every unexpected-value sample over one row set comes
from ONE sample-pass query, and each uniqueness domain's count and sample
from ONE uniqueness-pass query. The passes and bundles of one resolver
round are independent, so they run side by side, each from its own worker
thread (at most :data:`ROUND_WORKERS` at once): Spark schedules the jobs of
separate driver threads together on the same executors, where the
reference resolves one bundle after another. A pass or bundle that
raises is bisected: it is re-run on halves of its requests, down to
single requests, which are retried while their error is transient. So one
bad request fails only itself.

Metric kinds (reference enum core/metric_function_types.py:26-112):
  - ``agg``     -> returns an unevaluated Spark Column aggregate; bundled.
  - ``eager``   -> runs its own Spark action (value_counts, unexpected
                   samples, quantile on tiny relative error, ...).
  - ``derived`` -> pure driver math over already-resolved metrics.

Identity of a metric is ``(name, domain_id, value_kwargs_id)`` exactly as
the reference (validator/metric_configuration.py:153-158; id_dict md5 of
sorted JSON, core/id_dict.py:13-28) so shared metrics (row_count, null
counts) are computed once per suite.

Columns are built once per (metric id, schema). Every Column call is a
py4j round trip, so building a suite's stage-1 Columns (aggregates,
unexpected masks, span-check predicates) costs thousands of them per
unit. :data:`COLUMN_CACHE` keeps each under ``(purpose, metric id, frame
dtypes)`` and every later unit reuses it, so an ``agg_fn`` and a
condition must be pure functions of the metric configuration and the
frame's dtypes (see :class:`MetricSpec`).
"""

from __future__ import annotations

import hashlib
import json
import threading
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable, Hashable, TypeVar

from pyspark import SparkContext, inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _stable_id(obj: Any) -> str:
    return hashlib.md5(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()


_FLOAT_TYPES = ("float", "double")


def float_columns(df: DataFrame) -> frozenset[str]:
    """Names of float/double columns — the ones where NaN is possible."""
    return frozenset(n for n, t in df.dtypes if t in _FLOAT_TYPES)


#: entries :data:`COLUMN_CACHE` keeps, least recently used out first. A
#: ``$PARAMETER`` such as ``now()-timedelta(...)`` gives a new metric id on
#: every call, so the bound keeps a long stream from growing the cache.
COLUMN_CACHE_SIZE = 4096

#: most queries of one resolver round (sample passes, uniqueness passes,
#: aggregate bundles) that run at once, each from its own worker thread
ROUND_WORKERS = 4

_V = TypeVar("_V")


class ColumnCache:
    """Spark Columns built once and reused on every later frame: a bounded
    LRU map from a key to ``build()``'s result.

    Only ``F.col(...)``-based Columns go in. They are unresolved, so one
    Column is valid on any frame that has the columns it names; a
    ``df[name]`` Column carries its frame's plan id and must not be cached.
    A Column is a handle on a JVM object of one py4j gateway, so the cache
    empties itself when the live gateway is not the one it was filled on.
    Lookups and writes are single dict operations under a lock, so the
    fused prefetch thread and the caller share it; two threads may build
    the same entry, which is harmless."""

    def __init__(self, size: int):
        self.size = size
        self._lock = threading.Lock()
        self._entries: OrderedDict[Hashable, Any] = OrderedDict()
        self._gateway: Any = None

    def get(self, key: Hashable, build: Callable[[], _V]) -> _V:
        gateway = SparkContext._gateway  # noqa: SLF001 — the live JVM link
        with self._lock:
            if self._gateway is not gateway:
                self._entries.clear()
                self._gateway = gateway
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key]
        value = build()
        with self._lock:
            if self._gateway is gateway:
                self._entries[key] = value
                while len(self._entries) > self.size:
                    self._entries.popitem(last=False)
        return value

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)


#: the one Column cache: resolver aggregates and masks
#: (:meth:`MetricResolver.column`) and the span-check plan (``spans``)
COLUMN_CACHE = ColumnCache(COLUMN_CACHE_SIZE)


def domain_col(domain: "Domain", ctx: "MetricResolver | None" = None) -> Column:
    """The domain's accessor column with NaN≡NULL semantics for float
    columns: NaN values are masked to NULL so every aggregate and count
    skips them exactly like nulls.

    Rationale: GX's cross-backend authority is the Pandas engine, where NaN
    *is* null (so ``column.mean`` skips NaN and NaN never counts as an
    unexpected value); the reference's Spark engine only injects
    ``NOT isnan(col)`` for increasing/decreasing
    (sparkdf_execution_engine.py:665-700 ``add_column_row_condition``
    ``filter_nan``; callers column_values_increasing.py:105-108). We apply
    the pandas-parity semantics uniformly — done as an expression (not a
    row filter) so metrics on different columns still share ONE bundle.
    """
    c = F.col(domain.column)
    if ctx is not None and domain.column in ctx.float_cols_of(domain):
        c = F.when(~F.isnan(c), c)
    return c


def domain_predicate(domain: "Domain") -> Column | None:
    """The domain's row filters (row_condition AND filter_conditions) as
    one Column, or None for a domain that keeps every row of its row set."""
    preds = [domain.row_condition] if domain.row_condition else []
    preds += list(domain.filter_conditions)
    out = None
    for p in preds:
        out = F.expr(p) if out is None else (out & F.expr(p))
    return out


@dataclass(frozen=True)
class Domain:
    """The sub-table a metric is computed over (reference:
    core/metric_domain_types.py TABLE/COLUMN/COLUMN_PAIR/MULTICOLUMN;
    kwarg split execution_engine/execution_engine.py:576-793).

    ``row_condition`` / ``filter_conditions`` are *compute* kwargs (they
    change the rows scanned and hence the bundling group); column
    accessors are *accessor* kwargs (they only pick columns inside the
    same scan).
    """

    row_condition: str | None = None
    # extra conjunctive Spark-SQL predicates injected by the engine
    # (null filters for window conditions, ignore_row_if, ...)
    filter_conditions: tuple[str, ...] = ()
    column: str | None = None
    column_a: str | None = None
    column_b: str | None = None
    column_list: tuple[str, ...] = ()
    # span-level domains (north rule): posexplode this array<struct> column
    # so one row per span exists before any metric runs; accessors then
    # reference struct fields as `__span.<field>` and the span ordinal as
    # `__span_index`. The explode is a narrow generator — it changes the
    # scanned row set, so it is part of the compute identity.
    explode_col: str | None = None

    @property
    def is_table(self) -> bool:
        """Whether the domain is every row of the unexploded table."""
        return (
            self.row_condition is None
            and not self.filter_conditions
            and self.explode_col is None
        )

    @property
    def compute_id(self) -> str:
        """Identity of the scanned row set — the bundling key."""
        return _stable_id(
            {
                "row_condition": self.row_condition,
                "filters": self.filter_conditions,
                "explode": self.explode_col,
            }
        )

    @property
    def domain_id(self) -> str:
        return _stable_id(
            {
                "row_condition": self.row_condition,
                "filters": self.filter_conditions,
                "explode": self.explode_col,
                "column": self.column,
                "column_a": self.column_a,
                "column_b": self.column_b,
                "column_list": self.column_list,
            }
        )

    def apply(self, df: DataFrame) -> DataFrame:
        """Realize the compute domain: explode (for span domains) +
        filters — column projection is left to Catalyst column pruning."""
        if self.explode_col:
            df = df.select(
                "*", F.posexplode(self.explode_col).alias("__span_index", "__span")
            )
        if self.row_condition:
            df = df.filter(self.row_condition)
        for cond in self.filter_conditions:
            df = df.filter(cond)
        return df


@dataclass(frozen=True)
class MetricConfiguration:
    name: str
    domain: Domain
    value_kwargs: tuple = ()  # frozen (key, value) pairs

    @property
    def id(self) -> tuple[str, str, str]:
        return (self.name, self.domain.domain_id, _stable_id(self.value_kwargs))

    def kw(self, key: str, default: Any = None) -> Any:
        for k, v in self.value_kwargs:
            if k == key:
                return v
        return default


def freeze_kwargs(**kwargs: Any) -> tuple:
    def fr(v: Any) -> Any:
        if isinstance(v, dict):
            return tuple(sorted((k, fr(x)) for k, x in v.items()))
        if isinstance(v, (list, tuple, set)):
            return tuple(fr(x) for x in v)
        return v

    return tuple(sorted((k, fr(v)) for k, v in kwargs.items()))


@dataclass
class MetricSpec:
    """Registry entry. Exactly one of the three fns is set, per kind.

    An ``agg_fn`` is called once per (metric id, frame dtypes) and its
    Column reused for every later frame with those dtypes
    (:data:`COLUMN_CACHE`), so it must read nothing but the domain, the
    configuration and the resolver's ``dtypes``/``float_cols_of`` — no
    resolved values, no clock, no ``df[name]`` Columns. The same holds for
    a condition's mask (``summarize.unexpected_mask``)."""

    name: str
    kind: str  # 'agg' | 'eager' | 'derived'
    # agg: (domain, metric_cfg, resolver_ctx) -> Column (unevaluated aggregate)
    agg_fn: Callable[..., Column] | None = None
    # eager: (engine, domain_df, metric_cfg, resolved) -> value
    eager_fn: Callable[..., Any] | None = None
    # derived: (resolved, metric_cfg) -> value
    derived_fn: Callable[..., Any] | None = None
    # deps: (metric_cfg) -> dict[dep_key, MetricConfiguration]
    deps_fn: Callable[[MetricConfiguration], dict[str, MetricConfiguration]] | None = None
    # eager only: (metric_cfg) -> the SharedPass that resolves this request
    # together with the other ready requests of the same pass, or None
    shared_pass: Callable[[MetricConfiguration], "SharedPass | None"] | None = None


@dataclass(frozen=True)
class SharedPass:
    """One Spark query that resolves every ready request naming the same
    ``(run, key)``: ``run(resolver, requests)`` returns ``{metric id:
    value}`` (an exception as the value fails that request alone).

    ``run`` is called from a worker thread, side by side with the other
    queries of its resolver round, so it must be thread-safe: it may read
    the resolver (``domain_df``, ``column``, ``dtypes``) but must write no
    state that another query of the round reads. When it raises, it is
    called again on each half of ``requests``, and on a single request
    again while its error is transient."""

    run: Callable[..., dict[tuple, Any]]
    key: Any


_REGISTRY: dict[str, MetricSpec] = {}


def register_metric(spec: MetricSpec) -> MetricSpec:
    _REGISTRY[spec.name] = spec
    return spec


def get_metric_spec(name: str) -> MetricSpec:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(f"metric {name!r} is not registered") from None


def agg_metric(name: str):
    """Decorator: register fn(domain, cfg, ctx) -> Column as a bundled
    aggregate. ``fn`` must be pure in (cfg, ctx.dtypes): its Column is
    built once per metric id and schema and then reused (see MetricSpec)."""

    def deco(fn):
        register_metric(MetricSpec(name=name, kind="agg", agg_fn=fn))
        return fn

    return deco


def eager_metric(name: str, deps_fn=None, shared_pass=None):
    def deco(fn):
        register_metric(
            MetricSpec(
                name=name, kind="eager", eager_fn=fn, deps_fn=deps_fn,
                shared_pass=shared_pass,
            )
        )
        return fn

    return deco


def derived_metric(name: str, deps_fn=None):
    def deco(fn):
        register_metric(
            MetricSpec(name=name, kind="derived", derived_fn=fn, deps_fn=deps_fn)
        )
        return fn

    return deco


def _is_transient(e: Exception) -> bool:
    """Whether a metric failure is worth retrying (reference retries every
    failure MAX_METRIC_COMPUTATION_RETRIES times, validation_graph.py:38;
    we classify: analysis/type/value errors are deterministic and fail the
    same way every time, so only infrastructure-flavored failures retry)."""
    try:  # pyspark exception taxonomy (Spark 3.4+)
        from pyspark.errors import (  # noqa: PLC0415
            AnalysisException,
            ArithmeticException,
            ArrayIndexOutOfBoundsException,
            DateTimeException,
            IllegalArgumentException,
            PySparkException,
        )

        # analysis errors, and ANSI run-time errors of the data itself
        # (CAST_INVALID_INPUT, DIVIDE_BY_ZERO, INVALID_ARRAY_INDEX, ...)
        if isinstance(
            e,
            (
                AnalysisException,
                ArithmeticException,
                ArrayIndexOutOfBoundsException,
                DateTimeException,
                IllegalArgumentException,
            ),
        ):
            return False
        if isinstance(e, PySparkException):
            # runtime Spark failures (executor loss, fetch failure, ...)
            return True
    except ImportError:  # pragma: no cover
        pass
    return not isinstance(e, (KeyError, TypeError, ValueError, AttributeError))


class MetricResolver:
    """Dependency-driven resolver with per-compute-domain agg bundling.

    Reference analog: ValidationGraph.resolve loop
    (validator/validation_graph.py:181-347) + resolve_metric_bundle
    (sparkdf_execution_engine.py:702-780). Resolved values are memoized by
    metric id for the lifetime of the resolver (execution_engine.py:151-158).
    """

    MAX_RETRIES = 3  # reference: validation_graph.py:38

    def __init__(self, df: DataFrame):
        self.df = df
        self.cache: dict[tuple, Any] = {}
        # metric id -> original exception; __getitem__ re-raises so the
        # expectation's EVR carries the REAL failure (e.g. a type-guard
        # ValueError), not a downstream KeyError (reference keeps the
        # original exception in exception_info, validator.py:1159-1213)
        self.failed: dict[tuple, Exception] = {}
        self._domain_df_cache: dict[str, DataFrame] = {}
        # read once, here: the fused prefetch thread shares this resolver
        fields = df.schema.fields
        #: the frame's (name, simple type) pairs: the Column cache's schema key
        self.dtypes_key = tuple((f.name, f.dataType.simpleString()) for f in fields)
        self.dtypes = dict(self.dtypes_key)
        # float/double columns get NaN==NULL semantics (see domain_col)
        self.float_cols = frozenset(n for n, t in self.dtypes_key if t in _FLOAT_TYPES)
        # per array<struct> column: the `__span.<field>` accessors of its
        # float/double fields, float columns of a domain exploding it
        self._span_float_cols = {
            f.name: frozenset(
                f"__span.{g.name}" for g in f.dataType.elementType.fields
                if g.dataType.simpleString() in _FLOAT_TYPES
            )
            for f in fields
            if isinstance(f.dataType, T.ArrayType)
            and isinstance(f.dataType.elementType, T.StructType)
        }

    def float_cols_of(self, domain: Domain) -> frozenset[str]:
        """The float/double accessors of ``domain``'s row set: the frame's
        columns, plus the ``__span.<field>`` ones of a span domain."""
        return self.float_cols | self._span_float_cols.get(domain.explode_col, frozenset())

    def column(self, purpose: str, mid: Hashable, build: Callable[[], _V]) -> _V:
        """``build()`` once per (purpose, metric id, frame dtypes), from
        :data:`COLUMN_CACHE` after that."""
        return COLUMN_CACHE.get((purpose, mid, self.dtypes_key), build)

    def domain_df(self, domain: Domain) -> DataFrame:
        """The frame of ``domain``'s compute domain: one per ``compute_id``,
        also when a round's workers and the fused main thread ask at once
        (two may build it; ``setdefault`` keeps the first)."""
        key = domain.compute_id
        ddf = self._domain_df_cache.get(key)
        if ddf is None:
            ddf = self._domain_df_cache.setdefault(key, domain.apply(self.df))
        return ddf

    def resolve(
        self,
        requests: list[MetricConfiguration],
        raise_errors: bool = True,
    ) -> dict[tuple, Any]:
        """Resolve all requested metrics (+ transitive deps). Returns the
        full id -> value cache.

        raise_errors=False (the validator's suite mode) records each
        metric's failure in ``self.failed`` and keeps resolving the rest of
        the suite; accessing a failed metric re-raises its original
        exception."""
        pending: dict[tuple, MetricConfiguration] = {}

        def add(cfg: MetricConfiguration) -> None:
            if cfg.id in self.cache or cfg.id in pending:
                return
            if cfg.id in self.failed and not _is_transient(self.failed[cfg.id]):
                return  # an earlier resolve recorded a failure that would recur
            pending[cfg.id] = cfg
            spec = get_metric_spec(cfg.name)
            if spec.deps_fn:
                for dep in spec.deps_fn(cfg).values():
                    add(dep)

        for r in requests:
            add(r)

        def fail(cfg: MetricConfiguration, e: Exception) -> None:
            if raise_errors:
                raise e
            self.failed[cfg.id] = e
            pending.pop(cfg.id, None)

        def done(cfg: MetricConfiguration, value: Any) -> None:
            self.cache[cfg.id] = value
            pending.pop(cfg.id, None)

        def settle(cfg: MetricConfiguration, value: Any) -> None:
            if isinstance(value, Exception):
                fail(cfg, value)
            else:
                done(cfg, value)

        # iterate: compute everything whose deps are satisfied, bundling aggs
        while pending:
            ready_aggs: list[MetricConfiguration] = []
            ready_other: list[MetricConfiguration] = []
            for cfg in list(pending.values()):
                spec = get_metric_spec(cfg.name)
                deps = spec.deps_fn(cfg) if spec.deps_fn else {}
                bad = next(
                    (d for d in deps.values() if d.id in self.failed), None
                )
                if bad is not None:  # propagate the dep's original failure
                    fail(cfg, self.failed[bad.id])
                    continue
                if all(d.id in self.cache for d in deps.values()):
                    if spec.kind == "agg":
                        ready_aggs.append(cfg)
                    else:
                        ready_other.append(cfg)
            if not pending:
                break
            if not ready_aggs and not ready_other:
                raise RuntimeError(
                    f"metric resolution stalled; unresolved: "
                    f"{[c.name for c in pending.values()]}"
                )

            passes: dict[tuple, tuple[SharedPass, list[MetricConfiguration]]] = {}
            singles: list[MetricConfiguration] = []
            for cfg in ready_other:
                spec = get_metric_spec(cfg.name)
                sp = spec.shared_pass(cfg) if spec.shared_pass else None
                if sp is None:
                    singles.append(cfg)
                else:
                    passes.setdefault((sp.run, sp.key), (sp, []))[1].append(cfg)
            bundles: dict[str, list[MetricConfiguration]] = {}
            for cfg in ready_aggs:
                bundles.setdefault(cfg.domain.compute_id, []).append(cfg)

            # --- side by side: ONE query per row set / uniqueness domain
            # (shared passes), ONE noop-write job per compute domain
            # (aggregate bundles); settled here, in that order ---
            work = [
                (cfgs, partial(_bisect, partial(sp.run, self), cfgs, self.MAX_RETRIES))
                for sp, cfgs in passes.values()
            ]
            work += [
                (cfgs, partial(_bisect, self._run_bundle, cfgs, self.MAX_RETRIES))
                for cfgs in bundles.values()
            ]
            results = self._run_side_by_side([task for _, task in work])
            for (cfgs, _), values in zip(work, results):
                for cfg in cfgs:
                    settle(cfg, values[cfg.id])

            # --- eager / derived metrics, one at a time ---
            for cfg in singles:
                spec = get_metric_spec(cfg.name)
                value: Any
                last_err: Exception | None = None
                for _attempt in range(self.MAX_RETRIES):
                    try:
                        if spec.kind == "eager":
                            value = spec.eager_fn(
                                self, self.domain_df(cfg.domain), cfg, self.cache
                            )
                        else:
                            value = spec.derived_fn(self.cache, cfg)
                        last_err = None
                        break
                    except Exception as e:  # noqa: BLE001 — retry then surface
                        last_err = e
                        if not _is_transient(e):
                            # deterministic failures (bad column name, bad
                            # SQL, driver-side math) would fail identically
                            # on every retry — surface immediately instead
                            # of burning MAX_RETRIES-1 useless cluster jobs
                            break
                if last_err is not None:
                    fail(cfg, last_err)
                    continue
                done(cfg, value)

        return self.cache

    def observe(
        self, frame: DataFrame, cfgs: list[MetricConfiguration]
    ) -> tuple[DataFrame, Callable[[], dict[tuple, Any]]]:
        """Attach the aggregates of ``cfgs`` to ``frame`` as ONE Observation.

        Returns ``(observed, read)``. The caller executes ``observed``
        exactly once, which computes every aggregate while the rows stream
        past; after that action ``read()`` returns ``{metric id: value}``.
        A request whose Column cannot be built, or that Spark refuses to
        observe (each Column is then analysed alone, which runs no job),
        gets its exception as its value; ``observed`` is ``frame`` itself
        when no Column is left. This is the one place where aggregate
        bundles are built and read: the resolver's noop write per compute
        domain, and ``fused.validate_and_extract``'s row action."""
        out: dict[tuple, Any] = {}
        cols: dict[tuple, Column] = {}
        for cfg in cfgs:
            def build(cfg: MetricConfiguration = cfg) -> Column:
                agg = get_metric_spec(cfg.name).agg_fn(cfg.domain, cfg, self)
                return agg.alias(_observed_name(cfg.id))

            try:
                cols[cfg.id] = self.column("agg", cfg.id, build)
            except Exception as e:  # noqa: BLE001 — e.g. type guards
                out[cfg.id] = e

        def attach() -> tuple[Observation, DataFrame]:
            obs = Observation()
            return obs, frame.observe(obs, *cols.values()) if cols else frame

        try:
            obs, observed = attach()
        except AnalysisException:  # refused (e.g. DISTINCT): drop the bad ones
            for mid, col in list(cols.items()):
                try:
                    frame.observe(Observation(), col)
                except AnalysisException as e:
                    out[mid] = e
                    del cols[mid]
            obs, observed = attach()

        def read() -> dict[tuple, Any]:
            if cols:
                got = obs.get
                out.update((mid, got[_observed_name(mid)]) for mid in cols)
            return out

        return observed, read

    def _run_side_by_side(self, tasks: list[Callable[[], _V]]) -> list[_V]:
        """Each task's result, in order. Two or more tasks run at once on
        up to :data:`ROUND_WORKERS` worker threads. Each task is wrapped on
        this thread, so that its jobs carry this thread's Spark local
        properties (job group, tags) in a copy of its own: Spark writes
        per-query properties such as ``spark.sql.execution.id`` into the
        copy of the thread that runs the query. Every worker has ended
        when this returns or raises."""
        if len(tasks) <= 1:
            return [task() for task in tasks]
        session = self.df.sparkSession
        wrapped = [inheritable_thread_target(session)(task) for task in tasks]
        with ThreadPoolExecutor(
            min(ROUND_WORKERS, len(tasks)), thread_name_prefix="sparkcheck-round"
        ) as pool:
            futures = [pool.submit(task) for task in wrapped]
        return [f.result() for f in futures]

    def _run_bundle(self, cfgs: list[MetricConfiguration]) -> dict[tuple, Any]:
        """Resolve the aggregates of one compute domain in ONE Spark job: an
        Observation on a noop write of the domain frame."""
        frame = self.domain_df(cfgs[0].domain)
        observed, read = self.observe(frame, cfgs)
        if observed is not frame:
            observed.write.format("noop").mode("overwrite").save()
        return read()

    def __getitem__(self, cfg: MetricConfiguration) -> Any:
        if cfg.id in self.failed:
            raise self.failed[cfg.id]
        return self.cache[cfg.id]


def _bisect(
    run: Callable[[list[MetricConfiguration]], dict[tuple, Any]],
    cfgs: list[MetricConfiguration],
    attempts: int,
) -> dict[tuple, Any]:
    """``run(cfgs)``, and if it raises, the same for each half of ``cfgs``,
    down to single requests. A single request that raises is run again,
    up to ``attempts`` runs in all, while its error is transient (a lost
    executor, a fetch failure); after that the exception is its value.
    Every request is run before it fails, and one bad request among n
    costs about 2·log2(n) more runs, not n. The re-runs start after the
    handler, so a request's exception is not chained to the one of the
    run that held it."""
    try:
        return run(cfgs)
    except Exception as e:  # noqa: BLE001 — isolate the bad request
        if len(cfgs) == 1 and not (attempts > 1 and _is_transient(e)):
            return {cfgs[0].id: e}
    if len(cfgs) == 1:
        return _bisect(run, cfgs, attempts - 1)
    half = len(cfgs) // 2
    return {**_bisect(run, cfgs[:half], attempts), **_bisect(run, cfgs[half:], attempts)}


def _observed_name(mid: tuple) -> str:
    """The Observation field of a metric id: derived from the id, not from
    its place in a bundle, so one cached aliased Column serves any bundle."""
    return "m_" + _stable_id(mid)


# ---------------------------------------------------------------------------
# Core table / column-aggregate metrics (SURVEY.md §2.3–2.4)
# ---------------------------------------------------------------------------


@agg_metric("table.row_count")
def _row_count(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    # reference: table_metrics/table_row_count.py:58-66 (F.count(F.lit(1)))
    return F.count(F.lit(1))


@agg_metric("column.null_count")
def _null_count(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    # NaN counts as missing on float columns (pandas parity, see domain_col)
    return F.count(F.lit(1)) - F.count(domain_col(domain, ctx))


@agg_metric("column.nonnull_count")
def _nonnull_count(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    return F.count(domain_col(domain, ctx))


@agg_metric("column.mean")
def _mean(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    # reference: column_aggregate_metrics/column_mean.py:31-37
    return F.mean(domain_col(domain, ctx))


@agg_metric("column.standard_deviation")
def _stddev(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    # reference: column_standard_deviation.py:93-96 (sample stddev, n-1)
    return F.stddev_samp(domain_col(domain, ctx))


@agg_metric("column.min")
def _min(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    return F.min(domain_col(domain, ctx))


@agg_metric("column.max")
def _max(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    return F.max(domain_col(domain, ctx))


@agg_metric("column.sum")
def _sum(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    return F.sum(domain_col(domain, ctx))


@agg_metric("column.distinct_values.count")
def _distinct_count(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    """Distinct count. Default is the HLL sketch (north rule: HLL for
    uniqueness at 10^12 scale); exact=True counts the distinct set for
    fixture parity (reference uses exact: column_distinct_values.py:122-132)
    as ``size(collect_set(x))``, because an Observation refuses DISTINCT
    aggregates; it equals ``countDistinct(x)``, -0.0 and 0.0 included.
    """
    if cfg.kw("exact", False):
        return F.size(F.collect_set(domain_col(domain, ctx)))
    return F.approx_count_distinct(domain_col(domain, ctx), rsd=cfg.kw("rsd", 0.01))


@agg_metric("column.quantile_values")
def _quantiles(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    """Quantiles inside the bundled agg.

    Default: ``percentile_approx`` (t-digest-style sketch, mergeable across
    partitions — the 100 TB path). exact=True uses exact ``percentile``
    (interpolated) for oracle/fixture parity at test scale.
    Reference: column_quantile_values.py:157-190 uses df.approxQuantile —
    a *separate driver action*; folding it into the bundle saves a job.
    """
    qs = list(cfg.kw("quantiles", (0.25, 0.5, 0.75)))
    col = domain_col(domain, ctx)
    qlit = F.array(*[F.lit(float(q)) for q in qs])
    if cfg.kw("exact", False):
        return F.percentile(col, qlit)
    accuracy = int(cfg.kw("accuracy", 10000))
    return F.percentile_approx(col, qlit, F.lit(accuracy))


@agg_metric("column.median")
def _median(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    # reference: column_median.py:91-121 (approxQuantile epsilon trick);
    # ours: exact interpolated median in the fused agg.
    return F.percentile(domain_col(domain, ctx), F.lit(0.5))


@agg_metric("column_values.length.min")
def _len_min(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    # reference: column_values_length_min.py:31-32
    return F.min(F.length(F.col(domain.column)))


@agg_metric("column_values.length.max")
def _len_max(domain: Domain, cfg: MetricConfiguration, ctx=None) -> Column:
    return F.max(F.length(F.col(domain.column)))


@derived_metric(
    "column.unique_proportion",
    deps_fn=lambda cfg: {
        "distinct": MetricConfiguration(
            "column.distinct_values.count", cfg.domain, cfg.value_kwargs
        ),
        "nonnull": MetricConfiguration("column.nonnull_count", cfg.domain),
    },
)
def _unique_proportion(resolved: dict, cfg: MetricConfiguration):
    # reference: column_proportion_of_unique_values.py:36-60
    distinct = resolved[
        MetricConfiguration(
            "column.distinct_values.count", cfg.domain, cfg.value_kwargs
        ).id
    ]
    nonnull = resolved[MetricConfiguration("column.nonnull_count", cfg.domain).id]
    return (distinct / nonnull) if nonnull else 0.0


# collect() ceiling for full value histograms: a typo'd high-cardinality
# column must error, not OOM the driver (the docstring-only warning was not
# enforceable). Raise via value_kwargs max_groups when genuinely needed.
VALUE_COUNTS_MAX_GROUPS = 100_000


@eager_metric("column.value_counts")
def _value_counts(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    """Value counts, collected. reference: column_value_counts.py:135-166.

    collect() of a full value histogram is only safe for low-cardinality
    columns (categorical KL, distinct-set checks); the ``max_groups`` cap is
    ENFORCED — fetching max_groups+1 rows costs nothing extra and turns a
    driver OOM into a clean error."""
    col = cfg.domain.column
    sort = cfg.kw("sort", "value")
    max_groups = int(cfg.kw("max_groups", VALUE_COUNTS_MAX_GROUPS))
    nn = F.col(col).isNotNull()
    if col in resolver.float_cols_of(cfg.domain):
        nn = nn & ~F.isnan(F.col(col))
    out = ddf.where(nn).groupBy(col).count()
    if sort == "count":
        out = out.orderBy(F.desc("count"), F.col(col))
    else:
        out = out.orderBy(F.col(col))
    rows = out.limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        raise ValueError(
            f"column.value_counts on {col!r} exceeds max_groups={max_groups} "
            "distinct values; this metric collects the full histogram to the "
            "driver and is only meant for low-cardinality columns — raise "
            "max_groups explicitly if this is intentional"
        )
    return [(r[col], r["count"]) for r in rows]


@derived_metric(
    "column.most_common_value",
    deps_fn=lambda cfg: {
        "vc": MetricConfiguration(
            "column.value_counts", cfg.domain, freeze_kwargs(sort="count")
        )
    },
)
def _most_common(resolved: dict, cfg: MetricConfiguration):
    # reference: column_most_common_value.py:27-39 — all values tied for max
    vc = resolved[
        MetricConfiguration(
            "column.value_counts", cfg.domain, freeze_kwargs(sort="count")
        ).id
    ]
    if not vc:
        return []
    top = vc[0][1]
    return sorted(v for v, c in vc if c == top)


@eager_metric("table.columns")
def _table_columns(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    return list(ddf.columns)


@eager_metric("table.column_types")
def _table_column_types(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    # reference: table_metrics/table_column_types.py:74
    return [
        {"name": f.name, "type": f.dataType.simpleString()} for f in ddf.schema.fields
    ]


@eager_metric("table.head")
def _table_head(resolver, ddf: DataFrame, cfg: MetricConfiguration, resolved):
    # reference: table_metrics/table_head.py:203-226 (limit(n) fetch)
    n = int(cfg.kw("n_rows", 5))
    return [r.asDict() for r in ddf.limit(n).collect()]
