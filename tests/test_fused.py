"""Single-scan fused validation (sparkcheck.fused) — the suite's
aggregate metrics ride a CollectMetrics node on the violation-row query.
The contract under test: EVRs bit-identical to the two-pass report, the
observe node is a predicate-pushdown barrier (downstream filters never
change observed metrics), the same report when no aggregate rides the
row action, and the CheckpointRunner's single-scan leg writes, per bucket,
the same results/violations/lineage as the two-pass reference
(validate_df + span_violations/suite_violations)."""

from __future__ import annotations

import gc
import json
import re
import threading

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df
from sparkcheck.fused import validate_and_extract
from sparkcheck.metrics import (
    COLUMN_CACHE,
    ROUND_WORKERS,
    MetricResolver,
    get_metric_spec,
)
from sparkcheck.runner import CheckpointRunner, ParquetStore
from sparkcheck.spans import span_violations
from sparkcheck.synth import generate_docs
from sparkcheck.validator import Validator

N_DOCS = 3000


@pytest.fixture(scope="module")
def docs(spark):
    return generate_docs(spark, N_DOCS).cache()


def _suite():
    s = ExpectationSuite("fused")
    s.add("expect_column_values_to_not_be_null", column="doc_id", mostly=0.99)
    s.add("expect_column_values_to_be_unique", column="doc_id", mostly=0.98)
    s.add(
        "expect_column_values_to_match_regex",
        column="doc_id",
        regex="^(hot[0-2]|p[0-9]{2})-[0-9]{12}$",
        mostly=0.98,
    )
    s.add("expect_table_row_count_to_be_between", min_value=1)
    return s


def _norm(report):
    return json.dumps(report, sort_keys=True, default=str)


def test_fused_report_identical_to_two_pass(spark, docs):
    for rf in ("BOOLEAN_ONLY", "BASIC"):
        ref = validate_df(docs, _suite(), result_format=rf)
        rep, rows, _ = validate_and_extract(
            docs, _suite(), span_violations, result_format=rf
        )
        assert _norm(rep) == _norm(ref)
        assert rows.count() == span_violations(docs).count()


def test_fused_report_identical_when_failing(spark, docs):
    s = ExpectationSuite("strict")
    # no mostly: seeded defects make these legitimately fail
    s.add("expect_column_values_to_not_be_null", column="doc_id")
    s.add("expect_column_values_to_match_regex", column="doc_id",
          regex="^hot0-")
    ref = validate_df(docs, s, result_format="BASIC")
    rep, _, _ = validate_and_extract(docs, s, span_violations,
                                     result_format="BASIC")
    assert ref["success"] is False
    assert _norm(rep) == _norm(ref)


def test_observe_is_pushdown_barrier(spark, docs):
    """A rows_builder that filters to (almost) nothing must not change the
    observed whole-table metrics — Catalyst never pushes predicates below
    CollectMetrics."""
    ref = validate_df(docs, _suite(), result_format="BASIC")
    rep, rows, _ = validate_and_extract(
        docs,
        _suite(),
        lambda d: d.where(F.col("doc_id") == "no-such-id").select("doc_id"),
        result_format="BASIC",
    )
    assert rows.count() == 0
    assert _norm(rep) == _norm(ref)


def test_collect_metrics_in_plan(spark, docs):
    _, rows, _ = validate_and_extract(docs, _suite(), span_violations)
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan


def _on_table(df, suite):
    """The requests of ``suite`` that ride validate_and_extract's row
    action: the table-domain aggregates of the validator's plan."""
    _, stage1, _ = Validator(df)._plan(suite)
    return [m for m in stage1
            if m.domain.is_table and get_metric_spec(m.name).kind == "agg"]


def test_observable_partition(spark, docs):
    """not_null/regex/row_count aggregates ride the row action; uniqueness
    (groupBy) and row_condition domains do not."""
    names = {m.name for m in _on_table(docs, _suite())}
    assert "map.unexpected_count" in names
    assert "table.row_count" in names

    s = ExpectationSuite("cond")
    s.add("expect_column_values_to_not_be_null", column="doc_id",
          row_condition='doc_id LIKE "hot%"', condition_parser="spark")
    assert not _on_table(docs, s)  # a filtered domain stays off the row action


def test_fallback_when_nothing_observable(spark, docs):
    s = ExpectationSuite("uo")
    s.add("expect_column_values_to_be_unique", column="doc_id", mostly=0.98)
    ref = validate_df(docs, s, result_format="BASIC")
    rep, rows, _ = validate_and_extract(docs, s, span_violations,
                                        result_format="BASIC")
    assert _norm(rep) == _norm(ref)
    assert rows.count() == span_violations(docs).count()


def test_action_result_passthrough(spark, docs, tmp_path):
    out = str(tmp_path / "violations_out")

    def act(rows):
        rows.write.mode("overwrite").parquet(out)
        return out

    rep, _, res = validate_and_extract(docs, _suite(), span_violations,
                                       action=act)
    assert res == out
    assert spark.read.parquet(out).count() == span_violations(docs).count()
    assert rep["statistics"]["evaluated_expectations"] == 4


def _buckets(docs, n_buckets):
    """(partition_id, bucket frame) exactly as CheckpointRunner cuts them."""
    bucketed = docs.withColumn(
        "__bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))
    )
    for b in range(n_buckets):
        yield f"bucket={b}", bucketed.filter(F.col("__bucket") == b).drop("__bucket")


def _reference_results(docs, suite, n_buckets):
    """Two-pass reference results rows: validate_df on every bucket."""
    out = []
    for pid, part in _buckets(docs, n_buckets):
        for r in validate_df(part, suite)["results"]:
            cfg, res = r["expectation_config"], r.get("result", {})
            out.append((pid, cfg["expectation_type"], cfg["kwargs"].get("column"),
                        r["success"], res.get("element_count"),
                        res.get("unexpected_count")))
    return sorted(out)


def _vkey(r):
    return (r["partition_id"], r["doc_id"] or "", str(r["span_index"]),
            r["expectation"])


def test_runner_matches_two_pass(spark, docs, tmp_path):
    from sparkcheck.summarize import suite_violations

    store = ParquetStore(str(tmp_path / "runner"))
    CheckpointRunner(
        spark, store, n_buckets=3, violations_fn=span_violations,
        suite_violation_rows=True,
    ).run(docs, _suite(), run_id="rf")

    fr = store.read(spark, "results").drop("ts", "run_id")
    key = ["partition_id", "expectation", "column"]
    assert sorted(map(tuple, fr.select(*key, "success", "element_count",
                                       "unexpected_count").collect())) == \
           _reference_results(docs, _suite(), 3)

    ref_viol = []
    for pid, part in _buckets(docs, 3):
        ref_viol += span_violations(part, "rf", pid).collect()
        ref_viol += suite_violations(part, _suite(), "doc_id", "rf", pid).collect()
    fv = store.read(spark, "violations")
    assert sorted(map(_vkey, fv.collect())) == sorted(map(_vkey, ref_viol))

    # lineage doc counts agree with corpus size
    total = (store.read(spark, "lineage").where("metric = 'doc_count'")
             .agg(F.sum("value").alias("s")).collect()[0]["s"])
    assert int(total) == N_DOCS


def test_runner_resume(spark, docs, tmp_path):
    store = ParquetStore(str(tmp_path / "fres"))
    runner = CheckpointRunner(spark, store, n_buckets=4,
                              violations_fn=span_violations)
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(docs, _suite(), run_id="r1", fail_after=2)
    assert len(store.committed_partitions("r1")) == 2
    report = runner.run(docs, _suite(), run_id="r1")
    assert len(report.partitions_skipped) == 2
    assert len(report.partitions_run) == 2
    results = store.read(spark, "results")
    dupes = (results.groupBy("partition_id", "expectation")
             .count().where("count > 1"))
    assert dupes.count() == 0
    assert results.select("partition_id").distinct().count() == 4
    # the resumed store holds exactly the two-pass reference rows
    assert sorted(map(tuple, results.select(
        "partition_id", "expectation", "column", "success", "element_count",
        "unexpected_count").collect())) == _reference_results(docs, _suite(), 4)


def test_runner_profile_states(spark, docs, tmp_path):
    # the single-scan leg also persists per-partition states;
    # corpus_profile == full rescan through the runner API
    store = ParquetStore(str(tmp_path / "fstates"))
    nd = docs.withColumn("n_spans", F.size("spans"))
    runner = CheckpointRunner(
        spark, store, n_buckets=4, violations_fn=span_violations,
        profile_columns=["n_spans"],
    )
    runner.run(nd, _suite(), run_id="r1")
    merged = runner.corpus_profile("r1").collect()[0]
    direct = nd.agg(F.count("n_spans").alias("n"), F.avg("n_spans").alias("m"),
                    F.stddev_samp("n_spans").alias("s")).collect()[0]
    assert merged["n"] == direct["n"] == N_DOCS
    assert merged["mean"] == pytest.approx(direct["m"], abs=1e-6)
    assert merged["stddev_samp"] == pytest.approx(direct["s"], abs=1e-6)
    assert store.read(spark, "column_states").count() == 4


def _ingest_suite():
    """A micro-batch ingest suite: uniqueness, a row_condition map check,
    categorical KL, mean/stdev/quantiles and the row count."""
    s = _suite()
    s.add("expect_column_values_to_be_between", column="n_spans",
          min_value=1, max_value=16, mostly=0.9,
          row_condition='doc_id LIKE "hot%"', condition_parser="spark")
    s.add("expect_column_kl_divergence_to_be_less_than", column="n_spans",
          partition_object={"values": list(range(17)), "weights": [1 / 17] * 17},
          threshold=0.05)
    s.add("expect_column_mean_to_be_between", column="n_spans",
          min_value=0, max_value=20)
    s.add("expect_column_stdev_to_be_between", column="n_spans",
          min_value=0, max_value=20)
    s.add("expect_column_quantile_values_to_be_between", column="n_spans",
          quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                           "value_ranges": [[0, 20], [0, 20], [0, 20]]})
    return s


@pytest.fixture(scope="module")
def unit(spark, docs):
    """A two-partition commit unit with an n_spans column."""
    return (docs.repartition(2).withColumn("n_spans", F.size("spans"))
            .localCheckpoint())


def _last_job_id(spark):
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_unit_job_count(spark, unit):
    """A commit unit validates and lands its violation rows in at most
    six Spark jobs: the append (carrying the observe node), the sample
    pass (2), the uniqueness pass (2) and the row_condition domain's
    aggregate bundle (1, an observed noop write)."""
    suite = _ingest_suite()
    before = _last_job_id(spark)
    rep, _, _ = validate_and_extract(unit, suite, span_violations,
                                     result_format="BASIC")
    jobs = _last_job_id(spark) - before
    assert all(not r["exception_info"]["raised_exception"] for r in rep["results"])
    assert jobs <= 6, jobs


_BAD_CONDITION = "CAST(doc_id AS INT) > 0"  # raises at run time under ANSI


def _with_bad_check():
    """The ingest suite with a third check whose row_condition raises."""
    suite = _ingest_suite()
    suite.expectations.insert(2, ExpectationConfiguration.from_dict(
        {"expectation_type": "expect_column_values_to_match_regex",
         "kwargs": {"column": "doc_id", "regex": "^hot", "mostly": 0.5,
                    "row_condition": _BAD_CONDITION, "condition_parser": "spark"}}))
    return suite


def test_runtime_row_condition_error_is_isolated(spark, unit):
    """A row_condition that raises at run time (ANSI cast) fails only its
    own EVR: every other EVR equals validate_df of the suite without it, and
    the violation rows still land."""
    before = _last_job_id(spark)
    rep, rows, _ = validate_and_extract(unit, _with_bad_check(), span_violations,
                                        result_format="BASIC")
    jobs = _last_job_id(spark) - before
    evr = rep["results"][2]
    assert evr["exception_info"]["raised_exception"]
    assert evr["success"] is False
    ref = validate_df(unit, _ingest_suite(), result_format="BASIC")["results"]
    assert _norm(rep["results"][:2] + rep["results"][3:]) == _norm(ref)
    assert sorted(map(_vkey, rows.collect())) == sorted(
        map(_vkey, span_violations(unit).collect()))
    # every failure is paid once: the four jobs of the suite without it
    # that do not sample (the append, the uniqueness pass (2) and the good
    # row_condition bundle); the sample pass of four requests bisected
    # (the failed pass, its failed half, its good half (2), then the two
    # requests of the failed half alone: the good one (2), the bad one);
    # the failed bundle of three aggregates bisected (the bundle, its one-
    # and two-aggregate halves, then the two of the second half alone), each
    # failed run one job — and validate() re-runs none of what the prefetch
    # thread saw fail
    assert jobs <= 16, jobs


def _shuffles_above_observe(plan: str) -> list[str]:
    """The nodes that shuffle (an Exchange, a query stage or a shuffle
    read) between a CollectMetrics node and the root of a plan tree
    string. Spark merges a task's accumulator update once from a result
    task, but again each time a map task re-runs after a fetch failure,
    so an Observation below a shuffle could count rows twice."""
    path: list[tuple[int, str]] = []
    bad: list[str] = []
    for line in plan.splitlines():
        m = re.match(r"([\s:|+-]*)(.*)", line)
        depth, node = len(m.group(1)), m.group(2)
        while path and path[-1][0] >= depth:
            path.pop()
        if node.startswith("CollectMetrics"):
            bad += [n for _, n in path
                    if re.match(r"(\w*Exchange|\w*QueryStage|AQEShuffleRead)", n)]
        path.append((depth, node))
    return bad


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_shuffle_above_observe(spark, unit, monkeypatch):
    """Exactly-once plan guard: in the executed plans of the resolver's
    bundle (unfiltered, row_condition and span domains) and of
    validate_and_extract's rows over span_violations, no shuffle sits
    between a CollectMetrics node and the root."""
    from sparkcheck.metrics import Domain, MetricConfiguration

    observed = []
    original = MetricResolver.observe

    def recording(self, frame, cfgs):
        out, read = original(self, frame, cfgs)
        observed.append(out)
        return out, read

    monkeypatch.setattr(MetricResolver, "observe", recording)
    resolver = MetricResolver(unit)
    domains = [Domain(column="n_spans"),
               Domain(column="n_spans", row_condition='doc_id LIKE "hot%"'),
               Domain(column="__span.offset", explode_col="spans")]
    resolver.resolve([MetricConfiguration(m, d) for d in domains
                      for m in ("table.row_count", "column.max")])
    _, rows, _ = validate_and_extract(unit, _ingest_suite(), span_violations,
                                      result_format="BASIC")
    plans = [_executed_plan(f) for f in observed[:3] + [rows]]
    assert len(observed) >= 4
    for plan in plans:
        assert "CollectMetrics" in plan
        assert _shuffles_above_observe(plan) == [], plan
    # the guard sees an Observation below a shuffle
    below = unit.observe("o", F.count(F.lit(1)).alias("n")).groupBy("n_spans").count()
    assert _shuffles_above_observe(_executed_plan(below))


def _jobs_in_group(spark, run):
    """(jobs ``run()`` started, those of them in the caller's job group)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    before = _last_job_id(spark)
    sc.setJobGroup("caller", "caller's jobs")
    try:
        run()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    grouped = set(st.getJobIdsForGroup("caller"))
    started = set(range(before + 1, max([_last_job_id(spark), *grouped]) + 1))
    return started, started & grouped


def test_worker_thread_jobs_carry_callers_group(spark, unit, tmp_path):
    """Every Spark job of validate_and_extract (its prefetch thread runs
    most of them), of validate_df (the resolver round's workers start from
    the caller's own thread) and of a concurrent runner run (a thread
    pool) carries the caller's job group, so cancelJobGroup reaches all of
    them."""
    started, grouped = _jobs_in_group(spark, lambda: validate_and_extract(
        unit, _ingest_suite(), span_violations, result_format="BASIC"))
    assert len(started) >= 5 and grouped == started, (len(started), len(grouped))

    started, grouped = _jobs_in_group(
        spark, lambda: validate_df(unit, _ingest_suite(), result_format="BASIC"))
    assert len(started) >= 5 and grouped == started, (len(started), len(grouped))

    runner = CheckpointRunner(spark, ParquetStore(str(tmp_path / "g")), n_buckets=2,
                              violations_fn=span_violations, max_concurrency=2)
    started, grouped = _jobs_in_group(
        spark, lambda: runner.run(unit, _ingest_suite(), run_id="g"))
    assert started and grouped == started, (len(started), len(grouped))


@pytest.mark.parametrize("n_values", [5, 18])
def test_categorical_kl_paths_agree(spark, unit, monkeypatch, n_values):
    """Categorical KL reads the same counts from conditional aggregates
    (partitions up to CATEGORICAL_AGG_MAX_VALUES) and from value_counts
    (larger partitions)."""
    from sparkcheck import distribution

    s = ExpectationSuite("kl")
    s.add("expect_column_kl_divergence_to_be_less_than", column="n_spans",
          partition_object={"values": list(range(n_values)),
                            "weights": [1 / n_values] * n_values},
          threshold=0.5)
    default = validate_df(unit, s, result_format="BASIC")
    other_path = 10**6 if n_values > distribution.CATEGORICAL_AGG_MAX_VALUES else 0
    monkeypatch.setattr(distribution, "CATEGORICAL_AGG_MAX_VALUES", other_path)
    # the aggregate Column is built once per metric id and schema: rebuild
    # it under the patched bound, and let no later test reuse that one
    COLUMN_CACHE.clear()
    try:
        assert _norm(validate_df(unit, s, result_format="BASIC")) == _norm(default)
    finally:
        COLUMN_CACHE.clear()


def test_unit_py4j_budget(spark, unit, monkeypatch):
    """Once a suite's Columns are built, a commit unit makes at most 1,000
    py4j round trips on all threads (the prefetch thread and py4j's
    object-release thread included). Rebuilding every Column for every
    unit costs about 3,400 on this unit."""
    from py4j.clientserver import ClientServerConnection

    suite = _ingest_suite()
    validate_and_extract(unit, suite, span_violations, result_format="BASIC")
    # release now the proxies that earlier work left in reference cycles
    # (a stored exception's traceback holds its frames): a cyclic collection
    # that falls inside the count adds their release commands, 770 after
    # the tests that run before this one in the full suite
    gc.collect()
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls.append(1)  # list.append is atomic across threads
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    rep, _, _ = validate_and_extract(unit, suite, span_violations,
                                     result_format="BASIC")
    monkeypatch.undo()
    assert all(not r["exception_info"]["raised_exception"] for r in rep["results"])
    assert len(calls) <= 1000, len(calls)


def test_prefetch_thread_joined_when_a_step_raises(spark, unit):
    """A raising action or rows_builder leaves no prefetch thread (and so
    no job of the failed unit) running behind the caller."""
    def prefetching():
        return [t for t in threading.enumerate() if "_prefetch" in t.name]

    def fail(_):
        raise RuntimeError("injected failure")

    for step in ({"rows_builder": fail},
                 {"rows_builder": span_violations, "action": fail}):
        with pytest.raises(RuntimeError, match="injected failure"):
            validate_and_extract(unit, _ingest_suite(), result_format="BASIC", **step)
        assert prefetching() == []


def _meet(monkeypatch, n):
    """Make the first ``n`` calls of the sample pass, the uniqueness pass
    and the aggregate bundle wait for each other at one barrier before
    they run; later calls (the re-runs of a failed query) do not wait.
    Returns the barrier and the names of the calls in order. A resolver
    that runs a round's queries one after another breaks the barrier."""
    from sparkcheck import summarize

    barrier = threading.Barrier(n, timeout=30)
    lock = threading.Lock()
    calls = []

    def meet(fn):
        def met(*args):
            with lock:
                calls.append(fn.__name__)
                first = len(calls) <= n
            if first:
                barrier.wait()
            return fn(*args)
        return met

    monkeypatch.setattr(summarize, "_sample_pass", meet(summarize._sample_pass))
    monkeypatch.setattr(summarize, "_uniqueness_pass",
                        meet(summarize._uniqueness_pass))
    monkeypatch.setattr(MetricResolver, "_run_bundle",
                        meet(MetricResolver._run_bundle))
    return barrier, calls


def _with_deps(cfgs):
    """``{metric id: request}`` of ``cfgs`` and everything they depend on."""
    out = {}

    def add(cfg):
        if cfg.id not in out:
            out[cfg.id] = cfg
            spec = get_metric_spec(cfg.name)
            for dep in (spec.deps_fn(cfg).values() if spec.deps_fn else ()):
                add(dep)

    for cfg in cfgs:
        add(cfg)
    return out


def test_round_queries_run_side_by_side(spark, unit, monkeypatch):
    """The queries of one resolver round run at once. The prefetch round
    of validate_and_extract on the ingest suite (one sample pass, one
    uniqueness pass, one row_condition bundle) meets at a barrier of
    three. In a round with a raising row_condition bundle only that
    bundle's requests fail; with raise_errors its exception propagates,
    after every worker has ended."""
    reference = validate_df(unit, _ingest_suite(), result_format="BASIC")
    barrier, calls = _meet(monkeypatch, 3)
    rep, _, _ = validate_and_extract(unit, _ingest_suite(), span_violations,
                                     result_format="BASIC")
    assert not barrier.broken
    assert sorted(calls) == ["_run_bundle", "_sample_pass", "_uniqueness_pass"]
    assert _norm(rep) == _norm(reference)
    monkeypatch.undo()

    _, stage1, _ = Validator(unit)._plan(_with_bad_check(), "BASIC", None)
    requests = _with_deps(stage1)
    on_bad = {mid for mid, c in requests.items()
              if c.domain.row_condition == _BAD_CONDITION}
    # the round: the table, good and bad row_condition bundles and the two
    # passes, the first ROUND_WORKERS of them at once
    barrier, _ = _meet(monkeypatch, ROUND_WORKERS)
    resolver = MetricResolver(unit)
    resolver.resolve(stage1, raise_errors=False)
    assert not barrier.broken
    assert set(resolver.failed) == on_bad
    assert set(resolver.cache) == set(requests) - on_bad
    errors = {type(e) for e in resolver.failed.values()}
    assert len(errors) == 1 and "CAST_INVALID_INPUT" in str(
        next(iter(resolver.failed.values())))
    monkeypatch.undo()

    with pytest.raises(tuple(errors), match="CAST_INVALID_INPUT"):
        MetricResolver(unit).resolve(stage1)
    assert not [t for t in threading.enumerate() if t.name.startswith("sparkcheck-round")]


def test_round_worker_bound(spark, unit, monkeypatch):
    """A round with more row_condition bundles than ROUND_WORKERS runs at
    most ROUND_WORKERS of them at once, on at most that many threads, and
    gives the report of a resolver that runs them one after another."""
    import time

    from sparkcheck import metrics

    s = ExpectationSuite("bound")
    for k in range(ROUND_WORKERS + 2):
        s.add("expect_column_max_to_be_between", column="n_spans",
              min_value=0, max_value=100,
              row_condition=f"n_spans > {k}", condition_parser="spark")
    lock = threading.Lock()
    running, peak, threads = [0], [0], set()
    original = MetricResolver._run_bundle

    def counted(self, cfgs):
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
            threads.add(threading.current_thread().name)
        try:
            time.sleep(0.2)  # hold the worker so that the others queue
            return original(self, cfgs)
        finally:
            with lock:
                running[0] -= 1

    monkeypatch.setattr(MetricResolver, "_run_bundle", counted)
    rep = validate_df(unit, s, result_format="BASIC")
    assert 2 <= peak[0] <= ROUND_WORKERS, peak[0]
    assert len(threads) <= ROUND_WORKERS, threads
    monkeypatch.setattr(metrics, "ROUND_WORKERS", 1)
    assert _norm(validate_df(unit, s, result_format="BASIC")) == _norm(rep)
    assert all(not r["exception_info"]["raised_exception"] for r in rep["results"])


def test_bisect_runs_every_request_before_failing_it():
    """A failed pass or bundle is bisected down to single requests, and
    every request is run before it fails: a pass that raises once (a lost
    executor) resolves every request, one bad request among eight fails
    alone in 1 + 2·3 runs, and a single request is retried while its error
    is transient, up to MAX_RETRIES runs."""
    from types import SimpleNamespace

    from sparkcheck.metrics import _bisect

    cfgs = [SimpleNamespace(id=k) for k in range(8)]
    attempts = MetricResolver.MAX_RETRIES

    def fake(fail):
        """A run that raises ``fail(ids, call number)`` or resolves ids."""
        calls = []

        def run(batch):
            ids = [c.id for c in batch]
            calls.append(ids)
            err = fail(ids, len(calls))
            if err is not None:
                raise err
            return {i: f"v{i}" for i in ids}
        return run, calls

    run, calls = fake(lambda ids, n: RuntimeError("lost executor") if n == 1 else None)
    assert _bisect(run, cfgs, attempts) == {k: f"v{k}" for k in range(8)}
    assert calls == [list(range(8)), [0, 1, 2, 3], [4, 5, 6, 7]]

    run, calls = fake(lambda ids, n: ValueError(f"bad {n}") if 6 in ids else None)
    values = _bisect(run, cfgs, attempts)
    assert {k: v for k, v in values.items() if k != 6} == {
        k: f"v{k}" for k in range(8) if k != 6}
    assert [6] in calls and len(calls) == 7, calls
    # the error of the run of [6] alone, not chained to the failed halves'
    assert str(values[6]) == f"bad {calls.index([6]) + 1}"
    assert values[6].__context__ is None

    run, calls = fake(lambda ids, n: RuntimeError("fetch failed") if n < attempts else None)
    assert _bisect(run, cfgs[:1], attempts) == {0: "v0"}
    assert len(calls) == attempts
    lost = RuntimeError("lost executor")
    run, calls = fake(lambda ids, n: lost)
    assert _bisect(run, cfgs[:1], attempts) == {0: lost}
    assert len(calls) == attempts
    bad = ValueError("bad request")
    run, calls = fake(lambda ids, n: bad)
    assert _bisect(run, cfgs[:1], attempts) == {0: bad}
    assert len(calls) == 1


def test_transient_pass_failure_is_retried(spark, unit, monkeypatch):
    """A one-request sample pass that fails once with a transient error
    (a lost executor) is run again in the same resolve: validate_df, which
    resolves its samples once, reports what it reports without the
    failure."""
    from sparkcheck import summarize

    s = ExpectationSuite("transient")
    s.add("expect_column_values_to_match_regex", column="doc_id",
          regex="^(hot[0-2]|p[0-9]{2})-[0-9]{12}$", mostly=0.98)
    reference = validate_df(unit, s, result_format="BASIC")
    original, calls = summarize._sample_pass, []

    def flaky(resolver, cfgs):
        calls.append(len(cfgs))
        if len(calls) == 1:
            raise RuntimeError("lost executor")
        return original(resolver, cfgs)

    monkeypatch.setattr(summarize, "_sample_pass", flaky)
    rep = validate_df(unit, s, result_format="BASIC")
    assert calls == [1, 1], calls
    assert _norm(rep) == _norm(reference)
    assert not rep["results"][0]["exception_info"]["raised_exception"]


def test_domain_df_one_frame_per_compute_domain(spark, unit):
    """Threads asking for the same compute domains at once all get one
    frame per domain."""
    import sys

    from sparkcheck.metrics import Domain

    resolver = MetricResolver(unit)
    domains = [Domain(row_condition=f"n_spans > {k}") for k in range(3)]
    seen = []
    start = threading.Barrier(8, timeout=30)

    def ask():
        start.wait()
        seen.append([id(resolver.domain_df(d)) for d in domains])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [threading.Thread(target=ask) for _ in range(8)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in workers)
    assert len(seen) == 8 and all(ids == seen[0] for ids in seen), seen
