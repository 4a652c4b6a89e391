"""NaN≡NULL semantics for float columns + the new safety guards.

NaN parity target: GX's Pandas engine (the fixture authority), where NaN
*is* null — so NaN is missing, never unexpected, and aggregates skip it
(reference Spark engine's ``filter_nan`` analog,
sparkdf_execution_engine.py:665-700, applied uniformly here).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df
from sparkcheck.metrics import MetricConfiguration, MetricResolver, Domain, freeze_kwargs
from sparkcheck.summarize import suite_violations


@pytest.fixture(scope="module")
def nan_df(spark):
    # x: 1.0, 2.0, NaN, NaN, None, 100.0  (float column with NaN + NULL)
    rows = [(1.0,), (2.0,), (float("nan"),), (float("nan"),), (None,), (100.0,)]
    return spark.createDataFrame(rows, "x double")


def _one(resolver, name, **vk):
    cfg = MetricConfiguration(name, Domain(column="x"), freeze_kwargs(**vk) if vk else ())
    resolver.resolve([cfg])
    return resolver[cfg]


def test_aggregates_skip_nan(nan_df):
    r = MetricResolver(nan_df)
    assert _one(r, "column.mean") == pytest.approx((1.0 + 2.0 + 100.0) / 3)
    assert _one(r, "column.sum") == pytest.approx(103.0)
    assert _one(r, "column.min") == 1.0
    assert _one(r, "column.max") == 100.0  # Spark-native max would be NaN
    assert _one(r, "column.nonnull_count") == 3
    assert _one(r, "column.null_count") == 3  # 1 NULL + 2 NaN
    assert _one(r, "column.distinct_values.count", exact=True) == 3
    assert _one(r, "column.median") == 2.0


def test_span_struct_field_nan_is_null(spark):
    """NaN≡NULL holds for a double field of an exploded span struct
    (``__span.x``) exactly as for a top-level double column: aggregates
    skip NaN, and a map check counts it missing, not unexpected."""
    df = spark.createDataFrame(
        [(v, [(v,)]) for v in (1.0, float("nan"), 3.0)],
        "x double, spans array<struct<x:double>>",
    )
    r = MetricResolver(df)
    for dom in (Domain(column="x"), Domain(column="__span.x", explode_col="spans")):
        mean = MetricConfiguration("column.mean", dom)
        nonnull = MetricConfiguration("column.nonnull_count", dom)
        r.resolve([mean, nonnull])
        assert (r[mean], r[nonnull]) == (2.0, 2), dom
    report = validate_df(df, ExpectationSuite("nan", [ExpectationConfiguration(
        "expect_span_values_to_be_between",
        {"span_field": "x", "min_value": 0, "max_value": 2},
    )]), result_format="BASIC")
    res = report["results"][0]["result"]
    assert (res["unexpected_count"], res["missing_count"]) == (1, 1), res


def test_between_counts_nan_as_missing_not_unexpected(nan_df):
    report = validate_df(
        nan_df,
        ExpectationSuite("nan", [ExpectationConfiguration(
            "expect_column_values_to_be_between",
            {"column": "x", "min_value": 0, "max_value": 50},
        )]),
        result_format="SUMMARY",
    )
    res = report["results"][0]["result"]
    # only 100.0 is out of range; the two NaNs are missing, not unexpected
    assert res["unexpected_count"] == 1
    assert res["missing_count"] == 3
    assert res["element_count"] == 6


def test_not_be_null_counts_nan_as_null(nan_df):
    report = validate_df(
        nan_df,
        ExpectationSuite("nan", [ExpectationConfiguration(
            "expect_column_values_to_not_be_null", {"column": "x"}
        )]),
        result_format="BASIC",
    )
    assert report["results"][0]["result"]["unexpected_count"] == 3


def test_zscore_with_nan_succeeds_and_skips_nan(nan_df):
    # mean/stddev over {1, 2, 100}; NaN rows are neither outliers nor errors
    report = validate_df(
        nan_df,
        ExpectationSuite("nan", [ExpectationConfiguration(
            "expect_column_value_z_scores_to_be_less_than",
            {"column": "x", "threshold": 10.0},
        )]),
        result_format="BASIC",
    )
    r = report["results"][0]
    assert not r["exception_info"]["raised_exception"]
    assert r["success"]
    mean = (1 + 2 + 100) / 3
    assert not math.isnan(mean)


def test_suite_violations_with_zscore_does_not_crash(spark):
    # ADVICE: suite_violations built the z-score condition from raw kwargs
    # (mean/stddev unresolved) -> KeyError('mean') crashed the runner path
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 1000.0)], "doc_id string, x double"
    )
    suite = ExpectationSuite("s", [
        ExpectationConfiguration(
            "expect_column_value_z_scores_to_be_less_than",
            {"column": "x", "threshold": 1.2},
        ),
        ExpectationConfiguration(
            "expect_column_values_to_not_be_null", {"column": "x"}
        ),
    ])
    v = suite_violations(df, suite, doc_id_col="doc_id", run_id="r", partition_id="p")
    rows = v.collect()
    zrows = [r for r in rows if "z_scores" in r["expectation"]]
    assert len(zrows) == 1 and zrows[0]["doc_id"] == "d"


def test_value_counts_max_groups_guard(spark):
    df = spark.range(500).select(F.col("id").cast("string").alias("v"))
    r = MetricResolver(df)
    cfg = MetricConfiguration(
        "column.value_counts", Domain(column="v"), freeze_kwargs(max_groups=100)
    )
    with pytest.raises(ValueError, match="max_groups"):
        r.resolve([cfg])
    # raising the cap works
    cfg2 = MetricConfiguration(
        "column.value_counts", Domain(column="v"), freeze_kwargs(max_groups=1000)
    )
    r2 = MetricResolver(df)
    r2.resolve([cfg2])
    assert len(r2[cfg2]) == 500


def test_increasing_guard_refuses_huge_global_window(spark, monkeypatch):
    import sparkcheck.summarize as sz

    monkeypatch.setattr(sz, "GLOBAL_WINDOW_MAX_ROWS", 10)
    df = spark.range(100).select(F.col("id").cast("long").alias("v"))
    r = MetricResolver(df)
    cfg = MetricConfiguration(
        "map.unexpected_count.window",
        Domain(column="v"),
        freeze_kwargs(
            condition="column_values.increasing", condition_kwargs={}
        ),
    )
    with pytest.raises(ValueError, match="single-partition global-order"):
        r.resolve([cfg])
    # under the threshold it runs fine
    small = spark.range(5).select(F.col("id").cast("long").alias("v"))
    r2 = MetricResolver(small)
    r2.resolve([cfg])
    assert r2[cfg] == 0


def test_unique_extraction_no_window_over_full_rows(spark):
    """The violation-extraction plan for uniqueness must contain no Window
    operator — rows reach the output via groupBy + left-semi join."""
    from sparkcheck.summarize import unexpected_df
    from sparkcheck.metrics import Domain

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x2"), ("b", "y")], "doc_id string, payload string"
    )
    out = unexpected_df(
        df, Domain(column="doc_id"), "column_values.unique", {},
        "expect_column_values_to_be_unique",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert sorted(r["doc_id"] for r in out.collect()) == ["a", "a"]


def test_partitioned_runner_detects_bucket_mismatch(spark, tmp_path):
    from sparkcheck.runner import ParquetStore, PartitionedCorpusRunner
    from sparkcheck.synth import write_bucketed_corpus

    corpus = str(tmp_path / "corpus")
    write_bucketed_corpus(spark, corpus, 2000, n_buckets=4)
    # explicit n_buckets smaller than the layout -> must refuse
    with pytest.raises(ValueError, match="never be validated"):
        PartitionedCorpusRunner(
            spark, ParquetStore(str(tmp_path / "s1")), corpus, n_buckets=2
        )
    # auto-detection picks up the layout's 4 buckets
    r = PartitionedCorpusRunner(spark, ParquetStore(str(tmp_path / "s2")), corpus)
    assert r.n_buckets == 4


def test_sql_query_view_is_isolated(spark):
    """Two validators on the same session must not clobber each other's
    {active_batch} temp view (ADVICE: fixed view name)."""
    from sparkcheck.validator import Validator

    df1 = spark.createDataFrame([(1,)], "v int")
    df2 = spark.createDataFrame([(1,), (2,), (3,)], "v int")
    suite = ExpectationSuite("q", [ExpectationConfiguration(
        "expect_query_to_return_no_unexpected_rows",
        {"query": "SELECT * FROM {active_batch} WHERE v > 1"},
    )])
    r1 = Validator(df1).validate(suite)
    r2 = Validator(df2).validate(suite)
    assert r1["success"] is True  # df1 has no v > 1
    assert r2["success"] is False  # df2 has two
    # no view leaked
    assert not [
        t for t in spark.catalog.listTables() if "sparkcheck_active_batch" in t.name
    ]


def _serial_vs_concurrent(spark, tmp_path, violations_fn):
    from sparkcheck.runner import CheckpointRunner, ParquetStore
    from sparkcheck.synth import generate_docs

    docs = generate_docs(spark, 4000)
    suite = ExpectationSuite("c", [
        ExpectationConfiguration("expect_column_values_to_not_be_null",
                                 {"column": "doc_id", "mostly": 0.99}),
        ExpectationConfiguration("expect_column_values_to_be_unique",
                                 {"column": "doc_id", "mostly": 0.98}),
    ])
    serial = CheckpointRunner(spark, ParquetStore(str(tmp_path / "s")),
                              n_buckets=4, violations_fn=violations_fn)
    conc = CheckpointRunner(spark, ParquetStore(str(tmp_path / "c")),
                            n_buckets=4, max_concurrency=4,
                            violations_fn=violations_fn)
    rs = serial.run(docs, suite, run_id="r")
    rc = conc.run(docs, suite, run_id="r")
    assert sorted(rs.partitions_run) == sorted(rc.partitions_run)
    assert rs.docs_validated == rc.docs_validated
    assert rs.success == rc.success

    def rows(store):
        return sorted(
            (r["partition_id"], r["expectation"], r["success"],
             r["unexpected_count"])
            for r in store.read(spark, "results").collect()
        )

    assert rows(serial.store) == rows(conc.store)
    # resume works in concurrent mode too
    rc2 = conc.run(docs, suite, run_id="r")
    assert len(rc2.partitions_skipped) == 4 and not rc2.partitions_run
    return serial.store, conc.store


def test_concurrent_runner_matches_serial(spark, tmp_path):
    """max_concurrency>1 (the GX AsyncExecutor analog) must produce the
    same committed partitions and per-expectation results as serial."""
    _serial_vs_concurrent(spark, tmp_path, None)


def test_runner_doc_count_skips_filtered_domains(spark, tmp_path):
    """n_docs counts the whole bucket even when the first EVR's
    element_count is over a row_condition domain."""
    from sparkcheck.runner import CheckpointRunner, ParquetStore

    df = spark.range(100).selectExpr("CAST(id AS string) AS doc_id",
                                     "id % 10 AS v")
    filtered = ExpectationConfiguration(
        "expect_column_values_to_not_be_null",
        {"column": "doc_id", "row_condition": "v > 4",
         "condition_parser": "spark"},
    )
    whole = ExpectationConfiguration("expect_column_values_to_not_be_null",
                                     {"column": "doc_id"})
    for i, cfgs in enumerate(([filtered], [filtered, whole])):
        store = ParquetStore(str(tmp_path / f"s{i}"))
        report = CheckpointRunner(spark, store, n_buckets=2).run(
            df, ExpectationSuite("n", cfgs), run_id="n"
        )
        assert report.docs_validated == 100
        lineage = store.read(spark, "lineage").where("metric = 'doc_count'")
        assert sum(r["value"] for r in lineage.collect()) == 100


def test_concurrent_runner_matches_serial_with_violations(spark, tmp_path):
    """With a violation frame every partition runs the one-scan leg:
    per-partition prefetch threads plus violation appends serialized
    behind the runner's lock. Serial and concurrent runs land the same
    violation keys, none appended twice."""
    from sparkcheck.spans import span_violations
    from sparkcheck.synth import generate_docs

    serial, conc = _serial_vs_concurrent(spark, tmp_path, span_violations)

    def keys(store):
        return sorted(
            (r["partition_id"], r["doc_id"] or "", r["span_index"],
             r["expectation"])
            for r in store.read(spark, "violations").collect()
        )

    ks, kc = keys(serial), keys(conc)
    assert ks and ks == kc
    # a repeated append would show as extra rows over the corpus's own
    # violations (keys alone may repeat: duplicate and null doc_ids)
    assert len(kc) == span_violations(generate_docs(spark, 4000)).count()
