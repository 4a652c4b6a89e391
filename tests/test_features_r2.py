"""Round-2 features: GE mini-DSL row conditions, evaluation-parameter
arithmetic, include_unexpected_rows, legacy multicolumn unique,
bootstrapped KS, strftime directive coverage."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df
from sparkcheck.evaluation_parameters import (
    EvaluationParameterError,
    parse_evaluation_parameter,
)
from sparkcheck.row_conditions import (
    ConditionParserError,
    parse_condition_to_spark_sql,
)


# --- GE mini-DSL (reference tests/expectations/test_row_conditions.py) -----


def test_dsl_ported_reference_cases():
    # col("foo") > 5 -> (foo > 5)  [ref test_parse_condition_to_spark]
    assert parse_condition_to_spark_sql('col("foo") > 5') == "`foo` > 5"
    assert (
        parse_condition_to_spark_sql('col("foo").notNull()')
        == "`foo` IS NOT NULL"
    )
    # underscore / dash column names [ref test_condition_parser_with_*]
    assert parse_condition_to_spark_sql('col("pk_2") == "Two"') == "`pk_2` = 'Two'"
    assert parse_condition_to_spark_sql('col("pk-2") == "Two"') == "`pk-2` = 'Two'"
    # space / tab in condition value
    assert (
        parse_condition_to_spark_sql('col("pk_2") == "Two Two"')
        == "`pk_2` = 'Two Two'"
    )
    assert parse_condition_to_spark_sql('col("foo") <= 1.34') == "`foo` <= 1.34"
    assert parse_condition_to_spark_sql('col("foo") != "a-b"') == "`foo` != 'a-b'"
    assert (
        parse_condition_to_spark_sql("col(\"ts\") > date('2021-01-01')")
        == "`ts` > date('2021-01-01')"
    )
    with pytest.raises(ConditionParserError):
        parse_condition_to_spark_sql("not a condition")
    with pytest.raises(ConditionParserError):
        parse_condition_to_spark_sql('col("foo") > "str-with-gt"')


def test_dsl_end_to_end(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 10.0), ("c", 100.0)], "k string, v double"
    )
    suite = ExpectationSuite("dsl", [ExpectationConfiguration(
        "expect_column_mean_to_be_between",
        {"column": "v", "min_value": 50, "max_value": 200,
         "row_condition": 'col("v") > 10', "condition_parser": "great_expectations"},
    )])
    rep = validate_df(df, suite)
    assert rep["success"], rep["results"][0]
    assert rep["results"][0]["result"]["observed_value"] == 100.0


# --- evaluation-parameter arithmetic ---------------------------------------


def test_eval_param_arithmetic():
    params = {"max_rows": 100, "ratio": 0.9}
    assert parse_evaluation_parameter("max_rows", params) == 100
    assert parse_evaluation_parameter("max_rows * ratio", params) == 90.0
    assert parse_evaluation_parameter("trunc(max_rows / 3)", params) == 33
    assert parse_evaluation_parameter("-max_rows + 1", params) == -99
    assert parse_evaluation_parameter("2 ^ 3", params) == 8
    assert parse_evaluation_parameter("round(PI, 2)", params) == 3.14
    assert isinstance(
        parse_evaluation_parameter("now()", {}), datetime.datetime
    )
    delta = parse_evaluation_parameter("now() - timedelta(days=1)", {})
    assert isinstance(delta, datetime.datetime)
    with pytest.raises(EvaluationParameterError):
        parse_evaluation_parameter("unknown_param + 1", params)
    with pytest.raises(EvaluationParameterError):
        parse_evaluation_parameter("__import__('os').system('x')", params)
    with pytest.raises(EvaluationParameterError):
        parse_evaluation_parameter(
            "urn:great_expectations:validations:other:expect.result", params
        )


def test_eval_param_in_suite(spark):
    df = spark.range(50).select(F.col("id").cast("double").alias("v"))
    suite = ExpectationSuite("ep", [ExpectationConfiguration(
        "expect_table_row_count_to_be_between",
        {"min_value": {"$PARAMETER": "trunc(expected / 2)"},
         "max_value": {"$PARAMETER": "expected * 2"}},
    )])
    rep = validate_df(df, suite, evaluation_parameters={"expected": 50})
    assert rep["success"]
    # unbound parameter -> failed EVR with exception info, not a crash
    rep2 = validate_df(df, suite, evaluation_parameters={})
    assert not rep2["results"][0]["success"]
    assert rep2["results"][0]["exception_info"]["raised_exception"]


# --- include_unexpected_rows -----------------------------------------------


def test_include_unexpected_rows(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 99, "y"), ("c", 2, "z"), ("d", 150, "w")],
        "id string, v int, payload string",
    )
    suite = ExpectationSuite("r", [ExpectationConfiguration(
        "expect_column_values_to_be_between",
        {"column": "v", "min_value": 0, "max_value": 50},
    )])
    rep = validate_df(
        df, suite,
        result_format={"result_format": "SUMMARY", "include_unexpected_rows": True},
    )
    rows = rep["results"][0]["result"]["unexpected_rows"]
    assert sorted(r["id"] for r in rows) == ["b", "d"]
    assert all(set(r) == {"id", "v", "payload"} for r in rows)
    # without the flag the key is absent (reference expectation.py:3543-3548)
    rep2 = validate_df(df, suite, result_format="SUMMARY")
    assert "unexpected_rows" not in rep2["results"][0]["result"]
    # BASIC also carries it when requested
    rep3 = validate_df(
        df, suite,
        result_format={"result_format": "BASIC", "include_unexpected_rows": True,
                       "partial_unexpected_count": 1},
    )
    assert len(rep3["results"][0]["result"]["unexpected_rows"]) == 1


def test_partial_unexpected_count_zero_returns_no_rows(spark):
    """A sample limit of 0 returns no values and no rows (reference
    ``limit(0)``); only an unset limit (COMPLETE) returns every row."""
    df = spark.createDataFrame([(None,), (None,), (None,), ("a",)], "v string")
    suite = ExpectationSuite("z", [ExpectationConfiguration(
        "expect_column_values_to_not_be_null", {"column": "v"})])
    res = validate_df(df, suite, result_format={
        "result_format": "BASIC", "partial_unexpected_count": 0,
        "include_unexpected_rows": True,
    })["results"][0]["result"]
    assert res["unexpected_count"] == 3
    assert res["partial_unexpected_list"] == []
    assert res["unexpected_rows"] == []
    full = validate_df(df, suite, result_format={
        "result_format": "COMPLETE", "include_unexpected_rows": True,
    })["results"][0]["result"]
    assert len(full["unexpected_rows"]) == 3


# --- legacy multicolumn unique + ignore_row_if -----------------------------


def test_multicolumn_values_to_be_unique(spark):
    # ref example (expect_multicolumn_values_to_be_unique.py:36-44):
    # duplicated (1,1,2) rows fail, unique rows pass
    df = spark.createDataFrame(
        [(1, 1, 2), (1, 2, 3), (1, 1, 2), (2, 2, 2), (3, 2, 3)],
        "a int, b int, c int",
    )
    suite = ExpectationSuite("mc", [ExpectationConfiguration(
        "expect_multicolumn_values_to_be_unique",
        {"column_list": ["a", "b", "c"]},
    )])
    rep = validate_df(df, suite, result_format="BASIC")
    assert rep["results"][0]["result"]["unexpected_count"] == 2
    assert not rep["results"][0]["success"]


def test_ignore_row_if_any_missing(spark):
    df = spark.createDataFrame(
        [(1, 1), (2, None), (None, None), (3, 3)], "a int, b int"
    )
    suite = ExpectationSuite("ir", [ExpectationConfiguration(
        "expect_multicolumn_sum_to_equal",
        {"column_list": ["a", "b"], "sum_total": 2,
         "ignore_row_if": "any_value_is_missing"},
    )])
    rep = validate_df(df, suite, result_format="BASIC")
    res = rep["results"][0]["result"]
    # rows with any null are filtered out of the domain entirely
    assert res["element_count"] == 2
    assert res["unexpected_count"] == 1  # (3,3) sums to 6


# --- bootstrapped KS -------------------------------------------------------


def test_bootstrapped_ks(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vals = [(float(v),) for v in rng.uniform(0, 10, 4000)]
    df = spark.createDataFrame(vals, "x double")
    po = {"bins": [0.0, 2.5, 5.0, 7.5, 10.0], "weights": [0.25, 0.25, 0.25, 0.25]}
    suite = ExpectationSuite("ks", [ExpectationConfiguration(
        "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
        {"column": "x", "partition_object": po, "p": 0.05,
         "bootstrap_samples": 200},
    )])
    rep = validate_df(df, suite)
    assert rep["success"], rep["results"][0]
    assert rep["results"][0]["result"]["observed_value"] > 0.05
    # wildly wrong partition -> tiny bootstrap pass rate -> failure
    bad = {"bins": [100.0, 200.0, 300.0], "weights": [0.5, 0.5]}
    suite2 = ExpectationSuite("ks2", [ExpectationConfiguration(
        "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
        {"column": "x", "partition_object": bad, "p": 0.05,
         "bootstrap_samples": 200},
    )])
    rep2 = validate_df(df, suite2)
    assert not rep2["results"][0]["success"]


# --- strftime directives ---------------------------------------------------


def test_strftime_extended_directives(spark):
    from sparkcheck.conditions import strftime_to_spark_pattern

    assert strftime_to_spark_pattern("%Y-%m-%d") == "yyyy-MM-dd"
    assert strftime_to_spark_pattern("%d %b %Y") == "dd MMM yyyy"
    assert strftime_to_spark_pattern("%I:%M %p") == "hh:mm a"
    # literal letters get quoted for the Java pattern
    assert strftime_to_spark_pattern("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss"
    with pytest.raises(ValueError, match="unsupported strftime"):
        strftime_to_spark_pattern("%Q")

    df = spark.createDataFrame(
        [("02 Jan 2021",), ("31 Feb 2021",), ("bogus",), (None,)], "d string"
    )
    suite = ExpectationSuite("st", [ExpectationConfiguration(
        "expect_column_values_to_match_strftime_format",
        {"column": "d", "strftime_format": "%d %b %Y"},
    )])
    rep = validate_df(df, suite, result_format="BASIC")
    res = rep["results"][0]["result"]
    assert res["unexpected_count"] == 2  # Feb 31 + bogus; null is missing
    assert res["missing_count"] == 1
