"""Columns built once per (metric id, schema) and reused across units.

The contract under test: one suite object validated over frames of
different data and different column types in one session gives, for every
frame and in either order, the report of a cold run (an empty Column
cache), both through ``validate_df`` and through ``validate_and_extract``;
and the cache stays within its bound."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationSuite, validate_df
from sparkcheck.fused import validate_and_extract
from sparkcheck.metrics import COLUMN_CACHE, ColumnCache
from sparkcheck.spans import span_violations
from sparkcheck.synth import generate_docs


def _cold() -> None:
    """Empty the Column cache, so the next run builds every Column."""
    COLUMN_CACHE.clear()


@pytest.fixture(scope="module")
def frames(spark):
    """Two units of different docs; ``x`` is double (with NaN) in one and
    string in the other."""
    docs = (generate_docs(spark, 2000)
            .withColumn("n_spans", F.size("spans"))
            .withColumn("source", F.split("doc_id", "-")[0]))
    v = F.col("n_spans") % 5
    dbl = (docs.where(F.col("n_spans") % 2 == 0)
           .withColumn("x", F.when(F.col("n_spans") % 7 == 0, F.lit(float("nan")))
                       .otherwise(v.cast("double"))))
    txt = docs.where(F.col("n_spans") % 2 == 1).withColumn("x", v.cast("string"))
    return {"double": dbl.repartition(2).localCheckpoint(),
            "string": txt.repartition(2).localCheckpoint()}


def _suite():
    s = ExpectationSuite("cache")
    s.add("expect_column_values_to_not_be_null", column="doc_id", mostly=0.99)
    s.add("expect_column_values_to_be_unique", column="doc_id", mostly=0.98)
    s.add("expect_column_values_to_match_regex", column="doc_id",
          regex="^(hot[0-2]|p[0-9]{2})-[0-9]{12}$", mostly=0.98)
    s.add("expect_column_values_to_be_between", column="n_spans",
          min_value=1, max_value=16, mostly=0.9,
          row_condition='source LIKE "hot%"', condition_parser="spark")
    s.add("expect_column_kl_divergence_to_be_less_than", column="n_spans",
          partition_object={"values": list(range(17)), "weights": [1 / 17] * 17},
          threshold=0.05)
    s.add("expect_column_mean_to_be_between", column="n_spans",
          min_value=0, max_value=20)
    s.add("expect_table_row_count_to_be_between", min_value=1)
    # dtype-dependent Columns: NaN≡NULL masks on the double frame only
    s.add("expect_column_values_to_not_be_null", column="x", mostly=0.5)
    s.add("expect_column_values_to_be_between", column="x",
          min_value=0, max_value=3, mostly=0.5)
    s.add("expect_column_mean_to_be_between", column="x",
          min_value=0, max_value=10)
    s.add("expect_column_kl_divergence_to_be_less_than", column="x",
          partition_object={"bins": [0, 1, 2, 3, 4, 5],
                            "weights": [0.2] * 5},
          threshold=0.5)
    return s


def _norm(report) -> str:
    """The report with each traceback cut to its last line, expression ids
    dropped (a Spark message names plan attributes as ``x#123``)."""
    for r in report["results"]:
        info = r.get("exception_info") or {}
        tb = info.get("exception_traceback")
        if tb:
            info["exception_traceback"] = re.sub(
                r"#\d+", "#", tb.strip().splitlines()[-1])
    return json.dumps(report, sort_keys=True, default=str)


def _rows(rows):
    return sorted(tuple(r) for r in rows.collect())


@pytest.mark.parametrize("order", [("double", "string"), ("string", "double")])
def test_one_suite_over_two_schemas_matches_cold(spark, frames, order):
    """A Column built for one frame's schema never answers for the other:
    each report equals the cold ``validate_df`` report of its frame, and
    the fused leg's violation rows equal ``span_violations``."""
    suite = _suite()
    cold = {}
    for name in order:
        _cold()
        cold[name] = _norm(validate_df(frames[name], suite, result_format="BASIC"))
    assert cold["double"] != cold["string"]
    _cold()
    for name in order:
        df = frames[name]
        rep, rows, _ = validate_and_extract(df, suite, span_violations,
                                            result_format="BASIC")
        assert _norm(rep) == cold[name], name
        assert _rows(rows) == _rows(span_violations(df))
        assert _norm(validate_df(df, suite, result_format="BASIC")) == cold[name], name


def test_column_cache_is_a_bounded_lru(monkeypatch):
    """The least recently used entry goes first once the bound is reached,
    a hit builds nothing, and a new py4j gateway empties the cache."""
    from pyspark import SparkContext

    built = []

    def build(k):
        return lambda: built.append(k) or f"col-{k}"

    cache = ColumnCache(3)
    for k in ("a", "b", "c"):
        assert cache.get(k, build(k)) == f"col-{k}"
    assert cache.get("a", build("a")) == "col-a"  # a hit: nothing built
    cache.get("d", build("d"))  # evicts b, the least recently used
    assert len(cache) == 3
    assert built == ["a", "b", "c", "d"]
    for k in ("a", "c", "d"):
        cache.get(k, build(k))
    assert built == ["a", "b", "c", "d"]
    cache.get("b", build("b"))
    assert built[-1] == "b" and len(cache) == 3
    for k in range(100):  # a new metric id on every call stays bounded
        cache.get(("now", k), build(k))
    assert len(cache) == 3

    monkeypatch.setattr(SparkContext, "_gateway", object())
    cache.get(("now", 99), build("again"))
    assert built[-1] == "again" and len(cache) == 1
