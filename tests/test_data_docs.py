"""data_docs.build_data_docs: static site from the results store."""

import os

from sparkcheck import data_docs
from sparkcheck.runner import ParquetStore, store_validation_result
from sparkcheck.suite import ExpectationConfiguration, ExpectationSuite
from sparkcheck.validator import validate_df


def _suite(name, max_value):
    return ExpectationSuite(
        name=name,
        expectations=[
            ExpectationConfiguration.from_dict({
                "expectation_type": "expect_table_row_count_to_be_between",
                "kwargs": {"min_value": 1, "max_value": max_value},
            }),
            ExpectationConfiguration.from_dict({
                "expectation_type": "expect_column_values_to_not_be_null",
                "kwargs": {"column": "a"},
            }),
        ],
    )


def test_build_data_docs_site(spark, tmp_path):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "a double")
    store = ParquetStore(str(tmp_path / "store"))

    rep_pass = validate_df(df, _suite("good_suite", 10))
    rep_fail = validate_df(df, _suite("bad_suite", 2))  # row count 3 > 2
    store_validation_result(store, spark, rep_pass,
                            suite_name="good_suite", run_id="run1")
    store_validation_result(store, spark, rep_fail,
                            suite_name="bad_suite", run_id="run2")

    out = str(tmp_path / "site")
    index = data_docs.build_data_docs(store, spark, out)
    assert os.path.exists(index)
    idx = open(index).read()
    assert "good_suite" in idx and "bad_suite" in idx
    assert "PASSED" in idx and "FAILED" in idx

    pages = [p for p in os.listdir(out)
             if p != "index.html" and not p.startswith("suite__")]
    assert len(pages) == 2
    # per-run page carries the expectation rows
    for p in pages:
        body = open(os.path.join(out, p)).read()
        assert "expect_column_values_to_not_be_null" in body
    # the failing suite's page shows the failed row-count expectation
    bad = [p for p in pages if "bad_suite" in p][0]
    body = open(os.path.join(out, bad)).read()
    assert "expect_table_row_count_to_be_between" in body
    assert "FAILED" in body
    # suite-overview pages (reference ExpectationSuitePageRenderer): one
    # per suite, human-readable expectation lines, run history links
    suites = [p for p in os.listdir(out) if p.startswith("suite__")]
    assert sorted(suites) == ["suite__bad_suite.html", "suite__good_suite.html"]
    body = open(os.path.join(out, "suite__bad_suite.html")).read()
    assert "table row count to be between" in body  # prose, not snake_case
    assert "failing in latest run" in body
    assert 'href="index.html"' in body and "run2" in body
    # the index's suite cell links to the overview page
    assert 'href="suite__bad_suite.html"' in idx


def test_build_data_docs_max_runs(spark, tmp_path):
    df = spark.createDataFrame([(1.0,)], "a double")
    store = ParquetStore(str(tmp_path / "store"))
    for i in range(5):
        rep = validate_df(df, _suite(f"s{i}", 10))
        store_validation_result(store, spark, rep,
                                suite_name=f"s{i}", run_id=f"r{i}")
    out = str(tmp_path / "site")
    data_docs.build_data_docs(store, spark, out, max_runs=3)
    pages = [p for p in os.listdir(out)
             if p != "index.html" and not p.startswith("suite__")]
    assert len(pages) == 3  # only newest max_runs rendered


def test_data_docs_violations_section(spark, tmp_path):
    """Runs with stored violation rows get a capped sample table on their
    page and a count in the index."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.data_docs import build_data_docs
    from sparkcheck.runner import CheckpointRunner, ParquetStore
    from sparkcheck.spans import span_violations
    from sparkcheck.synth import generate_docs

    docs = generate_docs(spark, 3000)
    s = ExpectationSuite("vd")
    s.add("expect_column_values_to_not_be_null", column="doc_id", mostly=0.9)
    store = ParquetStore(str(tmp_path / "store"))
    CheckpointRunner(
        spark, store, n_buckets=2, violations_fn=span_violations
    ).run(docs, s, run_id="rv")

    out = str(tmp_path / "site")
    build_data_docs(store, spark, out, violations_cap=10)
    index = open(f"{out}/index.html").read()
    assert "<th>violations</th>" in index
    n_viol = span_violations(docs).count()
    assert f"<td>{n_viol}</td>" in index

    import glob

    pages = [p for p in glob.glob(f"{out}/*.html")
             if "index" not in p and "suite__" not in p]
    page = open(pages[0]).read()
    assert "Violation rows" in page
    assert f"showing first 10 of {n_viol}" in page
    # capped: exactly 10 sample rows rendered under the violations table
    section = page.split("Violation rows")[1]
    assert section.count("expect_span_") == 10


def test_run_page_expectation_detail_blocks(spark, tmp_path):
    # round-5: per-expectation detail sections (page_renderer content-block
    # analog) — map-style EVRs render the unexpected statistics and the
    # partial_unexpected_counts table; aggregate-style EVRs render
    # observed vs the expected kwargs
    df = spark.createDataFrame(
        [("x",), ("x",), ("y",), ("BAD1",), ("BAD1",), ("BAD2",), (None,)],
        "a string",
    )
    suite = ExpectationSuite(
        name="detail_suite",
        expectations=[
            ExpectationConfiguration.from_dict({
                # map-style with COMPLETE-ish result fields
                "expectation_type": "expect_column_values_to_be_in_set",
                "kwargs": {"column": "a", "value_set": ["x", "y"]},
            }),
            ExpectationConfiguration.from_dict({
                # aggregate-style: observed vs expected range
                "expectation_type": "expect_table_row_count_to_be_between",
                "kwargs": {"min_value": 1, "max_value": 3},
            }),
        ],
    )
    rep = validate_df(df, suite, result_format="SUMMARY")
    store = ParquetStore(str(tmp_path / "dstore"))
    store_validation_result(store, spark, rep,
                            suite_name="detail_suite", run_id="run1")
    out = str(tmp_path / "dsite")
    data_docs.build_data_docs(store, spark, out)
    page = [p for p in os.listdir(out)
            if p != "index.html" and not p.startswith("suite__")][0]
    body = open(os.path.join(out, page)).read()

    # detail anchors exist and the summary table links to them
    assert "Expectation details" in body
    assert 'id="evr-0"' in body and 'href="#evr-' in body

    # map-style: unexpected statistics grid + most-common-unexpected table
    assert "Unexpected statistics" in body
    assert "Unexpected values" in body  # unexpected_count row label
    assert "Most common unexpected values" in body
    assert "BAD1" in body and "BAD2" in body  # the partial counts values
    # the expected side (value_set kwarg) is rendered
    assert "value_set" in body

    # aggregate-style: observed value + expected range kwargs
    assert "Observed" in body
    assert "min_value" in body and "max_value" in body

    # failing expectations render their details expanded
    assert "<details" in body and "open" in body
