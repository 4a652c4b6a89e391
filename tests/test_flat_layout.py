"""Flat (pre-exploded) span layout: violation parity with the nested plan.

The flat layout is the storage-level answer to the nested-decode
memory-bandwidth wall (BENCH/BASELINE.md round-2 campaign): same checks,
same violations, but the scan decodes plain columns.
"""

from __future__ import annotations

import re

from sparkcheck.spans import (
    FLAT_SPAN_COLUMNS,
    explode_spans,
    span_violations,
    span_violations_flat,
)
from sparkcheck.synth import generate_docs, write_flat_corpus


def test_flat_violations_match_nested(spark, tmp_path):
    out = str(tmp_path / "flat")
    n = 4000
    write_flat_corpus(spark, out, n)
    flat = spark.read.parquet(f"{out}/spans.parquet")
    docs = generate_docs(spark, n)

    key = lambda r: (r["doc_id"], r["span_index"], r["expectation"],  # noqa: E731
                     r["observed_value"])
    nested_rows = sorted(map(key, span_violations(docs).collect()))
    flat_rows = sorted(map(key, span_violations_flat(flat).collect()))
    assert nested_rows == flat_rows
    assert len(nested_rows) > 0  # seeded defects present


def test_flat_plan_is_scan_plus_filter(spark, tmp_path):
    out = str(tmp_path / "flat2")
    write_flat_corpus(spark, out, 500)
    flat = spark.read.parquet(f"{out}/spans.parquet")
    v = span_violations_flat(flat)
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: scan + filter + project only
    assert "Window" not in plan
    # the read schema is the flat columns — no array<struct> decode
    assert "array<struct" not in plan.lower().replace(" ", "")


def test_nested_plan_is_one_codegen_generate(spark, tmp_path):
    """span_violations over a stored nested corpus: one posexplode inside
    whole-stage codegen, no shuffle and no higher-order function."""
    out = str(tmp_path / "nested")
    generate_docs(spark, 500).write.parquet(out)
    docs = spark.read.parquet(out)
    assert tuple(explode_spans(docs).columns) == FLAT_SPAN_COLUMNS
    plan = span_violations(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "lambdafunction" not in plan and "arrays_zip" not in plan
    assert re.search(r"\*\(\d+\) Generate posexplode", plan), plan


def test_docs_table_matches(spark, tmp_path):
    out = str(tmp_path / "flat3")
    n = 1500
    write_flat_corpus(spark, out, n)
    docs_meta = spark.read.parquet(f"{out}/docs.parquet")
    assert docs_meta.count() == n
    spans_n = (
        spark.read.parquet(f"{out}/spans.parquet").count()
    )
    total_spans = sum(r["n_spans"] for r in docs_meta.collect())
    assert spans_n == total_spans
