"""Span-level checks + checkpoint/resume runner over the synthetic corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationSuite
from sparkcheck.runner import CheckpointRunner, ParquetStore
from sparkcheck.spans import (
    explode_spans,
    span_sequence_fingerprint,
    span_violations,
)
from sparkcheck.synth import ALLOWED_PREFIXES, generate_docs, generate_media_dim

N_DOCS = 3000


@pytest.fixture(scope="module")
def docs(spark):
    return generate_docs(spark, N_DOCS).cache()


def test_synth_shape_and_determinism(spark, docs):
    assert docs.count() == N_DOCS
    assert [f.name for f in docs.schema.fields] == ["doc_id", "spans"]
    # deterministic across parallelism levels (the two-cluster bench invariant)
    a = generate_docs(spark, 500, n_partitions=2)
    b = generate_docs(spark, 500, n_partitions=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # seeded defects present
    assert docs.where(F.col("doc_id").isNull()).count() > 0
    dupes = docs.groupBy("doc_id").count().where("count > 1 and doc_id is not null")
    assert dupes.count() > 0


def test_explode_and_oracle(spark, docs):
    ex = explode_spans(docs)
    pdf = docs.toPandas()
    expected_spans = int(sum(len(s) for s in pdf.spans))
    assert ex.count() == expected_spans
    v = span_violations(docs).cache()
    # text xor media_ref by kind: none seeded, so no payload rows
    assert v.where("expectation = 'expect_span_kind_payload_consistent'").count() == 0

    def offsets_ok(spans):
        offs = [s["offset"] for s in spans]
        return all(b > a for a, b in zip(offs, offs[1:]))

    expected_bad = {
        r.doc_id
        for r in pdf.itertuples()
        if not offsets_ok(r.spans) and r.doc_id is not None
    }
    got_bad = {
        r["doc_id"]
        for r in v.where("expectation = 'expect_span_offsets_increasing'").collect()
        if r["doc_id"] is not None
    }
    v.unpersist()
    assert got_bad == expected_bad
    assert len(expected_bad) > 0  # defects seeded


def test_span_fingerprint_invariant(spark, docs):
    """Span-sequence equality invariant: fingerprint equality <-> sequence
    equality (kind, text, media_ref, order)."""
    fp = docs.select("doc_id", span_sequence_fingerprint("spans").alias("fp"))
    # same data generated twice -> identical fingerprints per doc position
    again = generate_docs(spark, N_DOCS).select(
        "doc_id", span_sequence_fingerprint("spans").alias("fp2")
    )
    joined = fp.where(F.col("doc_id").isNotNull()).dropDuplicates(["doc_id"]).join(
        again.where(F.col("doc_id").isNotNull()).dropDuplicates(["doc_id"]),
        "doc_id",
    )
    assert joined.where("fp != fp2").count() == 0
    # and a mutated sequence changes the fingerprint
    mutated = docs.where(F.size("spans") > 0).limit(50).select(
        "doc_id",
        span_sequence_fingerprint("spans").alias("fp"),
        span_sequence_fingerprint(F.reverse("spans")).alias("fp_rev"),
        F.size("spans").alias("n"),
    )
    assert mutated.where("n > 1 and fp = fp_rev").count() == 0


def test_span_violations_rows(spark, docs):
    v = span_violations(docs, "run1", "p0").cache()
    kinds = {r["expectation"] for r in v.select("expectation").distinct().collect()}
    assert "expect_span_text_printable" in kinds
    assert "expect_span_offsets_increasing" in kinds
    # cross-check offset violations against pandas oracle
    pdf = docs.toPandas()
    expected = []
    for r in pdf.itertuples():
        prev = None
        for i, s in enumerate(r.spans):
            if prev is not None and s["offset"] <= prev:
                expected.append((r.doc_id, i))
            prev = s["offset"]
    got = [
        (r["doc_id"], r["span_index"])
        for r in v.where("expectation = 'expect_span_offsets_increasing'").collect()
    ]
    assert sorted(got, key=str) == sorted(expected, key=str)
    v.unpersist()


def test_media_dim_dangling(spark, docs):
    dim = generate_media_dim(spark, docs)
    ex = explode_spans(docs).where(F.col("media_ref").isNotNull())
    dangling = ex.join(F.broadcast(dim.select("media_ref")), "media_ref", "left_anti")
    n_all = ex.select("media_ref").distinct().count()
    n_dangling = dangling.select("media_ref").distinct().count()
    assert 0 < n_dangling < n_all * 0.02  # ~0.5% seeded


def _suite():
    s = ExpectationSuite("docs")
    s.add("expect_column_values_to_not_be_null", column="doc_id", mostly=0.99)
    s.add(
        "expect_column_values_to_match_regex",
        column="doc_id",
        regex="^(hot[0-2]|p[0-9]{2})-[0-9]{12}$",
        mostly=0.99,
    )
    return s


def test_runner_checkpoint_resume(spark, docs, tmp_path):
    store = ParquetStore(str(tmp_path / "store"))
    runner = CheckpointRunner(spark, store, n_buckets=4, violations_fn=span_violations)

    # first attempt dies after 2 partitions
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(docs, _suite(), run_id="r1", fail_after=2)
    committed = store.committed_partitions("r1")
    assert len(committed) == 2

    # resume: completes only the remaining partitions
    report = runner.run(docs, _suite(), run_id="r1")
    assert len(report.partitions_skipped) == 2
    assert len(report.partitions_run) == 2
    assert store.committed_partitions("r1") == {f"bucket={b}" for b in range(4)}

    # results table: no duplicate / missing partitions
    results = store.read(spark, "results")
    parts = results.select("partition_id").distinct().count()
    assert parts == 4
    per_part = (
        results.groupBy("partition_id", "expectation").count().where("count > 1")
    )
    assert per_part.count() == 0
    # every partition validated both expectations
    assert results.count() == 4 * 2

    # total docs across partitions == corpus size
    lineage = store.read(spark, "lineage")
    total = (
        lineage.where("metric = 'doc_count'")
        .agg(F.sum("value").alias("s"))
        .collect()[0]["s"]
    )
    assert int(total) == N_DOCS


_EDGE_DOCS = [
    # NULL offset mid-array: neither neighbour of the NULL is compared
    ("d-nullmid", [("text", "a", None, 5), ("text", "b", None, None),
                   ("text", "c", None, 3), ("text", "d", None, 3)]),
    ("d-empty", []),
    ("d-null", None),
    # unknown kind, NULL kind (never flagged), bad text, image with text
    ("d-kinds", [("bogus", "x", None, 0), (None, "y", None, 1),
                 ("text", "bad\x01", None, 2),
                 ("image", "z", "media://m", 3)]),
    # equal offsets on a doc whose doc_id is NULL
    (None, [("text", "e", None, 7), ("text", "f", None, 7),
            ("image", None, "media://n", 8)]),
]


def test_span_violations_edge_frame(spark):
    """span_violations on the hand-built edge frame equals the pure-Python
    reference, and both equal the pinned rows."""
    from test_properties import _DOCS_DDL, _py_span_violations, _vkeys

    docs = spark.createDataFrame(_EDGE_DOCS, _DOCS_DDL)
    got = _vkeys(span_violations(docs, "r", "p").collect())
    assert got == _py_span_violations(_EDGE_DOCS)
    assert got == [
        ("", 1, "expect_span_offsets_increasing", ""),
        ("d-kinds", 0, "expect_span_kind_payload_consistent", "bogus"),
        ("d-kinds", 2, "expect_span_text_printable", "bad\x01"),
        ("d-kinds", 3, "expect_span_kind_payload_consistent", "image"),
        ("d-nullmid", 3, "expect_span_offsets_increasing", ""),
    ]


def test_runner_suite_violation_rows(spark, docs, tmp_path):
    from sparkcheck import ExpectationSuite
    from sparkcheck.runner import CheckpointRunner, ParquetStore

    s = ExpectationSuite("v")
    s.add("expect_column_values_to_match_regex", column="doc_id",
          regex="^(hot[0-2]|p[0-9]{2})-", mostly=0.9)
    store = ParquetStore(str(tmp_path / "sv"))
    runner = CheckpointRunner(spark, store, n_buckets=2,
                              suite_violation_rows=True)
    runner.run(docs, s, run_id="rv")
    v = store.read(spark, "violations")
    n_bad = docs.where("doc_id IS NOT NULL AND doc_id NOT RLIKE '^(hot[0-2]|p[0-9]{2})-'").count()
    assert v.where("expectation = 'expect_column_values_to_match_regex'").count() == n_bad
    assert v.where("doc_id IS NULL").count() == 0


def test_partitioned_corpus_runner_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkcheck import ExpectationSuite
    from sparkcheck.runner import ParquetStore, PartitionedCorpusRunner
    from sparkcheck.synth import write_bucketed_corpus

    corpus = str(tmp_path / "bucketed")
    write_bucketed_corpus(spark, corpus, 5000, n_buckets=4)

    # partition pruning: a bucket filter must plan fewer files than the full scan
    base = spark.read.parquet(corpus)
    pruned = base.where(F.col("bucket") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan

    s = ExpectationSuite("p")
    s.add("expect_column_values_to_not_be_null", column="doc_id", mostly=0.99)
    store = ParquetStore(str(tmp_path / "store"))
    runner = PartitionedCorpusRunner(spark, store, corpus, n_buckets=4)
    rep = runner.run(None, s, run_id="pr1")
    assert len(rep.partitions_run) == 4
    assert rep.docs_validated == 5000  # every doc in exactly one bucket
    # resume skips all four
    rep2 = runner.run(None, s, run_id="pr1")
    assert len(rep2.partitions_skipped) == 4 and not rep2.partitions_run


def test_runner_profile_states_resume(spark, docs, tmp_path):
    # round-5: per-partition mergeable states ride each commit; the
    # corpus-level profile is served from merge_states over the store —
    # never a rescan — and a two-phase (crash + resume) run's profile
    # equals the full-rescan profile through the runner API
    store = ParquetStore(str(tmp_path / "store_states"))
    nd = docs.withColumn("n_spans", F.size("spans"))
    runner = CheckpointRunner(
        spark, store, n_buckets=4, violations_fn=span_violations,
        profile_columns=["n_spans"],
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(nd, _suite(), run_id="r1", fail_after=2)

    # mid-run: profile covers exactly the 2 committed partitions
    partial = runner.corpus_profile("r1").collect()[0]
    committed = sorted(store.committed_partitions("r1"))
    st = store.read(spark, "column_states")
    covered = st.where(F.col("state_key").isin(committed))
    assert partial["n"] == covered.agg(F.sum("n")).collect()[0][0]

    # resume, then merged profile == full rescan (exactly, to 6dp)
    runner.run(nd, _suite(), run_id="r1")
    merged = runner.corpus_profile("r1").collect()[0]
    direct = nd.agg(
        F.count("n_spans").alias("n"),
        F.avg("n_spans").alias("mean"),
        F.stddev_samp("n_spans").alias("std"),
        F.min("n_spans").alias("mn"),
        F.max("n_spans").alias("mx"),
    ).collect()[0]
    assert merged["n"] == direct["n"] == N_DOCS
    assert merged["mean"] == pytest.approx(direct["mean"], abs=1e-6)
    assert merged["stddev_samp"] == pytest.approx(direct["std"], abs=1e-6)
    assert merged["mn"] == direct["mn"] and merged["mx"] == direct["mx"]
    # one state row per (partition, column) — no duplicates after resume
    assert store.read(spark, "column_states").count() == 4


def test_runner_profile_states_orphan_superseded(spark, docs, tmp_path):
    # a crash BETWEEN the state append and the manifest commit leaves an
    # orphan state row; the re-run's row must supersede it (latest-ts
    # wins) and corpus_profile must not double-count
    store = ParquetStore(str(tmp_path / "store_orphan"))
    nd = docs.withColumn("n_spans", F.size("spans"))
    runner = CheckpointRunner(
        spark, store, n_buckets=2, violations_fn=span_violations,
        profile_columns=["n_spans"],
    )
    # simulate the orphan: append a bogus state row for bucket=0 stamped
    # earlier than any real run
    from datetime import datetime
    bogus = spark.createDataFrame(
        [("r1", "bucket=0", "n_spans", 10**9, 0, 1.0e9, 1.0, 0.0, 1.0, 1.0,
          datetime(2000, 1, 1))],
        "run_id string, state_key string, column string, n long, n_null long, "
        "s double, mean double, m2 double, mn double, mx double, ts timestamp",
    )
    store.append("column_states", bogus)
    runner.run(nd, _suite(), run_id="r1")
    merged = runner.corpus_profile("r1").collect()[0]
    assert merged["n"] == N_DOCS  # the 10^9 orphan row did not leak in


def test_runner_profile_requires_columns(spark, docs, tmp_path):
    store = ParquetStore(str(tmp_path / "store_noprof"))
    runner = CheckpointRunner(spark, store, n_buckets=2)
    with pytest.raises(ValueError, match="profile_columns"):
        runner.corpus_profile("rX")


def test_runner_poison_partition_continue_and_retry(spark, docs, tmp_path):
    store = ParquetStore(str(tmp_path / "store"))

    calls = {"n": 0}

    def poison_violations(part, run_id, pid):
        if pid == "bucket=2" and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("corrupt partition payload")
        return span_violations(part, run_id, pid)

    runner = CheckpointRunner(
        spark, store, n_buckets=4, violations_fn=poison_violations
    )
    # poison policy: the crash is recorded, the other 3 partitions commit
    report = runner.run(docs, _suite(), run_id="p1", on_error="continue")
    assert report.success is False
    assert [p for p, _ in report.partitions_failed] == ["bucket=2"]
    assert "corrupt partition payload" in report.partitions_failed[0][1]
    assert len(report.partitions_run) == 3
    assert store.committed_partitions("p1") == {
        "bucket=0", "bucket=1", "bucket=3"
    }

    # resume retries EXACTLY the failed partition (fn no longer raises)
    report2 = runner.run(docs, _suite(), run_id="p1", on_error="continue")
    assert report2.partitions_run == ["bucket=2"]
    assert len(report2.partitions_skipped) == 3
    assert not report2.partitions_failed
    assert store.committed_partitions("p1") == {f"bucket={b}" for b in range(4)}

    # default on_error="raise" fails fast
    calls["n"] = 0
    runner2 = CheckpointRunner(
        spark, ParquetStore(str(tmp_path / "store2")), n_buckets=4,
        violations_fn=poison_violations,
    )
    with pytest.raises(RuntimeError, match="corrupt partition"):
        runner2.run(docs, _suite(), run_id="p2")
    with pytest.raises(ValueError, match="on_error"):
        runner2.run(docs, _suite(), run_id="p3", on_error="skip")
