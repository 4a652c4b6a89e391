"""Streaming validation: micro-batches through the shared engine + store."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from sparkcheck import ExpectationConfiguration, ExpectationSuite
from sparkcheck.runner import ParquetStore
from sparkcheck.streaming import StreamingValidationSink, validate_stream


def _suite():
    return ExpectationSuite("stream", [
        ExpectationConfiguration(
            "expect_column_values_to_be_between",
            {"column": "value", "min_value": 0, "max_value": 10**9},
        ),
        ExpectationConfiguration("expect_column_values_to_not_be_null",
                                 {"column": "value"}),
    ])


def test_streaming_validation_rate_source(spark, tmp_path):
    store = ParquetStore(str(tmp_path / "store"))
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "500").load()
        .select(F.col("value"))
    )
    q = validate_stream(
        stream, _suite(), store, str(tmp_path / "ckpt"), run_id="s1",
        trigger={"processingTime": "1 seconds"},
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            committed = store.committed_partitions("s1")
            if len(committed) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    committed = store.committed_partitions("s1")
    assert len(committed) >= 2, committed
    results = store.read(spark, "results")
    assert results.select("partition_id").distinct().count() >= 2
    assert results.where("success = false").count() == 0


def test_streaming_sink_idempotent_replay(spark, tmp_path):
    store = ParquetStore(str(tmp_path / "store2"))
    sink = StreamingValidationSink(store, _suite(), run_id="s2")
    batch = spark.range(100).select(F.col("id").alias("value"))
    sink(batch, 7)
    sink(batch, 7)  # replay of the same batch id must be a no-op
    assert sink.batches_validated == 1
    results = store.read(spark, "results")
    assert results.where("partition_id = 'batch=7'").count() == 2  # 2 expectations once


def test_windowed_violation_counts_batch_parity(spark):
    from sparkcheck.streaming import windowed_violation_counts

    df = spark.createDataFrame(
        [("2026-01-01 00:00:10", 5), ("2026-01-01 00:00:40", -1),
         ("2026-01-01 00:01:10", 7), ("2026-01-01 00:01:20", None),
         ("2026-01-01 00:01:30", 200)],
        "ts_s string, value int",
    ).select(F.to_timestamp("ts_s").alias("ts"), "value")
    out = windowed_violation_counts(df, _suite_bounded(), "ts", "1 minute")
    rows = {r["window"]["start"].second + r["window"]["start"].minute * 60:
            r.asDict() for r in out.collect()}
    w0, w1 = rows[0], rows[60]
    assert w0["element_count"] == 2 and w1["element_count"] == 3
    k = "unexpected__0__expect_column_values_to_be_between__value"
    kn = "unexpected__1__expect_column_values_to_not_be_null__value"
    assert w0[k] == 1       # -1 out of range
    assert w1[k] == 1       # 200 out of range; null is missing, not unexpected
    assert w0[kn] == 0 and w1[kn] == 1


def _suite_bounded():
    return ExpectationSuite("wb", [
        ExpectationConfiguration(
            "expect_column_values_to_be_between",
            {"column": "value", "min_value": 0, "max_value": 100},
        ),
        ExpectationConfiguration("expect_column_values_to_not_be_null",
                                 {"column": "value"}),
    ])


def test_windowed_counts_streaming_with_watermark(spark, tmp_path):
    from sparkcheck.streaming import windowed_violation_counts

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        .select(F.col("timestamp").alias("ts"), F.col("value"))
    )
    agg = windowed_violation_counts(
        stream, _suite_bounded_wide(), "ts", "2 seconds", watermark="4 seconds"
    )
    q = (agg.writeStream.format("memory").queryName("wvc")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM wvc").count() >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM wvc").collect()
    assert len(rows) >= 2
    assert all(r["element_count"] > 0 for r in rows)


def _suite_bounded_wide():
    return ExpectationSuite("wbw", [
        ExpectationConfiguration(
            "expect_column_values_to_be_between",
            {"column": "value", "min_value": 0, "max_value": 10**12},
        ),
    ])


def test_stateful_key_counts(spark, tmp_path):
    from sparkcheck.streaming import stateful_key_counts

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "400").load()
        .select((F.col("value") % 4).alias("k"), "value")
    )
    out = stateful_key_counts(stream, "k")
    q = (out.writeStream.format("memory").queryName("skc")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql("SELECT max(n_batches) AS m FROM skc").collect()
            if rows and rows[0]["m"] and rows[0]["m"] >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM skc").collect()
    keys = {r["key"] for r in rows}
    assert keys <= {"0", "1", "2", "3"} and len(keys) == 4
    # running totals are cumulative across batches (stateful memory works)
    per_key = {}
    for r in rows:
        per_key.setdefault(r["key"], []).append((r["n_batches"], r["total_count"]))
    for seq in per_key.values():
        seq.sort()
        totals = [t for _, t in seq]
        assert totals == sorted(totals)


def test_streaming_dedup(spark, tmp_path):
    from sparkcheck.streaming import streaming_dedup

    # rate stream where value % 5 is the content fingerprint: every key
    # recurs in later batches, so only its first batch may set is_first
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "400").load()
        .select((F.col("value") % 5).alias("fp"), "value")
    )
    out = streaming_dedup(stream, "fp", "value")
    q = (out.writeStream.format("memory").queryName("sdd")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT count(*) AS n FROM sdd WHERE NOT is_first"
            ).collect()
            if rows and rows[0]["n"] >= 5:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sdd").collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r["key"], []).append(r)
    assert set(per_key) <= {"0", "1", "2", "3", "4"}
    for key, rs in per_key.items():
        # exactly one first-appearance batch per key
        assert sum(1 for r in rs if r["is_first"]) == 1
        # first_id is sticky: every batch reports the same canonical id
        assert len({r["first_id"] for r in rs}) == 1
        # running totals strictly increase across batches
        totals = sorted(r["total_count"] for r in rs)
        assert totals == sorted(set(totals))


def test_windowed_drift_batch_values(spark):
    from sparkcheck.streaming import windowed_drift
    import numpy as np
    from sparkcheck.distribution import psi as psi_ref

    # window 0: uniform over the 4 buckets -> psi ~ 0, no drift
    # window 1: all mass in bucket 0 -> large psi, drift
    rows = []
    for i, v in enumerate([1.0, 20.0, 40.0, 80.0]):
        rows.append((f"2026-01-01 00:00:{10 + i:02d}", v))
    for i in range(4):
        rows.append((f"2026-01-01 00:01:{10 + i:02d}", 2.0))
    rows.append(("2026-01-01 00:02:10", None))  # null-only window
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.to_timestamp("ts_s").alias("ts"), "value")
    out = windowed_drift(
        df, "ts", "value", [0.0, 15.0, 35.0, 70.0, 500.0],
        [0.25, 0.25, 0.25, 0.25], window_duration="1 minute", threshold=0.2,
    )
    got = {r["window_start"].minute: r.asDict() for r in out.collect()}
    assert got[0]["n_values"] == 4 and got[0]["psi"] is not None
    assert abs(got[0]["psi"] - round(psi_ref(
        np.array([1, 1, 1, 1]), np.array([0.25] * 4)), 6)) < 1e-6
    assert got[0]["drift"] is False
    assert got[1]["drift"] is True
    assert abs(got[1]["psi"] - round(psi_ref(
        np.array([4, 0, 0, 0]), np.array([0.25] * 4)), 6)) < 1e-6
    assert got[2]["psi"] is None and got[2]["drift"] is None


def test_windowed_drift_out_of_range_folds_into_edge_buckets(spark):
    from sparkcheck.streaming import windowed_drift

    df = spark.createDataFrame(
        [("2026-01-01 00:00:10", -50.0), ("2026-01-01 00:00:11", 9999.0)],
        "ts_s string, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "value")
    out = windowed_drift(
        df, "ts", "value", [0.0, 10.0, 20.0], [0.5, 0.5],
        window_duration="1 minute",
    ).collect()
    assert out[0]["n_values"] == 2  # both counted, neither dropped


def test_windowed_drift_live_stream(spark, tmp_path):
    from sparkcheck.streaming import windowed_drift

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        .select(F.col("timestamp").alias("ts"),
                (F.col("value") % 10).cast("double").alias("value"))
    )
    agg = windowed_drift(
        stream, "ts", "value", [0.0, 2.0, 5.0, 10.0], [0.2, 0.3, 0.5],
        window_duration="2 seconds", watermark="4 seconds",
    )
    q = (agg.writeStream.format("memory").queryName("wdr")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM wdr WHERE psi IS NOT NULL").count() >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM wdr WHERE psi IS NOT NULL").collect()
    assert len(rows) >= 2
    # value%10 is ~uniform over [0,10): observed ≈ [0.2, 0.3, 0.5] -> tiny psi
    assert all(r["psi"] < 0.05 for r in rows if r["n_values"] > 100)


def test_freshness_monitor_rate_source(spark, tmp_path):
    from sparkcheck.streaming import FreshnessMonitor

    store = ParquetStore(str(tmp_path / "store"))
    alerts = []
    mon = FreshnessMonitor(
        store, "ts", run_id="fm", max_lag_seconds=0.0,
        on_lag=lambda b, lag: alerts.append((b, lag)),
    )
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        .select(F.col("timestamp").alias("ts"), "value")
    )
    q = (stream.writeStream.foreachBatch(mon)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if len(store.committed_partitions("fm")) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.read.parquet(str(tmp_path / "store" / "freshness")).collect()
    assert len(rows) >= 3
    nonempty = [r for r in rows if r.n_rows > 0]
    assert nonempty, "expected at least one non-empty batch"
    for r in nonempty:
        assert r.max_ts is not None and r.lag_seconds is not None
        assert 0 <= r.lag_seconds < 60  # rate-source events are fresh
    # every non-empty batch exceeded the 0-second threshold -> alert fired
    assert alerts


def test_streaming_sink_actions_match_two_pass(spark, tmp_path):
    """actions fire per committed micro-batch with the checkpoint gate;
    the one-scan sink writes the two-pass reference's results/violations."""
    import json as _json

    from sparkcheck import validate_df
    from sparkcheck.spans import span_violations
    from sparkcheck.synth import generate_docs

    docs = generate_docs(spark, 2000).cache()
    suite = ExpectationSuite("sa", [
        ExpectationConfiguration(
            "expect_column_values_to_not_be_null", {"column": "doc_id"}
        ),  # seeded nulls -> fails every batch
    ])
    alert = str(tmp_path / "stream_alerts.jsonl")
    store = ParquetStore(str(tmp_path / "sa_store"))
    sink = StreamingValidationSink(
        store, suite, run_id="sa",
        violations_fn=span_violations,
        actions=[{"type": "file_alert", "path": alert,
                  "notify_on": "failure"}],
    )
    sink(docs, 0)
    sink(docs, 1)
    sink(docs, 1)  # replay: no duplicate commit, no duplicate alert
    assert sink.batches_validated == 2
    with open(alert) as f:
        lines = [_json.loads(x) for x in f]
    assert len(lines) == 2
    assert lines[0]["run_id"] == "sa/batch=0" and not lines[0]["success"]
    assert sink.last_action_outcomes["file_alert"]["status"] == "ok"

    # sink output == two-pass reference (results rows and violations)
    ref = validate_df(docs, suite, result_format="BOOLEAN_ONLY")["results"]
    f_res = store.read(spark, "results").where("partition_id = 'batch=0'")
    cols = ["expectation", "success", "element_count", "unexpected_count"]
    assert sorted(map(tuple, f_res.select(*cols).collect())) == sorted(
        (r["expectation_config"]["expectation_type"], r["success"],
         r.get("result", {}).get("element_count"),
         r.get("result", {}).get("unexpected_count"))
        for r in ref
    )
    fv = store.read(spark, "violations").where("partition_id = 'batch=0'")
    assert fv.count() == span_violations(docs).count()
    # BOOLEAN_ONLY EVRs carry no element_count: n_docs comes from count()
    lineage = store.read(spark, "lineage").where(
        "partition_id = 'batch=0' AND metric = 'doc_count'"
    )
    assert [r["value"] for r in lineage.collect()] == [2000.0]


def test_streaming_group_cap(spark, tmp_path):
    from sparkcheck.streaming import streaming_group_cap

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "300").load()
        .select((F.col("value") % 3).alias("g"), "value")
    )
    out = streaming_group_cap(stream, "g", 4, "value")
    q = (out.writeStream.format("memory").queryName("sgc")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck_sgc"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT count(*) AS n FROM sgc WHERE NOT accepted"
            ).collect()
            if rows and rows[0]["n"] >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sgc").collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r["group"], []).append(r)
    assert set(per_group) <= {"0", "1", "2"}
    for g, rs in per_group.items():
        acc = [r for r in rs if r["accepted"]]
        # the lifetime quota is never exceeded, and once rejections start
        # the group has admitted exactly its cap
        assert len(acc) <= 4
        if any(not r["accepted"] for r in rs):
            assert len(acc) == 4, g
        # every emitted id is unique (one verdict per input row)
        assert len({r["id"] for r in rs}) == len(rs)


def test_hash_split_works_on_streams(spark, tmp_path):
    # hash_split/stratified_sample are pure projections/filters, so they
    # run unchanged on streaming DataFrames — and assign every key the
    # SAME split a batch run assigns (engine- and mode-portable curation)
    from sparkcheck import sampling

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        .select(F.col("value").alias("k"))
    )
    w = {"train": 0.5, "test": 0.5}
    out = sampling.hash_split(stream, w, "k")
    q = (out.writeStream.format("memory").queryName("hsplit")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_hs"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT count(*) n FROM hsplit").collect()[0]["n"] >= 50:
                break
            time.sleep(1)
    finally:
        q.stop()
    streamed = {r["k"]: r["split"]
                for r in spark.sql("SELECT * FROM hsplit").collect()}
    assert len(streamed) >= 50
    batch = spark.createDataFrame([(k,) for k in streamed], "k long")
    batch_assign = {r["k"]: r["split"]
                    for r in sampling.hash_split(batch, w, "k").collect()}
    assert streamed == batch_assign


def test_streaming_profile_monitor_merged_equals_rescan(spark, tmp_path):
    """Three micro-batches through the monitor: the folded profile must
    equal a full rescan exactly, and a redelivered batch id must be a
    no-op (foreachBatch's at-least-once contract made exactly-once by
    the manifest)."""
    from sparkcheck.states import merge_states, moments
    from sparkcheck.streaming import StateMonitor

    df = spark.createDataFrame(
        [(float(i), float(i % 13)) for i in range(3000)], "a double, b double"
    )
    store = ParquetStore(str(tmp_path / "store"))
    kind = moments(["a", "b"])
    mon = StateMonitor(store, [kind], run_id="sp")
    batches = [df.where(F.pmod(F.col("a").cast("long"), F.lit(3)) == i) for i in range(3)]
    for i, b in enumerate(batches):
        mon(b, i)
    mon(batches[1], 1)  # redelivery must not double-count
    prof = {
        r["column"]: r
        for r in merge_states(mon.states(spark, kind), round_to=6).collect()
    }
    full = df.agg(
        F.count("a").alias("n"),
        F.round(F.avg("a"), 6).alias("mean"),
        F.round(F.stddev_samp("a"), 6).alias("sd"),
        F.min("a").alias("mn"),
        F.max("a").alias("mx"),
    ).collect()[0]
    assert prof["a"]["n"] == full["n"] == 3000
    assert prof["a"]["mean"] == full["mean"]
    assert prof["a"]["stddev_samp"] == full["sd"]
    assert (prof["a"]["mn"], prof["a"]["mx"]) == (full["mn"], full["mx"])
    # states table holds exactly one committed row per (batch, column)
    st = store.read(spark, "column_states")
    assert st.count() == 6  # 3 batches x 2 columns — no duplicate from replay


def test_streaming_profile_monitor_excludes_uncommitted_orphans(spark, tmp_path):
    """A state row appended without its manifest commit (crash between
    append and commit) must not contribute to the profile; after the
    batch is redelivered and committed, the NEWEST row wins."""
    from sparkcheck.runner import _utcnow
    from sparkcheck.states import column_states, merge_states, moments
    from sparkcheck.streaming import StateMonitor

    df = spark.createDataFrame([(float(i),) for i in range(100)], "a double")
    store = ParquetStore(str(tmp_path / "store"))
    kind = moments(["a"])
    mon = StateMonitor(store, [kind], run_id="sp2")
    mon(df, 0)
    # orphan: states for batch=1 written with WRONG data, no commit
    bad = spark.createDataFrame([(1e9,)], "a double")
    orphan = column_states(bad, ["a"], state_key="'batch=1'").select(
        F.lit("sp2").alias("run_id"), "*", F.lit(_utcnow()).alias("ts")
    )
    store.append_small("column_states", orphan)
    prof = {r["column"]: r for r in merge_states(mon.states(spark, kind)).collect()}
    assert prof["a"]["n"] == 100 and prof["a"]["mx"] == 99.0  # orphan excluded
    # redelivery commits batch=1 with the REAL data; newest row wins
    real = spark.createDataFrame([(float(i),) for i in range(100, 200)], "a double")
    mon(real, 1)
    prof = {r["column"]: r for r in merge_states(mon.states(spark, kind)).collect()}
    assert prof["a"]["n"] == 200 and prof["a"]["mx"] == 199.0


def test_streaming_profile_monitor_live(spark, tmp_path):
    """Live rate-source stream: the profile over committed batches must
    match the committed batches' own data exactly (n = sum of batch
    sizes; mean over the contiguous value range)."""
    from sparkcheck.states import merge_states, moments
    from sparkcheck.streaming import StateMonitor

    store = ParquetStore(str(tmp_path / "store"))
    kind = moments(["value"])
    mon = StateMonitor(store, [kind], run_id="spl")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        .select(F.col("value").cast("double").alias("value"))
    )
    q = (stream.writeStream.foreachBatch(mon)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if len(store.committed_partitions("spl")) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    prof = {r["column"]: r for r in merge_states(mon.states(spark, kind)).collect()}
    row = prof["value"]
    # rate source emits a contiguous run 0..n-1 across batches; committed
    # batches may be a prefix of what streamed, so recompute the expected
    # stats from the committed states' own mn/mx span
    assert row["n"] >= 1
    assert row["mn"] == 0.0
    assert row["mx"] == row["n"] - 1  # contiguous values, no gaps/dups
    assert abs(row["mean"] - row["mx"] / 2.0) < 1e-6


def test_streaming_drift_monitor_merged_equals_rescan(spark, tmp_path):
    """Three micro-batches through the drift monitor: the folded corpus
    histogram must equal a full rescan with the same edges, the KL must
    equal the batch KL expectation's observed_value on the union, and a
    redelivered batch id must be a no-op."""
    from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df
    from sparkcheck.states import drift_from_states, histogram, merge_histogram_states
    from sparkcheck.streaming import StateMonitor

    edges = [0.0, 10.0, 20.0, 30.0]
    df = spark.createDataFrame(
        [(float((i * 13) % 30),) for i in range(3000)], "x double"
    )
    store = ParquetStore(str(tmp_path / "store_drift"))
    kind = histogram({"x": edges})
    mon = StateMonitor(store, [kind], run_id="sd")
    batches = [
        df.where(F.pmod(F.col("x").cast("long"), F.lit(3)) == i) for i in range(3)
    ]
    for i, b in enumerate(batches):
        mon(b, i)
    mon(batches[2], 2)  # redelivery must not double-count
    merged = merge_histogram_states(mon.states(spark, kind))
    hist = {r["bin"]: r["cnt"] for r in merged.collect()}
    assert sum(hist.values()) == 3000
    po = {"bins": edges, "weights": [0.3, 0.4, 0.3]}
    suite = ExpectationSuite(
        "kl",
        expectations=[
            ExpectationConfiguration.from_dict(
                {
                    "expectation_type": "expect_column_kl_divergence_to_be_less_than",
                    "kwargs": {"column": "x", "partition_object": po, "threshold": 10.0},
                }
            )
        ],
    )
    evr = validate_df(df, suite, result_format="SUMMARY")["results"][0]
    drift = drift_from_states(merged, {"x": po})
    assert drift[0]["kl"] == pytest.approx(evr["result"]["observed_value"], rel=1e-12)
    assert drift[0]["n"] == 3000
    # states table holds one committed row per (batch, bin) — no replay dups
    assert store.read(spark, "histogram_states").count() == 3 * (len(edges) + 1)


def test_streaming_drift_monitor_orphan_superseded(spark, tmp_path):
    """An orphan state row (append without manifest commit) must not
    contribute; after redelivery commits the batch, the newest row wins
    per (state_key, column, bin)."""
    from sparkcheck.runner import _utcnow
    from sparkcheck.states import histogram, histogram_states, merge_histogram_states
    from sparkcheck.streaming import StateMonitor

    edges = [0.0, 10.0, 20.0, 30.0]
    store = ParquetStore(str(tmp_path / "store_drift2"))
    kind = histogram({"x": edges})
    mon = StateMonitor(store, [kind], run_id="sd2")
    mon(spark.createDataFrame([(5.0,)] * 10, "x double"), 0)
    orphan = histogram_states(
        spark.createDataFrame([(25.0,)] * 999, "x double"),
        {"x": edges},
        state_key="'batch=1'",
    ).select(F.lit("sd2").alias("run_id"), "*", F.lit(_utcnow()).alias("ts"))
    store.append_small("histogram_states", orphan)
    hist = {r["bin"]: r["cnt"]
            for r in merge_histogram_states(mon.states(spark, kind)).collect()}
    assert sum(hist.values()) == 10 and hist[1] == 10  # orphan excluded
    mon(spark.createDataFrame([(15.0,)] * 7, "x double"), 1)  # real batch 1
    hist = {r["bin"]: r["cnt"]
            for r in merge_histogram_states(mon.states(spark, kind)).collect()}
    assert sum(hist.values()) == 17 and hist[2] == 7 and hist[3] == 0
