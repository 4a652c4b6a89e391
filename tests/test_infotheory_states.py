"""Information-theory profile + Benford + mergeable metric states."""

import math

import pytest
from pyspark.sql import functions as F

from sparkcheck import infotheory as it
from sparkcheck import states as st


# ---------------------------------------------------------------------------
# entropy
# ---------------------------------------------------------------------------


def test_entropy_uniform_is_ln_k(spark):
    df = spark.createDataFrame([(i % 4,) for i in range(400)], "x int")
    row = it.entropy_profile(df, ["x"]).collect()[0]
    assert row["n"] == 400
    assert row["distinct_values"] == 4
    assert row["entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert row["normalized_entropy"] == pytest.approx(1.0, abs=1e-6)


def test_entropy_constant_and_nulls(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), (None,)], "x string"
    )
    row = it.entropy_profile(df, ["x"]).collect()[0]
    assert row["n"] == 3  # nulls excluded
    assert row["entropy"] == 0.0
    assert row["normalized_entropy"] == 0.0  # single value: defined as 0


def test_entropy_multi_column_one_pass(spark):
    df = spark.createDataFrame(
        [(i % 2, i % 8) for i in range(80)], "a int, b int"
    )
    rows = {r["column"]: r for r in it.entropy_profile(df, ["a", "b"]).collect()}
    assert rows["a"]["entropy"] == pytest.approx(math.log(2), abs=1e-6)
    assert rows["b"]["entropy"] == pytest.approx(math.log(8), abs=1e-6)


def test_entropy_empty_columns_raises(spark):
    df = spark.range(3)
    with pytest.raises(ValueError):
        it.entropy_profile(df, [])


# ---------------------------------------------------------------------------
# mutual information
# ---------------------------------------------------------------------------


def test_mi_of_identical_column_is_entropy(spark):
    df = spark.createDataFrame([(i % 3, i % 3) for i in range(300)], "a int, b int")
    row = it.mutual_information(df, "a", "b").collect()[0]
    assert row["mi"] == pytest.approx(math.log(3), abs=1e-6)
    assert row["nmi"] == pytest.approx(1.0, abs=1e-6)
    assert row["pair_cardinality"] == 3


def test_mi_independent_is_zero(spark):
    # full factorial design: exactly independent marginals
    df = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(5) for _ in range(3)],
        "a int, b int",
    )
    row = it.mutual_information(df, "a", "b").collect()[0]
    assert row["mi"] == pytest.approx(0.0, abs=1e-9)
    assert row["nmi"] == pytest.approx(0.0, abs=1e-9)


def test_mi_constant_side_nmi_zero(spark):
    df = spark.createDataFrame([(1, i % 3) for i in range(30)], "a int, b int")
    row = it.mutual_information(df, "a", "b").collect()[0]
    assert row["mi"] == pytest.approx(0.0, abs=1e-9)
    assert row["nmi"] == 0.0  # H(a) = 0 -> defined as 0, not NaN


def test_mi_null_rows_excluded_and_cap(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, None), (None, 2), (2, 2)], "a int, b int"
    )
    row = it.mutual_information(df, "a", "b").collect()[0]
    assert row["n"] == 2  # only both-present rows
    with pytest.raises(ValueError, match="max_groups"):
        it.mutual_information(df, "a", "b", max_groups=1)


# ---------------------------------------------------------------------------
# Benford
# ---------------------------------------------------------------------------


def test_benford_digit_extraction_edges(spark):
    # sub-1 values, scientific-notation renderings, power-of-ten boundary
    df = spark.createDataFrame(
        [(0.00123,), (1000.0,), (9.99,), (0.5,), (2e-7,), (-5.0,), (0.0,), (None,)],
        "x double",
    )
    rows = it.benford_profile(df, "x").collect()
    by_digit = {r["digit"]: r["n"] for r in rows}
    assert len(rows) == 9  # all digits present even with zero counts
    assert by_digit[1] == 2  # 0.00123 and 1000.0
    assert by_digit[9] == 1
    assert by_digit[5] == 1
    assert by_digit[2] == 1  # 2e-7
    assert sum(by_digit.values()) == 5  # <=0 and NULL excluded


def test_benford_perfect_conformity(spark):
    # counts proportional to Benford give chisq ~ 0 and mad ~ 0
    n = 10_000
    data = []
    for d in range(1, 10):
        data += [(float(d),)] * round(n * it.BENFORD_P[d])
    df = spark.createDataFrame(data, "x double")
    rows = it.benford_profile(df, "x").collect()
    assert rows[0]["mad"] < 1e-4
    assert rows[0]["chisq"] < 1.0
    for r in rows:
        assert r["observed_p"] == pytest.approx(r["expected_p"], abs=1e-4)


# ---------------------------------------------------------------------------
# mergeable states
# ---------------------------------------------------------------------------


def _direct_profile(df, col):
    return df.agg(
        F.count(col).alias("n"),
        F.avg(col).alias("mean"),
        F.stddev_samp(col).alias("std"),
        F.min(col).alias("mn"),
        F.max(col).alias("mx"),
    ).collect()[0]


def test_merge_equals_full_rescan(spark):
    df = spark.createDataFrame(
        [(i % 7, 1000.0 + (i * 37 % 101) * 0.25) for i in range(5000)],
        "k int, v double",
    )
    states = st.column_states(df, ["v"], state_key="k")
    assert states.count() == 7
    merged = st.merge_states(states, round_to=6).collect()[0]
    direct = _direct_profile(df, "v")
    assert merged["n"] == direct["n"]
    assert merged["mean"] == pytest.approx(direct["mean"], abs=1e-6)
    assert merged["stddev_samp"] == pytest.approx(direct["std"], abs=1e-6)
    assert merged["mn"] == direct["mn"] and merged["mx"] == direct["mx"]


def test_merge_is_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, float(i * i % 997)) for i in range(3000)], "i long, v double"
    )
    a = st.merge_states(st.column_states(df, ["v"], "pmod(i, 3)")).collect()[0]
    b = st.merge_states(st.column_states(df, ["v"], "pmod(i, 17)")).collect()[0]
    assert a == b


def test_states_nulls_and_all_null_partition(spark):
    df = spark.createDataFrame(
        [(0, 1.0), (0, None), (1, None), (1, None)], "k int, v double"
    )
    states = st.column_states(df, ["v"], state_key="k")
    rows = {r["state_key"]: r for r in states.collect()}
    assert rows[1]["n"] == 0 and rows[1]["n_null"] == 2
    assert rows[1]["m2"] == 0.0 and rows[1]["s"] == 0.0  # merge-safe zeros
    merged = st.merge_states(states).collect()[0]
    assert merged["n"] == 1 and merged["n_null"] == 3
    assert merged["mean"] == 1.0
    assert merged["stddev_samp"] is None  # n <= 1: undefined, not 0


def test_update_states_incremental_and_recommit(spark, tmp_path):
    full = spark.createDataFrame(
        [(i % 4, float(i)) for i in range(400)], "k int, v double"
    )
    old = st.column_states(full.where("k < 3"), ["v"], "k")
    path = str(tmp_path / "states.parquet")
    old.write.parquet(path)  # persistence round-trip, the resume story
    persisted = spark.read.parquet(path)
    # commit partition 3 AND recommit partition 2 (last-write-wins)
    delta = full.where("k >= 2")
    refreshed = st.update(st.moments(["v"]), persisted, delta, "k")
    assert refreshed.count() == 4  # k=2 replaced, not duplicated
    merged = st.merge_states(refreshed).collect()[0]
    direct = _direct_profile(full, "v")
    assert merged["n"] == direct["n"]
    assert merged["mean"] == pytest.approx(direct["mean"], abs=1e-6)
    assert merged["stddev_samp"] == pytest.approx(direct["std"], abs=1e-6)


def test_states_hll_distinct_within_tolerance(spark):
    if not st._HAS_HLL:
        pytest.skip("pyspark without hll_sketch_agg")
    df = spark.createDataFrame([(i % 5, float(i % 1000)) for i in range(5000)], "k int, v double")
    states = st.column_states(df, ["v"], "k", include_hll=True)
    merged = st.merge_states(states).collect()[0]
    assert merged["approx_distinct"] == pytest.approx(1000, rel=0.05)


def test_states_default_key_is_partition_id(spark):
    df = spark.range(100).select(F.col("id").cast("double").alias("v")).repartition(4)
    states = st.column_states(df, ["v"])
    assert states.select("state_key").distinct().count() <= 4
    merged = st.merge_states(states).collect()[0]
    assert merged["n"] == 100 and merged["mean"] == pytest.approx(49.5)


# ---------------------------------------------------------------------------
# suite-level expectations
# ---------------------------------------------------------------------------


def test_entropy_expectation_in_suite(spark):
    from sparkcheck import ExpectationSuite, validate_df

    df = spark.createDataFrame([(i % 4, float(i)) for i in range(200)], "k int, v double")
    s = ExpectationSuite("info")
    s.add("expect_column_entropy_to_be_between", column="k",
          min_value=1.38, max_value=1.39)  # ln 4 = 1.3863
    s.add("expect_column_entropy_to_be_between", column="k", normalized=True,
          min_value=0.999, max_value=1.0)
    r = validate_df(df, s, result_format="SUMMARY")
    assert r["success"], r
    assert r["results"][0]["result"]["observed_value"] == pytest.approx(
        math.log(4), abs=1e-9
    )


def test_mi_expectation_bounds_and_row_condition(spark):
    from sparkcheck import ExpectationSuite, validate_df

    df = spark.createDataFrame(
        [(i % 3, i % 3, i % 2) for i in range(300)], "a int, b int, g int"
    )
    s = ExpectationSuite("mi")
    s.add("expect_column_pair_mutual_information_to_be_between",
          column_A="a", column_B="b", normalized=True, min_value=0.99)
    s.add("expect_column_pair_mutual_information_to_be_between",
          column_A="a", column_B="g", max_value=0.01,
          row_condition="g = 0", condition_parser="spark")
    r = validate_df(df, s, result_format="SUMMARY")
    assert all(e["success"] for e in r["results"]), r


def test_benford_expectation_pass_fail_and_empty(spark):
    from sparkcheck import ExpectationSuite, validate_df

    n = 2000
    data = []
    for d in range(1, 10):
        data += [(float(d) * 10,)] * round(n * it.BENFORD_P[d])
    conforming = spark.createDataFrame(data, "x double")
    s = ExpectationSuite("benford")
    s.add("expect_column_benford_mad_to_be_less_than", column="x", threshold=0.006)
    r = validate_df(conforming, s, result_format="SUMMARY")
    assert r["success"]
    assert "digit_counts" in r["results"][0]["result"]["details"]

    uniform = spark.createDataFrame([(float(d),) for d in range(1, 10)] * 100, "x double")
    s2 = ExpectationSuite("benford2")
    s2.add("expect_column_benford_mad_to_be_less_than", column="x", threshold=0.015)
    assert not validate_df(uniform, s2)["success"]

    empty = spark.createDataFrame([(-1.0,), (None,)], "x double")
    s3 = ExpectationSuite("benford3")
    s3.add("expect_column_benford_mad_to_be_less_than", column="x")
    r3 = validate_df(empty, s3, result_format="SUMMARY")
    assert r3["success"]  # vacuous: no in-domain values
    assert r3["results"][0]["result"]["observed_value"] is None


# ---------------------------------------------------------------------------
# information gain
# ---------------------------------------------------------------------------


def test_information_gain_leak_and_noise(spark):
    # f_leak IS the label; f_noise is independent; f_half determines the
    # label partially
    rows = [(i % 4, i % 4, i % 5, (i % 4) // 2) for i in range(400)]
    df = spark.createDataFrame(rows, "label int, f_leak int, f_noise int, f_half int")
    out = {r["feature"]: r for r in it.information_gain(
        df, "label", ["f_leak", "f_noise", "f_half"]).collect()}
    assert out["f_leak"]["gain"] == pytest.approx(math.log(4), abs=1e-6)
    assert out["f_leak"]["gain_ratio"] == pytest.approx(1.0, abs=1e-6)
    assert out["f_noise"]["gain"] == pytest.approx(0.0, abs=1e-9)
    # f_half reveals one of two bits: half the label entropy
    assert out["f_half"]["gain"] == pytest.approx(math.log(2), abs=1e-6)
    assert out["f_half"]["gain_ratio"] == pytest.approx(0.5, abs=1e-6)
    assert all(r["label_entropy"] == pytest.approx(math.log(4), abs=1e-6)
               for r in out.values())


def test_information_gain_constant_label_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, None), (None, 3)], "label int, f int"
    )
    row = it.information_gain(df, "label", ["f"]).collect()[0]
    assert row["n"] == 2  # null label + null feature rows excluded
    assert row["label_entropy"] == 0.0 and row["gain_ratio"] == 0.0


def test_information_gain_cap_and_empty(spark):
    df = spark.createDataFrame([(i % 2, i) for i in range(100)], "label int, f int")
    with pytest.raises(ValueError, match="max_groups"):
        it.information_gain(df, "label", ["f"], max_groups=10)
    with pytest.raises(ValueError):
        it.information_gain(df, "label", [])


# ---------------------------------------------------------------------------
# review-finding regressions
# ---------------------------------------------------------------------------


def test_entropy_nan_is_null_and_all_null_column_present(spark):
    df = spark.createDataFrame(
        [(1.0, None), (1.0, None), (float("nan"), None), (float("nan"), None)],
        "x double, y double",
    )
    rows = {r["column"]: r for r in it.entropy_profile(df, ["x", "y"]).collect()}
    # NaN ≡ NULL: only the two 1.0 rows are in-domain -> constant column
    assert rows["x"]["n"] == 2 and rows["x"]["entropy"] == 0.0
    # all-null column still appears, with no-data (not zero-entropy) marks
    assert rows["y"]["n"] == 0 and rows["y"]["distinct_values"] == 0
    assert rows["y"]["entropy"] is None and rows["y"]["normalized_entropy"] is None


def test_mi_nan_is_null(spark):
    df = spark.createDataFrame(
        [(1.0, 1), (float("nan"), 2), (2.0, 2)], "a double, b int"
    )
    row = it.mutual_information(df, "a", "b").collect()[0]
    assert row["n"] == 2  # NaN row out of domain


def test_mi_expectation_all_null_side_is_vacuous(spark):
    from sparkcheck import ExpectationSuite, validate_df

    df = spark.createDataFrame([(None, 1), (None, 2)], "a int, b int")
    s = ExpectationSuite("mi_empty")
    s.add("expect_column_pair_mutual_information_to_be_between",
          column_A="a", column_B="b", normalized=True, max_value=0.1)
    r = validate_df(df, s, result_format="SUMMARY")
    # empty joint domain -> observed None -> between(None) fails (explicit,
    # not a spurious 0.0 pass)
    assert not r["results"][0]["success"]
    assert r["results"][0]["result"]["observed_value"] is None


def test_benford_nan_and_inf_excluded(spark):
    df = spark.createDataFrame(
        [(1.0,), (float("nan",),), (float("inf"),), (9.0,)], "x double"
    )
    rows = it.benford_profile(df, "x").collect()
    assert sum(r["n"] for r in rows) == 2  # NaN/inf out of domain
    assert {r["digit"]: r["n"] for r in rows}[1] == 1


def test_information_gain_all_null_feature_present(spark):
    df = spark.createDataFrame(
        [(i % 2, i % 3, None) for i in range(60)],
        "label int, f int, dead int",
    )
    out = {r["feature"]: r for r in it.information_gain(df, "label", ["f", "dead"]).collect()}
    assert out["dead"]["n"] == 0 and out["dead"]["gain"] is None
    assert out["f"]["n"] == 60


def test_update_states_column_mismatch_raises(spark):
    df = spark.createDataFrame([(0, 1.0, 2.0)], "k int, v double, w double")
    old = st.column_states(df, ["v"], "k")
    with pytest.raises(ValueError, match="column set"):
        st.update(st.moments(["v", "w"]), old, df, "k")


# ---------------------------------------------------------------------------
# round-5 hardening: stable merge, NULL state_key, corrupt-state guard
# ---------------------------------------------------------------------------


def test_merge_stable_when_mean_dominates_sigma(spark):
    # |mean| = 1e9, sigma ~ 0.5: the naive sum(s_i^2/n_i) - S^2/N form
    # loses ALL variance digits here (terms ~4e21, ulp ~9e5 >> M2 ~1e3);
    # the stable grand-mean fold must still match the analytic stddev
    df = spark.createDataFrame(
        [(i % 8, 1.0e9 + (i % 2)) for i in range(4000)], "k int, v double"
    )
    merged = st.merge_states(st.column_states(df, ["v"], "k")).collect()[0]
    true_std = math.sqrt(4000 * 0.25 / 3999)  # half 0 / half 1 offsets
    assert merged["stddev_samp"] == pytest.approx(true_std, abs=1e-4)
    assert merged["mean"] == pytest.approx(1.0e9 + 0.5, abs=1e-3)


def test_update_states_null_state_key_last_write_wins(spark):
    # a nullable partition column: the NULL-keyed commit unit must be
    # REPLACED on recommit, not kept and double-counted
    old = spark.createDataFrame(
        [(0, 1.0), (0, 3.0), (None, 100.0), (None, 200.0)], "k int, v double"
    )
    existing = st.column_states(old, ["v"], "k")
    # recommit the NULL partition with different data
    delta = spark.createDataFrame([(None, 50.0), (None, 70.0)], "k int, v double")
    refreshed = st.update(st.moments(["v"]), existing, delta, "k")
    assert refreshed.count() == 2  # k=0 kept, NULL replaced (not 3 rows)
    merged = st.merge_states(refreshed).collect()[0]
    expected = old.where("k = 0").unionByName(delta)
    direct = _direct_profile(expected, "v")
    assert merged["n"] == direct["n"] == 4
    assert merged["mean"] == pytest.approx(direct["mean"], abs=1e-6)
    assert merged["stddev_samp"] == pytest.approx(direct["std"], abs=1e-6)


def test_merge_states_corrupt_negative_m2_raises(spark):
    from pyspark.errors import PySparkException

    schema = "state_key int, column string, n long, n_null long, s double, mean double, m2 double, mn double, mx double"
    bad = spark.createDataFrame(
        [(0, "v", 10, 0, 50.0, 5.0, -100.0, 1.0, 9.0)], schema
    )
    with pytest.raises(PySparkException):
        st.merge_states(bad).collect()
    # float dust stays silent: clamps to zero variance
    dust = spark.createDataFrame(
        [(0, "v", 10, 0, 50.0, 5.0, -1e-12, 5.0, 5.0)], schema
    )
    row = st.merge_states(dust).collect()[0]
    assert row["variance_samp"] == 0.0 and row["stddev_samp"] == 0.0


def test_mi_and_gain_release_their_caches(spark):
    # long-lived sessions profile many pairs; each call must unpersist
    # its joint frame after materializing the dimension-sized result
    # assert no NET growth rather than absolute emptiness: other modules'
    # localCheckpoint RDDs are legitimately retained until GC, so under
    # full-suite ordering the absolute count is not ours to pin
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(i % 3, i % 4, i % 2) for i in range(120)], "a int, b int, y int"
    )
    mi = it.mutual_information(df, "a", "b").collect()
    ig = it.information_gain(df, "y", ["a", "b"]).collect()
    assert len(mi) == 1 and len(ig) == 2
    assert jsc.getPersistentRDDs().size() <= before


# ---------------------------------------------------------------------------
# driver-side Arrow control-plane appends (ParquetStore.append_rows/_small)
# ---------------------------------------------------------------------------


def test_append_rows_mixes_with_spark_appends(spark, tmp_path):
    """Files written by the Arrow fast path and by the Spark append path
    into the same store table must read back as ONE table with identical
    schema and values — the store contract the checkpoint runner relies
    on (control-plane rows go through append_rows, violations through
    append)."""
    from datetime import datetime

    from sparkcheck.runner import ParquetStore
    from sparkcheck.schema import LINEAGE_SCHEMA

    store = ParquetStore(str(tmp_path / "store"))
    ts = datetime(2026, 1, 2, 3, 4, 5, 123456)
    row_a = ("r1", "bucket=0", None, "doc_count", 10.0, ts)
    row_b = ("r1", "bucket=1", None, "doc_count", 11.0, ts)
    store.append("lineage", spark.createDataFrame([row_a], schema=LINEAGE_SCHEMA))
    store.append_rows("lineage", [row_b], LINEAGE_SCHEMA)
    out = store.read(spark, "lineage")
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        f.dataType.simpleString() for f in LINEAGE_SCHEMA.fields
    ]
    rows = {r["partition_id"]: r for r in out.collect()}
    assert set(rows) == {"bucket=0", "bucket=1"}
    # timestamps round-trip bit-identically across both write paths
    assert rows["bucket=0"]["ts"] == rows["bucket=1"]["ts"] == ts
    assert rows["bucket=1"]["value"] == 11.0


def test_append_rows_empty_still_creates_readable_table(spark, tmp_path):
    from sparkcheck.runner import ParquetStore
    from sparkcheck.schema import RESULT_SCHEMA

    store = ParquetStore(str(tmp_path / "store"))
    store.append_rows("results", [], RESULT_SCHEMA)
    out = store.read(spark, "results")
    assert out.count() == 0
    assert "unexpected_count" in out.columns


def test_append_small_roundtrips_states_frame(spark, tmp_path):
    """append_small (toArrow + driver write) must round-trip a states
    frame exactly — merge over a store written this way equals merge
    over the in-memory frame."""
    from sparkcheck.runner import ParquetStore

    df = spark.createDataFrame(
        [(float(i), float(i % 7)) for i in range(1000)], "a double, b double"
    )
    frame = st.column_states(df, ["a", "b"], state_key="pmod(cast(a as int), 4)")
    store = ParquetStore(str(tmp_path / "store"))
    store.append_small("column_states", frame)
    merged_store = st.merge_states(store.read(spark, "column_states")).collect()
    merged_mem = st.merge_states(frame).collect()
    key = lambda rows: {r["column"]: r.asDict() for r in rows}
    assert key(merged_store) == key(merged_mem)


def test_append_rows_rejects_wrong_width_rows(spark, tmp_path):
    """zip(*rows) would silently truncate on width mismatch — the store
    must raise instead (parity with the Spark path's schema error)."""
    import pytest as _pytest

    from sparkcheck.runner import ParquetStore
    from sparkcheck.schema import LINEAGE_SCHEMA

    store = ParquetStore(str(tmp_path / "store"))
    with _pytest.raises(ValueError, match="fields"):
        store.append_rows("lineage", [("r1", "p0", None, "m", 1.0)], LINEAGE_SCHEMA)
    with _pytest.raises(ValueError, match="fields"):
        store.append_rows(
            "lineage",
            [("r1", "p0", None, "m", 1.0, None, "extra")],
            LINEAGE_SCHEMA,
        )


def test_append_rows_tz_aware_matches_spark_path(spark, tmp_path):
    """A tz-aware datetime must land on the same instant through both
    write paths (the timegm branch of the toInternal mirror)."""
    from datetime import datetime, timedelta, timezone

    from sparkcheck.runner import ParquetStore
    from sparkcheck.schema import LINEAGE_SCHEMA

    store = ParquetStore(str(tmp_path / "store"))
    tz9 = timezone(timedelta(hours=9))
    ts = datetime(2026, 3, 4, 9, 0, 0, 250000, tzinfo=tz9)  # == 00:00:00.25Z
    store.append("lineage", spark.createDataFrame(
        [("spark", "p", None, "m", 1.0, ts)], schema=LINEAGE_SCHEMA))
    store.append_rows("lineage", [("arrow", "p", None, "m", 1.0, ts)], LINEAGE_SCHEMA)
    rows = {r["run_id"]: r["ts"] for r in store.read(spark, "lineage").collect()}
    assert rows["spark"] == rows["arrow"]


def test_has_partition_matches_committed_partitions(spark, tmp_path):
    from sparkcheck.runner import ParquetStore, store_has_partition

    store = ParquetStore(str(tmp_path / "store"))
    store.commit_partition("r1", "bucket=3", {"ok": True})
    assert store.has_partition("r1", "bucket=3")
    assert not store.has_partition("r1", "bucket=4")
    assert not store.has_partition("r2", "bucket=3")
    assert store_has_partition(store, "r1", "bucket=3")
    assert "bucket=3" in store.committed_partitions("r1")


def test_committed_profile_semi_join_branch(spark):
    """>1000 committed keys takes the broadcast-semi-join filter branch;
    results must equal merging the same keys directly."""
    df = spark.createDataFrame([(float(i),) for i in range(4000)], "a double")
    frame = st.column_states(
        df, ["a"], state_key="concat('k', cast(cast(a as int) % 1200 as string))"
    ).withColumn("ts", F.current_timestamp())
    keys = [f"k{i}" for i in range(1200)]
    via_join = {r["column"]: r.asDict()
                for r in st.merge_states(st.latest_committed(frame, keys)).collect()}
    direct = {r["column"]: r.asDict()
              for r in st.merge_states(frame.drop("ts")).collect()}
    assert via_join == direct


def test_kappa_expectation_pass_fail_and_degenerate(spark):
    from sparkcheck import ExpectationSuite, validate_df

    # identical labelings: kappa 1 passes min 0.9; shuffled-independent
    # labelings: kappa ~0 fails min 0.5
    df = spark.createDataFrame(
        [(str(i % 3), str(i % 3), str((i * 7) % 2)) for i in range(300)],
        "a string, b string, g string",
    )
    s = ExpectationSuite("kappa")
    s.add("expect_column_pair_cohens_kappa_to_be_between",
          column_A="a", column_B="b", min_value=0.9)
    s.add("expect_column_pair_cohens_kappa_to_be_between",
          column_A="a", column_B="g", min_value=0.5)
    r = validate_df(df, s, result_format="SUMMARY")
    assert r["results"][0]["success"] is True, r
    assert r["results"][1]["success"] is False
    assert r["results"][0]["result"]["observed_value"] == 1.0

    # degenerate (both sides one constant equal value): kappa NULL -> fail
    const = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    s2 = ExpectationSuite("kappa2")
    s2.add("expect_column_pair_cohens_kappa_to_be_between",
           column_A="a", column_B="b", min_value=0.0)
    r2 = validate_df(const, s2, result_format="SUMMARY")
    assert r2["results"][0]["success"] is False
    assert r2["results"][0]["result"]["observed_value"] is None
