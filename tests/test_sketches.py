"""Bloom membership tier + Misra-Gries heavy hitters (sparkcheck.sketches)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df
from sparkcheck.referential import anti_join_violations
from sparkcheck.sketches import (
    bloom_build,
    bloom_flag,
    bloom_referential_check,
    bloom_referential_violations,
    heavy_hitter_report,
    heavy_hitters,
)


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    dim = spark.range(0, 5000).select(F.concat(F.lit("k"), "id").alias("key"))
    bf = bloom_build(dim, "key", fpp=0.01)
    flagged = bloom_flag(dim, "key", bf)
    misses = flagged.where(~F.col("__bloom_hit")).count()
    assert misses == 0  # a present key can NEVER miss


def test_bloom_fpp_within_band(spark):
    dim = spark.range(0, 20000).select(F.concat(F.lit("in"), "id").alias("key"))
    bf = bloom_build(dim, "key", fpp=0.01)
    absent = spark.range(0, 20000).select(
        F.concat(F.lit("out"), "id").alias("key")
    )
    hits = bloom_flag(absent, "key", bf).where(F.col("__bloom_hit")).count()
    measured = hits / 20000
    assert measured <= 0.03, f"measured fpp {measured} above 3x configured 0.01"


def test_bloom_tiered_equals_anti_join_mixed_dtypes(spark):
    # int32 fact key vs int64 dim key must hash identically (string canon)
    fact = spark.range(0, 3000).select(
        (F.col("id") % 700).cast("int").alias("fk")
    )
    dim = spark.range(0, 700).where(F.col("id") % 13 != 0).select(
        F.col("id").alias("pk")
    )
    bf = bloom_build(dim, "pk", fpp=0.01)
    tiered = bloom_referential_violations(fact, "fk", dim, "pk", bloom=bf)
    exact = anti_join_violations(fact, "fk", dim, "pk")
    t = sorted(r["fk"] for r in tiered.collect())
    e = sorted(r["fk"] for r in exact.collect())
    assert t == e and len(t) > 0


def test_bloom_null_keys_not_violations(spark):
    fact = spark.createDataFrame(
        [("a",), (None,), ("zz",)], "fk string"
    )
    dim = spark.createDataFrame([("a",)], "pk string")
    bf = bloom_build(dim, "pk")
    viol = bloom_referential_violations(fact, "fk", dim, "pk", bloom=bf)
    assert [r["fk"] for r in viol.collect()] == ["zz"]
    # bloom_flag keeps the null row and flags it as a hit (non-violating)
    flagged = bloom_flag(fact, "fk", bf)
    null_row = flagged.where(F.col("fk").isNull()).collect()
    assert len(null_row) == 1 and null_row[0]["__bloom_hit"] is True


def test_bloom_empty_dim_everything_violates(spark):
    fact = spark.createDataFrame([("x",), ("y",)], "fk string")
    dim = spark.createDataFrame([], "pk string")
    bf = bloom_build(dim, "pk")
    viol = bloom_referential_violations(fact, "fk", dim, "pk", bloom=bf)
    assert viol.count() == 2
    # and certain tier alone already finds them (no join needed)
    certain = bloom_referential_violations(
        fact, "fk", dim, "pk", bloom=bf, exact=False
    )
    assert certain.count() == 2


def test_bloom_multi_shard_roundtrip(spark):
    dim = spark.range(0, 9000).select(F.concat(F.lit("s"), "id").alias("key"))
    bf = bloom_build(dim, "key", fpp=0.01, max_shard_keys=2000)
    assert bf.n_shards >= 5
    misses = bloom_flag(dim, "key", bf).where(~F.col("__bloom_hit")).count()
    assert misses == 0
    assert bf.might_contain("s123") is True


def test_bloom_check_short_circuits_on_certain_violations(spark):
    fact = spark.range(0, 1000).select(F.concat(F.lit("v"), "id").alias("fk"))
    dim = spark.createDataFrame([("v1",), ("v2",)], "pk string")
    bf = bloom_build(dim, "pk")
    res = bloom_referential_check(fact, "fk", dim, "pk", mostly=0.9, bloom=bf)
    assert res["success"] is False and res["short_circuit"] is True
    assert res["tiers_run"] == 1
    assert res["unexpected_count_lower_bound"] >= 900  # fpp can only shrink it


def test_bloom_check_exact_tier_passes(spark):
    fact = spark.range(0, 1000).select((F.col("id") % 50).alias("fk"))
    dim = spark.range(0, 50).select(F.col("id").alias("pk"))
    bf = bloom_build(dim, "pk")
    res = bloom_referential_check(fact, "fk", dim, "pk", mostly=1.0, bloom=bf)
    assert res == {
        "success": True,
        "nonnull_count": 1000,
        "unexpected_count": 0,
        "certain_violations": 0,
        "tiers_run": 2,
        "short_circuit": False,
    }


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------


def _zipf_rows(n=20000, seed=7):
    rng = random.Random(seed)
    vals = []
    for _ in range(n):
        r = rng.random()
        if r < 0.18:
            vals.append("hot-A")
        elif r < 0.28:
            vals.append("hot-B")
        elif r < 0.33:
            vals.append("warm-C")
        else:
            vals.append(f"cold-{rng.randrange(5000)}")
    return vals


def test_heavy_hitters_match_exact_groupby(spark):
    vals = _zipf_rows()
    df = spark.createDataFrame([(v,) for v in vals], "v string").repartition(7)
    got = {
        (r["value"], r["cnt"])
        for r in heavy_hitters(df, "v", min_fraction=0.04, k=100).collect()
    }
    from collections import Counter

    n = len(vals)
    want = {(v, c) for v, c in Counter(vals).items() if c >= 0.04 * n}
    assert got == want and len(want) >= 3


def test_heavy_hitters_knife_edge_value_survives(spark):
    # one value at EXACTLY the threshold among high-cardinality noise
    n_noise, hot_n = 9900, 100  # total 10000, threshold 0.01 -> 100
    rows = [(f"n{i}",) for i in range(n_noise)] + [("edge",)] * hot_n
    df = spark.createDataFrame(rows, "v string").repartition(11)
    got = heavy_hitters(df, "v", min_fraction=0.01, k=400).collect()
    assert [(r["value"], r["cnt"]) for r in got] == [("edge", 100)]


def test_heavy_hitters_int_dtype_preserved(spark):
    df = spark.createDataFrame(
        [(1,)] * 50 + [(2,)] * 10 + [(i + 100,) for i in range(40)], "v long"
    ).repartition(5)
    rows = heavy_hitters(df, "v", min_fraction=0.3, k=64).collect()
    assert [(r["value"], r["cnt"]) for r in rows] == [(1, 50)]
    assert isinstance(rows[0]["value"], int)


def test_heavy_hitters_keep_date_decimal_timestamp_values(spark):
    """The sketch hands DATE, TIMESTAMP and DECIMAL items back in Spark's
    internal form; both readers return them in the column's type."""
    import datetime
    from decimal import Decimal

    from sparkcheck.sketches import certified_heavy_hitters, merge_mg_states, mg_states

    df = spark.sql(
        "SELECT id % 3 AS b, date_add(date'2024-01-02', o) AS d, "
        "CAST(1.25 + o AS DECIMAL(10,2)) AS m, timestamp_seconds(1704164645 + o) AS t "
        "FROM (SELECT id, CAST(id >= 7 AS INT) AS o FROM range(10))"
    )
    want = {
        "d": datetime.date(2024, 1, 2),
        "m": Decimal("1.25"),
        "t": datetime.datetime(2024, 1, 2, 3, 4, 5),
    }
    for col, value in want.items():
        got = heavy_hitters(df, col, min_fraction=0.5, k=16).collect()
        assert [(r["value"], r["cnt"]) for r in got] == [(value, 7)]
        merged = merge_mg_states(mg_states(df, col, 16, "b"), 16)
        cert = certified_heavy_hitters(merged, 0.5).collect()
        assert [(r["value"], r["lower"], r["verdict"]) for r in cert] == [(value, 7, "certified")]
    arr = df.selectExpr("b", "array(b) AS a")
    with pytest.raises(ValueError, match="array<bigint>"):
        mg_states(arr, "a", 16, "b")


def test_heavy_hitters_nulls_count_toward_n_not_candidates(spark):
    df = spark.createDataFrame(
        [("a",)] * 40 + [(None,)] * 60, "v string"
    ).repartition(3)
    rows = heavy_hitters(df, "v", min_fraction=0.35, k=64).collect()
    # N=100 (nulls included), a has 40 >= 35 -> hit; NULL never a value
    assert [(r["value"], r["cnt"]) for r in rows] == [("a", 40)]


def test_heavy_hitters_guard_rejects_uncoverable_fraction(spark):
    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="raise k"):
        heavy_hitters(df, "v", min_fraction=0.001, k=10)


def test_heavy_hitters_empty_input(spark):
    df = spark.createDataFrame([], "v string")
    assert heavy_hitters(df, "v", min_fraction=0.5, k=16).count() == 0


def test_heavy_hitter_expectation_success_and_failure(spark):
    skewed = spark.createDataFrame(
        [("hot",)] * 500 + [(f"u{i}",) for i in range(500)], "k string"
    )
    suite = ExpectationSuite(
        name="skew",
        expectations=[
            ExpectationConfiguration.from_dict(
                {
                    "expectation_type": "expect_column_value_frequencies_to_be_below",
                    "kwargs": {"column": "k", "max_fraction": 0.2, "k": 200},
                }
            )
        ],
    )
    rep = validate_df(skewed, suite, result_format="SUMMARY")
    r = rep["results"][0]
    assert r["success"] is False
    hh = r["result"]["details"]["heavy_hitters"]
    assert hh[0]["value"] == "hot" and hh[0]["count"] == 500
    assert abs(r["result"]["observed_value"] - 0.5) < 1e-12

    balanced = spark.createDataFrame(
        [(f"u{i % 50}",) for i in range(1000)], "k string"
    )
    rep2 = validate_df(balanced, suite, result_format="SUMMARY")
    assert rep2["results"][0]["success"] is True
    assert rep2["results"][0]["result"]["observed_value"] == 0.0


def test_heavy_hitter_report_fraction(spark):
    df = spark.createDataFrame([("x",)] * 30 + [("y",)] * 70, "v string")
    rep = heavy_hitter_report(df, "v", max_fraction=0.6, k=64)
    assert rep["element_count"] == 100
    assert rep["offenders"] == [{"value": "y", "count": 70, "fraction": 0.7}]


# ---------------------------------------------------------------------------
# Mergeable Misra-Gries states
# ---------------------------------------------------------------------------


def _skewed(spark, n=10000, hot=0.3, warm=0.12, tail=3000, seed=3, buckets=8):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        r = rng.random()
        if r < hot:
            v = "hot"
        elif r < hot + warm:
            v = "warm"
        elif r < hot + warm + 0.02:
            v = None
        else:
            v = f"tail{rng.randrange(tail)}"
        rows.append((i % buckets, v))
    return spark.createDataFrame(rows, "b int, v string").repartition(6)


def test_mg_states_bounds_sound_and_complete(spark):
    from sparkcheck.sketches import (
        certified_heavy_hitters,
        merge_mg_states,
        mg_states,
    )

    df = _skewed(spark)
    merged = merge_mg_states(mg_states(df, "v", k=50, state_key="b"), k=50)
    hh = certified_heavy_hitters(merged, 0.10).collect()
    exact = {
        r["v"]: r["c"]
        for r in df.groupBy("v").agg(F.count("*").alias("c")).collect()
    }
    true_hh = {v for v, c in exact.items() if v is not None and c >= 0.10 * 10000}
    cert = {r["value"] for r in hh if r["verdict"] == "certified"}
    indet = {r["value"] for r in hh if r["verdict"] == "indeterminate"}
    assert cert <= true_hh  # soundness: certified values really are HHs
    assert true_hh <= cert | indet  # completeness: no HH silently missing
    for r in hh:  # bounds always bracket the exact count
        c = exact.get(r["value"], 0)
        assert r["lower"] <= c <= r["upper"]
    # metadata: n counts every row (incl. nulls), stamped once
    meta = merged.agg(F.sum("pn").alias("n")).collect()[0]
    assert meta["n"] == 10000


def test_mg_states_indeterminate_near_threshold(spark):
    """With a tiny k the error band is wide: a value sitting just above
    the threshold must come back indeterminate, never silently dropped
    or falsely certified above its exact count."""
    from sparkcheck.sketches import (
        certified_heavy_hitters,
        merge_mg_states,
        mg_states,
    )

    # 300/2000 = 15% "edge", threshold 14%, huge tail with k=8 -> big err
    rows = [(i % 4, "edge") for i in range(300)]
    rows += [(i % 4, f"t{i}") for i in range(1700)]
    df = spark.createDataFrame(rows, "b int, v string").repartition(5)
    merged = merge_mg_states(mg_states(df, "v", k=8, state_key="b"), k=8)
    hh = {r["value"]: r for r in certified_heavy_hitters(merged, 0.14).collect()}
    assert "edge" in hh  # completeness
    r = hh["edge"]
    assert r["lower"] <= 300 <= r["upper"]
    if r["verdict"] == "certified":
        assert r["lower"] >= 0.14 * 2000  # certification is never a lie


def test_mg_states_update_last_write_wins(spark):
    from sparkcheck.sketches import (
        certified_heavy_hitters,
        merge_mg_states,
        mg_states,
        misra_gries,
    )
    from sparkcheck.states import update

    base = spark.createDataFrame(
        [(i % 4, "a" if i % 5 else "b") for i in range(2000)], "b int, v string"
    )
    st = mg_states(base, "v", k=16, state_key="b")
    # recommit bucket 3: only "z" now — old bucket-3 rows must vanish
    newd = spark.createDataFrame([(3, "z")] * 500, "b int, v string")
    updated = update(misra_gries("v", 16), st, newd, state_key="b")
    merged = merge_mg_states(updated, k=16)
    hh = {r["value"]: r for r in certified_heavy_hitters(merged, 0.2).collect()}
    direct = spark.createDataFrame(
        [(i % 4, "a" if i % 5 else "b") for i in range(2000) if i % 4 != 3]
        + [(3, "z")] * 500,
        "b int, v string",
    )
    exact = {
        r["v"]: r["c"]
        for r in direct.groupBy("v").agg(F.count("*").alias("c")).collect()
    }
    n = sum(exact.values())
    assert merged.agg(F.sum("pn")).collect()[0][0] == n
    for v, r in hh.items():
        assert r["lower"] <= exact.get(v, 0) <= r["upper"]
    true_hh = {v for v, c in exact.items() if c >= 0.2 * n}
    assert true_hh <= set(hh)


def test_mg_states_all_null_unit_and_null_values(spark):
    from sparkcheck.sketches import certified_heavy_hitters, merge_mg_states, mg_states

    df = spark.createDataFrame(
        [(0, "x"), (0, None), (1, None), (1, None)], "b int, v string"
    )
    st = mg_states(df, "v", k=4, state_key="b")
    rows = st.collect()
    # bucket 1 is all-null: one state row that still counts its rows
    b1 = [r for r in rows if r["state_key"] == "1"]
    assert len(b1) == 1 and b1[0]["pn"] == 2
    merged = merge_mg_states(st, k=4)
    assert merged.agg(F.sum("pn")).collect()[0][0] == 4
    hh = certified_heavy_hitters(merged, 0.2).collect()
    # nulls never counted as values
    assert [(r["value"], r["lower"], r["upper"], r["n"]) for r in hh] == [("x", 1, 1, 4)]


def test_runner_mg_states_resume_and_heavy_hitters(spark, tmp_path):
    """Crash after 2 buckets -> resume -> corpus heavy hitters from the
    committed MG states bracket the exact counts; the redelivery-safe
    set-level supersede keeps exactly one summary per partition."""
    from sparkcheck.runner import CheckpointRunner, ParquetStore

    n = 4000
    docs = spark.createDataFrame(
        [
            (i, "hot" if i % 3 == 0 else f"t{i % 500}")
            for i in range(n)
        ],
        "doc_id long, src string",
    )
    suite = ExpectationSuite(
        "s",
        expectations=[
            ExpectationConfiguration.from_dict(
                {
                    "expectation_type": "expect_column_values_to_not_be_null",
                    "kwargs": {"column": "doc_id"},
                }
            )
        ],
    )
    store = ParquetStore(str(tmp_path / "store_mg"))
    runner = CheckpointRunner(
        spark, store, n_buckets=4, profile_mg=("src", 64)
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(docs, suite, run_id="m1", fail_after=2)
    partial = runner.corpus_heavy_hitters("m1", 0.2).collect()
    assert {r["value"] for r in partial} >= {"hot"}
    runner.run(docs, suite, run_id="m1")  # resume
    hh = {r["value"]: r for r in runner.corpus_heavy_hitters("m1", 0.2).collect()}
    exact = n - (n - (n + 2) // 3)  # count of i % 3 == 0 in range(n)
    exact = len([i for i in range(n) if i % 3 == 0])
    assert "hot" in hh
    r = hh["hot"]
    assert r["lower"] <= exact <= r["upper"]
    assert r["n"] == n
    if r["verdict"] == "certified":
        assert r["lower"] >= 0.2 * n
    # tail values must never be certified (each is ~0.2% of rows)
    for v, row in hh.items():
        if v != "hot":
            assert row["verdict"] == "indeterminate"


def test_mg_states_null_state_key_keeps_value_rows(spark):
    """A NULL state_key unit (nullable partition column) must keep its
    value rows through the fold — a null-unsafe join would drop them
    while keeping err, breaking the f <= w + err completeness invariant."""
    from sparkcheck.sketches import (
        certified_heavy_hitters,
        merge_mg_states,
        mg_states,
    )

    rows = [(None, "hot")] * 1000 + [(None, f"t{i}") for i in range(50)]
    rows += [("k1", "cold")] * 10
    df = spark.createDataFrame(rows, "b string, v string").repartition(4)
    st = mg_states(df, "v", k=32, state_key="b")
    null_unit = st.where(F.col("state_key").isNull())
    assert [r["pn"] for r in null_unit.collect()] == [1050]
    alone = certified_heavy_hitters(merge_mg_states(null_unit, k=32), 0.5).collect()
    assert [r["value"] for r in alone if r["lower"] > 0] == ["hot"]
    merged = merge_mg_states(st, k=32)
    hh = {r["value"]: r for r in certified_heavy_hitters(merged, 0.5).collect()}
    assert "hot" in hh and hh["hot"]["lower"] <= 1000 <= hh["hot"]["upper"]
    assert hh["hot"]["verdict"] == "certified"


def test_update_mg_states_rejects_mismatched_shape(spark):
    from sparkcheck.sketches import mg_states, misra_gries
    from sparkcheck.states import update

    df = spark.createDataFrame([(0, "a"), (1, "b")], "b int, v string")
    st = mg_states(df, "v", k=8, state_key="b")
    with pytest.raises(ValueError, match="recompute"):
        update(misra_gries("v", 16), st, df, state_key="b")  # different k
    df2 = spark.createDataFrame([(0, "a", "x")], "b int, v string, u string")
    with pytest.raises(ValueError, match="recompute"):
        update(misra_gries("u", 8), st, df2, state_key="b")  # different col


@pytest.mark.parametrize("family", ["moments", "histogram", "mg", "quantiles"])
def test_latest_committed_ts_tie_superseded(spark, family):
    """Two appends of the same state_key with IDENTICAL timestamps must
    not both survive — the append_id breaks the tie so exactly one
    summary set remains, for every kind."""
    from collections import Counter

    from sparkcheck.sketches import misra_gries, quantiles
    from sparkcheck.states import histogram, latest_committed, moments

    kind = {
        "moments": lambda: moments(["v"]),
        "histogram": lambda: histogram({"v": [0.0, 50.0, 100.0]}),
        "mg": lambda: misra_gries("v", 8),
        "quantiles": lambda: quantiles("v", 8),
    }[family]()

    def append(value, n, append_id):
        df = spark.createDataFrame([(float(value),)] * n, "v double")
        return kind.build(df, "'p0'").select(
            F.lit("r").alias("run_id"),
            "*",
            F.lit("2026-01-01T00:00:00").alias("ts"),
            F.lit(append_id).alias("append_id"),
        )

    older, newer = append(10, 10, "aaaa"), append(90, 90, "bbbb")
    kept = latest_committed(older.unionByName(newer), ["p0"]).collect()
    expected = newer.drop("run_id", "ts", "append_id").collect()
    # repr: an mg row holds its sketch as an unhashable bytearray
    assert Counter(map(repr, kept)) == Counter(map(repr, expected))  # newest append only
