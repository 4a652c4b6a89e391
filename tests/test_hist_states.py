"""Mergeable histogram states + incremental KL/PSI drift (states.py)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df
from sparkcheck.distribution import histogram_terms, kl_divergence, psi
from sparkcheck.states import (
    drift_from_states,
    histogram,
    histogram_states,
    merge_histogram_states,
    update,
)

EDGES = [0.0, 10.0, 20.0, 30.0]


def _mk(spark, rows, parts=7):
    return spark.createDataFrame([(float(v),) if v is not None else (None,) for v in rows], "x double").repartition(parts)


def _direct_hist(df, edges):
    xc = F.col("x").cast("double")
    x = F.when(F.isnan(xc), F.lit(None)).otherwise(xc)
    return [int(v) for v in df.agg(F.array(*histogram_terms(x, edges)).alias("h")).collect()[0]["h"]]


def test_merged_equals_full_rescan(spark):
    rng = random.Random(11)
    rows = [rng.uniform(-5, 40) for _ in range(3000)] + [None] * 40 + [float("nan")] * 25
    df = _mk(spark, rows)
    merged = merge_histogram_states(histogram_states(df, {"x": EDGES})).collect()
    got = [r["cnt"] for r in sorted(merged, key=lambda r: r["bin"])]
    assert got == _direct_hist(df, EDGES)
    assert sum(got) == 3000  # nulls and NaN excluded from every bin


def test_infinite_edges_and_last_bin_closed(spark):
    df = _mk(spark, [0.0, 5.0, 10.0, 30.0, 30.0, 31.0])
    # finite edges: 30.0 belongs to the LAST bin (closed right), 31 above
    m = {r["bin"]: r["cnt"] for r in merge_histogram_states(
        histogram_states(df, {"x": EDGES})).collect()}
    assert m == {0: 0, 1: 2, 2: 1, 3: 2, 4: 1}
    # one-sided partition: strictly below 10 in bin 1, 10 and up in bin 2
    inf_edges = [float("-inf"), 10.0, float("inf")]
    m2 = {r["bin"]: r["cnt"] for r in merge_histogram_states(
        histogram_states(df, {"x": inf_edges})).collect()}
    assert m2 == {0: 0, 1: 2, 2: 4, 3: 0}


def test_multi_column_single_pass(spark):
    df = spark.createDataFrame(
        [(float(i % 7), float(i % 3)) for i in range(200)], "a double, b double"
    ).repartition(5)
    st = histogram_states(df, {"a": [0.0, 3.0, 7.0], "b": [0.0, 1.5, 3.0]})
    merged = merge_histogram_states(st)
    ma = {r["bin"]: r["cnt"] for r in merged.where(F.col("column") == "a").collect()}
    assert sum(ma.values()) == 200 and ma[1] > 0 and ma[2] > 0


def test_update_recommit_last_write_wins(spark):
    base = spark.createDataFrame(
        [(i % 4, float(i % 25)) for i in range(400)], "b int, x double"
    )
    st = histogram_states(base, {"x": EDGES}, state_key="b")
    # recommit bucket 3 with shifted data: old bucket-3 rows must vanish
    newd = spark.createDataFrame(
        [(3, 35.0) for _ in range(50)], "b int, x double"
    )
    updated = update(histogram({"x": EDGES}), st, newd, state_key="b")
    m = {r["bin"]: r["cnt"] for r in merge_histogram_states(updated).collect()}
    direct = spark.createDataFrame(
        [(float(i % 25),) for i in range(400) if i % 4 != 3] + [(35.0,)] * 50,
        "x double",
    )
    assert [m[i] for i in range(5)] == _direct_hist(direct, EDGES)


def test_update_null_state_key_not_double_counted(spark):
    base = spark.createDataFrame(
        [(None, 5.0), (None, 15.0), ("k1", 25.0)], "b string, x double"
    )
    st = histogram_states(base, {"x": EDGES}, state_key="b")
    newd = spark.createDataFrame([(None, 25.0)], "b string, x double")
    updated = update(histogram({"x": EDGES}), st, newd, state_key="b")
    m = {r["bin"]: r["cnt"] for r in merge_histogram_states(updated).collect()}
    # NULL-keyed state replaced (not kept AND re-added): k1 row + new row
    assert sum(m.values()) == 2 and m[3] == 2


def test_update_rejects_changed_edges(spark):
    df = _mk(spark, [1.0, 2.0], parts=1)
    st = histogram_states(df, {"x": EDGES})
    with pytest.raises(ValueError, match="not .?mergeable|recompute"):
        update(histogram({"x": [0.0, 5.0]}), st, df, state_key="1")


def test_edges_validation(spark):
    df = _mk(spark, [1.0], parts=1)
    with pytest.raises(ValueError, match="increasing"):
        histogram_states(df, {"x": [0.0, 0.0, 1.0]})
    with pytest.raises(ValueError, match=">= 2"):
        histogram_states(df, {"x": [0.0]})


def test_drift_matches_kl_expectation(spark):
    rng = random.Random(5)
    rows = [rng.uniform(0, 30) for _ in range(2000)]
    df = _mk(spark, rows)
    po = {"bins": EDGES, "weights": [0.3, 0.4, 0.3]}
    suite = ExpectationSuite(
        "kl",
        expectations=[
            ExpectationConfiguration.from_dict(
                {
                    "expectation_type": "expect_column_kl_divergence_to_be_less_than",
                    "kwargs": {
                        "column": "x",
                        "partition_object": po,
                        "threshold": 10.0,
                    },
                }
            )
        ],
    )
    evr = validate_df(df, suite, result_format="SUMMARY")["results"][0]
    full_scan_kl = evr["result"]["observed_value"]
    merged = merge_histogram_states(histogram_states(df, {"x": EDGES}))
    drift = drift_from_states(merged, {"x": po})
    assert drift[0]["kl"] == pytest.approx(full_scan_kl, rel=1e-12)
    assert drift[0]["n"] == 2000
    assert math.isfinite(drift[0]["psi"])


def test_drift_infinite_on_tail_mass_without_holdout(spark):
    df = _mk(spark, [5.0, 15.0, 99.0], parts=1)  # 99 is above-tail mass
    po = {"bins": EDGES, "weights": [0.4, 0.3, 0.3]}
    merged = merge_histogram_states(histogram_states(df, {"x": EDGES}))
    d0 = drift_from_states(merged, {"x": po})
    assert d0[0]["kl"] == float("inf")
    d1 = drift_from_states(merged, {"x": po}, tail_weight_holdout=0.1)
    assert math.isfinite(d1[0]["kl"]) and d1[0]["kl"] > 0


def test_drift_rejects_mismatched_edges(spark):
    df = _mk(spark, [5.0], parts=1)
    merged = merge_histogram_states(histogram_states(df, {"x": EDGES}))
    with pytest.raises(ValueError, match="edges mismatch|no states"):
        drift_from_states(merged, {"x": {"bins": [0, 10], "weights": [1.0]}})
    with pytest.raises(ValueError, match="no states"):
        drift_from_states(merged, {"y": {"bins": EDGES, "weights": [0.3, 0.4, 0.3]}})


def test_runner_histogram_resume_and_drift(spark, tmp_path):
    from sparkcheck.runner import CheckpointRunner, ParquetStore

    n = 600
    docs = spark.createDataFrame(
        [(i, float((i * 7) % 28)) for i in range(n)], "doc_id long, val double"
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
    store = ParquetStore(str(tmp_path / "store_hist"))
    runner = CheckpointRunner(
        spark, store, n_buckets=4, profile_bins={"val": EDGES}
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(docs, suite, run_id="h1", fail_after=2)
    # mid-run: histogram covers exactly the committed partitions
    partial = {r["bin"]: r["cnt"] for r in runner.corpus_histogram("h1").collect()}
    assert 0 < sum(partial.values()) < n
    # resume: merged histogram == full rescan, drift == direct formula
    runner.run(docs, suite, run_id="h1")
    merged = {r["bin"]: r["cnt"] for r in runner.corpus_histogram("h1").collect()}
    direct = _direct_hist(docs.select(F.col("val").alias("x")), EDGES)
    assert [merged[i] for i in range(5)] == direct
    po = {"bins": EDGES, "weights": [0.4, 0.35, 0.25]}
    drift = runner.corpus_drift("h1", {"val": po})
    assert drift[0]["kl"] == pytest.approx(kl_divergence(direct, [0, *po["weights"], 0]), rel=1e-12)
    assert drift[0]["psi"] == pytest.approx(psi(direct[1:-1], po["weights"]), rel=1e-12)
    # one state row per (partition, column, bin) — no duplicates after resume
    assert store.read(spark, "histogram_states").count() == 4 * 5
    # quantile brackets served straight from the runner's states
    qb = {r["p"]: r for r in runner.corpus_quantile_bounds("h1", [0.5, 0.95]).collect()}
    from sparkcheck.stats import exact_quantiles

    ex = exact_quantiles(docs, "val", [0.5, 0.95]).collect()[0].asDict()
    for p, key in ((0.5, "p50"), (0.95, "p95")):
        r = qb[p]
        closed_hi = r["bin"] == len(EDGES) - 1
        v = ex[key]
        assert r["lo"] <= v and (v <= r["hi"] if closed_hi else v < r["hi"])


def test_quantile_bounds_bracket_exact_quantiles(spark):
    """The bracket from merged states must contain the exact type-1
    quantile for every p — same ceil(p*n) integer rank arithmetic as
    stats.exact_quantiles, bracket width = one bin."""
    from sparkcheck.states import quantile_bounds
    from sparkcheck.stats import exact_quantiles

    rng = random.Random(7)
    rows = [rng.uniform(-5, 45) for _ in range(5000)] + [None] * 30
    df = _mk(spark, rows, parts=6)
    edges = [0.0, 10.0, 20.0, 30.0, 40.0]
    merged = merge_histogram_states(histogram_states(df, {"x": edges}))
    ps = [0.25, 0.5, 0.75, 0.95]
    qb = {r["p"]: r for r in quantile_bounds(merged, {"x": edges}, ps).collect()}
    ex = exact_quantiles(df, "x", ps).collect()[0].asDict()
    exact = {0.25: ex["p25"], 0.5: ex["p50"], 0.75: ex["p75"], 0.95: ex["p95"]}
    for p, r in qb.items():
        v = exact[p]
        closed_hi = r["bin"] == len(edges) - 1  # last finite bin is closed
        assert r["lo"] <= v and (v <= r["hi"] if closed_hi else v < r["hi"])
        assert r["n"] == 5000


def test_quantile_bounds_tails_and_empty(spark):
    from sparkcheck.states import quantile_bounds

    edges = [0.0, 10.0]
    # all mass above the top edge -> p50 bracket is the +inf tail
    df = _mk(spark, [99.0, 98.0, 97.0], parts=1)
    merged = merge_histogram_states(histogram_states(df, {"x": edges}))
    r = quantile_bounds(merged, {"x": edges}, [0.5]).collect()[0]
    assert (r["bin"], r["lo"], r["hi"]) == (2, 10.0, float("inf"))
    # all-null column -> no_data row with NULL bracket
    dn = _mk(spark, [None, None], parts=1)
    mn = merge_histogram_states(histogram_states(dn, {"x": edges}))
    rn = quantile_bounds(mn, {"x": edges}, [0.5]).collect()[0]
    assert rn["n"] == 0 and rn["bin"] is None and rn["lo"] is None


def test_quantile_bracket_verdicts(spark):
    from sparkcheck.states import quantile_bounds, quantile_bracket_verdicts

    edges = [0.0, 10.0, 20.0, 30.0]
    df = _mk(spark, [float(v) for v in range(30)], parts=3)  # p50 -> bin 2
    merged = merge_histogram_states(histogram_states(df, {"x": edges}))
    qb = quantile_bounds(merged, {"x": edges}, [0.5])
    v = {
        r["verdict"]
        for r in quantile_bracket_verdicts(
            qb, {"x": {0.5: (5.0, 25.0)}}
        ).collect()
    }
    assert v == {"pass"}  # bracket [10,20] inside [5,25]
    v = quantile_bracket_verdicts(qb, {"x": {0.5: (21.0, 99.0)}}).collect()[0]
    assert v["verdict"] == "fail"  # bracket [10,20] below allowed
    v = quantile_bracket_verdicts(qb, {"x": {0.5: (15.0, 99.0)}}).collect()[0]
    assert v["verdict"] == "indeterminate"  # straddles amin=15
    dn = _mk(spark, [None], parts=1)
    mn = merge_histogram_states(histogram_states(dn, {"x": edges}))
    qn = quantile_bounds(mn, {"x": edges}, [0.5])
    v = quantile_bracket_verdicts(qn, {"x": {0.5: (0.0, 1.0)}}).collect()[0]
    assert v["verdict"] == "no_data"


def test_drift_psi_matches_psi_expectation(spark):
    """Incremental PSI from states must equal the PSI expectation's
    observed_value even when the data has tail mass outside the edges —
    both drop tails before psi()."""
    rows = [5.0, 15.0, 25.0] * 200 + [99.0] * 50 + [-7.0] * 30  # tail mass
    df = _mk(spark, rows)
    po = {"bins": EDGES, "weights": [0.4, 0.3, 0.3]}
    suite = ExpectationSuite(
        "psi",
        expectations=[
            ExpectationConfiguration.from_dict(
                {
                    "expectation_type": "expect_column_psi_to_be_less_than",
                    "kwargs": {"column": "x", "partition_object": po, "threshold": 10.0},
                }
            )
        ],
    )
    evr = validate_df(df, suite, result_format="SUMMARY")["results"][0]
    merged = merge_histogram_states(histogram_states(df, {"x": EDGES}))
    drift = drift_from_states(merged, {"x": po})
    assert drift[0]["psi"] == pytest.approx(
        evr["result"]["observed_value"], rel=1e-12
    )
