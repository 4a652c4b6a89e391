"""Mergeable deterministic quantile-summary states (sketches.quantile_*):
the certificate is worst-case, so the tests are adversarial — every
bracket must contain the true type-1 quantile on every distribution."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from sparkcheck import sketches
from sparkcheck.states import quantile_bracket_verdicts, update

PS = [0.01, 0.25, 0.5, 0.75, 0.95, 0.99]


def _df(spark, vals, parts=4):
    rows = [Row(id=i, x=(None if v is None else float(v))) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows).repartition(parts)


def _true_q(vals, p):
    a = np.sort(np.asarray([v for v in vals if v is not None], dtype="float64"))
    t = max(1, math.ceil(p * len(a)))
    return float(a[t - 1])


def _bounds(spark, vals, k=32, key="pmod(id, 8)", ps=PS):
    df = _df(spark, vals)
    st = sketches.quantile_states(df, "x", state_key=key, k=k)
    return {
        r["p"]: r
        for r in sketches.quantile_sketch_bounds(st, ps).collect()
    }


def _distributions():
    rng = np.random.RandomState(7)
    return {
        "uniform": rng.uniform(0, 1000, 3000).tolist(),
        "sorted": np.arange(2500, dtype="float64").tolist(),
        "reversed": np.arange(2500, dtype="float64")[::-1].tolist(),
        "heavy_dup": ([5.0] * 2000 + rng.uniform(0, 10, 500).tolist()),
        "zipfish": (1.0 / rng.zipf(1.5, 3000).astype("float64")).tolist(),
    }


@pytest.mark.parametrize("name", list(_distributions()))
def test_bracket_contains_true_quantile(spark, name):
    vals = _distributions()[name]
    got = _bounds(spark, vals, k=32)
    for p in PS:
        tq = _true_q(vals, p)
        r = got[p]
        assert r["lo"] <= tq <= r["hi"], (name, p, tq, dict(r.asDict()))
        assert r["n"] == len(vals)


def test_small_n_is_exact(spark):
    vals = [3.0, 1.0, 2.0, 9.0, 4.0]
    got = _bounds(spark, vals, k=32, key="'all'")
    for p in PS:
        tq = _true_q(vals, p)
        r = got[p]
        assert r["lo"] == r["hi"] == r["est"] == tq


def test_null_accounting_and_all_null_unit(spark):
    vals = [1.0, None, 2.0, None, 3.0] + [None] * 8
    df = _df(spark, vals)
    st = sketches.quantile_states(df, "x", state_key="pmod(id, 3)", k=32)
    # per-unit scalars repeat per row: dedupe per state_key then sum
    per_unit = st.select("state_key", "n", "n_null").distinct()
    agg = per_unit.agg(F.sum("n").alias("n"), F.sum("n_null").alias("nn")).first()
    assert agg["n"] == 3 and agg["nn"] == 10
    b = sketches.quantile_sketch_bounds(st, [0.5])
    r = b.first()
    assert r["n"] == 3 and r["lo"] <= 2.0 <= r["hi"]


def test_determinism(spark):
    vals = _distributions()["uniform"]
    df = _df(spark, vals)
    a = sketches.quantile_states(df, "x", state_key="pmod(id, 4)", k=64)
    b = sketches.quantile_states(df, "x", state_key="pmod(id, 4)", k=64)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_update_last_write_wins(spark):
    base = _df(spark, np.arange(1000, dtype="float64").tolist())
    st = sketches.quantile_states(base, "x", state_key="pmod(id, 4)", k=64)
    # recommit unit 0 with shifted data: ids ≡ 0 mod 4 now carry x+10000
    newer = base.where(F.col("id") % 4 == 0).withColumn("x", F.col("x") + 10000)
    st2 = update(sketches.quantiles("x", 64), st, newer, state_key="pmod(id, 4)")
    n_units = st2.select("state_key").distinct().count()
    assert n_units == 4
    b = {r["p"]: r for r in sketches.quantile_sketch_bounds(st2, [0.99]).collect()}
    # 25% of rows now sit near 10996 — p99 must certify inside the new mass
    assert b[0.99]["lo"] > 9000
    # true quantile of the updated corpus inside the bracket
    upd = [v + 10000 if i % 4 == 0 else v for i, v in enumerate(range(1000))]
    tq = _true_q([float(v) for v in upd], 0.99)
    assert b[0.99]["lo"] <= tq <= b[0.99]["hi"]


def test_update_rejects_wrong_column(spark):
    base = _df(spark, [1.0, 2.0])
    st = sketches.quantile_states(base, "x", state_key="'u'", k=32)
    st = st.withColumn("column", F.lit("y"))
    with pytest.raises(ValueError, match="column"):
        update(sketches.quantiles("x", 32), st, base, state_key="'u'")


def test_merge_rejects_mismatched_k(spark):
    df = _df(spark, [1.0, 2.0, 3.0])
    a = sketches.quantile_states(df, "x", state_key="'a'", k=32)
    b = sketches.quantile_states(df, "x", state_key="'b'", k=64)
    with pytest.raises(ValueError, match="k"):
        sketches.merge_quantile_states(a.unionByName(b))


def test_verdict_composition(spark):
    vals = np.arange(1, 10001, dtype="float64").tolist()  # quantiles exact-ish
    df = _df(spark, vals)
    st = sketches.quantile_states(df, "x", state_key="pmod(id, 8)", k=128)
    bounds = sketches.quantile_sketch_bounds(st, [0.5, 0.95])
    v = quantile_bracket_verdicts(
        bounds,
        {"x": {0.5: (0.0, 9000.0),      # p50≈5000, generous -> pass
               0.95: (0.0, 1000.0)}},   # p95≈9500, disjoint -> fail
    )
    got = {r["p"]: r["verdict"] for r in v.collect()}
    assert got == {0.5: "pass", 0.95: "fail"}


def test_error_bound_scales_with_k(spark):
    vals = _distributions()["uniform"]
    wide = _bounds(spark, vals, k=16)[0.5]
    tight = _bounds(spark, vals, k=256)[0.5]
    assert (tight["hi"] - tight["lo"]) <= (wide["hi"] - wide["lo"])


def test_runner_quantile_sketch_resume(spark, tmp_path):
    """Two-phase runner: quantile states committed per partition, the
    resumed run's folded brackets certify the full corpus' true quantile
    — the merged == rescan contract through the runner API."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.runner import CheckpointRunner, ParquetStore
    from sparkcheck.synth import generate_docs

    docs = generate_docs(spark, 3000).withColumn(
        "n_spans", F.size("spans").cast("double")
    )
    suite = ExpectationSuite("qs")
    suite.add("expect_column_values_to_not_be_null", column="doc_id", mostly=0.9)
    store = ParquetStore(str(tmp_path / "store"))
    mk = lambda: CheckpointRunner(  # noqa: E731
        spark, store, n_buckets=5, profile_quantiles=("n_spans", 64)
    )
    try:
        mk().run(docs, suite, run_id="r1", fail_after=2)
    except RuntimeError:
        pass
    # interrupted: brackets cover the committed subset only
    partial = {r["p"]: r for r in
               mk().corpus_quantile_sketch_bounds("r1", [0.5]).collect()}
    assert 0 < partial[0.5]["n"] < 3000
    rep = mk().run(docs, suite, run_id="r1")
    assert len(rep.partitions_skipped) == 2
    got = {r["p"]: r for r in
           mk().corpus_quantile_sketch_bounds("r1", [0.5, 0.95]).collect()}
    vals = [r["n_spans"] for r in docs.select("n_spans").collect()
            if r["n_spans"] is not None]
    assert got[0.5]["n"] == len(vals)
    for p in (0.5, 0.95):
        tq = _true_q([float(v) for v in vals], p)
        assert got[p]["lo"] <= tq <= got[p]["hi"]


def test_streaming_quantile_monitor(spark, tmp_path):
    """Three micro-batches through the quantile monitor: the folded
    brackets certify the true union quantile, a redelivered batch is a
    no-op, and an orphan append (no manifest commit) is superseded."""
    from sparkcheck.runner import ParquetStore, _utcnow
    from sparkcheck.streaming import StateMonitor

    vals = [float((i * 13) % 300) for i in range(3000)]
    df = _df(spark, vals)
    store = ParquetStore(str(tmp_path / "store_q"))
    kind = sketches.quantiles("x", 64)
    mon = StateMonitor(store, [kind], run_id="sq")
    batches = [df.where(F.col("id") % 3 == i) for i in range(3)]
    for i, b in enumerate(batches):
        mon(b, i)
    mon(batches[2], 2)  # redelivery must not double-count
    got = {r["p"]: r for r in sketches.quantile_sketch_bounds(
        mon.states(spark, kind), [0.5, 0.95]).collect()}
    assert got[0.5]["n"] == 3000
    for p in (0.5, 0.95):
        tq = _true_q(vals, p)
        assert got[p]["lo"] <= tq <= got[p]["hi"]
    # orphan: state rows appended for batch=3 but never committed
    from sparkcheck.sketches import quantile_states

    orphan = quantile_states(
        spark.createDataFrame([(99999.0,)] * 500, "x double"),
        "x", state_key="'batch=3'", k=64,
    ).select(
        F.lit("sq").alias("run_id"), "*",
        F.lit(_utcnow()).alias("ts"), F.lit("orph").alias("append_id"),
    )
    store.append_small("quantile_states", orphan)
    after = {r["p"]: r for r in sketches.quantile_sketch_bounds(
        mon.states(spark, kind), [0.95]).collect()}
    assert after[0.95]["n"] == 3000 and after[0.95]["hi"] < 99999.0


def test_bounds_empty_states_graceful(spark):
    """Zero committed units (stream/run not started) must yield an empty
    bounds frame, not a crash — parity with the histogram/profile read
    paths; merge_quantile_states keeps its loud contract."""
    df = _df(spark, [1.0, 2.0])
    st = sketches.quantile_states(df, "x", state_key="'u'", k=32).limit(0)
    out = sketches.quantile_sketch_bounds(st, [0.5])
    assert out.count() == 0
    assert out.columns == ["column", "p", "n", "lo", "hi", "est"]
    with pytest.raises(ValueError, match="empty"):
        sketches.merge_quantile_states(st)


def test_update_rejects_mixed_k(spark):
    df = _df(spark, [1.0, 2.0, 3.0])
    a = sketches.quantile_states(df, "x", state_key="'a'", k=32)
    b = sketches.quantile_states(df, "x", state_key="'b'", k=64)
    with pytest.raises(ValueError, match="different k"):
        update(sketches.quantiles("x", 32), a.unionByName(b), df, state_key="'c'")
