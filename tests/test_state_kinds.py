"""The mergeable-state protocol (states.StateKind): every kind reads its
source once, and one StateMonitor carries several kinds per micro-batch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparkcheck import sketches, states
from sparkcheck.runner import ParquetStore, write_states
from sparkcheck.streaming import StateMonitor

N = 500
_KINDS = {
    "moments": lambda: states.moments(["v"]),
    "histogram": lambda: states.histogram({"v": [0.0, 10.0, 20.0, 30.0]}),
    "mg": lambda: sketches.misra_gries("v", 8),
    "quantiles": lambda: sketches.quantiles("v", 16),
}


@pytest.mark.parametrize("family", sorted(_KINDS))
def test_build_and_update_read_source_once(spark, family):
    """A counting UDF on the source column sees each of the N rows exactly
    once per build and once per update."""
    kind = _KINDS[family]()
    seen = spark.sparkContext.accumulator(0)

    def count(x):
        seen.add(1)
        return x

    base = spark.range(N).select(
        (F.col("id") % 4).alias("u"), (F.col("id") % 37).cast("double").alias("v")
    )
    counted = base.withColumn("v", F.udf(count, "double")("v"))
    kind.build(counted, "u").collect()
    assert seen.value == N
    existing = kind.build(base.where("u < 2"), "u").localCheckpoint()
    seen.value = 0
    states.update(kind, existing, counted, "u").collect()
    assert seen.value == N


def test_state_monitor_two_kinds(spark, tmp_path):
    """Moments and histograms in one monitor: one manifest commit per
    batch, a redelivery appends nothing to either table, and orphan rows
    of an uncommitted batch are superseded in both by its redelivery."""
    edges = [0.0, 10.0, 20.0, 30.0]
    moments, hist = states.moments(["x"]), states.histogram({"x": edges})
    store = ParquetStore(str(tmp_path / "store"))
    mon = StateMonitor(store, [moments, hist], run_id="two")
    df = spark.createDataFrame([(float((i * 7) % 31),) for i in range(300)], "x double")
    batches = [df.where(F.pmod(F.col("x").cast("long"), F.lit(3)) == i) for i in range(3)]

    def table_files():
        return {
            t: sorted(os.listdir(os.path.join(store.root, t)))
            for t in ("column_states", "histogram_states")
        }

    def folded():
        prof = states.merge_states(mon.states(spark, moments)).collect()[0]
        h = states.merge_histogram_states(mon.states(spark, hist)).collect()
        return prof, {r["bin"]: r["cnt"] for r in h}

    mon(batches[0], 0)
    # a crash between the state appends and the manifest commit of batch 1
    bad = spark.createDataFrame([(1e6,)] * 50, "x double")
    write_states(store, [moments, hist], bad, "two", "batch=1")
    prof, h = folded()
    assert prof["n"] == batches[0].count() and prof["mx"] < 1e6  # orphan excluded
    assert sum(h.values()) == prof["n"]

    mon(batches[1], 1)
    mon(batches[2], 2)
    before = table_files()
    mon(batches[2], 2)  # redelivery
    assert table_files() == before
    manifests = [f for f in os.listdir(os.path.join(store.root, "_manifest"))
                 if f.startswith("two_")]
    assert len(manifests) == 3

    prof, h = folded()
    full = df.agg(
        F.count("x").alias("n"), F.round(F.avg("x"), 6).alias("mean"), F.max("x").alias("mx")
    ).collect()[0]
    assert (prof["n"], prof["mean"], prof["mx"]) == (full["n"], full["mean"], full["mx"])
    rescan = states.merge_histogram_states(states.histogram_states(df, {"x": edges}))
    assert h == {r["bin"]: r["cnt"] for r in rescan.collect()}
