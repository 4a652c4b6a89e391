"""Incremental metric-state evidence: resume-from-states vs full rescan.

The north rule's resume contract has a metric half (states.py): corpus
stats over committed partitions must not be recomputed when new
partitions land. This harness measures exactly that at a given
parallelism, on a bucket-partitioned parquet corpus (the local analog of
an Iceberg partition layout — the delta leg's scan prunes to the new
bucket only):

  full      = column_states(all buckets) + merge       (scans 100%)
  resume    = load persisted states for buckets 0..k-2 +
              update(moments, new data = bucket k-1) + merge  (scans 1/k)

Both must produce identical merged profiles (asserted to 6dp); the
speedup is the resume win. Run once per parallelism level (fresh JVM
each) for the N vs 4N comparison:

    python BENCH/states_bench.py --cores 2 [--rows 40000000] [--buckets 8]
    python BENCH/states_bench.py --cores 8

Prints one JSON line per run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

COLS = ["v_price", "v_qty", "v_score"]


def corpus_path(rows: int, buckets: int) -> str:
    return f"/tmp/sparkcheck_states_corpus_{rows}_{buckets}"


def build_corpus(spark, rows: int, buckets: int) -> str:
    """Deterministic numeric corpus partitioned by bucket — written once,
    read by every leg (both parallelism levels see identical bytes)."""
    from pyspark.sql import functions as F

    path = corpus_path(rows, buckets)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    df = (
        spark.range(rows)
        .select(
            F.col("id"),
            (F.pmod(F.xxhash64("id"), buckets)).alias("bucket"),
            (900.0 + (F.pmod(F.xxhash64("id", F.lit(1)), 100_000) / 10.0)).alias("v_price"),
            (1.0 + F.pmod(F.xxhash64("id", F.lit(2)), 50)).cast("double").alias("v_qty"),
            (F.pmod(F.xxhash64("id", F.lit(3)), 1_000_000) / 1e6).alias("v_score"),
        )
    )
    df.repartition(64, "bucket").write.mode("overwrite").partitionBy("bucket").parquet(path)
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--rows", type=int, default=40_000_000)
    ap.add_argument("--buckets", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(max(args.cores * 4, 8)))
        .config("spark.driver.memory", "12g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sparkcheck.states import column_states, merge_states, moments, update

    path = build_corpus(spark, args.rows, args.buckets)
    data = spark.read.parquet(path)
    last = args.buckets - 1

    # persisted-state store for buckets 0..k-2 (the "already committed"
    # runs) — built outside the timed window, as in real resume
    store = f"{path}_states"
    column_states(
        data.where(f"bucket < {last}"), COLS, state_key="bucket"
    ).write.mode("overwrite").parquet(store)

    # warm the JVM/codegen on a tiny slice so both timed legs are warm
    merge_states(column_states(data.limit(1000), COLS, "bucket")).collect()

    t0 = time.time()
    full = merge_states(column_states(data, COLS, state_key="bucket")).collect()
    t_full = time.time() - t0

    t0 = time.time()
    persisted = spark.read.parquet(store)
    delta = data.where(f"bucket = {last}")  # partition-pruned scan
    resumed = merge_states(update(moments(COLS), persisted, delta, "bucket")).collect()
    t_resume = time.time() - t0

    fr = {r["column"]: r for r in full}
    rr = {r["column"]: r for r in resumed}
    for c in COLS:
        assert fr[c]["n"] == rr[c]["n"]
        assert abs(fr[c]["mean"] - rr[c]["mean"]) < 1e-6, (c, fr[c], rr[c])
        assert abs(fr[c]["stddev_samp"] - rr[c]["stddev_samp"]) < 1e-6

    # ---- histogram-states leg: incremental KL/PSI drift vs full rescan
    from sparkcheck.states import (
        drift_from_states,
        histogram,
        histogram_states,
        merge_histogram_states,
    )

    BINS = {
        "v_price": [900.0, 3400.0, 5900.0, 8400.0, 10900.0],
        "v_qty": [1.0, 13.0, 26.0, 38.0, 51.0],
    }
    PO = {
        "v_price": {"bins": BINS["v_price"], "weights": [0.25, 0.25, 0.25, 0.25]},
        "v_qty": {"bins": BINS["v_qty"], "weights": [0.24, 0.26, 0.24, 0.26]},
    }
    hstore = f"{path}_hstates"
    histogram_states(
        data.where(f"bucket < {last}"), BINS, state_key="bucket"
    ).write.mode("overwrite").parquet(hstore)
    merge_histogram_states(
        histogram_states(data.limit(1000), BINS, "bucket")
    ).collect()  # warm

    t0 = time.time()
    h_full = merge_histogram_states(
        histogram_states(data, BINS, state_key="bucket")
    )
    drift_full = drift_from_states(h_full, PO)
    t_hfull = time.time() - t0

    t0 = time.time()
    h_res = merge_histogram_states(
        update(
            histogram(BINS),
            spark.read.parquet(hstore),
            data.where(f"bucket = {last}"),
            "bucket",
        )
    )
    drift_res = drift_from_states(h_res, PO)
    t_hresume = time.time() - t0

    for df_, dr_ in zip(drift_full, drift_res):
        assert df_["column"] == dr_["column"] and df_["n"] == dr_["n"]
        assert abs(df_["kl"] - dr_["kl"]) < 1e-12, (df_, dr_)
        assert abs(df_["psi"] - dr_["psi"]) < 1e-12

    # ---- quantile-sketch leg: certified incremental brackets vs rescan.
    # Unlike moments/histograms, full and resumed summaries are not
    # bit-identical (different merge trees retain different samples) —
    # the contract is the CERTIFICATE: both brackets contain the true
    # quantile, so they must mutually overlap, with identical exact n.
    from sparkcheck.sketches import (
        quantile_sketch_bounds,
        quantile_states,
        quantiles,
    )

    QCOL, QK, QPS = "v_qty", 256, [0.5, 0.99]
    qstore = f"{path}_qstates"
    quantile_states(
        data.where(f"bucket < {last}"), QCOL, state_key="bucket", k=QK
    ).write.mode("overwrite").parquet(qstore)
    quantile_sketch_bounds(
        quantile_states(data.limit(1000), QCOL, "bucket", k=QK), QPS
    ).collect()  # warm

    t0 = time.time()
    q_full = {
        r["p"]: r
        for r in quantile_sketch_bounds(
            quantile_states(data, QCOL, state_key="bucket", k=QK), QPS
        ).collect()
    }
    t_qfull = time.time() - t0

    t0 = time.time()
    q_res = {
        r["p"]: r
        for r in quantile_sketch_bounds(
            update(
                quantiles(QCOL, QK),
                spark.read.parquet(qstore),
                data.where(f"bucket = {last}"),
                "bucket",
            ),
            QPS,
        ).collect()
    }
    t_qresume = time.time() - t0

    for p in QPS:
        f_, r_ = q_full[p], q_res[p]
        assert f_["n"] == r_["n"] == args.rows, (f_, r_)
        assert f_["lo"] <= f_["est"] <= f_["hi"]
        assert r_["lo"] <= r_["est"] <= r_["hi"]
        assert f_["lo"] <= r_["hi"] and r_["lo"] <= f_["hi"], (f_, r_)

    print(json.dumps({
        "cores": args.cores,
        "rows": args.rows,
        "buckets": args.buckets,
        "full_scan_s": round(t_full, 3),
        "resume_s": round(t_resume, 3),
        "speedup": round(t_full / t_resume, 2),
        "rows_per_sec_full": int(args.rows / t_full),
        "hist_full_scan_s": round(t_hfull, 3),
        "hist_resume_s": round(t_hresume, 3),
        "hist_speedup": round(t_hfull / t_hresume, 2),
        "qsketch_full_scan_s": round(t_qfull, 3),
        "qsketch_resume_s": round(t_qresume, 3),
        "qsketch_speedup": round(t_qfull / t_qresume, 2),
        "qsketch_brackets_overlap": True,
        "identical": True,
        "drift_identical": True,
    }))


if __name__ == "__main__":
    main()
