"""Benchmark harness: headline sparkcheck queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: median sec, ...}, "queries_min": {name: min sec, ...},
   "sf": ..., "docs_per_sec": ..., "cores": N, "repeats": 3}

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_SYNTH_DOCS    size of the synthetic interleaved corpus for the
                      validation-throughput leg (default 2_000_000 — small
                      enough to keep the bench fast, large enough that the
                      ~15 fixed stage launches don't dominate the
                      docs/sec reading; BENCH/BASELINE.md has the 32M-doc
                      campaign numbers)

The headline metric is the north rule's validated docs/sec: the flagship
expectation suite + span-level checks run over the deterministic synthetic
interleaved corpus (docs_per_sec in the JSON). The per-query timings cover
every operator family so regressions are attributable.

Declared-quadratic verification/oracle stages (jaccard_pairs: the O(n^2)
stage that exists to verify LSH candidates) are timed separately under
"oracle_stage_queries" so their cost does not read as engine cost in the
headline wall-clock. A warmup pass runs before any timing so the first
timed query does not absorb JVM/codegen JIT.

Every timed query runs a fixed REPEATS (3) times back to back. The JSON
reports the median per query under "queries" and the min under
"queries_min"; "value" is the sum of the medians, and the docs/sec
figures use the median validation wall. A fixed repeat count with median
and min replaces any retry-until-quiet rule: contention only inflates a
sample, so min vs median shows how noisy the box was, and nothing is
tuned to one machine's quiet-box numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_DOCS = int(os.environ.get("BENCH_SYNTH_DOCS", "2000000"))

# headline subset of __spark_entry__.queries() — one per operator family
HEADLINE = [
    "null_profile_orders",
    "agg_profile_lineitem",
    "quantiles_quantity",
    "distinct_counts",
    "histogram_extendedprice",
    "kl_drift_quantity",
    "unique_violations_custkey",
    "referential_violations",
    "in_set_violations",
    "text_profile",
    "prefix_dups",
    "minhash_candidate_count",
    "simhash_neardup_count",
    "ann_topk",
    "lsh_ann_topk",
    "span_profile",
    "corr_profile_lineitem",
    "dataset_diff_orders",
    "segment_validation_returnflag",
    "windowed_drift_events",
    "quarantine_split",
    "per_source_cap",
    "curation_funnel",
    "passage_dedup_documents",
    "lm_quality_documents",
    "semantic_dedup",
    "importance_resample",
    "robust_stats_quantity",
    "novelty_documents",
    "kmeans_refine",
    "runner_profile_documents",
    # round-5 additions: context chunking (zero-shuffle narrow plan),
    # deletion-blocked fuzzy linkage, embedding decontamination gemm
    "chunked_documents",
    "fuzzy_name_pairs",
    "embedding_decontamination",
]

#: samples per timed query; the JSON reports their median and min
REPEATS = 3


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from sparkcheck import validate_df
    from sparkcheck.spans import span_violations
    from sparkcheck.synth import generate_docs

    mem = os.environ.get("BENCH_DRIVER_MEM", "16g")
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("sparkcheck-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        # pre-sized, pre-touched heap: growing a large heap mid-job
        # page-faults under the kernel mmap lock at high thread counts
        # (measured 95% sys time, 110s vs 6s — BENCH/BASELINE.md)
        .config("spark.driver.extraJavaOptions", f"-Xms{mem} -XX:+AlwaysPreTouch")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.sql.columnVector.offheap.enabled", "true")
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", "8g")
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()

    # warmup: exercise scan+agg+shuffle+HOF codegen paths once so the first
    # timed query is not charged for JIT (round-1 BENCH: the first query
    # absorbed ~6s of warmup). The dedup pipelines warm on the smallest SF
    # dir — their wide fused aggregates (12 min-aggs / 64 bit-votes) carry
    # ~2.5s of one-time Catalyst+codegen compile regardless of data size
    # (BENCH/BASELINE.md "fixed plan costs"), which is amortized in any
    # real run and was read as a per-query regression in round 2.
    # Warm at the TIMED scale factor: warming at sf0.001 leaves the sf0.1
    # plan cold (ensure_parallelism changes the plan shape between SFs, so
    # JIT'd codegen from the small warm run doesn't fully transfer — round-3
    # measurement: simhash timed 5.0s after an sf0.001 warm but 2.7s
    # steady-state). Warmup is untimed; the extra wall cost is irrelevant.
    for warm in ("agg_profile_lineitem", "value_counts_returnflag", "span_profile",
                 "minhash_candidate_count", "simhash_neardup_count",
                 "text_profile", "ann_topk", "lsh_ann_topk",
                 # round-4 curation pipelines: the funnel's fused
                 # cumulative-AND aggregate and the passage-dedup
                 # struct-argmin/rebuild chain carry 1-3s of one-time
                 # Catalyst+codegen compile (measured 3.3 vs 6.4s run-to-run
                 # on cold plans), same fixed-cost class as the dedup wides
                 "per_source_cap", "curation_funnel",
                 "passage_dedup_documents", "lm_quality_documents",
                 # late round-4 pipelines (same fixed-cost rationale): the
                 # semantic-dedup cluster self-join, the DSIR double-LM
                 # scorer, the spine window, the shingle novelty join and
                 # the k-means argmax fold all carry 1-3s of one-time plan
                 # compile
                 "semantic_dedup", "importance_resample",
                 "robust_stats_quantity", "novelty_documents",
                 "kmeans_refine",
                 # round-5 pipelines: the fuzzy join's variant-explode +
                 # candidate-join plan and the decontamination mapInArrow
                 # carry 1-3s of one-time Catalyst/codegen compile
                 "chunked_documents", "fuzzy_name_pairs",
                 "embedding_decontamination"):
        qs[warm](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}

    def timed(name: str, run) -> float:
        """REPEATS samples of ``run()``; records median and min, returns
        the median."""
        samples = []
        for _ in range(REPEATS):
            t0 = time.monotonic()
            run()
            samples.append(time.monotonic() - t0)
        timings[name] = round(statistics.median(samples), 3)
        timings_min[name] = round(min(samples), 3)
        return timings[name]

    def noop(name: str):
        return lambda: qs[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    t_all = time.monotonic()
    for name in HEADLINE:
        timed(name, noop(name))

    # north-rule leg: full validation suite + span checks over the synthetic
    # interleaved corpus. The corpus is materialized to parquet ONCE
    # (untimed) and read back, so the timed window measures validation
    # throughput over stored data — the production shape — rather than
    # charging the interpreted array-generation expressions to the engine
    # (BENCH/run_job.py uses the same methodology).
    corpus_path = f"/tmp/sparkcheck_bench_corpus_{SYNTH_DOCS}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        generate_docs(spark, SYNTH_DOCS, n_partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    # pipeline-specific warmup on a slice (plan compilation + codegen),
    # mirroring BENCH/run_job.py
    wdocs = docs.limit(50_000)
    validate_df(wdocs, _synth_suite(), result_format="BOOLEAN_ONLY")
    span_violations(wdocs).write.format("noop").mode("overwrite").save()

    report_holder: list = []

    def run_validate_classic() -> None:
        report_holder.append(
            validate_df(docs, _synth_suite(), result_format="BOOLEAN_ONLY")
        )
        span_violations(docs).write.format("noop").mode("overwrite").save()

    validate_secs = timed("validate_synth_corpus", run_validate_classic)
    report = report_holder[0]
    n_expectations = report["statistics"]["evaluated_expectations"]
    docs_per_sec = SYNTH_DOCS / validate_secs

    # fused single-scan variant (fused.validate_and_extract): same suite +
    # span checks, but the suite's aggregates ride a CollectMetrics node on
    # the span-violation write — ONE full-width pass over the stored corpus
    # instead of two (locally the parquet sits in page cache so the delta is
    # modest; at 100 TB the avoided pass is the point). Reported separately
    # so validate_synth_corpus stays comparable across rounds.
    from sparkcheck.fused import validate_and_extract

    validate_and_extract(
        wdocs, _synth_suite(), span_violations, result_format="BOOLEAN_ONLY"
    )

    fused_secs = timed(
        "validate_synth_corpus_fused",
        lambda: validate_and_extract(
            docs, _synth_suite(), span_violations, result_format="BOOLEAN_ONLY"
        ),
    )

    elapsed = time.monotonic() - t_all
    total = sum(timings.values())

    # oracle/verification stages: quadratic by declaration, not engine cost
    oracle_timings: dict[str, float] = {}
    for name in ("jaccard_pairs",):
        t0 = time.monotonic()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        oracle_timings[name] = round(time.monotonic() - t0, 3)

    out = {
        "metric": "validated docs/sec on synthetic interleaved corpus + headline query suite wall-clock (sum of median query timings)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "oracle_stage_queries": oracle_timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "docs_per_sec": round(docs_per_sec, 1),
        "docs_per_sec_fused": round(SYNTH_DOCS / fused_secs, 1),
        "synth_docs": SYNTH_DOCS,
        "expectations_evaluated": n_expectations,
        "expectation_evals_per_sec": round(n_expectations * docs_per_sec, 1),
        "cores": CPUS,
        "elapsed_secs": round(elapsed, 3),
        "repeats": REPEATS,
    }
    print(json.dumps(out))


def _synth_suite():
    from sparkcheck import ExpectationConfiguration, ExpectationSuite

    return ExpectationSuite(
        name="synth_corpus",
        expectations=[ExpectationConfiguration.from_dict(d) for d in [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "doc_id", "mostly": 0.99}},
            {"expectation_type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "doc_id", "mostly": 0.98}},
            {"expectation_type": "expect_column_values_to_match_regex",
             "kwargs": {"column": "doc_id",
                        "regex": "^(hot[0-2]|p[0-9]{2})-[0-9]{12}$",
                        "mostly": 0.98}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1, "max_value": 10**15}},
        ]],
    )


if __name__ == "__main__":
    main()
