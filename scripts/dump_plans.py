"""Dump physical plans for the headline operators into docs/PLANS.md with
the properties worth checking (pushdown, pruning, broadcast, codegen spans,
fused aggregates)."""
import io
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import SparkSession, functions as F

SF = "/root/testdata/sf0.01"

def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()

def main():
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em
    from sparkcheck.synth import generate_docs
    from sparkcheck.spans import span_violations

    sections = []

    def add(title, df, notes):
        p = plan_of(df)
        sections.append(f"## {title}\n\n{notes}\n\n```\n{p}\n```\n")

    qs = em.queries()
    add("Fused aggregate profile (agg_profile_lineitem)",
        qs["agg_profile_lineitem"](spark, SF),
        "All six aggregates execute in ONE HashAggregate pass over one scan; "
        "`ReadSchema` shows only the two needed columns reach the parquet reader "
        "(column pruning), and the whole pipeline sits inside WholeStageCodegen.")
    add("Row-condition domain (row_condition_mean)",
        qs["row_condition_mean"](spark, SF),
        "The `row_condition` filter is pushed into the scan: `PushedFilters` "
        "carries `IsNotNull(l_returnflag), EqualTo(l_returnflag,A)` so row "
        "groups that cannot match are skipped at the parquet level.")
    add("Referential anti-join (referential_violations)",
        qs["referential_violations"](spark, SF),
        "The dimension side is broadcast (`BroadcastHashJoin ... LeftAnti, "
        "BuildRight`) — no shuffle of the fact table; above the broadcast "
        "threshold the engine switches to the salted sort-merge form "
        "(sparkcheck/referential.py).")
    add("Uniqueness via groupBy-count (unique_violations_custkey)",
        qs["unique_violations_custkey"](spark, SF),
        "Key-only shuffle with map-side partial aggregation "
        "(`HashAggregate(keys=[o_custkey], functions=[partial_count ...])` "
        "before the exchange) — the full-row window form would shuffle every "
        "column of every row.")
    with tempfile.TemporaryDirectory() as nested_dir:
        generate_docs(spark, 1000).write.parquet(nested_dir, mode="overwrite")
        add("Span-level violations over a stored nested corpus",
            span_violations(spark.read.parquet(nested_dir)),
            "`explode_spans` is one `Generate posexplode(spans)` inside "
            "whole-stage codegen; `prev_offset` is read straight from the "
            "array with `element_at`, so there is no higher-order function. "
            "The three span checks of `span_violations_flat` are flat "
            "predicates in one Filter, and a second `Generate explode` tags "
            "each violation row — one scan, zero shuffles, zero Python.")
    add("Brute-force ANN top-k (ann_topk)",
        qs["ann_topk"](spark, SF),
        "The small query side is broadcast (`BroadcastNestedLoopJoin`), the "
        "corpus side is never shuffled; per-query top-k runs as a window over "
        "the partial results.")
    add("MinHash LSH candidates (minhash_candidate_count)",
        qs["minhash_candidate_count"](spark, SF),
        "Shingle explode -> per-(doc, seed) MIN aggregate with map-side "
        "combine -> band bucket keys -> self-join on (band, bucket). All "
        "shuffle keys are md5-uniform, so no skew mitigation is needed.")

    from sparkcheck.metrics import Domain
    from sparkcheck.summarize import unexpected_df
    add("Uniqueness violation EXTRACTION (groupBy + left-semi, no Window)",
        unexpected_df(generate_docs(spark, 1000), Domain(column="doc_id"),
                      "column_values.unique", {},
                      "expect_column_values_to_be_unique"),
        "Violating rows are recovered by deriving duplicated KEYS "
        "(key-only shuffle with map-side combine) and left-semi-joining them "
        "back — the dup-key side broadcasts, so full rows (including the fat "
        "spans payload) are never shuffled. No Window operator appears; the "
        "window form would shuffle entire rows keyed by value.")

    from sparkcheck.spans import span_violations_flat
    from sparkcheck.synth import write_flat_corpus
    with tempfile.TemporaryDirectory() as flat_dir:
        write_flat_corpus(spark, flat_dir, 1000)
        add("Span violations over the FLAT span layout (storage-level fix)",
            span_violations_flat(spark.read.parquet(f"{flat_dir}/spans.parquet")),
            "The pre-exploded Iceberg-style layout turns the span pass into a "
            "pure vectorized flat-column scan + predicates: `ReadSchema` lists "
            "exactly the seven flat columns, there is no Generate/explode for "
            "the scan itself, and the nested-array reader (the round-1 "
            "memory-bandwidth bottleneck) is out of the picture entirely. "
            "Measured: 3.0x throughput at local[8], 3.4x at local[32], 0.876 "
            "scaling efficiency at 2->8 cores (BENCH/BASELINE.md round-2 "
            "campaign).")

    from sparkcheck.similarity import ivf_assign
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    add("IVF centroid assignment (broadcast-literal argmax, narrow)",
        ivf_assign(emb, n_centroids=8)[1],
        "Assignment is a per-row argmax over literal centroid arrays "
        "(array_max of (cos, -cid) structs): a single Project over the scan "
        "— no Exchange, no Window, no replication of the corpus. The "
        "previous formulation cross-joined the corpus with the centroid "
        "table and ran a row_number window partitioned by vec_id.")

    add("All-pairs correlation profile (corr_profile_lineitem)",
        qs["corr_profile_lineitem"](spark, SF),
        "Six F.corr co-moment aggregates + six pairwise-complete counts all "
        "execute in ONE HashAggregate pass (partial+final) over one scan; "
        "the long-format reshape is an explode over the single aggregated "
        "row. k columns -> k(k-1)/2 pairs, still one data pass.")
    add("Dataset version diff (dataset_diff_orders)",
        qs["dataset_diff_orders"](spark, SF),
        "Both versions project to (key, xxhash64(payload)) BEFORE the "
        "full-outer SortMergeJoin: the exchanges carry two longs per row "
        "(~16 bytes) regardless of table width, and `ReadSchema` shows the "
        "payload columns read once for hashing, never joined wide.")
    add("Segmented validation (segment_validation_returnflag)",
        qs["segment_validation_returnflag"](spark, SF),
        "N segments x M aggregate checks in one groupBy: a single "
        "Exchange keyed by the segment columns, map-side partial "
        "aggregation, and every bounds flag computed as a Project over the "
        "aggregated row — adding checks adds zero shuffles.")

    from sparkcheck import ExpectationSuite
    from sparkcheck.quarantine import tag_failures
    qsuite = ExpectationSuite("quar")
    qsuite.add("expect_column_values_to_be_in_set", column="lang",
               value_set=["en", "es", "de", "fr"])
    qsuite.add("expect_column_values_to_be_between", column="n_chars",
               min_value=50, max_value=500)
    qsuite.add("expect_column_values_to_match_regex", column="source",
               regex="^src[0-4]")
    qsuite.add("expect_column_values_to_be_unique", column="doc_id")
    tagged, _ = tag_failures(spark.read.parquet(f"{SF}/documents.parquet"),
                             qsuite)
    add("Row-level quarantine tagging (tag_failures)",
        tagged,
        "Every row-local expectation in the suite compiles into ONE Project "
        "(array_compact over per-check CASE WHEN masks) over ONE scan — "
        "adding row-local checks adds zero operators below the projection. "
        "The only exchange belongs to the uniqueness flag: a key-only "
        "groupBy (map-side partial_count) whose dup-key output joins back "
        "UN-HINTED — AQE broadcasts it only when its MEASURED size is under "
        "the threshold (its size is data-dependent: a high-dup-rate table "
        "produces a frame ~ distinct-key count, so a forced broadcast hint "
        "would OOM at 10^12 rows). Either way only key-sized data moves.")

    # high-dup-rate degradation: with broadcast disabled the SAME code
    # plans a shuffled join — proof the dup-key side is not hint-forced
    hd = spark.createDataFrame(
        [(i % 500, i) for i in range(2000)], "k int, v int")
    hsuite = ExpectationSuite("hd")
    hsuite.add("expect_column_values_to_be_unique", column="k")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hd_tagged, _ = tag_failures(hd, hsuite)
        hd_tagged.count()  # let AQE finalize
        hd_plan = hd_tagged._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    sections.append(
        "## Quarantine uniqueness join at HIGH dup rate (forced-broadcast "
        "regression guard)\n\n"
        "Same tag_failures code, 75% duplicated keys, broadcast disabled to "
        "stand in for a dup-key frame past the 8 GB broadcast ceiling: the "
        "EXECUTED (AQE-final) plan degrades to a shuffled join — no "
        "`BroadcastHashJoin` — because the dup-key side carries no hint "
        "(round-3 verdict item 2; test_quarantine.py::"
        "test_high_dup_rate_no_forced_broadcast asserts this plus the "
        "split's correctness).\n\n"
        f"```\n{hd_plan[:2400].rstrip()}\n```\n")

    from sparkcheck.fused import validate_and_extract
    fsuite = ExpectationSuite("fused")
    fsuite.add("expect_column_values_to_not_be_null", column="doc_id",
               mostly=0.99)
    fsuite.add("expect_column_values_to_match_regex", column="doc_id",
               regex="^(hot[0-2]|p[0-9]{2})-", mostly=0.98)
    fsuite.add("expect_table_row_count_to_be_between", min_value=1)
    _, frows, _ = validate_and_extract(
        generate_docs(spark, 20000), fsuite, span_violations)
    add("Fused single-scan validation (fused.validate_and_extract)",
        frows,
        "The suite's whole-table aggregates sit in a `CollectMetrics` node "
        "BELOW the span-violation extraction: one scan produces the "
        "violation rows while the metrics accumulate per task. Catalyst "
        "never pushes predicates through CollectMetrics, so the observed "
        "values are exactly the whole-table aggregates; downstream "
        "projection cannot prune the observed columns. This removes the "
        "second full-width pass of the classic validate-then-extract "
        "checkpoint shape — the largest avoidable cost at 10^12 docs.")

    from sparkcheck.similarity import lsh_near_duplicates
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    add("Multi-probe LSH near-dup discovery (lsh_neardup_multiprobe)",
        lsh_near_duplicates(emb, threshold=0.3, n_planes=6, n_probe=2),
        "The signature + probe list compute in ONE pass over the vectors "
        "(localCheckpoint pins it so sig/probe/vector reads share the "
        "materialization); the probe side explodes n_probe-fold but "
        "carries only (id, sig) longs, candidates dedup as narrow "
        "(id_a, id_b) pairs BEFORE any vector is touched again, and "
        "vectors re-join only for surviving candidates. The corpus is "
        "never re-signed and never self-joined all-pairs.")

    from sparkcheck.keys import fd_summary, salted_join
    add("Functional dependency summary (fd_check_lineitem)",
        fd_summary(spark.read.parquet(f"{SF}/lineitem.parquet"),
                   "l_orderkey", "l_returnflag"),
        "Grouped distinct-count WITHOUT Expand: groupBy(A,B).count then "
        "groupBy(A) — two HashAggregates, both with map-side "
        "partial_count before their exchanges. The naive "
        "countDistinct-with-other-aggs form plans an Expand that "
        "multiplies every input row; none appears here.")
    li_s = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity")
    o_s = spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "o_orderkey as l_orderkey", "o_orderstatus")
    add("Partial-salted equi-join (salted_join_profile)",
        salted_join(li_s, o_s, "l_orderkey", n_salts=8, heavy=[1, 2, 3]),
        "The join keys are (l_orderkey, __salt): heavy keys' fact rows "
        "scatter across 8 salt values while their dimension rows "
        "replicate 8 ways (Generate explode on the right side only); "
        "light keys ride salt 0 unreplicated. A hot key's shuffle "
        "partition splits 8 ways; replication cost is |heavy| x 8 rows, "
        "constant in table size.")

    add("Hash-sampled validation estimate (sampled_violation_estimate)",
        qs["sampled_violation_estimate"](spark, SF),
        "One scan of the SAMPLE: the deterministic md5 keep-filter "
        "evaluates in the scan stage (narrow, no shuffle), every "
        "expectation's unexpected count is a fused sum(when) in a single "
        "HashAggregate, and the Wilson interval math is a Project over "
        "the one aggregated row. Cost is proportional to the sample "
        "fraction, not the suite size.")
    add("Cross-table reconciliation (reconcile_lineitem_orders)",
        qs["reconcile_lineitem_orders"](spark, SF),
        "One fused HashAggregate per table (three checks, still one pass "
        "each), a 1x1 BroadcastNestedLoopJoin of the two single-row "
        "frames, and the per-check verdicts as a Project + explode. "
        "Adding checks adds aggregate columns, never scans.")

    add("Per-domain quota sampling (per_source_cap)",
        qs["per_source_cap"](spark, SF),
        "Only the narrow (group, key, hash) triplet frame rides the rank "
        "shuffle (`Exchange hashpartitioning(__g ...)` below a Project of "
        "exactly three columns); the row_number Window runs on triplets, "
        "and survivors rejoin the full rows via a LeftSemi join on the "
        "bounded kept-key set — AQE turns it into a broadcast, so the "
        "document payload is never shuffled at all.")
    add("Boilerplate n-gram discovery (boilerplate_ngrams)",
        qs["boilerplate_ngrams"](spark, SF),
        "array_distinct runs per document BEFORE the explode, so document "
        "frequency is a plain count with map-side partial aggregation "
        "(`partial_count` below the Exchange) — no (doc, ngram) distinct "
        "shuffle; the global sort only sees the >= min_docs aggregate, "
        "and TakeOrderedAndProject caps it at top_k.")
    add("Passage dedup removal (passage_dedup_documents)",
        qs["passage_dedup_documents"](spark, SF),
        "The first-occurrence argmin is a HashAggregate(keys=[passage], "
        "functions=[min(struct(...))]) with a partial_min below the "
        "Exchange — a passage duplicated across a billion documents "
        "collapses to one candidate row per input partition before any "
        "shuffle (a window over the passage key would instead pile every "
        "occurrence onto one task). Keyed on the passage string, not a "
        "64-bit hash, so a collision can never silently delete a unique "
        "passage. The verdict join and the rebuild groupBy reuse the "
        "same hashpartitioning.")
    add("Exact-substring span dedup (duplicate_spans_documents)",
        qs["duplicate_spans_documents"](spark, SF),
        "The per-position gram explode stays narrow: `Generate "
        "posexplode` emits (rowkey, id, p, xxhash64(gram)) — ~20 bytes "
        "per corpus character through the occurrence-count Exchange "
        "regardless of min_len, with a partial_count below it, so a "
        "whitespace-run gram duplicated a billion times collapses to one "
        "row per input partition map-side. The join back to positions is "
        "co-partitioned on the same gram key (AQE can skew-split it; at "
        "this SF the duplicated-key dictionary is small enough that the "
        "plan shows the BroadcastHashJoin form instead — zero shuffle of "
        "the position side), and the gaps-and-islands window partitions "
        "by the per-document row key — bounded by document length, never "
        "a global sort. Both lag and the running sum share ONE "
        "Sort+Exchange (two Window nodes, no second sort between).")
    add("Span scrub rebuild (scrub_dup_spans_documents)",
        qs["scrub_dup_spans_documents"](spark, SF),
        "The rebuild joins the document-sized span-list frame back on "
        "the 8-byte xxhash64(id,text) row key and folds the (sorted, "
        "disjoint) span array with a pure-JVM `aggregate` expression in "
        "a single Project — the document text crosses exactly one "
        "shuffle boundary (the join), and no Python touches the "
        "strings.")
    add("Span-level decontamination (contaminated_spans_documents)",
        qs["contaminated_spans_documents"](spark, SF),
        "The benchmark side collapses to its DISTINCT gram-key set "
        "before the join — array_distinct inside the per-doc projection, "
        "then a map-side-combined HashAggregate — and only 8-byte hashes "
        "reach the LeftSemi join (benchmark text never shuffles). At "
        "this SF the distinct key set broadcasts, so the corpus-side "
        "gram explode flows straight into the semi-join with zero "
        "shuffle of the position stream; at benchmark sizes above the "
        "broadcast threshold it becomes a key-co-partitioned semi-join.")
    add("Incremental revalidation (incremental_validation_orders)",
        qs["incremental_validation_orders"](spark, SF),
        "Both table versions reduce to (key, xxhash64) before the "
        "full-outer diff join (~16 bytes/row through the exchange); only "
        "the added/changed keys pull wide new-side rows back, and the "
        "suite's three expectations fuse into ONE HashAggregate over "
        "that delta — validation work is proportional to churn.")
    add("Single-pass curation funnel (curation_funnel)",
        qs["curation_funnel"](spark, SF),
        "Four chained quality filters accounted in ONE HashAggregate over "
        "ONE scan — every cumulative stage condition is a sum(when) "
        "column, so funnel depth adds aggregate columns, never passes; "
        "the stage unpivot explodes the single aggregated row.")

    add("Unigram-LM quality scoring (lm_quality_documents)",
        qs["lm_quality_documents"](spark, SF),
        "One token explode feeds a vocab-keyed join left UN-hinted (AQE "
        "broadcasts the logprob table when it is actually small; a web "
        "corpus's billion-token vocab shuffle-joins instead of OOMing the "
        "driver) and one per-doc aggregate; the model's N/V scalars are "
        "folded literals, so the scoring pass itself is scan + join + "
        "agg with no Python anywhere.")
    add("Mixture resampling (mixture_sample)",
        qs["mixture_sample"](spark, SF),
        "After the dimension-sized counts aggregate (collected, rates "
        "re-embedded as literals), the data path is ONE narrow scan with "
        "the md5 keep-filter evaluated in the scan stage — zero shuffle, "
        "zero joins; resampling a 100 TB corpus costs a read pass.")

    add("Per-domain quality ranking (domain_quality)",
        qs["domain_quality"](spark, SF),
        "TWO chained HashAggregates — keys (grp, fp) then (grp), each "
        "with a partial_* combine below its Exchange — and NO Expand "
        "node anywhere: the distinct-fingerprint count falls out of "
        "level two's row count instead of a countDistinct rewrite. The "
        "token/bigram arrays materialize once in their own Project "
        "(multiply-referenced non-cheap aliases), so the five per-doc "
        "metrics share one tokenization.")

    add("Exact grouped quantiles over the distinct-value spine "
        "(segment_quantiles_returnflag)",
        qs["segment_quantiles_returnflag"](spark, SF),
        "The data is never globally sorted: a keyed HashAggregate "
        "(map-side partial_count) reduces it to the (flag, value) spine, "
        "the rank window runs over that spine only, and every quantile is "
        "a min(CASE WHEN cum >= ceil(p*n)) in one final aggregate. The "
        "single wide exchange carries per-value counts, not rows — the "
        "documented applicability condition is distinct values << rows.")
    from sparkcheck.similarity import kmeans as _kmeans
    _, kassigned = _kmeans(emb, k=8, iters=1)
    add("Lloyd k-means final assignment (kmeans_refine)",
        kassigned,
        "Assignment is the same literal-fold argmax as the IVF plan — a "
        "single Project over the scan, no Exchange, no Window, no corpus "
        "replication; each refinement round adds one dim-wide fused-avg "
        "HashAggregate (k rows out) and nothing else. Centroids re-embed "
        "as 6dp-rounded literals, so the plan is identical at any "
        "parallelism.")
    add("N-gram novelty vs reference corpus (novelty_documents)",
        qs["novelty_documents"](spark, SF),
        "Both sides reduce to shingle keys BEFORE any join — "
        "array_distinct runs inside the per-document Project, the "
        "reference set dedups with map-side partial aggregation, and the "
        "verdict is one shingle-keyed join (AQE broadcast when the "
        "reference is small) plus one per-doc count aggregate. Document "
        "payloads never ride an exchange.")

    add("Exact two-sample distances (wasserstein_drift_quantity)",
        qs["wasserstein_drift_quantity"](spark, SF),
        "Each side reduces to per-value counts (HashAggregate with "
        "map-side partial_count) BEFORE the full-outer merge, so the "
        "join and the rank windows see only the distinct-value spine — "
        "the data itself is scanned once per side and never sorted. KS "
        "and W1 fall out of one final aggregate over the spine.")

    add("Entropy profile, all columns one shuffle (entropy_profile_orders)",
        qs["entropy_profile_orders"](spark, SF),
        "The stack melt stays inside the scan's WholeStageCodegen (no "
        "Python boundary); ONE groupBy(column, value) Exchange with "
        "map-side partial_count serves every profiled column, and the "
        "entropy identity H = ln N - (sum c ln c)/N is evaluated by a "
        "second HashAggregate over the dimension-sized count frame — "
        "no window touches the raw data.")
    add("Mutual information (mutual_information_lineitem)",
        qs["mutual_information_lineitem"](spark, SF),
        "One groupBy(a, b) shuffle over the pruned two-column scan; the "
        "marginal windows and the final MI/NMI aggregate all run on the "
        "joint-count frame (cardinality = distinct pairs, capped at "
        "max_groups like the chi-square crosstab).")
    add("Benford first-digit conformity (benford_extendedprice)",
        qs["benford_extendedprice"](spark, SF),
        "`PushedFilters` carries the >0 predicate to the parquet scan; "
        "digit extraction is a codegen regexp on the string rendering "
        "(engine-portable, unlike floor(log10)); the 9-row digit spine "
        "joins AFTER aggregation so windows only ever see 9 rows.")
    add("Information gain vs label (information_gain_lineitem)",
        qs["information_gain_lineitem"](spark, SF),
        "Three features share ONE melt and ONE groupBy(feature, value, "
        "label) Exchange (map-side partial_count); the per-feature "
        "marginal windows and the final MI aggregate run over the "
        "joint-count frame only. Adding a feature adds zero extra "
        "passes over the data.")
    add("Mergeable metric states fold (merged_states_lineitem)",
        qs["merged_states_lineitem"](spark, SF),
        "column_states is ONE groupBy(state_key) HashAggregate over a "
        "3-column pruned scan computing every column's (n, sum, mean, "
        "M2, min, max) together; merge_states folds states with the "
        "generalized Chan identity in ONE more aggregate — no window, "
        "no second scan. The states frame is #partitions-sized, so the "
        "merge is free at any corpus size: this is the resume path that "
        "lets corpus stats skip already-committed partitions.")
    add("Mergeable histogram states fold (hist_states_lineitem)",
        qs["hist_states_lineitem"](spark, SF),
        "histogram_states is ONE groupBy(state_key) HashAggregate over a "
        "pruned 3-column scan computing every (column, bin) count as a "
        "sum(when) term; the stack-melt to long format and the "
        "merge_histogram_states sum both run over the #partitions x "
        "#bins-sized states frame — no window on data, no second scan. "
        "Counts over fixed edges are pure sums, so the fold is "
        "bit-identical to a full-scan histogram: corpus KL/PSI drift and "
        "quantile brackets are served from committed states without "
        "rescanning finished partitions.")
    add("Quantile brackets from states (hist_quantile_bounds_lineitem)",
        qs["hist_quantile_bounds_lineitem"](spark, SF),
        "Everything above the single histogram-states scan is "
        "dimension-sized: the cumulative-count window, the per-p integer "
        "rank pick, the stack to (p, bin) rows, and the broadcast edge "
        "lookup all run over the #bins-row merged frame. One scan of the "
        "data yields exact one-bin-wide brackets for every requested "
        "quantile of every column.")

    from pyspark.sql import functions as F

    from sparkcheck.conditions import get_condition
    from sparkcheck.metrics import Domain

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    norm_ok = get_condition("column_values.vector_norm.between").build(
        Domain(column="embedding"), {"min_value": 0.9, "max_value": 1.1}
    )
    add("Vector-norm expectation (vector_validation_embeddings condition)",
        emb.select(F.sum(F.when(~norm_ok, 1).otherwise(0)).alias("n_bad")),
        "The L2-norm check is an `aggregate` HOF inside the single "
        "HashAggregate — the whole expectation is one JVM expression over "
        "the scan (no BatchEvalPython/ArrowEval node anywhere in the "
        "plan), so it agg-bundles with every other map condition and "
        "ships in the same fused pass at any corpus size.")

    spans_df = (
        spark.range(400)
        .select(
            F.col("id").alias("doc_id"),
            F.explode(F.array(
                F.format_string("m%d", F.col("id") % 200),
                F.format_string("m%d", (F.col("id") * 7 + 3) % 200),
            )).alias("media_ref"),
        )
    )
    media_dim = spark.range(200).select(
        F.format_string("m%d", F.col("id")).alias("media_ref"),
        F.sha2(F.format_string("m%d", F.col("id")).cast("binary"), 256)
        .cast("binary").alias("payload"),
    )
    add("Interleaved media join (interleaved_media_validation shape)",
        spans_df.join(F.broadcast(media_dim), "media_ref", "left"),
        "The exploded span->payload join is a `BroadcastHashJoin ... "
        "BuildRight` — media dimensions broadcast, the exploded fact side "
        "never shuffles. At 10^12 docs the payload table is NOT "
        "broadcastable; the engine's referential module switches to the "
        "salted sort-merge form, and the decode stage itself is "
        "mapInPandas over the joined frame either way.")

    from sparkcheck.sketches import bloom_build, bloom_flag, heavy_hitters

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part_dim = spark.read.parquet(f"{SF}/part.parquet").where(
        F.col("p_partkey") % 131 != 0
    )
    bf = bloom_build(part_dim, "p_partkey", fpp=0.01)
    add("Bloom membership probe (bloom_referential_violations tier 1)",
        bloom_flag(li.select("l_partkey", "l_orderkey"), "l_partkey", bf)
        .where(~F.col("__bloom_hit")),
        "The certain-violation tier is scan -> Project -> ArrowEvalPython/"
        "MapInArrow -> Filter: ONE narrow pass over the fact side with NO "
        "Exchange and NO join anywhere in the plan — the dim side is a "
        "driver-collected m/8-byte bitset broadcast to executors. Only the "
        "bloom-HIT remainder (true members + ~fpp false positives) ever "
        "reaches the exact anti-join; in blocklist-style checks where most "
        "keys are dead, the join's probe side shrinks by the full certain "
        "fraction, and the mostly short-circuit can skip it entirely.")
    add("Misra-Gries heavy hitters (heavy_hitters_users)",
        heavy_hitters(spark.read.parquet(f"{SF}/events.parquet"),
                      "user_id", min_fraction=0.008, k=200),
        "Pass 2 of the exact heavy-hitter pipeline. Pass 1 is one `df.agg` "
        "row — `approx_top_k_accumulate` over the (user_id) scan plus "
        "count(1), an ObjectHashAggregate pair with no Python worker — and "
        "its candidates (sketch items whose upper bound reaches the "
        "threshold, at most 0.75 * maxMapSize(k) = 384 values at k=200 "
        "regardless of data size) are collected before this plan is built. "
        "They are a local relation broadcast (`BroadcastHashJoin ... "
        "BuildRight`) against the narrow (user_id) scan, then ONE "
        "HashAggregate pair (partial -> final) whose shuffle carries at "
        "most |candidates| grouped rows: the plan has exactly one parquet "
        "scan.")

    add("A-ES weighted sample (weighted_sample_documents)",
        qs["weighted_sample_documents"](spark, SF),
        "Weight-proportional sampling without replacement is ZERO-shuffle: "
        "one WholeStageCodegen Filter+Project over the scan (the md5 "
        "selection key is a pure expression; `PushedFilters` carries the "
        "n_chars null guard) feeding `TakeOrderedAndProject` — per-partition "
        "top-k heaps, driver merges #partitions x k ids. The document "
        "payload never moves between executors.")
    add("Int8 quantized top-k, fold path (quantized_ann_topk semantics)",
        __import__("sparkcheck.similarity", fromlist=["quantized_topk"]).quantized_topk(
            spark.read.parquet(f"{SF}/embeddings.parquet"),
            spark.read.parquet(f"{SF}/embeddings.parquet").where(F.col("vec_id") < 5),
            k=5, scorer="hof"),
        "The oracle-replayable Column-fold variant: quantization is a CASE "
        "over array HOFs computed inside the scan Project on BOTH sides, "
        "the query side is a `BroadcastExchange` (IdentityBroadcastMode), "
        "and the rank is a `WindowGroupLimit` Partial -> Final pair, so "
        "only ~k rows per partition per query reach the single "
        "hash-partitioned Exchange. The shipped scorer='numpy' path "
        "replaces the join+fold with one MapInArrow int-gemm over the "
        "same quantized codes (rows proven identical by the differential "
        "test).")
    add("IVF-PQ composed ANN (ivfpq_ann_topk)",
        qs["ivfpq_ann_topk"](spark, SF),
        "The full index shape in one plan: the corpus scan is assigned "
        "coarse centroids (Project over the scan, no Exchange — the "
        "centroid argmax is a literal fold), PQ codes come from one "
        "MapInArrow over the narrow (id, vector) projection, the probe "
        "list is a broadcast (`BroadcastHashJoin ... BuildRight` on "
        "centroid_id) so only probe-partition members are ADC-scored "
        "(ArrowEvalPython LUT gathers), and the final rank is again a "
        "WindowGroupLimit pair. No cartesian product anywhere; at scale "
        "the codes column is stored and the assignment Project vanishes "
        "into the table layout (cluster by centroid_id).")

    # ---- round-5 additions ----
    add("Sliding-window chunking (chunked_documents)",
        qs["chunked_documents"](spark, SF),
        "A pure narrow plan: tokenize -> sequence -> Generate posexplode -> "
        "slice, ZERO Exchange nodes — chunking 10^12 docs is one map pass "
        "that pipelines straight into a partitioned writer.")
    add("TF-IDF distinctive terms (distinctive_terms_source)",
        qs["distinctive_terms_source"](spark, SF),
        "The corpus collapses to the (source, token) frame in one "
        "map-side-combined HashAggregate; the df window and top-k rank run "
        "over that dimension-sized frame, and N_sources joins in as a "
        "broadcast 1x1 aggregate — no second scan of the data.")
    add("Fuzzy linkage via deletion blocking (fuzzy_name_pairs)",
        qs["fuzzy_name_pairs"](spark, SF),
        "No cartesian product anywhere: each side explodes its O(len^d) "
        "deletion variants and the candidate join is a plain equi-join on "
        "the variant key (AQE/skew-join eligible), then a narrow "
        "levenshtein filter + distinct over candidate pairs only.")
    add("Embedding decontamination (embedding_decontamination)",
        qs["embedding_decontamination"](spark, SF),
        "One mapInArrow pass over the pruned (id, vec) scan computes each "
        "batch x eval-matrix cosine block as a single float64 gemm and "
        "emits only the per-row max — no Exchange in the plan; corpus "
        "vectors cross the JVM/Python boundary exactly once.")
    add("Quantile-sketch verdicts (quantile_sketch_verdicts)",
        qs["quantile_sketch_verdicts"](spark, SF),
        "Per-task MRL summaries stream out of one mapInArrow pass "
        "(O(k log(n/k)) rows per task), fold per commit unit in one "
        "applyInPandas exchange of summary rows only, and every downstream "
        "frame is dimension-sized — the data itself is scanned once and "
        "never shuffled.")

    add("Interleaved greedy chunking (interleaved_chunk_greedy)",
        qs["interleaved_chunk_greedy"](spark, SF),
        "The greedy window layout is ONE aggregate HOF fold inside a "
        "Project over the scan, then a single Generate posexplode — zero "
        "Exchange nodes; the per-doc sequential recurrence never leaves "
        "the JVM row.")
    add("Engine-portable normalization (normalized_text_documents)",
        qs["normalized_text_documents"](spark, SF),
        "translate + four chained regexp_replace calls, all inside one "
        "WholeStageCodegen Project over the scan — the always-first "
        "curation stage costs one narrow pass.")

    out = ["# Physical-plan evidence (generated by scripts/dump_plans.py)\n",
           "Regenerate after planner-affecting changes: "
           "`python scripts/dump_plans.py`\n"]
    out += sections
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")

if __name__ == "__main__":
    main()
