"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the sparkcheck validation engine end-to-end on the
sf0.001 documents table and returns the per-expectation results DataFrame.

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data-pipeline operators (dedup, similarity
search, text analysis, span-level checks, multimodal plumbing); each
callable takes (spark, sf_dir) and returns a DataFrame. ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL for EVERY query (44/44): hash-based
operators (SimHash, sign-LSH, media fakes) use md5/sha256 derivations both
engines share, and the interleaved span corpus is rebuilt in SQL from the
documents table via the same md5 branch decisions.

Cross-engine determinism rules used throughout:
  - float aggregates rounded to 4 dp (6 dp for cosines) on BOTH sides;
  - dot products / norms are sequential left-folds in doubles on both
    sides (zip_with+aggregate vs list_reduce(list_prepend(0.0, ...)));
  - minhash values compared as fixed-length hex strings (lexicographic ==
    numeric order), md5 on both sides;
  - ranking ties broken by id after rounding to 6 dp.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df
from sparkcheck.conditions import get_condition
from sparkcheck.metrics import Domain
from sparkcheck.summarize import unexpected_df
from sparkcheck.referential import anti_join_violations
from sparkcheck import (
    dedup, diffing, media, sampling, segments, similarity, spans, stats,
    synth, temporal, text,
)
from sparkcheck import keys as keys_mod
from sparkcheck import streaming as streaming_mod


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship — full validation suite over the documents table
# ---------------------------------------------------------------------------

FLAGSHIP_SUITE = ExpectationSuite(
    name="documents_flagship",
    expectations=[ExpectationConfiguration.from_dict(d) for d in [
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 1, "max_value": 10**12}},
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "text"}},
        {"expectation_type": "expect_column_values_to_be_unique",
         "kwargs": {"column": "doc_id"}},
        {"expectation_type": "expect_column_values_to_be_in_set",
         "kwargs": {"column": "lang",
                    "value_set": ["en", "de", "zh", "fr", "es"]}},
        {"expectation_type": "expect_column_values_to_match_regex",
         "kwargs": {"column": "text", "regex": "^[a-z0-9 ]*$"}},
        {"expectation_type": "expect_column_values_to_be_between",
         "kwargs": {"column": "n_chars", "min_value": 1, "max_value": 2000}},
        {"expectation_type": "expect_column_mean_to_be_between",
         "kwargs": {"column": "n_chars", "min_value": 10, "max_value": 1000}},
        {"expectation_type": "expect_column_stdev_to_be_between",
         "kwargs": {"column": "n_chars", "min_value": 0, "max_value": 10000}},
        {"expectation_type": "expect_column_quantile_values_to_be_between",
         "kwargs": {"column": "n_chars",
                    "quantile_ranges": {"quantiles": [0.25, 0.5, 0.75],
                                        "value_ranges": [[0, 2000]] * 3}}},
        {"expectation_type": "expect_column_unique_value_count_to_be_between",
         "kwargs": {"column": "source", "min_value": 1, "max_value": 10**9,
                    "exact": True}},
    ]],
)


def entry(spark: SparkSession) -> DataFrame:
    """Validate sf0.001 documents with the flagship suite; one row per EVR."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    report = validate_df(docs, FLAGSHIP_SUITE, result_format="SUMMARY")
    rows = []
    for r in report["results"]:
        cfg = r["expectation_config"]
        res = r.get("result", {})
        rows.append((
            cfg["expectation_type"],
            cfg["kwargs"].get("column"),
            bool(r["success"]),
            res.get("element_count"),
            res.get("unexpected_count"),
            json.dumps(res.get("observed_value"), default=str)
            if "observed_value" in res else None,
        ))
    return spark.createDataFrame(
        rows,
        "expectation_type string, column string, success boolean, "
        "element_count long, unexpected_count long, observed_value string",
    )


# ---------------------------------------------------------------------------
# Shared SQL fragments (tokenization contract must match sparkcheck.text)
# ---------------------------------------------------------------------------

_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"
_SHINGLES3 = (
    "CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1), "
    "i -> array_to_string(toks[i:i+2], ' ')) ELSE [] END"
)
_SHINGLES2 = (
    "CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), "
    "i -> array_to_string(toks[i:i+1], ' ')) ELSE [] END"
)


def _fold_dot(a: str, b: str) -> str:
    """Sequential left-fold dot product over 64 dims — mirrors
    similarity.dot's zip_with+aggregate fold order exactly."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
    )


def _sw_list(code: str) -> str:
    return ", ".join(f"'{w}'" for w in text.STOPWORDS[code])


def _cos_sql(a: str, b: str, round_dp: int | None = 6) -> str:
    """Cosine via the same sequential folds as similarity.cosine."""
    core = (
        f"{_fold_dot(a, b)} / (sqrt({_fold_dot(a, a)}) * sqrt({_fold_dot(b, b)}))"
    )
    return f"round({core}, {round_dp})" if round_dp is not None else core


def _lsh_sig_sql(n_planes: int = 8) -> tuple[str, str]:
    """(proj column defs, signature expression) for sign-LSH in DuckDB.

    The hyperplane coefficients are the SAME literal floats the Spark plan
    embeds (similarity.plane_coeffs — md5-derived at build time), so the
    signatures agree bit-for-bit; repr() round-trips doubles exactly."""
    from sparkcheck.similarity import plane_coeffs

    coeffs = plane_coeffs(n_planes, 64)
    projs, sig_terms = [], []
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(c) for c in coeffs[p]) + "]"
        projs.append(
            f"list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> embedding[i]::DOUBLE * ({lit})[i])), (x, y) -> x + y) AS proj{p}"
        )
        sig_terms.append(f"(CASE WHEN proj{p} > 0 THEN {1 << p} ELSE 0 END)")
    return ", ".join(projs), " + ".join(sig_terms)


_LANG_SCORES = ", ".join(
    f"CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> x IN ({_sw_list(c)})))::DOUBLE / len(toks) ELSE 0.0 END AS s_{c}"
    for c in sorted(text.STOPWORDS)
)
# argmax with ties -> lexicographically greatest code (matches array_max on
# (score, code) structs in sparkcheck.text.langid)
_PRED_LANG = (
    "CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und' "
    "WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh' "
    "WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr' "
    "WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es' "
    "WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en' "
    "ELSE 'de' END"
)


# ---------------------------------------------------------------------------
# Query implementations (Spark side)
# ---------------------------------------------------------------------------


def q_row_count(spark, sf):
    return _t(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("row_count"))


def q_null_profile_orders(spark, sf):
    o = _t(spark, sf, "orders")
    aggs = [F.count(F.lit(1)).alias("row_count")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in o.columns
    ]
    return o.agg(*aggs)


def q_in_set_violations(spark, sf):
    o = _t(spark, sf, "orders")
    return unexpected_df(
        o, Domain(column="o_orderstatus"), "column_values.in_set",
        {"value_set": ["O", "F"]},
        "expect_column_values_to_be_in_set", doc_id_col="o_orderkey",
    )


def q_between_violation_count(spark, sf):
    li = _t(spark, sf, "lineitem")
    mask = get_condition("column_values.between").unexpected(
        Domain(column="l_quantity"), {"min_value": 1, "max_value": 45}
    )
    return li.agg(
        F.sum(mask.cast("long")).alias("unexpected_count"),
        F.count(F.lit(1)).alias("element_count"),
    )


def q_regex_violation_count(spark, sf):
    d = _t(spark, sf, "documents")
    mask = get_condition("column_values.match_regex").unexpected(
        Domain(column="text"), {"regex": "spark"}
    )
    return d.agg(
        F.sum(mask.cast("long")).alias("unexpected_count"),
        F.count(F.lit(1)).alias("element_count"),
    )


def q_agg_profile_lineitem(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.round(F.mean("l_extendedprice"), 4).alias("mean_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("stdev_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.mean("l_discount"), 4).alias("mean_discount"),
    )


def q_quantiles_quantity(spark, sf):
    li = _t(spark, sf, "lineitem")
    qcol = lambda q, n: F.round(  # noqa: E731
        F.percentile(F.col("l_quantity"), F.lit(q)), 4
    ).alias(n)
    return li.agg(
        qcol(0.25, "q25"), qcol(0.5, "q50"), qcol(0.75, "q75"), qcol(0.95, "q95")
    )


def q_distinct_counts(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("nd_partkey"),
        F.countDistinct("l_suppkey").alias("nd_suppkey"),
        F.countDistinct("l_returnflag").alias("nd_returnflag"),
    )


def q_value_counts_returnflag(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


def q_most_common_priority(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("o_orderpriority"))
        .limit(1)
        .select(F.col("o_orderpriority").alias("most_common"))
    )


def q_unique_violations_custkey(spark, sf):
    # groupBy-count form of the uniqueness check (skew-safe alternative to
    # the window form; SURVEY.md §2.5 unique)
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def q_compound_unique_violation_count(spark, sf):
    li = _t(spark, sf, "lineitem")
    dups = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    return dups.agg(F.count(F.lit(1)).alias("n_dup_groups"))


def q_value_length_profile(spark, sf):
    c = _t(spark, sf, "customer")
    ln = F.length("c_name")
    return c.agg(
        F.min(ln).alias("min_len"),
        F.max(ln).alias("max_len"),
        F.round(F.mean(ln), 4).alias("mean_len"),
    )


def q_histogram_extendedprice(spark, sf):
    li = _t(spark, sf, "lineitem")
    lo, w, nb = 0.0, 5000.0, 22
    bucket = F.least(
        F.greatest(F.floor((F.col("l_extendedprice") - lo) / w), F.lit(0)),
        F.lit(nb - 1),
    ).cast("int")
    return li.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


def q_kl_drift_quantity(spark, sf):
    """KL(P||Q) between l_quantity histograms of returnflag A vs N —
    the single-pass sum(when(bin)) histogram + driver-free smoothing math
    (distribution family, SURVEY.md §2.9), expressed as one plan."""
    li = _t(spark, sf, "lineitem")
    nb = 10
    bucket = F.least(
        F.greatest(F.floor(F.col("l_quantity") / 5), F.lit(0)), F.lit(nb - 1)
    ).cast("int")

    def hist(flag, cname):
        return (
            li.where(F.col("l_returnflag") == flag)
            .groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias(cname))
        )

    bins = spark.range(nb).select(F.col("id").cast("int").alias("b"))
    j = (
        bins.join(hist("A", "ca"), "b", "left")
        .join(hist("N", "cn"), "b", "left")
        .fillna(0)
    )
    na = F.sum("ca").over(Window.partitionBy())
    nn = F.sum("cn").over(Window.partitionBy())
    p = (F.col("ca") + 1.0) / (na + float(nb))
    q = (F.col("cn") + 1.0) / (nn + float(nb))
    return j.select(p.alias("p"), q.alias("q")).agg(
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 4).alias("kl")
    )


def q_psi_drift_totalprice(spark, sf):
    """PSI between o_totalprice distributions of orderstatus O vs F over
    fixed equal-width bins — the drift-vs-baseline-snapshot machinery
    (SURVEY.md §2.9 / sparkcheck.distribution.psi) as one plan."""
    o = _t(spark, sf, "orders")
    nb, w = 10, 50000.0
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / w), F.lit(0)), F.lit(nb - 1)
    ).cast("int")

    def hist(flag, cname):
        return (
            o.where(F.col("o_orderstatus") == flag)
            .groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias(cname))
        )

    bins = spark.range(nb).select(F.col("id").cast("int").alias("b"))
    j = (
        bins.join(hist("O", "co"), "b", "left")
        .join(hist("F", "cf"), "b", "left")
        .fillna(0)
    )
    no = F.sum("co").over(Window.partitionBy())
    nf = F.sum("cf").over(Window.partitionBy())
    eps = 1e-6
    p = (F.col("co") / no) + eps
    q = (F.col("cf") / nf) + eps
    return j.select(((p - q) * F.log(p / q)).alias("t")).agg(
        F.round(F.sum("t"), 4).alias("psi")
    )


def q_events_hourly_profile(spark, sf):
    """Tumbling-window aggregation over the events stream table: per
    (day, event_type) counts + value stats — the batch form of the
    windowed-agg pattern (date_trunc keeps it oracle-comparable)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_event_sessions(spark, sf):
    """Gap sessionization (30-min inactivity splits) over the events table:
    one row per (user, session) with event count, span, and value total —
    temporal.session_summary, a single-shuffle lag+running-sum window."""
    e = _t(spark, sf, "events")
    return temporal.session_summary(
        e, key_col="user_id", ts_col="ts", gap_seconds=1800,
        value_col="value", order_cols=("event_id",),
    )


def q_event_asof_purchase(spark, sf):
    """As-of join: every click event picks up the most recent prior (or
    simultaneous) purchase by the same user — temporal.asof_join's
    union+window plan (one shuffle, no range-join blowup) vs DuckDB's
    native ASOF LEFT JOIN."""
    e = _t(spark, sf, "events")
    clicks = e.where(F.col("event_type") == "click")
    purchases = e.where(F.col("event_type") == "purchase")
    out = temporal.asof_join(
        clicks, purchases, "user_id", "ts",
        ("event_id", "value"), right_tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "asof_ts_us",
        F.col("asof_event_id").alias("purchase_event_id"),
        F.col("asof_value").alias("purchase_value"),
    )


def q_windowed_validation(spark, sf):
    """Per-event-time-window validation metrics via the streaming-shared
    windowed aggregation (streaming.windowed_violation_counts — identical
    plan on batch input)."""
    from sparkcheck.streaming import windowed_violation_counts

    e = _t(spark, sf, "events")
    suite = ExpectationSuite("w", [
        ExpectationConfiguration.from_dict(d) for d in [
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "value", "min_value": 0, "max_value": 50}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "value"}},
        ]
    ])
    out = windowed_violation_counts(e, suite, "ts", "1 day")
    return out.select(
        F.to_date(F.col("window.start")).alias("window_start"),
        "element_count",
        F.col("unexpected__0__expect_column_values_to_be_between__value").alias(
            "n_out_of_range"
        ),
        F.col("unexpected__1__expect_column_values_to_not_be_null__value").alias(
            "n_null"
        ),
    )


def q_zscore_outlier_count(spark, sf):
    o = _t(spark, sf, "orders")
    stats = o.agg(
        F.mean("o_totalprice").alias("m"), F.stddev_samp("o_totalprice").alias("s")
    )
    return (
        o.crossJoin(F.broadcast(stats))
        .where(F.abs((F.col("o_totalprice") - F.col("m")) / F.col("s")) > 2.5)
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )


def q_referential_violations(spark, sf):
    o = _t(spark, sf, "orders")
    dim = _t(spark, sf, "customer").where(F.col("c_custkey") % 97 != 0)
    bad = anti_join_violations(o, "o_custkey", dim, "c_custkey")
    return bad.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))


def q_pair_violation_count(spark, sf):
    li = _t(spark, sf, "lineitem")
    mask = get_condition("column_pair_values.a_greater_than_b").unexpected(
        Domain(column_a="l_tax", column_b="l_discount"), {"or_equal": True}
    )
    return li.agg(F.sum(mask.cast("long")).alias("unexpected_count"))


def q_row_condition_mean(spark, sf):
    li = _t(spark, sf, "lineitem")
    dom = Domain(row_condition="l_returnflag = 'A'")
    return dom.apply(li).agg(
        F.round(F.mean("l_extendedprice"), 4).alias("mean_price"),
        F.count(F.lit(1)).alias("n"),
    )


def q_multicolumn_unique_violations(spark, sf):
    """Legacy expect_multicolumn_values_to_be_unique semantics via the
    skew-safe extraction path (groupBy dup keys + left-semi join back —
    summarize.filter_unexpected_rows; no full-row window)."""
    li = _t(spark, sf, "lineitem")
    v = unexpected_df(
        li,
        Domain(column_list=("l_partkey", "l_suppkey")),
        "compound_columns.unique",
        {},
        "expect_multicolumn_values_to_be_unique",
        doc_id_col="l_orderkey",
    )
    return v.agg(F.count(F.lit(1)).alias("n_duplicate_rows"))


def q_dsl_row_condition_mean(spark, sf):
    """GE mini-DSL row condition (condition_parser="great_expectations")
    translated to a pushdown-able Spark SQL predicate."""
    from sparkcheck.row_conditions import resolve_row_condition

    li = _t(spark, sf, "lineitem")
    dom = Domain(
        row_condition=resolve_row_condition(
            'col("l_quantity") > 25', "great_expectations"
        )
    )
    return dom.apply(li).agg(
        F.round(F.mean("l_extendedprice"), 4).alias("mean_price"),
        F.count(F.lit(1)).alias("n"),
    )


def q_table_schema_lineitem(spark, sf):
    li = _t(spark, sf, "lineitem")
    # parquet timestamps read as timestamp_ntz in Spark 4; normalize to the
    # engine-neutral name so the oracle's type mapping lines up
    return spark.createDataFrame(
        [
            (f.name, f.dataType.simpleString().replace("timestamp_ntz", "timestamp"))
            for f in li.schema.fields
        ],
        "col_name string, col_type string",
    )


# --- span-level (tokens-as-spans over the documents table) -----------------


def q_span_profile(spark, sf):
    d = _t(spark, sf, "documents")
    toks = text.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_spans"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


def q_span_token_violations(spark, sf):
    d = _t(spark, sf, "documents")
    ex = d.select("doc_id", F.posexplode(text.tokens("text")).alias("span_index", "token"))
    return ex.where(F.length("token") > 6)


# --- text analysis / dedup / similarity ------------------------------------


def q_text_profile(spark, sf):
    return text.text_profile(_t(spark, sf, "documents"))


def q_langid_counts(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy(text.langid("text").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_exact_dup_count(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.exact_duplicates(d).agg(F.count(F.lit(1)).alias("n_dup_groups"))


def q_prefix_dups(spark, sf):
    return dedup.prefix_duplicates(_t(spark, sf, "documents"), n_tokens=2)


def q_jaccard_pairs(spark, sf):
    return dedup.jaccard_pairs(
        _t(spark, sf, "documents"), n=3, threshold=0.1, max_df=50
    )


def q_dedup_clusters(spark, sf):
    """Connected-component duplicate clusters over the Jaccard pair graph:
    (doc_id, cluster_id = smallest reachable doc_id). Iterative min-label
    propagation (dedup.duplicate_clusters) vs a DuckDB recursive CTE."""
    pairs = dedup.jaccard_pairs(
        _t(spark, sf, "documents"), n=3, threshold=0.1, max_df=50
    )
    return dedup.duplicate_clusters(pairs)


def q_canonical_selection(spark, sf):
    """Keep/drop decision after clustering (dedup.select_canonical): one
    keeper per duplicate cluster — highest n_chars, ties to smallest
    doc_id — everything else flagged for the drop list; docs in no
    cluster keep themselves. The oracle replays clustering (recursive
    CTE) and the max-quality-min-id selection in SQL."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.jaccard_pairs(docs, n=3, threshold=0.1, max_df=50)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.select_canonical(
        docs.select("doc_id", "n_chars"), clusters, quality_col="n_chars"
    ).select("doc_id", "cluster_id", "is_canonical")


def q_bpe_token_stats(spark, sf):
    """BPE-ish pre-token counts per doc (text.bpe_token_count) next to the
    whitespace token count — the standard token-budget proxy."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        text.bpe_token_count("text").alias("bpe_tokens"),
        text.token_count("text").alias("ws_tokens"),
    )


def q_repetition_profile(spark, sf):
    """Gopher-style repetition metrics per doc (repeated token / bigram /
    trigram fractions) — doc-local array ops, zero shuffle."""
    return text.repetition_profile(_t(spark, sf, "documents"))


def q_pii_scrub(spark, sf):
    """PII detection + redaction over documents with deterministically
    injected synthetic PII (emails / IPs / phones / SSNs derived from
    doc_id so both engines build the identical input). Emits per-class
    match counts and the md5 of the scrubbed text."""
    did = F.col("doc_id")
    inj = (
        F.when(did % 20 == 0, F.format_string(
            " contact user%d@example.com or x%d@test.org", did, did))
        .when(did % 20 == 7, F.format_string(
            " from 10.0.%d.%d port 80", did % 256, (did * 7) % 250))
        .when(did % 20 == 13, F.format_string(
            " call +1 555 01%02d 23 45 and ssn %03d-45-6789",
            did % 100, did % 1000))
        .otherwise(F.lit(""))
    )
    aug = F.concat(F.col("text"), inj)
    return _t(spark, sf, "documents").select(
        "doc_id",
        *text.pii_counts(aug),
        F.md5(text.scrub_pii(aug)).alias("scrubbed_fp"),
    )


def q_contamination(spark, sf):
    """Train/test decontamination: corpus docs sharing >=1 distinct word
    trigram with the benchmark holdout (doc_id % 97 == 0) — broadcast
    n-gram join, zero corpus shuffle before the doc_id count."""
    d = _t(spark, sf, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    return dedup.contamination(corpus, bench, n=3, min_overlap=1)


def q_token_budget_sample(spark, sf):
    """Domain-balanced token-budget sampling: deterministically hash-sample
    documents so each source lands near an equal share of a 10k-token
    budget; emits per-source kept-doc and kept-token totals."""
    d = _t(spark, sf, "documents").withColumn(
        "__ntok", text.token_count("text"))
    kept = sampling.sample_to_token_budget(
        d, 10000.0, "source", "__ntok", "doc_id", salt="budget")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__ntok").alias("tokens_kept"),
    )


def q_minhash_candidate_count(spark, sf):
    cands = dedup.lsh_candidate_pairs(
        _t(spark, sf, "documents"), n_hashes=12, band_size=3, n=3, max_df=None
    )
    return cands.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))


def q_ann_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return similarity.brute_force_topk(e, e.where(F.col("vec_id") < 5), k=5).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rnk")
    )


def q_lsh_neardup_pairs(spark, sf):
    """Embedding near-dup discovery via sign-LSH buckets (the scale path;
    embedding_neardup_count below is the exact O(n^2) oracle stage)."""
    e = _t(spark, sf, "embeddings")
    return similarity.lsh_near_duplicates(e, threshold=0.3, n_planes=6).select(
        "id_a", "id_b", "cos"
    )


def q_lsh_neardup_multiprobe(spark, sf):
    """Multi-probe sign-LSH near-dup discovery (n_probe=2): every vector
    also hashes into the bucket across its lowest-|projection| hyperplane
    (similarity.with_probe_signatures), so pairs one low-margin bit apart
    are recovered — measured pair recall 0.687 -> 0.947 on the seeded
    perturbed-copy corpus. The oracle replicates the flip in SQL via
    list_position(aproj, list_min(aproj))."""
    e = _t(spark, sf, "embeddings")
    return similarity.lsh_near_duplicates(
        e, threshold=0.3, n_planes=6, n_probe=2
    ).select("id_a", "id_b", "cos")


def q_embedding_neardup_count(spark, sf):
    e = _t(spark, sf, "embeddings")
    return similarity.cosine_near_duplicates(e, threshold=0.9).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


# --- rows-only queries (no SQL oracle: xxhash64 / mapInPandas / synth) -----


def q_simhash_neardup_count(spark, sf):
    # max_hamming=3 is the pigeonhole guarantee of 4 x 16-bit banding
    d = _t(spark, sf, "documents")
    return dedup.simhash_near_duplicates(d, max_hamming=3).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def q_lsh_ann_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return similarity.lsh_topk(
        e, e.where(F.col("vec_id") < 5), k=5, n_planes=8, n_probe=2
    ).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rnk")
    )


def q_ivf_ann_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return similarity.ivf_topk(
        e, e.where(F.col("vec_id") < 5), k=5, n_centroids=16, n_probe=4,
        assign_impl="fold",  # oracle bit-replay; API default is the arrow gemm
    ).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rnk")
    )


def q_span_struct_violations(spark, sf):
    """North-rule interleaved corpus (doc_id, spans:array<struct<kind,text,
    media_ref,offset>>) derived deterministically from the documents table
    (md5-based interleave, DuckDB-replicable) -> violation rows per
    span-level expectation from the single-pass native extractor."""
    d = _t(spark, sf, "documents")
    docs = spans.interleave_documents(d)
    v = spans.span_violations(docs, run_id="q", partition_id="all")
    return v.groupBy("expectation").agg(F.count(F.lit(1)).alias("n_violations"))


def q_span_suite_report(spark, sf):
    """Span-level expectations as first-class suite members: the validator
    runs expect_span_values_* over the exploded span domain; the oracle
    recomputes element/missing/unexpected per expectation from the same
    md5-derived corpus construction."""
    docs = spans.interleave_documents(_t(spark, sf, "documents"))
    suite = ExpectationSuite("span_suite", [
        ExpectationConfiguration.from_dict(d) for d in [
            {"expectation_type": "expect_span_values_to_be_in_set",
             "kwargs": {"span_field": "kind",
                        "value_set": ["text", "image", "audio", "video"]}},
            {"expectation_type": "expect_span_values_to_match_regex",
             "kwargs": {"span_field": "text", "regex": "^[\\x20-\\x7E]*$",
                        "mostly": 0.9}},
            {"expectation_type": "expect_span_values_to_be_between",
             "kwargs": {"span_field": "offset", "min_value": 0,
                        "max_value": 10**6}},
        ]
    ])
    rep = validate_df(docs, suite, result_format="BASIC")
    rows = []
    for r in rep["results"]:
        cfg = r["expectation_config"]
        res = r["result"]
        rows.append((
            cfg["expectation_type"],
            cfg["kwargs"]["span_field"],
            int(res["element_count"]),
            int(res["missing_count"]),
            int(res["unexpected_count"]),
        ))
    return spark.createDataFrame(
        rows,
        "expectation string, span_field string, element_count bigint, "
        "missing_count bigint, unexpected_count bigint",
    )


def q_span_fingerprints(spark, sf):
    """Span-sequence equality invariant: per-doc md5 fingerprint of the
    ordered (kind, text, media_ref) sequence via the Arrow pandas UDF; the
    oracle recomputes the same byte stream in SQL, verifying the UDF
    row-for-row."""
    d = _t(spark, sf, "documents")
    docs = spans.interleave_documents(d)
    return docs.select(
        "doc_id", spans.span_sequence_fingerprint("spans").alias("fp")
    )


def q_media_image_features(spark, sf):
    """mapInPandas image feature extraction over the deterministic fake
    media table; every feature is sha256-of-payload-derived, so the oracle
    recomputes the identical numbers in SQL from range(256)."""
    m = media.synth_media(spark, 256)
    feats = media.image_features(m, fake=True)
    return feats.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
        F.countDistinct("digest").alias("n_distinct"),
    )


def q_media_frame_samples(spark, sf):
    m = media.synth_media(spark, 256)
    frames = media.sample_frames(m, every_n=5, fake=True)
    return frames.agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("media_ref").alias("n_videos"),
    )


_DRIFT_BINS = [0.0, 15.0, 35.0, 70.0, 500.0]
_DRIFT_BASE = [0.25, 0.25, 0.25, 0.25]


def q_windowed_drift_events(spark, sf):
    """Per-day PSI drift of events.value against a uniform-quartile
    baseline — streaming.windowed_drift's watermark-ready plan run in batch
    mode (identical aggregation; one stateful operator, zero Python)."""
    e = _t(spark, sf, "events")
    out = streaming_mod.windowed_drift(
        e, "ts", "value", _DRIFT_BINS, _DRIFT_BASE,
        window_duration="1 day", threshold=0.05,
    )
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp"))
        .alias("window_start_us"),
        "n_values", "psi",
        F.col("drift").cast("int").alias("drift"),
    )


def q_dataset_diff_orders(spark, sf):
    """Version diff of the orders table against a deterministically
    perturbed rebuild (keys%101 added, keys%97 removed, keys%89 repriced) —
    diffing.diff_summary: both sides reduce to (key, xxhash64(row)) before
    one full-outer sort-merge join, so the exchange moves ~16 bytes/row."""
    o = _t(spark, sf, "orders")
    old = o.where(F.col("o_orderkey") % 101 != 0)
    new = o.where(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")),
    )
    return diffing.diff_summary(old, new, ["o_orderkey"])


def q_passage_dedup_documents(spark, sf):
    """Corpus-wide passage dedup (dedup.drop_duplicate_passages, 8-token
    blocks): every passage keeps only its globally first occurrence and
    each document's text is rebuilt from the survivors — the removal half
    of RefinedWeb-style line dedup. One passage-keyed shuffle for the
    first-occurrence argmin (groupBy MIN(struct), map-side combine — hot
    passages collapse per input partition; exact, no hash-collision
    deletions), one co-partitioned verdict join, one rebuild groupBy."""
    d = _t(spark, sf, "documents")
    return dedup.drop_duplicate_passages(d, block_tokens=8)


def q_incremental_validation_orders(spark, sf):
    """Incremental revalidation (diffing.revalidate_delta): the suite's
    row-local expectations run over ONLY the rows the rebuild added or
    changed — the same deterministic perturbation as dataset_diff_orders —
    so validation cost scales with churn, not table size. All three
    expectations fuse into one aggregation over the delta."""
    from sparkcheck import ExpectationSuite

    o = _t(spark, sf, "orders")
    old = o.where(F.col("o_orderkey") % 101 != 0)
    new = o.where(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")),
    )
    s = ExpectationSuite("delta")
    s.add("expect_column_values_to_not_be_null", column="o_custkey")
    s.add(
        "expect_column_values_to_be_between",
        column="o_totalprice",
        min_value=1000,
        max_value=300000,
    )
    s.add(
        "expect_column_values_to_match_regex",
        column="o_orderpriority",
        regex="^[1-3]",
    )
    rep, _skipped = diffing.revalidate_delta(old, new, ["o_orderkey"], s)
    return rep


def q_segment_validation_returnflag(spark, sf):
    """Per-segment aggregate validation over lineitem grouped by
    (l_returnflag, l_linestatus): every check's aggregate + bounds flag in
    ONE groupBy pass (segments.segment_validation) — the N-segments ×
    M-checks matrix costs a single shuffle."""
    li = _t(spark, sf, "lineitem")
    out = segments.segment_validation(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            ("n_rows", F.count(F.lit(1)), 1.0, None),
            ("avg_disc", F.round(F.avg("l_discount"), 4), 0.0, 0.06),
            ("max_qty", F.round(F.max("l_quantity"), 4), None, 50.0),
            ("sum_price", F.round(F.sum("l_extendedprice"), 2), 0.0, None),
        ],
    )
    # int-cast the flags for cross-engine value hashing
    flag_cols = [c for c in out.columns if c.endswith("_ok")] + ["segment_success"]
    return out.select(
        *[F.col(c).cast("int").alias(c) if c in flag_cols else F.col(c)
          for c in out.columns]
    )


def q_corr_profile_lineitem(spark, sf):
    """All-pairs Pearson correlation over lineitem's numeric measures —
    stats.correlation_profile: every F.corr lands in ONE fused HashAggregate
    (map-side partial merge), then the single row is reshaped long."""
    li = _t(spark, sf, "lineitem")
    return stats.correlation_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_spearman_quantity_price(spark, sf):
    """Spearman rank correlation of (l_quantity, l_extendedprice) —
    stats.spearman_correlation: exact midranks from the distinct-value spine
    (no global data sort), Pearson over ranks in one fused agg."""
    li = _t(spark, sf, "lineitem")
    return stats.spearman_correlation(li, "l_quantity", "l_extendedprice")


def q_quarantine_split(spark, sf):
    """Row-level quarantine: ONE projection evaluates every row-local
    expectation in the suite, tagging each row with the labels it violates
    (quarantine.tag_failures). Returns per-expectation quarantined-row
    counts plus a `__valid__` row — the clean/parked split a 10^12-doc
    curation pipeline routes on. Uniqueness rides a key-only groupBy with
    the tiny dup-key side broadcast back; no full-row shuffle anywhere."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.quarantine import FAILED_COL, tag_failures

    d = _t(spark, sf, "documents")
    s = ExpectationSuite("quarantine_docs")
    s.add(
        "expect_column_values_to_be_in_set",
        column="lang",
        value_set=["en", "es", "de", "fr"],
    )
    s.add(
        "expect_column_values_to_be_between",
        column="n_chars",
        min_value=50,
        max_value=500,
    )
    s.add("expect_column_values_to_match_regex", column="source", regex="^src[0-4]")
    s.add("expect_column_values_to_be_unique", column="doc_id")
    tagged, _skipped = tag_failures(d, s)
    per_label = (
        tagged.select(F.explode(FAILED_COL).alias("expectation"))
        .groupBy("expectation")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    valid = tagged.where(F.size(FAILED_COL) == 0).agg(
        F.lit("__valid__").alias("expectation"), F.count(F.lit(1)).alias("n")
    )
    return per_label.unionAll(valid).orderBy("expectation")


def q_fd_check_lineitem(spark, sf):
    """Functional-dependency audit: does l_orderkey determine l_returnflag?
    (It doesn't — an order's lineitems can carry different flags; the
    summary quantifies the blast radius.) keys.fd_summary: two map-side-
    combinable hash aggregations, no Expand-based countDistinct."""
    from sparkcheck.keys import fd_summary

    return fd_summary(_t(spark, sf, "lineitem"), "l_orderkey", "l_returnflag")


def q_join_key_health_lineitem(spark, sf):
    """Pre-join key diagnostics for lineitem.l_orderkey: null-key rows,
    distinct keys, worst-key fanout, salting candidates over a fanout
    threshold — the profile you read BEFORE shuffling 100 TB on the key."""
    from sparkcheck.keys import join_key_health

    return join_key_health(_t(spark, sf, "lineitem"), "l_orderkey", fanout_threshold=5)


def q_salted_join_profile(spark, sf):
    """Partial-salted equi-join (keys.salted_join): the 10 heaviest
    l_orderkey values get their fact rows scattered over 8 salts and the
    matching orders rows replicated 8 ways; every other key joins
    unsalted. Result must be row-identical to the plain join (the oracle
    IS the plain join) — salting changes the shuffle layout, never the
    answer."""
    from sparkcheck.keys import salted_join

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    j = salted_join(li, o, "l_orderkey", n_salts=8, heavy_top=10)
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .orderBy("o_orderstatus")
    )


def q_media_png_roundtrip(spark, sf):
    """PNG codec proof, oracle-gated: each task builds an 8x8 RGB image
    whose pixel bytes are md5-derived (byte p of image i = first two hex
    nibbles of md5('i:p')), encodes it with media.encode_png, decodes it
    back through media.decode_image (the REAL pure-python PNG path), and
    emits (media_ref, width, height, mean_luma). The DuckDB oracle never
    decodes anything — it recomputes the luma straight from the md5
    formula, so the hash match proves decode(encode(x)) == x distributed."""
    import pandas as _pd

    from sparkcheck.media import decode_image, encode_png

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                px = _np.array(
                    [
                        int(_h.md5(f"{i}:{p}".encode()).hexdigest()[:2], 16)
                        for p in range(8 * 8 * 3)
                    ],
                    dtype=_np.uint8,
                ).reshape(8, 8, 3)
                feats = decode_image(encode_png(px), fake=False)
                out.append(
                    (
                        f"img{i}",
                        feats["width"],
                        feats["height"],
                        feats["mean_luma"],
                    )
                )
            yield _pd.DataFrame(
                out, columns=["media_ref", "width", "height", "mean_luma"]
            )

    schema = "media_ref string, width long, height long, mean_luma double"
    return (
        spark.range(16).repartition(4).mapInPandas(gen, schema)
        .select(
            "media_ref",
            "width",
            "height",
            F.round("mean_luma", 6).alias("mean_luma"),
        )
        .orderBy("media_ref")
    )


def q_media_wav_roundtrip(spark, sf):
    """WAV codec proof, oracle-gated (the audio analog of
    media_png_roundtrip): sample p of clip i is the int16 from the first
    four hex nibbles of md5('i:p') minus 32768; Spark encodes with
    media.encode_wav, decodes through media.decode_audio (the REAL RIFF
    PCM path), and emits the decoded rms — the DuckDB oracle recomputes
    rms straight from the md5 formula without decoding."""
    import pandas as _pd

    from sparkcheck.media import decode_audio, encode_wav

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                s = _np.array(
                    [
                        int(_h.md5(f"{i}:{p}".encode()).hexdigest()[:4], 16)
                        - 32768
                        for p in range(256)
                    ],
                    dtype="<i2",
                ).reshape(-1, 1)
                feats = decode_audio(encode_wav(s, 8000), fake=False)
                out.append(
                    (
                        f"wav{i}",
                        feats["sample_rate"],
                        feats["n_samples"],
                        feats["rms"],
                    )
                )
            yield _pd.DataFrame(
                out, columns=["media_ref", "sample_rate", "n_samples", "rms"]
            )

    schema = "media_ref string, sample_rate long, n_samples long, rms double"
    return (
        spark.range(16).repartition(4).mapInPandas(gen, schema)
        .select(
            "media_ref",
            "sample_rate",
            "n_samples",
            F.round("rms", 6).alias("rms"),
        )
        .orderBy("media_ref")
    )


def q_media_jpeg_roundtrip(spark, sf):
    """Baseline JPEG codec proof, oracle-gated. JPEG is LOSSY, so unlike
    the PNG/WAV round-trips the oracle cannot recompute decoded values —
    instead each image is built from four FLAT 8x8 blocks whose levels are
    md5-derived (level b of image i = first two hex nibbles of
    md5('i:b')): flat blocks put all energy in the DC coefficient, so at
    quality 95 decode(encode(x)) is within 1 count per pixel
    (tests/test_jpeg.py::test_flat_blocks_near_exact). Spark emits the
    EXACTLY-recomputable columns (dims + original level sum, which the
    DuckDB oracle rebuilds from the md5 formula) plus n_bad = count of
    pixels off by more than 1, which the oracle pins to 0 — a constant,
    but one only a REAL distributed decode can produce."""
    import pandas as _pd

    from sparkcheck.jpeg import decode_jpeg, encode_jpeg

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                levels = [
                    int(_h.md5(f"{i}:{b}".encode()).hexdigest()[:2], 16)
                    for b in range(4)
                ]
                img = _np.zeros((16, 16), dtype=_np.uint8)
                img[:8, :8] = levels[0]
                img[:8, 8:] = levels[1]
                img[8:, :8] = levels[2]
                img[8:, 8:] = levels[3]
                arr, w, h = decode_jpeg(encode_jpeg(img, quality=95))
                n_bad = int(
                    (
                        _np.abs(
                            arr[:, :, 0].astype(_np.int64)
                            - img.astype(_np.int64)
                        )
                        > 1
                    ).sum()
                )
                out.append((f"jpg{i}", w, h, sum(levels), n_bad))
            yield _pd.DataFrame(
                out,
                columns=["media_ref", "width", "height", "level_sum", "n_bad"],
            )

    schema = (
        "media_ref string, width long, height long, "
        "level_sum long, n_bad long"
    )
    return (
        spark.range(16).repartition(4).mapInPandas(gen, schema)
        .orderBy("media_ref")
    )


def q_media_gif_roundtrip(spark, sf):
    """Animated-GIF codec proof, oracle-gated. GIF is LOSSLESS over
    indexed color, so (unlike JPEG) the oracle fully recomputes decoded
    pixels: frame f of image i holds 8x8 gray pixels whose level is
    (first md5 nibble of 'i:f:x') % 4 scaled by 85. Spark encodes a
    3-frame animation (gif.encode_gif: real LZW), decodes it back
    (gif.decode_gif: LZW + compositing), and emits per-frame pixel sums
    the DuckDB oracle rebuilds from the md5 formula, plus n_bad =
    mismatched-pixel count pinned to 0 — constants only a real
    distributed decode can produce."""
    import pandas as _pd

    from sparkcheck.gif import decode_gif, encode_gif

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                orig = []
                for f in range(3):
                    lv = [
                        (int(_h.md5(f"{i}:{f}:{x}".encode()).hexdigest()[0], 16) % 4) * 85
                        for x in range(64)
                    ]
                    orig.append(
                        _np.array(lv, dtype=_np.uint8).reshape(8, 8)
                    )
                frames, w, h, _delays = decode_gif(
                    encode_gif(orig, delays_cs=[10, 10, 10])
                )
                for f, (a, o) in enumerate(zip(frames, orig)):
                    exp = _np.stack([o] * 3, axis=2)
                    out.append((
                        f"gif{i}", f, w, h,
                        int(a[:, :, 0].astype(_np.int64).sum()),
                        int((a != exp).sum()),
                    ))
            yield _pd.DataFrame(
                out,
                columns=[
                    "media_ref", "frame_index", "width", "height",
                    "px_sum", "n_bad",
                ],
            )

    schema = (
        "media_ref string, frame_index long, width long, height long, "
        "px_sum long, n_bad long"
    )
    return (
        spark.range(12).repartition(4).mapInPandas(gen, schema)
        .orderBy("media_ref", "frame_index")
    )


def q_media_progressive_jpeg(spark, sf):
    """Progressive (SOF2) JPEG proof, oracle-gated via the same
    flat-block DC envelope as media_jpeg_roundtrip PLUS the differential
    invariant: a progressive stream carries the same quantized
    coefficients as its baseline twin, so twin_equal (bit-identical
    decodes) is pinned to 1 and n_bad (progressive decode vs the
    original flat levels, off by more than 1) to 0."""
    import pandas as _pd

    from sparkcheck.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                levels = [
                    int(_h.md5(f"{i}:{b}".encode()).hexdigest()[:2], 16)
                    for b in range(4)
                ]
                img = _np.zeros((16, 16), dtype=_np.uint8)
                img[:8, :8] = levels[0]
                img[:8, 8:] = levels[1]
                img[8:, :8] = levels[2]
                img[8:, 8:] = levels[3]
                base, _, _ = decode_jpeg(encode_jpeg(img, quality=95))
                prog, w, h = decode_jpeg(
                    encode_jpeg_progressive(img, quality=95)
                )
                n_bad = int(
                    (
                        _np.abs(
                            prog[:, :, 0].astype(_np.int64)
                            - img.astype(_np.int64)
                        )
                        > 1
                    ).sum()
                )
                out.append((
                    f"pjpg{i}", w, h, sum(levels), n_bad,
                    int(_np.array_equal(base, prog)),
                ))
            yield _pd.DataFrame(
                out,
                columns=[
                    "media_ref", "width", "height", "level_sum",
                    "n_bad", "twin_equal",
                ],
            )

    schema = (
        "media_ref string, width long, height long, "
        "level_sum long, n_bad long, twin_equal long"
    )
    return (
        spark.range(16).repartition(4).mapInPandas(gen, schema)
        .orderBy("media_ref")
    )


def q_media_video_roundtrip(spark, sf):
    """AVI + Y4M video-container proof, oracle-gated (sparkcheck.video;
    no reference analog — GX never decodes media). Frame f of video i is
    an 8x8 flat gray whose level is the first md5 byte of 'i:f'. Three
    container paths per video: AVI/MJPEG at quality 95 (flat-block DC
    envelope — every pixel within +-1 of the level, avi_bad pinned 0),
    AVI/raw-DIB (lossless, dib_exact pinned 1), and Y4M C444 (gray
    frames put Cb=Cr exactly at 128, so full-range YCbCr is lossless on
    them — y4m_exact pinned 1); the rational frame rate survives both
    containers (fps_ok pinned 1). The oracle rebuilds levels from the
    md5 formula — constants only real encode/decode loops can hit."""
    import pandas as _pd

    from sparkcheck.video import (
        decode_avi,
        decode_y4m,
        encode_avi,
        encode_y4m,
    )

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                levels = [
                    int(_h.md5(f"{i}:{f}".encode()).hexdigest()[:2], 16)
                    for f in range(3)
                ]
                orig = [
                    _np.full((8, 8), lv, dtype=_np.uint8) for lv in levels
                ]
                mjpg, _, _, afps = decode_avi(
                    encode_avi(orig, fps=(30000, 1001), quality=95)
                )
                dib, _, _, _ = decode_avi(encode_avi(orig, codec="dib"))
                y4m, w, h, yfps = decode_y4m(
                    encode_y4m(orig, fps=(24, 1), colorspace="444")
                )
                fps_ok = int(afps == (30000, 1001) and yfps == (24, 1))
                for f, lv in enumerate(levels):
                    exp = _np.full((8, 8, 3), lv, dtype=_np.uint8)
                    out.append((
                        f"vid{i}", f, w, h, lv,
                        int((
                            _np.abs(mjpg[f].astype(_np.int64) - lv) > 1
                        ).sum()),
                        int(_np.array_equal(dib[f], exp)),
                        int(_np.array_equal(y4m[f], exp)),
                        fps_ok,
                    ))
            yield _pd.DataFrame(
                out,
                columns=[
                    "media_ref", "frame_index", "width", "height",
                    "level", "avi_bad", "dib_exact", "y4m_exact", "fps_ok",
                ],
            )

    schema = (
        "media_ref string, frame_index long, width long, height long, "
        "level long, avi_bad long, dib_exact long, y4m_exact long, "
        "fps_ok long"
    )
    return (
        spark.range(12).repartition(4).mapInPandas(gen, schema)
        .orderBy("media_ref", "frame_index")
    )


def q_video_frame_sampling(spark, sf):
    """media.sample_frames(fake=False) over REAL AVI payloads — the
    distributed-operator proof on top of the codec proof above. One
    executor-side mapInPandas stage builds video i as an AVI/raw-DIB of
    n_i = (first md5 nibble of 'v<i>') % 6 + 2 flat 4x4 frames whose
    per-frame gray level is (first md5 nibble of 'i:f') * 16; a second
    stage (media.sample_frames) really decodes the RIFF container and
    emits every 3rd frame's sha256 pixel digest. The aggregate's
    per-video sampled counts, frame-index sums, and distinct-digest
    counts are recomputed by the DuckDB oracle from the same md5
    arithmetic (digest distinctness == level distinctness: sha256 is
    injective on these 48-byte buffers). Payload bytes never leave the
    executors — only the 3-column aggregate crosses to the driver."""
    import pandas as _pd

    from sparkcheck import media as _media

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        from sparkcheck.video import encode_avi

        for pdf in batches:
            refs, kinds, bufs = [], [], []
            for i in pdf["id"]:
                i = int(i)
                n = int(_h.md5(f"v{i}".encode()).hexdigest()[0], 16) % 6 + 2
                frames = [
                    _np.full(
                        (4, 4),
                        int(_h.md5(f"{i}:{f}".encode()).hexdigest()[0], 16) * 16,
                        dtype=_np.uint8,
                    )
                    for f in range(n)
                ]
                refs.append(f"vid{i}")
                kinds.append("video")
                bufs.append(encode_avi(frames, codec="dib"))
            yield _pd.DataFrame(
                {"media_ref": refs, "kind": kinds, "media_bytes": bufs}
            )

    vids = spark.range(48).repartition(4).mapInPandas(
        gen, "media_ref string, kind string, media_bytes binary"
    )
    sampled = _media.sample_frames(vids, every_n=3, fake=False)
    return (
        sampled.groupBy("media_ref")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("frame_index").alias("idx_sum"),
            F.countDistinct("frame_digest").alias("n_digests"),
        )
        .orderBy("media_ref")
    )


def q_video_features_profile(spark, sf):
    """media.video_features(fake=False) over real AVI payloads: video i
    holds n_i = (first md5 nibble of 'vf<i>') % 4 + 2 flat 4x4 frames of
    level (first md5 nibble of 'i:f') * 17. The features stage really
    decodes the container; every emitted column is an exact integer
    (luma_sum = mean_luma*255*n = the plain sum of levels; fps and
    duration scaled to integral centi-units by choosing fps=25), so the
    DuckDB oracle replays them with no float rounding anywhere."""
    import pandas as _pd

    from sparkcheck import media as _media

    def gen(batches):
        import hashlib as _h

        import numpy as _np

        from sparkcheck.video import encode_avi

        for pdf in batches:
            refs, kinds, bufs = [], [], []
            for i in pdf["id"]:
                i = int(i)
                n = int(_h.md5(f"vf{i}".encode()).hexdigest()[0], 16) % 4 + 2
                frames = [
                    _np.full(
                        (4, 4),
                        int(_h.md5(f"{i}:{f}".encode()).hexdigest()[0], 16) * 17,
                        dtype=_np.uint8,
                    )
                    for f in range(n)
                ]
                refs.append(f"vf{i}")
                kinds.append("video")
                bufs.append(encode_avi(frames, fps=(25, 1), codec="dib"))
            yield _pd.DataFrame(
                {"media_ref": refs, "kind": kinds, "media_bytes": bufs}
            )

    vids = spark.range(24).repartition(4).mapInPandas(
        gen, "media_ref string, kind string, media_bytes binary"
    )
    feats = _media.video_features(vids, fake=False)
    return feats.select(
        "media_ref",
        "container",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round(F.col("mean_luma") * 255 * F.col("n_frames"))
        .cast("long")
        .alias("luma_sum"),
        F.round(F.col("fps") * 100).cast("long").alias("fps_x100"),
        F.round(F.col("duration_s") * 100).cast("long").alias("dur_cs"),
    ).orderBy("media_ref")


def q_media_decodable_validation(spark, sf):
    """expect_column_values_to_be_media_decodable run as a SUITE MEMBER
    over a deterministic mixed-payload media table: per id, a real PNG
    (id%4==0), real baseline JPEG (1), real animated GIF (2), or real WAV
    (3); ids %5==0 additionally truncate the payload to 60% (still a
    valid-looking header — only a FULL decode catches it) and ids %7==0
    replace it with non-media bytes. The EVR's element/missing/unexpected
    counts are pinned by construction; the unrestricted and the
    formats=[png,jpeg]-restricted expectations both run, so the oracle
    checks 2 rows of counts only an actual Arrow-batched decode can
    produce. 48 ids: 10 truncated (%5), 5 garbage (%7 minus the %35
    overlap: 7,14,21,28,42), 33 decodable."""
    import pandas as _pd

    from sparkcheck import ExpectationSuite, validate_df
    from sparkcheck.gif import encode_gif
    from sparkcheck.jpeg import encode_jpeg
    from sparkcheck.media import encode_png, encode_wav

    def gen(batches):
        import numpy as _np

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                img = (_np.arange(64, dtype=_np.int64) * (i + 3) % 256).astype(
                    _np.uint8
                ).reshape(8, 8)
                kind = i % 4
                if kind == 0:
                    buf = encode_png(_np.stack([img] * 3, axis=2))
                elif kind == 1:
                    buf = encode_jpeg(img)
                elif kind == 2:
                    buf = encode_gif([img // 64 * 64, img // 32 * 32])
                else:
                    buf = encode_wav(
                        (img.reshape(-1, 1).astype(_np.int16) * 64), 8000
                    )
                if i % 5 == 0:
                    buf = buf[: int(len(buf) * 0.6)]
                elif i % 7 == 0:
                    buf = b"\x00riff-not-really" * 8
                rows.append((i, bytearray(buf)))
            yield _pd.DataFrame(rows, columns=["id", "payload"])

    media = spark.range(48).repartition(4).mapInPandas(
        gen, "id long, payload binary"
    )
    suite = ExpectationSuite("media_decodable")
    suite.add("expect_column_values_to_be_media_decodable", column="payload")
    suite.add(
        "expect_column_values_to_be_media_decodable",
        column="payload", formats=["png", "jpeg"],
    )
    rep = validate_df(media, suite)
    rows = [
        (
            r["expectation_config"]["kwargs"].get("formats", ["any"])[0],
            int(r["result"]["element_count"]),
            int(r["result"]["unexpected_count"]),
            int(r["success"]),
        )
        for r in rep["results"]
    ]
    return spark.createDataFrame(
        rows, "first_format string, element_count long, "
        "unexpected_count long, success long"
    ).orderBy("first_format")


def q_vector_validation_embeddings(spark, sf):
    """Embedding-column expectations over the real embeddings table,
    deterministically perturbed to seed each violation class: vec_id%97
    truncates to 63 dims, %89 scales by 3 (norm 3), %83 injects a NaN
    component (CASE order matters and matches the oracle). The suite —
    vector_lengths_to_equal(64), vector_norms in [0.9, 1.1],
    vector_values_to_be_finite — runs through validate_df (JVM HOFs, no
    Python), and the oracle recomputes every count with DuckDB list
    functions over the SAME perturbation: exact, nothing pinned."""
    from sparkcheck import ExpectationSuite, validate_df

    e = _t(spark, sf, "embeddings")
    emb2 = (
        F.when(F.col("vec_id") % 97 == 0, F.slice("embedding", 1, 63))
        .when(
            F.col("vec_id") % 89 == 0,
            F.transform("embedding", lambda x: x * F.lit(3.0).cast("float")),
        )
        .when(
            F.col("vec_id") % 83 == 0,
            F.concat(
                F.slice("embedding", 1, 63),
                F.array(F.lit(float("nan")).cast("float")),
            ),
        )
        .otherwise(F.col("embedding"))
    )
    df = e.select("vec_id", emb2.alias("embedding"))
    suite = ExpectationSuite("vectors")
    suite.add("expect_column_vector_lengths_to_equal", column="embedding", value=64)
    suite.add(
        "expect_column_vector_norms_to_be_between",
        column="embedding", min_value=0.9, max_value=1.1,
    )
    suite.add("expect_column_vector_values_to_be_finite", column="embedding")
    rep = validate_df(df, suite)
    rows = [
        (
            r["expectation_config"]["expectation_type"],
            int(r["result"]["element_count"]),
            int(r["result"]["unexpected_count"]),
        )
        for r in rep["results"]
    ]
    return spark.createDataFrame(
        rows, "expectation string, element_count long, unexpected_count long"
    ).orderBy("expectation")


def q_interleaved_media_validation(spark, sf):
    """The north-star loop end-to-end: interleaved docs (spans referencing
    media) -> span explode -> broadcast dimension join on media_ref ->
    REAL payload decode validation -> span- and doc-level verdicts.

    Deterministic construction both engines replay: 200 media rows
    (i%3 picks png/jpeg/gif, all REAL encodes; i%11==0 truncates to 50%
    so only a full decode catches it) and 400 docs whose media spans
    reference m{j%200} and m{(j*7+3)%200}, plus a dangling ref when
    j%13==0. Spark runs the actual machinery — explode, left broadcast
    join, expect_column_values_to_not_be_null (dangling) and
    expect_column_values_to_be_media_decodable (corrupt) through
    validate_df, one groupBy for per-doc verdicts. The oracle recomputes
    every count from the same modular arithmetic — computed, not pinned."""
    import pandas as _pd

    from sparkcheck import ExpectationSuite, validate_df
    from sparkcheck.gif import encode_gif
    from sparkcheck.jpeg import encode_jpeg
    from sparkcheck.media import encode_png

    def gen_media(batches):
        import numpy as _np

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                img = (_np.arange(64, dtype=_np.int64) * (i + 7) % 256).astype(
                    _np.uint8
                ).reshape(8, 8)
                if i % 3 == 0:
                    buf = encode_png(_np.stack([img] * 3, axis=2))
                elif i % 3 == 1:
                    buf = encode_jpeg(img)
                else:
                    buf = encode_gif(img // 32 * 32)
                if i % 11 == 0:
                    buf = buf[: len(buf) // 2]
                rows.append((f"m{i}", bytearray(buf)))
            yield _pd.DataFrame(rows, columns=["media_ref", "payload"])

    media = spark.range(200).repartition(4).mapInPandas(
        gen_media, "media_ref string, payload binary"
    )
    d = spark.range(400)
    spans = F.array(
        F.struct(
            F.lit("image").alias("kind"),
            F.format_string("m%d", F.col("id") % 200).alias("media_ref"),
        ),
        F.struct(
            F.lit("image").alias("kind"),
            F.format_string("m%d", (F.col("id") * 7 + 3) % 200).alias("media_ref"),
        ),
    )
    spans = F.when(
        F.col("id") % 13 == 0,
        F.concat(
            spans,
            F.array(
                F.struct(
                    F.lit("image").alias("kind"),
                    F.format_string("m_dead%d", F.col("id")).alias("media_ref"),
                )
            ),
        ),
    ).otherwise(spans)
    docs = d.select(F.col("id").alias("doc_id"), spans.alias("spans"))

    exploded = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"))
    joined = exploded.join(F.broadcast(media), "media_ref", "left")

    suite = ExpectationSuite("interleaved_media")
    suite.add("expect_column_values_to_not_be_null", column="payload")
    suite.add(
        "expect_column_values_to_be_media_decodable",
        column="payload", check="full",
    )
    rep = validate_df(joined, suite)
    n_spans = int(rep["results"][0]["result"]["element_count"]) + int(
        rep["results"][0]["result"]["missing_count"]
    )
    n_dangling = int(rep["results"][0]["result"]["unexpected_count"])
    n_undecodable = int(rep["results"][1]["result"]["unexpected_count"])

    from sparkcheck.conditions import get_condition
    from sparkcheck.metrics import Domain

    ok = get_condition("column_values.media_decodable").build(
        Domain(column="payload"), {"check": "full"}
    )
    bad_span = F.col("payload").isNull() | ~F.coalesce(ok, F.lit(False))
    n_docs_bad = int(
        joined.withColumn("__bad", bad_span)
        .groupBy("doc_id")
        .agg(F.max("__bad").alias("bad"))
        .where("bad")
        .count()
    )
    return spark.createDataFrame(
        [(n_spans, n_dangling, n_undecodable, n_docs_bad)],
        "n_media_spans long, n_dangling long, n_undecodable long, "
        "n_docs_bad long",
    )


def q_fused_validation_documents(spark, sf):
    """Single-scan fused validation (fused.validate_and_extract): the
    suite's whole-table aggregates (null count, regex violations, row
    count) ride a CollectMetrics node attached to the violation-row
    extraction (n_chars > 400), so ONE pass over documents yields both;
    uniqueness resolves through its key-only groupBy afterwards. Emits
    (check_name, observed, success) per expectation plus the violation-row
    count — the oracle recomputes every number AND every success verdict
    in SQL, proving the observe-seeded metric cache is exact."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.fused import validate_and_extract

    docs = _t(spark, sf, "documents")
    s = ExpectationSuite("fused_docs")
    s.add("expect_column_values_to_not_be_null", column="text")
    s.add("expect_column_values_to_be_unique", column="doc_id")
    s.add(
        "expect_column_values_to_match_regex",
        column="source", regex="^src[0-9]$", mostly=0.9,
    )
    s.add("expect_table_row_count_to_be_between", min_value=1)
    report, rows, _ = validate_and_extract(
        docs, s,
        lambda d: d.where(F.col("n_chars") > 400).select("doc_id"),
        result_format="BASIC",
    )
    n_viol = rows.count()
    labels = ["null_text", "unique_doc_id", "regex_source", "row_count"]
    vals = []
    for label, evr in zip(labels, report["results"]):
        res = evr.get("result", {})
        obs = (
            res.get("observed_value")
            if label == "row_count"
            else res.get("unexpected_count")
        )
        vals.append((label, int(obs), bool(evr["success"])))
    vals.append(("violation_rows", int(n_viol), None))
    return spark.createDataFrame(
        vals, "check_name string, observed long, success boolean"
    ).orderBy("check_name")


def q_regex_inference_documents(spark, sf):
    """Candidate-regex inference (profiler.infer_regex_patterns, the
    reference's RegexPatternStringParameterBuilder): every candidate's
    match count over documents.source from ONE fused agg, plus which
    candidate wins (full match rate, ties to the most-specific = earliest
    candidate). Candidates are Java-regex ∩ RE2 so the oracle runs them
    verbatim in DuckDB."""
    from sparkcheck.profiler import (
        DEFAULT_CANDIDATE_REGEXES,
        infer_regex_patterns,
    )

    docs = _t(spark, sf, "documents")
    res = infer_regex_patterns(docs, "source")["source"]
    rows = [
        (p, res["counts"][p], p == res["best"])
        for p in DEFAULT_CANDIDATE_REGEXES
    ]
    return spark.createDataFrame(
        rows, "pattern string, matches long, selected boolean"
    ).orderBy("pattern")


def q_datetime_inference_events(spark, sf):
    """Candidate strftime-format inference (profiler.infer_datetime_formats,
    the reference's SimpleDateFormatStringParameterBuilder): events.ts
    rendered as a padded date string, every candidate's parse count from
    ONE fused try_to_timestamp agg, winner = full-rate candidate. The
    oracle re-renders with strftime and replays every candidate through
    DuckDB try_strptime — padded strings keep the two parsers in exact
    agreement."""
    from sparkcheck.profiler import (
        DEFAULT_CANDIDATE_DATE_FORMATS,
        infer_datetime_formats,
    )

    ev = _t(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("d")
    )
    res = infer_datetime_formats(ev, "d")["d"]
    rows = [
        (f, res["counts"][f], f == res["best"])
        for f in DEFAULT_CANDIDATE_DATE_FORMATS
    ]
    return spark.createDataFrame(
        rows, "format string, matches long, selected boolean"
    ).orderBy("format")


def q_multibatch_profile_documents(spark, sf):
    """Multi-batch profiling (profiler.profile_suite_multibatch, the
    reference's NumericMetricRangeMultiBatchParameterBuilder semantics):
    documents batched by lang, ALL per-batch stats from ONE grouped agg,
    bounds from the per-batch metric samples with the exact estimator —
    min of batch minima / max of batch maxima / [min, max] of batch means
    and row counts, plus the union value set for categorical strings. The
    oracle replays the whole estimation in SQL over GROUP BY lang."""
    from sparkcheck.profiler import profile_suite_multibatch

    docs = _t(spark, sf, "documents").select(
        "lang", "doc_id", "n_chars", "source"
    )
    suite = profile_suite_multibatch(
        docs, batch_col="lang", estimator="exact", categorical_threshold=50
    )
    rows = []
    for e in suite.expectations:
        k = e.kwargs
        vs = k.get("value_set")
        rows.append(
            (
                e.expectation_type,
                k.get("column"),
                None if k.get("min_value") is None else float(k["min_value"]),
                None if k.get("max_value") is None else float(k["max_value"]),
                None if vs is None else len(vs),
            )
        )
    return (
        spark.createDataFrame(
            rows,
            "expectation string, col_name string, min_value double, "
            "max_value double, n_values long",
        )
        .orderBy("expectation", "col_name")
    )


def q_reconcile_lineitem_orders(spark, sf):
    """Cross-table reconciliation (keys.reconcile_aggregates): does the
    lineitem fact still sum to the orders ledger? One fused agg per side
    (adding checks adds zero scans), 1x1 cross join, per-check tolerance
    verdicts. Values rounded to hundreds so float summation order can't
    flip the hash."""
    from sparkcheck.keys import reconcile_aggregates

    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    out = reconcile_aggregates(
        li,
        o,
        [
            {
                "name": "distinct_orders",
                "left_expr": "count(distinct l_orderkey)",
                "right_expr": "count(*)",
            },
            {
                "name": "gross_revenue",
                "left_expr": "sum(l_extendedprice * (1 + l_tax) * (1 - l_discount))",
                "right_expr": "sum(o_totalprice)",
            },
            {
                "name": "orderkey_max",
                "left_expr": "max(l_orderkey)",
                "right_expr": "max(o_orderkey)",
            },
        ],
        rel_tol=0.02,
    )
    return out.select(
        "name",
        F.round(F.col("left_value"), -2).alias("left_hundreds"),
        F.round(F.col("right_value"), -2).alias("right_hundreds"),
        "ok",
    ).orderBy("name")


def q_freshness_events(spark, sf):
    """Freshness probe (temporal.freshness): newest event timestamp and
    its lag vs a fixed as_of, plus the pass/fail verdict — the
    'did yesterday's load land?' control, one fused aggregate."""
    from sparkcheck.temporal import freshness

    ev = _t(spark, sf, "events")
    f = freshness(ev, "ts", as_of="2024-02-01 00:00:00")
    return f.select(
        "max_ts",
        F.round("lag_seconds", 3).alias("lag_seconds"),
        (F.col("lag_seconds") <= 172800).alias("ok_2d"),
    )


def q_class_balance_lang(spark, sf):
    """Label-distribution health (text.class_balance) over documents.lang:
    per-class counts/fractions plus Shannon entropy, class count, and the
    majority/minority imbalance ratio — the first look at any training
    table's labels. One groupBy; the stats windows run over the
    dimension-sized per-label frame."""
    from sparkcheck.text import class_balance

    return class_balance(_t(spark, sf, "documents"), "lang")


def q_per_source_cap(spark, sf):
    """Per-domain quota sampling (sampling.per_group_cap): keep at most 10
    documents per source, the deterministic hash-order prefix per group —
    the C4/Gopher "no domain dominates" curation step. Only a narrow
    (group, key, hash) triplet frame rides the rank shuffle; full rows
    return via a left-semi join on the bounded kept-key set."""
    from sparkcheck.sampling import per_group_cap

    d = _t(spark, sf, "documents")
    return per_group_cap(d, "source", 10, "doc_id").select("doc_id", "source")


def q_hash_split_balance(spark, sf):
    """Deterministic train/val/test split (sampling.hash_split, 80/10/10 by
    md5(doc_id)) + per-split label-balance audit (split_balance): one
    zero-shuffle split projection, one dimension-sized groupBy. The oracle
    replays the hash thresholds bit-for-bit, proving the split is
    engine-portable — the property that makes it leak-safe."""
    from sparkcheck.sampling import hash_split, split_balance

    d = _t(spark, sf, "documents")
    sp = hash_split(d, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id")
    return split_balance(sp, "split", "lang")


def q_embedding_drift_labels(spark, sf):
    """Representation drift between two embedding snapshots
    (similarity.embedding_drift): per label, cosine between old and new
    centroids + norm ratio, where 'new' deterministically drops vec_id%5.
    Two fused centroid aggregates (64 avg-aggs in ONE groupBy each), a
    dimension-sized join, fold-arithmetic cosine. The oracle recomputes
    per-dim averages and the same sequential-fold cosine in SQL; 4-dp
    rounds absorb the engines' sum-order noise (~1e-16 relative)."""
    e = _t(spark, sf, "embeddings")
    return similarity.embedding_drift(
        e, e.where(F.col("vec_id") % 5 != 0), label_col="label"
    )


def q_mixture_sample(spark, sf):
    """Corpus mixture resampling (sampling.mix_to_shares): downsample
    documents toward target language shares (en 40%, others 15% each) at
    the largest feasible size — the Pile/DoReMi domain-weights step as a
    deterministic hash sample. Rates derive from the per-stratum counts
    via plain binary float ops, so the DuckDB oracle recomputes them
    bit-identically from the same counts."""
    from sparkcheck.sampling import mix_to_shares

    d = _t(spark, sf, "documents")
    shares = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
    return mix_to_shares(d, "lang", shares, "doc_id").select("doc_id", "lang")


def q_boilerplate_ngrams(spark, sf):
    """Corpus-wide boilerplate discovery (text.boilerplate_ngrams): word
    trigrams appearing in >= 5 distinct documents, top 50 by document
    frequency (ties broken by the ngram string, so the top-k set is a
    total order both engines agree on). array_distinct runs per-doc
    BEFORE the explode, so doc frequency is a plain map-side-combined
    count — no (doc, ngram) distinct shuffle."""
    from sparkcheck.text import boilerplate_ngrams

    d = _t(spark, sf, "documents")
    return boilerplate_ngrams(d, n=3, min_docs=5, top_k=50)


def q_domain_quality(spark, sf):
    """Per-domain quality ranking (text.domain_quality_report): volume,
    mean heuristic quality, repetition, PII-document rate, and exact-dup
    load per source, worst first — the blocklist/downweight table of a
    web-corpus curation loop. One pass, two-level aggregation (the
    distinct-fingerprint count falls out of level two's row count, no
    countDistinct Expand)."""
    from sparkcheck.text import domain_quality_report

    return domain_quality_report(_t(spark, sf, "documents"))


def q_containment_pairs(spark, sf):
    """Directional containment near-dups (dedup.containment_pairs): pairs
    where >= 80% of one doc's trigram shingles live inside the other's —
    the quote/expansion duplication case symmetric Jaccard misses. Same
    verification-tier machinery and hot-key guard as jaccard_pairs."""
    d = _t(spark, sf, "documents")
    return dedup.containment_pairs(d, n=3, threshold=0.8)


def q_lm_quality_documents(spark, sf):
    """Unigram-LM quality scoring (text.lm_quality, self-scored): per-doc
    mean negative log-likelihood under the corpus's own add-0.5-smoothed
    unigram model — the KenLM-style junk/boilerplate signal. One token
    explode, a broadcast join against the vocab-sized logprob table, one
    per-doc aggregate. The oracle rebuilds the identical probabilities
    from the same counts (plain binary float ops, ln both engines)."""
    from sparkcheck.text import lm_quality

    return lm_quality(_t(spark, sf, "documents"))


def q_pack_sequences(spark, sf):
    """Sequence packing (sampling.pack_sequences): every document's exact
    position on the deterministic global token stream — start offset,
    256-token training-bin id, offset within the bin — via a DISTRIBUTED
    prefix sum (range-partitioned narrow triplets, per-partition running
    sums, driver-folded partition offsets) instead of a one-task global
    window. Pure integer arithmetic, so the single-window DuckDB replay
    is bit-exact."""
    from sparkcheck.sampling import pack_sequences
    from sparkcheck.text import token_count

    d = _t(spark, sf, "documents")
    return pack_sequences(d, 256, token_count("text"), "doc_id")


def q_incremental_dedup(spark, sf):
    """Incremental dedup against the historical fingerprint store
    (dedup.incremental_dedup): the 'delivery' (all documents) dedups
    within-batch (min doc_id per fingerprint) then anti-joins the store
    (fingerprints of doc_id%3==0) — day N+1 never rescans history's
    text, only its 16-byte fingerprint column."""
    d = _t(spark, sf, "documents")
    from sparkcheck.text import fingerprint

    seen = d.where(F.col("doc_id") % 3 == 0).select(
        fingerprint("text").alias("fingerprint")
    ).distinct()
    kept, _new_fps = dedup.incremental_dedup(d, seen)
    return kept.select("doc_id", "fingerprint")


def q_bigram_lm_quality(spark, sf):
    """Bigram-LM quality scoring (text.bigram_lm_quality, self-scored):
    per-doc mean NLL of the add-0.5-smoothed conditional P(w2|w1) — one
    order deeper than the unigram filter; catches word-salad whose
    unigrams are common but never co-occur. Bigram stream joins two
    vocabulary-sized count tables (AQE-sized, no forced broadcast), then
    one per-doc aggregate; the smoothed conditional is computed after the
    joins from raw counts, so unseen pairs need no OOV branch."""
    from sparkcheck.text import bigram_lm_quality

    return bigram_lm_quality(_t(spark, sf, "documents"))


def q_curation_funnel(spark, sf):
    """Single-pass curation funnel (text.curation_funnel): four chained
    quality filters (length floor, token range, low bigram repetition,
    stopword floor) accounted in ONE aggregation over ONE scan — per
    stage, how many documents survive every filter so far and how many
    this stage dropped.

    The token and bigram arrays are pre-projected ONCE and every stage
    references the alias — Catalyst keeps multiply-referenced non-cheap
    aliases materialized, where inlining text.token_count/dup_ngram_frac
    per stage re-tokenizes each document ~12x inside the aggregate
    (measured 1.4x slower at sf0.1: 1.17 s vs 0.82 s warm, local[8])."""
    from sparkcheck import text

    d = _t(spark, sf, "documents")
    toks = F.col("__toks")
    bg = F.col("__bg")
    d2 = d.select(
        "n_chars", text.tokens("text").alias("__toks")
    ).select(
        "n_chars",
        "__toks",
        F.filter(
            F.zip_with(
                toks,
                F.slice(toks, 2, F.size(toks)),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
            lambda x: x.isNotNull(),
        ).alias("__bg"),
    )
    sw = text.DEFAULT_QUALITY_STOPWORDS
    stages = [
        ("min_chars", F.col("n_chars") >= 120),
        ("token_range", F.size(toks).between(10, 2000)),
        (
            "low_repetition",
            F.when(
                F.size(bg) > 0,
                F.lit(1.0) - F.size(F.array_distinct(bg)).cast("double")
                / F.size(bg),
            )
            < 0.5,
        ),
        (
            "stopword_floor",
            F.when(
                F.size(toks) > 0,
                F.size(F.filter(toks, text._member_of(sw))).cast("double")
                / F.size(toks),
            )
            >= 0.08,
        ),
    ]
    return text.curation_funnel(d2, stages)


def q_two_sample_drift_quantity(spark, sf):
    """A/B slice drift (distribution.two_sample_drift): PSI + KL of
    l_quantity between returned ('R') and delivered ('N') lineitems over
    fixed bins — one sum(when) histogram per side, PSI/KL folded as
    Column arithmetic over the 1x1 cross join; nothing collected."""
    from sparkcheck.distribution import two_sample_drift

    li = _t(spark, sf, "lineitem")
    return two_sample_drift(
        li.where(F.col("l_returnflag") == "R"),
        li.where(F.col("l_returnflag") == "N"),
        "l_quantity",
        [1, 11, 21, 31, 41, 51],
    )


def q_sampled_violation_estimate(spark, sf):
    """Deterministic hash-sampled validation: estimate each expectation's
    violation rate from a 25% md5 sample with Wilson 95% bounds — the
    bounded-cost answer to "did this 10^12-doc delivery get worse?".
    The sample is engine-reproducible, so DuckDB replays it exactly."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.sampling import sampled_violation_estimate

    d = _t(spark, sf, "documents")
    s = ExpectationSuite("sampled")
    s.add(
        "expect_column_values_to_be_in_set",
        column="lang",
        value_set=["en", "es", "de", "fr"],
    )
    s.add(
        "expect_column_values_to_be_between",
        column="n_chars",
        min_value=50,
        max_value=500,
    )
    s.add("expect_column_values_to_match_regex", column="source", regex="^src[0-4]")
    est, _skipped = sampled_violation_estimate(d, s, "doc_id", 0.25)
    return est


def q_semantic_dedup(spark, sf):
    """SemDeDup-style semantic deduplication over the embedding column
    (similarity.semantic_dedup): IVF-cluster the corpus against the 16
    deterministic seed centroids, compare pairs only WITHIN a cluster
    (candidate volume sum(|cluster|^2), never n^2), and drop every
    vector with a lower-id near-duplicate at cosine >= 0.35 (threshold
    sized to the synthetic corpus's near-random embedding geometry).
    Cluster count must scale with the corpus (SemDeDup's k grows with
    n) to bound per-cluster pair volume; the pair stage runs as a
    per-cluster blocked numpy gemm (one Arrow pass, no vector join —
    measured 19 s as a fold-cosine self-join at sf0.1, and raising k
    just moved the cost into the k-wide interpreted argmax). The
    oracle replays the centroid
    assignment (same argmax + tie-break as the IVF oracle), the
    within-cluster pairs, and the lowest-id keeper rule in SQL."""
    e = _t(spark, sf, "embeddings")
    return similarity.semantic_dedup(
        e, threshold=0.35, n_centroids=16,
        assign_impl="fold",  # oracle bit-replay; API default is the arrow gemm
    )


def q_importance_resample(spark, sf):
    """DSIR-style importance resampling (sampling.importance_resample):
    per-doc mean NLL under the raw-corpus unigram model and under a
    TARGET model (trained on the lang='en' slice), importance weight
    exp(nll_corpus - nll_target) clipped at 4, deterministic md5
    acceptance at min(1, w/clip). The oracle rebuilds both models from
    counts (the lm_quality replay, plus the OOV logp for target-scoring
    tokens outside the en vocabulary) and replays the accept/reject
    decision from the identical rounded NLLs."""
    from sparkcheck.sampling import importance_resample
    from sparkcheck.text import unigram_model

    d = _t(spark, sf, "documents")
    target_model = unigram_model(d.where(F.col("lang") == "en"))
    return importance_resample(d, target_model)


def q_cluster_safe_split(spark, sf):
    """Near-dup-leak-safe train/val/test split (sampling.cluster_safe_split):
    every document splits by its dedup-cluster representative (connected
    components over the Jaccard>=0.1 pair graph, same construction as
    dedup_clusters), so near-identical docs can never straddle the
    train/test boundary; singleton docs split exactly as plain
    hash_split. The oracle replays the recursive-CTE clustering, the
    min-id representative, and the md5 cumulative-threshold assignment."""
    d = _t(spark, sf, "documents")
    pairs = dedup.jaccard_pairs(d, n=3, threshold=0.1, max_df=50)
    clusters = dedup.duplicate_clusters(pairs)
    return sampling.cluster_safe_split(
        d, clusters, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id"
    ).select("doc_id", "split")


def q_robust_stats_quantity(spark, sf):
    """Exact robust statistics of l_quantity over the distinct-value
    spine (stats.robust_profile): median/q25/q75/IQR/MAD as exact rank
    lookups (no percentile_approx sketch error — reproducible at any
    cluster size) plus 5%-trimmed and winsorized means from the same
    spine. The oracle replays the cumulative-count rank arithmetic in
    SQL windows; the two sum-based means are rounded to 6dp on both
    sides."""
    li = _t(spark, sf, "lineitem")
    return stats.robust_profile(li, "l_quantity", trim=0.05)


def q_segment_quantiles_returnflag(spark, sf):
    """Per-segment EXACT quantiles (stats.exact_quantiles with by=):
    p25/p50/p75/p95 of l_quantity per l_returnflag, each an exact data
    value at rank ceil(p*n) — one narrow per-value-count shuffle + a
    window over the (flag, value) spine, never a sort of the data."""
    li = _t(spark, sf, "lineitem")
    return stats.exact_quantiles(
        li, "l_quantity", [0.25, 0.5, 0.75, 0.95], by=["l_returnflag"]
    )


def q_kmeans_refine(spark, sf):
    """Distributed Lloyd k-means over the embedding column
    (similarity.kmeans): two refinement rounds from the deterministic
    IVF seeds — per round one narrow literal-fold argmax scan plus one
    64-avg fused groupBy; updated centroids are rounded to 6dp before
    re-embedding as literals so every assignment is bit-reproducible.
    Returns the final per-vector assignment (vec_id, centroid_id,
    c_cos). The oracle replays both rounds in SQL (argmax with the
    lowest-id tie-break, per-dimension round(avg,6) centroid update,
    empty clusters keeping their seed)."""
    e = _t(spark, sf, "embeddings")
    _, assigned = similarity.kmeans(
        e, k=8, iters=2,
        assign_impl="fold",  # oracle bit-replay; API default is the arrow gemm
    )
    return assigned


def q_novelty_documents(spark, sf):
    """Per-doc n-gram novelty of a delivery against the existing corpus
    (text.novelty_scores): fraction of each doc's distinct trigram
    shingles absent from the reference slice (doc_id % 3 == 0 plays the
    corpus, the rest the delivery). Docs with < 3 tokens keep a NULL
    novelty (n_shingles = 0). One distinct per side + one shingle-keyed
    left join; the oracle rebuilds both shingle sets with the shared
    tokenization CTE."""
    d = _t(spark, sf, "documents")
    ref = d.where(F.col("doc_id") % 3 == 0)
    delivery = d.where(F.col("doc_id") % 3 != 0)
    return text.novelty_scores(delivery, ref, n=3)


def q_cluster_balanced_sample(spark, sf):
    """Diversity-preserving subsample (sampling.cluster_balanced_sample):
    IVF-assign every embedding to its nearest deterministic seed
    centroid, then keep at most 100 rows per cluster by md5 hash order —
    flattens mode imbalance where uniform sampling preserves it. The
    oracle replays the centroid argmax and the per-cluster hash-rank
    quota."""
    e = _t(spark, sf, "embeddings")
    kept = sampling.cluster_balanced_sample(
        e, cap=100, n_centroids=8,
        assign_impl="fold",  # oracle bit-replay; API default is the arrow gemm
    )
    return kept.select("vec_id", "centroid_id")


def q_wasserstein_drift_quantity(spark, sf):
    """EXACT two-sample drift distances between the 'R'-returnflag slice
    and the rest of lineitem on l_quantity
    (distribution.two_sample_distances): the exact KS statistic
    (max |F_a - F_b| over the merged distinct-value spine) and the exact
    1-Wasserstein distance (the ECDF-difference integral) — the
    binning-free complement to the PSI/KL histogram drift checks, with
    no bin edges to game and no eps-clip artifacts. The oracle replays
    the merged spine, the cumulative ratios, and the gap-weighted sum."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.distribution import two_sample_distances

    return two_sample_distances(
        li.where(F.col("l_returnflag") == "R"),
        li.where(F.col("l_returnflag") != "R"),
        "l_quantity",
    )


def q_wasserstein_by_linestatus(spark, sf):
    """Per-segment exact drift (distribution.two_sample_distances with
    by=): the same 'R'-vs-rest two-sample KS + Wasserstein, computed PER
    l_linestatus segment from one grouped spine — the "which segment
    drifted" report. Groups observed on only one side keep NULL
    distances (no evidence, not zero drift)."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.distribution import two_sample_distances

    return two_sample_distances(
        li.where(F.col("l_returnflag") == "R"),
        li.where(F.col("l_returnflag") != "R"),
        "l_quantity",
        by=["l_linestatus"],
    )


def q_entropy_profile_orders(spark, sf):
    """Shannon entropy per categorical column (infotheory.entropy_profile):
    one stack-melt + one groupBy(column, value) shuffle for ALL columns,
    then H = ln N - (Σ c ln c)/N over the dimension-sized count frame —
    no window over the data, no per-column pass. normalized_entropy is
    the 0..1 evenness score H/ln(distinct). Extends the reference's
    distribution family (expect_column_kl_divergence_to_be_less_than,
    reference expectations/core/) with the standard profiling measure it
    lacks. The oracle replays the melt + identity in SQL."""
    od = _t(spark, sf, "orders")
    from sparkcheck.infotheory import entropy_profile

    return entropy_profile(od, ["o_orderstatus", "o_orderpriority"])


def q_mutual_information_lineitem(spark, sf):
    """Mutual information MI(l_returnflag, l_linestatus) in nats plus
    normalized MI (infotheory.mutual_information): one groupBy(a, b)
    shuffle; marginals are windows over the joint-count frame, whose
    cardinality is capped with the same max_groups contract as the
    chi-square crosstab (stats.py). The dependence analog of Cramér's φ
    (reference expect_column_pair_cramers_phi_value_to_be_less_than.py:42)
    on an information-theoretic scale. Oracle replays the windowed
    identity MI = Σ (c/N) ln(N c / (c_a c_b)) in SQL."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.infotheory import mutual_information

    return mutual_information(li, "l_returnflag", "l_linestatus")


def q_benford_extendedprice(spark, sf):
    """Benford first-significant-digit conformity of l_extendedprice
    (infotheory.benford_profile): 9 always-present digit rows with
    observed vs expected proportions, the total Pearson χ² and Nigrini's
    MAD. Digit extraction is string-based (first [1-9] of the decimal
    rendering) so Spark and the oracle agree at power-of-ten boundaries
    where floor(log10(x)) is libm-dependent. One groupBy(digit) over a
    pushed-down positive filter; statistics are windows over 9 rows."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.infotheory import benford_profile

    return benford_profile(li, "l_extendedprice")


def q_merged_states_lineitem(spark, sf):
    """Mergeable metric states (states.column_states + merge_states):
    per-commit-unit aggregation states (n, Σx, mean, M2, min, max) over
    8 synthetic hash partitions of lineitem, folded back to the
    corpus-level profile with the generalized Chan identity in its
    stable form (grand mean first over the dimension-sized states frame,
    then M2 = Σm2ᵢ + Σnᵢ·(meanᵢ − mean)², every summand non-negative).
    The result is partition-invariant — the oracle is a plain full-scan
    avg/stddev_samp/min/max, proving merged == rescanned. This is the
    metric half of the north rule's per-partition resume: committed
    states mean corpus stats never rescan finished partitions
    (states.update covers the incremental path in pytest)."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.states import column_states, merge_states

    st = column_states(
        li,
        ["l_quantity", "l_extendedprice", "l_discount"],
        state_key="pmod(hash(l_orderkey), 8)",
    )
    # 5dp for mean/stddev (l_discount's mean sits exactly on a 6dp
    # rounding boundary, where merge-order float noise flips the digit);
    # variance coarser still — its ~9e8 magnitude puts noise at ~1e-6
    merged = merge_states(st, round_to=5)
    return merged.select(
        "column",
        "n",
        "n_null",
        "mean",
        "stddev_samp",
        F.round("variance_samp", 2).alias("variance_samp"),
        "mn",
        "mx",
    )


def _with_temp_store(
    prefix: str, build: "Callable[[ParquetStore], DataFrame]"
) -> DataFrame:
    """``build`` against a fresh temporary ParquetStore. Its (small) result
    reads the store lazily, so it is materialized before the store is
    deleted — the query leaves nothing behind on disk."""
    import shutil
    import tempfile

    from sparkcheck.runner import ParquetStore

    root = tempfile.mkdtemp(prefix=prefix)
    try:
        return build(ParquetStore(root)).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_runner_profile_documents(spark, sf):
    """Corpus profile served FROM the checkpoint runner's persisted
    per-partition states (runner.CheckpointRunner(profile_columns=...)
    + corpus_profile): each committed bucket writes its mergeable
    aggregation states alongside its EVRs (one extra narrow scan of just
    the profiled column — the bucket is never persisted), and the
    corpus-level profile is merge_states over the store, never a rescan. The oracle IS the full
    rescan (plain avg/stddev/min/max over documents.n_chars): the claim
    is that a 4-bucket checkpointed run's folded profile equals it
    exactly. The resume half (crash after 2 buckets, resume, identical
    profile) is pytest-covered (test_runner_profile_states_resume)."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.runner import CheckpointRunner

    docs = _t(spark, sf, "documents")
    suite = ExpectationSuite("profile_run")
    suite.add("expect_column_values_to_not_be_null", column="doc_id")

    def build(store):
        runner = CheckpointRunner(
            spark, store, n_buckets=4, profile_columns=["n_chars"],
            # the production shape: partitions validate concurrently (the GX
            # AsyncExecutor analog); store appends serialize behind the
            # runner's write lock, and the merged profile is order-invariant
            max_concurrency=4,
        )
        runner.run(docs, suite, run_id="entry")
        return runner.corpus_profile("entry", round_to=5)

    return _with_temp_store("sparkcheck_states_", build).select(
        "column",
        "n",
        "n_null",
        "mean",
        "stddev_samp",
        F.round("variance_samp", 2).alias("variance_samp"),
        "mn",
        "mx",
    )


def q_streaming_profile_documents(spark, sf):
    """Continuously-updated corpus profile from per-micro-batch mergeable
    states (streaming.StateMonitor over states.moments — the streaming
    half of the metric-resume story): three deterministic micro-batches of documents
    flow through the foreachBatch callable, batch 1 is then REDELIVERED
    (foreachBatch's at-least-once contract) and must be a manifest-keyed
    no-op, and the profile is merge_states over the 3-batch × 1-column
    state rows — past batches are never rescanned. The oracle IS the full
    rescan: the claim is exact equality including across the redelivery.
    Live-stream behavior (rate source, crash-orphan supersede) is
    pytest-covered (test_streaming_profile_monitor_*)."""
    from sparkcheck.states import merge_states, moments
    from sparkcheck.streaming import StateMonitor

    d = _t(spark, sf, "documents")
    kind = moments(["n_chars"])

    def build(store):
        mon = StateMonitor(store, [kind], run_id="entry")
        for i in range(3):
            mon(d.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i), i)
        mon(d.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 1), 1)
        return merge_states(mon.states(spark, kind), round_to=5)

    return _with_temp_store("sparkcheck_sprof_", build).select(
        "column",
        "n",
        "n_null",
        "mean",
        "stddev_samp",
        F.round("variance_samp", 2).alias("variance_samp"),
        "mn",
        "mx",
    )


def q_information_gain_lineitem(spark, sf):
    """Per-feature information gain vs the l_returnflag label
    (infotheory.information_gain): every feature rides ONE stack-melt +
    ONE groupBy(feature, value, label) shuffle; marginals are windows
    over the joint-count frame partitioned by feature. The
    feature-relevance / label-leakage ranking: gain_ratio ~ 1 means the
    feature leaks the label, ~ 0 means uninformative. Oracle replays the
    melt and the windowed MI identity in SQL."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.infotheory import information_gain

    return information_gain(
        li, "l_returnflag", ["l_linestatus", "l_linenumber", "l_quantity"]
    )


def q_duplicate_spans_documents(spark, sf):
    """Exact duplicated-substring spans (dedup.duplicate_spans, the
    ExactSubstr variant of Lee et al. 2022 reformulated without the
    single-machine suffix array): every maximal character span covered
    by a >=25-char substring occurring more than once corpus-wide. One
    posexplode to ~one row per corpus character (the honest cost of
    span-exact dedup), a map-side-combined groupBy on the 64-bit gram
    hash, a co-partitioned join back, and a per-document gaps-and-
    islands window bounded by document length. Oracle shuffles the gram
    TEXT (collision-free); at 500 docs the 64-bit hash has no
    collisions, so both sides agree exactly."""
    d = _t(spark, sf, "documents")
    out = dedup.duplicate_spans(d, min_len=25)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


def q_scrub_dup_spans_documents(spark, sf):
    """Removal half of exact-substring dedup (dedup.scrub_duplicate_
    spans): cut every duplicate_spans region out of each document and
    rebuild the text from the gaps with a pure-JVM F.aggregate fold
    over the (sorted, disjoint) span list — no Python touches the
    strings. Oracle rebuilds via string_agg of lag-windowed gap pieces
    plus the tail, so the reconstructed text_clean is compared
    byte-for-byte."""
    d = _t(spark, sf, "documents")
    out = dedup.scrub_duplicate_spans(d, min_len=25)
    return out.select(
        "doc_id",
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        F.col("dup_chars").cast("long").alias("dup_chars"),
        "text_clean",
    )


def q_dup_span_stats_documents(spark, sf):
    """One-row corpus duplication summary (dedup.duplicate_span_stats,
    the metric behind expect_column_duplicate_span_fraction_to_be_less_
    than): what fraction of corpus characters sits inside >=25-char
    substrings occurring more than once. Multiplicity-exact (identical
    rows re-weighted by content-key row count); the final join is
    document-count-sized on both sides."""
    d = _t(spark, sf, "documents")
    out = dedup.duplicate_span_stats(d, min_len=25)
    return out.select(
        F.col("total_docs").cast("long").alias("total_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.col("docs_with_dups").cast("long").alias("docs_with_dups"),
        F.col("dup_spans").cast("long").alias("dup_spans"),
        F.col("dup_chars").cast("long").alias("dup_chars"),
        "dup_fraction",
    )


def q_contaminated_spans_documents(spark, sf):
    """Span-level benchmark decontamination, discovery half
    (dedup.contaminated_spans): maximal spans of 'corpus' docs
    (doc_id %% 7 != 0) covered by >=25-char substrings appearing
    anywhere in the 'benchmark' docs (doc_id %% 7 == 0). The benchmark
    side reduces to its DISTINCT gram-hash set before the semi-join
    (benchmark text never crosses the shuffle); oracle joins the gram
    TEXT itself."""
    d = _t(spark, sf, "documents")
    corpus = d.where(F.col("doc_id") % 7 != 0)
    bench = d.where(F.col("doc_id") % 7 == 0)
    out = dedup.contaminated_spans(corpus, bench, min_len=25)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


def q_scrub_contamination_documents(spark, sf):
    """Span-level benchmark decontamination, removal half
    (dedup.scrub_contaminated_spans): leaked >=25-char benchmark
    substrings are cut out of each corpus document and the text is
    rebuilt with the pure-JVM fold; clean docs come back whole. Oracle
    rebuilds via lag-windowed gap pieces, compared byte-for-byte."""
    d = _t(spark, sf, "documents")
    corpus = d.where(F.col("doc_id") % 7 != 0)
    bench = d.where(F.col("doc_id") % 7 == 0)
    out = dedup.scrub_contaminated_spans(corpus, bench, min_len=25)
    return out.select(
        "doc_id",
        F.col("n_contaminated_spans").cast("long").alias("n_contaminated_spans"),
        F.col("contaminated_chars").cast("long").alias("contaminated_chars"),
        "text_clean",
    )


def q_bloom_referential_violations(spark, sf):
    """Exact referential violations through the Bloom tier
    (sketches.bloom_referential_violations): bloom-miss rows are certain
    violations after one Arrow pass (no join); only the bloom-hit
    remainder goes through the exact anti-join. Output is row-identical
    to the plain anti-join, which is exactly what the oracle computes."""
    from sparkcheck.sketches import bloom_referential_violations

    li = _t(spark, sf, "lineitem")
    dim = _t(spark, sf, "part").where(F.col("p_partkey") % 131 != 0)
    bad = bloom_referential_violations(li, "l_partkey", dim, "p_partkey")
    return bad.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_rows"))


def q_heavy_hitters_users(spark, sf):
    """EXACT heavy hitters via Spark's frequent-items sketch
    (approx_top_k_accumulate, a mergeable Misra-Gries summary) + a
    broadcast-candidate verification pass (sketches.heavy_hitters):
    two narrow scans and dimension-sized shuffles replace the
    full-cardinality value_counts shuffle. At k=200 the sketch's error
    is at most 3.5/512 < 0.8% of the rows, so every value holding
    >=0.8% of events is a candidate and comes back with its exact
    count."""
    from sparkcheck.sketches import heavy_hitters

    ev = _t(spark, sf, "events")
    return heavy_hitters(ev, "user_id", min_fraction=0.008, k=200).select(
        F.col("value").alias("user_id"), "cnt"
    )


def q_hist_states_lineitem(spark, sf):
    """Mergeable fixed-bin histogram states (states.histogram_states +
    merge_histogram_states): per-commit-unit bin counts over 8 synthetic
    hash partitions of lineitem, folded back to the corpus histogram.
    Bin counts over fixed edges are pure sums, so the fold is exact and
    partition-invariant — the oracle IS a plain full-scan CASE-sum
    histogram with the same edges (bin 0 = below, inner bins [lo, hi)
    with the last closed on the right, bin B+1 = above; NULL counted
    nowhere). This is the distribution half of incremental resume:
    runner.corpus_drift folds exactly these states into corpus KL/PSI
    against a baseline snapshot without rescanning committed partitions
    (pytest test_runner_histogram_resume_and_drift covers the crash/
    resume leg)."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.states import histogram_states, merge_histogram_states

    st = histogram_states(
        li,
        {
            "l_quantity": [1.0, 13.0, 25.0, 37.0, 50.0],
            "l_discount": [0.0, 0.02, 0.04, 0.06, 0.08, 0.11],
        },
        state_key="pmod(hash(l_orderkey), 8)",
    )
    return merge_histogram_states(st)


def _hist_oracle_arm(table: str, col: str, edges: "list[float]") -> str:
    """UNION ALL arms replaying histogram_terms' bin semantics in SQL:
    one aggregate SELECT per bin so zero-count bins still appear."""
    arms = [
        f"SELECT '{col}' AS \"column\", 0 AS bin, "
        f"sum(CASE WHEN {col} < {edges[0]!r} THEN 1 ELSE 0 END)::BIGINT "
        f"AS cnt FROM {table}"
    ]
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        hi_op = "<=" if i == len(edges) - 2 else "<"
        arms.append(
            f"SELECT '{col}', {i + 1}, sum(CASE WHEN {col} >= {lo!r} "
            f"AND {col} {hi_op} {hi!r} THEN 1 ELSE 0 END)::BIGINT "
            f"FROM {table}"
        )
    arms.append(
        f"SELECT '{col}', {len(edges)}, sum(CASE WHEN {col} > "
        f"{edges[-1]!r} THEN 1 ELSE 0 END)::BIGINT FROM {table}"
    )
    return " UNION ALL ".join(arms)


_SD_EDGES = [0.0, 500.0, 1000.0, 2000.0, 4000.0]


def q_streaming_drift_documents(spark, sf):
    """Continuously-updated corpus histogram from per-micro-batch
    mergeable histogram states (streaming.StateMonitor over
    states.histogram — the distribution half of the streaming resume story): three
    deterministic micro-batches of documents flow through the
    foreachBatch callable, batch 1 is then REDELIVERED and must be a
    manifest-keyed no-op, and the corpus histogram is a pure-sum fold of
    the 3-batch × #bins state rows — past batches are never rescanned.
    The oracle IS the full-scan histogram with the same edges: the claim
    is exact equality including across the redelivery (KL/PSI follow
    driver-side from these counts via states.drift_from_states; the
    drift math is oracled separately in kl_drift_quantity). Live-stream
    behavior and crash-orphan supersede are pytest-covered
    (test_streaming_drift_monitor_*)."""
    from sparkcheck.states import histogram, merge_histogram_states
    from sparkcheck.streaming import StateMonitor

    d = _t(spark, sf, "documents")
    kind = histogram({"n_chars": _SD_EDGES})

    def build(store):
        mon = StateMonitor(store, [kind], run_id="entry")
        for i in range(3):
            mon(d.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i), i)
        mon(d.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 1), 1)
        return merge_histogram_states(mon.states(spark, kind))

    return _with_temp_store("sparkcheck_sdrift_", build)


_QB_BINS = {
    "l_quantity": [1.0, 13.0, 25.0, 37.0, 50.0],
    "l_extendedprice": [1000.0, 20000.0, 40000.0, 60000.0, 80000.0, 100000.0],
}


def q_hist_quantile_bounds_lineitem(spark, sf):
    """EXACT quantile brackets from merged histogram states
    (states.quantile_bounds): rank ceil(p·n) with the same all-integer
    arithmetic as stats.exact_quantiles, located in the cumulative bin
    counts of the per-hash-partition states fold — the quantile provably
    lies in [lo, hi) with width one bin, and the whole computation is
    windows over a dimension-sized frame. The oracle replays the
    full-scan histogram, the cumulative rank pick, and the edge lookup
    in SQL. This makes quantile expectations answerable incrementally
    from committed states (quantile_bracket_verdicts' three-valued
    pass/fail/indeterminate is pytest-covered)."""
    li = _t(spark, sf, "lineitem")
    from sparkcheck.states import (
        histogram_states,
        merge_histogram_states,
        quantile_bounds,
    )

    st = histogram_states(li, _QB_BINS, state_key="pmod(hash(l_orderkey), 8)")
    return quantile_bounds(
        merge_histogram_states(st), _QB_BINS, [0.25, 0.5, 0.75, 0.95]
    )


def _qb_oracle(table: str, bins: "dict[str, list[float]]") -> str:
    """SQL replay of quantile_bounds: full-scan CASE-sum histogram ->
    cumulative counts -> integer-rank bin pick -> edge lookup."""
    h = " UNION ALL ".join(_hist_oracle_arm(table, c, e) for c, e in bins.items())
    edges_rows = []
    for c, e in bins.items():
        edges_rows.append(f"('{c}', 0, '-infinity'::DOUBLE, {e[0]!r})")
        for i in range(len(e) - 1):
            edges_rows.append(f"('{c}', {i + 1}, {e[i]!r}, {e[i + 1]!r})")
        edges_rows.append(f"('{c}', {len(e)}, {e[-1]!r}, 'infinity'::DOUBLE)")
    pr = ", ".join(
        f"({p!r}, {num}, {den})"
        for p, num, den in [(0.25, 1, 4), (0.5, 1, 2), (0.75, 3, 4), (0.95, 19, 20)]
    )
    return (
        f"WITH h AS ({h}), "
        'c AS (SELECT "column", bin, cnt, '
        'sum(cnt) OVER (PARTITION BY "column" ORDER BY bin) AS cum, '
        'sum(cnt) OVER (PARTITION BY "column") AS n FROM h), '
        f"pr(p, num, den) AS (VALUES {pr}), "
        'k AS (SELECT "column", p, max(n)::BIGINT AS n, '
        "min(CASE WHEN cum >= (num * n + den - 1) // den THEN bin END) AS bin "
        'FROM c CROSS JOIN pr GROUP BY "column", p), '
        f'e("column", bin, lo, hi) AS (VALUES {", ".join(edges_rows)}) '
        'SELECT k."column", CAST(k.p AS DOUBLE) AS p, k.n, '
        "CASE WHEN k.n > 0 THEN k.bin END AS bin, "
        "CASE WHEN k.n > 0 THEN e.lo END AS lo, "
        "CASE WHEN k.n > 0 THEN e.hi END AS hi "
        'FROM k LEFT JOIN e ON k."column" = e."column" AND k.bin = e.bin'
    )


def q_cohens_kappa_langid(spark, sf):
    """Cohen's κ between the stored gold ``lang`` label and the stopword
    langid heuristic (infotheory.cohens_kappa × text.langid) — the
    chance-corrected classifier-vs-gold agreement check, κ = (p_o − p_e)
    / (1 − p_e). One groupBy(gold, predicted) shuffle (max_groups-capped,
    same guard as mutual_information); marginals, their same-category
    product and the diagonal fold over the dimension-sized joint-count
    frame. The oracle replays the langid argmax (latest code wins ties,
    like array_max on (score, code) structs) and the κ identity in SQL."""
    d = _t(spark, sf, "documents")
    from sparkcheck.infotheory import cohens_kappa
    from sparkcheck.text import langid

    return cohens_kappa(d, "lang", langid("text"), name_b="langid(text)")


def q_concentration_documents(spark, sf):
    """Corpus-concentration scalars of the per-source mix
    (text.concentration_profile): Gini of the group-size distribution via
    the rank identity G = (2·Σ i·x_(i) − (n_g+1)·Σx)/(n_g·Σx), the
    Herfindahl index Σ share², and the top source's share. One groupBy
    shuffle; the rank + fold run over the #sources-row count frame. The
    oracle replays the identical rank identity with a window."""
    d = _t(spark, sf, "documents")
    from sparkcheck.text import concentration_profile

    return concentration_profile(d, "source")


def q_quantized_ann_topk(spark, sf):
    """Int8-quantized brute-force top-k (similarity.quantized_topk):
    both sides quantized per-vector to q_i = round(127·x_i/max|x|)
    tinyint codes (4× less vector payload at corpus scale), scored by
    the ALL-INTEGER dot q_a·q_b over √ norms. The integer codes and dots
    are bit-exact on every engine, so the Arrow int-gemm path and the
    oracle's list-fold replay produce identical rows — only the final
    divide/√/round touch floats (IEEE-correctly-rounded both sides)."""
    emb = _t(spark, sf, "embeddings")
    from sparkcheck.similarity import quantized_topk

    return quantized_topk(emb, emb.where(F.col("vec_id") < 5), k=5)


def q_pq_ann_topk(spark, sf):
    """Product-quantization ADC top-k (similarity.pq_codebooks/pq_topk,
    m=8 subspaces × k=16 centroids → 8 codes of 4 bits per vector, the
    32× compression tier under int8's 4×): seed codebooks are subspace
    slices of the 16 lowest-id vectors (deterministic, the ivf_topk
    oracle strategy), encoding is per-subspace argmin with lowest-id
    tie-break, scoring is the LUT sum Σ_m ||q_m − C_m[code]||². Every
    distance accumulates in the SAME sequential fold order on both
    engines (dims within a subspace, then subspaces), so codes, ADC
    sums, and ranks replay bit-for-bit in SQL."""
    emb = _t(spark, sf, "embeddings")
    from sparkcheck.similarity import pq_codebooks, pq_topk

    books = pq_codebooks(emb, m=8, k=16)
    return pq_topk(emb, emb.where(F.col("vec_id") < 5), books, k=5)


def q_pq_rerank_topk(spark, sf):
    """Two-stage PQ search (similarity.pq_topk with rerank_k=50): ADC
    shortlists 50 candidates per query from the 8-byte codes, then ONLY
    those rows join back to float vectors for an exact sequential-fold
    L2 re-rank — exact distances out, recall bounded only by shortlist
    coverage (0.20→0.76 measured at rerank_k=50 on this corpus). The
    oracle replays shortlist AND re-rank: same codebooks, same ordered
    folds, same (dist ASC, neighbor_id) tie-break."""
    emb = _t(spark, sf, "embeddings")
    from sparkcheck.similarity import pq_codebooks, pq_topk

    books = pq_codebooks(emb, m=8, k=16)
    return pq_topk(
        emb, emb.where(F.col("vec_id") < 5), books, k=5, rerank_k=50
    )


def q_ivfpq_ann_topk(spark, sf):
    """The full IVF-PQ stack (similarity.ivfpq_topk): coarse-route each
    query to its 4 of 16 nearest centroids, ADC-score only the probe
    partitions' 8-byte PQ codes, rank by the LUT sum. The scan is
    ~n_probe/n_centroids of a codes column 32× smaller than the floats —
    the 10^12-vector ANN shape. assign_impl="fold" for oracle bit-replay
    (the API default is the Arrow gemm); the oracle composes the proven
    IVF route and PQ ADC replays with identical ordered folds."""
    emb = _t(spark, sf, "embeddings")
    from sparkcheck.similarity import ivfpq_topk, pq_codebooks

    books = pq_codebooks(emb, m=8, k=16)
    return ivfpq_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        books,
        k=5,
        n_centroids=16,
        n_probe=4,
        assign_impl="fold",
    )


def q_profile_embeddings_vector(spark, sf):
    """Profiler auto-coverage of embedding-shaped columns
    (profiler.profile_suite): an array<float> column yields a pinned
    dimension (expect_column_vector_lengths_to_equal — ragged deliveries
    break every ANN stage) and an observed L2-norm envelope with
    relative slack (expect_column_vector_norms_to_be_between, non-finite
    norms excluded from the envelope but caught by the emitted check).
    The oracle replays the same sequential norm fold, the finite-only
    min/max, and the pad arithmetic."""
    emb = _t(spark, sf, "embeddings")
    from sparkcheck.profiler import profile_suite

    suite = profile_suite(emb, slack=0.1)
    rows = [
        (
            e.expectation_type,
            e.kwargs["column"],
            float(e.kwargs["value"]) if "value" in e.kwargs else None,
            e.kwargs.get("min_value"),
            e.kwargs.get("max_value"),
        )
        for e in suite.expectations
        if e.expectation_type
        in (
            "expect_column_vector_lengths_to_equal",
            "expect_column_vector_norms_to_be_between",
        )
    ]
    return spark.createDataFrame(
        rows,
        "expectation_type string, column string, value double, "
        "min_value double, max_value double",
    )


def q_zipf_profile_documents(spark, sf):
    """Zipf-law conformity of the corpus token distribution
    (text.zipf_profile): OLS slope of ln(count) on ln(rank) over the
    top-5000 tokens + fit r² — natural text sits near −1; templated
    corpora flatten, exploded vocabularies steepen. One explode+groupBy
    shuffle; rank is a deterministic TakeOrdered; the OLS sums run over
    ≤ 5000 rows. Oracle replays rank, logs, and the closed-form
    slope/r²."""
    d = _t(spark, sf, "documents")
    from sparkcheck.text import zipf_profile

    return zipf_profile(d)


def q_weighted_sample_documents(spark, sf):
    """Weight-proportional sample WITHOUT replacement, 200 docs biased by
    n_chars (sampling.weighted_sample, Efraimidis–Spirakis A-ES): rank by
    ln(u)/w with u the deterministic md5 uniform, take the global top-k —
    a TakeOrderedAndProject (per-partition heaps, no payload shuffle).
    The oracle rebuilds u nibble-by-nibble and replays the same ordering,
    so the selected id set matches exactly."""
    d = _t(spark, sf, "documents")
    from sparkcheck.sampling import weighted_sample

    return weighted_sample(d, "n_chars", 200, id_col="doc_id").select(
        "doc_id", "lang", "source", "n_chars", "selection_key"
    )


def q_chunked_documents(spark, sf):
    """Sliding-window context chunking (text.chunk_documents): each doc's
    token stream split into 32-token windows at stride 24 (8-token
    overlap) — the long-doc complement of sequence packing. A pure narrow
    plan (tokenize → sequence → posexplode → slice), ZERO shuffles; the
    oracle replays the closed-form chunk count and list_slice windows."""
    d = _t(spark, sf, "documents")
    return text.chunk_documents(d, max_tokens=32, stride=24)


def q_distinctive_terms_source(spark, sf):
    """Per-source TF-IDF distinctive terms (text.distinctive_terms): top-5
    tokens per source by tf·ln(N_sources/df) with tf ≥ 2, ranked on the
    6-dp-rounded score with token tie-break. One explode + one
    (source, token) groupBy; df is a window over the dimension-sized
    vocab frame; N_sources rides in as a broadcast 1×1 aggregate."""
    d = _t(spark, sf, "documents")
    return text.distinctive_terms(d, group_col="source", top_k=5, min_tf=2)


def q_fuzzy_name_pairs(spark, sf):
    """Edit-distance record linkage (keys.fuzzy_self_join): every customer
    name pair within 1 Levenshtein edit, found by exact SymSpell
    deletion-neighborhood blocking (explode ≤ d deletions per side, join
    on the shared variant, verify with the JVM levenshtein) — identical
    rows to the oracle's O(n²) cross join, without the cross join."""
    c = _t(spark, sf, "customer")
    return keys_mod.fuzzy_self_join(
        c, "c_name", id_col="c_custkey", max_distance=1
    )


def q_embedding_decontamination(spark, sf):
    """Embedding-space benchmark decontamination
    (similarity.embedding_decontaminate): corpus vectors flagged when
    their max cosine against the eval slice (vec_id % 10 == 0) reaches
    0.9. The arrow path scores each Arrow batch against the broadcast
    eval matrix in one float64 gemm and emits only the per-row max — a
    shuffle-free corpus-sized plan; the oracle replays the cross-join
    max with the shared fold cosine, compared at 6 dp."""
    e = _t(spark, sf, "embeddings")
    ev = e.where(F.col("vec_id") % 10 == 0)
    corpus = e.where(F.col("vec_id") % 10 != 0)
    return similarity.embedding_decontaminate(corpus, ev, threshold=0.9)


def q_quantile_sketch_verdicts(spark, sf):
    """Three-valued quantile expectation from MERGEABLE quantile-summary
    states (sketches.quantile_states → quantile_sketch_bounds →
    states.quantile_bracket_verdicts): per-commit-unit MRL-style
    summaries with a worst-case certified rank error, folded without
    rescanning, then verdicts against allowed ranges. The summary's
    internal items vary with task boundaries, but the VERDICT is
    partition-independent whenever the certified bracket sits robustly
    inside/outside the allowed range — which these ranges guarantee —
    so the oracle checks the exact type-1 quantile against the same
    ranges and must agree."""
    from sparkcheck import sketches
    from sparkcheck.states import quantile_bracket_verdicts

    li = _t(spark, sf, "lineitem")
    st = sketches.quantile_states(
        li, "l_quantity", state_key="pmod(l_orderkey, 8)", k=256
    )
    bounds = sketches.quantile_sketch_bounds(st, [0.5, 0.95])
    v = quantile_bracket_verdicts(
        bounds,
        {"l_quantity": {0.5: (1.0, 45.0),    # p50 ≈ 25 → certain pass
                        0.95: (0.0, 10.0)}},  # p95 ≈ 48 → certain fail
    )
    return v.select("column", "p", "n", "amin", "amax", "verdict")


def q_interleaved_chunk_stats(spark, sf):
    """Context-window chunking of the interleaved span corpus
    (spans.chunk_interleaved, budget-interval mode): whole spans
    assigned to 16-token windows, media spans costing a fixed 8 tokens
    — the multimodal step between validation and packing, as a single
    narrow transform/posexplode plan with zero shuffles before the
    stats rollup. The oracle rebuilds the same md5-derived corpus and
    replays the cumulative-cost window division."""
    docs = spans.interleave_documents(_t(spark, sf, "documents"))
    ch = spans.chunk_interleaved(
        docs, max_tokens=16, media_token_cost=8, mode="interval"
    )
    return spans.chunk_stats(ch)


def q_interleaved_chunk_greedy(spark, sf):
    """The GREEDY chunk layout (spans.chunk_interleaved mode="greedy" —
    the production form: consecutive windows, never over budget unless a
    single span is) over the interleaved corpus, span-level output.
    Spark computes it as a pure-JVM aggregate fold over the span array;
    the oracle replays the same sequential recurrence with a DuckDB
    RECURSIVE CTE stepping span-by-span per document (depth = max
    spans/doc, bounded by the corpus construction)."""
    docs = spans.interleave_documents(_t(spark, sf, "documents"))
    return spans.chunk_interleaved(
        docs, max_tokens=16, media_token_cost=8, mode="greedy"
    )


def q_normalized_text_documents(spark, sf):
    """Engine-portable text normalization (text.normalize_text): the
    documents table decorated with deterministic unicode noise (curly
    quotes, em-dash, NBSP, a control char, doubled spaces — injected
    via chr() so both engines build identical bytes), then folded back
    to canonical ASCII through the shared translate map + ASCII-only
    regex chain. Output hashes must match DuckDB bit-for-bit."""
    d = _t(spark, sf, "documents")
    # Python chr() literals, NOT Spark's char() — Spark char(n) is n%256
    # (8220 -> \x1c), DuckDB chr(n) is the real codepoint
    noisy = F.concat(
        F.lit(chr(8220)), F.col("text"), F.lit(chr(8221)),
        F.lit("  "), F.lit(chr(8212)), F.lit(" x"),
        F.lit(chr(160)), F.lit("y"), F.lit(chr(7)), F.lit("z"),
    )
    return d.select(
        "doc_id", text.normalize_text(noisy).alias("norm_text")
    )


def q_normalization_dedup_gain(spark, sf):
    """Normalization-aware dedup (text.normalize_text ∘ dedup
    fingerprints): each doc gets deterministic doc_id-dependent cosmetic
    noise (a ZWSP inside the first word for doc_id%3==0, a trailing NBSP
    for %3==1 — noise real web corpora carry), which breaks RAW
    fingerprint dedup across differently-decorated copies; normalizing
    first restores it. Output one row: duplicate-group counts on the
    raw vs normalized fingerprints — the measurable reason
    normalization runs before hashing. The corpus is the documents
    table unioned with an id-shifted copy of itself (shift ≡ 2 mod 3),
    so every doc has a twin carrying a DIFFERENT decoration class —
    raw dedup finds (nearly) nothing, normalized dedup recovers every
    pair. Oracle replays both fingerprint sets with the shared
    translate/regex chain and md5 convention."""
    base = _t(spark, sf, "documents").select("doc_id", "text")
    d = base.unionByName(
        base.select((F.col("doc_id") + 1000001).alias("doc_id"), "text")
    )
    t = F.col("text")
    noisy = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                t.substr(F.lit(1), F.lit(1)), F.lit(chr(0x200B)),
                t.substr(F.lit(2), F.length(t)),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.concat(t, F.lit(chr(160))))
        .otherwise(t)
    )

    def n_groups(col):
        return (
            d.select(text.fingerprint(col).alias("f"))
            .groupBy("f")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .agg(F.count(F.lit(1)).alias("ng"))
        )

    raw = n_groups(noisy).withColumnRenamed("ng", "n_groups_raw")
    norm = n_groups(text.normalize_text(noisy)).withColumnRenamed(
        "ng", "n_groups_normalized"
    )
    return raw.crossJoin(norm)


def q_normalized_violation_count(spark, sf):
    """expect_column_values_to_be_normalized as a fused map condition
    (column_values.normalized: the column must be a fixed point of
    text.normalize_text): counts delivery rows carrying curly quotes /
    ZWSP / NBSP / whitespace drift BEFORE they poison dedup hashes.
    The corpus is the documents table with the deterministic doc_id%3
    decoration (two thirds dirty); the oracle replays the full
    translate/regex chain and the fixed-point comparison."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    noisy = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                t.substr(F.lit(1), F.lit(1)), F.lit(chr(0x200B)),
                t.substr(F.lit(2), F.length(t)),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.concat(t, F.lit(chr(160))))
        .otherwise(t)
    )
    nd = d.select(F.col("doc_id"), noisy.alias("text"))
    mask = get_condition("column_values.normalized").unexpected(
        Domain(column="text"), {}
    )
    return nd.agg(
        F.sum(mask.cast("long")).alias("unexpected_count"),
        F.count(F.lit(1)).alias("element_count"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "row_count": q_row_count,
        "null_profile_orders": q_null_profile_orders,
        "in_set_violations": q_in_set_violations,
        "between_violation_count": q_between_violation_count,
        "regex_violation_count": q_regex_violation_count,
        "agg_profile_lineitem": q_agg_profile_lineitem,
        "quantiles_quantity": q_quantiles_quantity,
        "distinct_counts": q_distinct_counts,
        "value_counts_returnflag": q_value_counts_returnflag,
        "most_common_priority": q_most_common_priority,
        "unique_violations_custkey": q_unique_violations_custkey,
        "compound_unique_violation_count": q_compound_unique_violation_count,
        "value_length_profile": q_value_length_profile,
        "histogram_extendedprice": q_histogram_extendedprice,
        "kl_drift_quantity": q_kl_drift_quantity,
        "psi_drift_totalprice": q_psi_drift_totalprice,
        "events_hourly_profile": q_events_hourly_profile,
        "event_sessions": q_event_sessions,
        "event_asof_purchase": q_event_asof_purchase,
        "windowed_validation": q_windowed_validation,
        "zscore_outlier_count": q_zscore_outlier_count,
        "referential_violations": q_referential_violations,
        "pair_violation_count": q_pair_violation_count,
        "row_condition_mean": q_row_condition_mean,
        "multicolumn_unique_violations": q_multicolumn_unique_violations,
        "dsl_row_condition_mean": q_dsl_row_condition_mean,
        "table_schema_lineitem": q_table_schema_lineitem,
        "span_profile": q_span_profile,
        "span_token_violations": q_span_token_violations,
        "text_profile": q_text_profile,
        "langid_counts": q_langid_counts,
        "exact_dup_count": q_exact_dup_count,
        "prefix_dups": q_prefix_dups,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "canonical_selection": q_canonical_selection,
        "bpe_token_stats": q_bpe_token_stats,
        "repetition_profile": q_repetition_profile,
        "pii_scrub": q_pii_scrub,
        "contamination": q_contamination,
        "token_budget_sample": q_token_budget_sample,
        "minhash_candidate_count": q_minhash_candidate_count,
        "ann_topk": q_ann_topk,
        "lsh_neardup_pairs": q_lsh_neardup_pairs,
        "lsh_neardup_multiprobe": q_lsh_neardup_multiprobe,
        "embedding_neardup_count": q_embedding_neardup_count,
        "simhash_neardup_count": q_simhash_neardup_count,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "span_struct_violations": q_span_struct_violations,
        "span_suite_report": q_span_suite_report,
        "span_fingerprints": q_span_fingerprints,
        "media_image_features": q_media_image_features,
        "media_frame_samples": q_media_frame_samples,
        "corr_profile_lineitem": q_corr_profile_lineitem,
        "spearman_quantity_price": q_spearman_quantity_price,
        "quarantine_split": q_quarantine_split,
        "fd_check_lineitem": q_fd_check_lineitem,
        "sampled_violation_estimate": q_sampled_violation_estimate,
        "salted_join_profile": q_salted_join_profile,
        "media_png_roundtrip": q_media_png_roundtrip,
        "media_wav_roundtrip": q_media_wav_roundtrip,
        "media_jpeg_roundtrip": q_media_jpeg_roundtrip,
        "media_gif_roundtrip": q_media_gif_roundtrip,
        "media_decodable_validation": q_media_decodable_validation,
        "vector_validation_embeddings": q_vector_validation_embeddings,
        "interleaved_media_validation": q_interleaved_media_validation,
        "media_progressive_jpeg": q_media_progressive_jpeg,
        "media_video_roundtrip": q_media_video_roundtrip,
        "video_frame_sampling": q_video_frame_sampling,
        "video_features_profile": q_video_features_profile,
        "fused_validation_documents": q_fused_validation_documents,
        "multibatch_profile_documents": q_multibatch_profile_documents,
        "regex_inference_documents": q_regex_inference_documents,
        "datetime_inference_events": q_datetime_inference_events,
        "reconcile_lineitem_orders": q_reconcile_lineitem_orders,
        "freshness_events": q_freshness_events,
        "class_balance_lang": q_class_balance_lang,
        "two_sample_drift_quantity": q_two_sample_drift_quantity,
        "join_key_health_lineitem": q_join_key_health_lineitem,
        "dataset_diff_orders": q_dataset_diff_orders,
        "passage_dedup_documents": q_passage_dedup_documents,
        "incremental_validation_orders": q_incremental_validation_orders,
        "segment_validation_returnflag": q_segment_validation_returnflag,
        "windowed_drift_events": q_windowed_drift_events,
        "per_source_cap": q_per_source_cap,
        "hash_split_balance": q_hash_split_balance,
        "embedding_drift_labels": q_embedding_drift_labels,
        "mixture_sample": q_mixture_sample,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "curation_funnel": q_curation_funnel,
        "containment_pairs": q_containment_pairs,
        "domain_quality": q_domain_quality,
        "lm_quality_documents": q_lm_quality_documents,
        "bigram_lm_quality": q_bigram_lm_quality,
        "incremental_dedup": q_incremental_dedup,
        "pack_sequences": q_pack_sequences,
        "semantic_dedup": q_semantic_dedup,
        "importance_resample": q_importance_resample,
        "cluster_safe_split": q_cluster_safe_split,
        "robust_stats_quantity": q_robust_stats_quantity,
        "segment_quantiles_returnflag": q_segment_quantiles_returnflag,
        "kmeans_refine": q_kmeans_refine,
        "novelty_documents": q_novelty_documents,
        "cluster_balanced_sample": q_cluster_balanced_sample,
        "wasserstein_drift_quantity": q_wasserstein_drift_quantity,
        "wasserstein_by_linestatus": q_wasserstein_by_linestatus,
        "entropy_profile_orders": q_entropy_profile_orders,
        "mutual_information_lineitem": q_mutual_information_lineitem,
        "benford_extendedprice": q_benford_extendedprice,
        "merged_states_lineitem": q_merged_states_lineitem,
        "runner_profile_documents": q_runner_profile_documents,
        "streaming_profile_documents": q_streaming_profile_documents,
        "information_gain_lineitem": q_information_gain_lineitem,
        "duplicate_spans_documents": q_duplicate_spans_documents,
        "scrub_dup_spans_documents": q_scrub_dup_spans_documents,
        "dup_span_stats_documents": q_dup_span_stats_documents,
        "contaminated_spans_documents": q_contaminated_spans_documents,
        "scrub_contamination_documents": q_scrub_contamination_documents,
        "bloom_referential_violations": q_bloom_referential_violations,
        "heavy_hitters_users": q_heavy_hitters_users,
        "hist_states_lineitem": q_hist_states_lineitem,
        "hist_quantile_bounds_lineitem": q_hist_quantile_bounds_lineitem,
        "streaming_drift_documents": q_streaming_drift_documents,
        "cohens_kappa_langid": q_cohens_kappa_langid,
        "concentration_documents": q_concentration_documents,
        "weighted_sample_documents": q_weighted_sample_documents,
        "quantized_ann_topk": q_quantized_ann_topk,
        "pq_ann_topk": q_pq_ann_topk,
        "pq_rerank_topk": q_pq_rerank_topk,
        "ivfpq_ann_topk": q_ivfpq_ann_topk,
        "profile_embeddings_vector": q_profile_embeddings_vector,
        "zipf_profile_documents": q_zipf_profile_documents,
        "chunked_documents": q_chunked_documents,
        "distinctive_terms_source": q_distinctive_terms_source,
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        "embedding_decontamination": q_embedding_decontamination,
        "quantile_sketch_verdicts": q_quantile_sketch_verdicts,
        "interleaved_chunk_stats": q_interleaved_chunk_stats,
        "interleaved_chunk_greedy": q_interleaved_chunk_greedy,
        "normalized_text_documents": q_normalized_text_documents,
        "normalization_dedup_gain": q_normalization_dedup_gain,
        "normalized_violation_count": q_normalized_violation_count,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    toks_cte = f"WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)"
    budget_hash = _hex32("md5('budget' || doc_id::VARCHAR)")
    sv_hash = _hex32("md5('sv' || doc_id::VARCHAR)")
    ws_hash = _hex32("md5('wsample' || doc_id::VARCHAR)")
    # Wilson 95% interval pieces, mirroring sampling.sampled_violation_estimate
    # term-for-term so the 6-dp rounds agree (z and z^2 embedded as the same
    # Python doubles Spark folds in as literals)
    _z = 1.959964
    _z2 = _z * _z
    _p = "(sample_unexpected::DOUBLE / sample_n)"
    _den = f"(1.0 + {_z2!r} / sample_n)"
    _ctr = f"({_p} + {_z2!r} / (2 * sample_n))"
    _rad = (
        f"({_z!r} * sqrt({_p} * (1.0 - {_p}) / sample_n "
        f"+ {_z2!r} / (4 * sample_n * sample_n)))"
    )
    return {
        "row_count": "SELECT count(*)::BIGINT AS row_count FROM lineitem",

        "null_profile_orders": (
            "SELECT count(*)::BIGINT AS row_count, "
            + ", ".join(
                f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls_{c}"
                for c in ["o_orderkey", "o_custkey", "o_orderstatus",
                          "o_totalprice", "o_orderdate", "o_orderpriority"]
            )
            + " FROM orders"
        ),

        "in_set_violations": (
            "SELECT o_orderkey::VARCHAR AS doc_id, CAST(NULL AS INTEGER) AS span_index, "
            "'expect_column_values_to_be_in_set' AS expectation, "
            "o_orderstatus AS observed_value FROM orders "
            "WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F')"
        ),

        "between_violation_count": (
            "SELECT sum(CASE WHEN l_quantity IS NOT NULL AND NOT "
            "(l_quantity >= 1 AND l_quantity <= 45) THEN 1 ELSE 0 END)::BIGINT "
            "AS unexpected_count, count(*)::BIGINT AS element_count FROM lineitem"
        ),

        "regex_violation_count": (
            "SELECT sum(CASE WHEN text IS NOT NULL AND NOT regexp_matches(text, 'spark') "
            "THEN 1 ELSE 0 END)::BIGINT AS unexpected_count, "
            "count(*)::BIGINT AS element_count FROM documents"
        ),

        "agg_profile_lineitem": (
            "SELECT round(avg(l_extendedprice), 4) AS mean_price, "
            "round(stddev_samp(l_extendedprice), 4) AS stdev_price, "
            "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price, "
            "round(sum(l_extendedprice), 2) AS sum_price, "
            "round(avg(l_discount), 4) AS mean_discount FROM lineitem"
        ),

        "quantiles_quantity": (
            "SELECT round(quantile_cont(l_quantity, 0.25), 4) AS q25, "
            "round(quantile_cont(l_quantity, 0.5), 4) AS q50, "
            "round(quantile_cont(l_quantity, 0.75), 4) AS q75, "
            "round(quantile_cont(l_quantity, 0.95), 4) AS q95 FROM lineitem"
        ),

        "distinct_counts": (
            "SELECT count(DISTINCT l_partkey)::BIGINT AS nd_partkey, "
            "count(DISTINCT l_suppkey)::BIGINT AS nd_suppkey, "
            "count(DISTINCT l_returnflag)::BIGINT AS nd_returnflag FROM lineitem"
        ),

        "value_counts_returnflag": (
            "SELECT l_returnflag, count(*)::BIGINT AS n FROM lineitem GROUP BY 1"
        ),

        "most_common_priority": (
            "SELECT o_orderpriority AS most_common FROM orders "
            "GROUP BY 1 ORDER BY count(*) DESC, 1 ASC LIMIT 1"
        ),

        "unique_violations_custkey": (
            "SELECT o_custkey, count(*)::BIGINT AS n FROM orders "
            "GROUP BY 1 HAVING count(*) > 1"
        ),

        "compound_unique_violation_count": (
            "SELECT count(*)::BIGINT AS n_dup_groups FROM ("
            "SELECT l_orderkey, l_linenumber FROM lineitem "
            "GROUP BY 1, 2 HAVING count(*) > 1)"
        ),

        "value_length_profile": (
            "SELECT min(length(c_name))::INT AS min_len, "
            "max(length(c_name))::INT AS max_len, "
            "round(avg(length(c_name)), 4) AS mean_len FROM customer"
        ),

        "histogram_extendedprice": (
            "SELECT least(greatest(floor((l_extendedprice - 0.0) / 5000.0), 0), 21)::INT "
            "AS bucket, count(*)::BIGINT AS n FROM lineitem GROUP BY 1"
        ),

        "kl_drift_quantity": (
            "WITH pa AS (SELECT least(greatest(floor(l_quantity / 5), 0), 9)::INT AS b, "
            "count(*) AS c FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1), "
            "pn AS (SELECT least(greatest(floor(l_quantity / 5), 0), 9)::INT AS b, "
            "count(*) AS c FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1), "
            "bins AS (SELECT unnest(range(0, 10))::INT AS b), "
            "j AS (SELECT b, coalesce(pa.c, 0)::DOUBLE AS ca, coalesce(pn.c, 0)::DOUBLE AS cn, "
            "(SELECT sum(c) FROM pa)::DOUBLE AS na, (SELECT sum(c) FROM pn)::DOUBLE AS nn "
            "FROM bins LEFT JOIN pa USING(b) LEFT JOIN pn USING(b)) "
            "SELECT round(sum(((ca + 1.0) / (na + 10.0)) * "
            "ln(((ca + 1.0) / (na + 10.0)) / ((cn + 1.0) / (nn + 10.0)))), 4) AS kl FROM j"
        ),

        "psi_drift_totalprice": (
            "WITH ho AS (SELECT least(greatest(floor(o_totalprice / 50000.0), 0), 9)::INT AS b, "
            "count(*) AS c FROM orders WHERE o_orderstatus = 'O' GROUP BY 1), "
            "hf AS (SELECT least(greatest(floor(o_totalprice / 50000.0), 0), 9)::INT AS b, "
            "count(*) AS c FROM orders WHERE o_orderstatus = 'F' GROUP BY 1), "
            "bins AS (SELECT unnest(range(0, 10))::INT AS b), "
            "j AS (SELECT b, coalesce(ho.c, 0)::DOUBLE AS co, coalesce(hf.c, 0)::DOUBLE AS cf, "
            "(SELECT sum(c) FROM ho)::DOUBLE AS no, (SELECT sum(c) FROM hf)::DOUBLE AS nf "
            "FROM bins LEFT JOIN ho USING(b) LEFT JOIN hf USING(b)) "
            "SELECT round(sum(((co / no + 0.000001) - (cf / nf + 0.000001)) * "
            "ln((co / no + 0.000001) / (cf / nf + 0.000001))), 4) AS psi FROM j"
        ),

        "events_hourly_profile": (
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, "
            "count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value, "
            "round(avg(value), 4) AS avg_value FROM events GROUP BY 1, 2"
        ),

        "event_sessions": (
            "WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, "
            "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR "
            "epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 "
            "THEN 1 ELSE 0 END AS is_new FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s2 AS (SELECT user_id, ts_us, value, "
            "sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::INT "
            "AS session_index FROM s) "
            "SELECT user_id, session_index, count(*)::BIGINT AS n_events, "
            "min(ts_us)::BIGINT AS start_us, max(ts_us)::BIGINT AS end_us, "
            "(max(ts_us) - min(ts_us))::BIGINT AS duration_us, "
            "round(sum(value), 4) AS total_value "
            "FROM s2 GROUP BY user_id, session_index"
        ),

        "event_asof_purchase": (
            "WITH c AS (SELECT event_id, user_id, ts, value FROM events "
            "WHERE event_type = 'click'), "
            "p AS (SELECT event_id, user_id, ts, value FROM events "
            "WHERE event_type = 'purchase') "
            "SELECT c.event_id, c.user_id, epoch_us(c.ts)::BIGINT AS ts_us, "
            "epoch_us(p.ts)::BIGINT AS asof_ts_us, "
            "p.event_id AS purchase_event_id, p.value AS purchase_value "
            "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts"
        ),

        # Spark's window("1 day") aligns tumbling windows to the epoch, so
        # window.start == date_trunc('day', ts) for day-granularity windows
        "windowed_validation": (
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS window_start, "
            "count(*)::BIGINT AS element_count, "
            "sum(CASE WHEN value IS NOT NULL AND NOT "
            "(value >= 0 AND value <= 50) THEN 1 ELSE 0 END)::BIGINT "
            "AS n_out_of_range, "
            "sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null "
            "FROM events GROUP BY 1"
        ),

        "zscore_outlier_count": (
            "SELECT count(*)::BIGINT AS n_outliers FROM orders, "
            "(SELECT avg(o_totalprice) AS m, stddev_samp(o_totalprice) AS s FROM orders) "
            "WHERE abs((o_totalprice - m) / s) > 2.5"
        ),

        "referential_violations": (
            "SELECT o_custkey, count(*)::BIGINT AS n_orders FROM orders "
            "WHERE o_custkey IS NOT NULL AND o_custkey NOT IN "
            "(SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0 "
            "AND c_custkey IS NOT NULL) GROUP BY 1"
        ),

        "pair_violation_count": (
            "SELECT sum(CASE WHEN NOT (l_tax >= l_discount) THEN 1 ELSE 0 END)::BIGINT "
            "AS unexpected_count FROM lineitem"
        ),

        "row_condition_mean": (
            "SELECT round(avg(l_extendedprice), 4) AS mean_price, "
            "count(*)::BIGINT AS n FROM lineitem WHERE l_returnflag = 'A'"
        ),

        "multicolumn_unique_violations": (
            "SELECT coalesce(sum(n), 0)::BIGINT AS n_duplicate_rows FROM ("
            "SELECT count(*) AS n FROM lineitem GROUP BY l_partkey, l_suppkey "
            "HAVING count(*) > 1)"
        ),

        "dsl_row_condition_mean": (
            "SELECT round(avg(l_extendedprice), 4) AS mean_price, "
            "count(*)::BIGINT AS n FROM lineitem WHERE l_quantity > 25"
        ),

        "table_schema_lineitem": (
            "SELECT column_name AS col_name, "
            "CASE lower(column_type) WHEN 'bigint' THEN 'bigint' "
            "WHEN 'integer' THEN 'int' WHEN 'double' THEN 'double' "
            "WHEN 'varchar' THEN 'string' WHEN 'timestamp' THEN 'timestamp' "
            "ELSE lower(column_type) END AS col_type "
            "FROM (DESCRIBE SELECT * FROM lineitem)"
        ),

        "span_profile": (
            f"{toks_cte} SELECT doc_id, len(toks)::INT AS n_spans, "
            "len(list_distinct(toks))::INT AS n_distinct FROM t"
        ),

        "span_token_violations": (
            f"{toks_cte} SELECT doc_id, (i - 1)::INT AS span_index, tok AS token FROM ("
            "SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, "
            "unnest(toks) AS tok FROM t) WHERE length(tok) > 6"
        ),

        "text_profile": (
            f"{toks_cte}, scored AS (SELECT doc_id, text, toks, {_LANG_SCORES} FROM t) "
            "SELECT doc_id, len(toks)::INT AS n_tokens, length(text)::INT AS n_chars, "
            "round(CASE WHEN len(toks) > 0 THEN "
            "list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) "
            "ELSE 0.0 END, 4) AS mean_token_len, "
            f"round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> x IN ({_sw_list('en')})))::DOUBLE / len(toks) ELSE 0.0 END, 4) AS stopword_ratio, "
            # the ELSE branch here is 0.0 (the Spark side coalesces the
            # empty-text ratio to 0.0); only the quality term below keeps
            # the 1.0 fallback, matching text.quality_score's coalesce
            "round(CASE WHEN length(lower(text)) > 0 THEN "
            "(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(lower(text)) "
            "ELSE 0.0 END, 4) AS non_alnum_ratio, "
            "round("
            "least(len(toks)::DOUBLE / 20.0, 1.0) * 0.5 + "
            f"least((CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> x IN ({_sw_list('en')})))::DOUBLE / len(toks) ELSE 0.0 END) * 5.0, 1.0) * 0.25 + "
            "(1.0 - least((CASE WHEN length(lower(text)) > 0 THEN "
            "(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(lower(text)) "
            "ELSE 1.0 END) * 2.0, 1.0)) * 0.25"
            ", 4) AS quality, "
            f"{_PRED_LANG} AS pred_lang, "
            "md5(array_to_string(toks, ' ')) AS fingerprint "
            "FROM scored"
        ),

        "langid_counts": (
            f"{toks_cte}, scored AS (SELECT doc_id, {_LANG_SCORES} FROM t) "
            f"SELECT {_PRED_LANG} AS pred_lang, count(*)::BIGINT AS n "
            "FROM scored GROUP BY 1"
        ),

        "exact_dup_count": (
            f"{toks_cte} SELECT count(*)::BIGINT AS n_dup_groups FROM ("
            "SELECT md5(array_to_string(toks, ' ')) AS f FROM t "
            "GROUP BY 1 HAVING count(*) > 1)"
        ),

        "prefix_dups": (
            f"{toks_cte} SELECT array_to_string(toks[1:2], ' ') AS prefix, "
            "count(*)::BIGINT AS n_docs FROM t GROUP BY 1 HAVING count(*) > 1"
        ),

        "jaccard_pairs": (
            f"{toks_cte}, sh0 AS (SELECT doc_id, unnest(list_distinct({_SHINGLES3})) "
            "AS shingle FROM t), "
            "dfq AS (SELECT shingle, count(*) AS c FROM sh0 GROUP BY 1), "
            "sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfq USING(shingle) "
            "WHERE dfq.c <= 50), "
            "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i "
            "FROM sh a JOIN sh b USING(shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard "
            "FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b "
            "WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.1"
        ),

        "dedup_clusters": (
            toks_cte.replace("WITH ", "WITH RECURSIVE ", 1)
            + ', sh0 AS (SELECT doc_id, unnest(list_distinct({SH})) AS shingle FROM t), dfq AS (SELECT shingle, count(*) AS c FROM sh0 GROUP BY 1), sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfq USING(shingle) WHERE dfq.c <= 50), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b USING(shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), pairs AS (SELECT doc_a, doc_b FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.1), edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), reach(node, lab) AS (SELECT a, a FROM edges UNION SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a) SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node'.replace("{SH}", _SHINGLES3)
        ),

        "canonical_selection": (
            # clustering replayed (same recursive CTE as dedup_clusters),
            # then per-cluster keeper = max n_chars, ties -> min doc_id;
            # docs in no cluster are their own keeper
            toks_cte.replace("WITH ", "WITH RECURSIVE ", 1)
            + ', sh0 AS (SELECT doc_id, unnest(list_distinct({SH})) AS '
            "shingle FROM t), dfq AS (SELECT shingle, count(*) AS c FROM "
            "sh0 GROUP BY 1), sh AS (SELECT sh0.doc_id, sh0.shingle FROM "
            "sh0 JOIN dfq USING(shingle) WHERE dfq.c <= 50), "
            "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS i FROM sh a JOIN sh b USING(shingle) "
            "WHERE a.doc_id < b.doc_id GROUP BY 1, 2), "
            "pairs AS (SELECT doc_a, doc_b FROM inter "
            "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = "
            "doc_b WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.1), "
            "edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs "
            "UNION SELECT doc_b, doc_a FROM pairs), "
            "reach(node, lab) AS (SELECT a, a FROM edges UNION "
            "SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a), "
            "clus AS (SELECT node AS doc_id, min(lab) AS cluster_id "
            "FROM reach GROUP BY node), "
            "j AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS "
            "cluster_id, d.n_chars, c.cluster_id IS NOT NULL AS inc "
            "FROM documents d LEFT JOIN clus c USING (doc_id)), "
            "w0 AS (SELECT cluster_id, max(n_chars) AS mq FROM j WHERE inc "
            "GROUP BY 1), "
            "w AS (SELECT j.cluster_id, min(j.doc_id) AS keep FROM j "
            "JOIN w0 USING (cluster_id) WHERE j.inc AND j.n_chars = w0.mq "
            "GROUP BY 1) "
            "SELECT j.doc_id, j.cluster_id, "
            "(w.keep IS NULL OR w.keep = j.doc_id) AS is_canonical "
            "FROM j LEFT JOIN w USING (cluster_id)".replace(
                "{SH}", _SHINGLES3
            )
        ),

        "bpe_token_stats": (
            "SELECT doc_id, "
            "len(regexp_extract_all(text, "
            "'''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'"
            "))::INT AS bpe_tokens, "
            "len(list_filter(str_split_regex(lower(text), '\\s+'), "
            "x -> x <> ''))::INT AS ws_tokens "
            "FROM documents"
        ),

        "repetition_profile": (
            f"{toks_cte}, g AS (SELECT doc_id, toks, {_SHINGLES2} AS g2, "
            f"{_SHINGLES3} AS g3 FROM t) "
            "SELECT doc_id, len(toks)::INT AS n_tokens, "
            "CASE WHEN len(toks) > 0 THEN round(1.0 - "
            "len(list_distinct(toks))::DOUBLE / len(toks), 4) END "
            "AS dup_token_frac, "
            "CASE WHEN len(g2) > 0 THEN round(1.0 - "
            "len(list_distinct(g2))::DOUBLE / len(g2), 4) END "
            "AS dup_2gram_frac, "
            "CASE WHEN len(g3) > 0 THEN round(1.0 - "
            "len(list_distinct(g3))::DOUBLE / len(g3), 4) END "
            "AS dup_3gram_frac FROM g"
        ),

        "pii_scrub": (lambda counts_scrub: (
            "WITH a AS (SELECT doc_id, text || CASE "
            "WHEN doc_id % 20 = 0 THEN printf("
            "' contact user%d@example.com or x%d@test.org', doc_id, doc_id) "
            "WHEN doc_id % 20 = 7 THEN printf("
            "' from 10.0.%d.%d port 80', doc_id % 256, (doc_id * 7) % 250) "
            "WHEN doc_id % 20 = 13 THEN printf("
            "' call +1 555 01%02d 23 45 and ssn %03d-45-6789', "
            "doc_id % 100, doc_id % 1000) "
            "ELSE '' END AS t2 FROM documents) "
            f"SELECT doc_id, {counts_scrub[0]}, "
            f"md5({counts_scrub[1]}) AS scrubbed_fp FROM a"
        ))(_pii_sql_exprs("t2")),

        "contamination": (
            f"{toks_cte}, bsh AS (SELECT DISTINCT "
            f"unnest(list_distinct({_SHINGLES3})) AS shingle FROM t "
            "WHERE doc_id % 97 = 0), "
            f"csh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES3})) "
            "AS shingle FROM t WHERE doc_id % 97 <> 0) "
            "SELECT doc_id, count(*)::BIGINT AS n_overlap "
            "FROM csh JOIN bsh USING(shingle) GROUP BY 1 "
            "HAVING count(*) >= 1"
        ),

        "token_budget_sample": (
            f"WITH t AS (SELECT doc_id, source, len({_TOKS}) AS ntok "
            "FROM documents), "
            "tot AS (SELECT source, sum(ntok) AS st FROM t GROUP BY 1), "
            "ns AS (SELECT count(*) AS n FROM tot), "
            "r AS (SELECT source, least(1.0::DOUBLE, "
            "(10000.0::DOUBLE / ns.n) / st) AS rate FROM tot, ns), "
            "kept AS (SELECT t.doc_id, t.source, t.ntok FROM t "
            "JOIN r USING(source) WHERE "
            f"({budget_hash}::DOUBLE / 4294967296.0) < r.rate) "
            "SELECT source, count(*)::BIGINT AS n_docs, "
            "sum(ntok)::BIGINT AS tokens_kept FROM kept GROUP BY 1"
        ),

        "minhash_candidate_count": (
            f"{toks_cte}, sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES3})) "
            "AS shingle FROM t), "
            "seeds AS (SELECT unnest(range(0, 12))::INT AS seed), "
            "h AS (SELECT doc_id, seed, md5(seed::VARCHAR || '|' || shingle) AS hh "
            "FROM sh CROSS JOIN seeds), "
            "sig AS (SELECT doc_id, seed, min(hh) AS minhash FROM h GROUP BY 1, 2), "
            "bands AS (SELECT doc_id, (seed // 3) AS band, "
            "string_agg(minhash, ',' ORDER BY seed) AS bucket FROM sig GROUP BY 1, 2) "
            "SELECT count(*)::BIGINT AS n_candidate_pairs FROM ("
            "SELECT DISTINCT a.doc_id, b.doc_id FROM bands a "
            "JOIN bands b USING(band, bucket) WHERE a.doc_id < b.doc_id)"
        ),

        "ann_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
            "WHERE vec_id < 5), "
            "c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings), "
            "scored AS (SELECT query_id, neighbor_id, "
            f"round({_fold_dot('qv', 'cv')} / "
            f"(sqrt({_fold_dot('qv', 'qv')}) * sqrt({_fold_dot('cv', 'cv')})), 6) AS cos "
            "FROM c CROSS JOIN q WHERE query_id <> neighbor_id), "
            "ranked AS (SELECT *, row_number() OVER "
            "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk "
            "FROM scored) "
            "SELECT query_id, neighbor_id, cos, rnk::INT AS rnk FROM ranked WHERE rnk <= 5"
        ),

        "embedding_neardup_count": (
            "WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings), "
            "b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings), "
            "scored AS (SELECT id_a, id_b, "
            f"round({_fold_dot('va', 'vb')} / "
            f"(sqrt({_fold_dot('va', 'va')}) * sqrt({_fold_dot('vb', 'vb')})), 6) AS cos "
            "FROM a JOIN b ON id_a < id_b) "
            "SELECT count(*)::BIGINT AS n_pairs FROM scored WHERE cos >= 0.9"
        ),

        # SimHash signatures bit-for-bit: md5-nibble token hashes, 64
        # majority-vote bits as 4 x 16-bit chunk ints, bucket cap 1000,
        # banding join + true-Hamming filter (mirrors dedup.simhash_chunks /
        # simhash_near_duplicates exactly)
        "simhash_neardup_count": (
            f"{toks_cte}, sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES3})) "
            "AS shingle FROM t), "
            "h AS (SELECT doc_id, md5(shingle) AS hh FROM sh), "
            "bitsj AS (SELECT doc_id, hh, unnest(range(0, 64)) AS j FROM h), "
            "votes AS (SELECT doc_id, j, sum(CASE WHEN "
            "((strpos('0123456789abcdef', substr(hh, (j // 4)::INT + 1, 1)) - 1) "
            ">> (j % 4)::INT) & 1 = 1 THEN 1 ELSE -1 END) AS v "
            "FROM bitsj GROUP BY 1, 2), "
            "chunks AS (SELECT doc_id, (j // 16)::INT AS chunk_id, "
            "sum(CASE WHEN v > 0 THEN 1 << (j % 16)::INT ELSE 0 END)::INT AS chunk_val "
            "FROM votes GROUP BY 1, 2), "
            "bc AS (SELECT chunk_id, chunk_val, count(*) AS c FROM chunks GROUP BY 1, 2), "
            "ck AS (SELECT chunks.doc_id, chunks.chunk_id, chunks.chunk_val "
            "FROM chunks JOIN bc USING(chunk_id, chunk_val) WHERE bc.c <= 1000), "
            "sig AS (SELECT doc_id, "
            "max(CASE WHEN chunk_id = 0 THEN chunk_val END) AS c0, "
            "max(CASE WHEN chunk_id = 1 THEN chunk_val END) AS c1, "
            "max(CASE WHEN chunk_id = 2 THEN chunk_val END) AS c2, "
            "max(CASE WHEN chunk_id = 3 THEN chunk_val END) AS c3 "
            "FROM chunks GROUP BY 1), "
            "pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM ck a "
            "JOIN ck b USING(chunk_id, chunk_val) WHERE a.doc_id < b.doc_id), "
            "ham AS (SELECT da, db, bit_count(xor(sa.c0, sb.c0)) + "
            "bit_count(xor(sa.c1, sb.c1)) + bit_count(xor(sa.c2, sb.c2)) + "
            "bit_count(xor(sa.c3, sb.c3)) AS hamming FROM pairs "
            "JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db) "
            "SELECT count(*)::BIGINT AS n_pairs FROM ham WHERE hamming <= 3"
        ),

        "lsh_neardup_pairs": _lsh_neardup_oracle(),
        "lsh_neardup_multiprobe": _lsh_neardup_multiprobe_oracle(),
        "lsh_ann_topk": _lsh_oracle(),
        "ivf_ann_topk": _ivf_oracle(),
        "span_struct_violations": _span_violations_oracle(),
        "span_suite_report": _span_suite_oracle(),
        "span_fingerprints": _span_fingerprints_oracle(),
        "media_image_features": _media_oracle("image"),
        "media_frame_samples": _media_oracle("frames"),
        "dataset_diff_orders": (
            # direct column comparison (IS DISTINCT FROM) replays the
            # hash-equality classification exactly, no collision caveat
            "WITH oldv AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0), "
            "newv AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
            "CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1 "
            "ELSE o_totalprice END AS o_totalprice, o_orderdate, "
            "o_orderpriority FROM orders WHERE o_orderkey % 97 <> 0), "
            "j AS (SELECT CASE WHEN oldv.o_orderkey IS NULL THEN 'added' "
            "WHEN newv.o_orderkey IS NULL THEN 'removed' "
            "WHEN (oldv.o_custkey IS DISTINCT FROM newv.o_custkey) "
            "OR (oldv.o_orderstatus IS DISTINCT FROM newv.o_orderstatus) "
            "OR (oldv.o_totalprice IS DISTINCT FROM newv.o_totalprice) "
            "OR (oldv.o_orderdate IS DISTINCT FROM newv.o_orderdate) "
            "OR (oldv.o_orderpriority IS DISTINCT FROM newv.o_orderpriority) "
            "THEN 'changed' ELSE 'unchanged' END AS status "
            "FROM oldv FULL OUTER JOIN newv "
            "ON oldv.o_orderkey = newv.o_orderkey) "
            "SELECT "
            "count(CASE WHEN status='added' THEN 1 END)::BIGINT AS n_added, "
            "count(CASE WHEN status='removed' THEN 1 END)::BIGINT AS n_removed, "
            "count(CASE WHEN status='changed' THEN 1 END)::BIGINT AS n_changed, "
            "count(CASE WHEN status='unchanged' THEN 1 END)::BIGINT "
            "AS n_unchanged FROM j"
        ),
        "segment_validation_returnflag": (
            "WITH s AS (SELECT l_returnflag, l_linestatus, "
            "count(*)::BIGINT AS n_rows, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "round(max(l_quantity), 4) AS max_qty, "
            "round(sum(l_extendedprice), 2) AS sum_price "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus) "
            "SELECT *, "
            "(n_rows >= 1)::INT AS n_rows_ok, "
            "(avg_disc >= 0.0 AND avg_disc <= 0.06)::INT AS avg_disc_ok, "
            "(max_qty <= 50.0)::INT AS max_qty_ok, "
            "(sum_price >= 0.0)::INT AS sum_price_ok, "
            "((n_rows >= 1) AND (avg_disc >= 0.0 AND avg_disc <= 0.06) "
            "AND (max_qty <= 50.0) AND (sum_price >= 0.0))::INT "
            "AS segment_success FROM s"
        ),
        "windowed_drift_events": _windowed_drift_oracle(),

        "per_source_cap": (
            # replay per_group_cap: hash order = conv(md5[:8],16,10)/2^32;
            # dividing by the same constant preserves order, so ranking on
            # the raw 32-bit int is equivalent
            "WITH h AS (SELECT doc_id, source, "
            + _hex32("md5('cap' || doc_id::VARCHAR)")
            + " AS hv FROM documents), "
            "r AS (SELECT doc_id, source, row_number() OVER "
            "(PARTITION BY source ORDER BY hv, doc_id) AS rn FROM h) "
            "SELECT doc_id, source FROM r WHERE rn <= 10"
        ),

        "hash_split_balance": _hash_split_oracle(),

        "passage_dedup_documents": (
            # 8-token non-overlapping blocks; keep = globally first
            # occurrence per passage TEXT (Spark groups the same classes
            # via xxhash64); rebuild by in-order string_agg
            f"{toks_cte}, "
            "p AS (SELECT doc_id, (u).idx AS idx, (u).passage AS passage "
            "FROM (SELECT doc_id, unnest(list_transform("
            "range(0, CASE WHEN len(toks) = 0 THEN 0 "
            "ELSE CAST(ceil(len(toks) / 8.0) AS BIGINT) END), "
            "i -> {'idx': i, 'passage': "
            "array_to_string(toks[(i*8)+1:(i*8)+8], ' ')})) AS u FROM t)), "
            "k AS (SELECT doc_id, idx, passage FROM ("
            "SELECT *, row_number() OVER (PARTITION BY passage "
            "ORDER BY doc_id, idx) AS rn FROM p) WHERE rn = 1), "
            "r AS (SELECT doc_id, count(*)::BIGINT AS kept_passages, "
            "string_agg(passage, ' ' ORDER BY idx) AS text_dedup "
            "FROM k GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(r.kept_passages, 0)::BIGINT AS "
            "kept_passages, coalesce(r.text_dedup, '') AS text_dedup "
            "FROM documents d LEFT JOIN r USING (doc_id)"
        ),

        "incremental_validation_orders": (
            # delta = added + changed new-side rows (IS DISTINCT FROM
            # replays the xxhash64 equality classification exactly), then
            # the three fused unexpected counts over just that delta
            "WITH oldv AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0), "
            "newv AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
            "CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1 "
            "ELSE o_totalprice END AS o_totalprice, o_orderdate, "
            "o_orderpriority FROM orders WHERE o_orderkey % 97 <> 0), "
            "d AS (SELECT n.* FROM newv n LEFT JOIN oldv o "
            "ON n.o_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL "
            "OR (n.o_custkey IS DISTINCT FROM o.o_custkey) "
            "OR (n.o_orderstatus IS DISTINCT FROM o.o_orderstatus) "
            "OR (n.o_totalprice IS DISTINCT FROM o.o_totalprice) "
            "OR (n.o_orderdate IS DISTINCT FROM o.o_orderdate) "
            "OR (n.o_orderpriority IS DISTINCT FROM o.o_orderpriority)), "
            "a AS (SELECT count(*)::BIGINT AS delta_rows, "
            "coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 END), 0)"
            "::BIGINT AS u0, "
            "coalesce(sum(CASE WHEN o_totalprice IS NOT NULL AND NOT "
            "(o_totalprice BETWEEN 1000 AND 300000) THEN 1 END), 0)"
            "::BIGINT AS u1, "
            "coalesce(sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT "
            "regexp_matches(o_orderpriority, '^[1-3]') THEN 1 END), 0)"
            "::BIGINT AS u2 FROM d) "
            "SELECT 'expect_column_values_to_not_be_null:o_custkey' AS "
            "expectation, delta_rows, u0 AS unexpected FROM a "
            "UNION ALL SELECT "
            "'expect_column_values_to_be_between:o_totalprice', "
            "delta_rows, u1 FROM a "
            "UNION ALL SELECT "
            "'expect_column_values_to_match_regex:o_orderpriority', "
            "delta_rows, u2 FROM a"
        ),

        "embedding_drift_labels": _embedding_drift_oracle(),

        "mixture_sample": (
            # rates recomputed from counts with the SAME binary float ops
            # mixture_rates folds into the Spark plan: T = min(n/share),
            # rate = share * T / n — no float accumulation anywhere
            "WITH c AS (SELECT lang AS s, count(*)::BIGINT AS n "
            "FROM documents GROUP BY 1), "
            "w AS (SELECT s, n, CASE s WHEN 'en' THEN 0.4 "
            "WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15 "
            "WHEN 'zh' THEN 0.15 END AS share FROM c), "
            "tv AS (SELECT min(n::DOUBLE / share) AS t FROM w "
            "WHERE share > 0), "
            "r AS (SELECT s, share * t / n::DOUBLE AS rate FROM w, tv) "
            "SELECT doc_id, lang FROM documents JOIN r ON r.s = lang "
            "WHERE ("
            + _hex32("md5('mix' || doc_id::VARCHAR)")
            + "::DOUBLE / 4294967296.0) < rate"
        ),

        "boilerplate_ngrams": (
            f"{toks_cte}, "
            f"sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS ngram "
            "FROM t) "
            "SELECT ngram, count(*)::BIGINT AS doc_freq FROM sh GROUP BY 1 "
            "HAVING count(*) >= 5 ORDER BY doc_freq DESC, ngram LIMIT 50"
        ),

        "curation_funnel": _curation_funnel_oracle(),

        "domain_quality": _domain_quality_oracle(),

        "containment_pairs": (
            # same shingle table + max_df guard as the jaccard oracle,
            # directional denominator |S_inner|, threshold on the
            # unrounded value like the Spark filter
            f"{toks_cte}, "
            f"sh0 AS (SELECT doc_id, unnest(list_distinct({_SHINGLES3})) "
            "AS shingle FROM t), "
            "dfq AS (SELECT shingle, count(*) AS c FROM sh0 GROUP BY 1), "
            "sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 "
            "JOIN dfq USING (shingle) WHERE dfq.c <= 50), "
            "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer, "
            "count(*) AS i FROM sh a JOIN sh b USING (shingle) "
            "WHERE a.doc_id <> b.doc_id GROUP BY 1, 2) "
            "SELECT doc_inner, doc_outer, "
            "round(i::DOUBLE / si.sz, 4) AS containment, "
            "round(i::DOUBLE / (si.sz + so.sz - i), 4) AS jaccard "
            "FROM inter JOIN sz si ON si.doc_id = doc_inner "
            "JOIN sz so ON so.doc_id = doc_outer "
            "WHERE i::DOUBLE / si.sz >= 0.8"
        ),

        "pack_sequences": (
            # single-window replay of the distributed prefix sum; same
            # (hash, key) total order (int hv ordering == scaled-double
            # ordering), all-integer arithmetic -> bit-exact
            f"{toks_cte}, "
            "f AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens, "
            + _hex32("md5('pack' || doc_id::VARCHAR)")
            + " AS hv FROM t), "
            "r AS (SELECT doc_id, n_tokens, "
            "sum(n_tokens) OVER (ORDER BY hv, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens "
            "AS start_offset FROM f) "
            "SELECT doc_id, n_tokens, start_offset::BIGINT AS start_offset, "
            "(start_offset // 256)::BIGINT AS bin_id, "
            "(start_offset % 256)::BIGINT AS offset_in_bin FROM r"
        ),

        "incremental_dedup": (
            f"{toks_cte}, "
            "f AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp "
            "FROM t), "
            "seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0), "
            "fst AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY 1) "
            "SELECT f.doc_id, f.fp AS fingerprint FROM f "
            "JOIN fst ON f.fp = fst.fp AND f.doc_id = fst.keep_id "
            "WHERE f.fp NOT IN (SELECT fp FROM seen)"
        ),

        "semantic_dedup": (
            # centroid assignment replayed exactly as the IVF oracle
            # (argmax cosine, ties to the lowest centroid id), then
            # within-cluster pairs at round-6 cosine >= 0.35 and the
            # lowest-id keeper rule; the max_cluster guard never triggers
            # at gate SFs (clusters are corpus/16-sized, cap 100k)
            "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 "
            "AS centroid_id, embedding AS c_vec "
            "FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)), "
            "ac AS (SELECT e.vec_id, e.embedding, cent.centroid_id, "
            f"{_cos_sql('e.embedding', 'cent.c_vec', None)} AS c_cos "
            "FROM embeddings e CROSS JOIN cent), "
            "asg AS (SELECT vec_id, embedding, centroid_id FROM "
            "(SELECT *, row_number() OVER (PARTITION BY vec_id "
            "ORDER BY c_cos DESC, centroid_id ASC) AS r FROM ac) WHERE r = 1), "
            "drp AS (SELECT DISTINCT a.vec_id AS dvid "
            "FROM asg a JOIN asg b USING (centroid_id) "
            "WHERE b.vec_id < a.vec_id AND "
            f"{_cos_sql('a.embedding', 'b.embedding')} >= 0.35) "
            "SELECT asg.vec_id, asg.centroid_id, "
            "drp.dvid IS NULL AS kept "
            "FROM asg LEFT JOIN drp ON asg.vec_id = drp.dvid"
        ),

        "importance_resample": (
            # both unigram models rebuilt from counts (the lm_quality
            # replay); target scoring coalesces OOV tokens to the model's
            # reserved logp ln(0.5/denom) — same input double, so the ln
            # agrees within the round-4 absorption; the accept test
            # replays md5('dsir'||id) < min(1, round(exp(dNLL),6)/4)
            f"{toks_cte}, "
            "tok AS (SELECT doc_id, unnest(toks) AS token FROM t), "
            "c AS (SELECT token, count(*)::BIGINT AS c FROM tok GROUP BY 1), "
            "s AS (SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM c), "
            "lp AS (SELECT token, ln((c::DOUBLE + 0.5) / "
            "(n + 0.5 * (v + 1.0))) AS logp FROM c, s), "
            "sc AS (SELECT doc_id, round(-avg(logp), 4) AS nll_corpus "
            "FROM tok JOIN lp USING (token) GROUP BY doc_id), "
            f"tt AS (SELECT doc_id, {_TOKS} AS toks FROM documents "
            "WHERE lang = 'en'), "
            "ttok AS (SELECT unnest(toks) AS token FROM tt), "
            "tc AS (SELECT token, count(*)::BIGINT AS c FROM ttok GROUP BY 1), "
            "ts AS (SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM tc), "
            "tlp AS (SELECT token, ln((c::DOUBLE + 0.5) / "
            "(n + 0.5 * (v + 1.0))) AS logp FROM tc, ts), "
            "tsc AS (SELECT tok.doc_id, round(-avg(coalesce(tlp.logp, "
            "(SELECT ln(0.5 / (n + 0.5 * (v + 1.0))) FROM ts))), 4) "
            "AS nll_target FROM tok LEFT JOIN tlp USING (token) "
            "GROUP BY tok.doc_id), "
            "j AS (SELECT d.doc_id, sc.nll_corpus, tsc.nll_target, "
            "round(exp(sc.nll_corpus - tsc.nll_target), 6) AS wt "
            "FROM documents d LEFT JOIN sc USING (doc_id) "
            "LEFT JOIN tsc USING (doc_id)) "
            "SELECT doc_id, nll_corpus, nll_target, wt AS weight, "
            "CASE WHEN nll_corpus IS NULL OR nll_target IS NULL THEN FALSE "
            "ELSE "
            + _hex32("md5('dsir' || doc_id::VARCHAR)")
            + "::DOUBLE / 4294967296.0 < least(1.0, wt / 4.0) END AS sampled "
            "FROM j"
        ),

        "cluster_safe_split": _cluster_safe_split_oracle(),

        "robust_stats_quantity": _robust_stats_oracle(),

        "segment_quantiles_returnflag": _segment_quantiles_oracle(),

        "kmeans_refine": _kmeans_oracle(),

        "novelty_documents": _novelty_oracle(),

        "cluster_balanced_sample": _cluster_balanced_oracle(),

        "wasserstein_drift_quantity": _wasserstein_oracle(),

        "wasserstein_by_linestatus": _wasserstein_grouped_oracle(),

        "entropy_profile_orders": (
            "WITH m AS ("
            "SELECT 'o_orderstatus' AS col, o_orderstatus::VARCHAR AS value "
            "FROM orders WHERE o_orderstatus IS NOT NULL "
            "UNION ALL "
            "SELECT 'o_orderpriority', o_orderpriority::VARCHAR "
            "FROM orders WHERE o_orderpriority IS NOT NULL), "
            "c AS (SELECT col, value, count(*)::BIGINT AS c FROM m GROUP BY 1, 2) "
            "SELECT col AS \"column\", sum(c)::BIGINT AS n, "
            "count(*)::BIGINT AS distinct_values, "
            "round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy, "
            "round(CASE WHEN count(*) > 1 THEN "
            "(ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(count(*)) "
            "ELSE 0.0 END, 6) AS normalized_entropy "
            "FROM c GROUP BY col"
        ),

        "mutual_information_lineitem": (
            "WITH j AS (SELECT l_returnflag::VARCHAR AS a, "
            "l_linestatus::VARCHAR AS b, count(*)::BIGINT AS c FROM lineitem "
            "WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL "
            "GROUP BY 1, 2), "
            "s AS (SELECT a, b, c, sum(c) OVER (PARTITION BY a) AS ca, "
            "sum(c) OVER (PARTITION BY b) AS cb, sum(c) OVER () AS nn FROM j) "
            "SELECT 'l_returnflag' AS column_a, 'l_linestatus' AS column_b, "
            "max(nn)::BIGINT AS n, count(*)::BIGINT AS pair_cardinality, "
            "round(sum((c / nn::DOUBLE) * ln(nn::DOUBLE * c / (ca * cb))), 6) AS mi, "
            "round(CASE WHEN sum(-(c / nn::DOUBLE) * ln(ca / nn::DOUBLE)) * "
            "sum(-(c / nn::DOUBLE) * ln(cb / nn::DOUBLE)) > 0 THEN "
            "sum((c / nn::DOUBLE) * ln(nn::DOUBLE * c / (ca * cb))) / "
            "sqrt(sum(-(c / nn::DOUBLE) * ln(ca / nn::DOUBLE)) * "
            "sum(-(c / nn::DOUBLE) * ln(cb / nn::DOUBLE))) "
            "ELSE 0.0 END, 6) AS nmi FROM s"
        ),

        "benford_extendedprice": (
            # string-based first-digit extraction, matching the Spark
            # plan exactly (floor(log10) is libm-dependent at boundaries)
            "WITH c AS (SELECT CAST(regexp_extract(l_extendedprice::VARCHAR, "
            "'[1-9]') AS INT) AS digit, count(*)::BIGINT AS n FROM lineitem "
            "WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0 "
            "GROUP BY 1), "
            "sp AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) "
            "t(digit)), "
            "f AS (SELECT sp.digit, coalesce(c.n, 0)::BIGINT AS n, "
            "log10(1.0 + 1.0 / sp.digit) AS expected_p FROM sp "
            "LEFT JOIN c USING (digit)), "
            "w AS (SELECT digit, n, expected_p, "
            "sum(n) OVER ()::DOUBLE AS tot FROM f) "
            "SELECT digit, n, round(n / tot, 6) AS observed_p, "
            "round(expected_p, 6) AS expected_p, "
            "round(sum(pow(n - tot * expected_p, 2) / (tot * expected_p)) "
            "OVER (), 6) AS chisq, "
            "round(avg(abs(n / tot - expected_p)) OVER (), 6) AS mad "
            "FROM w ORDER BY digit"
        ),

        "merged_states_lineitem": (
            # merged-state fold must equal a plain full rescan — the
            # oracle IS the rescan (partition invariance is the claim)
            "SELECT 'l_quantity' AS \"column\", count(l_quantity)::BIGINT AS n, "
            "(count(*) - count(l_quantity))::BIGINT AS n_null, "
            "round(avg(l_quantity), 5) AS mean, "
            "round(stddev_samp(l_quantity), 5) AS stddev_samp, "
            "round(round(var_samp(l_quantity), 5), 2) AS variance_samp, "
            "min(l_quantity)::DOUBLE AS mn, max(l_quantity)::DOUBLE AS mx "
            "FROM lineitem "
            "UNION ALL "
            "SELECT 'l_extendedprice', count(l_extendedprice)::BIGINT, "
            "(count(*) - count(l_extendedprice))::BIGINT, "
            "round(avg(l_extendedprice), 5), "
            "round(stddev_samp(l_extendedprice), 5), "
            "round(round(var_samp(l_extendedprice), 5), 2), "
            "min(l_extendedprice)::DOUBLE, max(l_extendedprice)::DOUBLE "
            "FROM lineitem "
            "UNION ALL "
            "SELECT 'l_discount', count(l_discount)::BIGINT, "
            "(count(*) - count(l_discount))::BIGINT, "
            "round(avg(l_discount), 5), round(stddev_samp(l_discount), 5), "
            "round(round(var_samp(l_discount), 5), 2), "
            "min(l_discount)::DOUBLE, max(l_discount)::DOUBLE FROM lineitem"
        ),

        "runner_profile_documents": (
            # the runner-served state fold must equal a plain full rescan
            "SELECT 'n_chars' AS \"column\", count(n_chars)::BIGINT AS n, "
            "(count(*) - count(n_chars))::BIGINT AS n_null, "
            "round(avg(n_chars), 5) AS mean, "
            "round(stddev_samp(n_chars), 5) AS stddev_samp, "
            "round(round(var_samp(n_chars), 5), 2) AS variance_samp, "
            "min(n_chars)::DOUBLE AS mn, max(n_chars)::DOUBLE AS mx "
            "FROM documents"
        ),

        "streaming_profile_documents": (
            # the micro-batch state fold (incl. one redelivered batch)
            # must equal the same plain full rescan
            "SELECT 'n_chars' AS \"column\", count(n_chars)::BIGINT AS n, "
            "(count(*) - count(n_chars))::BIGINT AS n_null, "
            "round(avg(n_chars), 5) AS mean, "
            "round(stddev_samp(n_chars), 5) AS stddev_samp, "
            "round(round(var_samp(n_chars), 5), 2) AS variance_samp, "
            "min(n_chars)::DOUBLE AS mn, max(n_chars)::DOUBLE AS mx "
            "FROM documents"
        ),

        "information_gain_lineitem": (
            "WITH m AS ("
            "SELECT 'l_linestatus' AS feature, l_linestatus::VARCHAR AS value, "
            "l_returnflag::VARCHAR AS label FROM lineitem "
            "WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL "
            "UNION ALL "
            "SELECT 'l_linenumber', l_linenumber::VARCHAR, l_returnflag::VARCHAR "
            "FROM lineitem "
            "WHERE l_returnflag IS NOT NULL AND l_linenumber IS NOT NULL "
            "UNION ALL "
            "SELECT 'l_quantity', l_quantity::VARCHAR, l_returnflag::VARCHAR "
            "FROM lineitem "
            "WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL), "
            "j AS (SELECT feature, value, label, count(*)::BIGINT AS c "
            "FROM m GROUP BY 1, 2, 3), "
            "s AS (SELECT feature, c, "
            "sum(c) OVER (PARTITION BY feature, value) AS cv, "
            "sum(c) OVER (PARTITION BY feature, label) AS cl, "
            "sum(c) OVER (PARTITION BY feature) AS nn FROM j) "
            "SELECT feature, max(nn)::BIGINT AS n, "
            "round(sum(-(c / nn::DOUBLE) * ln(cl / nn::DOUBLE)), 6) AS label_entropy, "
            "round(sum((c / nn::DOUBLE) * ln(nn::DOUBLE * c / (cv * cl))), 6) AS gain, "
            "round(CASE WHEN sum(-(c / nn::DOUBLE) * ln(cl / nn::DOUBLE)) > 0 THEN "
            "sum((c / nn::DOUBLE) * ln(nn::DOUBLE * c / (cv * cl))) / "
            "sum(-(c / nn::DOUBLE) * ln(cl / nn::DOUBLE)) ELSE 0.0 END, 6) "
            "AS gain_ratio FROM s GROUP BY feature"
        ),

        "bigram_lm_quality": (
            # smoothed conditional rebuilt from raw counts with the same
            # ops the Spark plan folds: (c12+0.5) / (c1 + 0.5*(V+1));
            # self-scoring makes c12/c1 never null here, coalesce kept
            # for formula parity anyway
            f"{toks_cte}, "
            f"bgs AS (SELECT doc_id, unnest({_SHINGLES2}) AS bg FROM t), "
            "uni AS (SELECT token, count(*)::BIGINT AS c1 FROM "
            "(SELECT unnest(toks) AS token FROM t) GROUP BY 1), "
            "s AS (SELECT count(*)::DOUBLE AS v FROM uni), "
            "big AS (SELECT bg, count(*)::BIGINT AS c12 FROM bgs GROUP BY 1), "
            "sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, "
            "round(-avg(ln((coalesce(c12, 0)::DOUBLE + 0.5) / "
            "(coalesce(c1, 0)::DOUBLE + 0.5 * (v + 1.0)))), 4) AS mean_nll "
            "FROM bgs LEFT JOIN big USING (bg) "
            "LEFT JOIN uni ON uni.token = split_part(bg, ' ', 1), s "
            "GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(sc.n_bigrams, 0)::BIGINT AS "
            "n_bigrams, sc.mean_nll FROM documents d "
            "LEFT JOIN sc USING (doc_id)"
        ),

        "lm_quality_documents": (
            # probabilities rebuilt from counts with the SAME ops the Spark
            # plan folds: denom = N + 0.5*(V+1), logp = ln((c+0.5)/denom);
            # self-scoring means no token is OOV here (unit tests cover it)
            f"{toks_cte}, "
            "tok AS (SELECT doc_id, unnest(toks) AS token FROM t), "
            "c AS (SELECT token, count(*)::BIGINT AS c FROM tok GROUP BY 1), "
            "s AS (SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM c), "
            "lp AS (SELECT token, ln((c::DOUBLE + 0.5) / "
            "(n + 0.5 * (v + 1.0))) AS logp FROM c, s), "
            "sc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens, "
            "round(-avg(logp), 4) AS mean_nll "
            "FROM tok JOIN lp USING (token) GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens, "
            "sc.mean_nll FROM documents d LEFT JOIN sc USING (doc_id)"
        ),

        "corr_profile_lineitem": _corr_profile_oracle(),
        "spearman_quantity_price": (
            # midranks: rank() (min rank of the tie group) + (ties-1)/2,
            # same construction spearman_correlation builds from the
            # distinct-value spine
            "WITH r AS (SELECT "
            "rank() OVER (ORDER BY l_quantity) "
            "+ (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS ra, "
            "rank() OVER (ORDER BY l_extendedprice) "
            "+ (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rb "
            "FROM lineitem) "
            "SELECT count(*)::BIGINT AS n_pairs, "
            "round(corr(ra, rb), 6) AS spearman_r FROM r"
        ),
        "quarantine_split": (
            # one flag column per suite expectation (null-aware: NULL values
            # are "missing", never unexpected, matching ConditionSpec
            # ignore_nulls), then per-label counts + the clean-row count
            "WITH v AS (SELECT "
            "(lang IS NOT NULL AND lang NOT IN ('en','es','de','fr')) AS f_set, "
            "(n_chars IS NOT NULL AND NOT (n_chars BETWEEN 50 AND 500)) AS f_btw, "
            "(source IS NOT NULL AND NOT regexp_matches(source, '^src[0-4]')) AS f_rx, "
            "(doc_id IS NOT NULL AND "
            "count(*) OVER (PARTITION BY doc_id) > 1) AS f_uq "
            "FROM documents), c AS ("
            "SELECT 'expect_column_values_to_be_in_set:lang' AS expectation, "
            "count(*) FILTER (f_set)::BIGINT AS n FROM v "
            "UNION ALL SELECT 'expect_column_values_to_be_between:n_chars', "
            "count(*) FILTER (f_btw)::BIGINT FROM v "
            "UNION ALL SELECT 'expect_column_values_to_match_regex:source', "
            "count(*) FILTER (f_rx)::BIGINT FROM v "
            "UNION ALL SELECT 'expect_column_values_to_be_unique:doc_id', "
            "count(*) FILTER (f_uq)::BIGINT FROM v "
            "UNION ALL SELECT '__valid__', count(*) FILTER "
            "(NOT f_set AND NOT f_btw AND NOT f_rx AND NOT f_uq)::BIGINT FROM v) "
            "SELECT expectation, n FROM c WHERE n > 0 ORDER BY expectation"
        ),
        "fd_check_lineitem": (
            "WITH p AS (SELECT l_orderkey, l_returnflag, count(*) AS n "
            "FROM lineitem GROUP BY 1, 2), "
            "g AS (SELECT l_orderkey, count(*) AS n_values, sum(n) AS n_rows "
            "FROM p GROUP BY 1) "
            "SELECT count(*)::BIGINT AS total_keys, "
            "count(*) FILTER (n_values > 1)::BIGINT AS violating_keys, "
            "coalesce(sum(CASE WHEN n_values > 1 THEN n_rows END), 0)::BIGINT "
            "AS rows_in_violating_keys FROM g"
        ),
        "join_key_health_lineitem": (
            "WITH g AS (SELECT l_orderkey AS k, count(*) AS n "
            "FROM lineitem GROUP BY 1) "
            "SELECT sum(n)::BIGINT AS total_rows, "
            "coalesce(sum(CASE WHEN k IS NULL THEN n END), 0)::BIGINT "
            "AS null_key_rows, "
            "count(k)::BIGINT AS distinct_keys, "
            "max(CASE WHEN k IS NOT NULL THEN n END)::BIGINT AS max_key_rows, "
            "round(sum(CASE WHEN k IS NOT NULL THEN n ELSE 0 END)::DOUBLE "
            "/ count(k), 4) AS mean_key_rows, "
            "count(*) FILTER (k IS NOT NULL AND n > 5)::BIGINT "
            "AS keys_over_threshold FROM g"
        ),
        "sampled_violation_estimate": (
            f"WITH s AS (SELECT * FROM documents WHERE "
            f"({sv_hash}::DOUBLE / 4294967296.0) < 0.25), "
            "a AS (SELECT count(*)::BIGINT AS sample_n, "
            "coalesce(sum(CASE WHEN lang IS NOT NULL AND lang NOT IN "
            "('en','es','de','fr') THEN 1 END), 0)::BIGINT AS u0, "
            "coalesce(sum(CASE WHEN n_chars IS NOT NULL AND NOT "
            "(n_chars BETWEEN 50 AND 500) THEN 1 END), 0)::BIGINT AS u1, "
            "coalesce(sum(CASE WHEN source IS NOT NULL AND NOT "
            "regexp_matches(source, '^src[0-4]') THEN 1 END), 0)::BIGINT AS u2 "
            "FROM s), "
            "l AS (SELECT 'expect_column_values_to_be_in_set:lang' AS "
            "expectation, sample_n, u0 AS sample_unexpected FROM a "
            "UNION ALL SELECT 'expect_column_values_to_be_between:n_chars', "
            "sample_n, u1 FROM a "
            "UNION ALL SELECT 'expect_column_values_to_match_regex:source', "
            "sample_n, u2 FROM a) "
            "SELECT expectation, sample_n, sample_unexpected, "
            f"round({_p}, 6) AS p_hat, "
            f"round(greatest(0.0, ({_ctr} - {_rad}) / {_den}), 6) AS ci_low, "
            f"round(least(1.0, ({_ctr} + {_rad}) / {_den}), 6) AS ci_high "
            "FROM l ORDER BY expectation"
        ),
        "salted_join_profile": (
            # the plain join IS the oracle: salting must not change results
            "SELECT o_orderstatus, count(*)::BIGINT AS n_rows, "
            "round(sum(l_quantity), 4) AS sum_qty "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY 1 ORDER BY 1"
        ),
        "regex_inference_documents": _regex_inference_oracle(),
        "datetime_inference_events": _datetime_inference_oracle(),
        "multibatch_profile_documents": (
            # full SQL replay of the exact multi-batch estimator: per-lang
            # stats, then min-of-minima / max-of-maxima / mean band /
            # row-count band / union value set
            "WITH b AS (SELECT lang, count(*) AS n, "
            "min(n_chars) AS min_nc, max(n_chars) AS max_nc, "
            "avg(n_chars) AS mean_nc, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id, "
            "avg(doc_id) AS mean_id "
            "FROM documents GROUP BY lang), "
            "vs AS (SELECT count(DISTINCT source) AS nv FROM documents) "
            "SELECT expectation, col_name, min_value, max_value, n_values "
            "FROM ("
            "SELECT 'expect_table_row_count_to_be_between' AS expectation, "
            "NULL AS col_name, min(n)::DOUBLE AS min_value, "
            "max(n)::DOUBLE AS max_value, NULL::BIGINT AS n_values FROM b "
            "UNION ALL SELECT 'expect_column_values_to_be_between', "
            "'doc_id', min(min_id)::DOUBLE, max(max_id)::DOUBLE, NULL FROM b "
            "UNION ALL SELECT 'expect_column_mean_to_be_between', "
            "'doc_id', min(mean_id), max(mean_id), NULL FROM b "
            "UNION ALL SELECT 'expect_column_values_to_be_between', "
            "'n_chars', min(min_nc)::DOUBLE, max(max_nc)::DOUBLE, NULL FROM b "
            "UNION ALL SELECT 'expect_column_mean_to_be_between', "
            "'n_chars', min(mean_nc), max(mean_nc), NULL FROM b "
            "UNION ALL SELECT 'expect_column_values_to_be_in_set', "
            "'source', NULL, NULL, (SELECT nv FROM vs) FROM vs"
            ") ORDER BY expectation, col_name"
        ),
        "fused_validation_documents": (
            # every observed value AND success verdict recomputed in SQL:
            # a mismatch means the observe-seeded metric cache diverged
            # from a direct aggregation
            "WITH m AS (SELECT count(*) AS n, "
            "count(*) FILTER (WHERE text IS NULL) AS null_text, "
            "count(source) AS nn_src, "
            "count(*) FILTER (WHERE source IS NOT NULL AND "
            "NOT regexp_matches(source, '^src[0-9]$')) AS bad_src, "
            "count(*) FILTER (WHERE n_chars > 400) AS nviol "
            "FROM documents), "
            "u AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS dups FROM "
            "(SELECT count(*) AS cnt FROM documents WHERE doc_id IS NOT "
            "NULL GROUP BY doc_id HAVING count(*) > 1)) "
            "SELECT check_name, observed, success FROM ("
            "SELECT 'null_text' AS check_name, null_text::BIGINT AS "
            "observed, (null_text = 0) AS success FROM m "
            "UNION ALL SELECT 'unique_doc_id', dups, (dups = 0) FROM u "
            "UNION ALL SELECT 'regex_source', bad_src::BIGINT, "
            "((1.0 - bad_src::DOUBLE / nn_src) >= 0.9) FROM m "
            "UNION ALL SELECT 'row_count', n::BIGINT, (n >= 1) FROM m "
            "UNION ALL SELECT 'violation_rows', nviol::BIGINT, NULL FROM m"
            ") ORDER BY check_name"
        ),
        "media_jpeg_roundtrip": (
            # dims + original level sums recomputed from the md5 formula;
            # n_bad pinned to 0 — JPEG is lossy, so the oracle verifies the
            # flat-block DC envelope rather than recomputing decoded pixels
            "WITH imgs AS (SELECT unnest(range(0, 16))::INT AS i), "
            "lv AS (SELECT i, unnest(range(0, 4))::INT AS b FROM imgs), "
            "v AS (SELECT i, "
            + (
                lambda h: f"({_nib(h, 1)} * 16 + {_nib(h, 2)})"
            )("md5(i || ':' || b)")
            + " AS lvl FROM lv) "
            "SELECT 'jpg' || i AS media_ref, 16::BIGINT AS width, "
            "16::BIGINT AS height, sum(lvl)::BIGINT AS level_sum, "
            "0::BIGINT AS n_bad FROM v GROUP BY i ORDER BY media_ref"
        ),
        "interleaved_media_validation": (
            # the same modular arithmetic, computed in SQL: refs j%200 and
            # (j*7+3)%200 per doc, dangling when j%13=0, payload corrupt
            # when ref%11=0 (the 50%-truncation rule) — counts derived,
            # not pinned
            "WITH d AS (SELECT unnest(range(0, 400))::INT AS j), "
            "refs AS (SELECT j, j % 200 AS r FROM d "
            "UNION ALL SELECT j, (j * 7 + 3) % 200 FROM d), "
            "bad AS (SELECT j, (r % 11 = 0) AS undec FROM refs), "
            "dang AS (SELECT j FROM d WHERE j % 13 = 0) "
            "SELECT "
            "((SELECT count(*) FROM refs) + (SELECT count(*) FROM dang))"
            "::BIGINT AS n_media_spans, "
            "(SELECT count(*) FROM dang)::BIGINT AS n_dangling, "
            "(SELECT count(*) FROM bad WHERE undec)::BIGINT "
            "AS n_undecodable, "
            "(SELECT count(DISTINCT j) FROM "
            "(SELECT j FROM bad WHERE undec UNION SELECT j FROM dang))"
            "::BIGINT AS n_docs_bad"
        ),
        "vector_validation_embeddings": (
            # same perturbation in DuckDB list functions; counts exact
            "WITH p AS (SELECT vec_id, CASE "
            "WHEN vec_id % 97 = 0 THEN embedding[1:63] "
            "WHEN vec_id % 89 = 0 THEN "
            "list_transform(embedding, x -> CAST(x * 3.0::FLOAT AS FLOAT)) "
            "WHEN vec_id % 83 = 0 THEN "
            "list_append(embedding[1:63], 'NaN'::FLOAT) "
            "ELSE embedding END AS emb FROM embeddings), "
            "m AS (SELECT vec_id, emb, "
            "sqrt(list_sum(list_transform(emb, x -> "
            "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm, "
            "len(emb) AS dim, "
            "len(list_filter(emb, x -> x IS NULL OR isnan(x) "
            "OR isinf(x))) > 0 AS nonfinite FROM p) "
            "SELECT expectation, element_count, unexpected_count FROM ("
            "SELECT 'expect_column_vector_lengths_to_equal' AS expectation, "
            "count(*)::BIGINT AS element_count, "
            "sum(CASE WHEN dim != 64 THEN 1 ELSE 0 END)::BIGINT "
            "AS unexpected_count FROM m "
            "UNION ALL "
            "SELECT 'expect_column_vector_norms_to_be_between', "
            "count(*)::BIGINT, "
            "sum(CASE WHEN isnan(nrm) OR nrm < 0.9 OR nrm > 1.1 "
            "THEN 1 ELSE 0 END)::BIGINT FROM m "
            "UNION ALL "
            "SELECT 'expect_column_vector_values_to_be_finite', "
            "count(*)::BIGINT, "
            "sum(CASE WHEN nonfinite THEN 1 ELSE 0 END)::BIGINT FROM m"
            ") ORDER BY expectation"
        ),
        "media_decodable_validation": (
            # counts pinned by construction: 48 payloads, 10 truncated
            # (%5) + 5 garbage (%7, non-overlapping) = 15 undecodable;
            # restricting to png/jpeg flips the 17 healthy gif/wav
            # payloads too (33 good ids, %4 in {2,3} -> 17) -> 32
            "SELECT * FROM (VALUES "
            "('any', 48::BIGINT, 15::BIGINT, 0::BIGINT), "
            "('png', 48::BIGINT, 32::BIGINT, 0::BIGINT)) "
            "AS t(first_format, element_count, unexpected_count, success) "
            "ORDER BY first_format"
        ),
        "media_gif_roundtrip": (
            # GIF is lossless: per-frame pixel sums recomputed straight
            # from the md5 level formula; n_bad pinned to 0
            "WITH imgs AS (SELECT unnest(range(0, 12))::INT AS i), "
            "fr AS (SELECT i, unnest(range(0, 3))::INT AS f FROM imgs), "
            "px AS (SELECT i, f, unnest(range(0, 64))::INT AS x FROM fr), "
            "v AS (SELECT i, f, "
            + "({nib} % 4) * 85".format(
                nib=_nib("md5(i || ':' || f || ':' || x)", 1)
            )
            + " AS val FROM px) "
            "SELECT 'gif' || i AS media_ref, f::BIGINT AS frame_index, "
            "8::BIGINT AS width, 8::BIGINT AS height, "
            "sum(val)::BIGINT AS px_sum, 0::BIGINT AS n_bad "
            "FROM v GROUP BY i, f ORDER BY media_ref, frame_index"
        ),
        "media_progressive_jpeg": (
            # same DC-envelope oracle as media_jpeg_roundtrip, plus the
            # differential pin: progressive decode == baseline decode
            "WITH imgs AS (SELECT unnest(range(0, 16))::INT AS i), "
            "lv AS (SELECT i, unnest(range(0, 4))::INT AS b FROM imgs), "
            "v AS (SELECT i, "
            + (
                lambda h: f"({_nib(h, 1)} * 16 + {_nib(h, 2)})"
            )("md5(i || ':' || b)")
            + " AS lvl FROM lv) "
            "SELECT 'pjpg' || i AS media_ref, 16::BIGINT AS width, "
            "16::BIGINT AS height, sum(lvl)::BIGINT AS level_sum, "
            "0::BIGINT AS n_bad, 1::BIGINT AS twin_equal "
            "FROM v GROUP BY i ORDER BY media_ref"
        ),
        "media_video_roundtrip": (
            # levels from the md5-byte formula; the codec invariants
            # (MJPEG DC envelope, lossless DIB, gray-through-C444, fps)
            # are pins only real encode/decode loops can hit
            "WITH imgs AS (SELECT unnest(range(0, 12))::INT AS i), "
            "fr AS (SELECT i, unnest(range(0, 3))::INT AS f FROM imgs), "
            "v AS (SELECT i, f, "
            + (
                lambda h: f"({_nib(h, 1)} * 16 + {_nib(h, 2)})"
            )("md5(i || ':' || f)")
            + " AS lvl FROM fr) "
            "SELECT 'vid' || i AS media_ref, f::BIGINT AS frame_index, "
            "8::BIGINT AS width, 8::BIGINT AS height, lvl::BIGINT AS level, "
            "0::BIGINT AS avi_bad, 1::BIGINT AS dib_exact, "
            "1::BIGINT AS y4m_exact, 1::BIGINT AS fps_ok "
            "FROM v ORDER BY media_ref, frame_index"
        ),
        "video_frame_sampling": (
            # rebuild of the sampler arithmetic: n_i frames, every 3rd
            # sampled; distinct digests == distinct levels (sha256 is
            # injective on these buffers)
            "WITH vids AS (SELECT unnest(range(0, 48))::INT AS i), "
            "n AS (SELECT i, "
            + "(({}) % 6) + 2 AS nf ".format(_nib("md5('v' || i)", 1))
            + "FROM vids), "
            "fr AS (SELECT i, unnest(range(0, nf))::INT AS f FROM n), "
            "samp AS (SELECT i, f, "
            + "({}) * 16 AS lvl ".format(_nib("md5(i || ':' || f)", 1))
            + "FROM fr WHERE f % 3 = 0) "
            "SELECT 'vid' || i AS media_ref, count(*)::BIGINT AS n_sampled, "
            "sum(f)::BIGINT AS idx_sum, "
            "count(DISTINCT lvl)::BIGINT AS n_digests "
            "FROM samp GROUP BY i ORDER BY media_ref"
        ),
        "video_features_profile": (
            # exact-integer replay of the really-decoded features:
            # luma_sum is the plain sum of frame levels, fps=25 makes
            # duration_cs = 4 * n_frames integral
            "WITH vids AS (SELECT unnest(range(0, 24))::INT AS i), "
            "n AS (SELECT i, "
            + "(({}) % 4) + 2 AS nf ".format(_nib("md5('vf' || i)", 1))
            + "FROM vids), "
            "fr AS (SELECT i, nf, unnest(range(0, nf))::INT AS f FROM n), "
            "lv AS (SELECT i, nf, "
            + "({}) * 17 AS lvl ".format(_nib("md5(i || ':' || f)", 1))
            + "FROM fr) "
            "SELECT 'vf' || i AS media_ref, 'avi' AS container, "
            "nf::BIGINT AS n_frames, 4::BIGINT AS width, "
            "4::BIGINT AS height, sum(lvl)::BIGINT AS luma_sum, "
            "2500::BIGINT AS fps_x100, (4 * nf)::BIGINT AS dur_cs "
            "FROM lv GROUP BY i, nf ORDER BY media_ref"
        ),
        "media_png_roundtrip": (
            # luma recomputed straight from the md5 pixel formula — no
            # decoding: the match proves Spark's decode(encode(px)) == px
            "WITH imgs AS (SELECT unnest(range(0, 16))::INT AS i), "
            "px AS (SELECT i, unnest(range(0, 64))::INT AS x FROM imgs), "
            "v AS (SELECT i, "
            + ", ".join(
                f"({_nib(h, 1)} * 16 + {_nib(h, 2)}) AS {ch}"
                for ch, h in (
                    ("r", "md5(i || ':' || (3 * x))"),
                    ("g", "md5(i || ':' || (3 * x + 1))"),
                    ("b", "md5(i || ':' || (3 * x + 2))"),
                )
            )
            + " FROM px) "
            "SELECT 'img' || i AS media_ref, 8::BIGINT AS width, "
            "8::BIGINT AS height, "
            "round(avg(0.299::DOUBLE * r + 0.587::DOUBLE * g "
            "+ 0.114::DOUBLE * b) / 255.0, 6) "
            "AS mean_luma FROM v GROUP BY i ORDER BY media_ref"
        ),
        "media_wav_roundtrip": (
            # rms recomputed straight from the md5 sample formula — no
            # decoding: proves Spark's WAV decode(encode(s)) == s
            "WITH clips AS (SELECT unnest(range(0, 16))::INT AS i), "
            "sm AS (SELECT i, unnest(range(0, 256))::INT AS p FROM clips), "
            "v AS (SELECT i, "
            + "(("
            + " + ".join(
                f"{_nib('md5(i || :sep || p)', k)} * {16 ** (4 - k)}"
                for k in range(1, 5)
            ).replace(":sep", "':'")
            + ") - 32768) AS s FROM sm) "
            "SELECT 'wav' || i AS media_ref, 8000::BIGINT AS sample_rate, "
            "256::BIGINT AS n_samples, "
            "round(sqrt(avg(pow(s::DOUBLE / 32768.0, 2))), 6) AS rms "
            "FROM v GROUP BY i ORDER BY media_ref"
        ),
        "reconcile_lineitem_orders": (
            "WITH l AS (SELECT count(distinct l_orderkey)::DOUBLE AS l0, "
            "sum(l_extendedprice * (1 + l_tax) * (1 - l_discount))::DOUBLE AS l1, "
            "max(l_orderkey)::DOUBLE AS l2 FROM lineitem), "
            "r AS (SELECT count(*)::DOUBLE AS r0, "
            "sum(o_totalprice)::DOUBLE AS r1, "
            "max(o_orderkey)::DOUBLE AS r2 FROM orders), "
            "c AS (SELECT 'distinct_orders' AS name, l0 AS lv, r0 AS rv "
            "FROM l, r "
            "UNION ALL SELECT 'gross_revenue', l1, r1 FROM l, r "
            "UNION ALL SELECT 'orderkey_max', l2, r2 FROM l, r) "
            "SELECT name, round(lv, -2) AS left_hundreds, "
            "round(rv, -2) AS right_hundreds, "
            "(abs(lv - rv) <= 0.02 * greatest(abs(lv), abs(rv))) AS ok "
            "FROM c ORDER BY name"
        ),
        "freshness_events": (
            "SELECT max(ts) AS max_ts, "
            "round(epoch('2024-02-01 00:00:00'::TIMESTAMP) - epoch(max(ts)), 3) "
            "AS lag_seconds, "
            "(epoch('2024-02-01 00:00:00'::TIMESTAMP) - epoch(max(ts))) "
            "<= 172800 AS ok_2d FROM events"
        ),
        "class_balance_lang": (
            "WITH g AS (SELECT lang AS label, count(*) AS n FROM documents "
            "GROUP BY 1), "
            "p AS (SELECT n, n::DOUBLE / sum(n) OVER () AS frac FROM g), "
            "t AS (SELECT sum(n)::DOUBLE AS tot, count(*)::BIGINT AS k, "
            "max(n)::DOUBLE / min(n)::DOUBLE AS ir, "
            "sum(-frac * log2(frac)) AS ent FROM p) "
            "SELECT g.label, g.n::BIGINT AS n, "
            "round(g.n / t.tot, 6) AS frac, "
            "round(t.ent, 6) AS entropy_bits, t.k AS n_classes, "
            "round(t.ir, 4) AS imbalance_ratio "
            "FROM g, t ORDER BY g.label"
        ),
        "two_sample_drift_quantity": (
            # same fixed bins, eps-clip without renorm, natural log
            "WITH a AS (SELECT "
            + ", ".join(
                f"sum(CASE WHEN l_quantity >= {lo} AND l_quantity "
                + ("<= " if i == 4 else "< ")
                + f"{hi} THEN 1 ELSE 0 END)::DOUBLE AS a{i}"
                for i, (lo, hi) in enumerate(
                    zip([1, 11, 21, 31, 41], [11, 21, 31, 41, 51])
                )
            )
            + ", count(l_quantity)::DOUBLE AS a_n "
            "FROM lineitem WHERE l_returnflag = 'R'), "
            "b AS (SELECT "
            + ", ".join(
                f"sum(CASE WHEN l_quantity >= {lo} AND l_quantity "
                + ("<= " if i == 4 else "< ")
                + f"{hi} THEN 1 ELSE 0 END)::DOUBLE AS b{i}"
                for i, (lo, hi) in enumerate(
                    zip([1, 11, 21, 31, 41], [11, 21, 31, 41, 51])
                )
            )
            + ", count(l_quantity)::DOUBLE AS b_n "
            "FROM lineitem WHERE l_returnflag = 'N') "
            "SELECT a_n::BIGINT AS n_a, b_n::BIGINT AS n_b, "
            "round("
            + " + ".join(
                f"(greatest(a{i}/a_n, 1e-6) - greatest(b{i}/b_n, 1e-6)) "
                f"* ln(greatest(a{i}/a_n, 1e-6) / greatest(b{i}/b_n, 1e-6))"
                for i in range(5)
            )
            + ", 6) AS psi, "
            "round("
            + " + ".join(
                f"greatest(a{i}/a_n, 1e-6) "
                f"* ln(greatest(a{i}/a_n, 1e-6) / greatest(b{i}/b_n, 1e-6))"
                for i in range(5)
            )
            + ", 6) AS kl_ab FROM a, b"
        ),

        "duplicate_spans_documents": _dup_spans_cte(25)
        + "SELECT doc_id, min(p)::BIGINT AS span_start, "
        "(max(p) + 25)::BIGINT AS span_end "
        "FROM isl GROUP BY doc_id, island",

        "scrub_dup_spans_documents": _dup_spans_cte(25)
        + ", sp AS (SELECT doc_id, min(p) AS s, max(p) + 25 AS e "
        "FROM isl GROUP BY doc_id, island), "
        # gap piece before each span = text between the previous span's
        # end (0 for the first) and this span's start
        "w AS (SELECT doc_id, s, e, coalesce(lag(e) OVER "
        "(PARTITION BY doc_id ORDER BY s), 0) AS pe FROM sp), "
        "r AS (SELECT w.doc_id, count(*)::BIGINT AS n_dup_spans, "
        "sum(e - s)::BIGINT AS dup_chars, "
        "string_agg(substr(d.text, pe::INT + 1, (s - pe)::INT), '' "
        "ORDER BY s) AS head, max(e) AS last_e "
        "FROM w JOIN documents d USING (doc_id) GROUP BY w.doc_id) "
        "SELECT d.doc_id, coalesce(r.n_dup_spans, 0)::BIGINT AS "
        "n_dup_spans, coalesce(r.dup_chars, 0)::BIGINT AS dup_chars, "
        "CASE WHEN r.doc_id IS NULL THEN d.text "
        "ELSE coalesce(r.head, '') || substr(d.text, r.last_e::INT + 1) "
        "END AS text_clean "
        "FROM documents d LEFT JOIN r USING (doc_id)",

        "dup_span_stats_documents": _dup_spans_cte(25)
        + ", sp AS (SELECT doc_id, min(p) AS s, max(p) + 25 AS e "
        "FROM isl GROUP BY doc_id, island), "
        "per AS (SELECT doc_id, count(*) AS nsp, sum(e - s) AS dup "
        "FROM sp GROUP BY doc_id) "
        "SELECT count(*)::BIGINT AS total_docs, "
        "coalesce(sum(length(d.text)), 0)::BIGINT AS total_chars, "
        "count(per.doc_id)::BIGINT AS docs_with_dups, "
        "coalesce(sum(per.nsp), 0)::BIGINT AS dup_spans, "
        "coalesce(sum(per.dup), 0)::BIGINT AS dup_chars, "
        "round(coalesce(sum(per.dup), 0)::DOUBLE / "
        "greatest(sum(length(d.text)), 1), 6) AS dup_fraction "
        "FROM documents d LEFT JOIN per USING (doc_id)",

        "contaminated_spans_documents": _contam_spans_cte(25)
        + "SELECT doc_id, min(p)::BIGINT AS span_start, "
        "(max(p) + 25)::BIGINT AS span_end "
        "FROM isl GROUP BY doc_id, island",

        "scrub_contamination_documents": _contam_spans_cte(25)
        + ", sp AS (SELECT doc_id, min(p) AS s, max(p) + 25 AS e "
        "FROM isl GROUP BY doc_id, island), "
        "w AS (SELECT doc_id, s, e, coalesce(lag(e) OVER "
        "(PARTITION BY doc_id ORDER BY s), 0) AS pe FROM sp), "
        "r AS (SELECT w.doc_id, count(*)::BIGINT AS n, "
        "sum(e - s)::BIGINT AS ch, "
        "string_agg(substr(d.text, pe::INT + 1, (s - pe)::INT), '' "
        "ORDER BY s) AS head, max(e) AS last_e "
        "FROM w JOIN documents d USING (doc_id) GROUP BY w.doc_id) "
        "SELECT d.doc_id, coalesce(r.n, 0)::BIGINT AS "
        "n_contaminated_spans, coalesce(r.ch, 0)::BIGINT AS "
        "contaminated_chars, "
        "CASE WHEN r.doc_id IS NULL THEN d.text "
        "ELSE coalesce(r.head, '') || substr(d.text, r.last_e::INT + 1) "
        "END AS text_clean "
        "FROM (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0) d "
        "LEFT JOIN r USING (doc_id)",

        "bloom_referential_violations":
        "SELECT l_partkey, count(*) AS n_rows FROM lineitem l "
        "WHERE l.l_partkey IS NOT NULL AND NOT EXISTS ("
        "SELECT 1 FROM part p WHERE p.p_partkey % 131 <> 0 "
        "AND p.p_partkey = l.l_partkey) "
        "GROUP BY l_partkey",

        "heavy_hitters_users":
        "SELECT user_id, count(*) AS cnt FROM events "
        "WHERE user_id IS NOT NULL GROUP BY user_id "
        "HAVING count(*) >= 0.008 * (SELECT count(*) FROM events)",

        "hist_states_lineitem": (
            # merged per-partition histogram states must equal a plain
            # full-scan histogram with the same edges (pure-sum fold)
            _hist_oracle_arm(
                "lineitem", "l_quantity", [1.0, 13.0, 25.0, 37.0, 50.0]
            )
            + " UNION ALL "
            + _hist_oracle_arm(
                "lineitem",
                "l_discount",
                [0.0, 0.02, 0.04, 0.06, 0.08, 0.11],
            )
        ),

        "hist_quantile_bounds_lineitem": _qb_oracle("lineitem", _QB_BINS),

        "streaming_drift_documents": _hist_oracle_arm(
            "documents", "n_chars", _SD_EDGES
        ),

        "cohens_kappa_langid": (
            # replay langid (argmax, latest code wins ties) then the κ
            # identity: p_o = Σ diag / n, p_e = Σ c_a(v)·c_b(v) / n²
            f"WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents), "
            f"scored AS (SELECT lang, {_LANG_SCORES} FROM t), "
            f"p AS (SELECT lang AS a, {_PRED_LANG} AS b FROM scored "
            "WHERE lang IS NOT NULL), "
            "j AS (SELECT a, b, count(*)::BIGINT AS c FROM p GROUP BY 1, 2), "
            "ma AS (SELECT a AS v, sum(c) AS ca FROM j GROUP BY 1), "
            "mb AS (SELECT b AS v, sum(c) AS cb FROM j GROUP BY 1), "
            "m AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb "
            "FROM ma FULL JOIN mb USING (v)), "
            "tot AS (SELECT sum(c)::DOUBLE AS n, "
            "sum(CASE WHEN a = b THEN c ELSE 0 END)::DOUBLE AS diag FROM j), "
            "pe AS (SELECT sum(ca * cb)::DOUBLE AS pepn, "
            "count(*)::BIGINT AS n_categories FROM m) "
            "SELECT 'lang' AS column_a, 'langid(text)' AS column_b, "
            "n::BIGINT AS n, n_categories, "
            "round(diag / n, 6) AS p_observed, "
            "round(pepn / (n * n), 6) AS p_expected, "
            "round(CASE WHEN pepn / (n * n) < 1 THEN "
            "(diag / n - pepn / (n * n)) / (1 - pepn / (n * n)) END, 6) "
            "AS kappa FROM tot, pe"
        ),

        "concentration_documents": (
            # rank identity G = (2·Σ i·x_(i) − (n_g+1)·Σx) / (n_g·Σx)
            "WITH g AS (SELECT source AS label, count(*)::BIGINT AS cnt "
            "FROM documents GROUP BY 1), "
            "r AS (SELECT cnt, row_number() OVER "
            "(ORDER BY cnt ASC, label ASC NULLS FIRST) AS i FROM g) "
            "SELECT 'source' AS \"column\", sum(cnt)::BIGINT AS n, "
            "count(*)::BIGINT AS n_groups, "
            "round((2.0 * sum(i::DOUBLE * cnt) - (count(*) + 1) * "
            "sum(cnt)::DOUBLE) / (count(*)::DOUBLE * sum(cnt)), 6) AS gini, "
            "round(sum(cnt::DOUBLE * cnt) / (sum(cnt)::DOUBLE * sum(cnt)), 6) "
            "AS hhi, "
            "round(max(cnt)::DOUBLE / sum(cnt), 6) AS top1_share FROM r"
        ),

        "weighted_sample_documents": (
            # A-ES replay: u nibble-by-nibble from md5, key = ln(u)/w
            # rounded 12 dp, global top-200 with the id tie-break
            "WITH e AS (SELECT doc_id, lang, source, n_chars, "
            f"ln(({ws_hash})::DOUBLE "
            "/ 4294967296.0) / n_chars::DOUBLE AS selection_key "
            "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0 "
            f"AND ({ws_hash}) > 0) "
            "SELECT doc_id, lang, source, n_chars, selection_key FROM e "
            "ORDER BY selection_key DESC, doc_id ASC LIMIT 200"
        ),

        "quantized_ann_topk": (
            # int8 codes q_i = round(127·x_i/max|x|) and the ALL-INTEGER
            # dot fold — bit-exact vs Spark's tinyint HOFs / int gemm
            "WITH base AS (SELECT vec_id, embedding AS v, "
            "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx "
            "FROM embeddings), "
            "qz AS (SELECT vec_id, CASE WHEN mx > 0 THEN "
            "list_transform(v, x -> CAST(round(x::DOUBLE * 127.0 / mx) AS BIGINT)) "
            "ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv FROM base), "
            "n AS (SELECT vec_id, qv, "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(range(1, 65), i -> qv[i] * qv[i])), "
            "(x, y) -> x + y) AS n2 FROM qz), "
            "q AS (SELECT vec_id AS query_id, qv AS qa, n2 AS na FROM n "
            "WHERE vec_id < 5 AND n2 > 0), "
            "c AS (SELECT vec_id AS neighbor_id, qv AS qb, n2 AS nb FROM n "
            "WHERE n2 > 0), "
            "scored AS (SELECT query_id, neighbor_id, "
            "round(list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(range(1, 65), i -> qa[i] * qb[i])), "
            "(x, y) -> x + y)::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), "
            "6) AS qcos FROM c CROSS JOIN q WHERE query_id <> neighbor_id), "
            "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY qcos DESC, neighbor_id ASC) AS rnk FROM scored) "
            "SELECT query_id, neighbor_id, qcos, rnk::INT AS rank "
            "FROM ranked WHERE rnk <= 5"
        ),

        "pq_ann_topk": _pq_oracle(),

        "pq_rerank_topk": _pq_oracle(rerank_k=50),

        "ivfpq_ann_topk": _ivfpq_oracle(n_probe=4),

        "profile_embeddings_vector": (
            # same sequential norm fold, finite-only envelope, and pad
            # arithmetic ((max-min)*slack vs abs(max)*slack/2 vs 1e-6)
            "WITH n AS (SELECT embedding AS v, "
            "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            "i -> v[i]::DOUBLE * v[i]::DOUBLE)), (x, y) -> x + y)) AS nrm "
            "FROM embeddings WHERE embedding IS NOT NULL), "
            "s AS (SELECT min(len(v)) AS vlmin, max(len(v)) AS vlmax, "
            "min(CASE WHEN NOT isnan(nrm) AND nrm < 1e308 THEN nrm END) AS nmin, "
            "max(CASE WHEN NOT isnan(nrm) AND nrm < 1e308 THEN nrm END) AS nmax "
            "FROM n), "
            "p AS (SELECT *, greatest((nmax - nmin) * 0.1, "
            "abs(nmax) * 0.1 / 2, 0.000001) AS pad FROM s) "
            "SELECT 'expect_column_vector_lengths_to_equal' AS "
            "expectation_type, 'embedding' AS \"column\", "
            "vlmin::DOUBLE AS value, NULL::DOUBLE AS min_value, "
            "NULL::DOUBLE AS max_value FROM p WHERE vlmin = vlmax "
            "UNION ALL "
            "SELECT 'expect_column_vector_norms_to_be_between', 'embedding', "
            "NULL, round(greatest(0.0, nmin - pad), 6), "
            "round(nmax + pad, 6) FROM p WHERE nmin IS NOT NULL"
        ),

        "zipf_profile_documents": (
            # rank by (count DESC, token ASC), logs, closed-form OLS
            f"{toks_cte}, ex AS (SELECT unnest(toks) AS tok FROM t), "
            "counts AS (SELECT tok, count(*)::BIGINT AS c FROM ex GROUP BY 1), "
            "tot AS (SELECT sum(c)::BIGINT AS n_tokens, "
            "count(*)::BIGINT AS vocab_size FROM counts), "
            "top AS (SELECT c, row_number() OVER "
            "(ORDER BY c DESC, tok ASC) AS rnk FROM "
            "(SELECT * FROM counts ORDER BY c DESC, tok ASC LIMIT 5000)), "
            "l AS (SELECT ln(rnk::DOUBLE) AS x, ln(c::DOUBLE) AS y FROM top), "
            "fit AS (SELECT count(*)::BIGINT AS k, sum(x) AS sx, sum(y) AS sy, "
            "sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM l) "
            "SELECT n_tokens, vocab_size, k AS top_n, "
            "round(CASE WHEN k >= 3 AND (sxx - sx * sx / k) > 0 THEN "
            "(sxy - sx * sy / k) / (sxx - sx * sx / k) END, 6) AS alpha, "
            "round(CASE WHEN k >= 3 AND (sxx - sx * sx / k) > 0 "
            "AND (syy - sy * sy / k) > 0 THEN "
            "(sxy - sx * sy / k) * (sxy - sx * sy / k) / "
            "((sxx - sx * sx / k) * (syy - sy * sy / k)) END, 6) AS r2 "
            "FROM tot CROSS JOIN fit"
        ),

        "chunked_documents": (
            # closed-form chunk count, list_slice windows (1-based, length 32)
            f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
            "c AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t "
            "WHERE len(toks) > 0), "
            "ch AS (SELECT doc_id, toks, n, unnest(range(0, "
            "1 + (greatest(n - 32, 0) + 23) // 24)) AS ci FROM c) "
            "SELECT doc_id, ci::BIGINT AS chunk_index, "
            "(ci * 24)::BIGINT AS start_tok, "
            "least(n - ci * 24, 32)::BIGINT AS n_tokens_chunk, "
            "array_to_string(list_slice(toks, ci * 24 + 1, ci * 24 + 32), ' ') "
            "AS chunk_text FROM ch"
        ),

        "distinctive_terms_source": (
            # df over the UNPRUNED (source, token) frame — the true
            # "groups containing t" — then tf >= 2 prunes candidates;
            # rank on the 6-dp-rounded score, token tie-break
            f"WITH tok AS (SELECT source, unnest({_TOKS}) AS token "
            "FROM documents WHERE source IS NOT NULL), "
            "tf AS (SELECT source, token, count(*)::BIGINT AS tf "
            "FROM tok GROUP BY 1, 2), "
            "sc AS (SELECT source, token, tf, "
            "count(*) OVER (PARTITION BY token) AS df FROM tf "
            "QUALIFY tf >= 2), "
            "ng AS (SELECT count(DISTINCT source)::BIGINT AS n FROM documents), "
            "sd AS (SELECT source, token, tf, df::BIGINT AS df, "
            "round(tf::DOUBLE * ln(n::DOUBLE / df::DOUBLE), 6) AS score "
            "FROM sc CROSS JOIN ng), "
            "rk AS (SELECT *, row_number() OVER (PARTITION BY source "
            "ORDER BY score DESC, token ASC) AS rnk FROM sd) "
            "SELECT source, token, tf, df, score, rnk::BIGINT AS rank "
            "FROM rk WHERE rnk <= 5"
        ),

        "fuzzy_name_pairs": (
            # the naive O(n^2) plan the blocked join must equal row-for-row
            "SELECT a.c_custkey AS left_id, a.c_name AS left_value, "
            "b.c_custkey AS right_id, b.c_name AS right_value, "
            "levenshtein(a.c_name, b.c_name)::INT AS distance "
            "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey "
            "WHERE levenshtein(a.c_name, b.c_name) <= 1"
        ),

        "embedding_decontamination": (
            "WITH ev AS (SELECT embedding AS e_vec FROM embeddings "
            "WHERE vec_id % 10 = 0), "
            "co AS (SELECT vec_id, embedding FROM embeddings "
            "WHERE vec_id % 10 <> 0), "
            "mx AS (SELECT co.vec_id, "
            f"max({_cos_sql('co.embedding', 'ev.e_vec', None)}) AS m "
            "FROM co CROSS JOIN ev GROUP BY 1) "
            "SELECT vec_id, round(m, 6) AS max_eval_cos, "
            "round(m, 6) >= 0.9 AS contaminated FROM mx"
        ),

        "quantile_sketch_verdicts": (
            # exact type-1 quantiles (rank ceil(p*n), all-integer: p=1/2 ->
            # (n+1) DIV 2, p=19/20 -> (19n+19) DIV 20) vs the same allowed
            # ranges; the sketch's certified bracket makes the verdicts
            # agree whenever they are definite — and these ranges make
            # them definite by a wide margin
            "WITH s AS (SELECT l_quantity AS v, row_number() OVER "
            "(ORDER BY l_quantity) AS r FROM lineitem "
            "WHERE l_quantity IS NOT NULL), "
            "n AS (SELECT count(*)::BIGINT AS n FROM s), "
            "t AS (SELECT 0.5::DOUBLE AS p, 1.0::DOUBLE AS amin, "
            "45.0::DOUBLE AS amax UNION ALL "
            "SELECT 0.95::DOUBLE, 0.0::DOUBLE, 10.0::DOUBLE), "
            "tr AS (SELECT t.p, t.amin, t.amax, n.n, "
            "CASE WHEN t.p = 0.5 THEN (n.n + 1) // 2 "
            "ELSE (19 * n.n + 19) // 20 END AS tgt FROM t CROSS JOIN n), "
            "sel AS (SELECT tr.p, tr.amin, tr.amax, tr.n, s.v AS tq "
            "FROM tr JOIN s ON s.r = tr.tgt) "
            "SELECT 'l_quantity' AS \"column\", p, n, amin, amax, "
            "CASE WHEN tq >= amin AND tq <= amax THEN 'pass' "
            "ELSE 'fail' END AS verdict FROM sel"
        ),

        "interleaved_chunk_stats": (
            f"WITH {_SPAN_BUILD}, "
            "cost AS (SELECT did, idx, kind, CASE WHEN kind = 'text' THEN "
            r"len(list_filter(regexp_split_to_array(coalesce(stext, ''), "
            r"'\s+'), x -> x <> ''))::BIGINT ELSE 8 END AS cost FROM built), "
            "cum AS (SELECT did, idx, kind, cost, sum(cost) OVER "
            "(PARTITION BY did ORDER BY idx ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) - cost AS cb FROM cost) "
            "SELECT did::BIGINT AS doc_id, (cb // 16)::BIGINT AS chunk_index, "
            "count(*)::BIGINT AS n_spans, sum(cost)::BIGINT AS n_tokens, "
            "sum(CASE WHEN kind <> 'text' THEN 1 ELSE 0 END)::BIGINT "
            "AS n_media FROM cum GROUP BY 1, 2"
        ),

        "interleaved_chunk_greedy": (
            # the greedy recurrence replayed span-by-span per document
            f"WITH RECURSIVE {_SPAN_BUILD}, "
            "cost AS (SELECT did, idx, kind, CASE WHEN kind = 'text' THEN "
            r"len(list_filter(regexp_split_to_array(coalesce(stext, ''), "
            r"'\s+'), x -> x <> ''))::BIGINT ELSE 8::BIGINT END AS cost "
            "FROM built), "
            "g AS ("
            "SELECT did, idx, kind, cost, 0::BIGINT AS chunk, cost AS fill "
            "FROM cost WHERE idx = 0 "
            "UNION ALL "
            "SELECT c.did, c.idx, c.kind, c.cost, "
            "CASE WHEN g.fill + c.cost > 16 AND g.fill > 0 "
            "THEN g.chunk + 1 ELSE g.chunk END, "
            "CASE WHEN g.fill + c.cost > 16 AND g.fill > 0 "
            "THEN c.cost ELSE g.fill + c.cost END "
            "FROM g JOIN cost c ON c.did = g.did AND c.idx = g.idx + 1) "
            "SELECT did::BIGINT AS doc_id, idx::INT AS span_index, kind, "
            "cost, chunk AS chunk_index FROM g"
        ),

        "normalized_violation_count": (
            'WITH nz AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 1) || chr(8203) || substr(text, 2) WHEN doc_id % 3 = 1 THEN text || chr(160) ELSE text END AS t FROM documents) SELECT sum(CASE WHEN {NORM} <> t OR t IS NULL THEN 1 ELSE 0 END)::BIGINT AS unexpected_count, count(*)::BIGINT AS element_count FROM nz'
            .replace("{NORM}", _normalize_sql("t"))
        ),

        "normalization_dedup_gain": (
            "WITH un AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000001, text FROM documents), nz AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 1) || chr(8203) || substr(text, 2) WHEN doc_id % 3 = 1 THEN text || chr(160) ELSE text END AS noisy FROM un), rawf AS (SELECT md5(array_to_string(list_filter(regexp_split_to_array(lower(noisy), '\\s+'), x -> x <> ''), ' ')) AS f FROM nz), rg AS (SELECT count(*)::BIGINT AS n_groups_raw FROM (SELECT f, count(*) AS n FROM rawf GROUP BY 1 HAVING count(*) > 1)), nmf AS (SELECT md5(array_to_string(list_filter(regexp_split_to_array(lower({NORM}), '\\s+'), x -> x <> ''), ' ')) AS f FROM nz), ng AS (SELECT count(*)::BIGINT AS n_groups_normalized FROM (SELECT f, count(*) AS n FROM nmf GROUP BY 1 HAVING count(*) > 1)) SELECT * FROM rg CROSS JOIN ng"
            .replace("{NORM}", _normalize_sql("noisy"))
        ),

        "normalized_text_documents": (
            "SELECT doc_id, "
            + _normalize_sql(
                "chr(8220) || text || chr(8221) || '  ' || chr(8212) || "
                "' x' || chr(160) || 'y' || chr(7) || 'z'"
            )
            + " AS norm_text FROM documents"
        ),
    }


def _contam_spans_cte(L: int) -> str:
    """CTE chain replaying dedup.contaminated_spans in SQL: corpus =
    doc_id %% 7 != 0, benchmark = doc_id %% 7 == 0; corpus positions
    whose L-gram appears anywhere in the benchmark's distinct gram set,
    merged gaps-and-islands into maximal spans. The gram TEXT is the
    key (collision-free; Spark uses xxhash64 of the same gram)."""
    return (
        f"WITH c AS (SELECT doc_id, text FROM documents "
        f"WHERE doc_id % 7 <> 0 AND length(text) >= {L}), "
        f"bq AS (SELECT DISTINCT substr(text, p::INT + 1, {L}) AS k FROM "
        f"(SELECT text, unnest(range(0, length(text) - {L} + 1)) AS p "
        f"FROM documents WHERE doc_id % 7 = 0 AND length(text) >= {L})), "
        f"g AS (SELECT doc_id, unnest(range(0, length(text) - {L} + 1)) "
        f"AS p, text FROM c), "
        f"gr AS (SELECT doc_id, p, substr(text, p::INT + 1, {L}) AS k "
        f"FROM g), "
        f"pos AS (SELECT gr.doc_id, gr.p FROM gr JOIN bq USING (k)), "
        f"brk AS (SELECT doc_id, p, CASE WHEN p > lag(p) OVER w + {L} "
        f"THEN 1 ELSE 0 END AS brk FROM pos WINDOW w AS "
        f"(PARTITION BY doc_id ORDER BY p)), "
        f"isl AS (SELECT doc_id, p, sum(brk) OVER "
        f"(PARTITION BY doc_id ORDER BY p) AS island FROM brk)"
    )


def _dup_spans_cte(L: int) -> str:
    """Shared CTE chain replaying dedup.duplicate_spans in SQL with the
    gram TEXT as the key (collision-free; Spark uses xxhash64 of the
    same gram — identical classes when no 64-bit collision exists):
    per-position L-grams -> keys occurring >1 time corpus-wide ->
    duplicated positions -> gaps-and-islands (break when the gap
    exceeds L, i.e. spans no longer overlap or touch)."""
    return (
        f"WITH b AS (SELECT doc_id, text FROM documents "
        f"WHERE length(text) >= {L}), "
        f"g AS (SELECT doc_id, unnest(range(0, length(text) - {L} + 1)) "
        f"AS p, text FROM b), "
        f"gr AS (SELECT doc_id, p, substr(text, p::INT + 1, {L}) AS k "
        f"FROM g), "
        f"dup AS (SELECT k FROM gr GROUP BY k HAVING count(*) > 1), "
        f"pos AS (SELECT gr.doc_id, gr.p FROM gr JOIN dup USING (k)), "
        f"brk AS (SELECT doc_id, p, CASE WHEN p > lag(p) OVER w + {L} "
        f"THEN 1 ELSE 0 END AS brk FROM pos WINDOW w AS "
        f"(PARTITION BY doc_id ORDER BY p)), "
        f"isl AS (SELECT doc_id, p, sum(brk) OVER "
        f"(PARTITION BY doc_id ORDER BY p) AS island FROM brk)"
    )


def _windowed_drift_oracle() -> str:
    """Replays streaming.windowed_drift's batch plan: per-day bucket counts,
    eps-clip + renormalize, Σ (p−q)·ln(p/q), round 6, threshold compare —
    the baseline weights are already normalized so q_i is the literal."""
    bins, base, eps, thr = _DRIFT_BINS, _DRIFT_BASE, 1e-6, 0.05
    nb = len(bins) - 1
    conds = []
    for i in range(nb):
        if i == 0:
            c = f"value IS NOT NULL AND value < {bins[1]!r}"
        elif i == nb - 1:
            c = f"value IS NOT NULL AND value >= {bins[i]!r}"
        else:
            c = (f"value IS NOT NULL AND value >= {bins[i]!r} "
                 f"AND value < {bins[i + 1]!r}")
        conds.append(f"sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS b{i}")
    total = " + ".join(f"b{i}" for i in range(nb))
    clip = ", ".join(
        f"greatest(b{i} / n, {eps!r}) AS p{i}" for i in range(nb)
    )
    s = " + ".join(f"p{i}" for i in range(nb))
    terms = " + ".join(
        f"((p{i}/s) - {base[i]!r}) * ln((p{i}/s) / {base[i]!r})"
        for i in range(nb)
    )
    return (
        "WITH b AS (SELECT date_trunc('day', ts) AS w, "
        + ", ".join(conds)
        + " FROM events GROUP BY 1), "
        f"c AS (SELECT w, ({total})::DOUBLE AS n, * FROM b), "
        f"p AS (SELECT w, n, {clip} FROM c), "
        f"q AS (SELECT w, n, ({s}) AS s, * FROM p), "
        f"f AS (SELECT w, n, CASE WHEN n > 0 THEN round({terms}, 6) END "
        "AS psi FROM q) "
        "SELECT epoch_us(w)::BIGINT AS window_start_us, n::BIGINT AS n_values, "
        f"psi, CASE WHEN n > 0 THEN (psi > {thr!r})::INT END AS drift FROM f"
    )


def _corr_profile_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    selects = [
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"count(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN 1 END)"
        f"::BIGINT AS n_pairs, "
        f"round(corr({a}, {b}), 6) AS pearson_r FROM lineitem"
        for a, b in pairs
    ]
    return " UNION ALL ".join(selects)


def _regex_inference_oracle() -> str:
    # same candidate list, same order; winner = earliest candidate at full
    # nonnull match rate (the engine's threshold=1.0 default)
    from sparkcheck.profiler import DEFAULT_CANDIDATE_REGEXES

    values = ", ".join(
        f"({i}, '{p}')" for i, p in enumerate(DEFAULT_CANDIDATE_REGEXES)
    )
    return (
        f"WITH c(idx, pat) AS (VALUES {values}), "
        "n AS (SELECT count(source) AS nn FROM documents), "
        "m AS (SELECT idx, pat, (SELECT count(*) FROM documents "
        "WHERE source IS NOT NULL AND regexp_matches(source, pat)) "
        "AS matches FROM c), "
        "w AS (SELECT min(idx) AS widx FROM m, n "
        "WHERE n.nn > 0 AND m.matches = n.nn) "
        "SELECT pat AS pattern, matches, "
        "coalesce(idx = (SELECT widx FROM w), FALSE) AS selected "
        "FROM m ORDER BY pattern"
    )


def _datetime_inference_oracle() -> str:
    # same candidate list/order; DuckDB try_strptime agrees with Spark
    # try_to_timestamp on zero-padded strings (the derived column is
    # strftime output, always padded)
    from sparkcheck.profiler import DEFAULT_CANDIDATE_DATE_FORMATS

    branches = " UNION ALL ".join(
        f"SELECT {i} AS idx, '{f}' AS fmt, count(*) FILTER (WHERE "
        f"s IS NOT NULL AND try_strptime(s, '{f}') IS NOT NULL) AS matches "
        "FROM d"
        for i, f in enumerate(DEFAULT_CANDIDATE_DATE_FORMATS)
    )
    return (
        "WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS s FROM events), "
        "n AS (SELECT count(s) AS nn FROM d), "
        f"m AS ({branches}), "
        "w AS (SELECT min(idx) AS widx FROM m, n "
        "WHERE n.nn > 0 AND m.matches = n.nn) "
        "SELECT fmt AS format, matches, "
        "coalesce(idx = (SELECT widx FROM w), FALSE) AS selected "
        "FROM m ORDER BY format"
    )


def _hash_split_oracle() -> str:
    """Replay sampling.hash_split's 80/10/10 doc_id split + split_balance.

    The CASE thresholds are computed with the SAME Python float arithmetic
    hash_split folds into the Spark plan (acc += w/total), then embedded
    via repr() — double round-trip is exact, so both engines compare the
    identical IEEE literal against the identical md5-derived fraction."""
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = float(sum(weights.values()))
    acc, th = 0.0, []
    for name in list(weights)[:-1]:
        acc += float(weights[name]) / total
        th.append(acc)
    hv = _hex32("md5('split' || doc_id::VARCHAR)")
    return (
        f"WITH h AS (SELECT lang, CASE WHEN hv < {th[0]!r} THEN 'train' "
        f"WHEN hv < {th[1]!r} THEN 'val' ELSE 'test' END AS split FROM "
        f"(SELECT lang, {hv}::DOUBLE / 4294967296.0 AS hv FROM documents)), "
        "g AS (SELECT split, lang, count(*)::BIGINT AS n FROM h GROUP BY 1, 2) "
        'SELECT split, lang, n AS "rows", '
        "round(n::DOUBLE / sum(n) OVER (PARTITION BY split), 6) "
        "AS frac_of_split FROM g"
    )


def _cluster_safe_split_oracle() -> str:
    """Replay sampling.cluster_safe_split over the Jaccard>=0.1 cluster
    graph: the dedup_clusters recursive CTE gives (doc_id, cluster_id);
    every document hashes by its representative (cluster_id, or its own
    id when unclustered) against the SAME cumulative thresholds
    hash_split folds into the Spark plan (repr() round-trips the
    accumulated doubles exactly)."""
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = float(sum(weights.values()))
    acc, th = 0.0, []
    for name in list(weights)[:-1]:
        acc += float(weights[name]) / total
        th.append(acc)
    hv = _hex32("md5('split' || rep)")
    return (
        f"WITH RECURSIVE t AS (SELECT doc_id, text, {_TOKS} AS toks "
        "FROM documents), "
        "sh0 AS (SELECT doc_id, unnest(list_distinct({SH})) AS shingle "
        "FROM t), "
        "dfq AS (SELECT shingle, count(*) AS c FROM sh0 GROUP BY 1), "
        "sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfq "
        "USING(shingle) WHERE dfq.c <= 50), "
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) "
        "AS i FROM sh a JOIN sh b USING(shingle) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2), "
        "pairs AS (SELECT doc_a, doc_b FROM inter JOIN sz sa ON "
        "sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b "
        "WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.1), "
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs), "
        "reach(node, lab) AS (SELECT a, a FROM edges UNION "
        "SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a), "
        "clus AS (SELECT node AS doc_id, min(lab) AS cluster_id "
        "FROM reach GROUP BY node), "
        "r AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id)::VARCHAR "
        "AS rep FROM documents d LEFT JOIN clus c USING (doc_id)), "
        f"h AS (SELECT doc_id, {hv}::DOUBLE / 4294967296.0 AS hvf FROM r) "
        f"SELECT doc_id, CASE WHEN hvf < {th[0]!r} THEN 'train' "
        f"WHEN hvf < {th[1]!r} THEN 'val' ELSE 'test' END AS split FROM h"
    ).replace("{SH}", _SHINGLES3)


def _embedding_drift_oracle() -> str:
    """Replay similarity.embedding_drift: per-label 64-dim centroids
    (plain per-dim avg) for both snapshots, cosine/norms via the SAME
    sequential left-folds the Spark plan uses (_fold_dot); round(4)
    absorbs the engines' partial-sum-order noise (~1e-16 relative)."""
    cent = ", ".join(
        f"avg(embedding[{i}]::DOUBLE)" for i in range(1, 65)
    )
    dotc = _fold_dot("c_old", "c_new")
    no = _fold_dot("c_old", "c_old")
    nn = _fold_dot("c_new", "c_new")
    return (
        f"WITH o AS (SELECT label, count(*)::BIGINT AS n_old, "
        f"list_value({cent}) AS c_old FROM embeddings GROUP BY label), "
        f"n2 AS (SELECT label, count(*)::BIGINT AS n_new, "
        f"list_value({cent}) AS c_new FROM embeddings "
        "WHERE vec_id % 5 <> 0 GROUP BY label) "
        f"SELECT o.label, n_old, n_new, "
        f"round({dotc} / (sqrt({no}) * sqrt({nn})), 4) AS centroid_cos, "
        f"round(sqrt({nn}) / sqrt({no}), 4) AS norm_ratio "
        "FROM o JOIN n2 USING (label) ORDER BY label"
    )


def _domain_quality_oracle() -> str:
    """Replay text.domain_quality_report: the per-doc quality/repetition/
    fingerprint formulas already proven by the text_profile oracle, summed
    through the same two-level (group, fingerprint) -> group aggregation;
    4-dp rounds absorb sum-order noise on the double means."""
    sw = _sw_list("en")
    q = (
        "(least(len(toks)::DOUBLE / 20.0, 1.0) * 0.5 + "
        f"least((CASE WHEN len(toks) > 0 THEN len(list_filter(toks, "
        f"x -> x IN ({sw})))::DOUBLE / len(toks) ELSE 0.0 END) * 5.0, 1.0) "
        "* 0.25 + (1.0 - least((CASE WHEN length(lower(text)) > 0 THEN "
        "(length(lower(text)) - length(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', '', 'g')))::DOUBLE / length(lower(text)) "
        "ELSE 1.0 END) * 2.0, 1.0)) * 0.25)"
    )
    d2 = (
        "(CASE WHEN len(bg) > 0 THEN 1.0 - "
        "len(list_distinct(bg))::DOUBLE / len(bg) ELSE 0.0 END)"
    )
    pii = " + ".join(
        f"len(regexp_extract_all(text, '{p}'))"
        for p in text.PII_PATTERNS.values()
    )
    return (
        f"WITH t AS (SELECT source, text, {_TOKS} AS toks FROM documents), "
        f"b AS (SELECT source, text, toks, {_SHINGLES2} AS bg FROM t), "
        f"l0 AS (SELECT source, md5(array_to_string(toks, ' ')) AS fp, "
        f"{q} AS q, len(toks)::BIGINT AS tk, {d2} AS d2, "
        f"(({pii}) > 0)::BIGINT AS pii FROM b), "
        "l1 AS (SELECT source, fp, count(*)::BIGINT AS n, sum(q) AS sq, "
        "sum(tk)::BIGINT AS stk, sum(d2) AS sd2, sum(pii)::BIGINT AS spii "
        "FROM l0 GROUP BY 1, 2) "
        "SELECT source, sum(n)::BIGINT AS n_docs, "
        "sum(stk)::BIGINT AS total_tokens, "
        "round(sum(sq) / sum(n), 4) AS mean_quality, "
        "round(sum(sd2) / sum(n), 4) AS mean_dup_2gram, "
        "round(sum(spii)::DOUBLE / sum(n), 4) AS pii_doc_rate, "
        "(sum(n) - count(*))::BIGINT AS exact_dup_docs "
        "FROM l1 GROUP BY source ORDER BY mean_quality, source"
    )


def _curation_funnel_oracle() -> str:
    """Replay text.curation_funnel's four chained quality filters: per-doc
    conditions in a CTE (NULL ratios coalesced to FALSE, as the Spark
    funnel does), cumulative-AND sums in ONE aggregate, unpivoted to the
    (stage_idx, stage, surviving, dropped_here) rows via UNION ALL."""
    c1 = "coalesce(n_chars >= 120, FALSE)"
    c2 = "coalesce(len(toks) BETWEEN 10 AND 2000, FALSE)"
    c3 = (
        "coalesce((CASE WHEN len(bg) > 0 THEN "
        "1.0 - len(list_distinct(bg))::DOUBLE / len(bg) END) < 0.5, FALSE)"
    )
    c4 = (
        "coalesce((CASE WHEN len(toks) > 0 THEN "
        f"len(list_filter(toks, x -> x IN ({_sw_list('en')})))::DOUBLE "
        "/ len(toks) END) >= 0.08, FALSE)"
    )
    stages = ["min_chars", "token_range", "low_repetition", "stopword_floor"]
    rows = [
        "SELECT 0::INT AS stage_idx, 'input' AS stage, s0 AS surviving, "
        "0::BIGINT AS dropped_here FROM a"
    ] + [
        f"SELECT {i + 1}::INT, '{name}', s{i + 1}, s{i} - s{i + 1} FROM a"
        for i, name in enumerate(stages)
    ]
    return (
        f"WITH t AS (SELECT n_chars, {_TOKS} AS toks FROM documents), "
        f"b AS (SELECT n_chars, toks, {_SHINGLES2} AS bg FROM t), "
        f"c AS (SELECT {c1} AS c1, {c2} AS c2, {c3} AS c3, {c4} AS c4 FROM b), "
        "a AS (SELECT count(*)::BIGINT AS s0, sum(c1::INT)::BIGINT AS s1, "
        "sum((c1 AND c2)::INT)::BIGINT AS s2, "
        "sum((c1 AND c2 AND c3)::INT)::BIGINT AS s3, "
        "sum((c1 AND c2 AND c3 AND c4)::INT)::BIGINT AS s4 FROM c) "
        + " UNION ALL ".join(rows)
    )


def _nib(h: str, k: int) -> str:
    """Value of hex nibble k (1-based) of expression h."""
    return f"(strpos('0123456789abcdef', substr({h}, {k}, 1)) - 1)"


def _hex32(h: str) -> str:
    """First 8 hex digits of expression h as a 32-bit integer — the DuckDB
    replay of Spark's conv(substring(md5, 1, 8), 16, 10)."""
    return (
        "("
        + " + ".join(f"{_nib(h, k)} * {16 ** (8 - k)}" for k in range(1, 9))
        + ")"
    )


def _pii_sql_exprs(target: str) -> tuple[str, str]:
    """(count-select-list, scrub-expression) replaying text.PII_PATTERNS
    verbatim — the patterns are written in the Java-regex ∩ RE2 subset."""
    counts = ", ".join(
        f"len(regexp_extract_all({target}, '{pat}'))::INT AS pii_{name}"
        for name, pat in text.PII_PATTERNS.items()
    )
    scrub = target
    for pat in text.PII_PATTERNS.values():
        scrub = f"regexp_replace({scrub}, '{pat}', '[PII]', 'g')"
    return counts, scrub


def _media_oracle(which: str) -> str:
    """Regenerate media.synth_media from range(256) in SQL: ref layout,
    md5-nibble kind/length branching, sha256 payloads — then replicate the
    fake decoder's sha256-derived features (image) or the frame-count
    arithmetic (frames: n_frames = len//32 = 2*reps, sampled every 5)."""
    base = (
        "WITH base AS (SELECT unnest(range(256)) AS id), "
        "m AS (SELECT printf('media://b%d/%016x', (id % 4)::INT, id) AS ref "
        "FROM base), "
        f"k AS (SELECT ref, ({_nib('md5(ref)', 1)} % 3) AS kv, "
        f"({_nib('md5(ref)', 2)} % 8) + 1 AS reps FROM m), "
    )
    if which == "image":
        byte2 = f"({_nib('h', 5)} * 16 + {_nib('h', 6)})"
        return base + (
            "imgs AS (SELECT ref, repeat(sha256(ref), reps) AS payload "
            "FROM k WHERE kv = 0), "
            "feats AS (SELECT ref, sha256(payload) AS h FROM imgs) "
            "SELECT count(*)::BIGINT AS n_images, "
            f"round(avg({byte2} / 255.0), 4) AS avg_luma, "
            "count(DISTINCT h)::BIGINT AS n_distinct FROM feats"
        )
    return base + (
        "vids AS (SELECT ref, ((2 * reps - 1) // 5) + 1 AS n FROM k WHERE kv = 2) "
        "SELECT coalesce(sum(n), 0)::BIGINT AS n_frames, "
        "count(*)::BIGINT AS n_videos FROM vids"
    )


# Rebuild of spans.interleave_documents in SQL: same md5(doc_id|idx|tag)
# branch decisions, same constructed kind/text/media_ref/offset per token.
_SPAN_BUILD = (
    "t AS (SELECT doc_id, text, "
    + _TOKS
    + " AS toks FROM documents), "
    "ex AS (SELECT doc_id::VARCHAR AS did, i - 1 AS idx, toks[i] AS tok "
    "FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)), "
    "sp AS (SELECT did, idx, tok, "
    "substr(md5(did || '|' || idx::VARCHAR || '|k'), 1, 1) = '0' AS is_media, "
    "substr(md5(did || '|' || idx::VARCHAR || '|p'), 1, 2) = '00' AS ptest, "
    "substr(md5(did || '|' || idx::VARCHAR || '|m'), 1, 2) = '00' AS mtest, "
    "(substr(md5(did || '|' || idx::VARCHAR || '|o'), 1, 1) = '0' AND idx > 0) AS otest, "
    "'media://' || substr(md5(did || '|' || idx::VARCHAR || '|r'), 1, 8) AS ref "
    "FROM ex), "
    "built AS (SELECT did, idx, "
    "CASE WHEN is_media THEN 'image' ELSE 'text' END AS kind, "
    "CASE WHEN is_media THEN NULL WHEN ptest THEN tok || chr(1) ELSE tok END AS stext, "
    "CASE WHEN is_media OR mtest THEN ref ELSE NULL END AS sref, "
    "CASE WHEN otest THEN idx * 10 - 15 ELSE idx * 10 END AS soff "
    "FROM sp)"
)


def _span_violations_oracle() -> str:
    return (
        f"WITH {_SPAN_BUILD}, "
        "flags AS (SELECT did, idx, kind, stext, sref, soff, "
        "lag(soff) OVER (PARTITION BY did ORDER BY idx) AS prev_off FROM built), "
        "viol AS ("
        "SELECT 'expect_span_text_printable' AS expectation FROM flags "
        "WHERE kind = 'text' AND stext IS NOT NULL AND "
        "NOT regexp_matches(stext, '^[\\x20-\\x7E]*$') "
        "UNION ALL "
        "SELECT 'expect_span_kind_payload_consistent' FROM flags "
        "WHERE kind NOT IN ('text', 'image', 'audio', 'video') "
        "OR (kind = 'text' AND (stext IS NULL OR sref IS NOT NULL)) "
        "OR (kind <> 'text' AND (sref IS NULL OR stext IS NOT NULL)) "
        "UNION ALL "
        "SELECT 'expect_span_offsets_increasing' FROM flags "
        "WHERE prev_off IS NOT NULL AND soff IS NOT NULL AND soff <= prev_off) "
        "SELECT expectation, count(*)::BIGINT AS n_violations FROM viol GROUP BY 1"
    )


def _span_suite_oracle() -> str:
    return (
        f"WITH {_SPAN_BUILD} "
        "SELECT 'expect_span_values_to_be_in_set' AS expectation, "
        "'kind' AS span_field, count(*)::BIGINT AS element_count, "
        "0::BIGINT AS missing_count, "
        "sum(CASE WHEN kind NOT IN ('text','image','audio','video') "
        "THEN 1 ELSE 0 END)::BIGINT AS unexpected_count FROM built "
        "UNION ALL "
        "SELECT 'expect_span_values_to_match_regex', 'text', "
        "count(*)::BIGINT, sum(CASE WHEN stext IS NULL THEN 1 ELSE 0 END)::BIGINT, "
        "sum(CASE WHEN stext IS NOT NULL AND "
        "NOT regexp_matches(stext, '^[\\x20-\\x7E]*$') THEN 1 ELSE 0 END)::BIGINT "
        "FROM built "
        "UNION ALL "
        "SELECT 'expect_span_values_to_be_between', 'offset', "
        "count(*)::BIGINT, 0::BIGINT, "
        "sum(CASE WHEN NOT (soff >= 0 AND soff <= 1000000) THEN 1 ELSE 0 END)::BIGINT "
        "FROM built"
    )


def _span_fingerprints_oracle() -> str:
    # byte stream per span: kind \x00 text \x00 media_ref \x01 (nulls -> ''),
    # concatenated in span order — identical to span_sequence_fingerprint
    return (
        f"WITH {_SPAN_BUILD}, "
        "agg AS (SELECT did, md5(string_agg("
        "kind || chr(0) || coalesce(stext, '') || chr(0) || "
        "coalesce(sref, '') || chr(1), '' ORDER BY idx)) AS fp "
        "FROM built GROUP BY did) "
        "SELECT t.doc_id, CASE WHEN t.toks IS NULL THEN NULL "
        "ELSE coalesce(agg.fp, md5('')) END AS fp "
        "FROM t LEFT JOIN agg ON agg.did = t.doc_id::VARCHAR"
    )


def _lsh_neardup_oracle() -> str:
    proj_defs, sig_expr = _lsh_sig_sql(6)
    return (
        f"WITH pr AS (SELECT vec_id, embedding, {proj_defs} FROM embeddings), "
        f"sig AS (SELECT vec_id, embedding, {sig_expr} AS sig FROM pr), "
        "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"{_cos_sql('a.embedding', 'b.embedding')} AS cos "
        "FROM sig a JOIN sig b USING(sig) WHERE a.vec_id < b.vec_id) "
        "SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.3"
    )


def _lsh_neardup_multiprobe_oracle() -> str:
    # n_probe=2 discovery: each vector probes its base bucket plus the one
    # across its lowest-|projection| plane (ties -> lowest plane, matching
    # the engine's array_sort on (|proj|, mask)); candidate id pairs are
    # deduped before scoring, exactly as lsh_near_duplicates does
    proj_defs, sig_expr = _lsh_sig_sql(6)
    aproj = "[" + ", ".join(f"abs(proj{p})" for p in range(6)) + "]"
    return (
        f"WITH pr AS (SELECT vec_id, embedding, {proj_defs} FROM embeddings), "
        f"sig AS (SELECT vec_id, embedding, {sig_expr} AS sig, "
        f"{aproj} AS aproj FROM pr), "
        "qp AS (SELECT vec_id, sig, "
        "(list_position(aproj, list_min(aproj)) - 1) AS flip_p FROM sig), "
        "probes AS (SELECT vec_id, sig FROM qp "
        "UNION ALL SELECT vec_id, xor(sig::BIGINT, (1::BIGINT << flip_p)) FROM qp), "
        "cand AS (SELECT DISTINCT least(p.vec_id, b.vec_id) AS id_a, "
        "greatest(p.vec_id, b.vec_id) AS id_b "
        "FROM probes p JOIN sig b ON p.sig = b.sig AND p.vec_id <> b.vec_id), "
        "scored AS (SELECT id_a, id_b, "
        f"{_cos_sql('a.embedding', 'b.embedding')} AS cos "
        "FROM cand JOIN embeddings a ON a.vec_id = cand.id_a "
        "JOIN embeddings b ON b.vec_id = cand.id_b) "
        "SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.3"
    )


def _lsh_oracle() -> str:
    # multi-probe (n_probe=2): the second probe flips the signature bit with
    # the smallest |projection| — list_position(.., list_min(..)) picks the
    # first (lowest-plane) minimum, matching the engine's stable sort
    proj_defs, sig_expr = _lsh_sig_sql(8)
    aproj = "[" + ", ".join(f"abs(proj{p})" for p in range(8)) + "]"
    return (
        f"WITH pr AS (SELECT vec_id, embedding, {proj_defs} FROM embeddings), "
        f"sig AS (SELECT vec_id, embedding, {sig_expr} AS sig, "
        f"{aproj} AS aproj FROM pr), "
        "q AS (SELECT vec_id AS query_id, embedding AS q_vec, sig, "
        "(list_position(aproj, list_min(aproj)) - 1) AS flip_p FROM sig "
        "WHERE vec_id < 5), "
        "probes AS (SELECT query_id, q_vec, sig FROM q "
        "UNION ALL SELECT query_id, q_vec, "
        "xor(sig::BIGINT, (1::BIGINT << flip_p)) AS sig FROM q), "
        "c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, sig FROM sig), "
        "scored AS (SELECT query_id, neighbor_id, "
        f"{_cos_sql('q_vec', 'c_vec')} AS cos "
        "FROM c JOIN probes USING(sig) WHERE query_id <> neighbor_id), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk "
        "FROM scored) "
        "SELECT query_id, neighbor_id, cos, rnk::INT AS rnk FROM ranked "
        "WHERE rnk <= 5"
    )


def _ivf_oracle() -> str:
    # centroids = 16 lowest-id vectors; assignment/probes by argmax cosine
    # with (cos DESC, centroid_id ASC) tie-break — identical float folds on
    # both engines make the ties consistent (mirrors similarity.ivf_topk)
    return (
        "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS "
        "centroid_id, embedding AS c_vec "
        "FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)), "
        "ac AS (SELECT e.vec_id, e.embedding, cent.centroid_id, "
        f"{_cos_sql('e.embedding', 'cent.c_vec', None)} AS c_cos "
        "FROM embeddings e CROSS JOIN cent), "
        "asg AS (SELECT vec_id, embedding, centroid_id FROM "
        "(SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY c_cos DESC, centroid_id ASC) AS r FROM ac) WHERE r = 1), "
        "qc AS (SELECT e.vec_id AS query_id, e.embedding AS q_vec, "
        "cent.centroid_id, "
        f"{_cos_sql('e.embedding', 'cent.c_vec', None)} AS c_cos "
        "FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 5), "
        "probes AS (SELECT query_id, q_vec, centroid_id FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY c_cos DESC, centroid_id ASC) AS r FROM qc) WHERE r <= 4), "
        "scored AS (SELECT query_id, asg.vec_id AS neighbor_id, "
        f"{_cos_sql('q_vec', 'asg.embedding')} AS cos "
        "FROM asg JOIN probes USING(centroid_id) WHERE query_id <> asg.vec_id), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk "
        "FROM scored) "
        "SELECT query_id, neighbor_id, cos, rnk::INT AS rnk FROM ranked "
        "WHERE rnk <= 5"
    )


def _pq_oracle(rerank_k: "int | None" = None) -> str:
    """PQ ADC replay: seed codebooks = subspace slices of the 16
    lowest-id vectors; encode = per-(vector, subspace) argmin over the
    16 centroids (d ASC, cid ASC tie-break — identical float folds on
    both engines make ties consistent); score = ordered fold of the
    per-subspace LUT distances. Every distance accumulates dimension-
    by-dimension then subspace-by-subspace in the same left-fold order
    as similarity.pq_encode/pq_topk's sequential numpy accumulation, so
    codes, ADC sums, and ranks match bit-for-bit. Ranking uses the
    6-dp ROUNDED adist (mirroring the Spark window's input)."""

    def dist8(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, 9), "
            f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * "
            f"({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y)"
        )

    esub = "e.embedding[(cs.m * 8 + 1):(cs.m * 8 + 8)]"
    return (
        "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, "
        "embedding AS cv FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)), "
        "sub AS (SELECT unnest(range(0, 8)) AS m), "
        "cs AS (SELECT sub.m, cent.cid, "
        "cent.cv[(sub.m * 8 + 1):(sub.m * 8 + 8)] AS csub "
        "FROM cent CROSS JOIN sub), "
        "enc0 AS (SELECT e.vec_id, cs.m, cs.cid, "
        f"{dist8(esub, 'cs.csub')} AS d "
        "FROM embeddings e CROSS JOIN cs), "
        "enc AS (SELECT vec_id, m, cid FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id, m ORDER BY d ASC, cid ASC) AS r FROM enc0) "
        "WHERE r = 1), "
        "ql AS (SELECT e.vec_id AS query_id, cs.m, cs.cid, "
        f"{dist8(esub, 'cs.csub')} AS qd "
        "FROM embeddings e CROSS JOIN cs WHERE e.vec_id < 5), "
        "sc AS (SELECT query_id, enc.vec_id AS neighbor_id, "
        "list_reduce(list_prepend(0.0, list(qd ORDER BY ql.m)), "
        "(x, y) -> x + y) AS adist "
        "FROM enc JOIN ql ON enc.m = ql.m AND enc.cid = ql.cid "
        "WHERE query_id <> enc.vec_id GROUP BY 1, 2), "
        "sc2 AS (SELECT query_id, neighbor_id, round(adist, 6) AS adist "
        "FROM sc), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY adist ASC, neighbor_id ASC) AS rnk FROM sc2) "
        + (
            "SELECT query_id, neighbor_id, adist, rnk::INT AS rank "
            "FROM ranked WHERE rnk <= 5"
            if rerank_k is None
            else (
                # exact L2 re-rank of the ADC shortlist: dim-ordered fold
                # matching Spark's zip_with+aggregate term-for-term
                f", cand AS (SELECT query_id, neighbor_id FROM ranked "
                f"WHERE rnk <= {rerank_k}), "
                "ex AS (SELECT cand.query_id, cand.neighbor_id, "
                "round(list_reduce(list_prepend(0.0, "
                "list_transform(range(1, 65), "
                "i -> (q.embedding[i]::DOUBLE - v.embedding[i]::DOUBLE) * "
                "(q.embedding[i]::DOUBLE - v.embedding[i]::DOUBLE))), "
                "(x, y) -> x + y), 6) AS dist "
                "FROM cand JOIN embeddings v ON v.vec_id = cand.neighbor_id "
                "JOIN embeddings q ON q.vec_id = cand.query_id), "
                "rr AS (SELECT *, row_number() OVER (PARTITION BY query_id "
                "ORDER BY dist ASC, neighbor_id ASC) AS rnk2 FROM ex) "
                "SELECT query_id, neighbor_id, dist, rnk2::INT AS rank "
                "FROM rr WHERE rnk2 <= 5"
            )
        )
    )


def _ivfpq_oracle(n_probe: int = 4) -> str:
    """IVF-PQ replay, composing the two proven pieces: the coarse route
    (16 lowest-id centroids, cosine argmax assignment + top-n_probe
    probes, from _ivf_oracle) restricts which (query, vector) pairs the
    PQ ADC fold (from _pq_oracle) scores — identical ordered folds, so
    the composed rows match similarity.ivfpq_topk bit-for-bit."""

    def dist8(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, 9), "
            f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * "
            f"({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y)"
        )

    esub = "e.embedding[(cs.m * 8 + 1):(cs.m * 8 + 8)]"
    return (
        # coarse route (cosine, cos DESC / centroid ASC tie-break)
        "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS "
        "coarse_id, embedding AS c_vec "
        "FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)), "
        "ac AS (SELECT e.vec_id, cent.coarse_id, "
        f"{_cos_sql('e.embedding', 'cent.c_vec', None)} AS c_cos "
        "FROM embeddings e CROSS JOIN cent), "
        "asg AS (SELECT vec_id, coarse_id FROM (SELECT *, row_number() "
        "OVER (PARTITION BY vec_id ORDER BY c_cos DESC, coarse_id ASC) AS r "
        "FROM ac) WHERE r = 1), "
        "qc AS (SELECT e.vec_id AS query_id, cent.coarse_id, "
        f"{_cos_sql('e.embedding', 'cent.c_vec', None)} AS c_cos "
        "FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 5), "
        "probes AS (SELECT query_id, coarse_id FROM (SELECT *, row_number() "
        "OVER (PARTITION BY query_id ORDER BY c_cos DESC, coarse_id ASC) AS r "
        f"FROM qc) WHERE r <= {n_probe}), "
        # PQ encode + per-query LUT (subspace slices of the same 16 rows)
        "sub AS (SELECT unnest(range(0, 8)) AS m), "
        "cs AS (SELECT sub.m, cent.coarse_id AS cid, "
        "cent.c_vec[(sub.m * 8 + 1):(sub.m * 8 + 8)] AS csub "
        "FROM cent CROSS JOIN sub), "
        "enc0 AS (SELECT e.vec_id, cs.m, cs.cid, "
        f"{dist8(esub, 'cs.csub')} AS d "
        "FROM embeddings e CROSS JOIN cs), "
        "enc AS (SELECT vec_id, m, cid FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id, m ORDER BY d ASC, cid ASC) AS r FROM enc0) "
        "WHERE r = 1), "
        "ql AS (SELECT e.vec_id AS query_id, cs.m, cs.cid, "
        f"{dist8(esub, 'cs.csub')} AS qd "
        "FROM embeddings e CROSS JOIN cs WHERE e.vec_id < 5), "
        # ADC over probe members only
        "sc AS (SELECT ql.query_id, enc.vec_id AS neighbor_id, "
        "list_reduce(list_prepend(0.0, list(qd ORDER BY ql.m)), "
        "(x, y) -> x + y) AS adist "
        "FROM enc JOIN ql ON enc.m = ql.m AND enc.cid = ql.cid "
        "JOIN asg ON asg.vec_id = enc.vec_id "
        "JOIN probes ON probes.query_id = ql.query_id "
        "AND probes.coarse_id = asg.coarse_id "
        "WHERE ql.query_id <> enc.vec_id GROUP BY 1, 2), "
        "sc2 AS (SELECT query_id, neighbor_id, round(adist, 6) AS adist "
        "FROM sc), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY adist ASC, neighbor_id ASC) AS rnk FROM sc2) "
        "SELECT query_id, neighbor_id, adist, rnk::INT AS rank "
        "FROM ranked WHERE rnk <= 5"
    )


def _spine_rank_sql(p: float, v: str = "v") -> str:
    """Type-1 rank lookup over a cumulative-count spine CTE — the SQL
    twin of stats._rank_stat: rank ceil(p*n) in ALL-INTEGER arithmetic
    ((num*n + den-1) // den with p as the exact rational of its decimal
    literal); float ceil is off by one whenever p*n rounds across an
    integer (0.07*100 -> 7.000000000000001)."""
    from fractions import Fraction

    f = Fraction(str(p))
    return (
        f"min(CASE WHEN cum >= ({f.numerator} * n + {f.denominator - 1}) "
        f"// {f.denominator} THEN {v} END)"
    )


def _robust_stats_oracle() -> str:
    """Replay stats.robust_profile on l_quantity: the distinct-value
    spine, type-1 rank lookups, the trim-window membership counts, and
    the |x - median| spine for MAD. The two sum-based means round to 6dp
    on both sides (summation-order noise); every order statistic is an
    exact data value."""
    k = "((1 * n) // 20)"  # floor(0.05*n) in integers, replaying Spark
    mid = f"greatest(0, least(cum, n - {k}) - greatest(cum - c, {k}))"
    return (
        "WITH sp AS (SELECT l_quantity AS v, count(*)::BIGINT AS c "
        "FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1), "
        "r AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum, "
        "sum(c) OVER () AS n FROM sp), "
        "s AS (SELECT max(n)::BIGINT AS n, "
        f"{_spine_rank_sql(0.5)} AS median, "
        f"{_spine_rank_sql(0.25)} AS q25, "
        f"{_spine_rank_sql(0.75)} AS q75, "
        f"max({k})::BIGINT AS k, "
        f"sum(v * {mid}) AS mid_sum, "
        f"min(CASE WHEN cum >= {k} + 1 THEN v END) AS vlo, "
        f"min(CASE WHEN cum >= n - {k} THEN v END) AS vhi "
        "FROM r), "
        "dsp AS (SELECT abs(v - (SELECT median FROM s)) AS d, "
        "sum(c)::BIGINT AS c FROM sp GROUP BY 1), "
        "dr AS (SELECT d, sum(c) OVER (ORDER BY d) AS cum, "
        "sum(c) OVER () AS n FROM dsp), "
        "m AS (SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN d END) "
        "AS mad FROM dr) "
        "SELECT n, median, q25, q75, mad, q75 - q25 AS iqr, "
        "round(mid_sum / (n - 2 * k), 6) AS trimmed_mean, "
        "round((mid_sum + k * (vlo + vhi)) / n, 6) AS winsorized_mean "
        "FROM s, m"
    )


def _segment_quantiles_oracle() -> str:
    return (
        "WITH sp AS (SELECT l_returnflag AS g, l_quantity AS v, "
        "count(*)::BIGINT AS c FROM lineitem "
        "WHERE l_quantity IS NOT NULL GROUP BY 1, 2), "
        "r AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum, "
        "sum(c) OVER (PARTITION BY g) AS n FROM sp) "
        "SELECT g AS l_returnflag, max(n)::BIGINT AS n, "
        f"{_spine_rank_sql(0.25)} AS p25, "
        f"{_spine_rank_sql(0.5)} AS p50, "
        f"{_spine_rank_sql(0.75)} AS p75, "
        f"{_spine_rank_sql(0.95)} AS p95 "
        "FROM r GROUP BY 1"
    )


def _kmeans_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Replay similarity.kmeans: seed centroids = the k lowest-id
    vectors; each round an argmax-cosine assignment (lowest centroid id
    breaks ties) followed by a per-dimension round(avg, 6) centroid
    update, empty clusters keeping their previous centroid (coalesce).
    The rounding is what makes the replay exact — both engines feed the
    same 6dp decimals into the next round's fold arithmetic."""
    cos0 = _cos_sql("e.embedding", "c.c_vec", None)
    parts = [
        "WITH cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 "
        "AS cid, list_transform(embedding, x -> x::DOUBLE) AS c_vec "
        f"FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k}))"
    ]
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT e.vec_id, e.embedding, c.cid, {cos0} AS c_cos "
            f"FROM embeddings e CROSS JOIN cent{i} c), "
            f"asg{i} AS (SELECT vec_id, embedding, cid FROM "
            "(SELECT *, row_number() OVER (PARTITION BY vec_id "
            f"ORDER BY c_cos DESC, cid ASC) AS rr FROM a{i}) WHERE rr = 1), "
            f"pe{i} AS (SELECT cid, r.range AS dim, "
            "embedding[(r.range + 1)::INT]::DOUBLE AS val "
            f"FROM asg{i} CROSS JOIN range({dim}) r), "
            f"cd{i} AS (SELECT cid, dim, round(avg(val), 6) AS vv "
            f"FROM pe{i} GROUP BY 1, 2), "
            f"cl{i} AS (SELECT cid, list(vv ORDER BY dim) AS c_vec "
            f"FROM cd{i} GROUP BY 1), "
            f"cent{i + 1} AS (SELECT p.cid, coalesce(u.c_vec, p.c_vec) "
            f"AS c_vec FROM cent{i} p LEFT JOIN cl{i} u USING (cid))"
        )
    parts.append(
        f"af AS (SELECT e.vec_id, c.cid, {cos0} AS c_cos "
        f"FROM embeddings e CROSS JOIN cent{iters} c)"
    )
    return (
        ", ".join(parts)
        + " SELECT vec_id, cid AS centroid_id, round(c_cos, 6) AS c_cos "
        "FROM (SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY c_cos DESC, cid ASC) AS rr FROM af) WHERE rr = 1"
    )


def _normalize_sql(expr: str) -> str:
    """DuckDB replay of text.normalize_text over ``expr``: the SAME
    translate map (built from chr() calls so the SQL stays ASCII) and
    the SAME ASCII-only regex chain, with RE2's 'g' flag and chr(10)
    replacements (RE2 replacement strings do not interpret backslash
    escapes, so newlines are concatenated in as real characters)."""
    from sparkcheck.text import NORMALIZE_FROM, NORMALIZE_RULES, NORMALIZE_TO

    f_sql = " || ".join(f"chr({ord(c)})" for c in NORMALIZE_FROM)
    t_sql = " || ".join(f"chr({ord(c)})" for c in NORMALIZE_TO)
    core = f"translate({expr}, {f_sql}, {t_sql})"
    for pat, rep in NORMALIZE_RULES:
        rep_sql = " || ".join(
            "chr(10)" if ch == "\n" else f"chr({ord(ch)})" for ch in rep
        ) or "''"
        core = f"regexp_replace({core}, '{pat}', {rep_sql}, 'g')"
    return f"trim({core})"


def _novelty_oracle() -> str:
    return (
        f"WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents), "
        "dsh AS (SELECT doc_id, unnest(list_distinct({SH})) AS shingle "
        "FROM t WHERE doc_id % 3 <> 0), "
        "rsh AS (SELECT DISTINCT unnest(list_distinct({SH})) AS shingle "
        "FROM t WHERE doc_id % 3 = 0), "
        "pd AS (SELECT d.doc_id, count(*)::BIGINT AS ns, "
        "sum(CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn "
        "FROM dsh d LEFT JOIN rsh r ON d.shingle = r.shingle GROUP BY 1) "
        "SELECT t.doc_id, coalesce(pd.ns, 0)::BIGINT AS n_shingles, "
        "coalesce(pd.nn, 0)::BIGINT AS n_novel, "
        # 0/0 -> NULL in both engines (Spark Divide and DuckDB agree)
        "round(coalesce(pd.nn, 0)::DOUBLE / coalesce(pd.ns, 0), 4) "
        "AS novelty "
        "FROM t LEFT JOIN pd USING (doc_id) WHERE t.doc_id % 3 <> 0"
    ).replace("{SH}", _SHINGLES3)


def _cluster_balanced_oracle(k: int = 8, cap: int = 100) -> str:
    cos0 = _cos_sql("e.embedding", "c.c_vec", None)
    hv = _hex32("md5('cbal' || vec_id::VARCHAR)")
    return (
        "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 "
        "AS cid, embedding AS c_vec "
        f"FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k})), "
        f"ac AS (SELECT e.vec_id, c.cid, {cos0} AS c_cos "
        "FROM embeddings e CROSS JOIN cent c), "
        "asg AS (SELECT vec_id, cid FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY c_cos DESC, cid ASC) AS rr FROM ac) "
        "WHERE rr = 1), "
        # per_group_cap orders by (hash_fraction, key); int-hash order ==
        # scaled-double order, ties by key
        f"rk AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY cid "
        f"ORDER BY {hv}, vec_id) AS rr FROM asg) "
        f"SELECT vec_id, cid AS centroid_id FROM rk WHERE rr <= {cap}"
    )


def _wasserstein_oracle() -> str:
    """Replay two_sample_distances: merged distinct-value spine, exact
    cumulative ECDF ratios (integer counts, one double division — the
    same IEEE value both engines), KS as the max gap, W1 as the
    lead-gap-weighted sum; W1's summation order is absorbed by the
    shared round-6."""
    return (
        "WITH ca AS (SELECT l_quantity AS v, count(*)::BIGINT AS c "
        "FROM lineitem WHERE l_returnflag = 'R' AND l_quantity IS NOT NULL "
        "GROUP BY 1), "
        "cb AS (SELECT l_quantity AS v, count(*)::BIGINT AS c "
        "FROM lineitem WHERE l_returnflag <> 'R' AND l_quantity IS NOT NULL "
        "GROUP BY 1), "
        "m AS (SELECT coalesce(ca.v, cb.v) AS v, "
        "coalesce(ca.c, 0)::BIGINT AS cca, coalesce(cb.c, 0)::BIGINT AS ccb "
        "FROM ca FULL OUTER JOIN cb ON ca.v = cb.v), "
        "r AS (SELECT v, sum(cca) OVER (ORDER BY v) AS cuma, "
        "sum(ccb) OVER (ORDER BY v) AS cumb, "
        "sum(cca) OVER () AS na, sum(ccb) OVER () AS nb, "
        "lead(v) OVER (ORDER BY v) AS nv FROM m) "
        "SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b, "
        "round(max(abs(cuma::DOUBLE / na - cumb::DOUBLE / nb)), 6) "
        "AS ks_stat, "
        "round(CASE WHEN max(abs(cuma::DOUBLE / na - cumb::DOUBLE / nb)) "
        "IS NOT NULL THEN coalesce(sum(abs(cuma::DOUBLE / na - "
        "cumb::DOUBLE / nb) * (nv - v)), 0.0) END, 6) "
        "AS wasserstein FROM r"
    )


def _wasserstein_grouped_oracle() -> str:
    """The _wasserstein_oracle construction with l_linestatus as a group
    key: spine keyed (g, v), windows partitioned by g, one output row
    per group observed on either side."""
    return (
        "WITH ca AS (SELECT l_linestatus AS g, l_quantity AS v, "
        "count(*)::BIGINT AS c FROM lineitem "
        "WHERE l_returnflag = 'R' AND l_quantity IS NOT NULL "
        "AND l_linestatus IS NOT NULL GROUP BY 1, 2), "
        "cb AS (SELECT l_linestatus AS g, l_quantity AS v, "
        "count(*)::BIGINT AS c FROM lineitem "
        "WHERE l_returnflag <> 'R' AND l_quantity IS NOT NULL "
        "AND l_linestatus IS NOT NULL GROUP BY 1, 2), "
        "m AS (SELECT coalesce(ca.g, cb.g) AS g, coalesce(ca.v, cb.v) AS v, "
        "coalesce(ca.c, 0)::BIGINT AS cca, coalesce(cb.c, 0)::BIGINT AS ccb "
        "FROM ca FULL OUTER JOIN cb ON ca.g = cb.g AND ca.v = cb.v), "
        "r AS (SELECT g, v, "
        "sum(cca) OVER (PARTITION BY g ORDER BY v) AS cuma, "
        "sum(ccb) OVER (PARTITION BY g ORDER BY v) AS cumb, "
        "sum(cca) OVER (PARTITION BY g) AS na, "
        "sum(ccb) OVER (PARTITION BY g) AS nb, "
        "lead(v) OVER (PARTITION BY g ORDER BY v) AS nv FROM m) "
        "SELECT g AS l_linestatus, max(na)::BIGINT AS n_a, "
        "max(nb)::BIGINT AS n_b, "
        "round(max(abs(cuma::DOUBLE / na - cumb::DOUBLE / nb)), 6) "
        "AS ks_stat, "
        "round(CASE WHEN max(abs(cuma::DOUBLE / na - cumb::DOUBLE / nb)) "
        "IS NOT NULL THEN coalesce(sum(abs(cuma::DOUBLE / na - "
        "cumb::DOUBLE / nb) * (nv - v)), 0.0) END, 6) "
        "AS wasserstein FROM r GROUP BY 1"
    )
