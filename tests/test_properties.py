"""Property-based tests: engine EVRs vs a pandas-computed oracle on
randomized small columns (hypothesis). Complements the fixed fixtures by
sweeping null placement, bounds, value sets, and mostly thresholds."""

from __future__ import annotations

import json
import math
import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sparkcheck import ExpectationConfiguration, ExpectationSuite, validate_df

SET = st.sampled_from(["a", "b", "c", "d"])
VALS = st.lists(st.one_of(st.none(), SET), min_size=1, max_size=30)
NUMS = st.lists(
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    min_size=1, max_size=30,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _run(spark, values, ddl, cfg):
    df = spark.createDataFrame([(v,) for v in values], ddl)
    suite = ExpectationSuite("p", [ExpectationConfiguration(*cfg)])
    return validate_df(df, suite, result_format="COMPLETE")["results"][0]


@_settings
@given(values=VALS, value_set=st.lists(SET, max_size=3), mostly=st.sampled_from([0.3, 0.7, 1.0]))
def test_in_set_matches_pandas(spark, values, value_set, mostly):
    s = pd.Series(values, dtype=object)
    nonnull = s.notna()
    unexpected = s[nonnull & ~s.isin(value_set)]
    evr = _run(spark, values, "c string",
               ("expect_column_values_to_be_in_set",
                {"column": "c", "value_set": value_set, "mostly": mostly}))
    res = evr["result"]
    assert res["unexpected_count"] == len(unexpected)
    assert sorted(res["unexpected_list"]) == sorted(unexpected.tolist())
    n = int(nonnull.sum())
    expected_success = (n == 0) or ((n - len(unexpected)) / n >= mostly)
    assert evr["success"] == expected_success


@_settings
@given(values=NUMS,
       lo=st.integers(min_value=-60, max_value=60),
       span=st.integers(min_value=0, max_value=60),
       strict=st.booleans())
def test_between_matches_pandas(spark, values, lo, span, strict):
    hi = lo + span
    s = pd.Series(values, dtype="float64")
    nonnull = s.notna()
    if strict:
        ok = (s > lo) & (s < hi)
    else:
        ok = (s >= lo) & (s <= hi)
    unexpected = s[nonnull & ~ok]
    evr = _run(spark, values, "c int",
               ("expect_column_values_to_be_between",
                {"column": "c", "min_value": lo, "max_value": hi,
                 "strict_min": strict, "strict_max": strict}))
    res = evr["result"]
    assert res["unexpected_count"] == len(unexpected)
    n = int(nonnull.sum())
    expected_success = (n == 0) or (len(unexpected) == 0)
    assert evr["success"] == expected_success


@_settings
@given(values=NUMS)
def test_aggregates_match_pandas(spark, values):
    s = pd.Series(values, dtype="float64")
    evr = _run(spark, values, "c int",
               ("expect_column_mean_to_be_between",
                {"column": "c", "min_value": -1000, "max_value": 1000}))
    observed = evr["result"]["observed_value"]
    if s.notna().sum() == 0:
        assert observed is None and not evr["success"]
    else:
        assert math.isclose(observed, float(s.mean()), rel_tol=1e-9)
        assert evr["success"]


@_settings
@given(values=VALS)
def test_unique_matches_pandas(spark, values):
    s = pd.Series(values, dtype=object)
    nonnull = s.dropna()
    counts = nonnull.value_counts()
    dup_rows = int(counts[counts > 1].sum()) if len(counts) else 0
    evr = _run(spark, values, "c string",
               ("expect_column_values_to_be_unique", {"column": "c"}))
    assert evr["result"]["unexpected_count"] == dup_rows


# --- round-2 parsers -------------------------------------------------------


@_settings
@given(
    col=st.sampled_from(["foo", "pk_2", "a-b.c"]),
    op=st.sampled_from([">", "<", ">=", "<=", "==", "!="]),
    num=st.one_of(
        st.integers(min_value=-1000, max_value=1000),
        st.floats(min_value=-100, max_value=100, allow_nan=False,
                  allow_infinity=False),
    ),
)
def test_ge_dsl_numeric_matches_pandas(spark, col, op, num):
    """Random col/op/number DSL conditions filter identically to pandas."""
    import operator as _op

    from sparkcheck.row_conditions import parse_condition_to_spark_sql

    values = [-500.0, -1.0, 0.0, 1.0, 2.0, 50.0, 999.0, None]
    sql = parse_condition_to_spark_sql(f'col("{col}") {op} {num!r}')
    df = spark.createDataFrame([(v,) for v in values], f"`{col}` double")
    got = sorted(
        r[col] for r in df.filter(sql).collect() if r[col] is not None
    )
    ops = {">": _op.gt, "<": _op.lt, ">=": _op.ge, "<=": _op.le,
           "==": _op.eq, "!=": _op.ne}
    want = sorted(
        float(v) for v in values if v is not None and ops[op](float(v), num)
    )
    assert got == want


@_settings
@given(
    a=st.integers(min_value=-50, max_value=50),
    b=st.integers(min_value=1, max_value=20),
    c=st.integers(min_value=-10, max_value=10),
)
def test_eval_param_arithmetic_matches_python(spark, a, b, c):
    from sparkcheck.evaluation_parameters import parse_evaluation_parameter

    params = {"a": a, "b": b, "c": c}
    for expr, want in [
        ("a + b * c", a + b * c),
        ("(a + b) * c", (a + b) * c),
        ("a - b / b", a - b / b),
        ("trunc(a / b) + c", int(a / b) + c),
        ("abs(c) ^ 2", abs(c) ** 2),
        ("-a + b", -a + b),
    ]:
        got = parse_evaluation_parameter(expr, params)
        assert got == want, (expr, got, want)


# ---------------------------------------------------------------------------
# round-4 curation-operator invariants
# ---------------------------------------------------------------------------

_TEXTS = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=12
)


@_settings
@given(texts=_TEXTS, block=st.sampled_from([1, 2, 3]))
def test_passage_dedup_invariants(spark, texts, block):
    from pyspark.sql import functions as F

    from sparkcheck import dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    out = dedup.drop_duplicate_passages(df, block_tokens=block)
    rows = {r["doc_id"]: r for r in out.collect()}
    # every doc accounted for
    assert set(rows) == set(range(len(texts)))
    # exactly one survivor per distinct passage, corpus-wide
    p = dedup.split_passages(df, block)
    kept = sum(r["kept_passages"] for r in rows.values())
    assert kept == p.select("passage").distinct().count()
    # each doc's rebuilt text is its original passage sequence minus cuts
    originals = {
        d: [r["passage"] for r in grp]
        for d, grp in __import__("itertools").groupby(
            sorted(p.collect(), key=lambda r: (r["doc_id"], r["idx"])),
            key=lambda r: r["doc_id"],
        )
    }
    for d, r in rows.items():
        got = r["text_dedup"].split(" ") if r["text_dedup"] else []
        orig = " ".join(originals.get(d, [])).split(" ") if originals.get(d) else []
        # survivors appear in original order (subsequence check on tokens)
        it = iter(orig)
        assert all(tok in it for tok in got), (d, got, orig)


@_settings
@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    cap=st.integers(1, 5),
)
def test_per_group_cap_invariants(spark, keys, cap):
    from sparkcheck import sampling

    df = spark.createDataFrame(
        [(k, f"g{k % 3}") for k in keys], "k int, g string"
    )
    out = sampling.per_group_cap(df, "g", cap, "k").collect()
    by = {}
    for r in out:
        by.setdefault(r["g"], set()).add(r["k"])
    sizes = {}
    for k in keys:
        sizes[f"g{k % 3}"] = sizes.get(f"g{k % 3}", 0) + 1
    for g, n in sizes.items():
        # exactly min(cap, |group|) kept per group
        assert len(by.get(g, set())) == min(cap, n), (g, cap, n)


@_settings
@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True),
    w=st.sampled_from([{"a": 0.5, "b": 0.5}, {"a": 0.7, "b": 0.2, "c": 0.1}]),
)
def test_hash_split_invariants(spark, keys, w):
    from sparkcheck import sampling

    df = spark.createDataFrame([(k,) for k in keys], "k int")
    got = {r["k"]: r["split"] for r in sampling.hash_split(df, w, "k").collect()}
    # total cover, names from the weight dict
    assert set(got) == set(keys)
    assert set(got.values()) <= set(w)
    # deterministic: a second run assigns identically
    again = {r["k"]: r["split"] for r in sampling.hash_split(df, w, "k").collect()}
    assert got == again


@given(vals=NUMS, p=st.sampled_from([0.0, 0.07, 0.25, 0.29, 0.5, 0.75, 0.93, 1.0]))
@_settings
def test_exact_quantiles_match_numpy_type1(spark, vals, p):
    """exact_quantiles == numpy's 'inverted_cdf' (type-1) quantile on any
    int/null mix — sweeps the float-rank hazard zone (0.07, 0.29, ...)."""
    import numpy as np

    from sparkcheck.stats import exact_quantiles

    df = spark.createDataFrame(
        [(float(v) if v is not None else None,) for v in vals], "x double"
    )
    nonnull = sorted(v for v in vals if v is not None)
    row = exact_quantiles(df, "x", [p]).collect()[0]
    name = "p" + ("%g" % (p * 100)).replace(".", "_")
    if not nonnull:
        assert row[name] is None
        return
    n = len(nonnull)
    from fractions import Fraction

    f = Fraction(str(p))
    k = max((f.numerator * n + f.denominator - 1) // f.denominator, 1)
    assert row[name] == float(nonnull[k - 1])
    if 0 < p <= 1:
        # numpy's inverted_cdf agrees with the type-1 definition for p>0
        assert row[name] == float(
            np.quantile(np.array(nonnull, dtype=float), p, method="inverted_cdf")
        )


@given(
    a_vals=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=25),
    b_vals=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=25),
)
@_settings
def test_two_sample_distances_match_scipy_formulas(spark, a_vals, b_vals):
    """KS == max ECDF gap; W1 == mean absolute difference of sorted
    quantile functions (computed here by the integral definition on the
    merged support) — verified against a direct python computation."""
    from sparkcheck.distribution import two_sample_distances

    a = spark.createDataFrame([(float(v),) for v in a_vals], "x double")
    b = spark.createDataFrame([(float(v),) for v in b_vals], "x double")
    r = two_sample_distances(a, b, "x").collect()[0]
    support = sorted(set(a_vals) | set(b_vals))
    na, nb = len(a_vals), len(b_vals)
    ks = 0.0
    w1 = 0.0
    for i, v in enumerate(support):
        fa = sum(1 for x in a_vals if x <= v) / na
        fb = sum(1 for x in b_vals if x <= v) / nb
        ks = max(ks, abs(fa - fb))
        if i + 1 < len(support):
            w1 += abs(fa - fb) * (support[i + 1] - v)
    assert abs(r["ks_stat"] - ks) < 1e-6
    assert abs(r["wasserstein"] - w1) < 1e-6


# ---------------------------------------------------------------------------
# the runner's single partition leg vs the two-pass reference
# ---------------------------------------------------------------------------

_DOC_IDS = st.one_of(
    st.none(),
    st.sampled_from(
        ["hot0-000000000001", "hot1-000000000002", "p07-000000000003",
         "p23-000000000004", "zz-000000000005"]
    ),
    st.integers(0, 10**6).map(lambda i: f"p{i % 24:02d}-{i:012d}"),
)
_SPAN = st.tuples(
    st.sampled_from(["text", "image", "bogus"]),
    st.sampled_from(["spark scan", "bad\x01text", None]),
    st.sampled_from([None, "media://b0/0001"]),
    st.one_of(st.none(), st.integers(0, 40)),
)
_DOC_FRAMES = st.lists(
    st.tuples(_DOC_IDS, st.one_of(st.none(), st.lists(_SPAN, max_size=4))),
    min_size=1, max_size=16,
)
_SUITE_POOL = [
    # observable whole-table aggregates
    ("expect_column_values_to_not_be_null", {"column": "doc_id", "mostly": 0.8}),
    ("expect_column_values_to_match_regex",
     {"column": "doc_id", "regex": "^(hot[0-2]|p[0-9]{2})-", "mostly": 0.8}),
    ("expect_table_row_count_to_be_between", {"min_value": 1}),
    # uniqueness: a groupBy, never observable
    ("expect_column_values_to_be_unique", {"column": "doc_id"}),
    # filtered domain: resolved by its own job
    ("expect_column_values_to_not_be_null",
     {"column": "doc_id", "row_condition": "n_spans > 1",
      "condition_parser": "spark"}),
    ("expect_column_mean_to_be_between",
     {"column": "n_spans", "min_value": 0, "max_value": 3}),
    ("expect_column_values_to_be_between",
     {"column": "n_spans", "min_value": 0, "max_value": 3, "mostly": 0.5}),
    # categorical KL: values outside 0..4 need their labels only with a
    # tail holdout
    ("expect_column_kl_divergence_to_be_less_than",
     {"column": "n_spans", "threshold": 0.5, "tail_weight_holdout": 0,
      "partition_object": {"values": [0, 1, 2, 3, 4], "weights": [0.2] * 5}}),
    ("expect_column_kl_divergence_to_be_less_than",
     {"column": "n_spans", "threshold": 0.5, "tail_weight_holdout": 0.1,
      "partition_object": {"values": [0, 1, 2, 3, 4], "weights": [0.2] * 5}}),
]
_DOCS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _py_partial_unexpected(rows, cfg, limit):
    """Pure-Python reference for an EVR's ``partial_unexpected_list``: the
    first ``limit`` values the ``_SUITE_POOL`` entry ``cfg`` flags, in the
    order of ``rows`` (``df.collect()``, i.e. partition order). None for an
    expectation without a sample. Uniqueness flags a non-null value that
    occurs more than once."""
    etype, kw = cfg
    col = kw.get("column")
    if etype == "expect_column_values_to_not_be_null":
        cond = kw.get("row_condition")
        assert cond in (None, "n_spans > 1")
        flagged = [
            r[col] for r in rows
            if r[col] is None and (cond is None or (r["n_spans"] or 0) > 1)
        ]
    elif etype == "expect_column_values_to_match_regex":
        flagged = [
            r[col] for r in rows
            if r[col] is not None and not re.search(kw["regex"], r[col])
        ]
    elif etype == "expect_column_values_to_be_unique":
        seen = [r[col] for r in rows if r[col] is not None]
        flagged = [v for v in seen if seen.count(v) > 1]
    elif etype == "expect_column_values_to_be_between":
        flagged = [
            r[col] for r in rows
            if r[col] is not None and not kw["min_value"] <= r[col] <= kw["max_value"]
        ]
    else:
        return None
    return flagged[:limit]


def _vkeys(rows):
    return sorted(
        (r["doc_id"] or "", r["span_index"], r["expectation"], r["observed_value"] or "")
        for r in rows
    )


def _py_span_violations(docs):
    """Pure-Python reference for ``spans.span_violations`` over
    ``(doc_id, spans)`` tuples, keyed like :func:`_vkeys`. SQL three-valued
    logic: a NULL kind, text or offset never makes a predicate true. The
    offset check compares each span with the IMMEDIATE previous span, so a
    NULL offset hides the pair on both of its sides."""
    from sparkcheck.spans import KNOWN_KINDS, PRINTABLE_RE

    out = []
    for doc_id, spans in docs:
        for i, (kind, text, ref, off) in enumerate(spans or []):
            key = doc_id or "", i
            if kind == "text" and text is not None and not re.search(PRINTABLE_RE, text):
                out.append((*key, "expect_span_text_printable", text))
            if kind is not None and (
                kind not in KNOWN_KINDS
                or (kind == "text" and (text is None or ref is not None))
                or (kind != "text" and (ref is None or text is not None))
            ):
                out.append((*key, "expect_span_kind_payload_consistent", kind))
            prev = spans[i - 1][3] if i > 0 else None
            if prev is not None and off is not None and off <= prev:
                out.append((*key, "expect_span_offsets_increasing", ""))
    return sorted(out)


def _result_rows(evrs):
    return sorted(
        (
            r["expectation_config"]["expectation_type"],
            r["expectation_config"]["kwargs"].get("column"),
            bool(r["success"]),
            r.get("result", {}).get("element_count"),
            r.get("result", {}).get("unexpected_count"),
            json.dumps(r, sort_keys=True, default=str),
        )
        for r in evrs
    )


@_settings
@given(
    docs=_DOC_FRAMES,
    picks=st.lists(
        st.integers(0, len(_SUITE_POOL) - 1), min_size=1, max_size=4, unique=True
    ),
    limit=st.sampled_from([3, 20]),
)
def test_single_scan_leg_matches_two_pass(spark, tmp_path, docs, picks, limit):
    """validate_and_extract == validate_df + span_violations on random doc
    frames and suites, every sampled EVR list == the pure-Python first
    ``limit`` flagged values in partition order, and every runner bucket's
    committed results rows == validate_df on that bucket."""
    import uuid

    from pyspark.sql import functions as F

    from sparkcheck.fused import validate_and_extract
    from sparkcheck.runner import CheckpointRunner, ParquetStore
    from sparkcheck.spans import span_violations

    # checkpointed: a frame parallelized from Python would re-run Python
    # workers on every one of the many scans below
    # two partitions, so "first in partition order" spans a boundary
    df = (
        spark.createDataFrame(docs, _DOCS_DDL)
        .repartition(2)
        .withColumn("n_spans", F.size("spans"))
        .localCheckpoint()
    )
    suite = ExpectationSuite(
        "diff", [ExpectationConfiguration(*_SUITE_POOL[i]) for i in picks]
    )
    rf = {"result_format": "BASIC", "partial_unexpected_count": limit}

    rep, rows, _ = validate_and_extract(
        df, suite, span_violations, result_format=rf
    )
    ref = validate_df(df, suite, result_format=rf)
    assert json.dumps(rep, sort_keys=True, default=str) == json.dumps(
        ref, sort_keys=True, default=str
    )
    collected = df.collect()
    for i, report in ((i, r) for i in picks for r in (rep, ref)):
        want = _py_partial_unexpected(collected, _SUITE_POOL[i], limit)
        evr = report["results"][picks.index(i)]
        if want is not None:
            assert evr["result"]["partial_unexpected_list"] == want
    span_rows = _vkeys(span_violations(df).collect())
    assert _vkeys(rows.collect()) == span_rows
    assert span_rows == _py_span_violations(docs)

    n_buckets = 2
    store = ParquetStore(str(tmp_path / uuid.uuid4().hex))
    CheckpointRunner(
        spark, store, n_buckets=n_buckets, violations_fn=span_violations
    ).run(df, suite, run_id="d")
    results = store.read(spark, "results").collect()
    violations = store.read(spark, "violations").collect()
    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))
    )
    for b in range(n_buckets):
        pid = f"bucket={b}"
        part = bucketed.filter(F.col("__bucket") == b).drop("__bucket")
        got = [json.loads(r["evr"]) for r in results if r["partition_id"] == pid]
        assert _result_rows(got) == _result_rows(validate_df(part, suite)["results"])
        assert _vkeys(r for r in violations if r["partition_id"] == pid) == _vkeys(
            span_violations(part).collect()
        )



_UNITS = ["p0", "p1", "p2", "p3", "p4"]
# one unit's append history: 1-3 deliveries, each 1-6 rows of a value
# that is sometimes NULL
_DELIVERIES = st.lists(
    st.lists(st.one_of(st.none(), st.integers(-5, 35)), min_size=1, max_size=6),
    min_size=1,
    max_size=3,
)
_HIST_EDGES = {"a": [0.0, 10.0, 20.0, 30.0], "b": [0.0, 3.0, 7.0]}
_SRC_DDL = "unit string, d int, a double, b double"


def _state_history(history, perm, append_ids):
    """Source rows (unit, delivery, a, b) and delivery records (unit,
    delivery, ts, append_id) of random append histories: each unit's
    deliveries get distinct ts, increasing within the unit and interleaved
    across units by ``perm``, and a random append_id."""
    from datetime import datetime, timedelta

    slots = iter(perm)
    meta, rows = [], []
    for u in _UNITS:
        ts = sorted(next(slots) for _ in history[u])
        for d, vals in enumerate(history[u]):
            meta.append(
                (u, d, datetime(2026, 1, 1) + timedelta(seconds=ts[d]), append_ids[len(meta)])
            )
            rows += [
                (u, d, None, None) if v is None else (u, d, float(v), float(v % 7))
                for v in vals
            ]
    return rows, meta


def _stamped(build, src, meta_df):
    """State rows of every delivery, keyed by its unit and stamped with the
    delivery's ts/append_id like a runner append."""
    from pyspark.sql import functions as F

    parts = F.split("state_key", "#")
    return (
        build(src, "concat(unit, '#', cast(d as string))")
        .withColumn("d", parts[1].cast("int"))
        .withColumn("state_key", parts[0])
        .join(meta_df.withColumnRenamed("unit", "state_key"), ["state_key", "d"])
        .drop("d")
        .withColumn("run_id", F.lit("r"))
    )


def _rounded(rows):
    return sorted(
        tuple(round(x, 6) if isinstance(x, float) else x for x in r) for r in rows
    )


@_settings
@given(
    history=st.fixed_dictionaries({u: _DELIVERIES for u in _UNITS}),
    perm=st.permutations(list(range(15))),
    append_ids=st.lists(
        st.text("0123456789abcdef", min_size=4, max_size=4), min_size=15, max_size=15
    ),
    committed=st.sets(st.sampled_from(_UNITS)),
)
def test_latest_committed_matches_newest_delivery_rescan(
    spark, history, perm, append_ids, committed
):
    """latest_committed over random append histories — orphan deliveries
    of uncommitted units, redelivered units — folds to exactly what a
    rescan of each committed unit's newest delivery gives."""
    from sparkcheck.states import (
        column_states,
        histogram_states,
        latest_committed,
        merge_histogram_states,
        merge_states,
    )

    rows, meta = _state_history(history, perm, append_ids)
    src = spark.createDataFrame(rows, _SRC_DDL).localCheckpoint()
    meta_df = spark.createDataFrame(
        meta, "unit string, d int, ts timestamp, append_id string"
    )
    newest = {u: d for u, d, _, _ in sorted(meta, key=lambda m: m[2]) if u in committed}
    ref = spark.createDataFrame(
        [r for r in rows if newest.get(r[0]) == r[1]], _SRC_DDL
    ).localCheckpoint()
    c = sorted(committed)

    h = _stamped(lambda d, k: column_states(d, ["a", "b"], k), src, meta_df)
    assert _rounded(merge_states(latest_committed(h, c)).collect()) == _rounded(
        merge_states(column_states(ref, ["a", "b"], "unit")).collect()
    )
    hh = _stamped(lambda d, k: histogram_states(d, _HIST_EDGES, k), src, meta_df)
    assert merge_histogram_states(latest_committed(hh, c)).collect() == (
        merge_histogram_states(histogram_states(ref, _HIST_EDGES, "unit")).collect()
    )


_HH_ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
        st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
    ),
    min_size=1,
    max_size=60,
)


@_settings
@given(
    rows=_HH_ROWS,
    as_string=st.booleans(),
    n_parts=st.integers(min_value=1, max_value=4),
    min_fraction=st.floats(min_value=0.05, max_value=0.5),
)
def test_heavy_hitter_sketch_brackets_exact_counts(
    spark, rows, as_string, n_parts, min_fraction
):
    """Mergeable heavy-hitter states over random frames, partitionings and
    NULL state keys: every certificate row brackets the exact count, a
    certified value really is heavy, no heavy value is missing, and
    ``heavy_hitters`` is the exact set. With k=64 both a-priori error
    bounds (1/65 and 3.5/128) lie below the smallest ``min_fraction``."""
    from collections import Counter

    from pyspark.sql import functions as F

    from sparkcheck.sketches import (
        certified_heavy_hitters,
        heavy_hitters,
        merge_mg_states,
        mg_states,
    )

    if as_string:
        rows = [(sk, None if v is None else f"v{v}") for sk, v in rows]
    ddl = f"sk string, v {'string' if as_string else 'long'}"
    df = spark.createDataFrame(rows, ddl).repartition(n_parts).localCheckpoint()
    n = len(rows)
    exact = Counter(v for _, v in rows if v is not None)
    threshold = min_fraction * n

    merged = merge_mg_states(mg_states(df, "v", 64, "sk"), 64).localCheckpoint()
    assert merged.agg(F.sum("pn")).collect()[0][0] == n
    cert = certified_heavy_hitters(merged, min_fraction).collect()
    for r in cert:
        assert r["lower"] <= exact[r["value"]] <= r["upper"]
        assert r["n"] == n
        if r["verdict"] == "certified":
            assert exact[r["value"]] >= threshold
    heavy = {(v, c) for v, c in exact.items() if c >= threshold}
    assert {v for v, _ in heavy} <= {r["value"] for r in cert}
    got = {(r["value"], r["cnt"]) for r in heavy_hitters(df, "v", min_fraction, k=64).collect()}
    assert got == heavy


# one aggregate path: every registered aggregate, resolved through the
# resolver, equals the same aggregate Columns in a plain df.agg. Doubles
# are dyadic so their sums are exact in any merge order; NaN, -0.0 and
# NULL are in the draw, and NaN of a span field is not masked (the
# resolver knows the dtypes of top-level columns only).
_AGG_D = st.one_of(st.none(), st.sampled_from([0.0, -0.0, 1.0, -2.5, 3.25, 1024.0, math.nan]))
_AGG_L = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))
_AGG_S = st.one_of(st.none(), st.sampled_from(["a", "b", "", "cc", "ddd"]))
_AGG_FRAMES = st.lists(
    st.tuples(
        _AGG_D, _AGG_L, _AGG_S,
        st.one_of(st.none(), st.lists(st.tuples(_AGG_D, _AGG_L, _AGG_S), max_size=3)),
    ),
    max_size=12,
)
_AGG_DDL = "d double, l long, s string, spans array<struct<d:double,l:long,s:string>>"
# (metric, column kinds it accepts, value kwargs)
_AGG_POOL = [
    ("table.row_count", (None,), {}),
    ("column.null_count", ("d", "l", "s"), {}),
    ("column.nonnull_count", ("d", "l", "s"), {}),
    ("column.mean", ("d", "l"), {}),
    ("column.standard_deviation", ("d", "l"), {}),
    ("column.min", ("d", "l", "s"), {}),
    ("column.max", ("d", "l", "s"), {}),
    ("column.sum", ("d", "l"), {}),
    ("column.distinct_values.count", ("d", "l", "s"), {"exact": True}),
    ("column.distinct_values.count", ("d", "l", "s"), {}),
    ("column.quantile_values", ("d", "l"), {"quantiles": (0.0, 0.5, 0.75)}),
    ("column.quantile_values", ("d", "l"), {"quantiles": (0.25, 0.5), "exact": True}),
    ("column.median", ("d", "l"), {}),
    ("column_values.length.min", ("s",), {}),
    ("column_values.length.max", ("s",), {}),
    ("map.unexpected_count", ("l",),
     {"condition": "column_values.between", "condition_kwargs": {"min_value": 0, "max_value": 3}}),
    ("map.unexpected_count", ("s",),
     {"condition": "column_values.in_set", "condition_kwargs": {"value_set": ["a", "cc"]}}),
    ("column.histogram", ("d", "l"), {"bins": (-1.0, 0.0, 1.0, 4.0)}),
    ("column.categorical_histogram", ("l",), {"values": [0, 1, 2]}),
    ("column.categorical_histogram", ("s",), {"values": ["a", "b", ""]}),
]
_AGG_DOMAINS = {
    "table": {},
    "row_condition": {"row_condition": "l > 0 OR s = 'a'"},
    "span": {"explode_col": "spans"},
}


def _same(a, b, close):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y, close) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12) if close else a == b
    return a == b


@_settings
@given(
    rows=_AGG_FRAMES,
    n_parts=st.integers(min_value=1, max_value=3),
    domain=st.sampled_from(sorted(_AGG_DOMAINS)),
    picks=st.lists(
        st.tuples(st.integers(0, len(_AGG_POOL) - 1), st.integers(0, 2)),
        min_size=1, max_size=6,
    ),
)
def test_resolved_aggregates_match_df_agg(spark, rows, n_parts, domain, picks):
    """``MetricResolver.resolve`` of a random subset of the registered
    aggregates over an unfiltered, a row_condition or a span domain equals
    ``domain.apply(df).agg(<the same agg_fn Columns>)``: exactly, except
    mean and stddev (merge order), and the exact distinct count equals
    ``countDistinct``."""
    from pyspark.sql import functions as F

    from sparkcheck.metrics import (
        Domain,
        MetricConfiguration,
        MetricResolver,
        domain_col,
        freeze_kwargs,
        get_metric_spec,
    )

    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, n_parts), _AGG_DDL)
    prefix = "__span." if domain == "span" else ""
    cfgs = {}
    for i, k in picks:
        name, kinds, kw = _AGG_POOL[i]
        kind = kinds[k % len(kinds)]
        dom = Domain(
            column=None if kind is None else prefix + kind, **_AGG_DOMAINS[domain]
        )
        cfg = MetricConfiguration(name, dom, freeze_kwargs(**kw))
        cfgs[cfg.id] = cfg

    resolver = MetricResolver(df)
    got = resolver.resolve(list(cfgs.values()), raise_errors=False)
    assert not resolver.failed, resolver.failed

    ctx = MetricResolver(df)
    cols = []
    for k, cfg in enumerate(cfgs.values()):
        if cfg.name == "column.distinct_values.count" and cfg.kw("exact"):
            col = F.countDistinct(domain_col(cfg.domain, ctx))
        else:
            col = get_metric_spec(cfg.name).agg_fn(cfg.domain, cfg, ctx)
        cols.append(col.alias(f"m{k}"))
    want = Domain(**_AGG_DOMAINS[domain]).apply(df).agg(*cols).collect()[0]
    for k, (mid, cfg) in enumerate(cfgs.items()):
        close = cfg.name in ("column.mean", "column.standard_deviation")
        assert _same(got[mid], want[f"m{k}"], close), (cfg.name, got[mid], want[f"m{k}"])
