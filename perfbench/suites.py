"""The two expectation suites the workloads validate, and the comparison of
a validation report against the DuckDB oracle's expected values.

The suites are spelled out here rather than imported, so the benchmark's
work stays fixed when the repository's own scripts change.
"""

from __future__ import annotations

import math
from typing import Any

DOC_ID_REGEX = "^(hot[0-2]|p[0-9]{2})-[0-9]{12}$"
SOURCES = ["hot0", "hot1", "hot2"] + [f"p{i:02d}" for i in range(24)]
#: n_spans is generated uniform on 0..16; the KL baseline is that uniform
N_SPANS_VALUES = list(range(17))
QUANTILES = [0.25, 0.5, 0.75]


def _e(expectation_type: str, **kwargs: Any) -> dict:
    return {"expectation_type": expectation_type, "kwargs": kwargs}


#: the north-rule suite: validate_and_extract's suite in the repository's
#: bench.py (not-null, unique, regex on doc_id, and the row count)
NORTH_RULE = [
    _e("expect_column_values_to_not_be_null", column="doc_id", mostly=0.99),
    _e("expect_column_values_to_be_unique", column="doc_id", mostly=0.98),
    _e("expect_column_values_to_match_regex", column="doc_id",
       regex=DOC_ID_REGEX, mostly=0.98),
    _e("expect_table_row_count_to_be_between", min_value=1, max_value=10**15),
]

#: the micro-batch ingest suite: 12 expectations over doc_id, the derived
#: source column and n_spans, one of them row_condition-filtered
INGEST = [
    _e("expect_column_values_to_not_be_null", column="doc_id", mostly=0.99),
    _e("expect_column_values_to_be_unique", column="doc_id", mostly=0.98),
    _e("expect_column_values_to_match_regex", column="doc_id",
       regex=DOC_ID_REGEX, mostly=0.98),
    _e("expect_column_value_lengths_to_be_between", column="doc_id",
       min_value=16, max_value=17, mostly=0.99),
    _e("expect_column_values_to_be_in_set", column="source",
       value_set=SOURCES, mostly=0.99),
    _e("expect_column_values_to_be_between", column="n_spans",
       min_value=1, max_value=16, mostly=0.9),
    _e("expect_column_mean_to_be_between", column="n_spans",
       min_value=7, max_value=9),
    _e("expect_column_stdev_to_be_between", column="n_spans",
       min_value=4, max_value=6),
    _e("expect_column_quantile_values_to_be_between", column="n_spans",
       quantile_ranges={"quantiles": QUANTILES,
                        "value_ranges": [[2, 6], [6, 10], [10, 14]]}),
    _e("expect_column_kl_divergence_to_be_less_than", column="n_spans",
       partition_object={"values": N_SPANS_VALUES,
                         "weights": [1 / 17] * 17},
       threshold=0.05),
    _e("expect_column_values_to_be_between", column="n_spans",
       min_value=1, max_value=16, mostly=0.9,
       row_condition='source LIKE "hot%"', condition_parser="spark"),
    _e("expect_table_row_count_to_be_between", min_value=1, max_value=10**9),
]


def build(spec: list[dict]):
    from sparkcheck import ExpectationConfiguration, ExpectationSuite

    return ExpectationSuite(
        name="perfbench",
        expectations=[ExpectationConfiguration.from_dict(d) for d in spec],
    )


def kl_uniform(counts: dict[int, int]) -> float | None:
    """KL divergence of observed n_spans counts from the uniform baseline,
    with scipy.stats.entropy semantics; None when undefined (a value
    outside the baseline's support)."""
    n = sum(counts.values())
    if any(v not in N_SPANS_VALUES for v in counts):
        return None
    if n == 0:
        return 0.0
    q = 1 / len(N_SPANS_VALUES)
    return sum(
        (c / n) * math.log((c / n) / q) for c in counts.values() if c > 0
    )


def _close(got: Any, want: Any, rel: float = 1e-9) -> bool:
    if isinstance(want, dict):
        return isinstance(got, dict) and all(
            _close(got.get(k), v, rel) for k, v in want.items()
        )
    if isinstance(want, list):
        return (
            isinstance(got, (list, tuple))
            and len(got) == len(want)
            and all(_close(g, w, rel) for g, w in zip(got, want))
        )
    if isinstance(want, float) and isinstance(got, (int, float)):
        return math.isclose(got, want, rel_tol=rel, abs_tol=1e-12)
    return got == want


def mismatches(results: list[dict], expected: list[dict]) -> list[str]:
    """Differences between per-expectation results (each a dict holding
    the EVR's ``result`` fields) and the oracle's expected fields."""
    if len(results) != len(expected):
        return [f"{len(results)} results, {len(expected)} expected"]
    out = []
    for i, (got, want) in enumerate(zip(results, expected)):
        for key, value in want.items():
            if not _close(got.get(key), value):
                out.append(f"expectation {i} {key}: {got.get(key)!r} != {value!r}")
    return out


def report_results(report: dict) -> list[dict]:
    return [r.get("result", {}) for r in report["results"]]
