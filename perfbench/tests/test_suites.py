import math

from perfbench import suites


def test_mismatch_reports_a_wrong_expected_value():
    results = [{"element_count": 10, "unexpected_count": 2},
               {"observed_value": {"quantiles": [0.5], "values": [4.0]}}]
    right = [{"element_count": 10, "unexpected_count": 2},
             {"observed_value": {"quantiles": [0.5], "values": [4.0 + 1e-12]}}]
    assert suites.mismatches(results, right) == []
    wrong = [{"element_count": 10, "unexpected_count": 3}, right[1]]
    assert suites.mismatches(results, wrong) == [
        "expectation 0 unexpected_count: 2 != 3"
    ]
    assert suites.mismatches(results, right[:1]) == ["2 results, 1 expected"]


def test_kl_uniform():
    assert suites.kl_uniform({v: 5 for v in suites.N_SPANS_VALUES}) == 0.0
    assert suites.kl_uniform({0: 1}) == math.log(17)
    assert suites.kl_uniform({17: 1}) is None
