"""Expectation classes: declarative checks over resolved metrics.

Mirrors the reference's expectation layer (expectations/expectation.py):
  - ColumnMapExpectation -> requests element/nonnull/unexpected counts plus
    value samples per result_format (reference :2698-2847), success via the
    mostly threshold (:2900-2910), output via format_map_output.
  - ColumnAggregateExpectation -> requests one aggregate metric, success via
    the min/max/strict comparison of _validate_metric_value_between
    (reference :2345-2432).
  - Table-shape expectations (row_count / columns / column_count).

Validation is two-staged so the suite-level fused agg pass stays intact:
stage 1 collects every expectation's metric requests (deduped by metric id
across expectations, reference validator.py:1140-1157), resolves them in
bundled passes; stage 2 lets expectations that need resolved parameters
(z-scores need mean/stddev — reference column_values_z_score.py:107-140)
issue follow-up requests.
"""

from __future__ import annotations

from typing import Any

from .conditions import get_condition
from .metrics import Domain, MetricConfiguration, MetricResolver, freeze_kwargs
from .suite import ExpectationConfiguration, parse_result_format
from .summarize import format_map_output, mostly_success

_EXPECTATIONS: dict[str, "Expectation"] = {}


def register_expectation(exp: "Expectation") -> "Expectation":
    _EXPECTATIONS[exp.name] = exp
    return exp


def get_expectation(name: str) -> "Expectation":
    try:
        return _EXPECTATIONS[name]
    except KeyError:
        raise KeyError(f"expectation {name!r} is not registered") from None


def list_expectations() -> list[str]:
    return sorted(_EXPECTATIONS)


def _ignore_row_if_sql(cols: list[str], mode: str | None) -> str | None:
    """ignore_row_if as a SQL keep-filter for pair/multicolumn domains
    (reference: sparkdf_execution_engine.py:537-588). None for never/neither."""
    if not mode or not cols:
        return None
    nulls = [f"`{c}` IS NULL" for c in cols]
    if mode in ("both_values_are_missing", "all_values_are_missing"):
        return "NOT (" + " AND ".join(nulls) + ")"
    if mode in ("either_value_is_missing", "any_value_is_missing"):
        return "NOT (" + " OR ".join(nulls) + ")"
    return None


def build_domain(cfg: ExpectationConfiguration) -> Domain:
    from .row_conditions import resolve_row_condition

    multi_cols = list(cfg.get("column_list") or ())
    pair_cols = [c for c in (cfg.get("column_A"), cfg.get("column_B")) if c]
    ignore = cfg.get("ignore_row_if")
    if ignore is None:
        # reference defaults: multicolumn family "all_values_are_missing"
        # (expectation.py:3235), pair family "both_values_are_missing"
        # (expect_column_pair_values_to_be_equal.py:84)
        if multi_cols:
            ignore = "all_values_are_missing"
        elif len(pair_cols) == 2:
            ignore = "both_values_are_missing"
    ignore_sql = _ignore_row_if_sql(multi_cols or pair_cols, ignore)
    # span-level domains (expect_span_values_*): the accessor is a struct
    # field of the exploded spans array
    column = cfg.get("column")
    explode_col = None
    if cfg.get("span_field"):
        explode_col = cfg.get("spans_column", "spans")
        column = f"__span.{cfg.get('span_field')}"
    return Domain(
        row_condition=resolve_row_condition(
            cfg.get("row_condition"), cfg.get("condition_parser")
        ),
        filter_conditions=(ignore_sql,) if ignore_sql else (),
        column=column,
        column_a=cfg.get("column_A"),
        column_b=cfg.get("column_B"),
        column_list=tuple(multi_cols),
        explode_col=explode_col,
    )


class Expectation:
    name: str = ""
    # condition metric name for map expectations; None for aggregate/table
    condition_name: str | None = None

    def metric_requests(
        self, cfg: ExpectationConfiguration, rf: dict[str, Any]
    ) -> dict[str, MetricConfiguration]:
        raise NotImplementedError

    def stage2_requests(
        self,
        cfg: ExpectationConfiguration,
        rf: dict[str, Any],
        resolver: MetricResolver,
    ) -> dict[str, MetricConfiguration]:
        return {}

    def validate(
        self,
        cfg: ExpectationConfiguration,
        rf: dict[str, Any],
        resolver: MetricResolver,
    ) -> dict[str, Any]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# Column map family
# ---------------------------------------------------------------------------


class ColumnMapExpectation(Expectation):
    """Generic map expectation over a registered condition.

    ``condition_kwarg_keys`` are copied from the expectation kwargs into the
    condition builder's kwargs (the reference's success_keys,
    expectation.py:331-332).
    """

    def __init__(
        self,
        name: str,
        condition_name: str,
        condition_kwarg_keys: tuple[str, ...] = (),
        defaults: dict[str, Any] | None = None,
    ):
        self.name = name
        self.condition_name = condition_name
        self.condition_kwarg_keys = condition_kwarg_keys
        self.defaults = defaults or {}

    def _condition_kwargs(self, cfg: ExpectationConfiguration) -> dict[str, Any]:
        out = dict(self.defaults)
        for k in self.condition_kwarg_keys:
            if cfg.get(k) is not None:
                out[k] = cfg.get(k)
        return out

    def resolved_condition_kwargs(
        self, cfg: ExpectationConfiguration, resolver: MetricResolver
    ) -> dict[str, Any]:
        """Condition kwargs with any stage-1 statistics resolved — what
        violation-row extraction (summarize.suite_violations) must use for
        two-stage expectations whose condition needs computed parameters
        (z-scores need mean/stddev before the mask can be built)."""
        return self._condition_kwargs(cfg)

    def _frozen_cond(self, cfg: ExpectationConfiguration, **extra: Any) -> tuple:
        return freeze_kwargs(
            condition=self.condition_name,
            condition_kwargs=self._condition_kwargs(cfg),
            **extra,
        )

    def metric_requests(self, cfg, rf):
        return self._map_requests(cfg, rf)

    def _map_requests(self, cfg, rf):
        """The map-family metric set. Kept separate from metric_requests so
        two-stage subclasses (z-scores) can override metric_requests for
        stage-1 stats without breaking the shared validate() path."""
        domain = build_domain(cfg)
        spec = get_condition(self.condition_name)
        reqs: dict[str, MetricConfiguration] = {
            "element_count": MetricConfiguration("table.row_count", domain)
        }
        if spec.ignore_nulls and domain.column is not None:
            reqs["nonnull_count"] = MetricConfiguration("column.nonnull_count", domain)
        count_metric = (
            "map.unexpected_count.window" if spec.is_window else "map.unexpected_count"
        )
        reqs["unexpected_count"] = MetricConfiguration(
            count_metric, domain, self._frozen_cond(cfg)
        )
        # a sample limit of 0 requests no sample at all (reference limit(0));
        # only COMPLETE is unlimited
        limit = (
            None if rf["result_format"] == "COMPLETE" else rf["partial_unexpected_count"]
        )
        samples = {
            "unexpected_values": rf["result_format"] in ("BASIC", "SUMMARY", "COMPLETE"),
            "unexpected_rows": rf["result_format"] != "BOOLEAN_ONLY"
            and rf.get("include_unexpected_rows"),
            "unexpected_index_list": rf["result_format"] in ("SUMMARY", "COMPLETE")
            and rf.get("unexpected_index_column_names"),
        }
        for key, wanted in samples.items():
            if not wanted or limit == 0:
                continue
            extra = {"limit": limit}
            if key == "unexpected_index_list":
                extra["index_columns"] = tuple(rf["unexpected_index_column_names"])
            reqs[key] = MetricConfiguration(
                f"map.{key}", domain, self._frozen_cond(cfg, **extra)
            )
        return reqs

    def validate(self, cfg, rf, resolver):
        reqs = self._map_requests(cfg, rf)
        element_count = int(resolver[reqs["element_count"]] or 0)
        if "nonnull_count" in reqs:
            nonnull_count = int(resolver[reqs["nonnull_count"]] or 0)
        else:
            nonnull_count = element_count
        unexpected_count = int(resolver[reqs["unexpected_count"]] or 0)
        mostly = float(cfg.get("mostly", 1.0))
        success = mostly_success(nonnull_count, unexpected_count, mostly)

        def sample(key: str, wanted: Any) -> Any:
            if key in reqs:
                return resolver[reqs[key]]
            return [] if wanted else None  # [] under a limit of 0

        values = sample("unexpected_values", True)
        index_list = sample(
            "unexpected_index_list", rf.get("unexpected_index_column_names")
        )
        rows = sample("unexpected_rows", rf.get("include_unexpected_rows"))
        return format_map_output(
            rf,
            success,
            element_count=element_count,
            nonnull_count=nonnull_count,
            unexpected_count=unexpected_count,
            partial_unexpected_list=values,
            unexpected_list=values if rf["result_format"] == "COMPLETE" else None,
            unexpected_index_list=index_list,
            unexpected_rows=rows,
        )


class ZScoreExpectation(ColumnMapExpectation):
    """expect_column_value_z_scores_to_be_less_than: needs resolved
    mean/stddev before the condition can be built (two-stage)."""

    def __init__(self) -> None:
        super().__init__(
            "expect_column_value_z_scores_to_be_less_than",
            "column_values.z_score.under_threshold",
            ("threshold", "double_sided"),
        )

    def _stats_reqs(self, cfg) -> dict[str, MetricConfiguration]:
        domain = build_domain(cfg)
        return {
            "mean": MetricConfiguration("column.mean", domain),
            "stddev": MetricConfiguration("column.standard_deviation", domain),
        }

    def metric_requests(self, cfg, rf):
        return self._stats_reqs(cfg)

    def stage2_requests(self, cfg, rf, resolver):
        stats = self._stats_reqs(cfg)
        cfg2 = self._with_stats(cfg, resolver, stats)
        return self._map_requests(cfg2, rf)

    def _with_stats(self, cfg, resolver, stats) -> ExpectationConfiguration:
        kw = dict(cfg.kwargs)
        kw["mean"] = float(resolver[stats["mean"]])
        kw["stddev"] = float(resolver[stats["stddev"]])
        return ExpectationConfiguration(cfg.expectation_type, kw, cfg.meta)

    def _condition_kwargs(self, cfg):
        out = super()._condition_kwargs(cfg)
        if cfg.get("mean") is not None:
            out["mean"] = cfg.get("mean")
            out["stddev"] = cfg.get("stddev")
        out.setdefault("double_sided", True)
        return out

    def resolved_condition_kwargs(self, cfg, resolver):
        stats = self._stats_reqs(cfg)
        resolver.resolve(list(stats.values()))
        return self._condition_kwargs(self._with_stats(cfg, resolver, stats))

    def validate(self, cfg, rf, resolver):
        stats = self._stats_reqs(cfg)
        cfg2 = self._with_stats(cfg, resolver, stats)
        return super().validate(cfg2, rf, resolver)


# ---------------------------------------------------------------------------
# Column aggregate family (value-between semantics)
# ---------------------------------------------------------------------------


def validate_value_between(
    value: Any,
    min_value: Any = None,
    max_value: Any = None,
    strict_min: bool = False,
    strict_max: bool = False,
) -> bool:
    """Port of _validate_metric_value_between (expectation.py:2345-2432)."""
    if value is None:
        return False
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        # reference expectation.py:2394-2411 — a datetime observed value
        # parses string bounds unconditionally (not gated on
        # parse_strings_as_datetimes)
        from dateutil.parser import parse as _parse

        if isinstance(min_value, str):
            min_value = _parse(min_value)
        if isinstance(max_value, str):
            max_value = _parse(max_value)
    ok = True
    if min_value is not None:
        ok = ok and (value > min_value if strict_min else value >= min_value)
    if max_value is not None:
        ok = ok and (value < max_value if strict_max else value <= max_value)
    return bool(ok)


class ColumnAggregateExpectation(Expectation):
    def __init__(self, name: str, metric_name: str, value_kwarg_keys: tuple[str, ...] = ()):
        self.name = name
        self.metric_name = metric_name
        self.value_kwarg_keys = value_kwarg_keys

    def _metric_cfg(self, cfg: ExpectationConfiguration) -> MetricConfiguration:
        domain = build_domain(cfg)
        vk = {
            k: cfg.get(k) for k in self.value_kwarg_keys if cfg.get(k) is not None
        }
        return MetricConfiguration(self.metric_name, domain, freeze_kwargs(**vk))

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        observed = resolver[self._metric_cfg(cfg)]
        success = validate_value_between(
            observed,
            min_value=cfg.get("min_value"),
            max_value=cfg.get("max_value"),
            strict_min=bool(cfg.get("strict_min", False)),
            strict_max=bool(cfg.get("strict_max", False)),
        )
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed}
        return ret


class QuantileValuesExpectation(Expectation):
    """expect_column_quantile_values_to_be_between — per-quantile ranges.

    reference: expect_column_quantile_values_to_be_between.py:148 (dep
    column.quantile_values) + per-quantile value_ranges check.
    kwargs: quantile_ranges={"quantiles": [...], "value_ranges": [[lo,hi],...]},
    allow_relative_error / exact.
    """

    name = "expect_column_quantile_values_to_be_between"

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        qr = cfg.get("quantile_ranges") or {}
        return MetricConfiguration(
            "column.quantile_values",
            build_domain(cfg),
            freeze_kwargs(
                quantiles=tuple(qr.get("quantiles", ())),
                exact=bool(cfg.get("exact", True)),
                accuracy=int(cfg.get("accuracy", 10000)),
            ),
        )

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        qr = cfg.get("quantile_ranges") or {}
        quantiles = list(qr.get("quantiles", ()))
        ranges = list(qr.get("value_ranges", ()))
        observed = list(resolver[self._metric_cfg(cfg)] or [])
        per_q = []
        for val, (lo, hi) in zip(observed, ranges):
            per_q.append(
                validate_value_between(val, min_value=lo, max_value=hi)
            )
        success = all(per_q) if per_q else True
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {
                "observed_value": {"quantiles": quantiles, "values": observed},
                "details": {"success_details": per_q},
            }
        return ret


# ---------------------------------------------------------------------------
# Table-shape family
# ---------------------------------------------------------------------------


class TableRowCountExpectation(Expectation):
    def __init__(self, name: str, mode: str):
        self.name = name
        self.mode = mode  # 'equal' | 'between'

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration("table.row_count", build_domain(cfg))

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        observed = int(resolver[self._metric_cfg(cfg)] or 0)
        if self.mode == "equal":
            success = observed == int(cfg.get("value"))
        else:
            success = validate_value_between(
                observed, cfg.get("min_value"), cfg.get("max_value")
            )
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed}
        return ret


class TableColumnsExpectation(Expectation):
    def __init__(self, name: str, mode: str):
        self.name = name
        self.mode = mode  # 'ordered_list' | 'set' | 'exist' | 'count_equal' | 'count_between'

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration("table.columns", build_domain(cfg))

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        cols = list(resolver[self._metric_cfg(cfg)])
        if self.mode == "ordered_list":
            want_list = cfg.get("column_list")
            # column_list=None is vacuously true (reference fixture:
            # null_list_provides_vacuously_true_expectation)
            success = want_list is None or cols == list(want_list)
            observed: Any = cols
        elif self.mode == "set":
            want = set(cfg.get("column_set") or ())
            exact = bool(cfg.get("exact_match", True))
            success = set(cols) == want if exact else want <= set(cols)
            observed = cols
        elif self.mode == "exist":
            idx = cfg.get("column_index")
            # DELIBERATE truthiness (not `is not None`): the reference's own
            # `if expected_column_index:` (expect_column_to_exist.py
            # _validate) treats column_index=0 as unset and degrades to a
            # membership check — we mirror that quirk for fixture parity
            if idx:
                # zero-indexed positional check (ref expect_column_to_exist
                # _validate: actual_columns[column_index] == column)
                try:
                    success = cols[int(idx)] == cfg.get("column")
                except IndexError:
                    success = False
            else:
                success = cfg.get("column") in cols
            observed = cols
        elif self.mode == "count_equal":
            success = len(cols) == int(cfg.get("value"))
            observed = len(cols)
        else:  # count_between
            success = validate_value_between(
                len(cols), cfg.get("min_value"), cfg.get("max_value")
            )
            observed = len(cols)
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed}
        return ret


class DistinctValuesSetExpectation(Expectation):
    """distinct_values in/contain/equal set (reference:
    expect_column_distinct_values_to_{be_in,contain,equal}_set.py)."""

    def __init__(self, name: str, mode: str):
        self.name = name
        self.mode = mode  # 'in' | 'contain' | 'equal'

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration(
            "column.value_counts", build_domain(cfg), freeze_kwargs(sort="value")
        )

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        vc = resolver[self._metric_cfg(cfg)]
        observed = sorted({v for v, _ in vc})
        value_set = cfg.get("value_set")
        report = observed
        if cfg.get("parse_strings_as_datetimes"):
            # reference parses BOTH sides to datetimes and the EVR then
            # carries the parsed values (isoformat after JSON serialization)
            from dateutil.parser import parse as _parse  # noqa: PLC0415

            observed = [_parse(v) for v in observed]
            report = [d.isoformat() for d in observed]
            if value_set is not None:
                value_set = [_parse(v) for v in value_set]
        got = set(observed)
        if value_set is None and self.mode == "in":
            success = True  # vacuously true universal set (ref semantics)
        else:
            want = set(value_set or ())
            if self.mode == "in":
                success = got <= want
            elif self.mode == "contain":
                success = want <= got
            else:
                success = got == want
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": report}
        return ret


class UniqueValueCountExpectation(ColumnAggregateExpectation):
    def __init__(self) -> None:
        super().__init__(
            "expect_column_unique_value_count_to_be_between",
            "column.distinct_values.count",
            ("exact", "rsd"),
        )


class MostCommonValueExpectation(Expectation):
    name = "expect_column_most_common_value_to_be_in_set"

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration("column.most_common_value", build_domain(cfg))

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        observed = resolver[self._metric_cfg(cfg)]
        want = set(cfg.get("value_set") or ())
        if cfg.get("ties_okay"):
            success = bool(set(observed) & want)
        else:
            success = len(observed) == 1 and observed[0] in want
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed}
        return ret


class ColumnTypeExpectation(Expectation):
    """of_type / in_type_list — on Spark these are schema-metadata checks,
    not per-row scans (reference: expect_column_values_to_be_of_type.py:406-550)."""

    def __init__(self, name: str, mode: str):
        self.name = name
        self.mode = mode  # 'of_type' | 'in_type_list'

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration("table.column_types", build_domain(cfg))

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    @staticmethod
    def _norm(t: str) -> str:
        t = t.lower().removesuffix("type").strip()
        return {"integer": "int", "long": "bigint", "str": "string"}.get(t, t)

    def validate(self, cfg, rf, resolver):
        types = {d["name"]: d["type"] for d in resolver[self._metric_cfg(cfg)]}
        observed = types.get(cfg.get("column"))
        if self.mode == "of_type":
            want = None if cfg.get("type_") is None else [cfg.get("type_")]
        else:
            want = cfg.get("type_list")
        if want is None:
            # type_=None / type_list=None is the reference's "placeholder
            # expectation" — vacuously true
            # (expect_column_values_to_be_in_type_list.py:278-283)
            success = True
        else:
            success = observed is not None and self._norm(observed) in {
                self._norm(w) for w in want
            }
        ret: dict[str, Any] = {"success": success}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {"observed_value": observed}
        return ret


# ---------------------------------------------------------------------------
# Registrations (the core-55 subset we cover natively; SURVEY.md §2.10)
# ---------------------------------------------------------------------------

_MAP_EXPECTATIONS = [
    ("expect_column_values_to_not_be_null", "column_values.nonnull", ()),
    ("expect_column_values_to_be_null", "column_values.null", ()),
    ("expect_column_values_to_be_in_set", "column_values.in_set", ("value_set",)),
    ("expect_column_values_to_not_be_in_set", "column_values.not_in_set", ("value_set",)),
    (
        "expect_column_values_to_be_between",
        "column_values.between",
        ("min_value", "max_value", "strict_min", "strict_max",
         "parse_strings_as_datetimes"),
    ),
    ("expect_column_values_to_match_regex", "column_values.match_regex", ("regex",)),
    ("expect_column_values_to_not_match_regex", "column_values.not_match_regex", ("regex",)),
    (
        "expect_column_values_to_match_regex_list",
        "column_values.match_regex_list",
        ("regex_list", "match_on"),
    ),
    (
        "expect_column_values_to_not_match_regex_list",
        "column_values.not_match_regex_list",
        ("regex_list",),
    ),
    (
        "expect_column_values_to_match_like_pattern",
        "column_values.match_like_pattern",
        ("like_pattern",),
    ),
    (
        "expect_column_values_to_not_match_like_pattern",
        "column_values.not_match_like_pattern",
        ("like_pattern",),
    ),
    (
        "expect_column_values_to_match_like_pattern_list",
        "column_values.match_like_pattern_list",
        ("like_pattern_list", "match_on"),
    ),
    (
        "expect_column_values_to_not_match_like_pattern_list",
        "column_values.not_match_like_pattern_list",
        ("like_pattern_list",),
    ),
    (
        "expect_column_value_lengths_to_be_between",
        "column_values.value_length.between",
        ("min_value", "max_value"),
    ),
    (
        "expect_column_value_lengths_to_equal",
        "column_values.value_length.equals",
        ("value",),
    ),
    (
        "expect_column_values_to_match_strftime_format",
        "column_values.match_strftime_format",
        ("strftime_format",),
    ),
    (
        "expect_column_values_to_be_json_parseable",
        "column_values.json_parseable",
        (),
    ),
    ("expect_column_values_to_be_unique", "column_values.unique", ()),
    (
        "expect_column_values_to_be_increasing",
        "column_values.increasing",
        ("strictly", "order_by"),
    ),
    (
        "expect_column_values_to_be_decreasing",
        "column_values.decreasing",
        ("strictly", "order_by"),
    ),
    (
        "expect_column_pair_values_to_be_equal",
        "column_pair_values.equal",
        (),
    ),
    (
        "expect_column_pair_values_a_to_be_greater_than_b",
        "column_pair_values.a_greater_than_b",
        ("or_equal", "parse_strings_as_datetimes"),
    ),
    # the reference's test_definitions use the capital-A/B spelling
    # (expect_column_pair_values_A_to_be_greater_than_B.json) — register
    # both so GX suites load verbatim
    (
        "expect_column_pair_values_A_to_be_greater_than_B",
        "column_pair_values.a_greater_than_b",
        ("or_equal", "parse_strings_as_datetimes"),
    ),
    (
        "expect_column_pair_values_to_be_in_set",
        "column_pair_values.in_set",
        ("value_pairs_set",),
    ),
    (
        "expect_compound_columns_to_be_unique",
        "compound_columns.unique",
        (),
    ),
    # legacy alias in the reference's core-55 registry: same compound-key
    # uniqueness semantics ("unique together, all duplicate instances fail" —
    # ref expect_multicolumn_values_to_be_unique.py:27-49)
    (
        "expect_multicolumn_values_to_be_unique",
        "compound_columns.unique",
        (),
    ),
    (
        "expect_multicolumn_sum_to_equal",
        "multicolumn_sum.equal",
        ("sum_total",),
    ),
    (
        "expect_select_column_values_to_be_unique_within_record",
        "select_column_values.unique.within_record",
        (),
    ),
]

for _name, _cond, _keys in _MAP_EXPECTATIONS:
    register_expectation(ColumnMapExpectation(_name, _cond, _keys))

# Span-level expectations (north-rule capability; the reference never
# explodes nested data — SURVEY §1): the same map conditions applied per
# SPAN of an interleaved document. kwargs: span_field (struct field name),
# spans_column (default "spans") + the condition's own keys. element_count
# in the EVR is the SPAN count; violation rows carry __span_index.
_SPAN_MAP_EXPECTATIONS = [
    ("expect_span_values_to_not_be_null", "column_values.nonnull", ()),
    ("expect_span_values_to_be_null", "column_values.null", ()),
    ("expect_span_values_to_be_in_set", "column_values.in_set", ("value_set",)),
    ("expect_span_values_to_match_regex", "column_values.match_regex", ("regex",)),
    (
        "expect_span_values_to_be_between",
        "column_values.between",
        ("min_value", "max_value", "strict_min", "strict_max"),
    ),
    (
        "expect_span_value_lengths_to_be_between",
        "column_values.value_length.between",
        ("min_value", "max_value"),
    ),
]
for _name, _cond, _keys in _SPAN_MAP_EXPECTATIONS:
    register_expectation(ColumnMapExpectation(_name, _cond, _keys))

register_expectation(ZScoreExpectation())

_AGG_EXPECTATIONS = [
    ("expect_column_mean_to_be_between", "column.mean"),
    ("expect_column_stdev_to_be_between", "column.standard_deviation"),
    ("expect_column_median_to_be_between", "column.median"),
    ("expect_column_min_to_be_between", "column.min"),
    ("expect_column_max_to_be_between", "column.max"),
    ("expect_column_sum_to_be_between", "column.sum"),
    (
        "expect_column_proportion_of_unique_values_to_be_between",
        "column.unique_proportion",
    ),
]
for _name, _metric in _AGG_EXPECTATIONS:
    register_expectation(ColumnAggregateExpectation(_name, _metric, ("exact",)))

register_expectation(QuantileValuesExpectation())
register_expectation(UniqueValueCountExpectation())
register_expectation(MostCommonValueExpectation())
register_expectation(TableRowCountExpectation("expect_table_row_count_to_equal", "equal"))
register_expectation(
    TableRowCountExpectation("expect_table_row_count_to_be_between", "between")
)
register_expectation(
    TableColumnsExpectation("expect_table_columns_to_match_ordered_list", "ordered_list")
)
register_expectation(TableColumnsExpectation("expect_table_columns_to_match_set", "set"))
register_expectation(TableColumnsExpectation("expect_column_to_exist", "exist"))
register_expectation(
    TableColumnsExpectation("expect_table_column_count_to_equal", "count_equal")
)
register_expectation(
    TableColumnsExpectation("expect_table_column_count_to_be_between", "count_between")
)
register_expectation(DistinctValuesSetExpectation("expect_column_distinct_values_to_be_in_set", "in"))
register_expectation(
    DistinctValuesSetExpectation("expect_column_distinct_values_to_contain_set", "contain")
)
register_expectation(
    DistinctValuesSetExpectation("expect_column_distinct_values_to_equal_set", "equal")
)
register_expectation(ColumnTypeExpectation("expect_column_values_to_be_of_type", "of_type"))
register_expectation(
    ColumnTypeExpectation("expect_column_values_to_be_in_type_list", "in_type_list")
)


# ---------------------------------------------------------------------------
# Cross-table + SQL-query escape hatch (SURVEY.md §2.3 other_table, §2.8)
# ---------------------------------------------------------------------------


class RowCountEqualOtherTableExpectation(Expectation):
    """expect_table_row_count_to_equal_other_table(other_table=<registered
    name>). Reference compares table.row_count across two domains
    (expect_table_row_count_to_equal_other_table.py:77-85); ours counts the
    active DataFrame and a table registered via referential.register_table."""

    name = "expect_table_row_count_to_equal_other_table"

    def _metric_cfg(self, cfg) -> MetricConfiguration:
        return MetricConfiguration("table.row_count", build_domain(cfg))

    def metric_requests(self, cfg, rf):
        return {"metric": self._metric_cfg(cfg)}

    def validate(self, cfg, rf, resolver):
        from .referential import get_table

        observed = int(resolver[self._metric_cfg(cfg)] or 0)
        # reference kwarg is other_table_name
        # (expect_table_row_count_to_equal_other_table.py:69); other_table
        # kept as the fluent alias
        other = get_table(
            cfg.get("other_table_name") or cfg.get("other_table")
        ).count()
        ret: dict[str, Any] = {"success": observed == other}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {
                "observed_value": {"self": observed, "other": other}
            }
        return ret


class SqlQueryExpectation(Expectation):
    """expect_query_to_return_no_unexpected_rows(query=...): the SQL escape
    hatch. The query runs with ``{active_batch}`` substituted by a temp view
    over the validated DataFrame (reference query_metrics/query_table.py:
    64-88 — createOrReplaceTempView + engine.sql). Success iff the query
    returns zero rows; returned rows ARE the violations (capped sample in
    the EVR)."""

    name = "expect_query_to_return_no_unexpected_rows"

    def metric_requests(self, cfg, rf):
        return {}

    def validate(self, cfg, rf, resolver):
        import uuid as _uuid

        df = resolver.df
        # unique per-call view name: a fixed name lets two validators on the
        # same SparkSession clobber each other's view and silently query the
        # wrong DataFrame; dropped in finally so nothing leaks
        view = f"sparkcheck_active_batch_{_uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        try:
            sql = cfg.get("query", "").replace("{active_batch}", view)
            out = df.sparkSession.sql(sql)
            limit = rf["partial_unexpected_count"]
            sample = out.limit(limit + 1).collect()
        finally:
            df.sparkSession.catalog.dropTempView(view)
        n = len(sample)
        ret: dict[str, Any] = {"success": n == 0}
        if rf["result_format"] != "BOOLEAN_ONLY":
            ret["result"] = {
                "observed_value": f"{'>' if n > limit else ''}{min(n, limit)} rows",
                "partial_unexpected_list": [r.asDict() for r in sample[:limit]],
            }
        return ret


register_expectation(RowCountEqualOtherTableExpectation())
register_expectation(SqlQueryExpectation())
register_expectation(
    ColumnMapExpectation(
        "expect_column_values_to_be_dateutil_parseable",
        "column_values.dateutil_parseable",
        (),
    )
)
register_expectation(
    ColumnMapExpectation(
        "expect_column_values_to_match_json_schema",
        "column_values.match_json_schema",
        ("json_schema",),
    )
)
register_expectation(
    ColumnMapExpectation(
        "expect_column_values_to_be_media_decodable",
        "column_values.media_decodable",
        ("formats", "check"),
    )
)
register_expectation(
    ColumnMapExpectation(
        "expect_column_vector_lengths_to_equal",
        "column_values.vector_size.equals",
        ("value",),
    )
)
register_expectation(
    ColumnMapExpectation(
        "expect_column_vector_norms_to_be_between",
        "column_values.vector_norm.between",
        ("min_value", "max_value", "strict_min", "strict_max"),
    )
)
register_expectation(
    ColumnMapExpectation(
        "expect_column_vector_values_to_be_finite",
        "column_values.vector_finite",
        (),
    )
)
