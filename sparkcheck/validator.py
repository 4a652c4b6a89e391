"""Suite validation: plan -> resolve (bundled) -> finalize EVRs.

Reference lifecycle (SURVEY.md §3, validator/validator.py:966-1069
``graph_validate``): per-expectation metric requests are merged into ONE
suite-level set deduped by metric id, resolved with per-compute-domain agg
bundling, then each expectation shapes its EVR from the resolved dict.
Statistics block per reference validator.py:1909-1933.

Exception semantics: catch_exceptions (default True here, as in checkpoint
runs) converts a failing expectation into a failed EVR carrying
exception_info instead of aborting the suite (reference
validator.py:1159-1213).
"""

from __future__ import annotations

import traceback
from typing import Any

from pyspark.sql import DataFrame

from .expectations import get_expectation
from .metrics import MetricResolver
from .suite import ExpectationConfiguration, ExpectationSuite, parse_result_format


class Validator:
    def __init__(self, df: DataFrame):
        self.df = df
        self.resolver = MetricResolver(df)
        # interactive-mode suite: every expect_* call appends here, so a
        # notebook session can be exported with to_suite() (reference entry
        # point A, validator/validator.py:454-597)
        self.interactive_suite = ExpectationSuite("interactive")

    def __getattr__(self, name: str):
        """Interactive API: ``validator.expect_column_values_to_not_be_null(
        column="x", mostly=0.99)`` runs the single expectation immediately,
        returns its EVR, and records the configuration (reference
        Validator.__getattr__ :454-467 → inst_expectation :482-597).
        Metric results are memoized in the shared resolver, so repeated
        interactive calls reuse already-computed aggregates."""
        if name.startswith("expect_"):
            def run(**kwargs: Any) -> dict[str, Any]:
                result_format = kwargs.pop("result_format", None)
                cfg = ExpectationConfiguration(name, kwargs)
                report = self.validate(
                    ExpectationSuite("interactive_one", [cfg]),
                    result_format=result_format,
                )
                self.interactive_suite.expectations.append(cfg)
                return report["results"][0]

            return run
        raise AttributeError(name)

    def to_suite(self, name: str = "exported") -> ExpectationSuite:
        """Suite built from the interactive calls made on this validator."""
        return ExpectationSuite(name, list(self.interactive_suite.expectations))

    def validate(
        self,
        suite: ExpectationSuite,
        result_format: str | dict[str, Any] | None = None,
        catch_exceptions: bool = True,
        evaluation_parameters: dict[str, Any] | None = None,
        parameter_store: Any = None,
    ) -> dict[str, Any]:
        urn_resolver = None
        if parameter_store is not None:
            # urn:great_expectations:validations:... kwargs resolve against
            # a runner store's evaluation_parameters table (reference:
            # EvaluationParameterStore, core/evaluation_parameters.py:340-430)
            from .runner import resolve_validation_urn

            spark = self.df.sparkSession

            def urn_resolver(urn: str):
                return resolve_validation_urn(parameter_store, spark, urn)

        plans, stage1, errors = self._plan(
            suite, result_format, evaluation_parameters, urn_resolver, catch_exceptions
        )

        # stage 1: one bundled resolution across the whole suite
        self._resolve_safely(stage1, plans, errors, catch_exceptions)

        # stage 2: expectations that need resolved parameters (z-scores)
        stage2: list = []
        for i, (cfg, exp, rf) in enumerate(plans):
            if exp is None or i in errors:
                continue
            try:
                stage2.extend(exp.stage2_requests(cfg, rf, self.resolver).values())
            except Exception:  # noqa: BLE001
                if not catch_exceptions:
                    raise
                errors[i] = traceback.format_exc()
        if stage2:
            self._resolve_safely(stage2, plans, errors, catch_exceptions)

        # finalize
        results: list[dict[str, Any]] = []
        for i, (cfg, exp, rf) in enumerate(plans):
            if exp is not None and i not in errors:
                try:
                    evr = exp.validate(cfg, rf, self.resolver)
                except Exception:  # noqa: BLE001
                    if not catch_exceptions:
                        raise
                    errors[i] = traceback.format_exc()
            if i in errors or exp is None:
                evr = {
                    "success": False,
                    "exception_info": {
                        "raised_exception": True,
                        "exception_traceback": errors.get(i, "unknown expectation"),
                    },
                }
            else:
                evr.setdefault(
                    "exception_info",
                    {"raised_exception": False, "exception_traceback": None},
                )
            evr["expectation_config"] = cfg.to_dict()
            results.append(evr)

        evaluated = len(results)
        successful = sum(1 for r in results if r["success"])
        return {
            "success": all(r["success"] for r in results),
            "results": results,
            "statistics": {
                "evaluated_expectations": evaluated,
                "successful_expectations": successful,
                "unsuccessful_expectations": evaluated - successful,
                "success_percent": (successful / evaluated * 100) if evaluated else None,
            },
            "meta": {"expectation_suite_name": suite.name},
        }

    def _plan(
        self,
        suite: ExpectationSuite,
        result_format: str | dict[str, Any] | None = None,
        evaluation_parameters: dict[str, Any] | None = None,
        urn_resolver: Any = None,
        catch_exceptions: bool = True,
    ) -> tuple[list, list, dict[int, str]]:
        """Bind every expectation and collect its stage-1 metric requests.

        Returns ``(plans, stage1, errors)``: one ``(config, expectation,
        result_format)`` per expectation (expectation None when it cannot
        be bound), the requests, and the traceback of each expectation that
        failed to plan, by index. ``fused.validate_and_extract`` plans
        through here too, to know which requests ride its row action."""
        plans: list[tuple[ExpectationConfiguration, Any, dict[str, Any]]] = []
        stage1: list = []
        errors: dict[int, str] = {}
        for i, cfg in enumerate(suite.expectations):
            rf = parse_result_format(cfg.get("result_format", result_format))
            try:
                # always bind (even with no params) so self-contained
                # $PARAMETER expressions like now()-timedelta(...) resolve;
                # per-expectation so an unknown $PARAMETER fails only its
                # own EVR (reference validator.py:1583-1607 binding)
                cfg = _bind_config(cfg, evaluation_parameters or {}, urn_resolver)
                exp = get_expectation(cfg.expectation_type)
                stage1.extend(exp.metric_requests(cfg, rf).values())
                plans.append((cfg, exp, rf))
            except Exception:  # noqa: BLE001
                if not catch_exceptions:
                    raise
                errors[i] = traceback.format_exc()
                plans.append((cfg, None, rf))
        return plans, stage1, errors

    def _resolve_safely(self, requests, plans, errors, catch_exceptions) -> None:
        # per-metric failures are recorded in resolver.failed and re-raised
        # with their ORIGINAL exception when the expectation reads them at
        # finalize — so exception_info carries the real error message
        # (reference validator.py:1159-1213 keeps the metric exception)
        try:
            self.resolver.resolve(requests, raise_errors=not catch_exceptions)
        except Exception:  # noqa: BLE001 — e.g. dependency-graph stalls
            if not catch_exceptions:
                raise
            for r in requests:  # expectations touching it fail at finalize
                try:
                    self.resolver.resolve([r], raise_errors=False)
                except Exception:  # noqa: BLE001
                    pass


def _bind_config(
    cfg: ExpectationConfiguration,
    params: dict[str, Any],
    urn_resolver: Any = None,
) -> ExpectationConfiguration:
    """Substitute ``{"$PARAMETER": <name-or-expression>}`` kwarg values from
    the bound evaluation parameters (reference
    core/evaluation_parameters.py; priority runtime > suite per
    validator.py:1583-1607). A bare name passes its value through any type;
    anything else evaluates as the arithmetic DSL
    (``+ - * / ^``, trunc/round/abs/..., ``now()`` — see
    evaluation_parameters.parse_evaluation_parameter). Unknown names raise,
    which catch_exceptions converts into a failed EVR for that
    expectation."""
    from .evaluation_parameters import parse_evaluation_parameter

    def sub(v: Any) -> Any:
        if isinstance(v, dict) and set(v) == {"$PARAMETER"}:
            return parse_evaluation_parameter(v["$PARAMETER"], params, urn_resolver)
        if isinstance(v, dict):
            return {k: sub(x) for k, x in v.items()}
        if isinstance(v, list):
            return [sub(x) for x in v]
        return v

    return ExpectationConfiguration(cfg.expectation_type, sub(cfg.kwargs), cfg.meta)


def validate_df(
    df: DataFrame,
    suite: ExpectationSuite,
    result_format: str | dict[str, Any] | None = None,
    evaluation_parameters: dict[str, Any] | None = None,
    parameter_store: Any = None,
) -> dict[str, Any]:
    return Validator(df).validate(
        suite,
        result_format=result_format,
        evaluation_parameters=evaluation_parameters,
        parameter_store=parameter_store,
    )
