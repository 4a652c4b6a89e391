"""Referential-integrity checks via anti-joins (north-rule addition).

The reference has no table-vs-table membership check (SURVEY.md §2.13 —
``isin`` only takes literal lists). At 100 TB a literal list is useless, so
we add ``expect_column_values_to_be_in_table``:

    violations = fact.join(dim_keys, on=key, how="left_anti")

Join strategy:
  - dim side below ``broadcast_threshold`` rows -> ``F.broadcast(dim)``
    (hash join, no shuffle of the 100 TB fact side).
  - larger dims -> salted sort-merge anti-join: the dim side is exploded
    ``salt_factor`` ways and the fact side joins on (key, salt) so one hot
    key's rows spread over ``salt_factor`` tasks; AQE skew-join
    (spark.sql.adaptive.skewJoin.enabled) catches residual skew at runtime.

Dimension tables are provided by name through a registry because metric
identities must stay JSON-hashable.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .expectations import Expectation, build_domain, register_expectation
from .metrics import Domain, MetricConfiguration, eager_metric, freeze_kwargs

_TABLES: dict[str, DataFrame] = {}

DEFAULT_BROADCAST_THRESHOLD = 5_000_000  # dim rows; ~tens of MB of keys
DEFAULT_SALT_FACTOR = 16


def register_table(name: str, df: DataFrame) -> None:
    _TABLES[name] = df


def get_table(name: str) -> DataFrame:
    return _TABLES[name]


def anti_join_violations(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
    salt_factor: int = DEFAULT_SALT_FACTOR,
    dim_count: int | None = None,
) -> DataFrame:
    """Rows of ``fact`` whose ``fact_col`` is non-null and absent from
    ``dim.dim_col``. Picks broadcast vs salted SMJ by dim size."""
    dim_keys = dim.select(F.col(dim_col).alias(fact_col)).where(
        F.col(fact_col).isNotNull()
    ).distinct()
    fact_nn = fact.where(F.col(fact_col).isNotNull())
    if dim_count is None:
        dim_count = dim_keys.count()
    if dim_count <= broadcast_threshold:
        return fact_nn.join(F.broadcast(dim_keys), on=fact_col, how="left_anti")
    # Salted sort-merge anti-join: replicate each dim key salt_factor ways,
    # scatter fact rows by pmod(hash, salt_factor) so a hot key spreads over
    # salt_factor tasks (SURVEY.md §2.13 / north rule skew handling).
    salted_dim = dim_keys.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_factor)]))
    )
    salted_fact = fact_nn.withColumn(
        "__salt", F.pmod(F.hash(F.col(fact_col)), F.lit(salt_factor))
    )
    return salted_fact.join(
        salted_dim, on=[fact_col, "__salt"], how="left_anti"
    ).drop("__salt")


@eager_metric("referential.unexpected_count")
def _ref_unexpected_count(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    dim = get_table(cfg.kw("dim_table"))
    return anti_join_violations(
        ddf,
        cfg.domain.column,
        dim,
        cfg.kw("dim_column"),
        broadcast_threshold=int(cfg.kw("broadcast_threshold", DEFAULT_BROADCAST_THRESHOLD)),
        salt_factor=int(cfg.kw("salt_factor", DEFAULT_SALT_FACTOR)),
    ).count()


@eager_metric("referential.unexpected_values")
def _ref_unexpected_values(resolver, ddf: DataFrame, cfg: MetricConfiguration, _):
    dim = get_table(cfg.kw("dim_table"))
    out = anti_join_violations(
        ddf,
        cfg.domain.column,
        dim,
        cfg.kw("dim_column"),
        broadcast_threshold=int(cfg.kw("broadcast_threshold", DEFAULT_BROADCAST_THRESHOLD)),
        salt_factor=int(cfg.kw("salt_factor", DEFAULT_SALT_FACTOR)),
    ).select(F.col(cfg.domain.column).alias("v"))
    limit = cfg.kw("limit")
    rows = (out.limit(int(limit)) if limit is not None else out).collect()
    return [r["v"] for r in rows]


class ReferentialExpectation(Expectation):
    """expect_column_values_to_be_in_table(column, dim_table, dim_column,
    mostly=, broadcast_threshold=, salt_factor=)."""

    name = "expect_column_values_to_be_in_table"

    def _vk(self, cfg, **extra: Any) -> tuple:
        return freeze_kwargs(
            dim_table=cfg.get("dim_table"),
            dim_column=cfg.get("dim_column"),
            broadcast_threshold=int(
                cfg.get("broadcast_threshold", DEFAULT_BROADCAST_THRESHOLD)
            ),
            salt_factor=int(cfg.get("salt_factor", DEFAULT_SALT_FACTOR)),
            **extra,
        )

    def metric_requests(self, cfg, rf):
        domain = build_domain(cfg)
        reqs = {
            "element_count": MetricConfiguration("table.row_count", domain),
            "nonnull_count": MetricConfiguration("column.nonnull_count", domain),
            "unexpected_count": MetricConfiguration(
                "referential.unexpected_count", domain, self._vk(cfg)
            ),
        }
        limit = (
            None if rf["result_format"] == "COMPLETE" else rf["partial_unexpected_count"]
        )
        # a sample limit of 0 requests no sample (reference limit(0))
        if rf["result_format"] in ("BASIC", "SUMMARY", "COMPLETE") and limit != 0:
            reqs["unexpected_values"] = MetricConfiguration(
                "referential.unexpected_values", domain, self._vk(cfg, limit=limit)
            )
        return reqs

    def validate(self, cfg, rf, resolver):
        from .summarize import format_map_output, mostly_success

        reqs = self.metric_requests(cfg, rf)
        element_count = int(resolver[reqs["element_count"]] or 0)
        nonnull_count = int(resolver[reqs["nonnull_count"]] or 0)
        unexpected_count = int(resolver[reqs["unexpected_count"]] or 0)
        success = mostly_success(
            nonnull_count, unexpected_count, float(cfg.get("mostly", 1.0))
        )
        values = (
            resolver[reqs["unexpected_values"]] if "unexpected_values" in reqs else []
        )
        return format_map_output(
            rf,
            success,
            element_count=element_count,
            nonnull_count=nonnull_count,
            unexpected_count=unexpected_count,
            partial_unexpected_list=values,
            unexpected_list=values if rf["result_format"] == "COMPLETE" else None,
        )


register_expectation(ReferentialExpectation())
