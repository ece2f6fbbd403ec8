"""Query registry: the declared query surface (SURVEY.md §2.3).

Each query is registered with a builder ``(spark, sf_dir) -> DataFrame`` and,
when SQL-expressible, a DuckDB oracle SQL string that must produce the exact
same result (row count + schema + order-insensitive value hash).

Determinism rules (SURVEY §5.3), applied uniformly on BOTH sides:
- double aggregates: cast to DECIMAL(38,6) *before* SUM so accumulation is
  exact and order-independent; round(…, 4) and cast back to double at the end.
- averages: exact decimal SUM cast to double, divided by COUNT, rounded —
  never the engine's native AVG (engines disagree on decimal-avg types).
- timestamps in outputs: formatted to 'yyyy-MM-dd HH:mm:ss' strings.
- any top-k / window ordering carries a unique-key tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a declared query with its optional DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # A duplicate name would SILENTLY shadow the earlier query (dict
        # overwrite) — its oracle, docstring, and gate slot would then
        # belong to different code than COVERAGE.md claims. Round 12
        # nearly shipped exactly that (a second `layout_zorder`); fail
        # at import time instead.
        if name in REGISTRY:
            raise ValueError(
                f"query {name!r} is already registered "
                f"(by {REGISTRY[name].builder.__module__}); "
                "pick a distinct name or extend the existing query"
            )
        REGISTRY[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "", tags)
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.builder for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


# ---------------------------------------------------------------------------
# shared canonicalization helpers (Spark side)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402


def dsum(col, alias: str):
    """Order-independent deterministic SUM of a double column.

    Exact decimal accumulation, rounded to 4 dp, returned as double — the
    same value DuckDB's ``round(SUM(CAST(c AS DECIMAL(38,6))),4)::DOUBLE``
    produces regardless of row order.
    """
    c = col if not isinstance(col, str) else F.col(col)
    return (
        F.round(F.sum(c.cast("decimal(38,6)")), 4).cast("double").alias(alias)
    )


def davg(col, alias: str):
    """Deterministic AVG: exact decimal sum → double, / count, round 4."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.round(
        F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c), 4
    ).alias(alias)


# DuckDB oracle-side equivalents (SQL snippets)
def sql_dsum(expr: str, alias: str) -> str:
    return f"round(SUM(CAST({expr} AS DECIMAL(38,6))), 4)::DOUBLE AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"round(SUM(CAST({expr} AS DECIMAL(38,6)))::DOUBLE / COUNT({expr}), 4)"
        f" AS {alias}"
    )


TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
