"""Named-query registry.

Each engine operator from SURVEY.md §2.C is exposed as a named query:
a builder ``fn(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible,
a DuckDB oracle SQL twin run by the driver on the same parquet tables.
``/root/repo/__spark_entry__.py`` serves ``queries()`` / ``oracle_sql()``
straight from this registry.

Conventions (driver compares row-count + schema + order-insensitive value
hash, so both sides must produce identical values):

- every computed/aggregate column is aliased identically in the Spark
  builder and the oracle SQL;
- double *aggregates* (sum/avg over many rows — summation order differs
  between engines) are rounded to a fixed precision on BOTH sides;
  per-row double arithmetic is left exact (same IEEE ops → identical bits);
- integer sums are CAST to BIGINT in DuckDB (its SUM(BIGINT) is HUGEINT);
- timestamps in outputs are formatted to 'yyyy-MM-dd HH:mm:ss' strings.

Iterative-operator convention (round 10): a loop that joins a
checkpointed frame WITH ITSELF (pointer doubling, label(label)
shortcuts) must wrap every localCheckpoint in util.strip_plan_stats —
checkpoints carry the origin plan's Catalyst sizeInBytes, and a
self-join SQUARES that statistic per iteration until BigInteger
arithmetic dominates planning (root cause + measurements in SCALE.md
round 10 and operators/components.py). Joins against fixed real-stat
frames (pagerank, kmeans, logreg) grow the stat linearly and do not
need the strip.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None => driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)

    @property
    def doc(self) -> str:
        return self.fn.__doc__ or ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Import all plan modules (triggering registration) and return the registry."""
    from etl_caic_spark import plans  # noqa: F401  (import side effect)

    return dict(REGISTRY)
