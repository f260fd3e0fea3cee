"""Query registry: the engine's declared inventory (SURVEY.md §2.4).

Every engine operator is exposed as a named ``QuerySpec``:
  - ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation
  - ``oracle`` — equivalent ANSI SQL for the DuckDB oracle (None for
    non-SQL-expressible ops; the driver then records a rows-only check)

``__spark_entry__.py`` is a thin adapter over this registry.

Determinism contract with the oracle (critical at hash-check time):
  - money aggregates go through exact DECIMAL arithmetic and are cast to
    DOUBLE at the end — double summation order differs between engines,
    decimal summation does not;
  - every computed column is aliased identically in Spark and SQL;
  - session timezone is UTC on both sides.
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
    oracle: str | None
    family: str
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, family: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering an engine query.

    ``oracle`` is DuckDB SQL over the pre-registered views (region nation
    customer supplier part orders lineitem events documents embeddings).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle.strip() if oracle else None,
            family=family,
            doc=(fn.__doc__ or "").strip(),
            tags=tags,
        )
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every query module so decorators populate REGISTRY."""
    from local_etl_spark import queries  # noqa: F401  (imports submodules)


def all_queries() -> dict[str, QueryFn]:
    """Every query in registration order (fixed by ``queries/__init__``)."""
    _load_all_modules()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """Every SQL-oracled query, in registration order."""
    _load_all_modules()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


def get(name: str) -> QuerySpec:
    _load_all_modules()
    return REGISTRY[name]
