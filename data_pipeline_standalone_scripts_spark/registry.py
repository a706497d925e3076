"""Query registry — the single source of truth for the declared surface.

Every operator from SURVEY.md §2 registers here with:
- a Spark implementation ``fn(spark, sf_dir) -> DataFrame`` (lazy —
  the driver executes it; building starts no Spark job, except in the
  queries ``EAGER_BUILDS`` in tests/test_guards.py lists, each with
  the reason it stays eager), and
- its DuckDB oracle SQL (or None for T2w ops, which get the
  driver's weaker rows-only check).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin projections
of this table. Column names MUST match between the two sides — the
driver sorts columns by name before value-hashing. ``run()`` is the
one way to execute a registered query: build, act once, release the
operator-held persists.

Determinism contract (SURVEY.md §2 preamble): every T2 query breaks
top-k ties on a unique key, wraps collect_list in array_sort, and
rounds genuinely-floaty aggregates to 6 decimals on BOTH sides.
Where a float aggregate can be made bit-exact instead (sum/avg via
exact micro-unit BIGINT accumulation), we do that — see helpers in operators/common.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from operator import methodcaller

from pyspark.sql import DataFrame, SparkSession

from .operators import common

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None => rows-only check (T2w)
    category: str = ""
    doc: str = field(default="", repr=False)

    @property
    def check(self) -> str:
        """SURVEY.md §2 legend: T2 = oracle-checked, T2w = rows only."""
        return "T2" if self.oracle is not None else "T2w"


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, category: str = ""
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            category=category,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def run(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    action: Callable[[DataFrame], object] = methodcaller("toPandas"),
):
    """Build query ``name``, apply ``action`` to it once and return
    what it returned. What its build left (operator persists, sink
    directories) is released afterwards, also when building or acting
    fails.

    The default is a ``methodcaller``, not ``DataFrame.toPandas``: on
    Spark 4 that attribute is the abstract parent's stub, which
    returns None for a classic or Connect frame."""
    try:
        return action(REGISTRY[name].fn(spark, sf_dir))
    finally:
        common.release_persists()
