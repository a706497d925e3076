"""Query registry — the single source of truth for the declared surface.

Every operator from SURVEY.md §2 registers here with:
- a Spark implementation ``fn(spark, sf_dir) -> DataFrame`` (lazy —
  the driver executes it), and
- its DuckDB oracle SQL (or None for T2w/PT ops, which get the
  driver's weaker rows-only check).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin projections
of this table. Column names MUST match between the two sides — the
driver sorts columns by name before value-hashing.

Determinism contract (SURVEY.md §2 preamble): every T2 query breaks
top-k ties on a unique key, wraps collect_list in array_sort, and
rounds genuinely-floaty aggregates to 6 decimals on BOTH sides.
Where a float aggregate can be made bit-exact instead (sum/avg via
exact micro-unit BIGINT accumulation), we do that — see helpers in operators/common.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None => rows-only check (T2w/PT)
    category: str = ""
    check: str = "T2"  # T2 | T2w | PT (SURVEY.md §2 legend)
    doc: str = field(default="", repr=False)


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, category: str = "", check: str = "T2"
) -> Callable[[QueryFn], QueryFn]:
    if oracle is None and check == "T2":
        check = "T2w"

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            category=category,
            check=check,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
