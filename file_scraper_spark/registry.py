"""Query registry: the single source of truth for the declared surface.

Every operator from SURVEY.md §2 registers here via the ``@query``
decorator.  ``__spark_entry__.py`` (the driver contract) exposes
``queries()`` / ``oracle_sql()`` straight from this registry, and the
local harness (``tools/check_correctness.py``) and pytest both iterate
it — so there is exactly one list to keep honest.

Determinism rules every registered query follows (so the driver's
order-insensitive value-hash against DuckDB is bit-exact):

- Sum doubles as quantized integers: each addend becomes
  ``floor(x * 1e6)`` summed as BIGINT, then cast back to DOUBLE and
  divided by 1e6 (``dsum``/``davg`` and their DuckDB twins
  ``oracle_dsum``/``oracle_davg`` in ``functions/exact.py``). floor of
  a double is exact and BIGINT addition is associative, so Spark's
  partial aggregation order cannot perturb the result. Do not cast to
  DECIMAL instead: double->decimal casts round, and Spark (HALF_UP)
  and DuckDB (half-even) break ties differently.
- Never ``ROUND`` a raw double (tie-breaking differs between engines);
  use ``floor(x * 10^k) / 10^k`` when truncation is needed.
- Every window / limit has a total-order tiebreaker (unique key last).
- Alias every computed column identically in Spark and oracle SQL.
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
    oracle: str | None  # DuckDB-SQL oracle; None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a declared query (see module docstring)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module for its registration side effects."""
    global _LOADED
    if _LOADED:
        return
    # Imports deferred so `import file_scraper_spark` stays cheap.
    from file_scraper_spark.operators import (  # noqa: F401
        analytics_ext,
        clustering,
        dedup,
        graph,
        io_formats,
        multimodal,
        pipeline_ops,
        relational,
        relational_ext,
        relational_ext2,
        relational_ext3,
        scrape,
        similarity,
        text,
        timeseries,
    )
    from file_scraper_spark.streaming import queries as streaming_queries  # noqa: F401

    # The CORRECTNESS gate samples the first 50 registered queries, so
    # registration order decides which queries get a gate row:
    # unverified names first (import order), then verified ones
    # stalest green round first — derived in rotation.py from the
    # CORRECTNESS_r*.json artifacts alone.
    from file_scraper_spark import rotation

    reordered = rotation.reorder(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update(reordered)

    _LOADED = True
