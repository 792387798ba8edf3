"""Query registry: every operator from SURVEY.md §2 registers a named
(spark_fn, oracle_sql) pair here; __spark_entry__.py exposes them to
the driver.

Conventions (see SURVEY.md §6):
- Every computed column is aliased identically in the Spark plan and
  the DuckDB oracle (the driver sorts columns by name before hashing).
- Integer-like computed columns are cast to BIGINT on both sides.
- Money/float aggregates are compared as cents-bigint
  (CAST(ROUND(sum*100) AS BIGINT)) so JVM-vs-DuckDB summation order
  can't flip the hash.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def _newest_green_rounds() -> dict[str, int]:
    """Newest round in which each key had a GREEN driver attestation
    (no error and matching rows), read from the committed
    ``CORRECTNESS_r*.json`` files at the repo root. A key never
    attested green (or a checkout without those files) reads round 0."""
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        with open(path, encoding="utf-8") as f:
            rows = json.load(f)
        for key, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is True
            ):
                newest[key] = max(newest.get(key, 0), rnd)
    return newest


def _ordered() -> dict[str, QuerySpec]:
    """Registry in driver-walk order. The verification driver attests
    a bounded prefix per round, so the stalest keys go first: every
    oracle-backed key sorted by (newest green round, name), then the
    oracle-less rows-only sketches, which could only burn a slot."""
    newest = _newest_green_rounds()
    order = sorted(
        REGISTRY,
        key=lambda n: (REGISTRY[n].oracle is None, newest.get(n, 0), n),
    )
    return {n: REGISTRY[n] for n in order}


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {k: v.fn for k, v in _ordered().items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {k: v.oracle for k, v in _ordered().items() if v.oracle is not None}


_LOADED = False


# Every module is first-party and REQUIRED — an import failure must
# crash loudly, not silently shrink the registry. Load order does not
# set the driver order; `_ordered()` does.
_PLAN_MODULES = (
    "relational_queries",
    "analytics_queries",
    "tpch_queries",
    "etl_queries",
    "pipeline_queries",
    "multimodal_queries",
    "event_queries",
    "text_queries",
    "ann_queries",
    "dedup_queries",
    "geo_queries",
)


def _load_all() -> None:
    """Import every module that registers queries (idempotent).

    No try/except: a broken plan module would otherwise silently drop
    its whole query family from queries() AND oracle_sql(), shrinking
    the correctness gate with no failure signal.
    """
    global _LOADED
    if _LOADED:
        return
    for mod in _PLAN_MODULES:
        __import__(f"utility_service_areas_spark.plans.{mod}")
    _LOADED = True
