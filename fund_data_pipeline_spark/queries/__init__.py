"""Harness query catalog: every SURVEY §2 operator as a (Spark, oracle-SQL) pair.

Each entry is a :class:`QuerySpec`: a Spark callable ``(spark, sf_dir) ->
DataFrame`` built on the engine's library operators, plus (where
SQL-expressible) an equivalent ANSI-SQL string for the DuckDB oracle.
Column names are aliased identically on both sides; aggregates over doubles
go through explicit DECIMAL casts so both engines produce bit-identical
values (float summation order is otherwise engine-dependent).

Catalog order is deterministic: the headline (benched) queries first, then
everything else, each group in registration order. Every entry is gated
against its oracle by ``tests/test_catalog_oracle.py``.
"""

from __future__ import annotations

from .registry import QUERIES, QuerySpec, register, table  # noqa: F401
from . import relational  # noqa: E402,F401
from . import advanced  # noqa: E402,F401
from . import etl  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import vectors  # noqa: E402,F401
from . import stream_queries  # noqa: E402,F401
from . import mlops  # noqa: E402,F401

# stable sort: headliners first, both groups keep registration order
_ordered = sorted(QUERIES.values(), key=lambda spec: not spec.headline)
QUERIES.clear()
QUERIES.update((spec.name, spec) for spec in _ordered)


def queries():
    return {name: spec.spark for name, spec in QUERIES.items()}


def oracle_sql():
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


def headline_queries():
    return {name: spec.spark for name, spec in QUERIES.items() if spec.headline}
