"""The query registrar.

Each ``emiproc_spark.queries`` module calls :func:`query` once per
query, beside the query's DuckDB oracle.  ``driver_queries`` imports
that package and orders what it registered into its public
``QUERIES``/``ORACLES``.  This module imports nothing from
``emiproc_spark``, so a query module registers the same queries
whichever module is imported first.
"""

from __future__ import annotations

from collections.abc import Callable

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}


def query(fn: Callable, oracle: str) -> None:
    """Register ``fn`` under its name minus ``q_``, with ``oracle``."""
    if not fn.__name__.startswith("q_"):
        raise ValueError(f"query function {fn.__name__!r} is not named q_*")
    name = fn.__name__[2:]
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = fn
    ORACLES[name] = oracle
