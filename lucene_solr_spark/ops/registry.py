"""The one operator registry: every driver entry is a ``register(name, fn,
oracle)`` call.

``driver_queries`` registers the full-text entries when it is imported; the
``ops/`` modules (facets, streams, dedup, ANN, text metrics, ...) register
theirs on first use of ``ops_queries``/``ops_oracles``. Each entry mirrors a
SURVEY.md §2 operator with a DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: Callable, oracle: str | None = None) -> None:
    """Add entry ``name``; a name that is already taken is refused, so a
    copy-paste slip cannot silently replace another entry and its oracle."""
    if name in _QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


def ops_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return dict(_QUERIES)


def ops_oracles() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


_LOADED = False


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import facets, streams, dedup, textmetrics, ann, multimodal, graph, update_chain, pipeline, payloads, evaluators  # noqa: F401

    _LOADED = True
