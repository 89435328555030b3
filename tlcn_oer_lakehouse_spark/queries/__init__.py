"""Merged query registry — one QuerySpec per SURVEY §2 operator, in
``_MODULES`` order, then each module's ``SPECS`` order."""

from __future__ import annotations

from tlcn_oer_lakehouse_spark.queries.base import QuerySpec

_MODULES = (
    "tpch",
    "tpch_ext",
    "tpch_deep",
    "subqueries",
    "relational",
    "textops",
    "quality",
    "vectorops",
    "retrieval",
    "lakehouse",
    "chunking",
    "windows",
    "multimodal",
    "mlops",
    "traindata",
    "bpe",
    "mlstats",
    "serve",
    "medallion",
)


def _collect() -> dict[str, QuerySpec]:
    import importlib

    registry: dict[str, QuerySpec] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(f"tlcn_oer_lakehouse_spark.queries.{mod_name}")
        for spec in mod.SPECS:
            if spec.name in registry:
                raise ValueError(f"duplicate query name: {spec.name}")
            registry[spec.name] = spec
    return registry


REGISTRY: dict[str, QuerySpec] = _collect()
