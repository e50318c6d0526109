"""Logical plan layer: mapping specs (the reference's YAML config model)."""

from nebula_importer_spark.plans.specs import (
    EdgeSpec,
    Mode,
    NodeIDSpec,
    NodeSpec,
    PropSpec,
    RankSpec,
)

__all__ = [
    "EdgeSpec",
    "Mode",
    "NodeIDSpec",
    "NodeSpec",
    "PropSpec",
    "RankSpec",
]
