"""The Inventory: a bundle of lazy DataFrames + lineage.

Mirrors the reference's central ``Inventory`` object
(``emiproc/inventories/__init__.py:75-148``) but every member is a *lazy*
Spark DataFrame — operators compose logical plans; nothing executes until
an action (export, collect, totals check).  The reference's eager
copy-on-write (``__init__.py:255-290``) becomes free: DataFrames are
immutable values.

``history`` mirrors the reference's operation lineage list
(``__init__.py:118,142,148``).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional

from pyspark.sql import DataFrame

from emiproc_spark.localdf import distinct_rows


@dataclass(frozen=True)
class Inventory:
    """Long-form emission inventory.

    emissions : (cell_id, category, substance, value_kg_y) — gridded part
    grid      : (cell_id, geometry, area_m2, lon, lat, xmin..ymax) or None
    shaped    : SHAPED-schema point/line/polygon sources or None
    tprofiles / tprofile_index : temporal profile store + sparse index
    vprofiles / vprofile_index : vertical profile store + sparse index
    year      : reference year (drives leap-year logic)
    history   : operation lineage (reference __init__.py:118)
    """

    emissions: DataFrame
    grid: Optional[DataFrame] = None
    shaped: Optional[DataFrame] = None
    tprofiles: Optional[DataFrame] = None
    tprofile_index: Optional[DataFrame] = None
    vprofiles: Optional[DataFrame] = None
    vprofile_index: Optional[DataFrame] = None
    year: Optional[int] = None
    history: tuple[str, ...] = field(default_factory=tuple)

    def with_step(self, step: str, **changes) -> "Inventory":
        """Return a new Inventory with ``step`` appended to history."""
        return replace(self, history=self.history + (step,), **changes)

    # -- derived metadata (computed, not declared — reference
    #    emiproc/inventories/__init__.py:214-242) ------------------------
    def categories(self) -> list[str]:
        return self._key_set("category")

    def substances(self) -> list[str]:
        return self._key_set("substance")

    def _key_set(self, col: str) -> list[str]:
        """Sorted distinct ``col`` over emissions ∪ shaped: one distinct."""
        keys = self.emissions.select(col)
        if self.shaped is not None:
            keys = keys.unionByName(self.shaped.select(col))
        return sorted(r[0] for r in distinct_rows(keys, [col], f"Inventory {col} set"))

    # -- fluent operator API: each method mirrors a reference operator
    #    and returns a new lazy Inventory (history appended) -------------
    def group_categories(self, mapping: dict[str, list[str]]) -> "Inventory":
        from emiproc_spark.operators.basic import group_categories

        return self.with_step(
            f"group_categories({sorted(mapping)})",
            emissions=group_categories(self.emissions, mapping),
        )

    def group_substances(self, mapping: dict[str, list[str]]) -> "Inventory":
        from emiproc_spark.operators.basic import group_substances

        return self.with_step(
            f"group_substances({sorted(mapping)})",
            emissions=group_substances(self.emissions, mapping),
        )

    def scale(self, factors) -> "Inventory":
        from emiproc_spark.operators.basic import scale_inventory

        return self.with_step("scale", emissions=scale_inventory(self.emissions, factors))

    def drop(self, categories=None, substances=None, keep_instead_of_drop=False) -> "Inventory":
        from emiproc_spark.operators.basic import drop

        return self.with_step(
            "drop",
            emissions=drop(self.emissions, categories, substances, keep_instead_of_drop),
        )

    def add(self, other: "Inventory") -> "Inventory":
        from emiproc_spark.operators.basic import add_inventories

        return self.with_step("add", emissions=add_inventories(self.emissions, other.emissions))

    def speciate(self, speciation: DataFrame, cell_country: DataFrame | None = None) -> "Inventory":
        from emiproc_spark.operators.speciation import speciate

        return self.with_step(
            "speciate", emissions=speciate(self.emissions, speciation, cell_country)
        )

    def remap(self, dst_grid: DataFrame, tile: float, weights: DataFrame | None = None) -> "Inventory":
        from emiproc_spark.operators.regrid import remap_inventory

        if self.grid is None:
            raise ValueError("remap needs a grid")
        return self.with_step(
            "remap",
            emissions=remap_inventory(self.emissions, self.grid, dst_grid, tile, weights),
            grid=dst_grid,
        )

    def crop(self, crop_weights: DataFrame, keep_outside: bool = False) -> "Inventory":
        from emiproc_spark.operators.regrid import crop_with_shape

        return self.with_step(
            "crop", emissions=crop_with_shape(self.emissions, crop_weights, keep_outside)
        )

    def clip_box(self, xmin: float, ymin: float, xmax: float, ymax: float) -> "Inventory":
        from emiproc_spark.operators.regrid import clip_box

        if self.grid is None:
            raise ValueError("clip_box needs a grid")
        return self.with_step(
            "clip_box",
            emissions=clip_box(self.emissions, self.grid, xmin, ymin, xmax, ymax),
        )

    def totals(self) -> DataFrame:
        from emiproc_spark.operators.basic import get_total_emissions

        return get_total_emissions(self.emissions, self.shaped)
