"""Content-addressed persistence for derived dimension tables.

The reference memoizes remap weights (.npz, emiproc/regrid.py:42-101),
crop weights (.npy, inventories/utils.py:156-194) and country masks
(.npy/.nc, utilities.py:350-378) because they are expensive and reused
across runs.  The engine analogue: persist the table as Parquet keyed by
a fingerprint of its inputs; any later session with the same inputs
reads instead of recomputing.  At 100 TB, weights/masks are the small
side of every join — keeping them as parquet dimension tables also lets
Catalyst broadcast them.

``cached_dir`` is the engine's one build-once step: ``cached_table``
and every per-``sf_dir`` query store (``fixtures.store``) go through it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def fingerprint(*parts) -> str:
    """Stable hash of primitive inputs (grid specs, shapes, params)."""
    blob = json.dumps(parts, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def cached_dir(path: str, build: Callable[[str], None]) -> str:
    """Return ``path``, calling ``build(path)`` first unless the sibling
    marker ``path + "._OK"`` exists.  The marker is written last, so a
    crashed build is rebuilt from an empty ``path``, never half-read; it
    sits beside ``path`` because streaming file sources list the dir."""
    marker = path + "._OK"
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        open(marker, "w").close()
    return path


def cached_table(
    spark: SparkSession,
    cache_dir: str,
    name: str,
    key: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the persisted table for (name, key), building and writing
    it on first use (one ``build()`` per miss, via ``cached_dir``)."""
    path = os.path.join(cache_dir, f"{name}-{key}.parquet")
    cached_dir(path, lambda p: build().write.mode("overwrite").parquet(p))
    return spark.read.parquet(path)


def cached_weights(
    spark: SparkSession,
    cache_dir: str,
    src_spec,
    dst_spec,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Remap-weights cache keyed by both grid specs (the engine analogue
    of get_weights_mapping's .npz file, reference regrid.py:42-101)."""
    return cached_table(
        spark, cache_dir, "weights", fingerprint(src_spec, dst_spec), build
    )
