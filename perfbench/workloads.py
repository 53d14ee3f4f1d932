"""Workload definitions and the small pure helpers the runner needs."""

from __future__ import annotations

import random
import statistics

POLY_REFINE = "poly_refine_50k"

# Each workload is a list of registry names (plus the poly-refine
# microbench).  Every pass runs the whole list once, in a seed-fixed
# order, in a fresh process.
WORKLOADS: dict[str, list[str]] = {
    # emiproc's own user path: ingest, regrid (with its weights cache),
    # temporal expansion, export and the polygon clip kernel.
    # Dimension-sized queries, so query construction, schema inference
    # and export writes dominate.
    "inventory_etl": [
        "tno_ingest", "remap_inventory", "weights_cache", "temporal_expand",
        "wrf_flux", POLY_REFINE,
    ],
    # shuffle- and job-heavy training-data operators, batch and
    # streaming: connected components over embedding-similarity pairs,
    # retrieval, and two availableNow streams (state commits and the
    # applyInPandasWithState Arrow round trip).  No sources or exports.
    "corpus_dedup": [
        "cluster_split", "bm25_topk", "stream_dedup", "stream_funnel",
    ],
    # two queries of inventory_etl that touch the table reads, a source
    # reader and an export writer; the smoke test runs it at sf0.001
    "smoke": ["tno_ingest", "wrf_flux"],
}

P75_MIN_SAMPLES = 40  # leaves >=10 samples above the 75th percentile


def order(workload: str, seed: int, pass_no: int = 0) -> list[str]:
    """The workload's queries in the order fixed by ``seed`` and the
    pass number."""
    names = list(WORKLOADS[workload])
    random.Random(seed * 1009 + pass_no).shuffle(names)
    return names


def p50(values: list[float]) -> float:
    return statistics.median(values)


def p75(values: list[float]) -> float | None:
    """75th percentile, or None when there are too few samples for it
    to mean anything."""
    if len(values) < P75_MIN_SAMPLES:
        return None
    return statistics.quantiles(values, n=4)[2]
