"""The driver's query registry, in window order.

The 222 driver-contract queries live by domain in
``emiproc_spark.queries`` (inventory, profiles, io, similarity, text,
quality, streaming); each registers itself with one
``registry.query(q_fn, SQL)`` line beside its DuckDB oracle.  Importing
that package fills the registrar; this module orders what it holds
into ``QUERIES``/``ORACLES`` (``_REVERIFY`` first, then oldest
evidence), the one import surface for ``__spark_entry__``,
``bench.py`` and ``parity``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from emiproc_spark import queries  # noqa: F401  (registers every query)
from emiproc_spark import registry

# Front-window rotation.  The driver samples a contiguous 50-query
# block from the FRONT of the registry, so every query whose plan or
# inputs changed leads, and the oldest-evidence refill fills the rest
# (derive the front/refill split from ``len(_REVERIFY)``).
_REVERIFY = [
    # the store consumers: every per-sf_dir store now builds through
    # fixtures.store / plans.cache.cached_dir
    "minhash_est", "lsh_quality", "lsh_verified",
    "curate_corpus", "curation_gates",
    "stream_window_stats", "stream_dedup",
    "orc_partitioned", "ivf_store_probe", "jsonl_roundtrip", "stream_cdc",
    "stream_asof", "bucketed_join", "stream_heavy",
    # changed in r12/r13 but never observed by the driver's window
    "stream_sessionize", "stream_cdc_resume", "stream_funnel_resume",
    "robust_outliers", "group_quantiles", "winnow_fp", "winnow_overlap",
    "dup_spans", "dup_fraction", "speciate", "merge_indexes",
    "broadcast_types", "specific_days",
    # reach localdf.local_rows_df (the Arrow LocalRelation conversion)
    # through exports/ or sources/
    "edgar_profiles", "profiles_yaml", "gpkg_lines", "gpkg_roundtrip",
    "oem_profiles_export", "swiss_ingest", "tno_ingest", "gral_roundtrip",
    "tno_points", "tno_profiles", "wrf_flux", "fluxie_export",
]


def _evidence_order(names: list[str]) -> list[str]:
    """Refill policy (r7 judge item 8): OLDEST EVIDENCE FIRST.

    The registry is >4× the driver's 50-query window, so refill slots
    are scarce; recent-rounds-first refill (r5-r7) starved the r1-r4
    era queries of re-verification.  Instead, read the committed
    ``CORRECTNESS_r*.json`` ledger, compute each query's most recent
    green round, and order the unchanged remainder by (last green
    round ASC, name) — deterministic, and every query re-verifies at
    least every ``ceil(registry / refill_slots)`` rounds as the window
    cycles through the stalest evidence.  Queries with no ledger row
    yet (should not happen) sort first.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, res in data.items():
            if isinstance(res, dict) and res.get("rows_match"):
                last[name] = max(rnd, last.get(name, 0))
    return sorted(names, key=lambda n: (last.get(n, 0), n))


_FRONT = [k for k in _REVERIFY if k in registry.QUERIES]
_REFILL = _evidence_order([k for k in registry.QUERIES if k not in _FRONT])
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    k: registry.QUERIES[k] for k in _FRONT + _REFILL
}
ORACLES: dict[str, str] = {k: registry.ORACLES[k] for k in QUERIES}
