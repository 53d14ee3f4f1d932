"""Named end-to-end pipelines mirroring the reference's example scripts.

The reference ships its workflows as scripts (``scripts/tno_2_icon.py``,
``tno_2_hourly.py``, ``tno_2_raster.py``, ``zh_2_gral.py``) — a user
runs "TNO → ICON OEM" as one unit.  These functions are the same units
over the Spark-first operators: each is a pure composition (no new
semantics), so every stage keeps its own oracle-checked behavior, and
the lazy DataFrame chain means Catalyst optimizes across stage
boundaries (e.g. the category-group broadcast join fuses into the remap
aggregation's map side).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import distinct_rows, local_rows_df
from emiproc_spark.operators.basic import add_inventories, group_categories
from emiproc_spark.operators.regrid import (
    remap_inventory,
    weights_poly_poly,
    weights_poly_rect,
    weights_remap,
)
from emiproc_spark.sources.tno import tno_area_emissions, tno_point_sources


def temporal_profile_gates(
    tprofiles: DataFrame,
    id_cols: tuple[str, ...] = ("profile_id", "ptype"),
    ratio_col: str = "ratios",
    tol_ticks: int = 32,
) -> DataFrame:
    """Gate frame asserting every temporal profile's ratios sum to 1 —
    the invariant every hourly expansion silently assumes (a profile
    summing to 0.9 under-emits the whole year by 10% with no error).
    The hourly/ICON export pipelines run this BY DEFAULT before fanning
    the fact table out over hours; pass their ``gate_ticks=None`` to
    opt out (e.g. for deliberately non-normalized factor tables).

    Accepts the engine's array-form profile store
    ``(id_cols…, ratios array<double>)``; one explode over the
    dimension-sized profile table + the ratio_sum_gate aggregate —
    nothing touches the fact side."""
    from emiproc_spark.operators.quality import ratio_sum_gate

    long = tprofiles.select(
        *id_cols, F.explode(F.col(ratio_col)).alias("__ratio")
    )
    return ratio_sum_gate(
        long,
        list(id_cols),
        "__ratio",
        tol_ticks=tol_ticks,
        relation="temporal_profile_ratio_sum",
    )


def rasterize_points(
    points: DataFrame,
    dst_grid: DataFrame,
    tile: float,
    id_col: str = "source_id",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Shaped point sources → gridded long emissions via the 1/n point
    kernel (the reference's gdfs branch of remap_inventory,
    emiproc/regrid.py:522-552).  Cell-edge points split equally between
    the touching cells (weights_poly_rect's point rule)."""
    from emiproc_spark.sources.osm import _point_wkb

    shaped = points.select(
        F.col(id_col).alias("source_id"),
        _point_wkb(F.col(x_col), F.col(y_col)).alias("geometry"),
        F.col(x_col).alias("xmin"),
        F.col(y_col).alias("ymin"),
        F.col(x_col).alias("xmax"),
        F.col(y_col).alias("ymax"),
        "category",
        "substance",
        "value_kg_y",
    )
    # ONE geometry row per source: the long table repeats each point per
    # (category, substance), which would multiply the clip kernel's work
    # and the remap join fan-out by that count (and the 1/n edge rule
    # would then normalize over duplicates, not cells)
    w = weights_poly_rect(
        shaped.select(
            "source_id", "geometry", "xmin", "ymin", "xmax", "ymax"
        ).dropDuplicates(["source_id"]),
        dst_grid,
        tile=tile,
    )
    return weights_remap(
        shaped.select(
            F.col("source_id").alias("cell_id"), "category", "substance",
            "value_kg_y",
        ),
        w,
    )


def tno_to_raster(
    spark: SparkSession,
    tno_file: str,
    src_grid: DataFrame,
    dst_grid: DataFrame,
    out_path: str,
    tile: float = 5.0,
    categories_group: dict[str, list[str]] | None = None,
    substances_mapping: dict[str, str] | None = None,
    include_points: bool = True,
    gate_rtol: float | None = 1e-6,
    **raster_kwargs,
) -> str:
    """TNO → (optionally grouped) → regular raster NetCDF.

    Mirrors ``scripts/tno_2_raster.py``: load the TNO inventory (area +
    point sources), rasterize the point sources onto the TNO grid, remap
    everything onto ``dst_grid``, group categories, export as a NetCDF
    raster.  Returns the written path.

    Before writing, a per-substance mass-conservation gate
    (``operators.quality.mass_conservation_gate``) audits input vs
    remapped totals at ``gate_rtol`` relative tolerance and raises on
    violation — pass ``gate_rtol=None`` to skip (e.g. when ``dst_grid``
    deliberately crops the domain, where mass SHOULD change).
    """
    e = tno_area_emissions(spark, tno_file, substances_mapping)
    if include_points:
        pts = tno_point_sources(spark, tno_file, substances_mapping)
        e = add_inventories(e, rasterize_points(pts, src_grid, tile))
    remapped = remap_inventory(e, src_grid, dst_grid, tile=tile)
    if categories_group:
        remapped = group_categories(remapped, categories_group)
    from emiproc_spark.exports.netcdf import export_raster_netcdf

    if gate_rtol is None:
        return export_raster_netcdf(remapped, dst_grid, out_path, **raster_kwargs)
    # conservation gate ON BY DEFAULT: regridding + grouping must not
    # create or destroy mass (the reference asserts this ad hoc with
    # total_emissions_almost_equal after every remap script) — a
    # declarative gate frame replaces the scattered asserts and raises
    # loudly before anything is written.  The gate's collect is an
    # ACTION, so e and remapped are persisted first: the gate pass
    # populates the caches and the export reuses them instead of
    # re-running the whole read+rasterize+remap chain (r7 ADVICE).
    from emiproc_spark.operators.quality import (
        enforce_gates,
        mass_conservation_gate,
    )

    e = e.persist()
    remapped = remapped.persist()
    try:
        enforce_gates(
            mass_conservation_gate(e, remapped, rtol=gate_rtol),
            context="tno_to_raster",
        )
        return export_raster_netcdf(
            remapped, dst_grid, out_path, **raster_kwargs
        )
    finally:
        remapped.unpersist()
        e.unpersist()


def tno_to_icon(
    spark: SparkSession,
    tno_file: str,
    src_grid: DataFrame,
    icon_grid_file: str,
    out_dir: str,
    tile: float = 2.0,
    categories_group: dict[str, list[str]] | None = None,
    substances_mapping: dict[str, str] | None = None,
    include_points: bool = True,
    tprofile_index: DataFrame | None = None,
    tprofiles: DataFrame | None = None,
    cell_tz: DataFrame | None = None,
    tz_shifts: dict[str, int] | None = None,
    gate_rtol: float | None = 1e-6,
    gate_ticks: int | None = 32,
) -> dict[str, str]:
    """TNO → ICON triangular mesh → OEM exports.

    Mirrors ``scripts/tno_2_icon.py``: ingest, remap onto the ICON mesh
    read from ``icon_grid_file`` (poly-poly surface-conserving weights),
    group categories, write the remapped inventory as parquet, and —
    when temporal profiles are supplied — the OEM per-cycle
    scaling-factor files regionized by (timezone, profile) like
    ``export_icon_oem`` (reference exports/icon.py:141-430).

    Returns {artifact name: path}; the remapped inventory is
    ``out["emissions"]``.

    Default-on gates (each opt-out via ``None``): per-substance mass
    conservation across the mesh remap (``gate_rtol``, skip when the
    mesh deliberately crops the domain) and — when ``tprofiles`` is
    supplied — profile normalization (``gate_ticks``).  Both raise
    before any artifact is written.
    """
    from emiproc_spark.sources.icon_grid import icon_mesh_grid

    mesh = icon_mesh_grid(spark, icon_grid_file)
    e = tno_area_emissions(spark, tno_file, substances_mapping)
    if include_points:
        pts = tno_point_sources(spark, tno_file, substances_mapping)
        e = add_inventories(e, rasterize_points(pts, src_grid, tile))
    w = weights_poly_poly(
        src_grid.select(
            F.col("cell_id").alias("source_id"), "geometry",
            "xmin", "ymin", "xmax", "ymax",
        ),
        mesh,
        tile=tile,
    )
    remapped = weights_remap(e, w)
    if categories_group:
        remapped = group_categories(remapped, categories_group)

    persisted: list[DataFrame] = []
    if gate_rtol is not None or (gate_ticks is not None and tprofiles is not None):
        from emiproc_spark.operators.quality import (
            enforce_gates,
            mass_conservation_gate,
        )

        if gate_ticks is not None and tprofiles is not None:
            enforce_gates(
                temporal_profile_gates(tprofiles, tol_ticks=gate_ticks),
                context="tno_to_icon",
            )
        if gate_rtol is not None:
            # the gate's collect is an action — persist so the gate
            # pass and the parquet write share one execution of the
            # ingest+remap chain (the tno_to_raster pattern)
            e = e.persist()
            remapped = remapped.persist()
            persisted = [remapped, e]

    try:
        if persisted:
            from emiproc_spark.operators.quality import (
                enforce_gates,
                mass_conservation_gate,
            )

            enforce_gates(
                mass_conservation_gate(e, remapped, rtol=gate_rtol),
                context="tno_to_icon",
            )
        os.makedirs(out_dir, exist_ok=True)
        emissions_path = os.path.join(out_dir, "icon_emissions.parquet")
        remapped.write.mode("overwrite").parquet(emissions_path)
    finally:
        # a tripped gate or failed write must not leave the session
        # carrying the cached ingest+remap chain
        for df_ in persisted:
            df_.unpersist()
    out = {"emissions": emissions_path}

    from emiproc_spark.exports.icon import export_oem_gridded_emissions

    out["oem_gridded_emissions"] = export_oem_gridded_emissions(
        mesh,
        spark.read.parquet(emissions_path),
        os.path.join(out_dir, "oem_gridded_emissions.nc"),
        group_dict=categories_group,
    )

    if tprofile_index is not None and tprofiles is not None and cell_tz is not None:
        # THREE_CYCLES OEM layout (reference export_icon_oem,
        # exports/icon.py:141-430): regions = timezones, every
        # (category, substance) profile repeated per region with the
        # region's UTC shift applied by make_icon_time_profiles.
        from pyspark.sql import Window

        from emiproc_spark.exports.icon import make_icon_time_profiles

        shifts = tz_shifts or {}
        # dimension-sized global window: one row per timezone
        regions = (
            cell_tz.select("tzid")
            .distinct()
            .withColumn(
                "region_id",
                (F.row_number().over(Window.orderBy("tzid")) - 1).cast("int"),
            )
        )
        shift_rows = local_rows_df(
            spark,
            [(tz, int(h)) for tz, h in shifts.items()] or [("", 0)],
            "tzid string, tz_shift int",
        )
        reg_dim = (
            regions.join(F.broadcast(shift_rows), "tzid", "left")
            .select(
                "region_id",
                F.col("tzid").alias("region_key"),
                F.coalesce("tz_shift", F.lit(0)).alias("tz_shift"),
            )
        )
        index = tprofile_index.crossJoin(
            F.broadcast(regions.select("region_id"))
        )
        out.update(make_icon_time_profiles(index, tprofiles, reg_dim, out_dir))
        cell_regions_path = os.path.join(out_dir, "cell_regions.parquet")
        cell_tz.join(F.broadcast(regions), "tzid").select(
            "cell_id", "region_id"
        ).write.mode("overwrite").parquet(cell_regions_path)
        out["cell_regions"] = cell_regions_path
    return out


def tno_to_hourly(
    spark: SparkSession,
    tno_file: str,
    tprofile_index: DataFrame,
    tprofiles: DataFrame,
    grid: DataFrame,
    nx: int,
    ny: int,
    start: str,
    hours: int,
    out_dir: str,
    substances_mapping: dict[str, str] | None = None,
    year_hours: int = 8760,
    gate_ticks: int | None = 32,
) -> list[str]:
    """TNO → per-hour NetCDF files.

    Mirrors ``scripts/tno_2_hourly.py``: annual inventory × temporal
    profiles → hourly rates (kg/h), one file per hour written
    EXECUTOR-side (no driver materialization of the hourly tensor —
    exports/netcdf.export_hourly_netcdf).  Returns the written paths.

    Before the hour fan-out, :func:`temporal_profile_gates` audits the
    profile table (every ratios array sums to 1) and raises on
    violation — ``gate_ticks=None`` opts out.  The gate reads only the
    dimension-sized profile table, so it costs nothing at fact scale.
    """
    from emiproc_spark.exports.netcdf import export_hourly_netcdf
    from emiproc_spark.operators.temporal import temporally_scaled

    if gate_ticks is not None:
        from emiproc_spark.operators.quality import enforce_gates

        enforce_gates(
            temporal_profile_gates(tprofiles, tol_ticks=gate_ticks),
            context="tno_to_hourly",
        )
    e = tno_area_emissions(spark, tno_file, substances_mapping)
    hourly = temporally_scaled(
        e, tprofile_index, tprofiles, start, hours, year_hours=year_hours
    )
    # the hour explode cannot create new (category, substance) pairs —
    # hand the writer the pre-fan-out dimension pairs so its code table
    # costs one pass over the ANNUAL inventory, not the expansion
    cs_pairs = distinct_rows(e, ["category", "substance"], "tno_to_hourly pairs")
    return export_hourly_netcdf(
        hourly, grid, nx, ny, start, out_dir, cs_pairs=cs_pairs
    )


def zurich_to_gral(
    spark: SparkSession,
    gpkg_path: str,
    out_dir: str,
    categories_group: dict[str, list[str]] | None = None,
    emission_infos: dict[str, dict] | None = None,
    substances: list[str] | None = None,
    **gpkg_kwargs,
) -> dict[tuple[str, str], int]:
    """MapLuftZurich GPKG → GRAL emission files.

    Mirrors ``scripts/zh_2_gral.py``: read the shaped sources from the
    GeoPackage, optionally regroup categories (a rename join on the
    shaped table — shapes keep their identity, the reference's gdfs
    branch of group_categories), write point.dat / line.dat /
    cadastre.dat / source_groups.json.  Returns the source-group map.
    """
    from emiproc_spark.exports.gral import write_gral_emissions
    from emiproc_spark.sources.geopackage import from_geopackage

    shaped = from_geopackage(spark, gpkg_path, substances=substances, **gpkg_kwargs)
    if categories_group:
        pairs = [(m, g) for g, members in categories_group.items() for m in members]
        mapping = F.broadcast(
            local_rows_df(spark, pairs, "category string, category_group string")
        )
        shaped = (
            shaped.join(mapping, "category", "left")
            .withColumn(
                "category", F.coalesce("category_group", "category")
            )
            .drop("category_group")
        )
    return write_gral_emissions(out_dir, shaped, emission_infos=emission_infos)


def edgar_to_hourly(
    spark: SparkSession,
    edgar_path: str,
    aux_dir: str,
    cell_country: DataFrame,
    grid: DataFrame,
    nx: int,
    ny: int,
    start: str,
    hours: int,
    out_dir: str,
    year: int | None = None,
    year_hours: int | None = None,
    country_aliases: dict[str, str] | None = None,
    gate_ticks: int | None = 1024,
) -> list[str]:
    """EDGAR v8 → country-aware hourly NetCDF files.

    The reference's EDGAR temporal workflow end-to-end: gridmap ingest
    (``edgar_v8``, short category names so the auxiliary tables match),
    the auxiliary weekly ⊕ hour-of-week-per-month profiles keyed by
    country (``edgar_auxiliary_profiles``), country→cell fraction
    blending (``country_to_cells``), the CELL-keyed hourly expansion,
    and one NetCDF file per hour written executor-side.

    ``cell_country``: (cell_id, country, fraction) from
    ``operators.masks.cell_region_fractions`` over Natural Earth
    country polygons (ISO-A3 ids matching the EDGAR tables).
    """
    from emiproc_spark.exports.netcdf import export_hourly_netcdf
    from emiproc_spark.operators.profiles import country_to_cells
    from emiproc_spark.operators.temporal import temporally_scaled_cellwise
    from emiproc_spark.sources.edgar_profiles import edgar_auxiliary_profiles
    from emiproc_spark.sources.formats import edgar_v8

    if year_hours is None:
        # derive from the inventory year (leap rule): a mismatched
        # default would silently scale every hourly rate by 8784/8760
        if year is None:
            year_hours = 8760
        else:
            leap = year % 4 == 0 and (year % 100 != 0 or year % 400 == 0)
            year_hours = 8784 if leap else 8760

    from emiproc_spark.sources.formats import edgar_v8_categories

    e = edgar_v8(spark, edgar_path, year=year, use_short_category_names=True)
    # category set via the SAME admission rule edgar_v8 applies (file
    # 'year' attribute, not the filename stem) — a stem-only probe would
    # drop a file whose stem lacks the year but whose attribute matches,
    # silently handing its category the constant sf=1.0 profile.  The
    # probe is a distributed header-level pass (no array decode).
    # (_edgar_v8_admit already rejects empty short-name categories)
    cats = edgar_v8_categories(spark, edgar_path, year=year)
    store, index = edgar_auxiliary_profiles(
        spark, aux_dir, inv_categories=cats, country_aliases=country_aliases
    )
    if gate_ticks is not None:
        # profile-normalization gate ON BY DEFAULT before the hour
        # fan-out (gate_ticks=None opts out).  The default tolerance is
        # wider than tno_to_hourly's because the hour-of-week-per-month
        # store rows carry 2016 entries — worst-case per-row rounding
        # is entries/2 ≈ 1008 ticks even for a perfectly normalized
        # profile; 1024 ticks ≈ 1e-6 absolute still catches any real
        # violation by orders of magnitude.
        from emiproc_spark.operators.quality import enforce_gates

        enforce_gates(
            temporal_profile_gates(store, tol_ticks=gate_ticks),
            context="edgar_to_hourly",
        )
    # (country, category, profile_id) → per-cell blended ratios per
    # category; substance never varies in the EDGAR tables
    cell_profiles = country_to_cells(index, store, cell_country)
    hourly = temporally_scaled_cellwise(
        e, cell_profiles, start, hours, year_hours=year_hours
    )
    # pre-fan-out pairs: the hour explode adds none (see tno_to_hourly)
    cs_pairs = distinct_rows(e, ["category", "substance"], "edgar_to_hourly pairs")
    return export_hourly_netcdf(
        hourly, grid, nx, ny, start, out_dir, cs_pairs=cs_pairs
    )


def curate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    text_col: str = "text",
    minhash_k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 1024,
    jaccard_threshold: float = 0.8,
    min_tokens: int | None = 20,
    max_dup_token_frac: float | None = 0.9,
    decon_n: int = 5,
    ctx_len: int | None = 2048,
    n_shards: int = 16,
) -> dict[str, DataFrame]:
    """End-to-end training-corpus curation — the one-call unit a data
    pipeline runs nightly, composed purely from the oracle-checked
    operators (no new semantics):

    1. exact dedup (byte-identical groups keep their min doc_id),
    2. near-dedup: MinHash → LSH candidates (``oversize_policy="drop"``
       because verification follows — the star policy's documented
       caveat) → EXACT Jaccard confirm ≥ ``jaccard_threshold`` →
       connected components → min-id representative per cluster,
    3. quality gate (audited ``keep``/``reason``; kept rows proceed),
    4. eval-set decontamination (broadcast ``decon_n``-grams) when
       ``eval_docs`` is given,
    5. packing plan: deterministic shards + concat-and-chunk sequence
       placement (skipped when ``ctx_len`` is None).

    Returns every stage's frame (all lazy — nothing executes until the
    caller acts): ``exact_groups``, ``exact_kept``, ``near_pairs``,
    ``deduped``, ``quality``, ``kept``, ``clean``, ``packed`` (None when
    skipped), and ``gates`` — the declarative output-invariant audit
    (unique/present ids, present text, quality floor held; one row per
    rule) to run via ``quality.enforce_gates`` before shipping a drop.
    Stage order matters at scale: each dedup stage shrinks the corpus
    the next (more expensive per-row) stage scans.
    """
    from emiproc_spark.operators import cluster as cl
    from emiproc_spark.operators import dedup as dd
    from emiproc_spark.operators import packing as pk
    from emiproc_spark.operators import text as tx

    # 1 — exact dedup
    groups = dd.exact_duplicates(docs, text_col)
    hashed = docs.withColumn("__h", F.md5(F.col(text_col)))
    exact_kept = (
        hashed.join(
            groups.select(F.col("text_hash").alias("__h"), "keep_doc_id"),
            "__h",
            "left",
        )
        .where(
            F.col("keep_doc_id").isNull()
            | (F.col("doc_id") == F.col("keep_doc_id"))
        )
        .drop("__h", "keep_doc_id")
        # exact_kept feeds the signature build, the exact verify AND the
        # representative collapse — without truncating lineage each
        # reference re-derives the exact-dedup join from the source scan
        .localCheckpoint(eager=False)
    )

    # 2 — near-dedup (verify-then-cluster)
    sigs = dd.minhash_signatures(exact_kept, k=minhash_k, text_col=text_col)
    cands = dd.lsh_candidate_pairs(
        sigs,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
        oversize_policy="drop",
    )
    near_pairs = dd.verify_candidate_pairs(
        exact_kept, cands, text_col=text_col, threshold=jaccard_threshold
    )
    deduped = cl.dedup_keep_representative(exact_kept, near_pairs)

    # 3 — quality gate
    quality = tx.quality_filter(
        deduped,
        min_tokens=min_tokens,
        max_dup_token_frac=max_dup_token_frac,
        text_col=text_col,
    )
    kept = quality.where(F.col("keep")).select(*deduped.columns)

    # 4 — decontamination
    clean = (
        pk.decontaminate(kept, eval_docs, text_col=text_col, n=decon_n)
        if eval_docs is not None
        else kept
    )

    # 5 — packing plan
    packed = None
    if ctx_len is not None:
        sized = clean.withColumn(
            "n_tokens", tx.token_count(F.col(text_col))
        )
        packed = pk.pack_sequences(sized, ctx_len, n_shards=n_shards)

    # 6 — declarative output gates: the invariants every curated drop
    # must satisfy, as an audited frame (quality.validate_expectations)
    # instead of scattered asserts.  All rules ride ONE aggregation
    # over the final corpus; enforce with quality.enforce_gates.
    gates = curation_output_gates(clean, text_col, min_tokens)

    return {
        "exact_groups": groups,
        "exact_kept": exact_kept,
        "near_pairs": near_pairs,
        "deduped": deduped,
        "quality": quality,
        "kept": kept,
        "clean": clean,
        "packed": packed,
        "gates": gates,
    }


def curation_output_gates(
    clean: DataFrame,
    text_col: str = "text",
    min_tokens: int | None = None,
) -> DataFrame:
    """The declarative output-invariant audit every curated drop must
    pass (see ``curate_corpus`` stage 6): doc ids unique and present,
    text present, and — when a quality floor was applied — every
    surviving document still satisfies it.  Factored out so a caller
    holding an already-materialized ``clean`` (e.g. yesterday's
    parquet) can gate it without re-running the pipeline."""
    from emiproc_spark.operators import text as tx
    from emiproc_spark.operators.quality import validate_expectations

    rules = [
        ("doc_id", "not_null", {}),
        ("doc_id", "unique", {}),
        (text_col, "not_null", {}),
    ]
    gated = clean.withColumn("n_tokens", tx.token_count(F.col(text_col)))
    if min_tokens is not None:
        rules.append(("n_tokens", "range", {"lo": int(min_tokens)}))
    return validate_expectations(gated, rules)
