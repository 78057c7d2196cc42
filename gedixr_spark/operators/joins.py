"""Join operators J1-J3 (SURVEY.md §2.4).

J1/J3 are hash equi-joins Catalyst already handles; the engine's value-add
is the pandas-merge *semantics* (suffixes, precondition checks) and the
scale decisions: join on the compact unique key ``(shot, acq_time)``
instead of geometry bytes, and broadcast the small side.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gedixr_spark.geo import st_intersects_polygon
from gedixr_spark.session import local_frame


class MergeError(ValueError):
    """Raised on the reference's merge precondition failures (xr.py:95-97,134-136)."""


DEFAULT_MERGE_ON = ("shot", "acq_time", "geometry")  # reference xr.py:58-59


def _apply_suffixes(
    l2b: DataFrame, l2a: DataFrame, on: Sequence[str], suffixes: tuple[str, str]
) -> tuple[DataFrame, DataFrame]:
    """pandas-merge suffix semantics: non-key columns that collide get
    ``suffixes[0]``/``suffixes[1]`` appended (reference xr.py:84-86 uses
    ``('_l2a','_l2b')`` with l2b as the left frame)."""
    overlap = (set(l2b.columns) & set(l2a.columns)) - set(on)
    for c in overlap:
        l2b = l2b.withColumnRenamed(c, c + suffixes[0])
        l2a = l2a.withColumnRenamed(c, c + suffixes[1])
    return l2b, l2a


def merge_products(
    l2b: DataFrame,
    l2a: DataFrame,
    how: str = "inner",
    on: Sequence[str] | None = None,
    suffixes: tuple[str, str] = ("_l2b", "_l2a"),
) -> DataFrame:
    """J1 — L2A⋈L2B product merge (reference ``merge_gdf``, xr.py:56-112).

    ``on`` defaults to the reference's ``['geometry','shot','acq_time']``
    minus any column absent from either side (a struct geometry is a
    legal Spark join key, so geometry-as-key semantics survive). ``how``
    maps 1:1 to Spark join types. The reference's equal-row-count
    warning (xr.py:137-141) is available separately via
    ``check_merge_counts`` — it costs two counts, so it's opt-in at scale.

    INTENTIONAL naming divergence from the reference: its
    ``l2b.merge(l2a, suffixes=('_l2a','_l2b'))`` (xr.py:84-86) attaches
    ``_l2a`` to the LEFT frame's columns — i.e. L2B columns come out
    named ``*_l2a`` (an upstream suffix-order slip). The default here,
    ``suffixes=('_l2b','_l2a')``, labels each column by the product it
    came from. To reproduce reference-compatible column names
    byte-for-byte (e.g. when diffing against checkpoints the reference
    wrote), pass ``suffixes=('_l2a','_l2b')``.
    """
    on = [c for c in (on or DEFAULT_MERGE_ON) if c in l2b.columns and c in l2a.columns]
    if not on:
        raise MergeError("no common join keys between the two product tables")
    l2b, l2a = _apply_suffixes(l2b, l2a, on, suffixes)
    return l2b.join(l2a, on=list(on), how=how)


def check_merge_counts(l2b: DataFrame, l2a: DataFrame) -> bool:
    """The J1 row-count-equality warning (reference xr.py:137-141).
    Returns True when counts match; the caller decides whether to log."""
    return l2b.count() == l2a.count()


def merge_keyed(
    l2b: DataFrame,
    l2a: DataFrame,
    key_col: str = "aoi_name",
    how: str = "inner",
    on: Sequence[str] | None = None,
    suffixes: tuple[str, str] = ("_l2b", "_l2a"),
) -> DataFrame:
    """J3 — keyed (per-AOI) merge (reference xr.py:87-106).

    With AOIs materialized as a partition column, the reference's
    python-dict loop collapses into J1 with ``aoi_name`` prepended to
    the join keys. The reference's zero-overlapping-keys error
    (xr.py:95-97) is checked lazily via an intersect count.
    """
    on = list(on or [c for c in DEFAULT_MERGE_ON if c in l2b.columns and c in l2a.columns])
    if key_col not in on:
        on = [key_col] + on
    return merge_products(l2b, l2a, how=how, on=on, suffixes=suffixes)


#: past this many AOIs the compiled per-AOI predicate expression
#: outgrows codegen and every row pays every predicate — switch to the
#: grid-indexed cell equi-join (10k AOIs are impossible without it)
AOI_PREDICATE_PLAN_MAX = 32


def spatial_join_aoi_auto(
    shots: DataFrame,
    aois: DataFrame,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    name_col: str = "aoi_name",
    wkt_col: str = "geometry_wkt",
) -> DataFrame:
    """J2 with plan selection (the choice ``api.extract_data`` makes,
    shared so every caller gets it). The per-AOI-predicate plan wins
    only when it stays ENTIRELY JVM-side: few AOIs (the compiled
    expression grows with the count) AND every AOI rectilinear, so
    each predicate is pure range/column math — pushdown-able, zero
    join, zero Arrow. One general polygon in the set changes the
    economics: its ray-cast UDF predicate gets extracted into an
    ArrowEvalPython stage that every coarse-bbox survivor crosses
    (measured 4.5 s vs 1.3-1.7 s at sf0.1, 4 AOIs, one triangle),
    while the grid-indexed plan ships only cell-matched CANDIDATES of
    the non-rect AOIs to the single batched UDF. So: all-rectilinear
    and small → predicate plan; otherwise → grid-indexed. Both plans
    are row-identical (property-tested); only the physical strategy
    differs. Driver-side collect of the AOI table is by contract —
    named polygons are small."""
    from gedixr_spark.geo import parse_wkt_rings, rings_all_rects

    # LIMIT max+1: a many-AOI table decides on COUNT alone — never
    # collect or ring-parse 10k geometries on the driver just to pick
    # the plan the count already determined
    rows = aois.select(wkt_col).limit(AOI_PREDICATE_PLAN_MAX + 1).collect()
    all_rectilinear = len(rows) <= AOI_PREDICATE_PLAN_MAX and all(
        rings_all_rects(parse_wkt_rings(r[wkt_col])) for r in rows
    )
    if len(rows) <= AOI_PREDICATE_PLAN_MAX and all_rectilinear:
        return spatial_join_aoi(
            shots, aois, lon_col=lon_col, lat_col=lat_col,
            name_col=name_col, wkt_col=wkt_col,
        )
    return spatial_join_aoi_indexed(
        shots, aois, lon_col=lon_col, lat_col=lat_col,
        name_col=name_col, wkt_col=wkt_col,
    )


def spatial_join_aoi_indexed(
    shots: DataFrame,
    aois: DataFrame,
    cell_deg: float = 1.0,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    name_col: str = "aoi_name",
    wkt_col: str = "geometry_wkt",
) -> DataFrame:
    """J2 at many-AOI scale: grid-indexed spatial join.

    spatial_join_aoi compiles one predicate per AOI into a single
    projection — ideal for a handful of AOIs, impossible for 10k (the
    expression outgrows codegen, and every row pays every predicate).
    This variant builds a coarse grid index instead:

      1. each AOI explodes into the grid cells its bbox covers
         (driver-side — AOI tables are small even at 10k polygons);
      2. shots compute their (single) cell id — pure column math;
      3. equi-join on cell id (broadcast: the cell→AOI index is small)
         pairs each shot with only the AOIs whose bbox shares its cell;
      4. exact bbox + polygon refinement on the few candidates.

    Per-shot work is O(AOIs overlapping its cell), not O(all AOIs) —
    the same cell-index strategy a spatial engine's partitioned join
    uses, in plain DataFrame ops. Exact-polygon refinement covers
    rectangles JVM-side (bbox IS the polygon); every non-rectangular
    candidate row goes through ONE vectorized even-odd ray-cast UDF
    over (lon, lat, aoi_name) with the vertex arrays captured in the
    closure — a single Arrow pass regardless of AOI count (a per-AOI
    when/udf chain would be 10k UDF invocations per row at 10k AOIs
    and outgrow codegen). Holed and multi-part AOIs are supported
    (even-odd over all rings)."""
    from gedixr_spark.geo import (
        EDGES_SQL_TYPE,
        is_rectangle,
        parse_wkt_rings,
        pip_edges_predicate,
        rect_rings_predicate,
        rings_all_rects,
        rings_bounds,
        rings_to_edge_tuples,
    )

    rows = aois.select(name_col, wkt_col).collect()
    if not rows:
        raise MergeError("empty AOI table")

    # 1. driver-side cell index: (cell_x, cell_y, aoi_name, bounds, edges)
    # Refinement strategy per AOI: plain rectangle → the bbox IS the
    # polygon; rectilinear rings (holed/multi rectangles) → pure
    # column-math predicate (JVM, no UDF) while the count is small
    # enough to compile; general polygons → edge arrays carried ON the
    # broadcast index rows, refined by the JVM even-odd higher-order
    # expression (`pip_edges_predicate`) — no Python boundary at any
    # AOI count.
    _MAX_RECTILINEAR_COMPILED = 64
    parsed = []
    non_rect_polys = {}
    rectilinear = {}
    for r in rows:
        rings = parse_wkt_rings(r[wkt_col])
        bounds = rings_bounds(rings)
        nonrect = not (len(rings) == 1 and is_rectangle(rings[0]))
        if nonrect:
            if rings_all_rects(rings):
                rectilinear[r[name_col]] = rings
            else:
                non_rect_polys[r[name_col]] = rings
        parsed.append((r[name_col], rings, bounds, nonrect))
    # 1a. decide the rectilinear strategy BEFORE building the index so
    # overflow AOIs get edge arrays too: past the compile bound the
    # when-chain outgrows codegen, so they refine through the same
    # edge-array expression as general polygons
    if len(rectilinear) > _MAX_RECTILINEAR_COMPILED:
        non_rect_polys.update(rectilinear)
        rectilinear = {}
    index_rows = []
    for name, rings, (xmin, ymin, xmax, ymax), nonrect in parsed:
        for cx in range(int(math.floor(xmin / cell_deg)), int(math.floor(xmax / cell_deg)) + 1):
            for cy in range(int(math.floor(ymin / cell_deg)), int(math.floor(ymax / cell_deg)) + 1):
                index_rows.append((cx, cy, name, xmin, ymin, xmax, ymax, nonrect))
    spark = shots.sparkSession
    index = local_frame(
        spark,
        index_rows,
        "cell_x int, cell_y int, aoi_name string, xmin double, ymin double, "
        "xmax double, ymax double, nonrect boolean",
    )
    # Edge arrays ride a SECOND tiny broadcast keyed by AOI name — ONE
    # edge list per general polygon, not one per covered cell (r15
    # VERDICT watch item: a continent-scale AOI at fine cell_deg made
    # the cell index O(cells × edges); this keeps the index row width
    # independent of cell count). The extra node is one
    # BroadcastHashJoin over ≤|AOIs| rows on the already-broadcast
    # candidate side — negligible against the scan it refines.
    edge_index = (
        local_frame(
            spark,
            [
                (name, rings_to_edge_tuples(rings))
                for name, rings in non_rect_polys.items()
            ],
            f"aoi_name string, edges {EDGES_SQL_TYPE}",
        )
        if non_rect_polys
        else None
    )

    # 2. global-envelope prefilter: ONE range predicate over the bbox
    # of ALL AOIs — unlike a per-AOI OR (which grows with AOI count)
    # this stays a 4-comparison predicate at any AOI count, reaches the
    # parquet scan as PushedFilters, and prunes row groups outside the
    # AOI universe entirely (at 100 TB that's most of the planet for
    # regional AOI sets)
    gx0 = min(r[3] for r in index_rows)
    gy0 = min(r[4] for r in index_rows)
    gx1 = max(r[5] for r in index_rows)
    gy1 = max(r[6] for r in index_rows)
    shots = shots.filter(
        F.col(lon_col).between(gx0, gx1) & F.col(lat_col).between(gy0, gy1)
    )

    # 3. shot cell id + broadcast equi-join on the cell, with the
    # exact-bbox refinement INSIDE the join condition: a Python-UDF
    # predicate applied as a later .filter would be extracted into an
    # ArrowEvalPython stage that runs on every cell-join candidate
    # (pre-bbox) — measured 3× slower at sf0.1; keeping bbox in the
    # join means the UDF stage only ever sees bbox survivors
    with_cell = shots.withColumn(
        "__cx", F.floor(F.col(lon_col) / cell_deg).cast("int")
    ).withColumn("__cy", F.floor(F.col(lat_col) / cell_deg).cast("int"))
    bbox_ok = (
        F.col(lon_col).between(F.col("xmin"), F.col("xmax"))
        & F.col(lat_col).between(F.col("ymin"), F.col("ymax"))
    )
    refined = with_cell.join(
        F.broadcast(index),
        (F.col("__cx") == F.col("cell_x"))
        & (F.col("__cy") == F.col("cell_y"))
        & bbox_ok,
    )

    # 4a. rectilinear AOIs refine JVM-side through the compiled
    # when-chain while it stays small (overflow was folded into the
    # edge-array path above)
    if rectilinear:
        keep_rect = F.lit(True)
        for n, rings in rectilinear.items():
            pred = rect_rings_predicate(F.col(lon_col), F.col(lat_col), rings)
            keep_rect = keep_rect & F.when(
                F.col(name_col) == n, pred
            ).otherwise(F.lit(True))
        refined = refined.filter(keep_rect)

    # 4b. general non-rect survivors refine through the JVM even-odd
    # higher-order expression over the edge array attached by the
    # per-AOI edge broadcast — one left join + one filter, zero Python
    # boundary, any AOI count (the old single-batched-Arrow design
    # shipped every candidate row out to a pandas kernel; this ships
    # none). Rows of rect/rectilinear AOIs get NULL edges from the
    # left join and pass through.
    if edge_index is not None:
        refined = refined.join(F.broadcast(edge_index), "aoi_name", "left")
        keep = F.col("edges").isNull() | pip_edges_predicate(
            F.col(lon_col), F.col(lat_col), F.col("edges")
        )
        refined = refined.filter(keep)
    return refined.drop(
        "__cx", "__cy", "cell_x", "cell_y", "xmin", "ymin", "xmax", "ymax",
        "nonrect", "edges",
    )


def check_key_overlap(l2b: DataFrame, l2a: DataFrame, key_col: str = "aoi_name") -> int:
    """The J3 precondition: error when the two keyed tables share zero
    keys (reference xr.py:95-97). Returns the overlap count."""
    n = (
        l2b.select(key_col).distinct().join(l2a.select(key_col).distinct(), key_col).count()
    )
    if n == 0:
        raise MergeError("no overlapping AOI keys between the two inputs")
    return n


def spatial_join_aoi(
    shots: DataFrame,
    aois: DataFrame,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    name_col: str = "aoi_name",
    wkt_col: str = "geometry_wkt",
) -> DataFrame:
    """J2 — shot×AOI spatial join over ST_Intersects semantics
    (reference extract.py:176-184: per-AOI ``gdf[gdf.intersects(geo)]``,
    replicating a shot into every AOI it intersects).

    The AOI table is tiny (named polygons) → collect its WKT to the
    driver, compile each polygon to a Column predicate
    (rectangles → range predicates, general → bbox + ray-cast UDF), and
    take the UNION of per-AOI filtered scans tagged with ``aoi_name``.
    This is a broadcast spatial join with zero shuffle: each branch is a
    pushdown-filtered scan, exactly what Sedona's broadcast spatial join
    would do, without the Sedona dependency. At 100 TB add a geohash
    bronze partition column to prune files per AOI (SURVEY §4).
    """
    rows = aois.select(name_col, wkt_col).collect()
    if not rows:
        raise MergeError("empty AOI table")
    # coarse-then-exact (SURVEY §4 / Sedona envelope strategy): the OR
    # of all AOI bounding boxes is pure range predicates → pushes into
    # the parquet scan (row-group min/max pruning at 100 TB); only the
    # survivors reach the exact tests / the ray-cast UDF.
    from gedixr_spark.geo import parse_wkt_rings, rings_bounds

    coarse = None
    for r in rows:
        xmin, ymin, xmax, ymax = rings_bounds(parse_wkt_rings(r[wkt_col]))
        b = F.col(lon_col).between(xmin, xmax) & F.col(lat_col).between(ymin, ymax)
        coarse = b if coarse is None else (coarse | b)
    # ONE scan: evaluate every AOI predicate per surviving row, explode
    # the names of matching AOIs (K predicates per row beats K scans).
    entries = [
        F.when(
            st_intersects_polygon(F.col(lon_col), F.col(lat_col), r[wkt_col]),
            F.lit(r[name_col]),
        )
        for r in rows
    ]
    matched = F.array_compact(F.array(*entries))
    return (
        shots.filter(coarse)
        .withColumn("__aois", matched)
        .filter(F.size("__aois") > 0)
        .withColumn(name_col, F.explode("__aois"))
        .drop("__aois")
    )
