"""GeoPackage source without geo libraries (S5's .gpkg path,
reference xr.py:44-53 suffix dispatch).

A GeoPackage is a SQLite database (stdlib sqlite3 reads it) whose
feature tables store geometry as "GeoPackage Binary": an 8-byte-plus
header (magic 'GP', version, flags, SRS id, optional envelope) followed
by standard WKB (OGC GeoPackage spec §2.1.3, public). Point WKB decodes
with the same 21-byte layout the engine's sink writes.

Driver-side read → spark.createDataFrame: GeoPackages in this pipeline
are AOI-sized or single-run extraction outputs, not 100 TB tables — the
bronze path for big data is parquet.
"""

from __future__ import annotations

import sqlite3
import struct
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from gedixr_spark.session import local_frame

_ENVELOPE_SIZES = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def _gpkg_wkb(blob: bytes) -> bytes:
    """Strip the GeoPackage Binary header, returning the WKB body."""
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackage Binary geometry (missing GP magic)")
    flags = blob[3]
    envelope_ind = (flags >> 1) & 0b111
    return blob[8 + _ENVELOPE_SIZES.get(envelope_ind, 0):]


def parse_gpkg_geometry(blob: bytes) -> tuple[float, float]:
    """GeoPackage Binary → (x, y) for Point geometry."""
    wkb = _gpkg_wkb(blob)
    byte_order = "<" if wkb[0] == 1 else ">"
    (geom_type,) = struct.unpack_from(f"{byte_order}I", wkb, 1)
    if geom_type % 1000 != 1:  # Point (allowing Z/M variants' base type)
        raise ValueError(f"only Point geometry supported, got WKB type {geom_type}")
    x, y = struct.unpack_from(f"{byte_order}dd", wkb, 5)
    return x, y


def _read_wkb_rings(wkb: bytes, offset: int, order: str) -> tuple[list, int]:
    """Read numRings + rings at ``offset`` (a WKB Polygon body)."""
    (n_rings,) = struct.unpack_from(f"{order}I", wkb, offset)
    offset += 4
    rings = []
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from(f"{order}I", wkb, offset)
        offset += 4
        flat = struct.unpack_from(f"{order}{2 * n_pts}d", wkb, offset)
        offset += 16 * n_pts
        rings.append([[flat[2 * i], flat[2 * i + 1]] for i in range(n_pts)])
    return rings, offset


def parse_gpkg_polygon_wkt(blob: bytes) -> str:
    """GeoPackage Binary → WKT for Polygon / MultiPolygon geometry
    (interior rings preserved) — the AOI path: the reference reads
    polygon AOIs from any fiona format incl. .gpkg
    (ancillary.py:121-154); this covers it with stdlib parsing."""
    from gedixr_spark.sources.vector import _polys_to_wkt

    wkb = _gpkg_wkb(blob)
    order = "<" if wkb[0] == 1 else ">"
    (geom_type,) = struct.unpack_from(f"{order}I", wkb, 1)
    base = geom_type % 1000
    if base == 3:  # Polygon
        rings, _ = _read_wkb_rings(wkb, 5, order)
        return _polys_to_wkt([rings])
    if base == 6:  # MultiPolygon: each element is a full WKB Polygon
        (n_polys,) = struct.unpack_from(f"{order}I", wkb, 5)
        off = 9
        polys = []
        for _ in range(n_polys):
            sub_order = "<" if wkb[off] == 1 else ">"
            rings, off = _read_wkb_rings(wkb, off + 5, sub_order)
            polys.append(rings)
        return _polys_to_wkt(polys)
    raise ValueError(f"expected Polygon/MultiPolygon WKB, got type {geom_type}")


def list_feature_tables(path: str | Path) -> list[tuple[str, str]]:
    """(table_name, geometry_column) pairs from gpkg metadata."""
    with sqlite3.connect(path) as con:
        rows = con.execute(
            "SELECT c.table_name, g.column_name "
            "FROM gpkg_contents c JOIN gpkg_geometry_columns g "
            "ON c.table_name = g.table_name WHERE c.data_type = 'features'"
        ).fetchall()
    return [(t, c) for t, c in rows]


def read_geopackage(
    spark: SparkSession, path: str | Path, table: str | None = None
) -> DataFrame:
    """Read a GeoPackage feature table into a shot-style DataFrame:
    attribute columns as-is + longitude/latitude from the Point
    geometry (ready for with_geometry / spatial ops)."""
    tables = list_feature_tables(path)
    if not tables:
        raise ValueError(f"no feature tables in {path}")
    if table is None:
        name, geom_col = tables[0]
    else:
        match = [t for t in tables if t[0] == table]
        if not match:
            raise ValueError(f"table {table!r} not in {path} (has {[t for t, _ in tables]})")
        name, geom_col = match[0]

    with sqlite3.connect(path) as con:
        con.row_factory = sqlite3.Row
        rows = con.execute(f'SELECT * FROM "{name}"').fetchall()
    if not rows:
        raise ValueError(f"feature table {name!r} is empty")
    attr_cols = [k for k in rows[0].keys() if k != geom_col]
    data = []
    for r in rows:
        x, y = parse_gpkg_geometry(r[geom_col])
        data.append(tuple(r[c] for c in attr_cols) + (x, y))
    return spark.createDataFrame(data, attr_cols + ["longitude", "latitude"])


def aoi_from_geopackage(
    spark: SparkSession,
    path: str | Path,
    table: str | None = None,
    name_col: str | None = None,
) -> DataFrame:
    """Polygon AOI source from a GeoPackage feature table → the
    standard ``(aoi_name, geometry_wkt)`` AOI DataFrame. Names come
    from ``name_col`` if given, else any 'name' attribute, else
    ``{table}_{i}`` mirroring the reference's multi-feature explode
    (ancillary.py:148-153)."""
    tables = list_feature_tables(path)
    if not tables:
        raise ValueError(f"no feature tables in {path}")
    if table is None:
        tname, geom_col = tables[0]
    else:
        match = [t for t in tables if t[0] == table]
        if not match:
            raise ValueError(f"table {table!r} not in {path}")
        tname, geom_col = match[0]
    with sqlite3.connect(path) as con:
        con.row_factory = sqlite3.Row
        rows = con.execute(f'SELECT * FROM "{tname}"').fetchall()
    if not rows:
        raise ValueError(f"feature table {tname!r} is empty")
    if name_col is None and "name" in rows[0].keys():
        name_col = "name"
    out = []
    for i, r in enumerate(rows):
        name = str(r[name_col]) if name_col else (
            tname if len(rows) == 1 else f"{tname}_{i}"
        )
        out.append((name, parse_gpkg_polygon_wkt(r[geom_col])))
    return local_frame(spark, out, "aoi_name string, geometry_wkt string")


def _wkb_polygon(rings: list[list[list[float]]]) -> bytes:
    body = struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        body += struct.pack("<I", len(ring))
        for x, y in ring:
            body += struct.pack("<dd", x, y)
    return body


def write_polygon_gpkg(
    path: str | Path,
    table: str,
    features: list[dict],
    srs_id: int = 4326,
):
    """Minimal polygon GeoPackage writer (tests / AOI exchange): each
    feature dict has 'name' and 'rings' (list of rings, first =
    exterior, rest = holes)."""
    path = Path(path)
    with sqlite3.connect(path) as con:
        _ensure_gpkg_metadata(con, srs_id)
        con.execute(
            f'CREATE TABLE IF NOT EXISTS "{table}" '
            "(fid INTEGER PRIMARY KEY AUTOINCREMENT, geom BLOB, name TEXT)"
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_contents "
            "(table_name, data_type, identifier, srs_id) VALUES (?, 'features', ?, ?)",
            (table, table, srs_id),
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_geometry_columns VALUES (?, 'geom', 'POLYGON', ?, 0, 0)",
            (table, srs_id),
        )
        header = b"GP\x00\x01" + struct.pack("<i", srs_id)
        for f in features:
            con.execute(
                f'INSERT INTO "{table}" (geom, name) VALUES (?, ?)',
                (header + _wkb_polygon(f["rings"]), f["name"]),
            )


def _ensure_gpkg_metadata(con: sqlite3.Connection, srs_id: int) -> None:
    con.executescript(
        f"""
        PRAGMA application_id = 0x47504B47;
        CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
          srs_name TEXT, srs_id INTEGER PRIMARY KEY, organization TEXT,
          organization_coordsys_id INTEGER, definition TEXT, description TEXT);
        INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES
          ('WGS 84', {srs_id}, 'EPSG', {srs_id}, 'GEOGCS["WGS 84"]', NULL);
        CREATE TABLE IF NOT EXISTS gpkg_contents (
          table_name TEXT PRIMARY KEY, data_type TEXT, identifier TEXT,
          description TEXT, last_change TEXT, min_x REAL, min_y REAL,
          max_x REAL, max_y REAL, srs_id INTEGER);
        CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
          table_name TEXT PRIMARY KEY, column_name TEXT,
          geometry_type_name TEXT, srs_id INTEGER, z TINYINT, m TINYINT);
        """
    )


def write_point_gpkg(path: str | Path, table: str, rows: list[dict], srs_id: int = 4326):
    """Minimal GeoPackage writer (Point features) — enough for tests
    and small AOI/result exchange; each row dict needs 'longitude' and
    'latitude' plus attribute keys."""
    path = Path(path)
    attr_keys = [k for k in rows[0] if k not in ("longitude", "latitude")]
    with sqlite3.connect(path) as con:
        con.executescript(
            f"""
            PRAGMA application_id = 0x47504B47;
            CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
              srs_name TEXT, srs_id INTEGER PRIMARY KEY, organization TEXT,
              organization_coordsys_id INTEGER, definition TEXT, description TEXT);
            INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES
              ('WGS 84', {srs_id}, 'EPSG', {srs_id}, 'GEOGCS["WGS 84"]', NULL);
            CREATE TABLE IF NOT EXISTS gpkg_contents (
              table_name TEXT PRIMARY KEY, data_type TEXT, identifier TEXT,
              description TEXT, last_change TEXT, min_x REAL, min_y REAL,
              max_x REAL, max_y REAL, srs_id INTEGER);
            CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
              table_name TEXT PRIMARY KEY, column_name TEXT,
              geometry_type_name TEXT, srs_id INTEGER, z TINYINT, m TINYINT);
            """
        )
        cols = ", ".join(f'"{k}"' for k in attr_keys)
        con.execute(
            f'CREATE TABLE IF NOT EXISTS "{table}" '
            f"(fid INTEGER PRIMARY KEY AUTOINCREMENT, geom BLOB, {cols})"
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_contents "
            "(table_name, data_type, identifier, srs_id) VALUES (?, 'features', ?, ?)",
            (table, table, srs_id),
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_geometry_columns VALUES (?, 'geom', 'POINT', ?, 0, 0)",
            (table, srs_id),
        )
        header = b"GP\x00\x01" + struct.pack("<i", srs_id)  # v1, LE, no envelope
        for r in rows:
            wkb = b"\x01\x01\x00\x00\x00" + struct.pack("<dd", r["longitude"], r["latitude"])
            con.execute(
                f'INSERT INTO "{table}" (geom, {cols}) VALUES (?{", ?" * len(attr_keys)})',
                (header + wkb, *[r[k] for k in attr_keys]),
            )
