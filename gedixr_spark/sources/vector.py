"""S6 — AOI vector source (SURVEY.md §2.1 S6).

The reference's ``prepare_vec`` (ancillary.py:121-154) reads any
fiona-supported vector file, reprojects to EPSG:4326, and explodes
multi-feature files into named single geometries keyed ``{base}_{i}``.

Here the AOI table is a small driver-side collection → a DataFrame
``(aoi_name, geometry_wkt)`` that downstream joins broadcast. Supported
inputs without geo libs: WKT strings, GeoJSON files (pure json, incl.
holed Polygons and MultiPolygons), and ESRI shapefiles via a pure-stdlib
``.shp`` record reader (the most common real-world AOI format —
reference ``prepare_vec`` reads them through fiona, ancillary.py:121-154).
"""

from __future__ import annotations

import json
import struct as _struct
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from gedixr_spark.geo import parse_wkt_rings  # validation only
from gedixr_spark.session import local_frame

AOI_SCHEMA = "aoi_name string, geometry_wkt string"


def _rings_to_wkt(rings: list[list[list[float]]]) -> str:
    """Polygon rings (first = exterior, rest = holes) → WKT POLYGON."""
    bodies = ", ".join(
        "(" + ", ".join(f"{x} {y}" for x, y in ring) + ")" for ring in rings
    )
    return f"POLYGON ({bodies})"


def _polys_to_wkt(polys: list[list[list[list[float]]]]) -> str:
    """One or more ring-lists → POLYGON or MULTIPOLYGON WKT."""
    if len(polys) == 1:
        return _rings_to_wkt(polys[0])
    parts = ", ".join(
        "("
        + ", ".join(
            "(" + ", ".join(f"{x} {y}" for x, y in ring) + ")" for ring in rings
        )
        + ")"
        for rings in polys
    )
    return f"MULTIPOLYGON ({parts})"


def aoi_from_wkt(spark: SparkSession, aois: dict[str, str]) -> DataFrame:
    """Build the AOI table from ``{name: wkt}`` (POLYGON incl. interior
    rings, or MULTIPOLYGON); validates each geometry parses. Mirrors
    prepare_vec's output structure (extract.py:78-83) with the dict
    flattened to an ``aoi_name`` column."""
    for name, wkt in aois.items():
        parse_wkt_rings(wkt)
    return local_frame(spark, aois.items(), AOI_SCHEMA)


def aoi_from_geojson(spark: SparkSession, path: str | Path) -> DataFrame:
    """GeoJSON AOI reader (pure-json subset of prepare_vec). Multi-feature
    files explode to ``{stem}_{i}`` names exactly like the reference
    (ancillary.py:148-153); single-feature files use the stem alone.
    Polygon (with holes) and MultiPolygon geometries are supported.
    Assumes EPSG:4326 input; CRS transforms need geo libs
    (import-gated upstream)."""
    path = Path(path)
    doc = json.loads(path.read_text())
    feats = doc["features"] if doc.get("type") == "FeatureCollection" else [doc]
    base = path.stem
    rows = []
    for i, feat in enumerate(feats):
        geom = feat["geometry"] if "geometry" in feat else feat
        if geom["type"] == "Polygon":
            wkt = _polys_to_wkt([geom["coordinates"]])
        elif geom["type"] == "MultiPolygon":
            wkt = _polys_to_wkt(geom["coordinates"])
        else:
            raise ValueError(
                f"only Polygon/MultiPolygon AOIs supported, got {geom['type']}"
            )
        name = base if len(feats) == 1 else f"{base}_{i}"
        rows.append((name, wkt))
    return local_frame(spark, rows, AOI_SCHEMA)


def _ring_signed_area(ring: list[list[float]]) -> float:
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def aoi_from_shapefile(spark: SparkSession, path: str | Path) -> DataFrame:
    """ESRI shapefile AOI reader — pure stdlib ``struct`` parsing of the
    ``.shp`` geometry records (ESRI Shapefile Technical Description,
    July 1998: 100-byte big-endian header; per record an 8-byte
    big-endian header then little-endian shape data).

    Supported shape types: 5 (Polygon, incl. parts = rings) and 15
    (PolygonZ — Z/M values ignored). Ring roles follow the spec:
    clockwise (negative signed area in x-y axes) = exterior,
    counter-clockwise = hole; multiple exterior rings make a
    MultiPolygon. Multi-record files explode to ``{stem}_{i}`` names
    like the reference's multi-feature explode (ancillary.py:148-153).
    The ``.dbf`` attribute table is not read (AOI names come from the
    filename, matching prepare_vec's unnamed-feature behavior); the
    ``.prj`` is not read — coordinates are assumed EPSG:4326 (CRS
    transforms need geo libs, import-gated upstream)."""
    path = Path(path)
    data = path.read_bytes()
    (file_code,) = _struct.unpack_from(">i", data, 0)
    if file_code != 9994:
        raise ValueError(f"not a shapefile (bad magic {file_code}): {path}")
    (file_len_words,) = _struct.unpack_from(">i", data, 24)
    end = file_len_words * 2
    pos = 100
    features: list[list[list[list[float]]]] = []  # per record: list of rings
    while pos < min(end, len(data)):
        _recnum, content_words = _struct.unpack_from(">ii", data, pos)
        pos += 8
        (shape_type,) = _struct.unpack_from("<i", data, pos)
        if shape_type == 0:  # null shape
            pos += content_words * 2
            continue
        if shape_type not in (5, 15):
            raise ValueError(
                f"unsupported shapefile shape type {shape_type} (Polygon/PolygonZ only)"
            )
        num_parts, num_points = _struct.unpack_from("<ii", data, pos + 36)
        parts = list(_struct.unpack_from(f"<{num_parts}i", data, pos + 44))
        pts_off = pos + 44 + 4 * num_parts
        flat = _struct.unpack_from(f"<{2 * num_points}d", data, pts_off)
        rings = []
        for j, start in enumerate(parts):
            stop = parts[j + 1] if j + 1 < num_parts else num_points
            ring = [[flat[2 * p], flat[2 * p + 1]] for p in range(start, stop)]
            if ring and ring[0] != ring[-1]:
                ring.append(ring[0])
            rings.append(ring)
        features.append(rings)
        pos += content_words * 2

    base = path.stem
    rows = []
    for i, rings in enumerate(features):
        # group holes with the exteriors: spec says exteriors are CW;
        # assign each hole to the polygon of the preceding exterior
        # (rings are stored exterior-then-its-holes in practice)
        polys: list[list[list[list[float]]]] = []
        for ring in rings:
            if _ring_signed_area(ring) < 0 or not polys:  # CW → exterior
                polys.append([ring])
            else:
                polys[-1].append(ring)
        name = base if len(features) == 1 else f"{base}_{i}"
        rows.append((name, _polys_to_wkt(polys)))
    if not rows:
        raise ValueError(f"no polygon records in {path}")
    return local_frame(spark, rows, AOI_SCHEMA)



def aoi_from_kml(spark: SparkSession, path: str | Path) -> DataFrame:
    """KML AOI reader — pure stdlib ``xml.etree`` (the fiona-format
    breadth item the reference covers via fiona drivers,
    ancillary.py:121-154; KML needs no native libs: it is XML).

    Supported per Placemark: Polygon (outerBoundaryIs + any number of
    innerBoundaryIs holes) and MultiGeometry of Polygons. Placemark
    <name> wins as the AOI name; unnamed ones fall back to
    ``{stem}_{i}``; single-feature files use the stem alone, mirroring
    the reference's explode-naming. Coordinates are KML's
    lon,lat[,alt] triplets; altitude is dropped. Assumes EPSG:4326
    (the KML spec mandates it)."""
    import xml.etree.ElementTree as ET

    path = Path(path)
    root = ET.parse(str(path)).getroot()

    def local(tag: str) -> str:  # strip any xmlns
        return tag.rsplit("}", 1)[-1]

    def find_all(el, name):
        return [c for c in el.iter() if local(c.tag) == name]

    def ring_coords(ring_el) -> list[list[float]]:
        coords = find_all(ring_el, "coordinates")
        if not coords:
            raise ValueError(f"KML ring without <coordinates> in {path}")
        txt = coords[0].text or ""
        pts = []
        for tok in txt.split():
            parts = tok.split(",")
            pts.append([float(parts[0]), float(parts[1])])
        if pts and pts[0] != pts[-1]:
            pts.append(pts[0])
        if len(pts) < 4:
            raise ValueError(f"degenerate KML ring in {path}")
        return pts

    def polygon_rings(poly_el) -> list[list[list[float]]]:
        outer = find_all(poly_el, "outerBoundaryIs")
        if not outer:
            raise ValueError(f"KML Polygon without outerBoundaryIs in {path}")

        def linear_ring(boundary_el, kind: str):
            lr = find_all(boundary_el, "LinearRing")
            if not lr:
                raise ValueError(
                    f"KML {kind} without <LinearRing> in {path}"
                )
            return lr[0]

        rings = [ring_coords(linear_ring(outer[0], "outerBoundaryIs"))]
        for inner in find_all(poly_el, "innerBoundaryIs"):
            rings.append(ring_coords(linear_ring(inner, "innerBoundaryIs")))
        return rings

    base = path.stem
    # filter to polygon-bearing placemarks FIRST so the naming rule
    # (bare stem for a single feature, dense stem_i otherwise) counts
    # only actual AOIs — point/line placemarks must not shift indices
    # or break the single-feature stem
    poly_pms = [
        (pm, polys)
        for pm in find_all(root, "Placemark")
        if (polys := [polygon_rings(p) for p in find_all(pm, "Polygon")])
    ]
    rows = []
    for i, (pm, polys) in enumerate(poly_pms):
        names = find_all(pm, "name")
        name = (
            names[0].text.strip()
            if names and names[0].text and names[0].text.strip()
            else (base if len(poly_pms) == 1 else f"{base}_{i}")
        )
        rows.append((name, _polys_to_wkt(polys)))
    if not rows:
        raise ValueError(f"no polygon Placemarks in {path}")
    return local_frame(spark, rows, AOI_SCHEMA)


def prepare_vec(spark: SparkSession, vec) -> DataFrame:
    """Dispatch like the reference's prepare_vec: dict of WKT, a
    GeoJSON/.shp path, or a list of either — unioned into one AOI
    table (suffix dispatch mirrors ancillary.py:121-154)."""
    if isinstance(vec, dict):
        return aoi_from_wkt(spark, vec)
    if isinstance(vec, (str, Path)):
        s = str(vec).lower()
        if s.endswith(".shp"):
            return aoi_from_shapefile(spark, vec)
        if s.endswith(".kml"):
            return aoi_from_kml(spark, vec)
        if s.endswith(".gpkg"):
            from gedixr_spark.sources.geopackage import aoi_from_geopackage

            return aoi_from_geopackage(spark, vec)
        return aoi_from_geojson(spark, vec)
    out = None
    for v in vec:
        df = prepare_vec(spark, v)
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise ValueError("empty AOI input")
    return out
