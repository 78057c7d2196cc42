"""Driver-built tables are LocalRelations (``session.local_frame``).

A ``createDataFrame(<python list>)`` frame is a parallelized Python RDD:
every collect or broadcast of it launches Spark jobs. The engine builds
its small driver tables (granule inventory, AOI table, join cell/edge
indexes, CDC role maps) through ``local_frame`` instead, so building a
query plan over them runs no job at all. The last test keeps new
``createDataFrame`` calls from creeping back into the package.
"""

import ast
import datetime
import math
from pathlib import Path

import pytest

from gedixr_spark.constants import effective_schema
from gedixr_spark.geo import EDGES_SQL_TYPE, PIP_LITERAL_MAX_EDGES
from gedixr_spark.operators.joins import spatial_join_aoi_auto
from gedixr_spark.session import local_frame
from gedixr_spark.sources.hdf5 import discover_granules, read_granules
from gedixr_spark.sources.vector import aoi_from_wkt
from gedixr_spark.testing import build_opener, make_granule

FLAT_DDL = "id long, name string, x double, ok boolean, n int, d date"
FLAT_ROWS = [
    (1, "a", 1.5, True, 7, datetime.date(2020, 1, 2)),
    (2, None, None, None, None, None),
    (3, "", -0.0, False, -1, datetime.date(1999, 12, 31)),
]
NESTED_DDL = f"aoi_name string, edges {EDGES_SQL_TYPE}"
NESTED_ROWS = [
    ("tri", [(0.0, 0.0, 1.0, 0.0), (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, 0.0, 0.0)]),
    ("none", []),
    ("null", None),
]


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _count_jobs(spark, group, fn):
    """Run ``fn`` under a job group; return (its result, jobs launched)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "ddl,rows",
    [(FLAT_DDL, FLAT_ROWS), (NESTED_DDL, NESTED_ROWS), (FLAT_DDL, []), (NESTED_DDL, [])],
    ids=["flat", "nested", "empty-flat", "empty-nested"],
)
def test_local_frame_is_a_local_relation_equal_to_create_dataframe(spark, ddl, rows):
    got = local_frame(spark, rows, ddl)
    assert _plan_node(got) == "LocalRelation"
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_accepts_a_struct_type(spark):
    want = spark.createDataFrame(NESTED_ROWS, NESTED_DDL)
    got = local_frame(spark, iter(NESTED_ROWS), want.schema)
    assert _plan_node(got) == "LocalRelation"
    assert got.collect() == want.collect()


@pytest.mark.parametrize("ddl", ["t timestamp", "s struct<a: array<timestamp>>"])
def test_local_frame_refuses_timestamps_in_non_empty_rows(spark, ddl):
    # createDataFrame reads a naive datetime in local time, Arrow as UTC
    with pytest.raises(TypeError, match="timestamp"):
        local_frame(spark, [(None,)], ddl)
    assert local_frame(spark, [], ddl).schema == spark.createDataFrame([], ddl).schema


def test_job_counter_sees_a_python_rdd_frame(spark):
    # control for the zero-job assertions below: the counter does see
    # the jobs a parallelized list launches
    df = spark.createDataFrame([("a", "b")], "x string, y string")
    _, n = _count_jobs(spark, "lf-control", df.collect)
    assert n > 0
    rows, n = _count_jobs(spark, "lf-local", local_frame(spark, [("a", "b")], "x string, y string").collect)
    assert n == 0 and [tuple(r) for r in rows] == [("a", "b")]


@pytest.fixture(scope="module")
def granule_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("lf_granules")
    granules = {
        "GEDI02_A_2020095010203_O0001_V002.h5": make_granule(5, ["BEAM0000", "BEAM0101"], seed=1),
        "GEDI02_A_2020200120000_O0002_V002.h5": make_granule(3, ["BEAM0101"], seed=2),
        "GEDI02_A_2021010000000_O0003_V002.h5": make_granule(4, ["BEAM0000"], seed=3),
    }
    for name in granules:
        (d / name).write_bytes(b"")
    return d, build_opener(granules)


@pytest.mark.parametrize("filter_month", [None, (3, 5)], ids=["all", "april"])
def test_granule_inventory_and_read_plan_launch_no_job(spark, granule_dir, filter_month):
    d, opener = granule_dir

    def build():
        inv = discover_granules(spark, d, "L2A")
        return read_granules(
            inv, "L2A", effective_schema("L2A"), filter_month=filter_month,
            granule_opener=opener,
        )

    shots, n = _count_jobs(spark, f"lf-granules-{filter_month}", build)
    assert n == 0
    # day 95 of 2020 is in April; the other two granules are not
    assert shots.count() == (5 + 5 if filter_month else 5 + 5 + 3 + 4)


def test_read_granules_with_no_granule_left_is_empty(spark, granule_dir):
    d, opener = granule_dir

    def build():
        inv = discover_granules(spark, d, "L2A")
        return read_granules(
            inv, "L2A", effective_schema("L2A"), filter_month=(11, 11),
            granule_opener=opener,
        )

    shots, n = _count_jobs(spark, "lf-granules-none", build)
    assert n == 0 and _plan_node(shots) == "LocalRelation"
    assert shots.collect() == []


def _ngon_wkt(n: int, cx: float, cy: float, r: float) -> str:
    pts = [
        (cx + r * math.cos(2 * math.pi * k / n), cy + r * math.sin(2 * math.pi * k / n))
        for k in range(n)
    ]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + "))"


# a 0.5° lattice over [-4, 4)²: points sit well inside or outside each AOI
POINTS = [(i * 0.5 - 3.75, j * 0.5 - 3.75) for i in range(16) for j in range(16)]
RECTS = {
    "west": "POLYGON ((-4 -4, 0 -4, 0 4, -4 4, -4 -4))",
    "corner": "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
}
STAR = _ngon_wkt(PIP_LITERAL_MAX_EDGES + 16, 2.0, -2.0, 1.6)


@pytest.mark.parametrize(
    "aois,want",
    [
        (
            RECTS,
            {("west", x, y) for x, y in POINTS if x < 0}
            | {("corner", x, y) for x, y in POINTS if 1 < x < 3 and 1 < y < 3},
        ),
        (
            {"star": STAR},
            # lattice points lie either within 1.46 of the star's centre,
            # inside its inscribed circle (1.597), or beyond 1.76
            {("star", x, y) for x, y in POINTS if math.hypot(x - 2.0, y + 2.0) < 1.6},
        ),
    ],
    ids=["rectangles", "polygon-past-literal-bound"],
)
def test_spatial_join_plan_launches_no_job(spark, aois, want):
    def build():
        shots = local_frame(spark, POINTS, "longitude double, latitude double")
        return spatial_join_aoi_auto(shots, aoi_from_wkt(spark, aois))

    joined, n = _count_jobs(spark, f"lf-join-{sorted(aois)}", build)
    assert n == 0
    got = {(r["aoi_name"], r["longitude"], r["latitude"]) for r in joined.collect()}
    assert got == want


# The only createDataFrame calls the package may make, by (module,
# enclosing function): three whose schema is a column-name list or
# inferred from the data, a deliberate one-partition-per-shard
# parallelize, and local_frame itself.
CREATE_DATAFRAME_ALLOWED = {
    ("operators/sketches.py", "heavy_hitters"),
    ("operators/text.py", "blocklist_filter"),
    ("sources/geopackage.py", "read_geopackage"),
    ("sinks/webdataset.py", "read_webdataset"),
    ("session.py", "local_frame"),
}


class _CreateDataFrameCalls(ast.NodeVisitor):
    def __init__(self):
        self.scope = ["<module>"]
        self.found = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.found.append((self.scope[-1], node.lineno))
        self.generic_visit(node)


def test_create_dataframe_only_at_allowlisted_sites():
    pkg = Path(__file__).resolve().parent.parent / "gedixr_spark"
    found = {}
    for f in sorted(pkg.rglob("*.py")):
        visitor = _CreateDataFrameCalls()
        visitor.visit(ast.parse(f.read_text(), str(f)))
        for func, line in visitor.found:
            found.setdefault((f.relative_to(pkg).as_posix(), func), []).append(line)
    stray = {k: v for k, v in found.items() if k not in CREATE_DATAFRAME_ALLOWED}
    assert not stray, (
        f"build driver-side rows with session.local_frame, not createDataFrame: {stray}"
    )
    # the allowlist names live sites only
    assert set(found) == CREATE_DATAFRAME_ALLOWED
