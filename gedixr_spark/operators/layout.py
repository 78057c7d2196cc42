"""Space-filling-curve data layout — the file-pruning story for
spatial tables at 100 TB (SURVEY §4 bronze-layout note made concrete).

A bbox query against parquet prunes at two levels: partition/file
elimination from footer min/max stats, then row-group elimination
inside surviving files. Both only bite if spatially-near rows are
near in FILE order — which a Z-order (Morton) key delivers with pure
column math: interleave the bits of the quantized lon/lat so
lexicographic key order ≈ spatial locality. ``write_zordered`` =
range-partition by the key + sort within partitions + plain parquet
write; every executor writes a compact spatial tile, so the footer
stats of each file span a sliver of the globe and a bbox scan touches
only the overlapping files. (Same mechanics Delta/Iceberg OPTIMIZE
ZORDER applies — here as a plain DataFrame op with no table format.)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gedixr_spark.session import local_frame


def zorder_index(
    lon: Column | str = "longitude",
    lat: Column | str = "latitude",
    bits: int = 16,
) -> Column:
    """Morton key of the (lon, lat) cell on a 2^bits × 2^bits global
    grid — JVM-side integer expression (shift/mask interleave unrolled
    at plan-build time; no UDF, codegen-friendly). bits=16 → ~600 m
    cells at the equator and a 32-bit key; raise bits for finer tiles
    (≤31 keeps the key in a positive long)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    lo = F.col(lon) if isinstance(lon, str) else lon
    la = F.col(lat) if isinstance(lat, str) else lat
    n = (1 << bits) - 1
    # clamp into the valid globe, then quantize to cell ordinates
    x = F.floor(
        (F.least(F.greatest(lo, F.lit(-180.0)), F.lit(180.0)) + 180.0) / 360.0 * n
    ).cast("long")
    y = F.floor(
        (F.least(F.greatest(la, F.lit(-90.0)), F.lit(90.0)) + 90.0) / 180.0 * n
    ).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    n_files: int = 8,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    bits: int = 16,
) -> str:
    """Write ``df`` as parquet laid out along the Z-curve:
    range-partition on the Morton key (contiguous key ranges → compact
    spatial tiles per file) and sort within each partition (row-group
    stats get tight too). The key column is dropped from the output —
    it is derivable, and layout is a storage concern, not schema."""
    (
        df.withColumn("__z", zorder_index(lon_col, lat_col, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


# --- small-file compaction -------------------------------------------------
# The operational sibling of the layout writers above. Streaming /
# incremental ingestion (streaming/bronze.py, sinks/merge.py) leaves a
# long tail of small files; at 100 TB the cost is real — every file is
# a scan task + a namenode/liststatus entry, and a 4 MiB-average table
# plans 32× more tasks than a 128 MiB-average one for the same bytes.
# Compaction = read, re-bin to ceil(bytes/target) partitions, rewrite.


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) via the JVM gateway — works on any
    filesystem Spark itself can read (local, HDFS, S3A…), unlike an
    os.walk that only sees local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def file_stats(spark: SparkSession, path: str, glob: str = "*.parquet") -> dict:
    """Data-file census of a table directory: count, total bytes,
    min/avg/max file size. Driver-side file listing only (one RPC per
    directory — the same listing every Spark scan of the table pays)."""
    fs, jpath = _hadoop_fs(spark, path)
    statuses = fs.globStatus(
        spark._jvm.org.apache.hadoop.fs.Path(path + "/" + glob)
    )
    sizes = [s.getLen() for s in (statuses or []) if s.isFile()]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes, default=0),
        "max_bytes": max(sizes, default=0),
        "avg_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    out_path: str | None = None,
    sort_by: list[str] | None = None,
    n_files: int | None = None,
) -> dict:
    """Rewrite a parquet table into ~``target_mb``-sized files.

    Output file count = ceil(current on-disk bytes / target) — sizing
    from the real listing, not a row-count guess, so it adapts to the
    table's actual compression ratio. Without ``sort_by`` the re-bin is
    a round-robin ``repartition`` (pure size fix); with it, a
    ``repartitionByRange`` + in-partition sort, so compaction doubles
    as a clustering pass and each output file covers a disjoint key
    range (footer min/max prune like `write_zordered`).

    In place (``out_path=None``): write to a staging dir, then swap via
    FileSystem rename — readers never observe a half-written table
    directory (the swap is two metadata ops, though not atomic across
    both; a table format like Iceberg is the fully-transactional
    answer, out of scope here).
    """
    stats_before = file_stats(spark, path)
    if stats_before["n_files"] == 0:
        raise ValueError(f"no parquet data files under {path}")
    # explicit n_files overrides the byte-derived sizing (mostly for
    # deterministic tests; operationally target_mb is the knob)
    n_out = n_files or max(
        1, math.ceil(stats_before["total_bytes"] / (target_mb * 1024 * 1024))
    )
    df = spark.read.parquet(path)
    if sort_by:
        binned = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        binned = df.repartition(n_out)

    dest = out_path or (path.rstrip("/") + ".__compacting")
    binned.write.mode("overwrite").parquet(dest)
    if out_path is None:
        fs, jsrc = _hadoop_fs(spark, path)
        jdest = spark._jvm.org.apache.hadoop.fs.Path(dest)
        fs.delete(jsrc, True)
        if not fs.rename(jdest, jsrc):
            raise IOError(f"rename {dest} -> {path} failed; data is at {dest}")
        final = path
    else:
        final = out_path
    after = file_stats(spark, final)
    return {"path": final, "before": stats_before, "after": after}


def shard_manifest(
    spark: SparkSession, path: str, id_col: str | None = None
) -> DataFrame:
    """Training-shard manifest: one row per data file — (file, n_rows,
    bytes, and min/max of ``id_col`` when given). Trainers and backfill
    jobs consume this instead of re-listing + re-scanning the dataset:
    it answers "which file holds doc X" (when the layout is
    id-clustered, e.g. after compact_table(sort_by=[id])) and "how big
    is shard k" without touching data bytes again.

    One scan with an input_file_name() groupBy (file-count-sized
    result), joined to the driver-side FS listing for byte sizes.
    """
    per_file = spark.read.parquet(path).groupBy(
        F.input_file_name().alias("file")
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if id_col:
        aggs += [F.min(id_col).alias("min_id"), F.max(id_col).alias("max_id")]
    rows_df = per_file.agg(*aggs)
    fs, _ = _hadoop_fs(spark, path)
    statuses = fs.globStatus(
        spark._jvm.org.apache.hadoop.fs.Path(path + "/*.parquet")
    )
    sizes = [
        (s.getPath().getName(), s.getLen())
        for s in (statuses or [])
        if s.isFile()
    ]
    sizes_df = local_frame(spark, sizes, "name string, bytes long")
    # input_file_name's URI spelling (file:/ vs file:///) differs from
    # the FileStatus URI; the basename is unique within the directory
    # and identical in both, so join on that
    named = rows_df.withColumn(
        "name", F.element_at(F.split("file", "/"), -1)
    )
    return named.join(sizes_df, "name", "left").drop("name").orderBy("file")


def vacuum_staging(spark: SparkSession, path: str) -> list[str]:
    """Remove leftover staging directories from crashed in-place
    compactions/merges (``*.__compacting``, ``*.__merging``). The
    stage-then-swap writers guarantee the TARGET is never half-written,
    but a crash between stage and swap leaks the staging dir — this is
    the janitor. Returns the paths it deleted."""
    fs, _ = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    removed = []
    for suffix in (".__compacting", ".__merging"):
        cand = jpath(path.rstrip("/") + suffix)
        if fs.exists(cand):
            fs.delete(cand, True)
            removed.append(str(cand))
    return removed


def zorder_index_columns(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[Column, dict]:
    """Generalized Morton key over ANY numeric columns (the Delta
    OPTIMIZE ZORDER BY shape; the lon/lat `zorder_index` is the
    geo-specialized twin). Each column is min/max-scaled to a 2^bits
    grid from ONE driver-side stats pass (2 doubles per column), then
    the ordinates' bits interleave round-robin — pure JVM integer
    expressions, unrolled at plan build.

    Returns (key column, bounds dict) — bounds persist alongside the
    table so incremental writers keep using the SAME scaling (a
    re-derived range on new data would shear the curve between old and
    new files). Total key bits = len(cols)·bits must fit a signed
    long (≤ 62).
    """
    if not cols or len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns (one column: just sort)")
    if not 1 <= bits * len(cols) <= 62:
        raise ValueError(
            f"{len(cols)} cols × {bits} bits = {bits * len(cols)} key bits; "
            "must be in [1, 62]"
        )
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    bounds = {c: (stats[f"lo_{c}"], stats[f"hi_{c}"]) for c in cols}
    n = (1 << bits) - 1
    ords = []
    for c in cols:
        lo, hi = bounds[c]
        if lo is None or hi is None:
            raise ValueError(f"column {c} is all-null; cannot z-order on it")
        span = (hi - lo) or 1.0
        clamped = F.least(F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi))
        ords.append(F.floor((clamped - lo) / span * n).cast("long"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, o in enumerate(ords):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(o, i).bitwiseAND(1), i * len(ords) + j)
            )
    return z, bounds


def write_zordered_columns(
    df: DataFrame, path: str, cols: list[str], n_files: int = 8, bits: int = 16
) -> dict:
    """Write parquet laid out along the generalized Z-curve over
    ``cols``: range-partition + sort on the Morton key (dropped from
    the schema, same policy as write_zordered). Every output file
    covers a compact hyper-rectangle of the column space, so footer
    min/max stats prune scans filtered on ANY prefix/subset of the
    z-ordered columns — the multi-dimensional clustering a single-
    column sort can't give. Returns the bounds for incremental reuse."""
    key, bounds = zorder_index_columns(df, cols, bits)
    (
        df.withColumn("__z", key)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return {"path": path, "bounds": bounds}


def plan_compaction(
    spark: SparkSession,
    root: str,
    target_mb: int = 128,
    min_files: int = 8,
) -> list[dict]:
    """Compaction planner: walk the table tree (root itself, or its
    Hive-style partition leaves) and return the directories whose file
    census says compaction would pay — at least ``min_files`` data
    files AND average file size under half the target. Feed each entry
    to ``compact_table(path=entry['path'])``.

    Policy-over-mechanism split: merge_upsert/streaming writers
    fragment specific partitions; this ranks them (most fragmented
    first) so a nightly janitor compacts the worst offenders within a
    time budget instead of blind-rewriting the table. Driver-side
    listing only — the same RPCs a scan's file index pays, no data
    read."""
    fs, jroot = _hadoop_fs(spark, root)
    jpath = spark._jvm.org.apache.hadoop.fs.Path

    leaves = []
    stack = [jroot]
    while stack:
        d = stack.pop()
        children = fs.listStatus(d)
        subdirs = [c.getPath() for c in children if c.isDirectory()]
        has_data = any(
            c.isFile() and c.getPath().getName().endswith(".parquet")
            for c in children
        )
        if has_data:
            leaves.append(str(d.toUri().getPath()))
        stack.extend(subdirs)

    plan = []
    for leaf in leaves:
        st = file_stats(spark, leaf)
        if st["n_files"] >= min_files and st["avg_bytes"] < target_mb * 1024 * 1024 / 2:
            plan.append({"path": leaf, **st})
    plan.sort(key=lambda e: (-e["n_files"], e["avg_bytes"]))
    return plan


def pruning_report(
    spark: SparkSession, path: str, col: str, lo, hi
) -> dict:
    """Measure how well the table's file layout prunes a range
    predicate ``lo <= col <= hi``: {n_files, n_overlapping, ratio}.

    Reads per-file min/max with one input_file_name() groupBy (the
    same stats parquet footers hold — this measures what a
    footer-pruning scan WOULD read), then counts files whose
    [min, max] span overlaps the query range. ratio ≈ 1 means the
    layout doesn't help this predicate (random row order); after
    `compact_table(sort_by=[col])` or `write_zordered_columns` the
    ratio drops to selectivity-of-range. The feedback loop for layout
    decisions — run it before AND after re-clustering."""
    spans = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
        .collect()
    )
    if not spans:
        raise ValueError(f"no data under {path}")
    n_overlap = sum(1 for r in spans if not (r["hi"] < lo or r["lo"] > hi))
    return {
        "n_files": len(spans),
        "n_overlapping": n_overlap,
        "ratio": n_overlap / len(spans),
    }


def append_zordered_columns(
    df: DataFrame,
    path: str,
    cols: list[str],
    bounds: dict,
    n_files: int = 4,
    bits: int = 16,
) -> dict:
    """Incremental Z-ordered APPEND: lay out a new batch along the SAME
    curve as the existing table by reusing the bounds
    `write_zordered_columns` returned (re-deriving min/max from the
    batch would shear the curve — identical values would land at
    different keys in old vs new files, destroying cross-file
    locality). Values outside the original bounds clamp to the curve's
    edge cells — if the data distribution has genuinely drifted past
    the bounds, re-cluster with `compact_table`/`write_zordered_columns`
    instead of appending forever.

    Append-mode write: existing files untouched; the new files carry
    tight footer stats of their own, so `pruning_report` stays honest
    across the whole table."""
    if set(cols) - set(bounds):
        raise ValueError(f"bounds missing for {sorted(set(cols) - set(bounds))}")
    n = (1 << bits) - 1
    ords = []
    for c in cols:
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        clamped = F.least(F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi))
        ords.append(F.floor((clamped - lo) / span * n).cast("long"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, o in enumerate(ords):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(o, i).bitwiseAND(1), i * len(ords) + j)
            )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("append")
        .parquet(path)
    )
    return {"path": path, "bounds": bounds}
