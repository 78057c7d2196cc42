"""S1-S3 — granule discovery and the HDF5 shot reader (SURVEY.md §2.1).

This is the engine's one genuinely custom source. Spark has no HDF5
format, and a GEDI granule isn't splittable, so the unit of parallelism
is one granule per task:

    inventory DataFrame (file paths + filename-derived acq_time)
      → filter (month band, product)            # file pruning BEFORE open,
                                                # reference extract.py:138-146
      → repartition(n_files)                    # one straggler-isolated task/file
      → mapInPandas(read_granule)               # h5py → Arrow batches of shots

Per-granule fault isolation matches the reference (extract.py:148,191-194):
a corrupt granule yields zero rows plus an error-accumulator increment
instead of failing the job; Spark task retries still cover transient
faults.

h5py is not installed in this environment, so the h5py calls are gated
behind an injectable ``granule_opener`` — tests provide a deterministic
fake with the same group/dataset layout; the plumbing (schema,
partitioning, batch shape, beam pruning, rh indexing) is real.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gedixr_spark.constants import (
    FILENAME_DATE_FORMAT,
    FILENAME_DATE_REGEX,
    PATTERN,
    shot_struct,
)
from gedixr_spark.functions.scalar import month_band
from gedixr_spark.operators.filters import resolve_beams
from gedixr_spark.session import local_frame


def discover_granules(
    spark: SparkSession, directory: str | Path, product: str
) -> DataFrame:
    """S1 — recursive file-glob scan (reference extract.py:128-133,
    patterns constants.py:7-8) into an inventory DataFrame with the
    filename-derived acquisition timestamp (X1+X2) so month pruning is a
    plain filter on a tiny table."""
    import fnmatch

    files = sorted(
        str(p)
        for p in Path(directory).rglob("*")
        if fnmatch.fnmatch(p.name, PATTERN[product])
    )
    inv = local_frame(
        spark, [(f, Path(f).name) for f in files], "file_path string, file_name string"
    )
    token = F.regexp_extract("file_name", FILENAME_DATE_REGEX, 1)
    return inv.withColumn(
        "acq_time", F.when(token != "", F.to_timestamp(token, FILENAME_DATE_FORMAT))
    )


class GranuleSchemaError(KeyError):
    """A declared layer is missing from a granule's beam group.

    Raised (not swallowed) by the reader: a misconfigured variables
    spec would otherwise silently produce zero rows for every granule
    with only an accumulator bump — indistinguishable from corrupt
    files. Schema errors are the user's bug; I/O corruption is the
    data's (reference extract.py:191-194 isolates only the latter
    meaningfully)."""


def _default_opener(path: str):  # pragma: no cover - requires h5py
    try:
        import h5py
    except ImportError as e:
        raise NotImplementedError(
            "h5py is not available in this environment; pass granule_opener= "
            "(tests use a deterministic fake with the GEDI group layout)"
        ) from e
    return h5py.File(path, "r")


def read_granules(
    inventory: DataFrame,
    product: str,
    layers: Sequence[tuple[str, str]],
    beams: str | Sequence[str] | None = None,
    filter_month: tuple[int, int] | None = None,
    granule_opener: Callable | None = None,
    error_acc=None,
) -> DataFrame:
    """S2+S3 — per-granule columnar extraction to the flat shot schema
    (reference ``_from_file``, extract.py:239-300).

    Column semantics preserved: shot → 18-char zero-padded string
    (extract.py:290); ``rh<N>`` → array index N, m→cm, rounded int
    (extract.py:281-286); every row stamped with the granule's
    filename-derived ``acq_time`` (extract.py:299); beams absent from a
    file are skipped (extract.py:274-277); a failing granule emits zero
    rows and bumps the accumulator (extract.py:191-194).
    """
    beam_list = resolve_beams(beams)
    opener = granule_opener or _default_opener
    schema = shot_struct(product, [(n, l) for n, l in layers])
    out_names = [f.name for f in schema.fields]

    if filter_month is not None:
        lo, hi = filter_month
        inventory = inventory.filter(month_band("acq_time", lo, hi))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                try:
                    yield _extract_one(
                        opener, row["file_path"], row["acq_time"], beam_list, layers, out_names
                    )
                except GranuleSchemaError:
                    raise  # misconfiguration — fail the job, don't absorb
                except Exception:
                    if error_acc is not None:
                        error_acc.add(1)
                    yield pd.DataFrame({n: pd.Series(dtype="object") for n in out_names})

    # one partition per granule: a granule is the indivisible unit of work
    # and read times vary 10×, so spread stragglers instead of packing
    # files. Over a local inventory the month filter folds into the
    # LocalRelation, so sizing by a collect runs no job.
    n = len(inventory.select("file_path").collect())
    if n == 0:
        return local_frame(inventory.sparkSession, [], schema)
    return inventory.repartition(n).mapInPandas(extract, schema=schema)


def _extract_one(opener, path, acq_time, beam_list, layers, out_names) -> pd.DataFrame:
    """Columnar per-granule extraction. Mirrors the reference's
    dict-of-lists accumulation (extract.py:273-294) but with numpy
    concatenation per beam — each output batch is already Arrow-friendly."""
    cols: dict[str, list[np.ndarray]] = {name: [] for name, _ in layers}
    beams_seen: list[np.ndarray] = []
    with opener(path) as f:
        for beam in beam_list:
            if beam not in f.keys() or "shot_number" not in f[beam].keys():
                continue  # S3 beam pruning, extract.py:274-277
            group = f[beam]
            n = len(group["shot_number"])
            beams_seen.append(np.repeat(beam, n))
            for out_name, layer in layers:
                # P2: keyed on the SOURCE layer name like the reference
                # (extract.py:281 `v.startswith('rh')`) — a custom
                # mapping ('canopy98','rh98') must hit this branch too;
                # keying on the output name would KeyError into the
                # corrupt-granule handler and silently drop the granule.
                base = layer.split("/")[-1]
                if (
                    base.startswith("rh")
                    and base[2:].isdigit()
                    and layer not in group
                    and "rh" in group
                ):
                    # rh percentile from the 101-wide array, m→cm int
                    idx = int(base[2:])
                    vals = np.rint(np.asarray(group["rh"])[:, idx] * 100).astype(np.int32)
                elif layer not in group:
                    raise GranuleSchemaError(
                        f"layer {layer!r} missing from {path}:{beam}"
                    )
                elif out_name == "shot":
                    vals = np.asarray(group[layer]).astype(np.uint64)
                else:
                    vals = np.asarray(group[layer])
                cols[out_name].append(vals)
    data = {}
    n_total = int(sum(len(b) for b in beams_seen))
    for name, _ in layers:
        arr = np.concatenate(cols[name]) if cols[name] else np.array([])
        if name == "shot":
            data[name] = pd.Series([f"{int(v):0>18}" for v in arr], dtype="object")
        else:
            data[name] = arr
    data["beam"] = np.concatenate(beams_seen) if beams_seen else np.array([], dtype="object")
    data["acq_time"] = pd.Series([acq_time] * n_total, dtype="datetime64[us]")
    pdf = pd.DataFrame(data)
    return pdf[[c for c in out_names if c in pdf.columns]]
