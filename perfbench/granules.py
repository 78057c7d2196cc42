"""File-backed GEDI granules for the benchmark.

h5py is not installed, so a granule is an uncompressed ``.npz`` archive
saved under a GEDI ``.h5`` file name. Its members are keyed by the HDF5
dataset path (``BEAM0101/geolocation/lat_lowestmode``), and the opener
rebuilds the nested group layout of ``gedixr_spark.testing.make_granule``
with ``FakeGroup``, so ``sources.hdf5`` reads it through its real
``granule_opener`` seam. Executors import this module by name (the
checkout root is on the workers' ``PYTHONPATH``).
"""

from __future__ import annotations

import contextlib

import numpy as np

from gedixr_spark.testing import FakeGroup


def save_granule(path, datasets: dict[str, np.ndarray]) -> None:
    """Write ``{hdf5 dataset path: array}`` to ``path``."""
    with open(path, "wb") as f:
        np.savez(f, **datasets)


class NpzGranuleOpener:
    """``granule_opener`` for ``extract_data``. ``opened`` is an optional
    Spark accumulator counting granule opens (used by the traced run)."""

    def __init__(self, opened=None):
        self.opened = opened

    @contextlib.contextmanager
    def __call__(self, path):
        if self.opened is not None:
            self.opened.add(1)
        root = FakeGroup()
        with np.load(path) as z:
            for key in z.files:
                *groups, leaf = key.split("/")
                g = root
                for name in groups:
                    g = dict.setdefault(g, name, FakeGroup())
                g[leaf] = z[key]
        yield root
