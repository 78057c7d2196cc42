"""Metric names and units, in the order ``BENCHMARK.json`` lists them.

Every workload prints every metric of its mode. A per-layer metric of a
layer a workload does not call reads 0 there: that is the prediction
"flat on the other workloads" made concrete.
"""

END_TO_END = [
    ("setup_s", "s"),
    ("pass_vs_ref", "x"),
    ("ok_share", "ratio"),
    ("peak_rss_mb", "MB"),
]

VERSIONED_OPS = ("append", "upsert", "merge", "delete_dv", "compact", "checkpoint",
                 "read_versioned", "read_point", "read_where")
SELF_LAYERS = ("hdf5", "joins", "geoparquet", "raster", "shots", "versioned", "cdc",
               "dedup", "text", "sampling")

PER_LAYER = [
    ("session.start_s", "s"),
    ("session.per_job_s", "s"),
    ("hdf5.build_s", "s"),
    ("hdf5.build_jobs", "count"),
    ("hdf5.granules_opened", "count"),
    ("hdf5.granules_failed", "count"),
    ("hdf5.prune_ratio", "ratio"),
    ("joins.build_s", "s"),
    ("joins.build_jobs", "count"),
    ("joins.python_nodes", "count"),
    ("geoparquet.write_s", "s"),
    ("geoparquet.write_jobs", "count"),
    ("geoparquet.job_busy_s", "s"),
    ("geoparquet.driver_s", "s"),
    ("geoparquet.files", "count"),
    ("geoparquet.bytes", "bytes"),
    ("raster.build_s", "s"),
    ("raster.build_jobs", "count"),
    ("raster.cells", "count"),
    *[(f"versioned.{op}_{field}", unit) for op in VERSIONED_OPS
      for field, unit in (("s", "s"), ("jobs", "count"), ("bytes_written", "bytes"))],
    ("versioned.meta_hit_ratio", "ratio"),
    ("versioned.log_replays", "count"),
    ("versioned.files_live", "count"),
    ("versioned.skip_ratio", "ratio"),
    ("versioned.commit_tail_s", "s"),
    ("versioned.read_tail_s", "s"),
    ("versioned.bytes_written_per_input_byte", "ratio"),
    ("versioned.bytes_stored_per_live_byte", "ratio"),
    ("cdc.mirror_s", "s"),
    ("cdc.mirror_jobs", "count"),
    ("dedup.build_s", "s"),
    ("dedup.build_jobs", "count"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"),
    ("dedup.pair_yield", "ratio"),
    ("text.build_s", "s"),
    ("sampling.build_s", "s"),
    *[(f"{cls}.{field}", unit) for cls in ("write", "read")
      for field, unit in (("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"),
                          ("execute_s", "s"), ("execute_jobs", "count"),
                          ("python_nodes", "count"))],
    *[(f"self.{layer}_s", "s") for layer in SELF_LAYERS],
    ("self.remainder_s", "s"),
    ("trace.untraced_pass_s", "s"),
    ("trace.traced_pass_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.accounted_share", "ratio"),
]
