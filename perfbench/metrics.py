"""Every metric the benchmark prints: name -> (unit, better).

`END_TO_END` is printed by timed runs (--trace 0) and `PER_LAYER` by
traced runs (--trace 1); BENCHMARK.json lists the same names.
"""

END_TO_END = {
    "rows_per_cpu_s": ("1/s", "higher"),
    "driver_peak_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

PER_LAYER = {
    # sources.pbf
    "pbf.decode_s": ("s", "lower"),
    "pbf.entities_per_s": ("1/s", "higher"),
    "pbf.blobs": ("count", "higher"),
    "pbf.python_total_s": ("s", "lower"),
    # functions.filter_dsl
    "filter_dsl.match_share.objects": ("ratio", "higher"),
    "filter_dsl.match_share.boundaries": ("ratio", "higher"),
    "filter_dsl.match_share.streets": ("ratio", "higher"),
    # operators.closure / resolve / objects / boundaries
    "closure.s": ("s", "lower"),
    "closure.jobs": ("count", "lower"),
    "closure.rows_out": ("count", "lower"),
    "resolve.s": ("s", "lower"),
    "resolve.ref_hit_share": ("ratio", "higher"),
    "objects.self_s": ("s", "lower"),
    "boundaries.self_s": ("s", "lower"),
    "boundaries.assembled_share": ("ratio", "higher"),
    # functions.geometry
    "geometry.stitch_rings_ms": ("ms", "lower"),
    "geometry.points_in_polygons_ms_per_batch": ("ms", "lower"),
    # operators.streets
    "streets.extract_s": ("s", "lower"),
    "streets.cluster_s": ("s", "lower"),
    "streets.split_s": ("s", "lower"),
    "streets.split_boundaries": ("count", "lower"),
    # operators.spatial / functions.tiles
    "spatial.index_build_ms": ("ms", "lower"),
    "spatial.lookup_ms_per_batch": ("ms", "lower"),
    "spatial.hit_share": ("ratio", "higher"),
    "spatial.partial_rows": ("count", "lower"),
    "spatial.combine_ratio": ("ratio", "higher"),
    "tiles.hex_cell_ms_per_batch": ("ms", "lower"),
    # sinks, cli
    "sinks.s": ("s", "lower"),
    "sinks.bytes": ("bytes", "lower"),
    "cli.collect_rows": ("count", "lower"),
    "cli.objects_s": ("s", "lower"),
    "cli.boundaries_s": ("s", "lower"),
    "cli.streets_s": ("s", "lower"),
    # session: the Spark engine over the traced workload pass
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.python_data_sent_bytes": ("bytes", "lower"),
    "spark.python_data_received_bytes": ("bytes", "lower"),
    "spark.python_boot_s": ("s", "lower"),
    "spark.python_total_s": ("s", "lower"),
    "spark.leaked_rdds": ("count", "lower"),
    # the traced workload pass, and what tracing costs it
    "trace.rows_per_s": ("1/s", "higher"),
    "trace.overhead_share": ("ratio", "lower"),
}


def render(values: dict, spec: dict) -> dict:
    """{name: {"value", "unit"}} for every name in `spec`; a missing value
    is an error, never a silent default."""
    missing = sorted(set(spec) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {k: {"value": float(values[k]), "unit": spec[k][0]} for k in spec}
