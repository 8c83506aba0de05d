"""The layer → end-to-end map of the per-layer metrics.

``BENCHMARK.json`` holds every metric's name, unit and direction (and
the end-to-end bounds); the fast tests keep the names here in step
with its ``per_layer`` list.  Every run reports every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``),
whatever the workload.

End to end (untraced runs, one driver process, one client thread,
closed loop, ``local[nproc]``):

* ``setup_s``      median of two cold set-ups per run (a probe process,
                   then the benchmark process itself): imports,
                   ``session.get_spark`` and a first trivial job.
                   Input generation is outside it.
* ``op_s``         median wall time of one op.
* ``points_per_s`` points written by ops that passed their check ÷
                   timed wall (CSV rows for tif2csv, valid pixels
                   written to GeoTIFF for cogify).
* ``mpx_per_s``    input megapixels of ops that passed ÷ timed wall.

Ops attempted and failed (an exception or a failed check) are the
result's ``attempted`` and ``failed``.

Not measured end to end, and why:

* The ``query_suite`` workload (21 registry keys through the noop
  sink): a run of it needs a cold pass for the oracle check and a
  timed pass after two cold Spark set-ups, about twice the length of a
  raster run, which the benchmark's time budget cannot hold for a
  third workload.  So ``suite_s`` and ``keys_per_s`` are absent.  Its
  layers are measured: every traced run times the 21 keys one by one,
  each on its first run in the process, collecting its rows on a
  seeded corpus of the smallest scale (``tables.py``), and checks the
  rows against the key's DuckDB oracle outside the clock.
* End-to-end LZW-f4 decode: the encoder's LZW cost grows faster than
  linearly with block size, so such inputs are too slow to generate;
  ``minitiff.read_window_s.lzw_f4`` sizes it on a small side file.
* The batched pool=16 headline of ``bench.py``: 16 threads would
  oversubscribe 4 cores; this benchmark keeps one client thread.
"""

from __future__ import annotations

# The query keys of the traced query pass, in the order they run.
QUERY_KEYS = (
    # raster / spatial
    "raster_big", "raster_zonal_stats", "spatial_point_in_polygon",
    "scan_geotiff_sparse", "sink_geotiff",
    # windows / analytics
    "stat_ks_test", "agg_gini", "win_topk_group",
    # LLM pipeline
    "dedup_near", "dedup_containment", "sim_ivf", "text_tfidf",
    "ml_naive_bayes", "embed_power_iteration",
    # TPC-H / joins
    "tpch_q1", "tpch_q3", "tpch_q9", "tpch_q21", "join_asof",
    # iterative
    "graph_pagerank", "ml_kmeans_lloyd",
)

# per-layer metric -> (what it moves, what it should not move).  The
# raster layers are measured on the cogify-size (512²) inputs.
LAYERS = {
    # session: process start, imports, JVM and SparkContext, first job
    "session.get_spark_s": ("setup_s, all", "-"),
    "session.first_job_s": ("setup_s, all", "-"),
    # registry: import of every query module
    "registry.load_all_s": ("query set-up (not measured)", "tif2csv setup_s"),
    # sources.minitiff, on the driver, single thread, every tile
    "minitiff.read_header_s": ("tif2csv op_s", "-"),
    "minitiff.read_window_s.lzw_u1": ("tif2csv op_s", "-"),
    "minitiff.read_window_s.deflate_u1": ("tif2csv op_s, cogify op_s", "-"),
    "minitiff.read_window_s.deflate_f4": ("tif2csv op_s, cogify op_s", "-"),
    "minitiff.read_window_s.lzw_f4": ("none yet (side file)", "-"),
    "minitiff.mb_per_s.lzw_u1": ("tif2csv op_s", "-"),
    "minitiff.mb_per_s.deflate_u1": ("tif2csv op_s, cogify op_s", "-"),
    "minitiff.mb_per_s.deflate_f4": ("tif2csv op_s, cogify op_s", "-"),
    "minitiff.compressed_bytes": ("tif2csv op_s", "-"),
    # api source stage, forced through the noop sink
    "api.tiles_from_rasters_s": ("tif2csv op_s, cogify op_s", "query layers"),
    # operators.grid: melt (raster2df - source) and unpivot
    "grid.self_s": ("tif2csv op_s", "cogify"),
    "grid.grid_unpivot_s": ("cogify op_s", "tif2csv"),
    "grid.pixels_in": ("tif2csv op_s", "-"),
    "grid.points_out": ("tif2csv points_per_s", "-"),
    "grid.keep_ratio": ("tif2csv points_per_s", "-"),
    # Spark CSV sink (raster2csv - raster2df)
    "sink.csv_self_s": ("tif2csv op_s", "cogify"),
    "sink.csv_bytes": ("tif2csv op_s", "cogify"),
    # sinks.geotiff on the driver (2 overviews) and the cli calls
    "geotiff.encode_s.lzw_u1": ("cogify op_s, mpx_per_s", "tif2csv"),
    "geotiff.encode_s.deflate_f4": ("cogify op_s, mpx_per_s", "tif2csv"),
    "geotiff.encoded_bytes.lzw_u1": ("cogify op_s", "tif2csv"),
    "geotiff.encoded_bytes.deflate_f4": ("cogify op_s", "tif2csv"),
    "cli.main_s.lzw_u1": ("cogify op_s, mpx_per_s", "tif2csv"),
    "cli.main_s.deflate_f4": ("cogify op_s, mpx_per_s", "tif2csv"),
    # Spark scheduler, per op of the workload run (job group)
    "spark.jobs": ("op_s of the workload run", "-"),
    "spark.stages": ("op_s of the workload run", "-"),
    "spark.tasks": ("op_s of the workload run", "-"),
    "spark.max_stage_tasks": ("op_s of the workload run", "-"),
    "cpu.util": ("op_s of the workload run", "-"),
    "jvm.gc_s": ("op_s of the workload run", "-"),
    # memory: peak RSS of the JVM + largest Python worker, and the
    # Spark cache's most storage held after a query key, before
    # clearCache
    "peak_rss_mb": ("-", "-"),
    "cache.bytes_held": ("peak_rss_mb", "q.<key>_s"),
    # the tracing itself: traced op wall, and it minus the untraced one
    "trace.op_s": ("-", "-"),
    "trace.overhead_s": ("-", "-"),
    # queries.*: each key's first run, collected, and its Spark jobs
    **{f"q.{k}_s": ("query layers", "tif2csv, cogify") for k in QUERY_KEYS},
    **{f"q.{k}.jobs": ("query layers", "tif2csv, cogify") for k in QUERY_KEYS},
}
