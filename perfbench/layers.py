"""Per-layer metrics of the traced run: names, units and how they are
gathered. Every workload reports every metric; a layer a workload does not
exercise reads 0.

Times named ``<layer>.<call>_s`` are mean seconds per call over the timed
operations, except set-up builds (``*.build_s``, ``ddl_tables.ctas_s``,
``catalog.register_views_s``, ``session.start_s``), which are seconds per run.
"""

from __future__ import annotations

import statistics

from .analytics import FAMILIES
from .trace import self_times

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "catalog.register_views_s": "s",
    "registry.build_s": "s",
    **{f"registry.build_s.{f}": "s" for f in FAMILIES},
    "registry.build_share": "fraction",
    "spark.exec_s": "s",
    **{f"spark.exec_s.{f}": "s" for f in FAMILIES},
    "spark.jobs": "count",
    "spark.jobs_per_op_p50": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_busy_frac": "fraction",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.peak_exec_mem_bytes": "B",
    "spark.input_records": "count",
    "engine.sql_s": "s",
    "engine.translate_s": "s",
    "ann_rewrite.route_s": "s",
    "ivf.build_s": "s",
    "ivf.search_call_s": "s",
    "ivf.search_exec_s": "s",
    "ivf.jobs_per_search": "count",
    "ivf.rows_read_per_result": "ratio",
    "ivf.recall_at_10": "fraction",
    "ivf.knn_join_s": "s",
    "hnsw.build_s": "s",
    "hnsw.search_s": "s",
    "hnsw.append_s": "s",
    "hnsw.recall_at_10": "fraction",
    "exact.knn_s": "s",
    "exact.knn_join_s": "s",
    "exact.rows_per_s": "rows/s",
    "maintenance.append_s": "s",
    "maintenance.vacuum_delete_s": "s",
    "maintenance.compact_s": "s",
    "maintenance.files_per_list": "ratio",
    "maintenance.layout_rows_per_live_vector": "ratio",
    "ddl_tables.ctas_s": "s",
    "ddl_tables.insert_s": "s",
    "ddl_tables.delete_s": "s",
    "ddl_tables.files_written": "count",
    "vector.ingest_vectors_per_s": "vec/s",
    "vector.index_bytes_per_vector_byte": "ratio",
    "jvm.rss_peak_mb": "MB",
    "driver.rss_peak_mb": "MB",
}


def collect(ctx, workload, session_s: float, cores: int,
            jvm_mb: float, driver_mb: float) -> dict[str, float]:
    """Every per-layer metric of one traced run. Needs the event log, so it
    runs after the session has stopped."""
    spans = ctx.tracer.spans
    out = dict.fromkeys(UNITS, 0.0)
    out.update(workload.layer_metrics(spans, self_times(spans)))
    execs = [s.end - s.start for s in spans if s.name == "spark.exec" and s.op is not None]
    out["spark.exec_s"] = sum(execs) / len(execs) if execs else 0.0
    out["session.start_s"] = session_s
    out["jvm.rss_peak_mb"] = jvm_mb
    out["driver.rss_peak_mb"] = driver_mb

    counts = [ctx.tracer.op_counts[o.op_id] for o in ctx.loop.ops
              if o.op_id in ctx.tracer.op_counts]
    out["spark.jobs"] = float(sum(c[0] for c in counts))
    out["spark.jobs_per_op_p50"] = float(statistics.median(c[0] for c in counts)) if counts else 0.0
    out["spark.stages"] = float(sum(c[1] for c in counts))
    out["spark.tasks"] = float(sum(c[2] for c in counts))

    ev = ctx.event_log or {}
    for key in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
                "input_records"):
        out[f"spark.{key}"] = float(ev.get(key, 0.0))
    op_s = sum(o.seconds for o in ctx.loop.ops)
    out["spark.task_busy_frac"] = out["spark.task_run_s"] / max(op_s * cores, 1e-12)
    unknown = set(out) - set(UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
    return out
