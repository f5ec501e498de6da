"""The benchmark's metric catalogue: name -> unit.

End-to-end metrics are printed by every untraced run (``--trace 0``),
per-layer metrics by every traced run (``--trace 1``), on every
workload. A layer a workload does not touch reports 0 there; that is
the prediction of "no change" for that workload.

Normalisation of per-layer values:

- ``session.*`` and ``sources.*``: once per run (set-up).
- ``plans.*`` and ``exec.*``: mean per timed op, read from the job group
  around each call. ``exec.core_busy_frac`` is executor time over
  (timed wall x cores).
- ``plans.<module>.op_s``: mean latency of the module's timed ops.
- ``streaming.*``: mean per drain (a timed op that ran at least one
  streaming query), from the ``StreamingQueryListener``.
- ``stagecache.*``, ``pipeline.*``, ``warehouse.*``: mean per call of
  that layer's function, or per refresh cycle for bytes, files and
  mints; ``warehouse.write_amp`` is warehouse bytes written over the
  bytes of the landed events file.
- ``process.peak_rss_mb``: peak resident memory of the driver process
  plus its JVM. It moved between runs by more than a tenth, so it is a
  layer metric, not an end-to-end one.
- ``trace.*``: the traced run's own median op latency and CPU per op
  (compare with the untraced ``op_p50_s`` and ``op_cpu_s``) and the
  benchmark's bookkeeping time per op.
"""

from __future__ import annotations

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

# Wall-clock metrics every untraced and traced run puts in its report
# line. They are not gated (README.md says why).
WALL: dict[str, str] = {
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "cycle_s": "s",
}

# The registry modules the analytics sample stratifies over, in the
# order the engine imports them.
QUERY_MODULES = (
    "queries_tpch", "queries_tpch2", "queries_sqlsurface", "queries_events",
    "queries_text", "queries_embed", "queries_corpus", "queries_stream",
    "queries_warehouse", "queries_analytics2", "queries_mlprep",
    "queries_audit", "queries_analytics3", "queries_analytics4",
    "queries_analytics5", "queries_analytics6", "queries_analytics7",
    "queries_analytics8", "queries_analytics9", "queries_analytics10",
)

PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "sources.load_all_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.core_busy_frac": "frac",
    **{f"plans.{m}.op_s": "s" for m in QUERY_MODULES},
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.planning_s": "s",
    "streaming.addbatch_s": "s",
    "streaming.commit_s": "s",
    "streaming.lifecycle_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "stagecache.mints": "count",
    "stagecache.bytes_written": "bytes",
    "stagecache.mint_query_s": "s",
    "pipeline.run_batch_pipeline_s": "s",
    "pipeline.bytes_written": "bytes",
    "warehouse.materialize_agg_s": "s",
    "warehouse.refresh_agg_s": "s",
    "warehouse.append_s": "s",
    "warehouse.merge_into_s": "s",
    "warehouse.optimize_s": "s",
    "warehouse.bytes_written": "bytes",
    "warehouse.files_written": "count",
    "warehouse.write_amp": "ratio",
    "process.peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.op_cpu_s": "s",
    "trace.bookkeeping_s": "s",
}


def result_line(metrics: dict[str, float], catalogue: dict[str, str],
                attempted: int, failed: int, correct: bool) -> str:
    """The contract's last stdout line. Every catalogue metric must be
    present; values keep all their digits."""
    missing = [k for k in catalogue if k not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    import json

    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in catalogue.items()},
    })
