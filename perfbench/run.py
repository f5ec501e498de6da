#!/usr/bin/env python3
"""Benchmark of the iot_etl_spark engine, end to end and layer by layer.

    python3 perfbench/run.py --workload analytics_warm --seed 1 --seconds 4 --trace 0

Runs one workload (see ``workloads.py``) on ``local[<cores>]`` from one
driver process and one client thread, over the engine's data directory
(``SPARK_GRAFT_SF_DIR``, default sf0.1). ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones (``metrics.py``).
The last stdout line is the result object; the line before it is a
report with the run conditions, every failure and the per-workload
extras (tail percentile with its sample count, ``failed_frac``,
``refresh_cycle_s``, ``rows_per_s``).

The first run in a checkout, whichever workload it is, prepares the
stage cache ``analytics_warm`` reads, in a child process (``--prepare``);
later runs reuse it. That one-time step is reported as ``prepare_s`` and
is not part of ``setup_s``.

Exit code 0 means the run finished and printed a result, correct or not;
anything else (no engine in the checkout, a crash) prints no result.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import warnings  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import hoststat  # noqa: E402
import metrics  # noqa: E402
import sample  # noqa: E402


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE_AT_T0 = process_age_s()


def since_start() -> float:
    return AGE_AT_T0 + time.monotonic() - T0


# ------------------------------------------------------------------ prepare
def engine_fingerprint(sf_dir: str) -> str:
    """Hash of the engine's source, the calibration record and the data
    files: the prepared stage cache is valid while this is unchanged."""
    h = hashlib.sha256()
    pkg = os.path.join(common.ROOT, "iot_etl_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "calibration.json"), "rb") as fh:
        h.update(fh.read())
    for t in sorted(os.listdir(sf_dir)):
        st = os.stat(os.path.join(sf_dir, t))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def prepare(calibration: dict, sf_dir: str, cores: int) -> int:
    """Mint every recorded stage into the checkout's stage cache."""
    common.import_engine()
    from iot_etl_spark.plans import QUERIES

    shutil.rmtree(common.STAGES, ignore_errors=True)
    os.makedirs(common.STAGES)
    rdir = common.run_dir()
    spark = common.start_session(rdir, cores)
    try:
        for q, _ in calibration["minting"]:
            if calibration["modules"][q] != "queries_stream":
                QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        common.stop_session(spark)
        shutil.rmtree(rdir, ignore_errors=True)
    with open(os.path.join(common.STAGES, "_PREPARED"), "w") as fh:
        fh.write(engine_fingerprint(sf_dir))
    return 0


def ensure_prepared(sf_dir: str) -> float:
    """Run ``--prepare`` in a child process unless the stage cache is
    current. Returns the seconds it took (0 when nothing was done)."""
    marker = os.path.join(common.STAGES, "_PREPARED")
    want = engine_fingerprint(sf_dir)
    try:
        with open(marker) as fh:
            if fh.read().strip() == want:
                return 0.0
    except OSError:
        pass
    t = time.monotonic()
    subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"],
                   check=True, stdout=sys.stderr, timeout=840)
    return time.monotonic() - t


def sweep_dead_runs() -> None:
    """Remove run dirs whose process is gone (a killed earlier run)."""
    if not os.path.isdir(common.WORK):
        return
    for d in os.listdir(common.WORK):
        if d.startswith("run-") and d[4:].isdigit() and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(common.WORK, d), ignore_errors=True)


# ------------------------------------------------------------------ leaks
def leaks(spark, rdir: str, stage_roots: list[str]) -> list[str]:
    """Anything a finished run must not leave behind."""
    found = []
    if spark.streams.active:
        found.append(f"{len(spark.streams.active)} active streams")
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]
    if views:
        found.append(f"stream_out_* views {views}")
    for root in stage_roots:
        if os.path.isdir(root):
            staging = [d for d in os.listdir(root) if ".build-" in d]
            if staging:
                found.append(f"staging dirs {staging} in {root}")
    outputs = [d for d in os.listdir(rdir) if d not in common.RUN_SUBDIRS]
    out = os.path.join(rdir, "out")
    if os.path.isdir(out):
        outputs += [f"out/{d}" for d in os.listdir(out)]
    if outputs:
        found.append(f"output dirs {outputs}")
    return found


# ------------------------------------------------------------------ metrics
def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def op_cpu_s(cycles: list[dict]) -> float:
    """CPU seconds per op: the median over timed cycles of a cycle's CPU
    time (driver process plus the JVM's process tree) over its op count."""
    per_op = [c["cpu_s"] / c["ops"] for c in cycles if c["ops"]]
    return sample.percentile(per_op, 50) if per_op else 0.0


def end_to_end(cycles: list[dict], setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "op_cpu_s": op_cpu_s(cycles)}


def wall_metrics(ops: list[dict], cycles: list[dict], timed_wall: float) -> dict[str, float]:
    """Wall-clock latency and throughput (``metrics.WALL``)."""
    lat = [o["s"] for o in ops]
    return {
        "op_p50_s": sample.percentile(lat, 50) if lat else 0.0,
        "ops_per_s": len(ops) / timed_wall if timed_wall > 0 else 0.0,
        "cycle_s": sample.percentile([c["s"] for c in cycles], 50) if cycles else 0.0,
    }


def per_layer(ops, cycles, tracer, timed_wall, cores, session_s, load_all_s, workload,
              rss_mb) -> dict[str, float]:
    m = dict.fromkeys(metrics.PER_LAYER, 0.0)
    m["process.peak_rss_mb"] = rss_mb
    m["session.get_spark_s"] = session_s
    m["sources.load_all_s"] = load_all_s
    n = len(ops) or 1
    queries = [o for o in ops if o["layer"] == "query"]
    if queries:
        m["plans.build_s"] = tracer.span_total("plans.build") / len(queries)
        m["plans.action_s"] = tracer.span_total("plans.action") / len(queries)
        m["plans.build_jobs"] = tracer.exec["plans.build"]["jobs"] / len(queries)
    from layertrace import EXEC_KEYS

    tot = {k: sum(acc[k] for acc in tracer.exec.values()) for k in EXEC_KEYS}
    for k, v in tot.items():
        m[f"exec.{k}"] = v / n
    m["exec.core_busy_frac"] = tot["executor_run_s"] / (timed_wall * cores) if timed_wall > 0 else 0.0
    for mod in metrics.QUERY_MODULES:
        m[f"plans.{mod}.op_s"] = mean(o["s"] for o in queries if o["module"] == mod)
    drains = [o for o in ops if o.get("stream", {}).get("batches", 0) > 0]
    if drains:
        for k in ("batches", "empty_batches", "planning_s", "addbatch_s", "commit_s",
                  "input_rows", "state_rows"):
            m[f"streaming.{k}"] = mean(o["stream"][k] for o in drains)
        m["streaming.lifecycle_s"] = mean(o["s"] - o["stream"]["trigger_s"] for o in drains)
    minting = [o for o in queries if o.get("mints", 0) > 0]
    m["stagecache.mint_query_s"] = mean(o["s"] for o in minting)
    for layer, key in (("pipeline.run_batch_pipeline", "pipeline.run_batch_pipeline_s"),
                       ("warehouse.materialize_agg", "warehouse.materialize_agg_s"),
                       ("warehouse.refresh_agg", "warehouse.refresh_agg_s"),
                       ("warehouse.append", "warehouse.append_s"),
                       ("warehouse.merge_into", "warehouse.merge_into_s"),
                       ("warehouse.optimize", "warehouse.optimize_s")):
        calls = tracer.span_count(layer)
        m[key] = tracer.span_total(layer) / calls if calls else 0.0
    cycle_bytes = getattr(workload, "cycle_bytes", [])
    if cycle_bytes:
        for key in cycle_bytes[0]:
            m[key] = mean(c[key] for c in cycle_bytes)
        m["warehouse.write_amp"] = m["warehouse.bytes_written"] / workload.ctx.events_bytes
    else:
        m["stagecache.mints"] = float(sum(o.get("mints", 0) for o in ops))
    lat = [o["s"] for o in ops]
    m["trace.op_p50_s"] = sample.percentile(lat, 50) if lat else 0.0
    m["trace.op_cpu_s"] = op_cpu_s(cycles)
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s / n
    return m


def peak_rss_mb(jvm_pid: int | None) -> float:
    import resource

    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return own + (hoststat.vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)


# ------------------------------------------------------------------ main
def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    warnings.filterwarnings("ignore", category=FutureWarning)

    load_entry = os.getloadavg()[0]
    steal_entry = hoststat.read_steal()
    cores = hoststat.core_count()
    with open(os.path.join(HERE, "calibration.json")) as fh:
        calibration = json.load(fh)
    with open(os.path.join(HERE, "config.json")) as fh:
        config = json.load(fh)
    plans = common.import_engine()  # no engine in the checkout: fail here
    from iot_etl_spark.sources.tables import DEFAULT_SF_DIR as sf_dir

    if args.prepare:
        return prepare(calibration, sf_dir, cores)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    sweep_dead_runs()
    prepare_s = ensure_prepared(sf_dir)

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events_path = os.path.join(sf_dir, "events.parquet")
    last_day = str(pc.max(pq.read_table(events_path, columns=["ts"])["ts"]).as_py().date())

    rdir = common.run_dir()
    t = time.monotonic()
    spark = common.start_session(rdir, cores)
    session_s = time.monotonic() - t
    from pyspark import SparkContext

    jvm_pid = getattr(SparkContext._gateway.proc, "pid", None)
    tracer = streams = None
    try:
        from iot_etl_spark.sources.tables import load_all

        t = time.monotonic()
        for df in load_all(spark, sf_dir).values():
            df.limit(1).count()
        load_all_s = time.monotonic() - t

        ctx = SimpleNamespace(spark=spark, queries=plans.QUERIES, oracles=plans.ORACLES,
                      sf_dir=sf_dir, seed=args.seed, cores=cores, rdir=rdir,
                      calibration=calibration, config=config, last_day=last_day,
                      events_bytes=os.path.getsize(events_path))
        workload = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            import layertrace

            tracer = layertrace.Tracer(spark.sparkContext)
            streams = layertrace.StreamStats()
            spark.streams.addListener(streams)
        stage_root = getattr(workload, "root", common.STAGES)
        runner = workloads.Runner(spark, tracer, streams, stage_root,
                                  cpu=lambda: hoststat.cpu_seconds(jvm_pid))
        t = time.monotonic()
        workload.setup(runner)
        warmup_s = time.monotonic() - t
        if tracer is not None:  # set-up calls are not timed ops
            tracer.spans.clear()
            tracer.exec.clear()
            tracer.bookkeeping_s = 0.0
        setup_s = since_start() - prepare_s
        setup_cpu_s = hoststat.cpu_seconds(jvm_pid)
        t_timed = time.monotonic()
        cycles = workload.timed(runner, args.seconds)
        timed_wall = time.monotonic() - t_timed
        ops = runner.ops
        if streams is not None:
            streams.wait_idle()
            spark.streams.removeListener(streams)
        workload.teardown()
        leaked = leaks(spark, rdir, [common.STAGES, stage_root])
        rss = peak_rss_mb(jvm_pid)
        if args.trace:
            values = per_layer(ops, cycles, tracer, timed_wall, cores, session_s,
                               load_all_s, workload, rss)
            catalogue = metrics.PER_LAYER
        else:
            values = end_to_end(cycles, setup_s)
            catalogue = metrics.END_TO_END
    finally:
        common.stop_session(spark)
        shutil.rmtree(rdir, ignore_errors=True)
    if os.path.exists(rdir):
        leaked.append(f"run dir {rdir} not removed")
    for what in leaked:
        runner.check(False, f"leak: {what}")

    lat = [o["s"] for o in ops]
    tail = sample.supported_percentile(len(lat))
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_conditions": {
            "loadavg_1m_entry": load_entry,
            "cores": cores,
            "steal_pct_run": hoststat.steal_pct(steal_entry, hoststat.read_steal()),
            "driver_memory": common.DRIVER_MEMORY,
            "sf_dir": sf_dir,
        },
        "prepare_s": prepare_s,
        "setup_parts_s": {"session": session_s, "load_all": load_all_s, "warmup": warmup_s},
        "setup_cpu_s": setup_cpu_s,
        "wall": {k: {"value": v, "unit": metrics.WALL[k]}
                 for k, v in wall_metrics(ops, cycles, timed_wall).items()},
        "timed_s": timed_wall,
        "ops": len(lat),
        "op_tail": {"percentile": tail,
                    "value_s": sample.percentile(lat, tail) if tail else None,
                    "samples": len(lat)},
        "failed_frac": runner.failed / runner.attempted if runner.attempted else 0.0,
        "failures": runner.failures[:20],
        "cycles": cycles,
        "rows_per_s": workload.rows_consumed() / timed_wall if timed_wall > 0 else 0.0,
        "op_s": [[o["name"], o["s"]] for o in ops],
        "warmup_op_s": getattr(workload, "warmup_s", {}),
    }
    print(json.dumps(report, default=str))
    print(metrics.result_line(values, catalogue, runner.attempted, runner.failed,
                              correct=runner.failed == 0))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
