"""The two workloads, as closed loops from one client thread.

``analytics_warm`` (the read path): a latency-stratified sample of the
non-streaming registry queries, drawn once with the config's
ANALYTICS_SAMPLE_SEED and run in an order the run's seed picks; each query is
built and forced through the ``noop`` sink. An untimed pass first checks
every sampled query against its DuckDB twin and records its row count,
then WARM_PASSES untimed passes warm the JVM; the timed loop runs whole
passes until the time is up.

``refresh_cold`` (the write path): one new-data cycle, repeated: evict
the refresh stage root, run the batch pipeline into a fresh output dir,
materialize the hourly aggregate and refresh its last day, append the
events to a transactional table in seeded batches, merge a seeded
update/insert batch, optimize, read back, and replay the recorded
stage-minting queries. The first cycle is the untimed warm-up, and it
checks the minting queries against their DuckDB twins; whole cycles then
run until the time is up.

Every timed op is checked: a query's row count must equal its warm-up
count, the pipeline audit must read 100000 events and 1817 anomalies,
and the transactional table must hold exactly the rows and value sum
the seeded batches imply.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import common
import oracle
import sample

# Sizing. A full measurement (4 + 22 runs per workload) has to fit in 57
# minutes, which leaves about 60 s a run on 4 cores; README.md lists what
# that left out.
ANALYTICS_BANDS = 11  # sample size: one query per latency band
ANALYTICS_SAMPLE_SEED = 0  # the sample is drawn once; a run's seed orders it
ORACLE_CAP_S = 2.0  # frame: queries whose DuckDB twin answers within this
WARM_PASSES = 1  # untimed noop passes after the oracle pass
# With 4 s runs these minimums, not the time, set how many cycles a run
# times: a pass took 3.0-13 s and a refresh cycle 6.6-17 s on a 4-core
# host. CPU per op still falls from pass to pass as the JIT warms, so a
# count that moved with host speed would move op_cpu_s with it. They are
# kept low so that a full measurement still fits when the host is slow.
MIN_PASSES = 2  # timed passes per analytics_warm run
MIN_CYCLES = 1  # timed cycles per refresh_cold run
APPEND_BATCHES = 3
PIPELINE_AUDIT = {"total": 100000, "anomalies": 1817}

class Runner:
    """Times calls into the engine and, in a traced run, wraps each one in
    a job group and collects streaming progress and stage-cache mints."""

    def __init__(self, spark, tracer=None, streams=None, stage_root: str = "",
                 cpu=time.process_time) -> None:
        self.spark = spark
        self.cpu = cpu
        self.tracer = tracer
        self.streams = streams
        self.stage_root = stage_root
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._op_name = ""

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def _call(self, layer: str, fn):
        if self.tracer is None:
            return fn()
        return self.tracer.call(layer, self._op_name, fn)

    def op(self, name: str, layer: str, fn, module: str = "") -> dict:
        """One timed op. ``fn(call)`` does the work, routing each engine
        call through ``call(layer, thunk)``; it returns the op's output
        for checking. A raised exception is a failed op."""
        before = self._snapshot()
        self._op_name = name
        rec = {"name": name, "layer": layer, "module": module}
        t0 = time.monotonic()
        try:
            rec["out"] = fn(self._call)
            rec["error"] = None
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["out"] = None
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
        rec["s"] = time.monotonic() - t0
        rec.update(self._delta(before))
        self.ops.append(rec)
        self.attempted += 1
        if rec["error"]:
            self.fail(f"{name}: {rec['error']}")
        return rec

    def cycle(self, fn) -> dict:
        """Run ``fn()`` (one whole cycle of ops) and return its wall time,
        CPU time and op count."""
        n0 = len(self.ops)
        c0 = self.cpu()
        t0 = time.monotonic()
        fn()
        return {"s": time.monotonic() - t0, "cpu_s": self.cpu() - c0,
                "ops": len(self.ops) - n0}

    def _snapshot(self):
        if self.tracer is None:
            return None
        return (
            self.streams.totals() if self.streams else None,
            common.stage_entries(self.stage_root),
        )

    def _delta(self, before) -> dict:
        if before is None:
            return {}
        out = {}
        if self.streams is not None:
            self.streams.wait_idle()
            after = self.streams.totals()
            out["stream"] = {k: after[k] - before[0][k] for k in after}
            # state size is a level, not a flow: keep the newest reading
            out["stream"]["state_rows"] = after["state_rows"] if out["stream"]["batches"] else 0.0
        out["mints"] = len(common.stage_entries(self.stage_root) - before[1])
        return out

    def query(self, name: str, module: str, queries, sf_dir: str) -> dict:
        """Build a registry query and force it through the noop sink; the
        op's output is its row count, observed during that one action."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        def work(call):
            df = call("plans.build", lambda: queries[name](self.spark, sf_dir))
            obs = Observation()
            call(
                "plans.action",
                lambda: df.observe(obs, F.count(F.lit(1)).alias("n"))
                .write.format("noop").mode("overwrite").save(),
            )
            return int(obs.get["n"])

        return self.op(name, "query", work, module)


def oracle_rows(spark, queries, oracles, name: str, sf_dir: str, duck) -> tuple[int | None, str | None]:
    """Run ``name`` untimed and compare it with its DuckDB twin.
    Returns (row count, mismatch reason or None)."""
    try:
        actual = queries[name](spark, sf_dir).toPandas()
        expected = duck.execute(oracles[name]).df()
    except Exception as exc:  # noqa: BLE001 - reported as a failed check
        return None, f"{type(exc).__name__}: {str(exc)[:200]}"
    return len(actual), oracle.mismatch(actual, expected)


def analytics_sample(calibration: dict, seed: int) -> list[str]:
    """The latency-stratified sample ``seed`` draws. The frame is every
    non-streaming query whose oracle runs within the cap, so the
    once-per-run oracle check fits the run."""
    names = [
        n for n, m in calibration["modules"].items()
        if m != "queries_stream" and calibration["oracle_s"][n] <= ORACLE_CAP_S
    ]
    return sample.stratified_sample(
        names, calibration["modules"], calibration["warm_s"], ANALYTICS_BANDS, seed
    )


def analytics_run_order(calibration: dict, seed: int) -> list[str]:
    """The sample drawn with ANALYTICS_SAMPLE_SEED, in the order a run's
    seed picks. Every seed runs the same queries, so the seed-to-seed
    spread carries no sample-composition noise."""
    order = analytics_sample(calibration, ANALYTICS_SAMPLE_SEED)
    random.Random(seed).shuffle(order)
    return order


class AnalyticsWarm:
    name = "analytics_warm"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sample = analytics_run_order(ctx.calibration, ctx.seed)
        self.warm_rows: dict[str, int | None] = {}
        self.warmup_s: dict[str, float] = {}

    def setup(self, runner: Runner) -> None:
        ctx = self.ctx
        duck = oracle.connect(ctx.sf_dir, ctx.cores)
        try:
            for q in self.sample:
                t0 = time.monotonic()
                rows, why = oracle_rows(ctx.spark, ctx.queries, ctx.oracles, q, ctx.sf_dir, duck)
                self.warmup_s[q] = time.monotonic() - t0
                self.warm_rows[q] = rows
                runner.check(why is None, f"oracle {q}: {why}")
        finally:
            duck.close()
        for _ in range(WARM_PASSES):
            self._pass(runner)
        runner.ops.clear()  # warm passes are not timed ops

    def _pass(self, runner: Runner) -> None:
        ctx = self.ctx
        for q in self.sample:
            rec = runner.query(q, ctx.calibration["modules"][q], ctx.queries, ctx.sf_dir)
            if rec["error"] is None and rec["out"] != self.warm_rows[q]:
                runner.fail(f"{q}: {rec['out']} rows, warm-up had {self.warm_rows[q]}")

    def timed(self, runner: Runner, seconds: float) -> list[dict]:
        """Whole passes over the sample until ``seconds`` have elapsed and
        at least MIN_PASSES are done; returns each pass's ``Runner.cycle``
        record."""
        deadline = time.monotonic() + seconds
        passes: list[dict] = []
        while time.monotonic() < deadline or len(passes) < MIN_PASSES:
            passes.append(runner.cycle(lambda: self._pass(runner)))
        return passes

    def rows_consumed(self) -> float:
        return 0.0

    def teardown(self) -> None:
        pass


def dir_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(base, f))
            n_files += 1
    return n_bytes, n_files


class RefreshCold:
    name = "refresh_cold"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.minting = list(ctx.config[self.name]["mint_queries"])
        self.root = os.path.join(ctx.rdir, "refresh_stages")
        self.cycle_bytes: list[dict[str, float]] = []
        self.warm_rows: dict[str, int | None] = {}
        self._expected_tx = self._expected_table()

    def _expected_table(self) -> tuple[int, float]:
        """Rows and value sum the transactional table must hold after the
        appends and the seeded merge (computed from the source file)."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.ctx.sf_dir, "events.parquet"),
                          columns=["event_id", "value"]).to_pandas()
        seed = self.ctx.seed
        upd = (t.event_id * 7 + seed) % 10 == 0
        ins = (t.event_id * 11 + seed) % 50 == 0
        rows = len(t) + int(ins.sum())
        total = float(t.value.sum() + upd.sum() * 1.0 + t.value[ins].sum())
        return rows, total

    def _merge_source(self, ev):
        from pyspark.sql import functions as F

        seed = self.ctx.seed
        upd = ev.filter((F.col("event_id") * 7 + seed) % 10 == 0).withColumn(
            "value", F.col("value") + F.lit(1.0)
        )
        ins = ev.filter((F.col("event_id") * 11 + seed) % 50 == 0).withColumn(
            "event_id", F.col("event_id") + F.lit(10**9)
        )
        return upd.unionByName(ins)

    def cycle(self, runner: Runner, k: int, warmup: bool, duck=None) -> None:
        """One new-data cycle."""
        from pyspark.sql import functions as F

        from iot_etl_spark.pipeline.batch import run_batch_pipeline
        from iot_etl_spark.sources.tables import load_table
        from iot_etl_spark.warehouse import lifecycle
        from iot_etl_spark.warehouse.merge import merge_into
        from iot_etl_spark.warehouse.txlog import TxTable

        ctx, spark, seed = self.ctx, self.ctx.spark, self.ctx.seed
        out = os.path.join(ctx.rdir, "out", f"cycle{k}")
        agg, tx = os.path.join(out, "agg"), os.path.join(out, "tx")

        def evict(call):
            shutil.rmtree(self.root, ignore_errors=True)
            shutil.rmtree(os.path.join(ctx.rdir, "out"), ignore_errors=True)
            os.makedirs(out)

        runner.op("evict", "evict", evict)
        rec = runner.op(
            "run_batch_pipeline", "pipeline.run_batch_pipeline",
            lambda call: call("pipeline.run_batch_pipeline",
                              lambda: run_batch_pipeline(spark, ctx.sf_dir, os.path.join(out, "pipeline"))),
        )
        if rec["error"] is None:
            audit = {k2: rec["out"][k2] for k2 in PIPELINE_AUDIT}
            runner.check(audit == PIPELINE_AUDIT, f"pipeline audit {audit} != {PIPELINE_AUDIT}")

        ev = load_table(spark, ctx.sf_dir, "events")
        last_day = ctx.last_day
        runner.op(
            "materialize_agg", "warehouse.materialize_agg",
            lambda call: call("warehouse.materialize_agg", lambda: lifecycle.materialize_agg(
                ev.filter(F.to_date("ts") < F.lit(last_day)), agg)),
        )

        def refresh(call):
            call("warehouse.refresh_agg", lambda: lifecycle.refresh_agg(ev, agg, since=last_day))
            return lifecycle.read_agg(spark, agg).count()

        rec = runner.op("refresh_agg", "warehouse.refresh_agg", refresh)
        self._check_rows(runner, "refresh_agg", rec, warmup)

        table = TxTable(tx)
        for i in range(APPEND_BATCHES):
            part = ev.filter((F.col("event_id") + seed) % APPEND_BATCHES == i)
            runner.op(f"append{i}", "warehouse.append",
                      lambda call, part=part: call("warehouse.append", lambda: table.append(part)))
        runner.op("merge_into", "warehouse.merge_into",
                  lambda call: call("warehouse.merge_into",
                                    lambda: merge_into(spark, table, self._merge_source(ev), on=["event_id"])))
        runner.op("optimize", "warehouse.optimize",
                  lambda call: call("warehouse.optimize", lambda: table.optimize(spark)))
        rec = runner.op(
            "read_back", "warehouse.read_back",
            lambda call: call("warehouse.read_back", lambda: table.read(spark).agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")).collect()[0]),
        )
        if rec["error"] is None:
            rows, total = self._expected_tx
            got = (int(rec["out"]["n"]), float(rec["out"]["v"]))
            runner.check(got[0] == rows and math.isclose(got[1], total, rel_tol=1e-9),
                         f"table read-back {got} != {(rows, total)}")

        for q in self.minting:
            if warmup:
                rows, why = oracle_rows(spark, ctx.queries, ctx.oracles, q, ctx.sf_dir, duck)
                self.warm_rows[q] = rows
                runner.check(why is None, f"oracle {q}: {why}")
            else:
                rec = runner.query(q, ctx.calibration["modules"][q], ctx.queries, ctx.sf_dir)
                if rec["error"] is None and rec["out"] != self.warm_rows[q]:
                    runner.fail(f"{q}: {rec['out']} rows, warm-up had {self.warm_rows[q]}")
        if not warmup:
            stage_b, _ = dir_bytes_files(self.root)
            pipe_b, _ = dir_bytes_files(os.path.join(out, "pipeline"))
            wh_b = wh_f = 0
            for d in (agg, tx):
                b, f = dir_bytes_files(d)
                wh_b, wh_f = wh_b + b, wh_f + f
            self.cycle_bytes.append({
                "stagecache.bytes_written": stage_b,
                "stagecache.mints": len(common.stage_entries(self.root)),
                "pipeline.bytes_written": pipe_b,
                "warehouse.bytes_written": wh_b,
                "warehouse.files_written": wh_f,
            })

    def _check_rows(self, runner: Runner, key: str, rec: dict, warmup: bool) -> None:
        if rec["error"] is not None:
            return
        if warmup:
            self.warm_rows[key] = rec["out"]
        elif rec["out"] != self.warm_rows.get(key):
            runner.fail(f"{key}: {rec['out']} rows, warm-up had {self.warm_rows.get(key)}")

    def setup(self, runner: Runner) -> None:
        from iot_etl_spark.plans import stagecache

        stagecache._CACHE_ROOT = self.root
        duck = oracle.connect(self.ctx.sf_dir, self.ctx.cores)
        try:
            self.cycle(runner, 0, warmup=True, duck=duck)
        finally:
            duck.close()
        # warm-up ops are not timed ops
        runner.ops.clear()

    def timed(self, runner: Runner, seconds: float) -> list[dict]:
        """Whole cycles until ``seconds`` have elapsed and at least
        MIN_CYCLES are done; returns each cycle's ``Runner.cycle`` record."""
        deadline = time.monotonic() + seconds
        cycles: list[dict] = []
        while time.monotonic() < deadline or len(cycles) < MIN_CYCLES:
            k = len(cycles) + 1
            cycles.append(runner.cycle(lambda: self.cycle(runner, k, warmup=False)))
        return cycles

    def rows_consumed(self) -> float:
        return float(PIPELINE_AUDIT["total"] * len(self.cycle_bytes))

    def teardown(self) -> None:
        """Remove the last cycle's outputs and the refresh stage root."""
        shutil.rmtree(os.path.join(self.ctx.rdir, "out"), ignore_errors=True)
        shutil.rmtree(self.root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (AnalyticsWarm, RefreshCold)}
