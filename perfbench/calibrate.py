#!/usr/bin/env python3
"""Record the per-checkout facts the benchmark config is built from.

Runs every registry query twice in one session at ``local[<cores>]``
over the benchmark's data directory, starting from an EMPTY stage-cache
root:

- pass 1 (cold) records which queries mint a stage-cache entry: the
  prepare step mints them all, and ``refresh_cold`` replays the subset
  listed in ``config.json``;
- pass 2 (warm) gives each query's reference latency, which
  ``analytics_warm`` uses to stratify its sample into latency bands.

A third pass times every DuckDB oracle, interrupted after
ORACLE_TIMEOUT_S:
``analytics_warm`` checks each sampled query against its oracle once per
run, so queries whose oracle is slower than that are left out of its
sampling frame.

Writes ``perfbench/calibration.json``. The benchmark reads that file and
never re-derives it, so later changes to the engine run the same recorded
operations.

Usage: python3 perfbench/calibrate.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import hoststat  # noqa: E402
import oracle  # noqa: E402

ORACLE_TIMEOUT_S = 5.0
PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "calibration.json")


def time_oracles(oracles: dict[str, str], sf_dir: str, threads: int) -> dict[str, float]:
    """Seconds per oracle; one still running after ORACLE_TIMEOUT_S is
    interrupted and recorded as the timeout."""
    import threading

    con = oracle.connect(sf_dir, threads)
    out = {}
    try:
        for name, sql in oracles.items():
            timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
            t0 = time.monotonic()
            timer.start()
            try:
                con.execute(sql).df()
                out[name] = round(time.monotonic() - t0, 4)
            except Exception:  # noqa: BLE001 - interrupted at the timeout
                out[name] = ORACLE_TIMEOUT_S
            finally:
                timer.cancel()
            print(f"oracle {name} {out[name]}", flush=True)
    finally:
        con.close()
    return out


def main() -> int:
    queries, oracles = common.registry()
    from iot_etl_spark.plans import stagecache
    from iot_etl_spark.sources.tables import DEFAULT_SF_DIR

    cpus = hoststat.core_count()
    rdir = common.run_dir()
    spark = common.start_session(rdir, cpus)
    root = os.path.join(rdir, "calib_stages")
    stagecache._CACHE_ROOT = root
    names = list(queries)
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    minting: dict[str, list[str]] = {}
    try:
        for timings, label in ((cold, "cold"), (warm, "warm")):
            for i, name in enumerate(names):
                before = common.stage_entries(root)
                t0 = time.monotonic()
                queries[name](spark, DEFAULT_SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                timings[name] = round(time.monotonic() - t0, 4)
                new = sorted(common.stage_entries(root) - before)
                if label == "cold" and new:
                    minting[name] = [d.rsplit("_", 2)[0] for d in new]
                print(f"{label} {i + 1}/{len(names)} {name} {timings[name]}"
                      f"{' mint ' + ','.join(new) if new else ''}", flush=True)
                if (i + 1) % 64 == 0:
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
    finally:
        common.stop_session(spark)
        shutil.rmtree(rdir, ignore_errors=True)
    out = {
        "cpus": cpus,
        "sf": os.path.basename(DEFAULT_SF_DIR.rstrip("/")),
        "modules": {n: common.module_of(queries[n]) for n in names},
        "cold_s": cold,
        "warm_s": warm,
        # registry order: replaying in this order mints the same stages
        "minting": [[n, minting[n]] for n in names if n in minting],
        "oracle_s": time_oracles(oracles, DEFAULT_SF_DIR, cpus),
    }
    with open(PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {PATH}: {len(minting)} minting queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
