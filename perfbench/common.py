"""Session, scratch layout and registry access shared by the benchmark
entry point (``run.py``) and the calibration tool (``calibrate.py``).

Everything the benchmark writes lives under ``<checkout>/.perfbench``:

- ``stages/``: the stage cache the read-path workloads use. It is
  prepared once per checkout (like a build) and persists across runs;
  its entries are keyed on source data and builder code, so an edited
  stage builder mints a fresh entry on the next run.
- ``run-<pid>/``: one run's scratch (Spark local dirs, JVM temp dir,
  pipeline and warehouse outputs, the refresh stage root). It is
  removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
STAGES = os.path.join(WORK, "stages")
DRIVER_MEMORY = "3g"
RUN_SUBDIRS = ("tmp", "local", "warehouse", "out")


def import_engine():
    """Import the engine package from the checkout, or fail the run."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import iot_etl_spark.plans  # noqa: F401  (populates the registry)

    return sys.modules["iot_etl_spark.plans"]


def run_dir() -> str:
    d = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in RUN_SUBDIRS:
        os.makedirs(os.path.join(d, sub))
    return d


def start_session(rdir: str, cpus: int):
    """The engine's own session constructor, sized to ``cpus`` cores, with
    every scratch location pointed into the run dir and the stage cache
    root pointed at the checkout's prepared cache."""
    tmp = os.path.join(rdir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rdir, "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from iot_etl_spark.plans import stagecache
    from iot_etl_spark.session import get_spark

    stagecache._CACHE_ROOT = STAGES
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(rdir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context and the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def registry():
    """(QUERIES, ORACLES) of the engine."""
    plans = import_engine()
    return plans.QUERIES, plans.ORACLES


def stage_entries(root: str) -> set[str]:
    """Completed stage-cache entries (dirs holding a ``_READY`` marker)."""
    if not os.path.isdir(root):
        return set()
    return {
        d for d in os.listdir(root)
        if os.path.exists(os.path.join(root, d, "_READY"))
    }
