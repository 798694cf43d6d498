"""SparkSession factory.

Single place where execution-relevant configuration lives: every
session (tests, benchmarks, tools, examples) is built here.  The core
count follows ``SPARK_GRAFT_CPUS`` (else every local core), and every
knob is the one you would also set on a 1000-executor cluster:

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion replace hand-tuned
  partition counts at 100 TB.
* shuffle partitions sized from cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant.
* Arrow enabled — every Pandas-UDF path (similarity search, multimodal
  decode) transfers columnar batches, not pickled rows.
* A generated-code cache that holds the working set — CV folds,
  bagging seeds, HPO trials and stacking passes re-plan the same
  shapes, so their compiled classes must still be cached next pass.
* No per-call origin capture on PySpark ``Column`` calls.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fastmlframework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local core count (bench contract).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Static conf, default 100.  A solution-chain pass uses ~180
        # distinct generated classes and a corpus-batch pass ~220, so
        # a 100-entry LRU evicts each class before its next use: every
        # warm pass recompiled ~300 (chain) and ~230 (corpus) classes
        # through Janino, then the JIT.  At 1000 a warm pass compiles
        # 0-14 (4 vCPU, perfbench seed 5).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Default on: every Column call (~900 per chain pass) then
        # spends about four py4j round trips recording a call site,
        # and at the default depth of 1 that site is a line in this
        # package, not in user code.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
