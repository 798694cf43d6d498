"""Test-table catalog: the driver-provided TPC-H-ish parquet layout.

``load_table(spark, sf_dir, name)`` is the single scan entry point all
queries use, so predicate pushdown / column pruning apply uniformly
(parquet scans; Catalyst prunes to ``ReadSchema`` automatically).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Pin UTC for EVERY table read, not just events: timezone-sensitive
    # expressions (timestamp string-casts, the NTZ path below) must
    # evaluate identically to the DuckDB oracle under an external
    # driver session running non-UTC, and setting it only on the
    # events branch would make other queries' semantics depend on
    # whether an events query happened to run first in the session.
    # (Our own get_spark sessions already set this at build time.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS).  Older Sparks reject
        # it unless read as long (runtime-settable conf, so this works
        # under the driver's own session too); Spark 4.1+ reads it
        # natively as TIMESTAMP_NTZ, which bans numeric casts.  Either
        # way, normalize ts to a plain microsecond TIMESTAMP — the same
        # wall-clock DuckDB sees via its TIMESTAMP_NS → TIMESTAMP cast
        # (sessions run UTC), and a type every epoch-arithmetic site
        # (window gaps, as-of join, interpolation) can cast to double.
        # The NTZ→TIMESTAMP cast interprets the wall clock in the
        # session timezone (pinned above); the bigint path
        # (timestamp_micros) is epoch-based and timezone-free.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Parallelize compute-heavy work after an UNSPLITTABLE scan
    (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read"): when the scan yields
    fewer partitions than the cluster has slots — a single-row-group
    parquet file (this harness's testdata), a gzip landing file, one
    hot partition — round-robin repartition to ``defaultParallelism``
    so a CPU-bound per-row stage (shingling, hashing, distance
    expressions) uses every core instead of one.

    Scale-adaptive by construction, NOT a local[32] tuning constant:
    at production scale a scan carries >= cores input splits and this
    is a NO-OP (no exchange is added), so the full-payload shuffle it
    implies is only ever paid on inputs small enough for it to be
    trivial.  Result-identity: per-row map outputs and exact
    (integer/DECIMAL) aggregates are partitioning-invariant outright;
    downstream float aggregates tolerate the partial-sum reordering
    for the same reason they already hash-match a DuckDB oracle that
    accumulates in a completely different order — the 6-dp rounding
    contract's margin is many orders of magnitude above ulp-level
    reassociation drift.  Every such consumer is re-verified against
    its oracle at multiple core counts (OPTIMIZATION_r13.md batch 4).

    ``min_partitions`` defaults to ``defaultParallelism``; a value
    ``<= 0`` raises ``ValueError`` (it would otherwise silently turn
    the fan-out off).  Caveat (ADVICE r13): the ``getNumPartitions``
    probe reports the PRE-AQE partition count for shuffle-fed
    lineages — it is only accurate for scans and (eagerly)
    checkpointed frames, which is where every current caller applies
    it."""
    if min_partitions is None:
        par = df.sparkSession.sparkContext.defaultParallelism
    elif min_partitions <= 0:
        raise ValueError(f"min_partitions must be > 0, got {min_partitions}")
    else:
        par = min_partitions
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)
