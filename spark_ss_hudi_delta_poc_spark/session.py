"""SparkSession factory.

Mirrors the reference's session setup (S3ToParquetStreamJob.scala:19-37:
master selection by environment, S3A/Kryo conf, dynamic allocation off) in
idiomatic PySpark.  Two profiles:

- ``local``   — local[N] for tests/bench on this machine;
- ``cluster`` — no master override (spark-submit decides), tuned for a large
  cluster: AQE on (coalesce partitions, skew-join), higher shuffle partition
  count, Arrow enabled for the Pandas-UDF operators.

All timestamps are pinned to UTC so results are deterministic across engines
(the DuckDB oracle treats naive timestamps as UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf shared by every profile.  These are the knobs that matter at 100 TB:
# AQE repartitions shuffles at runtime (skew join splitting included), Arrow
# keeps the unavoidable Python stages batched instead of row-at-a-time, and
# UTC keeps timestamp semantics engine-independent.
_COMMON_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Respect the advisory partition size when coalescing instead of
    # stopping at defaultParallelism (Spark's own config reference
    # recommends false): with the default true, every tiny shuffle still
    # fans out to #cores tasks, so fixed per-task overhead dominates the
    # thousands of small per-trigger shuffles in the cross-run ingest
    # chains.  With false, partition count derives from DATA SIZE
    # (advisory target) at every scale — a KB-sized aggregate coalesces
    # to 1 task locally, a 100 TB shuffle still gets bytes/advisory
    # partitions on the cluster.  Scale-adaptive by construction, not a
    # local[32] constant (round-15 optimization, guide §2.2/§9).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The reference disables dynamic allocation on every job
    # (S3ToParquetStreamJob.scala:35-36); on a real cluster we'd rather let
    # the resource manager decide, but we keep parity with its explicit
    # serializer choice which is harmless for DataFrame-only code.
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def _env_cores() -> int:
    """``SPARK_GRAFT_CPUS`` as a positive int; unset, the CPUs this
    process may run on (its affinity mask, not the machine's count)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
    try:
        cores = int(raw)
    except ValueError:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}") from None
    if cores <= 0:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cores


def _env_parallelism_first() -> str:
    """``SPARK_GRAFT_AQE_PARALLELISM_FIRST`` (``true``/``false`` only);
    unset, the scale-adaptive default of ``_COMMON_CONF``."""
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    raw = os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", _COMMON_CONF[key])
    if raw not in ("true", "false"):
        raise ValueError(f"SPARK_GRAFT_AQE_PARALLELISM_FIRST must be 'true' or 'false', got {raw!r}")
    return raw


def get_spark(
    app_name: str = "spark-ss-hudi-delta-poc-spark",
    profile: str = "local",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession for the given profile.

    ``cores`` / ``shuffle_partitions`` default from env vars the driver
    uses (SPARK_GRAFT_CPUS) so bench and tests share one code path.
    Both environment knobs are checked before any session is touched: a
    malformed value raises ``ValueError`` instead of being passed on.
    """
    parallelism_first = _env_parallelism_first()
    if cores is None:
        cores = _env_cores()
    if shuffle_partitions is None:
        # Local rule of thumb: shuffle partitions ~= cores.  On a cluster
        # AQE coalesces from a deliberately high initial number instead.
        shuffle_partitions = cores if profile == "local" else 2000

    builder = SparkSession.builder.appName(app_name)
    if profile == "local":
        builder = builder.master(f"local[{cores}]")
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    conf = dict(_COMMON_CONF)
    # One-config A/B knob (VERDICT r15 #5): flip AQE's parallelismFirst
    # from the environment so the coalescing policy can be measured in
    # isolation (tools/bench_ab-style replay with ONLY this changed).
    # The default stays the scale-adaptive "false" documented above.
    conf["spark.sql.adaptive.coalescePartitions.parallelismFirst"] = parallelism_first
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if profile != "local":
        # Spill-aware sizing for the 100 TB case: 256 MB input splits keep
        # per-task working sets well inside executor memory; AQE coalesces
        # the deliberately-high shuffle partition count down to ~advisory
        # size at runtime, so small stages don't pay for the big default.
        conf.setdefault("spark.sql.files.maxPartitionBytes", "268435456")
        conf.setdefault("spark.sql.adaptive.advisoryPartitionSizeInBytes", "134217728")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may return a pre-existing session: re-assert the confs that
    # are settable at runtime so tests can't leak a non-UTC session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
