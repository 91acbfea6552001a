"""SparkSession factory.

Deterministic, oracle-stable defaults:
- session timezone pinned to UTC (keeps DATE/TIMESTAMP values identical to the
  DuckDB oracle),
- ANSI mode off so ``cast`` coerces bad values to NULL — matching the
  reference's tolerant pandas coercion (``pd.to_numeric(errors="coerce")``,
  reference ``loading_data_sp/function.py:171-178``),
- AQE on (runtime coalescing + skew-join handling matters at the 100 TB
  target scale),
- Arrow enabled for the pandas bridge and Pandas UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def get_session(
    app_name: str = "incremental_datapipeline_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state_store: bool = False,
    extra_conf: dict[str, str] | None = None,
    profile: str | object | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — right for local
    test scale; on a real cluster AQE coalescing makes the initial number a
    ceiling rather than a fixed cost.

    ``profile`` applies an environment profile (``config.Profile`` or a
    registry name / config-file path — the dev/prod deployment surface,
    reference ``config/dev.yml`` + ``render_yaml.py``): its sizing knobs
    become the defaults, explicit arguments still win. Choose the profile
    at process start — an already-running session only picks up the
    runtime-modifiable confs.
    """
    if profile is not None:
        from .config import Profile, get_profile

        p = profile if isinstance(profile, Profile) else get_profile(profile)
        if shuffle_partitions is None:
            shuffle_partitions = p.shuffle_partitions
        merged = dict(p.session_conf)
        merged.update(extra_conf or {})
        extra_conf = merged
        app_name = f"{app_name}-{p.env}"
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # testdata events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert (util.load) — DuckDB-parity
        # is ns -> us truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if rocksdb_state_store:
        # Large stateful streaming (running stats, cross-batch dedup,
        # session windows) outgrows the default in-memory HDFS-backed state
        # store; RocksDB keeps state on local disk with incremental
        # checkpointing — the at-scale choice. Off by default: tests and
        # the batch pipeline don't need it.
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows: list, schema: str):
    """Single-partition DataFrame from a handful of driver-side rows.

    The rows become an Arrow table and then a local frame (a
    ``LocalRelation``): the data travels inside the plan, so no Python
    worker runs when it is read. ``spark.createDataFrame(rows)`` would ship
    them through a Python RDD instead, one worker roundtrip per slice
    (~0.3 s each). The frame is coalesced to ONE partition, so a write of
    it is one task and one file. Use for metadata-sized writes (scalar
    caches, run logs) and single documents — never for real data.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, schema=struct).coalesce(1)
