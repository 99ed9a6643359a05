"""SparkSession factory tuned for this engine.

Local mode is the test harness; the configs are chosen so the same code
scales to a multi-executor cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to the core
count rather than the 200 default, Arrow enabled for the Pandas-UDF paths,
and a fixed UTC session timezone so timestamp arithmetic matches the
DuckDB oracle exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "polardbx_cdc_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (fallback: all cores). Shuffle
    partitions follow the core count — on a real cluster this would be
    ~2-3x total executor cores; AQE coalesces down when partitions run
    small, and splits skewed ones.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # joins (optimization guide §3.1/§9): let the planner choose a
        # shuffled-hash join when its size conditions hold instead of
        # defaulting to sort-merge, and let AQE rewrite SMJ→SHJ when every
        # post-shuffle partition is small. Paired A/B at sf0.1 (r13): the
        # 8 join-heavy bench queries total 10.6s→9.1s (0.86×), wins on all
        # 8. Scale posture: AQE skew-splitting + the advisory partition
        # size bound the per-partition build side; SMJ remains the
        # fallback whenever the planner can't prove the hash map fits.
        # MEMORY POSTURE: a shuffled-hash join has no spill-to-sort
        # fallback — if size stats underestimate a post-shuffle build
        # side, the task OOMs instead of spilling. The 64MB AQE rewrite
        # threshold keeps runtime rewrites conservative; deployments with
        # badly-estimated inputs can restore the default per query with
        # spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        # (it is a runtime-mutable SQL conf).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # driver testdata writes events.ts as TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long and convert (µs truncation matches DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # charset repair (operators/reformat.py) needs the full JVM charset
        # surface (GBK, Big5, windows-125x, …), not just the UTF core
        .config("spark.sql.legacy.javaCharsets", "true")
    )
    # streaming state at scale: RocksDB spills state off-heap, the Spark
    # twin of TxnBuffer.persist spill (polardbx-cdc-storage/.../
    # TxnBuffer.java:113-560). Verified working on local FS incl. restart
    # reload (tests/test_rocksdb_state.py); opt-in because tiny-state
    # local runs are faster on the default HDFS-backed provider, while
    # big stateful jobs (XA assembly, streaming near-dedup) should set
    # SPARK_GRAFT_ROCKSDB_STATE=1 (or the runtime SQL conf) for bounded
    # executor memory.
    if os.environ.get("SPARK_GRAFT_ROCKSDB_STATE", "") == "1":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str):
    """A small driver-built frame whose collect runs no Spark job.

    ``rows`` (tuples, in ``schema``'s DDL column order) reach the JVM as
    one Arrow table, which Spark plans as a ``LocalRelation`` while it
    stays under ``spark.sql.execution.arrow.localRelationThreshold``.
    ``createDataFrame`` over a Python list ships the rows as an RDD
    instead: collecting that frame runs a ``defaultParallelism``-task job
    through Python workers, and a ``mapInPandas`` over it re-serializes
    the rows in a Python stage first. A pyarrow table rather than a
    pandas frame: it needs no Arrow session setting, keeps an empty
    frame local and a nullable long exact."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def ensure_nanos_readable(spark: SparkSession) -> None:
    """Make TIMESTAMP(NANOS) parquet readable on ANY session, including one
    this module didn't build (the driver's correctness harness uses a
    vanilla SparkSession). ``nanosAsLong`` is runtime-settable; without it
    every read of events.parquet dies with PARQUET_TYPE_ILLEGAL."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # DuckDB oracle timestamps are naive; parity needs UTC rendering.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # older/locked sessions: fall through, read may still work


def normalize_event_ts(df):
    """Normalize ``events.ts`` across driver testdata generations to a
    plain TIMESTAMP (session zone is UTC, so values are unchanged):
    - TIMESTAMP(NANOS) parquet + nanosAsLong → bigint → µs truncation,
      bit-identical to DuckDB's ns→µs read;
    - naive timestamp[us] parquet → TIMESTAMP_NTZ under Spark 4's
      inferTimestampNTZ → cast (DuckDB reads the same naive value)."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        from pyspark.sql import functions as F

        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        from pyspark.sql import functions as F

        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (ts normalized, see above)."""
    ensure_nanos_readable(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df
