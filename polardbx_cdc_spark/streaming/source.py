"""Streaming CDC sources.

Reference: BinlogExtractor tails MySQL binlogs per DN
(polardbx-cdc-task/.../extractor/BinlogExtractor.java:63,161-236); the RPL
side subscribes to the merged stream from a TSO (CdcExtractor.java:87,225).

Here the source is a file-based Structured Streaming reader over the
driver's ``events`` parquet (Trigger.AvailableNow in tests = bounded
replay); in production the same frame comes from Kafka/Debezium — only this
module changes, every downstream operator is source-agnostic.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polardbx_cdc_spark.model import derive_cdc_stream


def _as_stream_dir(sf_dir: str, name: str) -> str:
    """The directory a file stream of table ``name`` reads. Spark's file
    streaming source only accepts directories and does NOT recurse into
    subdirectories. An engine-written dataset (``name.parquet/`` of part
    files, e.g. the sf1 stress copy) is that directory, read in place.
    The driver testdata is one parquet FILE per table in a read-only
    tree: it is staged as a symlink in a directory keyed by its path, so
    every stream of one table shares one staging dir."""
    target = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(target):
        return target
    d = os.path.join(tempfile.gettempdir(), "cdc_stream_src", sf_dir.strip("/").replace("/", "_"), name)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    if not os.path.islink(link):
        os.symlink(target, link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str,
                       fan_out: bool = True,
                       static_source: bool = False,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """events parquet as an unbounded stream (schema pinned from the batch
    read; nanos ts handled identically to session.load_table).

    ``fan_out`` (default on) inserts a deterministic-hash exchange on the
    RAW rows before any derivation: a micro-batch whose files are few or
    unsplittable (single row-group parquet, a fresh relay file) otherwise
    runs the whole derive + sink pipeline on as many cores as it has
    files (r9 profile: 0.7s of a 2.2s batch was single-task derive).
    The exchange is one narrow pass of raw columns — at large file
    counts it also levels skewed file sizes. Pass ``fan_out=False`` when
    the consumer's FIRST operation is itself a keyed shuffle (e.g. the
    AggView/JoinView sinks' per-PK fold): the keyed exchange already
    spreads the work, so the round-robin pass would be a second full
    exchange bought for nothing (r9 profile: +34% on the IVM pipeline).
    With ``static_source=True`` (a complete backlog consumed in ONE
    availableNow attach) the exchange is additionally skipped when the
    staged directory is already at least defaultParallelism files wide —
    that one batch arrives well-distributed. The skip is opt-in because
    the census runs at stream-DEFINITION time: a live-tail stream's later
    micro-batches contain only newly-landed files (often 1-2), exactly
    the narrow batches the exchange exists for.

    ``max_files_per_trigger`` is a SOURCE option (it must ride the
    readStream — options on the writeStream never reach a file source):
    bounds per-micro-batch intake for catch-up bursts and steady-state
    cadence drives (the FlowLimiter knob, §2.11)."""
    from polardbx_cdc_spark.session import ensure_nanos_readable, normalize_event_ts

    ensure_nanos_readable(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = _as_stream_dir(sf_dir, "events")
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(src_dir)
    if fan_out:
        width = spark.sparkContext.defaultParallelism
        n_files = sum(1 for f in os.listdir(src_dir) if f.endswith(".parquet"))
        if not (static_source and n_files >= width):
            # deterministic-hash exchange, not keyless round-robin: the
            # latter pays a full local sort of every micro-batch
            # (sortBeforeRepartition, SPARK-23207); hashing the raw
            # columns is retry-safe without it (guide §2.5) and works on
            # a streaming frame (schema-only)
            from polardbx_cdc_spark.binlog_wire import fan_out_key

            key = fan_out_key(stream, width)
            stream = (stream.repartition(width, key)
                      if key is not None else stream.repartition(width))
    return normalize_event_ts(stream)


def read_binlog(spark: SparkSession, sink_dir: str, from_tso: str = "") -> DataFrame:
    """Consume a BinlogSink output as a CDC frame — the downstream
    subscriber path (CdcExtractor.java:87,225: subscribe to the global
    binlog from a TSO). Frame rows (BEGIN/COMMIT) are stripped; ``from_tso``
    is the starting position (partition/row-group pruned)."""
    df = spark.read.parquet(sink_dir)
    events = df.filter(~F.col("action").isin("BEGIN", "COMMIT"))
    if from_tso:
        events = events.filter(F.col("tso") > from_tso)
    drop = [c for c in ("offset", "file_seq", "frame_rank", "txn_commit_tso") if c in df.columns]
    return events.drop(*drop)


def cdc_stream(spark: SparkSession, sf_dir: str, watermark: str = "10 minutes",
               fan_out: bool = True,
               max_files_per_trigger: int | None = None) -> DataFrame:
    """The canonical CDC stream with an event-time watermark on the TSO
    physical time — the Spark-native HeartBeatWindow: the global watermark
    is min over all source partitions, exactly the reference's
    all-sources-reached-T emission gate (HeartBeatWindow.java:30-71).
    ``fan_out`` and ``max_files_per_trigger`` pass through to
    :func:`read_events_stream` — set fan_out=False when the consumer's
    first operation is a keyed shuffle."""
    ev = read_events_stream(spark, sf_dir, fan_out=fan_out,
                            max_files_per_trigger=max_files_per_trigger)
    return derive_cdc_stream(spark, sf_dir, events=ev).withWatermark("ts", watermark)


def subscribe_cdc(
    spark: SparkSession,
    sf_dir: str,
    subscribe: str = "dn-0,dn-1,dn-2,dn-3",
    starting_offsets: str = "earliest",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Kafka-shaped subscription over the CDC feed — the re-subscribe
    contract of the reference's RPL extractor (CdcExtractor.java:225:
    ``dump(DumpRequest{fileName, position})`` — resume the merged stream
    from a position; BinlogExtractor.java:161-236 tails each DN source).

    Option surface mirrors ``format("kafka")`` so swapping in a real
    broker changes only this function:

    - ``subscribe``: comma-separated topics; one topic per DN source
      (``source_id``), matching the reference's per-storage stream.
    - ``starting_offsets``: ``"earliest"`` (full replay), ``"latest"``
      (only data beyond the current high-water mark), a single TSO string
      (one position for all topics), or a JSON object
      ``{"topic": "tso", ...}`` (per-topic positions, exactly Kafka's
      per-partition startingOffsets JSON).

    The seek predicate is ``tso > offset`` per source — a plain Catalyst
    filter, so on a real feed it pushes to the broker/scan (min-TSO
    filter, filters.py) instead of discarding rows post-read.
    """
    import json

    topics = [t.strip() for t in subscribe.split(",") if t.strip()]
    stream = cdc_stream(spark, sf_dir, watermark=watermark).filter(
        F.col("source_id").isin(topics)
    )

    if starting_offsets == "earliest":
        return stream
    if starting_offsets == "latest":
        # bounded-replay "latest": current per-topic high-water marks
        batch = derive_cdc_stream(spark, sf_dir).filter(F.col("source_id").isin(topics))
        rows = batch.groupBy("source_id").agg(F.max("tso").alias("mx")).collect()
        offsets = {r["source_id"]: r["mx"] for r in rows}
    else:
        try:
            parsed = json.loads(starting_offsets)
        except (ValueError, TypeError):
            parsed = starting_offsets
        if isinstance(parsed, dict):
            offsets = {t: str(parsed.get(t, "")) for t in topics}
        else:
            offsets = {t: str(starting_offsets) for t in topics}

    wm = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    pos = F.coalesce(wm[F.col("source_id")], F.lit(""))
    return stream.filter(F.col("tso") > pos)


#: wire schema of one JSON line on the live feed — the app-event envelope
#: (matches the driver's events table so the same derivation applies).
SOCKET_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_socket_cdc(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 9999,
    watermark: str = "10 minutes",
) -> DataFrame:
    """LIVE CDC ingest over a TCP socket: newline-delimited JSON events →
    canonical watermarked CDC stream.

    This is the genuinely-live (non-file) connector path: the reference
    tails a live server (BinlogExtractor.java:161-236 connects and dumps;
    CdcExtractor.java:225 subscribes over gRPC), and this source does the
    same against any process that speaks line-JSON over TCP — the
    integration test runs a real server thread and pushes events through
    the full merge + sink pipeline. Malformed lines yield NULL event_id
    and are dropped (PERMISSIVE parse — a poison message must not kill
    the stream; the reference's extractor skips undecodable events the
    same way). For Kafka swap in ``subscribe_cdc``; only this module
    changes, downstream operators are source-agnostic."""
    from pyspark.sql.types import StructType

    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    schema = StructType.fromDDL(SOCKET_EVENT_SCHEMA)
    opts = {"timestampFormat": "yyyy-MM-dd HH:mm:ss[.SSSSSS]"}
    ev = (
        lines.select(F.from_json(F.col("value"), schema, opts).alias("e"))
        .select("e.*")
        .filter(F.col("event_id").isNotNull())
    )
    return derive_cdc_stream(spark, sf_dir="", events=ev).withWatermark("ts", watermark)


def wire_stream(spark: SparkSession, wire_dir: str,
                stream: str | None = None) -> DataFrame:
    """STREAMING attach to a directory of REAL binlog wire files — tail a
    relay/standby directory with Structured Streaming: each newly-LANDED
    file streams through the engine decoder as one Arrow batch. The
    streaming twin of `binlog_wire.read_wire_binlog`: BOTH paths decode
    through `binlog_wire.wire_frame_cols` (one shared frame decoder;
    this one stops cleanly at a torn tail), so (file_name, pos)
    positions are identical and an applier can move between them. The
    reference's BinlogExtractor tails local binlog files the same way
    (BinlogExtractor.java:161-236).

    File-source semantics: a file is consumed ONCE when it first appears
    — bytes appended later are NOT re-read. Point this at a directory
    where files land COMPLETE: `dump_server.relay_copy(stage_tail=True)`
    keeps the in-flight tail under an underscore-prefixed name (which
    Spark's listing ignores) and renames it into view only when its
    successor starts, exactly for this consumer. Payload-compressed
    (TRANSACTION_PAYLOAD) files expand transparently.

    Scale posture (100 TB): this IS the data plane and it rides Spark
    end to end — file listing/scheduling is the Structured Streaming
    file source (driver lists, executors read), and ALL byte decoding
    happens inside `mapInPandas` on executors (one wire file per task,
    Arrow-batched out). Nothing per-event touches the driver; a
    1000-executor cluster tails 1000 relay files concurrently. Per-file
    memory is bounded by the relay's rotate size (the writer rotates by
    `rotate_rows`/size), so raise rotation frequency, not executor
    memory, for bigger streams. Micro-batch cadence is the file-landing
    cadence — the `maxFilesPerTrigger` option bounds catch-up bursts.
    """
    import functools

    from polardbx_cdc_spark import binlog_wire as W

    return _wire_files_stream(spark, wire_dir, stream).mapInPandas(
        functools.partial(W._decode_wire_batches, tolerate_truncation=True),
        W.WIRE_FRAME_SCHEMA,
    )


def _wire_files_stream(spark: SparkSession, wire_dir: str,
                       stream: str | None) -> DataFrame:
    """``(path, content)`` of each wire file landing in ``wire_dir``: the
    global chain ``binlog.*`` by default, or one Binlog-X per-stream
    chain ``binlog-x-<stream>.*`` (the layout relay_copy(stream=...)
    replicates). `is not None`, NOT truthiness: integer stream id 0 is a
    valid Binlog-X stream (`if stream` silently fell back to the global
    glob and read nothing)."""
    return (
        spark.readStream.format("binaryFile")
        # streaming file sources require an explicit schema; this is
        # binaryFile's fixed one
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option(
            "pathGlobFilter",
            f"binlog-x-{stream}.*" if stream is not None else "binlog.*",
        )
        .load(wire_dir)
        .select("path", "content")
    )


def wire_typed_stream(spark: SparkSession, wire_dir: str, registry,
                      db: str, tbl: str,
                      include_action: bool = False,
                      stream: str | None = None) -> DataFrame:
    """STREAMING registry-typed attach — the streaming twin of
    `binlog_wire.decode_wire_with_registry` (binlog_row_metadata=MINIMAL,
    the MySQL default): tail a relay directory and type every row event
    of ``(db, tbl)`` by the schema version at its own (file, pos),
    materialized under the registry's LATEST schema. Both paths share
    ONE decode plan (`_registry_decode_plan`), so batch and stream
    produce bit-identical rows from the same files.

    The version timeline is fixed at ATTACH time (a broadcast plan, like
    the reference's meta snapshot): DDL landing after the attach
    requires re-attaching with the updated registry — pair with
    `meta.replay_wire_ddl` over the landed chain, which is how the
    reference's extractor restarts on schema change."""
    from polardbx_cdc_spark.binlog_wire import _registry_decode_plan

    # tolerant decode, like wire_stream: a tailed relay file can land
    # torn — stop at the tear, never kill the streaming query
    decode_files, out_schema = _registry_decode_plan(
        registry, db, tbl, include_action, tolerate_truncation=True
    )
    return _wire_files_stream(spark, wire_dir, stream).mapInPandas(
        decode_files, out_schema)
