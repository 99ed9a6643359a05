"""Streaming pipelines: watermark-gated merge, stateful transaction
assembly, and the epoch-ordered binlog-style sink.

Reference mapping:
- global merge + heartbeat gate (LogEventMerger.java:54-391,
  HeartBeatWindow.java:30-102) → watermark + per-epoch sort in foreachBatch.
- transaction assembly with completeness + leak TTL
  (TransactionBufferEventFilter.java:75-188, XaTransaction.java:30-123,
  TransactionMemoryLeakDectorManager) → applyInPandasWithState with a
  processing-time timeout.
- binlog file writer with rotation + recovery-by-last-TSO
  (LogFileGenerator.java:121,339,510-545,624-804) → foreachBatch writing
  ordered parquet partitioned by file_seq; recovery = max TSO already in
  the sink (seekLastTso), dedup on replay = idempotent micro-batch.

Scale notes: per-epoch sort touches only the watermark-closed slice (small
by construction); state is keyed by txn_id and bounded by the TTL; the sink
write is a partitioned append — no global single-writer bottleneck except
the intentional per-stream ordering (the reference's Final/Dumper stage is
single-threaded too, LogEventMerger.java:107).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_last_image(cdc_stream: DataFrame, epoch: str = "1 hour") -> DataFrame:
    """Watermark-gated last-image merge per (epoch, db, tbl, pk): the
    streaming twin of apply.last_image. In append mode, a group emits only
    after the watermark passes its epoch end — the reference's
    heartbeat-complete gate (HeartBeatWindow.java:30-71)."""
    return (
        cdc_stream.groupBy(F.window("ts", epoch).alias("epoch"), "db", "tbl", "pk")
        .agg(
            F.max("tso").alias("last_tso"),
            F.max_by("action", F.col("tso")).alias("last_action"),
            F.max_by("value", F.col("tso")).alias("value"),
            F.count(F.lit(1)).alias("n_changes"),
        )
        .select(F.col("epoch.start").alias("epoch_start"), "db", "tbl", "pk", "last_tso", "last_action", "value", "n_changes")
    )


_TXN_OUT_SCHEMA = (
    "txn_id long, start_tso string, commit_tso string, txn_size long, complete boolean"
)
_TXN_STATE_SCHEMA = "cnt long, min_seq long, max_seq long, min_tso string, max_tso string"


def assemble_transactions_stateful(cdc_stream: DataFrame, ttl_ms: int = 30_000) -> DataFrame:
    """Stateful streaming transaction assembly (TxnBuffer + MergeBarrier
    semantics). Emits a token when the txn's seq range is contiguous from 0
    (allParties-complete analogue); incomplete transactions are flushed as
    ``complete=false`` when the TTL expires — the reference polices exactly
    this leak class (TransactionMemoryLeakDectorManager)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (txn_id,) = key
        if state.hasTimedOut:
            cnt, mns, mxs, mnt, mxt = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "txn_id": txn_id,
                        "start_tso": mnt,
                        "commit_tso": mxt,
                        "txn_size": cnt,
                        "complete": False,
                    }
                ]
            )
            return
        cnt, mns, mxs, mnt, mxt = (0, None, None, None, None)
        if state.exists:
            cnt, mns, mxs, mnt, mxt = state.get
        for pdf in pdfs:
            cnt += len(pdf)
            mns = int(pdf["seq"].min()) if mns is None else min(mns, int(pdf["seq"].min()))
            mxs = int(pdf["seq"].max()) if mxs is None else max(mxs, int(pdf["seq"].max()))
            bmin, bmax = pdf["tso"].min(), pdf["tso"].max()
            mnt = bmin if mnt is None else min(mnt, bmin)
            mxt = bmax if mxt is None else max(mxt, bmax)
        if mns == 0 and (mxs - mns + 1) == cnt:
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "txn_id": txn_id,
                        "start_tso": mnt,
                        "commit_tso": mxt,
                        "txn_size": cnt,
                        "complete": True,
                    }
                ]
            )
        else:
            state.update((cnt, mns, mxs, mnt, mxt))
            state.setTimeoutDuration(ttl_ms)

    return cdc_stream.select("txn_id", "seq", "tso").groupBy("txn_id").applyInPandasWithState(
        fn,
        _TXN_OUT_SCHEMA,
        _TXN_STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


_HB_OUT_SCHEMA = (
    "epoch_start timestamp, sources_seen long, n_events long, "
    "complete boolean, force_completed boolean"
)
_HB_STATE_SCHEMA = "sources string, n long"


def heartbeat_gate_stateful(
    cdc_stream: DataFrame,
    n_sources: int,
    epoch: str = "hour",
    force_timeout_ms: int = 30_000,
) -> DataFrame:
    """Heartbeat-window gate WITH stalled-source force-complete.

    Reference: a window emits when every source has reached it
    (HeartBeatWindow.java:30-71); if a source goes silent — typically after
    a topology scale-in — the merger force-completes the window after a
    threshold instead of stalling forever
    (LogEventMerger.tryForceComplete:238-273). Spark's global watermark has
    the same stall (min over sources), so the gate is a stateful operator:
    keyed by epoch, emits ``complete=true`` the moment all ``n_sources``
    have contributed, or ``force_completed=true`` when the processing-time
    timeout fires first — the per-source idle-timeout override Spark
    doesn't give you natively.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (epoch_start,) = key
        if state.hasTimedOut:
            sources_csv, n = state.get
            state.remove()
            yield pd.DataFrame(
                [{
                    "epoch_start": epoch_start,
                    "sources_seen": len(sources_csv.split(",")) if sources_csv else 0,
                    "n_events": n,
                    "complete": False,
                    "force_completed": True,
                }]
            )
            return
        seen: set[str] = set()
        n = 0
        if state.exists:
            sources_csv, n = state.get
            seen = set(sources_csv.split(",")) if sources_csv else set()
        for pdf in pdfs:
            n += len(pdf)
            seen.update(pdf["source_id"].unique().tolist())
        if len(seen) >= n_sources:
            state.remove()
            yield pd.DataFrame(
                [{
                    "epoch_start": epoch_start,
                    "sources_seen": len(seen),
                    "n_events": n,
                    "complete": True,
                    "force_completed": False,
                }]
            )
        else:
            state.update((",".join(sorted(seen)), n))
            state.setTimeoutDuration(force_timeout_ms)

    keyed = cdc_stream.select(
        F.date_trunc(epoch, F.col("ts")).alias("epoch_start"), "source_id"
    )
    return keyed.groupBy("epoch_start").applyInPandasWithState(
        fn,
        _HB_OUT_SCHEMA,
        _HB_STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


class BinlogSink:
    """Epoch-ordered parquet sink with file rotation — the global binlog
    writer (LogFileGenerator) re-expressed.

    Each micro-batch: sort by TSO, assign a monotonically increasing global
    offset, rotate ``file_seq`` every ``rotate_rows`` rows, append parquet
    partitioned by file_seq. Recovery: on restart the writer resumes from
    the sink's max offset/TSO (seekLastTso — LogFileGenerator.java:545);
    batches already written are skipped (idempotent by batch_id).

    ``frame_txns`` wraps each transaction in BEGIN/COMMIT envelope rows
    (LogFileGenerator.writeBegin:624 / writeCommit:713) with the
    whole-txn-contiguous layout. A transaction may span micro-batches, so
    the sink CARRIES open transactions across batches: a txn is closed —
    framed and written — only once the batch's max event time has moved
    ``txn_gap_seconds`` past the txn's last event (the watermark gate, same
    policy as ``assemble_transactions_stateful``'s TTL); call ``flush()``
    after the stream ends to emit the tail. Replays dedup at transaction
    granularity (commit TSO ≤ last durable commit), never splitting a txn's
    envelope across restarts.

    ``strict`` halts on PROVABLE disorder: a row (or framed txn) at or
    below the durable high-water mark that is absent from the sink — a
    legitimate recovery replay (row present) never trips it.
    """

    def __init__(
        self,
        out_dir: str,
        rotate_rows: int = 10_000,
        frame_txns: bool = False,
        strict: bool = False,
        txn_gap_seconds: int = 60,
        wire_dir: str | None = None,
        wire_flags: dict | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.rotate_rows = rotate_rows
        self.frame_txns = frame_txns  # BEGIN/COMMIT envelope rows
        self.strict = strict  # provable disorder = hard error (reference behavior)
        self.txn_gap_seconds = txn_gap_seconds
        #: when set, every batch also renders REAL binlog wire files into
        #: this directory (incremental — only the grown tail re-renders),
        #: so a wire consumer can tail the stream continuously, the
        #: reference dumper's native output mode. ``wire_flags`` pass
        #: through to export_wire_files (emit_gtid / compress_txns /
        #: row_metadata_full / trace_markers).
        self.wire_dir = wire_dir
        self.wire_flags = dict(wire_flags or {})
        self._offset = 0
        self._last_tso = ""  # non-frame mode: per-event high-water mark
        self._last_commit_tso = ""  # frame mode: per-txn high-water mark
        self._pending: DataFrame | None = None  # frame mode: open txns' events
        self._seen_batches: set[int] = set()
        self.disorder_errors: list[str] = []

    def _export_wire(self, spark) -> None:
        if self.wire_dir is not None:
            from polardbx_cdc_spark.binlog_wire import export_wire_files

            # the file census: offsets are dense and file_seq = offset div
            # rotate_rows, so _offset alone gives every file's row count —
            # the export reads only the files it re-renders
            export_wire_files(spark, self.out_dir, self.wire_dir,
                              incremental=True,
                              _census=(self._offset, self.rotate_rows,
                                       self.frame_txns),
                              **self.wire_flags)

    def recover(self, spark) -> None:
        """seekLastTso: resume offset/tso from what is already durable."""
        if os.path.isdir(self.out_dir) and any(
            f.endswith(".parquet") or f.startswith("file_seq=") for f in os.listdir(self.out_dir)
        ):
            existing = spark.read.parquet(self.out_dir)
            aggs = [F.count(F.lit(1)).alias("n"), F.max("tso").alias("mx"),
                    F.max("file_seq").alias("mx_seq")]
            if "txn_commit_tso" in existing.columns:
                aggs.append(F.max("txn_commit_tso").alias("mx_commit"))
            row = existing.agg(*aggs).collect()[0]
            n = row["n"]
            if n and row["mx_seq"] != (n - 1) // self.rotate_rows:
                # the wire census derives every file's row count from n
                # alone — refuse a sink it would mis-count
                raise RuntimeError(
                    f"{self.out_dir}: {n} rows end in file_seq "
                    f"{row['mx_seq']}, not {(n - 1) // self.rotate_rows}: "
                    f"offsets are not dense or the sink was written with "
                    f"another rotate_rows (now {self.rotate_rows})"
                )
            self._offset = n
            self._last_tso = row["mx"] or ""
            if "txn_commit_tso" in existing.columns:
                self._last_commit_tso = row["mx_commit"] or ""

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._seen_batches:
            return
        self._seen_batches.add(batch_id)
        # one materialization: the framed path takes several actions on
        # the batch (horizon, disorder check, write, open-txn carry), a
        # replay batch adds the durable anti-join after the write, and
        # the upstream plan may carry an observe() CollectMetrics node —
        # without the cache those metrics would double-count on every
        # re-execution (r9: skipping the persist saved 0.35s/batch but
        # broke exact per-batch counters)
        batch_df.persist()
        try:
            if self.frame_txns:
                self._write_batch_framed(batch_df, batch_id, close_all=False)
            else:
                self._write_batch(batch_df, batch_id)
            self._export_wire(batch_df.sparkSession)
        finally:
            batch_df.unpersist()

    def flush(self) -> None:
        """Frame mode: close and emit every still-open transaction (end of
        stream / graceful shutdown — the reference's rotate-on-close)."""
        if self._pending is not None:
            pending, self._pending = self._pending, None
            try:
                self._write_batch_framed(pending, batch_id=-1, close_all=True)
                self._export_wire(pending.sparkSession)
            finally:
                pending.unpersist()

    # -- disorder -----------------------------------------------------------

    def _check_disorder(self, suspects: DataFrame, key: str, low_mark: str,
                        batch_id: int) -> DataFrame:
        """Rows/txns at or below the durable high-water mark are either a
        recovery replay (present in the sink — fine, dedup below) or real
        disorder (absent — corruption). The anti-join against the durable
        slice is pruned by the parquet ``key`` min/max to the suspect range,
        so it costs nothing when there is no replay at all. (The non-framed
        path never comes through here: _emit observes the suspect count
        AND min on its write and _write_batch calls _probe_durable.)"""
        suspects = suspects.persist()
        try:
            row = suspects.agg(
                F.count(F.lit(1)).alias("n"), F.min(key).alias("mn")
            ).collect()[0]
            if row["n"] == 0:
                return suspects
            return self._probe_durable(suspects, key, low_mark, batch_id,
                                       min_key=row["mn"])
        finally:
            suspects.unpersist()

    def _probe_durable(self, suspects: DataFrame, key: str, low_mark: str,
                       batch_id: int, min_key=None) -> DataFrame:
        if min_key is None:
            min_key = suspects.agg(F.min(key)).collect()[0][0]
        durable = (
            suspects.sparkSession.read.parquet(self.out_dir)
            .select(key)
            .filter(F.col(key) >= min_key)
        )
        provable = suspects.join(durable, key, "left_anti").limit(1).collect()
        if provable:
            msg = (
                f"batch {batch_id}: {key} {provable[0][key]} below durable "
                f"high-water {low_mark} and absent from sink"
            )
            self.disorder_errors.append(msg)
            if self.strict:
                # the reference treats TSO regression as stream
                # corruption and halts (LogEventMerger.java:136-141)
                raise RuntimeError(f"TSO disorder: {msg}")
        return suspects

    # -- non-framed path ----------------------------------------------------

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # seekLastTso recovery semantics (LogFileGenerator.java:510-545):
        # anything at or below the last durable TSO was already written —
        # a replay after checkpoint loss resumes, never duplicates. _emit
        # drops those rows and counts them in its write's observation, so
        # a steady batch pays no extra job for the disorder probe; the
        # durable anti-join runs only when it reports suspects, after the
        # live rows and the marks are durable.
        low = self._last_tso
        flagged = batch_df.withColumn(
            "_suspect", (F.col("tso") <= F.lit(low)) if low else F.lit(False)
        )
        n, mx, n_sus, mn_sus = self._emit(flagged, ["tso"], _spread_parts(flagged))
        if n:
            self._last_tso = max(low, mx)
        if n_sus:
            self._probe_durable(
                flagged.filter(F.col("_suspect")).select("tso"),
                "tso", low, batch_id, min_key=mn_sus,
            )

    # -- framed (whole-transaction) path ------------------------------------

    def _write_batch_framed(self, batch_df: DataFrame, batch_id: int, close_all: bool) -> None:
        from polardbx_cdc_spark.operators.merge import frame_transactions

        spark = batch_df.sparkSession
        combined = (
            self._pending.unionByName(batch_df) if self._pending is not None and not close_all
            else batch_df
        )
        # replay after checkpoint loss can re-deliver events already pending
        combined = combined.dropDuplicates(["tso"])
        bounds = combined.groupBy("txn_id").agg(
            F.max("ts").alias("_txn_max_ts"), F.max("tso").alias("_txn_commit")
        )
        if close_all:
            closed_ids = bounds
        else:
            horizon = combined.agg(
                F.max("ts") - F.expr(f"INTERVAL {int(self.txn_gap_seconds)} SECONDS")
            ).collect()[0][0]
            closed_ids = bounds.filter(F.col("_txn_max_ts") <= F.lit(horizon))
        # txn-granular replay dedup: a txn whose commit TSO is at or below
        # the durable mark was already written WHOLE (envelope included).
        # Keep the pre-filter set for the open-carry anti-join below —
        # already-durable replays must NOT be re-added to _pending either,
        # or repeated replays grow the carry without bound.
        settled_ids = closed_ids
        if self._last_commit_tso:
            self._check_disorder(
                closed_ids.filter(F.col("_txn_commit") <= self._last_commit_tso)
                .select(F.col("_txn_commit").alias("txn_commit_tso")),
                "txn_commit_tso", self._last_commit_tso, batch_id,
            )
            closed_ids = closed_ids.filter(F.col("_txn_commit") > self._last_commit_tso)
        closed = combined.join(
            F.broadcast(closed_ids.select("txn_id")), "txn_id", "left_semi"
        )
        framed = frame_transactions(closed)
        # whole transactions in commit order (Sorter.java semantics),
        # sized by the framing's input: the framing's joins triple
        # Catalyst's estimate (10k events: 10.2 MB framed, 3.1 MB input)
        n, mx_commit, _, _ = self._emit(
            framed, ["txn_commit_tso", "frame_rank", "tso"],
            _spread_parts(combined), max_col="txn_commit_tso",
        )
        if n:
            self._last_commit_tso = max(self._last_commit_tso, mx_commit)
        # carry the open remainder (localCheckpoint cuts lineage to this
        # batch so the carried frame survives the batch_df unpersist)
        old = self._pending
        if close_all:
            self._pending = None
        else:
            open_events = combined.join(
                F.broadcast(settled_ids.select("txn_id")), "txn_id", "left_anti"
            )
            self._pending = open_events.localCheckpoint(eager=True)
        if old is not None and not close_all:
            old.unpersist()

    # -- shared dense-offset writer -----------------------------------------

    def _emit(
        self, df: DataFrame, sort_keys: list[str], parts: int, max_col: str = "tso"
    ) -> tuple[int, str, int, str | None]:
        """Append ``df``'s rows with dense global offsets in one ordered
        pass, like the reference's single writer (LogFileGenerator numbers
        events in TSO order as it writes them): exchange, sort by
        ``sort_keys``, offset = part base + the row's index, write. Rows
        flagged ``_suspect`` are counted and dropped. Returns (rows
        written, their max ``max_col``, suspects, their min ``max_col``),
        observed on the write; ``_offset`` has advanced. A small batch is
        one part: three Spark jobs (cache fill, exchange map stage,
        one-task sort + write). A large one is range-partitioned into
        ``parts`` (``_spread_parts``) cached parts whose live rows are
        counted first, so each part's base follows its predecessors'."""
        suspect = F.col("_suspect") if "_suspect" in df.columns else F.lit(False)
        spread = df.repartition(1) if parts == 1 else (
            df.repartitionByRange(parts, *sort_keys).persist())
        try:
            live = {} if parts == 1 else dict(
                spread.filter(~suspect).groupBy(F.spark_partition_id()).count().collect())
            bases = [self._offset + sum(live.get(q, 0) for q in range(p)) for p in range(parts)]
            obs = Observation()
            # observed before the suspect filter, so a batch of suspects
            # only still counts them. Adaptive execution prunes the write
            # of an EMPTY input with this node, and Spark's
            # ObservationManager completes the observation with an empty
            # row that ``Observation.get`` cannot convert: read its width.
            ordered = (
                spread.observe(obs, F.count_if(~suspect).alias("cnt"),
                               F.max(F.when(~suspect, F.col(max_col))).alias("mx"),
                               F.count_if(suspect).alias("n_sus"),
                               F.min(F.when(suspect, F.col(max_col))).alias("mn_sus"))
                .filter(~suspect)
                .drop("_suspect")
                .sortWithinPartitions(*sort_keys)
            )
            # index = the low 33 bits of the monotonic id. The bases come
            # from a map keyed by the partition id, never an inlined long
            # literal, which would make codegen compile new classes every
            # batch; the coalesce keeps ``offset`` non-nullable.
            base = F.coalesce(F.create_map(*[F.lit(x) for kv in enumerate(bases) for x in kv])[
                F.spark_partition_id()], F.lit(0))
            index = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
            (
                ordered.withColumn("offset", (base + index).cast("long"))
                .withColumn("file_seq", F.expr(f"offset div {self.rotate_rows}").cast("long"))
                .write.mode("append").partitionBy("file_seq").parquet(self.out_dir)
            )
            totals = obs.get if obs._jo.getRow().length() else {}
        finally:
            if parts > 1:
                spread.unpersist()
        n = totals.get("cnt", 0)
        self._offset += n
        return n, totals.get("mx"), totals.get("n_sus", 0), totals.get("mn_sus")


def _spread_parts(df: DataFrame) -> int:
    """How many ordered parts ``BinlogSink._emit`` writes a batch in: one
    unless the batch's Catalyst size estimate (no job) gives every core
    ``coalescePartitions.minPartitionSize``; else one per core or per
    ``advisoryPartitionSizeInBytes``, whichever is more, at most
    ``spark.sql.shuffle.partitions``. Sink wall per batch on local[4],
    median of 3, one part vs four: 16k rows (perfbench catchup) 0.65 vs
    0.86 s, 100k 1.87 vs 1.32 s, 600k (bench.py's steady drive) 7.99 vs
    4.52 s."""
    spark = df.sparkSession
    conf = spark.conf.get
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    cores = spark.sparkContext.defaultParallelism
    if est < cores * to_bytes(conf("spark.sql.adaptive.coalescePartitions.minPartitionSize")):
        return 1
    by_size = -(-est // to_bytes(conf("spark.sql.adaptive.advisoryPartitionSizeInBytes")))
    return min(int(conf("spark.sql.shuffle.partitions")), max(cores, by_size))


class BinlogXSink:
    """Binlog-X multi-stream final stage: per-stream ordered, rotated
    output (BinlogKWayMerger.java:63-83 + per-stream dumpers writing
    group1_stream_N_binlog.* — docs binlog-commands-intro.md:169).

    Input batches carry ``stream_id``; each stream gets independent dense
    offsets and file rotation, written in one pass partitioned by
    (stream_id, file_seq). Ordering is per-stream (the reference's relaxed
    guarantee), so all streams proceed in parallel — no global sort at all.
    """

    def __init__(self, out_dir: str, rotate_rows: int = 10_000) -> None:
        self.out_dir = out_dir
        self.rotate_rows = rotate_rows
        self._offsets: dict[int, int] = {}
        self._last_tso: dict[int, str] = {}
        self.disorder_errors: list[str] = []

    def recover(self, spark) -> None:
        import os

        if os.path.isdir(self.out_dir) and any(
            f.startswith("stream_id=") for f in os.listdir(self.out_dir)
        ):
            existing = spark.read.parquet(self.out_dir)
            for r in (
                existing.groupBy("stream_id")
                .agg(F.count(F.lit(1)).alias("n"), F.max("tso").alias("mx"))
                .collect()
            ):
                self._offsets[r["stream_id"]] = r["n"]
                self._last_tso[r["stream_id"]] = r["mx"]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # no batch-level cache: the batch plan feeds exactly ONE consumer
        # (the windowed frame below, which is itself persisted for its
        # two actions) — caching it would be a pure extra materialization
        # per-stream seekLastTso dedup
        if self._last_tso:
            spark = batch_df.sparkSession
            wm = spark.createDataFrame(
                [(k, v) for k, v in self._last_tso.items()], "stream_id int, _wm string"
            )
            filtered = (
                batch_df.join(F.broadcast(wm), "stream_id", "left")
                .filter(F.col("_wm").isNull() | (F.col("tso") > F.col("_wm")))
                .drop("_wm")
            )
        else:
            filtered = batch_df
        # per-stream dense offsets: one window partitioned by stream —
        # parallel across streams (each stream is one reducer, the
        # reference's per-stream single-threaded dumper)
        w = Window.partitionBy("stream_id").orderBy("tso")
        if self._offsets:
            base = F.create_map(*[F.lit(x) for kv in self._offsets.items() for x in kv])
            shift = F.coalesce(base[F.col("stream_id")], F.lit(0))
        else:
            shift = F.lit(0)
        # persist the windowed frame itself: both downstream actions
        # (stats collect + write) reuse it, so the per-stream
        # row_number window executes once per batch, not twice
        out = (
            filtered.withColumn(
                "offset",
                (F.row_number().over(w) - 1 + shift).cast("long"),
            )
            .withColumn("file_seq", F.expr(f"offset div {self.rotate_rows}").cast("long"))
            .persist()
        )
        try:
            stats = (
                out.groupBy("stream_id")
                .agg(F.count(F.lit(1)).alias("n"), F.max("tso").alias("mx"))
                .collect()
            )
            if not stats:
                return
            out.write.mode("append").partitionBy("stream_id", "file_seq").parquet(
                self.out_dir
            )
            for r in stats:
                sid = r["stream_id"]
                self._offsets[sid] = self._offsets.get(sid, 0) + r["n"]
                self._last_tso[sid] = max(self._last_tso.get(sid, ""), r["mx"])
        finally:
            out.unpersist()


def run_binlog_x_pipeline(
    cdc_stream: DataFrame,
    routing_cfg,
    out_dir: str,
    checkpoint_dir: str,
    rotate_rows: int = 10_000,
):
    """Binlog-X: route the CDC stream to N output streams, sink each with
    independent per-stream ordering + rotation. Returns (query, sink)."""
    from polardbx_cdc_spark.operators import routing

    routed = routing.assign_stream(cdc_stream, routing_cfg)
    sink = BinlogXSink(out_dir, rotate_rows)
    sink.recover(cdc_stream.sparkSession)
    q = (
        routed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, sink


class ReplicaTableSink:
    """Continuously-maintained replica state table — the MERGE/REPLACE
    applier's end state (MysqlApplier + MergeApplier, §2.11) on a lakehouse
    layout instead of MySQL.

    INCREMENTAL layout (the 100 TB shape): state is hash-bucketed on the
    key — ``bucket = pmod(xxhash64(keys), n_buckets)`` — with each bucket
    stored as an independently-versioned parquet directory plus a tiny
    JSON manifest naming every bucket's live version. A micro-batch:

    1. collapses the batch per PK and collects its touched buckets;
    2. reads CURRENT STATE ONLY FOR THOSE BUCKETS (manifest-pruned);
    3. replays state+batch per key and writes new versions of just the
       touched buckets;
    4. atomically replaces the manifest (``os.replace``) — readers see the
       old or the new consistent view, never a mix.

    Per-batch write I/O is proportional to the size of the TOUCHED
    buckets, not total state — the full-snapshot rewrite the naive
    implementation does is O(state) per batch and a scale-killer. This is
    a minimal hand-rolled form of Delta's ``MERGE INTO`` + transaction
    log; on a Delta/Iceberg deployment use those directly. Size
    ``n_buckets`` so one bucket ≈ a few GB at target scale.

    ORDERING CONTRACT: batches must arrive in TSO order (the upstream merge
    stage's guarantee — LogEventMerger delivers ordered streams). The sink
    does not keep tombstones, so an out-of-order earlier event arriving
    after a DELETE would resurrect the row — same contract as the
    reference's appliers, which also consume the already-merged stream.
    Batch retries are idempotent: re-merging the same events is a no-op
    under last-image semantics.
    """

    def __init__(
        self,
        table_dir: str,
        keys: tuple[str, ...] = ("db", "tbl", "pk"),
        n_buckets: int | None = None,
        keep_history: bool = False,
    ) -> None:
        self.table_dir = table_dir
        self.keys = keys
        os.makedirs(table_dir, exist_ok=True)
        # same layout contract as AggViewSink (r12): None = AUTO-size
        # from the first NON-EMPTY batch via size_state_buckets; the
        # persisted LAYOUT file is physical truth on re-attach. A dir
        # holding committed state but NO LAYOUT predates layout files —
        # it was written under the old constant and MUST keep it, or
        # every stored row would hash to the wrong bucket on re-attach.
        # layout precedence (r13): the MANIFEST's reserved __n_buckets__
        # entry is authoritative — it commits ATOMICALLY with the bucket
        # pointers, so a crash mid-migration can never leave the count
        # and the layout disagreeing. The standalone LAYOUT file remains
        # as a best-effort mirror (r12 dirs have only it) and the bare
        # legacy constant covers pre-LAYOUT dirs.
        layout_path = os.path.join(table_dir, "LAYOUT")
        manifest = self._load_manifest()
        in_manifest = manifest.get(_N_BUCKETS_KEY)
        persisted = _read_layout_file(layout_path)
        if in_manifest is not None:
            self.n_buckets: int | None = in_manifest
        elif persisted is not None:
            self.n_buckets = persisted
        elif self._bucket_items(manifest):
            self.n_buckets = _LEGACY_N_BUCKETS
            _write_layout_file(layout_path, _LEGACY_N_BUCKETS)
        else:
            self.n_buckets = n_buckets
            if n_buckets is not None:
                _write_layout_file(layout_path, n_buckets)
        #: cumulative batch-row upper bound on state size — the cheap
        #: re-bucket trigger (exact sizing happens at migration time,
        #: when the full state is read anyway)
        self.rows_seen: int = manifest.get(_ROWS_SEEN_KEY, 0)
        self.last_migration: tuple[int, int] | None = None  # (old_n, new_n)
        #: sizing band knobs — instance-level so tests (and unusual
        #: deployments) can scale the trigger without repatching the
        #: module constants
        self.rebucket_cap = _REBUCKET_ROWS_PER_BUCKET_CAP
        self.bucket_floor = 50_000
        #: with keep_history, superseded bucket versions are NOT GC'd on
        #: write; every batch appends its manifest to MANIFEST.log.jsonl,
        #: enabling ``as_of`` time travel until ``vacuum`` reclaims —
        #: Delta/Iceberg snapshot semantics on the hand-rolled layout
        #: (the CDC-side answer to the flashback/recovery tier: point-in-
        #: time reads of the REPLICA, not just reverse SQL of the stream).
        self.keep_history = keep_history
        self.last_rewritten_buckets: list[int] = []  # observability for tests

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.table_dir, "MANIFEST.json")

    def _load_manifest(self) -> dict[str, int]:
        import json

        try:
            with open(self._manifest_path()) as fh:
                return {k: int(v) for k, v in json.load(fh).items()}
        except FileNotFoundError:
            return {}

    @staticmethod
    def _bucket_items(manifest: dict[str, int]) -> list[tuple[str, int]]:
        """(bucket, version) entries only — reserved __*__ keys carry
        layout metadata, not bucket pointers."""
        return [(k, v) for k, v in manifest.items()
                if k not in _RESERVED_MANIFEST_KEYS]

    def _store_manifest(self, manifest: dict[str, int]) -> None:
        import json

        # the layout metadata commits WITH the pointers (atomicity is
        # the whole point of riding in the manifest)
        if self.n_buckets is not None:
            manifest[_N_BUCKETS_KEY] = self.n_buckets
        manifest[_ROWS_SEEN_KEY] = self.rows_seen
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._manifest_path())  # atomic view switch

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self.table_dir, f"b{bucket}", f"v{version}")

    def _log_path(self) -> str:
        return os.path.join(self.table_dir, "MANIFEST.log.jsonl")

    def _append_snapshot(self, manifest: dict[str, int]) -> None:
        import json

        with open(self._log_path(), "a") as fh:
            fh.write(json.dumps(manifest) + "\n")

    def snapshots(self) -> list[dict[str, int]]:
        """Committed manifest history, oldest first (keep_history mode)."""
        import json

        try:
            with open(self._log_path()) as fh:
                return [
                    {k: int(v) for k, v in json.loads(line).items()}
                    for line in fh
                    if line.strip()
                ]
        except FileNotFoundError:
            return []

    def as_of(self, spark, snapshot: int) -> DataFrame | None:
        """Time-travel read: the consistent state after commit #snapshot
        (0-based; negative indexes from the end). Valid until ``vacuum``
        drops the versions that snapshot references."""
        snaps = self.snapshots()
        if not snaps:
            return None
        buckets = self._bucket_items(snaps[snapshot])
        if not buckets:
            # empty snapshot: borrow the schema from the live state; if the
            # live manifest is also empty there is no schema to borrow —
            # same "nothing to read" contract as an empty history
            live = self.current(spark)
            if live is None:
                return None
            return spark.createDataFrame([], live.schema)
        paths = [self._bucket_dir(int(b), v) for b, v in buckets]
        return spark.read.parquet(*paths)

    def vacuum(self, retain_last: int = 1) -> int:
        """Reclaim bucket versions unreferenced by the last ``retain_last``
        snapshots (+ the live manifest). Returns directories removed.
        Time travel older than the retained window stops working — the
        same contract as Delta's VACUUM."""
        import shutil

        snaps = self.snapshots()
        keep = snaps[-retain_last:] if retain_last > 0 else []
        keep.append(self._load_manifest())
        referenced = {
            (str(b), v) for m in keep for b, v in self._bucket_items(m)
        }
        removed = 0
        import glob as _glob

        for vdir in _glob.glob(os.path.join(self.table_dir, "b*", "v*")):
            parts = vdir.split(os.sep)
            b, v = parts[-2][1:], int(parts[-1][1:])
            if (b, v) not in referenced:
                shutil.rmtree(vdir, ignore_errors=True)
                removed += 1
        if snaps and retain_last > 0:
            import json

            with open(self._log_path(), "w") as fh:
                for m in snaps[-retain_last:]:
                    fh.write(json.dumps(m) + "\n")
        return removed

    def current(self, spark) -> DataFrame | None:
        buckets = self._bucket_items(self._load_manifest())
        if not buckets:
            return None
        paths = [self._bucket_dir(int(b), v) for b, v in buckets]
        return spark.read.parquet(*paths)

    # -- merge --------------------------------------------------------------

    def _bucket_col(self):
        return F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        from polardbx_cdc_spark.operators import apply as apply_ops

        spark = batch_df.sparkSession
        batch = batch_df.select(*self.keys, "tso", "action", "value").persist()
        rows = batch.count()  # one job on the persisted batch: feeds the
        # AUTO first-layout sizing AND the re-bucket trigger below
        if rows == 0:
            batch.unpersist()
            return  # empty batch is a state no-op: never lets a
            # zero-row batch lock the layout at 1 bucket forever
        par = spark.sparkContext.defaultParallelism
        if self.n_buckets is None:  # AUTO: size from the first batch
            self.n_buckets = size_state_buckets(
                rows, par, rows_per_bucket_floor=self.bucket_floor,
                rows_per_bucket_cap=self.rebucket_cap)
            _write_layout_file(
                os.path.join(self.table_dir, "LAYOUT"), self.n_buckets)
        self.rows_seen += rows
        try:
            manifest = self._load_manifest()
            # RE-BUCKET MIGRATION (r13, verdict ask #5): a LAYOUT sized
            # from a small bootstrap batch is otherwise frozen while the
            # workload grows 100× past it — rows-per-bucket breaching the
            # executor-fit cap must trigger a rewrite to a wider layout.
            # Trigger is the CHEAP upper bound (this batch's rows, or the
            # cumulative batch-row count standing in for state size);
            # sizing at migration time is EXACT — the full state is read
            # anyway, so one count job prices the new layout from truth.
            # The new bucket count commits atomically WITH the rewritten
            # pointers (reserved manifest key), so a crash mid-migration
            # leaves the old layout fully intact. Reference:
            # RelayLogEventTransmitter stream re-sizing +
            # StoreEngineManager rollover.
            migrating = False
            if (rows > self.n_buckets * self.rebucket_cap
                    or self.rows_seen > self.n_buckets * self.rebucket_cap):
                all_paths = [
                    self._bucket_dir(int(b), v)
                    for b, v in self._bucket_items(manifest)
                ]
                state_rows = (
                    spark.read.parquet(*all_paths).count() if all_paths
                    else 0
                )
                # exact knowledge: pin rows_seen to truth either way so
                # an overcounting trigger (updates/deletes) stops firing
                self.rows_seen = state_rows + rows
                # migrate ONLY on a genuine cap breach — the cheap bound
                # overfires on update-heavy streams, and a band-motivated
                # resize (more rows, still under cap) is not worth a
                # full-state rewrite
                if state_rows + rows <= self.n_buckets * self.rebucket_cap:
                    new_n = self.n_buckets
                else:
                    new_n = size_state_buckets(
                        state_rows + rows, par,
                        rows_per_bucket_floor=self.bucket_floor,
                        rows_per_bucket_cap=self.rebucket_cap)
                if new_n > self.n_buckets:
                    self.last_migration = (self.n_buckets, new_n)
                    self.n_buckets = new_n
                    migrating = True
                    _write_layout_file(
                        os.path.join(self.table_dir, "LAYOUT"), new_n)
            if migrating:
                touched = None  # every bucket of the new layout is new
                state_paths = [
                    self._bucket_dir(int(b), v)
                    for b, v in self._bucket_items(manifest)
                ]
            else:
                touched = sorted(
                    r["_b"]
                    for r in batch.select(
                        self._bucket_col().alias("_b")).distinct().collect()
                )
                if not touched:
                    return
                state_paths = [
                    self._bucket_dir(b, manifest[str(b)])
                    for b in touched if str(b) in manifest
                ]
            if state_paths:
                cur = spark.read.parquet(*state_paths)
                as_events = cur.select(
                    *self.keys,
                    F.col("last_tso").alias("tso"),
                    F.lit("INSERT").alias("action"),
                    F.col("value"),
                )
                merged_src = as_events.unionByName(batch)
            else:
                merged_src = batch
            # adaptive=True: the batch is persisted and the state side is
            # parquet — the skew gate's probe re-scan is cheap here, and
            # a zipf-hot batch gets the salted collapse (the gate's
            # designed home: materialized applier inputs)
            new_state = apply_ops.replay_to_state(
                merged_src, self.keys, adaptive=True
            ).select(*self.keys, "last_tso", "value")
            staged = os.path.join(self.table_dir, f"staging_b{batch_id}")
            new_state.withColumn("_bucket", self._bucket_col()).write.mode(
                "overwrite"
            ).partitionBy("_bucket").parquet(staged)
            old_dirs: list[str] = []
            if touched is None:
                # migration commit: EVERY old bucket is superseded; the
                # new manifest is rebuilt from the staged layout, with
                # versions bumped past any same-id predecessor so no
                # directory collides
                old_dirs = [
                    self._bucket_dir(int(b), v)
                    for b, v in self._bucket_items(manifest)
                ]
                new_manifest: dict[str, int] = {}
                for entry in sorted(os.listdir(staged)):
                    if not entry.startswith("_bucket="):
                        continue
                    b = int(entry.split("=", 1)[1])
                    ver = manifest.get(str(b), 0) + 1
                    target = self._bucket_dir(b, ver)
                    os.makedirs(os.path.dirname(target), exist_ok=True)
                    os.rename(os.path.join(staged, entry), target)
                    new_manifest[str(b)] = ver
                manifest = new_manifest
                touched = sorted(int(k) for k in new_manifest)
            else:
                for b in touched:
                    part_dir = os.path.join(staged, f"_bucket={b}")
                    ver = manifest.get(str(b), 0) + 1
                    if os.path.isdir(part_dir):
                        target = self._bucket_dir(b, ver)
                        os.makedirs(os.path.dirname(target), exist_ok=True)
                        os.rename(part_dir, target)
                        if str(b) in manifest:
                            old_dirs.append(
                                self._bucket_dir(b, manifest[str(b)]))
                        manifest[str(b)] = ver
                    elif str(b) in manifest:
                        # every row of the bucket was deleted
                        old_dirs.append(
                            self._bucket_dir(b, manifest.pop(str(b))))
            self._store_manifest(manifest)
            if self.keep_history:
                self._append_snapshot(manifest)
            self.last_rewritten_buckets = touched
            if not self.keep_history:
                for d in old_dirs:  # GC superseded versions after the swap
                    shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(staged, ignore_errors=True)
        finally:
            batch.unpersist()


def run_replica_pipeline(
    cdc_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("db", "tbl", "pk"),
    max_files_per_trigger: int | None = None,
    n_buckets: int | None = None,
):
    """Replica/data-import pipeline (SURVEY §3.3): stream → continuously
    maintained state table. Returns (query, sink). ``n_buckets`` None =
    AUTO via ``size_state_buckets`` (persisted in the table dir's
    LAYOUT file, like the view sinks)."""
    sink = ReplicaTableSink(table_dir, keys, n_buckets=n_buckets)
    writer = cdc_stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if max_files_per_trigger is not None:
        writer = writer.option("maxFilesPerTrigger", str(max_files_per_trigger))
    q = writer.trigger(availableNow=True).start()
    return q, sink


def with_stream_metrics(cdc_stream: DataFrame, name: str = "cdc_metrics") -> DataFrame:
    """Per-batch counters + delay gauge via the observe() API — the
    reference's stage metrics (MergeMetrics; delay computed at
    LogEventMerger.java:347-350, EPS counters in dumper StreamMetrics).
    Values surface in every StreamingQueryProgress under
    ``observedMetrics[name]`` with zero extra passes over the data."""
    return cdc_stream.observe(
        name,
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("max_event_time"),
        F.approx_count_distinct("txn_id").alias("approx_txns"),
    )


def run_binlog_pipeline(
    cdc_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    rotate_rows: int = 10_000,
    max_files_per_trigger: int | None = None,
    frame_txns: bool = False,
    strict: bool = False,
    txn_gap_seconds: int = 60,
    wire_dir: str | None = None,
    wire_flags: dict | None = None,
):
    """The flagship streaming query: CDC stream → epoch-ordered rotated
    binlog sink, Trigger.AvailableNow (bounded replay in tests; remove the
    trigger for continuous mode). Returns (query, sink).

    With ``frame_txns``, call ``sink.flush()`` after the query terminates to
    emit transactions still open at end-of-stream.

    With ``wire_dir``, every micro-batch ALSO renders real binlog wire
    files incrementally into that directory (only the grown tail
    re-renders) — a wire consumer can tail them live.

    Rate limiting (FlowLimiter/TPSLimiter — §2.11): ``max_files_per_trigger``
    bounds per-batch intake; on a Kafka source the same knob is
    ``maxOffsetsPerTrigger``. Backpressure beyond that is the engine's job.
    """
    sink = BinlogSink(
        out_dir, rotate_rows, frame_txns=frame_txns, strict=strict,
        txn_gap_seconds=txn_gap_seconds, wire_dir=wire_dir,
        wire_flags=wire_flags,
    )
    sink.recover(cdc_stream.sparkSession)
    observed = with_stream_metrics(cdc_stream)
    writer = observed.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if max_files_per_trigger is not None:
        writer = writer.option("maxFilesPerTrigger", str(max_files_per_trigger))
    q = writer.trigger(availableNow=True).start()
    return q, sink


def write_meta_ddl(spark, ddl_events: DataFrame, out_dir: str) -> int:
    """Emit captured physical DDL to the sink's meta-DDL stream in
    LOGICAL form — LogFileGenerator.writeMetaDdl:411 parity: the reference
    rewrites physical shard DDL through DDLConverter/QueryEventReformator
    before writing it to the global binlog, so a vanilla-MySQL downstream
    can replay it (a raw physical ``CREATE TABLE t0_vx2b_00001 ...
    DBPARTITION BY ...`` would recreate the sharding, not the table).

    ``ddl_events``: (tso, db, ddl). Each row is written once, ordered by
    tso, as action='QUERY' with both the logical text (what downstream
    replays) and the original physical text (recoverable from the
    # POLARX_ORIGIN_SQL marker inside the logical text too). Append-only
    and idempotent per tso: rows at or below the durable meta high-water
    mark are skipped, mirroring BinlogSink.recover.
    """
    from polardbx_cdc_spark.ddl import logical_ddl_col

    meta_dir = os.path.join(out_dir, "meta_ddl")
    last = ""
    if os.path.isdir(meta_dir) and os.listdir(meta_dir):
        last = spark.read.parquet(meta_dir).agg(F.max("tso")).collect()[0][0] or ""
    fresh = ddl_events.filter(F.col("tso") > F.lit(last)) if last else ddl_events
    out = fresh.select(
        "tso",
        "db",
        F.lit("QUERY").alias("action"),
        logical_ddl_col(F.col("ddl"), F.col("tso")).alias("logical_ddl"),
        F.col("ddl").alias("physical_ddl"),
    )
    n = out.count()
    if n:
        # DDL is a serial stream barrier (metadata-scale): a plain ordered
        # append, no rotation machinery needed
        out.orderBy("tso").write.mode("append").parquet(meta_dir)
    return n


def compact_binlog(spark, out_dir: str, max_files_per_seq: int = 1) -> dict:
    """Small-file compaction for a BinlogSink directory — the maintenance
    job a 100 TB deployment schedules off-peak. Every micro-batch appends
    part-files into its ``file_seq=N`` partitions; over days a partition
    accumulates hundreds of tiny parquet files, and at scale the NameNode/
    object-store listing plus per-file open cost dominates reads
    (the reference rotates whole binlog files so never fragments; the
    micro-batch sink trades that for parallel ingest and compacts here).

    Per fragmented partition: read → sort by ``offset`` → rewrite as
    ``max_files_per_seq`` files → staged directory swap (stage + rename,
    old dir kept as ``.pre_compact`` until the swap completes, then
    removed). The swap is two renames, not one atomic op, so startup
    first repairs any crash debris: a ``.pre_compact`` whose live dir is
    missing is restored, a stale one is dropped, and a failed second
    rename rolls the backup straight back. A partition is therefore never
    observable as missing across a crash. Content and order are
    bit-preserved — the read path
    (``read_binlog``, catalog SHOW commands, seekLastTso recovery) sees
    the identical frame. Returns {partitions_compacted, files_before,
    files_after}."""
    import glob as _glob
    import os
    import shutil

    stats = {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
    # Crash recovery from a previous run that died mid-swap: a leftover
    # ``.pre_compact`` backup whose live dir is MISSING means the crash
    # landed between the two renames — restore the backup (the staged dir,
    # if complete, is re-derivable); if the live dir exists the swap
    # finished and the backup is stale — drop it. Either way the loop
    # below starts from a consistent directory.
    for backup in sorted(
        _glob.glob(os.path.join(out_dir, "file_seq=*.pre_compact"))
        + _glob.glob(os.path.join(out_dir, "stream_id=*", "file_seq=*.pre_compact"))
    ):
        live = backup[: -len(".pre_compact")]
        if os.path.exists(live):
            shutil.rmtree(backup)
        else:
            os.rename(backup, live)
    # both layouts: BinlogSink (file_seq=*) and BinlogXSink
    # (stream_id=*/file_seq=*) — per-stream partitions compact
    # independently, so the X maintenance job is the same pass
    for part_dir in sorted(
        _glob.glob(os.path.join(out_dir, "file_seq=*"))
        + _glob.glob(os.path.join(out_dir, "stream_id=*", "file_seq=*"))
    ):
        if part_dir.endswith(".compacting") or part_dir.endswith(".pre_compact"):
            continue
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        stats["files_before"] += len(files)
        if len(files) <= max_files_per_seq:
            stats["files_after"] += len(files)
            continue
        staged = part_dir + ".compacting"
        backup = part_dir + ".pre_compact"
        shutil.rmtree(staged, ignore_errors=True)
        (
            spark.read.parquet(part_dir)
            .orderBy("offset")
            .coalesce(max_files_per_seq)
            .write.mode("overwrite")
            .parquet(staged)
        )
        os.rename(part_dir, backup)
        try:
            os.rename(staged, part_dir)
        except BaseException:
            # restore the original so the partition is never left missing
            os.rename(backup, part_dir)
            raise
        shutil.rmtree(backup)
        stats["partitions_compacted"] += 1
        stats["files_after"] += len(
            [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        )
    return stats


def match_with_acks(
    src: DataFrame,
    ack: DataFrame,
    within: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: source events vs their
    downstream apply acknowledgments — the continuous form of the RPL
    validation/lag surface (the reference computes replica delay and lost
    events from the applier's position feedback,
    polardbx-cdc-monitor metrics + rpl StatisticUnit; here both sides are
    live streams and Spark's join state does the bookkeeping).

    ``src``: the canonical CDC frame (needs ``tso``, ``ts``).
    ``ack``: (tso, ack_ts timestamp) — one row per applied event.

    Semantics: an ack matches its event iff it arrives within ``within``
    of the event time (the SLA window). Events still unmatched once the
    watermark passes their window emit with NULL ack — the LOST/LAGGING
    report, produced incrementally with bounded state: both sides carry
    event-time watermarks, and the time-bound condition lets Spark evict
    join state past ``watermark`` + ``within``. Per-row output:
    tso, db, tbl, pk, ts, ack_ts, lag_ms (NULL = not yet applied/lost).

    State scales with the in-flight window only (events × ``within``),
    never the stream history — the property that makes this run forever
    at 100 TB/day where a batch anti-join would rescan everything."""
    s = src.select("tso", "db", "tbl", "pk", "ts").withWatermark("ts", watermark)
    a = ack.select(
        F.col("tso").alias("ack_tso"), F.col("ack_ts")
    ).withWatermark("ack_ts", watermark)
    cond = (
        (F.col("tso") == F.col("ack_tso"))
        & (F.col("ack_ts") >= F.col("ts"))
        & (F.col("ack_ts") <= F.col("ts") + F.expr(f"INTERVAL {within}"))
    )
    joined = s.join(a, cond, "leftOuter")
    return joined.select(
        "tso",
        "db",
        "tbl",
        "pk",
        "ts",
        "ack_ts",
        (
            (F.unix_micros(F.col("ack_ts")) - F.unix_micros(F.col("ts"))) / F.lit(1000)
        ).cast("long").alias("lag_ms"),
    )


def _read_layout_file(path: str) -> int | None:
    """One shared LAYOUT protocol for every hash-bucketed durable sink
    (the persisted bucket count is physical truth — existing state's
    bucket hash can't change without a rewrite). v2 files carry a
    second whitespace-separated field (cumulative rows_seen, the
    re-bucket trigger) — this reader returns the count either way."""
    try:
        with open(path) as fh:
            return int(fh.read().split()[0])
    except (FileNotFoundError, ValueError, IndexError):
        return None


def _read_layout_file2(path: str) -> tuple[int, int] | None:
    """(n_buckets, rows_seen) from a LAYOUT file; rows_seen defaults to
    0 for v1 single-field files."""
    try:
        with open(path) as fh:
            parts = fh.read().split()
        return int(parts[0]), (int(parts[1]) if len(parts) > 1 else 0)
    except (FileNotFoundError, ValueError, IndexError):
        return None


def _write_layout_file(path: str, n: int, rows_seen: int | None = None) -> None:
    with open(path + ".tmp", "w") as fh:
        fh.write(str(n) if rows_seen is None else f"{n} {rows_seen}")
    os.replace(path + ".tmp", path)


#: the bucket count every hash-bucketed sink used before LAYOUT files
#: existed (r11 and earlier) — a state dir with committed state but no
#: LAYOUT was written under this constant and must keep it
_LEGACY_N_BUCKETS = 64

#: reserved ReplicaTableSink manifest keys (r13 re-bucket migration):
#: the bucket count rides IN the manifest so it flips atomically with
#: the bucket pointers; rows_seen is the cumulative batch-row upper
#: bound that triggers a migration check. Both parse as ints like the
#: bucket entries; every bucket iteration must go through
#: _bucket_items.
_N_BUCKETS_KEY = "__n_buckets__"
_ROWS_SEEN_KEY = "__rows_seen__"
_RESERVED_MANIFEST_KEYS = frozenset({_N_BUCKETS_KEY, _ROWS_SEEN_KEY})

#: rows-per-bucket past which a bucket stops fitting an executor
#: comfortably at rewrite time — the upper edge of size_state_buckets'
#: band AND the re-bucket migration trigger (one constant, so the
#: trigger can't drift from the sizing rule)
_REBUCKET_ROWS_PER_BUCKET_CAP = 4_000_000


def size_state_buckets(
    batch_rows: int,
    parallelism: int,
    rows_per_bucket_floor: int = 50_000,
    rows_per_bucket_cap: int = _REBUCKET_ROWS_PER_BUCKET_CAP,
    max_buckets: int = 4096,
) -> int:
    """Bucket count for a durable hash-bucketed state table, derived
    from the first observed batch volume (r11 verdict #8 — the honest
    replacement for the n_buckets=64 constant; the reference sizes its
    stream fan-out from configuration+load the same way,
    RelayLogEventTransmitter stream-count sizing).

    Two opposing costs set the band:
    * every bucket is one parquet-file write + Hadoop commit per
      touched batch (~17 ms each at local scale, PERF_R11) — buckets
      holding fewer than ``rows_per_bucket_floor`` rows pay more in
      commit protocol than in data, so the count SHRINKS below the
      write parallelism when the volume is small;
    * a bucket is also the carry-forward/pruning unit — past
      ``rows_per_bucket_cap`` rows it stops fitting an executor
      comfortably at rewrite time, so the count GROWS past the
      parallelism when the volume is large (bounded by
      ``max_buckets``, the file-count sanity cap).

    Inside the band the write parallelism wins: one bucket per writer
    core keeps the per-batch state rewrite one wave wide."""
    n = max(1, parallelism)
    if batch_rows < n * rows_per_bucket_floor:
        return max(1, batch_rows // rows_per_bucket_floor)
    if batch_rows > n * rows_per_bucket_cap:
        return min(max_buckets, -(-batch_rows // rows_per_bucket_cap))
    return n


class AggViewSink:
    """Durable MATERIALIZED VIEW maintenance across micro-batches — the
    streaming twin of ``apply.maintain_agg_view``: each batch folds its
    signed per-event deltas into a persisted (db, tbl) COUNT/SUM view
    without ever rescanning history. The downstream-table shape the
    reference's RPL applier keeps current (SURVEY §2.11 MergeApplier
    REPLACE semantics), expressed as a foreachBatch sink.

    State layout under ``state_dir`` (version-pointer commit, crash-safe):
    ``pk_v{N}/bucket=K/`` per-PK live state (db, tbl, pk, n_rows,
    value_cents) HASH-BUCKETED on the key, ``view_v{N}/`` the maintained
    view, ``CURRENT`` = N (atomic file replace). Per batch only the
    TOUCHED buckets are read (partition pruning on ``bucket``) and
    rewritten; untouched bucket directories are carried into the new
    version as hardlinks — per-batch I/O is ∝ touched keys, NOT state
    size (the ReplicaTableSink discipline; a full-state rewrite per
    micro-batch would be a 100 TB-scale non-starter). A crash between
    writes leaves CURRENT at the previous consistent pair; redelivery of
    the LAST batch is idempotent because the per-PK fold is an absolute
    (telescoped) state, not an increment. Contract: batches arrive in
    stream order (the watermark-gated merge upstream guarantees it) — an
    event OLDER than a key's already-folded history would regress that
    key, exactly as it would against a REPLACE-applied replica table."""

    #: hash buckets for the pk-state table — sized from DATA at the
    #: first batch when not given (size_state_buckets below), persisted
    #: in a LAYOUT file so recovery and later attaches keep the same
    #: physical layout (the bucket column is the pruning / carry-forward
    #: key; correctness is bucket-count independent, only file layout
    #: and commit cost depend on it)
    n_buckets: int | None = None

    def __init__(self, state_dir: str, n_buckets: int | None = None) -> None:
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self.rows_seen = 0  # cumulative touched-key upper bound — the
        # re-bucket trigger; persisted in the versioned LAYOUT
        self.last_migration: tuple[int, int] | None = None
        self.rebucket_cap = _REBUCKET_ROWS_PER_BUCKET_CAP
        self.bucket_floor = 50_000
        # layout precedence (r13): the VERSIONED LAYOUT (inside
        # pk_v{N}, written before the CURRENT pointer flips — so it
        # commits atomically with the layout it describes) beats the
        # state-dir mirror, which beats the pre-LAYOUT legacy constant.
        versioned = _read_layout_file2(
            self._versioned_layout_path(self._current()))
        persisted = _read_layout_file(self._layout_path())
        if versioned is not None:
            self.n_buckets, self.rows_seen = versioned
            if persisted != self.n_buckets:
                # refresh the state-dir mirror (a pre-r13 reader or an
                # operator inspecting the dir sees the live count)
                _write_layout_file(self._layout_path(), self.n_buckets)
        elif persisted is not None:
            # the on-disk layout is physical truth: an existing state
            # table's bucket hash can't change without a rewrite
            self.n_buckets = persisted
        elif os.path.isdir(self._paths(self._current())[0]):
            # committed state but no LAYOUT: written before layout files
            # existed, i.e. under the old constant — keep it or every
            # stored row hashes to the wrong bucket
            self.n_buckets = _LEGACY_N_BUCKETS
            _write_layout_file(self._layout_path(), _LEGACY_N_BUCKETS)
        elif n_buckets is not None:
            self.n_buckets = n_buckets
            _write_layout_file(self._layout_path(), n_buckets)
        # else: auto mode — sized from the first non-empty batch

    # -- bucket-layout persistence -----------------------------------------
    def _layout_path(self) -> str:
        return os.path.join(self.state_dir, "LAYOUT")

    def _versioned_layout_path(self, version: int) -> str:
        # leading underscore: Spark's parquet reader skips _-prefixed
        # files, so the layout metadata can live INSIDE the versioned
        # state dir (committing atomically with the CURRENT flip)
        return os.path.join(self.state_dir, f"pk_v{version}", "_LAYOUT")

    def _ensure_layout(self, batch_df: DataFrame) -> bool:
        """AUTO bucket sizing (r11 verdict #8): derive the layout from
        the FIRST NON-EMPTY batch's observed volume instead of a
        constant — one count job, paid once per sink lifetime, then
        persisted. Returns False when the layout is still undecided
        (empty batch in auto mode — a state no-op the caller skips, so a
        zero-row batch can never lock the layout at 1 bucket)."""
        if self.n_buckets is not None:
            return True
        spark = batch_df.sparkSession
        rows = batch_df.count()
        if rows == 0:
            return False
        self.n_buckets = size_state_buckets(
            rows, spark.sparkContext.defaultParallelism,
            rows_per_bucket_floor=self.bucket_floor,
            rows_per_bucket_cap=self.rebucket_cap,
        )
        _write_layout_file(self._layout_path(), self.n_buckets)
        return True

    # -- version-pointer helpers -------------------------------------------
    def _current(self) -> int:
        try:
            with open(os.path.join(self.state_dir, "CURRENT")) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _commit(self, version: int) -> None:
        tmp = os.path.join(self.state_dir, "CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, os.path.join(self.state_dir, "CURRENT"))

    def _paths(self, version: int) -> tuple[str, str]:
        return (
            os.path.join(self.state_dir, f"pk_v{version}"),
            os.path.join(self.state_dir, f"view_v{version}"),
        )

    def _bucket_col(self):
        return F.pmod(
            F.xxhash64(F.col("db"), F.col("tbl"), F.col("pk")),
            F.lit(self.n_buckets),
        ).cast("int")

    @staticmethod
    def _link_dir(src: str, dst: str) -> None:
        """Carry an untouched bucket directory into the next version
        without copying bytes (hardlink per file; copy as fallback)."""
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            s, d = os.path.join(src, f), os.path.join(dst, f)
            if os.path.isdir(s):
                AggViewSink._link_dir(s, d)
                continue
            try:
                os.link(s, d)
            except OSError:
                import shutil

                shutil.copy2(s, d)

    # -- view helpers (overridden by JoinViewSink) -------------------------
    _view_schema = "db string, tbl string, n_rows long, value_cents long"
    _view_keys = ("db", "tbl")

    def _contrib(self, pk_frame: DataFrame, negate: bool = False) -> DataFrame:
        sign = -1 if negate else 1
        return pk_frame.groupBy(*self._view_keys).agg(
            (F.lit(sign) * F.sum("n_rows")).alias("n_rows"),
            (F.lit(sign) * F.sum("value_cents")).alias("value_cents"),
        )

    def view(self, spark) -> DataFrame:
        """The maintained view at the last committed version (live groups
        only, matching the fresh-aggregate contract)."""
        _, view_path = self._paths(self._current())
        if not os.path.isdir(view_path):
            return spark.createDataFrame([], self._view_schema)
        return spark.read.parquet(view_path).filter(F.col("n_rows") > 0)

    def pk_state(self, spark) -> DataFrame:
        pk_path, _ = self._paths(self._current())
        if not os.path.isdir(pk_path):
            return spark.createDataFrame(
                [], "db string, tbl string, pk string, n_rows long, "
                    "value_cents long, bucket int"
            )
        return spark.read.parquet(pk_path)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from polardbx_cdc_spark.operators import apply as apply_ops

        spark = batch_df.sparkSession
        if not self._ensure_layout(batch_df):
            return  # empty batch while the layout is undecided: no-op
        cur = self._current()
        pk_path, view_path = self._paths(cur)
        have_state = os.path.isdir(pk_path)

        batch_df = batch_df.select("db", "tbl", "pk", "tso", "action", "value")
        if have_state:
            # the touched-key set and its bucket list exist only to prune
            # and diff PRIOR state — a cold-start batch skips both jobs
            # (one distinct shuffle + one collect) entirely
            touched = (
                batch_df.select("db", "tbl", "pk").distinct()
                .withColumn("bucket", self._bucket_col())
                .localCheckpoint(eager=True)
            )
            # bounded driver list (≤ n_buckets): which state partitions
            # the batch can possibly touch
            touched_buckets = sorted(
                r["bucket"] for r in touched.select("bucket").distinct().collect()
            )
            old_pk = spark.read.parquet(pk_path).filter(
                F.col("bucket").isin(touched_buckets)  # partition pruning
            )
            old_touched = old_pk.join(
                touched, ["db", "tbl", "pk"], "left_semi"
            ).localCheckpoint(eager=True)
            seed = old_touched.filter(F.col("n_rows") > 0).select(
                "db", "tbl", "pk",
                F.lit("0" * 48).alias("tso"),
                F.lit("INSERT").alias("action"),
                (F.col("value_cents") / 100.0).alias("value"),
            )
            folded = batch_df.unionByName(seed)
        else:
            old_pk = old_touched = None
            folded = batch_df

        new_touched = (
            apply_ops.maintain_pk_state(folded)
            .withColumn("bucket", self._bucket_col())
            .localCheckpoint(eager=True)
        )

        plus = self._contrib(new_touched)
        nxt = cur + 1
        pk_next, view_next = self._paths(nxt)
        if old_touched is not None:
            minus = self._contrib(old_touched, negate=True)
            old_view = spark.read.parquet(view_path)
            view_new = (
                old_view.unionByName(plus).unionByName(minus)
                .groupBy(*self._view_keys)
                .agg(
                    F.sum("n_rows").cast("long").alias("n_rows"),
                    F.sum("value_cents").cast("long").alias("value_cents"),
                )
            )
            # rewrite ONLY touched buckets: surviving old rows + new state
            pk_changed = old_pk.join(
                touched, ["db", "tbl", "pk"], "left_anti"
            ).unionByName(new_touched.select(*old_pk.columns))
        else:
            view_new = plus.select(
                *self._view_keys,
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("value_cents").cast("long").alias("value_cents"),
            )
            pk_changed = new_touched

        pk_changed.write.partitionBy("bucket").mode("overwrite").parquet(pk_next)
        if have_state:
            # carry untouched bucket partitions forward as hardlinks
            touched_set = {f"bucket={b}" for b in touched_buckets}
            for entry in os.listdir(pk_path):
                if entry.startswith("bucket=") and entry not in touched_set:
                    self._link_dir(
                        os.path.join(pk_path, entry),
                        os.path.join(pk_next, entry),
                    )
        # touched distinct keys are a cheap (checkpointed) upper bound on
        # state growth — accumulate it as the re-bucket trigger
        self.rows_seen += new_touched.count()
        _write_layout_file(self._versioned_layout_path(nxt),
                           self.n_buckets, self.rows_seen)
        view_new.write.mode("overwrite").parquet(view_next)
        self._commit(nxt)
        if have_state:
            import shutil

            shutil.rmtree(pk_path, ignore_errors=True)
            shutil.rmtree(view_path, ignore_errors=True)
        self._maybe_rebucket(spark, nxt)

    def _maybe_rebucket(self, spark, cur: int) -> None:
        """RE-BUCKET MIGRATION (r13, verdict ask #5): when the cumulative
        key volume breaches the executor-fit cap for the persisted
        layout, rewrite the pk state into a wider bucket layout as a NEW
        version under the existing version-pointer commit — the trigger
        is the cheap upper bound, the new size comes from an EXACT count
        of the just-written state, and the versioned LAYOUT rides inside
        pk_v{N} so CURRENT flips count+layout atomically. A crash at any
        point leaves the previous version fully intact. Reference:
        RelayLogEventTransmitter stream re-sizing + StoreEngineManager
        rollover."""
        if self.rows_seen <= self.n_buckets * self.rebucket_cap:
            return
        pk_path, view_path = self._paths(cur)
        if not os.path.isdir(pk_path):
            return
        pk_state = spark.read.parquet(pk_path)
        exact = pk_state.count()
        self.rows_seen = exact  # pin the trigger to truth either way
        if exact <= self.n_buckets * self.rebucket_cap:
            # cheap bound overfired (update-heavy stream): no genuine
            # cap breach, no rewrite
            new_n = self.n_buckets
        else:
            new_n = size_state_buckets(
                exact, spark.sparkContext.defaultParallelism,
                rows_per_bucket_floor=self.bucket_floor,
                rows_per_bucket_cap=self.rebucket_cap)
        if new_n <= self.n_buckets:
            # overcounting trigger (updates/deletes): record the honest
            # rows_seen so it stops firing every batch
            _write_layout_file(self._versioned_layout_path(cur),
                               self.n_buckets, self.rows_seen)
            return
        self.last_migration = (self.n_buckets, new_n)
        self.n_buckets = new_n
        nxt = cur + 1
        pk_next, view_next = self._paths(nxt)
        pk_state.drop("bucket").withColumn(
            "bucket", self._bucket_col()
        ).write.partitionBy("bucket").mode("overwrite").parquet(pk_next)
        _write_layout_file(self._versioned_layout_path(nxt),
                           new_n, self.rows_seen)
        # the view is bucket-independent: carry it forward untouched
        self._link_dir(view_path, view_next)
        self._commit(nxt)
        _write_layout_file(self._layout_path(), new_n)  # mirror
        import shutil

        shutil.rmtree(pk_path, ignore_errors=True)
        shutil.rmtree(view_path, ignore_errors=True)


class JoinViewSink(AggViewSink):
    """Durable JOIN-view maintenance across micro-batches: the streaming
    twin of ``apply.maintain_join_agg_view`` — a (dim-attribute, COUNT,
    SUM) rollup of the live fact state joined to a dimension, kept
    current from the change stream alone. Inherits the hash-bucketed
    pk-state machinery (per-batch I/O ∝ touched buckets); the view delta
    broadcast-joins the TOUCHED per-PK contributions to the dimension
    (ΔF ⋈ D per batch), and :meth:`apply_dim_update` folds a dimension
    change in WITHOUT a fact rescan (F ⋈ ΔD — the dim delta is broadcast
    against the durable per-PK state)."""

    _view_schema = "grp long, n_rows long, value_cents long"
    _view_keys = ("grp",)

    def __init__(self, state_dir: str, dim: DataFrame,
                 dim_key: str = "dim_key", attr: str = "grp",
                 n_buckets: int | None = None) -> None:
        super().__init__(state_dir, n_buckets=n_buckets)
        self.dim = dim.select(
            F.col(dim_key).alias("dim_key"), F.col(attr).alias("grp")
        )

    def _contrib(self, pk_frame: DataFrame, negate: bool = False) -> DataFrame:
        joined = pk_frame.join(
            F.broadcast(self.dim), pk_frame["pk"] == self.dim["dim_key"], "inner"
        )
        sign = -1 if negate else 1
        return joined.groupBy("grp").agg(
            (F.lit(sign) * F.sum("n_rows")).alias("n_rows"),
            (F.lit(sign) * F.sum("value_cents")).alias("value_cents"),
        )

    def apply_dim_update(self, spark, dim_delta: DataFrame) -> None:
        """Fold a dimension change (dim_key, old_grp, new_grp) into the
        maintained view from the durable per-PK state — the F ⋈ ΔD rule;
        also updates the sink's dim so later batches join the new
        mapping. The dim delta is broadcast; the fact side is the
        pk-state table, never raw history."""
        from polardbx_cdc_spark.operators import apply as apply_ops

        cur = self._current()
        pk_path, view_path = self._paths(cur)
        if not os.path.isdir(pk_path):
            return
        pk_state = spark.read.parquet(pk_path)
        old_view = spark.read.parquet(view_path)
        view_new = apply_ops.apply_dim_delta_to_join_view(
            old_view, pk_state, dim_delta, attr="grp"
        )
        delta = dim_delta.select("dim_key", F.col("new_grp").alias("grp_new"))
        self.dim = (
            self.dim.join(F.broadcast(delta), "dim_key", "left")
            .select("dim_key", F.coalesce("grp_new", "grp").alias("grp"))
        )
        nxt = cur + 1
        pk_next, view_next = self._paths(nxt)
        # pk-state unchanged: hardlink every bucket forward
        self._link_dir(pk_path, pk_next)
        view_new.write.mode("overwrite").parquet(view_next)
        self._commit(nxt)
        import shutil

        shutil.rmtree(pk_path, ignore_errors=True)
        shutil.rmtree(view_path, ignore_errors=True)


def run_materialized_view_pipeline(
    cdc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    dim: DataFrame | None = None,
    dim_key: str = "dim_key",
    attr: str = "grp",
    n_buckets: int | None = None,
):
    """CDC stream → durable incrementally-maintained aggregate view
    (AggViewSink), or — with ``dim`` — a fact⋈dim rollup (JoinViewSink).
    Trigger.AvailableNow like the other test-mode pipelines; drop the
    trigger for continuous operation. Returns (query, sink); read the
    current view any time with ``sink.view(spark)``. The downstream-table
    pattern a reference replica serves its consumers from, kept current
    without ever rescanning fact history.

    ``n_buckets`` sizes the durable pk-state hash layout — FIXED for the
    sink's life (the bucket column is the pruning/carry-forward key) and
    persisted in the state dir's LAYOUT file. Every bucket costs one
    parquet file write per touched batch (~17 ms of commit-protocol
    overhead each at local scale, r11 profile). Default ``None`` =
    AUTO: derived from the first observed batch volume by
    ``size_state_buckets`` (commit-cost floor, executor-fit cap, write
    parallelism inside the band)."""
    if dim is not None:
        sink: AggViewSink = JoinViewSink(state_dir, dim, dim_key=dim_key,
                                         attr=attr, n_buckets=n_buckets)
    else:
        sink = AggViewSink(state_dir, n_buckets=n_buckets)
    q = (
        cdc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, sink
