"""Streaming pipeline tests: bounded replay (Trigger.AvailableNow) of the
events parquet through the streaming operators, verified against their
batch twins — the strongest equivalence check streaming can get."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from polardbx_cdc_spark.model import derive_cdc_stream
from polardbx_cdc_spark.session import normalize_event_ts
from polardbx_cdc_spark.operators import apply as apply_ops
from polardbx_cdc_spark.operators import merge as merge_ops
from polardbx_cdc_spark.streaming import pipeline, source

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="cdc_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_last_image_matches_batch(spark, tmpdir):
    stream = source.cdc_stream(spark, SF, watermark="1 minute")
    out = pipeline.streaming_last_image(stream, epoch="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("li_stream")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.table("li_stream")
    cdc = derive_cdc_stream(spark, SF)
    expected = (
        cdc.groupBy(F.window("ts", "1 hour").alias("epoch"), "db", "tbl", "pk")
        .agg(
            F.max("tso").alias("last_tso"),
            F.max_by("action", F.col("tso")).alias("last_action"),
            F.max_by("value", F.col("tso")).alias("value"),
            F.count(F.lit(1)).alias("n_changes"),
        )
        .select(F.col("epoch.start").alias("epoch_start"), "db", "tbl", "pk", "last_tso", "last_action", "value", "n_changes")
    )
    # append mode emits only watermark-closed epochs; every emitted row must
    # match the batch computation exactly, and most epochs must have closed
    assert got.count() > 0
    assert got.exceptAll(expected).count() == 0
    closed_ratio = got.count() / expected.count()
    assert closed_ratio > 0.9, f"only {closed_ratio:.0%} of epochs emitted"


def test_stateful_txn_assembly_matches_batch(spark, tmpdir):
    stream = source.cdc_stream(spark, SF)
    tokens = pipeline.assemble_transactions_stateful(stream)
    q = (
        tokens.writeStream.format("memory")
        .queryName("txn_stream")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.table("txn_stream").select(
        "txn_id",
        F.col("txn_size").alias("got_size"),
        F.col("commit_tso").alias("got_commit"),
        "complete",
    )
    batch = merge_ops.assemble_transactions(derive_cdc_stream(spark, SF))
    n_complete_batch = batch.filter(F.col("complete") & (F.col("min_seq") == 0)).count()
    # AvailableNow delivers everything in one batch → all contiguous txns complete
    assert got.filter(F.col("complete")).count() == n_complete_batch
    joined = got.join(batch, "txn_id")
    assert joined.filter(F.col("got_size") != F.col("txn_size")).count() == 0
    assert joined.filter(F.col("got_commit") != F.col("commit_tso")).count() == 0


def test_stream_metrics_observed(spark, tmpdir):
    """observe() metrics must appear in the query progress (MergeMetrics
    parity: counters + event-time gauge per micro-batch)."""
    stream = source.cdc_stream(spark, SF)
    q, sink = pipeline.run_binlog_pipeline(stream, tmpdir + "/out", tmpdir + "/ckpt")
    q.awaitTermination(120)
    progresses = [p for p in q.recentProgress if p.get("observedMetrics", {}).get("cdc_metrics")]
    assert progresses, "no observed metrics in any progress"
    m = progresses[-1]["observedMetrics"]["cdc_metrics"]
    assert m["n_events"] == 1000
    assert m["approx_txns"] > 150
    assert str(m["max_event_time"]).startswith("2024-01-")


def test_directory_dataset_streams_in_place(spark, tmp_path):
    """A directory dataset (``events.parquet/`` of part files) streams
    from the directory itself: every row arrives, and nothing is staged
    under the temp dir's ``cdc_stream_src``."""
    import os

    import pyarrow.parquet as pq

    staged = os.path.join(tempfile.gettempdir(), "cdc_stream_src")

    def entries():
        return set(os.listdir(staged)) if os.path.isdir(staged) else set()

    before = entries()
    t = pq.read_table(os.path.join(SF, "events.parquet"))
    d = tmp_path / "sf" / "events.parquet"
    d.mkdir(parents=True)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "part-0.parquet")
    pq.write_table(t.slice(half), d / "part-1.parquet")
    sf = str(tmp_path / "sf")
    assert source._as_stream_dir(sf, "events") == str(d)

    seen = []
    q = (
        source.read_events_stream(spark, sf, fan_out=False,
                                  max_files_per_trigger=1)
        .writeStream.foreachBatch(lambda df, _: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(seen) == sorted([half, t.num_rows - half])
    assert entries() == before


def test_transactional_apply_preserves_invariant_per_batch(spark, tmpdir):
    """TransactionApplier semantics in streaming: apply whole transactions
    per micro-batch; the bank-transfer invariant (constant total balance)
    must hold after EVERY batch, not just at the end (Bank.java:34-163,
    TransferTest.java)."""
    import glob
    import os
    import random
    import shutil

    from polardbx_cdc_spark.operators import apply as apply_ops
    from polardbx_cdc_spark.tso import make_tso

    # build the transfer stream (whole txns per file → batch = txn barrier)
    rng = random.Random(42)
    n_accounts, init_bal = 50, 1000
    balances = {i: init_bal for i in range(n_accounts)}
    rows = []
    for t in range(200):
        src, dst = rng.sample(range(n_accounts), 2)
        amt = rng.randint(1, 50)
        balances[src] -= amt
        balances[dst] += amt
        for s, (acct, bal) in enumerate([(src, balances[src]), (dst, balances[dst])]):
            rows.append((1_000_000 + t * 10, t, s, "UPDATE", "bank", "acct", str(acct), float(bal)))
    df = spark.createDataFrame(
        rows, "phys long, txn_id long, seq long, action string, db string, tbl string, pk string, value double"
    ).withColumn("tso", make_tso(F.col("phys"), F.col("txn_id"), F.col("seq"))).drop("phys")

    src_dir = tmpdir + "/txns"
    os.makedirs(src_dir)
    for i in range(4):  # 4 files of 50 whole txns each
        part = df.filter((F.col("txn_id") >= i * 50) & (F.col("txn_id") < (i + 1) * 50))
        stage = tmpdir + f"/stage{i}"
        part.coalesce(1).write.parquet(stage)
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0], f"{src_dir}/f{i}.parquet")
        os.utime(f"{src_dir}/f{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    state_holder = {
        "state": spark.createDataFrame(
            [(str(i), float(init_bal)) for i in range(n_accounts)], "pk string, value double"
        ),
        "totals": [],
    }

    def apply_batch(batch_df, batch_id):
        cur = state_holder["state"]
        new_state = apply_ops.apply_to_snapshot(
            cur, batch_df.select("pk", "tso", "action", "value"), keys=("pk",)
        ).select("pk", "value")
        new_state = spark.createDataFrame(new_state.collect(), "pk string, value double")
        state_holder["state"] = new_state
        state_holder["totals"].append(
            new_state.agg(F.sum("value").alias("s")).collect()[0]["s"]
        )

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert len(state_holder["totals"]) == 4
    assert all(t == n_accounts * init_bal for t in state_holder["totals"]), state_holder["totals"]
    final = {r["pk"]: r["value"] for r in state_holder["state"].collect()}
    assert final == {str(k): float(v) for k, v in balances.items()}


def test_ddl_mid_stream_updates_rebuild(spark, tmpdir):
    """DDL-as-epoch-barrier (LogFileGenerator.writeMetaDdl:411): a DDL
    event arriving in an early batch changes the registry, and the rebuild
    projection of later batches reflects it."""
    from polardbx_cdc_spark.meta import LogicalTopology, SchemaRegistry, rebuild_events
    from polardbx_cdc_spark.model import derive_cdc_stream

    reg = SchemaRegistry()
    reg.apply("0" * 48, "app", "users", {"op": "create", "columns": ["value", "props"]})
    topo = LogicalTopology()
    topo.add_shards("app", "users", [f"db{d}.t{t}" for d in range(3) for t in range(5)])
    seen_keys = []

    def apply_batch(batch_df, batch_id):
        # epoch barrier: DDL for this epoch applied before projecting rows
        if batch_id == 1:
            reg.apply(f"{batch_id:048d}", "app", "users", {"op": "drop_column", "column": "props"})
        at = "9" * 48
        rebuilt = rebuild_events(batch_df, topo, reg, at_tso=at)
        keys = (
            rebuilt.filter(F.col("after").isNotNull())
            .select(F.map_keys("after").alias("ks"))
            .agg(F.array_sort(F.array_distinct(F.flatten(F.collect_list("ks")))).alias("u"))
            .collect()[0]["u"]
        )
        seen_keys.append((batch_id, keys))

    cdc = source.cdc_stream(spark, SF)
    q = (
        cdc.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", tmpdir + "/ckpt")
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert seen_keys, "no batches"
    # single-file source → batch 0 only; replicate barrier behavior directly
    batch0 = dict(seen_keys)[0]
    assert batch0 == ["props", "value"]
    reg.apply("5" * 48, "app", "users", {"op": "drop_column", "column": "props"})
    cdc_b = derive_cdc_stream(spark, SF)
    after = (
        rebuild_events(cdc_b, topo, reg, at_tso="9" * 48)
        .filter(F.col("after").isNotNull())
        .select(F.map_keys("after").alias("ks"))
        .agg(F.array_sort(F.array_distinct(F.flatten(F.collect_list("ks")))).alias("u"))
        .collect()[0]["u"]
    )
    assert after == ["value"]


def test_out_of_order_arrival_within_watermark(spark, tmpdir):
    """HeartBeatWindow semantics under disorder: files arrive out of time
    order (day 2 lands before day 1), skew bounded by the watermark delay.
    Every watermark-closed epoch must still exactly match the batch
    computation — late-but-in-bounds data is merged, not dropped."""
    import glob
    import os
    import shutil

    from polardbx_cdc_spark.model import derive_cdc_stream

    ev = normalize_event_ts(spark.read.parquet(SF + "/events.parquet"))
    src_dir = tmpdir + "/src"
    os.makedirs(src_dir)
    # one file per 5-day slice, first two slices swapped in arrival order
    slices = [(i, i * 5, (i + 1) * 5) for i in range(6)]
    arrival = [1, 0, 2, 3, 4, 5]
    for arr_pos, sl in enumerate(arrival):
        i, lo, hi = slices[sl]
        part = ev.filter(
            (F.unix_micros(F.col("ts")) >= 1704067200000000 + lo * 86400_000_000)
            & (F.unix_micros(F.col("ts")) < 1704067200000000 + hi * 86400_000_000)
        )
        tmp_out = tmpdir + f"/stage{i}"
        part.coalesce(1).write.parquet(tmp_out)
        f = glob.glob(tmp_out + "/part-*.parquet")[0]
        dst = f"{src_dir}/slice{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + arr_pos * 100, 1_700_000_000 + arr_pos * 100))

    batch_schema = ev.schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    stream = normalize_event_ts(stream)
    cdc = derive_cdc_stream(spark, SF, events=stream).withWatermark("ts", "6 days")
    out = pipeline.streaming_last_image(cdc, epoch="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("ooo_stream")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.table("ooo_stream")
    cdc_batch = derive_cdc_stream(spark, SF)
    expected = (
        cdc_batch.groupBy(F.window("ts", "1 day").alias("epoch"), "db", "tbl", "pk")
        .agg(
            F.max("tso").alias("last_tso"),
            F.max_by("action", F.col("tso")).alias("last_action"),
            F.max_by("value", F.col("tso")).alias("value"),
            F.count(F.lit(1)).alias("n_changes"),
        )
        .select(F.col("epoch.start").alias("epoch_start"), "db", "tbl", "pk", "last_tso", "last_action", "value", "n_changes")
    )
    # nothing emitted may deviate from batch truth (no partial/corrupt epochs)
    assert got.count() > 0
    assert got.exceptAll(expected).count() == 0
    # the out-of-order day-0/day-1 slices specifically must have been merged
    emitted_days = {r["epoch_start"].day for r in got.select("epoch_start").distinct().collect()}
    assert {1, 2, 3, 4, 5} <= emitted_days, emitted_days


def test_catalog_commands_over_sink(spark, tmpdir):
    """SHOW MASTER STATUS / BINARY LOGS / BINLOG EVENTS served from the
    sink (CdcServer.java:154-286 parity)."""
    from polardbx_cdc_spark import catalog

    out = tmpdir + "/binlog"
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, SF), out, tmpdir + "/ckpt", rotate_rows=300
    )
    q.awaitTermination(120)

    logs = catalog.show_binary_logs(spark, out).collect()
    assert [r["log_name"] for r in logs] == [f"binlog.{i:06d}" for i in range(4)]
    assert sum(r["n_events"] for r in logs) == 1000
    # files partition the offset space contiguously
    for prev, cur in zip(logs, logs[1:]):
        assert prev["end_offset"] + 1 == cur["start_offset"]
        assert prev["max_tso"] < cur["min_tso"]

    status = catalog.show_master_status(spark, out).collect()[0]
    assert status["position"] == 999 and status["log_name"] == "binlog.000003"
    assert status["last_tso"] == max(r["max_tso"] for r in logs)

    head = catalog.show_binlog_events(spark, out, file_seq=1, limit=10).collect()
    assert [r["offset"] for r in head] == list(range(300, 310))


def test_relay_store_partitioned_by_stream(spark, tmpdir):
    """Binlog-X relay writer (RelayLogEventTransmitter + store engines):
    hash-route then writeStream partitioned by stream_id; each partition
    holds exactly its streams' events, per-stream TSO order recoverable."""
    from polardbx_cdc_spark.operators import routing

    cfg = routing.StreamRoutingConfig(stream_count=4)
    stream = source.cdc_stream(spark, SF)
    routed = routing.assign_stream(stream, cfg)
    q = (
        routed.writeStream.format("parquet")
        .partitionBy("stream_id")
        .option("path", tmpdir + "/relay")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    written = spark.read.parquet(tmpdir + "/relay")
    assert written.count() == 1000
    # partition dirs exist per stream and routing is consistent with batch
    from polardbx_cdc_spark.model import derive_cdc_stream

    batch_routed = routing.assign_stream(derive_cdc_stream(spark, SF), cfg)
    got = {(r["stream_id"], r["n"]) for r in written.groupBy("stream_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {(r["stream_id"], r["n"]) for r in batch_routed.groupBy("stream_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_split_parallel_apply_partitioning(spark):
    """SplitApplier semantics (SplitApplier.java:36-95): same PK never
    spans two apply partitions; PK-change rows land in the serial lane."""
    from polardbx_cdc_spark.model import derive_cdc_stream
    from polardbx_cdc_spark.operators import apply as apply_ops

    cdc = derive_cdc_stream(spark, SF)
    split = apply_ops.split_for_parallel_apply(cdc, num_partitions=8)
    # each (db,tbl,pk) maps to exactly one apply_partition
    multi = (
        split.groupBy("db", "tbl", "pk")
        .agg(F.countDistinct("apply_partition").alias("n_parts"))
        .filter(F.col("n_parts") > 1)
        .count()
    )
    assert multi == 0
    # rows whose identity columns changed go to the serial lane (partition 0)
    pk_changed = split.filter(F.array_contains(F.coalesce(F.col("changed"), F.array()), "pk"))
    assert pk_changed.filter(F.col("apply_partition") != 0).count() == 0


def test_consume_sink_roundtrip(spark, tmpdir):
    """Sink → re-consume → replay must equal replaying the original stream
    (stage-to-stage handoff = just DataFrames; the reference crosses gRPC
    here). Also checks the from_tso subscription position."""
    from polardbx_cdc_spark.model import derive_cdc_stream
    from polardbx_cdc_spark.operators import apply as apply_ops

    out = tmpdir + "/binlog"
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, SF), out, tmpdir + "/ckpt", rotate_rows=300, frame_txns=True
    )
    q.awaitTermination(120)
    sink.flush()  # emit transactions still open at end-of-stream

    consumed = source.read_binlog(spark, out)
    assert consumed.count() == 1000  # frames stripped
    direct = derive_cdc_stream(spark, SF)
    a = apply_ops.replay_to_state(consumed).select("db", "tbl", "pk", "last_tso", "value")
    b = apply_ops.replay_to_state(direct).select("db", "tbl", "pk", "last_tso", "value")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # subscribe from a mid-stream position
    mid_tso = consumed.orderBy("tso").limit(500).agg(F.max("tso")).collect()[0][0]
    tail = source.read_binlog(spark, out, from_tso=mid_tso)
    assert tail.count() == 500
    assert tail.agg(F.min("tso")).collect()[0][0] > mid_tso


def test_replica_table_sink_matches_batch_replay(spark, tmpdir):
    """ReplicaTableSink across multiple micro-batches converges to exactly
    the batch replay state (the RPL FULL→INC end state)."""
    import glob
    import os
    import shutil

    from polardbx_cdc_spark.model import derive_cdc_stream
    from polardbx_cdc_spark.operators import apply as apply_ops

    # stage events as 4 files so the stream runs 4 micro-batches
    ev = normalize_event_ts(spark.read.parquet(SF + "/events.parquet"))
    src = tmpdir + "/src"
    os.makedirs(src)
    # contiguous event_id ranges = TSO-ordered batches (the merge stage's
    # ordered-delivery contract that appliers rely on)
    for i in range(4):
        part = ev.filter(F.expr(f"event_id div 250 = {i}"))
        stage = tmpdir + f"/s{i}"
        part.coalesce(1).write.parquet(stage)
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0], f"{src}/e{i}.parquet")
        os.utime(f"{src}/e{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    stream = normalize_event_ts(stream)
    cdc = derive_cdc_stream(spark, SF, events=stream)
    q, sink = pipeline.run_replica_pipeline(cdc, tmpdir + "/replica", tmpdir + "/ckpt")
    q.awaitTermination(180)

    got = sink.current(spark)
    expected = apply_ops.replay_to_state(derive_cdc_stream(spark, SF)).select(
        "db", "tbl", "pk", "last_tso", "value"
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_purge_binary_logs(spark, tmpdir):
    from polardbx_cdc_spark import catalog

    out = tmpdir + "/binlog"
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, SF), out, tmpdir + "/ckpt", rotate_rows=200
    )
    q.awaitTermination(120)
    assert catalog.show_binary_logs(spark, out).count() == 5
    removed = catalog.purge_binary_logs(spark, out, keep_from_seq=3)
    assert removed == 3
    logs = catalog.show_binary_logs(spark, out).collect()
    assert [r["file_seq"] for r in logs] == [3, 4]
    assert spark.read.parquet(out).count() == 400  # two files × 200


def test_binlog_sink_txn_framing(spark, tmpdir):
    """BEGIN/COMMIT envelope (LogFileGenerator.writeBegin/writeCommit):
    every txn appears as BEGIN, events…, COMMIT contiguously in offset
    order; frame counts match txn count."""
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, SF), tmpdir + "/out", tmpdir + "/ckpt",
        rotate_rows=10_000, frame_txns=True,
    )
    q.awaitTermination(120)
    sink.flush()  # emit transactions still open at end-of-stream
    written = spark.read.parquet(tmpdir + "/out")
    n_txn = 200  # 1000 events / 5 per txn
    counts = {r["action"]: r["n"] for r in written.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["BEGIN"] == n_txn and counts["COMMIT"] == n_txn
    assert sum(counts.values()) == 1000 + 2 * n_txn

    rows = written.select("offset", "action", "txn_id").orderBy("offset").collect()
    # framing grammar: BEGIN -> events -> COMMIT, same txn_id throughout
    state, cur_txn = "idle", None
    for r in rows:
        if state == "idle":
            assert r["action"] == "BEGIN", r
            state, cur_txn = "open", r["txn_id"]
        elif r["action"] == "COMMIT":
            assert r["txn_id"] == cur_txn, r
            state = "idle"
        else:
            assert r["action"] in ("INSERT", "UPDATE", "DELETE") and r["txn_id"] == cur_txn, r
    assert state == "idle", "file ends inside a transaction"


def test_binlog_x_per_stream_order(spark, tmpdir):
    """Binlog-X final stage: each output stream gets dense 0..n_s-1 offsets
    in TSO order, independently rotated files; union of streams == input."""
    from polardbx_cdc_spark.operators import routing

    cfg = routing.StreamRoutingConfig(stream_count=4)
    q, sink = pipeline.run_binlog_x_pipeline(
        source.cdc_stream(spark, SF), cfg, tmpdir + "/out", tmpdir + "/ckpt", rotate_rows=100
    )
    q.awaitTermination(120)

    written = spark.read.parquet(tmpdir + "/out")
    assert written.count() == 1000
    for sid_row in written.select("stream_id").distinct().collect():
        sid = sid_row["stream_id"]
        rows = written.filter(F.col("stream_id") == sid).orderBy("offset").collect()
        assert [r["offset"] for r in rows] == list(range(len(rows))), f"stream {sid} offsets"
        tsos = [r["tso"] for r in rows]
        assert tsos == sorted(tsos), f"stream {sid} order"
        assert all(r["file_seq"] == r["offset"] // 100 for r in rows), f"stream {sid} rotation"

    # recovery with checkpoint loss: per-stream seekLastTso dedup
    import shutil

    shutil.rmtree(tmpdir + "/ckpt")
    q2, sink2 = pipeline.run_binlog_x_pipeline(
        source.cdc_stream(spark, SF), cfg, tmpdir + "/out", tmpdir + "/ckpt", rotate_rows=100
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(tmpdir + "/out").count() == 1000, "replay duplicated rows"


def test_streaming_exactly_once_dedup(spark, tmpdir):
    """dropDuplicatesWithinWatermark: replaying the same event_ids through
    the stream yields each key once (idempotent ingest — the dedup the
    relay store gives the reference)."""
    ev = source.read_events_stream(spark, SF)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.table("dedup_stream").count()
    assert n == 1000
    assert spark.table("dedup_stream").select("event_id").distinct().count() == 1000


def test_binlog_sink_order_rotation_recovery(spark, tmpdir):
    out_dir = tmpdir + "/binlog"
    ckpt = tmpdir + "/ckpt"
    stream = source.cdc_stream(spark, SF)
    q, sink = pipeline.run_binlog_pipeline(stream, out_dir, ckpt, rotate_rows=100)
    q.awaitTermination(120)
    assert not sink.disorder_errors

    written = spark.read.parquet(out_dir)
    n = written.count()
    assert n == derive_cdc_stream(spark, SF).count()

    # offsets are a dense 0..n-1 sequence following TSO order
    chk = written.select("offset", "tso").orderBy("offset").collect()
    assert [r["offset"] for r in chk] == list(range(n))
    tsos = [r["tso"] for r in chk]
    assert tsos == sorted(tsos), "sink violates global TSO order"

    # rotation: every file_seq holds <= rotate_rows rows
    per_file = written.groupBy("file_seq").count().collect()
    assert all(r["count"] <= 100 for r in per_file)
    assert len(per_file) == (n + 99) // 100

    # recovery: restart from the same checkpoint → no duplicates (seekLastTso)
    q2, sink2 = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, SF), out_dir, ckpt, rotate_rows=100
    )
    q2.awaitTermination(120)
    assert sink2._offset >= n
    assert spark.read.parquet(out_dir).count() == n, "replay duplicated rows"


def _stage_event_files(spark, tmpdir, cut_points):
    """Stage events.parquet as multiple files split at the given event_id
    cut points (maxFilesPerTrigger=1 → one micro-batch per file)."""
    import glob
    import os

    ev = normalize_event_ts(spark.read.parquet(SF + "/events.parquet"))
    src = tmpdir + "/src"
    os.makedirs(src)
    bounds = [0, *cut_points, 1_000_000_000]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        stage = tmpdir + f"/s{i}"
        part.coalesce(1).write.parquet(stage)
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0], f"{src}/e{i}.parquet")
        os.utime(f"{src}/e{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    stream = normalize_event_ts(stream)
    return derive_cdc_stream(spark, SF, events=stream)


def test_framed_sink_spanning_txn_single_envelope(spark, tmpdir):
    """A transaction split across micro-batches (cut at event_id 247 —
    mid-txn-49) must still be written as ONE contiguous BEGIN..COMMIT
    envelope: the sink carries open transactions across batches."""
    cdc = _stage_event_files(spark, tmpdir, cut_points=[247])
    q, sink = pipeline.run_binlog_pipeline(
        cdc, tmpdir + "/out", tmpdir + "/ckpt", frame_txns=True
    )
    q.awaitTermination(180)
    sink.flush()

    written = spark.read.parquet(tmpdir + "/out")
    counts = {r["action"]: r["n"] for r in written.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["BEGIN"] == 200 and counts["COMMIT"] == 200, counts
    assert sum(counts.values()) == 1000 + 400

    # global framing grammar across ALL batches, in offset order
    rows = written.select("offset", "action", "txn_id").orderBy("offset").collect()
    state, cur_txn, seen = "idle", None, set()
    for r in rows:
        if state == "idle":
            assert r["action"] == "BEGIN", r
            assert r["txn_id"] not in seen, f"txn {r['txn_id']} framed twice"
            seen.add(r["txn_id"])
            state, cur_txn = "open", r["txn_id"]
        elif r["action"] == "COMMIT":
            assert r["txn_id"] == cur_txn, r
            state = "idle"
        else:
            assert r["txn_id"] == cur_txn, r
    assert state == "idle"
    # the split txn specifically: 5 events inside one envelope
    t49 = written.filter(F.col("txn_id") == 49).orderBy("offset").collect()
    assert [r["action"] for r in t49][0] == "BEGIN" and [r["action"] for r in t49][-1] == "COMMIT"
    assert len(t49) == 7


def test_strict_sink_replay_vs_provable_disorder(spark, tmpdir):
    """strict mode: a recovery replay (rows already durable) passes; a row
    below the high-water mark that is NOT in the sink raises."""
    out = tmpdir + "/out"
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, SF), out, tmpdir + "/ckpt", rotate_rows=500
    )
    q.awaitTermination(120)

    cdc_cols = derive_cdc_stream(spark, SF)
    strict_sink = pipeline.BinlogSink(out, rotate_rows=500, strict=True)
    strict_sink.recover(spark)
    # pure replay: the first 100 events again — deduped, no error, no rows
    replay = cdc_cols.orderBy("tso").limit(100)
    before = spark.read.parquet(out).count()
    strict_sink(replay, batch_id=999)
    assert not strict_sink.disorder_errors
    assert spark.read.parquet(out).count() == before

    # provable disorder: a fabricated low-TSO row absent from the sink
    rogue = cdc_cols.orderBy("tso").limit(1).withColumn("tso", F.concat(F.lit("0"), F.col("tso")))
    with pytest.raises(RuntimeError, match="TSO disorder"):
        strict_sink(rogue, batch_id=1000)


@pytest.fixture(params=["one_part", "parts"])
def spread(request, spark):
    """Both sides of BinlogSink._emit's size selection: at the default
    confs a test batch goes to one part; a 1-byte minimum partition size
    range-partitions it into several (pipeline._spread_parts)."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old = spark.conf.get(key)
    if request.param == "parts":
        spark.conf.set(key, "1b")
    try:
        yield request.param
    finally:
        spark.conf.set(key, old)


def _sink_holding(spark, tmpdir, n_rows, strict=False):
    """A plain BinlogSink that already holds the first ``n_rows`` CDC
    rows in TSO order, and the CDC frame in TSO order."""
    cdc = derive_cdc_stream(spark, SF).orderBy("tso")
    sink = pipeline.BinlogSink(tmpdir + "/out", rotate_rows=150, strict=strict)
    sink.recover(spark)
    sink(cdc.limit(n_rows), batch_id=0)
    return sink, cdc


def _parquet_files(d):
    import os

    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d)
                  for f in fs if f.endswith(".parquet"))


def test_sink_mixed_batch_writes_new_rows_once_then_raises_disorder(spark, tmpdir, spread):
    """A batch of durable replays, new rows and one rogue low-TSO row
    absent from the sink, under strict=True: the new rows are written
    once with dense offsets, the marks advance past them, and then the
    sink raises "TSO disorder"."""
    sink, cdc = _sink_holding(spark, tmpdir, 300, strict=True)
    rogue = cdc.limit(1).withColumn("tso", F.concat(F.lit("0"), F.col("tso")))
    mixed = cdc.limit(400).unionByName(rogue)
    with pytest.raises(RuntimeError, match="TSO disorder"):
        sink(mixed, batch_id=1)

    rows = spark.read.parquet(sink.out_dir).select("offset", "tso").collect()
    want = [r["tso"] for r in cdc.limit(400).select("tso").collect()]
    assert sorted(r["offset"] for r in rows) == list(range(400))
    assert [r["tso"] for r in sorted(rows)] == want
    assert sink._offset == 400
    assert sink._last_tso == want[-1]
    assert len(sink.disorder_errors) == 1


def test_sink_pure_replay_batch_writes_nothing(spark, tmpdir, spread):
    """A batch whose rows are all durable already writes no file and
    changes neither mark, nor raises under strict=True."""
    sink, cdc = _sink_holding(spark, tmpdir, 300, strict=True)
    before, marks = _parquet_files(sink.out_dir), (sink._offset, sink._last_tso)
    sink(cdc.limit(200), batch_id=1)
    assert _parquet_files(sink.out_dir) == before
    assert (sink._offset, sink._last_tso) == marks
    assert not sink.disorder_errors


def test_sink_empty_batch_returns_and_writes_nothing(spark, tmpdir, spread):
    """A batch with no rows at all, watermark armed: adaptive execution
    prunes the empty write together with its observation, which Spark
    completes with an empty row. The sink must return, write no parquet
    file and change neither mark. ``limit(0)`` is empty at plan time
    (a zero size estimate: one part); the filter is empty only at run
    time, so it keeps its parent's estimate and takes either side."""
    import threading

    sink, cdc = _sink_holding(spark, tmpdir, 300)
    assert sink._last_tso
    before, marks = _parquet_files(sink.out_dir), (sink._offset, sink._last_tso)
    for batch_id, empty in enumerate([cdc.limit(0), cdc.filter(F.col("tso") < "0")], 1):
        errors: list[BaseException] = []

        def call():
            try:
                sink(empty, batch_id=batch_id)
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)

        t = threading.Thread(target=call, daemon=True)
        t.start()
        t.join(180)
        assert not t.is_alive(), "an empty batch blocked in BinlogSink"
        assert not errors, errors
        assert _parquet_files(sink.out_dir) == before
        assert (sink._offset, sink._last_tso) == marks


@pytest.mark.parametrize("frame_txns", [False, True])
def test_sink_parts_write_the_one_part_sink(spark, tmpdir, monkeypatch, frame_txns):
    """Both sides of the size selection write the same sink: three
    batches (the later ones re-deliver the earlier rows) through a sink
    kept in one part and through one range-partitioned into several give
    identical rows on offset, file_seq and every column."""
    cdc = derive_cdc_stream(spark, SF).orderBy("tso")
    n = cdc.count()
    batches = [cdc.limit(n // 3), cdc.limit(2 * n // 3), cdc]
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old = spark.conf.get(key)
    chosen: list[int] = []
    real = pipeline._spread_parts

    def spy(df):
        chosen.append(real(df))
        return chosen[-1]

    monkeypatch.setattr(pipeline, "_spread_parts", spy)

    def run(tag):
        sink = pipeline.BinlogSink(f"{tmpdir}/{tag}", rotate_rows=150,
                                   frame_txns=frame_txns, txn_gap_seconds=0)
        sink.recover(spark)
        for i, b in enumerate(batches):
            sink(b, batch_id=i)
        if frame_txns:
            sink.flush()
        rows = spark.read.parquet(f"{tmpdir}/{tag}").collect()
        return sorted(rows, key=lambda r: r["offset"]), sink._offset

    one, n_one = run("one")
    assert set(chosen) == {1}
    spark.conf.set(key, "1b")
    try:
        chosen.clear()
        parts, n_parts = run("parts")
    finally:
        spark.conf.set(key, old)
    assert min(chosen) > 1
    assert n_one == n_parts == len(one) > 0
    assert [r["offset"] for r in one] == list(range(len(one)))
    assert parts == one


def test_replica_sink_rewrites_only_touched_buckets(spark, tmpdir):
    """Incremental contract: a batch touching few keys rewrites only those
    keys' buckets; untouched bucket files stay byte-identical on disk."""
    import glob
    import os

    cdc = derive_cdc_stream(spark, SF).persist()
    sink = pipeline.ReplicaTableSink(tmpdir + "/state", n_buckets=16)
    # batch 0: everything → builds full state
    sink(cdc, batch_id=0)
    assert len(sink.last_rewritten_buckets) > 4  # keys spread across buckets
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(tmpdir + "/state/b*/v*/*.parquet")
    }
    full_state = sink.current(spark).collect()

    # batch 1: a single hot key — only that key's bucket may be rewritten
    one_key = cdc.orderBy("tso").limit(1)
    sink(one_key, batch_id=1)
    assert len(sink.last_rewritten_buckets) == 1
    files_after = {
        p: os.path.getmtime(p)
        for p in glob.glob(tmpdir + "/state/b*/v*/*.parquet")
    }
    untouched = set(files_before) & set(files_after)
    dirs_before = {os.path.dirname(p) for p in files_before}
    touched_dirs = {
        os.path.dirname(p) for p in set(files_before) - set(files_after)
    }
    # at most the single touched bucket's dir was superseded; every other
    # bucket keeps its exact files
    assert len(touched_dirs) <= 1
    assert {os.path.dirname(p) for p in untouched} == dirs_before - touched_dirs
    for p in untouched:
        assert files_before[p] == files_after[p]

    # merging an already-applied event is a no-op (idempotent retry)
    assert sorted(map(tuple, sink.current(spark).collect())) == sorted(map(tuple, full_state))
    cdc.unpersist()


def test_heartbeat_gate_force_completes_stalled_source(spark, tmpdir):
    """tryForceComplete parity: a window missing one source must still emit
    (force_completed=true) after the processing-time threshold instead of
    stalling the pipeline forever."""
    import glob
    import os
    import time

    ev = normalize_event_ts(spark.read.parquet(SF + "/events.parquet"))
    src = tmpdir + "/src"
    os.makedirs(src)
    # batch 0: drop one source (user_id % 4 == 3) from the whole stream —
    # every epoch is incomplete w.r.t. the 4-source topology
    part = ev.filter(F.col("user_id") % 4 != 3)
    stage = tmpdir + "/s0"
    part.coalesce(1).write.parquet(stage)
    shutil.copy(glob.glob(stage + "/part-*.parquet")[0], src + "/e0.parquet")

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    stream = normalize_event_ts(stream)
    cdc = derive_cdc_stream(spark, SF, events=stream)
    gate = pipeline.heartbeat_gate_stateful(cdc, n_sources=4, epoch="hour", force_timeout_ms=1)

    q = (
        gate.writeStream.format("memory")
        .queryName("hb_gate")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(processingTime="2 seconds")
        .start()
    )
    try:
        # batch 1 (empty-ish trigger after the timeout) fires the timeouts
        time.sleep(4)
        stage2 = tmpdir + "/s1"
        ev.filter(F.col("event_id") < 0).coalesce(1).write.parquet(stage2)  # empty file
        shutil.copy(glob.glob(stage2 + "/part-*.parquet")[0], src + "/e1.parquet")
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.table("hb_gate").collect()
            if rows:
                break
            time.sleep(2)
    finally:
        q.stop()
    rows = spark.table("hb_gate").collect()
    assert rows, "stalled windows never emitted"
    assert all(r["force_completed"] and not r["complete"] for r in rows)
    # the silenced source never appears; busy epochs see exactly 3 of 4
    assert all(1 <= r["sources_seen"] <= 3 for r in rows)
    assert max(r["sources_seen"] for r in rows) == 3


def test_align_stream_start_batch(spark):
    """Aligned start = max over sources of per-source min tso; every kept
    source begins at or after it."""
    from polardbx_cdc_spark.operators import merge as m

    cdc = derive_cdc_stream(spark, SF)
    starts = {
        r["source_id"]: r["mn"]
        for r in cdc.groupBy("source_id").agg(F.min("tso").alias("mn")).collect()
    }
    aligned = max(starts.values())
    kept = m.align_stream_start(cdc)
    got_min = kept.agg(F.min("tso")).collect()[0][0]
    assert got_min >= aligned
    n_expected = cdc.filter(F.col("tso") >= aligned).count()
    assert kept.count() == n_expected


def test_framed_sink_restart_no_duplicate_envelopes(spark, tmpdir):
    """Crash/restart semantics: the open-txn carry buffer is driver memory
    and dies with the writer; a recovered sink re-fed the whole stream must
    dedup at TRANSACTION granularity — every txn framed exactly once."""
    cdc = derive_cdc_stream(spark, SF).persist()
    out = tmpdir + "/out"

    first = cdc.filter(F.expr("txn_id * 5 + seq < 247"))  # mid-txn-49 cut
    sink1 = pipeline.BinlogSink(out, frame_txns=True)
    sink1(first, batch_id=0)  # closes old txns; txns near the tail stay pending

    # crash: pending lost. Fresh sink recovers from durable state only and
    # the source replays EVERYTHING (checkpoint loss = worst case).
    sink2 = pipeline.BinlogSink(out, frame_txns=True)
    sink2.recover(spark)
    sink2(cdc, batch_id=0)
    sink2.flush()

    written = spark.read.parquet(out)
    counts = {r["action"]: r["n"] for r in written.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["BEGIN"] == 200 and counts["COMMIT"] == 200, counts
    assert sum(counts.values()) == 1000 + 400
    # no txn appears under two envelopes
    per_txn = (
        written.filter(F.col("action") == "BEGIN").groupBy("txn_id").count().filter("count > 1").count()
    )
    assert per_txn == 0
    cdc.unpersist()


def test_framed_sink_replay_does_not_grow_pending(spark, tmpdir):
    """Re-delivery of already-durable transactions (recovery replay) must
    not re-enter the open-txn carry: under the pre-fix behavior each replay
    re-added every durable txn's events to _pending, growing the driver-
    checkpointed carry without bound."""
    cdc = derive_cdc_stream(spark, SF).persist()
    first = cdc.filter(F.expr("txn_id * 5 + seq < 247"))  # mid-txn-49 cut
    sink = pipeline.BinlogSink(tmpdir + "/out", frame_txns=True)
    sink(first, batch_id=0)
    assert sink._pending is not None
    open_after_0 = sink._pending.count()
    for replay_batch in (1, 2):
        sink(first, batch_id=replay_batch)
        assert sink._pending.count() == open_after_0, (
            f"pending carry grew on replay batch {replay_batch}"
        )
    sink.flush()
    written = spark.read.parquet(tmpdir + "/out")
    per_txn = (
        written.filter(F.col("action") == "BEGIN")
        .groupBy("txn_id").count().filter("count > 1").count()
    )
    assert per_txn == 0, "replay produced duplicate envelopes"
    cdc.unpersist()


def test_write_meta_ddl_emits_logical_form(spark, tmpdir):
    """Sink meta-DDL stream (writeMetaDdl parity): physical shard DDL goes
    in, logical DDL comes out — idempotent on replay, ordered by tso, and
    byte-equal to the driver-side to_logical_ddl twin."""
    from polardbx_cdc_spark.ddl import LOGICAL_DDL_FIXTURES, to_logical_ddl

    ddls = spark.createDataFrame(
        [(t, "db0", s) for t, s in LOGICAL_DDL_FIXTURES], "tso string, db string, ddl string"
    )
    out = tmpdir + "/binlog"
    n1 = pipeline.write_meta_ddl(spark, ddls, out)
    assert n1 == len(LOGICAL_DDL_FIXTURES)
    # replay: nothing at or below the high-water mark is rewritten
    assert pipeline.write_meta_ddl(spark, ddls, out) == 0

    emitted = spark.read.parquet(out + "/meta_ddl").orderBy("tso").collect()
    assert [r["tso"] for r in emitted] == [t for t, _ in LOGICAL_DDL_FIXTURES]
    for r, (tso, sql) in zip(emitted, LOGICAL_DDL_FIXTURES):
        assert r["action"] == "QUERY"
        assert r["physical_ddl"] == sql
        assert r["logical_ddl"] == to_logical_ddl(sql, tso)
        assert "DBPARTITION" not in r["logical_ddl"].split("\n")[-1].upper()


def test_subscribe_cdc_from_tso_through_merge_and_sink(spark, tmpdir):
    """Kafka-shaped adapter end-to-end: per-topic startingOffsets JSON →
    k-way merged, framed binlog sink; the sink must contain exactly the
    batch-derived events beyond each topic's offset, in TSO order."""
    import json

    batch = derive_cdc_stream(spark, SF)
    # mid-stream offsets: each subscribed topic resumes from its median
    # tso; dn-3 is NOT subscribed and must not appear at all
    topics = ["dn-0", "dn-1", "dn-2"]
    offsets = {}
    for t in topics:
        tsos = [r["tso"] for r in batch.filter(F.col("source_id") == t).orderBy("tso").collect()]
        offsets[t] = tsos[len(tsos) // 2]

    stream = source.subscribe_cdc(
        spark, SF, subscribe=",".join(topics), starting_offsets=json.dumps(offsets)
    )
    q, sink = pipeline.run_binlog_pipeline(
        stream, tmpdir + "/out", tmpdir + "/ckpt", rotate_rows=5000
    )
    q.awaitTermination(120)
    sink.flush()

    got = spark.read.parquet(tmpdir + "/out").filter(~F.col("action").isin("BEGIN", "COMMIT"))
    expected = batch.filter(F.col("source_id").isin(topics))
    from functools import reduce

    cond = reduce(
        lambda a, b: a | b,
        [(F.col("source_id") == t) & (F.col("tso") > offsets[t]) for t in topics],
    )
    expected = expected.filter(cond)
    assert got.count() == expected.count()
    assert got.filter(F.col("source_id") == "dn-3").count() == 0
    assert got.join(expected.select("tso"), "tso", "left_anti").count() == 0
    # sink offsets are dense and TSO-ordered (the global binlog contract)
    rows = got.select("offset", "tso").orderBy("offset").collect()
    assert all(rows[i]["tso"] <= rows[i + 1]["tso"] for i in range(len(rows) - 1))


def test_socket_live_ingest(spark, sf_dir):
    """End-to-end LIVE ingest: a real TCP server pushes JSON events; the
    socket CDC source must deliver the full canonical stream (count,
    topology fields, txn grouping) plus drop malformed lines."""
    import json
    import socket
    import threading
    import time

    from polardbx_cdc_spark.session import normalize_event_ts
    from polardbx_cdc_spark.streaming import source as src_mod

    ev = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    rows = ev.orderBy("event_id").limit(200).collect()
    lines = []
    for r in rows:
        ts = r["ts"]
        lines.append(
            json.dumps(
                {
                    "event_id": r["event_id"],
                    "ts": f"{ts:%Y-%m-%d %H:%M:%S}.{ts.microsecond:06d}",
                    "user_id": r["user_id"],
                    "event_type": r["event_type"],
                    "value": r["value"],
                    "props": r["props"],
                }
            )
        )
    lines.insert(0, "this is not json")  # poison line must be dropped, not fatal

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        stop.wait(60)  # keep the connection open until the query stops
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        cdc = src_mod.read_socket_cdc(spark, port=port, watermark="0 seconds")
        q = (
            cdc.writeStream.format("memory")
            .queryName("sock_cdc")
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if spark.sql("SELECT count(*) n FROM sock_cdc").collect()[0]["n"] >= 200:
                    break
                time.sleep(0.5)
            out = spark.sql("SELECT * FROM sock_cdc").collect()
        finally:
            q.stop()
    finally:
        stop.set()
        srv.close()

    assert len(out) == 200  # poison line dropped, all real events delivered
    assert {r["source_id"] for r in out} <= {f"dn-{i}" for i in range(4)}
    assert {r["action"] for r in out} <= {"INSERT", "UPDATE", "DELETE"}
    # txn grouping: every complete group of 5 consecutive events is one txn
    by_txn: dict[int, set[int]] = {}
    for r in out:
        by_txn.setdefault(r["txn_id"], set()).add(r["seq"])
    full = [t_ for t_, seqs in by_txn.items() if len(seqs) == 5]
    assert full and all(by_txn[t_] == {0, 1, 2, 3, 4} for t_ in full)
    # tso embeds the event-time micros: per source the stream is replayable
    # in order (tso strictly increasing when sorted)
    for sid in {r["source_id"] for r in out}:
        tsos = [r["tso"] for r in out if r["source_id"] == sid]
        assert len(set(tsos)) == len(tsos)


def test_streaming_continuous_validation_folds_to_table_checksum(spark, tmp_path):
    """Continuous validation in-stream: a CDC feed with true before/after
    images arrives over 3 micro-batches; foreachBatch XORs each batch's
    per-chunk delta into running state. The folded state must equal the
    per-chunk checksum of the final live table — no rescan ever needed."""
    import os

    from pyspark.sql import functions as F

    from polardbx_cdc_spark.operators import validation

    # coherent per-pk histories with explicit before images, split 3 ways
    history = {
        "1": [("INSERT", None, "10"), ("UPDATE", "10", "11"), ("UPDATE", "11", "12")],
        "2": [("INSERT", None, "20"), ("DELETE", "20", None)],
        "3": [("UPDATE", None, "30")],
        "70": [("INSERT", None, "70"), ("UPDATE", "70", "71")],
        "80": [("INSERT", None, "80"), ("DELETE", "80", None), ("INSERT", None, "81")],
    }
    events = []
    i = 0
    for pk, evs in history.items():
        for action, before, after in evs:
            events.append((pk, f"{i:019d}", action, before, after))
            i += 1
    batches = [events[0::3], events[1::3], events[2::3]]  # interleaved lanes

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "pk string, tso string, action string, before_img string, after_img string"
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)

    state: dict[int, int] = {}

    def fold(batch_df, batch_id):
        for r in validation.checksum_delta(batch_df, 64).collect():
            state[r["chunk_id"]] = state.get(r["chunk_id"], 0) ^ r["delta"]

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # final live table: last after image per pk where not deleted
    final = [(pk, evs[-1][2]) for pk, evs in history.items() if evs[-1][2] is not None]
    direct = {
        r["chunk_id"]: r["checksum"]
        for r in spark.createDataFrame(final, "pk string, img string")
        .select(
            F.expr("cast(pk as bigint) div 64").alias("chunk_id"),
            F.conv(F.substring(F.md5(F.concat_ws(",", "pk", "img")), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .groupBy("chunk_id")
        .agg(F.expr("bit_xor(h)").alias("checksum"))
        .collect()
    }
    live_state = {k: v for k, v in state.items() if v != 0}
    assert live_state == direct


def test_curation_tier_runs_unchanged_on_streams(spark, tmp_path):
    """The LLM-tier MAP-ONLY operators (PII scrub, k-means assignment,
    PQ encode) are plain Catalyst projections, so the SAME functions run
    on a readStream frame without modification — and produce exactly the
    batch results. This is the 100 TB deployment shape: scrub/cluster/
    compress documents as they arrive, not in a second batch pass.
    (Aggregating ops like quality_filter need the watermarked-window
    streaming variants; the scan-shaped tier needs nothing.)"""
    import os

    from pyspark.sql import functions as F

    from polardbx_cdc_spark.functions import clustering, curation

    # batch reference
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = clustering.pq_train(vecs, m=2, k=4, n_iter=1)
    cents, _ = clustering.kmeans_fit(vecs, k=4, n_iter=1)

    batch_q = {
        r["doc_id"]: (r["scrubbed_text"], r["n_email"], r["n_ip"], r["n_phone"])
        for r in curation.pii_scrub(docs).collect()
    }
    batch_a = {
        (r["vec_id"]): (r["cluster_id"], tuple(r["codes"]))
        for r in clustering._assign(clustering.quantize_vectors(vecs), cents)
        .select("vec_id", "cluster_id")
        .join(clustering.pq_encode(vecs, books), "vec_id")
        .collect()
    }

    # identical functions over streaming frames
    from polardbx_cdc_spark.streaming.source import _as_stream_dir

    doc_stream = spark.readStream.schema(docs.schema).parquet(
        _as_stream_dir("/root/testdata/sf0.001", "documents")
    )
    vec_stream = spark.readStream.schema(vecs.schema).parquet(
        _as_stream_dir("/root/testdata/sf0.001", "embeddings")
    )
    q1 = (
        curation.pii_scrub(doc_stream)
        .select("doc_id", "scrubbed_text", "n_email", "n_ip", "n_phone")
        .writeStream.format("memory")
        .queryName("stream_quality")
        .trigger(availableNow=True)
        .start()
    )
    # one map-only projection computes both (no stream-stream join needed)
    q_frame = clustering.quantize_vectors(vec_stream)
    dim_sub = len(books[0][0][1])
    code_cols = F.array(
        *[
            clustering._nearest(
                clustering._subvec(F.col("qv"), s_i * dim_sub, (s_i + 1) * dim_sub), bk
            ).getField("cid")
            for s_i, bk in enumerate(books)
        ]
    )
    fused = clustering._assign(q_frame, cents).select(
        "vec_id", "cluster_id", code_cols.alias("codes")
    )
    q2 = (
        fused.writeStream.format("memory")
        .queryName("stream_cluster")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    stream_q = {
        r["doc_id"]: (r["scrubbed_text"], r["n_email"], r["n_ip"], r["n_phone"])
        for r in spark.sql("select * from stream_quality").collect()
    }
    stream_a = {
        r["vec_id"]: (r["cluster_id"], tuple(r["codes"]))
        for r in spark.sql("select * from stream_cluster").collect()
    }
    assert stream_q == batch_q and len(stream_q) > 0
    assert stream_a == batch_a and len(stream_a) > 0


def test_compact_binlog_preserves_content_and_reduces_files(spark, sf_dir, tmp_path):
    """Compaction must shrink the per-file_seq file count while keeping the
    sink's frame bit-identical (same rows, same offsets/order) and the
    downstream read path (read_binlog) working."""
    import glob
    import os

    from polardbx_cdc_spark.streaming import pipeline, source

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, sf_dir), out, ckpt, rotate_rows=500
    )
    q.awaitTermination(300)

    # simulate days of micro-batch accumulation: shatter each partition
    # into 5 small files (identical content, fragmented layout)
    import shutil

    for part_dir in glob.glob(os.path.join(out, "file_seq=*")):
        staged = part_dir + ".frag"
        spark.read.parquet(part_dir).repartition(5).write.mode("overwrite").parquet(staged)
        shutil.rmtree(part_dir)
        os.rename(staged, part_dir)

    before = spark.read.parquet(out).orderBy("file_seq", "offset", "tso").collect()
    files_before = len(glob.glob(os.path.join(out, "file_seq=*", "*.parquet")))

    stats = pipeline.compact_binlog(spark, out, max_files_per_seq=1)
    files_after = len(glob.glob(os.path.join(out, "file_seq=*", "*.parquet")))
    after = spark.read.parquet(out).orderBy("file_seq", "offset", "tso").collect()

    assert files_after < files_before
    assert files_after == len(glob.glob(os.path.join(out, "file_seq=*")))
    assert stats["partitions_compacted"] > 0
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    assert not glob.glob(os.path.join(out, "*.pre_compact"))
    assert source.read_binlog(spark, out).count() > 0


def test_replica_sink_time_travel_and_vacuum(spark, tmp_path):
    """keep_history mode: every commit is a readable snapshot (as_of),
    vacuum reclaims everything older than the retained window and keeps
    the recent snapshots readable."""
    from pyspark.sql import Row

    from polardbx_cdc_spark.streaming.pipeline import ReplicaTableSink

    sink = ReplicaTableSink(str(tmp_path / "tbl"), keys=("pk",), n_buckets=4, keep_history=True)

    def batch(rows, bid):
        df = spark.createDataFrame(
            [Row(pk=p, tso=f"{t:048d}", action=a, value=float(v)) for p, t, a, v in rows]
        )
        sink(df, bid)

    batch([("1", 1, "INSERT", 10), ("2", 2, "INSERT", 20)], 0)
    batch([("1", 3, "UPDATE", 11), ("3", 4, "INSERT", 30)], 1)
    batch([("2", 5, "DELETE", 20)], 2)

    assert len(sink.snapshots()) == 3
    s0 = {r["pk"]: r["value"] for r in sink.as_of(spark, 0).collect()}
    s1 = {r["pk"]: r["value"] for r in sink.as_of(spark, 1).collect()}
    s2 = {r["pk"]: r["value"] for r in sink.as_of(spark, -1).collect()}
    cur = {r["pk"]: r["value"] for r in sink.current(spark).collect()}
    assert s0 == {"1": 10.0, "2": 20.0}
    assert s1 == {"1": 11.0, "2": 20.0, "3": 30.0}
    assert s2 == cur == {"1": 11.0, "3": 30.0}

    removed = sink.vacuum(retain_last=2)
    assert removed > 0
    # retained window still readable and correct
    snaps = sink.snapshots()
    assert len(snaps) == 2
    s_old = {r["pk"]: r["value"] for r in sink.as_of(spark, 0).collect()}
    assert s_old == s1  # oldest retained == former snapshot 1
    assert {r["pk"]: r["value"] for r in sink.current(spark).collect()} == cur


def test_stream_static_dim_enrichment_matches_batch(spark, sf_dir):
    """Stream-static enrichment (the CDC→warehouse join pattern): the live
    CDC stream left-joins a broadcast dimension table per micro-batch and
    must produce exactly the batch join's result. At 100 TB the dim ships
    once per executor (broadcast); the stream side never shuffles."""
    from pyspark.sql import functions as F

    from polardbx_cdc_spark.model import derive_cdc_stream
    from polardbx_cdc_spark.session import load_table
    from polardbx_cdc_spark.streaming import source as src_mod

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("pk"), "c_mktsegment"
    )

    enriched_stream = src_mod.cdc_stream(spark, sf_dir).join(F.broadcast(dim), "pk", "left")
    q = (
        enriched_stream.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("dim_enriched")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["c_mktsegment"]: r["n"] for r in spark.sql("select * from dim_enriched").collect()}

    want = {
        r["c_mktsegment"]: r["n"]
        for r in derive_cdc_stream(spark, sf_dir)
        .join(F.broadcast(dim), "pk", "left")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 1


def test_stream_stream_ack_join_lag_and_lost(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join (match_with_acks): acks
    inside the SLA window match with their lag; events whose ack never
    arrives emit with NULL once the watermark passes their window. Run 1
    processes the real data (matches emit immediately); run 2 feeds a
    far-future sentinel through the same checkpoint so the watermark
    passes every real event and flushes the unmatched state — the
    continuous lost-event report."""
    import os

    from pyspark.sql import functions as F

    from polardbx_cdc_spark.model import derive_cdc_stream
    from polardbx_cdc_spark.streaming.pipeline import match_with_acks

    sf = "/root/testdata/sf0.001"
    cdc = derive_cdc_stream(spark, sf).select("tso", "db", "tbl", "pk", "ts")
    # deterministic ack stream: every event acks 0-6 minutes later, except
    # event_ids ending in 0 (txn*5+seq reconstructs event_id) — lost
    eid = F.expr("CAST(substr(tso, 20, 19) AS BIGINT) * 5 + CAST(substr(tso, 39, 10) AS BIGINT)")
    base = cdc.withColumn("_eid", eid)
    acks = (
        base.filter(F.col("_eid") % 10 != 0)
        .select(
            "tso",
            (F.col("ts") + F.make_interval(mins=(F.col("_eid") % 7).cast("int"))).alias(
                "ack_ts"
            ),
        )
    )
    src_dir, ack_dir = str(tmp_path / "src"), str(tmp_path / "ack")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    base.drop("_eid").write.parquet(src_dir)
    acks.write.parquet(ack_dir)

    def run():
        s = spark.readStream.schema(
            "tso string, db string, tbl string, pk string, ts timestamp"
        ).parquet(src_dir)
        a = spark.readStream.schema("tso string, ack_ts timestamp").parquet(ack_dir)
        q = (
            match_with_acks(s, a, within="10 minutes", watermark="5 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    # sentinel far past every real event pushes the watermark → flush
    max_ts = cdc.agg(F.max("ts")).collect()[0][0]
    sent = spark.createDataFrame(
        [("9" * 48, "dbx", "tx", "px", max_ts)],
        "tso string, db string, tbl string, pk string, ts timestamp",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 DAYS"))
    sent.write.mode("append").parquet(src_dir)
    sent.select("tso", F.col("ts").alias("ack_ts")).write.mode("append").parquet(ack_dir)
    run()

    got = spark.read.parquet(out_dir).filter(F.col("db") != "dbx")
    rows = {r["tso"]: r["lag_ms"] for r in got.collect()}
    exp = {
        r["tso"]: (None if r["_eid"] % 10 == 0 else int(r["_eid"] % 7) * 60000)
        for r in base.collect()
    }
    n_lost_exp = sum(1 for v in exp.values() if v is None)
    assert len(rows) == len(exp), (len(rows), len(exp))
    assert rows == exp
    assert sum(1 for v in rows.values() if v is None) == n_lost_exp > 0


def test_compact_binlog_x_layout(spark, tmpdir):
    """compact_binlog also maintains the Binlog-X layout: every
    stream_id=*/file_seq=* partition's small files compact to one,
    content/order bit-preserved per stream."""
    import glob
    import os

    from polardbx_cdc_spark.operators import routing

    import shutil

    cfg = routing.StreamRoutingConfig(stream_count=3)
    q, sink = pipeline.run_binlog_x_pipeline(
        source.cdc_stream(spark, SF),
        cfg, tmpdir + "/out", tmpdir + "/ckpt", rotate_rows=200,
    )
    q.awaitTermination(180)

    # shatter each per-stream partition into small files (micro-batch
    # accumulation), same as the single-stream compaction test
    for part in glob.glob(tmpdir + "/out/stream_id=*/file_seq=*"):
        staged = part + ".frag"
        spark.read.parquet(part).repartition(4).write.mode("overwrite").parquet(staged)
        shutil.rmtree(part)
        os.rename(staged, part)

    before = spark.read.parquet(tmpdir + "/out")
    rows_before = sorted(
        (r["stream_id"], r["offset"], r["tso"]) for r in before.collect()
    )
    n_parts = len(glob.glob(tmpdir + "/out/stream_id=*/file_seq=*"))
    assert n_parts > 0
    stats = pipeline.compact_binlog(spark, tmpdir + "/out")
    assert stats["files_after"] <= stats["files_before"]
    after = spark.read.parquet(tmpdir + "/out")
    rows_after = sorted(
        (r["stream_id"], r["offset"], r["tso"]) for r in after.collect()
    )
    assert rows_after == rows_before
    for part in glob.glob(tmpdir + "/out/stream_id=*/file_seq=*"):
        assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) <= 1


def test_watermark_bootstrap_seeds_replica_then_live_stream_converges(spark, tmpdir):
    """The 100 TB bootstrap flow end to end: a chunked copy taken DURING
    the stream (DBLog watermark windows) seeds the replica state table as
    batch 0, then the live stream applies in micro-batches on top — the
    final replica equals a ground-truth replay of (pre-existing rows ∪
    full log). No quiesce, no reconciliation pass, and the replica sink's
    idempotent upsert absorbs the chunk/log overlap."""
    from pyspark.sql import functions as F

    from polardbx_cdc_spark import queries as Q
    from polardbx_cdc_spark.operators import apply as apply_ops

    sf = SF
    cdc = derive_cdc_stream(spark, sf).persist()
    base = Q._wm_base(spark, sf)
    wm = Q._wm_watermarks(spark)
    ce = Q._wm_chunk_expr()

    chunks = apply_ops.simulate_chunk_reads(base, cdc, wm, ce)
    surv = apply_ops.watermark_interleave(chunks, cdc, wm, ce)

    sink = pipeline.ReplicaTableSink(tmpdir + "/replica", n_buckets=8)
    sink(surv, batch_id=0)  # seed: the watermark-merged chunk copy
    # live stream in 3 tso-ordered micro-batches (full log: the copy ran
    # mid-stream, so early batches REPLAY events the chunks already
    # reflect — the upsert must absorb them)
    cdc_sorted = cdc.select("db", "tbl", "pk", "tso", "action", "value")
    n_batches = 3
    rows_per = cdc_sorted.count() // n_batches + 1
    ordered = cdc_sorted.orderBy("tso").collect()
    for i in range(n_batches):
        part = ordered[i * rows_per : (i + 1) * rows_per]
        if not part:
            continue
        bdf = spark.createDataFrame(part, cdc_sorted.schema)
        sink(bdf, batch_id=i + 1)

    got = {
        (r["db"], r["tbl"], r["pk"], r["value"])
        for r in sink.current(spark).select("db", "tbl", "pk", "value").collect()
    }
    expected = apply_ops.replay_to_state(
        base.select(
            "db", "tbl", "pk",
            F.lit("0" * 48).alias("tso"),
            F.lit("INSERT").alias("action"),
            "value",
        ).unionByName(cdc_sorted)
    ).select("db", "tbl", "pk", "value")
    exp = {tuple(r) for r in expected.collect()}
    cdc.unpersist()
    assert got == exp and len(got) > 0


def test_session_windows_stream_parity_with_batch(spark):
    """Native session windows run on the STREAM (watermark + append
    mode): every emitted closed session must exist identically in the
    batch computation, and nearly all sessions close under a bounded
    watermark — the stateful sessionization operator at 100 TB, state
    evicted as the watermark passes each gap."""
    from pyspark.sql import functions as F

    from polardbx_cdc_spark.session import load_table
    from polardbx_cdc_spark.streaming.source import _as_stream_dir

    ev = load_table(spark, SF, "events")
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .collect()
    }

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(_as_stream_dir(SF, "events"))
        .withWatermark("ts", "30 minutes")
    )
    q = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql("select * from sess_stream").collect()
    }
    assert got  # sessions actually closed and emitted
    assert got <= batch, f"{len(got - batch)} emitted sessions disagree with batch"
    assert len(got) / len(batch) > 0.9  # only the watermark tail stays open


def test_wire_stream_tails_relay_directory(spark, tmp_path):
    """Structured Streaming over a wire-file relay directory: the first
    availableNow pass consumes the landed files; files appearing later
    stream through the SAME checkpoint exactly once; rows equal the
    batch attach path (read_wire_binlog) column-for-column."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark.streaming import source

    wire = str(tmp_path / "relay")
    os.makedirs(wire)
    td = W.TableDef("d", "t", [(W.TYPE_VARCHAR, 64), (W.TYPE_DOUBLE, 8)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(
        wire + "/binlog.000001",
        [W.encode_query("", "BEGIN"), rows_event([["1", 1.0], ["2", 2.0]]),
         W.encode_xid(11)],
        next_file="binlog.000002",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            source.wire_stream(spark, wire)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert sorted(
        r["pk"] for r in got.filter("kind = 'INSERT'").collect()
    ) == ["1", "2"]
    assert got.filter("kind = 'COMMIT' AND xid = 11").count() == 1

    # batch-path equality on the same directory
    batch = W.read_wire_binlog(spark, wire)
    cols = ["file_name", "pos", "kind", "db", "tbl", "pk", "value", "xid"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, batch.select(cols).collect())
    )

    # a NEW rotation-complete file (payload-compressed) lands: the next
    # pass over the same checkpoint delivers exactly its rows
    body = [W.encode_query("", "BEGIN"), rows_event([["3", 3.0]]),
            W.encode_xid(12)]
    W.write_binlog_file(
        wire + "/binlog.000002", [W.encode_transaction_payload(body)]
    )
    run_once()
    got2 = spark.read.parquet(out)
    assert sorted(
        r["pk"] for r in got2.filter("kind = 'INSERT'").collect()
    ) == ["1", "2", "3"]
    assert got2.filter("kind = 'COMMIT'").count() == 2


def test_continuous_wire_export_with_flags(spark, sf_dir, tmp_path):
    """run_binlog_pipeline(wire_dir=, wire_flags=): every micro-batch
    renders GTID-framed, transaction-compressed wire files continuously;
    a GTID auto-position replica attaches to the live output and the
    relay decodes to the sink's rows."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark import mysql_dump as M
    from polardbx_cdc_spark.streaming import pipeline, source

    tmpdir = str(tmp_path)
    out, wire = tmpdir + "/binlog", tmpdir + "/wire"
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, sf_dir), out, tmpdir + "/ckpt",
        rotate_rows=400, frame_txns=True, wire_dir=wire,
        wire_flags={"emit_gtid": True, "compress_txns": True},
    )
    q.awaitTermination(120)
    sink.flush()
    sink._export_wire(spark)  # post-flush tail render

    files = sorted(f for f in os.listdir(wire) if f.startswith("binlog."))
    assert files
    kinds = [e["type"] for e in W.read_binlog_file(os.path.join(wire, files[0]))]
    assert W.PREVIOUS_GTIDS_LOG_EVENT in kinds
    assert W.TRANSACTION_PAYLOAD_EVENT in kinds

    with M.MySQLDumpServer(wire) as srv:
        host, port = srv.address
        relay = M.binlog_dump_gtid_fetch(host, port, {})
    evs = W.expand_payload_events(W.decode_events(relay))
    n_rows = sum(len(e["rows"]) for e in evs if e["type"] in W.ROWS_EVENTS)
    from pyspark.sql import functions as F

    expected = (
        spark.read.parquet(out)
        .filter(F.col("action").isin("INSERT", "UPDATE", "DELETE"))
        .count()
    )
    assert n_rows == expected


def test_relay_stage_tail_feeds_wire_stream_without_loss(spark, tmp_path):
    """relay_copy(stage_tail=True) + wire_stream: the growing chain tail
    stays hidden (underscore-staged) until its successor starts, so the
    streaming consumer NEVER half-reads a file — bytes appended to the
    tail between passes are not lost (the file-source consumes each path
    exactly once)."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark import dump_server as D
    from polardbx_cdc_spark.streaming import source

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    os.makedirs(src)
    td = W.TableDef("d", "t", [(W.TYPE_VARCHAR, 64), (W.TYPE_DOUBLE, 8)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(src + "/binlog.000001", [rows_event([["1", 1.0]])],
                        next_file="binlog.000002")
    W.write_binlog_file(src + "/binlog.000002", [rows_event([["2", 2.0]])])

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def stream_once():
        q = (
            source.wire_stream(spark, dst)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    with D.DumpServer(src) as srv:
        host, port = srv.address
        D.relay_copy(host, port, dst, stage_tail=True)
        # the chain tail (000002) is staged out of view; 000001 visible
        assert sorted(os.listdir(dst)) == [
            "_binlog.000002.inprogress", "binlog.000001"
        ]
        stream_once()
        got = spark.read.parquet(out)
        assert sorted(r["pk"] for r in got.filter("kind='INSERT'").collect()) == ["1"]

        # the tail GROWS after the first stream pass — the appended row
        # must not be lost when the file later becomes visible
        with open(src + "/binlog.000002", "ab") as fh:
            fh.write(rows_event([["3", 3.0]]))
        W.write_binlog_file(src + "/binlog.000003", [rows_event([["4", 4.0]])])
        D.relay_copy(host, port, dst, stage_tail=True)
        assert "binlog.000002" in os.listdir(dst)  # finalized, complete
        stream_once()
        got = spark.read.parquet(out)
        assert sorted(r["pk"] for r in got.filter("kind='INSERT'").collect()) == [
            "1", "2", "3"
        ]  # row 3 arrived WITH its file; row 4 still staged in the tail
        assert "_binlog.000003.inprogress" in os.listdir(dst)


def test_full_standby_topology_converges_to_master_state(spark, sf_dir, tmp_path):
    """Capstone: master pipeline renders wire files → dump server serves
    them → relay_copy maintains a standby directory (staged tail) →
    wire_stream consumes it → last-image collapse = the replica's final
    table state, equal to the master's own collapse over its sink. The
    reference's full master→standby→replica topology in one test."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from polardbx_cdc_spark import dump_server as D
    from polardbx_cdc_spark.streaming import pipeline, source

    tmpdir = str(tmp_path)
    out, wire, relay = tmpdir + "/binlog", tmpdir + "/wire", tmpdir + "/relay"
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, sf_dir), out, tmpdir + "/ckpt",
        rotate_rows=300, frame_txns=True, wire_dir=wire,
    )
    q.awaitTermination(120)
    sink.flush()
    sink._export_wire(spark)

    with D.DumpServer(wire) as srv:
        host, port = srv.address
        D.relay_copy(host, port, relay, stage_tail=True)

    sq = (
        source.wire_stream(spark, relay)
        .writeStream.format("parquet")
        .option("path", tmpdir + "/replica_feed")
        .option("checkpointLocation", tmpdir + "/sckpt")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)

    def last_image(df):
        w = Window.partitionBy("db", "tbl", "pk").orderBy(
            F.desc("file_name"), F.desc("pos")
        )
        return (
            df.filter(F.col("kind").isin("INSERT", "UPDATE", "DELETE"))
            .withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1 AND kind <> 'DELETE'")
            .select("db", "tbl", "pk", "value")
        )

    # replica state from the STREAMED relay; master state from its own
    # wire files (minus the staged tail, which the stream can't see yet)
    visible = sorted(
        f for f in os.listdir(relay) if f.startswith("binlog.")
    )
    from polardbx_cdc_spark import binlog_wire as W

    master = W.read_wire_binlog(spark, wire).filter(
        F.col("file_name").isin(visible)
    )
    replica = spark.read.parquet(tmpdir + "/replica_feed")
    a = last_image(master).orderBy("db", "tbl", "pk").collect()
    b = last_image(replica).orderBy("db", "tbl", "pk").collect()
    assert a == b and len(a) > 0


def test_wire_stream_per_stream_chain(spark, tmp_path):
    """Binlog-X standby tailing: wire_stream(stream=) consumes exactly
    one per-stream chain (the layout relay_copy(stream=) replicates)."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark.streaming import source

    wire = str(tmp_path / "xwire")
    os.makedirs(wire)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None), (W.TYPE_DOUBLE, 8)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(wire + "/binlog-x-s0.000001",
                        [rows_event([["1", 1.0], ["2", 2.0]])])
    W.write_binlog_file(wire + "/binlog-x-s1.000001",
                        [rows_event([["9", 9.0]])])
    out = str(tmp_path / "out")
    q = (
        source.wire_stream(spark, wire, stream="s0")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert {r["file_name"] for r in rows} == {"binlog-x-s0.000001"}
    assert sorted(r["pk"] for r in rows if r["kind"] == "INSERT") == ["1", "2"]


def test_binlog_x_standby_topology_per_stream(spark, sf_dir, tmp_path):
    """Binlog-X capstone: master renders PER-STREAM wire chains → one
    relay_copy(stream=) per stream maintains the standby → one
    wire_stream(stream=) per stream consumes it — and the union of the
    per-stream replicas equals the single-stream topology's state (the
    routing is a partition of the events, never a filter)."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark import dump_server as D
    from polardbx_cdc_spark.operators import routing
    from polardbx_cdc_spark.streaming import pipeline, source

    tmpdir = str(tmp_path)
    cfg = routing.StreamRoutingConfig(stream_count=2, default_level="TABLE")
    q, sink = pipeline.run_binlog_x_pipeline(
        source.cdc_stream(spark, sf_dir), cfg,
        tmpdir + "/xout", tmpdir + "/xckpt",
    )
    q.awaitTermination(120)
    wire = tmpdir + "/xwire"
    W.export_wire_files_x(spark, tmpdir + "/xout", wire)  # eager since round 9: files land before return
    streams = sorted({
        f.split(".")[0].removeprefix("binlog-x-")
        for f in os.listdir(wire) if f.startswith("binlog-x-")
    })
    assert len(streams) == 2

    relay = tmpdir + "/xrelay"
    with D.DumpServer(wire) as srv:
        host, port = srv.address
        for s in streams:
            D.relay_copy(host, port, relay, stream=s)

    for s in streams:
        sq = (
            source.wire_stream(spark, relay, stream=s)
            .writeStream.format("parquet")
            .option("path", f"{tmpdir}/feed_{s}")
            .option("checkpointLocation", f"{tmpdir}/fckpt_{s}")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination(120)

    union = spark.read.parquet(*[f"{tmpdir}/feed_{s}" for s in streams])
    # per-(db,tbl,pk) last image: ordering within a key is per-stream
    # (routing pins a table to ONE stream at TABLE level), so the
    # per-stream (file_name, pos) order is authoritative per key
    w = Window.partitionBy("db", "tbl", "pk").orderBy(
        F.desc("file_name"), F.desc("pos")
    )
    replica = (
        union.filter(F.col("kind").isin("INSERT", "UPDATE", "DELETE"))
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1 AND kind <> 'DELETE'")
        .select("db", "tbl", "pk", "value")
    )
    # ground truth: last image straight from the routed sink parquet
    sink_df = spark.read.parquet(tmpdir + "/xout")
    w2 = Window.partitionBy("db", "tbl", "pk").orderBy(F.desc("tso"))
    truth = (
        sink_df.withColumn("_rn", F.row_number().over(w2))
        .filter("_rn = 1 AND action <> 'DELETE'")
        .select("db", "tbl", "pk", "value")
    )
    a = replica.orderBy("db", "tbl", "pk").collect()
    b = truth.orderBy("db", "tbl", "pk").collect()
    assert len(a) > 0 and a == b


def test_wire_stream_integer_stream_zero(spark, tmp_path):
    """Round-9 find: stream id 0 (a perfectly valid Binlog-X stream) is
    falsy — `wire_stream(stream=0)` must tail binlog-x-0.*, never fall
    back to the global binlog.* glob and silently read nothing."""
    import os

    from polardbx_cdc_spark import binlog_wire as W

    wire = str(tmp_path / "z")
    os.makedirs(wire)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])
    ev = W.encode_table_map(3, td) + W.encode_rows_event(
        W.WRITE_ROWS_EVENT, 3, td, [[1], [2]]
    )
    W.write_binlog_file(wire + "/binlog-x-0.000001", [ev])
    q = (
        source.wire_stream(spark, wire, stream=0)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "o"))
    assert got.filter(got.kind == "INSERT").count() == 2


def test_disorder_probe_folded_into_stats_pass(spark, tmpdir, monkeypatch):
    """The disorder probe costs a steady batch nothing: a batch with the
    watermark set and zero replay rows must trigger NO DataFrame.count()
    job at all — the suspect count arrives in the Observation on _emit's
    ordered write — while a batch WITH replay rows still runs the durable
    anti-join and dedups correctly."""
    from pyspark.sql import DataFrame

    cdc = derive_cdc_stream(spark, SF).persist()
    try:
        first = cdc.orderBy("tso").limit(200)
        out = tmpdir + "/out"
        sink = pipeline.BinlogSink(out, rotate_rows=500)
        sink.recover(spark)
        sink(first, batch_id=0)
        assert sink._last_tso  # watermark armed: probes active from here

        calls: list[int] = []
        orig_count = DataFrame.count

        def spy(self):
            calls.append(1)
            return orig_count(self)

        monkeypatch.setattr(DataFrame, "count", spy)
        # steady state: strictly newer rows, no suspects
        nxt = cdc.filter(F.col("tso") > sink._last_tso).orderBy("tso").limit(200)
        sink(nxt, batch_id=1)
        assert calls == [], "steady-state batch ran an extra count() job"
        assert not sink.disorder_errors

        # replay batch: old rows mixed with new ones — the folded probe
        # must still classify them as durable replays (no error) and
        # write only the genuinely-new rows exactly once
        monkeypatch.setattr(DataFrame, "count", orig_count)
        # everything durable so far (400 rows) + the next 100 new rows
        mixed = cdc.orderBy("tso").limit(500)
        before = spark.read.parquet(out).count()
        assert before == 400
        sink(mixed, batch_id=2)
        assert not sink.disorder_errors  # replays are durable: not disorder
        after_df = spark.read.parquet(out)
        assert after_df.count() == before + 100
        # offsets stay dense across the folded path
        n_total = after_df.count()
        offs = sorted(r["offset"] for r in after_df.select("offset").collect())
        assert offs == list(range(n_total))
    finally:
        cdc.unpersist()


def test_spool_segments_splits_decode_standalone(tmpdir):
    """dump_server.spool_segments: segments split only at event
    boundaries, every segment decodes standalone, and the concatenation
    is byte-identical to the input blob."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark.dump_server import spool_segments

    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])
    blob = bytearray()
    for txn in range(40):
        blob += W.encode_query("", "BEGIN")
        blob += W.encode_table_map(3, td)
        blob += W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, [[txn * 10 + i] for i in range(5)]
        )
        blob += W.encode_xid(txn)
    spool = tmpdir + "/spool"
    n = spool_segments(bytes(blob), spool, seg_limit=2048)
    assert n > 1  # the limit actually split
    parts = sorted(os.listdir(spool))
    assert parts == [f"segment_{i:06d}.bin" for i in range(n)]
    joined = bytearray()
    total_rows = 0
    for p in parts:
        seg = open(os.path.join(spool, p), "rb").read()
        evs = W.decode_events(seg)  # standalone decode must not raise
        total_rows += sum(
            len(e["rows"]) for e in evs if e["type"] == W.WRITE_ROWS_EVENT
        )
        joined += seg
    assert bytes(joined) == bytes(blob)
    assert total_rows == 200


def test_spool_segments_carry_fde_and_decode_none_streams(tmpdir):
    """r11: every segment OPENS with the stream's FDE (relay-log writer
    contract), so segments are self-describing down to the checksum
    algorithm — a binlog_checksum=NONE master's trailer-less frames
    decode standalone because the carried FDE discloses alg=0."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark.dump_server import spool_segments
    from polardbx_cdc_spark.mysql_dump import _strip_frame_crc

    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])
    frames = [W.encode_fde()]
    for txn in range(40):
        frames += [
            W.encode_query("", "BEGIN"),
            W.encode_table_map(3, td),
            W.encode_rows_event(
                W.WRITE_ROWS_EVENT, 3, td, [[txn * 10 + i] for i in range(5)]),
            W.encode_xid(txn),
        ]
    # NONE-wire shape: strip every frame like the dump endpoint does
    blob = b"".join(_strip_frame_crc(f) for f in frames)
    spool = tmpdir + "/spool_none"
    n = spool_segments(blob, spool, seg_limit=1500)
    assert n > 1
    total_rows = 0
    for p in sorted(os.listdir(spool)):
        seg = open(os.path.join(spool, p), "rb").read()
        # self-describing: segment starts with the (stripped) FDE
        assert seg[4] == W.FORMAT_DESCRIPTION_EVENT
        evs = W.decode_events(seg)  # trailer-less decode must not raise
        assert evs[0]["checksum_alg"] == 0
        total_rows += sum(
            len(e["rows"]) for e in evs if e["type"] == W.WRITE_ROWS_EVENT
        )
    assert total_rows == 200


@pytest.mark.parametrize("checksum", ["CRC32", "NONE"])
def test_spool_segments_per_core_limit_writes_at_most_n(tmpdir, checksum):
    """``seg_limit = ceil(len(blob) / n)`` lands at most n segments (one
    decode task per core, never a tiny extra one): the FDE carried into
    each segment does not count toward the limit. Both checksum shapes
    open with an FDE; a second FDE mid-blob is a chain-file hop."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark.dump_server import spool_segments
    from polardbx_cdc_spark.mysql_dump import _strip_frame_crc

    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])
    frames = []
    for txn in range(60):
        if txn % 30 == 0:
            frames.append(W.encode_fde())
        frames += [
            W.encode_query("", "BEGIN"),
            W.encode_table_map(3, td),
            W.encode_rows_event(W.WRITE_ROWS_EVENT, 3, td, [[txn]]),
            W.encode_xid(txn),
        ]
    if checksum == "NONE":
        frames = [_strip_frame_crc(f) for f in frames]
    blob = b"".join(frames)
    for n in range(1, 13):
        spool = os.path.join(str(tmpdir), f"{checksum}_{n}")
        got = spool_segments(blob, spool, -(-len(blob) // n))
        assert 1 <= got <= n, (n, got)
        rows = 0
        for p in sorted(os.listdir(spool)):
            with open(os.path.join(spool, p), "rb") as fh:
                evs = W.decode_events(fh.read())
            rows += sum(len(e["rows"]) for e in evs
                        if e["type"] == W.WRITE_ROWS_EVENT)
        assert rows == 60


def test_emit_without_aqe_uses_source_width(spark, tmpdir):
    """With spark.sql.adaptive.enabled=false the sink still writes dense,
    ordered offsets from its ordered pass, and the exchange stays narrow
    (no spark.sql.shuffle.partitions' worth of near-empty files)."""
    cdc = derive_cdc_stream(spark, SF).orderBy("tso").limit(1000)
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = tmpdir + "/out"
        sink = pipeline.BinlogSink(out, rotate_rows=400)
        sink.recover(spark)
        sink(cdc.repartition(4), batch_id=0)
        written = spark.read.parquet(out)
        n = written.count()
        assert n == 1000
        offs = sorted(r["offset"] for r in written.select("offset").collect())
        assert offs == list(range(1000))
        # the written files reflect a narrow exchange: file_seq rotation
        # only (1000/400 -> 3 files), not hundreds of near-empty parts
        import glob
        parts = glob.glob(out + "/file_seq=*/part-*.parquet")
        assert 0 < len(parts) <= 4 * 3  # <= source width x file_seq dirs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
