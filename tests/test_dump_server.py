"""Dump-serving slice: localhost TCP server streaming wire-file bytes
from (file, position) — the dump(fileName, position) contract of the
reference's dumper endpoint (CdcServer.java:154) — and a client that
feeds the fetched stream to the engine's own wire decoder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE, _group_jobs, _run_in_group
from polardbx_cdc_spark import binlog_wire as W
from polardbx_cdc_spark import dump_server as D


@pytest.fixture(scope="module")
def wire_setup(spark, sf_dir, tmp_path_factory):
    """Render real wire files via the streaming pipeline (txn-framed so
    GCN carriers exist), then serve them."""
    from polardbx_cdc_spark.streaming import pipeline, source

    tmpdir = str(tmp_path_factory.mktemp("dumpsrv"))
    out, wire = tmpdir + "/binlog", tmpdir + "/wire"
    q, sink = pipeline.run_binlog_pipeline(
        source.cdc_stream(spark, sf_dir), out, tmpdir + "/ckpt",
        rotate_rows=300, frame_txns=True, wire_dir=wire,
    )
    q.awaitTermination(120)
    sink.flush()
    srv = D.DumpServer(wire)
    host, port = srv.start()
    yield {"sink": out, "wire": wire, "host": host, "port": port, "srv": srv}
    srv.stop()


def test_list_matches_directory(wire_setup):
    import os

    files = D.list_files(wire_setup["host"], wire_setup["port"])
    on_disk = sorted(
        f for f in os.listdir(wire_setup["wire"]) if f.startswith("binlog.")
    )
    assert [f["file_name"] for f in files] == on_disk
    for f in files:
        assert f["size"] == os.path.getsize(
            os.path.join(wire_setup["wire"], f["file_name"])
        )


def test_dump_from_start_replays_whole_chain(spark, wire_setup):
    """Attach at TSO 0 → the streamed bytes decode to exactly the frame
    the batch attach path (read_wire_binlog) produces from the files."""
    got = D.attach_from_tso(spark, wire_setup["host"], wire_setup["port"], "0")
    assert got is not None
    expected = (
        W.read_wire_binlog(spark, wire_setup["wire"])
        .filter(F.col("kind").isin("INSERT", "UPDATE", "DELETE"))
        .select(
            "db", "tbl", F.col("kind").alias("action"),
            "pk", F.col("value").cast("double").alias("value"),
        )
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_attach_from_mid_tso_serves_exact_suffix(spark, wire_setup):
    """Seek the median commit TSO over the network, dump from the returned
    (file, byte-offset), decode — the result must be exactly the sink rows
    of transactions committing at or past the seek position (GCN precedes
    BEGIN, so transactions are never torn)."""
    commits = (
        spark.read.parquet(wire_setup["sink"])
        .filter(F.col("action") == "COMMIT")
        .select("txn_commit_tso")
        .orderBy("txn_commit_tso")
        .collect()
    )
    mid_tso = commits[len(commits) // 2]["txn_commit_tso"]
    hit = D.seek_tso(wire_setup["host"], wire_setup["port"], mid_tso)
    assert hit is not None and hit["gcn"] >= int(mid_tso[:19])
    # network seek agrees with the Spark-side seek on file + GCN
    spark_hit = W.seek_wire_position(spark, wire_setup["wire"], mid_tso)
    assert spark_hit["file_name"] == hit["file_name"]
    assert spark_hit["gcn"] == hit["gcn"]

    got = D.attach_from_tso(spark, wire_setup["host"], wire_setup["port"], mid_tso)
    expected = (
        spark.read.parquet(wire_setup["sink"])
        .filter(F.col("action").isin("INSERT", "UPDATE", "DELETE"))
        .filter(F.substring("txn_commit_tso", 1, 19).cast("long") >= hit["gcn"])
        .select(
            "db", "tbl", "action", "pk",
            F.col("value").cast("double").alias("value"),
        )
    )
    assert got.count() == expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_seek_past_end_returns_none(spark, wire_setup):
    assert D.seek_tso(wire_setup["host"], wire_setup["port"], "9" * 48) is None
    assert (
        D.attach_from_tso(spark, wire_setup["host"], wire_setup["port"], "9" * 48)
        is None
    )


def test_unknown_file_and_bad_request_are_clean_errors(wire_setup):
    with pytest.raises(ValueError):
        D.dump_fetch(wire_setup["host"], wire_setup["port"], "binlog.999999")
    meta, _ = D._request(
        wire_setup["host"], wire_setup["port"], {"cmd": "nonsense"}
    )
    assert meta["ok"] is False


def test_follow_mode_live_tails_appends_and_rotation(tmp_path):
    """Live-tail subscribe: a follower attached with follow>0 receives
    events APPENDED after it attached, follows rotation into a new file,
    and closes after the idle timeout — the continuous dump loop of
    CdcServer.java:154-286. Only CRC-complete frames are delivered."""
    import threading
    import time

    wire = str(tmp_path / "wire")
    import os

    os.makedirs(wire)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None), (W.TYPE_VARCHAR, 256)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(wire + "/binlog.000001", [rows_event([[1, "a"], [2, "b"]])])

    srv = D.DumpServer(wire)
    host, port = srv.start()
    try:
        result: dict = {}

        def fetch():
            result["body"] = D.dump_fetch(
                host, port, "binlog.000001", 4, follow=1.5
            )

        t = threading.Thread(target=fetch)
        t.start()
        time.sleep(0.4)
        # live append to the tailed file
        with open(wire + "/binlog.000001", "ab") as fh:
            fh.write(rows_event([[3, "c"]]))
        time.sleep(0.4)
        # rotation: a successor file appears
        W.write_binlog_file(wire + "/binlog.000002", [rows_event([[4, "d"]])])
        t.join(timeout=20)
        assert not t.is_alive(), "follower did not close after idle timeout"

        evs = W.decode_events(result["body"], verify_crc=True)
        got = [
            tuple(r)
            for e in evs
            if e["type"] == W.WRITE_ROWS_EVENT
            for r in e["rows"]
        ]
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    finally:
        srv.stop()


def test_follow_mode_withholds_torn_tail(tmp_path):
    """A half-written (torn) event at EOF must NOT reach the follower —
    only the complete prefix streams; the torn bytes would stream once
    completed (here the follower times out before that)."""
    import os
    import threading

    wire = str(tmp_path / "wire")
    os.makedirs(wire)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])
    full = W.encode_table_map(9, td) + W.encode_rows_event(
        W.WRITE_ROWS_EVENT, 9, td, [[7]]
    )
    W.write_binlog_file(wire + "/binlog.000001", [full])
    extra = W.encode_rows_event(W.WRITE_ROWS_EVENT, 9, td, [[8]])
    with open(wire + "/binlog.000001", "ab") as fh:
        fh.write(extra[: len(extra) // 2])  # torn mid-event

    srv = D.DumpServer(wire)
    host, port = srv.start()
    try:
        result: dict = {}

        def fetch():
            result["body"] = D.dump_fetch(host, port, "binlog.000001", 4, follow=0.8)

        t = threading.Thread(target=fetch)
        t.start()
        t.join(timeout=15)
        assert not t.is_alive()
        evs = W.decode_events(result["body"], verify_crc=True)
        rows = [r for e in evs if e["type"] == W.WRITE_ROWS_EVENT for r in e["rows"]]
        assert rows == [[7]]
    finally:
        srv.stop()


def test_consumer_group_commits_fetched_bytes_not_later_listing(spark, tmp_path):
    """The committed offset must equal the end of the bytes ACTUALLY
    delivered — bytes appended between the fetch and the commit must
    stay uncommitted so the next resume delivers them (regression: the
    old code committed a post-fetch list_files() bound, silently
    skipping any in-between append)."""
    import os

    from polardbx_cdc_spark.streaming.consumer import ConsumerGroup

    wire = str(tmp_path / "wire")
    os.makedirs(wire)
    td = W.TableDef("d", "t", [(W.TYPE_VARCHAR, 256), (W.TYPE_DOUBLE, 8)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(
        wire + "/binlog.000001", [rows_event([["1", 1.0], ["2", 2.0]])]
    )
    group = ConsumerGroup("g-commit", str(tmp_path / "offsets"))
    with D.DumpServer(wire) as srv:
        host, port = srv.address
        first = D.consume_from_group(spark, host, port, group, "m0")
        assert first.count() == 2
        size1 = os.path.getsize(wire + "/binlog.000001")
        assert group.committed()["wire"] == f"binlog.000001:{size1:012d}"

        # chain spans two files; commit must land at the END of file 2
        with open(wire + "/binlog.000001", "ab") as fh:
            fh.write(rows_event([["3", 3.0]]))
        W.write_binlog_file(wire + "/binlog.000002", [rows_event([["4", 4.0]])])
        second = D.consume_from_group(spark, host, port, group, "m0")
        assert sorted(int(r["pk"]) for r in second.collect()) == [3, 4]
        size2 = os.path.getsize(wire + "/binlog.000002")
        assert group.committed()["wire"] == f"binlog.000002:{size2:012d}"

        # an append the server never served stays UNcommitted → delivered
        # by the next consume (the data-loss case the fix closes)
        with open(wire + "/binlog.000002", "ab") as fh:
            fh.write(rows_event([["5", 5.0]]))
        third = D.consume_from_group(spark, host, port, group, "m0")
        assert [int(r["pk"]) for r in third.collect()] == [5]

        # resume position = a fully-DRAINED file, successor appears with
        # no further append: the blob's first frame is the successor's
        # FDE at offset 0 — the hop must still be detected or the commit
        # records a bogus ever-growing offset on the old file and every
        # consume re-delivers the successor (duplicate-delivery class)
        W.write_binlog_file(wire + "/binlog.000003", [rows_event([["6", 6.0]])])
        fourth = D.consume_from_group(spark, host, port, group, "m0")
        assert [int(r["pk"]) for r in fourth.collect()] == [6]
        size3 = os.path.getsize(wire + "/binlog.000003")
        assert group.committed()["wire"] == f"binlog.000003:{size3:012d}"
        assert D.consume_from_group(spark, host, port, group, "m0").count() == 0


def test_consumer_group_resume_over_network(spark, tmp_path):
    """Consumer-group + dump-server integration: first consume delivers
    everything and commits the end position; after the chain grows, a
    re-consume delivers ONLY the new events; a zombie consumer from a
    stale generation is fenced on commit."""
    import os

    from polardbx_cdc_spark.streaming.consumer import (
        ConsumerGroup,
        StaleGenerationError,
    )

    wire = str(tmp_path / "wire")
    os.makedirs(wire)
    td = W.TableDef("d", "t", [(W.TYPE_VARCHAR, 256), (W.TYPE_DOUBLE, 8)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(wire + "/binlog.000001", [rows_event([["1", 1.0], ["2", 2.0]])])

    group = ConsumerGroup("g1", str(tmp_path / "offsets"))
    srv = D.DumpServer(wire)
    host, port = srv.start()
    try:
        first = D.consume_from_group(spark, host, port, group, "m0")
        assert [int(r["pk"]) for r in first.orderBy("pk").collect()] == [1, 2]

        # chain grows: tail append + a rotation successor
        with open(wire + "/binlog.000001", "ab") as fh:
            fh.write(rows_event([["3", 3.0]]))
        W.write_binlog_file(wire + "/binlog.000002", [rows_event([["4", 4.0]])])

        second = D.consume_from_group(
            spark, host, port, group, "m0",
            spool_dir=str(tmp_path / "spool"),  # scale path: segments + binaryFile
        )
        assert [int(r["pk"]) for r in second.orderBy("pk").collect()] == [3, 4]

        # caught up → empty delta
        third = D.consume_from_group(spark, host, port, group, "m0")
        assert third.count() == 0

        # zombie fencing: a second member joining bumps the generation;
        # the old generation's commit must be rejected
        stale_gen = group.generation()
        group.join("m1")
        with pytest.raises(StaleGenerationError):
            group.commit({"wire": "binlog.000001:000000000004"}, stale_gen)
    finally:
        srv.stop()


def test_show_binlog_events_wire_positions_match_dump_offsets(spark, wire_setup):
    """SHOW BINLOG EVENTS over the wire files: byte positions must be
    exact dump offsets — dumping from any listed Pos yields a stream
    whose first event is that row's event type."""
    from polardbx_cdc_spark import catalog

    ev = catalog.show_binlog_events_wire(spark, wire_setup["wire"], limit=200)
    rows = ev.collect()
    assert rows and rows[0]["event_type"] == "Format_desc" and rows[0]["pos"] == 4
    # chain contiguity: each end_log_pos is the next event's pos
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["log_name"], []).append(r)
    for evs in by_file.values():
        for a, b in zip(evs, evs[1:]):
            assert a["end_log_pos"] == b["pos"]
    # a mid-file row's Pos is a valid dump offset
    mid = by_file[rows[0]["log_name"]][3]
    blob = D.dump_fetch(
        wire_setup["host"], wire_setup["port"], mid["log_name"], mid["pos"]
    )
    first = W.decode_events(blob, tolerate_truncation=True)[0]
    name_of = {2: "Query", 16: "Xid", 19: "Table_map", 30: "Write_rows",
               105: "Gcn", 29: "Rows_query", 4: "Rotate", 15: "Format_desc"}
    assert name_of.get(first["type"], str(first["type"])) == mid["event_type"]


def test_wire_flashback_point_in_time_recovery(spark, wire_setup):
    """Archived-binlog recovery story across surfaces: attach to the
    REAL wire files, take the suffix after a TSO (the bad-change window),
    invert it (flashback), and verify that replaying state to the end and
    then applying the inverse suffix reproduces the state AT the seek
    point — byte-decoded events drive the same recovery the decoded-frame
    flashback performs (RecoveryApplier reverse-SQL semantics)."""
    from pyspark.sql import Window as SqlWindow

    sink_rows = (
        spark.read.parquet(wire_setup["sink"])
        .filter(F.col("action").isin("INSERT", "UPDATE", "DELETE"))
    )
    commits = (
        spark.read.parquet(wire_setup["sink"])
        .filter(F.col("action") == "COMMIT")
        .select("txn_commit_tso").orderBy("txn_commit_tso").collect()
    )
    cut = commits[len(commits) // 2]["txn_commit_tso"]
    gcn_cut = int(cut[:19])

    # state at the cut: replay only txns committing BEFORE the seek point
    def last_state(df):
        w = SqlWindow.partitionBy("db", "tbl", "pk").orderBy(
            F.desc("file_seq"), F.desc("offset")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("action") != "DELETE"))
            .select("db", "tbl", "pk", F.col("value").cast("double").alias("value"))
        )

    before_cut = sink_rows.filter(
        F.substring("txn_commit_tso", 1, 19).cast("long") < gcn_cut
    )
    state_at_cut = last_state(before_cut)

    # wire attach: decode the suffix from the network seek position
    got = D.attach_from_tso(spark, wire_setup["host"], wire_setup["port"], cut)
    # the suffix touches keys; undo = for each touched key, restore the
    # pre-cut image (or delete if it didn't exist) — derive the undo set
    # from the DECODED WIRE suffix only
    touched = got.select("db", "tbl", "pk").distinct()
    end_state = last_state(sink_rows)
    after_undo = (
        end_state.join(touched, ["db", "tbl", "pk"], "left_anti")
        .unionByName(
            state_at_cut.join(touched, ["db", "tbl", "pk"], "left_semi")
        )
    )
    assert after_undo.exceptAll(state_at_cut).count() == 0
    assert state_at_cut.exceptAll(after_undo).count() == 0


def test_concurrent_consumers_independent_streams(wire_setup):
    """The dump server is multi-consumer (ThreadingTCPServer, like the
    reference's per-subscriber gRPC streams): N clients dumping from
    DIFFERENT positions concurrently each receive exactly the bytes a
    solo client would."""
    import concurrent.futures as cf

    files = D.list_files(wire_setup["host"], wire_setup["port"])
    first = files[0]["file_name"]
    positions = [4, 200, 1000, 4, 500]
    solo = {p: D.dump_fetch(wire_setup["host"], wire_setup["port"], first, p)
            for p in set(positions)}
    with cf.ThreadPoolExecutor(max_workers=5) as ex:
        futs = [
            ex.submit(D.dump_fetch, wire_setup["host"], wire_setup["port"], first, p)
            for p in positions
        ]
        results = [f.result(timeout=60) for f in futs]
    for p, body in zip(positions, results):
        assert body == solo[p], f"pos {p}: concurrent dump diverged"


def test_relay_copy_replicates_and_resumes(tmp_path):
    """LogFileCopier analogue: a standby replicates the master's wire
    directory over the dump protocol — byte-identical files — and a
    re-run after the master grows fetches ONLY the delta (appends and new
    files), resuming from local sizes."""
    import os

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    os.makedirs(src)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None), (W.TYPE_VARCHAR, 64)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(src + "/binlog.000001",
                        [rows_event([[1, "a"], [2, "b"]])],
                        next_file="binlog.000002")
    W.write_binlog_file(src + "/binlog.000002", [rows_event([[3, "c"]])])

    with D.DumpServer(src) as srv:
        host, port = srv.address
        touched = D.relay_copy(host, port, dst)
        assert touched == ["binlog.000001", "binlog.000002"]
        for f in touched:
            with open(os.path.join(src, f), "rb") as a, \
                 open(os.path.join(dst, f), "rb") as b:
                assert a.read() == b.read(), f

        # master grows: tail append + a new file; resume copies the delta
        with open(src + "/binlog.000002", "ab") as fh:
            fh.write(rows_event([[4, "d"]]))
        W.write_binlog_file(src + "/binlog.000003", [rows_event([[5, "e"]])])
        touched2 = D.relay_copy(host, port, dst)
        assert touched2 == ["binlog.000002", "binlog.000003"]
        for f in ["binlog.000001", "binlog.000002", "binlog.000003"]:
            with open(os.path.join(src, f), "rb") as a, \
                 open(os.path.join(dst, f), "rb") as b:
                assert a.read() == b.read(), f

        # caught up: a third run touches the tail file but appends nothing
        size_before = os.path.getsize(dst + "/binlog.000003")
        D.relay_copy(host, port, dst)
        assert os.path.getsize(dst + "/binlog.000003") == size_before

        # the replica directory is itself servable: decode equality
        evs_src = [e["type"] for f in sorted(os.listdir(src))
                   for e in W.read_binlog_file(os.path.join(src, f))]
        evs_dst = [e["type"] for f in sorted(os.listdir(dst))
                   for e in W.read_binlog_file(os.path.join(dst, f))]
        assert evs_src == evs_dst


def test_relay_copy_drops_master_torn_tail(tmp_path):
    """A torn (half-written) event on the master must NOT reach the
    standby; the next run picks it up once complete."""
    import os

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    os.makedirs(src)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])
    full = W.encode_table_map(9, td) + W.encode_rows_event(
        W.WRITE_ROWS_EVENT, 9, td, [[7]]
    )
    W.write_binlog_file(src + "/binlog.000001", [full])
    extra = W.encode_rows_event(W.WRITE_ROWS_EVENT, 9, td, [[8]])
    with open(src + "/binlog.000001", "ab") as fh:
        fh.write(extra[: len(extra) // 2])  # torn

    with D.DumpServer(src) as srv:
        host, port = srv.address
        D.relay_copy(host, port, dst)
        # local file holds ONLY complete frames: the torn first half
        # (len(extra)//2 bytes) never lands
        assert os.path.getsize(dst + "/binlog.000001") == (
            os.path.getsize(src + "/binlog.000001") - len(extra) // 2
        )
        evs = W.read_binlog_file(dst + "/binlog.000001")
        rows = [r for e in evs if e["type"] == W.WRITE_ROWS_EVENT for r in e["rows"]]
        assert rows == [[7]]

        # master completes the event → resume fetches exactly the rest
        with open(src + "/binlog.000001", "ab") as fh:
            fh.write(extra[len(extra) // 2 :])
        D.relay_copy(host, port, dst)
        evs = W.read_binlog_file(dst + "/binlog.000001")
        rows = [r for e in evs if e["type"] == W.WRITE_ROWS_EVENT for r in e["rows"]]
        assert rows == [[7], [8]]


def test_binlog_x_streams_served_per_chain(spark, sf_dir, tmp_path):
    """Binlog-X multi-stream dump serving: the per-stream wire chains
    (binlog-x-<stream>.NNNNNN) list, seek and dump independently; SHOW
    BINARY STREAMS surfaces the stream names; each stream's relay decodes
    to exactly its routed subset."""
    import os

    from polardbx_cdc_spark import binlog_wire as W
    from polardbx_cdc_spark.operators import routing
    from polardbx_cdc_spark.streaming import pipeline, source

    cfg = routing.StreamRoutingConfig(stream_count=2, default_level="TABLE")
    tmpdir = str(tmp_path)
    out, wire = tmpdir + "/binlog_x", tmpdir + "/wire_x"
    q, sink = pipeline.run_binlog_x_pipeline(
        source.cdc_stream(spark, sf_dir), cfg, out, tmpdir + "/ckpt",
        rotate_rows=300,
    )
    q.awaitTermination(120)
    W.export_wire_files_x(spark, out, wire)  # eager since round 9: files land before return

    with D.DumpServer(wire) as srv:
        host, port = srv.address
        streams = D.list_streams(host, port)
        assert len(streams) == 2
        # the default (global) listing stays empty here: no binlog.* chain
        assert D.list_files(host, port) == []
        total = 0
        for st in streams:
            files = D.list_files(host, port, stream=st)
            assert files and all(
                f["file_name"].startswith(f"binlog-x-{st}.") for f in files
            )
            blob = D.dump_fetch(host, port, files[0]["file_name"], 4)
            evs = W.decode_events(blob)
            n = sum(len(e["rows"]) for e in evs if e["type"] in W.ROWS_EVENTS)
            expected = (
                spark.read.parquet(out)
                .filter(f"stream_id = '{st}'")
                .filter("action in ('INSERT','UPDATE','DELETE')")
                .count()
            )
            assert n == expected > 0
            total += n
    assert total == (
        spark.read.parquet(out)
        .filter("action in ('INSERT','UPDATE','DELETE')")
        .count()
    )


def test_relay_copy_per_stream(tmp_path):
    """One copier per Binlog-X stream: each replicates its own chain
    byte-identically and independently resumes."""
    import os

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    os.makedirs(src)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(src + "/binlog-x-s0.000001", [rows_event([[1]])])
    W.write_binlog_file(src + "/binlog-x-s1.000001", [rows_event([[2]])])
    with D.DumpServer(src) as srv:
        host, port = srv.address
        assert D.relay_copy(host, port, dst, stream="s0") == ["binlog-x-s0.000001"]
        assert D.relay_copy(host, port, dst, stream="s1") == ["binlog-x-s1.000001"]
        # grow s0 only; per-stream resume copies only its delta
        with open(src + "/binlog-x-s0.000001", "ab") as fh:
            fh.write(rows_event([[3]]))
        assert D.relay_copy(host, port, dst, stream="s0") == ["binlog-x-s0.000001"]
        for f in ("binlog-x-s0.000001", "binlog-x-s1.000001"):
            with open(os.path.join(src, f), "rb") as a, \
                 open(os.path.join(dst, f), "rb") as b:
                assert a.read() == b.read(), f


def test_relay_copy_mixed_stage_tail_runs_never_lose_bytes(tmp_path):
    """ADVICE r7: a stage_tail=True run leaves the chain tail staged as
    ``_<name>.inprogress``; a later stage_tail=False run must adopt that
    staged twin (resume offset and write target = the same bytes), not
    open a fresh final-name file missing [4, staged_size)."""
    import os

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    os.makedirs(src)
    td = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None)])

    def rows_event(vals):
        return W.encode_table_map(3, td) + W.encode_rows_event(
            W.WRITE_ROWS_EVENT, 3, td, vals
        )

    W.write_binlog_file(src + "/binlog.000001", [rows_event([[1], [2]])])
    with D.DumpServer(src) as srv:
        host, port = srv.address
        D.relay_copy(host, port, dst, stage_tail=True)
        # the chain tail is staged, invisible to file listings
        assert os.path.exists(dst + "/_binlog.000001.inprogress")
        assert not os.path.exists(dst + "/binlog.000001")

        # master grows, then a NON-staging run resumes
        with open(src + "/binlog.000001", "ab") as fh:
            fh.write(rows_event([[3]]))
        D.relay_copy(host, port, dst, stage_tail=False)
        assert not os.path.exists(dst + "/_binlog.000001.inprogress")
        with open(src + "/binlog.000001", "rb") as a, \
             open(dst + "/binlog.000001", "rb") as b:
            assert a.read() == b.read()
        rows = [
            r for e in W.read_binlog_file(dst + "/binlog.000001")
            if e["type"] == W.WRITE_ROWS_EVENT for r in e["rows"]
        ]
        assert rows == [[1], [2], [3]]

        # and the inverse order (final exists, then stage_tail=True run)
        # keeps appending to the revealed file, byte-identical
        with open(src + "/binlog.000001", "ab") as fh:
            fh.write(rows_event([[4]]))
        D.relay_copy(host, port, dst, stage_tail=True)
        with open(src + "/binlog.000001", "rb") as a, \
             open(dst + "/binlog.000001", "rb") as b:
            assert a.read() == b.read()


# ---------------------------------------------------------------------------
# Protocol robustness fuzz (r13, verdict ask #6): the mysql_dump.py
# endpoint got its 1000-session adversarial gate in r12; this is the
# SAME discipline replayed against dump_server.py's JSON-line TCP
# endpoint — every malformed / adversarially-typed / torn session must
# end in an ERR meta or a clean close, no exception may escape a
# handler thread, and the server must still serve byte-faithful dumps
# afterwards (CdcServer.java:154 error discipline).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fuzz_served():
    """Spark-free wire fixture: three rotated files with GCN carriers,
    served by a fresh DumpServer."""
    import os
    import tempfile

    tmpdir = tempfile.mkdtemp(prefix="dumpfuzz")
    td = W.TableDef.from_mysql_types(
        "shop", "t", ["bigint", "varchar(8)"], col_names=["id", "s"], pk=[0])
    for i in (1, 2, 3):
        evs = [W.encode_gcn(i * 100)]
        evs.append(W.encode_table_map(i, td))
        evs.append(W.encode_rows_event(
            W.WRITE_ROWS_EVENT, i, td, [[i, f"v{i}"]]))
        W.write_binlog_file(
            os.path.join(tmpdir, f"binlog.{i:06d}"), evs)
    srv = D.DumpServer(tmpdir)
    host, port = srv.start()
    yield {"host": host, "port": port, "srv": srv, "wire": tmpdir}
    srv.stop()


def _fz_connect(host, port, timeout=3.0):
    import socket

    s = socket.create_connection((host, port), timeout=timeout)
    s.settimeout(timeout)
    return s


def _fz_drain(sock, limit=1 << 22):
    import socket as _socket

    got = 0
    try:
        while got < limit:
            chunk = sock.recv(65536)
            if not chunk:
                return True
            got += len(chunk)
    except (_socket.timeout, OSError):
        return False
    return True


def test_dump_server_fuzz_1000_sessions_never_crash_handler(fuzz_served):
    import json as _json
    import random

    host, port = fuzz_served["host"], fuzz_served["port"]
    rng = random.Random(0xD00D)
    N = 1000
    for i in range(N):
        strategy = rng.randrange(9)
        try:
            s = _fz_connect(host, port)
        except OSError as exc:  # pragma: no cover - env hiccup
            raise AssertionError(f"session {i}: connect failed: {exc}")
        try:
            if strategy == 0:
                # raw garbage, newline-terminated
                s.sendall(rng.randbytes(rng.randrange(1, 128)) + b"\n")
                _fz_drain(s)
            elif strategy == 1:
                # valid JSON, not an object / unknown cmd
                req = rng.choice([
                    b"[1,2,3]", b'"dump"', b"42", b"null",
                    b'{"cmd": "nope"}', b'{"no_cmd": 1}',
                ])
                s.sendall(req + b"\n")
                _fz_drain(s)
            elif strategy == 2:
                # adversarial field TYPES on real commands
                req = {
                    "cmd": rng.choice(["dump", "seek_tso", "list"]),
                    "file": rng.choice([None, 7, ["binlog.000001"],
                                        {"a": 1}, "binlog.000001"]),
                    "pos": rng.choice(["abc", None, [4], {"p": 4}, 1e999,
                                       -99, 1 << 80]),
                    "follow": rng.choice(["x", [1], {"f": 1}, 1e999]),
                    "tso": rng.choice([{"t": 1}, ["0"], "not-digits"]),
                    "stream": rng.choice([7, ["s"], {"s": 1}, "nope"]),
                }
                s.sendall(_json.dumps(req).encode() + b"\n")
                _fz_drain(s)
            elif strategy == 3:
                # oversized request line (past the 1 MiB bound)
                s.sendall(b'{"cmd": "list", "pad": "'
                          + b"x" * (1 << 20) + b'"}\n')
                _fz_drain(s)
            elif strategy == 4:
                # no newline at all: send partial JSON, vanish
                s.sendall(b'{"cmd": "du')
            elif strategy == 5:
                # real dump, read a sliver, vanish mid-stream
                s.sendall(b'{"cmd": "dump", "file": "binlog.000001"}\n')
                try:
                    s.recv(rng.randrange(1, 64))
                except OSError:
                    pass
            elif strategy == 6:
                # follow-mode with a tiny idle timeout: must close itself
                s.sendall(_json.dumps({
                    "cmd": "dump", "file": "binlog.000003",
                    "pos": 4, "follow": 0.1,
                }).encode() + b"\n")
                _fz_drain(s)
            elif strategy == 7:
                # seek_tso across adversarial tso strings
                s.sendall(_json.dumps({
                    "cmd": "seek_tso",
                    "tso": rng.choice(["", "0" * 200, "999999", "x" * 19]),
                }).encode() + b"\n")
                _fz_drain(s)
            else:
                # non-UTF-8 bytes then newline
                s.sendall(b"\xff\xfe\x80" * rng.randrange(1, 40) + b"\n")
                _fz_drain(s)
        except OSError:
            pass  # server dropped us first — a clean outcome
        finally:
            try:
                s.close()
            except OSError:
                pass

    import time as _time

    _time.sleep(0.3)
    errs = fuzz_served["srv"].handler_errors
    assert errs == [], f"{len(errs)} handler thread(s) crashed:\n{errs[0]}"
    # and the endpoint still serves a byte-faithful dump + catalog
    files = D.list_files(fuzz_served["host"], fuzz_served["port"])
    assert [f["file_name"] for f in files] == [
        "binlog.000001", "binlog.000002", "binlog.000003"]
    blob = D.dump_fetch(fuzz_served["host"], fuzz_served["port"],
                        "binlog.000001", 4)
    rows = [r for e in W.decode_events(blob)
            if e["type"] == W.WRITE_ROWS_EVENT for r in e["rows"]]
    assert rows == [[1, "v1"], [2, "v2"], [3, "v3"]]
    hit = D.seek_tso(fuzz_served["host"], fuzz_served["port"],
                     "200".rjust(19, "0"))
    assert hit and hit["file_name"] == "binlog.000002"



@pytest.fixture(scope="module")
def dump_attach_groups(spark):
    """One ``cdc_dump_attach_decode`` call at sf0.01 and one collect of
    the frame it returns, each in a job group of its own (the chain is
    rendered before either group opens). The call also records the
    decode frame `mysql_dump.dump_decode` hands it, the number of chain
    files it served, and every ``tempfile.mkdtemp`` and
    ``dump_server.spool_segments`` call it made."""
    import os
    import tempfile

    from polardbx_cdc_spark import mysql_dump as MD
    from polardbx_cdc_spark import queries as Q

    sf = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    sc = spark.sparkContext
    wire = Q._cdc_wire_fixture(spark, sf)["wire"]
    seen = {"decoded": [], "mkdtemp": [], "spool": []}
    decode, mkdtemp = MD.dump_decode, tempfile.mkdtemp

    def recording_decode(*a, **kw):
        df = decode(*a, **kw)
        seen["decoded"].append(df)
        return df

    def recording_mkdtemp(*a, **kw):
        seen["mkdtemp"].append((a, kw))
        return mkdtemp(*a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(MD, "dump_decode", recording_decode)
        mp.setattr(tempfile, "mkdtemp", recording_mkdtemp)
        mp.setattr(D, "spool_segments",
                   lambda *a, **kw: seen["spool"].append(a) or 0)
        call, df = _run_in_group(sc, "dump attach call",
                                 Q.cdc_dump_attach_decode, spark, sf)
    collect, rows = _run_in_group(sc, "dump attach collect", df.collect)
    n_files = len([f for f in os.listdir(wire) if f.startswith("binlog.")])
    return call, collect, rows, seen, n_files


def test_dump_attach_runs_one_task_per_run_of_files(spark, dump_attach_groups):
    """The attach is one decode job whose first stage runs
    ``min(defaultParallelism, files)`` tasks, one per run of chain files,
    each dumping its own run: its plan scans no file (no ``binaryFile``
    spool scan), no spool segment is written and no spool directory is
    made. Task counts come from the status tracker."""
    call, _, rows, seen, n_files = dump_attach_groups
    sc = spark.sparkContext
    jobs = _group_jobs(sc, call)
    assert rows and jobs, "the attach ran no Spark job"
    # the first job is the decode: range → mapInPandas (dump + decode)
    # → the rollup's partial aggregate, up to its shuffle
    assert jobs[0][0] == min(sc.defaultParallelism, n_files), jobs
    assert len(seen["decoded"]) == 1
    plan = seen["decoded"][0]._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan and "MapInPandas" in plan, plan
    assert "FileScan" not in plan and "binaryFile" not in plan, plan
    assert seen["spool"] == [] and seen["mkdtemp"] == [], seen


def test_dump_attach_result_collect_runs_no_job(spark, dump_attach_groups):
    """The collected rollup comes back as a local frame: collecting the
    returned frame runs no Spark job."""
    _, collect, rows, _, _ = dump_attach_groups
    assert rows
    assert _group_jobs(spark.sparkContext, collect) == []


@pytest.mark.parametrize("name", [
    "cdc_wire_stream_tail", "cdc_wire_stream_x_tail",
    "cdc_ivm_join_view_stream", "orders_wire_ddl_evolution",
    "orders_wire_typed_stream_evo",
])
def test_collected_result_frame_runs_no_job(spark, sf_dir, name):
    """Queries that collect a small result and hand it back build it
    with `session.local_frame`: collecting the returned frame runs no
    Spark job."""
    from polardbx_cdc_spark import queries as Q

    sc = spark.sparkContext
    df = getattr(Q, name)(spark, sf_dir)
    collect, rows = _run_in_group(sc, f"{name} collect", df.collect)
    assert rows
    assert _group_jobs(sc, collect) == []


def test_dump_decode_rows_equal_one_connection_decode(spark, tmp_path):
    """`mysql_dump.dump_decode` over a CRC32 and a NONE master: the union
    of the per-run decoded rows equals `binlog_to_events` over the
    single-connection fetch of the whole chain, as a multiset, and the
    early hang-ups leave no handler error."""
    import collections
    import os
    import time

    from polardbx_cdc_spark import mysql_dump as MD
    from polardbx_cdc_spark.session import local_frame

    wire = str(tmp_path / "wire")
    os.makedirs(wire)
    tds = [W.TableDef("d", f"t{k}", [(W.TYPE_LONGLONG, None),
                                     (W.TYPE_DOUBLE, 8)]) for k in range(2)]
    names = [f"binlog.{i:06d}" for i in range(1, 8)]
    for i, name in enumerate(names):
        evs = []
        for k, td in enumerate(tds):
            rows = [[100 * i + 10 * k + j, i + j / 4] for j in range(i + 2)]
            evs.append(W.encode_table_map(5 + k, td) + W.encode_rows_event(
                W.WRITE_ROWS_EVENT, 5 + k, td, rows))
            evs.append(W.encode_table_map(5 + k, td) + W.encode_rows_event(
                W.DELETE_ROWS_EVENT, 5 + k, td, rows[:1]))
        W.write_binlog_file(os.path.join(wire, name), evs,
                            next_file=None if i == 3 or i == 6
                            else names[i + 1])
    for checksum in ("CRC32", "NONE"):
        with MD.MySQLDumpServer(wire, binlog_checksum=checksum) as srv:
            host, port = srv.address
            par = MD.dump_decode(spark, host, port).collect()
            blob = MD.binlog_dump_fetch(host, port, names[0], 4)
            one = W.binlog_to_events(
                local_frame(spark, [(blob,)], "payload binary")).collect()
            time.sleep(0.3)
            assert srv.handler_errors == []
        assert len(par) == len(one) == sum(2 * (i + 3) for i in range(7))
        assert (collections.Counter(map(tuple, par))
                == collections.Counter(map(tuple, one))), checksum
