"""``catchup``: drain a backlog of events-parquet files into the global
binlog — ordered, rotated parquet plus real wire files — through
``pipeline.run_binlog_pipeline(source.cdc_stream(...), wire_dir=...)``.

BinlogSink dominates — its range sort, dense offsets and parquet write,
and the Python wire encoder it calls after each batch take about 90% of
a batch in a traced run. One operation is one
micro-batch of ``FILES_PER_TRIGGER`` backlog files. The window is a
fixed number of batches sized from ``--seconds`` (about 3 s each here),
so every run measures the same batch positions of a JVM that is still
warming. On a box too slow for that, a gate in front of
``BinlogSink.__call__`` refuses the first batch that would start after
``SLOW_CAP`` × ``--seconds``, before it writes anything; the
availableNow query then stops with only whole batches durable.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from common import committed_files, median
import inputs

PER_FILE = 8_000
FILES_PER_TRIGGER = 2
# warm-up backlog: one tiny batch takes the fresh JVM's cold start, one
# batch of the measured shape follows; batch 0 of the measured query is
# a third warm batch (excluded from the window's statistics)
WARM_SIZES = (1_000, 1_000, PER_FILE, PER_FILE)
SECONDS_PER_BATCH = 3  # nominal, on a 4-core box
SLOW_CAP = 3


class _Deadline(Exception):
    pass


DEADLINE_TAG = "perfbench-window-closed"


def build(ctx, seed: int, seconds: int) -> dict:
    for d in ("sf_warm", "sf_main"):
        shutil.rmtree(ctx.path(d), ignore_errors=True)
    warm = inputs.event_files(seed, inputs.CATCHUP_WARM, WARM_SIZES)
    # batch 0 of the measured query is not measured (query start)
    n_files = FILES_PER_TRIGGER * (1 + max(3, seconds // SECONDS_PER_BATCH))
    main = inputs.event_files(seed, inputs.CATCHUP_MAIN, [PER_FILE] * n_files)
    inputs.write_events_dir(warm, ctx.path("sf_warm"))
    inputs.write_events_dir(main, ctx.path("sf_main"))
    return {"main": main}


def _drain(ctx, sf: str, tag: str):
    from polardbx_cdc_spark.streaming import pipeline, source

    q, _ = pipeline.run_binlog_pipeline(
        source.cdc_stream(ctx.spark, sf, max_files_per_trigger=FILES_PER_TRIGGER),
        ctx.path(tag, "out"), ctx.path(tag, "ckpt"), wire_dir=ctx.path(tag, "wire"),
    )
    return q


def prepare(ctx, state: dict, tracer) -> None:
    """Warm-up: drain a separate seeded backlog in a throwaway query."""
    _drain(ctx, ctx.path("sf_warm"), "warm").awaitTermination()


def measure(ctx, state: dict, seconds: int, tracer) -> dict:
    from polardbx_cdc_spark import binlog_wire
    from polardbx_cdc_spark.streaming import pipeline

    completed: list[int] = []
    real_call = pipeline.BinlogSink.__call__
    if tracer is not None:
        tracer.wrap(binlog_wire, "export_wire_files", "binlog_wire.encode")
        tracer.wrap(pipeline.BinlogSink, "__call__", "pipeline.binlog_sink",
                    annotate=lambda out, a: {"batch": a[2]})
    inner_call = pipeline.BinlogSink.__call__
    cpu0, gc0 = ctx.procs.cpu(), ctx.gc_seconds()
    t0 = time.perf_counter()
    deadline = t0 + SLOW_CAP * seconds

    def gated(self, batch_df, batch_id):
        if time.perf_counter() >= deadline:
            raise _Deadline(DEADLINE_TAG)
        inner_call(self, batch_df, batch_id)
        completed.append(batch_id)

    pipeline.BinlogSink.__call__ = gated
    try:
        q = _drain(ctx, ctx.path("sf_main"), "main")
        try:
            q.awaitTermination()
        except Exception as e:  # the slow-box gate ended the window
            if DEADLINE_TAG not in str(e):
                raise
    finally:
        pipeline.BinlogSink.__call__ = real_call
        if tracer is not None:
            tracer.restore()
    t1 = time.perf_counter()
    cpu1, gc1 = ctx.procs.cpu(), ctx.gc_seconds()

    done = set(completed)
    progs = [p for p in q.recentProgress if p.batchId in done and p.numInputRows]
    # batch 0 of a fresh query also pays planning and source init
    measured = [p for p in progs if p.batchId > 0]
    trig = [p.durationMs["triggerExecution"] / 1000 for p in measured]
    add = [p.durationMs.get("addBatch", 0) / 1000 for p in measured]
    events = sum(p.numInputRows for p in progs)

    errors, layers = verify(ctx, state, done, events)
    layers.update({
        "streaming.batch_s": median(trig),
        "streaming.bookkeeping_s": median(t - a for t, a in zip(trig, add)),
        "catchup.events_per_s": sum(p.numInputRows for p in measured) / sum(trig) if trig else 0.0,
    })
    if tracer is not None:
        layers.update(_sink_layers(tracer, {p.batchId for p in measured}))
    return {
        "ops": len(measured), "events": events, "op_p50_s": median(trig),
        "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}, "gc_s": gc1 - gc0,
        "errors": errors, "layers": layers,
        "detail": {"window_s": t1 - t0,
                   "batches_s": [p.durationMs["triggerExecution"] / 1000 for p in progs]},
    }


def _sink_layers(tracer, batches: set[int]) -> dict:
    """Per measured batch: the BinlogSink span, its encode child, and
    the difference (sort, offsets, rotate, parquet write)."""
    enc: dict[int, float] = {}
    for s in tracer.spans:
        if s["name"] == "binlog_wire.encode" and s["parent"] is not None:
            enc[s["parent"]] = enc.get(s["parent"], 0.0) + s["end"] - s["start"]
    sink_s, enc_s = [], []
    for i, s in enumerate(tracer.spans):
        if s["name"] == "pipeline.binlog_sink" and s.get("batch") in batches:
            sink_s.append(s["end"] - s["start"])
            enc_s.append(enc.get(i, 0.0))
    return {
        "pipeline.binlog_sink_s": median(sink_s),
        "binlog_wire.encode_s": median(enc_s),
        "pipeline.binlog_sink_self_s": median(a - b for a, b in zip(sink_s, enc_s)),
    }


def verify(ctx, state: dict, done: set[int], events: int) -> tuple[list, dict]:
    """Sink rows, dense TSO-ordered offsets and the wire files' DML
    counts against the seeded backlog prefix the committed batches read."""
    from polardbx_cdc_spark import binlog_wire

    errors = []
    # committed_files only lists batches with a commit; the refused one has none
    files = sorted(int(n.split("-")[1].split(".")[0])
                   for n, b in committed_files(ctx.path("main", "ckpt")).items() if b in done)
    if files != list(range(len(files))):
        errors.append(f"consumed files are not a backlog prefix: {files[:5]}...")
    exp_ev = pd.concat([state["main"][i] for i in files], ignore_index=True)
    exp = inputs.action_counts(exp_ev)
    n_exp = len(exp_ev)
    if events != n_exp:
        errors.append(f"progress rows {events} != seeded rows {n_exp}")

    t = ds.dataset(ctx.path("main", "out"), format="parquet",
                   partitioning="hive").to_table(
        columns=["offset", "tso", "db", "tbl", "action"]).to_pandas()
    if len(t) != n_exp:
        errors.append(f"sink rows {len(t)} != {n_exp}")
    t = t.sort_values("offset", kind="stable")
    if not np.array_equal(t["offset"].to_numpy(), np.arange(len(t))):
        errors.append("offsets are not contiguous 0..N-1")
    tso = t["tso"].tolist()
    if any(a >= b for a, b in zip(tso, tso[1:])):
        errors.append("offset order is not strictly increasing TSO order")
    got = {k: int(v) for k, v in t.groupby(["db", "tbl", "action"]).size().items()}
    if got != exp:
        errors.append("sink (db, tbl, action) counts differ from the seed")

    wire_paths = sorted(glob.glob(ctx.path("main", "wire", "binlog.*")))
    n_bytes = sum(os.path.getsize(p) for p in wire_paths)
    t_dec = time.perf_counter()
    wire_counts: dict[tuple, int] = {}
    n_dml = 0
    for p in wire_paths:
        with open(p, "rb") as fh:
            c = binlog_wire.wire_frame_cols(os.path.basename(p), fh.read())
        for k, d, tb in zip(c["kind"], c["db"], c["tbl"]):
            if k in ("INSERT", "UPDATE", "DELETE"):
                wire_counts[(d, tb, k)] = wire_counts.get((d, tb, k), 0) + 1
                n_dml += 1
    dec_s = time.perf_counter() - t_dec
    if wire_counts != exp:
        errors.append(f"wire files decode to {n_dml} DML events, counts differ from the seed")
    return errors, {
        "binlog_wire.wire_bytes_per_event": n_bytes / max(1, n_dml),
        "binlog_wire.decode_us_per_event": dec_s / max(1, n_dml) * 1e6,
    }
