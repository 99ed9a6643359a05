"""``attach``: a closed loop with one replica client. Each operation is
one ``queries.cdc_dump_attach_decode`` call: a MySQLDumpServer starts, a
GTID auto-position dump pulls the whole rotated chain over one TCP
connection, the bytes spool into segments, Spark decodes them and builds
the (db, tbl, action) rollup. No stream, no sink, no encoder in the
window: the chain renders once, inside the warm-up's first call.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import nullcontext

from common import median
import inputs

EVENTS = 50_000
WARM_CALLS = 1
SECONDS_PER_CALL = 2  # nominal, on a 4-core box
SLOW_CAP = 3


def build(ctx, seed: int, seconds: int) -> dict:
    ev = inputs.events(inputs.rng(seed, inputs.ATTACH), EVENTS, 0, 0)
    inputs.write_events_file(ev, ctx.path("sf"))
    return {"events": ev}


def _call(ctx) -> list:
    from polardbx_cdc_spark import queries

    return queries.cdc_dump_attach_decode(ctx.spark, ctx.path("sf")).collect()


def prepare(ctx, state: dict, tracer) -> None:
    """Warm-up calls; the first one renders and caches the chain."""
    from polardbx_cdc_spark import binlog_wire

    state["expect"] = inputs.attach_rollup(state["events"])
    if tracer is not None:
        tracer.wrap(binlog_wire, "export_wire_files", "binlog_wire.encode",
                    annotate=lambda out, a: {"wire_dir": a[2]})
    try:
        for _ in range(WARM_CALLS):
            err = _check(_call(ctx), state["expect"])
            if err:
                raise RuntimeError(f"warm-up call: {err}")
    finally:
        if tracer is not None:
            tracer.restore()


def _check(rows, expect) -> str | None:
    got = {(r["db"], r["tbl"], r["action"]): (r["n"], r["value_cents"], r["pk_hash_sum"])
           for r in rows}
    if got != expect:
        bad = sorted(k for k in set(got) | set(expect) if got.get(k) != expect.get(k))
        return f"rollup differs from the seeded rollup on {len(bad)} groups, e.g. {bad[:2]}"
    return None


def measure(ctx, state: dict, seconds: int, tracer) -> dict:
    from polardbx_cdc_spark import dump_server, mysql_dump

    if tracer is not None:
        tracer.wrap(mysql_dump, "binlog_dump_gtid_fetch", "mysql_dump.fetch",
                    annotate=lambda out, a: {"bytes": len(out)})
        tracer.wrap(dump_server, "spool_segments", "dump_server.spool",
                    annotate=lambda out, a: {"segments": out})
    calls, errors = [], []
    cpu0, gc0 = ctx.procs.cpu(), ctx.gc_seconds()
    t_start = time.perf_counter()
    # a fixed number of calls sized from --seconds, so every run measures
    # the same call positions; a box too slow for them stops at the cap
    n_calls = max(3, seconds // SECONDS_PER_CALL)
    try:
        while len(calls) < n_calls and time.perf_counter() - t_start < SLOW_CAP * seconds:
            t0 = time.perf_counter()
            with tracer.span("attach.call") if tracer is not None else nullcontext():
                rows = _call(ctx)
            calls.append(time.perf_counter() - t0)
            err = _check(rows, state["expect"])
            if err:
                errors.append(err)
    finally:
        if tracer is not None:
            tracer.restore()
    window_s = time.perf_counter() - t_start
    cpu1, gc1 = ctx.procs.cpu(), ctx.gc_seconds()

    layers = _layers(ctx, tracer) if tracer is not None else {}
    return {
        "ops": len(calls), "events": EVENTS * len(calls),
        "op_p50_s": median(calls),
        "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}, "gc_s": gc1 - gc0,
        "errors": sorted(set(errors)), "layers": layers,
        "detail": {"window_s": window_s, "calls_s": calls},
    }


def _layers(ctx, tracer) -> dict:
    from polardbx_cdc_spark import binlog_wire

    by_call: list[dict] = []
    for i, s in enumerate(tracer.spans):
        if s["name"] == "attach.call":
            by_call.append({"call": s["end"] - s["start"], "fetch": 0.0,
                            "spool": 0.0, "bytes": 0, "segments": 0, "idx": i})
    pos = {c["idx"]: c for c in by_call}
    for s in tracer.spans:
        c = pos.get(s["parent"])
        if c is None:
            continue
        if s["name"] == "mysql_dump.fetch":
            c["fetch"] += s["end"] - s["start"]
            c["bytes"] += s["bytes"]
        elif s["name"] == "dump_server.spool":
            c["spool"] += s["end"] - s["start"]
            c["segments"] += s["segments"]
    enc = [s for s in tracer.spans if s["name"] == "binlog_wire.encode"]
    wire_dir = enc[0]["wire_dir"] if enc else None
    out = {
        "mysql_dump.fetch_s": median(c["fetch"] for c in by_call),
        "mysql_dump.fetch_mb_s": median(c["bytes"] / c["fetch"] / 1e6
                                        for c in by_call if c["fetch"]),
        "dump_server.spool_s": median(c["spool"] for c in by_call),
        "dump_server.segments": median(c["segments"] for c in by_call),
        "binlog_wire.decode_s": median(c["call"] - c["fetch"] - c["spool"] for c in by_call),
        "binlog_wire.encode_s": median(s["end"] - s["start"] for s in enc),
    }
    if wire_dir:
        paths = sorted(glob.glob(os.path.join(wire_dir, "binlog.*")))
        t0, n_ev = time.perf_counter(), 0
        for p in paths:
            with open(p, "rb") as fh:
                n_ev += len(binlog_wire.wire_frame_cols(os.path.basename(p), fh.read())["kind"])
        out["binlog_wire.decode_us_per_event"] = (time.perf_counter() - t0) / max(1, n_ev) * 1e6
        out["binlog_wire.wire_bytes_per_event"] = (
            sum(os.path.getsize(p) for p in paths) / EVENTS)
    return out
