"""Seeded inputs for the two workloads, and the independent pandas
computations the correctness gates compare the engine against.

Every generator takes the run's ``--seed`` plus a fixed stream tag, so
the same seed always yields the same bytes, and the warm-up inputs never
share a stream with the measured ones. The oracles re-derive what the
engine must produce from the generated frames alone — they never read
engine output to build their expectation.
"""

from __future__ import annotations

import hashlib
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
USERS = 5000

# stream tags: one independent RNG stream per input role
CATCHUP_WARM, CATCHUP_MAIN, ATTACH = 1, 2, 4


def rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def events(g: np.random.Generator, n: int, id0: int, t0_us: int) -> pd.DataFrame:
    """``n`` app events shaped like the engine's ``events`` table, with
    event_id and ts strictly increasing from (id0, t0_us)."""
    ts = t0_us + g.integers(1, 200_000, n).cumsum()
    return pd.DataFrame({
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "ts": BASE_TS + ts.astype("timedelta64[us]"),
        "user_id": g.integers(0, USERS, n).astype(np.int64),
        "event_type": EVENT_TYPES[g.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(g.uniform(0.0, 1000.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
    })


def event_files(seed: int, tag: int, sizes) -> list[pd.DataFrame]:
    """A backlog split into files of the given sizes; ids and times keep
    increasing across files, so file order is TSO order."""
    g = rng(seed, tag)
    out, id0, t0 = [], 0, 0
    for n in sizes:
        df = events(g, n, id0, t0)
        out.append(df)
        id0 += n
        t0 = int((df["ts"].iloc[-1] - BASE_TS) / np.timedelta64(1, "us"))
    return out


def write_events_dir(files: list[pd.DataFrame], sf_dir: str) -> None:
    """Land the files as ``sf_dir/events.parquet/part-NNNNN.parquet`` with
    mtimes pinned in file order (the stream source orders by mtime)."""
    d = os.path.join(sf_dir, "events.parquet")
    os.makedirs(d, exist_ok=True)
    for i, df in enumerate(files):
        p = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))


def write_events_file(df: pd.DataFrame, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(sf_dir, "events.parquet"))


def derive_cdc(ev: pd.DataFrame) -> pd.DataFrame:
    """The events → CDC row mapping, restated in pandas."""
    action = np.where(ev["event_type"] == "signup", "INSERT",
                      np.where(ev["event_type"] == "error", "DELETE", "UPDATE"))
    uid = ev["user_id"].to_numpy()
    return pd.DataFrame({
        "db": pd.Series(uid % 3).map(lambda x: f"db{x}").to_numpy(),
        "tbl": pd.Series(uid % 5).map(lambda x: f"t{x}").to_numpy(),
        "action": action,
        "pk": ev["user_id"].astype(str).to_numpy(),
        "value": ev["value"].to_numpy(),
    })


def action_counts(ev: pd.DataFrame) -> dict[tuple[str, str, str], int]:
    c = derive_cdc(ev).groupby(["db", "tbl", "action"]).size()
    return {k: int(v) for k, v in c.items()}


def _cents(v: float) -> int:
    # Spark's round(double, 0) is HALF_UP on the double's shortest decimal
    return int(Decimal(repr(float(v) * 100)).quantize(Decimal(1), ROUND_HALF_UP))


def _pk_hash(pk: str) -> int:
    return int(hashlib.md5(pk.encode()).hexdigest()[:8], 16)


def attach_rollup(ev: pd.DataFrame) -> dict[tuple[str, str, str], tuple[int, int, int]]:
    """(db, tbl, action) → (n, value_cents, pk_hash_sum)."""
    cdc = derive_cdc(ev)
    cdc["cents"] = [_cents(v) for v in cdc["value"]]
    cdc["h"] = [_pk_hash(p) for p in cdc["pk"]]
    g = cdc.groupby(["db", "tbl", "action"]).agg(
        n=("pk", "size"), cents=("cents", "sum"), h=("h", "sum"))
    return {k: (int(r.n), int(r.cents), int(r.h)) for k, r in g.iterrows()}
