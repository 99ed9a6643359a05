"""Re-bucket layout migration (r13, verdict ask #5): a durable state
sink whose LAYOUT was sized from a small bootstrap batch must absorb a
100×-larger workload by REWRITING to a wider bucket layout — without
losing state, atomically with its commit protocol, and such that a
re-attach sees the migrated layout. This is the 100 TB question the r12
AUTO sizing left open: the first-observed-batch count froze the layout
forever (ADVICE r12 item #3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from polardbx_cdc_spark.operators import apply as apply_ops
from polardbx_cdc_spark.streaming.pipeline import (
    AggViewSink,
    ReplicaTableSink,
    _read_layout_file,
    _read_layout_file2,
)

_SCHEMA = "db string, tbl string, pk string, tso string, action string, value double"


def _events(spark, n, tso_base, val_off=0.0):
    """n INSERT events over pks 0..n-1 with deterministic values."""
    return spark.range(n).select(
        F.lit("shop").alias("db"),
        F.lit("orders").alias("tbl"),
        F.col("id").cast("string").alias("pk"),
        F.format_string(f"{tso_base}%012d", F.col("id")).alias("tso"),
        F.lit("INSERT").alias("action"),
        (F.col("id") + F.lit(val_off)).cast("double").alias("value"),
    )


def test_replica_sink_migrates_past_small_bootstrap_layout(spark, tmp_path):
    """Bootstrap with a tiny batch (AUTO → 3 buckets), then absorb a
    100× batch: the sink must re-bucket to a wider layout, keep every
    key's last image, commit the new count atomically in the manifest,
    and re-attach under the migrated layout."""
    table_dir = str(tmp_path / "replica")
    sink = ReplicaTableSink(table_dir)
    sink.bucket_floor = 40
    sink.rebucket_cap = 100

    b1 = spark.createDataFrame(_events(spark, 120, "A").collect(), _SCHEMA)
    sink(b1, batch_id=0)
    assert sink.n_buckets == 3  # 120 rows // 40 floor — a tiny layout
    assert sink.last_migration is None

    # the 100× batch: pks overlap the bootstrap (updates) and extend far
    # past it — rows-per-bucket would breach the cap 40× over
    b2 = spark.createDataFrame(_events(spark, 12_000, "B", 0.5).collect(),
                               _SCHEMA)
    sink(b2, batch_id=1)
    assert sink.last_migration is not None
    old_n, new_n = sink.last_migration
    assert old_n == 3
    # sized from state+batch rows (120 + 12_000, pre-merge upper
    # bound) at 100 rows/bucket cap
    assert new_n == 122
    assert sink.n_buckets == new_n

    # no state lost, updates won: every key's value is the batch-2 image
    state = sink.current(spark)
    assert state.count() == 12_000
    got = {r["pk"]: r["value"] for r in state.collect()}
    assert got["7"] == 7.5 and got["11999"] == 11999.5
    # the layout committed WITH the manifest (atomic), and the mirror
    # LAYOUT file followed
    assert _read_layout_file(os.path.join(table_dir, "LAYOUT")) == new_n
    import json

    with open(os.path.join(table_dir, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["__n_buckets__"] == new_n

    # re-attach: a fresh sink adopts the migrated layout and keeps
    # merging correctly
    sink2 = ReplicaTableSink(table_dir)
    assert sink2.n_buckets == new_n
    sink2.bucket_floor, sink2.rebucket_cap = 40, 100
    b3 = spark.createDataFrame(_events(spark, 50, "C", 0.25).collect(),
                               _SCHEMA)
    sink2(b3, batch_id=2)
    got = {r["pk"]: r["value"]
           for r in sink2.current(spark).filter(F.col("pk") < "5").collect()}
    assert got["3"] == 3.25  # batch-3 update applied post-migration


def test_replica_sink_migration_preserves_deletes(spark, tmp_path):
    """The migration rewrite replays state+batch through the same
    last-image semantics — a DELETE arriving WITH the triggering batch
    must not resurrect (or survive) through the layout rewrite."""
    table_dir = str(tmp_path / "replica_del")
    sink = ReplicaTableSink(table_dir)
    sink.bucket_floor = 40
    sink.rebucket_cap = 100
    sink(spark.createDataFrame(_events(spark, 100, "A").collect(), _SCHEMA),
         batch_id=0)
    big = _events(spark, 5_000, "B", 0.5).collect()
    dels = spark.createDataFrame(big, _SCHEMA).filter(
        F.col("pk").isin(["1", "2", "3"])
    ).withColumn("tso", F.concat(F.lit("C"), F.col("tso"))).withColumn(
        "action", F.lit("DELETE")
    )
    batch = spark.createDataFrame(big, _SCHEMA).unionByName(dels)
    sink(batch, batch_id=1)
    assert sink.last_migration is not None
    state = sink.current(spark)
    assert state.count() == 5_000 - 3
    assert state.filter(F.col("pk").isin(["1", "2", "3"])).count() == 0


def test_agg_view_sink_migrates_and_view_stays_correct(spark, tmp_path):
    """AggViewSink: the versioned pk_v{N} layout re-buckets under the
    CURRENT version-pointer commit when cumulative key volume breaches
    the cap; the maintained view and pk state must equal the one-shot
    batch IVM over the full history, and a re-attach adopts the migrated
    count from the versioned _LAYOUT."""
    state_dir = str(tmp_path / "mv")
    sink = AggViewSink(state_dir)
    sink.bucket_floor = 10
    sink.rebucket_cap = 50

    # 30 rows per writer core sit inside the [10, 50] × parallelism band
    # → one bucket per writer core (pks stay a subset of b2's 0..2999)
    par = spark.sparkContext.defaultParallelism
    b1 = spark.createDataFrame(_events(spark, 30 * par, "A").collect(),
                               _SCHEMA)
    sink(b1, batch_id=0)
    n0 = sink.n_buckets
    assert n0 == par
    assert sink.last_migration is None

    b2 = spark.createDataFrame(_events(spark, 3_000, "B", 0.5).collect(),
                               _SCHEMA)
    sink(b2, batch_id=1)
    assert sink.last_migration is not None
    old_n, new_n = sink.last_migration
    assert old_n == n0 and new_n == 60  # 3000 exact keys / 50 cap
    assert sink.n_buckets == new_n

    # view correctness across the migration = the one-shot IVM
    truth = (
        apply_ops.maintain_agg_view(b1.unionByName(b2))
        .filter(F.col("n_rows") > 0)
        .collect()
    )
    got = sink.view(spark).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, truth))
    # pk state fully re-bucketed: every row's bucket matches the new hash
    pk = sink.pk_state(spark)
    assert pk.count() == 3_000
    bad = pk.filter(
        F.col("bucket")
        != F.pmod(F.xxhash64("db", "tbl", "pk"), F.lit(new_n)).cast("int")
    ).count()
    assert bad == 0

    # re-attach reads the migrated layout from the versioned _LAYOUT
    sink2 = AggViewSink(state_dir)
    assert sink2.n_buckets == new_n
    sink2.bucket_floor, sink2.rebucket_cap = 10, 50
    b3 = spark.createDataFrame(
        _events(spark, 20, "C", 0.25).collect(), _SCHEMA)
    sink2(b3, batch_id=2)
    truth3 = (
        apply_ops.maintain_agg_view(
            b1.unionByName(b2).unionByName(b3))
        .filter(F.col("n_rows") > 0)
        .collect()
    )
    got3 = sink2.view(spark).collect()
    assert sorted(map(tuple, got3)) == sorted(map(tuple, truth3))


def test_overcounting_trigger_settles_without_migration(spark, tmp_path):
    """rows_seen is an UPPER bound (updates re-count); when the exact
    check finds the cap not actually breached, the sink must pin
    rows_seen to truth and not thrash a migration every batch."""
    table_dir = str(tmp_path / "replica_over")
    sink = ReplicaTableSink(table_dir)
    sink.bucket_floor = 40
    sink.rebucket_cap = 1_000
    base = spark.createDataFrame(_events(spark, 200, "A").collect(), _SCHEMA)
    sink(base, batch_id=0)
    n0 = sink.n_buckets
    # hammer the SAME 200 keys until the cumulative count breaches the
    # trigger; the exact state stays 200 rows — far under the cap
    for i in range(1, 40):
        upd = spark.createDataFrame(
            _events(spark, 200, f"B{i:02d}", float(i)).collect(), _SCHEMA)
        sink(upd, batch_id=i)
    assert sink.last_migration is None
    assert sink.n_buckets == n0
    # the exact check ran at least once and reset the bound to truth
    assert sink.rows_seen <= 200 + 200 * 40
    assert sink.current(spark).count() == 200


def test_versioned_layout_round_trips_rows_seen(tmp_path):
    from polardbx_cdc_spark.streaming.pipeline import _write_layout_file

    p = str(tmp_path / "_LAYOUT")
    _write_layout_file(p, 64, 123_456)
    assert _read_layout_file(p) == 64
    assert _read_layout_file2(p) == (64, 123_456)
    _write_layout_file(p, 7)
    assert _read_layout_file2(p) == (7, 0)
