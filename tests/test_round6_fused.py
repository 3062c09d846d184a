"""Round-6 fused-exchange MOR apply (EngineConfig.mor_fused_exchange):
the dedup aggregate and the writer's bucket clustering share ONE shuffle.
Pins (a) final-state equivalence with the classic two-exchange plan across
restarts and schema evolution, (b) the single-Exchange plan shape of the
engine's own bucket exchange and its cluster-sized slot count, and (c) one
data file per touched bucket per epoch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.operators.lww import lww_winners
from etl_geo_dem_spark.plans.lake_table import (
    BUCKET_COL,
    LakeTable,
    bucket_expr,
    bucket_write_slots,
    cluster_by_bucket,
)
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes


def _replay(spark, path, fused: bool):
    table = LakeTable.create(spark, path, STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(
        spark, 30_000, n_conv=300, turns_per_conv=20, n_epochs=3,
        evolve_from_epoch=2, n_partitions=8,
    )
    cfg = EngineConfig(
        dedup_strategy="agg", merge_mode="mor", n_buckets=8,
        mor_fused_exchange=fused,
    )
    for e, batch in epoch_batches(ch, evolve_from_epoch=2):
        apply_changes(table, batch, e, cfg)
    return table


def test_fused_final_state_equals_split(spark, warehouse):
    t_fused = _replay(spark, os.path.join(warehouse, "fused"), fused=True)
    t_split = _replay(spark, os.path.join(warehouse, "split"), fused=False)
    cols = sorted(t_fused.read_public().columns)
    a = t_fused.read_public().orderBy("conv_id", "turn_idx").select(*cols).toPandas()
    b = t_split.read_public().orderBy("conv_id", "turn_idx").select(*cols).toPandas()
    assert len(a) > 0
    assert a.equals(b)


def test_bucket_write_slots_follow_the_cluster():
    """4× the smaller of bucket count and parallelism: the wide-cluster shape
    keeps its 4×-buckets anti-collision layout, a 2-core one drops the empty
    write tasks."""
    assert bucket_write_slots(32, 32) == 128
    assert bucket_write_slots(32, 2) == 8
    assert bucket_write_slots(8, 4) == 16
    assert bucket_write_slots(1, 1) == 4


def test_fused_agg_is_single_exchange(spark):
    """The fused plan's whole point: repartition by storage bucket (through
    the engine's own cluster_by_bucket), then aggregate by (bucket, key)
    WITHOUT a second exchange — Spark must accept hash(bucket) partitioning
    as satisfying the (bucket, key) clustering."""
    ch = generate_changes(spark, 5_000, n_conv=100, turns_per_conv=10,
                          n_epochs=1, n_partitions=4)
    bucketed = ch.withColumn(BUCKET_COL, bucket_expr("conv_id", 8))
    winners = lww_winners(
        cluster_by_bucket(bucketed, 8),
        [BUCKET_COL, "conv_id", "turn_idx"], ["ts", "lsn"], strategy="agg",
    )
    plan = winners._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"expected 1 Exchange, got {n_exchanges}:\n{plan}"
    exchange = plan.split("Exchange", 1)[1].split("\n", 1)[0]
    assert BUCKET_COL in exchange
    slots = bucket_write_slots(8, spark.sparkContext.defaultParallelism)
    assert f", {slots})" in exchange, exchange


def test_mor_epoch_writes_one_file_per_touched_bucket(spark, warehouse):
    """Fewer write slots than buckets put several buckets in one task; the
    bucket exchange must still hand each bucket to exactly one task, so an
    epoch below the per-file row cap writes exactly one delta file for
    every bucket its batch touches."""
    table = LakeTable.create(
        spark, os.path.join(warehouse, "per_bucket"), STATE_SCHEMA, n_buckets=32
    )
    ch = generate_changes(spark, 20_000, n_conv=400, turns_per_conv=10,
                          n_epochs=1, n_partitions=4)
    batch = ch.filter(F.col("epoch") == 0)
    cfg = EngineConfig(dedup_strategy="agg", merge_mode="mor", n_buckets=32)
    assert bucket_write_slots(32, spark.sparkContext.defaultParallelism) < 32
    apply_changes(table, batch, 0, cfg)
    expected = sorted(
        r[0] for r in batch.select(bucket_expr("conv_id", 32)).distinct().collect()
    )
    deltas = [f for f in table._files_of(table.snapshot_meta())
              if f["kind"] == "delta"]
    assert sorted(f["bucket"] for f in deltas) == expected


@pytest.mark.parametrize("fused", [True, False])
def test_fused_epoch_skip_and_resume(spark, warehouse, fused):
    """Exactly-once invariants are strategy-independent: re-applying a
    committed epoch is a skip, and a second process-level replay converges."""
    path = os.path.join(warehouse, f"resume_{fused}")
    table = LakeTable.create(spark, path, STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, 10_000, n_conv=100, turns_per_conv=10,
                          n_epochs=2, n_partitions=4)
    cfg = EngineConfig(dedup_strategy="agg", merge_mode="mor", n_buckets=8,
                       mor_fused_exchange=fused)
    m0 = apply_changes(table, ch.filter(F.col("epoch") == 0), 0, cfg)
    assert m0["status"] == "committed"
    again = apply_changes(table, ch.filter(F.col("epoch") == 0), 0, cfg)
    assert again["status"] == "skipped"
    m1 = apply_changes(table, ch.filter(F.col("epoch") == 1), 1, cfg)
    assert m1["status"] == "committed"
    assert table.last_epoch() == 1
