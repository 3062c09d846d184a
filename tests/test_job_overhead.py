"""Driver-side work that must not start Spark jobs or tasks: planning a
snapshot read (no file-listing job, however many files the snapshot names),
reading a fully pruned snapshot (no Python-worker tasks for zero rows), and
planning a single-key DML batch (bucket routing and the lsn stamp come from
metadata alone)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import _dml_batch, apply_changes, delete_where
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes

MOR = EngineConfig(dedup_strategy="agg", merge_mode="mor", n_buckets=8)


def _mor_table(spark, warehouse, name, n_epochs):
    """An 8-bucket merge-on-read table: ≤ 8 delta files per epoch."""
    table = LakeTable.create(
        spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=8
    )
    ch = generate_changes(spark, 1_000 * n_epochs, n_conv=200, turns_per_conv=10,
                          n_epochs=n_epochs, n_partitions=4)
    for e, batch in epoch_batches(ch):
        apply_changes(table, batch, e, MOR)
    return table


def test_snapshot_read_starts_no_listing_job(spark, warehouse, spark_jobs):
    """Spark lists more than 32 explicit paths with a job of one task per
    file unless the session raises the discovery threshold; a snapshot read
    must plan from its own file list alone."""
    table = _mor_table(spark, warehouse, "listing", n_epochs=5)
    n_files = len(table._files_of(table.snapshot_meta()))
    assert n_files > 32, n_files
    with spark_jobs() as seen:
        df = table.read()
    assert seen.jobs == 0
    assert len(df.inputFiles()) == n_files


def test_absent_key_lookup_runs_no_tasks(spark, warehouse, spark_jobs):
    """A key above every file's [min, max] prunes to no files: the empty
    result keeps the table's schema and collects without a single task."""
    table = _mor_table(spark, warehouse, "absent", n_epochs=1)
    with spark_jobs() as seen:
        df = table.point_lookup("~never-written")
        rows = df.collect()
    assert rows == []
    assert df.schema == table.schema()
    assert seen.tasks == 0


def test_single_key_delete_runs_no_prejobs(spark, warehouse, spark_jobs):
    """Planning a single-key delete is metadata-only: buckets_of hashes the
    key on the driver, the lsn stamp comes from per-file stats, and the
    pruned read lists no files through Spark — the one job is the apply."""
    table = _mor_table(spark, warehouse, "dml", n_epochs=5)
    key = table.read_public().select("conv_id").first()[0]
    bucket = table.bucket_of(key)
    bucket_files = {
        f["path"] for f in table._files_of(table.snapshot_meta())
        if f["bucket"] == bucket
    }
    with spark_jobs() as seen:
        batch = _dml_batch(table, F.col("conv_id") == key, None, "D")
    assert seen.jobs == 0
    scanned = {p.removeprefix("file://") for p in batch.inputFiles()}
    assert scanned and scanned <= bucket_files
    assert delete_where(table, F.col("conv_id") == key, MOR)["status"] == "committed"
    assert table.read_public().filter(F.col("conv_id") == key).count() == 0
