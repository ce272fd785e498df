"""Merge/upsert writer: the reference's idempotency contract
(dags/dag.py:250-266) — double-running must not duplicate; volatile
columns refresh; created_at survives; updated_at bumps only on touch."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_mudah_spark.operators.merge import merge_dataframes, merge_upsert

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
T1 = dt.datetime(2024, 1, 2, 0, 0, 0)
T2 = dt.datetime(2024, 1, 3, 0, 0, 0)

SCHEMA = (
    "listing_id bigint, price double, listing_date timestamp, "
    "region_id string, created_at timestamp, updated_at timestamp"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_merge_insert_update_preserve(spark):
    target = _batch(
        spark,
        [
            (1, 100.0, T0, "r1", T0, T0),
            (2, 200.0, T0, "r1", T0, T0),
        ],
    )
    staged = _batch(
        spark,
        [
            (2, 222.0, T1, "r1", None, None),  # update
            (3, 300.0, T1, "r2", None, None),  # insert
        ],
    )
    out = merge_dataframes(
        target, staged, ["listing_id"], ["listing_date", "listing_id"], batch_ts=T2
    ).orderBy("listing_id")
    rows = {r.listing_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].price == 100.0 and rows[1].updated_at == T0  # untouched
    assert rows[2].price == 222.0  # volatile refreshed (staged wins)
    assert rows[2].created_at == T0  # created_at preserved from target
    assert rows[2].updated_at == T2  # bumped on touch
    assert rows[3].created_at == T2 and rows[3].updated_at == T2  # new key


def test_merge_dedups_staged_batch_deterministically(spark):
    staged = _batch(
        spark,
        [
            (5, 1.0, T0, "r1", None, None),
            (5, 2.0, T1, "r1", None, None),  # later listing_date wins
        ],
    )
    out = merge_dataframes(None, staged, ["listing_id"], ["listing_date", "listing_id"], batch_ts=T2)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].price == 2.0


def test_merge_upsert_idempotent_on_disk(spark, tmp_path):
    path = str(tmp_path / "listings")
    b1 = _batch(spark, [(1, 10.0, T0, "r1", None, None), (2, 20.0, T0, "r2", None, None)])
    merge_upsert(spark, b1, path, ["listing_id"], ["listing_date", "listing_id"],
                 partition_col="region_id", batch_ts=T1)
    # overlapping re-run: same key with newer data + one new key
    b2 = _batch(spark, [(2, 25.0, T1, "r2", None, None), (3, 30.0, T1, "r2", None, None)])
    for _ in range(2):  # running the same batch twice must be a no-op
        merge_upsert(spark, b2, path, ["listing_id"], ["listing_date", "listing_id"],
                     partition_col="region_id", batch_ts=T2)
    out = spark.read.parquet(path)
    rows = {r.listing_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].price == 25.0 and rows[2].created_at == T1
    assert rows[1].price == 10.0 and rows[1].updated_at == T1  # partition r1 untouched


@pytest.mark.parametrize("partition_col", [None, "region_id"])
def test_merge_upsert_first_write(spark, tmp_path, partition_col):
    path = str(tmp_path / "t")
    b = _batch(spark, [(1, 1.0, T0, "r1", None, None)])
    merge_upsert(spark, b, path, ["listing_id"], ["listing_date"],
                 partition_col=partition_col, batch_ts=T1)
    assert spark.read.parquet(path).count() == 1


def test_merge_schema_evolution_new_and_missing_columns(spark):
    """The staged batch may carry columns the target lacks (schema
    evolution — a scraped API adds a field) and may lack columns the
    target has; merge keeps both sides' columns, NULL-filling the gaps
    (unionByName allowMissingColumns in merge_dataframes)."""
    target = _batch(
        spark,
        [(1, 100.0, T0, "7", T0, T0), (2, 200.0, T0, "7", T0, T0)],
    )
    staged = spark.createDataFrame(
        # new column `fuel`, and no region_id at all
        [(2, 250.0, T1, "diesel"), (3, 300.0, T1, "petrol")],
        "listing_id bigint, price double, listing_date timestamp, fuel string",
    )
    out = {
        r["listing_id"]: r
        for r in merge_dataframes(
            target, staged, ["listing_id"], ["listing_date", "listing_id"],
            batch_ts=T1,
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    # untouched row: old columns intact, new column NULL
    assert out[1]["region_id"] == "7" and out[1]["fuel"] is None
    # updated row: staged wins, target-only column becomes NULL for the
    # staged version (no value to carry), new column filled
    assert out[2]["price"] == 250.0 and out[2]["fuel"] == "diesel"
    # inserted row: target-only column NULL, new column present
    assert out[3]["region_id"] is None and out[3]["fuel"] == "petrol"


# --- stage-once, rename-publish: failure and crash matrix -------------

B1 = [(1, 10.0, T0, "r1", None, None), (2, 20.0, T0, "r2", None, None)]
B2 = [(2, 25.0, T1, "r2", None, None), (3, 30.0, T1, "r2", None, None)]
COLS = ["listing_id", "price", "listing_date", "region_id", "created_at", "updated_at"]

# Spark jobs one merge_upsert into an existing unpartitioned table runs:
# the target schema read, the merge window's shuffle map stage and the
# one write.
MERGE_JOBS = 3


def _merge(spark, rows, path, ts, partition_col=None):
    staged = _batch(spark, rows) if isinstance(rows, list) else rows
    merge_upsert(spark, staged, path, ["listing_id"], ["listing_date", "listing_id"],
                 partition_col=partition_col, batch_ts=ts)


def _rows(spark, path):
    return sorted(spark.read.parquet(path).select(*COLS).collect())


def _uninterrupted(spark, tmp_path, partition_col=None):
    ref = str(tmp_path / "reference")
    _merge(spark, B1, ref, T1, partition_col)
    _merge(spark, B2, ref, T2, partition_col)
    return _rows(spark, ref)


def _leftovers(path):
    return [p for p in (path + "._merging", path + "._premerge") if os.path.exists(p)]


@pytest.mark.parametrize("partition_col", [None, "region_id"])
def test_merge_upsert_failed_write_leaves_table_intact(spark, tmp_path, partition_col):
    """A staged write that fails (task error, full disk) never touches
    the live table, and the next merge discards its partial output."""
    path = str(tmp_path / "listings")
    _merge(spark, B1, path, T1, partition_col)
    before = _rows(spark, path)
    bad = _batch(spark, B2).withColumn(
        "price",
        F.when(F.col("listing_id") == 3, F.raise_error(F.lit("disk full")))
        .otherwise(F.col("price")),
    )
    with pytest.raises(Exception, match="disk full"):
        _merge(spark, bad, path, T2, partition_col)
    assert _rows(spark, path) == before
    _merge(spark, B2, path, T2, partition_col)
    assert not _leftovers(path)
    assert _rows(spark, path) == _uninterrupted(spark, tmp_path, partition_col)


def test_merge_upsert_restores_table_moved_aside(spark, tmp_path):
    """Crash between the swap's two renames (unpartitioned): the table
    dir is missing and its aside copy is complete — restored, and the
    replayed batch gives the uninterrupted result."""
    path = str(tmp_path / "listings")
    _merge(spark, B1, path, T1)
    os.rename(path, path + "._premerge")
    _merge(spark, B2, path, T2)
    assert _rows(spark, path) == _uninterrupted(spark, tmp_path)
    assert not _leftovers(path)


def test_merge_upsert_discards_leftover_staging(spark, tmp_path):
    """Crash before the swap: a staged dir beside the live table is an
    unpublished write — discarded, never published."""
    path = str(tmp_path / "listings")
    _merge(spark, B1, path, T1)
    _batch(spark, [(9, 90.0, T0, "r9", T0, T0)]).write.parquet(path + "._merging")
    _merge(spark, B2, path, T2)
    assert _rows(spark, path) == _uninterrupted(spark, tmp_path)
    assert not _leftovers(path)


def test_merge_upsert_restores_partition_moved_aside(spark, tmp_path):
    """Crash mid-swap on a partitioned table: one partition is aside
    and missing from the table — restored, and the untouched partition
    keeps its stamp."""
    path = str(tmp_path / "listings")
    _merge(spark, B1, path, T1, "region_id")
    os.makedirs(path + "._premerge")
    os.rename(f"{path}/region_id=r2", f"{path}._premerge/region_id=r2")
    _merge(spark, B2, path, T2, "region_id")
    assert _rows(spark, path) == _uninterrupted(spark, tmp_path, "region_id")
    rows = {r.listing_id: r for r in spark.read.parquet(path).collect()}
    assert rows[1].updated_at == T1  # partition r1 untouched
    assert not _leftovers(path)


def test_merge_upsert_writes_table_once(spark, tmp_path):
    """One merge into an existing table writes the table once."""
    path = str(tmp_path / "listings")
    _merge(spark, B1, path, T1)
    staged = _batch(spark, B2)
    sc = spark.sparkContext
    group = f"merge_once_{os.getpid()}"
    sc.setJobGroup(group, "merge_upsert single write")
    try:
        _merge(spark, staged, path, T2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= MERGE_JOBS, sorted(jobs)
