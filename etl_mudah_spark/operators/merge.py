"""Idempotent merge/upsert writer (the reference's S6/S7/J1 contract).

Reference behavior (dags/dag.py:250-266): stage a batch, then
``INSERT ... SELECT DISTINCT ON (listing_id) ... ON CONFLICT DO UPDATE``
— insert new keys, refresh the volatile columns (price, mileage,
image_count) and bump updated_at on existing keys. The reference's
DISTINCT ON picks an *arbitrary* survivor; here the survivor is
deterministic (latest listing_date, then highest listing_id).

Vanilla-Spark implementation (no Delta in this environment — with
Delta this is a one-statement MERGE INTO, noted per SURVEY §2 S7):
read target ∪ staged with a source marker, keep-one-per-key by
(priority, order), preserve created_at from the target row while
taking volatile columns from the staged row, write the merged frame
ONCE to a sibling staging dir and publish it by renames. Scale design:

- the union+window is ONE shuffle on the key — the same cost class as
  Delta's merge join;
- at 100 TB the rewrite must not touch every file: partition the table
  (e.g. partitionBy(region_id)) and restrict the rewrite to partitions
  present in the batch — ``merge_upsert`` prunes target partitions via
  a semi-join when ``partition_col`` is given;
- the publish is a swap of whole directories by Hadoop FileSystem
  renames (atomic per directory on HDFS and local disk, a copy on
  S3A), not driver-local file moves and not a second Spark write:
  see :func:`merge_upsert` for the swap and its crash matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works on
    any supported filesystem (local, HDFS, S3A), unlike os/shutil which
    silently assume the driver's local disk."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def merge_dataframes(
    target: DataFrame | None,
    staged: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    *,
    volatile_cols: list[str] | None = None,
    created_col: str | None = "created_at",
    updated_col: str | None = "updated_at",
    batch_ts=None,
) -> DataFrame:
    """Pure merge: returns the post-upsert frame (no I/O).

    Staged rows win over target rows for the same key (last-write-wins,
    dags/dag.py:259-265); among staged duplicates the survivor is the
    max of ``order_cols``. ``created_col`` is preserved from the target
    when the key already exists; ``updated_col`` is bumped to
    ``batch_ts`` only for keys actually touched by the batch.
    """
    for c in (created_col, updated_col):
        if c and c not in staged.columns:
            staged = staged.withColumn(c, F.lit(None).cast("timestamp"))
    staged = staged.withColumn("_src", F.lit(1))
    if target is None:
        both = staged
    else:
        both = target.withColumn("_src", F.lit(0)).unionByName(
            staged, allowMissingColumns=True
        )

    order = [F.desc("_src")] + [F.desc_nulls_last(c) for c in order_cols]
    w = W.partitionBy(*key_cols).orderBy(*order)
    merged = (
        both.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_existing_created",
            F.min(F.when(F.col("_src") == 0, F.col(created_col))).over(
                W.partitionBy(*key_cols)
            )
            if created_col
            else F.lit(None),
        )
        .withColumn(
            "_batch_touched",
            F.max(F.col("_src")).over(W.partitionBy(*key_cols)),
        )
        .where(F.col("_rn") == 1)
    )
    if created_col:
        merged = merged.withColumn(
            created_col,
            F.coalesce(F.col("_existing_created"), F.col(created_col), F.lit(batch_ts)),
        )
    if updated_col and batch_ts is not None:
        merged = merged.withColumn(
            updated_col,
            F.when(F.col("_batch_touched") == 1, F.lit(batch_ts)).otherwise(
                F.col(updated_col)
            ),
        )
    return merged.drop("_src", "_rn", "_existing_created", "_batch_touched")


def _move(fs, src, dst) -> None:
    """Rename ``src`` to ``dst`` (which must not exist: Hadoop moves a
    source INTO an existing directory), creating ``dst``'s parent."""
    fs.mkdirs(dst.getParent())
    if not fs.rename(src, dst):
        raise OSError(f"rename {src.toString()} -> {dst.toString()} failed")


def _units(fs, root, partition_col: str | None) -> list[str]:
    """Publish units under ``root``: the root itself (``""``) for an
    unpartitioned table, else each ``col=val`` directory in it."""
    if not fs.exists(root):
        return []
    if not partition_col:
        return [""]
    return [
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(f"{partition_col}=")
    ]


def merge_upsert(
    spark: SparkSession,
    staged: DataFrame,
    table_path: str,
    key_cols: list[str],
    order_cols: list[str],
    *,
    partition_col: str | None = None,
    created_col: str | None = "created_at",
    updated_col: str | None = "updated_at",
    batch_ts=None,
) -> None:
    """Merge ``staged`` into the parquet table at ``table_path``.

    With ``partition_col``: only partitions present in the batch are
    read+rewritten — untouched partitions' files are never opened,
    which is what makes this viable at 100 TB.

    Stage once, publish by rename. The merged frame is written exactly
    once, to the fixed sibling ``<table>._merging`` (Spark refuses to
    overwrite a path its own plan is reading, and a failed write there
    never touches the live table). It is then published per UNIT — the
    table dir, or each touched ``col=val`` dir when ``partition_col`` is
    set — by Hadoop FileSystem renames: the live unit moves aside to
    ``<table>._premerge``, the staged unit moves in, and the aside copy
    is deleted once every unit is in. Partitioned and unpartitioned
    tables share this one loop; the table stays a plain parquet dir.

    Crash matrix. A recovery step runs at the top of every call: any
    aside unit whose live twin is missing (the crash hit between its
    two renames) is renamed back, then leftover ``._merging`` /
    ``._premerge`` dirs are deleted (a staged unit is an unpublished
    replay; an aside unit with a live twin is superseded). So a
    complete copy of every unit exists under a known name at every
    instant, and the replayed batch converges to the uninterrupted
    result because the merge is idempotent. A reader that opens the
    table between a unit's two renames sees that unit missing.

    Single writer: the staging names are fixed, so at most one
    ``merge_upsert`` may run per table at a time — the streaming
    callers already allow only one query per checkpoint and table.
    """
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs, live = _hadoop_fs(spark, table_path)
    staging_path = table_path.rstrip("/") + "._merging"
    staging = Path(staging_path)
    aside = Path(table_path.rstrip("/") + "._premerge")

    def unit(root, name):
        return Path(root, name) if name else root

    for name in _units(fs, aside, partition_col):
        if not fs.exists(unit(live, name)):
            _move(fs, unit(aside, name), unit(live, name))
    fs.delete(staging, True)
    fs.delete(aside, True)

    exists = fs.exists(live)
    if exists and partition_col:
        parts = [r[0] for r in staged.select(partition_col).distinct().collect()]
        target = spark.read.parquet(table_path).where(
            F.col(partition_col).isin(parts)
        )
    elif exists:
        target = spark.read.parquet(table_path)
    else:
        target = None

    merged = merge_dataframes(
        target,
        staged,
        key_cols,
        order_cols,
        created_col=created_col,
        updated_col=updated_col,
        batch_ts=batch_ts,
    )
    writer = merged.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging_path)

    for name in _units(fs, staging, partition_col):
        if fs.exists(unit(live, name)):
            _move(fs, unit(live, name), unit(aside, name))
        _move(fs, unit(staging, name), unit(live, name))
    fs.delete(aside, True)
    fs.delete(staging, True)
