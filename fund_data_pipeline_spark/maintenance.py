"""Retention / archive lifecycle (SURVEY §2.2 K6-K8).

The reference archives stage directories as zips and purges archives older
than 60 days by walking date-named directories
(src/maintenance/retention_cleaner.py:16-47, cleanup_old_data.py:16-47,
01_master_sync/06_master_data_archiver.py:37-77). On a data lake the same
lifecycle is partition management over ``dt=YYYY-MM-DD`` layouts: snapshots
are immutable partitioned writes; "archive" is a no-op (the write IS the
archive); retention is a partition-pruned delete.
"""

from __future__ import annotations

import re
import shutil
from datetime import date, timedelta
from pathlib import Path

RETENTION_DAYS = 60  # retention_cleaner.py:16
_DT_DIR = re.compile(r"^dt=(\d{4}-\d{2}-\d{2})$")


def snapshot(df, root: str, dt: str) -> None:
    """K6/K7: write an immutable dated snapshot partition.

    Staged-then-swap through :func:`merge._atomic_write` like every other
    destructive write (review r9: Spark's overwrite deletes the existing
    partition BEFORE the job commits, so a crashed re-run would destroy the
    previous good snapshot and could leave an empty directory that reads as
    a valid empty partition). Its staging and backup siblings are
    dot-prefixed, so partition discovery over ``root`` never sees them; the
    partition dir name goes through :func:`merge.hive_partition_dir` so an
    escaped-charset ``dt`` lands where partition discovery will read it."""
    from .merge import _atomic_write, hive_partition_dir

    _atomic_write(df, Path(root) / hive_partition_dir("dt", dt))


def purge_expired_partitions(root: str, today: date | None = None, retention_days: int = RETENTION_DAYS) -> list[str]:
    """K8: drop ``dt=`` partitions older than the retention cutoff.

    Pure partition pruning — no data is read; on a cluster this is the
    metastore's DROP PARTITION / a storage-layer lifecycle rule.
    """
    today = today or date.today()
    cutoff = today - timedelta(days=retention_days)
    dropped: list[str] = []
    base = Path(root)
    if not base.exists():
        return dropped
    for child in sorted(base.iterdir()):
        m = _DT_DIR.match(child.name)
        if m and date.fromisoformat(m.group(1)) < cutoff:
            shutil.rmtree(child)
            dropped.append(child.name)
    return dropped


def compact_partition(
    spark,
    path: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a leaf table/partition directory into
    ~target-sized files; returns the resulting file count.

    The landing pattern (K2 append sinks, streaming micro-batches) accretes
    many small parquet files; scan cost then becomes file-open-bound. This
    rewrites with ``coalesce`` (no shuffle — pure task merging) through
    :func:`merge._atomic_write`'s staged swap, whose staging and backup
    siblings are dot-prefixed (a compacted leaf often sits inside a hive
    root). The swap is two renames, NOT atomic: a reader racing it can
    briefly see a missing directory, and a crash between the renames leaves
    only the backup, which the next call restores — so a crashed or
    interrupted compaction is always safe to retry.

    Must be pointed at a LEAF directory. Compacting a hive-partitioned root
    would inline the ``dt=...`` partition values as data columns and flatten
    the layout (breaking pruning and the retention ops above), so that case
    is refused.
    """
    from .merge import _atomic_write, heal_backup_swap

    p = Path(path)
    heal_backup_swap(p)
    if not p.exists():
        raise FileNotFoundError(
            f"compact_partition target does not exist and no crash backup was "
            f"found to restore: {path} (mistyped path, or the partition was "
            f"dropped by retention?)"
        )
    if any(child.is_dir() and "=" in child.name for child in p.iterdir()):
        raise ValueError(
            f"compact_partition must target a leaf partition directory, not a "
            f"hive-partitioned root: {path} (compact each dt= child instead)"
        )

    # mergeSchema: the one caller that DESTROYS its input must not sample a
    # single footer — an append/streaming leaf legitimately accretes files
    # of different widths (the exact case this compactor exists for), and a
    # narrow-footer sample would silently drop the evolved column from the
    # rewrite before the originals are rmtree'd (review r9; read_table
    # auto-merges for the same reason, merge.py read path likewise)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    total = sum(f.stat().st_size for f in p.rglob("*.parquet"))
    n = max(1, -(-total // target_bytes_per_file))  # exact ceil-div (no float)
    _atomic_write(df.coalesce(n), p)
    return n


def keep_only_latest(root: str) -> list[str]:
    """K8 (raw-zone rule): keep only the newest ``dt=`` partition
    (cleanup_old_data.py keeps only today's raw folder)."""
    base = Path(root)
    if not base.exists():
        return []
    parts = sorted(p for p in base.iterdir() if _DT_DIR.match(p.name))
    dropped = []
    for child in parts[:-1]:
        shutil.rmtree(child)
        dropped.append(child.name)
    return dropped


def vacuum_snapshots(table_path: str, keep_last: int | None = None) -> list[str]:
    """GC orphan snapshot directories of a manifest-layout merge table.

    ``merge.merge_upsert(layout="manifest")`` prunes the superseded snapshot
    as part of each successful swap, but a write that crashes between the
    snapshot write and the manifest repoint leaves an orphan ``_v_NNNNN``
    directory the pointer never referenced. This removes snapshots with a
    version STRICTLY BELOW the live pointer's and returns the deleted
    names in version order. It is the same prune each manifest write runs
    after its swap (``merge._prune_snapshots``); a zero-byte manifest
    (crash mid-create) is a no-op, and a directory that another process
    removed first is not counted.

    ``keep_last``: how many trailing versions (live included) to leave on
    disk. The default ``None`` honors the retention the table itself
    persists in its manifest pointer (``retention=N``; 1 when undeclared),
    so a janitor pass never collects the time-travel window
    (``merge.read_table(version=...)`` / ``merge.table_changes``).

    The below-live rule is what makes the janitor safe against a CONCURRENT
    writer: a writer only ever creates versions above the current pointer,
    so a snapshot it is mid-writing (or has just repointed to) can never be
    selected for deletion here. A crash orphan left at a version >= live is
    skipped this pass and becomes collectable once the table advances past
    it. On an object store, additionally run the janitor AFTER the
    read-grace period — an in-flight reader may still be scanning a
    directory the pointer abandoned moments ago.
    """
    from .merge import _prune_snapshots

    return _prune_snapshots(Path(table_path), keep_last)


def write_range_clustered(
    df,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    target_rows_per_file: int = 5_000_000,
) -> None:
    """Write a table range-clustered on ``cluster_cols``: rows are
    range-partitioned across files and sorted within each file, so every
    parquet file (and row group) covers a narrow, non-overlapping slice of
    the cluster key's value space.

    This is the storage-layout half of predicate pushdown: a filter on the
    cluster column then skips whole files/row groups from the parquet
    min/max statistics instead of scanning and discarding. At 100 TB,
    clustering the big fact tables on their dominant filter column (ship
    date, event time) turns most time-range queries into reads of a few
    percent of the files. The reference's per-day CSV directories are the
    folk version of this; range clustering gives the same pruning inside
    one table without a partition-per-day directory explosion.

    ``n_files`` defaults to rows/target_rows_per_file (one extra count job
    when not supplied — pass it from table stats in production).
    """
    from pyspark.sql import functions as F  # noqa: F811 (local, matches module style)

    if n_files is None:
        n_files = max(1, -(-df.count() // target_rows_per_file))  # ceil
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def delete_keys(
    spark,
    table_path: str,
    keys_df,
    key_cols: list[str],
    *,
    partition_col: str | None = None,
    history: int | None = None,
) -> int:
    """Keyed hard delete (GDPR erasure / blocklist purge): remove every row
    whose ``key_cols`` tuple appears in ``keys_df``; returns the number of
    rows removed. Keys match null-safely, the way the merge matches them
    (``merge._keyed_join``): a NULL key part erases the rows holding NULL
    there.

    Copy-on-write with partition pruning — the same strategy Delta/Iceberg
    use for COW deletes: ONE column-pruned discovery job counts the victims
    per partition (one total on an unpartitioned table), then ONLY the
    partitions holding victims are rewritten via anti-join and swapped in
    (:func:`~fund_data_pipeline_spark.merge.swap_partitions_dropping_absent`); every
    other partition's files stay byte-identical. A partition left empty is
    dropped entirely. At 100 TB an erasure request touches the handful of
    partitions the subject's rows live in, not the table. The rewrite is
    pruned with the same null-safe
    :func:`~fund_data_pipeline_spark.merge.touched_partition_filter` at any
    width: the swap already walks the touched list on the driver. The count
    is a job before the write, not an ``Observation`` on it, so an erasure
    that finds no victims writes nothing: no table rewrite, no manifest
    version.

    ``keys_df`` is broadcast (erasure batches are small — thousands of
    subjects, not billions); for a huge key set drop the hint and let AQE
    pick the join side.

    Every layout publishes through the merge module's one writer
    (``merge._write_table``, shared with ``merge_upsert``), and the entry
    prologue it shares with ``merge_upsert`` heals a crashed earlier swap
    before the victims are looked up.

    Works on every merge layout: hive-partitioned (pass ``partition_col``),
    plain directories (rewritten whole through ``merge._atomic_write``),
    and manifest tables — a manifest table's live snapshot is resolved
    through ``merge.read_table`` (a naive ``spark.read.parquet`` would list
    zero files: snapshot dirs are underscore-prefixed) and the delete is
    published as a NEW snapshot version, preserving the pointer-swap
    atomicity. ``history=None`` (default) preserves the retention persisted
    in the table's manifest pointer, so an erasure cannot silently prune a
    time-travel window established by earlier merges; an explicit int sets
    and persists a new retention.
    """
    from pyspark.sql import functions as F

    from .merge import _guard_and_heal, _keyed_join, _write_table, detect_layout, read_table, touched_partition_filter

    path = Path(table_path)
    layout = detect_layout(path)
    if layout == "manifest" and partition_col is not None:
        raise ValueError("manifest tables are unpartitioned; drop partition_col")
    # heal a crashed swap and refuse a mismatched write shape (flat rewrite
    # of a hive root, partition swap into a flat root) BEFORE reading: past
    # it the delete would see a missing table/partition and delete against
    # the wrong state (review r11, same prologue as merge_upsert)
    intended = (
        "hive"
        if partition_col
        else ("manifest" if layout == "manifest" else "flat")
    )
    _guard_and_heal(path, intended, partition_col)
    keys_df = F.broadcast(keys_df.select(*key_cols))
    df = read_table(spark, table_path)
    # a NULL partition value groups under None and is rewritten like any
    # other (plain isin would silently skip it)
    parts = [partition_col] if partition_col else []
    victim_stats = _keyed_join(df, keys_df, key_cols, "left_semi").groupBy(*parts).count().collect()
    n_deleted = sum(r["count"] for r in victim_stats)
    touched = None
    if partition_col is not None:
        touched = [r[partition_col] for r in victim_stats]
        df = df.filter(touched_partition_filter(partition_col, touched))
    if n_deleted:
        survivors = _keyed_join(df, keys_df, key_cols, "left_anti")
        _write_table(survivors, path, layout, partition_col, touched, history)
    return n_deleted


def write_zorder_clustered(
    df,
    path: str,
    cluster_cols: list[str],
    n_files: int,
    bits_per_col: int = 16,
) -> None:
    """Write a table clustered on a Z-order (Morton) curve over
    ``cluster_cols``: each row's cluster columns are bucketed to
    ``bits_per_col``-bit integers, the bits are interleaved into one
    Z-value, and rows are range-partitioned + sorted by it.

    :func:`write_range_clustered` gives perfect file skipping on ONE
    column (lexicographic sort gives later columns no pruning power);
    Z-ordering trades a little per-column precision for locality in EVERY
    cluster dimension — a filter on any single one of the cluster columns
    skips most files from footer min/max stats. This is the same layout
    Delta's OPTIMIZE ZORDER BY uses, built from plain expressions: bucket
    via ``width_bucket`` against global min/max (one cheap agg job), then
    interleave bits with shift/AND arithmetic — all JVM-side, no UDF.

    Uniform-width bucketing keeps the Z-value a pure per-row expression;
    heavily skewed columns would prefer rank-based bucketing (quantile
    boundaries from ``approxQuantile`` swapped into the same expression).
    At 100 TB: one stats pass + one range shuffle, identical cost shape to
    the single-column clustered write.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local, matches module style)

    if not 1 <= bits_per_col * len(cluster_cols) <= 63:
        raise ValueError("bits_per_col * len(cluster_cols) must fit a signed long")

    def numeric(c: str):
        # temporal columns cluster on their epoch value (DATE/TIMESTAMP have
        # no direct double cast); strings have no meaningful linear order
        # for width_bucket — reject them rather than cluster on garbage
        dtype = dict(df.dtypes)[c]
        if dtype == "date":
            return F.unix_date(F.col(c)).cast("double")
        if dtype.startswith("timestamp"):
            return F.unix_timestamp(F.col(c)).cast("double")
        if dtype in ("string", "binary"):
            raise ValueError(
                f"z-order needs an ordered numeric/temporal column; {c!r} is "
                f"{dtype} — cluster on a derived numeric key instead"
            )
        return F.col(c).cast("double")

    num_cols = {c: numeric(c) for c in cluster_cols}
    stats = df.agg(
        *[F.min(num_cols[c]).alias(f"__min_{c}") for c in cluster_cols],
        *[F.max(num_cols[c]).alias(f"__max_{c}") for c in cluster_cols],
    ).first()
    n_buckets = 1 << bits_per_col
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cluster_cols):
        lo, hi = stats[f"__min_{c}"], stats[f"__max_{c}"]
        if lo is None or hi == lo:
            bucket = F.lit(0).cast("long")  # constant/empty column: no bits
        else:
            # width_bucket returns 1..n+1; clamp into 0..n_buckets-1
            bucket = (
                F.least(
                    F.greatest(
                        F.width_bucket(
                            num_cols[c],
                            F.lit(float(lo)),
                            F.lit(float(hi)),
                            F.lit(n_buckets),
                        ),
                        F.lit(1),
                    ),
                    F.lit(n_buckets),
                )
                - 1
            ).cast("long")
        # interleave: bit j of this column lands at position j*n_cols + ci
        for j in range(bits_per_col):
            z = z + F.shiftleft(
                F.shiftright(bucket, j).bitwiseAND(F.lit(1)),
                j * len(cluster_cols) + ci,
            )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
