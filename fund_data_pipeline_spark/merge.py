"""Hash-guarded keyed upsert over Parquet — the engine's signature operator.

Reproduces the reference's ``INSERT ... ON CONFLICT ON CONSTRAINT <uq>
DO UPDATE SET ... WHERE target.row_hash IS DISTINCT FROM excluded.row_hash``
(src/utils/db_connector.py:380-419, 02_performance_sync/03_price_history_loader.py:32-63,
01_master_sync/04_master_list_loader.py:69-85) as a Delta-style MERGE built
from a full-outer join, with no transactional-format dependency:

    target' = FULL OUTER JOIN(target, source, keys)
              WHEN MATCHED AND NOT (t.hash <=> s.hash) THEN source row
                                                            (preserve_cols kept)
              WHEN MATCHED (hash equal)                 THEN target row (write
                                                            elision: audit cols
                                                            untouched)
              WHEN NOT MATCHED BY TARGET                THEN insert source row
              WHEN NOT MATCHED BY SOURCE                THEN keep target row

Write discipline — three layouts, one merge:

- ``layout="rename"`` (default, local fast path): new snapshot goes to
  the hidden sibling ``.<name>.__staging__`` then swaps in via rename, so a
  failed job never corrupts the table (SURVEY §7.4-1). One swap helper and
  one heal serve every rename-swap writer in the package (table, partition,
  snapshot, compaction and rollup rewrites). POSIX-only; NOT
  object-store-safe (an S3 "rename" is a non-atomic copy).
- ``layout="manifest"`` (object-store-safe): each merge writes a NEW
  immutable snapshot directory ``_v_NNNNN`` under the table root, then
  atomically repoints the tiny ``_MANIFEST`` pointer file (one small PUT —
  atomic on POSIX via os.replace and on S3/GCS because single-object PUT is
  atomic). Readers resolve the pointer first (:func:`read_table`), so they
  always see a complete snapshot; no big-data rename ever happens. Snapshot
  dirs start with ``_`` so vanilla parquet listers skip them.
- ``partition_col=...`` (partition-pruned merge): the target is a
  hive-partitioned ``<pcol>=<value>`` layout and the merge reads + rewrites
  ONLY the partitions present in the batch — merge cost is proportional to
  the touched partitions, not the table (the reference touches only the
  current day's staging: 02_performance_sync/03_price_history_loader.py:32-63).
  The batch's distinct partition values are collected once and the target
  read lists only those directories, at any batch width: the swap renames
  one directory per touched value on the driver anyway, so the list is the
  same size as work the merge already does there. Requires
  ``partition_col`` to be one of ``keys`` (true for daily tables keyed
  (entity, date)) so a key can never silently move partitions.

One writer, :func:`_write_table`, dispatches the three layouts for the
merge and for ``maintenance.delete_keys``; its hive branch,
:func:`swap_partitions_dropping_absent`, also drops a touched partition
left with no rows. Manifest snapshots are named ``_v_NNNNN``; one parser
reads those names and one prune serves both the post-swap cleanup and the
``maintenance.vacuum_snapshots`` janitor.

Keyed changes all run on the one kernel: :func:`diff_frames` (and
:func:`table_changes` on it) is the kernel between two relations, filtered
to the changed rows; :func:`apply_changes` is one merge build, with the
feed's delete keys anti-joined out of the target it reads, and one write,
so each feed is one commit on every layout. Every keyed match in the
package (the kernel's join, those deletes through :func:`_keyed_join`,
``maintenance.delete_keys`` and ``lifecycle.scd2_apply``) is the one
null-safe condition ``_sql.keys_match`` spells.

Scale notes (100 TB):
- The join shuffles both sides by the natural key — unavoidable for a keyed
  merge without a transactional format; on a cluster, bucketed tables on the
  key make it shuffle-free on the target side.
- Daily batches are small relative to the table: the source side is
  broadcast automatically by AQE when under the threshold.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ._sql import ident, keys_match, sql_type
from .dedup import dedup_keyed

@dataclass
class MergeStats:
    """Row counts of one :func:`merge_upsert`. They are always returned and
    come from the write's own execution: one ``Observation`` on the frame the
    writer writes, so they cannot disagree with the rows on disk and cost no
    extra job. ``unchanged`` counts matched rows the hash guard left alone
    plus target rows the batch did not match (of the touched partitions, on
    a partition-pruned merge)."""

    inserted: int
    updated: int
    unchanged: int
    #: Every partition value this merge touched, NULL included as None.
    #: The merge collects them for its own prune, so callers that need them
    #: next (rollup refresh, compaction targeting) read them here instead of
    #: re-running the distinct+collect. None only for an unpartitioned merge.
    touched_partitions: list | None = None


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
    preserve_cols: Sequence[str] = (),
    always_update_cols: Sequence[str] = (),
    unconditional: bool = False,
    precedence_col: str | None = None,
    dedupe_order: Sequence[str] | None = None,
    partition_col: str | None = None,
    layout: str = "rename",
    allow_new_columns: bool = False,
    history: int | None = None,
) -> MergeStats:
    """Upsert ``source`` into the Parquet table at ``target_path`` and return
    its :class:`MergeStats`. The counts are always returned and come from the
    write's own execution (an ``Observation`` on the written frame), so they
    cost no separate job and match the rows on disk.

    - ``preserve_cols``: target wins on matched rows (e.g. ``first_seen`` — L1).
    - ``always_update_cols``: source wins on matched rows even when the hash
      is unchanged (e.g. ``last_seen`` freshness on the master table — K5).
      Default empty: the reference's hash guard skips the whole UPDATE when
      the hash matches (db_connector.py:400-405), so audit columns stay
      untouched on unchanged rows.
    - ``unconditional=True``: K5's always-update semantics (no hash guard),
      used by the master loader; default is the H8 hash guard.
    - ``precedence_col``: cross-batch staleness guard. A matched source row
      whose value in this column is strictly OLDER than the target's (both
      non-NULL) does not update ANY column — the target row wins and the row
      counts as unchanged, even under ``unconditional`` / always-update
      columns. NULL on either side passes (unknown freshness merges like the
      batch loader would). Used by the streaming NAV loader so a re-delivered
      old file drained in a later micro-batch cannot clobber newer rows; the
      guard runs inside the merge's own full-outer join, so it costs no extra
      target scan.
    - ``dedupe_order``: tiebreak columns making the batch one-row-per-key
      (required for a deterministic merge). Default: all NON-key source
      columns — a deterministic total order over whatever distinguishes
      the duplicate rows. The previous default was the key itself, which
      is CONSTANT inside its own dedup partition, i.e. an arbitrary
      survivor whose row hash could flip on a rerun and re-fire the
      hash guard on a no-op (review r11; same class as dedup_min).
    - ``partition_col``: hive-partition column of the target; when set, only
      the partitions present in ``source`` are read and rewritten (all other
      partitions' files are untouched on disk). Must be one of ``keys``.
    - ``layout``: ``"rename"`` (POSIX swap) or ``"manifest"``
      (object-store-safe snapshot + pointer; see module docstring).
    - ``allow_new_columns=True``: schema evolution — source columns absent
      from the target widen the output schema instead of being dropped. New
      columns behave as always-update (source wins whenever a source row is
      present, even under an unchanged hash — the old hash predates the
      column, so the guard must not freeze the new column at NULL); target
      rows with no source match get NULL. Default False keeps the
      conform-to-target contract: the reference conforms every feed to the
      master schema before loading, so an unexpected column is dropped.
    - ``history``: manifest layout only — snapshots retained including the
      new live one. N>1 enables time travel (``read_table(version=...)``)
      and CDC (:func:`table_changes`) over the last N merges, and is
      persisted in the manifest pointer as the table's retention property.
      Default ``None`` preserves the table's persisted retention (1 for a
      table that never declared one); an explicit int sets and persists it.
    """
    merged, touched = _build_merge(
        spark, target_path, source, keys, hash_col, preserve_cols, always_update_cols,
        unconditional, precedence_col, dedupe_order, partition_col, layout, allow_new_columns,
    )
    return _write_merge(merged, target_path, touched, layout, partition_col, history)


def _build_merge(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
    preserve_cols: Sequence[str] = (),
    always_update_cols: Sequence[str] = (),
    unconditional: bool = False,
    precedence_col: str | None = None,
    dedupe_order: Sequence[str] | None = None,
    partition_col: str | None = None,
    layout: str = "rename",
    allow_new_columns: bool = False,
    *,
    deletes: DataFrame | None = None,
) -> tuple[DataFrame, list | None]:
    """The first half of :func:`merge_upsert`: heal and guard the target,
    dedup the batch, collect its touched partitions and build the merged
    relation, which carries ``__action`` for :func:`_write_merge`. Returns
    ``(merged, touched)``; nothing is written. A caller may map ``merged``
    row by row (keeping ``__action``) before writing it, as
    ``master_sync.run`` does with the status transitions.

    ``deletes`` (:func:`apply_changes`' delete keys, ``keys`` columns only)
    are anti-joined null-safely out of the target before the kernel runs,
    and their partition values join ``touched``, so one write publishes a
    feed's deletes and upserts together; a partition the deletes empty is
    dropped by the swap."""
    keys = list(keys)
    if layout not in ("rename", "manifest"):
        raise ValueError(f"unknown layout {layout!r}; use 'rename' or 'manifest'")
    path = Path(target_path)
    _guard_and_heal(
        path,
        "manifest" if layout == "manifest" else ("hive" if partition_col else "flat"),
        partition_col,
    )
    if partition_col is not None:
        if partition_col not in keys:
            raise ValueError(
                f"partition_col {partition_col!r} must be part of keys {keys} — a "
                f"merge key moving between partitions would leave a stale twin"
            )
        if layout == "manifest":
            raise ValueError("partition-pruned merge uses the hive layout; manifest applies to unpartitioned tables")
        if partition_col not in source.columns:
            raise ValueError(f"source is missing partition_col {partition_col!r}")
    if precedence_col is not None and precedence_col not in source.columns:
        raise ValueError(f"source is missing precedence_col {precedence_col!r}")
    source = dedup_keyed(source, keys, _dedupe_order(source, keys, dedupe_order), keep="last")

    touched = None
    if partition_col is not None:
        # Collect the touched partition values so the target read lists only
        # their directories. The create path reports the list too, so a
        # streaming loader's FIRST micro-batch is not the one case the field
        # is absent.
        parts = source.select(partition_col)
        if deletes is not None:
            parts = parts.union(deletes.select(partition_col))
        touched = [r[0] for r in parts.distinct().collect()]
    if not _table_exists(path, layout):
        _refuse_reserved(source.columns)
        return source.withColumn("__action", F.lit("insert")), touched
    if partition_col is not None:
        target = _touched_target(spark, path, source, partition_col, touched)
    else:
        target = read_table(spark, str(path))
    if deletes is not None:
        target = _keyed_join(target, deletes, keys, "left_anti")
    merged = _merge_kernel(
        target,
        source,
        keys,
        hash_col,
        preserve_cols,
        always_update_cols=always_update_cols,
        unconditional=unconditional,
        precedence_col=precedence_col,
        allow_new_columns=allow_new_columns,
    )
    return merged, touched


def _write_merge(
    merged: DataFrame,
    target_path: str,
    touched: list | None,
    layout: str = "rename",
    partition_col: str | None = None,
    history: int | None = None,
) -> MergeStats:
    """The second half of :func:`merge_upsert`: write ``merged`` without its
    ``__action`` column and return the :class:`MergeStats` that one
    ``Observation`` on the written frame counts from it. The partition swap
    observes after its repartition: below it, an ``Observation`` over a
    statically empty batch raises on ``get`` instead of returning zeros."""
    action = F.col("__action")
    obs = Observation()

    def observe(df: DataFrame) -> DataFrame:
        return df.observe(
            obs,
            F.count(F.when(action == "insert", 1)).alias("inserted"),
            F.count(F.when(action == "update", 1)).alias("updated"),
            F.count(F.when(action.isin("unchanged", "keep"), 1)).alias("unchanged"),
        ).drop("__action")

    _write_table(merged, Path(target_path), layout, partition_col, touched, history, observe)
    got = obs.get
    return MergeStats(
        got["inserted"], got["updated"], got["unchanged"], touched_partitions=touched
    )


def _touched_target(
    spark: SparkSession, path: Path, source: DataFrame, partition_col: str, touched: list
) -> DataFrame:
    """The target rows of the ``touched`` partitions, read from just their
    directories, with the partition column cast back to the source's dtype
    so partition-value inference can't change the merge key's type.

    mergeSchema: a prior allow_new_columns merge rewrites only touched
    partitions, so partition files can legitimately carry different widths;
    a single-footer schema sample would nondeterministically drop the
    evolved column. Footer-merging is a distributed metadata-only job
    bounded by file count — correct first, and cheap relative to the merge.

    The prune is NULL-safe: :func:`hive_partition_dir` maps a NULL value
    to __HIVE_DEFAULT_PARTITION__, so that partition's existing target rows
    enter the merge like any other touched partition's (a value filter
    built from plain isin / == would silently drop them, and the swap would
    overwrite the NULL partition with source-only content)."""
    src_dtype = dict(source.dtypes)[partition_col]
    # Read ONLY the touched partition directories: a root-path read pays
    # file listing + footer mergeSchema for the WHOLE table at
    # DataFrame-creation time — driver-side planning work proportional to
    # TOTAL partitions, not touched ones (measured 0.42 s of the ~1.3 s
    # sf0.1 bench merge at 84 partitions; a years-deep production table
    # pays far more for a one-partition daily batch). The directory list IS
    # the prune, so the plan carries no literal list at any batch width.
    # basePath keeps the partition column derived from dir names; dir names
    # come from hive_partition_dir, the same value->dir contract the swap
    # and stale-partition drops already rely on (NULL ->
    # __HIVE_DEFAULT_PARTITION__). The merge therefore conforms to the
    # TOUCHED partitions' merged schema: a column evolved only in untouched
    # partitions is invisible here — matched rows keep their partition's
    # physical width, exactly what the swap rewrites (pinned by
    # test_pruned_merge_conforms_to_touched_partition_schema). A touched
    # value with no dir yet is a brand-new partition (no target rows); if NO
    # touched dir exists the root read supplies the table schema for an
    # empty target (rare: all-new backfill).
    existing = [
        str(d)
        for d in (path / hive_partition_dir(partition_col, v) for v in touched)
        if d.is_dir()
    ]
    reader = spark.read.option("mergeSchema", "true")
    if existing:
        target = reader.option("basePath", str(path)).parquet(*existing)
    else:
        target = reader.parquet(str(path)).filter(F.lit(False))
    return target.withColumn(partition_col, F.col(partition_col).cast(src_dtype))


def _refuse_reserved(columns: Sequence[str]) -> None:
    clash = sorted({"__t_present", "__s_present", "__action"} & set(columns))
    if clash:
        raise ValueError(f"column names reserved by the merge: {clash}")


def _keyed_join(df: DataFrame, keys_df: DataFrame, keys: Sequence[str], how: str) -> DataFrame:
    """The rows of ``df`` whose ``keys`` tuple matches (``how="left_semi"``)
    or matches no (``"left_anti"``) row of ``keys_df``, null-safely: a key
    part that is NULL on both sides matches, as in the merge kernel. The
    delete half of :func:`_build_merge` and ``maintenance.delete_keys``."""
    return df.alias("t").join(keys_df.alias("d"), F.expr(keys_match(keys, "<=>", "t", "d")), how)


def _merge_kernel(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    hash_col: str,
    preserve_cols: Sequence[str] = (),
    always_update_cols: Sequence[str] = (),
    unconditional: bool = False,
    precedence_col: str | None = None,
    allow_new_columns: bool = False,
    null_safe_keys: bool = True,
) -> DataFrame:
    """The MERGE rules, shared by :func:`merge_upsert` and
    :func:`merge_as_dataframe`: the keyed full-outer join of ``target`` and
    ``source`` projected to the post-merge columns plus ``__action``
    (``insert`` / ``update`` / ``unchanged`` / ``keep``).

    The join condition and the projection are built as SQL text — one
    ``F.expr`` and one ``selectExpr`` — because both grow with the table:
    in PySpark classic every Column call is several py4j round trips, so
    as Column chains a 60-column kernel cost about 7,200 round trips of
    driver time before it ran, as text 84. Catalyst parses the text into
    the trees the Column chains built, with the conjunction kept
    left-deep."""
    # PySpark caches a DataFrame's schema (``columns`` derives from it): the
    # first read costs two py4j round trips, later reads none, so the cost
    # is per new DataFrame — take the names here, before withColumn/alias
    # make new frames
    t_cols, s_cols = target.columns, source.columns
    _refuse_reserved([*t_cols, *s_cols])
    # Presence must be decided by explicit markers, not key-null tests: the
    # join is null-safe precisely so NULL key values can match, and a target
    # row whose first key is NULL would otherwise be misclassified as an
    # insert (preserve_cols taken from source, stats wrong).
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    cond = keys_match(keys, "<=>" if null_safe_keys else "=", "t", "s")
    joined = t.join(s, F.expr(cond), "full_outer")

    s_present = "(s.__s_present IS NOT NULL)"
    t_present = "(t.__t_present IS NOT NULL)"
    changed = "true" if unconditional else f"(NOT (t.{ident(hash_col)} <=> s.{ident(hash_col)}))"
    # staleness guard: a matched source row older than the stored one loses
    # outright — gates the hash-guard branch AND always-update/new columns
    stale = "false"
    if precedence_col is not None:
        if precedence_col not in t_cols:
            raise ValueError(
                f"target is missing precedence_col {precedence_col!r}; the "
                f"staleness guard needs the stored value to compare against"
            )
        sp, tp = f"s.{ident(precedence_col)}", f"t.{ident(precedence_col)}"
        stale = f"((({sp} IS NOT NULL) AND ({tp} IS NOT NULL)) AND ({sp} < {tp}))"
        changed = f"({changed} AND (NOT {stale}))"

    out_cols = t_cols
    new_cols = [c for c in s_cols if c not in t_cols]
    if allow_new_columns:
        out_cols = out_cols + new_cols
    preserve = set(preserve_cols)
    always = set(always_update_cols)
    src_types = {f.name: f.dataType for f in source.schema.fields}

    exprs: list[str] = []
    for c in out_cols:
        s_c = f"s.{ident(c)}" if c in s_cols else "NULL"
        t_c = f"t.{ident(c)}" if c in t_cols else f"CAST(NULL AS {sql_type(src_types[c])})"
        if c in keys:
            expr = f"coalesce({t_c}, {s_c})"
        elif c in preserve:
            expr = f"CASE WHEN {t_present} THEN {t_c} ELSE {s_c} END"
        elif c in always or c in new_cols:
            # new columns are always-update: the stored hash predates them,
            # so the hash guard must not freeze them at NULL on matched rows
            expr = f"CASE WHEN ({s_present} AND (NOT {stale})) THEN {s_c} ELSE {t_c} END"
        else:
            expr = (
                f"CASE WHEN (NOT {t_present}) THEN {s_c} WHEN (NOT {s_present}) THEN {t_c} "
                f"WHEN {changed} THEN {s_c} ELSE {t_c} END"
            )
        exprs.append(f"{expr} AS {ident(c)}")

    action = (
        f"CASE WHEN (NOT {t_present}) THEN 'insert' WHEN (NOT {s_present}) THEN 'keep' "
        f"WHEN {changed} THEN 'update' ELSE 'unchanged' END AS __action"
    )
    return joined.selectExpr(*exprs, action)


# ---------------------------------------------------------------------------
# storage layouts
# ---------------------------------------------------------------------------

MANIFEST_NAME = "_MANIFEST"


def _manifest_lines(path: Path) -> list[str] | None:
    """The lines of the manifest pointer, or None for plain-directory
    tables. The first names the live snapshot (empty after a crash
    mid-create); a second may carry ``retention=N``."""
    mf = path / MANIFEST_NAME
    return mf.read_text().splitlines() if mf.exists() else None


def _snapshot_version(name: str) -> int | None:
    """N of a ``_v_NNNNN`` snapshot name, or None for any other name. The
    zero padding widens past 99999, so versions order by this number, never
    by name."""
    digits = name.removeprefix("_v_")
    if digits == name or not (digits.isascii() and digits.isdigit()):
        return None
    return int(digits)


def _live_snapshot(path: Path) -> Path | None:
    """Resolve the manifest pointer, or None for plain-directory tables.
    A pointer that names no ``_v_NNNNN`` snapshot (zero bytes after a crash
    mid-create) raises."""
    lines = _manifest_lines(path)
    if lines is None:
        return None
    head = (lines or [""])[0].strip()
    if _snapshot_version(head) is None:
        raise ValueError(f"corrupt manifest table: {path / MANIFEST_NAME} names no snapshot ({head!r})")
    return path / head


def _persisted_retention(path: Path) -> int | None:
    """Snapshot-retention table property persisted in the manifest pointer
    (``retention=N`` on its second line, Delta-table-property style), or
    None when the table has never declared one (legacy single-line
    manifests)."""
    for line in (_manifest_lines(path) or [])[1:]:
        if line.startswith("retention="):
            try:
                return int(line.split("=", 1)[1])
            except ValueError:
                return None
    return None


def detect_layout(path: Path | str) -> str | None:
    """The on-disk layout of an existing table: ``"manifest"`` (pointer
    file), ``"hive"`` (``col=value`` partition dirs), ``"flat"`` (plain
    parquet directory), or None if nothing exists yet.

    Hidden and underscore-prefixed entries don't count as table content:
    an empty pre-created directory, a crash-orphaned ``_v_*`` snapshot
    whose manifest pointer was never written, or a leftover dot-prefixed
    swap backup must not classify as a ``flat`` table — that would make
    the layout guard refuse the (perfectly safe) first or retried write
    forever."""
    path = Path(path)
    if (path / MANIFEST_NAME).exists():
        return "manifest"
    if not path.exists():
        return None
    entries = [d for d in path.iterdir() if not d.name.startswith((".", "_"))]
    if any(d.is_dir() and "=" in d.name for d in entries):
        return "hive"
    return "flat" if entries else None


def _check_layout_compatible(path: Path, intended: str) -> None:
    """Refuse a write whose layout differs from the table's existing one.

    Every cross-layout write corrupts silently rather than failing loudly:
    rename-over-manifest discards the pointer/snapshots/history;
    manifest-over-flat buries the existing rows as invisible orphan files
    (the merge takes the table-does-not-exist branch); a partition swap
    into a flat root leaves a mix of partition dirs and flat files whose
    reads drop or duplicate rows; a flat atomic write over a hive root
    destroys the partition layout. Migrate explicitly (read_table ->
    rewrite) instead.
    """
    existing = detect_layout(path)
    if existing is not None and existing != intended:
        raise ValueError(
            f"{path} is an existing {existing}-layout table; this write would "
            f"{'replace' if intended != 'hive' else 'mix'} it with a {intended} "
            f"layout and corrupt it silently. Read and rewrite the table to "
            f"migrate layouts explicitly."
        )


def _guard_and_heal(path: Path, intended: str, partition_col: str | None) -> None:
    """Entry prologue of every writer that reads its own target first
    (:func:`merge_upsert`, ``maintenance.delete_keys``): heal a crashed
    rename swap of the table root, refuse a cross-layout write, then heal
    crashed partition swaps, all BEFORE the caller looks at the table. The
    root heal comes first because a root that exists only as its backup
    reads as no table at all, which would let any layout through the
    guard (a crashed hive rollup build, restored and then rewritten flat,
    loses its partition layout). A crash between a swap's two renames
    leaves only the backup; without the heal the table reads as missing,
    the merge takes the CREATE branch and the writer's own heal restores
    the old table just in time for the source-only staging to be swapped
    over it (silent loss of every pre-crash row not in the batch; review
    r11). A missing partition dir likewise reads back as empty,
    misclassifying every batch row of that partition as an insert.
    Manifest tables never rename, so they have no backup to heal."""
    heal_backup_swap(path)
    _check_layout_compatible(path, intended)
    if intended != "manifest" and partition_col is not None:
        _heal_partition_backups(path, partition_col)


#: Characters Spark/Hive percent-escape in partition directory names
#: (org.apache.hadoop.hive.common.FileUtils.escapePathName's charset).
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {chr(0x7F)}


def hive_partition_dir(partition_col: str, value) -> str:
    """The directory name Spark writes for one partition value — NULL maps
    to ``__HIVE_DEFAULT_PARTITION__`` and special characters are
    percent-escaped, so path manipulation (stale-partition drops, swap
    bookkeeping) agrees with what is actually on disk."""
    if value is None:
        return f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
    escaped = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in str(value)
    )
    return f"{partition_col}={escaped}"


def touched_partition_filter(partition_col: str, touched) -> Column:
    """Null-safe membership filter over partition values: plain ``isin``
    silently drops a NULL partition value (SQL three-valued logic), so rows
    in ``__HIVE_DEFAULT_PARTITION__`` would be excluded from a rewrite that
    claims to cover them."""
    col = F.col(partition_col)
    touched = list(touched)  # consumed twice below; tolerate one-shot iterators
    nonnull = [v for v in touched if v is not None]
    cond = col.isin(nonnull) if nonnull else F.lit(False)
    if len(nonnull) != len(touched):
        cond = cond | col.isNull()
    return cond


def swap_partitions_dropping_absent(
    out: DataFrame,
    path: Path,
    partition_col: str,
    touched,
    observe: Callable[[DataFrame], DataFrame] = lambda df: df,
) -> None:
    """Swap ONLY the partition directories present in ``out`` into the
    table root, and remove the directory of every ``touched`` partition
    that produced no rows (a partition whose content disappeared entirely —
    the case a plain swap can't express); every other partition's files
    are left byte-untouched. The present set is the staging directories
    the write produced — ``out`` is evaluated exactly once, so a
    non-deterministic source cannot produce a present set that disagrees
    with the dirs on disk (which would delete a just-written partition or
    keep a stale one). Stale directory names go through
    :func:`hive_partition_dir` so NULL and escaped values are found on
    disk. ``observe`` maps the repartitioned frame to the one written (see
    :func:`_write_merge`). The hive branch of :func:`_write_table`, so it
    serves the partition-pruned merge, ``apply_changes``,
    ``maintenance.delete_keys`` and ``rollup.refresh_rollup``."""
    staging = _fresh_staging(path)
    # shuffle rows to their partition before the partitioned write: without
    # this every task emits a file into every partition (tasks x partitions
    # small files — the classic scan-killer). One task per partition is right
    # for daily-merge-sized partitions; a table with huge partitions would
    # add a within-partition split key here.
    observe(out.repartition(F.col(partition_col))).write.mode(
        "overwrite"
    ).partitionBy(partition_col).parquet(str(staging))
    path.mkdir(parents=True, exist_ok=True)
    _heal_partition_backups(path, partition_col)
    swapped: set[str] = set()
    for part_dir in sorted(staging.glob(f"{partition_col}=*")):
        _swap_in(part_dir, path / part_dir.name)
        swapped.add(part_dir.name)
    shutil.rmtree(staging)
    for value in touched:
        dirname = hive_partition_dir(partition_col, value)
        if dirname not in swapped and (path / dirname).exists():
            shutil.rmtree(path / dirname)


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
) -> DataFrame:
    """Read a merge-managed table regardless of layout: resolves the
    ``_MANIFEST`` pointer when present, else reads the directory directly
    (plain and hive-partitioned layouts).

    ``version``: time travel — read a specific retained snapshot of a
    manifest table (merges run with ``history>1`` retain the last N;
    :func:`list_versions` enumerates what is readable). Raises if the
    snapshot was never written or already pruned.

    Hive-partitioned tables are read with parquet ``mergeSchema``: a
    partition-pruned ``allow_new_columns`` merge rewrites only touched
    partitions, so files legitimately differ in width and a one-footer
    schema sample could silently drop the evolved column (reading it as
    absent or NULL depending on which file supplies the schema).
    Rename/manifest layouts rewrite the whole snapshot per merge — uniform
    schema — so they skip the footer-merge."""
    p = Path(path)
    live = _live_snapshot(p)
    if version is not None:
        if live is None:
            raise ValueError(f"{path} is not a manifest table; version= needs one")
        snap = p / f"_v_{version:05d}"
        if not snap.is_dir():
            raise FileNotFoundError(
                f"snapshot version {version} of {path} was never written or has "
                f"been pruned (on disk: {list_versions(path)}; raise history= on "
                f"the merge / keep_last= on vacuum_snapshots to retain more)"
            )
        # snapshot dirs are uniform flat parquet — no footer merge needed
        return spark.read.parquet(str(snap))
    if live is not None:
        return spark.read.parquet(str(live))
    reader = spark.read
    if p.is_dir() and any(d.is_dir() and "=" in d.name for d in p.iterdir()):
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(str(p))


def _table_exists(path: Path, layout: str) -> bool:
    if layout == "manifest":
        return (path / MANIFEST_NAME).exists()
    # content-based, matching detect_layout: a pre-created EMPTY directory
    # (or one holding only bookkeeping/hidden entries) is not a table —
    # treating it as one would send the merge down the read path and die
    # on schema inference over zero files
    return detect_layout(path) in ("hive", "flat")


def _write_table(
    df: DataFrame,
    path: Path,
    layout: str | None,
    partition_col: str | None = None,
    touched=None,
    history: int | None = None,
    observe: Callable[[DataFrame], DataFrame] = lambda df: df,
) -> None:
    """Publish ``df`` as the table at ``path`` in its layout: a new
    manifest snapshot, a swap of the touched partitions (dropping those
    left empty), or a whole-directory swap. ``observe`` maps the frame to
    the one written. The one layout dispatch of :func:`_write_merge` and
    ``maintenance.delete_keys``."""
    if layout == "manifest":
        _manifest_write(observe(df), path, history=history)
    elif partition_col is not None:
        swap_partitions_dropping_absent(df, path, partition_col, touched, observe)
    else:
        _atomic_write(observe(df), path)


def _atomic_write(df: DataFrame, path: Path, partition_by: str | None = None) -> None:
    """Write-temp-then-swap: ``df`` is written to the hidden sibling
    ``.<name>.__staging__`` and swapped over ``path`` by :func:`_swap_in`.
    Every full rewrite in the package goes through here: flat merges
    (the master's, with its status transitions folded in, among them) and
    deletes, ``maintenance.snapshot`` and ``compact_partition``, and the
    rollup full build. Staging and backup are dot-prefixed, so ``path`` may
    itself be a partition directory inside a hive root.

    POSIX fast path only — the two renames are not atomic as a unit and an
    object store copies on rename; use ``layout="manifest"`` there. A crash
    between the renames is self-healed on the next call (backup restored).

    ``partition_by`` writes the staging directory hive-partitioned (the
    rollup full build)."""
    heal_backup_swap(path)
    staging = _fresh_staging(path)
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(str(staging))
    _swap_in(staging, path)


def _fresh_staging(live: Path) -> Path:
    """The hidden staging sibling ``.<name>.__staging__`` of ``live``,
    emptied of whatever a crashed earlier write left there. Staging
    directories under other names, left by a crashed write of an earlier
    release, are not read by anything and are not removed either."""
    staging = live.with_name(f".{live.name}.__staging__")
    if staging.exists():
        shutil.rmtree(staging)
    return staging


def _swap_in(staged: Path, live: Path) -> None:
    """Move the directory ``staged`` over ``live``: live →
    ``.<name>.__old__``, staged → live, then drop the backup. Together with
    :func:`heal_backup_swap` this holds the package's only directory
    renames. The backup is dot-prefixed so partition discovery never parses
    it as a partition when ``live`` sits inside a hive root."""
    backup = live.with_name(f".{live.name}.__old__")
    if live.exists():
        live.rename(backup)
    staged.rename(live)
    if backup.exists():
        shutil.rmtree(backup)


def _orderable(dt) -> bool:
    """Whether Spark can sort on the type: maps are unorderable, and a
    struct/array is only orderable if everything inside it is."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _dedupe_order(source: DataFrame, keys: Sequence[str], dedupe_order) -> list:
    """The batch-dedup tiebreak: the caller's columns, else all NON-key
    ORDERABLE columns (a deterministic total order over whatever
    distinguishes the duplicates), else the keys themselves (rows are
    identical per key up to unorderable columns, so any survivor is the
    same row). Unorderable columns (maps, and structs/arrays containing
    them) are excluded from the DEFAULT rather than failing analysis — a
    source carrying a map column keeps the old keys-only-era behavior for
    that column (arbitrary survivor among rows tied on every orderable
    column); callers needing a total order over map contents must pass an
    explicit dedupe_order of derived orderable expressions (ADVICE r11)."""
    if dedupe_order:
        return list(dedupe_order)
    fields = {f.name: f.dataType for f in source.schema.fields}
    others = [
        c for c in source.columns if c not in keys and _orderable(fields[c])
    ]
    return others or list(keys)


def _heal_partition_backups(path: Path, partition_col: str) -> None:
    """Heal every orphaned hive partition backup under the table root
    ``path`` with :func:`heal_backup_swap`, whichever partition it belongs
    to: waiting for the same partition to be touched again would leave the
    table missing it indefinitely."""
    if not path.exists():
        return
    for pattern in (f".{partition_col}=*.__old__", f"{partition_col}=*.__old__"):
        for backup in list(path.glob(pattern)):
            heal_backup_swap(path / backup.name.removeprefix(".").removesuffix(".__old__"))


def heal_backup_swap(path: Path) -> None:
    """Restore or discard the swap backup of ``path``, the one heal of
    every rename-swap writer, also run by readers/refreshers that touch a
    swap-managed table before writing. A backup with no live ``path`` means
    the previous swap crashed between its two renames — the backup IS the
    table, so restore it; a backup alongside a live table is a stale
    leftover from a crash after the swap and is discarded. Both spellings
    are healed: :func:`_swap_in`'s hidden ``.<name>.__old__`` and the
    visible ``<name>.__old__`` that earlier releases wrote for table roots
    (and, before r9, for partition dirs). Without this, an incremental
    refresher (rollup) that mkdir-creates the missing live path would
    resurrect a PARTIAL table while the intact backup sits ignored."""
    for backup in (path.with_name(f".{path.name}.__old__"), path.with_name(f"{path.name}.__old__")):
        if not backup.exists():
            continue
        if path.exists():
            shutil.rmtree(backup)  # crash after the swap: the backup is stale
        else:
            backup.rename(path)  # crash between the renames: the backup IS the data


def _manifest_write(df: DataFrame, path: Path, history: int | None = None) -> None:
    """Object-store-safe swap: write a NEW immutable snapshot directory, then
    atomically repoint the small manifest pointer. The only non-idempotent
    step is a single small-file replace — atomic on POSIX (os.replace) and
    on object stores (single-object PUT).

    ``history`` is the number of snapshots retained INCLUDING the new live
    one: 1 prunes the superseded snapshot immediately; N>1 keeps the last N
    versions readable for time travel (:func:`read_table` ``version=``) and
    CDC diffs (:func:`table_changes`). ``None`` (default) preserves the
    retention the table itself declares — persisted in the manifest pointer
    as a ``retention=N`` line, like a Delta table property — so a later
    writer that doesn't pass ``history`` cannot silently prune a
    time-travel window established by earlier merges. Passing an int sets
    AND persists the new retention. An object-store deployment would
    additionally GC after a read-grace period (in-flight readers may still
    hold the old pointer)."""
    path.mkdir(parents=True, exist_ok=True)
    if history is None:
        history = _persisted_retention(path) or 1
    current = _live_snapshot(path)
    version = _snapshot_version(current.name) + 1 if current is not None else 1
    snap = path / f"_v_{version:05d}"
    if snap.exists():
        shutil.rmtree(snap)  # failed previous attempt; manifest never pointed here
    df.write.mode("overwrite").parquet(str(snap))
    tmp = path / (MANIFEST_NAME + ".__tmp__")
    pointer = snap.name if history <= 1 else f"{snap.name}\nretention={history}"
    tmp.write_text(pointer)
    os.replace(tmp, path / MANIFEST_NAME)
    _prune_snapshots(path, history)


def _snapshots(path: Path) -> list[tuple[int, Path]]:
    """``(version, dir)`` of every ``_v_NNNNN`` entry under ``path``, in
    version order."""
    found = ((_snapshot_version(p.name), p) for p in path.glob("_v_*"))
    return sorted((v, p) for v, p in found if v is not None)


def _prune_snapshots(path: Path, keep: int | None = None) -> list[str]:
    """Delete every snapshot ``_v_N`` of the manifest table at ``path`` with
    N <= live - max(1, keep), in version order, and return the names this
    call removed. ``keep`` None is the table's persisted retention (1 when
    undeclared). Only versions below the live pointer are ever selected, so
    a concurrent writer's snapshot (always above it) is safe; a missing or
    zero-byte manifest is a no-op. The post-swap prune of
    :func:`_manifest_write` and ``maintenance.vacuum_snapshots``."""
    live = _snapshot_version((_manifest_lines(path) or [""])[0].strip())
    if live is None:
        return []
    if keep is None:
        keep = _persisted_retention(path) or 1
    removed = []
    for version, snap in _snapshots(path):
        if snap.is_dir() and version <= live - max(1, keep):
            # the writer's own prune and a janitor may reach the same
            # directory; one rmtree loses the race mid-walk. Either way the
            # directory is gone, so a vanished path is success — but it is
            # counted only by the process that removed it.
            try:
                shutil.rmtree(snap)
            except FileNotFoundError:
                continue
            removed.append(snap.name)
    return removed


def list_versions(table_path: str) -> list[int]:
    """Version numbers of the snapshots currently on disk (ascending); the
    live version is the last entry. Empty for non-manifest tables."""
    path = Path(table_path)
    if _manifest_lines(path) is None:
        return []
    return [v for v, _ in _snapshots(path)]


def table_changes(
    spark: SparkSession,
    table_path: str,
    v_from: int,
    v_to: int,
    keys: Sequence[str],
    hash_col: str = "row_hash",
) -> DataFrame:
    """CDC between two retained snapshots of a manifest table: one row per
    key whose state changed, with ``_change_type`` in
    ``insert`` / ``update`` / ``delete`` (unchanged rows are omitted).
    Inserts and updates carry the ``v_to`` row; deletes carry the ``v_from``
    row. Change detection is the merge engine's own null-safe ``hash_col``
    comparison, so "update" means exactly what the hash-guarded merge means
    by it.

    This is diff-based CDC (a keyed full-outer join of the two snapshots) —
    the price of having no transaction log. Cost is bounded by the two
    snapshot scans plus one shuffle on the key; at 100 TB, prefer diffing
    adjacent versions (daily snapshots) over distant ones, and feed the
    result incrementally downstream rather than re-diffing history.
    """
    old = read_table(spark, table_path, version=v_from)
    new = read_table(spark, table_path, version=v_to)
    return diff_frames(old, new, keys, hash_col=hash_col)


def diff_frames(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
) -> DataFrame:
    """Pure-DataFrame CDC kernel behind :func:`table_changes`: classify each
    key as insert / update / delete between two relations, unchanged rows
    omitted, in ``new``'s columns plus ``_change_type``. Inserts/updates
    carry the ``new`` row, deletes the ``old`` row. It is the merge's own
    kernel with ``old`` as the target and ``new`` as the batch: keys join
    null-safely, "update" is the hash guard's verdict, and a target row the
    batch lacks (``keep``) is a delete."""
    merged = _merge_kernel(old, new, list(keys), hash_col, allow_new_columns=True)
    # NULL-then-filter, not a filter on __action: it keeps _change_type the
    # nullable string column that CDC consumers have always been handed
    return merged.selectExpr(
        *[ident(c) for c in new.columns],
        "CASE __action WHEN 'keep' THEN 'delete' WHEN 'unchanged' THEN NULL "
        "ELSE __action END AS _change_type",
    ).filter("_change_type IS NOT NULL")


def merge_as_dataframe(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
    preserve_cols: Sequence[str] = (),
    null_safe_keys: bool = True,
) -> DataFrame:
    """Pure-DataFrame MERGE (no I/O): returns the post-merge relation.

    Used by the oracle-checked queries and anywhere the caller manages
    persistence itself. Same semantics as :func:`merge_upsert`: both build
    the merged relation with one kernel.

    ``null_safe_keys=False`` joins on plain equality instead of ``<=>``:
    required to reuse a bucketed target's layout (null-safe equality blocks
    bucket-scan reuse and forces a full re-shuffle of the target); only
    correct when key columns are non-null by construction, which a
    natural-key table guarantees.
    """
    return _merge_kernel(
        target,
        source,
        list(keys),
        hash_col,
        preserve_cols,
        null_safe_keys=null_safe_keys,
    ).drop("__action")


def apply_changes(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
    layout: str = "rename",
    partition_col: str | None = None,
    history: int | None = None,
) -> None:
    """Apply a change feed (the :func:`table_changes` / :func:`diff_frames`
    shape: rows + ``_change_type``) to a replica table — the CDC consumer
    side — as one hash-guarded merge and one write: the delete keys are
    anti-joined out of the replica the merge reads, and the inserts and
    updates are the merge's batch. Applying ``table_changes(v1, v2)`` to a
    replica at v1 state yields exactly the v2 state
    (``test_apply_changes_syncs_replica``). Idempotent: re-applying the same
    feed leaves the same rows (deletes find nothing, upserts hash-match).
    Feeds spanning several versions must be applied in order (or
    pre-collapsed to latest-per-key).

    The write follows the replica's on-disk layout: pass ``partition_col``
    for a hive-partitioned replica (only the partitions the feed touches
    are rewritten, and one its deletes leave empty is dropped); manifest
    replicas are auto-detected. A mismatched shape (e.g. no
    ``partition_col`` against a hive replica, ``layout="manifest"`` against
    a flat one) is refused by the layout guard before anything is written.

    Each feed is one commit on every layout: one swap (one per touched
    partition on a hive replica) or one manifest snapshot, so a reader
    never sees a delete-only state, and a manifest replica gains exactly
    one version per feed applied. Deletes against a replica that does not
    exist yet are no-ops: the replica is created from the upserts.
    """
    keys = list(keys)
    # pin the feed ONCE: the change feed is typically table_changes(...) —
    # a full keyed diff of two snapshots — and without the pin the no-op
    # probe, the touched-partition collect and the write would each re-run
    # that diff join (review r11). persist(), not localCheckpoint(): there
    # is no iteration here needing lineage truncation, and checkpoint blocks
    # are non-replicated — one lost executor would kill the whole apply,
    # while persisted blocks recompute from the feed (ADVICE r11; the same
    # rationale applied in scrub_boilerplate_segments). Cache size is the
    # feed, not a table.
    changes = changes.persist()
    try:
        if changes.count() == 0:
            return  # no-op feed: burn no snapshot version, touch nothing
        if detect_layout(target_path) == "manifest":
            layout = "manifest"  # replica is a manifest table: follow its layout
        kind = F.col("_change_type")
        merged, touched = _build_merge(
            spark,
            target_path,
            changes.filter(kind != "delete").drop("_change_type"),
            keys,
            hash_col,
            partition_col=partition_col,
            layout=layout,
            deletes=changes.filter(kind == "delete").select(*keys),
        )
        _write_merge(merged, target_path, touched, layout, partition_col, history)
    finally:
        changes.unpersist()
