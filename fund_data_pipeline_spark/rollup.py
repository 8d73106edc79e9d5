"""Incremental materialized rollup: a partition-aligned aggregate table
refreshed only for the partitions a batch touched.

The reference recomputes its summary views from scratch each run (pandas
group-bys over the full table). At 100 TB that full recompute is the
dominant cost, so this module maintains the rollup the way a hypertable
continuous aggregate does: the rollup table is hive-partitioned by the SAME
partition column as the base table, and a refresh recomputes ONLY the
touched partitions' aggregate rows from a partition-pruned base scan, then
swaps exactly those partition directories into the rollup (reusing the
merge engine's :func:`~fund_data_pipeline_spark.merge.swap_partitions_dropping_absent`
— untouched rollup partitions stay byte-identical on disk).

Correctness requires nothing from the aggregate beyond per-partition
recomputability: any Spark aggregate expression works (including
non-decomposable ones like exact COUNT DISTINCT) because a refresh always
recomputes a touched partition from the base rows, never merges partial
states. A partition whose base rows all disappeared is dropped from the
rollup (its directory is removed), which plain keyed upsert cannot express.

Daily flow: ``merge_upsert(base, batch, partition_col=dt)`` returns the
touched partition values on ``MergeStats.touched_partitions`` (it collects
them for its own partition prune, at any batch width); pass exactly those
to :func:`refresh_rollup` in one call. Cost per day = one pruned scan of
the touched base partitions, independent of table history length.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import (
    _atomic_write,
    heal_backup_swap,
    swap_partitions_dropping_absent,
    touched_partition_filter,
)


def rollup_frame(
    base: DataFrame,
    partition_col: str,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
) -> DataFrame:
    """The rollup's defining aggregation: GROUP BY (partition_col, *group_cols)
    with the given named aggregate expressions. Shared by full build and
    incremental refresh so the two paths cannot drift."""
    return base.groupBy(partition_col, *group_cols).agg(
        *[expr.alias(name) for name, expr in measures.items()]
    )


def build_rollup(
    base: DataFrame,
    rollup_path: str,
    *,
    partition_col: str,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
) -> None:
    """Full build: aggregate the whole base table and write the rollup as a
    hive-partitioned parquet table (one-time; afterwards use
    :func:`refresh_rollup` per batch).

    Staging-then-swap like every other write path in the engine: a naive
    delete-then-write would destroy the previous good rollup on a crash
    mid-build and could leave a partial table that READS as valid (a hive
    root silently missing an arbitrary subset of partitions). The build
    writes through ``merge._atomic_write`` — staged to the hidden
    ``.<name>.__staging__`` sibling, swapped and healed by the merge
    module's one swap helper and heal, not a local copy (review r9: a
    duplicated copy had already drifted once). A crashed build is
    self-healed on the next call (backup restored)."""
    out = rollup_frame(base, partition_col, group_cols, measures)
    # one task per partition: rollup partitions are aggregate-sized (small),
    # so fan-out to tasks x partitions files would be pure scan overhead
    _atomic_write(
        out.repartition(F.col(partition_col)),
        Path(rollup_path),
        partition_by=partition_col,
    )


def refresh_rollup(
    base: DataFrame,
    rollup_path: str,
    *,
    partition_col: str,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
    touched: Sequence,
    create_if_missing: bool = False,
) -> None:
    """Recompute the ``touched`` partitions of the rollup from the base table
    and swap them in; every other rollup partition is left byte-untouched.

    ``base`` should be the partitioned base table read (``spark.read.parquet``
    over a ``partition_col=`` layout): the ``isin(touched)`` filter then
    prunes the scan to the touched partitions at the source. ``touched`` is
    the batch's partition values, passed as literals in one call at any
    width (a 300-date refresh in one call beat the same refresh in 64-date
    chunks; SCALING.md, "one touched-partition route").

    ``create_if_missing``: a missing rollup root is refused by default
    (refresh-before-build would mint a table silently missing all history
    — see below); an INCREMENTALLY-BOOTSTRAPPED flow (the NAV stream's
    first micro-batch, where the base table itself was just created from
    this batch and ``touched`` therefore covers every base partition)
    passes True to opt in to creating the root.
    """
    touched = list(touched)
    if not touched:
        return
    # crash heal FIRST (review r9): if the last full build died between its
    # two renames, only `.<rollup>.__old__` (the intact previous table)
    # exists — the partition swap below would otherwise mkdir a fresh empty
    # root and swap in only this batch's partitions, a rollup that READS as
    # valid but silently misses every other partition, while the next build
    # rmtree's the ignored backup. Restore-or-discard exactly like the
    # write paths do on entry.
    heal_backup_swap(Path(rollup_path))
    # refresh-before-build is the same incomplete-root hazard by API misuse
    # (review r12): the swap would mkdir a fresh root holding ONLY this
    # batch's partitions — a rollup that reads as valid while silently
    # missing all history. Refuse instead of manufacturing it.
    if not create_if_missing and not Path(rollup_path).exists():
        raise FileNotFoundError(
            f"rollup table {rollup_path!r} does not exist — run build_rollup "
            "once before incremental refresh_rollup calls (or pass "
            "create_if_missing=True from a flow that bootstraps the base "
            "table and rollup together)"
        )
    # hive layouts read the partition column back as STRING (this engine
    # pins partitionColumnTypeInference off), while callers often hold the
    # source-side values (e.g. DATEs). Coerce the literals to the column's
    # dtype — literal-side coercion keeps the filter sargable on the bare
    # column, so partition pruning stays eligible (a cast on the column
    # side would not).
    if dict(base.dtypes)[partition_col] == "string":
        touched = [v if isinstance(v, str) or v is None else str(v) for v in touched]
    pruned = base.filter(touched_partition_filter(partition_col, touched))
    out = rollup_frame(pruned, partition_col, group_cols, measures)
    # a touched partition with zero surviving base rows produces no rows in
    # `out` — the shared swap helper drops its stale directory (NULL and
    # hive-escaped partition values handled there)
    swap_partitions_dropping_absent(out, Path(rollup_path), partition_col, touched)


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the rollup table (hive-partitioned parquet; the partition column
    comes back from directory names)."""
    return spark.read.parquet(rollup_path)
