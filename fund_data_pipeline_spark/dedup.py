"""Deterministic keyed deduplication (SURVEY §2.5, D1-D6).

The reference's pandas ``drop_duplicates(keep='first'|'last')`` depends on
file-read order — nondeterministic in a distributed engine. Every dedup here
takes an explicit tiebreak ordering, implemented as a ``row_number`` window
(one shuffle on the key, no global sort — scales to arbitrary key cardinality).

Parity targets:
- D1 keep-first on (ticker, asset_type): 01_master_sync/00_master_list_cleaner.py:76-77
- D2 keep-last on NAV natural key (last file read wins):
  02_performance_sync/00_performance_data_cleaner.py:110
- D3 sort-then-dedup consolidation: 01_master_sync/01_source_consolidator.py:76-79
- D4 dedup by row_hash: scripts/bulk_import_from_hashed.py:56,109
- D5 natural-key dedup before load: 03_holdings_loader.py:77-79 etc.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._sql import ident, lit


def dedup_keyed(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    keep: str = "first",
) -> DataFrame:
    """Keep exactly one row per ``keys``, picked by ``order_by``.

    ``keep='first'`` keeps the row that sorts first under ``order_by``;
    ``keep='last'`` keeps the one that sorts last (D2's keep-last with an
    explicit tiebreaker instead of pandas read order).
    """
    if not order_by:
        raise ValueError("order_by must be non-empty for deterministic dedup")
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    # internal-column clash guard, same contract as merge_upsert/diff_frames:
    # silently overwriting a real __rn/__cnt column would filter user rows on
    # the replacement and then drop the user's column without any error
    clash = {"__rn", "__cnt"} & set(df.columns)
    if clash:
        raise ValueError(f"column names reserved by dedup_keyed: {sorted(clash)}")
    if all(isinstance(c, str) for c in order_by):
        # the merge engine's route: one window expression as SQL text (a
        # Column chain costs py4j round trips per order column); keep='last'
        # reverses the ordering and takes row 1
        direction = " DESC" if keep == "last" else ""
        partition = f"PARTITION BY {', '.join(ident(k) for k in keys)} " if keys else ""
        order = ", ".join(ident(c) + direction for c in order_by)
        out = df.selectExpr("*", f"row_number() OVER ({partition}ORDER BY {order}) AS __rn")
        pred = F.col("__rn") == 1
    else:
        pk = [F.col(ident(k)) for k in keys]
        cols = [F.col(ident(c)) if isinstance(c, str) else c for c in order_by]
        out = df.withColumn("__rn", F.row_number().over(Window.partitionBy(*pk).orderBy(*cols)))
        pred = F.col("__rn") == 1
        if keep == "last":
            # Column entries may already BE sort orders (F.col('x').desc());
            # calling .desc() on one nests SortOrder(SortOrder(..)) and fails
            # analysis. Keep the caller's ordering untouched and take the
            # LAST row instead: rn == partition count. Same exchange + sort;
            # the count runs as a second window pass over the sorted partition.
            out = out.withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy(*pk)))
            pred = F.col("__rn") == F.col("__cnt")
    return out.filter(pred).drop("__rn", "__cnt")


def dedup_min(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """D5 with a DETERMINISTIC survivor at ``dropDuplicates`` cost.

    Keeps, per key, the row whose non-key column tuple sorts first
    (``min`` over a struct — partial+final hash aggregate, map-side
    combine, no window sort). ``dropDuplicates`` keeps an ARBITRARY row:
    two runs over the same input can pick different survivors, which flips
    non-key values, changes the all-columns row hash, and re-fires the
    hash-guarded merge on a rerun that should be a no-op (review r11 —
    the dividend/holdings load paths hit exactly this, because their
    natural keys don't cover every value column)."""
    others = [c for c in df.columns if c not in keys]
    if not others:
        return df.dropDuplicates(list(keys))  # rows are identical per key
    if "__s" in df.columns:
        raise ValueError("column name reserved by dedup_min: '__s'")
    # the struct and the final projection are as wide as the table: each
    # goes to the JVM as SQL text, not a Column per column
    agg = df.groupBy(*[F.col(ident(k)) for k in keys]).agg(
        F.expr(f"min(struct({', '.join(ident(c) for c in others)})) AS __s")
    )
    # restore the caller's column order (downstream all-columns hashing is
    # column-order-sensitive); `__s`['<name>'] is a field lookup by name, so
    # a dotted column name cannot mis-parse as a nested path (review r11)
    return agg.selectExpr(
        *[ident(c) if c in keys else f"__s[{lit(c)}] AS {ident(c)}" for c in df.columns]
    )


def duplicate_stats(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A4: how many rows each key contributes beyond the first (dup metric)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
        .withColumn("n_duplicates", F.col("n_rows") - 1)
    )
