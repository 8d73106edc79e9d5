"""Incremental daily-NAV loader: landing-zone stream -> foreachBatch merge.

The streaming counterpart of :mod:`..pipelines.daily_nav` (reference entry
point 3): the same clean -> validate -> hash transforms run over a file
stream of the landing zone, and each micro-batch is upserted with the same
hash-guarded merge the batch loader uses. This is the ForeachBatch landing
pattern SURVEY §2.1-S9 calls for — the scrapers keep dropping CSVs, Spark
drains whatever is new.

Semantics that make this safe:
- The merge is idempotent (hash guard H8 + keyed dedup), so micro-batch
  replays after a failure cannot duplicate or clobber rows — exactly-once
  *effect* from at-least-once delivery.
- ``availableNow`` drains mean one invocation behaves like the reference's
  daily cron run; leaving the query running turns the same code into a
  continuous loader. Checkpointing tracks which files were consumed.

Scale: each micro-batch merge shuffles only on the natural key; the landing
file stream lists incrementally (no full re-scan), and ``maxFilesPerTrigger``
bounds per-batch work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..merge import merge_upsert
from ..pipelines import daily_nav
from ..schemas import DAILY_NAV_KEY


def start_nav_stream(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    schema: str = "ticker string, asset_type string, source string, nav_price string, "
    "currency string, as_of_date string, scrape_date string",
    max_files_per_trigger: int = 16,
    rollup_path: str | None = None,
    rollup_group_cols: tuple[str, ...] = ("source",),
    rollup_measures=None,
    errors_path: str | None = None,
    exclude_name_parts: tuple[str, ...] | None = None,
    processing_time: str | None = None,
    partitioned: bool | None = None,
):
    """Drain new landing CSVs into the NAV table; returns the StreamingQuery.

    ``partitioned``: use the ``as_of_date``-partitioned merge layout.
    Default ``None`` keeps the historical inference (partitioned iff
    ``rollup_path`` is set); pass ``True`` to get per-batch costs bounded
    by the batch's dates WITHOUT a rollup — previously the layout was
    coupled to the rollup feature, so a continuous loader with no rollup
    rewrote the whole table every micro-batch (review r11). Rollup mode
    requires the partitioned layout (the refresh prunes on the date).

    Call ``.awaitTermination()`` on the result for a one-shot availableNow
    drain (the daily-batch analog).

    ``rollup_path`` (+ ``rollup_group_cols`` / ``rollup_measures``, see
    :mod:`..rollup`) switches the merge to the ``as_of_date``-partitioned
    layout and, after each micro-batch lands, refreshes the continuous
    aggregate for exactly the dates that batch touched — the full
    incremental pipeline: new files -> keyed merge of the touched
    partitions -> rollup refresh of the same partitions. Per-batch cost
    stays proportional to the batch's dates, independent of history
    length; a batch replay re-merges idempotently and re-derives the same
    rollup rows, so exactly-once *effect* is preserved end to end.

    Enabling ``rollup_path`` on a target previously loaded WITHOUT it
    changes the merge to the date-partitioned layout; the merge's layout
    guard refuses that write against the existing flat table (mixed
    layouts corrupt reads) — migrate the table once (read -> partitioned
    rewrite) before switching modes.

    ``errors_path``: each micro-batch's quarantined rows (the validate
    split's failure side) land under ``errors_path/batch_id=N``,
    overwritten UNCONDITIONALLY per batch — even when the replay's error
    set shrank to empty (e.g. a future-dated row that now passes the
    wall-clock rule), so a replayed micro-batch can never leave stale rows
    double-accounted as both loaded and quarantined. Without it the batch
    loader's quarantine accounting would silently vanish in streaming mode.

    Cross-batch staleness: the hash-guarded merge updates on ANY hash
    difference, so a re-delivered OLD file drained in a later micro-batch
    would overwrite newer rows. The merge therefore runs with
    ``precedence_col="scrape_date"``: a matched row whose incoming
    ``scrape_date`` is strictly older than the stored one keeps the target
    row. NULL on either side passes — a row whose scrape_date failed to
    parse merges via the hash guard exactly as the batch loader
    (:func:`..pipelines.daily_nav.run`) would, rather than vanishing
    without a trace. The guard lives inside the merge's own full-outer
    join (and its partition-pruned target scan in rollup mode), so it
    costs no second scan of the target.

    ``exclude_name_parts``: basename-token sentinel filter, defaulting to
    the batch reader's ('error', 'log') — the stream drops rows from
    error-report/log CSVs exactly like
    :func:`..sources.csv_landing.read_landing_csvs` (review r10: the
    stream previously merged same-schema error files into the NAV table).
    Limitation: a sentinel file whose HEADER diverges from the schema
    still fails the micro-batch loudly at read (enforceSchema's verify
    contract runs before any row filter); remove such files or point the
    stream at a cleaner prefix.

    ``processing_time``: a trigger interval (e.g. ``'5 minutes'``) turns
    the drain into the continuous loader the module docstring describes;
    default None keeps the one-shot availableNow drain (review r10: the
    trigger was hardcoded, so the documented continuous mode was
    unreachable).
    """
    from pyspark.sql import functions as F

    from ..sources.csv_landing import DEFAULT_EXCLUDE_NAME_PARTS, name_excluded_col

    parts = (
        DEFAULT_EXCLUDE_NAME_PARTS if exclude_name_parts is None else exclude_name_parts
    )
    raw = (
        spark.readStream.schema(schema)
        .option("header", True)
        # enforceSchema=false makes Spark VERIFY the CSV header against the
        # schema instead of binding columns positionally — a landing file
        # with reordered or synonym headers fails loudly rather than
        # silently merging source values into asset_type (the batch reader
        # verifies the same way since r10)
        .option("enforceSchema", "false")
        .option("pathGlobFilter", "*.csv")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .csv(landing_dir)
    )
    if parts:
        raw = raw.filter(~name_excluded_col(F.input_file_name(), parts))
    # provenance parity with the batch reader (review r11): without
    # origin_file, clean()'s keep-last dedup tiebreak degrades to
    # (scrape_date, nav_price) and a micro-batch with two same-key rows
    # differing only in an untied column picks a shuffle-order survivor —
    # a crash replay could pick the OTHER row, flip its hash, and update
    # the target, breaking the replay-idempotence claim. The quarantine
    # rows gain the same provenance the batch path carries.
    raw = raw.withColumn("origin_file", F.input_file_name())

    use_partition = (rollup_path is not None) if partitioned is None else partitioned
    if rollup_path is not None and not use_partition:
        raise ValueError("rollup_path requires the date-partitioned layout")

    def load_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..merge import read_table
        from ..rollup import refresh_rollup

        # persist once: errors-write, emptiness probe, and the merge's
        # touched-dates collect and write all consume this lineage —
        # without the persist each action would re-read and re-clean every
        # CSV in the micro-batch from disk (review r9: up to ~5x redundant
        # I/O)
        cleaned = daily_nav.clean(batch_df).persist()
        try:
            valid, errors = daily_nav.validate_split(cleaned)
            if errors_path is not None:
                # UNCONDITIONAL idempotent quarantine (review r9):
                # foreachBatch may replay a micro-batch whose quarantine
                # write already landed (write succeeded, merge crashed
                # before the checkpoint commit). Overwriting batch_id=N
                # even when the replay produced NO errors clears rows the
                # replay now loads instead (validation uses wall-clock
                # current_date, so the split can legitimately shift
                # between attempts). Readers see batch_id as a discovered
                # partition column on errors_path.
                errors.write.mode("overwrite").parquet(
                    f"{errors_path}/batch_id={batch_id}"
                )
            batch = daily_nav.prepare_load(valid)
            if batch.isEmpty():
                return
            stats = merge_upsert(
                spark,
                target_path,
                batch,
                DAILY_NAV_KEY,
                precedence_col="scrape_date",
                partition_col="as_of_date" if use_partition else None,
            )
            if rollup_path is None:
                return
            # the merge reports every date the batch touched (it collects
            # them for its own partition prune), so the rollup refreshes
            # exactly those dates in one call, at any batch width
            refresh_rollup(
                read_table(spark, target_path),
                rollup_path,
                partition_col="as_of_date",
                group_cols=list(rollup_group_cols),
                measures=rollup_measures or {"n_quotes": F.count(F.lit(1))},
                touched=stats.touched_partitions,
                # this flow creates the BASE table from the first
                # micro-batch too, so the first refresh legitimately
                # bootstraps the rollup root (touched covers every
                # base partition at that point)
                create_if_missing=True,
            )
        finally:
            cleaned.unpersist()

    writer = raw.writeStream.foreachBatch(load_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
