"""Master-list sync: clean -> consolidate -> validate -> load -> lifecycle.

Rebuilds reference entry point 2 (SURVEY §3, orchestrator
src/05_db_synchronization/01_master_sync/07_master_sync_orchestrator.py:30-38):

1. ``clean``        00_master_list_cleaner.py — header/value normalize,
                    conform to the 6 scrape columns, in-source dedup (D1)
2. ``consolidate``  01_source_consolidator.py:67-86 — union all sources,
                    sort, dedup per (ticker, asset_type, source) (D3);
                    cross-source duplicates deliberately survive
3. ``validate``     02_master_list_validator.py:37-88 — row rules, all
                    failed rules joined by '; ' (F5), valid/invalid split
4. ``load``         04_master_list_loader.py:43-85 — H7 row hash, K5
                    unconditional upsert preserving first_seen (L1)
5. ``transition``   05_status_manager.py:30-45 — L3 expiry + L4 promotion,
                    applied row by row to the merged relation before the
                    load writes it, so the table changes in one swap a day
                    and no crash can leave merged rows untransitioned

Scale: steps 1-3 are map-side except the two keyed dedups (one shuffle
each on the natural key); the load and the transitions are one keyed merge
and one write, which also counts the quarantined rows. Nothing touches the
driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from .. import conform, dedup, hashing, lifecycle, merge, parse, validate
from .._sql import ident, select
from ..schemas import SECURITY_MASTER, SECURITY_MASTER_KEY

#: the cleaner's 6-column scrape schema (01_ft_list_scraper.py:149)
SCRAPE_COLUMNS = ["ticker", "asset_type", "name", "status", "source", "date_added"]

#: column -> cleaning rule (SQL text -> SQL text); a missing column enters as NULL
RULES = {
    **conform.KEY_RULES,
    "name": conform.null_sentinels_to_null.sql,
    "status": lambda e: conform.lower_trim.sql(conform.null_sentinels_to_null.sql(e)),
    "date_added": parse.parse_date_coerce.sql,
}


def clean(df: DataFrame) -> DataFrame:
    """Per-source cleaner (00_master_list_cleaner.py:37-77).

    Header normalize + synonym rename, upper/trim ticker & asset_type (X1),
    MUTUAL FUND -> FUND (X3), lower/trim status (X2), source typo map,
    conform to the scrape columns, then in-source keep-first dedup on
    (ticker, asset_type, source) — D1. ``source`` is in the dedup key so a
    caller feeding one COMBINED frame spanning several sources (the
    orchestrator's single landing-dir scan) cannot collapse cross-source
    rows that consolidate/SECURITY_MASTER_KEY deliberately preserve; for a
    single-source frame the behavior is identical. The tiebreak order is
    over NON-key columns (name, status, date_added) — ordering on a key
    column is constant within its own partition and would pick an
    arbitrary survivor.
    """
    df = conform.rename_synonyms(conform.normalize_headers(df))
    have = set(df.columns)
    df = select(
        df, {c: RULES[c](ident(c) if c in have else "CAST(NULL AS STRING)") for c in SCRAPE_COLUMNS}
    )
    return dedup.dedup_keyed(
        df, ["ticker", "asset_type", "source"], ["name", "status", "date_added"], keep="first"
    )


def consolidate(sources: Sequence[DataFrame]) -> DataFrame:
    """01_source_consolidator.py:67-86: union by name, per-source dedup (D3).

    The reference sorts then keep-first dedups on (ticker, asset_type,
    source). Its sort key IS the dedup key, so within a duplicate group
    pandas fell back to read order — i.e. the survivor among true
    duplicates was arbitrary. Here the tiebreak is explicit NON-key
    columns (name, status, date_added): deterministic run-over-run, which
    the reference's behavior was not. No trailing global sort: row order
    carries no downstream contract (the merge reshuffles on the key), so
    a full range-partition exchange would be pure waste.
    """
    unioned = sources[0]
    for s in sources[1:]:
        unioned = unioned.unionByName(s, allowMissingColumns=True)
    return dedup.dedup_keyed(
        unioned,
        ["ticker", "asset_type", "source"],
        ["name", "status", "date_added"],
        keep="first",
    )


def validate_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """02_master_list_validator.py:37-88: F5 all-reasons split.

    The reference assigns status 'new' (L2) BEFORE validating, so rows with
    no status pass the status rule.
    """
    df = lifecycle.assign_initial_status(df)
    return validate.validation_split_all_reasons(df, validate.master_rules())


def prepare_load(df: DataFrame, as_of: Column | None = None) -> DataFrame:
    """04_master_list_loader.py:43-67: conform to the table schema, stamp
    first/last_seen (L1 source side), attach the H7 row hash."""
    df = lifecycle.stamp_first_last_seen(df, as_of)
    df = conform.conform(df, SECURITY_MASTER)
    return hashing.with_row_hash(df, hashing.master_row_hash())


def run(
    spark: SparkSession,
    sources: Sequence[DataFrame],
    target_path: str,
    as_of: Column | None = None,
    today: Column | None = None,
) -> tuple[merge.MergeStats, int]:
    """Full flow: returns (merge stats, quarantined row count).

    The upsert is K5 (unconditional update, first_seen preserved,
    last_seen always refreshed — 04_master_list_loader.py:69-85), and the
    status transitions (05_status_manager.py) map the merged relation
    before its one write. The quarantine count is observed by that write.
    """
    cleaned = [clean(s) for s in sources]
    valid, quarantined = validate._counted_split(consolidate(cleaned), validate_split)
    merged, touched = merge._build_merge(
        spark,
        target_path,
        prepare_load(valid, as_of),
        SECURITY_MASTER_KEY,
        preserve_cols=("first_seen",),
        always_update_cols=("last_seen", "updated_at"),
        unconditional=True,
    )
    transitioned = lifecycle.apply_status_transitions(merged, today=today)
    stats = merge._write_merge(transitioned, target_path, touched)
    return stats, quarantined()
