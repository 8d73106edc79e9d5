"""Holdings + allocations sync: guards -> path-date -> dedup -> hash -> merge.

Rebuilds reference entry point 4 (SURVEY §3, orchestrator
src/05_db_synchronization/04_holdings_sync/06_holdings_sync_orchestrator.py:14-21):

- 00_holdings_data_cleaner.py — per-source x per-kind extractors:
  utf-8-sig read (S5), as_of_date from the YYYY-MM-DD path component
  (S4:75-81), numeric to_float with %,+ strip (X4:55-65), null sentinels
  (X9:58-60), drop FT summary rows 'per cent of portfolio' (F7:126-127),
  heuristic column discovery by substring (§1.3-4:188-191)
- 01_holdings_integrity_checker.py:29-32 — null-key drop (F1)
- 02_holdings_hasher.py:33-35 — H6 all-columns hash
- 03_holdings_loader.py:30-79 — renames (item_name -> holding_name,
  value_net -> holding_percentage), 20-char length guard on holding_ticker
  (F10:72), 5-key dedup (D5:77-79), merge into stg_fund_holdings
- 04_allocations_loader.py:29-79 — three calls with allocation_type
  literal (P5), 6-key dedup, merge into stg_allocations
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from .. import conform, dedup, hashing, merge, parse, validate
from .._sql import apply_rules, ident, lit, select
from ..schemas import ALLOCATIONS, ALLOCATIONS_KEY, FUND_HOLDINGS, FUND_HOLDINGS_KEY
from .orchestrator import _concurrently

#: FT summary rows dropped from holdings (00_holdings_data_cleaner.py:126-127)
SUMMARY_ROW_MARKER = "per cent of portfolio"


#: column -> cleaning rule (SQL text -> SQL text); other columns pass through
HOLDINGS_RULES = {
    "holding_percentage": parse.parse_percent.sql,
    "holding_ticker": lambda e: parse.length_guard.sql(conform.null_sentinels_to_null.sql(e)),
}
ALLOCATIONS_RULES = dict.fromkeys(
    ("value_net", "value_category_avg", "value_long", "value_short"), parse.parse_percent.sql
)


def _clean(df: DataFrame, rules, **extra: str) -> DataFrame:
    """One ``selectExpr``: every column through its rule, then ``extra``
    columns; ``as_of_date`` comes from the path's date directory (S4) when
    the feed has no column for it."""
    exprs = {**apply_rules(rules, df.columns), **extra}
    if "as_of_date" not in exprs and "origin_file" in exprs:
        exprs["as_of_date"] = parse.path_date.sql(ident("origin_file"))
    return select(df, exprs)


def clean_holdings(df: DataFrame) -> DataFrame:
    """Holdings cleaner + loader conform (00_holdings_data_cleaner.py,
    03_holdings_loader.py:30-79)."""
    df = conform.rename_synonyms(conform.normalize_headers(df))
    if "holding_name" in df.columns:
        marker = f"lower(coalesce({ident('holding_name')}, ''))"
        df = df.filter(f"NOT contains({marker}, {lit(SUMMARY_ROW_MARKER)})")
    df = conform.conform(_clean(df, HOLDINGS_RULES), FUND_HOLDINGS)
    df = validate.drop_null_keys(df, ["ticker", "holding_name", "as_of_date"])
    # dedup_min, not an arbitrary survivor per key: non-key value columns
    # (holding_ticker, holding_percentage) feed the all-columns hash — an
    # arbitrary survivor re-fires the hash-guarded merge on a no-op rerun
    # (review r11)
    df = dedup.dedup_min(df, FUND_HOLDINGS_KEY)
    return hashing.with_row_hash(df, hashing.all_columns_hash(df))


def clean_allocations(df: DataFrame, allocation_type: str) -> DataFrame:
    """04_allocations_loader.py:29-79: one extractor call per allocation
    kind, the kind injected as a literal (P5)."""
    # item_name/value_net keep their names here (the holding_name /
    # holding_percentage synonyms apply only to the holdings table), so the
    # allocation path uses a rename map without those two entries.
    renames = {k: v for k, v in conform.DEFAULT_RENAMES.items() if k not in ("item_name", "value_net")}
    df = conform.rename_synonyms(conform.normalize_headers(df), renames)
    df = _clean(df, ALLOCATIONS_RULES, allocation_type=lit(allocation_type))
    df = conform.conform(df, ALLOCATIONS)
    df = validate.drop_null_keys(df, ["ticker", "item_name", "as_of_date"])
    # deterministic survivor for the same reason as clean_holdings (review r11)
    df = dedup.dedup_min(df, ALLOCATIONS_KEY)
    return hashing.with_row_hash(df, hashing.all_columns_hash(df))


def run(
    spark: SparkSession,
    holdings_raw: DataFrame | None,
    allocations_raw: dict[str, DataFrame],
    warehouse: str,
) -> dict[str, merge.MergeStats]:
    """Holdings + N allocation kinds, each one hash-guarded merge (H8);
    the two merges write disjoint tables and run concurrently.

    ``holdings_raw`` may be ``None`` (holdings feed delivered nothing) —
    the allocation feeds are independent and still load (review r9)."""
    merges = {}
    if holdings_raw is not None:
        merges["stg_fund_holdings"] = functools.partial(
            merge.merge_upsert, spark, f"{warehouse}/stg_fund_holdings",
            clean_holdings(holdings_raw), FUND_HOLDINGS_KEY,
        )
    alloc_batches = [clean_allocations(df, kind) for kind, df in allocations_raw.items()]
    if alloc_batches:
        batch = alloc_batches[0]
        for b in alloc_batches[1:]:
            batch = batch.unionByName(b)
        merges["stg_allocations"] = functools.partial(
            merge.merge_upsert, spark, f"{warehouse}/stg_allocations", batch, ALLOCATIONS_KEY
        )
    return dict(zip(merges, _concurrently(list(merges.values()))))
