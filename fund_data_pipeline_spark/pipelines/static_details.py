"""Static-detail sync: parse-heavy conform -> H6 hash -> merge into 4 tables.

Rebuilds reference entry point 3b (SURVEY §3, orchestrator
src/05_db_synchronization/03_detail_sync/05_detail_sync_orchestrator.py:14-20):

- 00_static_data_cleaner.py — glob scan (S3), percent normalize (X4:61-63),
  thousands strip (X5:66-68), asset_type default 'ETF' (X13:95-99),
  percent-rescale /100 if >1 (X7:104-107), overflow repair /100 if
  |x|>999.99 (X8:108-115), conform to fixed columns (P3:128-131)
- 01_detail_validator.py:32 — null-key drop (F1)
- 02_static_hasher.py:23-28 — H6 all-columns-except hash + updated_at
- 03_fund_detail_loader.py / fees / risk / policy loaders — K3 hash-guarded
  merges into stg_fund_info / stg_fund_fees / stg_fund_risk / stg_fund_policy
- scripts/bulk_import_from_hashed.py:155-216 — magnitude parse for AUM
  ('842.33m USD' — X6), outlier-to-NULL for risk/policy metrics (F9)

One cleaned batch fans out to four conformed/hashed loads; each merge is
one shuffle on the 3-column key. ``run`` loads all four from one cached
cleaned frame so the landing zone is scanned once, and submits the four
merges at once: they write disjoint tables, and each is a few small jobs
whose cost is driver latency, so overlapping them shortens the stage.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import conform, hashing, merge, parse, validate
from .._sql import apply_rules, select
from ..schemas import (
    FUND_FEES,
    FUND_FEES_KEY,
    FUND_INFO,
    FUND_INFO_KEY,
    FUND_POLICY,
    FUND_POLICY_KEY,
    FUND_RISK,
    FUND_RISK_KEY,
)
from .orchestrator import _concurrently

_TIERS = ("1y", "3y", "5y", "10y")
_LIPPER = ("3y", "5y", "10y", "overall")
#: percent-parsed AND /100-rescaled to fractions
#: (00_static_data_cleaner.py:185, bulk_import_from_hashed.py:203-206)
PERCENT_SCALE_COLS = ("expense_ratio", "initial_charge", "exit_charge")
#: DECIMAL(5,2) metrics with the /100 magnitude-overflow repair when
#: |x| > 999.99 (00_static_data_cleaner.py:111-117: standard_dev tiers on
#: the risk file, total_return_ytd/1y on the policy file)
OVERFLOW_REPAIR_COLS = (
    *[f"standard_dev_{t}" for t in _TIERS],
    "total_return_ytd",
    "total_return_1y",
)
#: every risk metric except moving_avg_200, and every policy metric, is
#: nulled outside |x| < 1000 (bulk_import_from_hashed.py:193-216)
RISK_METRIC_COLS = (
    *[f"sharpe_ratio_{t}" for t in _TIERS],
    *[f"beta_{t}" for t in _TIERS],
    *[f"alpha_{t}" for t in _TIERS],
    *[f"standard_dev_{t}" for t in _TIERS],
    *[f"r_squared_{t}" for t in _TIERS],
    "rsi_daily",
    "morningstar_rating",
    *[f"lipper_total_return_{t}" for t in _LIPPER],
    *[f"lipper_consistent_return_{t}" for t in _LIPPER],
    *[f"lipper_preservation_{t}" for t in _LIPPER],
    *[f"lipper_expense_{t}" for t in _LIPPER],
)
POLICY_METRIC_COLS = (
    "dividend_yield",
    *[f"dividend_growth_{t}" for t in _TIERS],
    "dividend_consecutive_years",
    "payout_ratio",
    "total_return_ytd",
    "total_return_1y",
    "pe_ratio",
)
OUTLIER_NULL_COLS = tuple(dict.fromkeys((*RISK_METRIC_COLS, *POLICY_METRIC_COLS)))
#: plain percent-parse, no rescale (fees file percent_cols minus the
#: rescaled trio — 00_static_data_cleaner.py:178-184)
PERCENT_PARSE_COLS = ("top_10_hold_pct", "holdings_turnover")


def _pct(e: str) -> str:
    return parse.parse_percent.sql(e)


#: column -> cleaning rule (SQL text -> SQL text); 00_static_data_cleaner.py's
#: per-column parsers plus bulk_import_from_hashed.py's AUM and outlier rules
RULES = {
    **conform.KEY_RULES,
    # asset_type default 'ETF' (X13, 00_static_data_cleaner.py:95-99)
    "asset_type": lambda e: parse.default_if_null.sql(conform.KEY_RULES["asset_type"](e), "ETF"),
    # '842.33m USD' magnitude parse (bulk_import_from_hashed.py:155-176)
    **dict.fromkeys(("assets_aum", "aum"), parse.parse_magnitude.sql),
    **dict.fromkeys(PERCENT_SCALE_COLS, lambda e: parse.percent_rescale.sql(_pct(e))),
    **dict.fromkeys(OUTLIER_NULL_COLS, lambda e: parse.outlier_to_null.sql(_pct(e))),
    # replaces the entry above for its columns: /100 repair first
    # (cleaner:111-117), then the |x|<1000 null (bulk:193-216) — a 150000
    # input becomes 1500, still nulled
    **dict.fromkeys(
        OVERFLOW_REPAIR_COLS,
        lambda e: parse.outlier_to_null.sql(parse.magnitude_overflow_repair.sql(_pct(e))),
    ),
    # moving_avg_200 is the ONE risk metric exempt from the outlier null
    # (bulk:214-216 — a 200-day MA legitimately exceeds 1000)
    **dict.fromkeys((*PERCENT_PARSE_COLS, "moving_avg_200"), _pct),
    **dict.fromkeys(
        ("holdings_count", "shares_out"), lambda e: f"CAST({parse.parse_thousands.sql(e)} AS DOUBLE)"
    ),
    **dict.fromkeys(("inception_date", "as_of_date"), parse.parse_date_coerce.sql),
}


def clean(df: DataFrame) -> DataFrame:
    """00_static_data_cleaner.py: the full scalar-parse pass, one projection.

    Column repertoire is dynamic (scraped): every known column gets its
    rule, other string columns the null-sentinel rule (X9), the rest pass
    through for the per-table conform to drop. One ``selectExpr``: one
    projection node, whose build cost does not grow by a Column chain per
    column.
    """
    df = conform.rename_synonyms(conform.normalize_headers(df))
    strings = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    rules = {**dict.fromkeys(strings, conform.null_sentinels_to_null.sql), **RULES}
    return select(df, apply_rules(rules, df.columns))


def _load_one(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Per-table conform + F1 key drop + H6 hash (02_static_hasher.py:23-28)."""
    out = conform.conform(df, schema, clean_strings=False)
    out = validate.drop_null_keys(out, ["ticker", "asset_type", "source"])
    return hashing.with_row_hash(out, hashing.all_columns_hash(out))


def fund_info(df: DataFrame) -> DataFrame:
    return _load_one(df, FUND_INFO)


def fund_fees(df: DataFrame) -> DataFrame:
    return _load_one(df, FUND_FEES)


def fund_risk(df: DataFrame) -> DataFrame:
    return _load_one(df, FUND_RISK)


def fund_policy(df: DataFrame) -> DataFrame:
    return _load_one(df, FUND_POLICY)


def run(
    spark: SparkSession,
    raw: DataFrame,
    warehouse: str,
) -> dict[str, merge.MergeStats]:
    """Clean once, load four tables concurrently
    (05_detail_sync_orchestrator.py:14-20).

    Every merge runs to completion before the first failure is re-raised,
    so the tables that merged cleanly stay written."""
    cleaned = clean(raw).cache()
    loads = {
        "stg_fund_info": (fund_info, FUND_INFO_KEY),
        "stg_fund_fees": (fund_fees, FUND_FEES_KEY),
        "stg_fund_risk": (fund_risk, FUND_RISK_KEY),
        "stg_fund_policy": (fund_policy, FUND_POLICY_KEY),
    }
    try:
        merges = {
            table: functools.partial(
                merge.merge_upsert, spark, f"{warehouse}/{table}", fn(cleaned), key
            )
            for table, (fn, key) in loads.items()
        }
        return dict(zip(merges, _concurrently(list(merges.values()))))
    finally:
        cleaned.unpersist()
