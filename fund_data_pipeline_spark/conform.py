"""Schema conformance: header normalize, synonym rename, conform-to-schema.

Parity targets (reference file:line):
- P1 header strip+lower: 01_master_sync/00_master_list_cleaner.py:37,
  02_performance_sync/00_performance_data_cleaner.py:67
- P2 synonym rename maps: 00_master_list_cleaner.py:39-45,
  02_performance_sync/03_dividend_loader.py:37-45
- P3 add-missing-as-NULL + fixed column order: 00_master_list_cleaner.py:47-51,
  03_detail_sync/00_static_data_cleaner.py:128-131
- X9 null-sentinel normalize: 04_holdings_sync/00_holdings_data_cleaner.py:58-60
- X1/X2 case+trim normalize: 00_master_list_cleaner.py:53-66
- X3 value synonym maps: 00_master_list_cleaner.py:60,68-73

The value rules (X1-X3, X9) each have one body, written as SQL text: the
rule maps input expression text to output expression text (``rule.sql``),
and the rule's name over a column name is the same rule as one ``F.expr``
Column (``_sql.rule``). :data:`KEY_RULES` composes them into the
natural-key normalization every daily clean shares. No UDFs; fully
pushdown/codegen friendly. :func:`conform`, whose projection is as wide as
the target schema, is one ``selectExpr``: built as Column chains it cost
over 100 py4j round trips per column (about 7,700 for 60 columns) before
the frame ever ran; the text costs one message per column and parses to the
same expression trees.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._sql import ident, lit, rule, select, sql_type

#: string values that mean NULL in the reference's landing files
NULL_SENTINELS = ("", "nan", "none", "null", "n/a", "na", "-")

#: default header synonym map (00_master_list_cleaner.py:39-45 and friends)
DEFAULT_RENAMES = {
    "symbol": "ticker",
    "full_ticker": "ticker",
    "fund name": "name",
    "fund_name": "name",
    "company name": "name",
    "company_name": "name",
    "ex_dividend_date": "ex_date",
    "pay_date": "payment_date",
    "cash_amount": "amount",
    "dividend": "amount",
    "item_name": "holding_name",
    "value_net": "holding_percentage",
    "adj. close": "adj_close",
    "adj close": "adj_close",
    "div_yield": "dividend_yield",
    # policy-file tier synonyms (03_detail_sync/00_static_data_cleaner.py:257-264)
    "div_growth_1y": "dividend_growth_1y",
    "div_growth_3y": "dividend_growth_3y",
    "div_growth_5y": "dividend_growth_5y",
    "div_growth_10y": "dividend_growth_10y",
    "div_consecutive_years": "dividend_consecutive_years",
}


def normalize_headers(df: DataFrame) -> DataFrame:
    """P1: strip + lowercase every column name — deliberately NOT
    underscore-joining internal spaces, matching the reference cleaner's
    ``col.strip().lower()`` exactly; space-bearing headers are conformed
    by the synonym map ('fund name', 'adj close' in ``DEFAULT_RENAMES``),
    so a novel spaced header surfaces as an unmapped column rather than
    being silently guessed at (review r11: the docstring promised joining
    the implementation never did).

    Headers that COLLIDE after normalization ('Ticker' + ' ticker ') are
    refused loudly, naming the raw headers (review r14): ``toDF`` would
    happily emit a frame with duplicate column names, which only fails
    much later — as an AMBIGUOUS_REFERENCE at the first ``F.col`` or a
    duplicate-column error at write — far from the malformed landing file
    that caused it. Same refuse-loudly contract as dedup_keyed/merge_upsert
    reserved-column guards."""
    normalized = [c.strip().lower() for c in df.columns]
    if len(set(normalized)) != len(normalized):
        collisions: dict[str, list[str]] = {}
        for raw, norm in zip(df.columns, normalized):
            collisions.setdefault(norm, []).append(raw)
        dupes = {n: raws for n, raws in collisions.items() if len(raws) > 1}
        raise ValueError(
            f"normalize_headers: headers collide after strip+lower: {dupes}"
        )
    return df.toDF(*normalized)


def rename_synonyms(df: DataFrame, renames: Mapping[str, str] | None = None) -> DataFrame:
    """P2: apply a header synonym map; first-wins when two map to one target."""
    mapping = dict(DEFAULT_RENAMES if renames is None else renames)
    present = set(df.columns)
    seen = set(present)
    effective: dict[str, str] = {}
    for src, dst in mapping.items():
        if src in present and dst not in seen:
            effective[src] = dst
            seen.add(dst)
    return df.withColumnsRenamed(effective)


@rule
def null_sentinels_to_null(e: str) -> str:
    """X9: '', 'nan', 'None', 'N/A', ... (case-insensitive, trimmed) -> NULL."""
    sentinels = ", ".join(lit(v) for v in NULL_SENTINELS)
    return f"CASE WHEN lower(trim({e})) IN ({sentinels}) THEN NULL ELSE trim({e}) END"


def conform(df: DataFrame, schema: T.StructType, clean_strings: bool = True) -> DataFrame:
    """P3: produce exactly ``schema``'s columns in order.

    ``df``'s headers are already normalized (:func:`normalize_headers`,
    :func:`rename_synonyms`): every caller does that once, in its clean.
    Present columns are cast to the target type (string columns get the
    null-sentinel treatment first); missing columns appear as typed NULLs.
    Extra columns are dropped. One ``selectExpr`` — a single projection
    node that Catalyst folds into the scan, sent as SQL text (see the
    module docstring).
    """
    present = {f.name: f.dataType for f in df.schema.fields}
    exprs: dict[str, str] = {}
    for field in schema.fields:
        typ = sql_type(field.dataType)
        if field.name in present:
            c = ident(field.name)
            if clean_strings and isinstance(present[field.name], T.StringType):
                c = null_sentinels_to_null.sql(c)
            # try_cast: malformed values coerce to NULL (the reference's
            # errors='coerce' semantics), never fail the job (ANSI mode).
            exprs[field.name] = f"try_cast({c} AS {typ})"
        else:
            exprs[field.name] = f"CAST(NULL AS {typ})"
    return select(df, exprs)


@rule
def upper_trim(e: str) -> str:
    """X1: ticker/asset_type normalize (upper + trim)."""
    return f"upper(trim({e}))"


@rule
def lower_trim(e: str) -> str:
    """X2: status normalize (lower + trim)."""
    return f"lower(trim({e}))"


@rule
def map_values(e: str, mapping: Mapping[str, str]) -> str:
    """X3: value synonym map as one CASE (e.g. MUTUAL FUND->FUND); values
    outside the map pass through."""
    if not mapping:
        return e
    branches = " ".join(f"WHEN {e} = {lit(src)} THEN {lit(dst)}" for src, dst in mapping.items())
    return f"CASE {branches} ELSE {e} END"


#: asset-type value synonyms (00_master_list_cleaner.py:60)
ASSET_TYPE_MAP = {"MUTUAL FUND": "FUND", "MUTUALFUND": "FUND", "MUTUAL_FUND": "FUND"}

#: source typo/short-name map (00_master_list_cleaner.py:68-73, db_connector.py:355-360).
#: The space forms matter: scrapers emit 'Financial Times' etc., which
#: lower_trim turns into 'financial times' — without these keys the value
#: keeps its space while other paths emit the canonical underscore form,
#: and since source is part of every natural key the same entity would
#: silently split into two keys.
SOURCE_MAP = {
    "ft": "financial_times",
    "yf": "yahoo_finance",
    "sa": "stock_analysis",
    "finantial_times": "financial_times",
    # the reference's CamelCase scraper spellings (00_master_list_cleaner.py
    # :68-73 maps 'FinancialTimes'/'YahooFinance'/'StockAnalysis'), seen
    # here after lower_trim; 'yahoofinance' alone was handled while the
    # other two passed through unmapped and split the natural key (r11)
    "financialtimes": "financial_times",
    "yahoofinance": "yahoo_finance",
    "stockanalysis": "stock_analysis",
    "financial times": "financial_times",
    "yahoo finance": "yahoo_finance",
    "stock analysis": "stock_analysis",
}


#: The natural-key normalization every feed shares: X9 then X1 upper/trim on
#: ticker; X9, X1 and the X3 asset-type map on asset_type; X9, X2 lower/trim
#: and the source map on source.
KEY_RULES = {
    "ticker": lambda e: upper_trim.sql(null_sentinels_to_null.sql(e)),
    "asset_type": lambda e: map_values.sql(upper_trim.sql(null_sentinels_to_null.sql(e)), ASSET_TYPE_MAP),
    "source": lambda e: map_values.sql(lower_trim.sql(null_sentinels_to_null.sql(e)), SOURCE_MAP),
}
