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

All pure expressions — no UDFs, fully pushdown/codegen friendly.
:func:`conform`, whose projection is as wide as the target schema, sends it
to the JVM as SQL text in one ``selectExpr``: built as Column chains it cost
over 100 py4j round trips per column (about 7,700 for 60 columns) before
the frame ever ran; the text costs one message per column and parses to the
same expression trees.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._sql import ident, lit, sql_type

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


def null_sentinels_to_null(col: Column | str) -> Column:
    """X9: '', 'nan', 'None', 'N/A', ... (case-insensitive, trimmed) -> NULL."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.lower(trimmed).isin(*NULL_SENTINELS), F.lit(None)).otherwise(trimmed)


def _null_sentinels_to_null_sql(name: str) -> str:
    """:func:`null_sentinels_to_null` over the column ``name``, as SQL text."""
    trimmed = f"trim({ident(name)})"
    sentinels = ", ".join(lit(v) for v in NULL_SENTINELS)
    return f"CASE WHEN lower({trimmed}) IN ({sentinels}) THEN NULL ELSE {trimmed} END"


def conform(
    df: DataFrame,
    schema: T.StructType,
    renames: Mapping[str, str] | None = None,
    clean_strings: bool = True,
) -> DataFrame:
    """P3: produce exactly ``schema``'s columns in order.

    Present columns are cast to the target type (string columns get the
    null-sentinel treatment first); missing columns appear as typed NULLs.
    Extra columns are dropped. One ``selectExpr`` — a single projection
    node that Catalyst folds into the scan, sent as SQL text (see the
    module docstring).
    """
    df = rename_synonyms(normalize_headers(df), renames)
    # the schema of the renamed frame: its first read is two py4j round
    # trips, later reads are cached (the cost is per new DataFrame)
    present = {f.name: f.dataType for f in df.schema.fields}
    exprs: list[str] = []
    for field in schema.fields:
        typ = sql_type(field.dataType)
        if field.name in present:
            c = ident(field.name)
            if clean_strings and isinstance(present[field.name], T.StringType):
                c = _null_sentinels_to_null_sql(field.name)
            # try_cast: malformed values coerce to NULL (the reference's
            # errors='coerce' semantics), never fail the job (ANSI mode).
            exprs.append(f"try_cast({c} AS {typ}) AS {ident(field.name)}")
        else:
            exprs.append(f"CAST(NULL AS {typ}) AS {ident(field.name)}")
    return df.selectExpr(*exprs)


def upper_trim(col: Column | str) -> Column:
    """X1: ticker/asset_type normalize (upper + trim)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(c))


def lower_trim(col: Column | str) -> Column:
    """X2: status normalize (lower + trim)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def map_values(col: Column | str, mapping: Mapping[str, str], default_passthrough: bool = True) -> Column:
    """X3: value synonym map as chained when/otherwise (e.g. MUTUAL FUND->FUND)."""
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for src, dst in mapping.items():
        cond = c == F.lit(src)
        expr = F.when(cond, F.lit(dst)) if expr is None else expr.when(cond, F.lit(dst))
    if expr is None:
        return c
    return expr.otherwise(c) if default_passthrough else expr


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


def select_available(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P6: project to the subset of ``columns`` that exist (pandas df[available])."""
    have = set(df.columns)
    return df.select(*[c for c in columns if c in have])
