"""Row-hash change-detection expressions (SURVEY §2.10, H2-H10).

Every hash takes column names and is ONE SQL expression string
(``F.expr``, md5/sha2 over concat), evaluated JVM-side, reproducing the
reference's hash SHAPES (same columns, same separators, same null coercion
rule). Built as a Column chain a hash cost about 50 py4j round trips per
hashed column (about 3,000 for 60 columns, before anything runs), as text
one message. Catalyst parses the text into the same tree, so stored hashes
do not change (pinned by ``tests/test_sql_builders.py`` and the golden
values in ``tests/test_core.py``). Byte-parity scope — what a migration
comparing hashes across systems must know:

- exact for STRING / integer / date-formatted inputs (the H2/H5/H7
  master and key hashes): str(value) agrees between engines there;
- NOT exact where the reference stringified raw pandas floats (H3/H4
  over unconformed CSV floats: pandas emits '10.5' / 'nan' /
  '12345.0' where a conformed DECIMAL renders '10.5000' and NULL
  coerces to ''). A migration from reference-produced H3/H4 hashes
  must recompute them once rather than compare bytes; within this
  engine every hash is self-consistent and the merge guard behaves
  identically. (H1, the reference's md5 of sorted-key JSON, has no
  caller here: no table stores it.)

Parity targets (paths relative to /root/reference/):
- H2 md5 of separator-less concat, None->'': src/utils/hasher.py:16-18
- H3 sha256 of OHLCV concat: 02_performance_sync/02_history_hasher.py:31-36
- H4 sha256 of ex_date+amount+type: 02_performance_sync/02_dividend_hasher.py:11-14
- H5 sha256 pipe-delimited normalized key: scripts/bulk_import_from_hashed.py:96-105
- H6 all-columns-except hash: 03_detail_sync/02_static_hasher.py:23-28
- H7 master row hash: 01_master_sync/04_master_list_loader.py:56
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._sql import ident, lit
from .conform import lower_trim

#: unit-separator used by the v2 (collision-safe) hash
SAFE_SEP = "\x1f"


def _str(name: str) -> str:
    """str(value) with None -> '' — the reference's coercion — as SQL text."""
    return f"coalesce(CAST({ident(name)} AS STRING), '')"


def _md5_over(cols: Sequence[str], sep: str | None) -> Column:
    """md5 over the str-coerced ``cols``, joined by ``sep`` (None: plain concat)."""
    parts = ", ".join(_str(c) for c in cols)
    joined = f"concat({parts})" if sep is None else f"concat_ws({lit(sep)}, {parts})"
    return F.expr(f"md5({joined})")


def row_hash_concat(cols: Sequence[str]) -> Column:
    """H2: md5(''.join(str(a) if a is not None else '')) — byte-compatible.

    NOTE (inherited quirk): separator-less concat means ('ab','c') collides
    with ('a','bc'); kept for hash parity. Use :func:`row_hash_safe` for new
    tables.
    """
    return _md5_over(cols, None)


def row_hash_safe(cols: Sequence[str]) -> Column:
    """v2 hash: md5 over unit-separator-joined values (collision-safe)."""
    return _md5_over(cols, SAFE_SEP)


def ohlcv_hash(
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    adj_close_col: str = "adj_close",
    volume_col: str = "volume",
) -> Column:
    """H3: sha256 over OHLCV string-concat, missing -> ''."""
    cols = [open_col, high_col, low_col, close_col, adj_close_col, volume_col]
    return F.expr(f"sha2(concat({', '.join(_str(c) for c in cols)}), 256)")


def dividend_hash(ex_date: str = "ex_date", amount: str = "amount", type_col: str = "type") -> Column:
    """H4: sha256(str(ex_date) + str(amount) + str(type))."""
    return F.expr(f"sha2(concat({_str(ex_date)}, {_str(amount)}, {_str(type_col)}), 256)")


def normalized_key_hash(
    ticker: str = "ticker",
    asset_type: str = "asset_type",
    source: str = "source",
    ex_date: str = "ex_date",
    amount: str = "amount",
) -> Column:
    """H5: sha256 of pipe-joined lower/strip ticker+asset_type, source, ISO date,
    '%.6f' amount. EVERY part is NULL-coalesced to '': ``concat_ws``
    silently drops NULL elements, so an uncoalesced NULL ticker would
    collapse the field count and shift field boundaries — cross-field
    collisions, and never the reference's fixed five-part key
    (bulk_import_from_hashed.py:96-105)."""
    amount_c = f"CAST({ident(amount)} AS DOUBLE)"
    parts = [
        f"coalesce({lower_trim.sql(ident(ticker))}, '')",
        f"coalesce({lower_trim.sql(ident(asset_type))}, '')",
        _str(source),
        f"coalesce(date_format({ident(ex_date)}, 'yyyy-MM-dd'), '')",
        # format_string('%.6f', NULL) yields the STRING 'null' (Java
        # String.format), not NULL — it must be guarded, not coalesced
        f"CASE WHEN {amount_c} IS NULL THEN '' ELSE format_string('%.6f', {amount_c}) END",
    ]
    return F.expr(f"sha2(concat_ws('|', {', '.join(parts)}), 256)")


def all_columns_hash(df: DataFrame, exclude: Sequence[str] = ("row_hash", "updated_at")) -> Column:
    """H6: hash over every column except audit cols, in current column order."""
    return _md5_over([c for c in df.columns if c not in set(exclude)], None)


def master_row_hash() -> Column:
    """H7: H2 over (ticker, asset_type, source, name, status)."""
    return row_hash_concat(["ticker", "asset_type", "source", "name", "status"])


def with_row_hash(df: DataFrame, hash_expr: Column | None = None) -> DataFrame:
    """Attach ``row_hash`` (+ refresh ``updated_at`` — H10) to a DataFrame,
    in one projection."""
    expr = hash_expr if hash_expr is not None else all_columns_hash(df)
    return df.withColumns({"row_hash": expr, "updated_at": F.current_timestamp()})
