"""Scalar parsing/cleaning rules (SURVEY §2.9, X4-X17).

Every rule has one body, written as SQL text: it maps the text of an input
expression to the text of the cleaned expression (``rule.sql(e)``). Calling
the rule's name on a column name gives the same rule as one ``F.expr``
Column (see ``_sql.rule``). The daily cleans compose the text rules into
one ``selectExpr`` per feed; Catalyst parses the text into the same
JVM-side, whole-stage-codegen'd expressions a Column chain would build, with
no Python in the hot path. Double constants are written with a ``D``
suffix: a bare ``100.0`` in SQL is a DECIMAL. Parity targets cited per
function (paths relative to the reference repository).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ._sql import ident, lit, rule

#: X6: the number, and the magnitude suffix adjacent to it. The whitespace
#: class is spelled out: Java \s includes U+000B, RE2 (the oracle engine)
#: does not — see operators.chunking.WS_RE
NUMBER_RE = r"(-?[\d,]*\.?\d+)"
SUFFIX_RE = r"-?[\d,]*\.?\d+[ \t\n\x0B\f\r]*([kmbt])"
#: X14: the final filename extension
EXTENSION_RE = r"\.[^.]*$"
#: S4: a whole YYYY-MM-DD path component
DATE_DIR_RE = r"(?:^|/)(\d{4}-\d{2}-\d{2})(?=/|$)"


@rule
def parse_percent(e: str) -> str:
    """X4: '12.3%' / '+1,234.5%' -> 12.3 / 1234.5 (double; invalid -> NULL).

    Parity: 03_detail_sync/00_static_data_cleaner.py:61-63 (_normalize_percent),
    04_holdings_sync/00_holdings_data_cleaner.py:55-65 (to_float).
    """
    return f"try_cast(regexp_replace(trim({e}), {lit('[%,+]')}, '') AS DOUBLE)"


@rule
def parse_thousands(e: str) -> str:
    """X5: '1,234,567' -> 1234567 (long; invalid -> NULL).

    Parity: 00_static_data_cleaner.py:66-68; scripts/bulk_import_from_hashed.py:46-47.
    """
    return f"try_cast(try_cast(regexp_replace(trim({e}), ',', '') AS DOUBLE) AS BIGINT)"


@rule
def parse_magnitude(e: str) -> str:
    """X6: '842.33m USD' -> 842_330_000.0; '1.2b' -> 1_200_000_000.0; 'k' -> 1e3.

    Strips everything but digits, '.', '-', then scales by the first magnitude
    suffix found after the number. Reference: bulk_import_from_hashed.py:155-175
    (parse_number) — a DELIBERATE superset of it: the reference scales only
    when the raw string ends with 'm'/'b' (so '842.33m USD' would NOT be
    scaled, silently storing millions as units) and has no 'k'/'t'. Here
    the suffix is recognized adjacent to the number regardless of trailing
    currency text; oracle-checked as numeric_string_parsing.
    """
    s = f"lower(trim({e}))"
    num = f"try_cast(regexp_replace(regexp_extract({s}, {lit(NUMBER_RE)}, 1), ',', '') AS DOUBLE)"
    suffix = f"regexp_extract({s}, {lit(SUFFIX_RE)}, 1)"
    scales = {"k": "1000.0D", "m": "1000000.0D", "b": "1.0E9D", "t": "1.0E12D"}
    branches = " ".join(f"WHEN {suffix} = '{k}' THEN {num} * {v}" for k, v in scales.items())
    return f"CASE {branches} ELSE {num} END"


@rule
def percent_rescale(e: str) -> str:
    """X7: fee/charge given as 45 -> 0.45; already-fraction (<=1) passes through.

    Parity: bulk_import_from_hashed.py:199-202; 00_static_data_cleaner.py:104-107.
    """
    return f"CASE WHEN {e} > 1.0D THEN {e} / 100.0D ELSE {e} END"


@rule
def magnitude_overflow_repair(e: str) -> str:
    """X8: |x| > 999.99 -> x/100 (DECIMAL(5,2) overflow guard for std-dev/returns).

    Parity: 00_static_data_cleaner.py:108-115.
    """
    return f"CASE WHEN abs({e}) > 999.99D THEN {e} / 100.0D ELSE {e} END"


@rule
def outlier_to_null(e: str) -> str:
    """F9: |x| >= 1000 -> NULL (policy metrics must fit their DECIMAL).

    Parity: bulk_import_from_hashed.py:193-198,210-216.
    """
    return f"CASE WHEN abs({e}) < 1000.0D THEN {e} END"


@rule
def length_guard(e: str) -> str:
    """F10: strings longer than 20 characters -> NULL (holding_ticker guard).

    Parity: 04_holdings_sync/03_holdings_loader.py:72.
    """
    return f"CASE WHEN length({e}) <= 20 THEN {e} END"


@rule
def parse_date_coerce(e: str, fmt: str | None = None) -> str:
    """X10/X11: date parse with coerce-to-null (pandas to_datetime errors='coerce').

    Parity: 00_performance_data_cleaner.py:118-119 (ISO), 03_ft_nav_repair.py:87-88
    ('%b %d %Y' -> fmt='MMM d yyyy'), 03_yf_fund_price_history_scraper.py:123-125
    ('%b %d, %Y' -> fmt='MMM d, yyyy').
    """
    return f"CAST(try_to_timestamp({e}, {lit(fmt)}) AS DATE)" if fmt else f"try_cast({e} AS DATE)"


@rule
def default_if_null(e: str, default: str) -> str:
    """X13: fill defaults (currency->'USD', dividend type->'Cash').

    Parity: 01_yf_fund_nav_scraper.py:99; 03_dividend_loader.py:53-54.
    """
    return f"coalesce({e}, {lit(default)})"


def split_ticker(name: str) -> tuple[Column, Column]:
    """X16: 'VTSAX:USD' / 'VWRL:LSE:GBP' -> (ticker, currency).

    Parity: 01_ft_list_scraper.py:175-179 — FT full tickers are
    TICKER[:EXCHANGE]:CURRENCY, so the currency is the LAST part, not the
    second (taking parts[1] would store the exchange code as a currency
    for three-part tickers). A delimiter-less input ('VTSAX') has no
    currency part, so currency is NULL — the reference emits 'N/A'/absent
    there too (01_ft_list_scraper.py:177), and echoing the ticker back as
    its own currency would poison the default_if_null('USD') fill.
    Deliberate divergence for 2-part tickers: the reference treats
    parts[1] as an EXCHANGE code; we return it as the currency column
    because the landing schema here has no exchange column and FT 2-part
    tickers ('VWRL:GBP') put the currency second in practice.
    """
    parts = f"split({ident(name)}, ':')"
    return F.expr(f"{parts}[0]"), F.expr(f"CASE WHEN size({parts}) >= 2 THEN element_at({parts}, -1) END")


@rule
def format_amount(e: str, decimals: int = 6) -> str:
    """X17: fixed-point format used inside hash keys ('%.6f').

    Parity: bulk_import_from_hashed.py:102. NULL stays NULL: Java
    ``String.format`` renders a NULL argument as the six characters
    'null', which as a hash-key component would collide every NULL-amount
    row on a literal string (review r11; ``normalized_key_hash`` carries
    its own '' guard because concat_ws needs the FIELD preserved).
    """
    c = f"try_cast({e} AS DOUBLE)"
    return f"CASE WHEN {c} IS NULL THEN CAST(NULL AS STRING) ELSE format_string({lit(f'%.{decimals}f')}, {c}) END"


@rule
def filename_stem_ticker(e: str, stop: str = "_") -> str:
    """X14/S2: ticker from the filename stem before the first ``stop``.

    ``.../VTSAX_history.csv`` -> ``VTSAX``.
    Parity: 02_performance_sync/00_price_history_cleaner.py:43 —
    ``Path.stem.split(stop)[0]``: only the FINAL extension is stripped, so
    a dotted ticker survives (``BRK.B_history.csv`` -> ``BRK.B``; a
    char-class regex over ``[^_.]`` would truncate it to ``BRK`` and merge
    the rows under the wrong entity). ``stop`` is regex-escaped before
    use, so any literal separator is safe.
    """
    stem = f"regexp_replace(element_at(split({e}, '/'), -1), {lit(EXTENSION_RE)}, '')"
    return f"element_at(split({stem}, {lit(re.escape(stop))}), 1)"


@rule
def path_date(e: str) -> str:
    """S4: extract the YYYY-MM-DD directory component of the file path as a date.

    Parity: 04_holdings_sync/00_holdings_data_cleaner.py:75-81 — the
    reference parses whole path COMPONENTS, so the date must be an entire
    slash-bounded segment: a root like ``/data/export-2020-01-01/...``
    must not hijack the real ``/2024-05-05/`` date directory below it.
    """
    return f"try_cast(regexp_extract({e}, {lit(DATE_DIR_RE)}, 1) AS DATE)"


@rule
def asset_type_from_path(e: str) -> str:
    """S2: 'etf' in the path -> 'ETF' else 'FUND'.

    Parity: 00_price_history_cleaner.py:45-50.
    """
    return f"CASE WHEN contains(lower({e}), 'etf') THEN 'ETF' ELSE 'FUND' END"
