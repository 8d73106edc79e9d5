"""Unit tests for the core expression library (conform/parse/hashing/dedup/validate)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fund_data_pipeline_spark import conform, dedup, hashing, parse, validate
from fund_data_pipeline_spark.schemas import DAILY_NAV


def test_normalize_headers_and_rename(spark):
    df = spark.createDataFrame([("A", "x", "f")], ["  Symbol ", "Fund Name", "STATUS"])
    out = conform.rename_synonyms(conform.normalize_headers(df))
    assert out.columns == ["ticker", "name", "status"]


def test_normalize_headers_refuses_colliding_headers(spark):
    """Headers that collide after strip+lower must fail loudly AT the
    normalize step, naming the raw headers (review r14) — toDF would emit
    duplicate column names that only blow up much later as an
    AMBIGUOUS_REFERENCE or a duplicate-column write error, far from the
    malformed landing file that caused them."""
    df = spark.createDataFrame([("A", "B", 1)], ["Ticker", " ticker ", "v"])
    with pytest.raises(ValueError, match=r"collide after strip\+lower.*Ticker"):
        conform.normalize_headers(df)


def test_conform_adds_missing_and_casts(spark):
    df = spark.createDataFrame(
        [("vtsax", "FUND", "yf", "12.34", "2024-01-02")],
        ["ticker", "asset_type", "source", "nav_price", "as_of_date"],
    )
    out = conform.conform(df, DAILY_NAV)
    assert out.columns == [f.name for f in DAILY_NAV.fields]
    row = out.first()
    assert str(row.nav_price) == "12.3400"
    assert row.currency is None
    assert row.as_of_date.isoformat() == "2024-01-02"


def test_null_sentinels(spark):
    df = spark.createDataFrame([("N/A",), ("nan",), (" ok ",), ("",)], ["v"])
    out = df.select(conform.null_sentinels_to_null("v").alias("v")).collect()
    assert [r.v for r in out] == [None, None, "ok", None]


def test_parse_percent_magnitude_thousands(spark):
    df = spark.createDataFrame(
        [("12.3%", "842.33m USD", "1,234,567")], ["pct", "mag", "thou"]
    )
    row = df.select(
        parse.parse_percent("pct").alias("p"),
        parse.parse_magnitude("mag").alias("m"),
        parse.parse_thousands("thou").alias("t"),
    ).first()
    assert row.p == 12.3
    assert row.m == 842_330_000.0
    assert row.t == 1_234_567


def test_parse_magnitude_variants(spark):
    cases = [("1.2b", 1.2e9), ("5k", 5e3), ("-3.5m", -3.5e6), ("42", 42.0), ("n/a", None)]
    df = spark.createDataFrame([(s,) for s, _ in cases], ["v"])
    got = [r.m for r in df.select(parse.parse_magnitude("v").alias("m")).collect()]
    assert got == [e for _, e in cases]


def test_percent_rescale_and_overflow(spark):
    df = spark.createDataFrame([(45.0, 1234.5), (0.45, 12.5)], ["fee", "sd"])
    rows = df.select(
        parse.percent_rescale("fee").alias("fee"),
        parse.magnitude_overflow_repair("sd").alias("sd"),
    ).collect()
    assert [r.fee for r in rows] == [0.45, 0.45]
    assert [r.sd for r in rows] == [12.345, 12.5]


def test_row_hash_concat_matches_reference_algorithm(spark):
    # reference: md5("".join(str(a) if a is not None else "" for a in args))
    # (src/utils/hasher.py:16-18)
    args = ("VTSAX", "FUND", "yahoo_finance", None, "active")
    expected = hashlib.md5("".join(str(a) if a is not None else "" for a in args).encode()).hexdigest()
    df = spark.createDataFrame(
        [args], "ticker string, asset_type string, source string, name string, status string"
    )
    got = df.select(hashing.master_row_hash().alias("h")).first().h
    assert got == expected


def test_stored_hashes_are_stable(spark):
    """H6 (``all_columns_hash``) and v2 (``row_hash_safe``) are stored in
    every merged table, H3 (``ohlcv_hash``) and H4 (``dividend_hash``) in
    the price and dividend tables, and compared by the hash guard on the
    next load, so their bytes may never drift across releases: a drift
    re-fires the guard on every unchanged row. H5 (``normalized_key_hash``)
    is the cross-system key. The golden values were captured from the
    Column-chain builders these SQL-text builders replaced, over rows with
    NULL, decimal, double, long, date and timestamp values (session time
    zone UTC)."""
    row = spark.sql(
        """SELECT 'VTSAX' AS ticker, CAST(NULL AS STRING) AS name,
           CAST('1234.5000' AS DECIMAL(18,4)) AS nav_price, DATE'2024-02-29' AS as_of_date,
           TIMESTAMP'2024-03-01 12:34:56.789' AS scraped_at, CAST(NULL AS DECIMAL(18,4)) AS fee,
           'x' AS row_hash, TIMESTAMP'2020-01-01 00:00:00' AS updated_at"""
    )
    cols = ["ticker", "name", "nav_price", "as_of_date", "scraped_at", "fee"]
    got = row.select(
        hashing.all_columns_hash(row).alias("h6"), hashing.row_hash_safe(cols).alias("v2")
    ).first()
    values = ["VTSAX", "", "1234.5000", "2024-02-29", "2024-03-01 12:34:56.789", ""]
    assert got.h6 == "56f5c3508c3e450b8c9960884a4ee8d8"
    assert got.h6 == hashlib.md5("".join(values).encode()).hexdigest()
    assert got.v2 == "d7136b1209858495af45be6798c5639b"
    assert got.v2 == hashlib.md5(hashing.SAFE_SEP.join(values).encode()).hexdigest()

    # H3/H4/H5, captured from their Column-chain builders over decimal,
    # double, long, date and NULL inputs
    typed = spark.sql(
        """SELECT CAST('10.5000' AS DECIMAL(18,4)) AS open, CAST(11.25 AS DOUBLE) AS high,
           CAST(NULL AS DECIMAL(18,4)) AS low, CAST(10.9 AS DOUBLE) AS close,
           DATE'2024-02-29' AS adj_close, CAST(12345 AS BIGINT) AS volume, 'Cash' AS type,
           '  VtSaX ' AS ticker, CAST(NULL AS STRING) AS asset_type, 'yahoo_finance' AS source,
           CAST(NULL AS DATE) AS no_date"""
    )
    got = typed.select(
        hashing.ohlcv_hash().alias("h3"),
        hashing.dividend_hash(ex_date="adj_close", amount="open", type_col="type").alias("h4"),
        hashing.dividend_hash(ex_date="no_date", amount="high", type_col="asset_type").alias("h4_null"),
        hashing.normalized_key_hash(ex_date="adj_close", amount="open").alias("h5"),
        hashing.normalized_key_hash(ticker="volume", ex_date="no_date", amount="low").alias("h5_null"),
    ).first()

    def sha(text):
        return hashlib.sha256(text.encode()).hexdigest()

    assert got.h3 == "494ffc7758da2109f5c1dfe8c061329cd291d399ab0389f8c20dc43815480f7c"
    assert got.h3 == sha("10.5000" "11.25" "" "10.9" "2024-02-29" "12345")
    assert got.h4 == "0e01a5c3c553d521ec5c3b56420423a2ae7d62fa5ec3ff2c2ce900ccb5073c7d"
    assert got.h4 == sha("2024-02-29" "10.5000" "Cash")
    assert got.h4_null == "0b07b115b1aeac12b99abdf24915446c0f85159a8c9a0e42c28a3860d0369905"
    assert got.h4_null == sha("11.25")
    assert got.h5 == "e0b92f105e0e4eaae10ad99a737369526b99add019b3943846ce4f19cf655a69"
    assert got.h5 == sha("vtsax||yahoo_finance|2024-02-29|10.500000")
    assert got.h5_null == "b9996a831970d43926ce20e9690ebddacf93887412fc62fdcf58b71743bca4bc"
    assert got.h5_null == sha("12345||yahoo_finance||")


def test_ohlcv_hash_matches_reference_algorithm(spark):
    # reference: sha256 over str-concat of OHLCV, missing -> ""
    # (02_performance_sync/02_history_hasher.py:31-36)
    vals = ("10.5", "11.0", "10.1", "10.9", None, "12345")
    expected = hashlib.sha256("".join(v if v is not None else "" for v in vals).encode()).hexdigest()
    df = spark.createDataFrame(
        [vals], "open string, high string, low string, close string, adj_close string, volume string"
    )
    got = df.select(hashing.ohlcv_hash().alias("h")).first().h
    assert got == expected


def test_dedup_keyed_keep_last_deterministic(spark):
    df = spark.createDataFrame(
        [("A", "f1", 1.0), ("A", "f3", 3.0), ("A", "f2", 2.0), ("B", "f1", 9.0)],
        ["k", "origin_file", "v"],
    )
    out = dedup.dedup_keyed(df, ["k"], ["origin_file"], keep="last")
    got = {r.k: r.v for r in out.collect()}
    assert got == {"A": 3.0, "B": 9.0}


def test_validation_split_single_reason_overwrite_order(spark):
    import datetime

    rows = [
        Row(ticker="A", nav_price=10.0, as_of_date=datetime.date(2024, 1, 1)),
        Row(ticker=None, nav_price=10.0, as_of_date=datetime.date(2024, 1, 1)),
        Row(ticker="C", nav_price=-1.0, as_of_date=datetime.date(2099, 1, 1)),
    ]
    df = spark.createDataFrame(rows)
    rules = validate.nav_rules(critical_cols=("ticker", "nav_price", "as_of_date"))
    valid, invalid = validate.validation_split_single_reason(df, rules)
    assert valid.count() == 1
    reasons = {r.ticker: r.error_reason for r in invalid.collect()}
    # row C fails both Non-Positive and Future Date; reference overwrite keeps the LAST rule
    assert reasons[None] == "Missing Data"
    assert reasons["C"] == "Future Date"


def test_nav_rules_default_covers_all_critical_cols(spark):
    """The default critical set is the reference's full five columns: a
    NULL source/asset_type (natural-key components) must quarantine as
    'Missing Data' (review r8: they previously passed as valid)."""
    import datetime

    rows = [
        ("A", "FUND", None, 1.0, datetime.date(2024, 1, 1)),
        ("B", None, "yf", 1.0, datetime.date(2024, 1, 1)),
        ("C", "FUND", "yf", 1.0, datetime.date(2024, 1, 1)),
    ]
    frame = spark.createDataFrame(
        rows,
        "ticker string, asset_type string, source string, nav_price double, as_of_date date",
    )
    valid, invalid = validate.validation_split_single_reason(frame, validate.nav_rules())
    assert {r.ticker for r in valid.collect()} == {"C"}
    assert {r.error_reason for r in invalid.collect()} == {"Missing Data"}


def test_master_rules_null_membership_is_invalid(spark):
    """NULL asset_type/status must be flagged (bare ~isin is NULL under
    three-valued logic and previously let the row through as VALID)."""
    df = spark.createDataFrame(
        [("A", None, "yf", None)],
        "ticker string, asset_type string, source string, status string",
    )
    valid, invalid = validate.validation_split_all_reasons(df, validate.master_rules())
    assert valid.count() == 0
    assert invalid.first().validation_issues == "Invalid Asset Type; Invalid Status"


def test_validation_split_all_reasons(spark):
    df = spark.createDataFrame(
        [("", "STOCK", "yf", "weird"), ("A", "FUND", "yf", "active")],
        ["ticker", "asset_type", "source", "status"],
    )
    valid, invalid = validate.validation_split_all_reasons(df, validate.master_rules())
    assert valid.count() == 1
    bad = invalid.first()
    assert bad.validation_issues == "Missing Ticker; Invalid Asset Type; Invalid Status"


def test_scd2_apply_versioned_history(spark):
    """SCD Type-2 multi-day simulation: change closes + reopens, unchanged is
    untouched, new keys open, disappeared keys close only under
    close_missing, and re-applying the same snapshot is a no-op."""
    from datetime import date

    from fund_data_pipeline_spark.lifecycle import scd2_apply

    def snap(rows):
        return spark.createDataFrame(rows, "ticker string, sector string")

    d1, d2, d3 = date(2024, 1, 1), date(2024, 1, 8), date(2024, 1, 15)
    keys, tracked = ["ticker"], ["sector"]

    h1 = scd2_apply(None, snap([("AAA", "tech"), ("BBB", "fin")]), keys, tracked, d1)
    rows1 = {(r.ticker, r.sector, r.valid_from, r.valid_to, r.is_current) for r in h1.collect()}
    assert rows1 == {
        ("AAA", "tech", d1, None, True),
        ("BBB", "fin", d1, None, True),
    }

    # day 2: AAA changes sector, BBB unchanged, CCC appears
    h2 = scd2_apply(h1, snap([("AAA", "health"), ("BBB", "fin"), ("CCC", "energy")]), keys, tracked, d2)
    rows2 = {(r.ticker, r.sector, r.valid_from, r.valid_to, r.is_current) for r in h2.collect()}
    assert rows2 == {
        ("AAA", "tech", d1, d2, False),
        ("AAA", "health", d2, None, True),
        ("BBB", "fin", d1, None, True),
        ("CCC", "energy", d2, None, True),
    }

    # idempotence: same snapshot, same date -> byte-identical history
    h2b = scd2_apply(h2, snap([("AAA", "health"), ("BBB", "fin"), ("CCC", "energy")]), keys, tracked, d2)
    assert {tuple(r) for r in h2b.collect()} == {tuple(r) for r in h2.collect()}

    # day 3: BBB disappears — kept open by default...
    h3 = scd2_apply(h2, snap([("AAA", "health"), ("CCC", "energy")]), keys, tracked, d3)
    bbb = [(r.valid_to, r.is_current) for r in h3.collect() if r.ticker == "BBB"]
    assert bbb == [(None, True)]
    # ...closed under close_missing=True
    h3c = scd2_apply(h2, snap([("AAA", "health"), ("CCC", "energy")]), keys, tracked, d3, close_missing=True)
    bbb_c = [(r.valid_to, r.is_current) for r in h3c.collect() if r.ticker == "BBB"]
    assert bbb_c == [(d3, False)]
    # exactly one current version per live key, closed history intact
    cur = [r.ticker for r in h3c.collect() if r.is_current]
    assert sorted(cur) == ["AAA", "CCC"]
    assert len([r for r in h3c.collect() if not r.is_current]) == 2


def test_catalog_order_is_headliners_first_then_registration_order():
    """queries() lists the headline queries first, then everything else;
    each group keeps registration order (module import order, then source
    line). The name set is pinned so a query cannot silently vanish, and
    every query keeps a DuckDB oracle."""
    import sys

    from fund_data_pipeline_spark import queries as q

    names = list(q.queries())
    headline = list(q.headline_queries())
    assert names[: len(headline)] == headline
    module_rank = {m: i for i, m in enumerate(sys.modules)}
    registered = sorted(
        q.QUERIES.values(),
        key=lambda s: (module_rank[s.spark.__module__], s.spark.__code__.co_firstlineno),
    )
    assert names == [s.name for s in registered if s.headline] + [
        s.name for s in registered if not s.headline
    ]
    assert len(names) == 139
    digest = hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()
    assert digest == "afc49c00434c9bf16ceb7f44695850026fa9af6d2cfe1ecb097c57ae529c36d8"
    assert set(q.oracle_sql()) == set(names)


def test_r11_expression_review_fixes(spark):
    """r11 expression-library review: CamelCase source spellings map to
    canonical values (they split the natural key before); format_amount
    keeps NULL NULL (Java format_string renders NULL as the literal
    'null'); stamp_first_last_seen seeds first_seen from the batch's
    date_added (reference 04_master_list_loader.py:55-66) falling back to
    as_of."""
    from fund_data_pipeline_spark import conform, lifecycle
    from fund_data_pipeline_spark.parse import format_amount

    df = spark.createDataFrame(
        [("FinancialTimes",), ("StockAnalysis",), ("YahooFinance",), ("Financial Times",)],
        ["src"],
    )
    got = {
        r.m
        for r in df.select(
            F.expr(conform.map_values.sql(conform.lower_trim.sql("src"), conform.SOURCE_MAP)).alias("m")
        ).collect()
    }
    assert got == {"financial_times", "stock_analysis", "yahoo_finance"}

    amt = spark.createDataFrame([(1.5,), (None,)], "v double").select(
        format_amount("v", 2).alias("s")
    )
    assert [r.s for r in amt.orderBy(F.col("s").asc_nulls_last()).collect()] == ["1.50", None]

    batch = spark.createDataFrame(
        [("AAA", "2024-01-05"), ("BBB", None)], ["ticker", "date_added"]
    )
    stamped = lifecycle.stamp_first_last_seen(batch, F.lit("2026-08-15").cast("date"))
    got2 = {(r.ticker, str(r.first_seen), str(r.last_seen)) for r in stamped.collect()}
    assert got2 == {
        ("AAA", "2024-01-05", "2026-08-15"),
        ("BBB", "2026-08-15", "2026-08-15"),
    }
    # no date_added column: unchanged behavior
    stamped2 = lifecycle.stamp_first_last_seen(
        batch.drop("date_added"), F.lit("2026-08-15").cast("date")
    )
    assert {str(r.first_seen) for r in stamped2.collect()} == {"2026-08-15"}


def test_parse_path_helpers_edge_cases(spark):
    """Dotted tickers survive stem extraction, path dates must be whole
    components, split_ticker takes the LAST part as currency, and the
    normalized key hash always emits five fields (review r8)."""
    from fund_data_pipeline_spark import hashing
    from fund_data_pipeline_spark.parse import filename_stem_ticker, path_date, split_ticker

    df = spark.createDataFrame(
        [
            ("/land/export-2020-01-01/2024-05-05/BRK.B_history.csv", "VWRL:LSE:GBP"),
            ("/land/2024-02-02/VTSAX_history.csv", "VTSAX:USD"),
        ],
        ["path", "full_ticker"],
    )
    t, c = split_ticker("full_ticker")
    rows = df.select(
        filename_stem_ticker("path").alias("stem"),
        path_date("path").alias("dt"),
        t.alias("tick"),
        c.alias("cur"),
    ).collect()
    assert (rows[0].stem, str(rows[0].dt), rows[0].tick, rows[0].cur) == (
        "BRK.B", "2024-05-05", "VWRL", "GBP",
    )
    assert (rows[1].stem, str(rows[1].dt), rows[1].tick, rows[1].cur) == (
        "VTSAX", "2024-02-02", "VTSAX", "USD",
    )

    # X16 r9 ADVICE fix: a delimiter-less ticker has NO currency part —
    # currency must be NULL, not an echo of the ticker (the reference
    # emits no currency below 2 parts, 01_ft_list_scraper.py:177; echoing
    # would poison a default_if_null('USD') fill downstream)
    bare = spark.createDataFrame([("VTSAX",), ("VWRL:GBP",)], ["full_ticker"])
    t2, c2 = split_ticker("full_ticker")
    got = {r.t: r.c for r in bare.select(t2.alias("t"), c2.alias("c")).collect()}
    assert got == {"VTSAX": None, "VWRL": "GBP"}

    # H5: NULL ticker must not collapse the field count (concat_ws drops
    # NULLs) — the five-field shape is the collision guard
    h = spark.createDataFrame(
        [(None, "FUND", "yf", None, None)],
        "ticker string, asset_type string, source string, ex_date date, amount double",
    ).select(hashing.normalized_key_hash().alias("h"))
    import hashlib

    expected = hashlib.sha256(b"|fund|yf||").hexdigest()
    assert h.first().h == expected


def test_split_integer_total_matches_oracle_for_signed_totals(spark):
    """The integer-total floor-split must produce the oracle's exact bits
    for NEGATIVE totals too: FLOOR-style non-negative remainder, not
    Spark's sign-of-dividend %, else the two decompositions differ by
    1 ULP around ties (review r9)."""
    import duckdb

    from pyspark.sql import functions as F
    from fund_data_pipeline_spark.queries.numeric import split_integer_total

    totals = [-67, 67, -1, 0, 1, -100, -9007199254740993, 9007199254740993, -133]
    df = spark.createDataFrame([(t,) for t in totals], "t long")
    got = {
        r.t: r.v
        for r in df.select(
            "t",
            split_integer_total(F.col("t").cast("decimal(38,0)"), 100).alias("v"),
        ).collect()
    }
    for t in totals:
        # s must be a TRUE DECIMAL like the production oracles' decimal sums
        # (DuckDB's `/` on decimals yields DOUBLE, which would double-round)
        s = f"{'-' if t < 0 else ''}{abs(t) // 100}.{abs(t) % 100:02d}"
        (want,) = duckdb.sql(
            f"SELECT CAST(FLOOR(s) AS DOUBLE) + CAST(s - FLOOR(s) AS DOUBLE) "
            f"FROM (SELECT CAST('{s}' AS DECIMAL(38,2)) AS s)"
        ).fetchone()
        assert got[t].hex() == want.hex(), f"total={t}: {got[t]!r} != {want!r}"


def test_asof_join_tie_on_click_ts_is_deterministic(spark, tmp_path):
    """Two clicks at the exact as-of instant: both engines must pick the
    one with the greatest event_id (review r9 — F.last over an
    orderBy without the c_id tiebreak returned whichever tie the shuffle
    ordered last)."""
    import datetime as dt

    from fund_data_pipeline_spark.queries.advanced import asof_last_click_before_purchase

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t11 = dt.datetime(2024, 1, 1, 11, 0, 0)
    rows = [
        (100, t0, 1, "click", 5.0, "{}"),
        (101, t0, 1, "click", 7.0, "{}"),   # same ts, greater event_id wins
        (102, dt.datetime(2024, 1, 1, 9, 0, 0), 1, "click", 3.0, "{}"),
        (900, t0, 1, "purchase", 1.0, "{}"),  # inclusive as-of at equal ts
        (901, t11, 2, "purchase", 1.0, "{}"),
        # user 3: the LATEST click has a NULL value — ts and value must both
        # come from that single row (review r9: independent last(ignorenulls)
        # calls mixed fields from different rows)
        (103, dt.datetime(2024, 1, 1, 9, 0, 0), 3, "click", 4.0, "{}"),
        (104, t0, 3, "click", None, "{}"),
        (902, t11, 3, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.event_id: (r.click_ts, r.click_value)
        for r in asof_last_click_before_purchase(spark, str(tmp_path)).collect()
    }
    assert got[900] == (t0, 7.0)
    assert got[901] == (None, None)  # LEFT semantics: no prior click
    assert got[902] == (t0, None)  # same-row invariant: NULL value rides along


def test_integrity_check_script():
    """O8 parity (reference path_manager.py:259-342): the pre-flight
    integrity check passes on the current tree — every package module
    imports, every COVERAGE.md `module.py::symbol` citation resolves, and
    the driver contract holds."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    proc = subprocess.run(
        [sys.executable, str(repo / "scripts" / "check_integrity.py")],
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "0 failures" in proc.stdout


def test_dedup_min_deterministic_survivor(spark):
    """dedup_min keeps the min non-key tuple per key regardless of
    partitioning — the property dropDuplicates lacks (an arbitrary survivor
    flips the all-columns hash and re-fires the hash-guarded merge on a
    rerun that should be a no-op, review r11)."""
    rows = [("T", "USD", 1.0), ("T", "EUR", 9.0), ("T", "EUR", 2.0), ("U", "JPY", 5.0)]
    df = spark.createDataFrame(rows, ["k", "cur", "v"])
    for n in (1, 7):
        out = {r.k: (r.cur, r.v) for r in dedup.dedup_min(df.repartition(n), ["k"]).collect()}
        assert out == {"T": ("EUR", 2.0), "U": ("JPY", 5.0)}
    # caller's column order is preserved (downstream all-columns hashing is
    # column-order-sensitive)
    assert dedup.dedup_min(df, ["k"]).columns == ["k", "cur", "v"]
    with pytest.raises(ValueError, match="dedup_min"):
        dedup.dedup_min(df.withColumnRenamed("cur", "__s"), ["k"])
    # key covering every column: degenerates to plain key-dedup
    assert dedup.dedup_min(df, ["k", "cur", "v"]).count() == 4
    # NULL non-key values: survivor is still partitioning-independent
    ndf = spark.createDataFrame([("V", None, 1.0), ("V", "AAA", 2.0)], ["k", "cur", "v"])
    picks = {
        tuple(r) for n in (1, 5) for r in dedup.dedup_min(ndf.repartition(n), ["k"]).collect()
    }
    assert len(picks) == 1


def test_dedup_keyed_rejects_reserved_columns(spark):
    """An input already carrying __rn would be silently overwritten,
    filtered on the replacement, and dropped (review r9) — refuse loudly,
    same contract as merge_upsert/diff_frames."""
    df = spark.createDataFrame([("A", 1, 2)], ["k", "__rn", "v"])
    with pytest.raises(ValueError, match="reserved by dedup_keyed"):
        dedup.dedup_keyed(df, ["k"], ["v"], keep="first")


def test_dedup_keyed_keep_last_accepts_sort_order_columns(spark):
    """keep='last' with a Column that is already a SortOrder
    (F.col(...).desc()) used to nest SortOrder(SortOrder(..)) and fail
    analysis (review r9); now the caller's ordering is honored and the
    LAST row under it is kept."""
    df = spark.createDataFrame(
        [("A", "f1", 1.0), ("A", "f3", 3.0), ("A", "f2", 2.0), ("B", "f1", 9.0)],
        ["k", "origin_file", "v"],
    )
    # descending order -> last row is the SMALLEST origin_file
    out = dedup.dedup_keyed(df, ["k"], [F.col("origin_file").desc()], keep="last")
    got = {r.k: r.v for r in out.collect()}
    assert got == {"A": 1.0, "B": 9.0}
    assert set(out.columns) == {"k", "origin_file", "v"}
    # bare Column under keep='last' matches the string fast path
    out2 = dedup.dedup_keyed(df, ["k"], [F.col("origin_file")], keep="last")
    assert {r.k: r.v for r in out2.collect()} == {"A": 3.0, "B": 9.0}


def test_whitespace_class_is_cross_engine_pinned(spark, tmp_path):
    """Java's \\s includes vertical tab (U+000B); RE2's (DuckDB) does not.
    The tokenizer contract therefore spells the class out explicitly
    (operators.chunking.WS_RE) on both engines. This test feeds VT/FF/tab
    texts — which the parquet fixtures never contain — through every
    whitespace-tokenizing catalog query and requires bit-identical
    results, and pins that no registered oracle regresses to a bare \\s."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fund_data_pipeline_spark.oracle import _rows_from_pdf, canon_rows
    from fund_data_pipeline_spark.queries import QUERIES

    import re as _re
    from pathlib import Path

    from fund_data_pipeline_spark.operators.chunking import WS_RE

    # ONE canonical spelling; every hand-written copy must equal it
    # exactly (review r10: the class is spelled in ~15 places — an edit to
    # one copy, e.g. adding U+0085 to WS_RE but not to an oracle string,
    # would silently re-create the cross-engine drift this gate exists
    # to prevent)
    canon = r"[ \t\n\x0B\f\r]"
    assert WS_RE == canon + "+"
    ws_class = _re.compile(r"\[[^\]\n]*(?:\\t|\\s)[^\]\n]*\]")
    for name, spec in QUERIES.items():
        if spec.oracle is not None:
            assert "\\s" not in spec.oracle, (
                f"{name}: oracle uses bare \\s — engine-divergent on U+000B; "
                "use the explicit [ \\t\\n\\x0B\\f\\r] class (WS_RE)"
            )
            for m in ws_class.finditer(spec.oracle):
                assert m.group(0) == canon, (
                    f"{name}: whitespace class {m.group(0)!r} differs from "
                    f"the canonical {canon!r}"
                )
    pkg = Path(__file__).resolve().parents[1] / "fund_data_pipeline_spark"
    canon_escaped = canon.replace("\\", "\\\\")  # inside non-raw py strings
    for f in sorted(pkg.rglob("*.py")):
        for m in ws_class.finditer(f.read_text(encoding="utf-8")):
            assert m.group(0) in (canon, canon_escaped), (f.name, m.group(0))

    texts = ["a\x0bb c", "x\ty\fz w", "one\x0btwo\x0bone", "plain text here now"]
    t = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["web"] * len(texts), pa.string()),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    pq.write_table(t, f"{tmp_path}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    for name in (
        "token_vocabulary",
        "bpe_pair_stats",
        "token_count_regex",
        "content_defined_chunking",
        "doc_chunking",
        "length_percentile_gate",
    ):
        spec = QUERIES[name]
        s_pdf = spec.spark(spark, str(tmp_path)).toPandas()
        o_pdf = con.execute(spec.oracle).df()
        got = canon_rows(list(s_pdf.columns), _rows_from_pdf(s_pdf))
        want = canon_rows(list(o_pdf.columns), _rows_from_pdf(o_pdf))
        assert got == want, f"{name} diverges on VT/FF whitespace"
        # VT must actually split: 'a\x0bb c' has 3 tokens, so the corpus
        # tokenizes to >= 12 single-word tokens, never 'a\x0bb'
        if name == "token_vocabulary":
            toks = {r.token for r in s_pdf.itertuples()}
            assert "a" in toks and "b" in toks and "a\x0bb" not in toks


def test_fixture_schemas_match_inference(spark, sf_dir):
    """The pinned read schemas (registry.FIXTURE_SCHEMAS, r16 optimization:
    skip the per-read footer-inference job) must stay bit-identical to what
    inference produces under the session's pinned confs — otherwise the pin
    could silently drift from the fixtures (wrong nullability masks errors;
    a wrong type would change results). Covers every pinned table, including
    events' TimestampType (inferTimestampNTZ disabled session-wide)."""
    from fund_data_pipeline_spark.queries.registry import FIXTURE_SCHEMAS
    from fund_data_pipeline_spark.session import normalize_session

    normalize_session(spark)
    for name, pinned in FIXTURE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert inferred == pinned, (
            f"{name}: pinned schema drifted from inference\n"
            f"  pinned:   {pinned}\n  inferred: {inferred}"
        )
