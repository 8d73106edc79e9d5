"""End-to-end pipeline tests (SURVEY §5's rebuild test strategy).

Covers: messy-CSV fixture flows per cleaner rule, merge idempotence
(running a loader twice leaves the table unchanged), and multi-day
lifecycle transitions (first_seen frozen, last_seen advancing, 7-day
expiry, new->active promotion).
"""

from __future__ import annotations

import datetime as dt
import threading

import pytest
from pyspark.sql import functions as F

from fund_data_pipeline_spark import merge
from fund_data_pipeline_spark.pipelines import (
    daily_nav,
    dividends,
    holdings,
    master_sync,
    price_history,
    static_details,
)

D = dt.date


# --------------------------------------------------------------- daily NAV

def _nav_raw(spark, rows):
    cols = ["Ticker", "Asset_Type", "Source", "nav_price", "currency", "as_of_date", "scrape_date"]
    return spark.createDataFrame(rows, cols)


def test_daily_nav_clean_dedups_and_filters(spark):
    raw = _nav_raw(
        spark,
        [
            (" vtsax ", "FUND", "YF", "12.34", None, "2024-03-01", "2024-03-01"),
            ("VTSAX", "fund", "yf", "12.99", "USD", "2024-03-01", "2024-03-02"),  # later scrape wins
            ("BADPX", "FUND", "yf", "-1", "USD", "2024-03-01", "2024-03-01"),  # non-positive: dropped
            ("NULLD", "FUND", "yf", "5.00", "USD", "not-a-date", "2024-03-01"),  # bad date -> null key
        ],
    )
    out = daily_nav.clean(raw)
    rows = {r.ticker: r for r in out.collect()}
    assert set(rows) == {"VTSAX"}
    assert float(rows["VTSAX"].nav_price) == 12.99  # keep-last by scrape_date (D2)
    assert rows["VTSAX"].currency == "USD"
    assert rows["VTSAX"].source == "yahoo_finance"  # source typo map


def test_daily_nav_validation_reasons(spark):
    today = F.lit("2024-03-05").cast("date")
    cleaned = spark.createDataFrame(
        [
            ("A", "FUND", "yf", 10.0, "USD", D(2024, 3, 1)),
            ("B", "FUND", "yf", None, "USD", D(2024, 3, 1)),  # Missing Data
            ("C", "FUND", "yf", 10.0, "USD", D(2024, 3, 9)),  # Future Date
        ],
        ["ticker", "asset_type", "source", "nav_price", "currency", "as_of_date"],
    )
    valid, invalid = daily_nav.validate_split(cleaned, today)
    assert [r.ticker for r in valid.collect()] == ["A"]
    reasons = {r.ticker: r.error_reason for r in invalid.collect()}
    assert reasons == {"B": "Missing Data", "C": "Future Date"}


def test_daily_nav_merge_idempotent(spark, tmp_path):
    target = str(tmp_path / "stg_daily_nav")
    raw = _nav_raw(spark, [("AAA", "FUND", "yf", "10.0", "USD", "2024-03-01", "2024-03-01")])
    batch = daily_nav.prepare_load(daily_nav.clean(raw))
    s1 = merge.merge_upsert(spark, target, batch, ["ticker", "asset_type", "source", "as_of_date"])
    assert s1.inserted == 1
    first = spark.read.parquet(target).collect()

    # identical re-run: hash guard elides the update, updated_at untouched
    s2 = merge.merge_upsert(spark, target, batch, ["ticker", "asset_type", "source", "as_of_date"])
    assert (s2.inserted, s2.updated, s2.unchanged) == (0, 0, 1)
    assert spark.read.parquet(target).collect() == first

    # changed price: exactly one update
    raw2 = _nav_raw(spark, [("AAA", "FUND", "yf", "11.0", "USD", "2024-03-01", "2024-03-02")])
    batch2 = daily_nav.prepare_load(daily_nav.clean(raw2))
    s3 = merge.merge_upsert(spark, target, batch2, ["ticker", "asset_type", "source", "as_of_date"])
    assert (s3.inserted, s3.updated) == (0, 1)
    assert str(spark.read.parquet(target).first().nav_price) == "11.0000"

    # daily_nav.run counts its quarantine from the merge's own write: a batch
    # with none invalid, an all-invalid batch and a header-only feed
    landing = tmp_path / "landing"
    landing.mkdir()
    header = "Ticker,Asset_Type,Source,nav_price,currency,as_of_date,scrape_date\n"
    today = F.lit("2024-03-05").cast("date")
    for body, expected in (
        ("AAA,FUND,yf,12.0,USD,2024-03-01,2024-03-03\n", (0, 1, 0, 0)),
        ("AAA,FUND,yf,13.0,USD,2024-03-09,2024-03-03\nBBB,FUND,,9.0,USD,2024-03-01,2024-03-03\n",
         (0, 0, 1, 2)),  # Future Date, Missing Data
        ("", (0, 0, 1, 0)),
    ):
        (landing / "nav.csv").write_text(header + body)
        stats, quarantined = daily_nav.run(spark, [str(landing)], target, today)
        assert (stats.inserted, stats.updated, stats.unchanged, quarantined) == expected
    assert str(spark.read.parquet(target).first().nav_price) == "12.0000"


def test_latest_nav_per_fund(spark):
    nav = spark.createDataFrame(
        [
            ("A", "FUND", "yf", 10.0, D(2024, 3, 1)),
            ("A", "FUND", "yf", 11.0, D(2024, 3, 4)),
            ("B", "ETF", "ft", 7.0, D(2024, 2, 1)),
        ],
        ["ticker", "asset_type", "source", "nav_price", "as_of_date"],
    )
    out = {r.ticker: r for r in daily_nav.latest_nav_per_fund(nav).collect()}
    assert out["A"].nav_price == 11.0 and out["A"].as_of_date == D(2024, 3, 4)
    assert out["B"].nav_price == 7.0


# -------------------------------------------------------------- master sync

def test_master_sync_full_flow_and_lifecycle(spark, tmp_path):
    target = str(tmp_path / "stg_security_master")
    day1 = F.lit("2024-03-01").cast("date")

    scrape_ddl = "Symbol string, asset_type string, `Fund Name` string, status string, source string, date_added string"
    ft = spark.createDataFrame(
        [("vtsax", "Mutual Fund", "Vanguard Total", None, "ft", "2024-03-01"),
         ("vtsax", "Mutual Fund", "dupe in-source", None, "ft", "2024-03-01"),
         ("", "FUND", "Blank ticker", None, "ft", "2024-03-01")],
        scrape_ddl,
    )
    yf = spark.createDataFrame(
        [("SPY", "ETF", None, "active", "yf", "2024-03-01")],
        "ticker string, asset_type string, name string, status string, source string, date_added string",
    )

    stats, quarantined = master_sync.run(spark, [ft, yf], target, as_of=day1, today=day1)
    # blank-ticker row quarantined, in-source dupe collapsed
    assert (stats.inserted, stats.updated, stats.unchanged, quarantined) == (2, 0, 0, 1)
    consolidated = master_sync.consolidate([master_sync.clean(ft), master_sync.clean(yf)])
    _, invalid = master_sync.validate_split(consolidated)
    assert [r.validation_issues for r in invalid.collect()] == ["Missing Ticker"]

    t = {(r.ticker, r.source): r for r in spark.read.parquet(target).collect()}
    vt = t[("VTSAX", "financial_times")]
    assert vt.asset_type == "FUND"  # MUTUAL FUND -> FUND
    assert vt.status == "active"  # new + real name -> promoted (L4)
    assert vt.first_seen == D(2024, 3, 1)
    spy = t[("SPY", "yahoo_finance")]
    assert spy.status == "active"

    # day 10: only SPY re-delivered; VTSAX ages out (7-day grace, L3)
    day10 = F.lit("2024-03-10").cast("date")
    yf2 = spark.createDataFrame(
        [("SPY", "ETF", "SPDR S&P 500", "active", "yf", "2024-03-10")],
        ["ticker", "asset_type", "name", "status", "source", "date_added"],
    )
    stats, quarantined = master_sync.run(spark, [yf2], target, as_of=day10, today=day10)
    assert (stats.inserted, stats.updated, stats.unchanged, quarantined) == (0, 1, 1, 0)
    t2 = {(r.ticker, r.source): r for r in spark.read.parquet(target).collect()}
    assert t2[("VTSAX", "financial_times")].status == "inactive"
    assert t2[("VTSAX", "financial_times")].first_seen == D(2024, 3, 1)  # frozen (L1)
    assert t2[("VTSAX", "financial_times")].last_seen == D(2024, 3, 1)
    spy2 = t2[("SPY", "yahoo_finance")]
    assert spy2.status == "active"
    assert spy2.first_seen == D(2024, 3, 1)  # preserved across update
    assert spy2.last_seen == D(2024, 3, 10)  # refreshed (K5)
    assert spy2.name == "SPDR S&P 500"  # unconditional update took the new name

    # the write's own observation counts the quarantine at the edges too:
    # an all-invalid batch and an empty source frame leave nothing valid to
    # join to the existing table, and an empty frame creates an empty one
    ddl = "ticker string, asset_type string, name string, status string, source string, date_added string"
    all_invalid = spark.createDataFrame(
        [("", "FUND", "Blank ticker", None, "ft", "2024-03-10"),
         ("QQQ", "BOND", "Bad asset type", None, "yf", "2024-03-10")],
        ddl,
    )
    empty = spark.createDataFrame([], ddl)
    for path, src, expected in (
        (target, all_invalid, (0, 0, 2, 2)),
        (target, empty, (0, 0, 2, 0)),
        (str(tmp_path / "fresh"), empty, (0, 0, 0, 0)),
    ):
        stats, quarantined = master_sync.run(spark, [src], path, as_of=day10, today=day10)
        assert (stats.inserted, stats.updated, stats.unchanged, quarantined) == expected
    assert {(r.ticker, r.status) for r in spark.read.parquet(target).collect()} == {
        ("VTSAX", "inactive"), ("SPY", "active"),
    }


def test_master_sync_swaps_its_table_once_per_run(spark, tmp_path, monkeypatch):
    """The status transitions ride the load's one write: each master_sync
    run moves its table into place with exactly one swap, on the create
    path and against an existing table, so no crash can leave merged rows
    whose statuses were never transitioned."""
    swapped = []
    swap_in = merge._swap_in

    def counting(staged, live):
        swapped.append(live)
        swap_in(staged, live)

    monkeypatch.setattr(merge, "_swap_in", counting)
    target = str(tmp_path / "stg_security_master")
    ddl = "ticker string, asset_type string, name string, status string, source string, date_added string"
    for day, rows in (
        ("2024-03-01", [("SPY", "ETF", None, None, "yf", "2024-03-01")]),
        ("2024-03-02", [("SPY", "ETF", "SPDR S&P 500", None, "yf", "2024-03-01")]),
    ):
        swapped.clear()
        as_of = F.lit(day).cast("date")
        master_sync.run(spark, [spark.createDataFrame(rows, ddl)], target, as_of=as_of, today=as_of)
        assert [str(p) for p in swapped] == [target]
    assert spark.read.parquet(target).first().status == "active"  # L4 in the one write


# ------------------------------------------------------------ price history

def test_price_history_from_landing_files(spark, tmp_path):
    land = tmp_path / "landing" / "etf" / "2024-03-01"
    land.mkdir(parents=True)
    (land / "SPY_history.csv").write_text(
        "Date,Open,High,Low,Close,Adj Close,Volume\n"
        "2024-02-28,100,101,99,100.5,100.4,\"1,000\"\n"
        "bad-date,1,1,1,1,1,1\n"
    )
    (land / "QQQ_history.csv").write_text(
        "Date,Open,High,Low,Close,Adj Close,Volume\n2024-02-28,300,301,299,300.5,300.4,2000\n"
    )
    (land / "error_log.csv").write_text("Date,Close\n2024-02-28,1\n")  # S7: skipped

    target = str(tmp_path / "stg_price_history")
    stats = price_history.run(spark, str(tmp_path / "landing"), target)
    assert stats.inserted == 2  # bad-date row dropped, error file skipped

    t = {r.ticker: r for r in spark.read.parquet(target).collect()}
    assert set(t) == {"SPY", "QQQ"}
    assert t["SPY"].asset_type == "ETF"  # from path (S2)
    assert t["SPY"].volume == 1000  # thousands separator via try_cast? no: raw "1,000"
    assert t["SPY"].row_hash is not None and len(t["SPY"].row_hash) == 64  # sha256 (H3)

    # idempotent re-run
    s2 = price_history.run(spark, str(tmp_path / "landing"), target)
    assert (s2.inserted, s2.updated, s2.unchanged) == (0, 0, 2)


def test_price_history_dedup_key_uses_coerced_date(spark):
    """Review r13: the keep-last dedup ran on the RAW date string while
    conform coerced it only afterwards — '2024-02-28' and
    '2024-02-28T00:00:00' survived as distinct keys, and whichever the
    merge's default order later kept won instead of the latest origin_file.
    The date is coerced BEFORE the dedup now, so the later file's close
    must survive regardless of spelling."""
    rows = [
        ("SPY", "ETF", "2024-02-28", 100.5, "a_older.csv"),
        ("SPY", "ETF", "2024-02-28T00:00:00", 777.0, "b_newer.csv"),
    ]
    raw = spark.createDataFrame(rows, ["ticker", "asset_type", "Date", "Close", "origin_file"])
    out = price_history.clean(raw).collect()
    assert len(out) == 1
    assert out[0].date == D(2024, 2, 28)
    assert float(out[0].close) == 777.0  # keep-last by origin_file


def test_daily_nav_scrape_date_tiebreak_orders_as_date(spark):
    """Review r13: scrape_date passed through the clean projection as its
    raw STRING and the keep-last dedup ordered on it lexicographically —
    '2024-9-5' > '2024-10-01', so the OLDER September scrape beat the
    October one. It is coerced to DATE before the dedup now."""
    raw = _nav_raw(
        spark,
        [
            ("VTSAX", "FUND", "yf", "11.11", "USD", "2024-10-05", "2024-9-5"),
            ("VTSAX", "FUND", "yf", "22.22", "USD", "2024-10-05", "2024-10-01"),
        ],
    )
    rows = daily_nav.clean(raw).collect()
    assert len(rows) == 1
    assert float(rows[0].nav_price) == 22.22  # the genuinely-later scrape wins


# ---------------------------------------------------------------- dividends

def test_dividends_clean_and_merge(spark, tmp_path):
    raw = spark.createDataFrame(
        [
            ("VTSAX", "FUND", "2024-01-10", "2024-01-15", "0.35", None),
            ("VTSAX", "FUND", "2024-01-10", "2024-01-15", "0.35", None),  # D5 dupe
            ("VTSAX", "FUND", None, "2024-01-15", "0.35", "Cash"),  # null ex_date dropped
        ],
        ["ticker", "asset_type", "Ex_Dividend_Date", "Pay_Date", "Cash_Amount", "type"],
    )
    cleaned = dividends.clean(raw)
    assert cleaned.count() == 1
    row = dividends.hash_batch(cleaned).first()
    assert row.type == "Cash" and row.payment_date == D(2024, 1, 15)
    assert len(row.row_hash) == 64  # H4

    target = str(tmp_path / "stg_dividend_history")
    key = ["ticker", "asset_type", "source", "ex_date", "payment_date", "amount", "type"]
    s1 = merge.merge_upsert(spark, target, dividends.hash_batch(cleaned), key)
    s2 = merge.merge_upsert(spark, target, dividends.hash_batch(cleaned), key)
    assert s1.inserted == 1 and s2.unchanged == 1 and s2.updated == 0


# ------------------------------------------------------------ static details

DETAIL_TABLES = ("stg_fund_info", "stg_fund_fees", "stg_fund_risk", "stg_fund_policy")


def _details_raw(spark):
    return spark.createDataFrame(
        [
            ("vtsax", "FUND", "yf", "Vanguard", "842.33m USD", "0.04%", "45", "1,234",
             "150.5", "2550.0", "12,345", "2500.0", "9999", "2024-03-01"),
        ],
        ["Symbol", "asset_type", "source", "Fund Name", "assets_aum", "expense_ratio",
         "initial_charge", "holdings_count", "total_return_1y", "standard_dev_3y",
         "shares_out", "moving_avg_200", "sharpe_ratio_3y", "as_of_date"],
    )


def _merges_meet_at(monkeypatch, parties: int) -> None:
    """Make every ``merge_upsert`` wait until ``parties`` merges are in
    flight at once: run one after another, the first wait times out and
    breaks the barrier."""
    barrier = threading.Barrier(parties, timeout=30)
    orig = merge.merge_upsert

    def meet(*args, **kwargs):
        barrier.wait()
        return orig(*args, **kwargs)

    monkeypatch.setattr(merge, "merge_upsert", meet)


def test_static_details_parsers_and_four_tables(spark, tmp_path):
    raw = _details_raw(spark)
    stats = static_details.run(spark, raw, str(tmp_path))
    assert set(stats) == set(DETAIL_TABLES)
    assert all(s.inserted == 1 for s in stats.values())

    info = spark.read.parquet(str(tmp_path / "stg_fund_info")).first()
    assert float(info.shares_out) == pytest.approx(12_345.0)  # X5 thousands
    fees = spark.read.parquet(str(tmp_path / "stg_fund_fees")).first()
    assert float(fees.assets_aum) == pytest.approx(842_330_000.0)  # X6 magnitude
    assert float(fees.expense_ratio) == pytest.approx(0.04)  # X4, <=1 passthrough
    assert float(fees.initial_charge) == pytest.approx(0.45)  # X7 /100 rescale
    assert fees.holdings_count == 1234  # X5 thousands
    risk = spark.read.parquet(str(tmp_path / "stg_fund_risk")).first()
    assert float(risk.standard_dev_3y) == pytest.approx(25.50)  # X8 /100 repair
    assert float(risk.moving_avg_200) == pytest.approx(2500.0)  # exempt from outlier null
    assert risk.sharpe_ratio_3y is None  # F9 |x|<1000 null
    policy = spark.read.parquet(str(tmp_path / "stg_fund_policy")).first()
    assert float(policy.total_return_1y) == pytest.approx(150.5)  # under overflow limit

    # re-run: all four merges elide (H6 + H8)
    stats2 = static_details.run(spark, raw, str(tmp_path))
    assert all(s.updated == 0 and s.inserted == 0 for s in stats2.values())


def test_static_details_four_merges_run_concurrently(spark, tmp_path, monkeypatch):
    _merges_meet_at(monkeypatch, 4)
    stats = static_details.run(spark, _details_raw(spark), str(tmp_path))
    assert set(stats) == set(DETAIL_TABLES)
    assert all(s.inserted == 1 for s in stats.values())


def test_static_details_failed_merge_raises_after_siblings_land(spark, tmp_path, monkeypatch):
    """One table's merge fails: ``run`` re-raises that error, but only once
    the other three merges have finished and written their tables, so a
    clean re-run finds them already loaded."""
    orig = merge.merge_upsert

    def info_fails(spark_, path, *args, **kwargs):
        if path.endswith("/stg_fund_info"):
            raise RuntimeError("info merge exploded")
        return orig(spark_, path, *args, **kwargs)

    monkeypatch.setattr(merge, "merge_upsert", info_fails)
    raw = _details_raw(spark)
    with pytest.raises(RuntimeError, match="info merge exploded"):
        static_details.run(spark, raw, str(tmp_path))
    others = DETAIL_TABLES[1:]
    assert not (tmp_path / "stg_fund_info").exists()
    for t in others:
        assert (tmp_path / t).is_dir(), t

    monkeypatch.setattr(merge, "merge_upsert", orig)
    stats = static_details.run(spark, raw, str(tmp_path))
    assert stats["stg_fund_info"].inserted == 1
    assert all(stats[t].inserted == 0 and stats[t].updated == 0 for t in others)


# ------------------------------------------------------------------ holdings

def _holdings_raw(spark):
    hraw = spark.createDataFrame(
        [
            ("VTSAX", "FUND", "ft", "Apple Inc", "AAPL", "+5.2%", "2024-03-01"),
            ("VTSAX", "FUND", "ft", "Per cent of Portfolio in Top 10", None, "35%", "2024-03-01"),  # F7
            ("VTSAX", "FUND", "ft", "Weird Corp", "X" * 25, "1.0", "2024-03-01"),  # F10 guard
        ],
        ["ticker", "asset_type", "source", "Item_Name", "holding_ticker", "Value_Net", "as_of_date"],
    )
    araw = spark.createDataFrame(
        [("VTSAX", "FUND", "ft", "Technology", "45.5%", "2024-03-01")],
        ["ticker", "asset_type", "source", "item_name", "value_net", "as_of_date"],
    )
    return hraw, araw


def test_holdings_and_allocations(spark, tmp_path):
    hraw, araw = _holdings_raw(spark)
    stats = holdings.run(spark, hraw, {"sector": araw}, str(tmp_path))
    assert stats["stg_fund_holdings"].inserted == 2  # summary row dropped
    assert stats["stg_allocations"].inserted == 1

    h = {r.holding_name: r for r in spark.read.parquet(str(tmp_path / "stg_fund_holdings")).collect()}
    assert float(h["Apple Inc"].holding_percentage) == pytest.approx(5.2)
    assert h["Weird Corp"].holding_ticker is None  # length guard nulled

    a = spark.read.parquet(str(tmp_path / "stg_allocations")).first()
    assert a.allocation_type == "sector" and float(a.value_net) == pytest.approx(45.5)


def test_holdings_two_merges_run_concurrently(spark, tmp_path, monkeypatch):
    _merges_meet_at(monkeypatch, 2)
    hraw, araw = _holdings_raw(spark)
    stats = holdings.run(spark, hraw, {"sector": araw}, str(tmp_path))
    assert stats["stg_fund_holdings"].inserted == 2
    assert stats["stg_allocations"].inserted == 1


# --------------------------------------------------------------- maintenance

def test_retention_and_snapshot(spark, tmp_path):
    from fund_data_pipeline_spark import maintenance

    root = str(tmp_path / "archive")
    df = spark.createDataFrame([(1,)], "v int")
    for d in ("2024-01-01", "2024-02-25", "2024-03-01"):
        maintenance.snapshot(df, root, d)
    dropped = maintenance.purge_expired_partitions(root, today=dt.date(2024, 3, 2))
    assert dropped == ["dt=2024-01-01"]  # 60-day cutoff (K8)
    assert spark.read.parquet(root).count() == 2  # surviving partitions intact

    only = maintenance.keep_only_latest(root)
    assert only == ["dt=2024-02-25"]
    assert spark.read.parquet(root).count() == 1


# ---------------------------------------------------------- streaming loader

def test_nav_stream_incremental_loads(spark, tmp_path):
    from fund_data_pipeline_spark.streaming.nav_stream import start_nav_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "stg_daily_nav")
    ckpt = str(tmp_path / "ckpt")
    header = "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n"

    (landing / "day1.csv").write_text(header + "AAA,FUND,yf,10.0,USD,2024-03-01,2024-03-01\n")
    start_nav_stream(spark, str(landing), target, ckpt).awaitTermination()
    assert spark.read.parquet(target).count() == 1

    # drop a new file: only the delta is processed (checkpoint skips day1),
    # and the keyed merge upserts the revised price + the new ticker
    (landing / "day2.csv").write_text(
        header
        + "AAA,FUND,yf,11.5,USD,2024-03-01,2024-03-02\n"
        + "BBB,ETF,yf,20.0,USD,2024-03-01,2024-03-02\n"
    )
    start_nav_stream(spark, str(landing), target, ckpt).awaitTermination()
    t = {r.ticker: r for r in spark.read.parquet(target).collect()}
    assert len(t) == 2
    assert float(t["AAA"].nav_price) == 11.5
    assert float(t["BBB"].nav_price) == 20.0

    # re-drain with nothing new: table unchanged (idempotent effect)
    before = sorted(map(tuple, spark.read.parquet(target).collect()))
    start_nav_stream(spark, str(landing), target, ckpt).awaitTermination()
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == before


def test_jsonl_landing_scan(spark, tmp_path):
    from fund_data_pipeline_spark.sources.csv_landing import read_landing_jsonl

    d = tmp_path / "jl" / "2024-03-01"
    d.mkdir(parents=True)
    (d / "a.jsonl").write_text('{"ticker": "AAA", "nav": 1.5}\n{"ticker": "BBB", "nav": 2.0}\nnot-json\n')
    out = read_landing_jsonl(spark, [str(tmp_path / "jl")])
    rows = out.collect()
    assert len(rows) == 3  # malformed line kept as _corrupt_record, not a crash
    good = [r for r in rows if r.ticker is not None]
    assert {r.ticker for r in good} == {"AAA", "BBB"}
    assert all("a.jsonl" in r.origin_file for r in rows)


def test_landing_scan_skips_plural_sentinels(spark, tmp_path):
    """The r11 contract ('an errors.jsonl dropped next to the data files must
    be skipped') was not met by token-exact matching against ('error',
    'log'): the token of errors.jsonl is 'errors'. The plural forms are now
    in the default part list; real tickers (GLOG) still survive (review
    r13)."""
    from fund_data_pipeline_spark.sources.csv_landing import (
        read_landing_csvs,
        read_landing_jsonl,
    )

    d = tmp_path / "land"
    d.mkdir()
    (d / "GLOG_history.csv").write_text("ticker,nav\nGLOG,1.5\n")
    (d / "errors.csv").write_text("ticker,nav\nBAD,9.9\n")
    (d / "logs.csv").write_text("ticker,nav\nBAD,9.9\n")
    rows = read_landing_csvs(spark, [str(d)]).collect()
    assert {r.ticker for r in rows} == {"GLOG"}

    (d / "a.jsonl").write_text('{"ticker": "AAA"}\n')
    (d / "errors.jsonl").write_text('{"ticker": "BAD"}\n')
    jrows = read_landing_jsonl(spark, [str(d)]).collect()
    assert {r.ticker for r in jrows} == {"AAA"}


def test_compact_partition(spark, tmp_path):
    from fund_data_pipeline_spark import maintenance

    path = str(tmp_path / "t")
    # simulate micro-batch accretion: 20 tiny appends -> >=20 files
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    import pathlib
    n_before = len(list(pathlib.Path(path).rglob("*.parquet")))
    assert n_before >= 20
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    n_files = maintenance.compact_partition(spark, path)
    assert n_files == 1  # tiny table -> single target-sized file
    assert len(list(pathlib.Path(path).rglob("*.parquet"))) == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before


# --------------------------------------------------------------- repair feed


def test_repair_feed_merges_repaired_rows(spark, tmp_path):
    from fund_data_pipeline_spark.pipelines import repair

    target = str(tmp_path / "nav_results")
    log = str(tmp_path / "repair_log")
    rows = [
        ("AAA", 10.0, "Success"),
        ("BBB", None, "Error"),
        ("CCC", 0.0, "Failed"),
        ("DDD", None, None),  # no verdict at all -> must be retried
    ]
    day = spark.createDataFrame(rows, "ticker string, nav_price double, status string")
    day = day.withColumn("row_hash", F.md5(F.concat_ws("|", "ticker", F.col("nav_price").cast("string"))))
    merge.merge_upsert(spark, target, day, keys=["ticker"])

    # corrected feed knows BBB and CCC; DDD stays unrepairable
    fixes = spark.createDataFrame([("BBB", 20.0), ("CCC", 30.0)], "ticker string, nav_price double")

    def reprocess(failed):
        fixed = failed.select("ticker").join(fixes, "ticker")
        return fixed.withColumn(
            "row_hash", F.md5(F.concat_ws("|", "ticker", F.col("nav_price").cast("string")))
        )

    stats = repair.repair_feed(
        spark, target, reprocess, keys=["ticker"], repair_log_path=log
    )
    assert (stats.n_failed, stats.n_repaired) == (3, 2)
    assert (stats.merge.inserted, stats.merge.updated, stats.merge.unchanged) == (0, 2, 2)

    after = {r.ticker: r for r in spark.read.parquet(target).collect()}
    assert after["AAA"].status == "Success" and after["AAA"].nav_price == 10.0
    assert after["BBB"].status == "Repaired" and after["BBB"].nav_price == 20.0
    assert after["CCC"].status == "Repaired" and after["CCC"].nav_price == 30.0
    assert after["DDD"].status is None and after["DDD"].nav_price is None  # untouched

    logged = {r.ticker: r for r in spark.read.parquet(log).collect()}
    assert set(logged) == {"BBB", "CCC"} and all(r.status == "Repaired" for r in logged.values())

    # perfect-run path: repairing again finds the 1 still-unverdicted row,
    # reprocess can't fix it, merge is a no-op on values
    stats2 = repair.repair_feed(spark, target, reprocess, keys=["ticker"])
    assert (stats2.n_failed, stats2.n_repaired) == (1, 0)


def test_failed_subset_fallback_predicate(spark):
    from fund_data_pipeline_spark.pipelines import repair

    df = spark.createDataFrame(
        [("AAA", 10.0), ("BBB", None), ("CCC", 0.0)], "ticker string, nav_price double"
    )
    # no status column: the reference's null-or-zero nav fallback (:49-50)
    failed = repair.failed_subset(
        df, fallback_predicate=F.col("nav_price").isNull() | (F.col("nav_price") == 0)
    )
    assert {r.ticker for r in failed.collect()} == {"BBB", "CCC"}
    with pytest.raises(ValueError):
        repair.failed_subset(df.select("ticker"))


def test_daily_nav_run_repair_fixes_bad_nav(spark, tmp_path):
    target = str(tmp_path / "stg_daily_nav")
    # a loaded table where one row slipped through with no usable NAV (the
    # clean() positive-filter guards the main flow; repair exists for tables
    # that already contain such rows — the reference's exact scenario)
    conformed = spark.createDataFrame(
        [
            ("AAA", "FUND", "yfinance", 10.0, "USD", dt.date(2024, 3, 1)),
            ("BBB", "FUND", "yfinance", None, "USD", dt.date(2024, 3, 1)),
        ],
        "ticker string, asset_type string, source string, nav_price double, "
        "currency string, as_of_date date",
    ).withColumn("nav_price", F.col("nav_price").cast("decimal(18,4)"))
    batch = daily_nav.prepare_load(conformed)
    DAILY_NAV_KEY = ["ticker", "asset_type", "source", "as_of_date"]
    merge.merge_upsert(spark, target, batch, DAILY_NAV_KEY)

    def reprocess(failed):
        return failed.withColumn("nav_price", F.lit(12.5).cast("decimal(18,4)"))

    stats = daily_nav.run_repair(spark, target, reprocess, repair_log_path=str(tmp_path / "log"))
    assert (stats.n_failed, stats.n_repaired) == (1, 1)
    after = {r.ticker: r for r in spark.read.parquet(target).collect()}
    assert str(after["BBB"].nav_price) == "12.5000"
    assert str(after["AAA"].nav_price) == "10.0000"  # untouched
    logged = spark.read.parquet(str(tmp_path / "log")).collect()
    assert len(logged) == 1 and logged[0].status == "Repaired"


def test_nav_stream_with_incremental_rollup(spark, tmp_path):
    """Streaming loader + continuous aggregate: each micro-batch merges into
    the date-partitioned NAV table and refreshes the rollup for exactly the
    dates it touched; the rollup always equals the full recompute, and a
    date no batch touched keeps its rollup files byte-identical."""
    from pyspark.sql import functions as F

    from fund_data_pipeline_spark.rollup import read_rollup, rollup_frame
    from fund_data_pipeline_spark.streaming.nav_stream import start_nav_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "stg_daily_nav")
    rollup = tmp_path / "nav_rollup"
    ckpt = str(tmp_path / "ckpt")
    header = "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n"
    measures = {"n_quotes": F.count(F.lit(1)), "n_tickers": F.countDistinct("ticker")}

    def drain():
        start_nav_stream(
            spark,
            str(landing),
            target,
            ckpt,
            rollup_path=str(rollup),
            rollup_group_cols=("source",),
            rollup_measures=measures,
        ).awaitTermination()

    (landing / "day1.csv").write_text(
        header
        + "AAA,FUND,yf,10.0,USD,2024-03-01,2024-03-01\n"
        + "BBB,ETF,yf,20.0,USD,2024-03-02,2024-03-02\n"
    )
    drain()

    def full_recompute():
        base = spark.read.parquet(target)
        return sorted(
            tuple(r)
            for r in rollup_frame(base, "as_of_date", ["source"], measures).collect()
        )

    def rollup_rows():
        cols = ["as_of_date", "source", "n_quotes", "n_tickers"]
        return sorted(tuple(r) for r in read_rollup(spark, str(rollup)).select(cols).collect())

    expect_cols = ["as_of_date", "source", "n_quotes", "n_tickers"]
    base = spark.read.parquet(target)
    expect = rollup_frame(base, "as_of_date", ["source"], measures).select(expect_cols)
    assert rollup_rows() == sorted(tuple(r) for r in expect.collect())

    d2_files = {
        (str(p), p.stat().st_mtime_ns)
        for p in (rollup / "as_of_date=2024-03-02").rglob("*.parquet")
    }
    assert d2_files

    # a later batch touches only 2024-03-01: day-2's rollup files stay put
    (landing / "day1b.csv").write_text(
        header + "CCC,FUND,ft,30.0,USD,2024-03-01,2024-03-03\n"
    )
    drain()
    base = spark.read.parquet(target)
    expect = rollup_frame(base, "as_of_date", ["source"], measures).select(expect_cols)
    assert rollup_rows() == sorted(tuple(r) for r in expect.collect())
    assert {
        (str(p), p.stat().st_mtime_ns)
        for p in (rollup / "as_of_date=2024-03-02").rglob("*.parquet")
    } == d2_files
    got = {
        (r.as_of_date, r.source): r.n_quotes
        for r in read_rollup(spark, str(rollup)).collect()
    }
    # conform maps the landing synonyms ft/yf to canonical source names
    assert got[("2024-03-01", "financial_times")] == 1
    assert got[("2024-03-01", "yahoo_finance")] == 1

    # one micro-batch spanning 70 dates (a backfill) refreshes every one of
    # them in a single call; day-2 stays untouched
    wide = [str(dt.date(2024, 4, 1) + dt.timedelta(days=i)) for i in range(70)]
    (landing / "backfill.csv").write_text(
        header
        + "".join(f"DDD,ETF,yf,{40 + i}.0,USD,{d},{d}\n" for i, d in enumerate(wide))
        + "EEE,FUND,ft,50.0,USD,2024-03-01,2024-03-04\n"
    )
    drain()
    base = spark.read.parquet(target)
    expect = rollup_frame(base, "as_of_date", ["source"], measures).select(expect_cols)
    assert rollup_rows() == sorted(tuple(r) for r in expect.collect())
    assert {r[0] for r in rollup_rows()} >= set(wide)
    assert {
        (str(p), p.stat().st_mtime_ns)
        for p in (rollup / "as_of_date=2024-03-02").rglob("*.parquet")
    } == d2_files


def test_nav_stream_stale_redelivery_does_not_clobber(spark, tmp_path):
    """A re-delivered OLD file drained in a LATER micro-batch must not
    overwrite newer rows: the cross-batch scrape_date guard drops stale
    incoming rows before the hash-guarded merge (review r8)."""
    from fund_data_pipeline_spark.streaming.nav_stream import start_nav_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "stg_daily_nav")
    ckpt = str(tmp_path / "ckpt")
    errors = str(tmp_path / "errors")
    header = "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n"

    (landing / "new.csv").write_text(header + "AAA,FUND,yf,101.0,USD,2024-01-04,2024-01-05\n")
    start_nav_stream(spark, str(landing), target, ckpt, errors_path=errors).awaitTermination()

    # the scraper re-delivers an OLDER file for the same key
    (landing / "old_redelivered.csv").write_text(
        header + "AAA,FUND,yf,99.0,USD,2024-01-04,2024-01-02\n"
    )
    start_nav_stream(spark, str(landing), target, ckpt, errors_path=errors).awaitTermination()
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1 and float(rows[0].nav_price) == 101.0  # newer value survives

    # quarantine side channel: a future-dated row lands in errors_path
    (landing / "future.csv").write_text(
        header + "BBB,FUND,yf,50.0,USD,2099-01-01,2024-01-06\n"
    )
    start_nav_stream(spark, str(landing), target, ckpt, errors_path=errors).awaitTermination()
    quarantined = spark.read.parquet(errors).collect()
    assert any(r.ticker == "BBB" for r in quarantined)
    assert all(r.ticker != "BBB" for r in spark.read.parquet(target).collect())

    # Replay idempotence (review r9): drop the newest checkpoint commit so
    # Structured Streaming re-executes the SAME micro-batch (same batch_id)
    # on restart — the foreachBatch retry path. The quarantine write is
    # per-batch_id overwrite, so the replayed batch must replace its own
    # rows, not append duplicates.
    import os

    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # local ChecksumFs twin must go too
        os.remove(crc)
    before = sum(1 for r in quarantined if r.ticker == "BBB")
    start_nav_stream(spark, str(landing), target, ckpt, errors_path=errors).awaitTermination()
    after = sum(1 for r in spark.read.parquet(errors).collect() if r.ticker == "BBB")
    assert before == after == 1
    assert len(spark.read.parquet(target).collect()) == 1  # merge replay idempotent too


def test_master_sync_keeps_cross_source_rows_from_combined_frame(spark, tmp_path):
    """One combined frame spanning two sources (the orchestrator's single
    landing-dir scan) must keep BOTH sources' rows for the same ticker:
    SECURITY_MASTER_KEY includes source (review r8: the old
    (ticker, asset_type) clean dedup collapsed cross-source rows)."""
    from fund_data_pipeline_spark.pipelines import master_sync

    combined = spark.createDataFrame(
        [
            ("VTSAX", "FUND", "Vanguard Total", "active", "ft", "2024-01-01"),
            ("VTSAX", "FUND", "Vanguard Total", "active", "yf", "2024-01-01"),
            ("VTSAX", "FUND", "Vanguard Total DUP", "active", "yf", "2024-01-01"),
        ],
        "ticker string, asset_type string, name string, status string, source string, date_added string",
    )
    stats, quarantined = master_sync.run(spark, [combined], str(tmp_path / "master"))
    rows = spark.read.parquet(str(tmp_path / "master")).collect()
    sources = sorted(r.source for r in rows)
    assert sources == ["financial_times", "yahoo_finance"]  # both survive
    assert (stats.inserted, quarantined) == (2, 0)


def test_nav_stream_replay_clears_shrunken_quarantine(spark, tmp_path):
    """A replayed micro-batch whose error set SHRANK (e.g. wall-clock
    validation now passes a previously future-dated row) must clear the
    stale quarantine rows: the per-batch_id write is unconditional
    overwrite, not skipped-when-empty (review r9)."""
    from fund_data_pipeline_spark.streaming.nav_stream import start_nav_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "stg_daily_nav")
    ckpt = str(tmp_path / "ckpt")
    errors = tmp_path / "errors"
    header = "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n"

    # simulate a prior attempt of batch 0 that quarantined a row (write
    # landed, merge crashed before the checkpoint commit) — fresh
    # checkpoint means the next drain re-runs as batch_id=0
    stale = spark.createDataFrame(
        [("BBB", "FUND", "yahoo_finance", None, "USD", None, None, "Future Date")],
        "ticker string, asset_type string, source string, nav_price decimal(18,4), "
        "currency string, as_of_date date, scrape_date date, reason string",
    )
    stale.write.parquet(str(errors / "batch_id=0"))
    assert list((errors / "batch_id=0").glob("*.parquet"))

    # the replay's input produces NO errors
    (landing / "a.csv").write_text(header + "AAA,FUND,yf,101.0,USD,2024-01-04,2024-01-05\n")
    start_nav_stream(spark, str(landing), target, ckpt, errors_path=str(errors)).awaitTermination()

    # stale rows cleared: the overwrite replaced them with a zero-row file
    assert spark.read.parquet(str(errors / "batch_id=0")).count() == 0
    assert [r.ticker for r in spark.read.parquet(target).collect()] == ["AAA"]


def test_nav_stream_null_scrape_date_row_still_merges(spark, tmp_path):
    """A batch row whose scrape_date failed to parse (NULL) must merge via
    the hash guard exactly like the batch loader would — the old external
    staleness guard silently dropped it whenever the stored row had a
    scrape_date (review r9)."""
    from fund_data_pipeline_spark.streaming.nav_stream import start_nav_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "stg_daily_nav")
    ckpt = str(tmp_path / "ckpt")
    header = "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n"

    (landing / "a.csv").write_text(header + "AAA,FUND,yf,101.0,USD,2024-01-04,2024-01-05\n")
    start_nav_stream(spark, str(landing), target, ckpt).awaitTermination()

    # correction file with an unparseable scrape_date -> NULL after conform
    (landing / "fix.csv").write_text(header + "AAA,FUND,yf,102.5,USD,2024-01-04,\n")
    start_nav_stream(spark, str(landing), target, ckpt).awaitTermination()

    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1 and float(rows[0].nav_price) == 102.5


def test_landing_scan_review_fixes(spark, tmp_path):
    """Review r9 source-layer fixes: per-entity scans must not drop tickers
    whose filename contains 'log'; exclusion parts match case-insensitively;
    an explicit schema enables the _corrupt_record channel; empty unions and
    empty resume keys fail loudly."""
    import pytest

    from fund_data_pipeline_spark.sources.csv_landing import (
        read_landing_csvs,
        read_per_entity_csvs,
        union_conformed,
    )
    from fund_data_pipeline_spark.sources.registry import resume_anti_join

    root = tmp_path / "per_entity"
    root.mkdir()
    (root / "GLOG_history.csv").write_text("date,close\n2024-01-02,10.5\n")
    (root / "AAA_history.csv").write_text("date,close\n2024-01-02,11.5\n")
    got = read_per_entity_csvs(spark, str(root), infer_asset_type=False)
    assert {r.ticker for r in got.collect()} == {"GLOG", "AAA"}  # GLOG kept
    only_a = read_per_entity_csvs(
        spark, str(root), infer_asset_type=False, exclude_name_parts=("GLOG",)
    )
    assert {r.ticker for r in only_a.collect()} == {"AAA"}  # opt-in + case-insensitive

    # explicit schema: malformed row lands in _corrupt_record, not NULL-padded
    bad = tmp_path / "landing"
    bad.mkdir()
    (bad / "feed.csv").write_text("ticker,price\nAAA,1.5\nBBB,notanumber\n")
    df = read_landing_csvs(
        spark, [str(bad)], schema="ticker string, price double, _corrupt_record string"
    )
    rows = {r.ticker: (r.price, r._corrupt_record) for r in df.collect()}
    assert rows["AAA"] == (1.5, None)
    assert rows["BBB"][0] is None and "notanumber" in rows["BBB"][1]

    with pytest.raises(ValueError, match="no dataframes to union"):
        union_conformed([])
    with pytest.raises(ValueError, match="keys must be non-empty"):
        resume_anti_join(df, df, keys=[])


def test_compact_partition_merges_mixed_width_schemas(spark, tmp_path):
    """The compactor destroys its input, so it must footer-merge (review
    r9): an append leaf holding old narrow files and new wide ones would
    otherwise lose the evolved column permanently if the sampled footer
    was a narrow one."""
    from fund_data_pipeline_spark import maintenance

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, extra double"
    ).write.mode("append").parquet(path)

    maintenance.compact_partition(spark, path)
    out = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(out.columns) == {"id", "v", "extra"}
    got = {r.id: r.extra for r in out.collect()}
    assert got == {1: None, 2: 9.5}


def test_snapshot_staged_swap_and_crash_heal(spark, tmp_path):
    """snapshot() is staging-then-swap (review r9): a re-run overwrites
    without ever deleting the live partition before the new data is fully
    written, and a crash that left only the dotted backup is healed."""
    from fund_data_pipeline_spark import maintenance

    root = str(tmp_path / "snaps")
    maintenance.snapshot(spark.range(5), root, "2024-03-01")
    p = tmp_path / "snaps" / "dt=2024-03-01"
    assert spark.read.parquet(str(p)).count() == 5

    # re-run with new content: replaced, no residue
    maintenance.snapshot(spark.range(7), root, "2024-03-01")
    assert spark.read.parquet(str(p)).count() == 7
    assert not list((tmp_path / "snaps").glob(".dt=*"))

    # crash between the renames: only the dotted backup remains
    p.rename(tmp_path / "snaps" / ".dt=2024-03-01.__old__")
    maintenance.snapshot(spark.range(3), root, "2024-03-02")  # unrelated write heals nothing here
    # the crashed partition is restored on ITS next write
    maintenance.snapshot(spark.range(9), root, "2024-03-01")
    assert spark.read.parquet(str(p)).count() == 9
    assert not list((tmp_path / "snaps").glob(".dt=*"))
    # escaped dt values land where partition discovery reads them
    maintenance.snapshot(spark.range(2), root, "2024:03")
    assert (tmp_path / "snaps" / "dt=2024%3A03").is_dir()


def test_merge_stats_reports_touched_partitions(spark, tmp_path):
    """Partition-pruned merges report the partition values they collected
    for their own prune (review r9) — create path and merge path both, so
    a rollup refresh never re-runs the distinct+collect."""
    from pyspark.sql import functions as F

    from fund_data_pipeline_spark.merge import merge_upsert

    path = str(tmp_path / "t")

    def batch(rows):
        df = spark.createDataFrame(rows, "ticker string, dt string, value double")
        return df.withColumn("row_hash", F.md5(F.concat_ws("|", "ticker", "dt")))

    s1 = merge_upsert(
        spark, path, batch([("A", "2024-01", 1.0), ("B", "2024-02", 2.0)]),
        keys=["ticker", "dt"], partition_col="dt",
    )
    assert sorted(s1.touched_partitions) == ["2024-01", "2024-02"]
    s2 = merge_upsert(
        spark, path, batch([("C", "2024-02", 3.0)]),
        keys=["ticker", "dt"], partition_col="dt",
    )
    assert s2.touched_partitions == ["2024-02"] and s2.inserted == 1
    # unpartitioned merges don't collect partition values
    s3 = merge_upsert(spark, str(tmp_path / "flat"), batch([("A", "x", 1.0)]), keys=["ticker"])
    assert s3.touched_partitions is None
