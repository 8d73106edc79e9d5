"""O1/O7: fail-stop orchestration + run-summary reporting over a full
landing-zone fixture (reference main_pipeline.py:16-33 + logger.py:81-117)."""

from __future__ import annotations

from pyspark import TaskContext
from pyspark.sql import functions as F

from fund_data_pipeline_spark.pipelines import daily_nav, master_sync, orchestrator, run_pipeline

WAREHOUSE_TABLES = (
    "stg_security_master", "stg_daily_nav", "stg_fund_info",
    "stg_fund_fees", "stg_fund_risk", "stg_fund_policy",
    "stg_fund_holdings", "stg_allocations",
)


def _today():
    return F.lit("2024-03-05").cast("date")


def _write_landing(root):
    (root / "master_list").mkdir(parents=True)
    (root / "master_list" / "ft.csv").write_text(
        "Symbol,asset_type,Fund Name,status,source,date_added\n"
        "vtsax,Mutual Fund,Vanguard Total,,ft,2024-03-01\n"
        "SPY,ETF,SPDR S&P 500,active,yf,2024-03-01\n"
    )
    (root / "daily_nav").mkdir()
    (root / "daily_nav" / "nav.csv").write_text(
        "Ticker,Asset_Type,Source,nav_price,currency,as_of_date,scrape_date\n"
        "VTSAX,FUND,yf,12.99,USD,2024-03-01,2024-03-01\n"
        "SPY,ETF,yf,500.10,USD,2024-03-09,2024-03-01\n"  # future date: quarantined
    )
    (root / "fund_details").mkdir()
    (root / "fund_details" / "details.csv").write_text(
        "Symbol,asset_type,source,Fund Name,assets_aum,expense_ratio,initial_charge,"
        "holdings_count,total_return_1y,standard_dev_3y,as_of_date\n"
        'vtsax,FUND,yf,Vanguard,842.33m USD,0.04%,45,"1,234",150.5,2550.0,2024-03-01\n'
    )
    (root / "holdings").mkdir()
    (root / "holdings" / "h.csv").write_text(
        "ticker,asset_type,source,Item_Name,holding_ticker,Value_Net,as_of_date\n"
        "VTSAX,FUND,ft,Apple Inc,AAPL,+5.2%,2024-03-01\n"
    )
    (root / "allocations" / "sector").mkdir(parents=True)
    (root / "allocations" / "sector" / "a.csv").write_text(
        "ticker,asset_type,source,item_name,value_net,as_of_date\n"
        "VTSAX,FUND,ft,Technology,45.5%,2024-03-01\n"
    )


def test_run_pipeline_full_chain(spark, tmp_path):
    landing = tmp_path / "landing"
    warehouse = tmp_path / "warehouse"
    _write_landing(landing)

    report = run_pipeline(spark, str(landing), str(warehouse), today=_today())
    assert report.ok
    by_name = {s.name: s for s in report.stages}
    assert [s.name for s in report.stages] == [
        "master_sync", "daily_nav", "static_details", "holdings", "nav_repair",
    ]
    assert all(s.status == "ok" for s in report.stages)

    # per-stage stats reached the report
    assert by_name["master_sync"].tables["master_sync"].inserted == 2
    assert by_name["daily_nav"].tables["daily_nav"].inserted == 1
    assert by_name["daily_nav"].side_counts["rows_quarantined"] == 1
    assert by_name["static_details"].tables["stg_fund_info"].inserted == 1
    assert by_name["holdings"].tables["stg_allocations"].inserted == 1

    # the warehouse actually has the tables
    for t in WAREHOUSE_TABLES:
        assert (warehouse / t).is_dir(), t
    assert spark.read.parquet(str(warehouse / "stg_daily_nav")).count() == 1

    # run summary: one line per stage + totals (logger.py:81-117 parity)
    lines = report.summary_lines()
    assert lines[0] == "== pipeline run summary =="
    assert len(lines) == 2 + len(report.stages)
    assert "stage daily_nav: ok" in lines[2] and "rows_quarantined=1" in lines[2]
    assert lines[-1].startswith("TOTAL: 5 ok, 0 failed, 0 skipped")
    tot = report.totals()
    assert tot.inserted == 2 + 1 + 4 + 2  # master + nav + details x4 + holdings/alloc

    # idempotent re-run: hash guards elide everything except the K5 master
    report2 = run_pipeline(spark, str(landing), str(warehouse), today=_today())
    assert report2.ok and report2.totals().inserted == 0


def test_recording_the_report_submits_no_job(spark, tmp_path, monkeypatch):
    """A stage's counts come from its own write: recording its return value
    into the run report submits no Spark job. Each record call runs under a
    job group of its own, and the status tracker finds no job in any."""
    _write_landing(tmp_path / "landing")
    sc = spark.sparkContext
    record = orchestrator._record
    jobs: dict[str, list[int]] = {}

    def watched(result, value):
        group = f"record-{result.name}-{tmp_path.name}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            record(result, value)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
        jobs[result.name] = list(sc.statusTracker().getJobIdsForGroup(group))

    monkeypatch.setattr(orchestrator, "_record", watched)
    report = run_pipeline(spark, str(tmp_path / "landing"), str(tmp_path / "wh"), today=_today())
    assert report.ok
    quarantined = {s.name: s.side_counts.get("rows_quarantined") for s in report.stages}
    assert quarantined == {
        "master_sync": 0, "daily_nav": 1, "static_details": None, "holdings": None, "nav_repair": None,
    }
    assert jobs == {name: [] for name in quarantined}


def test_master_failure_skips_every_later_stage(spark, tmp_path, monkeypatch):
    """The master gate: a failed master_sync skips the whole concurrent
    group and the repair pass (the reference's abort)."""
    landing = tmp_path / "landing"
    _write_landing(landing)

    def boom(*args, **kwargs):
        raise RuntimeError("master exploded")

    monkeypatch.setattr(master_sync, "run", boom)
    report = run_pipeline(
        spark, str(landing), str(tmp_path / "wh"), today=_today(), nav_reprocess=lambda df: df
    )
    assert [(s.name, s.status) for s in report.stages] == [
        ("master_sync", "failed"),
        ("daily_nav", "skipped"),
        ("static_details", "skipped"),
        ("holdings", "skipped"),
        ("nav_repair", "skipped"),
    ]
    assert "master exploded" in report.stages[0].error
    assert not (tmp_path / "wh").exists()


def test_daily_nav_failure_spares_group_siblings_and_skips_repair(spark, tmp_path, monkeypatch):
    """daily_nav, static_details and holdings are one concurrent group: a
    failed daily_nav leaves its in-flight siblings to finish and write their
    tables, and skips only the NAV repair that reads stg_daily_nav."""
    landing = tmp_path / "landing"
    warehouse = tmp_path / "wh"
    _write_landing(landing)

    def boom(*args, **kwargs):
        raise RuntimeError("nav exploded")

    monkeypatch.setattr(daily_nav, "run", boom)
    report = run_pipeline(
        spark, str(landing), str(warehouse), today=_today(), nav_reprocess=lambda df: df
    )
    by_name = {s.name: s for s in report.stages}
    assert [(s.name, s.status) for s in report.stages] == [
        ("master_sync", "ok"),
        ("daily_nav", "failed"),
        ("static_details", "ok"),
        ("holdings", "ok"),
        ("nav_repair", "skipped"),
    ]
    assert "nav exploded" in by_name["daily_nav"].error
    assert by_name["nav_repair"].error == "fail-stop: daily_nav failed"
    for t in WAREHOUSE_TABLES:
        assert (warehouse / t).is_dir() == (t != "stg_daily_nav"), t


def test_group_stages_inherit_the_callers_job_group(spark):
    """Jobs a concurrent group submits from its worker threads carry the
    caller's Spark local properties, so ``cancelJobGroup`` on the caller's
    group reaches them; and each worker owns its copy, so a stage that sets
    its own job group does not relabel a sibling's jobs."""
    import threading

    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=30)
    seen: dict[str, tuple[str | None, str | None]] = {}

    def job_group():
        return (
            sc.parallelize([0], 1)
            .map(lambda _: TaskContext.get().getLocalProperty("spark.jobGroup.id"))
            .collect()[0]
        )

    def probe(name):
        def run():
            inherited = job_group()
            sc.setJobGroup(name, name)
            both_set.wait()
            seen[name] = (inherited, job_group())

        return run

    sc.setJobGroup("daily-run", "daily run")
    try:
        report = orchestrator.run_all([[("a", probe("a")), ("b", probe("b"))]])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert report.ok, report.summary_lines()
    assert seen == {"a": ("daily-run", "a"), "b": ("daily-run", "b")}


def test_run_all_fail_stop(spark):
    calls = []

    def ok_stage():
        calls.append("a")

    def boom():
        raise RuntimeError("feed exploded")

    def never():
        calls.append("c")

    report = orchestrator.run_all([("a", ok_stage), ("b", boom), ("c", never)])
    assert not report.ok
    assert [s.status for s in report.stages] == ["ok", "failed", "skipped"]
    assert "feed exploded" in report.stages[1].error
    assert report.stages[2].error == "fail-stop: b failed"
    assert calls == ["a"]  # c never ran

    # independent-flows mode: later stages still run
    calls.clear()
    report = orchestrator.run_all(
        [("a", ok_stage), ("b", boom), ("c", never)], fail_stop=False
    )
    assert [s.status for s in report.stages] == ["ok", "failed", "ok"]
    assert calls == ["a", "c"]


def test_run_all_stage_retries(spark):
    """O4 parity (reference 04_sa_history_remediator.py:228-237, two
    attempts): a stage that fails transiently succeeds on a retry — only
    the final outcome counts, attempts are recorded, fail-stop still sees
    a stage that exhausts its retries, and a mid-retry success leaves no
    'failed' residue in the report."""
    flaky_calls = {"n": 0}

    def flaky():
        flaky_calls["n"] += 1
        if flaky_calls["n"] < 3:
            raise RuntimeError(f"transient {flaky_calls['n']}")

    def always_boom():
        raise RuntimeError("permanent")

    report = orchestrator.run_all([("f", flaky)], retries=2)
    assert report.ok
    assert flaky_calls["n"] == 3
    st = report.stages[0]
    assert st.status == "ok" and st.attempts == 3 and st.error is None
    assert "[attempt 3]" in report.summary_lines()[1]

    # exhausted retries: last error recorded, later stages fail-stop
    report = orchestrator.run_all(
        [("b", always_boom), ("c", lambda: None)], retries=1
    )
    assert not report.ok
    assert report.stages[0].status == "failed" and report.stages[0].attempts == 2
    assert "permanent" in report.stages[0].error
    assert report.stages[1].status == "skipped"

    # default stays single-attempt (the r14 behavior)
    flaky_calls["n"] = 0
    report = orchestrator.run_all([("f", flaky)])
    assert not report.ok and report.stages[0].attempts == 1


def test_run_all_retry_delay_backs_off_between_attempts(monkeypatch):
    """r15 ADVICE: the reference remediator sleeps 10s between its two
    attempts; retry_delay_sec applies that backoff between attempts (not
    before the first), so a retry does not instantly re-hit the same
    transient condition. Sleeps are intercepted — the test pins WHERE the
    delay applies, not wall-clock."""
    slept: list[float] = []
    monkeypatch.setattr(orchestrator.time, "sleep", lambda s: slept.append(s))
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")

    report = orchestrator.run_all([("f", flaky)], retries=2, retry_delay_sec=0.5)
    assert report.ok and report.stages[0].attempts == 3
    # two retries -> two sleeps, none before the first attempt
    assert slept == [0.5, 0.5]

    # default 0 delay: no sleep calls at all (current-test preservation)
    slept.clear()
    calls["n"] = 0
    orchestrator.run_all([("f", flaky)], retries=2)
    assert slept == []


def test_missing_feeds_do_not_fail_the_run(spark, tmp_path):
    (tmp_path / "landing").mkdir()
    report = run_pipeline(spark, str(tmp_path / "landing"), str(tmp_path / "wh"))
    assert report.ok
    assert all(s.status == "ok" and not s.tables for s in report.stages)


def test_parallel_group_runs_concurrently_and_fail_stops_after():
    """O2: stages inside a list entry must actually run concurrently (a
    2-party barrier with a timeout can only be satisfied if both stages are
    in flight at once), siblings of a failed group member still complete,
    and entries after the group are skipped under fail-stop."""
    import threading

    from fund_data_pipeline_spark.pipelines.orchestrator import run_all

    barrier = threading.Barrier(2, timeout=30)

    def meet():
        barrier.wait()  # deadlocks (then breaks) if run sequentially
        return None

    def boom():
        barrier.wait()
        raise RuntimeError("kaput")

    report = run_all(
        [
            ("first", lambda: None),
            [("meet", meet), ("boom", boom)],
            ("after", lambda: None),
        ]
    )
    by_name = {s.name: s for s in report.stages}
    assert [s.name for s in report.stages] == ["first", "meet", "boom", "after"]
    assert by_name["first"].status == "ok"
    assert by_name["meet"].status == "ok"  # sibling completed despite failure
    assert by_name["boom"].status == "failed" and "kaput" in by_name["boom"].error
    assert by_name["after"].status == "skipped"
    assert "boom failed" in by_name["after"].error


def test_sentinel_only_feed_is_a_noop_not_a_crash(spark, tmp_path):
    """A feed dir holding ONLY error_log.csv delivered nothing: the presence
    gate must mirror the scan's token exclusion, or the stage reads an empty
    frame with the sentinel's header and crashes (review r9)."""
    landing = tmp_path / "landing"
    (landing / "daily_nav").mkdir(parents=True)
    (landing / "daily_nav" / "error_log.csv").write_text(
        "ticker,error_message\nAAA,timeout\n"
    )
    report = run_pipeline(spark, str(landing), str(tmp_path / "wh"))
    assert report.ok
    nav = next(s for s in report.stages if s.name == "daily_nav")
    assert nav.status == "ok" and not nav.tables  # no-op, not failed


def test_allocations_load_without_holdings_feed(spark, tmp_path):
    """Allocations and holdings are independent feeds: allocation CSVs must
    load even when the holdings dir is empty (review r9 — the allocations
    scan was gated behind the holdings presence check)."""
    landing = tmp_path / "landing"
    (landing / "allocations" / "sector").mkdir(parents=True)
    (landing / "allocations" / "sector" / "a.csv").write_text(
        "ticker,asset_type,source,item_name,value_net,as_of_date\n"
        "VTSAX,FUND,ft,Technology,45.5%,2024-03-01\n"
    )
    report = run_pipeline(spark, str(landing), str(tmp_path / "wh"))
    assert report.ok
    hold = next(s for s in report.stages if s.name == "holdings")
    assert "stg_allocations" in hold.tables
    assert hold.tables["stg_allocations"].inserted == 1
    assert "stg_fund_holdings" not in hold.tables
    assert spark.read.parquet(str(tmp_path / "wh" / "stg_allocations")).count() == 1


def test_summary_reports_wall_time():
    """summary_lines: TOTAL uses run_all's recorded wall time (the
    stage-duration sum overstates concurrent groups)."""
    import time

    from fund_data_pipeline_spark.merge import MergeStats

    def slow_ok():
        time.sleep(0.3)
        return MergeStats(2, 1, 0)

    report = orchestrator.run_all([[("a", slow_ok), ("b", slow_ok)]])
    text = "\n".join(report.summary_lines())
    assert "a: +2 ~1 =0" in text and "inserted 4, updated 2, unchanged 0" in text
    assert report.wall_sec is not None
    # two 0.3s stages ran concurrently: wall must be well under their sum
    assert report.wall_sec < sum(s.duration_sec for s in report.stages)
