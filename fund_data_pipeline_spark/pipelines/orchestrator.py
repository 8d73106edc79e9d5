"""Top-level fail-stop orchestrator + run summary (O1/O7).

The reference's ``main_pipeline.py:16-33`` runs its four sync modules as
subprocesses in a fixed order and aborts the whole run on the first
non-zero exit; ``src/utils/logger.py:81-117`` (``log_execution_summary``)
then prints per-stage row counts, failure counts, and durations. This
module rebuilds both on Spark terms:

- a *stage* is just ``(name, thunk)`` where the thunk runs one pipeline
  flow and returns its stats — no subprocesses, no CSV intermediate
  representation; each flow is one in-process lazy lineage.
- :func:`run_all` executes stages in order. A stage exception marks that
  stage failed and (fail-stop, the default) marks every later stage
  skipped — mirroring the reference's abort — while still returning the
  full :class:`RunReport` so the caller sees exactly how far the run got.
- :class:`RunReport.summary_lines` is the ``log_execution_summary``
  analog: per-stage status, duration, and per-table insert/update/
  unchanged counts, plus run totals.

:func:`default_stages` wires the standard chain off a landing-zone
directory layout: master_sync alone first (its failure skips the rest),
then daily_nav, static_details and holdings as one concurrent group, then
the optional NAV repair. A stage whose landing directory is absent is a
no-op reported ok rather than failing the run (a daily run does not
break because one feed delivered nothing — the reference logs and moves
on only for empty feeds, but hard-fails on errors, and so does this).

Concurrency has one path, :func:`_concurrently`: a concurrent group in
:func:`run_all` and the multi-table merges inside static_details and
holdings each run one worker thread per thunk, and every worker carries
the caller's Spark local properties (job group, description, scheduler
pool).
"""

from __future__ import annotations

import functools
import time
import traceback
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from typing import TypeVar

from pyspark import SparkContext, inheritable_thread_target
from pyspark.sql import Column, SparkSession

from ..merge import MergeStats
from .repair import RepairStats

Stage = tuple[str, Callable[[], object]]
T = TypeVar("T")


@dataclass
class StageResult:
    name: str
    status: str  # "ok" | "failed" | "skipped"
    duration_sec: float = 0.0
    tables: dict[str, MergeStats] = field(default_factory=dict)
    side_counts: dict[str, int] = field(default_factory=dict)
    error: str | None = None
    #: total attempts made (1 = no retry; see run_all(retries=...))
    attempts: int = 1


@dataclass
class RunReport:
    stages: list[StageResult] = field(default_factory=list)
    #: elapsed wall-clock of the whole run (set by run_all); summing stage
    #: durations would overstate it whenever a concurrent group overlaps
    wall_sec: float | None = None

    @property
    def ok(self) -> bool:
        return all(s.status != "failed" for s in self.stages)

    def totals(self) -> MergeStats:
        agg = MergeStats(0, 0, 0)
        for st in self.stages:
            for ms in st.tables.values():
                agg.inserted += ms.inserted
                agg.updated += ms.updated
                agg.unchanged += ms.unchanged
        return agg

    def summary_lines(self) -> list[str]:
        """log_execution_summary parity (reference logger.py:81-117)."""
        lines = ["== pipeline run summary =="]
        for st in self.stages:
            detail = "; ".join(
                f"{t}: +{m.inserted} ~{m.updated} ={m.unchanged}" for t, m in st.tables.items()
            )
            extra = "; ".join(f"{k}={v}" for k, v in st.side_counts.items())
            parts = [p for p in (detail, extra) if p]
            tail = f" — {'; '.join(parts)}" if parts else ""
            err = f" ({st.error})" if st.error else ""
            tries = f" [attempt {st.attempts}]" if st.attempts > 1 else ""
            lines.append(
                f"stage {st.name}: {st.status} in {st.duration_sec:.1f}s{tries}{tail}{err}"
            )
        n_ok = sum(s.status == "ok" for s in self.stages)
        n_failed = sum(s.status == "failed" for s in self.stages)
        n_skipped = sum(s.status == "skipped" for s in self.stages)
        tot = self.totals()
        # true elapsed time when run_all recorded it; the stage-duration sum
        # overstates wall whenever a concurrent group overlaps (review r9)
        if self.wall_sec is not None:
            wall_txt = f"{self.wall_sec:.1f}s"
        else:
            wall_txt = f"{sum(s.duration_sec for s in self.stages):.1f}s stage time"
        lines.append(
            f"TOTAL: {n_ok} ok, {n_failed} failed, {n_skipped} skipped in "
            f"{wall_txt}; inserted {tot.inserted}, updated {tot.updated}, "
            f"unchanged {tot.unchanged}"
        )
        return lines


def _record(result: StageResult, value: object) -> None:
    """Normalize a flow's return value into the report.

    Flows return one of: ``MergeStats``, ``dict[str, MergeStats]``,
    ``(MergeStats, quarantined_row_count)``, or ``RepairStats``. The
    quarantine count is reported as the reference summary reports failure
    counts; the flow's own write observed it, so recording submits no job.
    """
    if isinstance(value, MergeStats):
        result.tables[result.name] = value
    elif isinstance(value, RepairStats):
        result.side_counts["rows_failed"] = value.n_failed
        result.side_counts["rows_repaired"] = value.n_repaired
        if value.merge is not None:
            result.tables[f"{result.name}(merged)"] = value.merge
    elif isinstance(value, dict):
        result.tables.update(value)
    elif isinstance(value, tuple) and len(value) == 2:
        stats, quarantined = value
        result.tables[result.name] = stats
        result.side_counts["rows_quarantined"] = quarantined
    elif value is not None:
        result.side_counts["returned"] = 1


def _concurrently(thunks: Sequence[Callable[[], T]]) -> list[T]:
    """Run each thunk on its own worker thread and return the results in
    declared order.

    Every thunk runs to completion; only then is the first failure, in
    declared order, re-raised. Each thunk is wrapped in
    ``inheritable_thread_target``, so the jobs it submits carry the
    calling thread's Spark local properties (job group, description,
    scheduler pool) — a plain worker thread starts with none, and its jobs
    would escape the caller's ``cancelJobGroup``.
    """
    if SparkContext._active_spark_context is not None:
        # one wrapper per thunk: each takes its own copy of the caller's
        # properties; workers sharing one copy overwrite each other's group
        session = SparkSession.active()
        thunks = [inheritable_thread_target(session)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as ex:
        futures = [ex.submit(t) for t in thunks]
    # the pool has joined: result() re-raises the first failure in order
    return [f.result() for f in futures]


def _run_one(
    name: str,
    thunk: Callable[[], object],
    retries: int = 0,
    retry_delay_sec: float = 0.0,
) -> StageResult:
    """One stage as a fault boundary, with the reference's stage-retry
    semantics (O4, `04_sa_history_remediator.py:228-237`: two attempts
    before giving up, sleeping 10s between them): on an exception the
    stage re-runs up to ``retries`` more times; only the FINAL attempt's
    outcome counts, the recorded error is the last one, and
    ``duration_sec`` covers all attempts (including backoff sleeps).
    ``retry_delay_sec`` sleeps between attempts — for the targets this
    knob exists for (a flaky landing mount, a JDBC hiccup) an instant
    retry typically hits the same transient condition and burns every
    attempt within milliseconds (r15 ADVICE); default 0 keeps retries
    immediate for in-process fault-injection tests. Stage flows are
    idempotent by construction (hash-guarded merges, deterministic
    overwrites), so a half-applied failed attempt is safe to re-enter —
    the same property that makes whole-run re-execution safe."""
    result = StageResult(name=name, status="ok")
    t0 = time.perf_counter()
    for attempt in range(1 + max(0, retries)):
        result.attempts = attempt + 1
        if attempt > 0 and retry_delay_sec > 0:
            time.sleep(retry_delay_sec)
        try:
            result.status = "ok"
            result.error = None
            _record(result, thunk())
            break
        except Exception as e:  # noqa: BLE001 — a stage is a fault boundary
            result.status = "failed"
            result.error = "".join(traceback.format_exception_only(type(e), e)).strip()
    result.duration_sec = time.perf_counter() - t0
    return result


def run_all(
    stages: Sequence[Stage | list[Stage]],
    fail_stop: bool = True,
    retries: int = 0,
    retry_delay_sec: float = 0.0,
) -> RunReport:
    """Execute ``stages`` in order with fail-stop semantics (O1) and
    parallel task groups (O2).

    An entry that is a ``list`` of stages is a *concurrent group*: its
    stages run simultaneously, one worker thread each (:func:`_concurrently`),
    against the shared SparkSession (Spark schedules jobs submitted from
    separate threads concurrently — the in-process form of the reference's
    independent sync modules, which each own disjoint tables). Results are
    reported in declared order regardless of completion order, so the
    summary is deterministic.

    On a stage exception the stage is recorded failed (with the traceback's
    final line as the error) and, under ``fail_stop`` (default, the
    reference's behavior), every LATER entry is recorded skipped. A failure
    inside a group does not cancel its siblings — concurrent stages run to
    completion (they are already in flight), exactly like a process group —
    but it does abort everything after the group. With ``fail_stop=False``
    later stages still run.

    ``retries`` (O4 parity): each stage re-runs up to that many extra
    times on an exception before counting as failed — the reference's
    two-attempt remediator loop generalized. Safe because stage flows are
    idempotent (hash-guarded merges, deterministic overwrites). Task-level
    transient faults are already retried by Spark itself; this knob covers
    stage-scope faults (a flaky landing mount, a JDBC hiccup).
    ``retry_delay_sec`` backs each re-attempt off by that many seconds
    (the reference sleeps 10s between its two attempts) so a retry does
    not immediately re-hit the same transient condition.
    """
    t_run0 = time.perf_counter()
    report = RunReport()
    aborted_by: str | None = None
    for entry in stages:
        group: list[Stage] = entry if isinstance(entry, list) else [entry]
        if not group:  # a group emptied by feed filtering is a no-op
            continue
        if aborted_by is not None:
            for name, _ in group:
                report.stages.append(
                    StageResult(
                        name=name,
                        status="skipped",
                        error=f"fail-stop: {aborted_by} failed",
                    )
                )
            continue
        if len(group) == 1:
            results = [_run_one(*group[0], retries=retries, retry_delay_sec=retry_delay_sec)]
        else:
            results = _concurrently(
                [functools.partial(_run_one, n, t, retries, retry_delay_sec) for n, t in group]
            )
        report.stages.extend(results)
        if fail_stop:
            failed = next((r.name for r in results if r.status == "failed"), None)
            if failed is not None:
                aborted_by = failed
    report.wall_sec = time.perf_counter() - t_run0
    return report


# ---------------------------------------------------------------------------
# standard chain off a landing-zone layout
# ---------------------------------------------------------------------------


def default_stages(
    spark: SparkSession,
    landing_root: str,
    warehouse: str,
    today: Column | None = None,
    nav_reprocess: Callable | None = None,
) -> list[Stage | list[Stage]]:
    """The reference's four-module chain as stages over a landing layout::

        <landing_root>/master_list/   scrape CSVs for the security master
        <landing_root>/daily_nav/     daily NAV feed CSVs
        <landing_root>/fund_details/  static detail CSVs (info/fees/risk/policy)
        <landing_root>/holdings/      holdings CSVs
        <landing_root>/allocations/<kind>/   one dir per allocation kind

    A stage whose landing directory is empty or absent becomes a no-op
    returning ``None`` (reported ok with no tables) — feeds that delivered
    nothing must not abort the run. ``nav_reprocess`` enables the NAV
    repair pass (G2) over ``stg_daily_nav``.

    The schedule is ``master_sync``, then ``[daily_nav, static_details,
    holdings]`` as one concurrent group, then ``nav_repair``. A master
    failure skips everything after it, like the reference's abort. A
    failed group member does not stop its in-flight siblings, but it does
    skip ``nav_repair``.
    """
    from ..sources.csv_landing import name_excluded, read_landing_csvs
    from . import daily_nav, holdings, master_sync, static_details

    root = Path(landing_root)

    def _has(sub: str) -> bool:
        # must mirror the scan's token exclusion: a dir holding ONLY
        # error_log.csv delivered nothing — counting it here would send an
        # empty frame into the stage and crash it (review r9)
        d = root / sub
        return d.is_dir() and any(
            not name_excluded(p.name) for p in d.rglob("*.csv")
        )

    def _master():
        if not _has("master_list"):
            return None
        src = read_landing_csvs(spark, [str(root / "master_list")])
        return master_sync.run(
            spark, [src], f"{warehouse}/stg_security_master", as_of=today, today=today
        )

    def _nav():
        if not _has("daily_nav"):
            return None
        return daily_nav.run(
            spark, [str(root / "daily_nav")], f"{warehouse}/stg_daily_nav", today
        )

    def _nav_repair():
        if nav_reprocess is None or not Path(f"{warehouse}/stg_daily_nav").exists():
            return None
        return daily_nav.run_repair(
            spark,
            f"{warehouse}/stg_daily_nav",
            nav_reprocess,
            repair_log_path=f"{warehouse}/nav_repair_log",
        )

    def _details():
        if not _has("fund_details"):
            return None
        raw = read_landing_csvs(spark, [str(root / "fund_details")])
        return static_details.run(spark, raw, warehouse)

    def _holdings():
        # holdings and allocations are INDEPENDENT feeds: an empty holdings
        # dir must not silently drop allocation CSVs that did land
        # (review r9 — the allocations scan was gated behind _has("holdings"))
        hraw = (
            read_landing_csvs(spark, [str(root / "holdings")])
            if _has("holdings")
            else None
        )
        alloc: dict = {}
        alloc_root = root / "allocations"
        if alloc_root.is_dir():
            for kind_dir in sorted(p for p in alloc_root.iterdir() if p.is_dir()):
                if any(not name_excluded(p.name) for p in kind_dir.rglob("*.csv")):
                    alloc[kind_dir.name] = read_landing_csvs(spark, [str(kind_dir)])
        if hraw is None and not alloc:
            return None
        return holdings.run(spark, hraw, alloc, warehouse)

    # daily_nav, static_details and holdings each read only their own
    # landing directory, write disjoint tables and never read
    # stg_security_master — they run as one concurrent group (O2) behind
    # the master gate; nav_repair reads stg_daily_nav, so it follows
    stages: list[Stage | list[Stage]] = [
        ("master_sync", _master),
        [("daily_nav", _nav), ("static_details", _details), ("holdings", _holdings)],
        ("nav_repair", _nav_repair),
    ]
    return stages


def run_pipeline(
    spark: SparkSession,
    landing_root: str,
    warehouse: str,
    today: Column | None = None,
    nav_reprocess: Callable | None = None,
    fail_stop: bool = True,
) -> RunReport:
    """One-call entry point: the reference's ``main_pipeline.py`` analog."""
    return run_all(
        default_stages(spark, landing_root, warehouse, today, nav_reprocess),
        fail_stop=fail_stop,
    )
