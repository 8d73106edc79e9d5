"""Validation split with reason annotation (SURVEY §2.4, F1-F6).

The reference validators split each batch into valid rows and an error
side-channel annotated with a human-readable reason. Two styles exist:

- F4 (performance validator): ONE reason per row, later rules overwrite
  earlier ones (01_performance_validator.py:42-78 applies masks in sequence,
  each assignment clobbering the previous reason). Reproduced with a
  ``when`` chain evaluated in REVERSE rule order so the last matching rule
  wins, exactly like the pandas overwrite.
- F5 (master validator): ALL failed rules joined by '; '
  (02_master_list_validator.py:37-62, an iterrows loop — rebuilt vectorized).

Both return (valid_df, invalid_df) and never use Python row loops.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

REASON_COL = "error_reason"
ISSUES_COL = "validation_issues"

Rule = tuple[str, Column]  # (reason label, failure predicate)


def validation_split_single_reason(df: DataFrame, rules: Sequence[Rule]) -> tuple[DataFrame, DataFrame]:
    """F4: split into (valid, invalid); invalid carries the LAST matching
    rule's label in ``error_reason`` (pandas overwrite semantics)."""
    reason: Column = F.lit(None).cast("string")
    for label, failed in rules:  # later rules overwrite: fold left, keep last match
        reason = F.when(failed, F.lit(label)).otherwise(reason)
    annotated = df.withColumn(REASON_COL, reason)
    valid = annotated.filter(F.col(REASON_COL).isNull()).drop(REASON_COL)
    invalid = annotated.filter(F.col(REASON_COL).isNotNull())
    return valid, invalid


def validation_split_all_reasons(df: DataFrame, rules: Sequence[Rule]) -> tuple[DataFrame, DataFrame]:
    """F5: collect every failed rule label, joined by '; ' in rule order."""
    issues = F.array_compact(F.array(*[F.when(failed, F.lit(label)) for label, failed in rules]))
    annotated = df.withColumn(ISSUES_COL, F.when(F.size(issues) > 0, F.concat_ws("; ", issues)))
    valid = annotated.filter(F.col(ISSUES_COL).isNull()).drop(ISSUES_COL)
    invalid = annotated.filter(F.col(ISSUES_COL).isNotNull())
    return valid, invalid


def _counted_split(
    df: DataFrame, split: Callable[[DataFrame], tuple[DataFrame, DataFrame]]
) -> tuple[DataFrame, Callable[[], int]]:
    """``split(df)``'s valid half, and a thunk that returns the size of its
    invalid half once an action has run the valid half.

    The size is rows in minus rows valid, two ``Observation`` counts that
    fire in the first action over the valid half — the load's own write —
    so counting the quarantine runs no job of its own and does not re-read
    the landing files. One case loses them: when the valid half comes out
    empty and the load joins it to an existing table, adaptive execution
    replaces the join with its other side, and the counts go with the
    pruned side (``get`` then raises instead of returning zeros). Nothing
    passed validation then, so the thunk counts the invalid half: one job,
    on a day whose whole batch was quarantined."""
    seen, kept = Observation(), Observation()
    valid, invalid = split(df.observe(seen, F.count(F.lit(1)).alias("rows")))
    valid = valid.observe(kept, F.count(F.lit(1)).alias("rows"))

    def quarantined() -> int:
        try:
            return seen.get["rows"] - kept.get["rows"]
        except Py4JJavaError:
            return invalid.count()

    return valid, quarantined


# ---- canonical rule sets ---------------------------------------------------

#: the reference validator's critical_cols (01_performance_validator.py:47)
NAV_CRITICAL_COLS = ("ticker", "asset_type", "source", "nav_price", "as_of_date")


def nav_rules(
    today: Column | None = None,
    critical_cols: Sequence[str] = NAV_CRITICAL_COLS,
) -> list[Rule]:
    """The daily-NAV validator's three rules (01_performance_validator.py:42-78).

    Rule order matters: the reference applies missing -> non-positive ->
    future-date, each overwriting the previous reason. ``critical_cols``
    defaults to the reference's full set — asset_type and source included,
    since both are natural-key components a NULL would corrupt; pass a
    subset only for frames that legitimately lack the optional columns.
    """
    today = F.current_date() if today is None else today
    missing = F.lit(False)
    for c in critical_cols:
        missing = missing | F.col(c).isNull()
    non_positive = F.col("nav_price") <= 0
    future = F.col("as_of_date") > F.date_add(today, 1)
    return [
        ("Missing Data", missing),
        ("Non-Positive NAV", non_positive),
        ("Future Date", future),
    ]


def master_rules() -> list[Rule]:
    """The master-list validator's rules (02_master_list_validator.py:37-62).

    The membership rules are NULL-safe: a bare ``~isin(...)`` is NULL (not
    true) for a NULL value under three-valued logic, so a row whose
    asset_type/status was nulled by the sentinel cleanup would slip
    through as VALID — the reference flags it (str(nan) is not in the
    allowed list), so NULL is explicitly invalid here too."""
    blank = lambda c: F.col(c).isNull() | (F.trim(F.col(c)) == "")  # noqa: E731
    invalid_in = lambda c, *allowed: F.col(c).isNull() | ~F.col(c).isin(*allowed)  # noqa: E731
    return [
        ("Missing Ticker", blank("ticker")),
        ("Invalid Asset Type", invalid_in("asset_type", "FUND", "ETF")),
        ("Missing Source", blank("source")),
        ("Invalid Status", invalid_in("status", "active", "inactive", "new")),
    ]


def drop_null_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """F1: dropna(subset=keys)."""
    return df.na.drop(subset=list(keys))


def positive_filter(df: DataFrame, col: str) -> DataFrame:
    """F2: keep rows with col > 0."""
    return df.filter(F.col(col) > 0)

