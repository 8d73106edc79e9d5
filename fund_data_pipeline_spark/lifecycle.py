"""Security-master SCD lifecycle (SURVEY §2.11, L1-L5).

Parity targets (paths relative to /root/reference/):
- L1 first_seen frozen / last_seen advanced on conflict:
  01_master_sync/04_master_list_loader.py:55-85
- L2 initial status 'new': src/utils/status_manager.py:25-30
- L3 active -> inactive when last_seen < now - 7d: status_manager.py:63-74
  (INACTIVE_THRESHOLD_DAYS = 7, status_manager.py:13)
- L4 new -> active when a real name arrived: status_manager.py:76-88
- L5 row-level predicates: status_manager.py:32-57

All transitions are conditional column rewrites — a narrow table rewrite on
Parquet, an UPDATE on a transactional format. No shuffles: the transforms
are per-row (map-only), so they scale linearly.

The SCD Type-2 extension, :func:`scd2_apply`, is the module's one keyed
operation: one full-outer join of the open versions against a snapshot,
with keys matched null-safely by the merge's own rule
(``_sql.keys_match``), classified by one projection over that join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._sql import ident, keys_match, lit

INACTIVE_THRESHOLD_DAYS = 7  # status_manager.py:13


def assign_initial_status(df: DataFrame, status_col: str = "status") -> DataFrame:
    """L2: incoming rows with no status become 'new'."""
    return df.withColumn(status_col, F.coalesce(F.col(status_col), F.lit("new")))


def should_promote_to_active(name: Column | str = "name", status: Column | str = "status") -> Column:
    """L5/L4 predicate: 'new' row whose name is real (not blank / 'N/A')."""
    n = F.col(name) if isinstance(name, str) else name
    s = F.col(status) if isinstance(status, str) else status
    return (s == "new") & n.isNotNull() & (F.trim(n) != "") & (F.upper(F.trim(n)) != "N/A")


def should_mark_inactive(
    last_seen: Column | str = "last_seen",
    status: Column | str = "status",
    today: Column | None = None,
    threshold_days: int = INACTIVE_THRESHOLD_DAYS,
) -> Column:
    """L5/L3 predicate: active entity unseen for more than the grace period."""
    ls = F.col(last_seen) if isinstance(last_seen, str) else last_seen
    s = F.col(status) if isinstance(status, str) else status
    today = F.current_date() if today is None else today
    return (s == "active") & (ls < F.date_sub(today, threshold_days))


def apply_status_transitions(
    df: DataFrame,
    today: Column | None = None,
    threshold_days: int = INACTIVE_THRESHOLD_DAYS,
) -> DataFrame:
    """L3 + L4 in one pass, stamping updated_at only on changed rows."""
    promote = should_promote_to_active()
    expire = should_mark_inactive(today=today, threshold_days=threshold_days)
    new_status = (
        F.when(expire, F.lit("inactive"))
        .when(promote, F.lit("active"))
        .otherwise(F.col("status"))
    )
    changed = ~new_status.eqNullSafe(F.col("status"))
    out = df.withColumn("__new_status", new_status)
    if "updated_at" in df.columns:
        out = out.withColumn(
            "updated_at", F.when(changed, F.current_timestamp()).otherwise(F.col("updated_at"))
        )
    return out.withColumn("status", F.col("__new_status")).drop("__new_status")


def stamp_first_last_seen(
    df: DataFrame, as_of: Column | None = None, date_added_col: str = "date_added"
) -> DataFrame:
    """L1 (source side): ``first_seen`` seeds from the batch's own
    ``date_added`` when that column is present — the reference inserts
    first_seen = row.date_added, falling back to today only when the feed
    carries none (04_master_list_loader.py:55-66; review r11 — stamping
    as_of unconditionally lost the historical onboarding date, and the
    preserve_cols merge then froze the wrong value forever). ``last_seen``
    is always ``as_of``; the merge preserves target.first_seen on matched
    rows."""
    as_of = F.current_date() if as_of is None else as_of
    first = (
        F.coalesce(F.col(date_added_col).try_cast("date"), as_of.cast("date"))
        if date_added_col in df.columns
        else as_of.cast("date")
    )
    return df.withColumn("first_seen", first).withColumn("last_seen", as_of.cast("date"))


def scd2_apply(
    history: DataFrame | None,
    snapshot: DataFrame,
    keys: list[str],
    tracked_cols: list[str],
    as_of,
    close_missing: bool = False,
) -> DataFrame:
    """SCD Type-2 history maintenance — the full-history extension of the
    reference's SCD1 lifecycle (first/last_seen + status overwrite keeps only
    the latest attribute values; Type 2 keeps every version with a validity
    range, the standard shape for auditable dimensions).

    ``history`` columns: ``keys + tracked_cols + (valid_from, valid_to,
    is_current)``; ``valid_to`` NULL and ``is_current`` True on the open
    version. ``snapshot`` is the entity state observed at date ``as_of``
    (one row per key — enforce upstream with dedup_keyed).

    Transition rules, all decided row-wise from ONE null-safe full-outer
    join of the current slice against the snapshot, matched on ``keys``
    the way the merge matches them (closed history rides through
    untouched — at scale, partition the table on is_current or store the
    current slice separately so this join never scans closed versions):

    - key in both, tracked attrs equal     -> keep the open version as-is
    - key in both, tracked attrs differ    -> close it (valid_to = as_of)
      and open a new version (valid_from = as_of)
    - key only in snapshot (new entity)    -> open first version
    - key only in history (disappeared)    -> keep open, or close when
      ``close_missing=True`` (hard-delete semantics)

    One ``selectExpr`` over the join emits each joined row's versions
    through one ``inline``: the history version it keeps or closes, and
    the version it opens. The join therefore runs once; one filtered
    select per branch would let the optimizer plan one join per branch. A
    NULL key part matches a NULL.

    Re-applying the same snapshot at the same date is a no-op (idempotent),
    because unchanged attrs take the keep branch and a re-observed change on
    the same day closes with valid_from == valid_to == as_of only once.
    """
    as_of = as_of if isinstance(as_of, Column) else F.lit(as_of)
    as_of = as_of.cast("date")
    cols = keys + tracked_cols
    snap = snapshot.select(*cols)

    if history is None:
        return snap.select(
            *cols,
            as_of.alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    closed = history.filter(~F.col("is_current"))
    current = history.filter(F.col("is_current"))
    s = snap.withColumn("__s_present", F.lit(True))
    joined = current.alias("t").join(s.alias("s"), F.expr(keys_match(keys, "<=>", "t", "s")), "full_outer")
    s_present = "(s.__s_present IS NOT NULL)"
    # empty tracked_cols = presence-only SCD2 (track key existence): a
    # re-observed key is never "changed", only appearance/disappearance moves
    changed = " OR ".join(f"(NOT (t.{ident(c)} <=> s.{ident(c)}))" for c in tracked_cols)
    changed = f"({changed or 'false'})"
    closes = f"IF({s_present}, {changed}, {'true' if close_missing else 'false'})"

    def version(side: str, valid_from: str, valid_to: str, is_current: str) -> str:
        fields = [f"{lit(c)}, {side}.{ident(c)}" for c in cols]
        fields += [f"'valid_from', {valid_from}", f"'valid_to', {valid_to}", f"'is_current', {is_current}"]
        return f"named_struct({', '.join(fields)})"

    kept = version("t", "t.valid_from", f"IF({closes}, __as_of, CAST(NULL AS DATE))", f"(NOT {closes})")
    opened = version("s", "__as_of", "CAST(NULL AS DATE)", "true")
    # every joined row holds a history version, a snapshot row, or both;
    # literal arrays of non-NULL structs keep the columns' nullability
    versions = (
        f"CASE WHEN (t.is_current IS NULL) THEN array({opened}) "
        f"WHEN ({s_present} AND {changed}) THEN array({kept}, {opened}) "
        f"ELSE array({kept}) END"
    )
    # as_of may be any date Column, so the text reads it as a column
    return closed.unionByName(joined.withColumn("__as_of", as_of).selectExpr(f"inline({versions})"))
