"""The per-column builders that emit SQL text vs their Column-API forms.

The merge kernel (and ``diff_frames`` on it), ``scd2_apply``, ``conform``, the row hashes,
the dedup windows and the daily cleans send their table-wide expressions to the JVM as SQL strings
(``selectExpr`` / one ``F.expr``). The ``ref_*`` functions below are the
same builders written as Column chains, one Column per table column, which
is how they were built before; they differ only in quoting every name
(``F.col("`a.b`")``), so a name with a dot or a backtick is one column and
never a nested path. Over one fixture with awkward names, NULL keys and
decimal, date, timestamp, array and struct columns, both forms must give
the same rows, the same ``row_hash`` bytes and the same ``MergeStats``;
over one landed fixture of dirty strings, every daily clean must give the
same rows and the same optimized plan as its Column chains.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from functools import reduce

import pytest
from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fund_data_pipeline_spark import _sql, conform, dedup, hashing, lifecycle, merge, parse, validate
from fund_data_pipeline_spark.hashing import SAFE_SEP
from fund_data_pipeline_spark.pipelines import (
    daily_nav,
    dividends,
    holdings,
    master_sync,
    price_history,
    static_details,
)
from fund_data_pipeline_spark.schemas import (
    ALLOCATIONS,
    ALLOCATIONS_KEY,
    DAILY_NAV_KEY,
    DIVIDEND_HISTORY,
    DIVIDEND_HISTORY_KEY,
    FUND_FEES,
    FUND_HOLDINGS,
    FUND_HOLDINGS_KEY,
    FUND_INFO,
    FUND_POLICY,
    FUND_RISK,
    PRICE_HISTORY,
    PRICE_HISTORY_KEY,
)

# ---------------------------------------------------------------------------
# reference builders: one Column per table column
# ---------------------------------------------------------------------------


def _col(name: str, alias: str | None = None):
    quoted = "`" + name.replace("`", "``") + "`"
    return F.col(f"{alias}.{quoted}" if alias else quoted)


def _ref_as_str(name):
    return F.coalesce(_col(name).cast("string"), F.lit(""))


def ref_row_hash_concat(cols):
    return F.md5(F.concat(*[_ref_as_str(c) for c in cols]))


def ref_row_hash_safe(cols):
    return F.md5(F.concat_ws(SAFE_SEP, *[_ref_as_str(c) for c in cols]))


def ref_all_columns_hash(df, exclude=("row_hash", "updated_at")):
    return ref_row_hash_concat([c for c in df.columns if c not in set(exclude)])


def ref_with_row_hash(df, hash_expr=None):
    expr = hash_expr if hash_expr is not None else ref_all_columns_hash(df)
    return df.withColumn("row_hash", expr).withColumn("updated_at", F.current_timestamp())


def ref_conform(df, schema, renames=None, clean_strings=True):
    df = conform.rename_synonyms(conform.normalize_headers(df), renames)
    cols = []
    for field in schema.fields:
        if field.name in df.columns:
            c = _col(field.name)
            if clean_strings and isinstance(df.schema[field.name].dataType, T.StringType):
                c = ref_null_sentinels_to_null(c)
            cols.append(c.try_cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


# the cleaning rules as Column chains (X1-X10, X13, F9, F10, S4)


def ref_null_sentinels_to_null(c):
    trimmed = F.trim(c)
    return F.when(F.lower(trimmed).isin(*conform.NULL_SENTINELS), F.lit(None)).otherwise(trimmed)


def ref_map_values(c, mapping):
    expr = None
    for src, dst in mapping.items():
        cond = c == F.lit(src)
        expr = F.when(cond, F.lit(dst)) if expr is None else expr.when(cond, F.lit(dst))
    return c if expr is None else expr.otherwise(c)


def ref_parse_percent(c):
    return F.regexp_replace(F.trim(c), r"[%,+]", "").try_cast("double")


def ref_parse_thousands(c):
    return F.regexp_replace(F.trim(c), ",", "").try_cast("double").try_cast("long")


def ref_parse_magnitude(c):
    s = F.lower(F.trim(c))
    num = F.regexp_replace(F.regexp_extract(s, r"(-?[\d,]*\.?\d+)", 1), ",", "").try_cast("double")
    suffix = F.regexp_extract(s, r"-?[\d,]*\.?\d+[ \t\n\x0B\f\r]*([kmbt])", 1)
    return (
        F.when(suffix == "k", num * 1e3)
        .when(suffix == "m", num * 1e6)
        .when(suffix == "b", num * 1e9)
        .when(suffix == "t", num * 1e12)
        .otherwise(num)
    )


def ref_percent_rescale(c):
    return F.when(c > 1.0, c / 100.0).otherwise(c)


def ref_magnitude_overflow_repair(c, limit=999.99):
    return F.when(F.abs(c) > F.lit(limit), c / 100.0).otherwise(c)


def ref_outlier_to_null(c, bound=1000.0):
    return F.when(F.abs(c) < F.lit(bound), c)


def ref_length_guard(c, max_len=20):
    return F.when(F.length(c) <= max_len, c)


def ref_path_date(c):
    return F.regexp_extract(c, r"(?:^|/)(\d{4}-\d{2}-\d{2})(?=/|$)", 1).try_cast("date")


def ref_ticker(c):
    return F.upper(F.trim(ref_null_sentinels_to_null(c)))


def ref_asset_type(c):
    return ref_map_values(ref_ticker(c), conform.ASSET_TYPE_MAP)


def ref_source(c):
    return ref_map_values(F.lower(F.trim(ref_null_sentinels_to_null(c))), conform.SOURCE_MAP)


# the daily cleans as they were built before, one Column chain per column


def ref_master_clean(df):
    df = conform.rename_synonyms(conform.normalize_headers(df))
    for c in master_sync.SCRAPE_COLUMNS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    df = df.select(
        ref_ticker(_col("ticker")).alias("ticker"),
        ref_asset_type(_col("asset_type")).alias("asset_type"),
        ref_null_sentinels_to_null(_col("name")).alias("name"),
        F.lower(F.trim(ref_null_sentinels_to_null(_col("status")))).alias("status"),
        ref_source(_col("source")).alias("source"),
        _col("date_added").try_cast("date").alias("date_added"),
    )
    return dedup.dedup_keyed(
        df, ["ticker", "asset_type", "source"], ["name", "status", "date_added"], keep="first"
    )


def ref_nav_clean(df, dedupe_order=("scrape_date", "origin_file")):
    df = conform.rename_synonyms(conform.normalize_headers(df))
    keep_order = [c for c in dedupe_order if c in df.columns] + ["nav_price"]
    base = ["ticker", "asset_type", "source", "nav_price", "currency", "as_of_date"]
    extras = [c for c in dict.fromkeys([*keep_order, "scrape_date"]) if c in df.columns and c not in base]
    df = df.select(
        ref_ticker(_col("ticker")).alias("ticker"),
        ref_ticker(_col("asset_type")).alias("asset_type"),
        ref_source(_col("source")).alias("source"),
        _col("nav_price").try_cast("decimal(18,4)").alias("nav_price"),
        F.coalesce(ref_null_sentinels_to_null(_col("currency")), F.lit("USD")).alias("currency"),
        _col("as_of_date").try_cast("date").alias("as_of_date"),
        *[(_col(c).try_cast("date") if c == "scrape_date" else _col(c)).alias(c) for c in extras],
    )
    df = validate.drop_null_keys(df, ["ticker", "as_of_date"])
    df = dedup.dedup_keyed(df, DAILY_NAV_KEY, keep_order, keep="last")
    return validate.positive_filter(df, "nav_price")


def ref_details_clean(df):
    df = conform.rename_synonyms(conform.normalize_headers(df))
    cols = []
    for c in df.columns:
        col = _col(c)
        if c == "ticker":
            col = ref_ticker(col)
        elif c == "asset_type":
            col = F.coalesce(ref_asset_type(col), F.lit("ETF"))
        elif c == "source":
            col = ref_source(col)
        elif c in ("assets_aum", "aum"):
            col = ref_parse_magnitude(col)
        elif c in static_details.PERCENT_SCALE_COLS:
            col = ref_percent_rescale(ref_parse_percent(col))
        elif c in static_details.OVERFLOW_REPAIR_COLS:
            col = ref_outlier_to_null(ref_magnitude_overflow_repair(ref_parse_percent(col)))
        elif c in static_details.OUTLIER_NULL_COLS:
            col = ref_outlier_to_null(ref_parse_percent(col))
        elif c in static_details.PERCENT_PARSE_COLS or c == "moving_avg_200":
            col = ref_parse_percent(col)
        elif c in ("holdings_count", "shares_out"):
            col = ref_parse_thousands(col).cast("double")
        elif c in ("inception_date", "as_of_date"):
            col = col.try_cast("date")
        elif isinstance(df.schema[c].dataType, T.StringType):
            col = ref_null_sentinels_to_null(col)
        cols.append(col.alias(c))
    return df.select(*cols)


def ref_clean_holdings(df):
    df = conform.rename_synonyms(conform.normalize_headers(df))
    if "as_of_date" not in df.columns and "origin_file" in df.columns:
        df = df.withColumn("as_of_date", ref_path_date(_col("origin_file")))
    if "holding_name" in df.columns:
        df = df.filter(
            ~F.lower(F.coalesce(_col("holding_name"), F.lit(""))).contains(holdings.SUMMARY_ROW_MARKER)
        )
    if "holding_percentage" in df.columns:
        df = df.withColumn("holding_percentage", ref_parse_percent(_col("holding_percentage")))
    if "holding_ticker" in df.columns:
        df = df.withColumn(
            "holding_ticker", ref_length_guard(ref_null_sentinels_to_null(_col("holding_ticker")), 20)
        )
    df = ref_conform(df, FUND_HOLDINGS, renames={})
    df = validate.drop_null_keys(df, ["ticker", "holding_name", "as_of_date"])
    df = dedup.dedup_min(df, FUND_HOLDINGS_KEY)
    return ref_with_row_hash(df, ref_all_columns_hash(df))


def ref_clean_allocations(df, allocation_type):
    renames = {k: v for k, v in conform.DEFAULT_RENAMES.items() if k not in ("item_name", "value_net")}
    df = conform.rename_synonyms(conform.normalize_headers(df), renames)
    df = df.withColumn("allocation_type", F.lit(allocation_type))
    if "as_of_date" not in df.columns and "origin_file" in df.columns:
        df = df.withColumn("as_of_date", ref_path_date(_col("origin_file")))
    for c in ("value_net", "value_category_avg", "value_long", "value_short"):
        if c in df.columns:
            df = df.withColumn(c, ref_parse_percent(_col(c)))
    df = ref_conform(df, ALLOCATIONS, renames={})
    df = validate.drop_null_keys(df, ["ticker", "item_name", "as_of_date"])
    df = dedup.dedup_min(df, ALLOCATIONS_KEY)
    return ref_with_row_hash(df, ref_all_columns_hash(df))


def ref_price_clean(df):
    df = conform.rename_synonyms(conform.normalize_headers(df))
    if "source" not in df.columns:
        df = df.withColumn("source", F.lit("stock_analysis"))
    if "volume" in df.columns:
        df = df.withColumn("volume", ref_parse_thousands(_col("volume")))
    if "date" in df.columns:
        df = df.withColumn("date", ref_null_sentinels_to_null(_col("date")).try_cast("date"))
    if "origin_file" in df.columns:
        df = dedup.dedup_keyed(df, PRICE_HISTORY_KEY, ["origin_file"], keep="last")
    df = ref_conform(df, PRICE_HISTORY, renames={})
    return validate.drop_null_keys(df, ["ticker", "date"])


def ref_dividends_clean(df, source="yahoo_finance"):
    df = conform.rename_synonyms(conform.normalize_headers(df))
    if "source" not in df.columns:
        df = df.withColumn("source", F.lit(source))
    if "type" in df.columns:
        df = df.withColumn("type", F.coalesce(ref_null_sentinels_to_null(_col("type")), F.lit("Cash")))
    else:
        df = df.withColumn("type", F.lit("Cash"))
    df = ref_conform(df, DIVIDEND_HISTORY, renames={})
    df = validate.drop_null_keys(df, ["ticker", "ex_date", "amount"])
    return dedup.dedup_min(df, DIVIDEND_HISTORY_KEY)


def ref_dedup_keyed(df, keys, order_by, keep="first"):
    pk = [_col(k) for k in keys]
    if keep == "last":
        w = Window.partitionBy(*pk).orderBy(*[_col(c).desc() for c in order_by])
    else:
        w = Window.partitionBy(*pk).orderBy(*[_col(c) for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def ref_dedup_min(df, keys):
    others = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*[_col(k) for k in keys]).agg(
        F.min(F.struct(*[_col(c) for c in others])).alias("__s")
    )
    return agg.select(
        *[_col(c) if c in keys else F.col("__s").getField(c).alias(c) for c in df.columns]
    )


def ref_merge_kernel(
    target,
    source,
    keys,
    hash_col,
    preserve_cols=(),
    always_update_cols=(),
    unconditional=False,
    precedence_col=None,
    allow_new_columns=False,
    null_safe_keys=True,
):
    # The typed NULL of a new column casts to the DataType object: the
    # simpleString cast used before could not parse a quoted struct field.
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    if null_safe_keys:
        cond = [_col(k, "t").eqNullSafe(_col(k, "s")) for k in keys]
    else:
        cond = [_col(k, "t") == _col(k, "s") for k in keys]
    joined = t.join(s, cond, "full_outer")
    s_present = F.col("s.__s_present").isNotNull()
    t_present = F.col("t.__t_present").isNotNull()
    changed = F.lit(True) if unconditional else ~_col(hash_col, "t").eqNullSafe(_col(hash_col, "s"))
    stale = F.lit(False)
    if precedence_col is not None:
        sp, tp = _col(precedence_col, "s"), _col(precedence_col, "t")
        stale = sp.isNotNull() & tp.isNotNull() & (sp < tp)
        changed = changed & ~stale
    out_cols = target.columns
    new_cols = [c for c in source.columns if c not in out_cols]
    if allow_new_columns:
        out_cols = out_cols + new_cols
    src_types = {f.name: f.dataType for f in source.schema.fields}
    merged = []
    for c in out_cols:
        s_c = _col(c, "s") if c in source.columns else F.lit(None)
        t_c = _col(c, "t") if c in target.columns else F.lit(None).cast(src_types[c])
        if c in keys:
            expr = F.coalesce(t_c, s_c)
        elif c in set(preserve_cols):
            expr = F.when(t_present, t_c).otherwise(s_c)
        elif c in set(always_update_cols) or c in new_cols:
            expr = F.when(s_present & ~stale, s_c).otherwise(t_c)
        else:
            expr = F.when(~t_present, s_c).when(~s_present, t_c).when(changed, s_c).otherwise(t_c)
        merged.append(expr.alias(c))
    action = (
        F.when(~t_present, F.lit("insert"))
        .when(~s_present, F.lit("keep"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*merged, action.alias("__action"))


def ref_diff_frames(old, new, keys, hash_col="row_hash"):
    # diff_frames as it was before it ran on the merge kernel: its own
    # presence markers and Column-chain classifier
    old_cols, new_cols = set(old.columns), new.columns
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    o = old.withColumn("__o_present", F.lit(True)).alias("o")
    n = new.withColumn("__n_present", F.lit(True)).alias("n")
    joined = o.join(n, cond, "full_outer")
    o_present = F.col("o.__o_present").isNotNull()
    n_present = F.col("n.__n_present").isNotNull()
    changed = ~F.col(f"o.{hash_col}").eqNullSafe(F.col(f"n.{hash_col}"))
    change_type = (
        F.when(~o_present, F.lit("insert"))
        .when(~n_present, F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit(None))
    )
    cols = [
        F.when(n_present, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
        if c in old_cols
        else F.col(f"n.{c}").alias(c)
        for c in new_cols
    ]
    return (
        joined.select(*cols, change_type.alias("_change_type"))
        .filter(F.col("_change_type").isNotNull())
    )


def ref_scd2_apply(history, snapshot, keys, tracked_cols, as_of, close_missing=False):
    # lifecycle.scd2_apply as it was before it classified in one pass: a
    # Column-chain full-outer join read through three filtered selects
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

    t = current.alias("t")
    s = snap.withColumn("__s_present", F.lit(True)).alias("s")
    joined = t.join(s, [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys], "full_outer")
    t_present = F.col("t.is_current").isNotNull()
    s_present = F.col("s.__s_present").isNotNull()
    changed = (
        reduce(
            lambda a, b: a | b,
            [~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}")) for c in tracked_cols],
        )
        if tracked_cols
        else F.lit(False)
    )

    def pick(c):
        return F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")) if c in keys else F.col(f"s.{c}")

    keep_open = joined.filter(
        (t_present & s_present & ~changed) | (t_present & ~s_present & F.lit(not close_missing))
    ).select(
        *[F.col(f"t.{c}").alias(c) for c in cols],
        F.col("t.valid_from").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    close_now = joined.filter(
        (t_present & s_present & changed) | (t_present & ~s_present & F.lit(close_missing))
    ).select(
        *[F.col(f"t.{c}").alias(c) for c in cols],
        F.col("t.valid_from").alias("valid_from"),
        as_of.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    open_now = joined.filter(s_present & (~t_present | changed)).select(
        *[pick(c).alias(c) for c in cols],
        as_of.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(keep_open).unionByName(close_now).unionByName(open_now)


# ---------------------------------------------------------------------------
# fixture
# ---------------------------------------------------------------------------

KEYS = ["id", "grp key", "dt"]
#: value columns the row hash covers (audit columns and seq left out)
HASHED = ["v.dot", "at`tick", "prix_€", "arr", "st"]

STRUCT = T.StructType([T.StructField("a b", T.IntegerType()), T.StructField("c", T.StringType())])
TABLE = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("grp key", T.StringType()),
        T.StructField("dt", T.DateType()),
        T.StructField("v.dot", T.DecimalType(18, 4)),
        T.StructField("at`tick", T.TimestampType()),
        T.StructField("prix_€", T.StringType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
        T.StructField("st", STRUCT),
        T.StructField("first_seen", T.DateType()),
        T.StructField("last_seen", T.TimestampType()),
        T.StructField("seq", T.LongType()),
    ]
)
#: the batch also carries a column the table lacks, with a struct field
#: whose name needs quoting
BATCH = T.StructType(
    TABLE.fields
    + [T.StructField("new col", T.StructType([T.StructField("x y", T.IntegerType())]))]
)

D1, D2 = dt.date(2024, 1, 2), dt.date(2024, 1, 3)
TS = dt.datetime(2024, 1, 2, 9, 30, 15, 250000)


def _row(i, grp, day, v, text, arr, st, seq, *, seen=0, new=None):
    return (
        i, grp, day, None if v is None else Decimal(v), TS + dt.timedelta(hours=i), text,
        arr, st, D1 - dt.timedelta(days=seen), TS + dt.timedelta(days=seen), seq, new,
    )


TARGET_ROWS = [
    _row(1, "a", D1, "1.5000", "é", [1, 2], (1, "x"), 10),
    _row(2, None, D1, "2.0000", "ü", [None], (None, "y"), 10),  # NULL key, updated
    _row(3, "c", D2, None, None, None, None, 10),  # not in the batch: kept
    _row(4, "d", D2, "4.0000", "ø", [4], (4, "z"), 10),  # stale update below
    _row(6, "f", D2, "6.0000", "ß", [6], (6, "w"), 10),
]
BATCH_ROWS = [
    _row(1, "a", D1, "1.5000", "é", [1, 2], (1, "x"), 11, seen=1, new=(1,)),  # hash equal
    _row(2, None, D1, "2.5000", "ü", [None], (None, "y"), 11, seen=1),  # NULL key match
    _row(4, "d", D2, "4.5000", "ø", [4], (4, "z"), 9, seen=1),  # older seq
    _row(5, None, D2, "5.0000", "日本", [], (5, None), 11, new=(5,)),  # insert, NULL key
    _row(6, "f", D2, "6.1000", "ß", [6], (6, "w"), 11),  # duplicate key:
    _row(6, "f", D2, "6.2000", "ß", [6, 7], (6, "w"), 11),  # keep='last' survivor
]


def _frame(spark, rows, schema, hash_fn):
    df = spark.createDataFrame([r[: len(schema.fields)] for r in rows], schema)
    return df.withColumn("row_hash", hash_fn(HASHED))


def _rows(df):
    return sorted(df.collect(), key=repr)


# ---------------------------------------------------------------------------
# equivalence
# ---------------------------------------------------------------------------


def test_sql_quoting_round_trips(spark):
    names = ["plain", "a b", "a.b", "a`b", "``", "prix_€", "日本", "x"]
    texts = ["", "it's", "back\\slash", "\\'", SAFE_SEP, "line\nbreak", "\\u0041", "日本"]
    row = spark.range(1).selectExpr(*[f"{_sql.lit(t)} AS {_sql.ident(n)}" for n, t in zip(names, texts)])
    assert row.columns == names
    assert list(row.first()) == texts
    typed = spark.range(1).selectExpr(f"CAST(NULL AS {_sql.sql_type(STRUCT)}) AS st")
    assert typed.schema["st"].dataType == STRUCT


def test_row_hashes_match_column_builders(spark):
    df = spark.createDataFrame([r[:11] for r in TARGET_ROWS + BATCH_ROWS], TABLE)
    cols = df.columns

    def hashes(concat, safe, every):
        return _rows(df.select("id", concat(cols).alias("h2"), safe(cols).alias("v2"), every(df).alias("h6")))

    got = hashes(hashing.row_hash_concat, hashing.row_hash_safe, hashing.all_columns_hash)
    assert got == hashes(ref_row_hash_concat, ref_row_hash_safe, ref_all_columns_hash)
    assert len({r.h6 for r in got}) == len(got)  # the hash sees every row's values

    new = hashing.with_row_hash(df.withColumn("row_hash", F.lit("stale")))
    ref = ref_with_row_hash(df.withColumn("row_hash", F.lit("stale")))
    assert new.columns == ref.columns
    assert _rows(new.drop("updated_at")) == _rows(ref.drop("updated_at"))
    assert new.filter(F.col("updated_at").isNull()).isEmpty()


def test_conform_matches_column_builder(spark):
    raw = spark.createDataFrame(
        [
            (" 1 ", "a", "1.50", "2024-01-02 09:30:00", "  é ", 7, "x"),
            ("2", " N/A ", "abc", "not a time", "nan", None, "y"),
            ("-", None, " 3 ", "", "-", 9, "z"),
        ],
        ["  ID ", "Grp Key", "V.Dot", "At`Tick", "Prix_€", "n", "Extra"],
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("grp key", T.StringType()),
            T.StructField("v.dot", T.DecimalType(18, 4)),
            T.StructField("at`tick", T.TimestampType()),
            T.StructField("prix_€", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("dt", T.DateType()),  # missing: typed NULLs
            T.StructField("arr", T.ArrayType(T.IntegerType())),
            T.StructField("st", STRUCT),
        ]
    )
    for clean in (True, False):
        new = conform.conform(conform.normalize_headers(raw), schema, clean_strings=clean)
        ref = ref_conform(raw, schema, renames={}, clean_strings=clean)
        assert new.schema == ref.schema == schema
        assert _rows(new) == _rows(ref)


@pytest.mark.parametrize("keep", ["first", "last"])
def test_dedup_keyed_matches_column_builder(spark, keep):
    df = spark.createDataFrame([r[:11] for r in TARGET_ROWS + BATCH_ROWS], TABLE)
    order = ["v.dot", "at`tick", "st", "arr"]
    new = dedup.dedup_keyed(df, ["grp key", "dt"], order, keep=keep)
    assert new.columns == df.columns
    assert _rows(new) == _rows(ref_dedup_keyed(df, ["grp key", "dt"], order, keep=keep))


def test_dedup_min_matches_column_builder(spark):
    df = spark.createDataFrame([r[:11] for r in TARGET_ROWS + BATCH_ROWS], TABLE)
    new = dedup.dedup_min(df, ["grp key", "dt"])
    assert new.columns == df.columns
    assert _rows(new) == _rows(ref_dedup_min(df, ["grp key", "dt"]))


MERGE_CASES = {
    "flat": {},
    "partitioned": {"partition_col": "dt", "preserve_cols": ["first_seen"]},
    "preserve_always_precedence": {
        "preserve_cols": ["first_seen"],
        "always_update_cols": ["last_seen"],
        "precedence_col": "seq",
    },
    "unconditional_precedence": {"unconditional": True, "precedence_col": "seq"},
    "new_columns": {"allow_new_columns": True, "always_update_cols": ["last_seen"]},
}


def _merge_run(spark, path, hash_fn, kwargs):
    target = _frame(spark, TARGET_ROWS, TABLE, hash_fn)
    batch = _frame(spark, BATCH_ROWS, BATCH, hash_fn)
    merge.merge_upsert(spark, str(path), target, KEYS, partition_col=kwargs.get("partition_col"))
    stats = merge.merge_upsert(spark, str(path), batch, KEYS, **kwargs)
    return _rows(merge.read_table(spark, str(path))), stats


@pytest.mark.parametrize("case", list(MERGE_CASES))
def test_merge_upsert_matches_column_builders(spark, tmp_path, monkeypatch, case):
    kwargs = MERGE_CASES[case]
    new_rows, new_stats = _merge_run(spark, tmp_path / "new", hashing.row_hash_safe, kwargs)
    monkeypatch.setattr(merge, "_merge_kernel", ref_merge_kernel)
    monkeypatch.setattr(merge, "dedup_keyed", ref_dedup_keyed)
    ref_rows, ref_stats = _merge_run(spark, tmp_path / "ref", ref_row_hash_safe, kwargs)

    assert new_rows == ref_rows
    assert (new_stats.inserted, new_stats.updated, new_stats.unchanged) == (
        ref_stats.inserted,
        ref_stats.updated,
        ref_stats.unchanged,
    )
    assert sorted(new_stats.touched_partitions or [], key=repr) == sorted(
        ref_stats.touched_partitions or [], key=repr
    )
    # the fixture reaches every branch: insert, update, unchanged and keep
    assert new_stats.inserted == 1 and new_stats.updated >= 1 and new_stats.unchanged >= 2
    assert ("new col" in merge.read_table(spark, str(tmp_path / "new")).columns) == (
        case == "new_columns"
    )


@pytest.mark.parametrize("null_safe_keys", [True, False])
def test_merge_as_dataframe_matches_column_builder(spark, null_safe_keys):
    target = _frame(spark, TARGET_ROWS, TABLE, hashing.row_hash_safe)
    batch = dedup.dedup_keyed(
        _frame(spark, BATCH_ROWS, BATCH, hashing.row_hash_safe), KEYS, HASHED, keep="last"
    )
    new = merge.merge_as_dataframe(
        target, batch, KEYS, preserve_cols=["first_seen"], null_safe_keys=null_safe_keys
    )
    ref = ref_merge_kernel(
        target, batch, KEYS, "row_hash", ["first_seen"], null_safe_keys=null_safe_keys
    ).drop("__action")
    assert new.columns == ref.columns == target.columns
    assert _rows(new) == _rows(ref)


#: diff_frames cases: (old rows, old schema, new rows, new schema); the
#: hash is over the value column(s) as text, so a NULL value hashes apart
DIFF_CASES = {
    "null_keys": (
        [(None, "x", 1), (None, "y", 2), (1, None, 3), (2, "z", 4)],
        "k1 int, k2 string, v int",
        [(None, "x", 1), (None, "y", 9), (1, None, 3), (3, None, 5)],
        "k1 int, k2 string, v int",
    ),
    "update_to_null": (
        [(1, None, 1), (2, None, 2), (3, None, 3)],
        "k1 int, k2 string, v int",
        [(1, None, None), (2, None, 2), (4, None, None)],
        "k1 int, k2 string, v int",
    ),
    "one_sided_columns": (
        [(1, "a", 1, "gone"), (2, "b", 2, "gone"), (3, "c", 3, "gone")],
        "k1 int, k2 string, v int, only_old string",
        [(1, "a", 1, 10.5), (2, "b", 7, None), (4, "d", 4, 0.25)],
        "k1 int, k2 string, v int, only_new double",
    ),
    "int_vs_bigint": (
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)],
        "k1 int, k2 string, v int",
        [(1, "a", 1), (2, "b", 2 ** 40), (4, "d", 4)],
        "k1 bigint, k2 string, v bigint",
    ),
    "no_changes": (
        [(1, "a", 1), (None, "b", None)],
        "k1 int, k2 string, v int",
        [(None, "b", None), (1, "a", 1)],
        "k1 int, k2 string, v int",
    ),
}


@pytest.mark.parametrize("case", list(DIFF_CASES))
def test_diff_frames_matches_column_builder(spark, case):
    """diff_frames on the merge kernel gives the rows and the schema of the
    Column-chain classifier it replaced."""
    old_rows, old_schema, new_rows, new_schema = DIFF_CASES[case]

    def frame(rows, schema):
        df = spark.createDataFrame(rows, schema)
        return df.withColumn("row_hash", F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in df.columns])))

    old, new = frame(old_rows, old_schema), frame(new_rows, new_schema)
    got = merge.diff_frames(old, new, ["k1", "k2"])
    ref = ref_diff_frames(old, new, ["k1", "k2"])
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)
    assert (case == "no_changes") == got.isEmpty()


#: scd2_apply cases: (keys, tracked_cols, history rows or None, snapshot
#: rows); a history row is keys + tracked + (valid_from, valid_to,
#: is_current), and every case runs at as_of = V3
V1, V2, V3 = dt.date(2024, 1, 1), dt.date(2024, 2, 1), dt.date(2024, 3, 1)
SCD2_CASES = {
    "no_history": (["k"], ["v"], None, [("a", "x"), (None, "y")]),
    "null_key": (
        ["k"], ["v"],
        [(None, "x", V1, None, True), ("a", "x", V1, None, True), ("b", "x", V1, None, True)],
        [(None, "z"), ("a", "x"), ("c", "w")],
    ),
    "null_tracked": (
        ["k"], ["v"],
        [("a", None, V1, None, True), ("b", None, V1, None, True), ("c", "x", V1, None, True)],
        [("a", None), ("b", "y"), ("c", None)],
    ),
    "presence_only": (
        ["k"], [],
        [("a", V1, None, True), (None, V1, None, True), ("b", V1, V2, False)],
        [("a",), ("c",)],
    ),
    "empty_snapshot": (
        ["k"], ["v"], [("a", "x", V1, None, True), (None, "y", V1, None, True)], [],
    ),
    "two_column_key": (
        ["k1", "k2"], ["v"],
        [(None, "x", "1", V1, None, True), ("a", None, "2", V1, None, True), ("a", "b", "3", V1, None, True)],
        [(None, "x", "9"), ("a", None, "2"), (None, None, "4")],
    ),
    "closed_history": (
        ["k"], ["v"],
        [("a", "w", V1, V2, False), ("a", "x", V2, None, True), ("b", "y", V1, V2, False), ("c", "y", V2, None, True)],
        [("a", "z"), ("b", "y"), ("c", "y")],
    ),
}


@pytest.mark.parametrize("close_missing", [False, True])
@pytest.mark.parametrize("case", list(SCD2_CASES))
def test_scd2_apply_matches_column_builder(spark, case, close_missing):
    """scd2_apply's one-pass classifier gives the rows and the schema of
    the three-select Column-chain form it replaced."""
    keys, tracked, history_rows, snap_rows = SCD2_CASES[case]
    cols = ", ".join(f"{c} string" for c in keys + tracked)
    snap = spark.createDataFrame(snap_rows, cols)
    history = None
    if history_rows is not None:
        history = spark.createDataFrame(
            history_rows, f"{cols}, valid_from date, valid_to date, is_current boolean"
        )
    got = lifecycle.scd2_apply(history, snap, keys, tracked, V3, close_missing)
    ref = ref_scd2_apply(history, snap, keys, tracked, V3, close_missing)
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)


# ---------------------------------------------------------------------------
# daily cleans: SQL-text rule tables vs the Column chains
# ---------------------------------------------------------------------------

#: every NULL sentinel, in mixed case and with padding
SENTINELS = ["", "  NaN ", "None", " NULL", "N/A ", " na", " - "]
#: MUTUAL FUND variants, and every SOURCE_MAP key in mixed case with padding
ASSET_TYPES = ["mutual fund", " Mutual Fund ", "MUTUALFUND", "Mutual_Fund", "etf", " fund", "bond", "n/a"]
SOURCES = [k.title() if i % 2 else f" {k.upper()} " for i, k in enumerate(conform.SOURCE_MAP)] + ["other", " - "]
#: '%', '+' and ',' in numbers, k/m/b/t suffixes before currency text, and
#: values on either side of 999.99 and 1000
NUMBERS = [
    "+1,234.5%", "12.3%", " 45 ", "0.45", "842.33m USD", "1.2b EUR", "5K usd", "3t", "-3.5 M gbp",
    "999.99", "999.98", "-999.995", "1000", "1000.0", "-1000", "1000.01", "150000", "99999",
    "1,234,567", "abc", "n/a", "",
]
DATES = ["2024-01-05", "2024-01-05T00:00:00", "2024-13-45", "not a date", "2024-02-30", " 2024-02-29 ", "N/A"]
TEXTS = ["Fund 1 Growth", "  padded  ", "Per Cent of Portfolio total", "ok", *SENTINELS]
#: the 20-character guard and one character past it
HOLDING_TICKERS = ["AAPL", "A" * 20, "B" * 21, " n/a ", "MSFT "]

DETAIL_COLUMNS = [
    c
    for c in dict.fromkeys(f.name for s in (FUND_INFO, FUND_FEES, FUND_RISK, FUND_POLICY) for f in s.fields)
    if c not in ("row_hash", "updated_at")
]


def _values(header):
    """The fixture's values for a landed column, picked by its header."""
    h = header.strip().lower()
    if h in ("symbol", "ticker"):
        return [" vtsax ", "VTSAX", "brk.b", " Fxaix", "", "N/A"]
    if h == "asset_type":
        return ASSET_TYPES
    if h == "source":
        return SOURCES
    if h == "holding_ticker":
        return HOLDING_TICKERS
    if h == "status":
        return [" Active", "INACTIVE ", "new", "", "None", "pending"]
    if "date" in h or h == "date":
        return DATES
    if h in ("fund name", "item_name", "type", "currency", "category", "name", "odd col", "odd.col"):
        return TEXTS
    return NUMBERS


def _landed(spark, headers, rows=66):
    """A landed frame: string columns named ``headers`` plus a per-row
    ``origin_file`` whose path carries a date directory (or none). Every
    column takes each of its values in turn, shifted by the column's
    position on each pass, so keys repeat with differing values."""
    cols = {h: _values(h) for h in headers}
    data = []
    for i in range(rows):
        row = [vals[(i + k * (i // len(vals))) % len(vals)] for k, vals in enumerate(cols.values())]
        day = ("2024-05-05", "export-2020-01-01/2024-05-06", "nodate")[i % 3]
        data.append((*row, f"/land/{day}/feed_{i:02d}.csv"))
    return spark.createDataFrame(data, T.StructType([T.StructField(h, T.StringType()) for h in [*headers, "origin_file"]]))


CLEANS = {
    "master_sync": (
        master_sync.clean, ref_master_clean,
        ["Symbol", "asset_type", "Fund Name", " Status", "source", "date_added"],
    ),
    "master_sync_missing_columns": (master_sync.clean, ref_master_clean, ["Symbol", "source"]),
    "daily_nav": (
        daily_nav.clean, ref_nav_clean,
        ["  Ticker ", "Asset_Type", "Source", "nav_price", "currency", "as_of_date", "scrape_date"],
    ),
    "static_details": (
        static_details.clean, ref_details_clean,
        ["Symbol", "Fund Name", "odd col", "odd.col"]
        + [c for c in DETAIL_COLUMNS if c not in ("ticker", "name")],
    ),
    "holdings": (
        holdings.clean_holdings, ref_clean_holdings,
        ["ticker", "asset_type", "source", "Item_Name", "holding_ticker", "Value_Net"],
    ),
    "holdings_dated": (
        holdings.clean_holdings, ref_clean_holdings,
        ["ticker", "asset_type", "source", "item_name", "holding_ticker", "value_net", "as_of_date"],
    ),
    "allocations": (
        lambda df: holdings.clean_allocations(df, "sector"),
        lambda df: ref_clean_allocations(df, "sector"),
        ["ticker", "asset_type", "source", "item_name", "value_net", "Value_Long", "value_short"],
    ),
    "price_history": (
        price_history.clean, ref_price_clean,
        ["ticker", "asset_type", "Date", "Open", "High", "Low", "Close", "Adj. Close", "Volume"],
    ),
    "dividends": (
        dividends.clean, ref_dividends_clean,
        ["ticker", "asset_type", "ex_dividend_date", "pay_date", "cash_amount", "type", "currency"],
    ),
    "dividends_untyped": (
        dividends.clean, ref_dividends_clean,
        ["ticker", "asset_type", "source", "ex_date", "Dividend", "currency"],
    ),
}


def _plan(df):
    """The optimized plan with expression ids and the run's clock masked."""
    import re

    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", text)


@pytest.mark.parametrize("case", list(CLEANS))
def test_daily_cleans_match_column_builders(spark, case):
    """Each daily clean, built as one ``selectExpr`` from its column -> rule
    table, gives the rows, the schema and the optimized plan of the Column
    chains it replaced (the plan comparison catches a literal typed
    DECIMAL where the chain had a double)."""
    clean, ref_clean, headers = CLEANS[case]
    raw = _landed(spark, headers)
    new, ref = clean(raw), ref_clean(raw)
    if "updated_at" in new.columns:  # the run's clock
        new, ref = new.drop("updated_at"), ref.drop("updated_at")
    assert new.schema == ref.schema
    assert _rows(new) == _rows(ref)
    assert new.count() > 0
    assert _plan(new) == _plan(ref)


def test_rules_match_column_builders_on_typed_inputs(spark):
    """The numeric rules over DECIMAL, double, long and string inputs give
    the Column chains' types, values and plans: a rule's double constant
    written as a bare ``100.0`` (a DECIMAL in SQL) would turn a DECIMAL
    input's result into a DECIMAL."""
    df = spark.sql(
        """SELECT * FROM VALUES
           (CAST(45.5 AS DECIMAL(12,2)), 45.5D, 45L, ' 12,345.5% '),
           (CAST(-1234.56 AS DECIMAL(12,2)), 999.99D, 1000L, 'n/a'),
           (CAST(0.5 AS DECIMAL(12,2)), -1000.0D, -999L, '1.5m usd'),
           (CAST(NULL AS DECIMAL(12,2)), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS STRING))
           AS t(d, x, n, s)"""
    )
    numeric, text = ["d", "x", "n"], ["s"]
    rules = [
        (parse.percent_rescale, ref_percent_rescale, numeric),
        (parse.magnitude_overflow_repair, ref_magnitude_overflow_repair, numeric),
        (parse.outlier_to_null, ref_outlier_to_null, numeric),
        (parse.parse_percent, ref_parse_percent, text),
        (parse.parse_thousands, ref_parse_thousands, text),
        (parse.parse_magnitude, ref_parse_magnitude, text),
        (parse.length_guard, ref_length_guard, text),
    ]
    new = df.select([new(c).alias(f"{i}_{c}") for i, (new, _, cols) in enumerate(rules) for c in cols])
    ref = df.select([ref(_col(c)).alias(f"{i}_{c}") for i, (_, ref, cols) in enumerate(rules) for c in cols])
    assert new.schema == ref.schema
    assert new.schema["0_d"].dataType == T.DoubleType()
    assert _rows(new) == _rows(ref)
    assert _plan(new) == _plan(ref)


def test_clean_fixture_reaches_every_rule(spark):
    """The fixture is not vacuous: after the cleans, sentinels are NULL,
    keys are normalized, numbers parse on both sides of each bound, the
    length guard and the summary-row filter fire."""
    master = master_sync.clean(_landed(spark, CLEANS["master_sync"][2])).collect()
    assert {r.asset_type for r in master} >= {"FUND", "ETF", "BOND", None}
    assert {r.source for r in master} >= set(conform.SOURCE_MAP.values()) | {"other", None}
    assert {r.ticker for r in master} >= {"VTSAX", "BRK.B", "FXAIX", None}
    nav = daily_nav.clean(_landed(spark, CLEANS["daily_nav"][2])).collect()
    assert "MUTUAL FUND" in {r.asset_type for r in nav}  # X1 only: no X3 map on the NAV feed
    details = static_details.clean(_landed(spark, CLEANS["static_details"][2])).collect()

    def got(col):
        return {None if r[col] is None else round(r[col], 6) for r in details}

    assert got("assets_aum") >= {842_330_000.0, 1.2e9, 5e3, 3e12, -3.5e6}
    assert got("expense_ratio") >= {12.345, 0.123, 0.45}  # X7: /100 above 1
    assert got("standard_dev_3y") >= {999.99, 10.0, -9.99995, None}  # X8 then F9
    assert got("sharpe_ratio_1y") >= {999.99, -999.995, None}  # F9 only
    assert got("holdings_count") >= {1_234_567.0, None}
    held = holdings.clean_holdings(_landed(spark, CLEANS["holdings"][2])).collect()
    assert {r.holding_ticker for r in held} >= {"AAPL", "A" * 20, None}
    assert "B" * 21 not in {r.holding_ticker for r in held}
    assert all("per cent of portfolio" not in r.holding_name.lower() for r in held)
    assert {str(r.as_of_date) for r in held} == {"2024-05-05", "2024-05-06"}


# ---------------------------------------------------------------------------
# round-trip guard
# ---------------------------------------------------------------------------


def test_wide_builders_cost_no_round_trips_per_column(spark, py4j_round_trips):
    """Building (not running) a merge, a ``conform`` and an all-columns hash
    over 60 columns costs what it costs over 6, plus py4j's transfer of the
    expression-string lists: py4j sends a Python list to the JVM one element
    per message, and two lists here grow with the width (the kernel's
    projection and ``conform``'s; ``conform`` no longer re-renames the
    headers its callers normalized). As Column chains the same builds cost
    about 240 more round trips per column."""

    def frame(width):
        schema = T.StructType(
            [T.StructField("id", T.LongType())]
            + [T.StructField(f"c{i}", T.StringType()) for i in range(width)]
            + [T.StructField("row_hash", T.StringType())]
        )
        return spark.createDataFrame([], schema), schema

    def build(df, schema):
        merge.merge_as_dataframe(df, df, ["id"])
        conform.conform(df, schema)
        hashing.with_row_hash(df, hashing.all_columns_hash(df))

    narrow, wide = frame(6), frame(60)
    build(*narrow)  # warm-up: first calls look up JVM classes and functions
    n6 = py4j_round_trips(lambda: build(*narrow))
    n60 = py4j_round_trips(lambda: build(*wide))
    assert n60 <= n6 + 2 * (60 - 6) + 20, (n6, n60)


def test_static_details_clean_build_cost(spark, py4j_round_trips):
    """Building (not running) ``static_details.clean`` over the 74 detail
    columns costs at most a tenth of the 7,195 py4j round trips it cost
    when every rule was a Column chain (about 97 per column). What is left
    grows by a few messages per column: py4j's one-message-per-element
    transfer of the header rename's and the ``selectExpr``'s lists."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in DETAIL_COLUMNS])
    static_details.clean(spark.createDataFrame([], schema))  # warm-up
    df = spark.createDataFrame([], schema)
    n = py4j_round_trips(lambda: static_details.clean(df))
    assert n <= 7195 // 10, n
