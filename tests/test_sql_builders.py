"""The per-column builders that emit SQL text vs their Column-API forms.

The merge kernel, ``conform``, the row hashes and the dedup windows send
their table-wide expressions to the JVM as SQL strings (``selectExpr`` /
one ``F.expr``). The ``ref_*`` functions below are the same builders written
as Column chains, one Column per table column, which is how they were built
before; they differ only in quoting every name (``F.col("`a.b`")``), so a
name with a dot or a backtick is one column and never a nested path. Over
one fixture with awkward names, NULL keys and decimal, date, timestamp,
array and struct columns, both forms must give the same rows, the same
``row_hash`` bytes and the same ``MergeStats``.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fund_data_pipeline_spark import _sql, conform, dedup, hashing, merge
from fund_data_pipeline_spark.hashing import SAFE_SEP

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
                c = conform.null_sentinels_to_null(c)
            cols.append(c.try_cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


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
        new = conform.conform(raw, schema, renames={}, clean_strings=clean)
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


# ---------------------------------------------------------------------------
# round-trip guard
# ---------------------------------------------------------------------------


def test_wide_builders_cost_no_round_trips_per_column(spark, py4j_round_trips):
    """Building (not running) a merge, a ``conform`` and an all-columns hash
    over 60 columns costs what it costs over 6, plus py4j's transfer of the
    expression-string lists: py4j sends a Python list to the JVM one element
    per message, and three lists here grow with the width (the kernel's
    projection, ``conform``'s header rename and its projection). As Column
    chains the same builds cost about 240 more round trips per column."""

    def frame(width):
        schema = T.StructType(
            [T.StructField("id", T.LongType())]
            + [T.StructField(f"c{i}", T.StringType()) for i in range(width)]
            + [T.StructField("row_hash", T.StringType())]
        )
        return spark.createDataFrame([], schema), schema

    def build(df, schema):
        merge.merge_as_dataframe(df, df, ["id"])
        conform.conform(df, schema, renames={})
        hashing.with_row_hash(df, hashing.all_columns_hash(df))

    narrow, wide = frame(6), frame(60)
    build(*narrow)  # warm-up: first calls look up JVM classes and functions
    n6 = py4j_round_trips(lambda: build(*narrow))
    n60 = py4j_round_trips(lambda: build(*wide))
    assert n60 <= n6 + 3 * (60 - 6) + 20, (n6, n60)
