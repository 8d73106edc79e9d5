"""Incremental materialized rollup (rollup.py): refresh touches only the
batch's partitions, converges to the full recompute, and handles the case
keyed upsert cannot — a partition whose base rows all disappeared."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fund_data_pipeline_spark.merge import merge_upsert
from fund_data_pipeline_spark.rollup import (
    build_rollup,
    read_rollup,
    refresh_rollup,
    rollup_frame,
)

def _measures():
    return {
        "total": F.sum("value"),
        "n": F.count(F.lit(1)),
        "mx": F.max("value"),
        # non-decomposable on purpose: recompute-from-base makes it exact
        "n_tickers": F.countDistinct("ticker"),
    }


def _base_rows(spark):
    rows = []
    for m, month in enumerate(["2024-01", "2024-02", "2024-03"]):
        for t in range(4):
            for i in range(5):
                rows.append((f"T{t}", month, (m + 1) * 100 + t * 10 + i))
    return spark.createDataFrame(rows, "ticker string, dt string, value long")


def _file_state(root: Path) -> dict[str, tuple[int, float]]:
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime)
        for p in root.rglob("*.parquet")
        if p.is_file()
    }


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_refresh_converges_and_leaves_untouched_partitions_alone(spark, tmp_path):
    base_path = tmp_path / "base"
    rollup_path = tmp_path / "rollup"
    base = _base_rows(spark).withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", "dt", F.col("value").cast("string")))
    )
    merge_upsert(
        spark, str(base_path), base, keys=["ticker", "dt", "value"], partition_col="dt"
    )

    base_df = spark.read.parquet(str(base_path))
    build_rollup(
        base_df,
        str(rollup_path),
        partition_col="dt",
        group_cols=["ticker"],
        measures=_measures(),
    )
    before = _file_state(rollup_path)
    assert any("dt=2024-01" in k for k in before)

    # late batch: modifies 2024-02 (new rows + a new ticker), nothing else
    batch = spark.createDataFrame(
        [("T0", "2024-02", 999), ("NEW", "2024-02", 1)],
        "ticker string, dt string, value long",
    ).withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", "dt", F.col("value").cast("string")))
    )
    merge_upsert(
        spark, str(base_path), batch, keys=["ticker", "dt", "value"], partition_col="dt"
    )

    base_df = spark.read.parquet(str(base_path))
    refresh_rollup(
        base_df,
        str(rollup_path),
        partition_col="dt",
        group_cols=["ticker"],
        measures=_measures(),
        touched=["2024-02"],
    )

    # converges to the full recompute (countDistinct included)
    expect = rollup_frame(base_df, "dt", ["ticker"], _measures())
    got = read_rollup(spark, str(rollup_path)).select(*[c for c in expect.columns])
    assert _sorted(got) == _sorted(expect)

    # untouched partitions byte-identical: same files, sizes, mtimes
    after = _file_state(rollup_path)
    for k, v in before.items():
        if "dt=2024-02" not in k:
            assert after[k] == v, f"untouched rollup file rewritten: {k}"


def test_refresh_drops_partition_with_no_surviving_base_rows(spark, tmp_path):
    base_path = tmp_path / "base"
    rollup_path = tmp_path / "rollup"
    _base_rows(spark).write.partitionBy("dt").parquet(str(base_path))
    base_df = spark.read.parquet(str(base_path))
    build_rollup(
        base_df,
        str(rollup_path),
        partition_col="dt",
        group_cols=["ticker"],
        measures=_measures(),
    )
    assert (rollup_path / "dt=2024-03").exists()

    # retention purge removes the whole 2024-03 partition from the base
    shutil.rmtree(base_path / "dt=2024-03")
    base_df = spark.read.parquet(str(base_path))
    refresh_rollup(
        base_df,
        str(rollup_path),
        partition_col="dt",
        group_cols=["ticker"],
        measures=_measures(),
        touched=["2024-03"],
    )
    assert not (rollup_path / "dt=2024-03").exists()
    got = read_rollup(spark, str(rollup_path))
    assert got.filter(F.col("dt") == "2024-03").count() == 0
    expect = rollup_frame(base_df, "dt", ["ticker"], _measures())
    assert _sorted(got.select(*expect.columns)) == _sorted(expect)


def test_refresh_empty_touched_is_noop(spark, tmp_path):
    base_path = tmp_path / "base"
    rollup_path = tmp_path / "rollup"
    _base_rows(spark).write.partitionBy("dt").parquet(str(base_path))
    base_df = spark.read.parquet(str(base_path))
    build_rollup(
        base_df,
        str(rollup_path),
        partition_col="dt",
        group_cols=["ticker"],
        measures=_measures(),
    )
    before = _file_state(rollup_path)
    refresh_rollup(
        base_df,
        str(rollup_path),
        partition_col="dt",
        group_cols=["ticker"],
        measures=_measures(),
        touched=[],
    )
    assert _file_state(rollup_path) == before


def test_refresh_before_build_refuses(spark, tmp_path):
    """refresh_rollup against a never-built rollup must refuse: the swap
    would mkdir a root holding ONLY the batch's partitions — a rollup that
    reads as valid while silently missing all history (review r12; the
    API-misuse twin of the crashed-build heal case)."""
    import pytest

    base_path = tmp_path / "base"
    _base_rows(spark).write.partitionBy("dt").parquet(str(base_path))
    with pytest.raises(FileNotFoundError, match="build_rollup"):
        refresh_rollup(
            spark.read.parquet(str(base_path)),
            str(tmp_path / "never_built"),
            partition_col="dt",
            group_cols=["ticker"],
            measures=_measures(),
            touched=["2024-01-01"],
        )
    assert not (tmp_path / "never_built").exists()


def test_delete_keys_prunes_partitions_and_drops_empties(spark, tmp_path):
    """GDPR keyed delete (maintenance.delete_keys): only partitions holding
    victim rows are rewritten, untouched partition files stay byte-identical,
    and a partition whose rows are all erased disappears."""
    from fund_data_pipeline_spark.maintenance import delete_keys

    base_path = tmp_path / "tbl"
    rows = []
    for month in ("2024-01", "2024-02", "2024-03"):
        for u in range(6):
            rows.append((f"user{u}", month, hash((month, u)) % 1000))
    # 2024-03 holds ONLY the victim user's rows
    rows = [r for r in rows if not (r[1] == "2024-03" and r[0] != "user5")]
    spark.createDataFrame(rows, "user_id string, dt string, v long").write.partitionBy(
        "dt"
    ).parquet(str(base_path))
    before = _file_state(base_path)

    victims = spark.createDataFrame([("user5",)], "user_id string")
    n = delete_keys(spark, str(base_path), victims, ["user_id"], partition_col="dt")
    assert n == 3  # one row per month

    got = spark.read.parquet(str(base_path))
    assert got.filter(F.col("user_id") == "user5").count() == 0
    assert got.count() == len(rows) - 3
    assert not (base_path / "dt=2024-03").exists()
    after = _file_state(base_path)
    assert before.keys() - after.keys()  # rewritten partitions changed files
    # no stale semi-join artifacts: idempotent re-run deletes nothing
    assert delete_keys(spark, str(base_path), victims, ["user_id"], partition_col="dt") == 0


def test_delete_keys_unpartitioned_atomic_rewrite(spark, tmp_path):
    from fund_data_pipeline_spark.maintenance import delete_keys

    p = tmp_path / "flat"
    spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(30)], "id long, user_id string"
    ).write.parquet(str(p))
    victims = spark.createDataFrame([("u1",)], "user_id string")
    n = delete_keys(spark, str(p), victims, ["user_id"])
    assert n == 10
    left = spark.read.parquet(str(p))
    assert left.count() == 20
    assert left.filter(F.col("user_id") == "u1").count() == 0


def test_delete_keys_on_manifest_table_publishes_new_version(spark, tmp_path):
    """delete_keys must resolve a manifest table's live snapshot through the
    pointer (a naive parquet read lists zero files — snapshot dirs are
    underscore-prefixed) and publish the delete as a new snapshot version."""
    from fund_data_pipeline_spark.maintenance import delete_keys
    from fund_data_pipeline_spark.merge import list_versions, merge_upsert, read_table
    from pyspark.sql import functions as F2

    path = str(tmp_path / "m")
    df = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(30)], "id long, user_id string"
    ).withColumn("row_hash", F.md5(F2.col("id").cast("string")))
    merge_upsert(spark, path, df, keys=["id"], layout="manifest", history=3)
    assert list_versions(path) == [1]

    victims = spark.createDataFrame([("u1",)], "user_id string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        delete_keys(spark, path, victims, ["user_id"], partition_col="user_id")

    n = delete_keys(spark, path, victims, ["user_id"], history=3)
    assert n == 10
    assert list_versions(path) == [1, 2]  # delete published as a new version
    live = read_table(spark, path)
    assert live.count() == 20
    assert live.filter(F2.col("user_id") == "u1").count() == 0
    # time travel still sees the pre-delete state
    assert read_table(spark, path, version=1).count() == 30


def test_delete_keys_erases_null_partition_victims(spark, tmp_path):
    """Review finding: plain isin is not null-safe, so victims living in the
    __HIVE_DEFAULT_PARTITION__ partition were counted as deleted but never
    erased. The null partition must be rewritten like any other."""
    from fund_data_pipeline_spark.maintenance import delete_keys

    p = tmp_path / "tbl"
    spark.createDataFrame(
        [("u1", "2024-01", 1), ("u1", None, 2), ("u2", None, 3), ("u2", "2024-02", 4)],
        "user_id string, dt string, v long",
    ).write.partitionBy("dt").parquet(str(p))
    assert (p / "dt=__HIVE_DEFAULT_PARTITION__").exists()

    victims = spark.createDataFrame([("u1",)], "user_id string")
    n = delete_keys(spark, str(p), victims, ["user_id"], partition_col="dt")
    assert n == 2
    left = spark.read.parquet(str(p))
    assert left.filter(F.col("user_id") == "u1").count() == 0
    # u2's null-partition row survives; the null partition was rewritten,
    # not dropped
    assert left.filter(F.col("dt").isNull()).count() == 1
    assert left.count() == 2


@pytest.mark.parametrize("layout", ["flat", "manifest", "hive"])
def test_delete_keys_matches_null_keys_null_safely(spark, tmp_path, layout):
    """A NULL key part erases the rows holding NULL there, as the merge
    matches keys (a plain equi-join never matches NULL, so the erasure
    found nothing and left every row). On every layout, also for a
    two-column key with one NULL part; a rerun finds no victims and writes
    nothing, so a manifest table gains no version."""
    from fund_data_pipeline_spark.maintenance import delete_keys
    from fund_data_pipeline_spark.merge import list_versions, read_table

    rows = [(None, "x", "d1", 1), (None, "y", "d1", 2), ("A", None, "d2", 3), ("A", "x", None, 4)]
    df = spark.createDataFrame(rows, "k1 string, k2 string, dt string, v long")
    path = str(tmp_path / layout)
    partition_col = "dt" if layout == "hive" else None
    if layout == "manifest":
        merge_upsert(spark, path, df.withColumn("row_hash", F.lit("h")), keys=["k1", "k2"], layout="manifest")
    elif layout == "hive":
        df.write.partitionBy("dt").parquet(path)
    else:
        df.write.parquet(path)

    def left():
        return {(r.k1, r.k2, r.v) for r in read_table(spark, path).collect()}

    one = spark.createDataFrame([(None,)], "k1 string")
    assert delete_keys(spark, path, one, ["k1"], partition_col=partition_col) == 2
    assert left() == {("A", None, 3), ("A", "x", 4)}

    two = spark.createDataFrame([("A", None), (None, "x")], "k1 string, k2 string")
    assert delete_keys(spark, path, two, ["k1", "k2"], partition_col=partition_col) == 1
    assert left() == {("A", "x", 4)}

    versions = list_versions(path) if layout == "manifest" else None
    assert delete_keys(spark, path, two, ["k1", "k2"], partition_col=partition_col) == 0
    assert left() == {("A", "x", 4)}
    if layout == "manifest":
        assert versions[-1] == 3  # each erasure above published one version
        assert list_versions(path) == versions


def test_delete_keys_escaped_partition_value_dir_handling(spark, tmp_path):
    """Partition values Spark percent-escapes (':' etc.) must still have
    their directory found when the partition empties out."""
    from fund_data_pipeline_spark.maintenance import delete_keys
    from fund_data_pipeline_spark.merge import hive_partition_dir

    p = tmp_path / "tbl"
    spark.createDataFrame(
        [("u1", "a:b", 1), ("u2", "plain", 2)],
        "user_id string, dt string, v long",
    ).write.partitionBy("dt").parquet(str(p))
    escaped = hive_partition_dir("dt", "a:b")
    assert (p / escaped).exists(), f"helper disagrees with Spark: {escaped}"

    victims = spark.createDataFrame([("u1",)], "user_id string")
    n = delete_keys(spark, str(p), victims, ["user_id"], partition_col="dt")
    assert n == 1
    assert not (p / escaped).exists()  # emptied partition dir dropped
    assert spark.read.parquet(str(p)).count() == 1


def test_layout_guards_refuse_cross_layout_writes(spark, tmp_path):
    """Every cross-layout write corrupts silently (manifest-over-flat buries
    rows as orphans, partition swap into a flat root mixes layouts, flat
    rewrite of a hive root destroys partitioning) — all four directions must
    refuse loudly."""
    import pytest

    from fund_data_pipeline_spark.maintenance import delete_keys
    from fund_data_pipeline_spark.merge import merge_upsert

    flat = str(tmp_path / "flat")
    df = spark.createDataFrame([("A", "d1", 1)], "k string, dt string, v long").withColumn(
        "row_hash", F.md5(F.col("v").cast("string"))
    )
    merge_upsert(spark, flat, df, keys=["k"])  # flat rename table
    with pytest.raises(ValueError, match="flat-layout"):
        merge_upsert(spark, flat, df, keys=["k"], layout="manifest")
    with pytest.raises(ValueError, match="flat-layout"):
        merge_upsert(spark, flat, df, keys=["k", "dt"], partition_col="dt")
    victims = spark.createDataFrame([("A",)], "k string")
    with pytest.raises(ValueError, match="flat-layout"):
        delete_keys(spark, flat, victims, ["k"], partition_col="dt")

    hive = str(tmp_path / "hive")
    merge_upsert(spark, hive, df, keys=["k", "dt"], partition_col="dt")
    with pytest.raises(ValueError, match="hive-layout"):
        merge_upsert(spark, hive, df, keys=["k"])  # flat write over hive
    with pytest.raises(ValueError, match="hive-layout"):
        delete_keys(spark, hive, victims, ["k"])  # unpartitioned delete


def test_apply_changes_on_partitioned_replica(spark, tmp_path):
    """CDC apply against a hive-partitioned replica: deletes and upserts
    both run partition-pruned, and the untouched partition's files stay
    byte-identical."""
    from fund_data_pipeline_spark.merge import apply_changes, merge_upsert

    replica = tmp_path / "replica"
    rows = [("A", "2024-01", 1.0), ("B", "2024-01", 2.0), ("C", "2024-02", 3.0)]
    df = spark.createDataFrame(rows, "k string, dt string, v double").withColumn(
        "row_hash", F.md5(F.concat_ws("|", "k", "dt", F.col("v").cast("string")))
    )
    merge_upsert(spark, str(replica), df, keys=["k", "dt"], partition_col="dt")
    before_feb = _file_state(replica / "dt=2024-02")

    feed = spark.createDataFrame(
        [
            ("A", "2024-01", 9.0, "update"),
            ("B", "2024-01", 2.0, "delete"),
            ("D", "2024-01", 4.0, "insert"),
        ],
        "k string, dt string, v double, _change_type string",
    ).withColumn("row_hash", F.md5(F.concat_ws("|", "k", "dt", F.col("v").cast("string"))))
    apply_changes(spark, str(replica), feed, keys=["k", "dt"], partition_col="dt")

    got = {(r.k, r.dt): r.v for r in spark.read.parquet(str(replica)).collect()}
    assert got == {("A", "2024-01"): 9.0, ("D", "2024-01"): 4.0, ("C", "2024-02"): 3.0}
    assert _file_state(replica / "dt=2024-02") == before_feb


def test_delete_keys_wide_erasure_prunes_every_touched_partition(spark, tmp_path):
    """An erasure spanning 70 partitions, the NULL partition among them,
    deletes every victim row, and a partition holding no victim keeps its
    files byte-identical."""
    from fund_data_pipeline_spark.maintenance import delete_keys

    p = tmp_path / "tbl"
    rows = [
        (f"u{i % 2}", f"p{m:02d}", i * 10 + m) for m in range(1, 70) for i in range(4)
    ]
    rows += [("u1", None, 1), ("u0", None, 2), ("u0", "p99", 3)]
    spark.createDataFrame(rows, "user_id string, dt string, v long").write.partitionBy(
        "dt"
    ).parquet(str(p))
    spared = _file_state(p / "dt=p99")

    victims = spark.createDataFrame([("u1",)], "user_id string")
    n = delete_keys(spark, str(p), victims, ["user_id"], partition_col="dt")
    assert n == 139  # 2 rows x 69 partitions + 1 in the NULL partition
    left = spark.read.parquet(str(p))
    assert left.filter(F.col("user_id") == "u1").count() == 0
    assert left.count() == 140
    assert left.filter(F.col("dt").isNull()).count() == 1
    assert _file_state(p / "dt=p99") == spared


def test_refresh_heals_crashed_build_before_swapping(spark, tmp_path):
    """A build that crashed between its two renames leaves only
    ``<rollup>.__old__``. A refresh arriving next must restore that full
    backup FIRST (review r9) — swapping into a freshly-mkdir'd root would
    publish a rollup holding only the refreshed partition."""
    base_path = tmp_path / "base"
    rollup_path = tmp_path / "rollup"
    base = _base_rows(spark).withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", "dt", F.col("value").cast("string")))
    )
    merge_upsert(
        spark, str(base_path), base, keys=["ticker", "dt", "value"], partition_col="dt"
    )
    base_df = spark.read.parquet(str(base_path))
    build_rollup(
        base_df, str(rollup_path), partition_col="dt", group_cols=["ticker"], measures=_measures()
    )
    # simulate the crash: live dir gone, intact backup left behind
    rollup_path.rename(tmp_path / "rollup.__old__")

    refresh_rollup(
        base_df,
        str(rollup_path),
        partition_col="dt",
        group_cols=["ticker"],
        measures=_measures(),
        touched=["2024-02"],
    )
    # full table back (all three months), not just the refreshed partition
    expect = rollup_frame(base_df, "dt", ["ticker"], _measures())
    got = read_rollup(spark, str(rollup_path)).select(*expect.columns)
    assert _sorted(got) == _sorted(expect)
    assert not (tmp_path / "rollup.__old__").exists()
