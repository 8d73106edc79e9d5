"""Storage-layout tests for the merge engine: partition-pruned merges must
leave untouched partitions byte-identical, the manifest layout must swap via
the pointer file only, and crashed swaps must self-heal on retry."""

from __future__ import annotations

import pytest
from pathlib import Path
from pyspark.sql import functions as F

from fund_data_pipeline_spark import maintenance
from fund_data_pipeline_spark.merge import (
    MANIFEST_NAME,
    merge_upsert,
    read_table,
)


def _snapshot(spark, rows):
    df = spark.createDataFrame(rows, "ticker string, dt string, value double")
    return df.withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", "dt", F.col("value").cast("string")))
    )


def _file_state(root):
    """(relative-path -> (size, mtime_ns)) for every parquet data file."""
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.rglob("*.parquet")
    }


def test_partition_pruned_merge_leaves_other_partitions_untouched(spark, tmp_path):
    path = tmp_path / "prices"
    base = _snapshot(
        spark,
        [
            ("AAA", "2024-01-01", 10.0),
            ("BBB", "2024-01-01", 11.0),
            ("AAA", "2024-01-02", 12.0),
        ],
    )
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    assert (path / "dt=2024-01-01").is_dir() and (path / "dt=2024-01-02").is_dir()

    before = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    assert before, "expected data files in the untouched partition"

    batch = _snapshot(
        spark,
        [
            ("AAA", "2024-01-02", 99.0),  # update in place
            ("CCC", "2024-01-03", 13.0),  # brand-new partition
        ],
    )
    stats = merge_upsert(
        spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt"
    )
    assert stats.inserted == 1 and stats.updated == 1

    after = {k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")}
    assert after == before  # same files, same bytes, same mtimes — never rewritten

    out = {
        (r["ticker"], r["dt"]): r["value"]
        for r in spark.read.parquet(str(path)).collect()
    }
    assert out == {
        ("AAA", "2024-01-01"): 10.0,
        ("BBB", "2024-01-01"): 11.0,
        ("AAA", "2024-01-02"): 99.0,
        ("CCC", "2024-01-03"): 13.0,
    }


@pytest.mark.parametrize(
    "layout_kw", [{"partition_col": "dt"}, {}, {"layout": "manifest"}], ids=["hive", "flat", "manifest"]
)
def test_merge_empty_batch_counts_zero(spark, tmp_path, layout_kw):
    """An empty batch reports zero counts and changes nothing, both as the
    create and merged into an existing table. Its plan is statically empty:
    the observed counts must still come back as zeros, not raise."""
    path = str(tmp_path / "t")
    keys = ["ticker", "dt"]
    empty = _snapshot(spark, [])
    created = merge_upsert(spark, path, empty, keys=keys, **layout_kw)
    assert (created.inserted, created.updated, created.unchanged) == (0, 0, 0)

    base = _snapshot(spark, [("AAA", "2024-01-01", 10.0), ("BBB", "2024-01-02", 11.0)])
    assert merge_upsert(spark, path, base, keys=keys, **layout_kw).inserted == 2
    before = sorted(read_table(spark, path).collect())
    stats = merge_upsert(spark, path, empty, keys=keys, **layout_kw)
    assert stats.inserted == stats.updated == 0
    assert sorted(read_table(spark, path).collect()) == before


def test_partition_pruned_merge_is_idempotent(spark, tmp_path):
    path = tmp_path / "prices"
    base = _snapshot(spark, [("AAA", "2024-01-01", 1.0), ("AAA", "2024-01-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    batch = _snapshot(spark, [("AAA", "2024-01-02", 5.0)])
    for _ in range(2):
        merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    rows = sorted(
        (r["ticker"], r["dt"], r["value"]) for r in spark.read.parquet(str(path)).collect()
    )
    assert rows == [("AAA", "2024-01-01", 1.0), ("AAA", "2024-01-02", 5.0)]


def test_partition_col_must_be_a_key(spark, tmp_path):
    df = _snapshot(spark, [("AAA", "2024-01-01", 1.0)])
    with pytest.raises(ValueError, match="must be part of keys"):
        merge_upsert(spark, str(tmp_path / "t"), df, keys=["ticker"], partition_col="dt")


def test_manifest_layout_swaps_via_pointer(spark, tmp_path):
    path = tmp_path / "master"
    base = _snapshot(spark, [("AAA", "2024-01-01", 1.0), ("BBB", "2024-01-01", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker"], layout="manifest")
    assert (path / MANIFEST_NAME).read_text() == "_v_00001"

    batch = _snapshot(spark, [("BBB", "2024-01-01", 7.0)])
    merge_upsert(spark, str(path), batch, keys=["ticker"], layout="manifest")
    assert (path / MANIFEST_NAME).read_text() == "_v_00002"
    assert not (path / "_v_00001").exists()  # superseded snapshot pruned

    out = {r["ticker"]: r["value"] for r in read_table(spark, str(path)).collect()}
    assert out == {"AAA": 1.0, "BBB": 7.0}


def test_compact_partition_recovers_from_crashed_swap(spark, tmp_path):
    path = tmp_path / "t"
    spark.range(0, 100).write.parquet(str(path))
    # simulate a crash between the two swap renames: only the (dot-prefixed,
    # discovery-invisible) backup exists
    path.rename(tmp_path / ".t.__old__")
    n = maintenance.compact_partition(spark, str(path))
    assert n >= 1
    assert spark.read.parquet(str(path)).count() == 100
    assert not (tmp_path / ".t.__old__").exists()

    # a missing target with no backup is a loud, explained error
    with pytest.raises(FileNotFoundError, match="no crash backup"):
        maintenance.compact_partition(spark, str(tmp_path / "nope"))


def test_compact_partition_refuses_partitioned_root(spark, tmp_path):
    root = tmp_path / "parts"
    df = spark.range(0, 10).withColumn("dt", F.lit("2024-01-01"))
    df.write.partitionBy("dt").parquet(str(root))
    with pytest.raises(ValueError, match="leaf partition"):
        maintenance.compact_partition(spark, str(root))


def test_connected_components_unconverged_raises(spark, monkeypatch):
    from fund_data_pipeline_spark.operators import graph

    nodes = spark.range(0, 6).withColumnRenamed("id", "node")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    # a bound of 0 keeps the distributed path: the driver union-find would
    # solve the chain outright and never hit the cap
    monkeypatch.setattr(graph, "CC_COLLECT_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "_CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="fixpoint"):
        graph.connected_components(nodes, chain).collect()


def test_vacuum_snapshots_removes_orphans_only(spark, tmp_path):
    """vacuum collects below-live leftovers (a crashed post-swap prune) and
    never touches the live snapshot or anything at/above the pointer — an
    at-or-above version may belong to a concurrent writer."""
    from fund_data_pipeline_spark import maintenance
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = str(tmp_path / "t")
    df = spark.range(10).withColumnRenamed("id", "k").withColumn(
        "row_hash", F.md5(F.col("k").cast("string"))
    )
    merge_upsert(spark, path, df, keys=["k"], layout="manifest")
    merge_upsert(spark, path, df.limit(5), keys=["k"], layout="manifest")  # live = _v_00002
    before = sorted(r.k for r in read_table(spark, path).collect())

    # crashed post-swap prune: the superseded snapshot lingers below live
    stale = tmp_path / "t" / "_v_00001"
    df.limit(3).write.parquet(str(stale))
    # concurrent/crashed writer ABOVE the pointer: must be left alone
    inflight = tmp_path / "t" / "_v_00003"
    df.limit(2).write.parquet(str(inflight))

    removed = maintenance.vacuum_snapshots(path)
    assert removed == ["_v_00001"]
    assert inflight.exists()
    assert sorted(r.k for r in read_table(spark, path).collect()) == before
    # idempotent: nothing below live remains
    assert maintenance.vacuum_snapshots(path) == []


def _hashed(spark, rows, schema="ticker string, value double, first_seen string"):
    df = spark.createDataFrame(rows, schema)
    return df.withColumn(
        "row_hash", F.md5(F.concat_ws("|", F.coalesce("ticker", F.lit("")), F.col("value").cast("string")))
    )


def test_merge_null_key_target_row_is_matched_not_inserted(spark, tmp_path):
    """eqNullSafe keys mean a NULL key can match; presence markers (not
    key-null tests) must classify that row as an update, keep preserve_cols
    from the target, and not duplicate it."""
    path = tmp_path / "nullkey"
    base = _hashed(spark, [("AAA", 1.0, "day0"), (None, 2.0, "day0")])
    merge_upsert(spark, str(path), base, keys=["ticker"], preserve_cols=["first_seen"])

    batch = _hashed(spark, [(None, 9.0, "day5")])  # same NULL key, new value
    stats = merge_upsert(
        spark, str(path), batch, keys=["ticker"],
        preserve_cols=["first_seen"],
    )
    assert stats.inserted == 0 and stats.updated == 1 and stats.unchanged == 1

    rows = {r["ticker"]: (r["value"], r["first_seen"]) for r in spark.read.parquet(str(path)).collect()}
    assert len(rows) == 2
    assert rows[None] == (9.0, "day0")  # value updated, first_seen preserved from target
    assert rows["AAA"] == (1.0, "day0")


def test_merge_as_dataframe_null_key_matches(spark):
    from fund_data_pipeline_spark.merge import merge_as_dataframe

    t = _hashed(spark, [(None, 2.0, "day0")])
    s = _hashed(spark, [(None, 9.0, "day5")])
    out = merge_as_dataframe(t, s, ["ticker"], preserve_cols=["first_seen"]).collect()
    assert len(out) == 1
    assert out[0]["value"] == 9.0 and out[0]["first_seen"] == "day0"


def test_merge_schema_evolution(spark, tmp_path):
    path = tmp_path / "evolve"
    base = _hashed(spark, [("AAA", 1.0, "d0"), ("BBB", 2.0, "d0")])
    merge_upsert(spark, str(path), base, keys=["ticker"])

    batch = _hashed(spark, [("BBB", 2.0, "d1")]).withColumn("sector", F.lit("tech"))

    # default: conform-to-target, new column dropped
    merge_upsert(spark, str(path), batch, keys=["ticker"])
    assert "sector" not in spark.read.parquet(str(path)).columns

    # allow_new_columns: schema widens; matched row gets the value even though
    # its hash is unchanged (the old hash predates the column); unmatched
    # target rows get NULL
    merge_upsert(spark, str(path), batch, keys=["ticker"], allow_new_columns=True)
    out = {r["ticker"]: r["sector"] for r in spark.read.parquet(str(path)).collect()}
    assert out == {"AAA": None, "BBB": "tech"}


def test_partitioned_merge_schema_evolution_survives_mixed_footers(spark, tmp_path):
    """allow_new_columns + partition_col rewrites ONLY the touched partition,
    so on-disk files legitimately differ in schema width. read_table (and the
    next pruned merge) must see the evolved column deterministically — NULL in
    untouched partitions, values in the touched one — regardless of which file
    a one-footer schema sample would have picked (ADVICE r5)."""
    path = tmp_path / "evolve_part"
    base = _snapshot(
        spark,
        [("AAA", "2024-01-01", 10.0), ("BBB", "2024-01-02", 11.0)],
    )
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")

    untouched_before = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    batch = _snapshot(spark, [("BBB", "2024-01-02", 12.0)]).withColumn(
        "sector", F.lit("tech")
    )
    merge_upsert(
        spark,
        str(path),
        batch,
        keys=["ticker", "dt"],
        partition_col="dt",
        allow_new_columns=True,
    )
    # untouched partition is byte-identical (still the narrow schema on disk)
    untouched_after = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    assert untouched_after == untouched_before

    out = read_table(spark, str(path))
    assert "sector" in out.columns
    got = {r["ticker"]: r["sector"] for r in out.collect()}
    assert got == {"AAA": None, "BBB": "tech"}

    # a further pruned merge against the mixed-schema table must also see the
    # evolved column (its target read footer-merges), and keep its value
    batch2 = _snapshot(spark, [("AAA", "2024-01-01", 10.5)])
    merge_upsert(
        spark, str(path), batch2, keys=["ticker", "dt"], partition_col="dt"
    )
    out2 = {r["ticker"]: (r["value"], r["sector"]) for r in read_table(spark, str(path)).collect()}
    assert out2 == {"AAA": (10.5, None), "BBB": (12.0, "tech")}


def test_merge_reserved_column_names_raise(spark, tmp_path):
    df = _hashed(spark, [("AAA", 1.0, "d0")]).withColumn("__t_present", F.lit(True))
    path = tmp_path / "rsv"
    merge_upsert(spark, str(path), df.drop("__t_present"), keys=["ticker"])
    with pytest.raises(ValueError, match="reserved"):
        merge_upsert(spark, str(path), df, keys=["ticker"])


def test_wide_backfill_reports_every_touched_partition(spark, tmp_path):
    """A backfill touching 70 partitions, one of them the NULL partition,
    reports all 70 values on the stats, counts every action right, and
    leaves the partitions it did not touch byte-identical."""
    path = tmp_path / "backfill"
    days = [f"2024-{i // 28 + 1:02d}-{i % 28 + 1:02d}" for i in range(89)]
    old, new = days[:80], days[80:]
    base = _snapshot(
        spark,
        [(t, d, float(i)) for i, d in enumerate(old) for t in ("AAA", "BBB")]
        + [("NUL", None, 1.0), ("NU2", None, 2.0)],
    )
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    untouched = tuple(f"dt={d}" for d in old[60:])
    before = {k: v for k, v in _file_state(path).items() if k.startswith(untouched)}
    assert len({k.split("/")[0] for k in before}) == 20

    # 60 AAA updates (their BBB twins stay), 9 brand-new partitions, and in
    # the NULL partition one update (NU2 stays) plus one insert
    batch = _snapshot(
        spark,
        [("AAA", d, 100.0 + i) for i, d in enumerate(old[:60])]
        + [("CCC", d, 7.0) for d in new]
        + [("NUL", None, 9.0), ("NEW", None, 3.0)],
    )
    stats = merge_upsert(
        spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt"
    )
    assert len(stats.touched_partitions) == 70
    assert set(stats.touched_partitions) == {*old[:60], *new, None}
    assert (stats.inserted, stats.updated, stats.unchanged) == (10, 61, 61)

    after = {k: v for k, v in _file_state(path).items() if k.startswith(untouched)}
    assert after == before

    out = {
        (r["ticker"], r["dt"]): r["value"] for r in spark.read.parquet(str(path)).collect()
    }
    assert len(out) == 172
    assert all(out[("AAA", d)] == 100.0 + i for i, d in enumerate(old[:60]))
    assert all(out[("BBB", d)] == float(i) for i, d in enumerate(old))
    assert all(out[("AAA", d)] == float(i) for i, d in enumerate(old) if i >= 60)
    assert all(out[("CCC", d)] == 7.0 for d in new)
    assert out[("NUL", None)] == 9.0 and out[("NU2", None)] == 2.0
    assert out[("NEW", None)] == 3.0


def test_manifest_history_time_travel_and_cdc(spark, tmp_path):
    """history=N retains the last N snapshots: older versions stay readable
    (time travel), table_changes classifies insert/update/delete between any
    two retained versions, and snapshots beyond the window are pruned."""
    from fund_data_pipeline_spark.merge import (
        _manifest_write,
        list_versions,
        merge_upsert,
        read_table,
        table_changes,
    )

    path = str(tmp_path / "t")
    v1 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0), ("C", "d1", 3.0)])
    merge_upsert(spark, path, v1, keys=["ticker"], layout="manifest", history=3)
    v2 = _snapshot(spark, [("B", "d1", 5.0), ("D", "d1", 4.0)])
    merge_upsert(spark, path, v2, keys=["ticker"], layout="manifest", history=3)
    assert list_versions(path) == [1, 2]

    # time travel: v1 is still the pre-merge state
    old = {r.ticker: r.value for r in read_table(spark, path, version=1).collect()}
    assert old == {"A": 1.0, "B": 2.0, "C": 3.0}
    live = {r.ticker: r.value for r in read_table(spark, path).collect()}
    assert live == {"A": 1.0, "B": 5.0, "C": 3.0, "D": 4.0}

    changes = {
        r.ticker: r._change_type
        for r in table_changes(spark, path, 1, 2, keys=["ticker"]).collect()
    }
    assert changes == {"B": "update", "D": "insert"}  # A/C unchanged -> omitted

    # a snapshot written without C: CDC must classify the disappearance
    v3 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 5.0), ("D", "d1", 4.0)])
    _manifest_write(v3, Path(path), history=3)
    ch = table_changes(spark, path, 2, 3, keys=["ticker"])
    rows = {r.ticker: (r._change_type, r.value) for r in ch.collect()}
    assert rows == {"C": ("delete", 3.0)}  # delete carries the v_from row

    # window rolls: the 4th merge prunes v1
    merge_upsert(
        spark,
        path,
        _snapshot(spark, [("E", "d1", 9.0)]),
        keys=["ticker"],
        layout="manifest",
        history=3,
    )
    assert list_versions(path) == [2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)


def test_vacuum_keep_last_preserves_time_travel_window(spark, tmp_path):
    from fund_data_pipeline_spark import maintenance
    from fund_data_pipeline_spark.merge import list_versions, merge_upsert

    path = str(tmp_path / "t")
    for i in range(4):
        merge_upsert(
            spark,
            path,
            _snapshot(spark, [("A", "d1", float(i))]),
            keys=["ticker"],
            layout="manifest",
            history=4,
        )
    assert list_versions(path) == [1, 2, 3, 4]
    removed = maintenance.vacuum_snapshots(path, keep_last=3)
    assert removed == ["_v_00001"]
    assert list_versions(path) == [2, 3, 4]
    # default janitor honors the table's persisted retention (history=4
    # above): a pass with no keep_last must NOT collect the window
    assert maintenance.vacuum_snapshots(path) == []
    assert list_versions(path) == [2, 3, 4]
    # explicit keep_last=1 still collapses to live-only
    assert maintenance.vacuum_snapshots(path, keep_last=1) == ["_v_00002", "_v_00003"]
    assert list_versions(path) == [4]


def test_manifest_write_recovers_from_crashed_snapshot(spark, tmp_path):
    """A writer that crashed AFTER writing its snapshot directory but BEFORE
    repointing the manifest leaves an orphan at version live+1. The next
    merge must claim that version: discard the half-written orphan, write
    its own complete snapshot there, and repoint — readers never observe
    the orphan because the pointer never referenced it."""
    from fund_data_pipeline_spark.merge import list_versions, merge_upsert, read_table

    path = tmp_path / "t"
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("A", "d1", 1.0)]),
        keys=["ticker"],
        layout="manifest",
    )
    assert list_versions(str(path)) == [1]

    # simulate the crash: an incomplete _v_00002 with junk, pointer still at 1
    orphan = path / "_v_00002"
    orphan.mkdir()
    (orphan / "part-junk.parquet").write_bytes(b"not parquet at all")
    assert (path / "_MANIFEST").read_text().strip() == "_v_00001"

    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("B", "d1", 2.0)]),
        keys=["ticker"],
        layout="manifest",
    )
    assert (path / "_MANIFEST").read_text().strip() == "_v_00002"
    got = {r.ticker: r.value for r in read_table(spark, str(path)).collect()}
    assert got == {"A": 1.0, "B": 2.0}
    assert not (orphan / "part-junk.parquet").exists()


def test_apply_changes_syncs_replica(spark, tmp_path):
    """CDC end-to-end: table_changes(v1, v2) from the primary, applied to a
    replica holding the v1 state, must reproduce exactly the v2 state —
    and re-applying the same feed is a no-op."""
    from fund_data_pipeline_spark.merge import (
        _manifest_write,
        apply_changes,
        merge_upsert,
        read_table,
        table_changes,
    )

    primary = str(tmp_path / "primary")
    replica = str(tmp_path / "replica")
    v1 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0), ("C", "d1", 3.0)])
    merge_upsert(spark, primary, v1, keys=["ticker"], layout="manifest", history=3)
    # v2: B updated, D inserted, C deleted (snapshot written directly — the
    # merge itself never deletes)
    v2 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 5.0), ("D", "d1", 4.0)])
    _manifest_write(v2, Path(primary), history=3)

    merge_upsert(spark, replica, v1, keys=["ticker"])  # replica at v1
    feed = table_changes(spark, primary, 1, 2, keys=["ticker"])
    apply_changes(spark, replica, feed, keys=["ticker"])

    def state(path):
        return sorted(
            (r.ticker, r.value) for r in read_table(spark, path).collect()
        )

    assert state(replica) == state(primary)

    apply_changes(spark, replica, feed, keys=["ticker"])  # idempotent
    assert state(replica) == state(primary)


def test_rename_merge_refuses_manifest_table(spark, tmp_path):
    """A rename-layout merge over a manifest table would atomically replace
    the directory — pointer, snapshots, history all gone — and silently
    convert the layout. It must refuse instead; apply_changes auto-follows
    the replica's layout (exercised by test_apply_changes_syncs_replica on
    a manifest primary)."""
    from fund_data_pipeline_spark.merge import apply_changes, merge_upsert, read_table

    path = str(tmp_path / "t")
    v1 = _snapshot(spark, [("A", "d1", 1.0)])
    merge_upsert(spark, path, v1, keys=["ticker"], layout="manifest")
    with pytest.raises(ValueError, match="manifest-layout"):
        merge_upsert(spark, path, v1, keys=["ticker"])  # default rename layout

    # apply_changes on the same table auto-detects and upgrades the layout
    feed = _snapshot(spark, [("B", "d1", 2.0)]).withColumn(
        "_change_type", F.lit("insert")
    )
    apply_changes(spark, path, feed, keys=["ticker"])
    got = {r.ticker for r in read_table(spark, path).collect()}
    assert got == {"A", "B"}
    assert (tmp_path / "t" / "_MANIFEST").exists()


def test_retention_persisted_in_manifest_pointer(spark, tmp_path):
    """A merge with history=N persists the retention as a table property in
    the manifest pointer; later writers using the DEFAULT history (None)
    inherit it instead of silently pruning the time-travel window — the
    Delta-table-property behavior."""
    from fund_data_pipeline_spark.merge import list_versions, merge_upsert

    path = str(tmp_path / "t")
    merge_upsert(
        spark, path, _snapshot(spark, [("A", "d1", 1.0)]),
        keys=["ticker"], layout="manifest", history=3,
    )
    assert "retention=3" in (tmp_path / "t" / "_MANIFEST").read_text()
    # two default-history writers: window must survive both
    for i in (2, 3):
        merge_upsert(
            spark, path, _snapshot(spark, [("A", "d1", float(i))]),
            keys=["ticker"], layout="manifest",
        )
    assert list_versions(path) == [1, 2, 3]
    # an explicit history shrinks AND re-persists
    merge_upsert(
        spark, path, _snapshot(spark, [("A", "d1", 9.0)]),
        keys=["ticker"], layout="manifest", history=1,
    )
    assert list_versions(path) == [4]
    assert "retention" not in (tmp_path / "t" / "_MANIFEST").read_text()


def test_apply_changes_manifest_is_single_commit(spark, tmp_path):
    """Applying a feed with BOTH deletes and upserts to a manifest replica
    must publish exactly ONE new version — no intermediate delete-only
    snapshot a concurrent reader (or CDC consumer) could observe."""
    from fund_data_pipeline_spark.merge import (
        apply_changes,
        list_versions,
        merge_upsert,
        read_table,
    )

    replica = str(tmp_path / "replica")
    v1 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0), ("C", "d1", 3.0)])
    merge_upsert(spark, replica, v1, keys=["ticker"], layout="manifest", history=5)
    assert list_versions(replica) == [1]

    feed = (
        _snapshot(spark, [("C", "d1", 3.0)]).withColumn("_change_type", F.lit("delete"))
        .unionByName(
            _snapshot(spark, [("B", "d1", 5.0)]).withColumn("_change_type", F.lit("update"))
        )
        .unionByName(
            _snapshot(spark, [("D", "d1", 4.0)]).withColumn("_change_type", F.lit("insert"))
        )
    )
    apply_changes(spark, replica, feed, keys=["ticker"])
    assert list_versions(replica) == [1, 2]  # exactly one commit for the feed
    got = sorted((r.ticker, r.value) for r in read_table(spark, replica).collect())
    assert got == [("A", 1.0), ("B", 5.0), ("D", 4.0)]

    apply_changes(spark, replica, feed, keys=["ticker"])  # idempotent content
    got2 = sorted((r.ticker, r.value) for r in read_table(spark, replica).collect())
    assert got2 == got


def test_apply_changes_empty_feed_is_noop(spark, tmp_path):
    """An empty change feed must not publish a snapshot version: a no-op
    sync that burned a version could push real snapshots out of the
    persisted retention window."""
    from fund_data_pipeline_spark.merge import apply_changes, list_versions, merge_upsert

    replica = str(tmp_path / "replica")
    v1 = _snapshot(spark, [("A", "d1", 1.0)])
    merge_upsert(spark, replica, v1, keys=["ticker"], layout="manifest", history=3)
    empty = _snapshot(spark, []).withColumn("_change_type", F.lit("update")).limit(0)
    apply_changes(spark, replica, empty, keys=["ticker"])
    assert list_versions(replica) == [1]  # no version burned


def test_empty_manifest_file_is_handled(spark, tmp_path):
    """A zero-byte _MANIFEST (crash mid-create) must raise a clear
    corrupt-table error from read_table, and vacuum_snapshots must degrade
    to a no-op instead of crashing with IndexError."""
    import pytest

    from fund_data_pipeline_spark import maintenance
    from fund_data_pipeline_spark.merge import MANIFEST_NAME, read_table

    path = tmp_path / "corrupt"
    path.mkdir()
    (path / MANIFEST_NAME).write_text("")
    with pytest.raises(ValueError, match="corrupt manifest"):
        read_table(spark, str(path))
    assert maintenance.vacuum_snapshots(path) == []


def test_partition_pruned_merge_keeps_null_partition_rows(spark, tmp_path):
    """A batch touching the NULL partition (__HIVE_DEFAULT_PARTITION__) must
    merge INTO it like any other partition — the prune filter is null-safe,
    so pre-existing NULL-partition rows survive a merge that only updates
    one of them (review r8: plain isin dropped them and the swap replaced
    the whole partition with source-only content)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = str(tmp_path / "t")
    base = _snapshot(
        spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-01", 2.0), ("CCC", None, 3.0), ("DDD", None, 4.0)]
    )
    merge_upsert(spark, path, base, keys=["ticker", "dt"], partition_col="dt")
    batch = _snapshot(spark, [("CCC", None, 9.0)])  # update one NULL-partition row
    merge_upsert(spark, path, batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.dt, r.value) for r in read_table(spark, path).collect())
    assert got == [
        ("AAA", "2024-01", 1.0),
        ("BBB", "2024-01", 2.0),
        ("CCC", None, 9.0),
        ("DDD", None, 4.0),  # the other NULL-partition row must survive
    ]


def test_merge_heals_crashed_flat_swap_before_create_decision(spark, tmp_path):
    """A crash between _atomic_write's two renames leaves ONLY the backup
    dir. merge_upsert must heal BEFORE its existence check — otherwise it
    sees no table, takes the CREATE branch, and the heal inside the writer
    restores the full old table just in time for the source-only staging
    to be swapped over it, silently deleting every pre-crash row not in
    the batch (review r11)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker"])
    path.rename(tmp_path / "t.__old__")  # simulate the crash state
    batch = _snapshot(spark, [("CCC", "2024-03", 3.0)])
    merge_upsert(spark, str(path), batch, keys=["ticker"])
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 1.0), ("BBB", 2.0), ("CCC", 3.0)]
    assert not (tmp_path / "t.__old__").exists()


def test_merge_heals_crashed_partition_swap_on_same_partition(spark, tmp_path):
    """The orphaned-backup heal must run BEFORE the merge reads the target:
    when the next batch touches the SAME partition as the orphan, the
    pruned read would see that partition as empty, classify every batch
    row as insert, and the in-writer heal would restore the backup only
    for the swap to drop it (review r11 — the existing foreign-orphan
    test touches a different partition and so never hit this)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-01", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    (path / "dt=2024-01").rename(path / ".dt=2024-01.__old__")
    batch = _snapshot(spark, [("BBB", "2024-01", 5.0)])  # SAME partition
    merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 1.0), ("BBB", 5.0)]  # AAA survived the heal+merge
    assert not (path / ".dt=2024-01.__old__").exists()


def test_delete_keys_heals_crashed_swap_before_read(spark, tmp_path):
    """delete_keys reads the target to find victims; against a crashed-swap
    table it must heal first or it deletes against the wrong state
    (review r11)."""
    from fund_data_pipeline_spark.maintenance import delete_keys
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker"])
    path.rename(tmp_path / "t.__old__")
    victims = spark.createDataFrame([("AAA",)], "ticker string")
    n = delete_keys(spark, str(path), victims, ["ticker"])
    assert n == 1
    got = [(r.ticker, r.value) for r in read_table(spark, str(path)).collect()]
    assert got == [("BBB", 2.0)]


def test_merge_default_dedupe_order_is_deterministic(spark, tmp_path):
    """With no dedupe_order, a duplicate-key batch must keep the same
    survivor on every run and partitioning: the default now orders by the
    NON-key columns (keep='last' -> max tuple). The old default ordered by
    the key itself — constant within its own window partition, i.e. an
    arbitrary survivor that could flip a rerun's row hash (review r11)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    rows = [("AAA", "2024-01", 1.0), ("AAA", "2024-01", 9.0), ("AAA", "2024-01", 4.0)]
    for n_parts in (1, 5):
        path = tmp_path / f"t{n_parts}"
        merge_upsert(
            spark, str(path), _snapshot(spark, rows).repartition(n_parts), keys=["ticker"]
        )
        got = [(r.ticker, r.value) for r in read_table(spark, str(path)).collect()]
        assert got == [("AAA", 9.0)], n_parts  # max (dt, value) tuple


def test_merge_default_dedupe_order_skips_unorderable_columns(spark, tmp_path):
    """A source carrying a map column must still merge with the DEFAULT
    tiebreak: maps are unorderable in Spark, so the all-non-key-columns
    default (review r11) would fail at analysis where the old keys-only
    default worked — a silent API regression for generic callers. The
    default now filters to orderable columns; the survivor is still the
    deterministic max over those (ADVICE r11)."""
    from fund_data_pipeline_spark.merge import _dedupe_order, merge_upsert, read_table

    df = spark.createDataFrame(
        [("AAA", "2024-01", 1.0, {"s": "x"}), ("AAA", "2024-02", 9.0, {"s": "y"})],
        "ticker string, dt string, value double, props map<string,string>",
    )
    assert _dedupe_order(df, ["ticker"], None) == ["dt", "value"]
    path = tmp_path / "t"
    merge_upsert(spark, str(path), df, keys=["ticker"])
    got = [(r.ticker, r.dt, r.value, dict(r.props)) for r in read_table(spark, str(path)).collect()]
    assert got == [("AAA", "2024-02", 9.0, {"s": "y"})]
    # every column unorderable except the key: falls back to the keys
    only_map = df.select("ticker", "props")
    assert _dedupe_order(only_map, ["ticker"], None) == ["ticker"]


def test_list_versions_sorts_numerically(spark, tmp_path):
    """Version order must be numeric, not lexicographic: _v_100000 (6
    digits, written once %05d widens) sorts before _v_99999 by name, and
    the documented 'live version is the last entry' breaks (review r11).
    The janitor walks the same order, so it reports what it removed by
    version too."""
    from fund_data_pipeline_spark.merge import MANIFEST_NAME, list_versions

    path = tmp_path / "t"
    path.mkdir()
    (path / MANIFEST_NAME).write_text("_v_100001")
    for v in (99999, 100000, 7, 100001):
        (path / f"_v_{v:05d}").mkdir()
    assert list_versions(str(path)) == [7, 99999, 100000, 100001]
    removed = maintenance.vacuum_snapshots(str(path), keep_last=1)
    assert removed == ["_v_00007", "_v_99999", "_v_100000"]
    assert list_versions(str(path)) == [100001]


def test_partition_swap_heals_foreign_orphan_backup(spark, tmp_path):
    """A crash between the two swap renames of an EARLIER batch leaves only
    the (dot-prefixed) backup; the next merge — touching a DIFFERENT
    partition — must restore it, and the backup must never be visible to
    partition discovery meanwhile."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    # simulate the crash: partition dir renamed to backup, dest missing
    (path / "dt=2024-01").rename(path / ".dt=2024-01.__old__")
    # hidden backup: reads don't see a bogus '2024-01.__old__' partition
    assert sorted(r.dt for r in spark.read.parquet(str(path)).collect()) == ["2024-02"]
    batch = _snapshot(spark, [("BBB", "2024-02", 5.0)])  # touches another partition
    merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 1.0), ("BBB", 5.0)]  # orphan healed, batch applied
    assert not (path / ".dt=2024-01.__old__").exists()


def test_partition_swap_heals_legacy_undotted_backup(spark, tmp_path):
    """A crash leftover from the pre-dot-prefix release wrote VISIBLE
    '<pcol>=v.__old__' backups; the healing loop must also restore/delete
    those (review r9: they'd otherwise be parsed by partition discovery as
    a real partition with value 'v.__old__' — the exact corruption the
    rename was meant to prevent)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    # legacy crash between renames: dest missing, un-dotted backup IS the data
    (path / "dt=2024-01").rename(path / "dt=2024-01.__old__")
    batch = _snapshot(spark, [("BBB", "2024-02", 5.0)])  # touches another partition
    merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.dt, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 5.0)]
    assert not (path / "dt=2024-01.__old__").exists()

    # legacy crash AFTER the swap: dest present, stale un-dotted backup
    (path / "dt=2024-02.__old__").mkdir()
    batch2 = _snapshot(spark, [("AAA", "2024-01", 7.0)])
    merge_upsert(spark, str(path), batch2, keys=["ticker", "dt"], partition_col="dt")
    assert not (path / "dt=2024-02.__old__").exists()  # stale backup deleted
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 7.0), ("BBB", 5.0)]


def test_first_write_into_precreated_empty_dir(spark, tmp_path):
    """An operator-pre-created empty directory (or a crash-orphaned _v_*
    snapshot with no manifest pointer) must not classify as an existing
    flat table and brick the first/retried write (review r8)."""
    from fund_data_pipeline_spark.merge import detect_layout, list_versions, merge_upsert

    path = tmp_path / "t"
    path.mkdir()
    assert detect_layout(path) is None
    merge_upsert(spark, str(path), _snapshot(spark, [("A", "d1", 1.0)]),
                 keys=["ticker"], layout="manifest")
    assert detect_layout(path) == "manifest" and list_versions(str(path)) == [1]

    # crashed first manifest write: snapshot dir exists, pointer never written
    p2 = tmp_path / "t2"
    (p2 / "_v_00001").mkdir(parents=True)
    assert detect_layout(p2) is None
    merge_upsert(spark, str(p2), _snapshot(spark, [("A", "d1", 1.0)]),
                 keys=["ticker"], layout="manifest")
    assert list_versions(str(p2)) == [1]

    # pre-created empty dir before a hive-partitioned first merge
    p3 = tmp_path / "t3"
    p3.mkdir()
    merge_upsert(spark, str(p3), _snapshot(spark, [("A", "2024-01", 1.0)]),
                 keys=["ticker", "dt"], partition_col="dt")
    assert detect_layout(p3) == "hive"


def test_apply_changes_bootstraps_missing_replica_with_deletes(spark, tmp_path):
    """Replaying a CDC feed that contains deletes against a not-yet-existing
    replica must treat the deletes as no-ops and create the replica from
    the upserts (review r8: previously crashed in delete_keys)."""
    from fund_data_pipeline_spark.merge import apply_changes, read_table

    replica = str(tmp_path / "replica")
    feed = (
        _snapshot(spark, [("GONE", "d1", 0.0)]).withColumn("_change_type", F.lit("delete"))
        .unionByName(
            _snapshot(spark, [("A", "d1", 1.0)]).withColumn("_change_type", F.lit("insert"))
        )
    )
    apply_changes(spark, replica, feed, keys=["ticker"])
    got = [(r.ticker, r.value) for r in read_table(spark, replica).collect()]
    assert got == [("A", 1.0)]


def test_diff_frames_rejects_reserved_columns(spark):
    """diff_frames runs on the merge kernel, so it refuses the kernel's
    reserved names on either side."""
    from fund_data_pipeline_spark.merge import diff_frames

    clean = spark.createDataFrame([(1, "h")], "k long, row_hash string")
    for name in ("__t_present", "__s_present", "__action"):
        df = clean.withColumn(name, F.lit(True))
        for old, new in ((clean, df), (df, clean)):
            with pytest.raises(ValueError, match="reserved by the merge"):
                diff_frames(old, new, ["k"])


def _feed(spark, rows):
    """A change feed over ``(ticker, dt, value)`` rows with their
    ``_change_type``."""
    df = spark.createDataFrame(rows, "ticker string, dt string, value double, _change_type string")
    return df.withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", "dt", F.col("value").cast("string")))
    )


def _count_swaps(monkeypatch):
    from fund_data_pipeline_spark import merge

    swapped = []
    real = merge._swap_in

    def counting(staged, live):
        swapped.append(live.name)
        real(staged, live)

    monkeypatch.setattr(merge, "_swap_in", counting)
    return swapped


def test_apply_changes_flat_replica_is_one_swap(spark, tmp_path, monkeypatch):
    """A feed with deletes and upserts is one merge and one write on a flat
    replica: the table directory is swapped once, so no reader sees the
    delete-only state."""
    from fund_data_pipeline_spark.merge import apply_changes

    replica = str(tmp_path / "replica")
    merge_upsert(spark, replica, _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0)]), keys=["ticker"])
    feed = _feed(spark, [("A", "d1", 1.0, "delete"), ("B", "d1", 5.0, "update"), ("C", "d1", 3.0, "insert")])
    swapped = _count_swaps(monkeypatch)
    apply_changes(spark, replica, feed, keys=["ticker"])
    assert swapped == ["replica"]
    got = sorted((r.ticker, r.value) for r in read_table(spark, replica).collect())
    assert got == [("B", 5.0), ("C", 3.0)]


def test_apply_changes_hive_replica_swaps_each_touched_partition_once(spark, tmp_path, monkeypatch):
    """On a hive replica the feed's deletes and upserts of one partition
    land in one swap of that partition; untouched partitions are not
    swapped."""
    from fund_data_pipeline_spark.merge import apply_changes

    replica = tmp_path / "replica"
    base = [("A", "2024-01", 1.0), ("B", "2024-01", 2.0), ("C", "2024-02", 3.0)]
    hive = {"keys": ["ticker", "dt"], "partition_col": "dt"}
    merge_upsert(spark, str(replica), _snapshot(spark, base), **hive)
    feed = _feed(
        spark,
        [
            ("A", "2024-01", 9.0, "update"),
            ("B", "2024-01", 2.0, "delete"),
            ("D", "2024-03", 4.0, "insert"),
        ],
    )
    swapped = _count_swaps(monkeypatch)
    apply_changes(spark, str(replica), feed, **hive)
    assert sorted(swapped) == ["dt=2024-01", "dt=2024-03"]
    got = sorted((r.ticker, r.dt, r.value) for r in read_table(spark, str(replica)).collect())
    assert got == [("A", "2024-01", 9.0), ("C", "2024-02", 3.0), ("D", "2024-03", 4.0)]


def test_apply_changes_hive_deletes_drop_emptied_partition(spark, tmp_path):
    """Deletes that empty a partition no upsert touches leave no directory
    for it."""
    from fund_data_pipeline_spark.merge import apply_changes

    replica = tmp_path / "replica"
    base = [("A", "2024-01", 1.0), ("B", "2024-02", 2.0), ("C", "2024-02", 3.0)]
    hive = {"keys": ["ticker", "dt"], "partition_col": "dt"}
    merge_upsert(spark, str(replica), _snapshot(spark, base), **hive)
    feed = _feed(
        spark,
        [
            ("B", "2024-02", 2.0, "delete"),
            ("C", "2024-02", 3.0, "delete"),
            ("A", "2024-01", 7.0, "update"),
        ],
    )
    apply_changes(spark, str(replica), feed, **hive)
    assert not (replica / "dt=2024-02").exists()
    got = [(r.ticker, r.dt, r.value) for r in read_table(spark, str(replica)).collect()]
    assert got == [("A", "2024-01", 7.0)]


def test_apply_changes_deletes_null_key_row(spark, tmp_path):
    """diff_frames matches keys null-safely, like the merge, so a feed can
    carry the delete of a NULL-key row; applying it removes that row and the
    replica reaches the primary's state."""
    from fund_data_pipeline_spark.merge import apply_changes, diff_frames

    v1 = _snapshot(spark, [(None, "d1", 1.0), ("A", "d1", 2.0)])
    v2 = _snapshot(spark, [("A", "d1", 3.0)])
    replica = str(tmp_path / "replica")
    merge_upsert(spark, replica, v1, keys=["ticker"])
    apply_changes(spark, replica, diff_frames(v1, v2, ["ticker"]), keys=["ticker"])
    got = [(r.ticker, r.value) for r in read_table(spark, replica).collect()]
    assert got == [("A", 3.0)]


def test_apply_changes_manifest_on_flat_replica_refuses_before_writing(spark, tmp_path):
    """layout="manifest" against an existing flat replica is refused by the
    layout guard before any of the feed is written: the deletes must not
    commit ahead of the refused upserts."""
    from fund_data_pipeline_spark.merge import apply_changes

    replica = str(tmp_path / "replica")
    merge_upsert(spark, replica, _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0)]), keys=["ticker"])
    before = sorted(tuple(r) for r in read_table(spark, replica).collect())
    feed = _feed(spark, [("A", "d1", 1.0, "delete"), ("C", "d1", 3.0, "insert")])
    with pytest.raises(ValueError, match="existing flat-layout table"):
        apply_changes(spark, replica, feed, keys=["ticker"], layout="manifest")
    assert sorted(tuple(r) for r in read_table(spark, replica).collect()) == before


def test_build_rollup_recovers_from_crashed_swap(spark, tmp_path):
    """build_rollup over an existing rollup is staging-then-swap: a crash
    that left only the backup is healed, and a successful rebuild leaves
    no staging/backup residue."""
    from fund_data_pipeline_spark.rollup import build_rollup, read_rollup

    base = _snapshot(spark, [("A", "2024-01", 1.0), ("B", "2024-02", 2.0)])
    path = tmp_path / "r"
    measures = {"total": F.sum("value")}
    build_rollup(base, str(path), partition_col="dt", group_cols=["ticker"], measures=measures)
    # simulate a crash between the two renames: only the backup remains
    path.rename(tmp_path / "r.__old__")
    build_rollup(base, str(path), partition_col="dt", group_cols=["ticker"], measures=measures)
    assert read_rollup(spark, str(path)).count() == 2
    assert not (tmp_path / "r.__old__").exists()
    assert not (tmp_path / "r.__staging__").exists()
    assert not (tmp_path / ".r.__staging__").exists()


def test_merge_heals_crashed_root_swap_before_layout_guard(spark, tmp_path, monkeypatch):
    """A hive rollup build that crashed between its swap's two renames
    leaves only the hidden root backup, which alone reads as no table. The
    heal restores it before the layout guard looks, so a flat merge_upsert
    on that path is refused instead of rewriting the rollup flat."""
    from fund_data_pipeline_spark import merge
    from fund_data_pipeline_spark.rollup import build_rollup, read_rollup

    base = _snapshot(spark, [("A", "2024-01", 1.0), ("B", "2024-02", 2.0)])
    path = tmp_path / "r"

    def rollup():
        build_rollup(base, str(path), partition_col="dt", group_cols=["ticker"],
                     measures={"total": F.sum("value")})

    rollup()

    def crashing_swap(staged, live):
        live.rename(live.with_name(f".{live.name}.__old__"))
        raise OSError("injected crash between the swap's renames")

    monkeypatch.setattr(merge, "_swap_in", crashing_swap)
    with pytest.raises(OSError, match="injected crash"):
        rollup()
    monkeypatch.undo()
    assert not path.exists() and (tmp_path / ".r.__old__").exists()

    with pytest.raises(ValueError, match="existing hive-layout table"):
        merge_upsert(spark, str(path), _snapshot(spark, [("C", "2024-03", 3.0)]), keys=["ticker"])
    assert read_rollup(spark, str(path)).count() == 2


def _swap_writers(spark, t):
    """writer -> (first write, second write, read) against the table path
    ``t``, for every writer that rewrites through merge's one swap helper.
    Each second write replaces a directory the first one left live."""
    from fund_data_pipeline_spark.maintenance import compact_partition, delete_keys, snapshot
    from fund_data_pipeline_spark.pipelines import master_sync
    from fund_data_pipeline_spark.rollup import build_rollup, read_rollup

    base = _snapshot(
        spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-01", 2.0), ("CCC", "2024-02", 3.0)]
    )
    # updates partition 2024-01 (swapped first, so the crash hits a live
    # directory) and creates 2024-03
    batch = _snapshot(spark, [("BBB", "2024-01", 5.0), ("DDD", "2024-03", 4.0)])

    def table():
        return read_table(spark, str(t))

    def merge(df, **kw):
        return lambda: merge_upsert(spark, str(t), df, **kw)

    def rollup(df):
        return lambda: build_rollup(
            df, str(t), partition_col="dt", group_cols=["ticker"],
            measures={"total": F.sum("value")},
        )

    def delete(ticker):
        victims = spark.createDataFrame([(ticker,)], "ticker string")
        return lambda: delete_keys(spark, str(t), victims, ["ticker"])

    def compact_then_append():
        base.repartition(3).write.parquet(str(t))
        compact_partition(spark, str(t))
        batch.repartition(2).write.mode("append").parquet(str(t))

    def merge_then_delete():
        merge(base, keys=["ticker"])()
        delete("AAA")()

    def master(day, rows):
        scrape = spark.createDataFrame(
            rows,
            "ticker string, asset_type string, name string, status string, source string, date_added string",
        )
        as_of = F.lit(day).cast("date")
        return lambda: master_sync.run(spark, [scrape], str(t), as_of=as_of, today=as_of)

    hive = {"keys": ["ticker", "dt"], "partition_col": "dt"}
    return {
        "merge_upsert_flat": (merge(base, keys=["ticker"]), merge(batch, keys=["ticker"]), table),
        "merge_upsert_partitioned": (merge(base, **hive), merge(batch, **hive), table),
        "snapshot": (
            lambda: snapshot(base, str(t), "2024-03-01"),
            lambda: snapshot(batch, str(t), "2024-03-01"),
            lambda: spark.read.parquet(str(t)),
        ),
        "compact_partition": (
            compact_then_append,
            lambda: compact_partition(spark, str(t)),
            lambda: spark.read.parquet(str(t)),
        ),
        "build_rollup": (rollup(base), rollup(base.unionByName(batch)), lambda: read_rollup(spark, str(t))),
        "delete_keys_flat": (merge_then_delete, delete("BBB"), table),
        # day 2 expires AAA (unseen for 9 days) and promotes BBB (its name
        # arrived); updated_at is the run's clock, so the read leaves it out
        "master_sync": (
            master("2024-03-01", [("AAA", "ETF", "Alpha", "active", "yf", "2024-03-01"),
                                  ("BBB", "FUND", None, None, "ft", "2024-03-01")]),
            master("2024-03-10", [("BBB", "FUND", "Beta", None, "ft", "2024-03-01")]),
            lambda: table().drop("updated_at"),
        ),
    }


@pytest.mark.parametrize(
    "writer",
    [
        "merge_upsert_flat",
        "merge_upsert_partitioned",
        "snapshot",
        "compact_partition",
        "build_rollup",
        "delete_keys_flat",
        "master_sync",
    ],
)
def test_writer_heals_crash_between_swap_renames(spark, tmp_path, monkeypatch, writer):
    """Every writer sharing merge's swap helper survives a crash between
    the swap's two renames: the helper is patched to die right after its
    first rename, so the leftover carries the names the writers actually
    use (the older crash-heal tests stage that state by hand). A rerun of
    the crashed write must leave the table exactly as a clean second write
    does, with no backup or staging entry in either spelling beside or
    inside it."""
    from fund_data_pipeline_spark import merge

    def residue(root):
        return sorted(
            str(q.relative_to(root))
            for q in root.rglob("*")
            if "__old__" in q.name or "__staging__" in q.name
        )

    def rows(read):
        return sorted(tuple(r) for r in read().collect())

    first, second, read = _swap_writers(spark, tmp_path / "clean" / "t")[writer]
    first()
    second()
    expected = rows(read)

    first, second, read = _swap_writers(spark, tmp_path / "crash" / "t")[writer]
    first()
    real_swap, real_rename = merge._swap_in, Path.rename
    crashed = []

    def crashing_swap(staged, live):
        def rename_then_die(self, target):
            real_rename(self, target)
            crashed.append(live)
            raise OSError("injected crash between the swap's renames")

        with monkeypatch.context() as m:
            m.setattr(Path, "rename", rename_then_die)
            real_swap(staged, live)

    with monkeypatch.context() as m:
        m.setattr(merge, "_swap_in", crashing_swap)
        with pytest.raises(OSError, match="injected crash"):
            second()
    assert not crashed[0].exists()  # died between the renames: only the backup is left
    assert any("__old__" in name for name in residue(tmp_path / "crash"))

    second()
    assert rows(read) == expected
    assert residue(tmp_path) == []


def _sd_snapshot(spark, rows):
    """rows: (ticker, sd scrape-date string|None, value)."""
    df = spark.createDataFrame(rows, "ticker string, sd string, value double")
    return df.withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", F.col("value").cast("string")))
    )


def test_merge_precedence_col_stale_source_loses(spark, tmp_path):
    """precedence_col: a matched source row strictly older than the stored
    one updates NOTHING (counts as unchanged), even with a differing hash,
    under unconditional=True, and for always_update_cols (review r9 — the
    in-merge form of the streaming cross-batch staleness guard)."""
    path = str(tmp_path / "t")
    merge_upsert(spark, path, _sd_snapshot(spark, [("A", "2024-01-05", 10.0)]), keys=["ticker"])

    stale = _sd_snapshot(spark, [("A", "2024-01-02", 99.0)])
    stats = merge_upsert(
        spark, path, stale, keys=["ticker"], precedence_col="sd"
    )
    assert (stats.inserted, stats.updated, stats.unchanged) == (0, 0, 1)
    row = read_table(spark, path).collect()[0]
    assert (row.sd, row.value) == ("2024-01-05", 10.0)

    # unconditional + always_update_cols must not bypass the guard
    merge_upsert(
        spark, path, stale, keys=["ticker"], precedence_col="sd",
        unconditional=True, always_update_cols=["value"],
    )
    row = read_table(spark, path).collect()[0]
    assert (row.sd, row.value) == ("2024-01-05", 10.0)


def test_merge_precedence_col_fresh_and_null_pass(spark, tmp_path):
    """Equal-or-newer precedence updates; NULL on either side passes (the
    batch loader has no freshness info for such rows and merges them via
    the hash guard — streaming must not silently drop them)."""
    path = str(tmp_path / "t")
    merge_upsert(
        spark, path,
        _sd_snapshot(spark, [("A", "2024-01-05", 10.0), ("B", None, 20.0), ("C", "2024-01-05", 30.0)]),
        keys=["ticker"],
    )
    batch = _sd_snapshot(
        spark,
        [
            ("A", "2024-01-05", 11.0),  # equal precedence -> hash guard updates
            ("B", "2024-01-01", 21.0),  # target NULL -> source wins
            ("C", None, 31.0),          # source NULL -> passes, hash guard updates
            ("D", "2024-01-03", 40.0),  # new key inserts regardless
        ],
    )
    stats = merge_upsert(
        spark, path, batch, keys=["ticker"], precedence_col="sd"
    )
    assert (stats.inserted, stats.updated, stats.unchanged) == (1, 3, 0)
    got = {r.ticker: (r.sd, r.value) for r in read_table(spark, path).collect()}
    assert got == {
        "A": ("2024-01-05", 11.0),
        "B": ("2024-01-01", 21.0),
        "C": (None, 31.0),
        "D": ("2024-01-03", 40.0),
    }


def test_merge_precedence_col_missing_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    merge_upsert(spark, path, _sd_snapshot(spark, [("A", "2024-01-05", 10.0)]), keys=["ticker"])
    no_sd = spark.createDataFrame([("A", 1.0)], "ticker string, value double").withColumn(
        "row_hash", F.md5(F.col("ticker"))
    )
    with pytest.raises(ValueError, match="source is missing precedence_col"):
        merge_upsert(spark, path, no_sd, keys=["ticker"], precedence_col="sd")
    bad_target = str(tmp_path / "t2")
    merge_upsert(spark, bad_target, no_sd, keys=["ticker"])  # table without sd
    with pytest.raises(ValueError, match="target is missing precedence_col"):
        merge_upsert(
            spark, bad_target, _sd_snapshot(spark, [("A", "2024-01-01", 2.0)]),
            keys=["ticker"], precedence_col="sd",
        )


def test_pruned_merge_conforms_to_touched_partition_schema(spark, tmp_path):
    """Pins the r16 dir-pruned target read's schema contract: the pruned
    merge conforms the source to the TOUCHED partitions' merged footer
    schema, not the whole table's. A source column that was evolved only in
    UNTOUCHED partitions is unknown to the touched partition — dropped under
    the default conform-to-target rule, widened (always-update) under
    allow_new_columns=True — and read_table still NULL-fills it across
    partitions either way."""
    path = tmp_path / "evolve_corner"
    base = _snapshot(
        spark,
        [("AAA", "2024-01-01", 10.0), ("BBB", "2024-01-02", 11.0)],
    )
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    # evolve ONLY dt=2024-01-02 with `sector`
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("BBB", "2024-01-02", 12.0)]).withColumn(
            "sector", F.lit("tech")
        ),
        keys=["ticker", "dt"],
        partition_col="dt",
        allow_new_columns=True,
    )

    # batch carrying `sector` into the NON-evolved partition, default rules:
    # the touched partition's schema has no sector, so it is dropped
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("AAA", "2024-01-01", 10.5)]).withColumn(
            "sector", F.lit("fin")
        ),
        keys=["ticker", "dt"],
        partition_col="dt",
    )
    out = {r["ticker"]: (r["value"], r["sector"]) for r in read_table(spark, str(path)).collect()}
    assert out == {"AAA": (10.5, None), "BBB": (12.0, "tech")}

    # same batch WITH allow_new_columns: the touched partition widens
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("AAA", "2024-01-01", 10.7)]).withColumn(
            "sector", F.lit("fin")
        ),
        keys=["ticker", "dt"],
        partition_col="dt",
        allow_new_columns=True,
    )
    out2 = {r["ticker"]: (r["value"], r["sector"]) for r in read_table(spark, str(path)).collect()}
    assert out2 == {"AAA": (10.7, "fin"), "BBB": (12.0, "tech")}
