"""Model-based property test: merge_as_dataframe vs a dict-model reference.

Hypothesis drives random target/source batches through the pure-DataFrame
MERGE and checks the result row-for-row against the obvious Python model of
the reference's upsert semantics (db_connector.py:380-419): insert new keys,
replace matched keys whose hash differs, keep matched keys whose hash is
equal, keep unmatched target rows.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fund_data_pipeline_spark.merge import merge_as_dataframe

KEYS = st.integers(min_value=0, max_value=5)
VALS = st.one_of(st.none(), st.integers(min_value=-3, max_value=3))

row = st.tuples(KEYS, VALS, VALS)  # (k, v, hash-ish)


def _unique_by_key(rows):
    out = {}
    for k, v, h in rows:
        out[k] = (k, v, None if h is None else str(h))
    return list(out.values())


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@given(
    target=st.lists(row, max_size=8).map(_unique_by_key),
    source=st.lists(row, max_size=8).map(_unique_by_key),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_merge_matches_dict_model(_spark, target, source):
    spark = _spark
    schema = "k int, v int, row_hash string"
    t = spark.createDataFrame(target, schema)
    s = spark.createDataFrame(source, schema)

    got = {r.k: (r.v, r.row_hash) for r in merge_as_dataframe(t, s, ["k"]).collect()}

    model = {k: (v, h) for k, v, h in target}
    for k, v, h in source:
        if k not in model:
            model[k] = (v, h)  # insert
        elif model[k][1] != h:  # null-safe IS DISTINCT FROM on the hash
            model[k] = (v, h)  # update
        # else: hash equal -> target row kept untouched

    assert got == model


# ---------------------------------------------------------------------------
# banded_pairs_skew_bounded: grid decomposition == naive self-join, always
# ---------------------------------------------------------------------------

_BUCKET_KEYS = st.sampled_from(["A", "B", "C"])
_band_row = st.tuples(st.integers(min_value=0, max_value=40), _BUCKET_KEYS)


@given(
    rows=st.lists(_band_row, max_size=40).map(lambda rs: list({(i, k) for i, k in rs})),
    block_size=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_banded_pairs_equal_naive_for_any_block_size(_spark, rows, block_size):
    """The grid decomposition must emit exactly the naive self-join's pair
    set for EVERY block size (1 = fully blocked, larger than any bucket =
    no replication) and any bucket shape hypothesis can produce."""
    from pyspark.sql import functions as F

    from fund_data_pipeline_spark.operators.similarity import banded_pairs_skew_bounded

    spark = _spark
    if not rows:
        return
    bands = spark.createDataFrame(
        [(i, 0, k) for i, k in rows], "doc_id long, band int, band_key string"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in banded_pairs_skew_bounded(bands, block_size=block_size).collect()
    }
    by_bucket = {}
    for i, k in rows:
        by_bucket.setdefault(k, []).append(i)
    want = {
        (a, b)
        for ids in by_bucket.values()
        for a in ids
        for b in ids
        if a < b
    }
    assert got == want


# ---------------------------------------------------------------------------
# scd2_apply invariants over random snapshot sequences
# ---------------------------------------------------------------------------

_snap = st.dictionaries(
    st.sampled_from(["k1", "k2", "k3"]),
    st.sampled_from(["x", "y", "z"]),
    max_size=3,
)


@given(snaps=st.lists(_snap, min_size=1, max_size=4))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_scd2_invariants_over_random_snapshot_sequences(_spark, snaps):
    """For ANY snapshot sequence: exactly one current version per key ever
    observed, version ranges per key are chronologically stacked
    (valid_from non-decreasing, closed rows have valid_to), and the current
    version equals the latest snapshot's value for every key it contains."""
    from datetime import date, timedelta

    from fund_data_pipeline_spark.lifecycle import scd2_apply

    spark = _spark
    hist = None
    d0 = date(2024, 1, 1)
    for i, snap in enumerate(snaps):
        df = spark.createDataFrame(
            [(k, v) for k, v in snap.items()] or [("__none__", "x")],
            "ticker string, sector string",
        )
        if not snap:
            df = df.filter("ticker <> '__none__'")
        hist = scd2_apply(hist, df, ["ticker"], ["sector"], d0 + timedelta(days=7 * i))
    rows = hist.collect()

    seen_keys = set().union(*[set(s) for s in snaps])
    current = {}
    for r in rows:
        if r.is_current:
            assert r.ticker not in current, "two current versions for one key"
            assert r.valid_to is None
            current[r.ticker] = r.sector
        else:
            assert r.valid_to is not None and r.valid_to >= r.valid_from
    assert set(current) <= seen_keys
    # current slice reflects the latest observed value per key (keys absent
    # from later snapshots keep their last value: close_missing=False)
    last_value = {}
    for s in snaps:
        last_value.update(s)
    for k, v in last_value.items():
        assert current.get(k) == v, (k, v, current)


def _honest_hash(rows):
    """Rows whose hash is a function of the value — the contract every real
    caller satisfies (row_hash = md5(values)). With a dishonest hash the
    round-trip property cannot hold by design: equal-hash rows are declared
    unchanged regardless of their values."""
    return [(k, v, f"h{v}") for k, v, _ in rows]


@given(
    old=st.lists(row, max_size=8).map(_unique_by_key).map(_honest_hash),
    new=st.lists(row, max_size=8).map(_unique_by_key).map(_honest_hash),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_diff_frames_round_trips(_spark, old, new):
    """CDC round-trip invariant: applying diff_frames(old, new) to old —
    upsert the insert/update rows, remove the delete keys — reconstructs
    new exactly; and keys absent from the diff are exactly the unchanged
    ones (same null-safe hash in both relations)."""
    from fund_data_pipeline_spark.merge import diff_frames

    spark = _spark
    schema = "k int, v int, row_hash string"
    o = spark.createDataFrame(old, schema)
    n = spark.createDataFrame(new, schema)
    changes = diff_frames(o, n, ["k"]).collect()

    state = {k: (v, h) for k, v, h in old}
    seen_keys = set()
    for r in changes:
        assert r.k not in seen_keys  # one verdict per key
        seen_keys.add(r.k)
        if r._change_type == "delete":
            assert r.k in state and r.k not in {k for k, _, _ in new}
            del state[r.k]
        else:
            assert r._change_type in ("insert", "update")
            if r._change_type == "insert":
                assert r.k not in state
            else:
                assert r.k in state and state[r.k][1] != r.row_hash
            state[r.k] = (r.v, r.row_hash)

    assert state == {k: (v, h) for k, v, h in new}
    unchanged = {k for k, v, h in old} & {k for k, v, h in new} - seen_keys
    for k in unchanged:
        o_h = dict((kk, hh) for kk, _, hh in old)[k]
        n_h = dict((kk, hh) for kk, _, hh in new)[k]
        assert o_h == n_h


# --------------------------------------------------------------------------
# flatten_hierarchy vs a pure-Python recursive walk over random forests
# --------------------------------------------------------------------------

@st.composite
def _forest(draw):
    """Random parent-pointer forest: node i's parent is drawn from nodes
    with a strictly smaller id (or None for a root) — acyclic by
    construction, arbitrary shape (chains, stars, bushy trees)."""
    n = draw(st.integers(min_value=1, max_value=24))
    parents = {}
    for i in range(1, n):
        parents[i] = draw(
            st.one_of(st.none(), st.integers(min_value=0, max_value=i - 1))
        )
    parents[0] = None
    return parents


@given(parents=_forest())
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_flatten_hierarchy_matches_recursive_model(_spark, parents):
    """Pointer doubling must agree with the obvious recursive walk on every
    forest shape hypothesis produces (the WITH RECURSIVE model)."""
    from fund_data_pipeline_spark.operators.graph import flatten_hierarchy

    def walk(i):
        depth, cur = 0, i
        while parents.get(cur) is not None:
            cur = parents[cur]
            depth += 1
        return cur, depth

    expect = {i: walk(i) for i in parents}
    edges = [(i, p) for i, p in parents.items() if p is not None]
    nodes_df = _spark.createDataFrame([(i,) for i in parents], "node long")
    edges_df = (
        _spark.createDataFrame(edges, "child long, parent long")
        if edges
        else _spark.createDataFrame([], "child long, parent long")
    )
    got = {
        r.node: (r.root, r.depth)
        for r in flatten_hierarchy(edges_df, nodes=nodes_df).collect()
    }
    assert got == expect


@given(
    target=st.lists(st.tuples(KEYS, VALS, VALS, VALS), max_size=6).map(
        lambda rows: list({k: (k, v, None if h is None else str(h), p) for k, v, h, p in rows}.values())
    ),
    source=st.lists(st.tuples(KEYS, VALS, VALS, VALS), max_size=6).map(
        lambda rows: list({k: (k, v, None if h is None else str(h), p) for k, v, h, p in rows}.values())
    ),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_merge_precedence_matches_dict_model(_spark, tmp_path_factory, target, source):
    """precedence_col model (review r9): a matched source row updates iff
    the hash differs AND NOT (both precedence values non-null and source's
    is strictly older); inserts always land; NULL precedence on either
    side defers to the hash guard."""
    import uuid

    from fund_data_pipeline_spark.merge import merge_upsert

    spark = _spark
    schema = "k int, v int, row_hash string, prec int"
    path = str(tmp_path_factory.mktemp("prec") / uuid.uuid4().hex)
    created = merge_upsert(spark, path, spark.createDataFrame(target, schema), ["k"])
    merged = merge_upsert(
        spark, path, spark.createDataFrame(source, schema), ["k"], precedence_col="prec"
    )

    got = {r.k: (r.v, r.row_hash, r.prec) for r in spark.read.parquet(path).collect()}
    model = {k: (v, h, p) for k, v, h, p in target}
    inserted = updated = 0
    for k, v, h, p in source:
        if k not in model:
            model[k] = (v, h, p)
            inserted += 1
        else:
            stale = p is not None and model[k][2] is not None and p < model[k][2]
            if model[k][1] != h and not stale:
                model[k] = (v, h, p)
                updated += 1
    assert got == model
    # the observed counts: matched-but-guarded and unmatched target rows
    # both count as unchanged
    assert (created.inserted, created.updated, created.unchanged) == (len(target), 0, 0)
    assert (merged.inserted, merged.updated, merged.unchanged) == (
        inserted,
        updated,
        len(target) - updated,
    )
