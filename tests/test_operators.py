"""Tests for operators.multimodal (mapInPandas plumbing) and operators.sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fund_data_pipeline_spark.operators import multimodal, sampling


def _media(spark, n=10):
    rows = [(f"m{i}", bytes([i % 251]) * (100 + i * 37)) for i in range(n)]
    return spark.createDataFrame(rows, "media_id string, payload binary")


def test_image_features_shape_and_determinism(spark):
    media = _media(spark)
    a = multimodal.extract_image_features(media).orderBy("media_id").collect()
    b = multimodal.extract_image_features(media).orderBy("media_id").collect()
    assert a == b  # stub decode is deterministic
    assert len(a) == 10
    r = a[0]
    assert r.n_bytes == 100 and 64 <= r.width <= 1084 and len(r.phash) == 16
    assert multimodal.extract_image_features(media).columns == [
        "media_id", "width", "height", "n_bytes", "mean_luma", "phash",
    ]


def test_attach_payload_meta_jvm_side(spark):
    out = multimodal.attach_payload_meta(_media(spark, 3))
    rows = {r.media_id: r for r in out.collect()}
    assert rows["m0"].n_bytes == 100
    assert len(rows["m0"].content_md5) == 32


def test_sample_frames_one_to_many(spark):
    frames = multimodal.sample_frames(_media(spark, 3), every_nth=30, max_frames=4)
    per = {r[0]: r[1] for r in frames.groupBy("media_id").count().collect()}
    assert set(per) == {"m0", "m1", "m2"}
    assert all(1 <= n <= 4 for n in per.values())
    # frame payloads partition the source bytes: no frame exceeds source size
    f = frames.filter(F.col("media_id") == "m2").orderBy("frame_index").collect()
    assert [r.frame_index for r in f] == list(range(len(f)))


def test_resize_images_contract(spark):
    out = multimodal.resize_images(_media(spark, 4), 32, 32).collect()
    assert len(out) == 4
    assert all(r.width == 32 and r.height == 32 and len(r.payload) == 1024 for r in out)


def test_repartition_for_decode_bounds_partitions(spark):
    media = _media(spark, 20)
    out = multimodal.repartition_for_decode(media, target_bytes_per_task=1000)
    total = sum(len(p) for p in [r.payload for r in media.collect()])
    assert out.rdd.getNumPartitions() == total // 1000 + 1


def test_split_deterministic_and_complete(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    s1 = sampling.train_val_test(df, "k").groupBy("split").count().collect()
    s2 = sampling.train_val_test(df, "k").groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in s1}
    assert counts == {r.split: r["count"] for r in s2}
    assert sum(counts.values()) == 2000  # partition: no row dropped or doubled
    assert 0.7 < counts["train"] / 2000 < 0.9  # ~80/10/10
    assert counts["val"] + counts["test"] < 0.4 * 2000


def test_sample_is_co_sampled_subset(spark):
    a = spark.range(1000).withColumnRenamed("id", "k")
    b = spark.range(500, 1500).withColumnRenamed("id", "k")  # overlapping key space
    sa = {r.k for r in sampling.deterministic_sample(a, "k", 0.3).collect()}
    sb = {r.k for r in sampling.deterministic_sample(b, "k", 0.3).collect()}
    # same key -> same verdict in both tables (joins survive sampling)
    overlap = set(range(500, 1000))
    assert sa & overlap == sb & overlap
    assert 0.2 < len(sa) / 1000 < 0.4


def test_connected_components_transitive(spark):
    from fund_data_pipeline_spark.operators import graph

    nodes = spark.createDataFrame([(i,) for i in range(7)], "node long")
    # chain 0-1-2, pair 3-4 (out of order), singleton 5, self-contained 6
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (4, 3), (6, 6)], "src long, dst long"
    )
    cc = {r.node: r.cluster_id for r in graph.connected_components(nodes, edges).collect()}
    assert cc == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6}


def _cc(nodes, edges, monkeypatch, bound=None, cap=None):
    """Sorted (node, cluster_id) rows of one ``connected_components`` call,
    with the driver bound and/or the round cap substituted for the call.
    The route follows from the graph's shape under those two values:
    ``cap=0`` succeeds only on the driver route (no distributed round
    runs), ``bound=0`` sends every non-empty graph down the distributed
    path, and ``cap=_CC_PROPAGATION_ROUNDS`` succeeds there only when
    propagation converges within its budget."""
    from fund_data_pipeline_spark.operators import graph

    with monkeypatch.context() as m:
        if bound is not None:
            m.setattr(graph, "CC_COLLECT_MAX_EDGES", bound)
        if cap is not None:
            m.setattr(graph, "_CC_MAX_ROUNDS", cap)
        return sorted(tuple(r) for r in graph.connected_components(nodes, edges).collect())


def _broom(ids):
    """A 10-clique over ``ids[:10]`` plus a 7-edge tail ``ids[9..16]``: 52
    canonical edges. With the smallest id in ``ids[:9]`` it sits 8 hops
    from the tail's end, so propagation needs 9 rounds and cannot converge
    within its 5-round budget; one contraction round shrinks the clique to
    its 9-edge star."""
    clique = [(ids[i], ids[j]) for i in range(10) for j in range(i + 1, 10)]
    return clique + [(ids[i], ids[i + 1]) for i in range(9, 16)]


def test_connected_components_endpoint_only_nodes_phase_independent(spark, monkeypatch):
    """An edge endpoint absent from ``nodes`` must appear in the result
    with the same label whichever phase finishes: the star fallback
    previously rebuilt labels from ``nodes`` alone, so the row existed
    under converged propagation but vanished when the fallback ran
    (review r11 — the same phase-dependence class as the r10
    endpoint-seed fix). Each phase is reached through the graph's shape
    with the driver bound at 0: a diameter-3 path converges under
    propagation, a diameter-9 path outlasts the propagation budget and
    runs star contraction to its fixpoint."""
    from fund_data_pipeline_spark.operators import graph

    budget = graph._CC_PROPAGATION_ROUNDS
    # only even ids are declared nodes; odd ids exist solely as endpoints
    for n, converges in ((4, True), (10, False)):
        nodes = spark.createDataFrame([(i,) for i in range(0, n, 2)], "node long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        via_driver = _cc(nodes, edges, monkeypatch, cap=0)
        assert via_driver == [(i, 0) for i in range(n)]
        if converges:
            assert _cc(nodes, edges, monkeypatch, bound=0, cap=budget) == via_driver
        else:
            with pytest.raises(RuntimeError, match="fixpoint"):
                _cc(nodes, edges, monkeypatch, bound=0, cap=budget)
            assert _cc(nodes, edges, monkeypatch, bound=0) == via_driver


def test_connected_components_long_chain_converges(spark):
    from fund_data_pipeline_spark.operators import graph

    n = 12  # diameter > 1 forces multiple propagation rounds
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    cc = graph.connected_components(nodes, edges).collect()
    assert all(r.cluster_id == 0 for r in cc) and len(cc) == n


def test_topk_cosine_honors_caller_column_names_and_types(spark):
    """id_col/label_col are honored in the OUTPUT schema too: a string
    label and a renamed id column must come back with the caller's names
    and Spark types — the mapInPandas schema was previously hardcoded to
    (vec_id long, label int), failing or silently renaming anything else
    (review r11)."""
    import random

    import pytest

    from fund_data_pipeline_spark.operators.similarity import topk_cosine

    rng = random.Random(3)
    rows = [
        (i, ["en", "fr", "de"][i % 3], [rng.uniform(-1, 1) for _ in range(4)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "doc_id long, lang string, embedding array<float>")
    out = topk_cosine(emb, rows[0][2], k=3, id_col="doc_id", label_col="lang")
    assert out.columns == ["doc_id", "lang", "cosine"]
    assert dict(out.dtypes) == {"doc_id": "bigint", "lang": "string", "cosine": "double"}
    got = out.collect()
    assert len(got) == 3 and got[0].doc_id == 0  # self-match ranks first
    assert all(isinstance(r.lang, str) for r in got)
    with pytest.raises(ValueError, match="reserved"):
        topk_cosine(emb.withColumnRenamed("doc_id", "cosine"), rows[0][2], id_col="cosine")


def test_sampling_guards_reject_misuse(spark):
    """r11 guard sweep: out-of-range fraction, sub-resolution weights,
    pre-existing output columns, and pipe-bearing salts/seeds all raise
    instead of silently corrupting the sample (each previously failed
    silently — review r11)."""
    import pytest

    from fund_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "shard"])
    with pytest.raises(ValueError, match="fraction"):
        sampling.deterministic_sample(df, "k", 50.0)
    with pytest.raises(ValueError, match="fraction"):
        sampling.deterministic_sample(df, "k", -0.2)
    with pytest.raises(ValueError, match="empty bucket"):
        sampling.split_column("k", (0.8, 0.00001, 0.19999), ("train", "val", "test"))
    with pytest.raises(ValueError, match="already exist"):
        sampling.shuffled_shards(df, "k")  # df carries a 'shard' column
    with pytest.raises(ValueError, match="already exists"):
        sampling.train_val_test(df.withColumnRenamed("shard", "split"), "k")
    with pytest.raises(ValueError, match="salt"):
        sampling.hash_bucket("k", salt="a|b")
    with pytest.raises(ValueError, match="seed"):
        sampling.shuffled_shards(df.drop("shard"), "k", seed="4|2")
    # boundary values stay legal
    assert sampling.deterministic_sample(df, "k", 1.0).count() == 2
    assert sampling.deterministic_sample(df, "k", 0.0).count() == 0


def test_topk_cosine_matches_jvm_expression_path(spark):
    """The Arrow/numpy kernel must agree exactly with the JVM expression
    variant (same 1e-6 quantization) — the two paths are interchangeable."""
    import math
    import random

    from fund_data_pipeline_spark.operators.similarity import topk_cosine

    rng = random.Random(7)
    dim = 8
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(200)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    q = rows[0][2]

    got = topk_cosine(emb, q, k=5, exclude_vec_id=0).collect()
    assert len(got) == 5
    assert [r.vec_id for r in got] == sorted(
        (r.vec_id for r in got),
        key=lambda v: (-next(x.cosine for x in got if x.vec_id == v), v),
    )

    # reference: plain python with the same quantization contract
    def quant(v):
        import struct

        widened = [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        return [math.floor(x * 1e6 + 0.5) if x >= 0 else math.ceil(x * 1e6 - 0.5) for x in widened]

    qq = quant(q)
    qn = math.sqrt(sum(x * x for x in qq))
    expected = []
    for vid, _lab, vec in rows[1:]:
        vv = quant(vec)
        dot = sum(a * b for a, b in zip(qq, vv))
        nn = math.sqrt(sum(x * x for x in vv))
        expected.append((vid, dot / (nn * qn)))
    expected.sort(key=lambda t: (-t[1], t[0]))
    for r, (vid, cos) in zip(got, expected[:5]):
        assert r.vec_id == vid
        assert abs(r.cosine - cos) < 1e-12


def test_topk_cosine_partial_topk_bounds_rows(spark):
    """mapInPandas output is bounded: at most k rows per Arrow batch reach
    the final ordering (the 100 TB safety property)."""
    from fund_data_pipeline_spark.operators.similarity import topk_cosine

    emb = spark.createDataFrame(
        [(i, 0, [float(i), 1.0]) for i in range(500)],
        "vec_id long, label int, embedding array<float>",
    ).repartition(4)
    q = [1.0, 0.0]
    out = topk_cosine(emb, q, k=3)
    # the partial stage (child of the final sort) carries <= k * n_partitions rows
    partial = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in partial
    assert out.count() == 3


@pytest.mark.parametrize("n_bits", [8, 12])
def test_ann_multiprobe_recall_on_planted_neighbors(spark, tmp_path, n_bits):
    """Multi-probe hyperplane-LSH must recover genuinely-near neighbors —
    at the default bucket width AND a wider one (recall comes from near-dups
    agreeing with the query on every plane, so it must survive more planes).

    The sf fixtures' embeddings are near-uniform (top-10 cosines ~0.3), where
    NO sublinear method has high recall, so recall is asserted on planted
    near-duplicates (cosine ~0.99 to the query): the regime ANN exists for.
    """
    import numpy as np

    from fund_data_pipeline_spark.queries.vectors import ann_bucketed_topk

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 64))
    q = base[0]
    planted = q + 0.08 * rng.normal(size=(10, 64))  # cosine ~0.99 to q
    rows = [(int(i), i % 5, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [
        (1000 + i, 9, [float(x) for x in v]) for i, v in enumerate(planted)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    ann = ann_bucketed_topk(spark, str(tmp_path), n_bits=n_bits).collect()
    got = {r["vec_id"] for r in ann}
    n_found = len(got & set(range(1000, 1010)))
    assert n_found >= 8, f"{n_bits}-bit multi-probe ANN found only {n_found}/10 planted near-dups"


def test_lsh_bits_for_corpus_heuristic():
    from fund_data_pipeline_spark.queries.vectors import lsh_bits_for_corpus

    assert lsh_bits_for_corpus(500) == 4  # tiny corpus: floor
    assert lsh_bits_for_corpus(1024 * 256) == 8  # fixture-ish: default width
    assert lsh_bits_for_corpus(10**9) == 20  # 1B vectors: ~1k/bucket
    assert lsh_bits_for_corpus(10**15) == 30  # ceiling clamp


def test_ivf_topk_recall_on_planted_neighbors(spark, tmp_path):
    """IVF coarse quantization must put near-duplicates of the query in the
    query's own cell (their nearest centroid is the same), so nprobe=2
    retrieves all planted neighbors."""
    import numpy as np

    from fund_data_pipeline_spark.queries.vectors import ivf_topk

    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 64))
    q = base[0]
    planted = q + 0.08 * rng.normal(size=(10, 64))
    rows = [(int(i), i % 5, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(1000 + i, 9, [float(x) for x in v]) for i, v in enumerate(planted)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {r["vec_id"] for r in ivf_topk(spark, str(tmp_path), k=10).collect()}
    n_found = len(got & set(range(1000, 1010)))
    assert n_found >= 8, f"IVF found only {n_found}/10 planted near-dups"


def test_audio_features_shape_and_determinism(spark):
    media = _media(spark, 6)
    a = multimodal.extract_audio_features(media).orderBy("media_id").collect()
    b = multimodal.extract_audio_features(media).orderBy("media_id").collect()
    assert a == b  # stub decode is deterministic
    assert len(a) == 6
    r = a[0]
    assert r.sample_rate in (8000, 16000, 22050, 44100)
    assert 200 <= r.duration_ms <= 60200 and 0.0 <= r.rms <= 1.0 and 0.0 <= r.clip_frac <= 1.0
    assert multimodal.extract_audio_features(media).columns == [
        "media_id", "sample_rate", "duration_ms", "n_bytes", "rms", "clip_frac",
    ]


def test_asof_join_backward_forward_and_tolerance(spark):
    from fund_data_pipeline_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [("A", 10, 1.0), ("A", 20, 2.0), ("A", 30, 3.0), ("B", 15, 9.0)],
        "sym string, t long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 5, 100), ("A", 20, 200), ("A", 25, 300), ("B", 40, 400), ("C", 7, 500)],
        "sym string, t long, qty long",
    )

    back = {(r.sym, r.t): (r.t_right, r.px_right) for r in
            asof_join(trades, quotes, on="t", by=["sym"]).collect()}
    assert back[("A", 5)] == (None, None)        # nothing at-or-before
    assert back[("A", 20)] == (20, 2.0)          # exact tie matches
    assert back[("A", 25)] == (20, 2.0)          # latest at-or-before
    assert back[("B", 40)] == (15, 9.0)
    assert back[("C", 7)] == (None, None)        # LEFT: unmatched key kept

    fwd = {(r.sym, r.t): (r.t_right, r.px_right) for r in
           asof_join(trades, quotes, on="t", by=["sym"], direction="forward").collect()}
    assert fwd[("A", 5)] == (10, 1.0)            # earliest at-or-after
    assert fwd[("A", 20)] == (20, 2.0)
    assert fwd[("A", 25)] == (30, 3.0)
    assert fwd[("B", 40)] == (None, None)

    tol = {(r.sym, r.t): (r.t_right, r.px_right) for r in
           asof_join(trades, quotes, on="t", by=["sym"], tolerance=5).collect()}
    assert tol[("A", 25)] == (20, 2.0)           # distance 5 <= 5 kept
    assert tol[("B", 40)] == (None, None)        # distance 25 nulled


def test_asof_join_matches_catalog_query(spark, sf_dir):
    """The library operator reproduces the oracle-checked catalog query."""
    from fund_data_pipeline_spark.operators.asof import asof_join
    from fund_data_pipeline_spark.queries import QUERIES
    from fund_data_pipeline_spark.queries.registry import table as qtable

    sf = sf_dir
    ev = qtable(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    lib = asof_join(purchases, clicks, on="ts", by=["user_id"]).select(
        "event_id", "user_id", "ts",
        F.col("ts_right").alias("click_ts"), F.col("value_right").alias("click_value"),
    )
    ref = QUERIES["asof_last_click_before_purchase"].spark(spark, sf)
    assert sorted(map(tuple, lib.collect())) == sorted(map(tuple, ref.collect()))


def test_asof_join_null_keys_and_ties(spark):
    from fund_data_pipeline_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [("A", None, 9.9), ("A", 20, 2.0), ("A", 20, 2.5)],
        "sym string, t long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 5, 100), ("A", 25, 300), ("A", None, 400)],
        "sym string, t long, qty long",
    )
    for direction in ("backward", "forward"):
        got = {r.t: (r.t_right, r.px_right) for r in
               asof_join(trades, quotes, on="t", by=["sym"], direction=direction).collect()}
        assert got[None] == (None, None), direction  # null left key never matches
        if direction == "backward":
            assert got[5] == (None, None)  # null-t quote is NOT a predecessor
            assert got[25] == (20, 2.5)    # tie broken to greatest value tuple
        else:
            assert got[5] == (20, 2.5)
            assert got[25] == (None, None)


def test_asof_join_rejects_ambiguous_outputs(spark):
    from fund_data_pipeline_spark.operators.asof import asof_join

    quotes = spark.createDataFrame([("A", 1, 9.9)], "sym string, t int, px double")
    trades = spark.createDataFrame([("A", 2, 10.0)], "sym string, t int, qty double")

    with pytest.raises(ValueError, match="duplicates"):
        asof_join(trades, quotes, on="t", by=["sym"], value_cols=["px", "px"])
    with pytest.raises(ValueError, match="on/by"):
        asof_join(trades, quotes, on="t", by=["sym"], value_cols=["t"])
    with pytest.raises(ValueError, match="collide"):
        # left already has qty; carrying right's qty under the same name clashes
        asof_join(trades, quotes.withColumnRenamed("px", "qty"), on="t", by=["sym"], suffix="")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(trades.withColumn("__asof_side", F.lit(1)), quotes, on="t", by=["sym"])


def test_trained_ivf_codebook_beats_first_n_on_skewed_corpus(spark, tmp_path):
    """On a corpus whose first N vectors all come from one mode, the first-N
    codebook has no centroid near the query's mode and recall collapses; a
    seeded k-means codebook gives every mode its own cell(s), so at equal
    nprobe it must retrieve the planted neighbors."""
    import numpy as np

    from fund_data_pipeline_spark.queries.vectors import ivf_topk, train_ivf_codebook

    rng = np.random.default_rng(29)
    mode_a = rng.normal(loc=0.0, size=64)
    mode_c = rng.normal(loc=0.0, size=64)
    mode_c = mode_c / np.linalg.norm(mode_c) * 10 + 20  # far-away mode
    # first 100 vectors (ids 0..99): tight mode A — the first-16 codebook
    # is drawn entirely from here
    rows = [
        (int(i), 0, [float(x) for x in (mode_a + 0.05 * rng.normal(size=64))])
        for i in range(100)
    ]
    # query mode: id 500 is the query, 1000+ are planted near-dups
    q = mode_c + 0.05 * rng.normal(size=64)
    rows.append((500, 1, [float(x) for x in q]))
    rows += [
        (1000 + i, 9, [float(x) for x in (q + 0.01 * rng.normal(size=64))])
        for i in range(10)
    ]
    # scatter more mode-C points so k-means sees the mode
    rows += [
        (2000 + i, 1, [float(x) for x in (mode_c + 0.05 * rng.normal(size=64))])
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)

    planted = set(range(1000, 1010))
    first_n = {
        r["vec_id"] for r in ivf_topk(spark, sf, k=10, query_vec_id=500).collect()
    }
    codebook = train_ivf_codebook(spark, sf, seed=7)
    trained = {
        r["vec_id"]
        for r in ivf_topk(spark, sf, k=10, query_vec_id=500, centroids=codebook).collect()
    }
    assert len(trained & planted) >= 8
    assert len(trained & planted) >= len(first_n & planted)


def test_connected_components_1000_node_path_star_contraction(spark, monkeypatch):
    """A 1000-node path has diameter 999: plain propagation would need ~999
    rounds and previously raised at the 50-round cap. Star contraction must
    reach the fixpoint in ~log n contraction rounds — well under 25 — and still
    produce the exact component min for every node, under a permuted id
    assignment (labels must flow against the id order too)."""
    import random

    rng = random.Random(13)
    ids = list(range(1000))
    rng.shuffle(ids)
    nodes = spark.createDataFrame([(i,) for i in ids], "node long")
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(999)], "src long, dst long"
    )
    assert _cc(nodes, edges, monkeypatch, bound=0, cap=25) == [(i, 0) for i in range(1000)]


def test_host_union_find_matches_python_model():
    """The driver route's vectorized union-find gives every endpoint its
    component's minimum id, like a plain Python union-find: on permuted
    long paths (where hooking endpoints instead of roots needed ~diameter
    passes), random multigraphs with self-loops, string ids and an empty
    edge list."""
    import random

    import pandas as pd

    from fund_data_pipeline_spark.operators.graph import _host_min_labels

    def model(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(3)
    cases = []
    for n in (2, 50, 5000):
        ids = list(range(n))
        rng.shuffle(ids)
        cases.append([(ids[i], ids[i + 1]) for i in range(n - 1)])
    for _ in range(5):
        cases.append([(rng.randrange(200), rng.randrange(200)) for _ in range(rng.randrange(1, 300))])
    cases.append([(f"s{rng.randrange(40)}", f"s{rng.randrange(40)}") for _ in range(60)])
    cases.append([])
    for pairs in cases:
        pdf = pd.DataFrame(pairs, columns=["src", "dst"])
        got = dict(zip(*(_host_min_labels(pdf)[c].tolist() for c in ("node", "label"))))
        assert got == model(pairs)


def test_connected_components_blob_graph_propagation_matches_driver(spark, monkeypatch):
    """Near-dup blobs (cliques of 2-8 members, ids scattered) converge
    under propagation within its budget — the run succeeds with the round
    cap at the budget, which leaves contraction no round — and give the
    driver route's labels, singletons included."""
    import random

    from fund_data_pipeline_spark.operators import graph

    rng = random.Random(7)
    ids = list(range(300))
    rng.shuffle(ids)
    pairs, i = [], 0
    while i < 280:
        size = rng.randint(2, 8)
        blob = ids[i : i + size]
        pairs += [(blob[a], blob[b]) for a in range(len(blob)) for b in range(a + 1, len(blob))]
        i += size
    nodes = spark.createDataFrame([(n,) for n in ids], "node long")
    edges = spark.createDataFrame(pairs, "src long, dst long")
    via_driver = _cc(nodes, edges, monkeypatch, cap=0)
    assert len(via_driver) == 300 and {c for _, c in via_driver} != set(ids)
    budget = graph._CC_PROPAGATION_ROUNDS
    assert _cc(nodes, edges, monkeypatch, bound=0, cap=budget) == via_driver


def test_connected_components_driver_path_matches_distributed(spark, monkeypatch):
    """The r17 bounded driver-side union-find must produce the identical
    (node, cluster_id) fixpoint as the distributed phases — on a permuted
    path (labels flow against id order), with endpoint-only nodes, NULL
    endpoints, string ids (np.unique code-point order == Spark UTF8_BINARY
    min), an int src with a bigint dst, and singletons — both at the
    up-front collect (the whole graph fits the bound) and at star
    contraction's mid-loop handoff (the bound is hit only AFTER contraction
    shrinks the edge set)."""
    import random

    from fund_data_pipeline_spark.operators import graph

    rng = random.Random(41)
    ids = list(range(60))
    rng.shuffle(ids)
    # path of 40 + triangle + singleton nodes; only half the path nodes declared
    edges_rows = [(ids[i], ids[i + 1]) for i in range(39)]
    edges_rows += [(ids[40], ids[41]), (ids[41], ids[42]), (ids[42], ids[40])]
    # NULL endpoints: both routes drop the edge, so the undeclared ids[43]
    # is absent and the declared ids[44] stays a singleton
    edges_rows += [(ids[43], None), (None, ids[44]), (None, None)]
    nodes = spark.createDataFrame(
        [(ids[i],) for i in range(0, 60, 2)], "node long"
    )
    edges = spark.createDataFrame(edges_rows, "src long, dst long")
    via_driver = _cc(nodes, edges, monkeypatch, cap=0)
    assert _cc(nodes, edges, monkeypatch, bound=0) == via_driver
    labels = dict(via_driver)
    assert ids[43] not in labels and labels[ids[44]] == ids[44]

    # string ids: lexicographic min must match Spark's UTF8_BINARY min
    snodes = spark.createDataFrame([("b",), ("x",), ("Z",)], "node string")
    sedges = spark.createDataFrame([("x", "b"), ("x", "Z")], "src string, dst string")
    via_driver_s = _cc(snodes, sedges, monkeypatch, cap=0)
    assert _cc(snodes, sedges, monkeypatch, bound=0) == via_driver_s
    assert via_driver_s == [("Z", "Z"), ("b", "Z"), ("x", "Z")]

    # int src, bigint dst: the driver mapping takes the wider type
    big = 3_000_000_000
    mnodes = spark.createDataFrame([(i,) for i in (1, 2, big)], "node long")
    medges = spark.createDataFrame([(1, 2), (2, big)], "src int, dst long")
    via_driver_m = _cc(mnodes, medges, monkeypatch, cap=0)
    assert _cc(mnodes, medges, monkeypatch, bound=0) == via_driver_m
    assert via_driver_m == [(1, 1), (2, 1), (big, 1)]

    # the mid-loop handoff: a broom outlasts propagation's budget, and one
    # contraction round brings its 52 canonical edges under a bound of 20.
    # The cap of budget + 1 leaves contraction a single round, so these
    # calls succeed only through the handoff (contraction alone needs a
    # second round just to see its fixpoint)
    handoff = {"bound": 20, "cap": graph._CC_PROPAGATION_ROUNDS + 1}
    perm = list(range(1, 17))
    rng.shuffle(perm)
    perm = [0] + perm
    bnodes = spark.createDataFrame([(i,) for i in perm[::2]], "node long")
    bedges = spark.createDataFrame(
        _broom(perm) + [(perm[3], None), (None, 99)], "src long, dst long"
    )
    via_driver_b = _cc(bnodes, bedges, monkeypatch, cap=0)
    assert via_driver_b == [(i, 0) for i in range(17)]
    assert _cc(bnodes, bedges, monkeypatch, **handoff) == via_driver_b
    with pytest.raises(RuntimeError, match="fixpoint"):
        _cc(bnodes, bedges, monkeypatch, bound=0, cap=handoff["cap"])

    names = [f"n{i:02d}" for i in perm]
    snodes = spark.createDataFrame([(n,) for n in names], "node string")
    sedges = spark.createDataFrame(_broom(names), "src string, dst string")
    via_driver_s = _cc(snodes, sedges, monkeypatch, cap=0)
    assert via_driver_s == [(n, "n00") for n in sorted(names)]
    assert _cc(snodes, sedges, monkeypatch, **handoff) == via_driver_s

    # int src, bigint dst at the handoff: every edge's smaller id fits an
    # int, the tail alternates through ids above the int range
    wide = list(range(10)) + [big + 1, 10, big + 2, 11, big + 3, 12, big + 4]
    wedges = [
        (min(a, b), max(a, b)) for a, b in _broom([big] + wide[1:10] + wide[10:])
    ]
    wnodes = spark.createDataFrame([(i,) for i in {i for e in wedges for i in e}], "node long")
    wedges = spark.createDataFrame(wedges, "src int, dst long")
    via_driver_w = _cc(wnodes, wedges, monkeypatch, cap=0)
    assert {c for _, c in via_driver_w} == {1}
    assert _cc(wnodes, wedges, monkeypatch, **handoff) == via_driver_w


def test_chunk_by_tokens_overlap_and_boundaries(spark):
    from fund_data_pipeline_spark.operators.chunking import chunk_by_tokens

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (2, "one two"),                             # shorter than a chunk
            (3, "   "),                                 # whitespace-only: dropped
        ],
        "doc_id long, text string",
    )
    out = chunk_by_tokens(docs, chunk_size=4, stride=3)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}

    # doc 1: starts 0,3,6 -> windows [0:4],[3:7],[6:10]. Start 9 is NOT
    # emitted: its window [9:10] is fully contained in [6:10], which
    # already reached the document end — the duplicated-content tail the
    # r11 start-grid bound removes
    assert sorted(k for k in rows if k[0] == 1) == [(1, 0), (1, 1), (1, 2)]
    assert rows[(1, 0)].chunk_text == "t0 t1 t2 t3"
    assert rows[(1, 1)].chunk_text == "t3 t4 t5 t6"  # overlap of 1 token
    assert rows[(1, 2)].chunk_text == "t6 t7 t8 t9" and rows[(1, 2)].n_tokens == 4
    # every token appears in at least one chunk
    seen = set()
    for k, r in rows.items():
        if k[0] == 1:
            seen.update(r.chunk_text.split(" "))
    assert seen == {f"t{i}" for i in range(10)}

    assert rows[(2, 0)].chunk_text == "one two" and rows[(2, 0)].n_tokens == 2
    assert not any(k[0] == 3 for k in rows)

    with pytest.raises(ValueError, match="stride"):
        chunk_by_tokens(docs, chunk_size=4, stride=5)

    # phantom-token guard (review r11): trim() strips only SPACES, so a
    # tab/newline-bounded doc used to gain '' tokens (off-by-one counts, a
    # trailing space in chunk_text) and a '\n' doc passed the emptiness
    # filter and emitted a phantom chunk
    dirty = spark.createDataFrame(
        [(10, "hello world\n"), (11, "\n"), (12, "\ta b\t")],
        "doc_id long, text string",
    )
    drows = {(r.doc_id, r.chunk_idx): r for r in chunk_by_tokens(dirty, chunk_size=4, stride=3).collect()}
    assert drows[(10, 0)].chunk_text == "hello world"
    assert drows[(10, 0)].n_tokens == 2
    assert not any(k[0] == 11 for k in drows)  # whitespace-only: dropped
    assert drows[(12, 0)].chunk_text == "a b" and drows[(12, 0)].n_tokens == 2


def test_chunk_content_defined_model_and_edit_stability(spark):
    """CDC chunking vs an exact Python model (same md5-bucket boundary
    rule), plus the property that justifies CDC over fixed windows: a
    prefix edit changes only chunks up to the first shared boundary —
    every later chunk hash is identical between the two revisions."""
    import hashlib

    from fund_data_pipeline_spark.operators.chunking import chunk_content_defined

    def is_boundary(tok: str, divisor: int = 16) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % divisor == 0

    def model(tokens: list[str], divisor: int = 16) -> list[str]:
        chunks, cur = [], []
        for i, t in enumerate(tokens):
            cur.append(t)
            if i < len(tokens) - 1 and is_boundary(t, divisor):
                chunks.append(" ".join(cur))
                cur = []
        chunks.append(" ".join(cur))
        return chunks

    base = [f"w{i * 37 % 211}" for i in range(300)]
    edited = ["INS0", "INS1"] + base  # prefix insertion
    docs = spark.createDataFrame(
        # doc 4 is SPACE-whitespace-only: dropped (trim() strips spaces;
        # tab/newline-only docs pass the filter identically on both
        # engines — pinned by the catalog parity gate, same contract as
        # chunk_by_tokens)
        [(1, " ".join(base)), (2, " ".join(edited)), (3, "solo"), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_content_defined(docs, divisor=16)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, {})[r.chunk_idx] = r
    # exact model parity, in order, for both revisions
    for doc_id, toks in ((1, base), (2, edited)):
        want = model(toks)
        texts = [got[doc_id][i].chunk_text for i in range(len(got[doc_id]))]
        assert texts == want, f"doc {doc_id} diverged from the model"
        assert all(
            got[doc_id][i].n_tokens == len(w.split(" ")) for i, w in enumerate(want)
        )
    # single-token doc -> one chunk even if that token is a boundary
    assert len(got[3]) == 1 and got[3][0].chunk_text == "solo"
    # whitespace-only doc dropped
    assert 4 not in got
    # edit stability: all chunks after the first boundary are shared
    c1 = [got[1][i].chunk_text for i in range(len(got[1]))]
    c2 = [got[2][i].chunk_text for i in range(len(got[2]))]
    assert len(c1) > 3, "fixture produced too few chunks to be meaningful"
    assert c1[1:] == c2[len(c2) - len(c1) + 1 :], (
        "a prefix edit must not re-align downstream chunk boundaries"
    )


def test_mixture_sample_rates_and_determinism(spark):
    from fund_data_pipeline_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else ("zh" if i % 4 == 1 else None)) for i in range(4000)],
        "doc_id long, lang string",
    )
    out = mixture_sample(df, "doc_id", "lang", {"en": 0.25, "zh": 0.5}, default_rate=1.0)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts[None] == 1000           # default rate keeps every NULL-stratum row
    assert 0.18 <= counts["en"] / 2000 <= 0.32   # ~25% of 2000
    assert 0.40 <= counts["zh"] / 1000 <= 0.60   # ~50% of 1000

    # deterministic: the exact same doc_ids survive a re-run
    again = mixture_sample(df, "doc_id", "lang", {"en": 0.25, "zh": 0.5}, default_rate=1.0)
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())

    with pytest.raises(ValueError, match="rate"):
        mixture_sample(df, "doc_id", "lang", {"en": 1.5})


def test_pack_token_budget_boundary_semantics(spark):
    from fund_data_pipeline_spark.operators.chunking import pack_token_budget

    chunks = spark.createDataFrame(
        [
            # (doc, idx, tokens) laid out in order: cumsum-before 0,3,6,9,12
            ("s1", 1, 0, 3), ("s1", 1, 1, 3), ("s1", 2, 0, 3),
            ("s1", 3, 0, 3), ("s1", 3, 1, 3),
            ("s2", 1, 0, 10),
        ],
        "source string, doc_id long, chunk_idx long, n_tokens long",
    )
    out = pack_token_budget(
        chunks, budget=8, group_cols=("source",), order_cols=("doc_id", "chunk_idx")
    )
    packs = {(r.source, r.doc_id, r.chunk_idx): r.pack_id for r in out.collect()}
    # s1: before-totals 0,3,6 -> pack 0 (the 6-start chunk straddles the
    # boundary but stays in the pack it started in); 9,12 -> pack 1
    assert packs[("s1", 1, 0)] == 0 and packs[("s1", 1, 1)] == 0
    assert packs[("s1", 2, 0)] == 0
    assert packs[("s1", 3, 0)] == 1 and packs[("s1", 3, 1)] == 1
    # groups pack independently
    assert packs[("s2", 1, 0)] == 0

    with pytest.raises(ValueError, match="budget"):
        pack_token_budget(chunks, budget=0)


def test_scrub_boilerplate_segments_edges(spark):
    """r16 sweep: scrub_boilerplate_segments had only the catalog oracle +
    a plan test — the r11 NULL-id join fix and the all-segments-hot edge
    were never unit-pinned. Pins: (a) hot segments removed everywhere and
    reassembly preserves original order, (b) a doc whose EVERY segment is
    hot empties to clean_text '' with n_removed == n_segments (not a
    dropped row), (c) a NULL doc_id survives the null-safe totals join
    with its own reassembled text, (d) segments appearing only in NULL-id
    docs never count toward document frequency (countDistinct ignores
    NULL ids — same on both engines; documented edge, not a bug)."""
    from fund_data_pipeline_spark.operators.chunking import (
        scrub_boilerplate_segments,
    )

    hot = "x y"  # one 2-token segment repeated across > max_doc_freq docs
    rows = [(i, f"{hot} body{i} tail{i}") for i in range(4)]  # hot + unique
    rows.append((100, f"{hot} {hot}"))  # every segment hot
    rows.append((None, f"{hot} nullish tail"))  # NULL id
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["clean_text"])
        for r in scrub_boilerplate_segments(
            docs, segment_tokens=2, max_doc_freq=2
        ).collect()
    }
    # (a) hot head removed, order of survivors preserved
    assert out[0] == (2, 1, "body0 tail0")
    # (b) all-hot doc stays in the result, emptied
    assert out[100] == (2, 2, "")
    # (c) NULL-id doc keeps its reassembled text (eqNullSafe join)
    assert out[None] == (2, 1, "nullish tail")

    # (d) a segment occurring in 3 NULL-id docs + 1 real doc has
    # countDistinct df = 1 -> never hot, even at max_doc_freq=2
    nd = spark.createDataFrame(
        [(None, "n g"), (None, "n g"), (None, "n g"), (7, "n g")],
        "doc_id long, text string",
    )
    out2 = {
        r["doc_id"]: r["clean_text"]
        for r in scrub_boilerplate_segments(nd, segment_tokens=2, max_doc_freq=2).collect()
    }
    assert out2[7] == "n g"


def test_leakage_safe_split_colocates_exact_duplicates(spark, sf_dir):
    from fund_data_pipeline_spark.queries.registry import QUERIES

    docs = spark.createDataFrame(
        [(i, "identical body") for i in range(50)]
        + [(100 + i, f"unique body {i}") for i in range(50)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet("/tmp/lss_docs/documents.parquet")
    out = QUERIES["leakage_safe_split"].spark(spark, "/tmp/lss_docs")
    rows = {r.doc_id: r.split for r in out.collect()}
    dup_splits = {rows[i] for i in range(50)}
    assert len(dup_splits) == 1  # every identical doc in the same split
    assert set(rows.values()) <= {"train", "val", "test"}


def test_banded_pairs_skew_bounded_identical_pairs_and_bounded_buckets(spark):
    """Hot-band skew guard (VERDICT r5 item 6): the grid decomposition must
    emit EXACTLY the naive self-join's pair set (recall unchanged) while no
    join-key group on either replicated side exceeds block_size rows."""
    from fund_data_pipeline_spark.operators.similarity import (
        _blocked_sides,
        banded_pairs_skew_bounded,
    )

    rows = (
        # one pathological hot bucket: 50 members in band 0
        [(i, 0, "HOT") for i in range(50)]
        # a bucket exactly at the block bound
        + [(100 + i, 1, "EDGE") for i in range(8)]
        # small buckets and a singleton
        + [(200, 0, "S1"), (201, 0, "S1"), (202, 1, "S2"), (203, 1, "S2"), (204, 1, "S2"), (300, 2, "LONER")]
    )
    bands = spark.createDataFrame(rows, "doc_id long, band int, band_key string")

    naive = {
        (r.doc_a, r.doc_b)
        for r in bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .collect()
    }
    bounded = {
        (r.doc_a, r.doc_b)
        for r in banded_pairs_skew_bounded(bands, block_size=8).collect()
    }
    assert bounded == naive
    assert len(bounded) == 50 * 49 // 2 + 8 * 7 // 2 + 1 + 3

    left, right = _blocked_sides(bands, ["band", "band_key"], "doc_id", 8)
    max_left = (
        left.groupBy("band", "band_key", "__blk", "__pj")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    max_right = (
        right.groupBy("band", "band_key", "__pi", "__blk")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_left <= 8 and max_right <= 8

    # buckets at/below block_size replicate nothing: one cell per row
    edge_left = left.filter(F.col("band_key") == "EDGE")
    assert edge_left.count() == 8


def test_blocked_pair_cosine_arrow_matches_expression_form(spark):
    """The r16 cogrouped block-matmul pair-cosine kernel must emit exactly
    the pairs the blocked_self_join + HOF-dot + cosine-expression + filter
    composition emits, with bit-identical cosine doubles — across multiple
    grid blocks (block_size=2 on an 8-member group), NULL vectors, NULL
    ids, NULL keys, zero-norm vectors, and an exact-threshold pair
    (cosine == tau passes >= on both forms)."""
    import itertools

    import pytest

    from fund_data_pipeline_spark.operators.similarity import (
        blocked_pair_cosine_arrow,
        blocked_self_join,
    )
    from fund_data_pipeline_spark.queries.vectors import _dot

    rows = [
        (1, 0, [3, -5, 1000000, 7]),
        (2, 0, [-3, 5, 999999, 0]),
        (3, 0, None),  # NULL vector: can never qualify
        (4, 0, [2000000, -2000000, 1, 1]),
        (5, 0, [0, 0, 0, 0]),  # zero norm: can never qualify
        (6, 0, [3, -5, 1000000, 7]),  # identical to 1: cosine exactly 1.0
        (7, 0, [1000001, 2, -7, 12]),
        (8, 1, [1, 2, 3, 4]),
        (9, 1, [4, 3, 2, 1]),
        (10, 2, [11, 12, 13, 14]),  # singleton group: no pairs
        (None, 0, [3, -5, 1000000, 7]),  # NULL id: never pairs (a.id < b.id)
        (11, None, [1, 2, 3, 4]),  # NULL key: the equi-join never matches it
        (12, None, [1, 2, 3, 4]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, cell int, qe array<bigint>")
    vecs = vecs.withColumn("norm2", _dot(F.col("qe"), F.col("qe")))

    # tau=1.0 exercises the exact-threshold boundary; string ids exercise
    # the kernel's NULL-id mask (a NULL long id arrives as NaN and never
    # compares true, a NULL string id would raise inside the comparison)
    for id_type, tau in itertools.product(("long", "string"), (0.35, 1.0)):
        vecs = vecs.withColumn("vec_id", F.col("vec_id").cast(id_type))
        joined = blocked_self_join(vecs, ["cell"], "vec_id", 2, payload_cols=["qe", "norm2"])
        cosine = F.when(
            (F.col("anorm") > 0) & (F.col("cnorm") > 0),
            F.col("dot").cast("double")
            / (F.sqrt(F.col("anorm").cast("double")) * F.sqrt(F.col("cnorm").cast("double"))),
        )
        want = sorted(
            tuple(r)
            for r in joined.select(
                F.col("a.cell").alias("cell"),
                F.col("a.vec_id").alias("vec_id_a"),
                F.col("b.vec_id").alias("vec_id_b"),
                _dot(F.col("a.qe"), F.col("b.qe")).alias("dot"),
                F.col("a.norm2").alias("anorm"),
                F.col("b.norm2").alias("cnorm"),
            )
            .select("cell", "vec_id_a", "vec_id_b", cosine.alias("cosine"))
            .filter(F.col("cosine") >= tau)
            .collect()
        )
        got_df = blocked_pair_cosine_arrow(
            vecs, ["cell"], "vec_id", vec_col="qe", norm_col="norm2",
            threshold=tau, block_size=2,
        )
        assert [f.name for f in got_df.schema.fields] == ["cell", "vec_id_a", "vec_id_b", "cosine"]
        got = sorted(tuple(r) for r in got_df.collect())
        assert got == want, f"{id_type} tau={tau}"
        if tau == 1.0:
            # exactly the planted identical pair survives — note BOTH forms
            # compute its cosine as 1.0000000000000002, not 1.0 (sqrt(n)^2
            # != n in float64); the equality above proves they agree bitwise
            assert [(r[0], str(r[1]), str(r[2])) for r in got] == [(0, "1", "6")]

    with pytest.raises(ValueError, match="reserved"):
        blocked_pair_cosine_arrow(
            vecs.withColumn("__ba", F.lit(1)), ["cell"], "vec_id", norm_col="norm2"
        )
    # component magnitude guard: loud failure, not silent float64 rounding
    big = spark.createDataFrame(
        [(1, 0, [1 << 30, 0, 0, 0]), (2, 0, [1 << 30, 0, 0, 0])],
        "vec_id long, cell int, qe array<bigint>",
    ).withColumn("norm2", _dot(F.col("qe"), F.col("qe")))
    with pytest.raises(Exception, match="exactness bound"):
        blocked_pair_cosine_arrow(big, ["cell"], "vec_id", norm_col="norm2").collect()


def test_approx_profile_accuracy_bounds(spark, sf_dir):
    """The sketch profile must land within its configured error bounds of
    the exact answers: HLL++ distinct within ~3*rsd, GK percentiles within
    the rank-error guarantee."""
    from fund_data_pipeline_spark.operators.profiling import approx_profile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    row = approx_profile(orders, ["o_custkey", "o_totalprice"], rsd=0.02).first()

    exact_distinct = orders.select("o_custkey").distinct().count()
    est = row["o_custkey__approx_distinct"]
    assert abs(est - exact_distinct) <= max(3, 3 * 0.02 * exact_distinct)

    n = orders.count()
    assert row["n_rows"] == n  # null counts derivable: n_rows - n_nonnull
    assert row["o_custkey__n_nonnull"] == n
    # GK guarantee: estimated p50 has true rank within n/accuracy of n/2
    p50 = row["o_totalprice__percentiles"][0]
    rank = orders.filter(F.col("o_totalprice") <= p50).count()
    assert abs(rank - n / 2) <= n / 10_000 + 1
    # min/max are exact
    exact_min, exact_max = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    assert row["o_totalprice__min"] == exact_min
    assert row["o_totalprice__max"] == exact_max


def test_approx_profile_handles_string_columns(spark, sf_dir):
    """A string column in the profile set must not abort at analysis
    (percentile_approx is numeric-only — review r12): it still gets
    count/min/max/HLL, just no percentile field."""
    from fund_data_pipeline_spark.operators.profiling import approx_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = approx_profile(docs, ["lang", "n_chars"]).first()
    assert row["lang__n_nonnull"] > 0
    assert row["lang__approx_distinct"] > 0
    assert "lang__percentiles" not in row.asDict()
    assert row["n_chars__percentiles"] is not None


def test_bucketed_merge_refuses_in_place_overwrite(spark):
    """out_table == target_table would overwrite the relation being read;
    the contract is write-new-then-flip, enforced up front (review r12)."""
    from fund_data_pipeline_spark import bucketing

    with pytest.raises(ValueError, match="out_table must differ"):
        bucketing.bucketed_merge(
            spark, "some_t", "SOME_T", spark.range(1), ["id"]
        )
    # qualified vs unqualified spellings of the same relation bypassed the
    # raw string compare (ADVICE r12) — both are database-qualified through
    # the catalog before comparing now
    cur = spark.catalog.currentDatabase()
    with pytest.raises(ValueError, match="out_table must differ"):
        bucketing.bucketed_merge(
            spark, f"{cur}.some_t", "some_t", spark.range(1), ["id"]
        )
    with pytest.raises(ValueError, match="out_table must differ"):
        bucketing.bucketed_merge(
            spark, "some_t", f"{cur.upper()}.Some_T", spark.range(1), ["id"]
        )


def test_semantic_dedup_drop_rule_and_trained_codebook(spark, sf_dir):
    """SemDeDup drop-list invariants, checked independently of the oracle:
    every dropped vector cites a strictly-lower witness in its own cell with
    cosine >= tau, and the keep set is exactly the complement — no kept
    vector has a lower-id cell-mate at/above the threshold (the greedy rule
    has no other degrees of freedom). Also exercises the trained-codebook
    branch: a k-means cell layout must preserve the invariants even though
    the cell boundaries (and hence the drop list) differ."""
    from fund_data_pipeline_spark.queries.vectors import (
        SEMDEDUP_TAU,
        semantic_dedup,
        train_ivf_codebook,
    )

    dropped = semantic_dedup(spark, sf_dir).collect()
    assert dropped, "fixture corpus should contain semantic near-dups at tau"
    for r in dropped:
        assert r["witness_id"] < r["vec_id"]
        assert r["n_dups"] >= 1
        assert r["best_cosine"] >= SEMDEDUP_TAU

    # independent recomputation of the pair relation: threshold=-1 keeps
    # every within-cell pair, so the drop set must be exactly the vectors
    # with some lower cell-mate at/above tau
    all_pairs = semantic_dedup(spark, sf_dir, threshold=-1.0)
    expect = {
        r["vec_id"]
        for r in all_pairs.filter(F.col("best_cosine") >= SEMDEDUP_TAU).collect()
    }
    assert {r["vec_id"] for r in dropped} == expect

    codebook = spark.createDataFrame(
        train_ivf_codebook(spark, sf_dir, seed=7), "cid long, qe array<bigint>"
    )
    trained = semantic_dedup(spark, sf_dir, codebook=codebook).collect()
    for r in trained:
        assert r["witness_id"] < r["vec_id"]
        assert r["best_cosine"] >= SEMDEDUP_TAU


def test_assign_cells_arrow_matches_literal_path(spark, sf_dir, monkeypatch):
    """semantic_dedup's one cell-assignment route, the Arrow matmul kernel,
    must give bit-identical cell ids to the plan-literal ``array_min``
    reference (the oracle's (dist, cid) argmin) — including a tie between
    two identical centroids, which must resolve to the lowest cid — and
    must fail loudly on a NULL embedding, an empty codebook, and a codebook
    wider than the driver-collect bound."""
    from fund_data_pipeline_spark.queries import vectors
    from fund_data_pipeline_spark.queries.registry import table
    from fund_data_pipeline_spark.queries.vectors import (
        _cell_dist_arr,
        _quant,
        assign_cells_arrow,
        semantic_dedup,
    )

    def cells(df):
        return {r["vec_id"]: r["cell"] for r in df.collect()}

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant("embedding").alias("qe")
    )
    cases = [
        (emb, emb.filter(F.col("vec_id") < k).select(F.col("vec_id").alias("cid"), "qe"))
        for k in (1, 16, 64)
    ]
    # two IDENTICAL centroids, the higher cid listed first: every vector
    # must resolve to the lowest cid, 0, as the oracle's ORDER BY dist, cid
    dup_cb = spark.createDataFrame(
        [(1, [5, 5, 5, 5]), (0, [5, 5, 5, 5])], "cid long, qe array<bigint>"
    )
    vecs = spark.createDataFrame(
        [(0, [1, 2, 3, 4]), (1, [9, 9, 9, 9])], "vec_id long, qe array<bigint>"
    )
    cases.append((vecs, dup_cb))
    for vs, cb in cases:
        lit = cells(vs.withColumn("cell", F.array_min(_cell_dist_arr(cb.collect()))["cid"]))
        arrow = cells(assign_cells_arrow(vs, cb))
        assert arrow == lit, f"arrow cell assignment diverges at k={cb.count()}"
    assert set(arrow.values()) == {0}

    # whole operator: the first-16 default and the same codebook passed as
    # a DataFrame yield the IDENTICAL drop list
    cb16 = cases[1][1]
    default_drops = sorted(map(tuple, semantic_dedup(spark, sf_dir, n_cells=16).collect()))
    df_drops = sorted(map(tuple, semantic_dedup(spark, sf_dir, codebook=cb16).collect()))
    assert default_drops == df_drops and default_drops

    # dirty-data contract: a NULL embedding fails the kernel
    # LOUDLY with a usable message, and an empty codebook is refused
    dirty = spark.createDataFrame(
        [(0, [1] * 4), (1, None)], "vec_id long, qe array<bigint>"
    )
    cb4 = spark.createDataFrame([(0, [1] * 4)], "cid long, qe array<bigint>")
    with pytest.raises(Exception, match="NULL embedding in batch"):
        assign_cells_arrow(dirty, cb4).collect()
    with pytest.raises(ValueError, match="empty codebook"):
        assign_cells_arrow(dirty, cb4.filter(F.col("cid") < 0))

    # the driver collect is bounded: a codebook one cell past the bound is
    # refused before any centroid reaches the kernel; at the bound it runs
    monkeypatch.setattr(vectors, "MAX_CODEBOOK_CELLS", 2)
    cb3 = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("cid"), "qe")
    with pytest.raises(ValueError, match="more than 2 cells"):
        assign_cells_arrow(emb, cb3)
    assert set(cells(assign_cells_arrow(vecs, dup_cb)).values()) == {0}


def test_train_codebook_distributed_recovers_planted_blobs(spark):
    """The uncapped Lloyd trainer (r15 — the training half of the 100k-cell
    production SemDeDup story): on three well-separated planted blobs it
    recovers one center per blob with the exact rounded blob means, the
    result feeds semantic_dedup(codebook=...) directly, a dead center
    persists at its previous position (width stays k), and the whole run
    is deterministic (no RNG anywhere)."""
    from fund_data_pipeline_spark.queries.vectors import (
        assign_cells_arrow,
        train_codebook_distributed,
    )

    import hashlib

    dim = 8
    blobs = {0: 1_000_000, 1: -2_000_000, 2: 5_000_000}
    # Lloyd recovers planted blobs only from a SPREAD init; the trainer's
    # deterministic md5-rank sample is hash-uniform over ids, so place the
    # three hash-smallest ids in DISTINCT blobs (computed here with the
    # same md5 order the trainer uses). Production inits at k ~ corpus/1024
    # are spread for the same hash-uniformity reason.
    ids = sorted(range(60), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    blob_of = {}
    for rank, vid in enumerate(ids):
        blob_of[vid] = rank % 3  # seeds (ranks 0,1,2) land in blobs 0,1,2
    rows = []
    member_idx = {0: 0, 1: 0, 2: 0}
    for vid in range(60):
        b = blob_of[vid]
        j = member_idx[b]
        member_idx[b] += 1
        vec = [blobs[b] + ((j * 7 + i) % 5 - 2) for i in range(dim)]
        rows.append((vid, vec, b))
    emb = spark.createDataFrame(
        [(v, q) for v, q, _ in rows], "vec_id long, qe array<bigint>"
    )
    blob_points = {b: [q for _, q, bb in rows if bb == b] for b in blobs}

    cb = train_codebook_distributed(emb, k=3, iters=3)
    got = {r["cid"]: list(r["qe"]) for r in cb.collect()}
    assert sorted(got) == [0, 1, 2]

    # every blob maps to exactly one cell and centers equal the exact
    # rounded per-dimension blob means (computed independently here)
    assigned = assign_cells_arrow(emb, cb)
    cells_by_blob = {}
    for r in assigned.collect():
        cells_by_blob.setdefault(blob_of[r["vec_id"]], set()).add(r["cell"])
    assert all(len(c) == 1 for c in cells_by_blob.values()), cells_by_blob
    assert len(set().union(*cells_by_blob.values())) == 3
    from decimal import ROUND_HALF_UP, Decimal

    for b in blobs:
        cell = next(iter(cells_by_blob[b]))
        pts = blob_points[b]
        expect = [
            int(
                (Decimal(sum(p[i] for p in pts)) / len(pts)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
            for i in range(dim)
        ]
        assert got[cell] == expect, f"blob {b}"

    # determinism: a second run is bit-identical
    cb2 = {r["cid"]: list(r["qe"]) for r in train_codebook_distributed(emb, k=3, iters=3).collect()}
    assert cb2 == got

    # dead center: k=4 over 3 blobs — the unclaimed center keeps its
    # initial position and the width stays exactly 4
    cb4 = train_codebook_distributed(emb, k=4, iters=2)
    rows4 = cb4.collect()
    assert len(rows4) == 4 and sorted(r["cid"] for r in rows4) == [0, 1, 2, 3]

    with pytest.raises(ValueError, match="k must be"):
        train_codebook_distributed(emb, k=0)
    with pytest.raises(ValueError, match="iters"):
        train_codebook_distributed(emb, k=2, iters=0)

    # r15 ADVICE: corpus narrower than k must fail LOUDLY — orderBy.limit(k)
    # would silently yield a sub-k codebook, contradicting the documented
    # "width stays exactly k" contract that downstream assign_cells_* trust
    with pytest.raises(ValueError, match="only 60 rows.*k=100"):
        train_codebook_distributed(emb, k=100)


def test_semantic_dedup_hot_cell_is_skew_bounded_with_identical_drops(spark, sf_dir):
    """VERDICT r6 item 2: a hot cell (every vector forced into ONE cell via
    a single-centroid codebook) must produce the SAME drop list whether the
    pair join runs naive or through the grid decomposition at a tiny
    block_size — and the blocked sides must never exceed block_size rows
    per join-key group (the quadratic-straggler bound)."""
    from fund_data_pipeline_spark.operators.similarity import _blocked_sides
    from fund_data_pipeline_spark.queries.vectors import (
        EMB_DIM,
        _quant,
        cells_for_corpus,
        semantic_dedup,
    )
    from fund_data_pipeline_spark.queries.registry import table

    # every vector maps to cell 0
    one_cell = spark.createDataFrame([(0, [0] * EMB_DIM)], "cid long, qe array<bigint>")

    def drops(block_size):
        return {
            (r.vec_id, r.n_dups, round(r.best_cosine, 12), r.witness_id)
            for r in semantic_dedup(
                spark, sf_dir, codebook=one_cell, threshold=0.3,
                block_size=block_size,
            ).collect()
        }

    bounded = drops(block_size=7)
    naive = drops(block_size=1_000_000)  # one block == the plain self-join
    assert bounded == naive and bounded, "hot-cell drop list must be identical"

    # the bound itself: no grid side holds more than block_size rows
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant("embedding").alias("qe"), F.lit(0).alias("cell")
    )
    left, right = _blocked_sides(emb, ["cell"], "vec_id", 7, ["qe"])
    max_left = left.groupBy("cell", "__blk", "__pj").count().agg(F.max("count")).first()[0]
    max_right = right.groupBy("cell", "__pi", "__blk").count().agg(F.max("count")).first()[0]
    assert max_left <= 7 and max_right <= 7

    # the sizing helper mirrors lsh_bits_for_corpus: constant expected cell
    # population, UNCLAMPED (r15 — the codebook is bounded only by
    # assign_cells_arrow's MAX_CODEBOOK_CELLS driver-collect guard)
    assert cells_for_corpus(500) == 1
    assert cells_for_corpus(1024 * 100) == 100
    assert cells_for_corpus(1024 * 100_000) == 100_000
    assert cells_for_corpus(10**12) == 976_562_500


def test_n_cells_sql_matches_cells_for_corpus_exactly():
    """The semantic_dedup_scaled oracle computes cells_for_corpus(COUNT(*))
    in SQL (queries/vectors.py::_N_CELLS_SQL). Python's round() is
    round-half-to-even over an EXACT dyadic n/1024, so the SQL's integer
    quotient/remainder half-even logic must agree for every corpus size —
    including the exact ties n = 1024k + 512, where naive half-away
    rounding (DuckDB's round()) differs by one cell.

    The fragment runs VERBATIM against a range(n) relation registered as
    `embeddings` (r14 ADVICE: the old string-surgery harness silently
    broke on any reformatting of the SQL, testing a rewrite instead of
    the production text). DuckDB counts a range() view fast up to ~1e8,
    so the verbatim tier covers every arithmetic branch (remainder
    0/511/512/513, both quotient parities, the <=1024 floor, a
    past-the-old-clamp width) plus a hypothesis sweep; the >=1e9 tail is
    covered by the pure-Python half-even model below, which the verbatim
    tier pins to the SQL."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fund_data_pipeline_spark.queries.vectors import _N_CELLS_SQL, cells_for_corpus

    con = duckdb.connect()

    def sql_cells(n: int) -> int:
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM range({n})")
        return con.sql(_N_CELLS_SQL).fetchone()[0]

    def model(n: int) -> int:
        # independent Python spelling of the SQL's integer half-even branch
        if n <= 1024:
            return 1
        q, r = divmod(n, 1024)
        return max(1, q + 1 if r > 512 else (q if r < 512 else q + q % 2))

    branch_cases = [0, 1, 1023, 1024, 1025, 1535, 1536, 1537, 2048, 2560,
                    3584, 1024 * 100 + 511, 1024 * 100 + 512, 1024 * 100 + 513,
                    1024 * 101 + 512, 1024 * 10_000 + 512, 104_858_112]
    for n in branch_cases:
        got = sql_cells(n)
        assert got == cells_for_corpus(n) == model(n), f"n={n}: sql={got}"

    @settings(max_examples=100, deadline=None)
    @given(st.integers(min_value=0, max_value=2 * 10**8))
    def check_verbatim(n):
        assert sql_cells(n) == cells_for_corpus(n), f"n={n}"

    check_verbatim()

    @settings(max_examples=500, deadline=None)
    @given(st.integers(min_value=0, max_value=10**13))
    def check_model(n):
        assert model(n) == cells_for_corpus(n), f"n={n}"

    check_model()


def test_record_linkage_blocks_on_observed_value_and_recovers(spark, sf_dir):
    """VERDICT r6 item 3: blocking keys must be computed from the OBSERVED
    dirty value, the mod-2 suffix transposition must genuinely damage the
    primary block key for some records, and the multi-pass blocking union
    must still link every such record to its true master."""
    from fund_data_pipeline_spark.queries.registry import table
    from fund_data_pipeline_spark.queries.text import (
        _RL_DIRTY_SQL,
        _rl_block_exprs,
        record_linkage_fuzzy,
    )

    cust = table(spark, sf_dir, "customer")
    b1, _ = _rl_block_exprs("dirty_name")
    m1, _ = _rl_block_exprs("c_name")
    damaged = (
        cust.selectExpr("c_custkey", "c_name", f"{_RL_DIRTY_SQL} AS dirty_name")
        .selectExpr("c_custkey", f"{b1} AS dirty_block1", f"{m1} AS master_block1")
        .filter("dirty_block1 <> master_block1")
    )
    n_damaged = damaged.count()
    assert n_damaged > 0, "fixture must contain records whose block1 is corrupted"
    # only the mod-2 transposition can touch the suffix
    assert damaged.filter("c_custkey % 4 <> 2").count() == 0

    linked = record_linkage_fuzzy(spark, sf_dir)
    total = cust.count()
    assert linked.count() == total, "every dirty record must receive a match"
    # a transposed suffix can land ON (dist 0) or AS CLOSE TO (tied dist)
    # another master's name — "...002" -> "...020" is customer 20 exactly —
    # and no linkage can resolve those. The invariant an argmin must keep:
    # a wrong match is never FARTHER from the observed value than the true
    # master is (dist <= true_dist), i.e. mismatches are ambiguity, never a
    # missed candidate.
    true_dist = (
        cust.selectExpr("c_custkey AS dirty_key", f"{_RL_DIRTY_SQL} AS dirty_name")
        .join(cust.selectExpr("c_custkey AS dirty_key", "c_name AS true_name"), "dirty_key")
        .select("dirty_key", F.levenshtein("dirty_name", "true_name").alias("true_dist"))
    )
    wrong = linked.filter("dirty_key <> master_key").join(true_dist, "dirty_key")
    assert wrong.filter("dist > true_dist").count() == 0, (
        "a record linked to a master farther than its true master — blocking "
        "missed the true candidate"
    )
    # every damaged-block record still received a dist<=2 match via the
    # redundant sorted-suffix pass — the recall multi-pass blocking exists
    # to provide (its OWN master unless an exact collision outranked it)
    recovered = linked.join(
        damaged.select(F.col("c_custkey").alias("dirty_key")), "dirty_key"
    )
    assert recovered.count() == n_damaged
    assert recovered.filter("dist > 2").count() == 0


def test_flatten_hierarchy_edge_table_doubling_and_guards(spark):
    """VERDICT r6 item 4: the library flatten must walk a REAL edge table.
    Pointer doubling resolves a 300-deep chain well inside its
    ceil(log2(max_depth))+1 round budget; cycles raise; a duplicate-parent
    child is refused; a dangling parent resolves as a terminal instead of
    vanishing."""
    from fund_data_pipeline_spark.operators.graph import flatten_hierarchy

    # forest: two trees + an isolated root
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (5, 4), (10, 11)], "child long, parent long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]], "node long")
    got = {
        r.node: (r.root, r.depth)
        for r in flatten_hierarchy(edges, nodes=nodes).collect()
    }
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 2), 5: (1, 3),
        10: (11, 1), 11: (11, 0), 99: (99, 0),
    }

    # 300-deep chain: needs 9 doubling rounds (2^9=512), not 300 joins
    chain = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 301)], "child long, parent long"
    )
    deep = flatten_hierarchy(chain, max_depth=512)
    rows = {r.node: (r.root, r.depth) for r in deep.collect()}
    assert rows[300] == (0, 300) and rows[1] == (0, 1) and rows[0] == (0, 0)

    # cycle: node 9 chases INTO it too, so nothing resolves and the call raises
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (9, 1)], "child long, parent long")
    with pytest.raises(RuntimeError, match="cycle"):
        flatten_hierarchy(cyc).collect()

    # two parents for one child is refused up front
    dup = spark.createDataFrame([(1, 2), (1, 3)], "child long, parent long")
    with pytest.raises(ValueError, match="multiple parent"):
        flatten_hierarchy(dup)

    # dangling parent (edge leaves the declared node set) = terminal root
    dang = spark.createDataFrame([(1, 77)], "child long, parent long")
    only1 = spark.createDataFrame([(1,)], "node long")
    out = {r.node: (r.root, r.depth) for r in flatten_hierarchy(dang, nodes=only1).collect()}
    assert out == {1: (77, 1)}

    # a NULL child row (malformed edge) must not emit a (null, null, 0)
    # result row (review r13)
    withnull = spark.createDataFrame([(1, 2), (None, 3)], "child long, parent long")
    out = {r.node: (r.root, r.depth) for r in flatten_hierarchy(withnull).collect()}
    assert out == {1: (2, 1), 2: (2, 0), 3: (3, 0)}


# ---------------------------------------------------------------------------
# redaction
# ---------------------------------------------------------------------------


def test_scrub_pii_masks_and_preserves(spark):
    from fund_data_pipeline_spark.operators.redaction import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk today"),
            (2, "ssn 123-45-6789 on file"),
            (3, "host 192.168.001.1 responded"),
            (4, "card 12345678901234 charged"),
            (5, "clean text stays clean"),
            (6, None),
            (7, "dual jo@ex.com and 987654321"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in scrub_pii(df).collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "ssn <SSN> on file"
    assert got[3] == "host <IP> responded"
    assert got[4] == "card <NUM> charged"
    assert got[5] == "clean text stays clean"
    assert got[6] is None  # NULL text stays NULL — never invent content
    assert got[7] == "dual <EMAIL> and <NUM>"

    # out_col keeps the original for audit diffs
    both = scrub_pii(df, out_col="redacted").filter("doc_id = 2").collect()[0]
    assert both.text == "ssn 123-45-6789 on file" and both.redacted == "ssn <SSN> on file"


def test_scrub_pii_sql_parity(spark):
    """The generated DuckDB chain produces byte-identical redactions —
    the invariant the pii_redaction oracle hash check rests on."""
    import duckdb

    from fund_data_pipeline_spark.operators.redaction import scrub_pii, scrub_pii_sql

    texts = [
        "a@b.io met 111-22-3333 at 10.0.0.255 ref 123456789012",
        "no pii here",
        "edge: almost-ssn 1234-56-7890 and short ip 1.2.3",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    spark_out = [r.text for r in scrub_pii(df).orderBy("i").collect()]
    duck_out = [
        duckdb.sql(f"SELECT {scrub_pii_sql('?::VARCHAR')}", params=[t]).fetchone()[0]
        for t in texts
    ]
    assert spark_out == duck_out


# ---------------------------------------------------------------------------
# corpus dedup pipeline composition
# ---------------------------------------------------------------------------


def test_corpus_dedup_pipeline_stage_attribution(spark, sf_dir):
    """Stage-attribution counts must sum to the total drops (every dropped
    doc has exactly ONE stage), each stage must drop into the survivor set
    of the previous stage, and stage 1 must agree with the standalone
    exact_dedup query."""
    from fund_data_pipeline_spark.queries.mlops import corpus_dedup_pipeline
    from fund_data_pipeline_spark.queries.text import exact_dedup

    rows = corpus_dedup_pipeline(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs  # exactly one verdict per document

    by_stage: dict[str, int] = {}
    n_kept = 0
    for r in rows:
        assert (r.drop_stage is None) == bool(r.keep)
        if r.drop_stage is None:
            n_kept += 1
        else:
            by_stage[r.drop_stage] = by_stage.get(r.drop_stage, 0) + 1
    assert set(by_stage) <= {"exact", "near_dup", "semantic", "quality"}
    assert sum(by_stage.values()) == n_docs - n_kept  # attribution is total

    # stage 1 parity with the standalone exact_dedup operator: its drop
    # count is (copies - groups)
    ed = exact_dedup(spark, sf_dir).collect()
    exact_drops = sum(r.n_copies for r in ed) - len(ed)
    assert by_stage.get("exact", 0) == exact_drops


# ---------------------------------------------------------------------------
# bounded-span gap fill
# ---------------------------------------------------------------------------


def test_gap_fill_locf_span_cap_with_carry_in(spark):
    """last_n_days must (1) bound every key's spine to N rows, (2) keep
    in-range carried values identical to the unbounded spine (carry-in
    across the cap from pre-cap observations), and (3) leave keys shorter
    than N untouched."""
    import datetime as dt

    from fund_data_pipeline_spark.operators.timeseries import gap_fill_locf

    d = dt.date
    daily = spark.createDataFrame(
        [
            # key 1: long history — obs on day 1, 3, then a 60-day gap, obs day 64
            (1, d(2024, 1, 1), 10.0),
            (1, d(2024, 1, 3), 30.0),
            (1, d(2024, 3, 4), 64.0),
            # key 2: short history, inside any cap
            (2, d(2024, 1, 10), 5.0),
            (2, d(2024, 1, 12), 7.0),
        ],
        "k long, dt date, v double",
    )
    full = gap_fill_locf(daily, ["k"], "dt", "v")
    capped = gap_fill_locf(daily, ["k"], "dt", "v", last_n_days=10)

    full_rows = {(r.k, r.dt): (r.v, r.carried) for r in full.collect()}
    cap_rows = {(r.k, r.dt): (r.v, r.carried) for r in capped.collect()}

    # key 1 spans 64 days unbounded, exactly 10 capped; key 2 spans 3 both ways
    assert sum(1 for k, _ in full_rows if k == 1) == 64
    assert sum(1 for k, _ in cap_rows if k == 1) == 10
    assert sum(1 for k, _ in cap_rows if k == 2) == 3

    # capped rows agree with the unbounded spine, including carry-in: every
    # capped day of key 1 is a gap day except the last, carried from day 3's
    # observation (30.0) across the cap boundary
    for key_dt, val in cap_rows.items():
        assert full_rows[key_dt] == val
    assert cap_rows[(1, d(2024, 2, 28))] == (None, 30.0)
    assert cap_rows[(1, d(2024, 3, 4))] == (64.0, 64.0)

    with pytest.raises(ValueError, match="last_n_days"):
        gap_fill_locf(daily, ["k"], "dt", "v", last_n_days=0)

    # a NULL observation just before the cap must not mask the older real
    # value: the carry-in seed skips NULLs like the in-spine LOCF does
    nully = spark.createDataFrame(
        [(1, d(2024, 1, 1), 5.0), (1, d(2024, 1, 2), None), (1, d(2024, 3, 1), 1.0)],
        "k long, dt date, v double",
    )
    got = {
        r.dt: r.carried
        for r in gap_fill_locf(nully, ["k"], "dt", "v", last_n_days=10).collect()
    }
    want = {
        r.dt: r.carried
        for r in gap_fill_locf(nully, ["k"], "dt", "v").collect()
        if r.dt in got
    }
    assert got == want and got[d(2024, 2, 25)] == 5.0

    # reserved internal names hard-fail up front instead of producing an
    # ambiguous column in the spans-spine join (review r9)
    clashing = daily.withColumn("__d0", F.lit(1))
    with pytest.raises(ValueError, match="reserved by gap_fill_locf"):
        gap_fill_locf(clashing, ["k"], "dt", "v")


def test_gap_fill_capped_catalog_matches_unbounded_on_short_spans(spark, sf_dir):
    """Catalog-level invariant for gap_fill_locf_capped (new r13, the
    production form of calendar_gap_fill): a customer whose full history
    fits inside the 90-day cap must get the IDENTICAL gap-stats row from
    both queries — the cap and the carry-in seed may only change customers
    whose span the cap actually truncates."""
    from fund_data_pipeline_spark.queries import QUERIES

    full = {
        r.custkey: (r.n_days, r.n_gap_days, r.carried_revenue)
        for r in QUERIES["calendar_gap_fill"].spark(spark, sf_dir).collect()
    }
    capped = {
        r.custkey: (r.n_days, r.n_gap_days, r.carried_revenue)
        for r in QUERIES["gap_fill_locf_capped"].spark(spark, sf_dir).collect()
    }
    assert set(full) == set(capped)
    short = {k for k, v in full.items() if v[0] <= 90}
    assert short, "fixture has no customer with a <=90-day span"
    diverged = {k for k in short if full[k] != capped[k]}
    assert not diverged, f"cap changed short-span customers: {sorted(diverged)[:5]}"
    # and the cap is actually exercised by the fixture: some long-span
    # customer's n_days is clamped to exactly the cap
    assert any(v[0] == 90 for v in capped.values())


def test_scrub_pii_parity_fuzz(spark):
    """Cross-engine redaction parity over 200 seeded pseudo-random texts
    mixing PII-shaped fragments, unicode, and near-miss patterns — the
    pii_redaction oracle's hash check reduces to exactly this invariant."""
    import random

    import duckdb

    from fund_data_pipeline_spark.operators.redaction import scrub_pii, scrub_pii_sql

    rng = random.Random(8)
    frags = [
        "plain words here", "a@b.io", "x.y+z@mail.example.com", "999-88-7777",
        "12-34-5678", "10.0.0.1", "999.999.999.999", "1.2.3", "123456789",
        "12345678", "98765432109876543210", "v1.2.3.4-rc", "a@b", "@nope",
        "café ümlaut", "tab\tsep", "end.", "(1) [2] {3}", "a@@b.co",
    ]
    texts = [
        " ".join(rng.choice(frags) for _ in range(rng.randint(1, 12)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    spark_out = [r.text for r in scrub_pii(df).orderBy("i").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ", ".join(f"({i}, ?)" for i in range(len(texts))) + ") v(i, text)",
                texts)
    duck_out = [r[0] for r in con.execute(
        f"SELECT {scrub_pii_sql('text')} FROM t ORDER BY i").fetchall()]
    assert spark_out == duck_out


def test_scrub_pii_is_streaming_safe(spark, sf_dir):
    """scrub_pii is a stateless map-side transform, so it must compose with
    Structured Streaming unchanged: a streamed scrub over the documents
    landing zone (availableNow drain) yields exactly the batch result."""
    from fund_data_pipeline_spark.operators.redaction import scrub_pii
    from fund_data_pipeline_spark.streaming.streams import run_to_memory

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    streamed = run_to_memory(
        scrub_pii(sdf).select("doc_id", "text"), mode="append"
    ).collect()
    batch = scrub_pii(spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id", "text"
    ).collect()
    assert sorted((r.doc_id, r.text) for r in streamed) == sorted(
        (r.doc_id, r.text) for r in batch
    )


def test_run_to_memory_releases_conf_lock_on_failure(spark, sf_dir, monkeypatch):
    """run_to_memory pins shuffle_partitions under _CONF_LOCK; if conf
    get/set throws after the acquire (e.g. a stopped session), the lock
    must still be released or every later pinned drain deadlocks forever
    (ADVICE r11)."""
    from fund_data_pipeline_spark.streaming import streams

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )

    def boom(self, *a, **k):
        raise RuntimeError("stopped session")

    monkeypatch.setattr(type(spark.conf), "set", boom)
    with pytest.raises(RuntimeError, match="stopped session"):
        streams.run_to_memory(sdf.select("event_type"), mode="append")
    acquired = streams._CONF_LOCK.acquire(blocking=False)
    assert acquired, "conf lock leaked by the failed drain"
    streams._CONF_LOCK.release()


def test_topk_cosine_excludes_zero_norm_vectors(spark):
    """A zero-norm (padding) vector has no defined cosine: 0/0 NaN sorts
    LAST in the pandas partial top-k but FIRST in Spark's orderBy — so it
    must be excluded outright, and a zero query vector must be rejected."""
    from fund_data_pipeline_spark.operators.similarity import topk_cosine

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 0.0], 0),  # zero-norm: must never appear in results
        (2, [0.5, 0.5], 0),
        (3, None, 0),  # NULL embedding: skipped, as the SQL form skips it
    ]
    schema = "vec_id long, embedding array<float>, label int"
    emb = spark.createDataFrame(rows, schema)
    got = [r.vec_id for r in topk_cosine(emb, [1.0, 0.0], k=3).collect()]
    assert got == [0, 2]  # ranked by cosine, zero and NULL vectors absent

    with pytest.raises(ValueError, match="zero norm"):
        topk_cosine(emb, [0.0, 0.0], k=3)
    with pytest.raises(ValueError, match="non-finite"):
        topk_cosine(emb, [1.0, float("nan")], k=3)

    # a NULL or NaN COMPONENT would quantize to an arbitrary int64: it must
    # fail loudly and name the column instead
    for bad in ([float("nan"), 1.0], [None, 1.0]):
        dirty = spark.createDataFrame(rows[:3] + [(4, bad, 0)], schema)
        with pytest.raises(Exception, match="non-finite component in column 'embedding'"):
            topk_cosine(dirty, [1.0, 0.0], k=3).collect()


def test_asof_join_null_by_keys_never_match(spark):
    """NULL by-keys must not partition together and cross-match (SQL
    equi-join semantics): a left row with a NULL key keeps LEFT semantics
    with a null match; a right row with a NULL key can never be carried."""
    from fund_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(None, 25), ("A", 25)], "sym string, t long")
    right = spark.createDataFrame(
        [(None, 20, 2.0), ("A", 20, 7.0)], "sym string, t long, px double"
    )
    out = {r.sym: r.px_right for r in asof_join(left, right, on="t", by=["sym"]).collect()}
    assert out == {None: None, "A": 7.0}


def test_deterministic_sample_salt_decorrelates_from_split(spark):
    """Unsalted sample + unsalted split on the same key are fully
    correlated (every sampled row lands in 'train'); a salted sample must
    restore ~independent split proportions on the sampled subset."""
    from fund_data_pipeline_spark.operators.sampling import (
        deterministic_sample,
        train_val_test,
    )

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    unsalted = train_val_test(
        deterministic_sample(df, "doc_id", 0.2), "doc_id"
    ).groupBy("split").count()
    assert {r.split for r in unsalted.collect()} == {"train"}  # degenerate

    salted = {
        r.split: r["count"]
        for r in train_val_test(
            deterministic_sample(df, "doc_id", 0.2, salt="sample"), "doc_id"
        ).groupBy("split").count().collect()
    }
    total = sum(salted.values())
    assert set(salted) == {"train", "val", "test"}
    assert abs(salted["train"] / total - 0.8) < 0.05  # ~independent again


def test_scrub_pii_rejects_engine_divergent_tokens(spark):
    from fund_data_pipeline_spark.operators.redaction import scrub_expr, scrub_pii_sql

    bad = ((r"\d{9,}", "<US$1M>"),)
    with pytest.raises(ValueError, match="interpret differently"):
        scrub_expr("text", bad)
    with pytest.raises(ValueError, match="interpret differently"):
        scrub_pii_sql("text", bad)


def test_decoder_seam_is_codec_agnostic(spark):
    """The codec seam (review r9 / VERDICT item 7): injecting a real decoder
    callable changes ONLY the decoded values — the Arrow batching path,
    output schema, and row contract are identical to the stub's. The codecs
    are defined INSIDE the test so cloudpickle ships them by value (a
    module-level test function would pickle by reference to a module the
    workers can't import) — the same constraint a user's real codec wrapper
    has, documented on the seam."""

    def _fake_image_codec(payload: bytes):
        # a "real" codec stand-in: derives stats from the payload LENGTH so
        # the result provably differs from the md5-based stub
        return len(payload), len(payload) * 2, float(len(payload) % 7), f"{len(payload):016d}"

    def _fake_audio_codec(payload: bytes):
        return 48000, len(payload), 0.5, 0.0

    media = _media(spark, 5)

    out = multimodal.extract_image_features(media, decoder=_fake_image_codec)
    rows = {r.media_id: r for r in out.collect()}
    assert out.columns == ["media_id", "width", "height", "n_bytes", "mean_luma", "phash"]
    assert len(rows) == 5
    # the injected codec's values came through the Arrow path verbatim
    assert rows["m0"].width == 100 and rows["m0"].height == 200
    assert rows["m1"].width == 137 and rows["m1"].phash == f"{137:016d}"
    # and differ from the stub's md5-derived fakes
    stub = {r.media_id: r for r in multimodal.extract_image_features(media).collect()}
    assert stub["m0"].width != rows["m0"].width or stub["m0"].phash != rows["m0"].phash

    audio = multimodal.extract_audio_features(media, decoder=_fake_audio_codec)
    arow = audio.filter(F.col("media_id") == "m2").first()
    assert (arow.sample_rate, arow.duration_ms, arow.rms, arow.clip_frac) == (48000, 174, 0.5, 0.0)

    resized = multimodal.resize_images(
        media, 8, 8, resizer=lambda p, w, h: p[: w * h]
    ).collect()
    assert all(len(r.payload) <= 64 for r in resized)
    assert {r.width for r in resized} == {8}


def test_temperature_sample_thresholds_rates_and_nulls(spark):
    from fund_data_pipeline_spark.operators.sampling import temperature_sample

    # strata: en 1600, zh 400, NULL 100 -> n_min = 100; alpha=0.5 keep
    # rates are sqrt(n_min/n_l): en 0.25, zh 0.5, NULL 1.0
    rows = [(i, "en") for i in range(1600)]
    rows += [(10_000 + i, "zh") for i in range(400)]
    rows += [(20_000 + i, None) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    out = temperature_sample(df, "doc_id", "lang", alpha=0.5, thr_col="thr")
    thr = {r["lang"]: r["thr"] for r in out.select("lang", "thr").distinct().collect()}
    assert thr == {"en": 2500, "zh": 5000, None: 10_000}

    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts[None] == 100                   # rarest stratum kept whole
    assert 0.19 <= counts["en"] / 1600 <= 0.31   # ~25%
    assert 0.40 <= counts["zh"] / 400 <= 0.60    # ~50%

    # deterministic: identical survivor set on a re-run
    again = temperature_sample(df, "doc_id", "lang", alpha=0.5, thr_col="thr")
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())

    # alpha=1 is the natural distribution: every row survives
    natural = temperature_sample(df, "doc_id", "lang", alpha=1.0)
    assert natural.count() == df.count()
    assert "thr" not in natural.columns and not any(c.startswith("__ts_") for c in natural.columns)

    with pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, "doc_id", "lang", alpha=1.5)


def test_cap_per_stratum_matches_naive_window_and_keeps_null_strata(spark):
    from fund_data_pipeline_spark.operators.sampling import cap_per_stratum

    # strata sizes: a=10 (over), b=3 (under), NULL=6 (over); cap=4
    # every a-row ties on score so the tie-break DIRECTION decides the
    # kept set: doc_id ASC must win (a desc regression keeps 6..9 instead)
    rows = [("a", i, 9) for i in range(10)]
    rows += [("b", 100 + i, 9) for i in range(3)]
    rows += [(None, 200 + i, 7 - i) for i in range(6)]
    df = spark.createDataFrame(rows, "src string, doc_id long, score long")

    out = cap_per_stratum(df, ["src"], cap=4, order_by=[F.col("score").desc_nulls_last()], tie_key="doc_id")
    norm = lambda t: (t[0] is not None, t[0] or "", t[1])  # noqa: E731
    kept = sorted(((r.src, r.doc_id) for r in out.collect()), key=norm)

    # naive single-window reference computed in Python
    import itertools

    expect = []
    keyed = sorted(rows, key=lambda r: (r[0] is not None, r[0] or "", -r[2], r[1]))
    for src, grp in itertools.groupby(keyed, key=lambda r: r[0]):
        expect += [(src, r[1]) for r in list(grp)[:4]]
    assert kept == sorted(expect, key=norm)

    by_src = {}
    for s, d in kept:
        by_src.setdefault(s, []).append(d)
    assert len(by_src[None]) == 4        # NULL stratum capped, not dropped
    assert len(by_src["b"]) == 3         # under-cap stratum passes through whole
    # all-tied scores break by doc_id ASC: the four LOWEST ids survive
    assert sorted(by_src["a"]) == [0, 1, 2, 3]

    with pytest.raises(ValueError, match="cap"):
        cap_per_stratum(df, ["src"], cap=0, order_by=[F.col("score")], tie_key="doc_id")
    with pytest.raises(ValueError, match="stratum_cols"):
        cap_per_stratum(df, [], cap=1, order_by=[F.col("score")], tie_key="doc_id")
    with pytest.raises(ValueError, match="clash"):
        cap_per_stratum(
            df.withColumn("__cap_rn", F.lit(1)), ["src"], cap=1,
            order_by=[F.col("score")], tie_key="doc_id",
        )
    # internal-alias collisions raise the intended ValueError, not an
    # analyzer AMBIGUOUS_REFERENCE (review r9)
    with pytest.raises(ValueError, match="clash"):
        cap_per_stratum(
            df.withColumn("__cap_src", F.lit(1)), ["src"], cap=1,
            order_by=[F.col("score")], tie_key="doc_id",
        )
    with pytest.raises(ValueError, match="internal aliases"):
        cap_per_stratum(
            df.withColumnRenamed("src", "n"), ["n"], cap=1,
            order_by=[F.col("score")], tie_key="doc_id",
        )


def test_temperature_sample_reserved_column_guard(spark):
    from fund_data_pipeline_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError, match="clash"):
        temperature_sample(df.withColumn("__ts_lang", F.lit(1)), "doc_id", "lang")
    with pytest.raises(ValueError, match="clash"):
        temperature_sample(df.withColumn("rate", F.lit(1)), "doc_id", "lang", thr_col="rate")
    # a stratum column named 'n'/'n_min' would alias onto the internal
    # count columns — intended ValueError, not AMBIGUOUS_REFERENCE (review r9)
    with pytest.raises(ValueError, match="internal alias"):
        temperature_sample(df.withColumnRenamed("lang", "n"), "doc_id", "n")
    with pytest.raises(ValueError, match="clash"):
        temperature_sample(df.withColumn("__ts_n", F.lit(1)), "doc_id", "lang")


def test_bpe_pair_stats_exact_python_model(spark, sf_dir):
    """bpe_pair_stats vs an exact Python model of the merge statistic
    (Sennrich et al. 2016): weighted adjacent-pair counts over the word
    vocabulary, every position counting once per word occurrence ('aaa'
    contributes two 'aa' positions). The model mirrors the query's exact
    text contract — trim() strips only spaces (tab/newline-only docs
    pass the filter), Java-default \\s+ split, codepoint substr — so any
    kernel drift (off-by-one in the pair sequence, a lost single-char
    guard, tie-break order) breaks value equality, not just row counts."""
    import collections
    import re

    import pyarrow.parquet as pq

    from fund_data_pipeline_spark.queries import QUERIES

    texts = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    # Java \s is ASCII-only by default; Python's is Unicode-aware — spell
    # out the Java class so the model can't silently diverge on exotic ws.
    java_ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
    wf = collections.Counter()
    for t in texts:
        if t is None or not t.strip(" "):
            continue
        wf.update(java_ws.split(t.strip(" ")))
    pair_count = collections.Counter()
    n_positions = collections.Counter()
    for w, freq in wf.items():
        for i in range(len(w) - 1):
            p = w[i : i + 2]
            pair_count[p] += freq
            n_positions[p] += 1
    want = sorted(pair_count, key=lambda p: (-pair_count[p], p))[:50]
    assert len(want) == 50, "sf fixture too small to exercise the top-50 cut"

    got = QUERIES["bpe_pair_stats"].spark(spark, sf_dir).collect()
    assert [r.pair for r in got] == want
    for r in got:
        assert r.pair_count == pair_count[r.pair], r.pair
        assert r.n_word_positions == n_positions[r.pair], r.pair


def test_bpe_train_merges_exact_python_model(spark, sf_dir):
    """train_bpe_merges vs a from-scratch Sennrich (2016) reference: word
    freqs -> k rounds of (weighted adjacent-pair count, argmax by
    (count DESC, left, right), greedy left-to-right non-overlapping merge).
    The Python merge application is the literal textbook scan, so it
    independently checks BOTH engine forms (the Spark array fold and the
    oracle's run-parity window) — including the overlap case left==right
    ('l l l' -> 'll l') that the fold/window equivalence argument covers."""
    import collections
    import re

    import pyarrow.parquet as pq

    from fund_data_pipeline_spark.queries import QUERIES
    from fund_data_pipeline_spark.queries.text import N_BPE_MERGES

    texts = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    java_ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
    wf = collections.Counter()
    for t in texts:
        if t is None or not t.strip(" "):
            continue
        wf.update(java_ws.split(t.strip(" ")))
    vocab = {w: (list(w), f) for w, f in wf.items()}

    def one_round():
        counts, npos = collections.Counter(), collections.Counter()
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] += f
                npos[p] += 1
        if not counts:
            return None
        best = min(counts, key=lambda p: (-counts[p], p))
        for w, (syms, f) in vocab.items():
            out, i = [], 0
            while i < len(syms):  # textbook greedy non-overlapping scan
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, f)
        return best, counts[best], npos[best]

    want = []
    for idx in range(1, N_BPE_MERGES + 1):
        r = one_round()
        if r is None:
            break
        (ls, rs), cnt, np_ = r
        want.append((idx, ls, rs, ls + rs, cnt, np_))

    got = [
        (r.merge_idx, r.left_sym, r.right_sym, r.merged_sym, r.pair_count, r.n_word_positions)
        for r in QUERIES["bpe_train_merges"].spark(spark, sf_dir).orderBy("merge_idx").collect()
    ]
    assert got == want
    assert len(got) == N_BPE_MERGES, "fixture too small to exercise every round"

    # the APPLY half: after k rounds the model's vocab IS the encoded
    # corpus — its frequency-weighted subword stats must match
    # bpe_encode_token_stats exactly (top-50 by (count DESC, token))
    counts, npos = collections.Counter(), collections.Counter()
    for syms, f in vocab.values():
        for sym in syms:
            counts[sym] += f
            npos[sym] += 1
    want_tokens = sorted(counts, key=lambda t: (-counts[t], t))[:50]
    enc = QUERIES["bpe_encode_token_stats"].spark(spark, sf_dir).collect()
    assert [r.token for r in enc] == want_tokens
    for r in enc:
        assert r.n_occurrences == counts[r.token], r.token
        assert r.n_vocab_positions == npos[r.token], r.token


def test_bigram_lm_quality_gate_exact_python_model(spark, sf_dir):
    """bigram_lm_quality_gate vs a from-scratch Python model: Sennrich
    training -> encoded vocabulary -> per-word adjacent subword pairs ->
    frequency-weighted corpus bigram LM -> exact integer per-doc
    likelihood numerators -> float score in the SAME fixed operation
    order -> per-language percent_rank cut. Checks every output row and
    the gate membership, independently of both the Spark plan and the
    DuckDB oracle."""
    import collections
    import re

    import pyarrow.parquet as pq

    from fund_data_pipeline_spark.queries import QUERIES
    from fund_data_pipeline_spark.queries.text import N_BPE_MERGES

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    docs = list(zip(*(tbl.column(c).to_pylist() for c in ("doc_id", "text", "lang"))))
    java_ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
    wf = collections.Counter()
    doc_words = []
    for doc_id, t, lang in docs:
        if t is None or not t.strip(" "):
            continue
        words = [w for w in java_ws.split(t.strip(" ")) if w]
        wf.update(words)
        doc_words.append((doc_id, lang, collections.Counter(words)))
    vocab = {w: (list(w), f) for w, f in wf.items()}
    for _ in range(N_BPE_MERGES):  # textbook Sennrich training rounds
        counts = collections.Counter()
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        for w, (syms, f) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, f)

    # per-word pair multiplicities + the frequency-weighted corpus LM
    wp = {
        w: collections.Counter(zip(syms, syms[1:])) for w, (syms, _) in vocab.items()
    }
    lm = collections.Counter()
    for w, (syms, f) in vocab.items():
        for pair, np_ in wp[w].items():
            lm[pair] += f * np_
    total, v = sum(lm.values()), len(lm)

    scored = []
    for doc_id, lang, tf in doc_words:
        n_bigrams = numer = 0
        for w, n in tf.items():
            for pair, np_ in wp.get(w, {}).items():
                n_bigrams += n * np_
                numer += n * np_ * (lm[pair] + 1)
        if n_bigrams:
            score = float(numer) / (float(n_bigrams) * float(total + v))
            scored.append((doc_id, lang, n_bigrams, numer, score))
    want = {}
    by_lang = collections.defaultdict(list)
    for row in scored:
        by_lang[row[1]].append(row)
    for lang, rows in by_lang.items():
        ordered = sorted(r[4] for r in rows)
        n = len(rows)
        for r in rows:
            pr = 0.0 if n == 1 else ordered.index(r[4]) / (n - 1)
            if pr >= 0.10:
                want[r[0]] = r

    got = QUERIES["bigram_lm_quality_gate"].spark(spark, sf_dir).collect()
    assert {r.doc_id for r in got} == set(want)
    for r in got:
        w = want[r.doc_id]
        assert (r.lang, r.n_bigrams, r.likelihood_numer) == (w[1], w[2], w[3]), r.doc_id
        assert r.mean_bigram_likelihood == w[4], r.doc_id


def test_model_quality_filter_exact_python_model(spark, sf_dir):
    """model_quality_filter vs a from-scratch exact replay: the engine's
    trained weights must equal train_hardsig_logreg_python's (pure-Python
    integer arithmetic over the collected feature rows) bit-for-bit, and
    the per-(lang, source) gate stats must match a Python rescore with
    those weights. Any drift in the feature micro-units, the hard-sigmoid
    clamp, the floor-division update, or the box constraint flips an
    integer somewhere and fails this."""
    from fund_data_pipeline_spark.operators import classifier as C
    from fund_data_pipeline_spark.queries import QUERIES
    from fund_data_pipeline_spark.queries.mlops import (
        _MQF_NF,
        _MQF_STEPS,
        _mqf_features,
    )
    from fund_data_pipeline_spark.queries.registry import table

    fcols = [f"f{i}" for i in range(_MQF_NF)]
    feats = _mqf_features(table(spark, sf_dir, "documents"))
    rows = feats.collect()
    py_w = C.train_hardsig_logreg_python(
        [[r[c] for c in fcols] for r in rows], [r.y for r in rows], steps=_MQF_STEPS
    )
    sp_w = C.train_hardsig_logreg(feats, fcols, "y", steps=_MQF_STEPS)
    assert sp_w == py_w

    want: dict[tuple, list[int]] = {}
    for r in rows:
        z = sum(w * r[c] for w, c in zip(py_w, fcols))
        keep = 1 if z >= 0 else 0
        st = want.setdefault((r.lang, r.source), [0, 0, 0, 0])
        st[0] += 1
        st[1] += r.y
        st[2] += keep
        st[3] += 1 if keep == r.y else 0
    got = QUERIES["model_quality_filter"].spark(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        assert [r.n_docs, r.n_label_pos, r.n_kept, r.n_agree] == want[(r.lang, r.source)]
    # the gate must be non-degenerate on the fixture: some docs dropped,
    # some kept (an all-keep gate is the base-rate classifier — the bug
    # the centered features exist to prevent)
    kept = sum(r.n_kept for r in got)
    assert 0 < kept < sum(r.n_docs for r in got)


def test_mqf_features_survive_large_documents(spark):
    """Regression (r12 ADVICE, high): _mqf_features scaled int32 counts by
    int32 literals (n_alpha * 1_000_000, ...), overflowing for any document
    with >= 2148 alpha chars / stopwords / distinct tokens — under the
    session's ANSI default that ABORTED model_quality_filter on a single
    2.5 KB web document while the fixture's ~577-char max kept every gate
    green. Counts are now long before scaling; this feeds a 3 KB doc
    through the feature projection and checks the exact micro-unit values
    against a from-scratch Python replay."""
    import re

    from fund_data_pipeline_spark.queries.mlops import _mqf_features
    from fund_data_pipeline_spark.queries.text import STOPWORDS

    # >2148 stopwords, alpha chars, AND distinct tokens in one document
    big = " ".join(["the"] * 2500 + [f"w{i:04d}" for i in range(2200)])
    assert len(big) > 2148 and len(re.sub("[^a-z]", "", big)) > 2148
    docs = spark.createDataFrame(
        [("d1", "en", "web", big), ("d2", "en", "web", "the cat sat")],
        ["doc_id", "lang", "source", "text"],
    )
    got = {r.doc_id: r for r in _mqf_features(docs).collect()}

    for doc_id, text in (("d1", big), ("d2", "the cat sat")):
        toks = text.split(" ")
        n_tok, n_dist = len(toks), len(set(toks))
        n_stop = sum(1 for t in toks if t in STOPWORDS)
        n_nosp = len(text.replace(" ", ""))
        n_alpha = len(re.sub("[^a-z]", "", text))
        n_chars = len(text)
        r = got[doc_id]
        assert r.f0 == 1_000_000
        assert r.f1 == min(n_tok, 500) * 2000 - 500_000
        assert r.f2 == n_stop * 1_000_000 // n_tok - 500_000
        assert r.f3 == min(n_nosp * 50_000 // n_tok, 1_000_000) - 500_000
        assert r.f4 == n_alpha * 1_000_000 // n_chars - 500_000
        assert r.f5 == n_dist * 1_000_000 // n_tok - 500_000
        y = int(
            30 <= n_tok <= 400
            and n_stop * 100 >= n_tok * 3
            and n_tok * 3 <= n_nosp <= n_tok * 8
        )
        assert r.y == y


def test_train_hardsig_logreg_saturation_and_edges(spark):
    """Spark-vs-Python weight parity on crafted rows that drive the hard
    sigmoid into BOTH clamp rails and the weights into the box constraint
    (extreme +/-P features, 40 steps), plus the empty-input edge. The
    floor-division update must agree at negative gradients (Python //
    floors; a truncating update would diverge on the first negative odd
    gradient)."""
    from fund_data_pipeline_spark.operators import classifier as C

    rows = [
        (1_000_000, 1_000_000, -1_000_000, 1),
        (1_000_000, 1_000_000, -999_999, 1),
        (1_000_000, -1_000_000, 1_000_000, 0),
        (1_000_000, -999_999, 999_999, 0),
        (1_000_000, 7, -13, 1),
    ]
    df = spark.createDataFrame(rows, "f0 long, f1 long, f2 long, y long")
    sp_w = C.train_hardsig_logreg(df, ["f0", "f1", "f2"], "y", steps=40)
    py_w = C.train_hardsig_logreg_python(
        [r[:3] for r in rows], [r[3] for r in rows], steps=40
    )
    assert sp_w == py_w
    # saturation actually exercised: z must exceed the +/-2WP rails
    z_max = max(abs(sum(w * x for w, x in zip(py_w, r[:3]))) for r in rows)
    assert z_max > C.Q_MID
    # empty input: defined zero vector, no division by zero
    assert C.train_hardsig_logreg(df.limit(0), ["f0", "f1", "f2"], "y") == [0, 0, 0]


def test_vector_queries_survive_zero_norm_embeddings(spark, tmp_path):
    """A zero-quantized embedding must not abort the vector queries: under
    the session's ANSI default an unguarded 0/0 double division throws
    DIVIDE_BY_ZERO (review r11 — only embedding_topk_cosine carried the
    r10 enorm > 0 guard; the ANN/near-dup/SemDeDup variants crashed).
    Each guarded query must also still hash-match its DuckDB oracle on the
    doctored corpus (DuckDB yields NULL for x/0, so NULL-on-zero is the
    parity-correct form). The corpus also carries a NULL embedding: its
    norm is NULL, so no oracle pairs it or ranks it above a real vector,
    and the Arrow top-k and SemDeDup kernels are oracle-checked with one."""
    import os
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fund_data_pipeline_spark.oracle import TABLES, compare_query, duckdb_connect
    from fund_data_pipeline_spark.queries import QUERIES

    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf"
    d.mkdir()
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{src}/{t}.parquet", d / f"{t}.parquet")
    rng = random.Random(5)
    vecs = [[rng.uniform(-1.0, 1.0) for _ in range(64)] for _ in range(29)]
    vecs.append([0.0] * 64)  # the zero-norm padding row
    vecs.append(None)  # a NULL embedding
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(31), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(31)], pa.int32()),
            }
        ),
        d / "embeddings.parquet",
    )
    con = duckdb_connect(str(d))
    for name in (
        "embedding_topk_cosine",
        "embedding_ann_bucketed_topk",
        "embedding_ivf_topk",
        "embedding_cosine_near_dup",
        "semantic_dedup_cells",
    ):
        problems, n_rows = compare_query(spark, con, QUERIES[name], str(d))
        assert not problems, (name, problems)
        if name != "embedding_cosine_near_dup":  # random vectors rarely pair >= 0.35
            assert n_rows > 0, name


def test_asof_headline_query_null_user_carries_nothing(spark, tmp_path):
    """The HEADLINE as-of query (not just the asof_join operator) must give
    a NULL-user purchase NULL click info on both engines: the LOCF window
    partitions all NULL users together and would cross-carry another
    keyless user's click, while the oracle's equi-join never matches NULL
    (review r10 — the operator kernel was guarded in r9, the inlined
    headline form was not)."""
    from datetime import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fund_data_pipeline_spark.queries import QUERIES

    rows = [
        (1, None, datetime(2024, 1, 1, 10), "click", 5.0),
        (2, None, datetime(2024, 1, 1, 11), "purchase", None),
        (3, 7, datetime(2024, 1, 1, 9), "click", 2.0),
        (4, 7, datetime(2024, 1, 1, 12), "purchase", None),
    ]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(t, f"{tmp_path}/events.parquet")
    spec = QUERIES["asof_last_click_before_purchase"]
    got = {
        r.event_id: (r.click_ts, r.click_value)
        for r in spec.spark(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = {r[0]: (r[3], r[4]) for r in con.execute(spec.oracle).fetchall()}
    assert got == want
    assert got[2] == (None, None)
    assert got[4] == (datetime(2024, 1, 1, 9), 2.0)


def test_simhash_pairs_word0_matches_catalog_query(spark, sf_dir):
    """simhash_pairs(n_words=1) is the catalog query's exact pair set:
    simhash_near_dup runs it and only renames the pair columns, so the
    DuckDB oracle that pins the query's 60-bit signature and 15-bit
    banding pins word 0 of the wide form too."""
    from fund_data_pipeline_spark.operators.similarity import simhash_pairs
    from fund_data_pipeline_spark.queries.text import simhash_near_dup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ours = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_pairs(docs, n_words=1).collect()
    }
    catalog = {
        (r.doc_a, r.doc_b, r.hamming) for r in simhash_near_dup(spark, sf_dir).collect()
    }
    assert ours == catalog


def test_simhash_pairs_wide_exact_python_replay(spark, sf_dir):
    """The 120-bit production form against an independent hashlib/python
    replay: signatures, band collisions, and the hamming filter all exact.
    Also pins the subset contract: the 120-bit pair set is contained in the
    catalog query's 60-bit pair set (stricter distance + pigeonhole)."""
    import hashlib

    from fund_data_pipeline_spark.operators.similarity import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_pairs(docs, n_words=2).collect()
    }

    rows = docs.select("doc_id", "text").collect()
    sigs = {}
    for r in rows:
        votes = [0] * 120
        for tok in set(r.text.split(" ")):
            hx = hashlib.md5(tok.encode()).hexdigest()
            for w, word_hex in enumerate((hx[0:15], hx[16:31])):
                hv = int(word_hex, 16)
                for i in range(60):
                    votes[60 * w + i] += 1 if (hv >> i) & 1 else -1
        sig = [0, 0]
        for w in range(2):
            for i in range(60):
                if votes[60 * w + i] > 0:
                    sig[w] |= 1 << i
        sigs[r.doc_id] = sig

    def bands(sig):
        # 4 bands of 30 bits: band b = word b//2, offset (b%2)*30
        return [(b, (sig[b // 2] >> (30 * (b % 2))) & ((1 << 30) - 1)) for b in range(4)]

    expected = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b_id in ids[i + 1 :]:
            if set(bands(sigs[a])) & set(bands(sigs[b_id])):
                h = bin(sigs[a][0] ^ sigs[b_id][0]).count("1") + bin(
                    sigs[a][1] ^ sigs[b_id][1]
                ).count("1")
                if h <= 3:
                    expected.add((a, b_id, h))
    assert got == expected

    from fund_data_pipeline_spark.queries.text import simhash_near_dup

    catalog_pairs = {(r.doc_a, r.doc_b) for r in simhash_near_dup(spark, sf_dir).collect()}
    assert {(a, b) for a, b, _ in got} <= catalog_pairs


def test_simhash_pairs_rejects_bad_specs(spark):
    from fund_data_pipeline_spark.operators.similarity import simhash_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_words"):
        simhash_pairs(df, n_words=3)
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, n_bands=3, hamming_max=3)
    with _pytest.raises(ValueError, match="straddling"):
        simhash_pairs(df, n_words=1, n_bands=8)
    with _pytest.raises(ValueError, match="max_df_frac"):
        simhash_pairs(df, max_df_frac=0.0)


def test_simhash_max_df_cap_recall_and_fallback(spark):
    """r14 verdict item 4: the document-frequency cap for the shared-vocab
    collision regime. Corpus: 40 stopwords in EVERY doc + 10 per-group
    content tokens (20 groups x 4 docs; groups' content vocabularies are
    disjoint). Docs 0/1 of each group are planted near-dups (identical
    content, one stopword dropped from doc 1).

    - Recall at the chosen threshold (0.4): every planted pair survives
      the cap — their post-cap token sets are identical, hamming 0. (The
      threshold must sit BELOW the dropped stopword's 50% df: at 0.5 that
      token survives in half the corpus and splits the planted pairs —
      thresholds bind on the cap side, part of what this pins.)
    - Precision (the cap's purpose): uncapped signatures are stopword-
      dominated, so docs from DIFFERENT groups (zero shared content)
      collide within hamming<=3; capped, cross-group pairs vanish.
    - Fallback: on a corpus where EVERY token exceeds the cap (the r13
      31-token wide fixture is this shape) the capped pair set equals the
      uncapped one — the cap can shrink a signature, never erase a doc."""
    from fund_data_pipeline_spark.operators.similarity import simhash_pairs

    # Stopword DOMINANCE is what makes the regime: with ~400 shared voters
    # per bit, a 1-2 token content difference flips a bit only where the
    # stopword margin is exactly zero (~2%/bit), so documents with 100%
    # DIFFERENT content still land within hamming<=3 of 120 — the false
    # near-dups (and the one-bucket band blowup) the cap exists to kill.
    stop = [f"the{i}" for i in range(400)]
    rows = []
    group_of = {}
    planted = set()
    for g in range(20):
        for d in range(2):
            doc_id = 2 * g + d
            group_of[doc_id] = g
            if d == 0:
                toks = stop + [f"g{g}content"]
            else:
                # planted near-dup: identical content, one stopword fewer
                toks = stop[:-1] + [f"g{g}content"]
                planted.add((2 * g, 2 * g + 1))
            rows.append((doc_id, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.doc_id_a, r.doc_id_b) for r in simhash_pairs(docs, n_words=2).collect()
    }
    capped = {
        (r.doc_id_a, r.doc_id_b)
        for r in simhash_pairs(docs, n_words=2, max_df_frac=0.4).collect()
    }
    cross = lambda pairs: {p for p in pairs if group_of[p[0]] != group_of[p[1]]}  # noqa: E731
    assert planted <= capped, f"cap lost planted pairs: {planted - capped}"
    assert cross(uncapped), "fixture must exhibit the stopword collision regime"
    assert not cross(capped), f"cap left cross-group collisions: {cross(capped)}"
    assert len(capped) < len(uncapped)

    # fallback corpus: one shared 5-token vocabulary, every token in >50%
    # of docs -> all hot -> every doc keeps its full set -> identical output
    fb_rows = [
        (0, "a b c d e"),
        (1, "a b c d"),
        (2, "a b c e"),
        (3, "b c d e"),
    ]
    fb = spark.createDataFrame(fb_rows, "doc_id long, text string")
    base = {(r.doc_id_a, r.doc_id_b, r.hamming) for r in simhash_pairs(fb, n_words=2).collect()}
    fbk = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_pairs(fb, n_words=2, max_df_frac=0.3).collect()
    }
    assert fbk == base


def test_simhash_df_cap_fallback_is_per_document(spark):
    """r15 ADVICE: the all-hot fallback is per-document, NOT pairwise-
    consistent. Doc 0 is all-hot (fallback keeps its full 400-token set);
    its true near-dup twin doc 1 has ONE cold token, so the cap keeps only
    that token — their post-cap sets share nothing and the planted pair
    drops out of the capped candidate relation even though both documents
    remain in it (doc 0 still pairs with the other all-hot docs at
    hamming 0). This pins the boundary the docstring now states; if the
    fallback is ever made pairwise-consistent, this test flips and the
    simhash_df_capped oracle SQL must move in lockstep."""
    from fund_data_pipeline_spark.operators.similarity import simhash_pairs

    stop = " ".join(f"the{i}" for i in range(400))
    docs = spark.createDataFrame(
        [(0, stop), (1, stop + " onlycold"), (2, stop), (3, stop)],
        "doc_id long, text string",
    )
    uncapped = {
        (r.doc_id_a, r.doc_id_b) for r in simhash_pairs(docs, n_words=2).collect()
    }
    capped = {
        (r.doc_id_a, r.doc_id_b)
        for r in simhash_pairs(docs, n_words=2, max_df_frac=0.5).collect()
    }
    # uncapped: one cold voter against a 400-strong margin flips nothing
    assert (0, 1) in uncapped
    # capped: doc 1 keeps only {onlycold} -> signatures diverge, pair lost
    assert (0, 1) not in capped
    # ... while doc 0 itself is NOT erased: the all-hot fallback keeps it
    # paired with the identical all-hot docs
    assert {(0, 2), (0, 3), (2, 3)} <= capped


# ---------------------------------------------------------------------------
# minhash banding: hashlib golden replay (second derivation)
# ---------------------------------------------------------------------------


def test_minhash_bands_hashlib_replay(spark):
    """Pin minhash_bands against a pure-Python hashlib replay — an
    independent derivation of the signature scheme, alongside the DuckDB
    oracle (minhash_bands_sql). This
    is the regression tripwire for the r16 explode+codegen rewrite: the
    formulation changed (HOF fold -> explode + partial-min aggregate),
    the VALUES must not have. Covers: a doc under 3 tokens (no band
    rows), exact-duplicate docs (identical band keys), a doc whose only
    shingles are repeated (min over a multiset), and ordinary text."""
    import hashlib

    from fund_data_pipeline_spark.queries.text import minhash_bands

    def _md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    def expected(doc_id: int, text: str):
        toks = text.split(" ")
        if len(toks) < 3:
            return
        material = [
            _md5("0|" + " ".join(toks[i : i + 3])) + _md5("1|" + " ".join(toks[i : i + 3]))
            for i in range(len(toks) - 2)
        ]
        sig = [min(m[8 * i : 8 * i + 8] for m in material) for i in range(8)]
        for band, (a, b) in enumerate([(0, 1), (2, 3), (4, 5), (6, 7)]):
            yield doc_id, band, _md5(sig[a] + sig[b])

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact duplicate of 1
        (3, "too short"),  # under 3 tokens: no bands
        (4, "loop loop loop loop"),  # single repeated shingle
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.doc_id, r.band, r.band_key) for r in minhash_bands(df).collect()}
    want = {t for d, txt in docs for t in expected(d, txt)}
    assert got == want
    assert not any(d == 3 for d, _, _ in got)
    d1 = {(b, k) for d, b, k in got if d == 1}
    d2 = {(b, k) for d, b, k in got if d == 2}
    assert d1 == d2 and len(d1) == 4
