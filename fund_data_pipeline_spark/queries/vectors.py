"""Similarity search over ``embeddings`` (BASELINE.json extras).

Brute-force cosine top-k as the exact baseline, plus a hyperplane-sign
LSH-bucketed variant as the 100 TB scale path (search only the query's
bucket — the bucket column doubles as the storage partition key).

Determinism: embeddings are float32; both engines quantize each component
to round(x * 1e6) as BIGINT, so dot products and norms are exact integer
arithmetic and the final cosine is a single double division — bit-identical
across engines. (The unquantized fast path lives in
fund_data_pipeline_spark.operators.similarity for bench use.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import register, table

_QUERY_VEC_ID = 0

#: Default hyperplane-LSH bucket width used by the REGISTERED catalog
#: queries (their oracles are generated at this width). 8 bits/256 buckets
#: fits the sf fixtures; the library entry points
#: (:func:`ann_bucketed_topk`, :func:`cosine_near_dup`) take ``n_bits`` per
#: call — size it with :func:`lsh_bits_for_corpus` at real corpus sizes.
N_LSH_BITS = 8
EMB_DIM = 64


def lsh_bits_for_corpus(n_rows: int, target_bucket_rows: int = 1024) -> int:
    """Bucket width for a corpus: ``bits ~ log2(n_rows / target_bucket_rows)``.

    Keeps the expected bucket population near ``target_bucket_rows`` so the
    within-bucket work (a quadratic self-join for near-dup, a linear scan
    for top-k probes) stays constant as the corpus grows — the knob that
    turns the sf-fixture demo into the 100 TB plan. Clamped to [4, 30]
    (bucket ids are bigint bit-vectors; >30 planes adds discrimination the
    64-dim quantized projections can't deliver).
    """
    import math

    if n_rows <= target_bucket_rows:
        return 4
    return max(4, min(30, round(math.log2(n_rows / target_bucket_rows))))

# Deterministic ±1 hyperplane matrix: h(i, j) = +1 iff (i*A + j*B) % M < T.
# Pure integer arithmetic, so BOTH engines build the identical matrix with
# no RNG to keep in sync; ~half the entries are +1 per plane, planes are
# pairwise near-orthogonal in expectation — the standard signed-random-
# projection family (Charikar'02 SimHash for cosine), just derandomized.
# Projections run over the *quantized* embedding (int64), so each dot
# product is exact integer math and the sign is engine-identical.
_LSH_A, _LSH_B, _LSH_MOD, _LSH_T = 37, 61, 97, 48

# DuckDB fragment: quantized embedding list
_Q = "list_transform(embedding, x -> CAST(round(x * 1e6) AS BIGINT))"


def _bucket_sql(qe: str = "qe", n_bits: int = N_LSH_BITS) -> str:
    """DuckDB fragment: hyperplane-sign bucket of the quantized list ``qe``."""
    bits = []
    for j in range(n_bits):
        proj = (
            f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
            f"i -> CASE WHEN (i * {_LSH_A} + {j} * {_LSH_B}) % {_LSH_MOD} < {_LSH_T} "
            f"THEN {qe}[i] ELSE -{qe}[i] END))"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << j}::BIGINT ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _bucket_col(qe, n_bits: int = N_LSH_BITS):
    """Hyperplane-sign bucket of a quantized ``array<long>`` column: bit j is
    set iff the exact integer projection onto plane j is positive.

    The ±1 matrix is pure integer arithmetic, so each plane's sign pattern
    is PRECOMPUTED in Python and enters the plan as a literal array; the
    projection is one ``zip_with`` multiply-accumulate per plane — linear
    array kernels. The previous form indexed the embedding element-by-
    element via non-foldable ``element_at`` over ``sequence(1, 64)``
    (8 planes x 64 bounds-checked lookups per row): measured ~20 s for the
    multi-probe ANN query at sf0.1 vs sub-second for this shape — the same
    element_at trap the shingle kernel documents (review r9)."""
    qe = F.col(qe) if isinstance(qe, str) else qe
    bucket = F.lit(0).cast("long")
    for j in range(n_bits):
        proj = _plane_projection(qe, j)
        bucket = bucket + F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _plane_projection(qe, j: int):
    """Exact integer projection of a quantized vector onto derandomized ±1
    plane ``j`` — the ONE Python copy of the sign-array + zip_with kernel,
    shared by the LSH bucketer and the JL random projection (review r11:
    it previously existed in two Python spellings plus the SQL twin
    ``_bucket_sql``; a change to the LSH family must land here and in the
    SQL string, not in three places)."""
    signs = F.array(
        *[
            F.lit(1 if ((i * _LSH_A + j * _LSH_B) % _LSH_MOD) < _LSH_T else -1).cast("long")
            for i in range(1, EMB_DIM + 1)
        ]
    )
    return F.aggregate(
        F.zip_with(qe, signs, lambda x, s: x * s),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _quant(col):
    # hard cast, matching the oracles' CAST: a non-finite / out-of-range
    # component (corrupt upstream batch) must fail LOUDLY under ANSI mode
    # on both engines — try_cast would silently null the dot/norm and drop
    # the row from top-k / near-dup output with no error (review r9)
    return F.transform(col if not isinstance(col, str) else F.col(col), lambda x: F.round(x * 1e6).cast("long"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


@register(
    "embedding_topk_cosine",
    headline=True,
    doc="Brute-force cosine top-20 against a fixed query vector (vec_id=0): "
    "one driver fetch of the query row, then the Arrow batch kernel "
    "(operators.similarity.topk_cosine: quantized integer dot/norms, running "
    "top-k per partition, deterministic tiebreak). Zero-norm and NULL "
    "embeddings are excluded, as in the oracle; the scan stays fully parallel.",
    oracle=f"""
WITH q AS (
  SELECT {_Q} AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
), scored AS (
  SELECT e.vec_id, e.label,
         list_sum(list_transform(range(1, 65), i -> qv.qe[i] * {_Q.replace('embedding', 'e.embedding')}[i])) AS dot,
         list_sum(list_transform(qv.qe, x -> x * x)) AS qnorm,
         list_sum(list_transform({_Q.replace('embedding', 'e.embedding')}, x -> x * x)) AS enorm
  FROM embeddings e CROSS JOIN q qv
  WHERE e.vec_id <> {_QUERY_VEC_ID}
)
SELECT vec_id, label,
       CAST(dot AS DOUBLE) / (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(enorm AS DOUBLE))) AS cosine
FROM scored
WHERE enorm > 0
ORDER BY cosine DESC, vec_id
LIMIT 20
""",
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_cosine

    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").first()
    if qrow is None:  # clear error instead of NoneType subscript
        raise ValueError(f"query vector vec_id={_QUERY_VEC_ID} not found in {sf_dir}/embeddings")
    return topk_cosine(emb, qrow["embedding"], k=20, exclude_vec_id=_QUERY_VEC_ID)


@register(
    "embedding_lsh_buckets",
    doc="Hyperplane-sign LSH bucketing: 8-bit bucket from component signs — "
    "the ANN partition key (search only the query's bucket at scale). "
    "Returns bucket histogram + per-bucket label diversity.",
    oracle=f"""
SELECT bucket, COUNT(*) AS n_vectors, COUNT(DISTINCT label) AS n_labels
FROM (
  SELECT vec_id, label, {_bucket_sql(_Q)} AS bucket
  FROM embeddings
)
GROUP BY bucket
""",
)
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # quantize ONCE in its own projection: embedding _bucket_col references
    # its input 8x (one zip_with per plane), and CollapseProject keeps the
    # boundary for a non-cheap multiply-referenced expression — inlining
    # _quant ran the 64-element round/cast transform 8x per row (review r10)
    return (
        emb.select(_quant("embedding").alias("qe"), "label")
        .select(_bucket_col("qe").alias("bucket"), "label")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.countDistinct("label").alias("n_labels"))
    )


@register(
    "embedding_ann_bucketed_topk",
    doc="ANN scale path with multi-probe: top-10 cosine neighbors of "
    "vec_id=0 searched in its hyperplane-LSH bucket PLUS the "
    f"{N_LSH_BITS} Hamming-distance-1 neighbor buckets (standard "
    "multi-probe LSH — near-misses across one hyperplane are recovered "
    "without widening to a scan). Still a bucket equi-join, never a cross "
    "join: the probe set is (n_bits+1) tiny broadcast rows; at 100 TB the "
    "bucket is the storage partition key and each probe prunes to one "
    "partition.",
    oracle=f"""
WITH b AS (
  SELECT vec_id, label, {_Q} AS qe, {_bucket_sql()} AS bucket
  FROM embeddings
), q AS (
  SELECT qe AS query_qe, bucket AS query_bucket FROM b WHERE vec_id = {_QUERY_VEC_ID}
), probes AS (
  SELECT q.query_qe,
         CASE WHEN k.k = 0 THEN q.query_bucket
              ELSE xor(q.query_bucket, (2 ** (k.k - 1))::BIGINT) END AS probe_bucket
  FROM q CROSS JOIN (FROM range({N_LSH_BITS + 1})) k(k)
), scored AS (
  SELECT b.vec_id, b.label,
         list_sum(list_transform(range(1, 65), i -> p.query_qe[i] * b.qe[i])) AS dot,
         list_sum(list_transform(p.query_qe, x -> x * x)) AS qnorm,
         list_sum(list_transform(b.qe, x -> x * x)) AS enorm
  FROM b JOIN probes p ON b.bucket = p.probe_bucket
  WHERE b.vec_id <> {_QUERY_VEC_ID}
)
SELECT vec_id, label,
       CAST(dot AS DOUBLE) / (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(enorm AS DOUBLE))) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT 10
""",
)
def embedding_ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_bucketed_topk(spark, sf_dir)


def ann_bucketed_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_bits: int = N_LSH_BITS,
    k: int = 10,
    query_vec_id: int = _QUERY_VEC_ID,
) -> DataFrame:
    """Multi-probe LSH top-k, parameterized on bucket width: ``n_bits``
    planes give 2**n_bits buckets and n_bits+1 probes (own bucket + every
    Hamming-1 neighbor). Size via :func:`lsh_bits_for_corpus`."""
    emb = table(spark, sf_dir, "embeddings")
    # qe in its own projection; the bucket reads F.col("qe") so the 64-wide
    # quantization transform runs once per row, not n_bits+1 times (r10)
    b = emb.select("vec_id", "label", _quant("embedding").alias("qe")).select(
        "vec_id",
        "label",
        "qe",
        _bucket_col("qe", n_bits).alias("bucket"),
    )
    q = b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("qe").alias("query_qe"), F.col("bucket").alias("query_bucket")
    )
    # multi-probe: the query's own bucket + every bucket one bit-flip away.
    # qnorm rides on the tiny broadcast rows, not per candidate (review r9)
    probes = q.select(
        "query_qe",
        _dot(F.col("query_qe"), F.col("query_qe")).alias("qnorm"),
        F.explode(
            F.array(
                F.col("query_bucket"),
                *[
                    F.col("query_bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                    for i in range(n_bits)
                ],
            )
        ).alias("probe_bucket"),
    )
    scored = (
        b.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
        .select(
            "vec_id",
            "label",
            _dot(F.col("query_qe"), F.col("qe")).alias("dot"),
            "qnorm",
            _dot(F.col("qe"), F.col("qe")).alias("enorm"),
        )
    )
    # zero-norm guard (review r11): under the session's ANSI default a
    # double division by zero THROWS (DIVIDE_BY_ZERO), it does not yield
    # NaN — a zero-quantized padding row would abort the whole query.
    # NULL-on-zero matches the DuckDB oracle exactly (x/0 is NULL there),
    # and NULLs rank last under every desc ordering both engines use.
    cosine = F.when(
        (F.col("qnorm") > 0) & (F.col("enorm") > 0),
        F.col("dot").cast("double")
        / (F.sqrt(F.col("qnorm").cast("double")) * F.sqrt(F.col("enorm").cast("double"))),
    )
    return (
        scored.select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


@register(
    "embedding_cosine_near_dup",
    doc="Embedding-cosine near-dup: candidate pairs must share the 8-bit "
    "hyperplane-LSH bucket (equi-join — no all-pairs cross product), then "
    "exact quantized cosine >= 0.35 confirms. The scale path: bucket is the "
    "storage partition key, so each partition self-joins locally.",
    oracle=f"""
WITH b AS (
  SELECT vec_id, {_Q} AS qe, {_bucket_sql()} AS bucket
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         list_sum(list_transform(range(1, 65), i -> a.qe[i] * c.qe[i])) AS dot,
         list_sum(list_transform(a.qe, x -> x * x)) AS anorm,
         list_sum(list_transform(c.qe, x -> x * x)) AS cnorm
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT vec_a, vec_b,
       CAST(dot AS DOUBLE) / (sqrt(CAST(anorm AS DOUBLE)) * sqrt(CAST(cnorm AS DOUBLE))) AS cosine
FROM pairs
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(anorm AS DOUBLE)) * sqrt(CAST(cnorm AS DOUBLE))) >= 0.35
""",
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_near_dup(spark, sf_dir)


def cosine_near_dup(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_bits: int = N_LSH_BITS,
    threshold: float = 0.35,
) -> DataFrame:
    """Bucketed cosine near-dup, parameterized on bucket width: expected
    within-bucket pair count is ~(N/2**n_bits)**2 per bucket, so raise
    ``n_bits`` with corpus size (:func:`lsh_bits_for_corpus`) to keep the
    self-join local and bounded."""
    from ..operators.similarity import blocked_pair_cosine_arrow

    emb = table(spark, sf_dir, "embeddings")
    # qe projected once per side, bucket derived from it (see ann_bucketed_topk);
    # self-norm once per ROW and carried as payload (r16 — the same
    # review-r13 fix semantic_dedup got: the pair expression recomputed both
    # sides' self-dots for EVERY pair, so two of the three per-pair dot
    # products were redundant; identical integers, oracle hash unchanged)
    b = emb.select("vec_id", _quant("embedding").alias("qe")).select(
        "vec_id", "qe", _bucket_col("qe", n_bits).alias("bucket")
    ).withColumn("norm2", _dot(F.col("qe"), F.col("qe")))
    # within-bucket pairs via the cogrouped block-matmul kernel (r16): the
    # same skew bound as blocked_self_join — each grid block holds <=
    # block rows per side, so a hot bucket degrades into bounded tasks —
    # with block ROWS, not candidate PAIRS, crossing the Arrow boundary,
    # and only threshold-passing pairs emitted. Pair set, cosine doubles,
    # and the zero-norm/NULL exclusions are bit-identical to the previous
    # join + expression form (kernel docstring; shared DuckDB oracle).
    pairs = blocked_pair_cosine_arrow(
        b, ["bucket"], "vec_id", vec_col="qe", norm_col="norm2", threshold=threshold
    )
    return pairs.select(
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        "cosine",
    )


#: IVF defaults for the registered query (oracle generated at these values)
N_IVF_CELLS = 16
N_IVF_PROBE = 2


@register(
    "embedding_ivf_topk",
    doc=f"IVF-style ANN: coarse quantization to {N_IVF_CELLS} deterministic "
    f"centroid cells (the first {N_IVF_CELLS} vectors), nprobe={N_IVF_PROBE} "
    "cell search, exact integer cosine re-rank. Cell assignment is a pure "
    "map-side argmin against centroid literals — the whole plan is "
    "scan -> filter(cell) -> TakeOrderedAndProject, zero shuffles.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, {_Q} AS qe FROM embeddings
), c AS (
  SELECT vec_id AS cid, qe AS ce FROM e WHERE vec_id < {N_IVF_CELLS}
), d AS (
  SELECT e.vec_id, e.label, e.qe, c.cid,
         list_sum(list_transform(e.qe, x -> x * x))
           - 2 * list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> e.qe[i] * c.ce[i]))
           + list_sum(list_transform(c.ce, x -> x * x)) AS dist
  FROM e CROSS JOIN c
), a AS (
  SELECT vec_id, label, qe, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d
), cells AS (
  SELECT vec_id, label, qe, cid AS cell FROM a WHERE rn = 1
), probes AS (
  SELECT cid AS probe_cell FROM a WHERE vec_id = {_QUERY_VEC_ID} AND rn <= {N_IVF_PROBE}
), q AS (
  SELECT qe AS query_qe FROM e WHERE vec_id = {_QUERY_VEC_ID}
), scored AS (
  SELECT s.vec_id, s.label,
         list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> q.query_qe[i] * s.qe[i])) AS dot,
         list_sum(list_transform(q.query_qe, x -> x * x)) AS qnorm,
         list_sum(list_transform(s.qe, x -> x * x)) AS enorm
  FROM cells s CROSS JOIN q
  WHERE s.cell IN (SELECT probe_cell FROM probes) AND s.vec_id <> {_QUERY_VEC_ID}
)
SELECT vec_id, label,
       CAST(dot AS DOUBLE) / (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(enorm AS DOUBLE))) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT 10
""",
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(spark, sf_dir)


def _cell_dist_arr(cents):
    """``array<struct<dist,cid>>`` of exact integer distances to each centroid
    literal — ``array_min(...)['cid']`` is :func:`ivf_topk`'s map-side cell
    assignment and the reference :func:`assign_cells_arrow` is tested
    against. The row's own qe·qe term is constant across cells and dropped
    (argmin unchanged)."""

    def dist_to(c):
        # Literals must be BIGINT: quantized components fit int32, but their
        # products don't, and F.lit of a small int is IntegerType.
        ce = F.array(*[F.lit(int(v)) for v in c["qe"]]).cast("array<bigint>")
        ce_sq = sum(int(v) * int(v) for v in c["qe"])
        return F.lit(ce_sq).cast("long") - 2 * _dot(F.col("qe"), ce)

    return F.array(
        *[
            F.struct(dist_to(c).alias("dist"), F.lit(int(c["cid"])).cast("long").alias("cid"))
            for c in cents
        ]
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = N_IVF_CELLS,
    nprobe: int = N_IVF_PROBE,
    k: int = 10,
    query_vec_id: int = _QUERY_VEC_ID,
    centroids: Sequence[tuple[int, Sequence[int]]] | None = None,
) -> DataFrame:
    """IVF coarse quantization, Spark-first.

    Centroids are deliberately tiny (that is the point of a coarse
    quantizer), so they come to the driver once — ``n_cells`` bounded rows,
    like the single query-vector fetch in ``embedding_topk_cosine`` — and
    re-enter the plan as literals. Cell assignment is then
    ``array_min(array<struct<dist, cid>>)``: per-row exact integer math, no
    join, no shuffle; lexicographic struct comparison gives the same
    (dist, cid) tie-break as the oracle's ROW_NUMBER ordering. The probe
    set (query's nprobe nearest cells) is computed by the same expression
    on the single query row. At 100 TB: the scan streams, the cell filter
    prunes to ~nprobe/n_cells of the corpus (store partitioned/bucketed by
    cell to prune at the source), and top-k compiles to
    TakeOrderedAndProject. A trained k-means codebook drops in by replacing
    the centroid SELECT — the plan shape is identical.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _quant("embedding").alias("qe")
    )
    if centroids is not None:
        cents = [{"cid": int(cid), "qe": list(qe)} for cid, qe in centroids]
    else:
        # deterministic first-N codebook (the registered oracle's form);
        # train_ivf_codebook supplies a k-means codebook with the same shape
        cents = (
            emb.filter(F.col("vec_id") < n_cells)
            .select(F.col("vec_id").alias("cid"), "qe")
            .collect()
        )

    dist_arr = _cell_dist_arr(cents)
    with_cell = emb.withColumn("cell", F.array_min(dist_arr)["cid"])

    qrow = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.slice(F.array_sort(dist_arr), 1, nprobe).alias("probes"), "qe")
        .first()
    )
    if qrow is None:  # clear error instead of NoneType subscript (review r9)
        raise ValueError(f"query vector vec_id={query_vec_id} not found in {sf_dir}/embeddings")
    probe_cells = [int(r["cid"]) for r in qrow["probes"]]
    query_qe = F.array(*[F.lit(int(v)) for v in qrow["qe"]]).cast("array<bigint>")
    # exact Python integer math: the query norm is one constant, not a
    # per-candidate-row aggregate
    qnorm_sq = sum(int(v) * int(v) for v in qrow["qe"])

    scored = (
        with_cell.filter(
            F.col("cell").isin(probe_cells) & (F.col("vec_id") != query_vec_id)
        )
        .select(
            "vec_id",
            "label",
            _dot(query_qe, F.col("qe")).alias("dot"),
            F.lit(qnorm_sq).cast("long").alias("qnorm"),
            _dot(F.col("qe"), F.col("qe")).alias("enorm"),
        )
    )
    # zero-norm guard (review r11): under the session's ANSI default a
    # double division by zero THROWS (DIVIDE_BY_ZERO), it does not yield
    # NaN — a zero-quantized padding row would abort the whole query.
    # NULL-on-zero matches the DuckDB oracle exactly (x/0 is NULL there),
    # and NULLs rank last under every desc ordering both engines use.
    cosine = F.when(
        (F.col("qnorm") > 0) & (F.col("enorm") > 0),
        F.col("dot").cast("double")
        / (F.sqrt(F.col("qnorm").cast("double")) * F.sqrt(F.col("enorm").cast("double"))),
    )
    return (
        scored.select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def train_ivf_codebook(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = N_IVF_CELLS,
    seed: int = 7,
    max_iter: int = 20,
) -> list[tuple[int, list[int]]]:
    """Seeded k-means coarse quantizer for :func:`ivf_topk`.

    The first-N codebook is deterministic but blind to the corpus shape: on
    a skewed corpus the first N vectors may all come from one mode, leaving
    other modes split across far-away cells and tanking recall. This trains
    ``pyspark.ml.clustering.KMeans`` (distributed, seeded — same centroids
    every run) over the quantized embeddings and returns ``[(cid, qe), ...]``
    in exactly the shape ``ivf_topk(centroids=...)`` consumes. Centers are
    rounded back to the quantized integer domain so cell assignment stays
    exact integer math — the plan is byte-identical to the first-N form,
    only the literals differ.

    Scale (100 TB): k-means is the one iterative stage and Spark ML runs it
    distributed; train on a sample (`df.sample`) for very large corpora —
    coarse centroids converge long before full-corpus precision matters.
    Only ``n_cells`` tiny rows are ever collected.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = table(spark, sf_dir, "embeddings").select(
        array_to_vector(_quant("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(emb)
    return [
        (cid, [int(round(float(v))) for v in center])
        for cid, center in enumerate(model.clusterCenters())
    ]


@register(
    "embedding_centroid_stats",
    doc="Per-label centroid accumulators over the embedding corpus: exact "
    "quantized per-dimension sums + counts — the monitoring query of "
    "embedding drift / class balance, and the aggregation core of a "
    "distributed KMeans step (train_ivf_codebook runs this shape "
    "iteratively). posexplode -> one hash aggregate on (label, dim); "
    "map-side combine makes it a single shuffle of labels x dims rows.",
    oracle=f"""
WITH e AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         unnest({_Q}) AS qv
  FROM embeddings
)
SELECT label, dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(qv) AS BIGINT) AS sum_q
FROM e
GROUP BY label, dim
""",
)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(_quant("embedding")).alias("dim", "qv")
    )
    return exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("qv").alias("sum_q"),
    )


#: semantic-dedup threshold for the registered query (oracle generated at it)
SEMDEDUP_TAU = 0.35

# shared DuckDB CTE: IVF cell assignment over first-N centroids — identical
# (dist, cid) argmin as embedding_ivf_topk's oracle, kept textually in one
# place so both oracles stay in lockstep
_CELLS_CTE = f"""
WITH e AS (
  SELECT vec_id, {_Q} AS qe FROM embeddings
), c AS (
  SELECT vec_id AS cid, qe AS ce FROM e WHERE vec_id < {N_IVF_CELLS}
), d AS (
  SELECT e.vec_id, e.qe, c.cid,
         list_sum(list_transform(e.qe, x -> x * x))
           - 2 * list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> e.qe[i] * c.ce[i]))
           + list_sum(list_transform(c.ce, x -> x * x)) AS dist
  FROM e CROSS JOIN c
), a AS (
  SELECT vec_id, qe, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d
), cells AS (
  SELECT vec_id, qe, cid AS cell FROM a WHERE rn = 1
)"""


@register(
    "semantic_dedup_cells",
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540): "
    f"coarse-quantize every embedding to its nearest of {N_IVF_CELLS} "
    "centroid cells (exact integer argmin in one Arrow batch kernel, "
    "assign_cells_arrow — zero shuffles), then mark a vector a duplicate "
    f"iff some LOWER-vec_id vector in the SAME cell has cosine >= {SEMDEDUP_TAU}. The pair join is "
    "a per-cell equi-join, never corpus-wide all-pairs; at 100 TB the cell "
    "is the storage partition key (cells from train_ivf_codebook, count "
    "sized so a cell fits one partition) and each cell self-joins locally. "
    "The greedy lower-id keep rule is deterministic and needs no iteration "
    "— unlike connected components — at the cost of over-dropping chains, "
    "the standard SemDeDup trade.",
    oracle=f"""{_CELLS_CTE}, pairs AS (
  SELECT hi.vec_id AS vec_id, hi.cell AS cell, lo.vec_id AS lo_id,
         CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> hi.qe[i] * lo.qe[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(hi.qe, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(lo.qe, x -> x * x)) AS DOUBLE))) AS cosine
  FROM cells hi JOIN cells lo ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
)
SELECT vec_id, cell,
       CAST(COUNT(*) AS BIGINT) AS n_dups,
       MAX(cosine) AS best_cosine,
       MIN(lo_id) AS witness_id
FROM pairs
WHERE cosine >= {SEMDEDUP_TAU}
GROUP BY vec_id, cell
""",
)
def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(spark, sf_dir)


#: Widest codebook :func:`assign_cells_arrow` collects to the driver. The
#: collect is ~``k * (dim + 1) * 8`` bytes — ~52 MB at 100k cells x 64
#: dims, the real-SemDeDup width (Abbas et al. 2023) — and is bounded here
#: so it can never grow with the corpus.
MAX_CODEBOOK_CELLS = 100_000


def cells_for_corpus(n_rows: int, target_cell_rows: int = 1024) -> int:
    """IVF cell count for a corpus: ``n_cells ~ n_rows / target_cell_rows``
    keeps the expected cell population near ``target_cell_rows``, so the
    within-cell work (SemDeDup's pair join, an IVF probe scan) stays
    constant as the corpus grows — the companion of
    :func:`lsh_bits_for_corpus` for cell-bucketed operators. Unclamped
    (r15; the r14 form capped at 4096 and went quadratic past ~4M
    vectors); :func:`semantic_dedup` assigns cells through
    :func:`assign_cells_arrow`, which refuses a codebook wider than
    :data:`MAX_CODEBOOK_CELLS` (~100M rows at the default target — raise
    ``target_cell_rows`` past that). ``_N_CELLS_SQL`` is the exact-integer
    DuckDB twin — change both together."""
    if n_rows <= target_cell_rows:
        return 1
    return max(1, round(n_rows / target_cell_rows))


def _arrow_exact_bound(dim: int) -> int:
    """Component bound for exact float64 distance arithmetic: every
    intermediate (any partial sum of |products|, the norm, the full
    distance ``ce_sq + 2*|dot|``) must stay under 2^53, so require
    ``3 * dim * b^2 < 2^53`` — b ~ 6.8e6 at dim 64. round(x * 1e6) puts
    unit-scale embeddings near 1e6, comfortably inside; a corrupt upstream
    component fails LOUDLY (matching `_quant`'s ANSI hard-cast philosophy)
    instead of silently mis-assigning a cell."""
    import math

    return math.isqrt((1 << 53) // (3 * dim))


def assign_cells_arrow(
    emb: DataFrame,
    codebook: DataFrame,
    *,
    qe_col: str = "qe",
    cell_col: str = "cell",
) -> DataFrame:
    """SemDeDup cell assignment: exact numpy matmul over Arrow batches —
    the one assignment route at every codebook width, from the registered
    16-cell fixture codebook to the ~100k-cell production width (Abbas et
    al. 2023 run k-means at that width on GPU).

    Same argmin semantics as the plan-literal :func:`_cell_dist_arr` and
    the oracle's ``ROW_NUMBER() OVER (ORDER BY dist, cid)`` — distance
    ``ce·ce − 2·qe·ce`` (row's own norm dropped) with lexicographic
    ``(dist, cid)`` tie-break, here via ``np.argmin``'s first-hit rule over
    a cid-sorted codebook. Equivalence-tested bit-identical to the literal
    form on the fixtures: every arithmetic intermediate is an integer below
    2^53 (components guarded against :func:`_arrow_exact_bound` loudly),
    so the float64 BLAS is exact regardless of summation order.

    The codebook is collected ONCE — k rows, the SMALL side by
    construction, bounded by :data:`MAX_CODEBOOK_CELLS` (a wider codebook
    raises instead of growing the driver collect) — and ships to executors
    as a SparkContext broadcast read by every Arrow batch. The corpus side
    streams: one ``mapInPandas`` projection, no shuffle, no per-row Python
    (vectorized ``Q @ C.T`` per batch: measured ~5 ns per row x cell vs
    ~0.5 us for an interpreted higher-order-function argmin)."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    rows = (
        codebook.select("cid", F.col("qe").cast("array<double>").alias("qe"))
        .limit(MAX_CODEBOOK_CELLS + 1)
        .collect()
    )
    if not rows:
        raise ValueError("assign_cells_arrow: empty codebook")
    if len(rows) > MAX_CODEBOOK_CELLS:
        raise ValueError(
            f"assign_cells_arrow: codebook has more than {MAX_CODEBOOK_CELLS} "
            "cells (MAX_CODEBOOK_CELLS bounds the driver collect)"
        )
    rows.sort(key=lambda r: r["cid"])  # argmin first-hit == lowest cid on ties
    cids = np.asarray([r["cid"] for r in rows], dtype=np.int64)
    C = np.asarray([r["qe"] for r in rows], dtype=np.float64)
    bound = _arrow_exact_bound(C.shape[1])
    if np.abs(C).max() >= bound:
        raise ValueError(
            "assign_cells_arrow: centroid component exceeds the float64 "
            f"exactness bound {bound}"
        )
    ce_sq = (C * C).sum(axis=1)  # k exact integers < 2^53
    bc = emb.sparkSession.sparkContext.broadcast((cids, C, ce_sq))

    out_schema = StructType(list(emb.schema.fields) + [StructField(cell_col, LongType())])
    in_cols = emb.columns

    def assign(batches):
        cids_b, C_b, ce_sq_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = pdf[qe_col].tolist()
            if any(v is None for v in vals):
                # corrupt upstream batch: fail LOUDLY with a usable message
                # (matching _quant's ANSI hard-cast philosophy) instead of
                # numpy's opaque conversion error. semantic_dedup drops NULL
                # embeddings before calling here (they can never pair), so
                # only a direct caller's dirty batch reaches this.
                raise ValueError("assign_cells_arrow: NULL embedding in batch")
            Q = np.asarray(vals, dtype=np.float64)
            if np.abs(Q).max() >= bound:
                raise ValueError(
                    "assign_cells_arrow: embedding component exceeds the "
                    f"float64 exactness bound {bound}"
                )
            dist = ce_sq_b[None, :] - 2.0 * (Q @ C_b.T)
            pdf = pdf[in_cols].copy()
            pdf[cell_col] = cids_b[np.argmin(dist, axis=1)]
            yield pdf

    return emb.mapInPandas(assign, out_schema)


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = N_IVF_CELLS,
    threshold: float = SEMDEDUP_TAU,
    codebook: DataFrame | None = None,
    block_size: int = 4096,
    restrict_ids: DataFrame | None = None,
) -> DataFrame:
    """Cell-bucketed semantic dedup drop list.

    Returns the DROPPED vectors — one row per vector that has a
    lower-vec_id near-duplicate (quantized cosine >= ``threshold``) in its
    cell — with its cell, lower-id dup count, best cosine, and the smallest
    witnessing vec_id. The keep set is the anti-join of the corpus against
    this result. The codebook defaults to the deterministic first-``n_cells``
    vectors (matching the registered oracle); pass a ``codebook`` DataFrame
    of ``(cid bigint, qe array<bigint>)`` rows — e.g.
    :func:`train_codebook_distributed` output — for a corpus-shaped one.
    Size ``n_cells`` with :func:`cells_for_corpus` at real corpus sizes.

    Cells are assigned by :func:`assign_cells_arrow` at every width
    (SCALING.md r18: the Arrow kernel beat the plan-literal and
    broadcast-join routes from the 16-cell fixture codebook up). NULL
    embeddings are dropped before the assignment: their norm is NULL, so
    they can never pair or witness — the oracle's cosine is NULL for them
    too.

    ``restrict_ids`` (one ``vec_id`` column) limits the dedup to a subset
    of the corpus — the pipeline-composition hook: a staged dedup
    (corpus_dedup_pipeline) must only let SURVIVING vectors witness a
    semantic drop. Centroids still come from the full table so the cell
    geometry is stable across stages; the restriction is a semi-join
    applied before the pair join, so the per-cell work shrinks with the
    survivor set.

    The within-cell pair stage runs
    :func:`~..operators.similarity.blocked_pair_cosine_arrow` (r16): it
    shares ``blocked_self_join``'s grid decomposition via ``_blocked_sides``
    — SemDeDup corpora are exactly where cells go hot (near-duplicate mass
    concentrates), and the grid bounds every task at ``block_size`` rows
    per side with a provably identical pair set — but computes each
    block-pair's cosines as one Arrow-side matmul instead of a per-pair
    join condition, emitting only threshold-passing pairs. The drop list
    is unchanged (pinned by the kernel-vs-expression equivalence test);
    only the pair-stage mechanics changed."""
    from ..operators.similarity import (
        PAIR_COSINE_BLOCK,
        blocked_pair_cosine_arrow,
    )

    src = table(spark, sf_dir, "embeddings")
    if codebook is None:
        codebook = src.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cid"), _quant("embedding").alias("qe")
        )
    # filter the RAW column: a NULL test on the quantized one is pushed
    # below the projection and quantizes every row a second time
    emb = src.filter(F.col("embedding").isNotNull()).select(
        "vec_id", _quant("embedding").alias("qe")
    )
    if restrict_ids is not None:
        emb = emb.join(restrict_ids.select("vec_id"), "vec_id", "semi")
    assigned = assign_cells_arrow(emb, codebook)
    # self-dot once per ROW, carried as pair payload: the pair expression
    # previously recomputed both sides' 64-term self-dots for EVERY pair —
    # at ~1024-row cells the pair relation is ~512x the row relation, so
    # two of the three per-pair dot products were redundant work (review
    # r13, measured ~2.4x on the wide-fixture scaled sweep). Same integer
    # values, so cosine doubles — and the oracle hash — are unchanged.
    cells = assigned.withColumn("norm2", _dot(F.col("qe"), F.col("qe")))
    # a (lower id) is the witness side, b the candidate-duplicate side.
    # The within-cell pair stage runs as the cogrouped block-matmul kernel
    # (r16, operators.similarity.blocked_pair_cosine_arrow): each grid
    # block's rows cross the Arrow boundary ONCE per partner block and the
    # block-pair cosines are one exact float64 matmul, with only pairs
    # PASSING the threshold emitted — versus ~1 KB of vector payload per
    # CANDIDATE pair under both the interpreted HOF dot and the
    # pair-expanded einsum kernel (the sf10 transfer wall; measurements in
    # OPTIMIZATION_r16.md §10-11). Pair set, cosine doubles, and the
    # zero-norm/NULL exclusions are bit-identical to the expression form
    # (kernel docstring has the exactness argument; equivalence pinned in
    # tests and by every shared DuckDB oracle).
    qualifying = blocked_pair_cosine_arrow(
        cells,
        ["cell"],
        "vec_id",
        vec_col="qe",
        norm_col="norm2",
        threshold=threshold,
        block_size=min(block_size, PAIR_COSINE_BLOCK),
    )
    return (
        qualifying.select(
            F.col("vec_id_b").alias("vec_id"),
            "cell",
            F.col("vec_id_a").alias("lo_id"),
            "cosine",
        )
        .groupBy("vec_id", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine").alias("best_cosine"),
            F.min("lo_id").alias("witness_id"),
        )
    )


# DuckDB fragment: cells_for_corpus(COUNT(*)) in exact integer arithmetic.
# Python's round() is round-half-to-even and n/1024 is a dyadic rational
# (exactly representable for any feasible corpus count), so half-even on
# the integer quotient/remainder reproduces the Python sizing bit-exactly:
# r > 512 rounds up, r < 512 down, r == 512 to the even quotient.
_N_CELLS_SQL = """
  SELECT CASE WHEN COUNT(*) <= 1024 THEN 1
         ELSE GREATEST(1,
           CASE WHEN COUNT(*) % 1024 > 512 THEN COUNT(*) // 1024 + 1
                WHEN COUNT(*) % 1024 < 512 THEN COUNT(*) // 1024
                ELSE COUNT(*) // 1024 + (COUNT(*) // 1024) % 2 END) END AS n_cells
  FROM embeddings
"""


@register(
    "semantic_dedup_scaled",
    doc="The corpus-sized PRODUCTION form of semantic_dedup_cells: identical "
    "SemDeDup kernel (deterministic first-k codebook, Arrow argmin cell "
    "assignment, per-cell lower-id pair join via the grid-blocked self-join) "
    "but with the cell count SIZED BY THE CORPUS — "
    "cells_for_corpus(count(embeddings)), ~1024 expected rows/cell — instead "
    f"of the fixed {N_IVF_CELLS}-cell codebook. The fixed form's pair mass is "
    "n^2/32 regardless of cluster structure (measured p=1.44 on the wide "
    "fixture, SCALING.md r13); this form's is n*512 — linear by "
    "construction, measured p=0.24 through sf10-wide (433.1 s, 200k "
    "vectors/195 cells). The oracle computes the SAME cell count in exact "
    "integer half-even arithmetic, so the row stays hash-checkable at any "
    "fixture size (1 cell at 500 rows, 2 at 2000) — the fixed-literal-vs-"
    "computed pattern simhash_wide_pairs established at r13. The one "
    "driver-side scalar is the corpus count (table-metadata statistics at "
    "100 TB), shipped into the plan as the codebook bound.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, {_Q} AS qe FROM embeddings
), k AS (
{_N_CELLS_SQL}
), c AS (
  SELECT vec_id AS cid, qe AS ce FROM e WHERE vec_id < (SELECT n_cells FROM k)
), d AS (
  SELECT e.vec_id, e.qe, c.cid,
         list_sum(list_transform(e.qe, x -> x * x))
           - 2 * list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> e.qe[i] * c.ce[i]))
           + list_sum(list_transform(c.ce, x -> x * x)) AS dist
  FROM e CROSS JOIN c
), a AS (
  SELECT vec_id, qe, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d
), cells AS (
  SELECT vec_id, qe, cid AS cell FROM a WHERE rn = 1
), pairs AS (
  SELECT hi.vec_id AS vec_id, hi.cell AS cell, lo.vec_id AS lo_id,
         CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> hi.qe[i] * lo.qe[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(hi.qe, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(lo.qe, x -> x * x)) AS DOUBLE))) AS cosine
  FROM cells hi JOIN cells lo ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
)
SELECT vec_id, cell,
       CAST(COUNT(*) AS BIGINT) AS n_dups,
       MAX(cosine) AS best_cosine,
       MIN(lo_id) AS witness_id
FROM pairs
WHERE cosine >= {SEMDEDUP_TAU}
GROUP BY vec_id, cell
""",
)
def semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "embeddings").count()
    return semantic_dedup(spark, sf_dir, n_cells=cells_for_corpus(n))


def train_codebook_distributed(
    emb: DataFrame,
    k: int,
    *,
    iters: int = 10,
    qe_col: str = "qe",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means codebook trainer for UNCAPPED widths — the training
    half of the ~100k-cell production SemDeDup story
    (:func:`train_ivf_codebook` wraps ``pyspark.ml.KMeans``, which is
    impractical past a few thousand centers; real SemDeDup trains ~100k
    over billions of embeddings, Abbas et al. 2023 §3).

    Each iteration is exactly two bounded stages over the corpus:
    assignment through :func:`assign_cells_arrow` (one mapInPandas
    projection — exact float64 matmul, no shuffle), then the mean step as
    ``posexplode -> groupBy(cell, dim)`` partial-combined sums — the
    :func:`embedding_centroid_stats` aggregation shape, shuffling
    ``k x dims`` rows per task regardless of corpus size. New centers are
    rounded back to the quantized integer domain (round-half-up on an
    exact integer/count division — deterministic), so assignment stays
    exact integer-in-float64 arithmetic every round; per-round codebooks
    are ``localCheckpoint``-pinned (the iterative-lineage rule
    connected_components established).

    Initialization is the deterministic md5-rank sample: the ``k`` rows
    with smallest ``md5(id)`` (one TakeOrdered, k-bounded) — corpus-shaped
    (hash-uniform over rows) yet reproducible with no RNG. A cell that
    loses every member keeps its PREVIOUS center (the standard
    dead-center treatment; it can re-acquire members later) so the
    codebook width stays exactly ``k``. Returned as a ``(cid, qe)``
    DataFrame in precisely the shape ``semantic_dedup(codebook=...)`` and
    :func:`assign_cells_arrow` consume.

    Scale: per iteration one Arrow scan + one k x dims-row aggregate; the
    codebook is bounded by :data:`MAX_CODEBOOK_CELLS` (~52 MB at 100k
    cells), and nothing is ever corpus-sized on the driver."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    base = emb.select(F.col(id_col).alias("__id"), F.col(qe_col).alias("qe"))
    hkey = F.md5(F.col("__id").cast("string"))
    init = base.orderBy(hkey, "__id").limit(k)
    # Loud-failure contract (r15 ADVICE): with fewer than k corpus rows the
    # TakeOrdered just yields all rows and the documented "codebook width
    # stays exactly k" promise would silently shrink — downstream
    # assign_cells_arrow would quietly use a narrower codebook. The probe is
    # k-bounded (the init sample, never the corpus).
    n_init = init.count()
    if n_init < k:
        raise ValueError(
            f"train_codebook_distributed: corpus has only {n_init} rows, "
            f"cannot train k={k} centers — pick k <= corpus size"
        )
    # cid = rank within the k-row sample by the same (md5, id) order — the
    # window runs over k rows, not the corpus
    cb = (
        init.select(
            (F.row_number().over(Window.orderBy(hkey, "__id")) - 1)
            .cast("long")
            .alias("cid"),
            "qe",
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = assign_cells_arrow(base, cb)
        sums = (
            assigned.select("cell", F.posexplode("qe").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        means = (
            sums.groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "dim",
                            F.round(F.col("s") / F.col("n")).cast("long").alias("c"),
                        )
                    )
                ).alias("arr")
            )
            .select(
                F.col("cell").alias("cid"),
                F.transform("arr", lambda x: x["c"]).alias("qe"),
            )
        )
        # dead centers keep their previous position (standard Lloyd's) so
        # the codebook stays width k
        cb = (
            cb.alias("old")
            .join(means.alias("new"), "cid", "left")
            .select("cid", F.coalesce(F.col("new.qe"), F.col("old.qe")).alias("qe"))
            .localCheckpoint(eager=True)
        )
    return cb


#: reduced dimensionality for the random-projection query
RP_DIM = 16


@register(
    "embedding_random_projection",
    doc="Johnson-Lindenstrauss dimensionality reduction: each 64-dim "
    "quantized embedding is projected onto 16 deterministic ±1 hyperplanes "
    "(the derandomized signed-random-projection family the LSH bucketer "
    "uses — plane j, coord i is +1 iff (i*A + j*B) %% M < T), giving exact "
    "integer output coordinates both engines compute bit-identically. The "
    "standard ANN/clustering preprocessing at 100 TB: a map-side narrow "
    "projection that cuts downstream shuffle bytes 4x before any join or "
    "codebook step; no shuffle, no UDF, whole-stage-codegen arithmetic. "
    "Output is summarized per vector (projection L1 norm, positive-coord "
    "count, first two coords) so the checked result stays narrow.",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_Q} AS qe FROM embeddings
), proj AS (
  SELECT vec_id, list_transform(range(0, {RP_DIM}),
    j -> list_sum(list_transform(range(1, {EMB_DIM + 1}),
      i -> CASE WHEN (i * {_LSH_A} + j * {_LSH_B}) % {_LSH_MOD} < {_LSH_T}
           THEN qe[i] ELSE -qe[i] END))) AS p
  FROM q
)
SELECT vec_id,
       CAST(list_sum(list_transform(p, x -> abs(x))) AS BIGINT) AS l1_norm,
       CAST(len(list_filter(p, x -> x > 0)) AS BIGINT) AS n_positive,
       CAST(p[1] AS BIGINT) AS c0,
       CAST(p[2] AS BIGINT) AS c1
FROM proj
""",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant("embedding").alias("qe")
    )
    # the shared sign-array + zip_with kernel (_plane_projection) — one
    # Python copy for the bucketer and this projection (review r11)
    proj = F.array(*[_plane_projection(F.col("qe"), j) for j in range(RP_DIM)])
    out = emb.select("vec_id", proj.alias("p"))
    return out.select(
        "vec_id",
        F.aggregate(
            F.transform(F.col("p"), lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("l1_norm"),
        F.size(F.filter(F.col("p"), lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.element_at("p", 1).alias("c0"),
        F.element_at("p", 2).alias("c1"),
    )


@register(
    "embedding_int8_quantization",
    doc="Scalar int8 (0..255) quantization against per-dimension corpus "
    "min/max, in exact micro-unit integer math: per-vector code range, an "
    "index-weighted code checksum, and the max absolute reconstruction "
    "error vs bin centers. The storage-compression step before ANN "
    "shipping (4 bytes -> 1 byte per component).",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label, {_Q} AS qe FROM embeddings
),
dims AS (
  SELECT i, MIN(qe[i]) AS mn, MAX(qe[i]) AS mx
  FROM q, LATERAL (SELECT unnest(generate_series(1, len(qe))) AS i)
  GROUP BY i
),
coded AS (
  SELECT vec_id, label, i, qe[i] - mn AS a, mx - mn AS r,
         CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((qe[i] - mn) * 255 / (mx - mn)) AS BIGINT)
         END AS code
  FROM q, LATERAL (SELECT unnest(generate_series(1, len(qe))) AS i)
  JOIN dims USING (i)
)
SELECT vec_id, label,
       CAST(COUNT(*) AS BIGINT) AS n_dims,
       MIN(code) AS code_min,
       MAX(code) AS code_max,
       CAST(SUM(code * i) AS BIGINT) AS code_checksum,
       CAST(MAX(abs(a * 510 - (2 * code + 1) * r)) AS DOUBLE) / 510000000.0
         AS recon_max_err
FROM coded
GROUP BY vec_id, label
""",
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus min/max scalar quantization, no driver-side state.

    Per-dimension stats come from posexplode -> groupBy(pos) (64 groups,
    map-side partial combine: the shuffle is 64 rows per task regardless of
    corpus size), folded back into two ordered literal-free arrays on ONE
    row and broadcast via a scalar cross join — the same bounded pattern as
    the topk query vector. All arithmetic is micro-unit integer
    (``round(x*1e6)`` longs, the module's standard canonicalization):
    ``(qe-mn)*255`` <= ~5e9 is exactly representable in double, so the
    ``floor(a/r)`` double division is bit-identical on both engines
    (IEEE-correctly-rounded ops only — no libm). The reconstruction error
    is kept scaled-integer (x510) until one final exact division.
    Extension beyond the reference (no vector surface there); quantization
    per Jegou et al. product-quantization preliminaries."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _quant("embedding").alias("qe")
    )
    stats = (
        emb.select(F.posexplode("qe").alias("i", "v"))
        .groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("i", "mn", "mx"))).alias("s"))
        .select(
            F.transform("s", lambda x: x["mn"]).alias("mins"),
            F.transform("s", lambda x: x["mx"]).alias("maxs"),
        )
    )
    with_stats = emb.crossJoin(F.broadcast(stats))
    # cells: struct(a = qe-mn, r = mx-mn) per dimension, then codes/errors
    cells = F.zip_with(
        F.zip_with(F.col("qe"), F.col("mins"), lambda x, mn: x - mn),
        F.zip_with(F.col("maxs"), F.col("mins"), lambda a, b: a - b),
        lambda a, r: F.struct(a.alias("a"), r.alias("r")),
    )
    codes = F.transform(
        F.col("cells"),
        lambda c: F.when(c["r"] == 0, F.lit(0).cast("long")).otherwise(
            F.floor(c["a"] * 255 / c["r"])
        ),
    )
    errs = F.zip_with(
        F.col("cells"),
        F.col("codes"),
        lambda c, q: F.abs(c["a"] * 510 - (2 * q + 1) * c["r"]),
    )
    checksum = F.aggregate(
        F.transform(F.col("codes"), lambda q, i: q * (i + 1)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        with_stats.select("vec_id", "label", cells.alias("cells"))
        .select("vec_id", "label", "cells", codes.alias("codes"))
        .select(
            "vec_id",
            "label",
            F.size("codes").cast("long").alias("n_dims"),
            F.array_min("codes").alias("code_min"),
            F.array_max("codes").alias("code_max"),
            checksum.alias("code_checksum"),
            (F.array_max(errs).cast("double") / F.lit(510000000.0)).alias(
                "recon_max_err"
            ),
        )
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: lexical (BM25) candidate generation + vector re-ranking,
# fused with reciprocal-rank fusion. The standard two-stage RAG retrieval
# shape (sparse recall, dense precision) — Cormack et al. 2009 RRF.
# --------------------------------------------------------------------------
_RRF_K = 60  # the canonical RRF damping constant
_HYBRID_CAND = 20  # lexical candidates fed to the dense re-ranker


def _hybrid_oracle() -> str:
    from .text import _BM25_SCORED_SQL

    return f"""
WITH {_BM25_SCORED_SQL},
cand AS (
  SELECT doc_id, score, lex_rank FROM (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
    FROM scored
  ) WHERE lex_rank <= {_HYBRID_CAND}
), emb AS (
  SELECT vec_id, {_Q} AS qe FROM embeddings
), qv AS (
  SELECT qe AS q, list_sum(list_transform(qe, x -> x * x)) AS qnorm
  FROM emb WHERE vec_id = {_QUERY_VEC_ID}
), cosed AS (
  SELECT c.doc_id, c.score, c.lex_rank,
         CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> qv.q[i] * e.qe[i])) AS DOUBLE)
           / (sqrt(CAST(qv.qnorm AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(e.qe, x -> x * x)) AS DOUBLE))) AS cosine
  FROM cand c LEFT JOIN emb e ON e.vec_id = c.doc_id CROSS JOIN qv
), ranked AS (
  SELECT doc_id, score, lex_rank, cosine,
         row_number() OVER (ORDER BY cosine DESC NULLS LAST, doc_id) AS cos_rank
  FROM cosed
)
SELECT doc_id,
       score AS bm25_score,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       cosine,
       CAST(cos_rank AS BIGINT) AS cos_rank,
       CAST(1 AS DOUBLE) / ({_RRF_K} + lex_rank)
         + CAST(1 AS DOUBLE) / ({_RRF_K} + cos_rank) AS rrf_score
FROM ranked
ORDER BY rrf_score DESC, doc_id
LIMIT 10
"""


@register(
    "hybrid_bm25_cosine_rerank",
    doc="Two-stage hybrid retrieval: BM25 top-20 lexical candidates "
    "(shared scorer with bm25_doc_search), re-ranked by exact-integer "
    "quantized cosine against the fixed query vector, fused with "
    "reciprocal-rank fusion 1/(60+r_lex) + 1/(60+r_cos). Candidates "
    "missing an embedding (live branch at sf0.1: 5000 docs, 2000 "
    "vectors) keep NULL cosine and rank last (explicit NULLS LAST both "
    "engines), competing on lexical rank alone. At 100 TB: stage 1 is "
    "one corpus scan + a 1-row stats broadcast into "
    "TakeOrderedAndProject; stage 2 touches the embedding store once "
    "via a broadcast semi-join on the 20 candidate ids (bucket-pruned "
    "to a point lookup when the store is id-bucketed); every rank/RRF "
    "op runs on <= 20 rows.",
    oracle=_hybrid_oracle(),
)
def hybrid_bm25_cosine_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-recall + dense-precision retrieval with RRF fusion.

    Extension beyond the reference (no retrieval surface there; nearest
    analog is the ticker lookup join in ``01_master_sync``). Cross-engine
    float contract: BM25 doubles are bit-identical (rational idf,
    fixed-order term sum — see ``text.bm25_scores``), cosine is one double
    division over exact integer dot/norms (``_quant`` micro-units), and the
    RRF score is two correctly-rounded divisions added in fixed order, so
    ranks — row_number over bit-identical keys with doc_id tiebreaks — are
    deterministic on both engines."""
    from .text import bm25_scores

    lex_w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    # cand feeds TWO consumers (the semi-join build side and the scored
    # join), so the <=20-row result is pinned here — otherwise the corpus-
    # length BM25 scan + TakeOrdered re-executes once per consumer (review
    # r10: the checkpoint sat on single-consumer `fetched` instead,
    # pinning 20 rows while the expensive stage still ran twice)
    cand = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(_HYBRID_CAND)
        .select("doc_id", "score", F.row_number().over(lex_w).alias("lex_rank"))
        .localCheckpoint(eager=True)
    )
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant("embedding").alias("qe2")
    )
    q = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(F.col("qe2").alias("q"))
        .select("q", _dot(F.col("q"), F.col("q")).alias("qnorm"))
    )
    # fetch ONLY the candidate embeddings: semi-join against the broadcast
    # 20-id set, so the embedding store is scanned exactly once (fetched
    # has a single consumer — no checkpoint needed on it)
    fetched = emb.join(
        F.broadcast(cand.select("doc_id")),
        emb["vec_id"] == F.col("doc_id"),
        "left_semi",
    )
    enorm = _dot(F.col("qe2"), F.col("qe2"))
    # zero-norm guard (review r11): a zero-quantized candidate embedding
    # keeps NULL cosine and ranks last — the docstring's NULL contract,
    # previously honored only for MISSING embeddings; unguarded it would
    # abort under ANSI while the oracle yields NULL (x/0)
    cosine = F.when(
        (F.col("qnorm") > 0) & (enorm > 0),
        _dot(F.col("q"), F.col("qe2")).cast("double")
        / (F.sqrt(F.col("qnorm").cast("double")) * F.sqrt(enorm.cast("double"))),
    )
    scored = (
        cand.join(F.broadcast(fetched), cand["doc_id"] == fetched["vec_id"], "left")
        .crossJoin(F.broadcast(q))
        .select("doc_id", "score", "lex_rank", cosine.alias("cosine"))
    )
    cos_w = Window.orderBy(F.col("cosine").desc_nulls_last(), F.col("doc_id"))
    rrf = (F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank"))) + (
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("cos_rank"))
    )
    return (
        scored.select(
            "doc_id",
            "score",
            "lex_rank",
            "cosine",
            F.row_number().over(cos_w).alias("cos_rank"),
        )
        .select(
            "doc_id",
            F.col("score").alias("bm25_score"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            "cosine",
            F.col("cos_rank").cast("long").alias("cos_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(10)
    )
