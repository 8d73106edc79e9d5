"""Arrow-vectorized similarity search: the throughput path for dense scans.

The expression-based cosine in :mod:`..queries.vectors` stays JVM-side and
is ideal when similarity is one column among many. When the job IS the
similarity scan (rank 100 TB of embeddings against a probe), a numpy batch
kernel over ``mapInPandas`` wins: one BLAS-ish matrix-vector product per
Arrow batch instead of interpreted higher-order-function dots, and a
running PARTIAL top-k so only k rows per partition ever reach the final
ordering (measured against the JVM form in SCALING.md r18).

Correctness contract: identical quantization to the SQL path (round(x*1e6)
as int64, exact integer dot/norms, one double division at the end), so the
headline catalog query ``embedding_topk_cosine``, which runs
:func:`topk_cosine`, is value-hash-checked against its DuckDB oracle.

Scale notes:
- a RUNNING top-k across the partition's Arrow batches bounds the
  shuffle to k rows x n_partitions (review r10: per-batch yields were
  k x n_batches — 1000x the documented bound on a 10M-row partition);
  the final exact ordering sorts a few hundred rows, never the corpus.
- the probe vector rides in the closure (tiny); for probe BATCHES, extend
  the kernel to a matrix-matrix product per Arrow batch.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

def _round_half_away(a):
    """round() as Spark/DuckDB do it: half away from zero on the EXACT
    binary double. np.round is half-to-even (disagrees on exact .5
    fractions); floor(a + 0.5) is subtly wrong too — the ADDITION rounds
    first, so a = 0.49999999999999994 (whose a+0.5 rounds up to 1.0)
    came out 1 where Spark's BigDecimal HALF_UP gives 0 (review r10,
    reproduced live). The fraction is therefore compared exactly:
    abs(a) - floor(abs(a)) is an exact float subtraction (Sterbenz), so
    the >= 0.5 test sees the true binary value."""
    import numpy as np

    aa = np.abs(a)
    fl = np.floor(aa)
    r = fl + ((aa - fl) >= 0.5)
    return (np.where(a < 0, -r, r)).astype("int64")




def banded_pairs_skew_bounded(
    bands: DataFrame,
    key_cols: Sequence[str] = ("band", "band_key"),
    id_col: str = "doc_id",
    block_size: int = 4096,
) -> DataFrame:
    """Candidate pairs from an LSH banding relation, skew-bounded.

    The naive form is a self-equi-join on the band key: a bucket with m
    members emits m^2/2 pairs inside ONE task, so a single hot band (mass
    boilerplate, empty docs, a pathological shingle) becomes a quadratic
    straggler at corpus scale. This operator decomposes each bucket's
    triangular self-join into a grid of blocks of at most ``block_size``
    members: member i in block bi pairs with every block bj >= bi, so the
    join key becomes (band key, bi, bj) and no task ever holds more than
    ``block_size`` rows per side (<= block_size^2 candidate pairs). The
    emitted pair set is IDENTICAL to the naive join — each (i<j) pair
    matches exactly one (bi, bj) cell — so recall is unchanged; only the
    parallelism of hot buckets changes. Buckets at or under ``block_size``
    (the overwhelming majority) replicate nothing: one (0,0) cell.

    Cost: one extra shuffle for the per-bucket row_number, hash-partitioned
    on the same band key the join uses. Total replicated rows are
    O(sum_bucket m * ceil(m/block_size)) — proportional to the pair count
    the join must produce anyway, never more than a constant factor.

    The ranked relation is localCheckpoint-ed before the self-join: both
    join sides read the SAME materialized blocks instead of re-running the
    upstream signature computation (minhash = shingle explode + k min-aggs,
    the expensive stage) once per side — measured 2.2x faster than the
    naive self-join at sf0.1 instead of 2.2x slower. At cluster scale the
    banding relation is narrow (id + band key + two ints per row) and
    bounded, exactly what you would persist anyway before a candidate join.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b (distinct because
    the same pair can collide in several bands; within one key group the
    grid emits each pair exactly once).
    """
    joined = blocked_self_join(bands, key_cols, id_col, block_size)
    return (
        joined
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def blocked_self_join(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    block_size: int = 4096,
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Skew-bounded triangular self-join: every (i < j on ``id_col``) row
    pair within each ``key_cols`` group, with both sides' rows available
    under aliases ``a`` (lower id) and ``b`` (higher id). This is the grid
    decomposition :func:`banded_pairs_skew_bounded` documents — no task
    ever holds more than ``block_size`` rows per join-key side, so one hot
    group degrades into many bounded tasks instead of one quadratic
    straggler — exposed generically so any per-group pair computation
    (SemDeDup within-cell cosine, within-block linkage scoring) inherits
    the bound. ``payload_cols`` ride along on both sides; select them as
    ``a.<col>`` / ``b.<col>``. Within a key group each (i, j) pair is
    emitted exactly once (pair i<j matches only the (block_i, block_j)
    grid cell), so no dedup pass is needed downstream."""
    keys = list(key_cols)
    # reserved-name guard, same contract as dedup_keyed/temperature_sample
    # (review r10): an input column named like the internal block columns
    # would be silently clobbered and produce wrong pairs with no error
    clash = {"__blk", "__pj", "__pi", "__max_blk"} & set(df.columns)
    if clash:
        raise ValueError(f"column names reserved by blocked_self_join: {sorted(clash)}")
    left, right = _blocked_sides(df, keys, id_col, block_size, list(payload_cols))
    left, right = left.alias("a"), right.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys] + [
        F.col("a.__blk") == F.col("b.__pi"),
        F.col("a.__pj") == F.col("b.__blk"),
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
    ]
    return left.join(right, cond)


def _blocked_sides(
    bands: DataFrame, keys: list[str], id_col: str, block_size: int,
    payload: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two replicated relations of the grid decomposition. Left carries
    (__blk=own block, __pj=partner block >= __blk); right carries
    (__pi=partner block <= __blk, __blk=own block). Join keys are
    (keys, left.__blk=right.__pi, left.__pj=right.__blk): every join-key
    group holds at most ``block_size`` rows per side by construction —
    asserted directly by the skew test."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(id_col)
    wb = Window.partitionBy(*keys)
    ranked = (
        bands.select(*keys, id_col, *(payload or []))
        .withColumn("__blk", ((F.row_number().over(w) - 1) / block_size).cast("int"))
        .withColumn("__max_blk", F.max("__blk").over(wb))
        .localCheckpoint(eager=True)
    )
    left = ranked.withColumn(
        "__pj", F.explode(F.sequence(F.col("__blk"), F.col("__max_blk")))
    ).drop("__max_blk")
    right = ranked.withColumn(
        "__pi", F.explode(F.sequence(F.lit(0), F.col("__blk")))
    ).drop("__max_blk")
    return left, right


def _pair_exact_bound(dim: int) -> int:
    """Largest |component| for which the block-matmul cosine path is exact
    in float64: every dot/norm is a sum of ``dim`` products of components,
    so ``dim * b^2 < 2^53`` keeps all intermediates exact integers (same
    argument as assign_cells_arrow's ``_arrow_exact_bound``, without its
    3x distance-expression term). dim 64 -> b ~ 1.18e7; round(x*1e6)
    quantization puts unit-scale embeddings near 1e6, comfortably inside."""
    import math

    return math.isqrt((1 << 53) // dim)


#: per-side block bound for the cogrouped pair-cosine kernel: one group's
#: OUTPUT is <= block^2 candidate pairs held as one pandas frame before the
#: threshold cut, so the bound is a per-task memory cap (guide §5), not a
#: pair-set parameter — the emitted pair set is block-size-invariant.
PAIR_COSINE_BLOCK = 1024


def blocked_pair_cosine_arrow(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    vec_col: str = "qe",
    norm_col: str = "norm2",
    threshold: float = 0.35,
    block_size: int = PAIR_COSINE_BLOCK,
) -> DataFrame:
    """All within-group (i < j) pairs with quantized cosine >= ``threshold``
    — the :func:`blocked_self_join` + per-pair-dot + filter composition as
    ONE cogrouped Arrow kernel that moves ROWS across the boundary instead
    of PAIRS (guide §8: decide with small rows; the r16 measurement story
    is in OPTIMIZATION_r16.md §11).

    Why: the pair-expanded forms ship both 64-long vectors per PAIR —
    ~1 KB x m^2/2 rows per m-member group. Fine at sf1 (the einsum kernel
    measured 2.7x over the interpreted HOF dot), but at sf10's 100x pair
    mass the boundary transfer became the wall (chain 439.5 s vs the HOF
    form's 307.9). Here each grid block's rows cross ONCE per partner
    block (transfer ~ rows x ceil(m/block)), the block-pair dot matrix is
    one float64 BLAS matmul, and only pairs PASSING the threshold are
    emitted — output mass collapses from every candidate pair to the
    qualifying set.

    Exactness contract (bit-identical to the JVM expression form):
    components are guarded against :func:`_pair_exact_bound` loudly, so
    every dot — and the carried int64 ``norm_col`` self-norms — is an
    exact integer in float64 regardless of summation order; cosine is then
    ``dot / (sqrt(na) * sqrt(nb))`` in the same operand order as the SQL
    expression, all IEEE-correctly-rounded ops on identical doubles, so
    the >= ``threshold`` cut keeps exactly the rows the expression form
    keeps. Zero-norm and NULL vectors cannot qualify under the expression
    form's NULL-guard (cosine NULL fails >=) and are excluded here the
    same way; a NULL ELEMENT inside a vector fails loudly at the float64
    widening.

    Pair-set contract: identical to ``blocked_self_join(df, key_cols,
    id_col)`` filtered to the threshold — each (i < j) pair within a key
    group matches exactly one (block_i, block_j) grid cell, emitted by
    exactly one cogroup task; no task holds more than ``block_size`` input
    rows per side (pinned by the equivalence test).

    Returns ``(*key_cols, <id>_a, <id>_b, cosine)`` with input types
    preserved for keys/ids, cosine double, ``<id>_a < <id>_b``.
    """
    keys = list(key_cols)
    clash = {"__blk", "__pj", "__pi", "__max_blk", "__ba", "__bb"} & set(df.columns)
    if clash:
        raise ValueError(f"column names reserved by blocked_pair_cosine_arrow: {sorted(clash)}")
    # NULL-key rows never match the equi-join this kernel replaces (an
    # inner join rejects NULL keys), but cogroup would hand them to the
    # kernel as a live group — drop them up front so the pair-set contract
    # holds verbatim (and the dead rows never shuffle; advice r16)
    for k in keys:
        df = df.filter(F.col(k).isNotNull())
    left, right = _blocked_sides(df, keys, id_col, block_size, [vec_col, norm_col])
    lk = left.select(
        *keys, F.col("__blk").alias("__ba"), F.col("__pj").alias("__bb"),
        id_col, vec_col, norm_col,
    )
    # the right side is the SAME checkpointed relation, so its columns are
    # re-ALIASED wholesale: without fresh attribute ids, downstream column
    # pruning over the self-cogroup resolved both sides' identical expr ids
    # against the left and pruned the right's vector/norm columns out of
    # the Arrow payload (observed live: rpdf arrived without 'qe' whenever
    # a projection followed the kernel; the raw kernel output collected
    # fine). Distinct names on the right remove the id collision outright.
    rkey_names = [f"__rk{i}" for i in range(len(keys))]
    rk = right.select(
        *[F.col(k).alias(a) for k, a in zip(keys, rkey_names)],
        F.col("__pi").alias("__rba"), F.col("__blk").alias("__rbb"),
        F.col(id_col).alias("__rid"),
        F.col(vec_col).alias("__rvec"),
        F.col(norm_col).alias("__rnorm"),
    )
    out_schema = T.StructType(
        [lk.schema[k] for k in keys]
        + [
            T.StructField(f"{id_col}_a", lk.schema[id_col].dataType, True),
            T.StructField(f"{id_col}_b", lk.schema[id_col].dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )
    n_keys = len(keys)
    key_names = list(keys)
    tau = float(threshold)

    def kernel(key, lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        def empty():
            data = {k: [] for k in key_names}
            data[f"{id_col}_a"] = []
            data[f"{id_col}_b"] = []
            data["cosine"] = []
            return pd.DataFrame(data)

        if not len(lpdf) or not len(rpdf):
            return empty()

        def live_side(pdf, vname, nname, iname):
            vec, nrm = pdf[vname], pdf[nname]
            # the id mask mirrors the join form's a.id < b.id, which is
            # never true for a NULL id: without it a None in a string id
            # column raises inside the < comparison, and a null long id
            # would ride through as NaN (advice r16)
            ok = (
                (~vec.isna().to_numpy())
                & nrm.notna().to_numpy()
                & (nrm.to_numpy() > 0)
                & pdf[iname].notna().to_numpy()
            )
            ids = pdf[iname].to_numpy()[ok]
            if not ok.any():
                return ids, None, None
            M = np.asarray(vec.to_numpy()[ok].tolist(), dtype=np.float64)
            bound = _pair_exact_bound(M.shape[1])
            if np.abs(M).max() >= bound:
                raise ValueError(
                    "blocked_pair_cosine_arrow: component exceeds the float64 "
                    f"exactness bound {bound}"
                )
            return ids, M, np.sqrt(nrm.to_numpy()[ok].astype(np.float64))

        ida, A, sna = live_side(lpdf, vec_col, norm_col, id_col)
        idb, B, snb = live_side(rpdf, "__rvec", "__rnorm", "__rid")
        if A is None or B is None:
            return empty()
        # one exact matmul per block pair; same operand order as the SQL
        # expression: dot / (sqrt(na) * sqrt(nb))
        cos = (A @ B.T) / (sna[:, None] * snb[None, :])
        keep = (ida[:, None] < idb[None, :]) & (cos >= tau)
        ai, bj = np.nonzero(keep)
        out = {key_names[i]: np.repeat(key[i], len(ai)) for i in range(n_keys)}
        out[f"{id_col}_a"] = ida[ai]
        out[f"{id_col}_b"] = idb[bj]
        out["cosine"] = cos[ai, bj]
        return pd.DataFrame(out)

    grouped = lk.groupBy(*keys, "__ba", "__bb").cogroup(
        rk.groupBy(*rkey_names, "__rba", "__rbb")
    )
    return grouped.applyInPandas(kernel, out_schema)


def topk_cosine(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    exclude_vec_id: int | None = None,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of ``query_vec``, Arrow-batched.

    Rows whose ``vec_col`` is NULL are skipped, as the SQL form skips them
    (their norm is NULL, so ``enorm > 0`` drops them). A NULL or non-finite
    COMPONENT raises ``ValueError`` naming the column, as ``_quant``'s ANSI
    cast does on the JVM, instead of quantizing to an arbitrary integer.

    Output schema: ``(id_col, label_col, cosine)`` with the id/label
    columns keeping the INPUT's names and Spark types — previously the
    mapInPandas schema was hardcoded to (vec_id long, label int), so any
    table with different id/label names or types either failed at Arrow
    conversion, silently truncated, or came back renamed (review r11)."""
    import numpy as np

    if "cosine" in (id_col, label_col):
        raise ValueError("'cosine' is reserved for the output score column")
    out_schema = T.StructType(
        [
            emb.schema[id_col],
            emb.schema[label_col],
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )
    q_raw = np.asarray(list(query_vec), dtype="float64")
    if not np.isfinite(q_raw).all():
        raise ValueError("query_vec has a NULL or non-finite component")
    q = _round_half_away(q_raw * 1e6)
    qnorm = float(np.sqrt(float((q * q).sum())))
    if qnorm == 0.0:
        raise ValueError("query_vec has zero norm; cosine similarity is undefined")

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        best: "pd.DataFrame | None" = None
        for pdf in batches:
            if not len(pdf):
                continue
            # widen float32 -> float64 BEFORE scaling, exactly as Spark's
            # float->double promotion does; quantizing at single precision
            # would round differently
            raw = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            if not np.isfinite(raw).all():
                raise ValueError(
                    f"topk_cosine: NULL or non-finite component in column {vec_col!r}"
                )
            mat = _round_half_away(raw * 1e6)
            dots = mat @ q
            norms = np.sqrt((mat * mat).sum(axis=1).astype("float64"))
            # a zero-norm vector (padding/default row) has no defined cosine:
            # 0/0 -> NaN, which pandas sorts LAST in the partial top-k but
            # Spark's orderBy ranks ABOVE every real value — partition-
            # dependent garbage at rank 1. Exclude such rows outright (the
            # JVM catalog twin and its oracle carry the same enorm > 0
            # filter, pinned in r10).
            mask = norms > 0.0
            ids, labels = pdf[id_col].to_numpy()[mask], pdf[label_col].to_numpy()[mask]
            cos = dots[mask].astype("float64") / (norms[mask] * qnorm)
            out = pd.DataFrame(
                {
                    id_col: ids,
                    label_col: labels,
                    "cosine": cos,
                }
            )
            # RUNNING top-k across the partition's batches: exactly k rows
            # per PARTITION reach the shuffle, not k per Arrow batch
            # (review r10 — per-batch yields were k x n_batches)
            best = out if best is None else pd.concat([best, out], ignore_index=True)
            best = best.sort_values(
                ["cosine", id_col], ascending=[False, True]
            ).head(k)
        if best is not None:
            yield best

    src = emb.filter(F.col(vec_col).isNotNull())
    if exclude_vec_id is not None:
        src = src.filter(F.col(id_col) != exclude_vec_id)
    partial = src.select(id_col, label_col, vec_col).mapInPandas(kernel, out_schema)
    return partial.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_words: int = 2,
    n_bands: int = 4,
    hamming_max: int = 3,
    block_size: int = 4096,
    max_df_frac: float | None = None,
) -> DataFrame:
    """SimHash candidate pairs with a CORPUS-SIZED signature width.

    The catalog query ``simhash_near_dup`` is this operator at
    ``n_words=1``: 60 bits / four 15-bit bands — the widest form both
    engines can hold in one signed 64-bit column, i.e. the SQL-expressible
    correctness pin. A 15-bit band
    has 32,768 values, so RANDOM band collisions between unrelated
    documents grow as n^2/2^15 — measured superlinear (top-decade p=1.74)
    on the r13 wide fixture at 500 k docs, where the candidate relation is
    dominated by hash coincidences, not near-dups. This operator is the
    production form: ``n_words`` 60-bit signature words (word 0 is
    bit-identical to the catalog signature; word ``w`` draws the 15 hex
    chars starting at 1+16w of the same token digest — 1-indexed as in SQL
    ``substring``, i.e. the 0-indexed Python slice ``[16w, 16w+15)`` that
    the hashlib replay test uses), banded into ``n_bands``
    equal slices, so at the default 120 bits / 30-bit bands random
    collisions fall to n^2/2^30 — negligible through ~10^8 docs, and one
    more word per ~2^15x corpus growth after that.

    Pigeonhole recall contract (same as the catalog query): any pair with
    total Hamming distance <= ``hamming_max`` differs in at most
    ``hamming_max`` bands, so with ``n_bands >= hamming_max + 1`` it shares
    at least one band and is emitted. Wider signatures also make the
    DISTANCE stricter: at ``n_words=2`` the emitted pair set is provably a
    subset of the catalog query's (hamming120 <= 3 implies hamming60 on
    word 0 <= 3, which pigeonholes into a shared 15-bit band) — pinned by
    ``tests/test_operators.py`` alongside an exact hashlib/numpy replay.

    ``max_df_frac`` (r14 verdict item 4, the standard near-dup practice):
    tokens present in more than that fraction of documents are dropped
    BEFORE voting. In stopword-dominated corpora the ubiquitous tokens
    vote identically on every document, compressing genuinely-different
    documents into near-identical signatures — the shared-vocab collision
    regime SCALING.md r14 measured at p=1.42. Dropping them leaves the
    discriminative tail to set the bits, restoring near-disjoint
    scaling (SCALING.md r15 sweep). Recall: when BOTH documents of a true
    near-dup pair keep at least one cold token, they share their surviving
    (post-cap) sets just as they shared the full sets, so the pair still
    hashes together (planted-pair test). A document whose EVERY token is
    ubiquitous falls back to its full token set rather than vanishing from
    the candidate relation — the cap can shrink a signature, never erase
    one — so a corpus with no discriminative tail at all (the r13 31-token
    wide fixture) sees the cap as a measured no-op, not a recall cliff.
    The fallback is per-document, though, so it is NOT pairwise-consistent
    at the boundary (r15 ADVICE): if doc A is all-hot (keeps the full set)
    while its twin B has a single cold token (keeps only that token),
    their post-cap token sets — and signatures — diverge, and that one
    pair can drop out of the candidate relation even though both documents
    remain in it. ``tests/test_operators.py::
    test_simhash_df_cap_fallback_is_per_document`` pins this boundary;
    corpora mixing all-hot and nearly-all-hot twins should lower
    ``max_df_frac`` (or pre-strip boilerplate) rather than rely on the
    fallback for pair recall. The one driver-side scalar is the document
    count (table statistics at 100 TB); the hot set is |tokens above the
    cap|-bounded and joins as the small side.

    Returns one row per unordered candidate pair: ``(<id>_a, <id>_b,
    hamming)`` with ``hamming <= hamming_max``. The band self-join runs
    through :func:`blocked_self_join`, so a hot band degrades into
    ``block_size``-bounded tasks, never a quadratic straggler.
    """
    if n_words < 1 or n_words > 2:
        raise ValueError("n_words must be 1 or 2 (md5 supplies 30 hex chars = 2 words)")
    if n_bands <= hamming_max:
        raise ValueError(
            f"pigeonhole recall needs n_bands > hamming_max, got {n_bands} <= {hamming_max}"
        )
    total_bits = 60 * n_words
    if total_bits % n_bands != 0 or (60 % (total_bits // n_bands)) != 0:
        raise ValueError("bands must evenly slice the signature without straddling words")
    band_bits = total_bits // n_bands
    bands_per_word = 60 // band_bits

    toks = docs.select(
        id_col, F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    )
    if max_df_frac is not None:
        if not (0.0 < max_df_frac <= 1.0):
            raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")
        # driver scalar: one corpus count (table statistics at scale)
        n_docs = docs.count()
        hot = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))  # toks is (doc, tok)-distinct
            .filter(F.col("df") > max_df_frac * n_docs)
            .select("tok", F.lit(True).alias("__hot"))
        )
        flagged = toks.join(hot, "tok", "left")
        # per-doc surviving-token count rides the same id_col partitioning
        # the vote aggregate shuffles on; zero survivors -> keep ALL tokens
        # (fallback: the cap may shrink a signature, never erase one)
        n_cold = F.sum(F.when(F.col("__hot").isNull(), 1).otherwise(0)).over(
            Window.partitionBy(id_col)
        )
        toks = (
            flagged.withColumn("__n_cold", n_cold)
            .filter(F.col("__hot").isNull() | (F.col("__n_cold") == 0))
            .select(id_col, "tok")
        )
    digest = F.md5("tok")
    words = [
        F.conv(F.substring(digest, 1 + 16 * w, 15), 16, 10).cast("long").alias(f"hv{w}")
        for w in range(n_words)
    ]
    votes = toks.select(id_col, *words).groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col(f"hv{w}"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{w}_{i}")
            for w in range(n_words)
            for i in range(60)
        ]
    )

    def _word(w: int):
        acc = F.lit(0).cast("long")
        for i in range(60):
            acc = acc + F.when(
                F.col(f"s{w}_{i}") > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return acc

    sig_cols = [f"sim{w}" for w in range(n_words)]
    sig = votes.select(id_col, *[_word(w).alias(c) for w, c in enumerate(sig_cols)])
    mask = F.lit((1 << band_bits) - 1)
    banded = sig.select(
        id_col,
        *sig_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(
                            F.col(sig_cols[b // bands_per_word]),
                            band_bits * (b % bands_per_word),
                        )
                        .bitwiseAND(mask)
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, *sig_cols, F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    joined = blocked_self_join(
        banded, ["band", "band_val"], id_col, block_size, payload_cols=sig_cols
    )
    pairs = joined.select(
        F.col(f"a.{id_col}").alias(f"{id_col}_a"),
        F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in sig_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in sig_cols],
    ).distinct()
    hamming = None
    for c in sig_cols:
        h = F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b")))
        hamming = h if hamming is None else hamming + h
    return pairs.select(
        f"{id_col}_a", f"{id_col}_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= hamming_max)
