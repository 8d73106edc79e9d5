"""Training-data-pipeline catalog queries: deterministic sampling / splits,
PII scrubbing, and multimodal decode plumbing.

All sampling/split queries are built on
:mod:`fund_data_pipeline_spark.operators.sampling` — md5-bucket hashing
that both engines compute identically, so even the *membership* of each
split is oracle-checked, not just the counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph, multimodal, sampling
from ..operators.redaction import scrub_expr, scrub_pii_sql
from .registry import register, table
from .text import (
    _SW_SQL,
    STOPWORDS,
    fingerprint_expr,
    fingerprint_sql,
    minhash_bands,
    minhash_bands_sql,
    quality_expr,
    quality_sql,
)
from .vectors import _Q, EMB_DIM, N_IVF_CELLS, SEMDEDUP_TAU, semantic_dedup


@register(
    "train_val_test_split",
    headline=False,
    doc="Deterministic 80/10/10 split by md5(doc_id) bucket (operators.sampling): "
    "reproducible across runs, engines, and partitionings; map-side only — "
    "a 100 TB split is as cheap as a filter.",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % {sampling.N_BUCKETS} AS BIGINT) AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < {int(0.8 * sampling.N_BUCKETS)} THEN 'train'
            WHEN bucket < {int(0.9 * sampling.N_BUCKETS)} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_languages,
       MIN(doc_id) AS min_doc_id
FROM b GROUP BY 1
""",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    out = sampling.train_val_test(docs, "doc_id")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_languages"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register(
    "stratified_hash_sample",
    doc="Deterministic ~20% per-lang sample (co-sampled: same doc_ids "
    "survive everywhere the key is sampled). Membership itself is oracle-checked.",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % {sampling.N_BUCKETS} < {int(0.2 * sampling.N_BUCKETS)}
""",
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return sampling.deterministic_sample(docs, "doc_id", 0.2).select("doc_id", "lang")


@register(
    "pii_scrub_stats",
    doc="PII scrub audit over documents: how many documents the redaction "
    "pass touches and the byte delta. Applies the SAME pattern chain as "
    "the shipping transform (operators.redaction.scrub_pii — email / SSN "
    "/ IP / long-digit), generated from one pattern list on both engines, "
    "so the audit can never drift from the redaction it audits.",
    oracle=f"""
WITH scrubbed AS (
  SELECT doc_id,
         length(text) AS len_before,
         length({scrub_pii_sql("text")}) AS len_after
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN len_after <> len_before THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
       CAST(SUM(len_before - len_after) AS BIGINT) AS bytes_removed
FROM scrubbed
""",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scrubbed = scrub_expr("text")
    return docs.select(
        F.length("text").alias("len_before"), F.length(scrubbed).alias("len_after")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("len_after") != F.col("len_before"), 1).otherwise(0)).alias(
            "n_scrubbed"
        ),
        F.sum(F.col("len_before") - F.col("len_after")).cast("long").alias("bytes_removed"),
    )


@register(
    "pii_redaction",
    doc="PII redaction transform (operators.redaction.scrub_pii): emits the "
    "scrubbed text itself — email/SSN/IP/long-digit spans masked by a "
    "map-side regexp_replace chain, no UDF, scan-speed at 100 TB. The "
    "redacted text is verified per document by content hash (md5 of the "
    "scrubbed string), not just by counts: the oracle applies the "
    "IDENTICAL pattern chain (generated from the same pattern list), so a "
    "single divergent replacement anywhere in the corpus fails the check.",
    oracle=f"""
WITH r AS (
  SELECT doc_id,
         {scrub_pii_sql("coalesce(text, '')")} AS redacted,
         coalesce(text, '') AS original
  FROM documents
)
SELECT doc_id,
       md5(redacted) AS redacted_md5,
       CAST(length(redacted) AS BIGINT) AS n_chars_after,
       redacted <> original AS was_redacted
FROM r
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    original = F.coalesce(F.col("text"), F.lit(""))
    redacted = scrub_expr(original)
    return docs.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("n_chars_after"),
        (redacted != original).alias("was_redacted"),
    )


def _lsh_components(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate edges -> connected components over ``docs``.

    The ONE construction behind dedup_clusters, dedup_keep_list and the
    corpus-dedup pipeline's near-dup stage (review r10: it was copy-pasted
    per query, so a band-parameter or skew-bounding change could make the
    cluster report and the keep-list disagree about membership while each
    still passed its own oracle). Skew-bounded band join produces the
    identical pair set to the naive join (the oracles' edges CTE);
    connected_components symmetrizes edges itself, so the a<b orientation
    is sufficient. Returns (node, cluster_id)."""
    from ..operators.similarity import banded_pairs_skew_bounded

    edges = banded_pairs_skew_bounded(minhash_bands(docs)).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return graph.connected_components(docs.select(F.col("doc_id").alias("node")), edges)


@register(
    "dedup_clusters",
    doc="Fuzzy-dedup capstone: MinHash-LSH candidate pairs -> connected "
    "components (operators.graph) -> per-cluster keep/drop stats. The sf0.1 "
    "candidate graph (759 edges) fits the driver bound, so the Spark side "
    "is one collect, a union-find and one broadcast join; larger graphs run "
    "min-label propagation, then star contraction. The oracle computes the "
    "same transitive closure with a recursive CTE.",
    oracle=f"""
WITH RECURSIVE {minhash_bands_sql()},
edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node
),
cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
)
SELECT cluster_id,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_doc_id,
       MAX(doc_id) AS max_doc_id
FROM cc GROUP BY cluster_id HAVING COUNT(*) > 1
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = _lsh_components(table(spark, sf_dir, "documents"))
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("node").alias("keeper_doc_id"),
            F.max("node").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_keep_list",
    doc="Operational dedup output: every document with its fuzzy-dup cluster "
    "and a keep/drop verdict (keeper = lowest doc_id per cluster; singletons "
    "keep themselves). The table a corpus-dedup job actually joins against.",
    oracle=f"""
WITH RECURSIVE {minhash_bands_sql()},
edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node
),
cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       doc_id = MIN(doc_id) OVER (PARTITION BY cluster_id) AS keep
FROM cc
""",
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same LSH-edge + connected-components machinery as dedup_clusters,
    finished to the per-document verdict: one shuffle-per-round for the
    components (bounded by graph diameter), one window for the keeper."""
    from pyspark.sql import Window

    cc = _lsh_components(table(spark, sf_dir, "documents"))
    keeper = F.min("node").over(Window.partitionBy("cluster_id"))
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == keeper).alias("keep"),
    )


@register(
    "image_decode_features",
    doc="Multimodal decode plumbing (operators.multimodal): payload bytes -> "
    "Arrow-batched mapInPandas feature extraction (stubbed decoder, real "
    "batch path). The stub decode is a pure function of md5(payload) "
    "(operators/multimodal.py:_decode_image_stub), so the whole UDF stage "
    "IS SQL-expressible: the oracle recomputes width/height/phash from the "
    "same md5 byte-slices, making this a hard hash-checked row rather than "
    "rows-only. (mean_luma is float-derived and intentionally excluded from "
    "the checked aggregate surface; the golden pytest covers it.)",
    oracle="""
WITH feats AS (
  SELECT doc_id,
         octet_length(encode(coalesce(text, ''))) AS n_bytes,
         64 + CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 2)) AS INT) * 4 AS width,
         64 + CAST(concat('0x', substr(md5(coalesce(text, '')), 3, 2)) AS INT) * 4 AS height,
         substr(md5(coalesce(text, '')), 1, 16) AS phash
  FROM documents
  ORDER BY doc_id
  LIMIT 200
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(COUNT(DISTINCT phash) AS BIGINT) AS n_distinct_phash,
       MIN(width) AS min_width,
       MAX(height) AS max_height
FROM feats
""",
)
def image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderBy+limit (TakeOrderedAndProject), not bare limit: the 200-row
    # subset must be deterministic and engine-independent for the oracle.
    docs = table(spark, sf_dir, "documents").orderBy("doc_id").limit(200)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    feats = multimodal.extract_image_features(media)
    return feats.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("phash").alias("n_distinct_phash"),
        F.min("width").alias("min_width"),
        F.max("height").alias("max_height"),
    )


#: mixture rates for the registered query: downsample dominant English,
#: half-keep Chinese, keep the rare languages whole (the canonical
#: rebalancing mixture); oracle below is generated from the same dict
_MIXTURE_RATES = {"en": 0.3, "zh": 0.5}
_MIXTURE_DEFAULT = 1.0


def _mixture_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{v}' THEN {int(round(r * sampling.N_BUCKETS))}"
        for v, r in _MIXTURE_RATES.items()
    )
    return f"CASE lang {whens} ELSE {int(round(_MIXTURE_DEFAULT * sampling.N_BUCKETS))} END"


@register(
    "language_rebalance_mixture",
    doc="Training-mixture construction (operators.sampling.mixture_sample): "
    "per-language keep rates (en 30%, zh 50%, rest 100%) via the "
    "deterministic md5 bucket — membership itself is oracle-checked. One "
    "map-side filter; co-sampled with any table sampled on doc_id.",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % {sampling.N_BUCKETS} < {_mixture_case_sql()}
""",
)
def language_rebalance_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    mixed = sampling.mixture_sample(
        docs, "doc_id", "lang", _MIXTURE_RATES, default_rate=_MIXTURE_DEFAULT
    )
    return mixed.select("doc_id", "lang")


@register(
    "deterministic_shuffle_order",
    doc="Seeded corpus shuffle for training serialization (operators."
    "sampling.shuffled_shards): shard = md5-seed bucket, position = hash "
    "rank within shard — a reproducible permutation with NO global sort "
    "(16 independent window partitions here; 10k+ shards at corpus scale). "
    "Both shard membership and exact within-shard order are oracle-checked.",
    oracle="""
WITH k AS (
  SELECT doc_id, md5('42|' || CAST(doc_id AS VARCHAR)) AS skey FROM documents
), s AS (
  SELECT doc_id, skey,
         CAST(CAST(concat('0x', substr(skey, 1, 8)) AS BIGINT) % 16 AS INT) AS shard
  FROM k
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, CAST(doc_id AS VARCHAR))
            AS BIGINT) AS shard_pos
FROM s
""",
)
def deterministic_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return sampling.shuffled_shards(docs, "doc_id", n_shards=16, seed="42").select(
        "doc_id", "shard", "shard_pos"
    )


@register(
    "leakage_safe_split",
    doc="Leakage-safe train/val/test split: the split key is the CONTENT "
    "hash (md5 of text), not the doc id, so byte-identical duplicates can "
    "never straddle a split boundary and leak eval data into training. "
    "Same map-side bucket machinery as train_val_test_split; membership "
    "itself is oracle-checked.",
    oracle=f"""
SELECT doc_id,
       CASE WHEN b < {int(0.8 * sampling.N_BUCKETS)} THEN 'train'
            WHEN b < {int(0.9 * sampling.N_BUCKETS)} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(md5(coalesce(text, ''))), 1, 8)) AS BIGINT)
           % {sampling.N_BUCKETS} AS b
  FROM documents
)
""",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # coalesce BEFORE hashing: split_column's when-chain has no otherwise, so
    # md5(NULL) would yield a NULL split while the oracle's CASE falls through
    # to 'test' — NULL-text docs must land in a deterministic split on both
    # sides (ADVICE r5).
    docs = table(spark, sf_dir, "documents")
    split = sampling.split_column(
        F.md5(F.coalesce(F.col("text"), F.lit(""))), (0.8, 0.1, 0.1), ("train", "val", "test")
    )
    return docs.select("doc_id", split.alias("split"))


@register(
    "audio_quality_gate",
    doc="Audio decode + quality gating (operators.multimodal."
    "extract_audio_features, Arrow-batched mapInPandas): per-source counts "
    "of clips passing the silence (rms) and clipping gates plus exact "
    "duration totals. The stub decoder is a pure function of md5(payload) "
    "(operators/multimodal.py:_decode_audio_stub), so the whole UDF stage "
    "is SQL-recomputable from md5 byte-slices — a hard hash-checked row "
    "for the audio path, like image_decode_features for images.",
    oracle="""
WITH feats AS (
  SELECT source,
         CASE CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 2)) AS INT) % 4
              WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
         200 + CAST(concat('0x', substr(md5(coalesce(text, '')), 3, 4)) AS INT) % 60000 AS duration_ms,
         CAST(concat('0x', substr(md5(coalesce(text, '')), 7, 2)) AS INT) / 255.0 AS rms,
         (CAST(concat('0x', substr(md5(coalesce(text, '')), 9, 2)) AS INT) % 32) / 255.0 AS clip_frac
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_clips,
       CAST(SUM(CASE WHEN rms >= 0.05 AND clip_frac <= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(duration_ms) AS BIGINT) AS total_duration_ms,
       CAST(COUNT(DISTINCT sample_rate) AS BIGINT) AS n_rates
FROM feats
GROUP BY source
""",
)
def audio_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        "source",
        F.col("text").cast("binary").alias("payload"),
    )
    feats = multimodal.extract_audio_features(media.select("media_id", "payload"))
    joined = feats.join(media.select("media_id", "source"), "media_id")
    passes = F.when((F.col("rms") >= 0.05) & (F.col("clip_frac") <= 0.1), 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(passes).cast("long").alias("n_pass"),
        F.sum("duration_ms").cast("long").alias("total_duration_ms"),
        F.countDistinct("sample_rate").alias("n_rates"),
    )


@register(
    "video_frame_sample_stats",
    doc="Video frame-sampling plumbing (operators.multimodal.sample_frames, "
    "1 row in -> N frame rows out through mapInPandas): per-document frame "
    "count and exact total frame bytes. The stub demuxer slices the payload "
    "deterministically, so frame counts/sizes are pure octet-length "
    "arithmetic the oracle recomputes.",
    oracle="""
SELECT doc_id,
       CAST(least(8, greatest(1, octet_length(encode(coalesce(text, ''))) // 30)) AS BIGINT) AS n_frames,
       CAST(least(octet_length(encode(coalesce(text, ''))),
                  least(8, greatest(1, octet_length(encode(coalesce(text, ''))) // 30))
                  * (octet_length(encode(coalesce(text, ''))) // least(8, greatest(1, octet_length(encode(coalesce(text, ''))) // 30))))
            AS BIGINT) AS frame_bytes
FROM documents
""",
)
def video_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    frames = multimodal.sample_frames(media, every_nth=30, max_frames=8)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.octet_length("frame_payload")).cast("long").alias("frame_bytes"),
        )
        .select(
            F.col("media_id").cast("long").alias("doc_id"), "n_frames", "frame_bytes"
        )
    )


# ---------------------------------------------------------------------------
# end-to-end corpus dedup pipeline
# ---------------------------------------------------------------------------

_PIPELINE_ORACLE = f"""
WITH RECURSIVE
s1 AS (
  SELECT doc_id, text, lang,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
  FROM documents
),
surv1 AS (SELECT doc_id, text, lang FROM s1 WHERE doc_id = exact_keeper),
{{bands}},
edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM surv1
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node
),
cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
surv2 AS (
  SELECT s.doc_id, s.text, s.lang
  FROM surv1 s JOIN cc ON cc.doc_id = s.doc_id AND cc.cluster_id = s.doc_id
),
e AS (SELECT vec_id, {_Q} AS qe FROM embeddings),
c AS (SELECT vec_id AS cid, qe AS ce FROM e WHERE vec_id < {N_IVF_CELLS}),
se AS (SELECT e.vec_id, e.qe FROM e JOIN surv2 s ON e.vec_id = s.doc_id),
d AS (
  SELECT se.vec_id, se.qe, c.cid,
         list_sum(list_transform(se.qe, x -> x * x))
           - 2 * list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> se.qe[i] * c.ce[i]))
           + list_sum(list_transform(c.ce, x -> x * x)) AS dist
  FROM se CROSS JOIN c
),
a2 AS (
  SELECT vec_id, qe, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d
),
cells AS (SELECT vec_id, qe, cid AS cell FROM a2 WHERE rn = 1),
drops3 AS (
  SELECT DISTINCT hi.vec_id AS doc_id
  FROM cells hi JOIN cells lo ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
  WHERE CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> hi.qe[i] * lo.qe[i])) AS DOUBLE)
          / (sqrt(CAST(list_sum(list_transform(hi.qe, x -> x * x)) AS DOUBLE))
             * sqrt(CAST(list_sum(list_transform(lo.qe, x -> x * x)) AS DOUBLE))) >= {SEMDEDUP_TAU}
),
surv3 AS (SELECT * FROM surv2 WHERE doc_id NOT IN (SELECT doc_id FROM drops3)),
scored AS (
  SELECT doc_id,
         {fingerprint_sql(32)} AS fingerprint,
         {quality_sql()} AS quality
  FROM surv3
),
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY quality DESC, doc_id) AS rn
  FROM scored
),
stages AS (
  SELECT doc_id, 'exact' AS drop_stage FROM s1 WHERE doc_id <> exact_keeper
  UNION ALL SELECT doc_id, 'near_dup' FROM cc WHERE doc_id <> cluster_id
  UNION ALL SELECT doc_id, 'semantic' FROM drops3
  UNION ALL SELECT doc_id, 'quality' FROM ranked WHERE rn > 1
)
SELECT d.doc_id, s.drop_stage, s.drop_stage IS NULL AS keep
FROM documents d LEFT JOIN stages s ON d.doc_id = s.doc_id
""".format(bands=minhash_bands_sql(source="surv1"))


@register(
    "corpus_dedup_pipeline",
    doc="End-to-end corpus dedup: the four dedup stages composed on ONE "
    "corpus with consistent keep semantics — (1) exact content dedup "
    "(md5(text) hash-groupBy, keep lowest id), (2) MinHash-LSH near-dup "
    "(banded candidate pairs -> connected components, keep lowest id per "
    "cluster), (3) SemDeDup semantic dedup over the embedding column "
    "(IVF-cell cosine, greedy lower-id witness — restricted to docs still "
    "alive, so a dropped doc can never witness a drop), (4) quality-ranked "
    "fingerprint dedup (keep the best-scored copy). Emits one row per "
    "document with its keep verdict and the FIRST stage that dropped it — "
    "the per-stage attribution a data-curation report needs. Every stage "
    "is bucketed/blocked (hash groups, LSH bands, IVF cells with "
    "blocked_self_join, fingerprint clusters): no all-pairs work anywhere, "
    "so the composition scales like its worst stage, not their product.",
    oracle=_PIPELINE_ORACLE,
)
def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")

    # stage 1: exact content dedup (one shuffle on the content hash).
    # s1 is pinned: its corpus-wide md5(text) window otherwise re-executes
    # in every downstream job — the banded-pairs checkpoint, each
    # connected-components round, the SemDeDup blocked join, and twice in
    # the final action via drops1/surv3 (review r10: exchange reuse cannot
    # span the pipeline's separate eager jobs, so stage 1 ran ~5x)
    s1 = docs.select(
        "doc_id",
        "text",
        "lang",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("exact_keeper"),
    ).localCheckpoint(eager=True)
    drops1 = s1.filter(F.col("doc_id") != F.col("exact_keeper")).select(
        "doc_id", F.lit("exact").alias("drop_stage")
    )
    surv1 = s1.filter(F.col("doc_id") == F.col("exact_keeper")).drop("exact_keeper")

    # stage 2: MinHash-LSH near-dup -> connected components, keep min id
    cc = _lsh_components(surv1)
    drops2 = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id"), F.lit("near_dup").alias("drop_stage")
    )
    # surv2 feeds three consumers (SemDeDup's restrict set, surv3's anti
    # join, and stage 4 via surv3) — pin it for the same reason as s1
    surv2 = surv1.join(
        cc.filter(F.col("node") == F.col("cluster_id")).select(
            F.col("node").alias("doc_id")
        ),
        "doc_id",
        "semi",
    ).localCheckpoint(eager=True)

    # stage 3: SemDeDup restricted to surviving docs (docs without an
    # embedding row pass through untouched)
    drops3 = semantic_dedup(
        spark, sf_dir, restrict_ids=surv2.select(F.col("doc_id").alias("vec_id"))
    ).select(F.col("vec_id").alias("doc_id"), F.lit("semantic").alias("drop_stage"))
    surv3 = surv2.join(drops3.select("doc_id"), "doc_id", "anti")

    # stage 4: quality-ranked fingerprint dedup (keep the best copy)
    fingerprint = fingerprint_expr(32)  # shared with dedup_keep_best_quality
    w = Window.partitionBy("fingerprint").orderBy(F.col("quality").desc(), "doc_id")
    drops4 = (
        surv3.select("doc_id", fingerprint.alias("fingerprint"), quality_expr().alias("quality"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id", F.lit("quality").alias("drop_stage"))
    )

    stages = drops1.unionByName(drops2).unionByName(drops3).unionByName(drops4)
    return docs.select("doc_id").join(stages, "doc_id", "left").select(
        "doc_id", "drop_stage", F.col("drop_stage").isNull().alias("keep")
    )


@register(
    "corpus_mix_drift",
    doc="Dataset-mixture drift monitor: per (source, lang), the source's "
    "language share vs the corpus-wide share, with the absolute deviation "
    "and an exact drift DIRECTION computed by pure integer comparison — "
    "the distribution-shift check a curation pipeline runs per ingest "
    "batch (a source whose language mix drifts from the corpus baseline "
    "needs rebalancing or investigation). Every rate is one double "
    "division of exact integer counts (no ln/float-sum ordering "
    "anywhere), so both engines emit identical bits; two hash aggregates "
    "plus one vocabulary-sized broadcast join.",
    oracle="""
WITH sl AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
), s AS (
  SELECT source, SUM(n) AS n_source FROM sl GROUP BY source
), l AS (
  SELECT lang, SUM(n) AS n_lang FROM sl GROUP BY lang
), g AS (
  SELECT COUNT(*) AS n_total FROM documents
)
SELECT sl.source, sl.lang,
       CAST(sl.n AS BIGINT) AS n,
       CAST(sl.n AS DOUBLE) / CAST(s.n_source AS DOUBLE) AS source_share,
       CAST(l.n_lang AS DOUBLE) / CAST(g.n_total AS DOUBLE) AS corpus_share,
       abs(CAST(sl.n AS DOUBLE) / CAST(s.n_source AS DOUBLE)
           - CAST(l.n_lang AS DOUBLE) / CAST(g.n_total AS DOUBLE)) AS abs_drift,
       CAST(CASE WHEN CAST(sl.n AS HUGEINT) * g.n_total > CAST(l.n_lang AS HUGEINT) * s.n_source THEN 1
                 WHEN CAST(sl.n AS HUGEINT) * g.n_total < CAST(l.n_lang AS HUGEINT) * s.n_source THEN -1
                 ELSE 0 END AS INT) AS drift_sign
FROM sl JOIN s USING (source) JOIN l USING (lang) CROSS JOIN g
""",
)
def corpus_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expected count of (source, lang) under independence is
    n_source*n_lang/n_total; ``drift_sign`` compares n*n_total against
    n_lang*n_source as exact integers — zero iff the source's mix matches
    the corpus exactly, +/-1 shows direction. The comparison runs on wide
    integers (DECIMAL(38,0) here, HUGEINT in the oracle) because the raw
    products overflow BIGINT at ~3e9 documents (review r10 — ANSI Spark
    would throw ARITHMETIC_OVERFLOW at exactly the advertised per-ingest
    scale); a comparison instead of a materialized numerator keeps the
    output exact at any representable corpus size (abs_drift carries the
    double magnitude). At 100 TB all three stat relations are tiny
    (|sources| x |langs|) and broadcast; the only corpus-sized work is
    the first hash aggregate."""
    def _wide(c: str):
        return F.col(c).cast("decimal(38,0)")

    docs = table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    s = sl.groupBy("source").agg(F.sum("n").alias("n_source"))
    lang = sl.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    g = docs.agg(F.count(F.lit(1)).alias("n_total"))
    source_share = F.col("n").cast("double") / F.col("n_source").cast("double")
    corpus_share = F.col("n_lang").cast("double") / F.col("n_total").cast("double")
    return (
        sl.join(F.broadcast(s), "source")
        .join(F.broadcast(lang), "lang")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            "lang",
            F.col("n").cast("long").alias("n"),
            source_share.alias("source_share"),
            corpus_share.alias("corpus_share"),
            F.abs(source_share - corpus_share).alias("abs_drift"),
            F.when(_wide("n") * _wide("n_total") > _wide("n_lang") * _wide("n_source"), 1)
            .when(_wide("n") * _wide("n_total") < _wide("n_lang") * _wide("n_source"), -1)
            .otherwise(0)
            .cast("int")
            .alias("drift_sign"),
        )
    )


@register(
    "temperature_rebalance_mixture",
    doc="Temperature-scaled (alpha=0.5) mixture sampling (operators."
    "sampling.temperature_sample): keep rates DERIVED from the corpus so "
    "sampled language sizes follow n_l**0.5 — the multinomial alpha-"
    "sampling used to rebalance multilingual corpora, vs the FIXED rates "
    "of language_rebalance_mixture. Thresholds are floor(buckets * "
    "sqrt(n_min/n_l)); sqrt is IEEE-correctly-rounded in both engines so "
    "the derived thresholds (exposed as thr and oracle-pinned) are bit-"
    "identical — pow() would not be, which is why alpha is 0.5 here. One "
    "|langs|-sized aggregate, one broadcast join, one map-side filter; "
    "salted bucket ('temp') so composing with the unsalted fixed-rate "
    "mixture stays independent.",
    oracle=f"""
WITH c AS (
  SELECT lang AS s_lang, COUNT(*) AS n_l FROM documents GROUP BY lang
), m AS (
  SELECT MIN(n_l) AS n_min FROM c
), t AS (
  SELECT s_lang,
         CAST(FLOOR({sampling.N_BUCKETS} * SQRT(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE))) AS BIGINT) AS thr
  FROM c CROSS JOIN m
)
SELECT d.doc_id, d.lang, t.thr
FROM documents d JOIN t ON d.lang IS NOT DISTINCT FROM t.s_lang
WHERE CAST(concat('0x', substr(md5('temp|' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % {sampling.N_BUCKETS} < t.thr
""",
)
def temperature_rebalance_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    mixed = sampling.temperature_sample(
        docs, "doc_id", "lang", alpha=0.5, salt="temp", thr_col="thr"
    )
    return mixed.select("doc_id", "lang", "thr")


@register(
    "source_frequency_cap",
    doc="Per-(source, lang) frequency cap (operators.sampling."
    "cap_per_stratum): keep at most 8 documents per cell, preferring "
    "longer documents (n_chars DESC, doc_id tie-break) — the domain-cap "
    "curation op that stops one hot domain dominating the mixture. The "
    "implementation counts strata map-side, broadcasts only the OVER-cap "
    "stratum set, passes under-cap rows through with NO shuffle, and "
    "ranks only the offenders — vs the naive full-corpus ROW_NUMBER "
    "shuffle; the oracle is that naive window, so the split-path result "
    "is pinned to the single-window semantics exactly.",
    oracle="""
SELECT doc_id, source, lang, n_chars FROM (
  SELECT doc_id, source, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
  FROM documents
) WHERE rn <= 8
""",
)
def source_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    capped = sampling.cap_per_stratum(
        docs,
        ["source", "lang"],
        cap=8,
        order_by=[F.col("n_chars").desc_nulls_last()],
        tie_key="doc_id",
    )
    return capped.select("doc_id", "source", "lang", "n_chars")


# ---------------------------------------------------------------------------
# model-based quality filtering (r12 capstone): train a tiny hard-sigmoid
# logistic-regression classifier IN-ENGINE on weak rule labels, then gate
# the corpus with it — the CCNet / LLaMA-style classifier-filtering stage.
# ---------------------------------------------------------------------------

_MQF_STEPS = 32
_MQF_NF = 6  # bias + 5 quality features


def _mqf_feats_sql() -> str:
    """Feature CTE body: integer micro-unit features in [0, 1e6] + the 0/1
    weak rule label, all pure integer arithmetic (integer division on
    positives is identical in both engines)."""
    nt = "len(string_split(text, ' '))"
    nstop = f"len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL}))"
    nnosp = "length(replace(text, ' ', ''))"
    return f"""
  SELECT doc_id, lang, source,
         CAST(1000000 AS BIGINT) AS f0,
         CAST(least({nt}, 500) * 2000 - 500000 AS BIGINT) AS f1,
         CAST((1000000 * {nstop}) // {nt} - 500000 AS BIGINT) AS f2,
         CAST(least((50000 * {nnosp}) // {nt}, 1000000) - 500000 AS BIGINT) AS f3,
         CAST((1000000 * length(regexp_replace(text, '[^a-z]', '', 'g'))) // length(text) - 500000 AS BIGINT) AS f4,
         CAST((1000000 * len(list_distinct(string_split(text, ' ')))) // {nt} - 500000 AS BIGINT) AS f5,
         CAST(CASE WHEN {nt} BETWEEN 30 AND 400
                    AND 100 * {nstop} >= 3 * {nt}
                    AND {nnosp} BETWEEN 3 * {nt} AND 8 * {nt}
               THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents
  WHERE length(text) > 0"""


def _mqf_oracle() -> str:
    """Unrolled gradient-step CTEs (the BPE-oracle pattern): step k reads
    the weight row w{k-1}, aggregates the d exact gradient sums, and emits
    w{k} via a portable FLOOR-division update (DuckDB's ``//`` truncates
    toward zero, so the floor form is spelled out) plus the same box clamp
    as the engine. Every step CTE is MATERIALIZED: w{k} is referenced
    by BOTH s{k+1} and w{k+1}, so an inlining planner would double the
    expression tree per step — a 2^32 planning blowup; materialization
    keeps the chain linear (w/s CTEs are 1 row each)."""
    from ..operators import classifier as C

    def z(w: str) -> str:
        return " + ".join(f"{w}.w{i} * f.f{i}" for i in range(_MQF_NF))

    parts = [f"WITH feats AS MATERIALIZED ({_mqf_feats_sql()})"]
    parts.append(
        "d AS MATERIALIZED (SELECT CAST(1000000000000 AS HUGEINT) * (SELECT count(*) FROM feats) AS d)"
    )
    parts.append(
        "w0 AS MATERIALIZED (SELECT "
        + ", ".join(f"CAST(0 AS HUGEINT) AS w{i}" for i in range(_MQF_NF))
        + ")"
    )
    for k in range(1, _MQF_STEPS + 1):
        q = f"least(greatest({C.Q_MID} + ({z('w')}), 0), {C.Q_MAX})"
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"SUM(({q} - {C.Q_MAX} * f.y) * f.f{i}) AS g{i}"
                for i in range(_MQF_NF)
            )
            + f" FROM feats f, w{k - 1} w)"
        )
        fd = "(s.g{i} - ((s.g{i} % d.d) + d.d) % d.d) // d.d"
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"greatest(least(w.w{i} - ({fd.format(i=i)}), {C.W_CAP}), {-C.W_CAP}) AS w{i}"
                for i in range(_MQF_NF)
            )
            + f" FROM s{k} s, w{k - 1} w, d)"
        )
    parts.append(
        "scored AS MATERIALIZED (SELECT f.lang, f.source, f.y, "
        f"CASE WHEN ({z('w')}) >= 0 THEN 1 ELSE 0 END AS keep "
        f"FROM feats f, w{_MQF_STEPS} w)"
    )
    return (
        ",\n".join(parts)
        + """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_label_pos,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN y = keep THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
FROM scored
GROUP BY lang, source"""
    )


def _mqf_features(docs: DataFrame) -> DataFrame:
    """Spark twin of :func:`_mqf_feats_sql` — same names, same integer
    micro-units. floor(long/long) on non-negative values is exact here:
    numerators are bounded by n_tok * 1e6 and quotients by 1e6, so for any
    document under ~9e9 tokens (2^53 / 1e6 — a 40 GB single document) both
    sit inside double's exact-integer range and the correctly-rounded
    double division cannot cross an integer boundary
    (|m*b - a| >= 1 > b * ulp(m) / 2)."""
    toks = F.split(F.col("text"), " ")
    # Counts are cast to long at the source: F.size/F.length return int32,
    # and the micro-unit scalings below (count * 1_000_000 / * 50_000)
    # overflow int32 for any document with >= 2148 alpha chars / stopwords /
    # distinct tokens — under ANSI (the session default) that ABORTS the
    # query on realistic web documents even though the fixture's short docs
    # pass (r12 ADVICE, reproduced with a single 2.5 KB doc). The DuckDB
    # oracle computes the same features in BIGINT throughout.
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    n_nosp = F.length(F.regexp_replace("text", " ", "")).cast("long")
    n_alpha = F.length(F.regexp_replace("text", "[^a-z]", "")).cast("long")
    n_chars = F.length("text").cast("long")
    n_dist = F.size(F.array_distinct(toks)).cast("long")

    def idiv(a, b):
        return F.floor(a / b).cast("long")

    y = (
        n_tok.between(30, 400)
        & (n_stop * F.lit(100) >= n_tok * F.lit(3))
        & n_nosp.between(n_tok * 3, n_tok * 8)
    ).cast("long")
    return docs.filter(F.length("text") > 0).select(
        "doc_id",
        "lang",
        "source",
        F.lit(1_000_000).cast("long").alias("f0"),
        (F.least(n_tok, F.lit(500)) * 2000 - 500_000).cast("long").alias("f1"),
        (idiv(n_stop * 1_000_000, n_tok) - 500_000).alias("f2"),
        (F.least(idiv(n_nosp * 50_000, n_tok), F.lit(1_000_000)) - 500_000).alias("f3"),
        (idiv(n_alpha * 1_000_000, n_chars) - 500_000).alias("f4"),
        (idiv(n_dist * 1_000_000, n_tok) - 500_000).alias("f5"),
        y.alias("y"),
    )


@register(
    "model_quality_filter",
    doc="Model-based quality filtering (the CCNet/LLaMA classifier stage): "
    "train a hard-sigmoid logistic-regression quality classifier IN-ENGINE "
    "— 32 exact full-batch integer gradient steps over 6 micro-unit "
    "features (length band, stopword share, mean token length, alpha "
    "ratio, distinct-token ratio, bias) against the weak rule label — "
    "then gate the corpus map-side with the trained logit (keep iff "
    "z >= 0, the hard-sigmoid 0.5 point) and report per-(lang, source) "
    "gate stats. Training is operators.classifier.train_hardsig_logreg: "
    "per step ONE map-side partial aggregate + a 6-integer driver collect "
    "+ an exact Python weight update (BPE cost shape — corpus-sized "
    "scans, d-sized driver state); the oracle replays the identical "
    "schedule as 32 unrolled CTE steps with portable floor division. No "
    "exp/ln anywhere: the hard sigmoid keeps every step in exact integer "
    "arithmetic, which is why the trained weights are bit-identical "
    "across engines at every SF.",
    oracle=_mqf_oracle(),
)
def model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB: features are one map-side projection; each of the 32
    training steps is one partial-aggregate shuffle of 6 longs per
    partition; scoring re-uses the persisted features map-side. The
    persist keeps the corpus passes (count + 32 steps + final agg) from
    re-reading parquet; blocks are recomputable so executor loss costs
    recompute, not correctness."""
    from ..operators import classifier as C

    docs = table(spark, sf_dir, "documents")
    feats = _mqf_features(docs).persist()
    try:
        fcols = [f"f{i}" for i in range(_MQF_NF)]
        weights = C.train_hardsig_logreg(feats, fcols, "y", steps=_MQF_STEPS)
        keep = (C.z_expr(weights, fcols) >= 0).cast("long")
        gate = (
            feats.select("lang", "source", "y", keep.alias("keep"))
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("y").alias("n_label_pos"),
                F.sum("keep").alias("n_kept"),
                F.sum((F.col("y") == F.col("keep")).cast("long")).alias("n_agree"),
            )
        )
        # Materialize the gate aggregation WHILE the feature blocks are
        # live (r12 verdict item 3: returning the lazy frame and
        # unpersisting in the finally meant the scoring pass recomputed the
        # feature projection from parquet — one extra corpus read at
        # 100 TB). The result is bounded by |lang| x |source| (dozens of
        # rows), so the driver-side collect is d-sized, not corpus-sized.
        return spark.createDataFrame(gate.collect(), gate.schema)
    finally:
        feats.unpersist()
