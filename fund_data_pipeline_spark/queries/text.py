"""LLM-data-pipeline text operators over ``documents`` (BASELINE.json extras).

Exact dedup, n-gram Jaccard near-dup, MinHash-LSH banding, language-ID,
quality scoring, token counting, fingerprinting — each expressed as
distributed DataFrame transforms (explode -> aggregate -> join), never
driver-side loops, so the same plan runs over 100 TB of documents.

Determinism notes: hash families are built from md5 strings (identical in
both engines); set sizes are computed via |A|+|B|-|A∪B| on DISTINCT arrays
(avoids engine-specific intersect semantics); ratios are double divisions
of exact integers (bit-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunking import WS_RE
from .registry import register, table

#: tiny English stopword list for the language-ID heuristic; the SQL form is
#: GENERATED from the same tuple so the two engines' lists can never drift
#: (review r9 — a hand-maintained literal desynchronizes silently)
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def _tokens(col="text"):
    return F.split(F.col(col), " ")


def _ws_tokens(docs: DataFrame, *id_cols: str, alias: str = "token") -> DataFrame:
    """Exploded whitespace tokens under the cross-engine contract: blank
    (space-trimmed-empty) docs dropped, trim + WS_RE split. The plain
    single-space :func:`_tokens` would admit empty-string tokens on
    irregular whitespace and diverge from the oracle's
    ``string_split_regex`` — this helper is the ONE place that pairing
    lives (review r10: it was copy-pasted at three call sites)."""
    return docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        *id_cols,
        F.explode(F.split(F.trim(F.col("text")), WS_RE)).alias(alias),
    )


def fingerprint_expr(prefix_len: int, with_length: bool = False):
    """md5 prefix fingerprint (lang | text prefix [| length]) — the cheap
    first-pass dedup key. ONE definition feeds doc_fingerprint,
    doc_quality_profile, dedup_keep_best_quality, and the corpus-dedup
    pipeline's stage 4 so the keep rule and the profiling queries can never
    drift (review r9; same rationale as quality_expr/quality_sql)."""
    parts = [
        F.coalesce(F.col("lang"), F.lit("")),
        F.lit("|"),
        F.substring("text", 1, prefix_len),
    ]
    if with_length:
        parts += [F.lit("|"), F.length("text").cast("string")]
    return F.md5(F.concat(*parts))


def fingerprint_sql(prefix_len: int, with_length: bool = False) -> str:
    """DuckDB form of :func:`fingerprint_expr` (oracle reuse)."""
    s = f"COALESCE(lang,'') || '|' || substr(text, 1, {prefix_len})"
    if with_length:
        s += " || '|' || CAST(length(text) AS VARCHAR)"
    return f"md5({s})"


def quality_expr(col: str = "text"):
    """Composite document-quality score (token-count band + stopword ratio
    + avg token length band) — the keep-rank key of quality-aware dedup.
    Shared by doc_quality_profile, dedup_keep_best_quality, and
    corpus_dedup_pipeline so the score can never drift between the
    profiling query and the keep rule that consumes it."""
    toks = _tokens(col)
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n_tokens
    avg_len = F.length(F.regexp_replace(col, " ", "")).cast("double") / n_tokens
    return (
        F.lit(0.5) * F.when((n_tokens >= 30) & (n_tokens <= 400), F.lit(1.0)).otherwise(F.lit(0.0))
        + F.lit(0.3) * F.least(stop_ratio * 10.0, F.lit(1.0))
        + F.lit(0.2) * F.when((avg_len >= 3.0) & (avg_len <= 8.0), F.lit(1.0)).otherwise(F.lit(0.0))
    )


def quality_sql(col: str = "text") -> str:
    """DuckDB form of :func:`quality_expr` (oracle reuse)."""
    return (
        f"0.5 * (CASE WHEN len(string_split({col}, ' ')) BETWEEN 30 AND 400 THEN 1.0 ELSE 0.0 END)"
        f" + 0.3 * least(CAST(len(list_filter(string_split({col}, ' '), t -> t IN {_SW_SQL})) AS DOUBLE)"
        f" / len(string_split({col}, ' ')) * 10.0, 1.0)"
        f" + 0.2 * (CASE WHEN CAST(length(replace({col}, ' ', '')) AS DOUBLE) / len(string_split({col}, ' '))"
        f" BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END)"
    )


@register(
    "text_statistics",
    headline=True,
    doc="Per-document token/char statistics (length, token count, avg token "
    "length, alpha ratio) — the quality-filter feature set.",
    oracle="""
SELECT doc_id, lang, source,
       length(text) AS n_chars_actual,
       len(string_split(text, ' ')) AS n_tokens,
       CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
FROM documents
""",
)
def text_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(toks)).alias("avg_token_len"),
        (F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double") / F.length("text")).alias(
            "alpha_ratio"
        ),
    )


@register(
    "language_id_heuristic",
    doc="Stopword-ratio language ID: share of tokens in a tiny English "
    "stopword list; predicts 'en' above threshold.",
    oracle=f"""
SELECT doc_id, lang AS labeled_lang,
       CAST(len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL})) AS DOUBLE)
         / len(string_split(text, ' ')) AS stopword_ratio,
       CASE WHEN CAST(len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL})) AS DOUBLE)
                 / len(string_split(text, ' ')) > 0.03 THEN 'en' ELSE 'other' END AS predicted_lang
FROM documents
""",
)
def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    ratio = n_stop.cast("double") / F.size(toks)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        ratio.alias("stopword_ratio"),
        F.when(ratio > 0.03, F.lit("en")).otherwise(F.lit("other")).alias("predicted_lang"),
    )


@register(
    "quality_score",
    doc="Composite document quality score from deterministic feature ratios "
    "(length band, stopword share, mean token length band). Both sides "
    "are GENERATED from quality_expr/quality_sql — the shared definition "
    "whose whole point is that the score cannot drift between consumers "
    "(review r10: this query carried its own inline copy of the formula, "
    "so a weight tweak would have updated every other consumer but "
    "silently left the registered quality query on the old score).",
    oracle=f"""
SELECT doc_id, {quality_sql('text')} AS quality
FROM documents
""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_expr().alias("quality"))


@register(
    "token_count_regex",
    doc="Regex token counting (word / number / whitespace classes) — the "
    "BPE-ish pre-tokenizer count.",
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
       len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens,
       len(regexp_extract_all(text, '[ \t\n\x0B\f\r]+')) AS n_whitespace_runs
FROM documents
""",
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+")).alias("n_word_tokens"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_number_tokens"),
        F.regexp_count("text", F.lit(WS_RE)).alias("n_whitespace_runs"),
    )


@register(
    "doc_fingerprint",
    doc="Deterministic document fingerprint: md5 over language, prefix and "
    "length (the cheap first-pass dedup key).",
    oracle=f"""
SELECT doc_id,
       {fingerprint_sql(64, with_length=True)} AS fingerprint
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_expr(64, with_length=True).alias("fingerprint"),
    )


@register(
    "doc_quality_profile",
    doc="One-pass per-document profile combining the quality score, the "
    "regex token counts, and the md5 fingerprint (the quality_score / "
    "token_count_regex / doc_fingerprint operators in a single checked "
    "projection — all narrow per-row expressions, one scan).",
    oracle=f"""
SELECT doc_id,
       0.5 * (CASE WHEN n_tokens >= 30 AND n_tokens <= 400 THEN 1.0 ELSE 0.0 END)
     + 0.3 * least(stopword_ratio * 10.0, 1.0)
     + 0.2 * (CASE WHEN avg_len >= 3.0 AND avg_len <= 8.0 THEN 1.0 ELSE 0.0 END) AS quality,
       n_word_tokens, n_number_tokens, n_whitespace_runs, fingerprint
FROM (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL})) AS DOUBLE)
           / len(string_split(text, ' ')) AS stopword_ratio,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_len,
         len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
         len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens,
         len(regexp_extract_all(text, '[ \t\n\x0B\f\r]+')) AS n_whitespace_runs,
         {fingerprint_sql(64, with_length=True)} AS fingerprint
  FROM documents
)
""",
)
def doc_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    quality = quality_expr()
    fingerprint = fingerprint_expr(64, with_length=True)
    return docs.select(
        "doc_id",
        quality.alias("quality"),
        F.regexp_count("text", F.lit("[a-z]+")).alias("n_word_tokens"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_number_tokens"),
        F.regexp_count("text", F.lit(WS_RE)).alias("n_whitespace_runs"),
        fingerprint.alias("fingerprint"),
    )


@register(
    "exact_dedup",
    headline=True,
    doc="Exact dedup by content hash: keep the lowest doc_id per md5(text) "
    "(hash-groupBy; map-side combinable, no skew at 100 TB).",
    oracle="""
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "ngram_jaccard_pairs",
    doc="Token-set Jaccard near-dup within (lang, length-bucket) blocks: "
    "|A∩B| via |A|+|B|-|A∪B| on distinct token sets; blocked self-join "
    "keeps the pair count linear-ish (full LSH variant: minhash_lsh_candidates).",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars // 100 AS bucket,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(a.toks) + len(b.toks) - len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)
         / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
FROM d a JOIN d b
  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE CAST(len(a.toks) + len(b.toks) - len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-bounded triangular self-join (review r15): the plain
    # (lang, bucket) self-equi-join put m^2/2 pairs of a hot block in ONE
    # task — the quadratic straggler semantic_dedup / cosine_near_dup /
    # simhash already route around; blocked_self_join emits the identical
    # i<j pair set with <= 4096 rows per side per task
    from ..operators.similarity import blocked_self_join

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("bucket"),
        F.array_distinct(_tokens()).alias("toks"),
    )
    pairs = blocked_self_join(d, ["lang", "bucket"], "doc_id", payload_cols=["toks"])
    union_size = F.size(F.array_distinct(F.concat(F.col("a.toks"), F.col("b.toks"))))
    inter_size = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - union_size
    jaccard = inter_size.cast("double") / union_size
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


# MinHash-LSH: k=8 hash functions, b=4 bands of r=2 rows. Shingles are token
# 3-grams. Candidate pairs share >=1 band key. The 8 hash families are the
# four 32-bit hex chunks of md5('0|'|shingle) plus the four of
# md5('1|'|shingle): TWO md5 evaluations per shingle instead of eight, with
# the same k=8 collision statistics (md5 chunks are independently uniform).
# Together with the zip_with shingle kernel (_shingles), the full
# candidate query dropped 6.8 -> 2.2 s at sf0.1 (min-of-3) — shingle
# string construction, not md5, was the bigger term.
_N_HASH = 8
_BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]


def _shingle_sql() -> str:
    return (
        "list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1), "
        "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])"
    )


def _trigram_structs(col: str = "text"):
    """Token 3-gram array as STRUCTS of the three tokens, the Spark side
    of :func:`_shingle_sql` (r16, same insight as minhash_bands):
    ``arrays_zip`` over three ``slice`` views is an ordinary expression
    (no lambda, stays in whole-stage codegen), where the r15
    string-building ``zip_with`` form paid one interpreted lambda call
    per shingle (Spark evaluates higher-order functions outside codegen).
    The struct (t0, t1, t2) and the string "t0 t1 t2" are in bijection —
    tokens are split on the separator so they can never contain it —
    hence ``array_distinct``/``size``/equality over this array equal the
    same operations over the string form the oracle computes, and
    consumers that need the actual string rebuild it AFTER explode with
    :func:`_trigram_str` (codegen concat on top-level columns). Empty
    under 3 tokens, so explode-consumers see exactly the oracle's
    behavior."""
    toks = _tokens(col)
    n = F.size(toks) - 2
    zipped = F.arrays_zip(
        F.slice(toks, 1, n).alias("t0"),
        F.slice(toks, 2, n).alias("t1"),
        F.slice(toks, 3, n).alias("t2"),
    )
    return F.when(F.size(toks) >= 3, zipped).otherwise(
        F.array().cast("array<struct<t0:string,t1:string,t2:string>>")
    )


def _trigram_str(g):
    """Rebuild the shingle string from an exploded :func:`_trigram_structs`
    element (codegen concat — applies after the explode)."""
    return F.concat(g["t0"], F.lit(" "), g["t1"], F.lit(" "), g["t2"])


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) for every doc: the LSH blocking relation
    shared by ``minhash_lsh_candidates`` and the dedup-cluster query.

    The signature is the classic explode -> groupBy(doc_id) min-agg — and
    that is a deliberate r16 REVERSAL of the r15 map-side higher-order-
    function fold, measured 4.3x faster at sf1 (16.7 -> 3.9 s signature
    stage, same session): Spark evaluates every higher-order function
    (``transform``/``aggregate``/``zip_with``) INTERPRETED, one lambda
    call per array element, so the per-shingle md5s and the 8-way minima
    fold were paying interpreter overhead that dwarfed the hash CPU. The
    exploded formulation keeps every operator in whole-stage codegen:
    ``arrays_zip`` of three ``slice`` views builds the trigram structs
    (ordinary codegen expressions — no lambda), ``explode`` pipelines them
    within the same stage (no materialized |docs| x |shingles| relation),
    the two md5s are codegen'd column expressions, and the 8 minima are a
    hash aggregate. At 100 TB the shuffle stays DOC-sized, not shingle-
    sized: partial_min runs map-side (combine before exchange), so only
    (doc_id, 8 minima) rows cross the wire — the same shuffle footprint
    the fold form had, with none of its interpreter tax. Values are
    bit-identical to the fold form and to the oracle's explode/GROUP BY
    (pinned at sf0.01 during the r16 A/B). Docs with no 3-gram (under 3
    tokens) produce no band rows: explode of the empty zip emits nothing,
    and the size filter documents the intent."""
    toks = _tokens()
    shingle = _trigram_str(F.col("g"))
    sig = (
        docs.filter(F.size(toks) >= 3)
        .select("doc_id", F.explode(_trigram_structs()).alias("g"))
        .select(
            "doc_id",
            F.md5(F.concat(F.lit("0|"), shingle)).alias("m0"),
            F.md5(F.concat(F.lit("1|"), shingle)).alias("m1"),
        )
        .groupBy("doc_id")
        .agg(
            *[F.min(F.substring("m0", 1 + 8 * i, 8)).alias(f"h{i}") for i in range(4)],
            *[
                F.min(F.substring("m1", 1 + 8 * i, 8)).alias(f"h{i + 4}")
                for i in range(4)
            ],
        )
    )
    # one row -> 4 band rows via explode of a 4-struct array, NOT a unionAll
    # of 4 projections: Spark performs no common-subplan elimination across
    # union branches, so the union form re-ran the whole signature stage
    # (per-shingle double-md5 + 8 array_min reductions) once PER BAND —
    # 4x the dominant cost of every band consumer (review r9). The explode
    # evaluates the signature once and fans out 4 tiny structs, the same
    # shape simhash_near_dup uses.
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(F.concat(F.col(f"h{a}"), F.col(f"h{b}"))).alias("band_key"),
                    )
                    for bi, (a, b) in enumerate(_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_bands_sql(source: str = "documents") -> str:
    """DuckDB CTE body equivalent of :func:`minhash_bands` (oracle reuse).
    ``source`` is the relation holding (doc_id, text) — a prior CTE name
    when banding a filtered corpus (corpus_dedup_pipeline's survivors)."""
    sig = (
        f"SELECT doc_id, "
        + ", ".join(f"MIN(substr(sh, {1 + 8 * i}, 8)) AS h{i}" for i in range(_N_HASH))
        + f" FROM (SELECT doc_id, md5('0|' || shingle) || md5('1|' || shingle) AS sh"
        + f" FROM (SELECT doc_id, unnest({_shingle_sql()}) AS shingle FROM {source}))"
        + " GROUP BY doc_id"
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, md5(h{a} || h{b}) AS band_key FROM sig"
        for bi, (a, b) in enumerate(_BANDS)
    )
    return f"sig AS ({sig}), bands AS ({bands})"


@register(
    "minhash_lsh_candidates",
    doc="MinHash-LSH near-dup candidates: md5-chunk minhash signature (k=8 "
    "families = 4x32-bit chunks of two seeded md5s per shingle) over token "
    "3-gram shingles, banded (b=4, r=2), pairs sharing a band. Fully "
    "distributed: map-side signatures -> per-band equi-join.",
    oracle=f"""
WITH {minhash_bands_sql()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band self-join goes through the skew-bounded block decomposition
    (operators.similarity.banded_pairs_skew_bounded): identical pair set to
    a naive self-equi-join — the oracle IS the naive join — but a hot band
    (mass boilerplate) can never create a quadratic single-task straggler."""
    from ..operators.similarity import banded_pairs_skew_bounded

    docs = table(spark, sf_dir, "documents")
    return banded_pairs_skew_bounded(minhash_bands(docs))


@register(
    "multimodal_binary_meta",
    doc="Multimodal plumbing: opaque binary payload column + typed metadata "
    "(byte length, content hash) grouped by source — the schema/partition "
    "pattern for image/audio blobs (decode itself is stubbed in operators.multimodal).",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT md5(text)) AS n_distinct_payloads
FROM documents GROUP BY source
""",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length(payload)).alias("total_bytes"),
        F.countDistinct(F.md5(payload)).alias("n_distinct_payloads"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup (completes the dedup family: exact / Jaccard / MinHash /
# SimHash / embedding-cosine — the last lives in queries.vectors)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits signed 64-bit in both engines
_SIMHASH_BANDS = 4  # 4 bands x 15 bits; candidates share >=1 band
_HAMMING_MAX = 3


@register(
    "simhash_near_dup",
    doc="SimHash near-dup: 60-bit signature (per-bit +/-1 vote over "
    "md5(token) bits, distinct tokens), banded 4x15 bits for candidate "
    "blocking, exact Hamming filter — operators/similarity.py::"
    "simhash_pairs at one signature word. One explode->aggregate builds "
    "all 60 bit sums in a single shuffle; the band self-join is "
    "equi-keyed and skew-bounded.",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
), h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM toks
), bit_sums AS (
  SELECT doc_id, i.i AS bit,
         SUM(CASE WHEN (hv >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (FROM range({_SIMHASH_BITS})) i(i)
  GROUP BY doc_id, i.i
), sig AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
  FROM bit_sums GROUP BY doc_id
), bands AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (15 * b.b)) & 32767 AS band_val
  FROM sig CROSS JOIN (FROM range({_SIMHASH_BANDS})) b(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         a.simhash AS sim_a, c.simhash AS sim_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.band_val = c.band_val AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= {_HAMMING_MAX}
""",
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one 60-bit word is exactly this signature, banding and Hamming filter;
    # the band self-join is skew-bounded (identical pair set to the naive
    # form the oracle uses)
    from ..operators.similarity import simhash_pairs

    pairs = simhash_pairs(
        table(spark, sf_dir, "documents"),
        n_words=1,
        n_bands=_SIMHASH_BANDS,
        hamming_max=_HAMMING_MAX,
    )
    return pairs.select(
        F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"), "hamming"
    )


@register(
    "simhash_wide_pairs",
    doc="Corpus-sized SimHash (production width): 120-bit signature as two "
    "60-bit words (word 0 bit-identical to simhash_near_dup's; word 1 from "
    "md5 hex chars 17-31 of the same token digest), banded 4x30 bits, "
    "exact Hamming <= 3 across both words. A 30-bit band drops random "
    "band collisions between unrelated documents from n^2/2^15 to "
    "n^2/2^30 — measured 8.6x fewer candidates / 3.0x the wall at 500k "
    "docs (SCALING.md r13). Engine side is operators/similarity.py::"
    "simhash_pairs, also pinned by an exact hashlib replay and the "
    "subset contract against the 60-bit catalog form.",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
), h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv0,
         CAST(concat('0x', substr(md5(tok), 17, 15)) AS BIGINT) AS hv1
  FROM toks
), bit_sums AS (
  SELECT doc_id, i.i AS bit,
         SUM(CASE WHEN ((CASE WHEN i.i < {_SIMHASH_BITS} THEN hv0 ELSE hv1 END)
                        >> (i.i % {_SIMHASH_BITS})) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (FROM range({2 * _SIMHASH_BITS})) i(i)
  GROUP BY doc_id, i.i
), sig AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 AND bit < {_SIMHASH_BITS} THEN (1::BIGINT << bit) ELSE 0 END) AS sim0,
         SUM(CASE WHEN s > 0 AND bit >= {_SIMHASH_BITS} THEN (1::BIGINT << (bit - {_SIMHASH_BITS})) ELSE 0 END) AS sim1
  FROM bit_sums GROUP BY doc_id
), bands AS (
  SELECT doc_id, sim0, sim1, b.b AS band,
         ((CASE WHEN b.b < 2 THEN sim0 ELSE sim1 END) >> (30 * (b.b % 2))) & 1073741823 AS band_val
  FROM sig CROSS JOIN (FROM range({_SIMHASH_BANDS})) b(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
         a.sim0 AS a0, a.sim1 AS a1, c.sim0 AS b0, c.sim1 AS b1
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.band_val = c.band_val AND a.doc_id < c.doc_id
)
SELECT doc_id_a, doc_id_b,
       bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS hamming
FROM pairs
WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= {_HAMMING_MAX}
""",
)
def simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import simhash_pairs

    return simhash_pairs(table(spark, sf_dir, "documents"), n_words=2)


#: document-frequency cap for the registered capped-simhash query (the
#: oracle is generated at this value). On the fixture corpus 30 of the 31
#: tokens exceed it, so BOTH branches are driver-exercised: 25 documents
#: carry genuinely capped signatures and 475 route through the
#: every-token-hot fallback (keep the full set).
_SIMHASH_MAX_DF = 0.4


@register(
    "simhash_df_capped",
    doc="SimHash near-dup with the document-frequency cap (r15; operators/"
    "similarity.py::simhash_pairs(max_df_frac)): tokens in more than "
    f"{_SIMHASH_MAX_DF:.0%} of documents are dropped before voting — the "
    "standard near-dup mitigation for stopword-dominated corpora, where "
    "ubiquitous tokens vote identically everywhere and compress different "
    "documents into colliding signatures (measured quadratic -> linear, "
    "SCALING.md r15) — with the recall-safe per-document fallback: a "
    "document whose EVERY token is above the cap keeps its full set, so "
    "the cap can shrink a signature but never erase a doc from the "
    "candidate relation. The fixture corpus exercises both branches "
    "(30/31 tokens hot: 25 docs capped, 475 through the fallback). "
    "Signature, banding and Hamming filter are otherwise simhash_near_dup "
    "(60-bit word 0).",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
), nd AS (
  SELECT COUNT(*) AS n FROM documents
), hot AS (
  SELECT tok FROM toks GROUP BY tok
  HAVING COUNT(*) > {_SIMHASH_MAX_DF} * (SELECT n FROM nd)
), flagged AS (
  SELECT t.doc_id, t.tok, t.tok IN (SELECT tok FROM hot) AS is_hot FROM toks t
), cold AS (
  SELECT doc_id, SUM(CASE WHEN is_hot THEN 0 ELSE 1 END) AS n_cold
  FROM flagged GROUP BY doc_id
), kept AS (
  SELECT f.doc_id, f.tok
  FROM flagged f JOIN cold c USING (doc_id)
  WHERE NOT f.is_hot OR c.n_cold = 0
), h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM kept
), bit_sums AS (
  SELECT doc_id, i.i AS bit,
         SUM(CASE WHEN (hv >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (FROM range({_SIMHASH_BITS})) i(i)
  GROUP BY doc_id, i.i
), sig AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
  FROM bit_sums GROUP BY doc_id
), bands AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (15 * b.b)) & 32767 AS band_val
  FROM sig CROSS JOIN (FROM range({_SIMHASH_BANDS})) b(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
         a.simhash AS sim_a, c.simhash AS sim_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.band_val = c.band_val AND a.doc_id < c.doc_id
)
SELECT doc_id_a, doc_id_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= {_HAMMING_MAX}
""",
)
def simhash_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import simhash_pairs

    return simhash_pairs(
        table(spark, sf_dir, "documents"), n_words=1, max_df_frac=_SIMHASH_MAX_DF
    )


@register(
    "repetition_filter_stats",
    doc="Gopher-style repetition quality gate per document: distinct-token "
    "fraction and duplicate-3-gram fraction, plus the keep/drop verdict. "
    "Pure per-row array expressions — map-side only, no shuffle, so the "
    "filter streams over 100 TB at scan speed.",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS distinct_token_frac,
       CASE WHEN len({_shingle_sql()}) > 0
            THEN 1.0 - CAST(len(list_distinct({_shingle_sql()})) AS DOUBLE)
                         / len({_shingle_sql()})
            ELSE 0.0 END AS dup_3gram_frac,
       (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) >= 0.2)
       AND (CASE WHEN len({_shingle_sql()}) > 0
            THEN 1.0 - CAST(len(list_distinct({_shingle_sql()})) AS DOUBLE)
                         / len({_shingle_sql()})
            ELSE 0.0 END <= 0.9) AS keep
FROM documents
""",
)
def repetition_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters from the Gopher/MassiveText rules (Rae et al.'21
    §A1.1): documents dominated by repeated tokens or repeated n-grams are
    boilerplate/spam and hurt training. Thresholds here (distinct-token
    frac >= 0.2, dup-3-gram frac <= 0.9) are tuned to the synthetic
    fixture's high natural repetition; real corpora use stricter ones."""
    docs = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    distinct_frac = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    # struct-zip trigrams (r16): only sizes are consumed here, and
    # size/array_distinct over the struct form equal the string form's
    # (bijection — see _trigram_structs), with no per-shingle lambda.
    shingles = _trigram_structs()
    dup_3gram_frac = F.when(
        F.size(shingles) > 0,
        F.lit(1.0) - F.size(F.array_distinct(shingles)).cast("double") / F.size(shingles),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        distinct_frac.alias("distinct_token_frac"),
        dup_3gram_frac.alias("dup_3gram_frac"),
        ((distinct_frac >= 0.2) & (dup_3gram_frac <= 0.9)).alias("keep"),
    )


@register(
    "benchmark_contamination",
    doc="Test-set decontamination: 3-gram shingle overlap between the train "
    "split and a held-out benchmark split (doc_id % 97 == 0), reported as "
    "shared-shingle counts per (train, test) pair with >= 3 shared. A "
    "shingle equi-join — never an all-pairs scan. The join is left to "
    "AQE: a real eval set is tiny and gets runtime-broadcast, while this "
    "fixture's %-97 split (1/97 of ALL corpus shingles — NOT broadcastable "
    "at 100 TB) exercises the shuffle path.",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_shingle_sql()})) AS shingle
  FROM documents
)
SELECT t.doc_id AS train_doc_id, b.doc_id AS test_doc_id, COUNT(*) AS n_shared
FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) t
JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b ON t.shingle = b.shingle
GROUP BY 1, 2
HAVING COUNT(*) >= 3
""",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard decontamination shape (GPT-3 appx C / PaLM: n-gram
    collision against evaluation sets): explode each side to DISTINCT
    shingles, equi-join on the shingle, count collisions per doc pair.
    Ultra-common shingles (stopword runs) can skew the join at corpus
    scale; the mitigation is a document-frequency cap on the benchmark
    side before joining, which this fixture's 1/97 split doesn't need.
    No forced broadcast (review r10): the benchmark side is defined as a
    fixed FRACTION of the corpus, so F.broadcast would ship ~1 TB at the
    advertised scale and OOM — AQE picks broadcast at runtime whenever
    the side is genuinely small, which is strictly safer than pinning."""
    docs = table(spark, sf_dir, "documents")
    # struct-zip trigrams (r16): the join key can be the (t0,t1,t2) struct
    # itself — struct equality IS string equality under the bijection —
    # so the shingle string is never built at all and the whole explode
    # side stays in codegen with no per-shingle lambda.
    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(_trigram_structs())).alias("shingle")
    )
    train = sh.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "shingle"
    )
    test = sh.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("test_doc_id"), "shingle"
    )
    return (
        train.join(test, "shingle")
        .groupBy("train_doc_id", "test_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


@register(
    "doc_chunking",
    doc="Token-window chunking with overlap (operators.chunking): each doc "
    "explodes into 32-token windows at stride 24, the context-window prep "
    "stage of a training pipeline. Pure scan+explode — no shuffle, no UDF; "
    "chunk text is md5'd so the checked result stays narrow.",
    oracle=r"""
WITH t AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
    FROM documents
  ) WHERE len(toks) > 0
), s AS (
  SELECT doc_id, toks,
         unnest(range(0, CASE WHEN len(toks) > 32 THEN len(toks) - 32 + 24 ELSE 1 END, 24)) AS start
  FROM t
)
SELECT doc_id,
       CAST(start / 24 AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, start + 1, least(start + 32, len(toks)))) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(toks, start + 1, least(start + 32, len(toks))), ' ')) AS chunk_hash
FROM s
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_by_tokens

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_by_tokens(docs, chunk_size=32, stride=24)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_hash"),
    )


@register(
    "content_defined_chunking",
    doc="Content-defined chunking (rsync/Gear family at token granularity): "
    "a chunk ends after any token whose md5 bucket % 16 == 0, so an edit "
    "shifts only the chunk it lands in and every later chunk keeps its "
    "exact hash — the dedup-stable alternative to fixed-width windows "
    "(doc_chunking re-aligns everything after an insertion). Map-side "
    "only: boundary flags, span assembly and slicing are linear array "
    "kernels; no shuffle, no window, no per-index element_at.",
    oracle=r"""
WITH t AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
    FROM documents
  ) WHERE len(toks) > 0
), m AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_filter(range(1, len(toks)),
           i -> CAST(concat('0x', substr(md5(toks[i]), 1, 8)) AS BIGINT) % 16 = 0
         ) AS bpos
  FROM t
), sp AS (
  SELECT doc_id, toks,
         list_prepend(CAST(1 AS BIGINT), list_transform(bpos, i -> i + 1)) AS starts,
         list_append(bpos, n) AS ends
  FROM m
), e AS (
  SELECT doc_id, toks, starts, ends, unnest(range(1, len(starts) + 1)) AS k
  FROM sp
)
SELECT doc_id,
       CAST(k - 1 AS BIGINT) AS chunk_idx,
       CAST(ends[k] - starts[k] + 1 AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(toks, starts[k], ends[k]), ' ')) AS chunk_hash
FROM e
""",
)
def content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC chunk rows over ``documents`` (operators.chunking.
    chunk_content_defined, divisor 16 ~= 16-token expected chunks).

    Extension beyond the reference (its ingestion is row-shaped CSV; no
    document chunking surface). The md5-bucket boundary rule is the
    package's standard cross-engine hash idiom (same as the samplers), so
    chunk membership — and therefore every chunk hash — is bit-identical
    on both engines; the oracle replays spans via interior boundary
    positions exactly as the operator assembles them."""
    from ..operators.chunking import chunk_content_defined

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_content_defined(docs, divisor=16)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_hash"),
    )


#: shared chunking CTE for the packing oracle (identical token windows to
#: doc_chunking, with source carried through for the pack grouping)
_CHUNK_CTE = r"""
WITH t AS (
  SELECT doc_id, source, toks FROM (
    SELECT doc_id, source,
           list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
    FROM documents
  ) WHERE len(toks) > 0
), s AS (
  SELECT doc_id, source, toks,
         unnest(range(0, CASE WHEN len(toks) > 32 THEN len(toks) - 32 + 24 ELSE 1 END, 24)) AS start
  FROM t
), chunks AS (
  SELECT doc_id, source,
         CAST(start / 24 AS BIGINT) AS chunk_idx,
         CAST(len(list_slice(toks, start + 1, least(start + 32, len(toks)))) AS BIGINT) AS n_tokens
  FROM s
)
"""


@register(
    "sequence_packing",
    doc="Fixed-token-budget sequence packing (operators.chunking."
    "pack_token_budget): chunks are laid out per source in (doc_id, "
    "chunk_idx) order and assigned pack_id = floor(tokens_before/256) — "
    "streaming boundary packing, one window shuffle, grouped by source so "
    "window partitions stay bounded at scale. Checked as per-pack "
    "chunk/token totals.",
    oracle=_CHUNK_CTE
    + """
, packed AS (
  SELECT source, n_tokens,
         CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
                     ROWS UNBOUNDED PRECEDING) - n_tokens) / 256.0) AS BIGINT) AS pack_id
  FROM chunks
)
SELECT source, pack_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM packed
GROUP BY source, pack_id
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_by_tokens, pack_token_budget

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_by_tokens(docs, id_cols=("doc_id", "source"), chunk_size=32, stride=24)
    packed = pack_token_budget(chunks, budget=256, group_cols=("source",))
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
    )


@register(
    "length_percentile_gate",
    doc="Per-language length-percentile gate: drop the shortest 10% of "
    "documents within each language (percent_rank window over exact token "
    "counts — the dynamic-threshold form of a min-length filter; a fixed "
    "cutoff would over-prune terse languages and under-prune verbose ones).",
    oracle=r"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE length(trim(text)) > 0
), r AS (
  SELECT doc_id, lang, n_tokens,
         percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens) AS pr
  FROM t
)
SELECT doc_id, lang, n_tokens
FROM r
WHERE pr >= 0.10
""",
)
def length_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), WS_RE)).cast("long").alias("n_tokens"),
    )
    pr = F.percent_rank().over(Window.partitionBy("lang").orderBy("n_tokens"))
    return (
        base.withColumn("__pr", pr)
        .filter(F.col("__pr") >= 0.10)
        .select("doc_id", "lang", "n_tokens")
    )


@register(
    "token_vocabulary",
    doc="Vocabulary construction: top-50 tokens by corpus frequency with "
    "document frequency — the counting stage of tokenizer training / "
    "stopword discovery. Explode -> two-phase hash aggregate (partial "
    "map-side combine) -> TakeOrderedAndProject; ties broken by token so "
    "the cut is deterministic.",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS token
  FROM documents
  WHERE length(trim(text)) > 0
)
SELECT token,
       COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM tok
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 50
""",
)
def token_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = _ws_tokens(docs, "doc_id")
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(50)
    )


@register(
    "bpe_pair_stats",
    doc="BPE tokenizer-training statistic: corpus frequency of every "
    "adjacent character pair, weighted by word frequency — the count that "
    "selects each merge in byte-pair-encoding training (Sennrich et al. "
    "2016). The ONLY corpus-sized shuffle is the word-frequency groupBy "
    "(map-side combinable, vocabulary-sized output); pair explosion and "
    "the pair aggregate run on the vocabulary relation, so 100x corpus "
    "growth with a stable vocabulary adds zero pair-stage work. Top-50 "
    "pairs by (count DESC, pair) via TakeOrderedAndProject.",
    oracle=r"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents
  WHERE length(trim(text)) > 0
), wf AS (
  SELECT w, COUNT(*) AS freq FROM tok GROUP BY w
), p AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
  FROM wf, LATERAL (SELECT unnest(range(1, length(w))) AS i)
  WHERE length(w) > 1
)
SELECT pair,
       CAST(SUM(freq) AS BIGINT) AS pair_count,
       CAST(COUNT(*) AS BIGINT) AS n_word_positions
FROM p
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 50
""",
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair counts for one BPE merge-selection step.

    Extension beyond the reference (no tokenizer surface there). Every
    adjacent position counts once per word occurrence ('aaa' contributes
    two 'aa' positions per occurrence), exactly the textbook merge
    statistic. Pairs come from per-position ``substr(w, i, 2)`` — shared
    codepoint semantics on both engines — rather than a char-split, and
    the inner sequence is guarded with ``when(length > 1, ...)`` because
    ``sequence(1, 0)`` descends instead of returning empty (the same trap
    the span-dedup kernel documents). All counts exact integers; the
    HUGEINT SUM is cast BIGINT per the r5 oracle lesson."""
    docs = table(spark, sf_dir, "documents")
    tok = _ws_tokens(docs, alias="w")
    wf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    n = F.length("w")
    pairs = F.when(
        n > 1,
        F.transform(
            F.sequence(F.lit(1), n - 1), lambda i: F.col("w").substr(i, F.lit(2))
        ),
    )  # otherwise NULL: explode drops single-char words, like the oracle's WHERE
    return (
        wf.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(
            F.sum("freq").cast("long").alias("pair_count"),
            F.count(F.lit(1)).alias("n_word_positions"),
        )
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(50)
    )


#: rounds in the registered BPE-training query (the oracle is unrolled at
#: this value; the operator itself takes any k)
N_BPE_MERGES = 6


def _bpe_oracle_body(k: int) -> str:
    """The shared WITH-chain of the two BPE oracles: k unrolled merge
    rounds ending at the positional relation ``s{k+1}``.

    Each round: exact pair counts over the positional vocabulary relation,
    argmax by (count DESC, left, right), then greedy left-to-right merge
    application as a run-parity selection — overlapping candidate
    positions arise only when left == right, and keeping the even offsets
    of each consecutive run is exactly the non-overlapping scan the Spark
    fold performs (see operators/bpe.py module docstring for the
    equivalence argument). Every chained CTE is MATERIALIZED: DuckDB
    inlines CTEs by default, and each round references the prior relation
    three times, so an inlined chain re-expands the base scan ~3^k times
    (observed as a too-many-open-files explosion at k=6).

    Returned as its own piece so the train and encode oracles compose it
    with their final SELECTs directly — the encode oracle previously
    recovered it by string-slicing the full train SQL at a sentinel
    substring, which silently mis-slices if the union header wording ever
    changes (advice r10)."""
    parts = [
        r"""WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents
  WHERE length(trim(text)) > 0
), wf AS (
  SELECT w, COUNT(*) AS freq FROM tok GROUP BY w
), s1 AS MATERIALIZED (
  SELECT w, freq, CAST(i AS BIGINT) AS pos, substr(w, CAST(i AS INT), 1) AS sym
  FROM wf, UNNEST(range(1, length(w) + 1)) u(i)
)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""", p{r} AS MATERIALIZED (
  SELECT a.sym AS ls, b.sym AS rs,
         CAST(SUM(a.freq) AS BIGINT) AS pair_count,
         CAST(COUNT(*) AS BIGINT) AS n_word_positions
  FROM s{r} a JOIN s{r} b ON a.w = b.w AND b.pos = a.pos + 1
  GROUP BY 1, 2
), best{r} AS MATERIALIZED (
  SELECT {r} AS merge_idx, ls, rs, ls || rs AS merged_sym, pair_count, n_word_positions
  FROM p{r} ORDER BY pair_count DESC, ls, rs LIMIT 1
), cand{r} AS MATERIALIZED (
  SELECT a.w, a.pos
  FROM s{r} a JOIN s{r} b ON a.w = b.w AND b.pos = a.pos + 1
  CROSS JOIN best{r}
  WHERE a.sym = best{r}.ls AND b.sym = best{r}.rs
), sel{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos, pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS grp
    FROM cand{r}
  ) t QUALIFY (pos - MIN(pos) OVER (PARTITION BY w, grp)) % 2 = 0
), s{r + 1} AS MATERIALIZED (
  SELECT m.w, m.freq,
         ROW_NUMBER() OVER (PARTITION BY m.w ORDER BY m.pos) AS pos,
         CASE WHEN here.pos IS NOT NULL THEN (SELECT merged_sym FROM best{r})
              ELSE m.sym END AS sym
  FROM s{r} m
  LEFT JOIN sel{r} here ON m.w = here.w AND m.pos = here.pos
  LEFT JOIN sel{r} prev ON m.w = prev.w AND m.pos = prev.pos + 1
  WHERE prev.pos IS NULL
)"""
        )
    return "".join(parts)


def _bpe_train_oracle(k: int = N_BPE_MERGES) -> str:
    """The k selected merges, one row per round, in merge order."""
    union = "\nUNION ALL\n".join(
        f"SELECT merge_idx, ls AS left_sym, rs AS right_sym, merged_sym, pair_count, n_word_positions FROM best{r}"
        for r in range(1, k + 1)
    )
    return f"{_bpe_oracle_body(k)}\n{union}\nORDER BY merge_idx"


def _bpe_encode_oracle(k: int = N_BPE_MERGES) -> str:
    """Token stats over the BPE-ENCODED corpus: the same k-round replay as
    :func:`_bpe_train_oracle`, but the answer is the final positional
    relation s{k+1} aggregated to subword frequencies (each distinct
    word's positions weighted by its corpus frequency)."""
    return f"""{_bpe_oracle_body(k)}
SELECT sym AS token,
       CAST(SUM(freq) AS BIGINT) AS n_occurrences,
       CAST(COUNT(*) AS BIGINT) AS n_vocab_positions
FROM s{k + 1}
GROUP BY sym
ORDER BY n_occurrences DESC, token
LIMIT 50
"""


def _bigram_lm_oracle(k: int = N_BPE_MERGES) -> str:
    """Bigram-LM quality gate over the BPE-encoded corpus: the same
    k-round replay ending at the positional relation s{k+1}, extended
    with (a) per-word adjacent subword pairs, (b) the corpus bigram LM
    (pair counts weighted by word frequency), (c) per-document exact
    mean bigram likelihood with add-one smoothing (the
    unigram_likelihood_quality rational form — no ln(), engine-exact),
    and (d) a per-language bottom-10% percent_rank gate (the
    length_percentile_gate form)."""
    s = f"s{k + 1}"
    return rf"""{_bpe_oracle_body(k)}, wp AS MATERIALIZED (
  SELECT a.w, a.freq, a.sym AS ls, b.sym AS rs, CAST(COUNT(*) AS BIGINT) AS np
  FROM {s} a JOIN {s} b ON a.w = b.w AND b.pos = a.pos + 1
  GROUP BY 1, 2, 3, 4
), lm AS MATERIALIZED (
  SELECT ls, rs, CAST(SUM(freq * np) AS BIGINT) AS ct
  FROM wp GROUP BY 1, 2
), g AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS v FROM lm
), dtok AS (
  SELECT doc_id, lang, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w
  FROM documents WHERE length(trim(text)) > 0
), wtf AS (
  SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS tf FROM dtok GROUP BY 1, 2, 3
), dstat AS (
  SELECT wtf.doc_id, wtf.lang,
         CAST(SUM(wtf.tf * wp.np) AS BIGINT) AS n_bigrams,
         CAST(SUM(wtf.tf * wp.np * (lm.ct + 1)) AS BIGINT) AS likelihood_numer
  FROM wtf JOIN wp ON wtf.w = wp.w
  JOIN lm ON wp.ls = lm.ls AND wp.rs = lm.rs
  GROUP BY 1, 2
), scored AS (
  SELECT doc_id, lang, n_bigrams, likelihood_numer,
         CAST(likelihood_numer AS DOUBLE)
           / (CAST(n_bigrams AS DOUBLE) * CAST(g.total + g.v AS DOUBLE)) AS mean_bigram_likelihood
  FROM dstat CROSS JOIN g
)
SELECT doc_id, lang, n_bigrams, likelihood_numer, mean_bigram_likelihood
FROM (
  SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY mean_bigram_likelihood) AS pr
  FROM scored
) WHERE pr >= 0.10
"""


@register(
    "bigram_lm_quality_gate",
    doc=f"LM-quality capstone: train {N_BPE_MERGES} BPE merges, encode the "
    "corpus vocabulary, build a corpus BIGRAM LM over adjacent subword "
    "tokens (pair counts weighted by word frequency — the bpe_pair_stats "
    "kernel one level up), score every document with its EXACT mean "
    "bigram likelihood under add-one smoothing (integer numerator, one "
    "final double division — the unigram_likelihood_quality rational "
    "form; the log-prob/perplexity form would need ln(), which is not "
    "bit-identical across engines but is a monotone transform of this "
    "score, so the gate admits the same documents), and drop the "
    "bottom 10% per language by percent_rank (the length_percentile_gate "
    "dynamic-threshold form). Scale: the only corpus-sized operations "
    "are the word-count shuffle and the per-doc word-tf shuffle; the "
    "pair/LM relations are vocabulary-sized and broadcast; the gate "
    "window is partitioned by language. Domain: documents with at least "
    "one subword bigram — a doc whose every word encodes to a single "
    "symbol has no bigram evidence to rank and is excluded (identically "
    "on both engines and in the exact-model test) rather than given a "
    "fabricated score. The BIGINT numerator matches the unigram "
    "precedent; a true 100 TB corpus moves the sum to decimal(38,0) "
    "with floor-split conversion.",
    oracle=_bigram_lm_oracle(),
)
def bigram_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.bpe import (
        _adjacent_pairs,
        encode_vocab,
        initial_vocab,
        train_bpe_merges,
    )

    docs = table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, N_BPE_MERGES)
    encoded = encode_vocab(initial_vocab(docs), merges)
    # per-word adjacent subword pairs — vocabulary-sized; pinned because
    # both the LM aggregate and the per-doc join consume it (Spark has no
    # common-subplan elimination across consumers). The word string is
    # recovered as the symbol concatenation (merges only ever concatenate).
    wp = (
        encoded.select(
            F.array_join("syms", "").alias("w"),
            "freq",
            F.explode(_adjacent_pairs(F.col("syms"))).alias("p"),
        )
        .groupBy("w", "freq", F.col("p.ls").alias("ls"), F.col("p.rs").alias("rs"))
        .agg(F.count(F.lit(1)).alias("np"))
        .localCheckpoint(eager=True)
    )
    lm = wp.groupBy("ls", "rs").agg(
        F.sum(F.col("freq") * F.col("np")).cast("long").alias("ct")
    )
    g = lm.agg(F.sum("ct").cast("long").alias("total"), F.count(F.lit(1)).alias("v"))
    wpl = wp.join(lm, ["ls", "rs"]).select("w", "np", "ct")
    wtf = (
        _ws_tokens(docs, "doc_id", "lang", alias="w")
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # wpl is word-vocabulary-sized, but real web-corpus word vocabularies
    # grow without bound (typos, URLs) — no forced broadcast: AQE picks
    # broadcast while the relation fits the threshold and degrades to a
    # shuffled join instead of a driver OOM when it doesn't (r12, per the
    # r11 verdict)
    scored = (
        wtf.join(wpl, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("tf") * F.col("np")).cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("np") * (F.col("ct") + F.lit(1)))
            .cast("long")
            .alias("likelihood_numer"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "likelihood_numer",
            (
                F.col("likelihood_numer").cast("double")
                / (
                    F.col("n_bigrams").cast("double")
                    * (F.col("total") + F.col("v")).cast("double")
                )
            ).alias("mean_bigram_likelihood"),
        )
    )
    pr = F.percent_rank().over(
        Window.partitionBy("lang").orderBy("mean_bigram_likelihood")
    )
    return scored.withColumn("__pr", pr).filter(F.col("__pr") >= 0.10).drop("__pr")


@register(
    "bpe_encode_token_stats",
    doc=f"BPE tokenizer APPLICATION: train {N_BPE_MERGES} merges "
    "(operators.bpe.train_bpe_merges), then encode the corpus vocabulary "
    "with them (operators.bpe.encode_vocab — k chained map-side array "
    "folds, zero shuffles) and report the top-50 subword tokens by "
    "frequency-weighted occurrence — the end-to-end train+apply loop a "
    "tokenizer pipeline runs. Oracle: the same k rounds unrolled, "
    "aggregating the final positional relation.",
    oracle=_bpe_encode_oracle(),
)
def bpe_encode_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import encode_vocab, initial_vocab, train_bpe_merges

    docs = table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, N_BPE_MERGES)
    encoded = encode_vocab(initial_vocab(docs), merges)
    return (
        encoded.select(F.explode("syms").alias("token"), "freq")
        .groupBy("token")
        .agg(
            F.sum("freq").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_vocab_positions"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(50)
    )


@register(
    "bpe_train_merges",
    doc=f"BPE tokenizer TRAINING (operators.bpe.train_bpe_merges): "
    f"{N_BPE_MERGES} rounds of exact pair counting + greedy left-to-right "
    "merge application over the word vocabulary — the ordered merge table "
    "that IS a trained byte-pair-encoding tokenizer (Sennrich et al. "
    "2016), completing what bpe_pair_stats starts. The only corpus-sized "
    "work is the word-count shuffle; every round is vocabulary-sized "
    "(one pair aggregate + a map-side array fold) with a driver-bounded "
    "1-row collect, so 100x corpus growth with a stable vocabulary adds "
    "zero per-round cost. Oracle: the same k rounds unrolled into "
    "chained CTEs with a run-parity window reproducing the greedy scan.",
    oracle=_bpe_train_oracle(),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_merge_table

    docs = table(spark, sf_dir, "documents")
    return bpe_merge_table(spark, docs, N_BPE_MERGES)


@register(
    "boilerplate_scrub",
    doc="Corpus-level boilerplate removal (operators.chunking."
    "scrub_boilerplate_segments): token segments appearing in more than 5 "
    "distinct documents are removed everywhere and documents reassembled "
    "in order — the RefinedWeb/CCNet repeated-line dedup re-expressed over "
    "token segments. Hot-segment set is usually small (bounded by "
    "total_segments/K) but not guaranteed so — AQE picks the anti-join "
    "strategy at runtime (r11: forced broadcast dropped); checked per-doc "
    "via the md5 of the reassembled text.",
    oracle=r"""
WITH t AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
    FROM documents
  ) WHERE len(toks) > 0
), segs AS (
  SELECT doc_id,
         CAST(start / 2 AS BIGINT) AS chunk_idx,
         array_to_string(list_slice(toks, start + 1, least(start + 2, len(toks))), ' ') AS chunk_text
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 2)) AS start FROM t)
), hot AS (
  SELECT chunk_text FROM segs GROUP BY chunk_text HAVING COUNT(DISTINCT doc_id) > 5
), kept AS (
  SELECT * FROM segs WHERE chunk_text NOT IN (SELECT chunk_text FROM hot)
), reass AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments FROM segs GROUP BY doc_id
)
SELECT totals.doc_id,
       n_segments,
       CAST(n_segments - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(clean_text, '')) AS clean_md5
FROM totals LEFT JOIN reass ON totals.doc_id IS NOT DISTINCT FROM reass.doc_id
""",
)
def boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import scrub_boilerplate_segments

    docs = table(spark, sf_dir, "documents")
    out = scrub_boilerplate_segments(docs, segment_tokens=2, max_doc_freq=5)
    return out.select(
        "doc_id",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.md5("clean_text").alias("clean_md5"),
    )


@register(
    "characteristic_terms",
    doc="TF-IDF-style keyword extraction with exact arithmetic: per document, "
    "the top-3 tokens ranked by (term frequency DESC, corpus document "
    "frequency ASC, token) — high-tf/low-df terms are the characteristic "
    "ones, and the integer ordering avoids float log() whose last-bit "
    "behavior differs across engines. The doc-frequency relation is "
    "vocabulary-sized, so it broadcasts into the per-doc join.",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS token
  FROM documents
  WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY token
), ranked AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                 ORDER BY tf.tf DESC, df.df ASC, tf.token) AS BIGINT) AS rank
  FROM tf JOIN df USING (token)
)
SELECT doc_id, rank, token, tf, df
FROM ranked
WHERE rank <= 3
""",
)
def characteristic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = _ws_tokens(docs, "doc_id")
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # df_rel is token-vocabulary-sized; broadcast is the right runtime
    # strategy while it fits, but the decision is left to AQE's measured
    # size rather than forced — an unbounded vocabulary must degrade to a
    # shuffled join, not a driver OOM (r12, per the r11 verdict)
    ranked = tf.join(df_rel, "token").withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.col("tf").desc(), F.col("df").asc(), F.col("token")
            )
        )
        .cast("long"),
    )
    return ranked.filter(F.col("rank") <= 3).select("doc_id", "rank", "token", "tf", "df")


@register(
    "incremental_near_dup",
    doc="Incremental dedup at ingest: a small new batch (doc_id % 7 == 0 "
    "here; the day's landing in production) is LSH-banded and joined "
    "against the banded index of the existing corpus — the batch side is "
    "broadcast, so checking N new docs against a 100 TB index costs one "
    "scan of the index bands and no self-join at all. Candidates = "
    "(new doc, existing doc) sharing any band.",
    oracle=f"""
WITH {minhash_bands_sql()}
SELECT DISTINCT b.doc_id AS new_doc_id, a.doc_id AS index_doc_id
FROM bands a
JOIN (SELECT * FROM bands WHERE doc_id % 7 = 0) b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
""",
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # materialize the banding relation ONCE: the broadcast build side and
    # the probe scan would otherwise each re-execute the full shingle+md5
    # signature stage (review r9 — the trap banded_pairs_skew_bounded
    # documents). In production the corpus index side is a precomputed
    # table; the checkpoint stands in for that here.
    bands = minhash_bands(docs).localCheckpoint(eager=True)
    batch = bands.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("new_doc_id"), "band", "band_key"
    )
    index = bands.select(F.col("doc_id").alias("index_doc_id"), "band", "band_key")
    return (
        index.join(F.broadcast(batch), ["band", "band_key"])
        .filter(F.col("index_doc_id") != F.col("new_doc_id"))
        .select("new_doc_id", "index_doc_id")
        .distinct()
    )


# Both blocking keys are functions of the OBSERVED (possibly corrupted)
# value — never of the clean source the corruption was derived from, which
# would make blocking recall 100% by construction and dodge the hard part
# of linkage. block1 = last-3 chars as observed; block2 = those same chars
# SORTED (median-of-3 via least/greatest — identical expression in both
# engines), a transposition-invariant redundant key. The mod-2 corruption
# transposes the final two characters, which DAMAGES block1; the union of
# the two blocking passes restores the candidate, the standard
# multi-pass-blocking design (Fellegi-Sunter practice; reference semantics
# src/utils/db_connector.py name-matching).
_RL_DIRTY_SQL = """CASE WHEN c_custkey % 4 = 0 THEN replace(c_name, 'Customer', 'Custmer')
              WHEN c_custkey % 4 = 1 THEN replace(c_name, '#', '-')
              WHEN c_custkey % 4 = 2 THEN concat(substr(c_name, 1, length(c_name) - 2),
                                                 substr(c_name, length(c_name), 1),
                                                 substr(c_name, length(c_name) - 1, 1))
              ELSE c_name END"""


def _rl_block_exprs(name: str) -> tuple[str, str]:
    """(block1, block2) SQL expressions over an observed-name expression —
    identical text feeds both engines."""
    last3 = f"substr({name}, length({name}) - 2, 3)"
    c = [f"substr({last3}, {i}, 1)" for i in (1, 2, 3)]
    mid = (
        f"least(greatest({c[0]}, {c[1]}), greatest({c[1]}, {c[2]}), "
        f"greatest({c[0]}, {c[2]}))"
    )
    block2 = (
        f"concat(least({c[0]}, {c[1]}, {c[2]}), {mid}, "
        f"greatest({c[0]}, {c[1]}, {c[2]}))"
    )
    return last3, block2


def _rl_blocks_sql(name: str) -> str:
    b1, b2 = _rl_block_exprs(name)
    return f"{b1} AS block1, {b2} AS block2"


@register(
    "record_linkage_fuzzy",
    doc="Record linkage (multi-pass blocked fuzzy best-match): a "
    "deterministically corrupted copy of the customer feed (prefix typo / "
    "symbol swap / suffix transposition by key mod 4) is matched back to "
    "the master. Blocking keys are computed from the OBSERVED dirty value "
    "— block1 = last-3 chars, block2 = the same chars sorted "
    "(transposition-invariant) — and the mod-2 corruption damages block1, "
    "so the union of the two blocking passes is what carries recall, not "
    "a key the corruption can't touch. Candidates are scored with "
    "Levenshtein; each dirty record keeps its best match (ROW_NUMBER over "
    "(dist, master key) — deterministic argmin). Blocking bounds the "
    "candidate set (never all-pairs); at 100 TB the block keys' "
    "selectivity bounds block size — monitor with key_skew_profile, split "
    "hot blocks like the LSH grid join.",
    oracle=f"""
WITH a AS (
  SELECT c_custkey AS master_key, c_name AS master_name, {_rl_blocks_sql('c_name')}
  FROM customer
), b AS (
  SELECT dirty_key, dirty_name, {_rl_blocks_sql('dirty_name')}
  FROM (SELECT c_custkey AS dirty_key, {_RL_DIRTY_SQL} AS dirty_name FROM customer)
), cand AS (
  SELECT b.dirty_key, b.dirty_name, a.master_key, a.master_name
  FROM b JOIN a ON b.block1 = a.block1
  UNION
  SELECT b.dirty_key, b.dirty_name, a.master_key, a.master_name
  FROM b JOIN a ON b.block2 = a.block2
), scored AS (
  SELECT dirty_key, master_key,
         levenshtein(dirty_name, master_name) AS dist,
         ROW_NUMBER() OVER (PARTITION BY dirty_key ORDER BY levenshtein(dirty_name, master_name), master_key) AS rn
  FROM cand
)
SELECT dirty_key, master_key, dist
FROM scored WHERE rn = 1
""",
)
def record_linkage_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    a_b1, a_b2 = _rl_block_exprs("c_name")
    a = cust.selectExpr(
        "c_custkey AS master_key",
        "c_name AS master_name",
        f"{a_b1} AS block1",
        f"{a_b2} AS block2",
    )
    d_b1, d_b2 = _rl_block_exprs("dirty_name")
    b = cust.selectExpr(
        "c_custkey AS dirty_key", f"{_RL_DIRTY_SQL} AS dirty_name"
    ).selectExpr(
        "dirty_key", "dirty_name", f"{d_b1} AS block1", f"{d_b2} AS block2"
    )
    from ..dedup import dedup_keyed

    cols = ["dirty_key", "dirty_name", "master_key", "master_name"]
    cand = (
        b.join(a, "block1").select(*cols)
        .union(b.join(a, "block2").select(*cols))
        .distinct()
    )
    scored = cand.select(
        "dirty_key",
        "master_key",
        F.levenshtein("dirty_name", "master_name").alias("dist"),
    )
    return dedup_keyed(scored, ["dirty_key"], ["dist", "master_key"])


@register(
    "dedup_keep_best_quality",
    doc="First-pass dedup with a QUALITY-ranked keep rule: cluster "
    "documents on a cheap md5 prefix fingerprint (lang | 32-char prefix "
    "— the shared-boilerplate-head key), then keep the highest-quality "
    "copy per cluster "
    "(composite quality score, doc_id tiebreak) instead of the lowest id — "
    "the production near-dup rule (keep the best-rendered copy of a page, "
    "not the first-crawled one). Emits the DROP list: every losing copy "
    "with its cluster's kept doc and both quality scores. One shuffle on "
    "the fingerprint; quality is a map-side expression.",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         {fingerprint_sql(32)} AS fingerprint,
         {quality_sql()} AS quality
  FROM documents
), ranked AS (
  SELECT doc_id, fingerprint, quality,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY quality DESC, doc_id) AS rn,
         FIRST_VALUE(doc_id) OVER (PARTITION BY fingerprint ORDER BY quality DESC, doc_id) AS kept_id,
         FIRST_VALUE(quality) OVER (PARTITION BY fingerprint ORDER BY quality DESC, doc_id) AS kept_quality
  FROM scored
)
SELECT doc_id, fingerprint, kept_id, quality, kept_quality
FROM ranked WHERE rn > 1
""",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    quality = quality_expr()
    scored = docs.select(
        "doc_id", fingerprint_expr(32).alias("fingerprint"), quality.alias("quality")
    )
    w = Window.partitionBy("fingerprint").orderBy(F.col("quality").desc(), "doc_id")
    return (
        scored.select(
            "doc_id",
            "fingerprint",
            "quality",
            F.row_number().over(w).alias("rn"),
            F.first("doc_id").over(w).alias("kept_id"),
            F.first("quality").over(w).alias("kept_quality"),
        )
        .filter(F.col("rn") > 1)
        .select("doc_id", "fingerprint", "kept_id", "quality", "kept_quality")
    )


# ---------------------------------------------------------------------------
# retrieval / language-model scoring (round 9): every formula below is
# EXACT-RATIONAL by construction — ln() is NOT bit-identical across engines
# (measured r9: Java Math.log vs DuckDB libm differ by 1 ULP on ~3.5% of the
# idf/probability domain), so the classic log-idf and log-prob forms would
# flap the value hash. Rational idf and mean-likelihood keep every
# intermediate an exact integer until one final (or fixed-order) double op.
# ---------------------------------------------------------------------------

#: BM25 constants (literal doubles, identical text in both engines)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "table", "join")  # fixture-vocabulary query

#: Shared oracle fragment (the CTE bodies after ``WITH``): the full-corpus
#: BM25 relation ``scored(doc_id, dl, score)``. bm25_doc_search tops it
#: directly; vectors.hybrid_bm25_cosine_rerank builds its lexical candidate
#: stage from the SAME text so the two oracles can never drift.
_BM25_SCORED_SQL = f"""d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         {", ".join(f"len(list_filter(string_split(text, ' '), t -> t = '{t}')) AS tf{i}" for i, t in enumerate(_BM25_TERMS))}
  FROM documents
), g AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl,
         {", ".join(f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(_BM25_TERMS)))}
  FROM d
), scored AS (
  SELECT d.doc_id, d.dl,
    {" + ".join(
        f"((CAST(g.n_docs - g.df{i} + 1 AS DOUBLE) / CAST(g.df{i} + 1 AS DOUBLE)) * "
        f"((CAST(d.tf{i} AS DOUBLE) * ({_BM25_K1} + 1.0)) / "
        f"(CAST(d.tf{i} AS DOUBLE) + {_BM25_K1} * ((1.0 - {_BM25_B}) + {_BM25_B} * (CAST(d.dl AS DOUBLE) / (CAST(g.total_dl AS DOUBLE) / CAST(g.n_docs AS DOUBLE)))))))"
        for i in range(len(_BM25_TERMS))
    )} AS score
  FROM d CROSS JOIN g
)"""


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus BM25 relation ``(doc_id, dl, score)`` — the shared
    lexical stage behind :func:`bm25_doc_search` (top-10 directly) and the
    hybrid re-ranker in ``queries.vectors`` (top-20 candidate feed). One
    definition so the score expression — including its cross-engine float
    contract (fixed-order term sum, rational idf) — cannot drift between
    the two consumers."""
    docs = table(spark, sf_dir, "documents")
    toks = _tokens()

    def tf_expr(term: str):
        # single-arg closure: filter() inspects lambda arity, so the term
        # must be captured by closure, not a default argument (a second
        # parameter would receive the array index — same trap as _minhash)
        return F.size(F.filter(toks, lambda x: x == term))

    # materialize the narrow per-doc stats ONCE: the global-stats aggregate
    # and the final scoring scan are two consumers of this subplan, and
    # without the checkpoint each would re-tokenize the full corpus
    # (review r9 — the same re-execution trap as incremental_near_dup)
    d = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_expr(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    ).localCheckpoint(eager=True)
    g = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int):
        idf = (F.col("n_docs") - F.col(f"df{i}") + 1).cast("double") / (
            F.col(f"df{i}") + 1
        ).cast("double")
        tf = F.col(f"tf{i}").cast("double")
        avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
        norm = tf + F.lit(_BM25_K1) * (
            F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
        return idf * ((tf * F.lit(_BM25_K1 + 1.0)) / norm)

    # fixed-order sum: term0 + term1 + term2 — float addition order is part
    # of the cross-engine contract
    score = term_score(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + term_score(i)
    return d.crossJoin(F.broadcast(g)).select("doc_id", "dl", score.alias("score"))


@register(
    "bm25_doc_search",
    doc="Full-text top-10 search: BM25-shaped ranking of documents against "
    f"a fixed {len(_BM25_TERMS)}-term query, with RATIONAL idf "
    "(N - df + 1)/(df + 1) instead of the textbook log-idf (ln is not "
    "bit-identical across engines; the rational form preserves the same "
    "ordering monotonicity in df). Per-term tf comes from a map-side "
    "array filter (no explode/shuffle over the corpus); the three global "
    "stats (N, total_dl, df per term) are one aggregate row broadcast "
    "back. Per-term scores add in FIXED column order so the float sum is "
    "engine-identical. At 100 TB: one scan + one 1-row broadcast — the "
    "inverted-index-free scoring pass you run before building an index.",
    oracle=f"""
WITH {_BM25_SCORED_SQL}
SELECT doc_id, dl, score FROM scored
ORDER BY score DESC, doc_id
LIMIT 10
""",
)
def bm25_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(10)
    )


@register(
    "unigram_likelihood_quality",
    doc="Perplexity-proxy quality score with EXACT arithmetic: each "
    "document's mean token likelihood under the corpus unigram LM with "
    "add-one smoothing — sum_t tf_d(t)*(count(t)+1) is an exact integer, "
    "divided once by n_d*(total+V). The log-prob form would need ln() "
    "(not bit-identical across engines); the arithmetic mean preserves "
    "the quality ordering signal (rare-token-heavy docs score low). The "
    "LM relation is vocabulary-sized and broadcasts; one tf shuffle.",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), lm AS (
  SELECT token, COUNT(*) AS ct FROM tok GROUP BY token
), g AS (
  SELECT COUNT(*) AS total, COUNT(DISTINCT token) AS v FROM tok
)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf.tf * (lm.ct + 1)) AS BIGINT) AS likelihood_numer,
       CAST(SUM(tf.tf * (lm.ct + 1)) AS DOUBLE)
         / (CAST(SUM(tf.tf) AS DOUBLE) * CAST(g.total + g.v AS DOUBLE)) AS mean_token_likelihood
FROM tf JOIN lm USING (token) CROSS JOIN g
GROUP BY tf.doc_id, g.total, g.v
""",
)
def unigram_likelihood_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    # ONE corpus tokenization: lm and the global totals both derive from the
    # checkpointed tf relation instead of re-exploding the corpus per
    # consumer (review r9); sum(tf) == token occurrences, so the derived
    # values are identical to the oracle's direct aggregates
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint(eager=True)
    lm = tf.groupBy("token").agg(F.sum("tf").alias("ct"))
    g = lm.agg(
        F.sum("ct").alias("total"), F.count(F.lit(1)).alias("v")
    )
    numer = F.sum(F.col("tf") * (F.col("ct") + 1))
    # lm is token-vocabulary-sized — join strategy left to AQE's measured
    # size (broadcast while it fits, shuffled join when the vocabulary
    # outgrows the threshold); g stays a forced 1-row broadcast (r12)
    return (
        tf.join(lm, "token")
        .crossJoin(F.broadcast(g))
        .groupBy("doc_id", "total", "v")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            numer.cast("long").alias("likelihood_numer"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "likelihood_numer",
            (
                F.col("likelihood_numer").cast("double")
                / (
                    F.col("n_tokens").cast("double")
                    * (F.col("total") + F.col("v")).cast("double")
                )
            ).alias("mean_token_likelihood"),
        )
    )


@register(
    "ngram_novelty",
    doc="Per-document n-gram novelty: the fraction of a document's DISTINCT "
    "token 3-grams first seen in THIS document (global first-occurrence = "
    "min doc_id per shingle) — the incremental-crawl freshness metric that "
    "tells you how much new content each document adds to the corpus. "
    "Exact integer counts, one shingle shuffle; at 100 TB the "
    "first-occurrence relation is the same index the decontamination and "
    "LSH passes maintain.",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_shingle_sql()})) AS shingle FROM documents
), first_seen AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_seen.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN first_seen.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty_frac
FROM sh JOIN first_seen USING (shingle)
GROUP BY sh.doc_id
""",
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # struct-zip trigrams as the grouping/join key (r16) — same bijection
    # argument as benchmark_contamination; no shingle strings built.
    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(_trigram_structs())).alias("shingle")
    )
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty_frac"),
        )
    )


# Exact duplicated-SPAN dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): remove repeated fixed-length token windows
# across the whole corpus, keeping only the globally-first occurrence. The
# whole-doc dedup family (exact_dedup / minhash / simhash) misses boilerplate
# that repeats INSIDE otherwise-distinct documents; span dedup catches it.
_SPAN_W = 15  # tokens per span (stride == width: non-overlapping windows)


@register(
    "duplicated_span_dedup",
    doc="Exact substring-level dedup over non-overlapping 15-token spans "
    "(Lee et al. 2022 form): a span occurring at multiple (doc, offset) "
    "positions keeps only its globally-first occurrence (min doc_id, then "
    "min offset); every other copy is cut and the doc reassembled. Per doc: "
    "span counts and the md5 of the cleaned text (NULL when every span was "
    "a later copy — e.g. an exact-duplicate doc loses its whole body). "
    "Scale: spans shuffle once on their md5 (map-side combinable groupBy "
    "for the canonical key, AQE-skew-safe join back); never all-pairs.",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
occ AS (
  SELECT doc_id, g AS start_idx,
         array_to_string(t[g : g + {_SPAN_W - 1}], ' ') AS span,
         doc_id * 1000000 + g AS rank_key
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t), {_SPAN_W})) AS g)
),
canon AS (
  SELECT md5(span) AS span_hash, MIN(rank_key) AS canon_key
  FROM occ GROUP BY md5(span)
),
marked AS (
  SELECT o.doc_id, o.start_idx, o.span, o.rank_key = c.canon_key AS keep
  FROM occ o JOIN canon c ON md5(o.span) = c.span_hash
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed,
       md5(string_agg(span, ' ' ORDER BY start_idx) FILTER (WHERE keep)) AS cleaned_md5
FROM marked GROUP BY doc_id
""",
)
def duplicated_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span removal.

    Reference has only whole-row dedup (``02_history_hasher.py`` hash
    guards); this is the training-corpus extension. The canonical
    occurrence of a span is the minimum (doc_id, start_idx) encoded as
    ``doc_id * 1e6 + start_idx`` (token offsets are < 1e6 by construction:
    the fixtures' documents are KB-scale, and at 100 TB a pre-chunking pass
    bounds doc length long before this operator). Occurrences join their
    canonical key on md5(span) — 128-bit collisions are negligible and the
    oracle uses the identical key, so semantics match bit-for-bit. The
    groupBy side is map-side combinable (span-hash cardinality ~= distinct
    spans); the join back re-shuffles occurrences on the same key, so a
    pathologically hot span (corpus-wide boilerplate) is bounded by AQE's
    skew-join split rather than a single straggler window partition —
    deliberately groupBy+join, not min() OVER (PARTITION BY span)."""
    docs = table(spark, sf_dir, "documents")
    toks = _tokens()
    n = F.size(toks)
    w = _SPAN_W
    spans = F.transform(
        F.sequence(F.lit(0), F.floor((n - 1) / w).cast("int")),
        lambda i: F.struct(
            (i * w + 1).cast("long").alias("start_idx"),
            F.array_join(F.slice(toks, i * w + 1, w), " ").alias("span"),
        ),
    )
    occ = (
        docs.select("doc_id", F.explode(spans).alias("s"))
        .select(
            "doc_id",
            F.col("s.start_idx").alias("start_idx"),
            F.col("s.span").alias("span"),
        )
        .withColumn("rank_key", F.col("doc_id") * 1000000 + F.col("start_idx"))
        .withColumn("span_hash", F.md5("span"))
    )
    canon = occ.groupBy("span_hash").agg(F.min("rank_key").alias("canon_key"))
    marked = occ.join(canon, "span_hash").withColumn(
        "keep", F.col("rank_key") == F.col("canon_key")
    )
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("start_idx", "span")))
    )
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_removed"),
        kept_sorted.alias("kept"),
    )
    cleaned = F.when(
        F.size("kept") > 0,
        F.md5(F.array_join(F.transform(F.col("kept"), lambda s: s["span"]), " ")),
    )
    return agg.select("doc_id", "n_spans", "n_removed", cleaned.alias("cleaned_md5"))
