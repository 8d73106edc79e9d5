"""Full-catalog oracle gate: every registered query vs its DuckDB oracle.

This is the in-tree version of the driver's CORRECTNESS check (and of
``scripts/verify_local.py``): each catalog entry runs on Spark at the test
SF and is compared — row count, column names, order-insensitive canonical
values — against its ANSI-SQL oracle on DuckDB over the same parquet.
Oracle-less entries get the driver's weaker rows-only check (must execute).

Parametrized per query so a regression names the exact entry, and so every
catalog query is gated by ``pytest tests/`` — environment shifts like the
pyspark 4.1.2 TIMESTAMP_NTZ read change (VERDICT r3) fail here, in-round,
not at the driver.

Runs at sf0.001 (a couple of minutes for the full catalog, dominated by
streaming drains).
"""

from __future__ import annotations

import pytest

from fund_data_pipeline_spark import queries as Q
from fund_data_pipeline_spark.oracle import compare_query, duckdb_connect


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(Q.QUERIES))
def test_catalog_query_matches_oracle(name, spark, sf_dir, oracle_con):
    spec = Q.QUERIES[name]
    problems, n_rows = compare_query(spark, oracle_con, spec, sf_dir)
    assert not problems, f"{name}: " + "; ".join(problems)
    if spec.oracle is None:
        # rows-only contract: executed successfully; result shape is covered
        # by the op's dedicated pytest (e.g. image_decode_features golden test)
        assert n_rows >= 0


def test_gate_catches_uncast_sum_oracle(spark, sf_dir, oracle_con):
    """Round-5 blind-spot regression: an oracle whose top-level SUM is uncast
    yields DuckDB HUGEINT -> pandas float64, which the driver hashes
    differently from Spark's int64. The local gate previously fetched via
    fetchall() (HUGEINT -> Python int) and could not see this; it must fail
    such an oracle now (VERDICT r5 item 2)."""
    from fund_data_pipeline_spark.queries.registry import QuerySpec

    def spark_side(sp, sf):
        from pyspark.sql import functions as F

        from fund_data_pipeline_spark.queries.registry import table

        return table(sp, sf, "documents").agg(
            F.sum(F.length("text")).alias("total_len")
        )

    bad = QuerySpec(
        name="_uncast_sum_probe",
        spark=spark_side,
        # uncast SUM over BIGINT -> HUGEINT -> float64 through pandas
        oracle="SELECT SUM(length(text)) AS total_len FROM documents",
    )
    problems, _ = compare_query(spark, oracle_con, bad, sf_dir)
    assert problems, "local gate failed to flag an uncast SUM oracle"
    joined = " ".join(problems)
    assert "dtype coercion" in joined or "values differ" in joined

    good = QuerySpec(
        name="_cast_sum_probe",
        spark=spark_side,
        oracle="SELECT CAST(SUM(length(text)) AS BIGINT) AS total_len FROM documents",
    )
    problems, _ = compare_query(spark, oracle_con, good, sf_dir)
    assert not problems, problems


def test_null_text_and_irregular_whitespace_parity(spark, sf_dir, tmp_path):
    """Code-review r6 regression: the fixtures contain no NULL-text or
    irregular-whitespace documents, so divergences on those rows pass the
    standard gate silently (exactly how the r5 leakage_safe_split NULL bug
    shipped). This fixture forces both classes through every query that
    derives values from raw text bytes or whitespace tokenization."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fund_data_pipeline_spark.oracle import TABLES

    custom = tmp_path / "sfx"
    custom.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", custom / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
                "text": pa.array([None, "a  b\tc ", "plain text here now", ""]),
                "lang": pa.array(["en", "en", "xx", "en"]),
                "source": pa.array(["s0", "s0", "s1", "s1"]),
                "n_chars": pa.array([0, 8, 19, 0], pa.int64()),
            }
        ),
        custom / "documents.parquet",
    )
    con = duckdb_connect(str(custom))
    try:
        for name in (
            "image_decode_features",
            "audio_quality_gate",
            "video_frame_sample_stats",
            "token_vocabulary",
            "characteristic_terms",
            "leakage_safe_split",
            "boilerplate_scrub",
            "doc_chunking",
            "multimodal_binary_meta",
        ):
            problems, _ = compare_query(spark, con, Q.QUERIES[name], str(custom))
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        con.close()


def test_hybrid_rerank_missing_embedding_parity(spark, sf_dir, tmp_path):
    """The sf0.001 fixture embeds every doc, so the standard gate never
    exercises the hybrid re-ranker's missing-embedding branch (live at
    sf0.1: 5000 docs vs 2000 vectors). Shrink embedding coverage to
    vec_id < 100 and require (a) cross-engine parity on the full output,
    (b) that NULL-cosine candidates actually reach the fused top-10, and
    (c) that they rank strictly after every embedded candidate."""
    import os

    import duckdb
    import numpy as np

    from fund_data_pipeline_spark.oracle import TABLES

    custom = tmp_path / "sfh"
    custom.mkdir()
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", custom / f"{t}.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{sf_dir}/embeddings.parquet' WHERE vec_id < 100) "
        f"TO '{custom}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con = duckdb_connect(str(custom))
    try:
        spec = Q.QUERIES["hybrid_bm25_cosine_rerank"]
        problems, _ = compare_query(spark, con, spec, str(custom))
        assert not problems, "; ".join(problems)
        pdf = spec.spark(spark, str(custom)).toPandas()
        assert pdf["cosine"].isna().any(), "NULL branch never fired"
        nulls = pdf.sort_values("cos_rank")["cosine"].isna().to_numpy().astype(int)
        assert (np.diff(nulls) >= 0).all(), "a NULL cosine outranked a real one"
    finally:
        con.close()
