"""Landing-zone scan helpers (SURVEY §2.1, S1-S7).

The reference reads thousands of small CSVs in Python loops (one
``pd.read_csv`` + one upsert round-trip per file —
02_performance_sync/03_price_history_loader.py:69-113). Here every landing
pattern is ONE distributed scan; per-file metadata (ticker, source,
as-of date) is recovered from ``input_file_name()`` instead of loop
variables. This is the #1 scalability win of the rebuild: a 100 TB landing
zone is a single job with partition-sized tasks, not a driver-side loop.

- S1  multi-dir scan + union:      pass several roots to one read
- S2  per-entity files:            glob + filename-derived columns
- S3  glob-pattern scan:           glob in the path
- S4  path-date inference:         regexp over input_file_name()
- S5  BOM-tolerant encoding:       Spark handles UTF-8 BOM natively
- S6  fault-tolerant read:         PERMISSIVE (malformed fields -> NULL;
      pass ``schema`` including a ``_corrupt_record`` string column to
      capture the raw malformed line for quarantine)
- S7  filename filter:             pathGlobFilter / filter on input_file_name()
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..parse import asset_type_from_path, filename_stem_ticker


#: default sentinel-name tokens skipped by the landing scans. Matching is
#: whole-token (see :func:`name_excluded_col`), so the plural forms must be
#: listed explicitly: the r11 contract ("an errors.jsonl dropped next to the
#: data files must be skipped") was not actually met by ("error", "log") —
#: the token of ``errors.jsonl`` is ``errors``, which token-exact matching
#: does not equate with ``error`` (review r13). Token-exact stays the rule
#: (substring matching silently dropped real tickers GLOG/LOGI, review r9);
#: the cost is that a hypothetical ticker literally named ERRORS/LOGS would
#: need an ``exclude_name_parts`` override.
DEFAULT_EXCLUDE_NAME_PARTS = ("error", "errors", "log", "logs")


def name_excluded_col(file_col, parts: Sequence[str] = DEFAULT_EXCLUDE_NAME_PARTS):
    """Scan-level twin of :func:`name_excluded`: a boolean Column that is
    True iff the BASENAME of ``file_col`` (a path column, e.g.
    ``input_file_name()``) has a ``.``/``_``/``-``-delimited token equal to
    one of ``parts`` (case-insensitive). ONE definition feeds the batch
    scan filter below and the streaming NAV loader (review r10: the stream
    re-read error/log sentinel files the batch reader skips)."""
    basename = F.lower(F.element_at(F.split(file_col, "/"), -1))
    name_tokens = F.split(basename, r"[._\-]")
    return F.arrays_overlap(name_tokens, F.array(*[F.lit(p.lower()) for p in parts]))


def name_excluded(basename: str, parts: Sequence[str] = DEFAULT_EXCLUDE_NAME_PARTS) -> bool:
    """Python twin of the scan-level token filter: True iff any ``.``/``_``/
    ``-``-delimited token of ``basename`` equals one of ``parts``
    (case-insensitive). Driver-side callers that pre-check a landing dir
    (e.g. the orchestrator's feed-presence gate) MUST use this so their
    verdict matches what the distributed scan will actually read — a gate
    that counts files the scan then filters out turns an empty feed into a
    crashed stage (review r9)."""
    wanted = {p.lower() for p in parts}
    return any(t in wanted for t in re.split(r"[._\-]", basename.lower()))


def read_landing_csvs(
    spark: SparkSession,
    paths: Sequence[str],
    exclude_name_parts: Sequence[str] = DEFAULT_EXCLUDE_NAME_PARTS,
    schema: str | None = None,
) -> DataFrame:
    """S1/S3/S5/S6/S7: one permissive scan over all landing dirs.

    Every ``*.csv`` file under each of ``paths`` is read (recursive lookup;
    a glob in a path string narrows the scan, S3), and each row carries its
    source file as ``origin_file``.

    ``exclude_name_parts`` reproduces the 'skip files with error/log in the
    name' rule (00_performance_data_cleaner.py:60-61) as a filter on the
    BASENAME of ``input_file_name()`` — evaluated at the scan, no
    driver-side listing. Basename, not full path: a landing root whose
    path merely contains 'log' (``/data/fund_catalog/``, ``.../backlog/``)
    must not silently drop the entire feed. Parts match whole
    ``.``/``_``/``-``-delimited basename TOKENS, case-insensitively
    (review r9): ``error_log.csv`` is excluded by the default, but a real
    ticker file ``GLOG_history.csv`` or ``LOGI_history.csv`` is NOT —
    substring matching silently dropped such tickers, and an uppercase
    part never matched the lowercased basename at all.

    ``schema``: optional explicit DDL schema. Header-inferred reads NULL
    malformed fields under PERMISSIVE; to CAPTURE the raw malformed line,
    include a ``_corrupt_record STRING`` column in the schema — the
    corrupt-record channel only exists with an explicit schema (the same
    contract as :func:`read_landing_jsonl`, review r9).
    """
    reader = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.csv")
    )
    if schema is not None:
        # enforceSchema=false makes Spark VERIFY each file's CSV header
        # against the schema instead of binding columns positionally: a
        # multi-dir scan where one scraper reordered its columns fails
        # loudly instead of silently loading source values into asset_type
        # (review r10 — the positional default is exactly the corruption
        # rename_synonyms cannot see, since it only sees the bound names)
        reader = (
            reader.schema(schema)
            .option("enforceSchema", "false")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
        )
    df = reader.csv(list(paths))
    df = df.withColumn("origin_file", F.input_file_name())
    if exclude_name_parts:
        df = df.filter(~name_excluded_col(F.col("origin_file"), exclude_name_parts))
    return df


def read_per_entity_csvs(
    spark: SparkSession,
    root: str,
    infer_asset_type: bool = True,
    exclude_name_parts: Sequence[str] = DEFAULT_EXCLUDE_NAME_PARTS,
) -> DataFrame:
    """S2: one scan over per-ticker files, metadata from the path.

    Replaces the reference's rglob loop (00_price_history_cleaner.py:36-64):
    ticker = filename stem before '_', asset_type = 'ETF' if the path
    contains 'etf'. (S4 path-date inference is :func:`..parse.path_date`,
    applied by the holdings loader.)
    (The reference rglobs ALL *.csv and skips files per-file on parse
    failure; the name filter here is the distributed stand-in for that
    skip, and it matches whole basename tokens so a real ticker like
    GLOG/LOGI can never be silently dropped — review r9. Override
    ``exclude_name_parts`` per call for trees with other sentinel names.)
    """
    df = read_landing_csvs(spark, [root], exclude_name_parts=exclude_name_parts)
    df = df.withColumn("ticker", F.upper(filename_stem_ticker("origin_file")))
    if infer_asset_type:
        df = df.withColumn("asset_type", asset_type_from_path("origin_file"))
    return df


def read_landing_jsonl(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """JSON-lines landing scan (scraper output beyond CSV) over every
    ``*.jsonl`` file under ``paths``: same contract as
    :func:`read_landing_csvs` — one distributed scan, permissive parse
    (malformed lines land in ``_corrupt_record`` instead of failing the job),
    provenance from ``input_file_name()``, and the SAME error/log sentinel
    filename filter (review r11: 'same contract' previously lacked the
    filter, so an errors.jsonl dropped next to the data files by a scraper
    was ingested as data — the exact class r10 fixed for the CSV stream)."""
    file_col = F.input_file_name()
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.jsonl")
        .json(list(paths))
        .filter(~name_excluded_col(file_col))
        .withColumn("origin_file", file_col)
    )


def union_conformed(dfs: Sequence[DataFrame]) -> DataFrame:
    """U1: UNION ALL of heterogeneous sources, by name, missing cols -> NULL."""
    it = iter(dfs)
    try:
        out = next(it)
    except StopIteration:
        # a bare StopIteration would be swallowed/PEP-479-converted inside
        # generators (review r9); an empty landing scan should fail loudly
        raise ValueError("union_conformed: no dataframes to union") from None
    for df in it:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
