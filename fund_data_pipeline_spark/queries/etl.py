"""ETL-operator parity queries (SURVEY §2.3-2.5, §2.9-2.12).

The fixture tables carry no messy CSV strings, so each query synthesizes the
reference's dirty-input shapes DETERMINISTICALLY from fixture columns (both
engines derive the identical string, then both parse it back) — this
exercises the real cleaning expressions end-to-end under the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..conform import ASSET_TYPE_MAP, SOURCE_MAP, map_values, null_sentinels_to_null, upper_trim
from ..dedup import dedup_keyed, duplicate_stats
from ..hashing import row_hash_concat
from ..lifecycle import assign_initial_status, should_mark_inactive, should_promote_to_active
from ..merge import merge_as_dataframe
from ..parse import (
    magnitude_overflow_repair,
    outlier_to_null,
    parse_date_coerce,
    parse_magnitude,
    parse_percent,
    parse_thousands,
    percent_rescale,
)
from ..validate import (
    master_rules,
    nav_rules,
    validation_split_all_reasons,
    validation_split_single_reason,
)
from .registry import register, table


# ---------------------------------------------------------------------------
# conform / normalize (P1-P3, X1-X3, X9, L2)
# ---------------------------------------------------------------------------

@register(
    "conform_master_list",
    doc="P2/P3/X1-X3/L2/X13: synonym values, case normalize, missing-col NULL "
    "injection, default status — the master-list cleaner as one projection.",
    oracle="""
SELECT upper(trim(s_name)) AS ticker,
       CASE CASE WHEN s_suppkey % 3 = 0 THEN 'MUTUAL FUND' WHEN s_suppkey % 3 = 1 THEN 'ETF' ELSE 'FUND' END
            WHEN 'MUTUAL FUND' THEN 'FUND' WHEN 'MUTUALFUND' THEN 'FUND' WHEN 'MUTUAL_FUND' THEN 'FUND'
            ELSE CASE WHEN s_suppkey % 3 = 0 THEN 'MUTUAL FUND' WHEN s_suppkey % 3 = 1 THEN 'ETF' ELSE 'FUND' END END AS asset_type,
       CASE 'yf' WHEN 'ft' THEN 'financial_times' WHEN 'yf' THEN 'yahoo_finance' WHEN 'sa' THEN 'stock_analysis'
            ELSE 'yf' END AS source,
       s_name AS name,
       'new' AS status,
       CAST(NULL AS VARCHAR) AS currency
FROM supplier
""",
)
def conform_master_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = table(spark, sf_dir, "supplier")
    raw_type = (
        F.when(F.col("s_suppkey") % 3 == 0, F.lit("MUTUAL FUND"))
        .when(F.col("s_suppkey") % 3 == 1, F.lit("ETF"))
        .otherwise(F.lit("FUND"))
    )
    df = supp.withColumns({"raw_type": raw_type, "raw_source": F.lit("yf")}).select(
        upper_trim("s_name").alias("ticker"),
        map_values("raw_type", ASSET_TYPE_MAP).alias("asset_type"),
        map_values("raw_source", SOURCE_MAP).alias("source"),
        F.col("s_name").alias("name"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("string").alias("currency"),
    )
    return assign_initial_status(df)


@register(
    "null_sentinel_cleanup",
    doc="X9: '', 'nan', 'N/A', padded values -> NULL / trimmed.",
    oracle="""
SELECT doc_id,
       CASE WHEN lower(trim(dirty)) IN ('', 'nan', 'none', 'null', 'n/a', 'na', '-')
            THEN NULL ELSE trim(dirty) END AS cleaned
FROM (
  SELECT doc_id,
         CASE n_chars % 4 WHEN 0 THEN 'N/A' WHEN 1 THEN '  ' || lang || '  '
                          WHEN 2 THEN 'nan' ELSE lang END AS dirty
  FROM documents
)
""",
)
def null_sentinel_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    dirty = (
        F.when(F.col("n_chars") % 4 == 0, F.lit("N/A"))
        .when(F.col("n_chars") % 4 == 1, F.concat(F.lit("  "), F.col("lang"), F.lit("  ")))
        .when(F.col("n_chars") % 4 == 2, F.lit("nan"))
        .otherwise(F.col("lang"))
    )
    return docs.withColumn("dirty", dirty).select("doc_id", null_sentinels_to_null("dirty").alias("cleaned"))


# ---------------------------------------------------------------------------
# scalar parsing (X4-X8, F9, F10)
# ---------------------------------------------------------------------------

@register(
    "numeric_string_parsing",
    doc="X4/X5/X6: percent, thousands-separator and magnitude-suffix parsing "
    "round-tripped through deterministically synthesized dirty strings.",
    oracle="""
SELECT p_partkey,
       CAST(regexp_replace(pct_str, '[%,+]', '', 'g') AS DOUBLE) AS pct,
       CAST(TRUNC(CAST(regexp_replace(thou_str, ',', '', 'g') AS DOUBLE)) AS BIGINT) AS thou,  -- TRUNC: Spark's double->long cast truncates toward zero, DuckDB's bare CAST rounds (r10)
       CASE regexp_extract(lower(trim(mag_str)), '-?[\\d,]*\\.?\\d+[ \\t\\n\\x0B\\f\\r]*([kmbt])', 1)
            WHEN 'k' THEN CAST(regexp_replace(regexp_extract(lower(trim(mag_str)), '(-?[\\d,]*\\.?\\d+)', 1), ',', '', 'g') AS DOUBLE) * 1e3
            WHEN 'm' THEN CAST(regexp_replace(regexp_extract(lower(trim(mag_str)), '(-?[\\d,]*\\.?\\d+)', 1), ',', '', 'g') AS DOUBLE) * 1e6
            WHEN 'b' THEN CAST(regexp_replace(regexp_extract(lower(trim(mag_str)), '(-?[\\d,]*\\.?\\d+)', 1), ',', '', 'g') AS DOUBLE) * 1e9
            WHEN 't' THEN CAST(regexp_replace(regexp_extract(lower(trim(mag_str)), '(-?[\\d,]*\\.?\\d+)', 1), ',', '', 'g') AS DOUBLE) * 1e12
            ELSE CAST(regexp_replace(regexp_extract(lower(trim(mag_str)), '(-?[\\d,]*\\.?\\d+)', 1), ',', '', 'g') AS DOUBLE) END AS mag
FROM (
  SELECT p_partkey,
         printf('+%d.%02d%%', p_size, p_partkey % 100) AS pct_str,
         printf('%d,%03d', p_size, p_partkey % 1000) AS thou_str,
         printf('%d.%02dm USD', p_size, p_partkey % 100) AS mag_str
  FROM part
)
""",
)
def numeric_string_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    pct_str = F.format_string("+%d.%02d%%", F.col("p_size"), F.col("p_partkey") % 100)
    thou_str = F.format_string("%d,%03d", F.col("p_size"), F.col("p_partkey") % 1000)
    mag_str = F.format_string("%d.%02dm USD", F.col("p_size"), F.col("p_partkey") % 100)
    return part.withColumns({"pct_str": pct_str, "thou_str": thou_str, "mag_str": mag_str}).select(
        "p_partkey",
        parse_percent("pct_str").alias("pct"),
        parse_thousands("thou_str").alias("thou"),
        parse_magnitude("mag_str").alias("mag"),
    )


@register(
    "fee_rescale_and_repair",
    doc="X7/X8/F9/F10: percent re-scale (/100 if >1), DECIMAL(5,2) overflow "
    "repair, domain-bound outlier nulling, length guard.",
    oracle="""
SELECT p_partkey,
       CASE WHEN fee_raw > 1.0 THEN fee_raw / 100.0 ELSE fee_raw END AS fee,
       CASE WHEN abs(sd_raw) > 999.99 THEN sd_raw / 100.0 ELSE sd_raw END AS std_dev,
       CASE WHEN abs(metric_raw) < 1000.0 THEN metric_raw END AS metric,
       CASE WHEN length(p_name) <= 20 THEN p_name END AS guarded_name
FROM (
  SELECT p_partkey, p_name,
         p_retailprice / 1000.0 AS fee_raw,
         p_retailprice AS sd_raw,
         p_retailprice - 500.0 AS metric_raw
  FROM part
)
""",
)
def fee_rescale_and_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..parse import length_guard

    part = table(spark, sf_dir, "part").withColumns(
        {"fee_raw": F.col("p_retailprice") / 1000.0, "metric_raw": F.col("p_retailprice") - 500.0}
    )
    return part.select(
        "p_partkey",
        percent_rescale("fee_raw").alias("fee"),
        magnitude_overflow_repair("p_retailprice").alias("std_dev"),
        outlier_to_null("metric_raw").alias("metric"),
        length_guard("p_name").alias("guarded_name"),
    )


@register(
    "date_parsing_and_arithmetic",
    doc="X10/X11/X12: formatted date round-trip + date arithmetic (cutoffs).",
    oracle="""
SELECT o_orderkey,
       CAST(strptime(date_str, '%b %-d, %Y') AS DATE) AS parsed_date,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       CAST(o_orderdate AS DATE) - 7 AS grace_cutoff,
       datediff('day', CAST(o_orderdate AS DATE), DATE '2001-09-01') AS age_days
FROM (
  SELECT o_orderkey, o_orderdate, strftime(o_orderdate, '%b %-d, %Y') AS date_str
  FROM orders
)
""",
)
def date_parsing_and_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    date_str = F.date_format("o_orderdate", "MMM d, yyyy")
    orders = table(spark, sf_dir, "orders").withColumn("date_str", date_str)
    return orders.select(
        "o_orderkey",
        parse_date_coerce("date_str", "MMM d, yyyy").alias("parsed_date"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.date_sub(F.col("o_orderdate").cast("date"), 7).alias("grace_cutoff"),
        F.datediff(F.lit("2001-09-01").cast("date"), F.col("o_orderdate").cast("date")).alias("age_days"),
    )


# ---------------------------------------------------------------------------
# hashing / change detection (H2/H3/H7)
# ---------------------------------------------------------------------------

@register(
    "row_hash_change_detection",
    doc="H2/H7: reference-compatible md5 of separator-less concat (None->'') "
    "plus the sha256 flavor, over master-shaped rows.",
    oracle="""
SELECT ticker, asset_type, source,
       md5(COALESCE(ticker,'') || COALESCE(asset_type,'') || COALESCE(source,'') || COALESCE(name,'') || COALESCE(status,'')) AS row_hash,
       sha256(COALESCE(ticker,'') || '|' || COALESCE(name,'')) AS sha_hash
FROM (
  SELECT upper(trim(s_name)) AS ticker,
         CASE WHEN s_suppkey % 2 = 0 THEN 'FUND' ELSE 'ETF' END AS asset_type,
         'yahoo_finance' AS source,
         CASE WHEN s_suppkey % 13 = 0 THEN NULL ELSE s_name END AS name,
         'active' AS status
  FROM supplier
)
""",
)
def row_hash_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = table(spark, sf_dir, "supplier")
    master = supp.select(
        upper_trim("s_name").alias("ticker"),
        F.when(F.col("s_suppkey") % 2 == 0, F.lit("FUND")).otherwise(F.lit("ETF")).alias("asset_type"),
        F.lit("yahoo_finance").alias("source"),
        F.when(F.col("s_suppkey") % 13 == 0, F.lit(None)).otherwise(F.col("s_name")).alias("name"),
        F.lit("active").alias("status"),
    )
    return master.select(
        "ticker",
        "asset_type",
        "source",
        row_hash_concat(["ticker", "asset_type", "source", "name", "status"]).alias("row_hash"),
        F.sha2(
            F.concat_ws("|", F.coalesce(F.col("ticker"), F.lit("")), F.coalesce(F.col("name"), F.lit(""))), 256
        ).alias("sha_hash"),
    )


# ---------------------------------------------------------------------------
# dedup (D2/D5, A4)
# ---------------------------------------------------------------------------

@register(
    "dedup_keep_last",
    doc="D2: deterministic keep-last per natural key with explicit tiebreak "
    "(replaces pandas read-order keep='last').",
    oracle="""
SELECT l_orderkey, l_partkey, l_linenumber, l_extendedprice AS extendedprice
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey
                               ORDER BY l_shipdate DESC, l_linenumber DESC) AS rn
  FROM lineitem
) WHERE rn = 1
""",
)
def dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    out = dedup_keyed(li, ["l_orderkey", "l_partkey"], ["l_shipdate", "l_linenumber"], keep="last")
    return out.select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("extendedprice"),
    )


@register(
    "duplicate_key_stats",
    doc="A4: duplicate-count metric per natural key (initial_len - len after dedup).",
    oracle="""
SELECT l_orderkey, COUNT(*) AS n_rows, COUNT(*) - 1 AS n_duplicates
FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
""",
)
def duplicate_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_stats(table(spark, sf_dir, "lineitem"), ["l_orderkey"])


# ---------------------------------------------------------------------------
# validation splits (F4, F5)
# ---------------------------------------------------------------------------

@register(
    "nav_validation_errors",
    doc="F4: good/bad split with single-reason annotation; later rules "
    "overwrite earlier (pandas mask-overwrite semantics).",
    oracle="""
SELECT o_orderkey AS rec_id,
       CASE WHEN as_of_date > DATE '2001-09-02'        THEN 'Future Date'
            WHEN nav_price <= 0                        THEN 'Non-Positive NAV'
            WHEN ticker IS NULL OR nav_price IS NULL OR as_of_date IS NULL THEN 'Missing Data'
       END AS error_reason
FROM (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE 'T' || CAST(o_custkey AS VARCHAR) END AS ticker,
         CASE WHEN o_orderkey % 89 = 0 THEN -o_totalprice
              WHEN o_orderkey % 91 = 0 THEN NULL
              ELSE o_totalprice END AS nav_price,
         CASE WHEN o_orderkey % 83 = 0 THEN DATE '2099-01-01' ELSE CAST(o_orderdate AS DATE) END AS as_of_date
  FROM orders
)
WHERE as_of_date > DATE '2001-09-02' OR nav_price <= 0
   OR ticker IS NULL OR nav_price IS NULL OR as_of_date IS NULL
""",
)
def nav_validation_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    dirty = orders.select(
        F.col("o_orderkey").alias("rec_id"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("T"), F.col("o_custkey").cast("string")))
        .alias("ticker"),
        F.when(F.col("o_orderkey") % 89 == 0, -F.col("o_totalprice"))
        .when(F.col("o_orderkey") % 91 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("nav_price"),
        F.when(F.col("o_orderkey") % 83 == 0, F.lit("2099-01-01").cast("date"))
        .otherwise(F.col("o_orderdate").cast("date"))
        .alias("as_of_date"),
    )
    # the synthesized frame carries only the three columns under test, so
    # the critical-cols subset is passed explicitly (the library default is
    # the reference's full five-column set)
    _, invalid = validation_split_single_reason(
        dirty,
        nav_rules(
            today=F.lit("2001-09-01").cast("date"),
            critical_cols=("ticker", "nav_price", "as_of_date"),
        ),
    )
    return invalid.select("rec_id", "error_reason")


@register(
    "master_validation_issues",
    doc="F5: vectorized row-rule validator, all failed rules joined by '; '.",
    oracle="""
SELECT rec_id,
       NULLIF(concat_ws('; ',
         CASE WHEN ticker IS NULL OR trim(ticker) = '' THEN 'Missing Ticker' END,
         CASE WHEN asset_type IS NULL OR asset_type NOT IN ('FUND','ETF') THEN 'Invalid Asset Type' END,
         CASE WHEN source IS NULL OR trim(source) = '' THEN 'Missing Source' END,
         CASE WHEN status IS NULL OR status NOT IN ('active','inactive','new') THEN 'Invalid Status' END), '') AS validation_issues
FROM (
  SELECT c_custkey AS rec_id,
         CASE WHEN c_custkey % 11 = 0 THEN '' ELSE c_name END AS ticker,
         CASE WHEN c_custkey % 7 = 0 THEN 'STOCK' ELSE 'FUND' END AS asset_type,
         CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE 'yahoo_finance' END AS source,
         CASE WHEN c_custkey % 5 = 0 THEN 'weird' ELSE 'active' END AS status
  FROM customer
)
WHERE (ticker IS NULL OR trim(ticker) = '')
   OR (asset_type IS NULL OR asset_type NOT IN ('FUND','ETF'))
   OR (source IS NULL OR trim(source) = '')
   OR (status IS NULL OR status NOT IN ('active','inactive','new'))
""",
)
def master_validation_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    dirty = cust.select(
        F.col("c_custkey").alias("rec_id"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("")).otherwise(F.col("c_name")).alias("ticker"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("STOCK")).otherwise(F.lit("FUND")).alias("asset_type"),
        F.when(F.col("c_custkey") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("yahoo_finance"))
        .alias("source"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("weird")).otherwise(F.lit("active")).alias("status"),
    )
    _, invalid = validation_split_all_reasons(dirty, master_rules())
    return invalid.select("rec_id", "validation_issues")


# ---------------------------------------------------------------------------
# hash-guarded merge (K3/K4/K5, H8) and lifecycle (L1-L5)
# ---------------------------------------------------------------------------

def _order_snapshot(orders: DataFrame, lo: int, hi: int, modify: bool) -> DataFrame:
    """A deterministic keyed snapshot of orders in [lo, hi) by year; the
    'modified' flavor changes prices for even keys so hashes differ."""
    df = orders.filter((F.year("o_orderdate") >= lo) & (F.year("o_orderdate") < hi))
    price = F.col("o_totalprice")
    if modify:
        price = F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") + 1000.0).otherwise(
            F.col("o_totalprice")
        )
    df = df.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        price.cast("decimal(18,2)").alias("price"),
    )
    return df.withColumn(
        "row_hash",
        F.md5(
            F.concat(
                F.coalesce(F.col("status"), F.lit("")),
                F.coalesce(F.col("price").cast("string"), F.lit("")),
            )
        ),
    )


@register(
    "hash_guarded_merge",
    doc="K3/K4/H8: MERGE of a modified batch into a target snapshot — matched-"
    "and-changed takes source, matched-unchanged keeps target, else insert/keep.",
    oracle="""
WITH target AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1995 AND EXTRACT(YEAR FROM o_orderdate) < 1999
), t AS (
  SELECT *, md5(COALESCE(status,'') || COALESCE(CAST(price AS VARCHAR),'')) AS row_hash FROM target
), source AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS DECIMAL(18,2)) AS price
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1998 AND EXTRACT(YEAR FROM o_orderdate) < 2000
), s AS (
  SELECT *, md5(COALESCE(status,'') || COALESCE(CAST(price AS VARCHAR),'')) AS row_hash FROM source
)
SELECT COALESCE(t.key, s.key) AS key,
       CASE WHEN t.key IS NULL THEN s.status
            WHEN s.key IS NULL THEN t.status
            WHEN t.row_hash IS DISTINCT FROM s.row_hash THEN s.status
            ELSE t.status END AS status,
       CAST(CASE WHEN t.key IS NULL THEN s.price
            WHEN s.key IS NULL THEN t.price
            WHEN t.row_hash IS DISTINCT FROM s.row_hash THEN s.price
            ELSE t.price END AS DOUBLE) AS price,
       CASE WHEN t.key IS NULL THEN s.row_hash
            WHEN s.key IS NULL THEN t.row_hash
            WHEN t.row_hash IS DISTINCT FROM s.row_hash THEN s.row_hash
            ELSE t.row_hash END AS row_hash
FROM t FULL OUTER JOIN s ON t.key = s.key
""",
)
def hash_guarded_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    target = _order_snapshot(orders, 1995, 1999, modify=False)
    source = _order_snapshot(orders, 1998, 2000, modify=True)
    merged = merge_as_dataframe(target, source, keys=["key"], hash_col="row_hash")
    # hash stays md5-of-decimal-string (engine-identical); only the emitted
    # price column is cast to DOUBLE (no DECIMAL in final projections).
    return merged.withColumn("price", F.col("price").cast("double"))


@register(
    "repair_feed_merge",
    doc="G2/U3: failed-row repair feed (03_ft_nav_repair.py:39-54,92-101) — "
    "rows whose status is not terminal are re-fed, recomputed from the "
    "source-of-truth price feed, stamped 'Repaired', and merged back; "
    "successful rows pass through untouched and unrepairable rows keep "
    "their failed status.",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS key, CAST(o_totalprice AS DECIMAL(18,2)) AS true_price FROM orders
), target AS (
  SELECT key,
         CASE WHEN key % 7 = 0 THEN NULL ELSE true_price END AS price,
         CASE WHEN key % 7 = 0 THEN 'Error'
              WHEN key % 13 = 0 THEN NULL
              ELSE 'Success' END AS status
  FROM base
), repaired AS (
  SELECT t.key, b.true_price AS price, 'Repaired' AS status
  FROM target t JOIN base b ON t.key = b.key AND b.key % 7 = 0
  WHERE t.status IS NULL OR t.status NOT IN ('Success', 'Repaired')
)
SELECT t.key,
       COALESCE(r.status, t.status) AS status,
       CAST(COALESCE(r.price, t.price) AS DOUBLE) AS price
FROM target t LEFT JOIN repaired r ON t.key = r.key
""",
)
def repair_feed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-DataFrame form of pipelines.repair.repair_feed (the I/O-bearing
    operator is exercised by tests/test_pipelines.py over a real merge table;
    this entry puts the failed-subset -> reprocess -> merge semantics under
    the value-hash oracle)."""
    from ..pipelines.repair import failed_subset

    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("true_price"),
    )
    # synthetic daily result: every 7th key failed its scrape (null price),
    # every 13th got no verdict; the corrected feed covers only the scrape
    # errors, so no-verdict rows stay unrepaired (reference: return None)
    target = base.select(
        "key",
        F.when(F.col("key") % 7 == 0, F.lit(None).cast("decimal(18,2)"))
        .otherwise(F.col("true_price"))
        .alias("price"),
        F.when(F.col("key") % 7 == 0, F.lit("Error"))
        .when(F.col("key") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("Success"))
        .alias("status"),
    )
    failed = failed_subset(target, "status", ("Success", "Repaired"))
    fixes = base.filter(F.col("key") % 7 == 0)
    repaired = (
        failed.select("key")
        .join(fixes, "key")
        .select("key", F.col("true_price").alias("price"), F.lit("Repaired").alias("status"))
    )

    def hashed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "row_hash",
            F.md5(
                F.concat(
                    F.coalesce(F.col("status"), F.lit("")),
                    F.coalesce(F.col("price").cast("string"), F.lit("")),
                )
            ),
        )

    merged = merge_as_dataframe(hashed(target), hashed(repaired), keys=["key"])
    return merged.select("key", "status", F.col("price").cast("double").alias("price"))


@register(
    "lifecycle_status_transitions",
    doc="L1-L5: first/last_seen from order history, then the status machine "
    "(new->active on real name, active->inactive past the 7-day grace).",
    oracle="""
SELECT custkey, first_seen, last_seen, status AS old_status,
       CASE WHEN status = 'active' AND last_seen < DATE '2001-09-01' - 7 THEN 'inactive'
            WHEN status = 'new' AND name IS NOT NULL AND trim(name) <> '' AND upper(trim(name)) <> 'N/A' THEN 'active'
            ELSE status END AS new_status
FROM (
  SELECT o.o_custkey AS custkey,
         MIN(CAST(o.o_orderdate AS DATE)) AS first_seen,
         MAX(CAST(o.o_orderdate AS DATE)) AS last_seen,
         CASE WHEN o.o_custkey % 13 = 0 THEN 'N/A' ELSE MIN(c.c_name) END AS name,
         CASE WHEN o.o_custkey % 3 = 0 THEN 'new' WHEN o.o_custkey % 3 = 1 THEN 'active' ELSE 'inactive' END AS status
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_custkey
)
""",
)
def lifecycle_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    master = (
        # no broadcast hint: customer grows with SF; AQE decides (review r9)
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("first_seen"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_seen"),
            F.min("c_name").alias("base_name"),
        )
        .select(
            "custkey",
            "first_seen",
            "last_seen",
            F.when(F.col("custkey") % 13 == 0, F.lit("N/A")).otherwise(F.col("base_name")).alias("name"),
            F.when(F.col("custkey") % 3 == 0, F.lit("new"))
            .when(F.col("custkey") % 3 == 1, F.lit("active"))
            .otherwise(F.lit("inactive"))
            .alias("status"),
        )
    )
    today = F.lit("2001-09-01").cast("date")
    new_status = (
        F.when(should_mark_inactive(today=today), F.lit("inactive"))
        .when(should_promote_to_active(), F.lit("active"))
        .otherwise(F.col("status"))
    )
    return master.select(
        "custkey",
        "first_seen",
        "last_seen",
        F.col("status").alias("old_status"),
        new_status.alias("new_status"),
    )


@register(
    "locf_last_valid_value",
    doc="G3/W5: last-observation-carried-forward — last non-null purchase "
    "value per user over event time (stale-NAV fallback semantics).",
    oracle="""
SELECT event_id, user_id,
       LAST_VALUE(purchase_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
  FROM events
)
""",
)
def locf_last_valid_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_value = F.when(F.col("event_type") == "purchase", F.col("value"))
    return events.select(
        "event_id",
        "user_id",
        F.last(purchase_value, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@register(
    "retention_cutoff_prune",
    doc="K8/X12: retention predicate over date partitions (60-day cutoff).",
    oracle="""
SELECT CAST(l_shipdate AS DATE) AS dt, COUNT(*) AS n
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '2001-11-01' - 60
GROUP BY CAST(l_shipdate AS DATE)
""",
)
def retention_cutoff_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cutoff = F.date_sub(F.lit("2001-11-01").cast("date"), 60)
    return (
        li.select(F.col("l_shipdate").cast("date").alias("dt"))
        .filter(F.col("dt") >= cutoff)
        .groupBy("dt")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "scd2_priority_history",
    doc="SCD Type-2 dimension history (lifecycle.scd2_apply — the "
    "full-history extension of the reference's SCD1 lifecycle): snapshot 1 "
    "is each customer's latest order priority before 1995-01-01, snapshot 2 "
    "their latest overall; applying snapshot 2 at the later date closes "
    "changed versions, opens new ones, keeps unchanged ones, and inserts "
    "first versions for customers whose first order is post-cutoff. The "
    "oracle replays the same transition rules in SQL over a full-outer "
    "join of the two snapshots.",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY
           CASE WHEN o_orderdate < DATE '1995-01-01' THEN 0 ELSE 1 END,
           o_orderdate DESC, o_orderkey DESC) AS rn_pre
  FROM orders
), s2 AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority FROM ranked WHERE rn = 1
), s1 AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority
  FROM ranked WHERE rn_pre = 1 AND o_orderdate < DATE '1995-01-01'
), j AS (
  SELECT COALESCE(s1.custkey, s2.custkey) AS custkey,
         s1.priority AS p1, s2.priority AS p2,
         s1.custkey IS NOT NULL AS in1, s2.custkey IS NOT NULL AS in2
  FROM s1 FULL OUTER JOIN s2 ON s1.custkey = s2.custkey
)
SELECT custkey, p1 AS priority, DATE '1995-01-01' AS valid_from,
       DATE '1998-08-02' AS valid_to, FALSE AS is_current
FROM j WHERE in1 AND in2 AND p1 <> p2
UNION ALL
SELECT custkey, p2, DATE '1998-08-02', NULL, TRUE
FROM j WHERE in1 AND in2 AND p1 <> p2
UNION ALL
SELECT custkey, p1, DATE '1995-01-01', NULL, TRUE
FROM j WHERE in1 AND in2 AND p1 = p2
UNION ALL
SELECT custkey, p2, DATE '1998-08-02', NULL, TRUE
FROM j WHERE NOT in1 AND in2
""",
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lifecycle import scd2_apply

    orders = table(spark, sf_dir, "orders")

    # latest order per customer = the library dedup kernel, not a third
    # hand-rolled window (review r10; same shape as latest_order_per_customer)
    def latest_priority(df: DataFrame) -> DataFrame:
        return dedup_keyed(
            df, ["o_custkey"], ["o_orderdate", "o_orderkey"], keep="last"
        ).select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("priority"),
        )

    latest_all = latest_priority(orders)
    latest_pre = latest_priority(orders.filter(F.col("o_orderdate") < "1995-01-01"))
    h1 = scd2_apply(None, latest_pre, ["custkey"], ["priority"], "1995-01-01")
    h2 = scd2_apply(h1, latest_all, ["custkey"], ["priority"], "1998-08-02")
    return h2


@register(
    "incremental_rollup_revenue",
    doc="Hypertable-style continuous aggregate (rollup.py): the monthly "
    "revenue rollup after a late batch lands, maintained INCREMENTALLY — "
    "untouched months' aggregate rows pass through from the pre-batch "
    "rollup (left-anti join against the batch's month set), only the "
    "batch's months are recomputed (left-semi pruned base scan). The "
    "oracle is the full recompute over the final base, so the value hash "
    "proves the incremental path converges to it. On disk the same "
    "identity runs via rollup.refresh_rollup with a partition-directory "
    "swap: per-day cost is one pruned scan of the touched partitions, "
    "independent of history length (tests/test_rollup.py).",
    oracle="""
WITH s AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS dt, l_returnflag,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS dq,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS dr,
         COUNT(*) AS n_rows
  FROM lineitem
  GROUP BY strftime(l_shipdate, '%Y-%m'), l_returnflag
)
SELECT dt, l_returnflag,
       CAST(FLOOR(dq) AS DOUBLE) + CAST(dq - FLOOR(dq) AS DOUBLE) AS sum_qty,
       CAST(FLOOR(dr) AS DOUBLE) + CAST(dr - FLOOR(dr) AS DOUBLE) AS revenue,
       n_rows
FROM s
""",
)
def incremental_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..rollup import rollup_frame

    li = table(spark, sf_dir, "lineitem").withColumn(
        "dt", F.date_format("l_shipdate", "yyyy-MM")
    )
    # The pricing_summary pattern (079b33e) applied through the rollup
    # operator: money values are exact integers in cent units, partial sums
    # run as LONG per scan partition (whole-stage-codegen integer adds,
    # measured ~20% faster than the per-row decimal product-sum at sf0.1),
    # partials merge in DECIMAL(38,0) which cannot overflow, and the final
    # conversion is floor-split on BOTH engines (exact to any magnitude —
    # the direct CAST(SUM AS DOUBLE) on both sides was only
    # magnitude-coincidentally equal below 2^53). rollup_frame still owns
    # the incremental identity: it rolls the PARTIAL frame up per month, so
    # untouched months pass through and touched months re-merge partials.
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    dmul = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")

    def partials(rows: DataFrame) -> DataFrame:
        return rows.groupBy("dt", "l_returnflag", F.spark_partition_id().alias("__pid")).agg(
            F.sum(qc).alias("q"), F.sum(pc * dmul).alias("pd"), F.count(F.lit(1)).alias("n")
        )

    # exact integer decimal -> double, floor-split (identical bits to the
    # oracle's FLOOR/frac decomposition at any scale factor; shared kernel
    # in queries/numeric.py)
    from .numeric import split_integer_total as split_double

    measures = {
        "sum_qty": split_double(F.sum(F.col("q").cast("decimal(38,0)")), 100),
        "revenue": split_double(F.sum(F.col("pd").cast("decimal(38,0)")), 10000),
        "n_rows": F.sum("n"),
    }
    # initial load = history before the cutoff; the late batch lands after
    base0 = partials(li.filter(F.col("dt") < "1998-06"))
    batch = li.filter(F.col("dt") >= "1998-06")
    batch_months = batch.select("dt").distinct()
    r_old = rollup_frame(base0, "dt", ["l_returnflag"], measures)
    untouched = r_old.join(batch_months, "dt", "left_anti")
    recomputed = rollup_frame(
        partials(li.join(batch_months, "dt", "left_semi")), "dt", ["l_returnflag"], measures
    )
    return untouched.unionByName(recomputed)


@register(
    "snapshot_diff",
    doc="CDC between two keyed snapshots (merge.diff_frames, the kernel "
    "behind table_changes time-travel CDC): each key classified "
    "insert / update / delete by the merge engine's null-safe row-hash "
    "rule, unchanged keys omitted; inserts/updates carry the new row, "
    "deletes the old row. One keyed full-outer join — the same single "
    "shuffle as the merge itself.",
    oracle="""
WITH o AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1995 AND EXTRACT(YEAR FROM o_orderdate) < 1999
), old AS (
  SELECT *, md5(COALESCE(status,'') || COALESCE(CAST(price AS VARCHAR),'')) AS row_hash FROM o
), s AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS DECIMAL(18,2)) AS price
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1998 AND EXTRACT(YEAR FROM o_orderdate) < 2000
), new AS (
  SELECT *, md5(COALESCE(status,'') || COALESCE(CAST(price AS VARCHAR),'')) AS row_hash FROM s
), d AS (
  -- row-presence CASE (n.key is a valid presence probe: orderkeys are
  -- non-null), matching diff_frames: an update's NULL new-side value must
  -- come through as NULL, never backfilled from the old row
  SELECT COALESCE(n.key, o.key) AS key,
         CASE WHEN n.key IS NOT NULL THEN n.status ELSE o.status END AS status,
         CAST(CASE WHEN n.key IS NOT NULL THEN n.price ELSE o.price END AS DOUBLE) AS price,
         CASE WHEN n.key IS NOT NULL THEN n.row_hash ELSE o.row_hash END AS row_hash,
         CASE WHEN o.key IS NULL THEN 'insert'
              WHEN n.key IS NULL THEN 'delete'
              WHEN o.row_hash IS DISTINCT FROM n.row_hash THEN 'update'
              ELSE NULL END AS _change_type
  FROM old o FULL OUTER JOIN new n ON o.key = n.key
)
SELECT * FROM d WHERE _change_type IS NOT NULL
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..merge import diff_frames

    orders = table(spark, sf_dir, "orders")
    old = _order_snapshot(orders, 1995, 1999, modify=False)
    new = _order_snapshot(orders, 1998, 2000, modify=True)
    out = diff_frames(old, new, keys=["key"], hash_col="row_hash")
    return out.withColumn("price", F.col("price").cast("double"))


@register(
    "changelog_compact",
    doc="Changelog compaction (Kafka-compaction / CDC-consumer kernel): a "
    "three-epoch synthetic change feed over orders (epoch 1 = full load, "
    "epoch 2 = re-priced updates for key%3=0, epoch 3 = delete tombstones "
    "for key%10=0) collapses to final state — latest epoch per key wins, "
    "a winning tombstone erases the key. One window over the feed keyed on "
    "the primary key; at 100 TB the feed shuffles once on the key, exactly "
    "the log-compaction access pattern.",
    oracle="""
WITH feed AS (
  SELECT o_orderkey AS key, 1 AS epoch, 'U' AS op, o_totalprice AS price FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U', o_totalprice * 1.1 FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', CAST(NULL AS DOUBLE) FROM orders WHERE o_orderkey % 10 = 0
), latest AS (
  SELECT key, epoch, op, price,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY epoch DESC) AS rn
  FROM feed
)
SELECT key, epoch AS last_epoch, price AS final_price
FROM latest WHERE rn = 1 AND op <> 'D'
""",
)
def changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    e1 = orders.select(
        F.col("o_orderkey").alias("key"),
        F.lit(1).alias("epoch"),
        F.lit("U").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    e2 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit(2).alias("epoch"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * 1.1).alias("price"),
    )
    e3 = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit(3).alias("epoch"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
    )
    feed = e1.unionByName(e2).unionByName(e3)
    return (
        dedup_keyed(feed, ["key"], ["epoch"], keep="last")
        .filter(F.col("op") != "D")
        .select("key", F.col("epoch").alias("last_epoch"), F.col("price").alias("final_price"))
    )


@register(
    "row_hash_surfaces",
    doc="The H2-H7 row-hash kernels (hashing.py) driver-checked per row: "
    "separator-less md5 concat (H2/H7, byte-compatible with the reference's "
    "hasher including its inherited concat-collision quirk), the "
    "unit-separator v2 hash, the sha256 OHLCV-style concat (H3 kernel), the "
    "sha256 date+amount+type hash (H4 kernel), and the pipe-delimited "
    "normalized key with lower/trim + ISO date + %.6f amount (H5). All "
    "single JVM-side expressions over string/integer/timestamp inputs "
    "(doubles only through explicit %.6f formatting — a bare double->string "
    "cast renders differently per engine and is deliberately excluded from "
    "every hash surface).",
    oracle="""
SELECT o_orderkey,
       md5(COALESCE(CAST(o_orderstatus AS VARCHAR),'')
           || COALESCE(CAST(o_orderpriority AS VARCHAR),'')
           || COALESCE(CAST(o_orderkey AS VARCHAR),'')) AS concat_hash,
       md5(concat_ws(chr(31),
           COALESCE(CAST(o_orderstatus AS VARCHAR),''),
           COALESCE(CAST(o_orderpriority AS VARCHAR),''),
           COALESCE(CAST(o_orderkey AS VARCHAR),''))) AS safe_hash,
       sha256(COALESCE(CAST(o_orderkey AS VARCHAR),'')
           || COALESCE(CAST(o_custkey AS VARCHAR),'')
           || COALESCE(CAST(o_orderstatus AS VARCHAR),'')
           || COALESCE(CAST(o_orderpriority AS VARCHAR),'')
           || COALESCE(CAST(o_orderdate AS VARCHAR),'')
           || COALESCE(CAST(o_orderkey AS VARCHAR),'')) AS ohlcv_style_hash,
       sha256(COALESCE(CAST(o_orderdate AS VARCHAR),'')
           || COALESCE(CAST(o_custkey AS VARCHAR),'')
           || COALESCE(CAST(o_orderstatus AS VARCHAR),'')) AS dividend_style_hash,
       sha256(concat_ws('|',
           COALESCE(lower(trim(o_orderpriority)), ''),
           COALESCE(lower(trim(o_orderstatus)), ''),
           COALESCE(CAST(o_custkey AS VARCHAR),''),
           COALESCE(strftime(o_orderdate, '%Y-%m-%d'),''),
           COALESCE(printf('%.6f', CAST(o_totalprice AS DOUBLE)),''))) AS normalized_key_hash
FROM orders
""",
)
def row_hash_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..hashing import (
        dividend_hash,
        normalized_key_hash,
        ohlcv_hash,
        row_hash_concat,
        row_hash_safe,
    )

    orders = table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_orderkey"]
    return orders.select(
        "o_orderkey",
        row_hash_concat(cols).alias("concat_hash"),
        row_hash_safe(cols).alias("safe_hash"),
        ohlcv_hash(
            open_col="o_orderkey",
            high_col="o_custkey",
            low_col="o_orderstatus",
            close_col="o_orderpriority",
            adj_close_col="o_orderdate",
            volume_col="o_orderkey",
        ).alias("ohlcv_style_hash"),
        dividend_hash(
            ex_date="o_orderdate", amount="o_custkey", type_col="o_orderstatus"
        ).alias("dividend_style_hash"),
        normalized_key_hash(
            ticker="o_orderpriority",
            asset_type="o_orderstatus",
            source="o_custkey",
            ex_date="o_orderdate",
            amount="o_totalprice",
        ).alias("normalized_key_hash"),
    )


@register(
    "string_compose_format",
    doc="The X13/X14/X16/X17 string kernels (parse.py) driver-checked per "
    "row: split/compose on a delimiter (split_ticker), fixed-point %.2f "
    "amount formatting (format_amount — the only sanctioned double->string "
    "path), default-fill on NULL (default_if_null over a synthesized NULL), "
    "and filename-stem extraction (filename_stem_ticker over a composed "
    "landing path). All narrow map-side expressions.",
    oracle=r"""
SELECT c_custkey,
       string_split(c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR), ':')[1] AS ticker_part,
       string_split(c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR), ':')[-1] AS currency_part,
       printf('%.2f', CAST(c_acctbal AS DOUBLE)) AS balance_fmt,
       COALESCE(nullif(c_mktsegment, 'FURNITURE'), 'DEFAULT') AS segment_defaulted,
       string_split(regexp_replace(string_split('landing/' || c_name || '_2024.csv', '/')[-1], '\.[^.]*$', ''), '_')[1] AS stem_ticker
FROM customer
""",
)
def string_compose_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..parse import default_if_null, filename_stem_ticker, format_amount, split_ticker

    cust = table(spark, sf_dir, "customer")
    composed = F.concat(F.col("c_mktsegment"), F.lit(":"), F.col("c_nationkey").cast("string"))
    path = F.concat(F.lit("landing/"), F.col("c_name"), F.lit("_2024.csv"))
    segment = F.nullif(F.col("c_mktsegment"), F.lit("FURNITURE"))
    ticker, currency = split_ticker("composed")
    return cust.withColumns({"composed": composed, "path": path, "segment": segment}).select(
        "c_custkey",
        ticker.alias("ticker_part"),
        currency.alias("currency_part"),
        format_amount("c_acctbal", 2).alias("balance_fmt"),
        default_if_null("segment", "DEFAULT").alias("segment_defaulted"),
        filename_stem_ticker("path").alias("stem_ticker"),
    )
