from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

QueryFn = Callable[[SparkSession, str], DataFrame]


def _s(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


#: Pinned read schemas for the 10 fixture tables (r16 optimization, guide
#: §1.2/§5: planning work is driver-side, single-threaded cost). Without a
#: schema every ``spark.read.parquet`` runs a footer-inference job —
#: measured ~95 ms per call at sf0.1 vs ~20 ms with the schema supplied, and
#: multi-table queries pay it once PER TABLE (regional_supplier_volume:
#: 6 reads ≈ 0.45 s of its 0.89 s wall). Production reads at 100 TB carry a
#: catalog/metastore schema for exactly this reason; inference is a dev
#: convenience. The dict is the read CONTRACT, not a cache: every byte still
#: comes from the parquet inputs at execution time. Values were derived by
#: inference under the session's pinned confs and verified identical across
#: sf0.001/sf0.01/sf0.1/sf1 (events.ts infers TimestampType because
#: ``inferTimestampNTZ`` is disabled session-wide — see
#: ``session.normalize_session``; pinning TimestampType takes the same
#: NTZ-as-UTC-instant read path, and ``normalize_event_ts`` still keys off
#: the observed dtype so a foreign fixture stays correct). Unknown table
#: names fall back to inference unchanged.
_L, _I, _D2, _STR, _TS = T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType(), T.TimestampType()
FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": _s(("r_regionkey", _I), ("r_name", _STR)),
    "nation": _s(("n_nationkey", _I), ("n_name", _STR), ("n_regionkey", _I)),
    "customer": _s(
        ("c_custkey", _L), ("c_name", _STR), ("c_nationkey", _I),
        ("c_acctbal", _D2), ("c_mktsegment", _STR),
    ),
    "supplier": _s(("s_suppkey", _L), ("s_name", _STR), ("s_nationkey", _I), ("s_acctbal", _D2)),
    "part": _s(
        ("p_partkey", _L), ("p_name", _STR), ("p_brand", _STR),
        ("p_type", _STR), ("p_size", _I), ("p_retailprice", _D2),
    ),
    "orders": _s(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _STR),
        ("o_totalprice", _D2), ("o_orderdate", _TS), ("o_orderpriority", _STR),
    ),
    "lineitem": _s(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D2), ("l_extendedprice", _D2),
        ("l_discount", _D2), ("l_tax", _D2), ("l_returnflag", _STR),
        ("l_linestatus", _STR), ("l_shipdate", _TS),
    ),
    "events": _s(
        ("event_id", _L), ("ts", _TS), ("user_id", _L),
        ("event_type", _STR), ("value", _D2), ("props", _STR),
    ),
    "documents": _s(
        ("doc_id", _L), ("text", _STR), ("lang", _STR),
        ("source", _STR), ("n_chars", _L),
    ),
    "embeddings": _s(
        ("vec_id", _L),
        ("embedding", T.ArrayType(T.FloatType(), True)),
        ("label", _I),
    ),
}


@dataclass
class QuerySpec:
    name: str
    spark: QueryFn
    oracle: str | None
    headline: bool = False
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, headline: bool = False, doc: str = ""):
    """Decorator: add a query to the catalog."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # a silent overwrite would un-gate the shadowed query: the name
            # stays registered, so nothing downstream could notice the
            # first query vanished
            raise ValueError(f"catalog query {name!r} is already registered")
        QUERIES[name] = QuerySpec(name=name, spark=fn, oracle=oracle, headline=headline, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a fixture table. The session is normalized (UTC) via
    :func:`fund_data_pipeline_spark.session.normalize_session` — sessions from
    :func:`get_spark` are already normalized at build; for a harness-owned
    session this is the single defensive entry point, unconditional on every
    call so read behavior never depends on table order. The events ``ts``
    column is normalized to TimestampType structurally
    (:func:`~fund_data_pipeline_spark.session.normalize_event_ts`) so every
    downstream query sees one dtype regardless of Spark version."""
    from ..session import normalize_event_ts, normalize_session

    normalize_session(spark)
    reader = spark.read
    schema = FIXTURE_SCHEMAS.get(name)
    if schema is not None:
        # skip the per-read footer-inference job (see FIXTURE_SCHEMAS doc)
        reader = reader.schema(schema)
    df = reader.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df
