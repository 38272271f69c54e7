"""Explicit schemas for every table the engine touches.

The reference declares its sink schema as DDL
(``/root/reference/src/main/resources/schema.sql:1-21``) and maps CSV
ordinals positionally (``NytimesBatchProcessorApplication.kt:126-128,
164-166``). The engine keeps that discipline: **never inferSchema** — at
100 TB an inference pass is a full extra scan of the data.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Family A — the reference's COVID tables (schema.sql:1-9 and :12-21).
# CSV layout (positional): date, state, fips, cases, deaths
# and               date, county, state, fips, cases, deaths.
# fips is nullable AND part of the unique key; the reference writes -1 for
# null at the sink (…kt:133,171) so Postgres' unique index dedups it.
# ---------------------------------------------------------------------------

COVID_STATES_CSV = T.StructType(
    [
        T.StructField("date", T.StringType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("fips", T.StringType(), True),
        T.StructField("cases", T.LongType(), False),
        T.StructField("deaths", T.LongType(), False),
    ]
)

COVID_COUNTIES_CSV = T.StructType(
    [
        T.StructField("date", T.StringType(), False),
        T.StructField("county", T.StringType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("fips", T.StringType(), True),
        T.StructField("cases", T.LongType(), False),
        T.StructField("deaths", T.LongType(), False),
    ]
)

# Typed (post-ingest) shapes — mirror schema.sql types: timestamp->date
# intent (see SURVEY.md §1.2 on the reference's date bug), bigint counters.
COVID_STATES = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("fips", T.IntegerType(), True),
        T.StructField("cases", T.LongType(), False),
        T.StructField("deaths", T.LongType(), False),
    ]
)

COVID_COUNTIES = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("county", T.StringType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("fips", T.IntegerType(), True),
        T.StructField("cases", T.LongType(), False),
        T.StructField("deaths", T.LongType(), False),
    ]
)

COVID_STATES_KEYS = ["date", "state", "fips"]
COVID_COUNTIES_KEYS = ["date", "county", "state", "fips"]

# ---------------------------------------------------------------------------
# Family B — the star-schema fixtures (TESTDATA.md). Declared
# as DDL, like the reference's schema.sql, and passed on every read by
# sources/readers.py, so no read starts Spark's footer-inference job. The
# types are what the parquet files hold at every SF: timestamps are
# naive microsecond TIMESTAMP (isAdjustedToUTC=false), which Spark reads
# as TIMESTAMP_NTZ. tests/test_schemas.py checks each entry against the
# schema Spark infers from every fixture directory present.
# ---------------------------------------------------------------------------

FIXTURE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
