"""Explicit StructType schemas for every table the engine touches.

Fixed, DDL-style schemas, mirroring the reference's create-if-not-exists DDL
strings (etl_script_incremental_pandas.py:43-66) and the four columns its delta
query reads (etl_script_incremental_pandas.py:121); SURVEY.md §1.3.

``SOURCE_SCHEMAS`` maps each parquet source with a fixed encoding to the
schema ``sources.parquet.load_table`` reads it with, so no read runs Spark's
schema-inference job. Each fixture declaration is the schema Spark infers from
the files, proven per sf dir by
``tests/test_encoding_contract.py::test_declared_schema_matches_files``; ``events``
has no entry because its timestamp encoding varies (see
``sources.parquet.normalize_event_ts``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# --- reference-parity tables (SURVEY.md §1.3) ---------------------------------

# Source fact table: the four columns the reference reads
# (etl_script_incremental_pandas.py:121). LongType ids for 100 TB headroom.
RENTAL = StructType(
    [
        StructField("rental_id", LongType(), nullable=False),
        StructField("rental_date", TimestampType(), nullable=False),
        StructField("return_date", TimestampType(), nullable=True),
        StructField("last_update", TimestampType(), nullable=False),
    ]
)

# Target summary table (etl_script_incremental_pandas.py:44-51). Column names are
# preserved case-exactly, incl. the camel-case quoted ones.
WEEKLY_RENTAL_SUMMARY = StructType(
    [
        StructField("week_beginning", DateType(), nullable=False),
        StructField("OutstandingRentals", IntegerType(), nullable=True),
        StructField("ReturnedRentals", IntegerType(), nullable=True),
        StructField("newly_rented_during_week", IntegerType(), nullable=True),
        StructField("net_change_in_outstanding", IntegerType(), nullable=True),
        StructField("last_updated", TimestampType(), nullable=True),
    ]
)

# Watermark state table (etl_script_incremental_pandas.py:59-62).
ETL_WATERMARKS = StructType(
    [
        StructField("process_name", StringType(), nullable=False),
        StructField("last_successful_update_timestamp", TimestampType(), nullable=True),
    ]
)

# --- driver fixture tables (/root/testdata, TESTDATA.md) ----------------------
# Fixture timestamps are parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
# which Spark reads as TIMESTAMP_NTZ.

REGION = StructType(
    [
        StructField("r_regionkey", IntegerType()),
        StructField("r_name", StringType()),
    ]
)

NATION = StructType(
    [
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]
)

CUSTOMER = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)

SUPPLIER = StructType(
    [
        StructField("s_suppkey", LongType()),
        StructField("s_name", StringType()),
        StructField("s_nationkey", IntegerType()),
        StructField("s_acctbal", DoubleType()),
    ]
)

PART = StructType(
    [
        StructField("p_partkey", LongType()),
        StructField("p_name", StringType()),
        StructField("p_brand", StringType()),
        StructField("p_type", StringType()),
        StructField("p_size", IntegerType()),
        StructField("p_retailprice", DoubleType()),
    ]
)

ORDERS = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampNTZType()),
        StructField("o_orderpriority", StringType()),
    ]
)

LINEITEM = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampNTZType()),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

# The shape ``load_table`` returns for ``events`` after normalize_event_ts;
# not a read schema, since the on-disk ``ts`` encoding varies.
EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Read schemas for load_table: the ETL source contract plus every fixture table
# but ``events``.
SOURCE_SCHEMAS: dict[str, StructType] = {
    "rental": RENTAL,
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
