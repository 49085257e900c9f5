"""Explicit StructType schemas.

The reference reads every CSV with ``inferSchema=true`` which costs a full
extra scan per read (``FullPreprocessingPipeline.java:43-46``,
``ChurnPrediction.java:58-62``) — SURVEY §4.3.2 flags this as an
anti-pattern.  The rebuild declares schemas explicitly: one set for the
reference's native Dunnhumby logical model (FIXTURES.md §A) and one for the
driver's TPC-H-ish testdata star schema (FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver testdata star schema (tests/test_schemas.py checks every footer)
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# Tables small enough to broadcast at ANY scale factor (dimension tables
# whose cardinality does not grow with fact data — TPC-H keeps nation/region
# constant; supplier/part/customer grow LINEARLY with scale factor but
# stay 1-2 orders of magnitude smaller than the fact tables).  Used by
# sources.read_table, which attaches the broadcast hint ONLY while the
# table's on-disk size is under BROADCAST_MAX_BYTES — at a scale where
# customer/part are multi-GB the hint silently drops off and Catalyst
# falls back to shuffle joins (a forced broadcast of a TB dimension
# would exceed Spark's broadcast limit and OOM executors).
BROADCASTABLE_TABLES = {"region", "nation", "supplier", "part", "customer"}
BROADCAST_MAX_BYTES = 256 << 20

# ---------------------------------------------------------------------------
# Reference-native Dunnhumby logical model (FIXTURES.md §A)
# ---------------------------------------------------------------------------

TRANSACTION_DATA = T.StructType(
    [
        T.StructField("household_key", T.IntegerType()),
        T.StructField("basket_id", T.LongType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("product_id", T.IntegerType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("sales_value", T.DoubleType()),
        T.StructField("store_id", T.IntegerType()),
        T.StructField("retail_disc", T.DoubleType()),
        T.StructField("trans_time", T.StringType()),
        T.StructField("week_no", T.IntegerType()),
        T.StructField("coupon_disc", T.DoubleType()),
        T.StructField("coupon_match_disc", T.DoubleType()),
    ]
)

PRODUCT = T.StructType(
    [
        T.StructField("product_id", T.IntegerType()),
        T.StructField("manufacturer", T.StringType()),
        T.StructField("department", T.StringType()),
        T.StructField("brand", T.StringType()),
        T.StructField("commodity_desc", T.StringType()),
        T.StructField("sub_commodity_desc", T.StringType()),
    ]
)

HH_DEMOGRAPHIC = T.StructType(
    [
        T.StructField("household_key", T.IntegerType()),
        T.StructField("age_desc", T.StringType()),
        T.StructField("marital_status_code", T.StringType()),
        T.StructField("income_desc", T.StringType()),
        T.StructField("homeowner_desc", T.StringType()),
        T.StructField("hh_comp_desc", T.StringType()),
        T.StructField("household_size_desc", T.StringType()),
        T.StructField("kid_category_desc", T.StringType()),
    ]
)

COUPON_REDEMPT = T.StructType(
    [
        T.StructField("household_key", T.IntegerType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("coupon_upc", T.StringType()),
        T.StructField("campaign", T.IntegerType()),
    ]
)

DUNNHUMBY_SCHEMAS: dict[str, T.StructType] = {
    "transaction_data": TRANSACTION_DATA,
    "product": PRODUCT,
    "hh_demographic": HH_DEMOGRAPHIC,
    "coupon_redempt": COUPON_REDEMPT,
}
