"""Explicit schemas for every data shape in the engine.

The reference declares its schema at every layer (DDL in
terraform/setup_cdc.pgsql:2-9, OpenSearch mapping in
consumer_to_opensearch.py:15-30, schemaless JSON on the wire with
schema-on-read at the consumer).  We do the same: no inference in engine
paths — parquet is self-describing, JSON wire shapes get explicit
StructTypes for ``from_json``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference OLTP row: public.customer (terraform/setup_cdc.pgsql:2-9)
# id SERIAL PK | full_name TEXT NOT NULL | email TEXT UNIQUE NOT NULL |
# phone TEXT | classification VARCHAR(10) CHECK IN ('public','private') |
# created_at TIMESTAMPTZ DEFAULT now()
# ---------------------------------------------------------------------------
CDC_CUSTOMER = T.StructType(
    [
        T.StructField("id", T.IntegerType(), nullable=False),
        T.StructField("full_name", T.StringType(), nullable=False),
        T.StructField("email", T.StringType(), nullable=False),
        T.StructField("phone", T.StringType(), nullable=True),
        T.StructField("classification", T.StringType(), nullable=False),
        T.StructField("created_at", T.TimestampType(), nullable=False),
    ]
)

# Raw Debezium envelope (pre-SMT; reference peek.py:21-24 and the shape
# documented at consumer_to_opensearch.py:79-81): {before, after, op, ts_ms}.
CDC_ENVELOPE = T.StructType(
    [
        T.StructField("op", T.StringType(), nullable=False),  # 'c' | 'u' | 'd'
        T.StructField("before", CDC_CUSTOMER, nullable=True),
        T.StructField("after", CDC_CUSTOMER, nullable=True),
        T.StructField("ts_ms", T.LongType(), nullable=False),
        T.StructField("source_table", T.StringType(), nullable=False),
        T.StructField("seq", T.LongType(), nullable=False),  # in-key tiebreak
    ]
)

# Post-SMT wire record (reference terraform/main.tf:253-264: unwrap +
# delete-rewrite + ValueToKey + schemaless JsonConverter) is
# (key_json, value_json, partition, offset), built by ``cdc.algebra.to_wire``.
# value_json is the flattened row (+"__deleted":"true" on deletes) or NULL
# (tombstone); these are its schema-on-read structs
# (consumer_to_opensearch.py:87-92).
CDC_WIRE_VALUE = T.StructType(
    list(CDC_CUSTOMER.fields)
    + [T.StructField("__deleted", T.StringType(), nullable=True)]
)

CDC_WIRE_KEY = T.StructType([T.StructField("id", T.IntegerType(), nullable=False)])

# ---------------------------------------------------------------------------
# Driver test tables (/root/testdata/sf*/; verified against parquet footers,
# see FIXTURES.md).  Used for column assertions — parquet itself is the
# source of truth for reads.
# ---------------------------------------------------------------------------
TESTDATA_COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

TABLE_NAMES = list(TESTDATA_COLUMNS)
