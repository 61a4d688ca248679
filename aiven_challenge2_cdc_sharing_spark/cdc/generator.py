"""Deterministic CDC event-log generator.

Plays the role of the reference's write workload + capture stack
(producer_insert.py:11-94 driving Postgres, Debezium emitting envelopes —
see SURVEY.md §3.1), but fully deterministic and expressed as pure column
functions of the driver ``customer`` test table, so a SQL oracle can
derive the exact same log and expected snapshot independently.

Workload (mirrors producer_insert.py semantics):
- INSERT one row per customer          (op 'c'; producer_insert.py:27-34)
- UPDATE phone for ids % 3 == 0        (op 'u'; producer_insert.py:60-64
                                        updates exactly the phone column)
- DELETE rows with ids % 7 == 0        (op 'd'; producer_insert.py:89)
- duplicate replay of inserts for ids % 11 == 0 (at-least-once delivery,
  consumer auto-commit semantics — consumer_to_opensearch.py:61)

All timestamps/derived values are integer arithmetic on ``id`` — no rand,
no clock — so the log is identical across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

BASE_EPOCH = 1_704_067_200  # 2024-01-01 00:00:00 UTC
BASE_MS = BASE_EPOCH * 1000

# SQL fragments shared with the oracle (tests assert parity); {id} is the
# key expression so the same template renders against either column name.
_PHONE_TMPL = "concat('+1-', lpad(cast(cast({id} as bigint) * {mult} % 10000000 as string), 7, '0'))"
_PHONE_V1 = _PHONE_TMPL.format(id="id", mult=7919)
_PHONE_V2 = _PHONE_TMPL.format(id="id", mult=104729)


def generate_customer_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial OLTP rows (reference schema setup_cdc.pgsql:2-9), derived
    deterministically from the driver ``customer`` table."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").cast("int").alias("id"),
        F.col("c_name").alias("full_name"),
        F.concat(
            F.lower(F.regexp_replace("c_name", "[^A-Za-z0-9]+", ".")),
            F.lit("@example.com"),
        ).alias("email"),
        F.expr(_PHONE_TMPL.format(id="c_custkey", mult=7919)).alias("phone"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("public"))
        .otherwise(F.lit("private"))
        .alias("classification"),
        F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("c_custkey").cast("long")).alias(
            "created_at"
        ),
    )


def _row_struct(df: DataFrame, phone_expr: str):
    return F.struct(
        F.col("id"),
        F.col("full_name"),
        F.col("email"),
        F.expr(phone_expr).alias("phone"),
        F.col("classification"),
        F.col("created_at"),
    )


def generate_envelope_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-envelope change log (schema schemas.CDC_ENVELOPE, shape per
    consumer_to_opensearch.py:79-81: {op, before, after, ts_ms})."""
    rows = generate_customer_rows(spark, sf_dir)

    inserts = rows.select(
        F.lit("c").alias("op"),
        F.lit(None).cast("struct<id:int,full_name:string,email:string,phone:string,classification:string,created_at:timestamp>").alias("before"),
        _row_struct(rows, _PHONE_V1).alias("after"),
        (F.lit(BASE_MS) + F.col("id").cast("long") * 1000).alias("ts_ms"),
        F.lit("customer").alias("source_table"),
        (F.col("id").cast("long") * 10).alias("seq"),
    )

    updated = rows.filter(F.col("id") % 3 == 0)
    updates = updated.select(
        F.lit("u").alias("op"),
        _row_struct(updated, _PHONE_V1).alias("before"),
        _row_struct(updated, _PHONE_V2).alias("after"),
        (F.lit(BASE_MS) + F.col("id").cast("long") * 1000 + 500_000).alias("ts_ms"),
        F.lit("customer").alias("source_table"),
        (F.col("id").cast("long") * 10 + 1).alias("seq"),
    )

    deleted = rows.filter(F.col("id") % 7 == 0)
    deletes = deleted.select(
        F.lit("d").alias("op"),
        F.when(F.col("id") % 3 == 0, _row_struct(deleted, _PHONE_V2))
        .otherwise(_row_struct(deleted, _PHONE_V1))
        .alias("before"),
        F.lit(None).cast("struct<id:int,full_name:string,email:string,phone:string,classification:string,created_at:timestamp>").alias("after"),
        (F.lit(BASE_MS) + F.col("id").cast("long") * 1000 + 900_000).alias("ts_ms"),
        F.lit("customer").alias("source_table"),
        (F.col("id").cast("long") * 10 + 2).alias("seq"),
    )

    # at-least-once replay duplicates (identical payload, identical seq)
    replays = inserts.filter(F.col("after.id") % 11 == 0)

    return inserts.unionByName(updates).unionByName(deletes).unionByName(replays)
