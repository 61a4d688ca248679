"""CDC transform algebra — the reference's SMT chain as pure
DataFrame -> DataFrame functions (SURVEY.md §2.2).

Every function here is batch/stream agnostic: the same code runs under
``spark.read`` and ``spark.readStream`` (Structured Streaming's core
contract), which is how the reference's config-level SMTs
(terraform/main.tf:253-264) become real, testable operators.

Fixes the reference's two latent consumer bugs by construction:
- bug A (consumer_to_opensearch.py:79-84): deletes are detected from the
  envelope ``op``/``__deleted`` flag, not a dead-code branch;
- bug B (consumer_to_opensearch.py:74): the key id is extracted from the
  key JSON *struct*, never via ``int(raw_bytes)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import CDC_WIRE_KEY, CDC_WIRE_VALUE

META_COLS = ("__deleted", "ts_ms", "seq")


def filter_source_table(envelopes: DataFrame, table: str = "customer") -> DataFrame:
    """P5 — source-side include-list (terraform/main.tf:250; publication
    FOR TABLE, setup_cdc.pgsql:35).  A plain filter: Catalyst pushes it
    into the scan."""
    return envelopes.filter(F.col("source_table") == table)


def _image(deleted: Column) -> Column:
    """after-image for upserts, before-image for deletes — the rewrite
    semantics of ExtractNewRecordState + delete.handling.mode=rewrite
    (terraform/main.tf:254-256)."""
    return F.when(deleted, F.col("before")).otherwise(F.col("after"))


def unwrap(envelopes: DataFrame) -> DataFrame:
    """P1+P2 — envelope {op,before,after} -> flattened row image with a
    ``__deleted`` flag, keeping (ts_ms, seq) for ordering.

    Equivalent to Debezium ExtractNewRecordState with
    delete.handling.mode=rewrite (terraform/main.tf:253-256), expressed
    as a projection Catalyst can prune through.
    """
    deleted = F.col("op") == "d"
    img = _image(deleted)
    return envelopes.select(
        img.alias("row"),
        deleted.alias("__deleted"),
        F.col("ts_ms"),
        F.col("seq"),
    ).select("row.*", "__deleted", "ts_ms", "seq")


def extract_key(unwrapped: DataFrame, key_col: str = "id") -> DataFrame:
    """P3 — ValueToKey (terraform/main.tf:257-258): materialize the key
    column; callers repartition by it for per-key ordered apply."""
    return unwrapped.withColumn("__key", F.col(key_col))


N_WIRE_PARTITIONS = 4


def to_wire(unwrapped: DataFrame, n_partitions: int = N_WIRE_PARTITIONS) -> DataFrame:
    """S4 — serialize to the post-SMT wire shape (schemas.CDC_WIRE):
    JSON key {"id":N}, JSON flattened value (deletes keep the row with
    "__deleted":"true" per delete.handling.mode=rewrite), plus a trailing
    tombstone record per delete (drop.tombstones=false,
    terraform/main.tf:255).

    Partition/offset model Kafka's actual contract: records hash to a
    partition BY KEY (so one key's history lives on one partition) and
    ``offset`` is a strictly monotonic per-partition sequence — a
    row_number over (ts_ms, seq, id), doubled so each delete's trailing
    tombstone takes the odd slot right after it.  Round 1 fabricated
    ``ts_ms*10 + seq%10``, which can collide for equal-ts events (and
    the tombstone +1 silently assumed seq%10 < 9); offsets are now
    unique and ordered per partition by construction, and the window
    parallelism equals the partition count instead of a global sort."""
    payload_cols = [c for c in unwrapped.columns if c not in META_COLS]
    value = F.to_json(
        F.struct(
            *[F.col(c) for c in payload_cols],
            F.when(F.col("__deleted"), F.lit("true")).alias("__deleted"),
        )
    )
    w = Window.partitionBy("partition").orderBy("ts_ms", "seq", "id")
    base = (
        unwrapped.withColumn(
            "partition",
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_partitions)).cast("int"),
        )
        .withColumn("__rn", F.row_number().over(w))
    )
    records = base.select(
        F.to_json(F.struct(F.col("id"))).alias("key_json"),
        value.alias("value_json"),
        F.col("partition"),
        (F.col("__rn") * 2).cast("long").alias("offset"),
    )
    tombstones = base.filter(F.col("__deleted")).select(
        F.to_json(F.struct(F.col("id"))).alias("key_json"),
        F.lit(None).cast("string").alias("value_json"),
        F.col("partition"),
        (F.col("__rn") * 2 + 1).cast("long").alias("offset"),
    )
    return records.unionByName(tombstones)


# the flattened payload columns, in row order; ``id`` comes from the key
_PAYLOAD = [f.name for f in CDC_WIRE_VALUE.fields if f.name not in ("id", "__deleted")]


def _parse_wire(wire: DataFrame) -> DataFrame:
    """The one schema-on-read parse of the wire shape: key and value
    structs beside the raw JSON they came from."""
    return wire.select(
        F.from_json("key_json", CDC_WIRE_KEY).alias("k"),
        F.from_json("value_json", CDC_WIRE_VALUE).alias("v"),
        "key_json",
        "value_json",
        "offset",
    )


def _wire_rows(parsed: DataFrame) -> DataFrame:
    """Parsed wire records -> flattened rows + ``__deleted`` + ``offset``."""
    deleted = F.col("value_json").isNull() | F.coalesce(
        F.col("v.__deleted") == "true", F.lit(False)
    )
    return parsed.select(
        F.col("k.id").alias("id"),
        *[F.col(f"v.{c}").alias(c) for c in _PAYLOAD],
        deleted.alias("__deleted"),
        "offset",
    )


def from_wire(wire: DataFrame) -> DataFrame:
    """S3 — schema-on-read of the wire shape back into flattened rows.

    Tombstones (value IS NULL — P4 routing, consumer_to_opensearch.py:70-77)
    become delete markers carrying only the key; the id always comes from
    the parsed key struct (fixing latent bug B).
    """
    return _wire_rows(_parse_wire(wire))


def from_wire_quarantine(wire: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S3 hardened: split wire records into (decoded, quarantined).

    A record whose value_json is present but unparseable (or whose key
    is missing/unparseable) is quarantined instead of decoded into an
    all-NULL row — an all-NULL row carries a NULL key and, worse, a
    *parseable key with garbage payload* would overwrite good state on
    MERGE.  Tombstones (value IS NULL) remain valid records.
    """
    parsed = _parse_wire(wire)
    bad = F.col("k.id").isNull() | (
        F.col("value_json").isNotNull() & F.col("v.id").isNull()
    )
    quarantined = parsed.filter(bad).select("key_json", "value_json", "offset")
    return _wire_rows(parsed.filter(~bad)), quarantined


def route_ops(unwrapped: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P6 — op-type dispatch (consumer_to_opensearch.py:70-96): split into
    (upserts, deletes).  Set-oriented: both halves are lazy filters over
    the same scan, no driver-side loop."""
    upserts = unwrapped.filter(~F.col("__deleted"))
    deletes = unwrapped.filter(F.col("__deleted"))
    return upserts, deletes


def check_constraints(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P7 — the CHECK/NOT NULL constraints of setup_cdc.pgsql:3-8 as a
    (valid, quarantined) split."""
    valid_pred = (
        F.col("classification").isin("public", "private")
        & F.col("full_name").isNotNull()
        & F.col("email").isNotNull()
    )
    return rows.filter(valid_pred), rows.filter(~valid_pred)


def union_evolving_logs(*logs: DataFrame) -> DataFrame:
    """Schema-evolution union for envelope logs: later capture epochs
    may carry MORE columns in their before/after images (the ALTER
    TABLE ADD COLUMN case Debezium streams through transparently —
    its value schema just grows).  ``unionByName(allowMissingColumns)``
    recurses into the nested structs, NULL-filling the missing fields
    of earlier epochs, so one ``unwrap`` downstream flattens every
    epoch into the WIDEST row shape and last-writer-wins snapshots
    carry the evolved schema with NULLs where history predates the
    column — exactly Postgres' own semantics for rows that were never
    updated after the ALTER.

    Cites reference behavior: the connector config
    (terraform/main.tf:250-258) pins no value schema — OpenSearch's
    dynamic mapping absorbed new fields silently; here the evolution
    is explicit, typed, and testable.
    """
    out = logs[0]
    for nxt in logs[1:]:
        out = out.unionByName(nxt, allowMissingColumns=True)
    return out
