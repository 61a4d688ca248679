"""Custom Python Data Source (Spark 4 DataSource API): the CDC
envelope log as a first-class ``spark.read.format("cdc_envelope")``.

The reference's capture stack is config, not code (Debezium connector +
SMT chain, terraform/main.tf:221-266); this repo's expression-based
twin is ``cdc/generator.py``.  This module re-expresses that source
through Spark's pluggable-source seam so the engine exposes the same
integration surface a real connector would use:

- **partition planning**: ``partitions()`` splits the customer id
  space into ``slices`` ranges from the parquet min/max — each reader
  task generates only its range, so the source scales out like any
  file scan (and like Debezium's table snapshots chunk by key range);
- **filter pushdown**: ``pushFilters`` accepts equality predicates on
  ``op`` — ``.filter(col("op") == 'd')`` reaches the source, which
  then never materializes the insert/update branches at all (the
  Python-source analogue of Catalyst's PushedFilters);
- **determinism**: identical integer arithmetic to
  ``generate_envelope_log`` — the parity test equates the two row
  sets exactly, so every oracle derived for the generator holds for
  this source too.

Arrow note: rows are yielded as plain tuples (the simple-path API);
the batch path (yielding pyarrow RecordBatches) is the throughput
option once row width matters — envelope rows are ~6 scalar fields,
where tuple overhead is not the bottleneck at test scale.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schemas import CDC_ENVELOPE

BASE_EPOCH = 1_704_067_200  # 2024-01-01 00:00:00 UTC, same as generator.py
BASE_MS = BASE_EPOCH * 1000


class IdRangePartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


def _phone(cid: int, mult: int) -> str:
    return "+1-" + str(cid * mult % 10_000_000).zfill(7)


def _email(name: str) -> str:
    import re

    return re.sub(r"[^A-Za-z0-9]+", ".", name).lower() + "@example.com"


def _row(cid: int, name: str, phone_mult: int):
    return (
        cid,
        name,
        _email(name),
        _phone(cid, phone_mult),
        "public" if cid % 2 == 0 else "private",
        datetime.fromtimestamp(BASE_EPOCH + cid, tz=timezone.utc).replace(
            tzinfo=None
        ),
    )


class CdcEnvelopeReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path") or options.get("sf_dir")
        if path is None:
            raise ValueError(
                "cdc_envelope requires .option('path', <sf_dir or "
                "customer.parquet>)"
            )
        self.path = (
            path if path.endswith(".parquet") else f"{path.rstrip('/')}/customer.parquet"
        )
        self.slices = int(options.get("slices", 8))
        self.op_filter: str | None = None

    def pushFilters(self, filters):  # noqa: N802 - API name
        remaining = []
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("op",)
                and isinstance(f.value, str)
            ):
                self.op_filter = f.value
            else:
                remaining.append(f)
        return remaining

    def partitions(self) -> Sequence[InputPartition]:
        import pyarrow.parquet as pq

        ids = pq.read_table(self.path, columns=["c_custkey"])[
            "c_custkey"
        ].to_pylist()
        if not ids:
            return [IdRangePartition(0, 0)]
        lo, hi = min(ids), max(ids) + 1
        step = max(1, (hi - lo + self.slices - 1) // self.slices)
        return [
            IdRangePartition(a, min(a + step, hi))
            for a in range(lo, hi, step)
        ]

    def read(self, partition: IdRangePartition) -> Iterator[tuple]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.read_table(self.path, columns=["c_custkey", "c_name"])
        mask = pc.and_(
            pc.greater_equal(tbl["c_custkey"], partition.lo),
            pc.less(tbl["c_custkey"], partition.hi),
        )
        tbl = tbl.filter(mask)
        want = self.op_filter
        for cid, name in zip(
            tbl["c_custkey"].to_pylist(), tbl["c_name"].to_pylist(),
            strict=True,
        ):
            cid = int(cid)
            v1 = _row(cid, name, 7919)
            if want in (None, "c"):
                ins = ("c", None, v1, BASE_MS + cid * 1000, "customer", cid * 10)
                yield ins
                if cid % 11 == 0:  # at-least-once replay duplicate
                    yield ins
            if cid % 3 == 0 and want in (None, "u"):
                yield (
                    "u",
                    v1,
                    _row(cid, name, 104729),
                    BASE_MS + cid * 1000 + 500_000,
                    "customer",
                    cid * 10 + 1,
                )
            if cid % 7 == 0 and want in (None, "d"):
                before = _row(cid, name, 104729 if cid % 3 == 0 else 7919)
                yield (
                    "d",
                    before,
                    None,
                    BASE_MS + cid * 1000 + 900_000,
                    "customer",
                    cid * 10 + 2,
                )


class CdcEnvelopeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdc_envelope"

    def schema(self) -> StructType:
        return CDC_ENVELOPE

    def reader(self, schema) -> CdcEnvelopeReader:
        return CdcEnvelopeReader(self.options)


def register_cdc_envelope_source(spark) -> None:
    """Idempotently register the format with a SparkSession.

    Python-source filter pushdown ships behind a flag in Spark 4.1
    (readers that implement pushFilters error without it); it is a
    runtime-settable SQL conf, so flip it here where the capability
    is actually used rather than in session defaults."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CdcEnvelopeDataSource)
