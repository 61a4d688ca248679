"""Connected-components dedup clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.operators.clustering import (
    connected_components,
    dedup_clusters,
)


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3), pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_dedup_clusters_survivors(spark):
    docs = spark.range(1, 8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(2, 3), (3, 4)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["cluster_id"], r["is_survivor"])
           for r in dedup_clusters(docs, pairs).collect()}
    # 2,3,4 cluster under min id 2; everything else is its own survivor
    assert out[2] == (2, True) and out[3] == (2, False) and out[4] == (2, False)
    for singleton in (1, 5, 6, 7):
        assert out[singleton] == (singleton, True)
