"""Pandas-UDF surface (SURVEY.md §2.10).

The engine's rule: built-in JVM expressions first; when Python is
genuinely needed (numpy/vectorized math, external libraries), it must
be Arrow-batched — scalar ``pandas_udf``, grouped ``applyInPandas`` —
never row-at-a-time ``udf``.  The reference's consumer loop
(consumer_to_opensearch.py:67-96) is morally a row-at-a-time UDF; these
are its vectorized replacements.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.DoubleType())
def pairwise_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Two-column scalar pandas_udf: row-wise cosine(a_i, b_i) for a
    whole Arrow batch at once (einsum row-dot + vectorized norms).

    This is the shape that keeps a multi-query similarity scan single-
    pass: crossJoin the fact table with the *broadcast* query set and
    score each (vector, query) row here — no driver-side collect of
    query vectors, no per-query plan branch, plan size O(1) in the
    number of queries."""
    mat_a = np.stack(a.apply(lambda v: np.asarray(v, dtype=np.float64)))
    mat_b = np.stack(b.apply(lambda v: np.asarray(v, dtype=np.float64)))
    num = np.einsum("ij,ij->i", mat_a, mat_b)
    denom = np.linalg.norm(mat_a, axis=1) * np.linalg.norm(mat_b, axis=1)
    return pd.Series(num / denom)


@F.pandas_udf(T.DoubleType())
def mean_vector_norm(emb: pd.Series) -> float:
    """GROUPED-AGG pandas_udf (Series -> scalar): mean L2 norm of a
    group's embeddings, one numpy reduction per group.  Per-row norms
    are rounded to 6dp before averaging so the cross-engine oracle
    compare is immune to summation-order last-bit drift."""
    mat = np.stack(emb.apply(lambda v: np.asarray(v, dtype=np.float64)))
    return float(np.sqrt((mat * mat).sum(axis=1)).round(6).mean())


def label_centroids(embeddings: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label", dim: int = 64) -> DataFrame:
    """Grouped-map applyInPandas: per-label mean vector (centroid).

    Arrow moves each group as one batch; numpy reduces it.  At scale
    the shuffle is by label (small cardinality) — for skewed labels,
    pre-aggregate partial sums per partition first (same pattern as
    salted aggregation)."""
    out_schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("centroid", T.ArrayType(T.DoubleType())),
        ]
    )

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
        return pd.DataFrame(
            {
                "label": [int(pdf[label_col].iloc[0])],
                "n": [len(pdf)],
                "centroid": [mat.mean(axis=0).tolist()],
            }
        )

    return embeddings.groupBy(label_col).applyInPandas(centroid, out_schema)


def source_stats_arrow(docs):
    """Per-source doc-length stats via ``applyInArrow`` — the
    Arrow-native grouped path (Spark 4), completing the Python API
    matrix next to pandas_udf / applyInPandas / mapInPandas /
    grouped-agg / UDTF.  The group's batches arrive as a
    ``pyarrow.Table`` and never materialize a pandas object, so
    there's no BlockManager copy on either side of the fence —
    the right call when the per-group logic is itself expressible
    in Arrow compute kernels (here: count/mean/stddev/minmax of
    n_chars).  Stats here are also JVM-expressible, which is
    deliberate: the DuckDB oracle pins the Arrow path's results
    against plain SQL, proving the API wiring rather than novel
    math."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # NOTE: no type annotations on the callback — PySpark resolves
    # annotation strings against the module namespace, and pyarrow is
    # imported locally here, so "pa.Table" hints make the eval-type
    # inference crash with an UnboundLocalError
    def stats(key, tbl):
        col = tbl["n_chars"]
        n = tbl.num_rows
        return pa.table(
            {
                "source": [key[0].as_py()],
                "n_docs": pa.array([n], pa.int64()),
                "mean_chars": pa.array(
                    [round(pc.mean(col).as_py(), 4)], pa.float64()
                ),
                "sd_chars": pa.array(
                    [
                        round(pc.stddev(col, ddof=1).as_py(), 4)
                        if n > 1
                        else None
                    ],
                    pa.float64(),
                ),
                "min_chars": pa.array(
                    [pc.min(col).as_py()], pa.int64()
                ),
                "max_chars": pa.array(
                    [pc.max(col).as_py()], pa.int64()
                ),
            }
        )

    return docs.groupBy("source").applyInArrow(
        stats,
        schema=(
            "source string, n_docs long, mean_chars double, "
            "sd_chars double, min_chars long, max_chars long"
        ),
    )
