"""Arrow-vectorized similarity kernels (mapInPandas + numpy).

The query registry keeps every hot path JVM-side (tests/test_plans.py
forbids Python there) because row-at-a-time Python is the classic Spark
anti-pattern. Dense linear algebra is the one workload where that default
flips: a 64-dim dot product as a Catalyst higher-order fold is interpreted
per element, while numpy does the same block as one BLAS matmul on an
Arrow batch. This module provides that deliberate, vectorized exception —
semantically identical to q40 (same rounding, same tie-break), verified by
tests/test_vectorops.py.

Scale shape: queries (small side) ship to every task inside the closure;
the base table streams through mapInPandas in Arrow batches; each batch
emits only its local top-k per query, so the final shuffle carries
O(n_batches * n_queries * k) rows — never the full score matrix.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import read_parquet

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def cosine_topk_arrow(
    base: DataFrame, queries: list[tuple[int, list[float]]], k: int = 5
) -> DataFrame:
    """Exact cosine top-k of `queries` against `base` (vec_id, embedding).

    `queries` is a small driver-side list [(qid, vector), ...] — the same
    broadcast-small-side assumption as q40. Scores are rounded to 4 decimals
    like q40; ties break on vec_id ascending.
    """
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            bmat = np.array(list(pdf["embedding"]), dtype=np.float64)
            bnorm = np.linalg.norm(bmat, axis=1)
            # (n_q, n_b) score block in one matmul
            # floor(x*1e4+0.5)/1e4 == the cross-engine round4 convention
            # (pandaspark/queries/__init__.py) — keeps exact equality with q40
            cos = np.floor((qmat @ bmat.T) / np.outer(qnorm, bnorm) * 1e4 + 0.5) / 1e4
            out_q, out_v, out_c = [], [], []
            for qi in range(len(qids)):
                row = cos[qi]
                mask = vids != qids[qi]
                cand_v, cand_c = vids[mask], row[mask]
                take = min(k, len(cand_v))
                if take == 0:
                    continue
                # local top-k (score desc, vec_id asc) — only these leave the task
                order = np.lexsort((cand_v, -cand_c))[:take]
                out_q.extend([qids[qi]] * take)
                out_v.extend(cand_v[order])
                out_c.extend(cand_c[order])
            yield pd.DataFrame({"qid": out_q, "vec_id": out_v, "cosine": out_c})

    local = base.select("vec_id", "embedding").mapInPandas(score_batches, _OUT_SCHEMA)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        local.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def load_query_vectors(
    spark: SparkSession, sf_dir: str, n_queries: int = 5
) -> list[tuple[int, list[float]]]:
    """Driver-side collect of the (small) query set — mirrors q40's
    broadcast side."""
    rows = (
        read_parquet(spark, f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(r.vec_id, list(r.embedding)) for r in rows]
