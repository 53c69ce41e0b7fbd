"""Blocked similarity-search kernel — the 100 TB path for sim_topk.

The brute-force DataFrame expression (llm_vectors.sim_topk) evaluates the
cosine per (probe, vector) row: correct, but the inner loop is one codegen
expression per pair. At scale the winning layout is a *matmul per Arrow
batch*: broadcast the probe matrix P (k x d), stream the corpus through
mapInPandas, and compute X @ P.T per batch with vectorized numpy — one
BLAS call per few-thousand rows, then a per-batch top-k prune so only
(n_probes x k) candidate rows per batch ever reach the shuffle.

This file is engine code (not a declared query on its own): the rows-only
key `sim_topk_blocked` wraps it, and tests assert equality with the
expression-based sim_topk.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from base_etl_spark.io import Tables, local_frame
from base_etl_spark.registry import query

_SCORE_SCHEMA = StructType(
    [
        StructField("probe_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos_sim", DoubleType()),
    ]
)


def blocked_topk(
    corpus: DataFrame,
    probes: list[tuple[int, np.ndarray]],
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbors for each probe via per-batch matmul.

    `probes` is a small driver-side list [(probe_id, vector)] — it ships
    to executors inside the serialized closure (a broadcast variable in
    cluster mode). Per Arrow batch: normalize rows, X @ P.T, partial
    top-k; the final exact top-k across batches is a tiny groupBy.
    """
    if not probes:
        # No probes (an empty corpus yields an empty probe set): the
        # answer is the empty ranking — np.stack below would raise on a
        # zero-length list, killing a job that has a well-defined result.
        return local_frame(
            corpus.sparkSession, [], "probe_id long, neighbor_id long, cos_sim double, rn int"
        )
    probe_ids = np.array([p[0] for p in probes], dtype=np.int64)
    pmat = np.stack([p[1] for p in probes]).astype(np.float64)
    pmat /= np.linalg.norm(pmat, axis=1, keepdims=True)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            sims = x @ pmat.T  # (batch, n_probes)
            # partial top-k per probe within this batch: only k rows per
            # probe survive, so shuffle volume is O(batches * probes * k)
            out_p, out_n, out_s = [], [], []
            kk = min(k + 1, sims.shape[0])  # +1 in case self is in batch
            for j, pid in enumerate(probe_ids):
                col = sims[:, j]
                idx = np.argpartition(-col, kk - 1)[:kk]
                out_p.extend([pid] * len(idx))
                out_n.extend(ids[idx])
                # HALF_UP to match Spark's F.round in sim_topk exactly
                # (np.round is half-to-even and can flip rank at a
                # 0.5e-6 boundary)
                out_s.extend(np.floor(col[idx] * 1e6 + 0.5) / 1e6)
            yield pd.DataFrame(
                {"probe_id": out_p, "neighbor_id": out_n, "cos_sim": out_s}
            )

    partial = corpus.select("vec_id", "embedding").mapInPandas(
        score_batches, schema=_SCORE_SCHEMA
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        partial.filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


@query(
    "sim_topk_blocked",
    # same oracle as sim_topk: the Arrow kernel rounds HALF_UP like the
    # expression path (np.floor(x*1e6+0.5)/1e6), so the blocked result is
    # bit-identical and held to the full hash check
    oracle="""
    WITH probes AS (
        SELECT vec_id AS probe_id, embedding AS p_emb FROM embeddings
        WHERE vec_id < 10
    ),
    scored AS (
        SELECT probe_id, e.vec_id AS neighbor_id,
               round(list_cosine_similarity(p_emb::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos_sim
        FROM probes CROSS JOIN embeddings e
        WHERE e.vec_id <> probe_id
    )
    SELECT probe_id, neighbor_id, cos_sim, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def sim_topk_blocked(t: Tables) -> DataFrame:
    """sim_topk via the blocked matmul kernel; tests assert it returns
    exactly the expression-based sim_topk's rows, and the driver
    hash-checks it against the same brute-force SQL oracle."""
    probe_rows = (
        t.embeddings.filter(F.col("vec_id") < 10).select("vec_id", "embedding").collect()
    )  # 10 rows: a deliberate, bounded driver-side collect for the probe set
    probes = [(r["vec_id"], np.array(r["embedding"], dtype=np.float64)) for r in probe_rows]
    return blocked_topk(t.embeddings, probes, k=5)
