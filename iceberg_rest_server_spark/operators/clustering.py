"""Distributed k-means over embedding columns — the corpus-clustering
primitive behind curation buckets, IVF index builds, and diversity-aware
sampling of training data.

Parity note: the reference engine exposes no clustering operator; this is
part of the training-data-pipeline tier this repo adds on top of the
reference's query surface (same tier as operators/dedup.py,
operators/similarity.py).

Design for 100 TB:
- Lloyd's iterations keep ALL per-vector work executor-side. Assignment
  is one Arrow-batched matmul per batch (``(batch × dim) · (dim × k)``).
- The update step never shuffles vectors: each partition emits k partial
  (sum_vec, count, inertia) rows via mapInPandas — map-side combining by
  construction — and those partials are reduced DISTRIBUTEDLY (component
  sums via posexplode aggregate) so exactly ``k × dim + k`` rows reach
  the driver per iteration, independent of both corpus size and cluster
  size. This is the same partial/final split Spark's own hash aggregate
  performs, expressed at the vector level.
- Centroids and the inertia history are bounded by k·dim doubles per
  iteration regardless of corpus size; no step materializes an
  O(N)-wide structure on the driver.
- Init is deterministic (first k vectors by id) so results are
  reproducible run-to-run and hashable by the correctness gate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import materialize


def kmeans_fit_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
) -> tuple[DataFrame, list[float], np.ndarray]:
    """Run Lloyd's k-means on ``df[vec_col]`` (array<float/double>).

    Returns ``(assignments, inertia_history, centroids)`` where
    ``assignments`` has columns (id_col, cluster), ``inertia_history``
    is the per-iteration total squared distance (non-increasing up to
    float rounding — Lloyd's invariant), and ``centroids`` is the final
    (k × dim) matrix.
    """
    # Deterministic init: first k vectors in id order (bounded driver
    # transfer: k × dim doubles — metadata scale).
    seed_rows = df.select(vec_col).orderBy(id_col).limit(k).collect()
    C = np.stack([np.asarray(r[0], dtype=np.float64) for r in seed_rows])

    with materialize.scope():  # vecs and each round's partials
        vecs = materialize.persist(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        )
        vecs.count()  # materialize once; every iteration rescans from cache
        history: list[float] = []
        for _ in range(max_iter):
            C_b = C  # captured by value in the closure below

            def partials(batches, C_b=C_b):
                # per-partition partial aggregation: k rows out, however
                # many vectors in
                kk, dim = C_b.shape
                sums = np.zeros((kk, dim))
                counts = np.zeros(kk, dtype=np.int64)
                inertia = 0.0
                for pdf in batches:
                    M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                    # squared L2 via the expansion trick: one GEMM
                    d2 = (
                        (M * M).sum(axis=1)[:, None]
                        - 2.0 * (M @ C_b.T)
                        + (C_b * C_b).sum(axis=1)[None, :]
                    )
                    assign = np.argmin(d2, axis=1)
                    inertia += float(np.maximum(d2[np.arange(len(M)), assign], 0.0).sum())
                    np.add.at(sums, assign, M)
                    np.add.at(counts, assign, 1)
                yield pd.DataFrame(
                    {
                        "cluster": np.arange(len(C_b), dtype=np.int32),
                        "sum_vec": list(sums),
                        "cnt": counts,
                        "inertia": [inertia] + [0.0] * (len(C_b) - 1),
                    }
                )

            part = vecs.select("v").mapInPandas(
                partials,
                schema="cluster int, sum_vec array<double>, cnt long, inertia double",
            )
            # The per-partition partials are num_partitions × k rows — on a
            # 1000-executor cluster that grows with the CLUSTER, not the
            # data, so reduce them distributedly before anything reaches
            # the driver: component sums via posexplode → (cluster, dim)
            # aggregate, counts/inertia via a k-row aggregate. The driver
            # then receives exactly k×dim + k rows regardless of scale.
            kk, dim = C.shape
            part = materialize.persist(part)
            comp_rows = (
                part.select(
                    "cluster", F.posexplode("sum_vec").alias("dim", "val")
                )
                .groupBy("cluster", "dim")
                .agg(F.sum("val").alias("s"))
                .collect()
            )
            meta_rows = (
                part.groupBy("cluster")
                .agg(F.sum("cnt").alias("cnt"), F.sum("inertia").alias("inertia"))
                .collect()
            )
            materialize.release(part)
            sums = np.zeros((kk, dim))
            counts = np.zeros(kk, dtype=np.int64)
            total_inertia = 0.0
            for r in comp_rows:
                sums[r["cluster"], r["dim"]] = r["s"]
            for r in meta_rows:
                counts[r["cluster"]] = r["cnt"]
                total_inertia += r["inertia"]
            history.append(total_inertia)
            nonempty = counts > 0
            C_new = C.copy()
            C_new[nonempty] = sums[nonempty] / counts[nonempty, None]
            shift = float(np.abs(C_new - C).max())
            C = C_new
            if shift <= tol:
                break

        C_final = C

        @F.pandas_udf("integer")
        def nearest(vs: pd.Series) -> pd.Series:
            M = np.stack(vs.to_numpy()).astype(np.float64)
            d2 = (
                (M * M).sum(axis=1)[:, None]
                - 2.0 * (M @ C_final.T)
                + (C_final * C_final).sum(axis=1)[None, :]
            )
            return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

        assignments = vecs.select(
            F.col("id").alias(id_col), nearest(F.col("v")).alias("cluster")
        )
        # the persisted input is only needed during the fit loop above;
        # the final assignment pass re-reads the (small) source.
        return assignments, history, C
