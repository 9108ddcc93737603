"""Vector/embedding column functions: cosine similarity, deterministic
random-hyperplane LSH buckets.

Cosine runs JVM-side via zip_with/aggregate (no Python). The LSH hyperplanes
are pseudo-random but fully deterministic closed forms (sin(j*8191 + i*127))
so the DuckDB oracle can evaluate the identical expression.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def hyperplane_component(plane: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient."""
    return math.sin(plane * 8191.0 + i * 127.0)


def lsh_buckets_udf(dim: int, k_planes: int, n_tables: int):
    """Arrow-vectorized multi-table bucket computation: one numpy pass
    returns all n_tables bucket ids per vector. The per-plane dot product
    uses np.cumsum (a strictly sequential scan), so each partial sum — and
    therefore each sign — is bit-identical to the SQL left-fold
    `0.0 + e1*c1 + e2*c2 + ...` the DuckDB oracle evaluates. The equivalent
    JVM expression tree (n_tables*k_planes*dim terms) blows past the codegen
    method limit and falls back to interpreted eval ~100x slower — this is
    the legitimate Arrow-UDF case."""
    coef = np.array(
        [[hyperplane_component(j, i) for i in range(dim)] for j in range(n_tables * k_planes)]
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(emb: pd.Series) -> pd.Series:
        E = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        n = E.shape[0]
        out = np.zeros((n, n_tables), dtype=np.int64)
        for j in range(n_tables * k_planes):
            d = np.cumsum(E * coef[j][None, :], axis=1)[:, -1]  # exact left fold
            t, jj = divmod(j, k_planes)
            out[:, t] += (d > 0).astype(np.int64) << jj
        return pd.Series(list(out.astype(np.int32)))

    return buckets


def ivf_centroid_component(cent: int, i: int) -> float:
    """Deterministic closed-form coarse-quantizer centroid coefficient
    (fixed quantizer IVF: no training pass, so the DuckDB oracle can embed
    the identical constants; a production deployment would swap in k-means
    centroids through the same seam)."""
    return math.sin(cent * 131.0 + i * 17.0)


def ivf_assign_udf(dim: int, k_centroids: int, nprobe: int):
    """Arrow-vectorized IVF assignment: one numpy pass returns each
    vector's top-``nprobe`` centroid ids in rank order (score desc, cent
    asc). Scores use the same np.cumsum sequential scan as
    lsh_buckets_udf, so every partial sum is bit-identical to the SQL
    left fold the oracle evaluates — ranking then needs no rounding in
    either engine. Map-only: the scale path avoids the N x K explode +
    window shuffle the small-scale SQL twin uses."""
    coef = np.array(
        [[ivf_centroid_component(j, i) for i in range(dim)] for j in range(k_centroids)]
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(emb: pd.Series) -> pd.Series:
        E = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        scores = np.empty((E.shape[0], k_centroids))
        for j in range(k_centroids):
            # running left fold: same sequential association as np.cumsum's
            # last column (and the SQL fold), with O(n) temporaries instead
            # of a discarded (n, dim) cumsum per centroid
            acc = np.zeros(E.shape[0])
            cj = coef[j]
            for i in range(E.shape[1]):
                acc = acc + E[:, i] * cj[i]
            scores[:, j] = acc
        # rank: score desc, cent asc — argsort(-scores) is stable, so equal
        # scores keep ascending centroid order
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return assign


def lsh_bucket_sql(list_expr: str, dim: int, n_planes: int, plane_offset: int = 0) -> str:
    parts = []
    for j in range(n_planes):
        d = " + ".join(
            f"CAST({list_expr}[{i + 1}] AS DOUBLE) * ({hyperplane_component(plane_offset + j, i)!r})"
            for i in range(dim)
        )
        parts.append(f"(CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"
