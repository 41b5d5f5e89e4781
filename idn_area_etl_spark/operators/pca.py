"""Top principal component by distributed power iteration.

PCA's leading eigenvector: center the data, then iterate
v <- normalize(Cov v).  Each iteration is ONE distributed pass: with
the current v held as a literal (64 doubles), Cov v = (1/n) X^T (X v)
collapses to a posexplode aggregation keyed by dimension index —
no covariance matrix is ever materialized (O(d^2) state avoided), so
the same plan runs at any row count.  Iteration count is fixed
(default 15) to keep the plan static and the result deterministic.

Not expressible in portable SQL (iterative normalization), so the
registered query is rows-only; tests/test_pca.py pins the direction
and explained-variance ratio against numpy's eigendecomposition.

Every reduce here is an exact decimal sum (the registry-wide
determinism rule): a plain double ``F.sum`` depends on partition
layout through summation order, and on these near-isotropic
embeddings the top eigenspace is almost degenerate, so per-iteration
drifts of ~1e-16 ROTATE the returned vector — the full-registry
invariance sweep caught ``e_top_eigenvector`` returning three
different vectors under AQE-on / 7-partitions / AQE-off before the
decimal sums pinned it.  Per-row products stay IEEE doubles
(deterministic); only the reduction order was ever unstable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _release, _round


def _dsum(col: Column) -> Column:
    """Order-independent sum of a double column: decimal(38,18)
    accumulates exactly (values here are O(1); 20 integer digits of
    headroom), so the result is identical under ANY partitioning."""
    return F.sum(col.cast("decimal(38,18)")).cast("double")


def top_principal_component(
    spark: SparkSession,
    emb: DataFrame,
    n_iter: int = 15,
    vec_col: str = "embedding",
) -> DataFrame:
    """Returns one row per dimension: (d, mean_d, component_d) plus
    the explained-variance ratio replicated on every row.

    ``n_iter`` must be >= 1 (the eigenvalue estimate comes from the
    final iteration).
    """
    if n_iter < 1:
        raise ValueError("top_principal_component requires n_iter >= 1")
    schema = "d int, mean double, component double, explained_var_ratio double"
    dims = emb.select(
        F.posexplode(F.col(vec_col)).alias("d", "x")
    ).select("d", F.col("x").cast("double").alias("x"))
    stats = (
        dims.groupBy("d")
        .agg(
            F.count("*").alias("n"),
            (_dsum(F.col("x")) / F.count("*")).alias("mu"),
        )
        .orderBy("d")
        .collect()
    )
    if not stats:
        return spark.createDataFrame([], schema)
    mu = [r["mu"] for r in stats]
    n_rows = stats[0]["n"]
    dim = len(mu)
    # attach a row id per vector so X v can be formed.  id BEFORE the
    # explode — a generator in the same select would evaluate
    # monotonically_increasing_id per OUTPUT row and shred the vectors.
    # A checkpoint (not cache) pins the generated row ids: cached
    # partitions can be evicted and silently recomputed with different
    # monotonically_increasing_id values mid-iteration, while a
    # checkpoint materializes the rows once (a lost partition fails
    # loudly instead of corrupting the iteration).  The total variance
    # is observed on it.
    with_id, m = _round(
        emb.select(
            F.monotonically_increasing_id().alias("rid"),
            F.col(vec_col).alias("_v"),
        ).select(
            "rid", F.posexplode(F.col("_v")).alias("d", "x")
        ).join(
            F.broadcast(
                spark.createDataFrame(
                    [(i, x) for i, x in enumerate(mu)], "d int, mu double"
                )
            ),
            "d",
        ).select("rid", "d", (F.col("x") - F.col("mu")).alias("xc")),
        [_dsum(F.col("xc") * F.col("xc")).alias("ss")],
    )
    total_var = m["ss"] / n_rows
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(n_iter):
        vdf = F.broadcast(
            spark.createDataFrame(
                [(i, float(w)) for i, w in enumerate(v)],
                "d int, w double",
            )
        )
        # s_r = sum_d x_rd * v_d  (one reduce per row)
        scores = (
            with_id.join(vdf, "d")
            .groupBy("rid")
            .agg(_dsum(F.col("xc") * F.col("w")).alias("s"))
        )
        # (Cov v)_d = (1/n) sum_r x_rd * s_r  (one reduce per dim)
        new = (
            with_id.join(scores, "rid")
            .groupBy("d")
            .agg((_dsum(F.col("xc") * F.col("s")) / n_rows).alias("cv"))
            .orderBy("d")
            .collect()
        )
        w = [r["cv"] for r in new]
        norm = math.sqrt(sum(x * x for x in w))
        v = [x / norm for x in w]
        lam = norm  # ||Cov v|| with unit v -> eigenvalue estimate
    _release(with_id)
    # sign convention: first nonzero coordinate positive
    sign = 1.0
    for x in v:
        if abs(x) > 1e-12:
            sign = 1.0 if x > 0 else -1.0
            break
    evr = lam / total_var
    return spark.createDataFrame(
        [
            (i, float(mu[i]), float(sign * v[i]), float(round(evr, 6)))
            for i in range(dim)
        ],
        schema,
    )
