"""Distributed covariance + PCA/whitening over embedding columns —
the linear-algebra members of the embedding-pipeline family, next to
clustering (kmeans/semdedup), quantization (PQ) and retrieval (IVF/
LSH): dimensionality reduction and decorrelation are the standard
preprocessing steps before clustering/indexing a 100 TB embedding
corpus (and whitening is what makes cosine ≈ Mahalanobis).

Shapes at scale:
- **Covariance is ONE distributed pass, no self-join**: each row emits
  its 2080 upper-triangle products through a codegen'd
  ``flatten(transform(sequence...))`` expression and ONE explode; the
  aggregation shuffles on 2080 fixed (i, j) cells — the same
  fixed-cell partial-agg shape as the CMS, never keyed on row count.
  (The tempting alternative — posexplode then positional self-join on
  the row id — shuffles n·d rows TWICE and joins them; this plan
  shuffles nothing but 2080-cell partials.)
- **The eigendecomposition is driver-side on the d×d matrix** (d=64 →
  64×64, microseconds) — the same bounded-driver-work posture as IVF
  centroid training; n never touches the driver.
- **Projection/whitening is a broadcast matmul**: components ride as
  literal arrays inside a ``zip_with``/``aggregate`` dot-product
  expression — map-only, codegen, no Python, no shuffle.

Exactness: covariance moments are computed on 1e-4-quantized INTEGER
values (``round(x·10⁴)`` as BIGINT), so the scaled covariance
``n·Σxy − Σx·Σy`` is an exact integer cross-engine — what lets
queries/embeddings.embedding_covariance_stats certify the whole
distributed pass value-exactly in DuckDB (floating sums would be
partition-order-dependent). Magnitude bound: |q| ≤ 10⁴ for unit-scale
embeddings, so the scaled moment is ≤ n²·10⁸ — overflow-safe in int64
up to n ≈ 10⁵ per certification run (production keeps double moments).

Reference parity: n/a (SURVEY.md header); north-star embedding
component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.fanout import fanout_to_cores

COV_QUANTUM = 10_000  # 1e-4 value quantization for integer-exact moments


def quantized_vec(col: str = "embedding") -> "F.Column":
    """float[] → BIGINT[] at 1e-4 resolution (cast to double BEFORE the
    scale so both engines run identical double arithmetic)."""
    return F.transform(
        F.col(col), lambda x: F.round(x.cast("double") * COV_QUANTUM, 0).cast("long")
    )


def covariance_cells(emb: DataFrame, col: str = "embedding", dim: int = 64) -> DataFrame:
    """Scaled covariance upper triangle as exact integers: one row per
    (i ≤ j) with ``sxy`` = Σ q_i·q_j, plus the marginal sums joined on,
    so ``cov_scaled = n·sxy − sx_i·sx_j`` (the n²-scaled covariance —
    division-free, hence integer-exact). 2080 cells regardless of n."""
    # r12: fan the d(d+1)/2-cells-per-row triangle expansion out to
    # the session cores — it is the whole compute and a single-file
    # scan otherwise runs it in ONE task (measured 2.5 s single-task
    # stage at sf0.1); shuffled rows are just dim longs each.
    # r13: conditional (operators/fanout) — a well-split input at
    # scale skips the round-robin Exchange entirely
    q = fanout_to_cores(emb.select(quantized_vec(col).alias("v")))
    pairs = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(dim - 1)),
                        lambda j: F.struct(
                            i.cast("int").alias("i"),
                            j.cast("int").alias("j"),
                            (F.element_at("v", i + 1) * F.element_at("v", j + 1)).alias(
                                "xy"
                            ),
                        ),
                    ),
                )
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.xy")
    sums = pairs.groupBy("i", "j").agg(F.sum("xy").alias("sxy"))
    marg = (
        emb.select(F.posexplode(quantized_vec(col)).alias("i", "qv"))
        .groupBy("i")
        .agg(F.sum("qv").alias("sx"))
    )
    n = emb.count()
    mi = marg.select(F.col("i"), F.col("sx").alias("sx_i"))
    mj = marg.select(F.col("i").alias("j"), F.col("sx").alias("sx_j"))
    return (
        sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (F.lit(n) * F.col("sxy") - F.col("sx_i") * F.col("sx_j")).alias(
                "cov_scaled"
            ),
        )
    )


def pca_model(emb: DataFrame, col: str = "embedding", dim: int = 64, k: int = 8):
    """Fit PCA on the distributed covariance: the 2080 exact integer
    cells come to the driver (d(d+1)/2 scalars — bounded by DIMENSION,
    not rows), are unscaled to the float covariance matrix, and numpy's
    symmetric eigensolver returns the top-k components. Returns
    ``(components [k][dim], explained_ratio [k], mean [dim])``."""
    import numpy as np

    cells = covariance_cells(emb, col, dim).collect()
    n = emb.count()
    cov = np.zeros((dim, dim))
    for r in cells:
        c = r["cov_scaled"] / (n * n * COV_QUANTUM**2)
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = c
    mean_row = (
        emb.select(
            F.array(
                *[
                    F.avg(F.element_at(col, i + 1).cast("double")).alias(f"m{i}")
                    for i in range(dim)
                ]
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T  # (k, dim)
    # sign convention: largest-|coefficient| entry positive — removes
    # the eigenvector sign ambiguity so the model is deterministic
    for r in range(comps.shape[0]):
        m = np.argmax(np.abs(comps[r]))
        if comps[r, m] < 0:
            comps[r] = -comps[r]
    total = float(np.trace(cov))
    ratio = [float(w[o] / total) for o in order]
    return comps.tolist(), ratio, list(mean_row)


def project(
    emb: DataFrame,
    components: list[list[float]],
    mean: list[float],
    col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Broadcast matmul: append ``out_col`` = components · (x − mean)
    as an array<double>, via literal component arrays inside a
    ``zip_with``+``aggregate`` dot product — map-only codegen, no
    Python, no shuffle."""
    mean_lit = F.array(*[F.lit(float(m)) for m in mean])
    centered = F.zip_with(F.col(col), mean_lit, lambda x, m: x.cast("double") - m)
    dots = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(w)) for w in comp]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for comp in components
    ]
    return emb.withColumn(out_col, F.array(*dots))


def moment_rows(emb: DataFrame, col: str = "embedding", dim: int = 64) -> DataFrame:
    """A batch's RAW moment cells — the additive representation that
    makes covariance a maintainable asset: (cell, i, j, v) rows where
    j >= 0 holds Σ q_i·q_j (upper triangle), j = -1 holds the marginal
    Σ q_i, and (i, j) = (-1, -1) holds the row count. All three moment
    kinds are plain sums, so batches COMBINE BY ADDITION — the same
    mergeable-partial shape as the CMS cells — and the full-data
    covariance n·Σxy − Σx·Σy is recoverable from the folded cells at
    any time with zero data rescan."""
    # r12: fan the d(d+1)/2-cells-per-row triangle expansion out to
    # the session cores — it is the whole compute and a single-file
    # scan otherwise runs it in ONE task (measured 2.5 s single-task
    # stage at sf0.1); shuffled rows are just dim longs each.
    # r13: conditional (operators/fanout) — a well-split input at
    # scale skips the round-robin Exchange entirely
    q = fanout_to_cores(emb.select(quantized_vec(col).alias("v")))
    pairs = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(dim - 1)),
                        lambda j: F.struct(
                            i.cast("int").alias("i"),
                            j.cast("int").alias("j"),
                            (F.element_at("v", i + 1) * F.element_at("v", j + 1)).alias(
                                "xy"
                            ),
                        ),
                    ),
                )
            )
        ).alias("c")
    ).groupBy("c.i", "c.j").agg(F.sum("c.xy").alias("v"))
    marg = (
        emb.select(F.posexplode(quantized_vec(col)).alias("i", "qv"))
        .groupBy("i")
        .agg(F.sum("qv").alias("v"))
        .select("i", F.lit(-1).alias("j"), "v")
    )
    cnt = emb.groupBy().agg(F.count(F.lit(1)).alias("v")).select(
        F.lit(-1).alias("i"), F.lit(-1).alias("j"), "v"
    )
    rows = pairs.unionByName(marg).unionByName(cnt)
    return rows.select(
        ((F.col("i") + 1) * (dim + 1) + F.col("j") + 1).alias("cell"), "i", "j", "v"
    )


def update_covariance_asset(
    spark,
    table_path: str,
    batch_emb: DataFrame,
    col: str = "embedding",
    dim: int = 64,
    fence: tuple[str, int] | None = None,
) -> None:
    """Fenced additive fold of a batch's moment cells into the standing
    covariance asset — identical posture to the CMS fold
    (operators/cms.update_cms_asset, through txn_table.fold_merge): the
    merge is ADDITIVE, hence the (fence_id, batch_id) manifest fence
    under at-least-once delivery. ≤ d(d+1)/2 + d + 1 cells regardless
    of batch size; PCA can be refit from the folded cells at any time
    with zero data rescan (:func:`pca_model_from_asset`)."""
    from data_ingestion_project_spark.operators import txn_table as T

    cells = moment_rows(batch_emb, col, dim)
    T.fold_merge(spark, table_path, cells, "cell", {"v": "t.v + s.v"}, fence)


def pca_model_from_asset(spark, table_path: str, dim: int = 64, k: int = 8):
    """Refit PCA from the standing moment cells — no data rescan: read
    the ≤ 2145 cells, reconstruct mean and covariance, eigh on the
    driver. Returns the same (components, explained_ratio, mean)
    contract as :func:`pca_model`, and — because moments add exactly —
    the SAME model a one-shot fit over all batches would produce."""
    import numpy as np

    from data_ingestion_project_spark.operators import txn_table as T

    rows = T.read(spark, table_path).collect()
    n = 0
    sx = np.zeros(dim)
    sxy = np.zeros((dim, dim))
    for r in rows:
        if r["i"] == -1:
            n = int(r["v"])
        elif r["j"] == -1:
            sx[r["i"]] = r["v"]
        else:
            sxy[r["i"], r["j"]] = sxy[r["j"], r["i"]] = r["v"]
    cov = (n * sxy - np.outer(sx, sx)) / (n * n * COV_QUANTUM**2)
    mean = (sx / (n * COV_QUANTUM)).tolist()
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T
    for r_ in range(comps.shape[0]):
        m = np.argmax(np.abs(comps[r_]))
        if comps[r_, m] < 0:
            comps[r_] = -comps[r_]
    total = float(np.trace(cov))
    ratio = [float(w[o] / total) for o in order]
    return comps.tolist(), ratio, mean
