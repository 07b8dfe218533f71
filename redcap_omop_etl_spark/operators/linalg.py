"""Embedding linear algebra: distributed covariance/Gram accumulation,
Johnson-Lindenstrauss sign random projection, PCA on the reduced matrix.

Net-new LLM-data-pipeline surface (no counterpart in
``/root/reference/redcap-etl.py``): the dense-vector statistics an
embedding-curation pipeline runs — covariance for whitening/PCA, random
projection for cheap dimensionality reduction before LSH/clustering.

Scale notes (100 TB):
- The covariance never materializes the d² row blowup a naive
  explode-pair join would (64× the corpus). ``mapInPandas`` accumulates
  one exact integer Gram partial per Arrow batch with a vectorized
  ``Q.T @ Q`` (numpy int64 einsum), emitting ≤ d(d+1)/2 + d rows PER
  BATCH; the only shuffle carries batch-count × d² tiny rows into a
  (i, j)-keyed hash agg. This is the canonical "associative matrix
  accumulator" shape — the reduction tree is Spark's partial agg.
- Quantization (round(x·10⁴) → int64) makes every moment sum exact, so
  covariance entries are bit-identical cross-engine: the final
  (Σab − ΣaΣb/n)/(n−1) chain divides identical integer-valued operands.
  Overflow headroom: |q| ≤ 2·10⁴ ⇒ Σq² per cell ≤ 4·10⁸·rows; beyond
  ~10¹⁰ rows shard the sum by a row-bucket key first (two-level agg).
- The JL projection is pure JVM higher-order functions (zip_with +
  aggregate over the 64-wide array with a LITERAL ±1 sign matrix derived
  from md5 — no Python, no explode, no join in the hot path); per-label
  distortion sums stay integer until one final division.
- PCA runs driver-side on the d×d covariance — a bounded 2080-row
  collect (same class as IVF's centroid fetch), never on data rows.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.sources.readers import Catalog
from redcap_omop_etl_spark.workload import register
from redcap_omop_etl_spark.caching import materialize

DIM = 64
Q_SCALE = 10_000  # fixed-point quantization: q = round(x * 1e4) as int64
JL_K = 8  # projected dimensionality


def _quantized(col):
    """array<long> fixed-point embedding; float→double widening is exact
    on both engines, so round(x·1e4) is bit-identical cross-engine."""
    return F.transform(col, lambda x: F.round(x.cast("double") * Q_SCALE).cast("long"))


def gram_partials(df: DataFrame, dim: int = DIM) -> DataFrame:
    """Per-Arrow-batch exact integer Gram partials.

    Emits (i, j, s, n): for j ≥ 0 the pair sums Σ qᵢqⱼ (upper triangle
    i ≤ j), for j = -1 the marginal sums Σ qᵢ; n is the batch row count
    (only meaningful on marginal rows). Closure is self-contained
    (pickled to workers that don't share the driver's sys.path).
    """

    def acc(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        scale = Q_SCALE
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            # ties away from zero (matches Spark/DuckDB round; np.rint is
            # half-EVEN and diverges on exactly-representable .5 products)
            q = (np.sign(x) * np.floor(np.abs(x) * scale + 0.5)).astype("int64")
            g = q.T @ q  # exact: int64 matmul
            s = q.sum(axis=0)
            iu, ju = np.triu_indices(dim)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(dim)]),
                    "j": np.concatenate([ju, np.full(dim, -1)]),
                    "s": np.concatenate([g[iu, ju], s]),
                    "n": np.full(len(iu) + dim, len(pdf), dtype="int64"),
                }
            )

    return df.select("embedding").mapInPandas(acc, schema="i int, j int, s long, n long")


@register(
    "embedding_covariance",
    f"""
    WITH q AS (
      SELECT vec_id, r.i - 1 AS i,
             round(embedding[r.i]::DOUBLE * {Q_SCALE})::BIGINT AS q
      FROM embeddings, unnest(range(1, {DIM} + 1)) AS r(i)
    ), pairs AS (
      SELECT a.i AS i, b.i AS j,
             sum(a.q * b.q)::BIGINT AS s_ab, count(*)::BIGINT AS n
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ), marg AS (
      SELECT i, sum(q)::BIGINT AS s FROM q GROUP BY i
    )
    SELECT p.i::BIGINT AS i, p.j::BIGINT AS j, p.n,
           round((p.s_ab - ma.s::DOUBLE * mb.s::DOUBLE / p.n)
                 / (p.n - 1) / {Q_SCALE * Q_SCALE}.0, 12) AS cov
    FROM pairs p JOIN marg ma ON ma.i = p.i JOIN marg mb ON mb.i = p.j
    """,
    doc="Upper-triangle sample covariance of the 64-dim embedding "
    "corpus via exact integer Gram accumulation: one mapInPandas pass "
    "emits a vectorized Q^T Q partial per Arrow batch (never the d²-row "
    "explode the oracle uses — at 100 TB the shuffle carries "
    "batches × d² summary rows, not corpus × d²), merged by a (i,j) hash "
    "agg; cov = (Σab − ΣaΣb/n)/(n−1) on identical integer operands, so "
    "all 2080 entries are bit-identical cross-engine at 12dp.",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["embeddings"]
    # cache: pairs and the two marginal broadcasts are separate action
    # branches, and mapInPandas is a narrow op with no exchange below it
    # (ReuseExchange can't dedupe) — uncached, the full-corpus Gram pass
    # would run once per branch. Bounded at batches x ~2144 rows.
    parts = materialize(gram_partials(e), "persist")
    pairs = parts.filter(F.col("j") >= 0).groupBy("i", "j").agg(F.sum("s").alias("s_ab"))
    marg = parts.filter(F.col("j") == -1).groupBy("i").agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    )
    ma = marg.select(F.col("i").alias("i"), F.col("s").alias("s_i"), F.col("n").alias("n"))
    mb = marg.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    cov = (
        (F.col("s_ab") - F.col("s_i").cast("double") * F.col("s_j").cast("double") / F.col("n"))
        / (F.col("n") - 1)
        / float(Q_SCALE * Q_SCALE)
    )
    return (
        pairs.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "n",
            F.round(cov, 12).alias("cov"),
        )
    )


def jl_signs(k: int = JL_K, dim: int = DIM) -> list[list[int]]:
    """±1 sign matrix [k][dim] from md5 — the same derivation the DuckDB
    oracle runs (`('0x'||substring(md5(j||'_'||i),1,15))::BIGINT % 2`),
    reproduced here with hashlib so Spark embeds it as literals."""
    return [
        [
            1 if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


@register(
    "embedding_random_projection",
    f"""
    WITH q AS (
      SELECT vec_id, label, r.i - 1 AS i,
             round(embedding[r.i]::DOUBLE * {Q_SCALE})::BIGINT AS q
      FROM embeddings, unnest(range(1, {DIM} + 1)) AS r(i)
    ), signs AS (
      SELECT j.j, i.i,
             CASE WHEN ('0x' || substring(md5(j.j || '_' || i.i), 1, 15))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM range({JL_K}) AS j(j), range({DIM}) AS i(i)
    ), proj AS (
      SELECT q.vec_id, q.label, s.j, sum(s.s * q.q) AS p
      FROM q JOIN signs s ON s.i = q.i
      GROUP BY q.vec_id, q.label, s.j
    ), per_vec AS (
      SELECT p.vec_id, p.label,
             sum(p.p * p.p)::BIGINT AS pp,
             any_value(qq.qq) AS qq
      FROM proj p JOIN (
        SELECT vec_id, sum(q * q)::BIGINT AS qq FROM q GROUP BY vec_id
      ) qq ON qq.vec_id = p.vec_id
      GROUP BY p.vec_id, p.label
    )
    SELECT label::BIGINT AS label, count(*)::BIGINT AS n_vecs,
           round(sum(pp)::DOUBLE / ({JL_K} * sum(qq)), 6) AS distortion,
           round(min(pp::DOUBLE / ({JL_K} * qq)), 6) AS min_ratio,
           round(max(pp::DOUBLE / ({JL_K} * qq)), 6) AS max_ratio
    FROM per_vec GROUP BY label
    """,
    doc="Johnson-Lindenstrauss sign random projection (k=8) with "
    "distortion audit per label: E[‖Rx‖²/k] = ‖x‖², so the ratio "
    "Σp²/(k·Σq²) measures norm preservation. The Spark hot path is pure "
    "JVM — the ±1 matrix is embedded as literals (derived from md5 "
    "identically to the oracle's CTE) and each projection is one "
    "aggregate() over the quantized array: no explode, no join, no "
    "Python per row; per-label sums stay exact integers until the final "
    "division. The oracle reaches the same integers via explode + join.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["embeddings"]
    signs = jl_signs()
    q = e.select("vec_id", "label", _quantized(F.col("embedding")).alias("q"))
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("q"),
                F.array(*[F.lit(s) for s in signs[j]]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"p{j}")
        for j in range(JL_K)
    ]
    qq = F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    per_vec = q.select("vec_id", "label", qq.alias("qq"), *proj_cols).select(
        "vec_id",
        "label",
        "qq",
        sum((F.col(f"p{j}") * F.col(f"p{j}") for j in range(JL_K)), F.lit(0).cast("long")).alias("pp"),
    )
    ratio = F.col("pp").cast("double") / (JL_K * F.col("qq"))
    return per_vec.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("pp").cast("double") / (JL_K * F.sum("qq")), 6).alias("distortion"),
        F.round(F.min(ratio), 6).alias("min_ratio"),
        F.round(F.max(ratio), 6).alias("max_ratio"),
    )


def pca_top_components(cov_df: DataFrame, top: int = 5) -> dict:
    """Eigendecomposition of the (bounded, d×d) covariance output of
    ``embedding_covariance`` — a 2080-row collect, driver-side numpy.

    Returns {"eigenvalues": [...], "explained_variance_ratio": [...]}.
    Not registered as a workload query (no SQL-expressible oracle);
    pinned against numpy.linalg.eigh on the full matrix in tests.
    """
    import numpy as np

    rows = cov_df.collect()  # bounded: d(d+1)/2 covariance entries
    d = max(int(r.j) for r in rows) + 1
    m = np.zeros((d, d))
    for r in rows:
        m[int(r.i), int(r.j)] = m[int(r.j), int(r.i)] = r.cov
    vals = np.linalg.eigvalsh(m)[::-1]
    return {
        "eigenvalues": [float(v) for v in vals[:top]],
        "explained_variance_ratio": [float(v / vals.sum()) for v in vals[:top]],
    }


@register(
    "embedding_norm_arrow",
    """
    SELECT vec_id,
           list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 10000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 10000 + 0.5)::BIGINT))::BIGINT AS ssq,
           floor(sqrt(list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 10000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 10000 + 0.5)::BIGINT))::DOUBLE)
                 / 10000.0 * 1000 + 0.5)::BIGINT AS norm_milli
    FROM embeddings
    """,
    doc="Per-vector L2 norm via ``mapInArrow`` — the zero-copy PyArrow "
    "RecordBatch path (the remaining Python-vectorized API surface next "
    "to pandas_udf / applyInPandas / mapInPandas): batches arrive as "
    "Arrow arrays, components quantize to 4dp integers and square-sum in "
    "exact Python ints, so the result is bit-identical to the DuckDB "
    "list-lambda mirror REGARDLESS of numpy/BLAS accumulation order "
    "(np.dot's pairwise/SIMD summation would NOT match a sequential "
    "double sum — the quantize-first discipline sidesteps it). No "
    "shuffle: one scan, one Arrow-native projection.",
)
def embedding_norm_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["embeddings"]

    def norms(batches):
        import math

        import pyarrow as pa

        for batch in batches:
            vec_ids = batch.column("vec_id").to_pylist()
            vecs = batch.column("embedding").to_pylist()
            ssqs, norm_millis = [], []
            for v in vecs:
                q = [math.floor(float(x) * 10000 + 0.5) for x in v]
                ssq = sum(c * c for c in q)
                ssqs.append(ssq)
                norm_millis.append(math.floor(math.sqrt(float(ssq)) / 10000.0 * 1000 + 0.5))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(ssqs, type=pa.int64()),
                    pa.array(norm_millis, type=pa.int64()),
                ],
                names=["vec_id", "ssq", "norm_milli"],
            )

    return e.select("vec_id", "embedding").mapInArrow(
        norms, "vec_id long, ssq long, norm_milli long"
    )


R_SCALE = 1_000_000  # unit-vector re-quantization: r = round(u * 1e6)


@register(
    "embedding_label_dispersion",
    f"""
    WITH q AS (
      SELECT label,
             list_transform(embedding,
                            x -> round(x::DOUBLE * {Q_SCALE})::BIGINT) AS q
      FROM embeddings
    ), u AS (
      SELECT label, q,
             list_sum(list_transform(q, x -> x * x))::BIGINT AS nrm2
      FROM q
    ), r AS (
      SELECT label,
             list_transform(q, x -> round(x::DOUBLE / sqrt(nrm2::DOUBLE)
                                          * {R_SCALE})::BIGINT) AS r
      FROM u WHERE nrm2 > 0
    ), comp AS (
      SELECT label, w.i AS i, sum(r[w.i])::HUGEINT AS s
      FROM r, unnest(range(1, {DIM} + 1)) w(i)
      GROUP BY label, w.i
    ), per_label AS (
      SELECT label,
             sum(s * s) AS ss,
             (SELECT count(*) FROM r r2 WHERE r2.label = comp.label) AS n,
             (SELECT sum(list_sum(list_transform(r2.r, x -> x * x)))
              FROM r r2 WHERE r2.label = comp.label) AS rn2
      FROM comp GROUP BY label
    )
    SELECT label,
           n::BIGINT AS n_vecs,
           CASE WHEN n > 1 THEN
             round((ss - rn2)::DOUBLE / (n * (n - 1))::DOUBLE
                   / {float(R_SCALE) ** 2}, 6)
           ELSE NULL END AS mean_pair_cos
    FROM per_label ORDER BY label
    """,
    doc="Per-label semantic dispersion: the MEAN PAIRWISE COSINE of each "
    "label's embeddings computed with ZERO pair enumeration via the "
    "sum-vector identity Σ_{{a≠b}} u_a·u_b = ||Σu||² − Σ||u||². Plan: "
    "quantize raw floats (round(x·1e4), exact on both engines), take the "
    "integer squared norm (order-free exact), renormalize with "
    "IDENTICAL integer operands (q/√nrm2 — same IEEE doubles cross-"
    "engine), re-quantize to 1e-6 unit-vector components, then ONE "
    "(label, dim) hash agg of component sums + a label agg — no join, "
    "no window, no d²/n² blowup; cost is one scan + 64 rows per vector "
    "of map-side-combinable agg traffic at any corpus size. All "
    "accumulation integer (HUGEINT/decimal38) so the final division "
    "runs on identical operands.",
)
def embedding_label_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["embeddings"]
    q = _quantized(F.col("embedding"))
    nrm2 = F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x * x)
    t = e.select("label", q.alias("q"), nrm2.alias("nrm2")).filter(F.col("nrm2") > 0)
    r = F.transform(
        F.col("q"),
        lambda x: F.round(
            x.cast("double") / F.sqrt(F.col("nrm2").cast("double")) * R_SCALE
        ).cast("long"),
    )
    rn2 = F.aggregate(r, F.lit(0).cast("long"), lambda a, x: a + x * x)
    rows = t.select("label", r.alias("r"), rn2.alias("rn2")).transform(materialize, "persist")
    comp = (
        rows.select("label", F.posexplode("r").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").cast("decimal(38,0)").alias("s"))
    )
    ss = comp.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("ss"))
    per_label = rows.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("rn2").cast("decimal(38,0)").alias("rn2")
    )
    return (
        ss.join(per_label, "label")
        .select(
            "label",
            F.col("n").cast("bigint").alias("n_vecs"),
            # n > 1 guard (ADVICE r7): a label with exactly one vector has
            # zero pairs — 0/0 would be NaN on Spark vs engine-dependent
            # NULL/NaN on DuckDB; emit NULL explicitly on BOTH engines.
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("ss") - F.col("rn2")).cast("double")
                    / (F.col("n") * (F.col("n") - 1)).cast("double")
                    / float(R_SCALE) ** 2,
                    6,
                ),
            ).alias("mean_pair_cos"),
        )
        .orderBy("label")
    )
