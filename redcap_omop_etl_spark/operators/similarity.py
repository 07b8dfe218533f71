"""Similarity search over embedding columns (array<float>).

Net-new LLM-data-pipeline surface (BASELINE.json north star):

- **Brute-force cosine top-k** — the correctness baseline. Dot products via
  higher-order functions (``zip_with`` + ``aggregate``) in double
  precision, entirely JVM-side; ranking via a window. O(N·d) per query
  vector with no shuffle until the final top-k.
- **Random-hyperplane LSH ANN** — the scale path. Deterministic
  pseudo-random hyperplanes (no RNG: plane weights derive from
  ``xxhash64(plane, dim)``), sign pattern → bucket; search only collides
  within bucket ∪ multiprobe neighbors. Candidates ∝ N/2^bits.
- **Embedding near-dup pairs** — all pairs with cosine ≥ τ, the
  embedding-space analog of dedup; LSH-bucketed at scale.

Oracles: DuckDB computes the same double-precision formula via
``list_dot_product``/casts, with results rounded (4dp) on both sides
before the top-k ordering so the selected sets agree bit-for-bit.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize, session_memo
from redcap_omop_etl_spark.sources.readers import Catalog, fan_out, small_plan_rounds
from redcap_omop_etl_spark.workload import register


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays (JVM-side fold).

    Round 13 A/B'd a width-guarded unrolled form — 64 ``element_at``
    terms inside a ``when(size == dim, …)`` — expecting to move the fold
    out of interpreted HOF eval into whole-stage codegen: the family ran
    2–6× SLOWER (generated-code blowup; see OPTIMIZATION_r13.md). The
    fold stays.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k against a constant query vector.

    The query vector is a literal array folded into the plan (broadcast by
    value); ranking is on (rounded cosine desc, id) so results are
    deterministic under ties.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = embeddings.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim")
    )
    # sort+limit compiles to TakeOrderedAndProject (per-partition top-k
    # heaps merged on the driver) — no single-partition window shuffle, so
    # this survives N=billions; the rank column is added over the k
    # survivors only.
    topk = scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)
    # constant partition key: the input is the k survivors of limit(k), so
    # a single partition is intended — the literal spec silences Spark's
    # no-partition warning without changing the plan
    w = W.partitionBy(F.lit(0)).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w))


def hyperplane_bits(vec: Column, n_planes: int, dim: int) -> Column:
    """Deterministic random-hyperplane signature (long with n_planes bits).

    Plane p's weight for dimension d is a pseudo-random ±{1,3} drawn from
    ``xxhash64(p, d)`` — reproducible across runs/partitions with no RNG
    or broadcast state, and cheap to fold into codegen.
    """
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(_plane_weight(p, d)) for d in range(dim)]),
                lambda x, wgt: x.cast("double") * wgt,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0))
    return sig


def _plane_weight(p: int, d: int) -> float:
    # xxhash64-free driver-side derivation (plans stay small): splitmix-ish
    z = (p * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
    z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & ((1 << 64) - 1)
    z ^= z >> 31
    return [1.0, -1.0, 3.0, -3.0][z % 4]


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: restrict the brute-force scan to vectors whose
    hyperplane signature is within Hamming distance 1 of the query's
    (multiprobe), then rank exactly. At scale the bucket predicate prunes
    the scan to ~N·(n_planes+1)/2^n_planes vectors."""
    dim = len(query_vec)
    qsig = 0
    for p in range(n_planes):
        proj = sum(query_vec[d] * _plane_weight(p, d) for d in range(dim))
        if proj > 0:
            qsig |= 1 << p
    probe_sigs = [qsig] + [qsig ^ (1 << p) for p in range(n_planes)]

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sig = hyperplane_bits(F.col(vec_col), n_planes, dim)
    candidates = embeddings.withColumn("__sig", sig).filter(F.col("__sig").isin(probe_sigs))
    scored = candidates.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"))
    topk = scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)
    # constant partition key: the input is the k survivors of limit(k), so
    # a single partition is intended — the literal spec silences Spark's
    # no-partition warning without changing the plan
    w = W.partitionBy(F.lit(0)).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w))


def lsh_banded_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int = 8,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs with LSH-band blocking — the scale path.

    Candidate pairs agree on at least one signature band (``bands`` bands
    of ``n_planes/bands`` hyperplane bits), exactly like MinHash banding
    (dedup.py) — candidates ∝ collisions, never N². The verify is a
    per-(band, bucket) blocked GEMM: one ``applyInPandas`` groups each
    bucket's vectors into a matrix and computes the whole bucket's cosine
    Gram in one BLAS call, so the plan shuffles only n x bands vector
    rows (ONE shuffle) instead of materializing candidate PAIR rows and
    re-joining vectors onto them — measured 4x faster end-to-end at
    sf0.1 and the win grows with candidate density, because per-pair
    cost drops from an interpreted 2·dim-op fold to a vectorized flop.
    Precision stays exact (true cosine on every surviving pair); recall
    is the banding S-curve (pinned by pytest against the unblocked
    baseline). Per-task memory is bucket_size x dim x 8 B — bounded by
    banding granularity; if a corpus produces oversized buckets, raise
    bits-per-band (more, smaller buckets) rather than capping, so
    semantics stay exact.
    """
    from redcap_omop_etl_spark.sources.readers import fan_out

    bpb = n_planes // bands
    thr = float(threshold)
    # fan_out: the plane projections + band explode evaluate in the scan
    # projection; a single-file scan serializes them on one core. No-op at
    # scale (scans yield thousands of splits).
    banded = (
        fan_out(embeddings).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            hyperplane_bits(F.col(vec_col), n_planes, dim).alias("__sig"),
        )
        .select(
            "id",
            "v",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.shiftrightunsigned("__sig", bi * bpb)
                            .bitwiseAND(F.lit((1 << bpb) - 1).cast("long"))
                            .alias("bucket"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("bk"),
        )
        .select("id", "v", "bk.band", "bk.bucket")
    )

    # Self-contained closure (locals + imports only): the driver may load
    # this module by file path from a foreign cwd, so pickled UDFs must
    # not reference module-level helpers.
    def _verify_bucket(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {"id1": pd.Series(dtype="int64"), "id2": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        normed = m / np.linalg.norm(m, axis=1)[:, None]
        gram = normed @ normed.T
        iu, ju = np.triu_indices(len(pdf), k=1)
        cos = gram[iu, ju]
        keep = np.round(cos, 4) >= thr
        ids = pdf["id"].to_numpy()
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {"id1": np.minimum(a, b), "id2": np.maximum(a, b), "cos_sim": cos[keep]}
        )

    # Explicit keyed repartition before the grouped verify: there are only
    # bands x 2^bpb distinct (band, bucket) groups (16 at the registered
    # parameters), and their shuffle BYTES are tiny while their GEMMs are
    # the query's compute — AQE's byte-based coalescing packed them onto 2
    # tasks (round-12 profile: a 1.5 s 2-task stage on 32 cores). A
    # user-specified repartition is exempt from AQE coalescing and
    # satisfies the grouped applyInPandas' clustered-distribution
    # requirement, so no second exchange is added. Round 13 re-measured
    # the round-12 4x multiplier per the verdict (driver showed a
    # regression): 4x vs 1x vs none all read within +-0.15 s in-session
    # at sf0.1, so the multiplier is dropped — the keyed repartition
    # stays as the AQE-packing guard. Parallelism is capped at the group
    # count by construction — for bigger corpora raise bits-per-band
    # (docstring above), which grows groups and shrinks per-task GEMMs
    # together.
    n_groups = bands * (1 << bpb)
    out = (
        banded.repartition(n_groups, "band", "bucket")
        .groupBy("band", "bucket")
        .applyInPandas(_verify_bucket, "id1 long, id2 long, cos_sim double")
    )
    # distinct: a pair colliding in several bands appears once per band
    # with the identical rounded cosine.
    return out.select("id1", "id2", F.round("cos_sim", 4).alias("cos_sim")).distinct()


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding", block_col: str | None = None
) -> DataFrame:
    """All pairs with cosine ≥ threshold. With ``block_col`` the join is
    restricted to equal blocks (e.g. an LSH bucket or label) — the scale
    path; without it, a full cross self-join (small-N baseline)."""
    a = embeddings.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"), *( [F.col(block_col).alias("blk")] if block_col else []))
    b = embeddings.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"), *( [F.col(block_col).alias("blk2")] if block_col else []))
    cond = F.col("id1") < F.col("id2")
    if block_col:
        joined = a.join(b, (F.col("blk") == F.col("blk2")) & cond)
    else:
        joined = a.join(b, cond)
    return (
        joined.withColumn("cos_sim", F.round(cosine(F.col("v1"), F.col("v2")), 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "cos_sim")
    )


# --------------------------------------------------------------------------
# Registered workload queries
# --------------------------------------------------------------------------
_QUERY_VEC_SQL = """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT vec_id,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM embeddings, q
    )
    SELECT vec_id, cos_sim, rank FROM (
      SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= 10
"""


@register(
    "similarity_cosine_topk",
    _QUERY_VEC_SQL,
    doc="Brute-force cosine top-10 vs the vec_id=0 query vector.",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    return cosine_topk(emb, qv, k=10)


@register(
    "similarity_topk_per_label",
    """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM embeddings, q
    )
    SELECT vec_id, label, cos_sim, rank FROM (
      SELECT vec_id, label, cos_sim,
             row_number() OVER (PARTITION BY label ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    doc="Grouped similarity search: top-3 per label partition.",
)
def similarity_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    q = F.array(*[F.lit(float(x)) for x in qrow[0]])
    scored = emb.select("vec_id", "label", F.round(cosine(F.col("embedding"), q), 4).alias("cos_sim"))
    w = W.partitionBy("label").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)


def _sig_sql_expr(n_planes: int, dim: int) -> str:
    """DuckDB expression computing the hyperplane signature of array ``v``
    with the same deterministic ``_plane_weight`` values Spark folds into
    ``hyperplane_bits``."""
    planes = []
    for p in range(n_planes):
        w = ", ".join(repr(_plane_weight(p, d)) for d in range(dim))
        planes.append(f"(CASE WHEN list_dot_product(v, [{w}]) > 0 THEN {1 << p} ELSE 0 END)")
    return "\n           + ".join(planes)


def _ann_lsh_oracle_sql(k: int = 10, n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB mirror of ``ann_lsh_topk``: signatures from literal plane
    weights; the query signature and the Hamming≤1 multiprobe predicate
    (``bit_count(xor(s, qs)) <= 1``) are computed in SQL, then candidates
    rank by exact cosine — identical selection on both engines."""
    return f"""
    WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (SELECT id, v, {_sig_sql_expr(n_planes, dim)} AS s FROM e),
    q AS (SELECT s AS qs, v AS qv FROM sig WHERE id = 0),
    scored AS (
      SELECT id AS vec_id,
             round(list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM sig, q WHERE bit_count(xor(s, qs)) <= 1
    )
    SELECT vec_id, cos_sim, rank FROM (
      SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@register(
    "similarity_ann_lsh",
    _ann_lsh_oracle_sql(k=10, n_planes=8, dim=64),
    doc="ANN top-10 via deterministic random-hyperplane LSH with "
    "multiprobe (Hamming≤1 bucket probe, exact rank on candidates). "
    "Fully oracled: DuckDB recomputes signatures from the same literal "
    "plane weights; recall vs brute force additionally pinned by pytest.",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    return ann_lsh_topk(emb, qv, k=10, n_planes=8)


def _near_dup_lsh_oracle_sql(threshold: float = 0.4, n_planes: int = 8, bands: int = 4, dim: int = 64) -> str:
    """DuckDB mirror of ``lsh_banded_near_dup_pairs``: the plane weights
    are the same deterministic ``_plane_weight`` values, inlined as
    literal arrays, so both engines compute the identical signature,
    banding, candidate set, and verified pairs."""
    sig_expr = _sig_sql_expr(n_planes, dim)
    bpb = n_planes // bands
    mask = (1 << bpb) - 1
    cos = (
        "round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v))), 4)"
    )
    return f"""
    WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
      SELECT id, {sig_expr} AS s FROM e
    ),
    banded AS (
      SELECT id, u.band, (s >> (u.band * {bpb})) & {mask} AS bucket
      FROM sig, unnest(range({bands})) u(band)
    ),
    cand AS (
      SELECT DISTINCT x.id AS id1, y.id AS id2
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
    )
    SELECT id1, id2, {cos} AS cos_sim
    FROM cand JOIN e a ON cand.id1 = a.id JOIN e b ON cand.id2 = b.id
    WHERE {cos} >= {threshold}
    """


@register(
    "embedding_near_dup",
    _near_dup_lsh_oracle_sql(threshold=0.4, n_planes=8, bands=4, dim=64),
    doc="Embedding-cosine near-dup pairs blocked by LSH band buckets "
    "(4 bands × 2 hyperplane bits), candidates from a (band, bucket) "
    "equi-join + exact-cosine verify — the blocking that survives 100 TB "
    "(label blocking collapses to a few quadratic blocks). Oracle mirrors "
    "the deterministic plane weights; recall vs the unblocked baseline is "
    "pinned by pytest. Synthetic embeddings are near-orthogonal so τ=0.4 "
    "— at that angle banding is information-theoretically weak (the "
    "collision S-curve is flat), so verify cost dominates and norms are "
    "precomputed per vector; at realistic near-dup thresholds (≥0.85) "
    "the same bands prune candidates by orders of magnitude.",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    return lsh_banded_near_dup_pairs(emb, threshold=0.4, n_planes=8, bands=4, dim=64)


@register(
    "dedup_semantic_clusters",
    f"""
    WITH pairs AS (
      SELECT id1, id2 FROM ({_near_dup_lsh_oracle_sql(threshold=0.4, n_planes=8, bands=4, dim=64)}) lshp
    ),
    sym AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION
      SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
      )
      SELECT * FROM r
    ),
    comps AS (
      SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
    )
    SELECT component, count(*) AS n_members, min(node) AS keep_id,
           sum(d.n_chars)::BIGINT AS total_chars
    FROM comps JOIN documents d ON comps.node = d.doc_id
    GROUP BY component
    """,
    doc="Semantic dedup capstone: embedding LSH-banded near-dup pairs → "
    "connected components (transitive duplicate groups) → per-cluster "
    "summary joined back to the documents table (members, kept "
    "representative = min id, total chars). The full 100 TB shape: "
    "banded candidate generation, exact verify, star-contraction "
    "components, then one broadcast-friendly join to doc metadata.",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.graph import connected_components

    cat = Catalog(spark, sf_dir)
    emb, docs = cat["embeddings"], cat["documents"]
    pairs = lsh_banded_near_dup_pairs(emb, threshold=0.4, n_planes=8, bands=4, dim=64)
    comps = connected_components(pairs, src="id1", dst="id2")
    members = comps.join(docs, comps.node == docs.doc_id)
    return members.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("keep_id"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: the second scale path the LLM-pipeline surface
# calls for, complementing hyperplane LSH. A coarse quantizer (k-means)
# partitions vectors into nlist cells; a query scans only the nprobe
# nearest cells. All index construction is distributed DataFrame work —
# the only driver-side data is the (nlist × dim) centroid table, which is
# bounded by construction (same budget class as a broadcast dim).
# --------------------------------------------------------------------------
# Trained-index memo: an IVF index is built once and queried many times
# (ivf_write_index is the persisted-to-disk variant); within a session the
# deterministic k-means retrain for the same corpus+params is pure waste.
def ivf_build(
    embeddings: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    memo_key: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic distributed k-means coarse quantizer.

    Pass ``memo_key`` (e.g. the corpus directory) to reuse a
    previously-trained (assignments, centroids) pair for the same
    (session, corpus, params) — the in-memory analog of the persisted
    index in ``ivf_write_index``.

    Init: the ``n_clusters`` lowest-id vectors (deterministic, no RNG).
    Iterate: assign every vector to its nearest centroid (broadcast join
    against the tiny centroid table — no shuffle of the vector side), then
    recompute centroids as per-cluster per-dimension means (posexplode →
    groupBy(cluster, dim) → re-assemble). Returns (assignments, centroids):
    ``assignments(vec_id, cluster)``, ``centroids(cluster, centroid)``.

    Scale: each iteration shuffles only (cluster, dim, value) triples —
    rows × dim, independent of cluster count; the vector table itself is
    never shuffled. localCheckpoint per iteration keeps the plan flat;
    lazy (round 13) — the plan is truncated either way, but the
    loop no longer pays a blocking Python-paced job per round (the next
    iteration's broadcast materializes the checkpoint JVM-side; A/B at
    sf0.1: 1.64 s vs 1.81 s min-of-4 per build).
    """
    if memo_key is not None:
        return session_memo(
            embeddings.sparkSession,
            ("ivf_build", memo_key, n_clusters, n_iters, id_col, vec_col),
            lambda: ivf_build(embeddings, n_clusters, n_iters, id_col, vec_col),
        )
    # NOT spread (round 13 A/B): fan_out before the assign folds — plain,
    # and spread-once-behind-a-lazy-checkpoint — both measured ~0.4 s
    # SLOWER per build at sf0.1 (1.8→2.2 s): the added exchange + AQE
    # stage jobs cost more than 32-way parallelism saves on the 0.3-0.4 s
    # per-iteration fold stages. pq_assign's single heavier argmin pass
    # (0.7-1.0 s) is spread instead — see below.
    vecs = embeddings.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    # size-adaptive single-job rounds (round 13, same gate as the CC
    # loop): each iteration's centroid update shuffles rows x dim
    # (posexplode) triples, so the measured vector count x 64 bounds the
    # round working set; tiny trainings plan with AQE off + derived
    # width, big corpora keep AQE. One cheap count job per build
    # (metadata-only on a parquet scan).
    with small_plan_rounds(embeddings.sparkSession, embeddings.count() * 64):
        centroids = (
            vecs.orderBy("__vid")
            .limit(n_clusters)
            .select(
                F.row_number()
                .over(W.partitionBy(F.lit(0)).orderBy("__vid"))
                .alias("cluster"),
                F.transform("__v", lambda x: x.cast("double")).alias("centroid"),
            )
            .transform(materialize, "lazy")
        )
        for _ in range(n_iters):
            assigned = _ivf_assign(vecs, centroids)
            centroids = (
                assigned.select("cluster", F.posexplode("__v").alias("dim", "val"))
                .groupBy("cluster", "dim")
                .agg(F.avg(F.col("val").cast("double")).alias("mean"))
                .groupBy("cluster")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                        lambda s: s["mean"],
                    ).alias("centroid")
                )
                .transform(materialize, "lazy")
            )
        assignments = (
            _ivf_assign(vecs, centroids)
            .select(F.col("__vid").alias(id_col), "cluster")
            .transform(materialize, "lazy")
        )
    return assignments, centroids


def _ivf_assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, vectorized through the Arrow boundary
    (round 13). The centroid table is parameter-bounded (n_clusters rows)
    by construction — collected once per call, exactly the relation the
    previous formulation broadcast — and each vector row computes its
    argmin cluster inside ONE ArrowEvalPython pass over the vector column
    alone: no crossJoin row blowup (the previous broadcast-join shape
    shipped rows x n_clusters pairs into an interpreted zip_with/aggregate
    fold and re-aggregated them back to one row per vector; profiled at
    0.3-0.5 s single-task per assign on sf0.1, and the blowup grows with
    n_clusters at scale). No shuffle at all: the aggregation-based argmin
    disappears with the pair table.

    Bit-exactness: the kernel accumulates (v_j - c_j)^2 sequentially over
    dims (acc = acc + d*d per dim, vectorized across ROWS), replicating
    the interpreted fold's IEEE operation order exactly — assignments,
    centroids and PQ codes verified bit-identical across all three SFs.
    Tie-break: centroid rows sorted by cluster id, np.argmin keeps the
    first minimum — identical to min(struct(dist, cluster))."""
    rows = sorted(centroids.collect(), key=lambda r: r["cluster"])
    ids = np.array([r["cluster"] for r in rows], dtype=np.int64)
    cmat = np.array(
        [[float(x) for x in r["centroid"]] for r in rows], dtype=np.float64
    )

    @F.pandas_udf("int")
    def _argmin_cluster(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        V = np.array([np.asarray(x, dtype=np.float64) for x in v], dtype=np.float64)
        D = np.empty((V.shape[0], len(ids)), dtype=np.float64)
        for ci in range(len(ids)):
            c = cmat[ci]
            acc = np.zeros(V.shape[0], dtype=np.float64)
            for j in range(V.shape[1]):
                d = V[:, j] - c[j]
                acc = acc + d * d
            D[:, ci] = acc
        return pd.Series(ids[np.argmin(D, axis=1)])

    return vecs.withColumn("cluster", _argmin_cluster("__v"))


def _frozen_assign(batch: DataFrame, centroids: DataFrame) -> DataFrame:
    """Coarse-assign a ``(vec_id, embedding)`` batch to a FROZEN centroid
    table (no retrain): ``(vec_id, cluster)``. The one batch assign
    behind every ingest tick — IVF-PQ append/upsert, the on-disk append,
    the drift audit's generations and the SemDeDup append."""
    return _ivf_assign(
        batch.select(F.col("vec_id").alias("__vid"), F.col("embedding").alias("__v")),
        centroids,
    ).select(F.col("__vid").alias("vec_id"), "cluster")


def ivf_topk(
    embeddings: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank cells by centroid distance to the query (the
    centroid table is tiny — collected like any broadcast dim), scan only
    the ``n_probes`` nearest cells, brute-force cosine inside them.
    Probe selection goes through the shared ``_nearest_cells`` so the
    (distance, cluster) tie-break is deterministic and identical across
    every IVF consumer and the oracle's ``ORDER BY d, cluster``."""
    probe_clusters = _nearest_cells(centroids.collect(), query_vec, n_probes)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    candidates = embeddings.join(
        assignments.filter(F.col("cluster").isin(probe_clusters)).select(id_col), id_col
    )
    ranked = candidates.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"))
    topk = ranked.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)
    return topk.withColumn("rank", F.row_number().over(W.partitionBy(F.lit(0)).orderBy(F.desc("cos_sim"), F.asc(id_col))))


def _kmeans_cte(
    n_clusters: int, n_iters: int, src: str = "embeddings", prefix: str = ""
) -> tuple[str, str]:
    """Shared DuckDB fragment mirroring ``ivf_build``'s deterministic
    k-means (lowest-id init, argmin tie-break on cluster id, fixed
    iteration count, no RNG): unrolls ``n_iters`` assign/update rounds
    over long-form (id, dim, val) tables and finishes with the final
    assignment table ``{prefix}afinal(id, cluster)``. Returns
    ``(fragment, final_centroid_cte)`` — the fragment is a
    comma-terminated CTE list defining ``{prefix}e``, ``{prefix}el``,
    ``{prefix}cl0..clN`` and ``{prefix}afinal``, so every consumer
    (``similarity_ann_ivf``, ``dedup_semdedup``,
    ``similarity_ivf_pq_adc``) provably oracles the IDENTICAL
    clustering that the Spark side memoizes once per (session, corpus).
    ``src``/``prefix`` let one oracle instantiate SEVERAL independent
    trainings (e.g. the drift audit's retrained-codebook arms over the
    per-generation union corpora) without CTE-name collisions; the
    defaults keep every existing consumer byte-identical."""
    p = prefix
    cl = f"{p}cl0"
    rounds = []
    for i in range(1, n_iters + 1):
        rounds.append(f"""
    {p}d{i} AS (
      SELECT {p}el.id, {cl}.cluster, sum(({p}el.val - {cl}.cval) ^ 2) AS d
      FROM {p}el JOIN {cl} ON {p}el.dim = {cl}.dim
      GROUP BY {p}el.id, {cl}.cluster
    ),
    {p}a{i} AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
        FROM {p}d{i}) WHERE rn = 1
    ),
    {p}cl{i} AS (
      SELECT {p}a{i}.cluster, {p}el.dim, avg({p}el.val) AS cval
      FROM {p}a{i} JOIN {p}el ON {p}a{i}.id = {p}el.id
      GROUP BY {p}a{i}.cluster, {p}el.dim
    )""")
        cl = f"{p}cl{i}"
    fragment = f"""
    {p}e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM {src}),
    {p}el AS (
      SELECT id, u.i AS dim, v[u.i] AS val
      FROM {p}e, LATERAL unnest(range(1, len(v) + 1)) u(i)
    ),
    {p}c0 AS (
      SELECT row_number() OVER (ORDER BY id) AS cluster, id
      FROM (SELECT id FROM {p}e ORDER BY id LIMIT {n_clusters})
    ),
    {p}cl0 AS (
      SELECT {p}c0.cluster, {p}el.dim, {p}el.val AS cval
      FROM {p}c0 JOIN {p}el ON {p}c0.id = {p}el.id
    ),{",".join(rounds)},
    {p}afinal AS (
      SELECT id, cluster FROM (
        SELECT {p}el.id, {cl}.cluster,
               row_number() OVER (
                 PARTITION BY {p}el.id
                 ORDER BY sum(({p}el.val - {cl}.cval) ^ 2), {cl}.cluster) AS rn
        FROM {p}el JOIN {cl} ON {p}el.dim = {cl}.dim
        GROUP BY {p}el.id, {cl}.cluster) WHERE rn = 1
    ),"""
    return fragment, cl


def _ann_ivf_oracle_sql(
    n_clusters: int = 16, n_iters: int = 2, k: int = 10, n_probes: int = 4
) -> str:
    """DuckDB mirror of ``ivf_build`` + ``ivf_topk``: the k-means loop is
    fully deterministic (see ``_kmeans_cte``), so the oracle unrolls the
    same rounds, picks the same ``n_probes`` cells nearest the query, and
    ranks candidates by the same rounded exact cosine."""
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    return f"""
    WITH {kmeans}
    probes AS (
      SELECT {cl}.cluster
      FROM {cl} JOIN el q ON q.id = 0 AND q.dim = {cl}.dim
      GROUP BY {cl}.cluster
      ORDER BY sum(({cl}.cval - q.val) ^ 2), {cl}.cluster
      LIMIT {n_probes}
    ),
    qv AS (SELECT v FROM e WHERE id = 0),
    scored AS (
      SELECT e.id AS vec_id,
             round(list_dot_product(e.v, qv.v)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(qv.v, qv.v))), 4) AS cos_sim
      FROM e JOIN afinal ON e.id = afinal.id, qv
      WHERE afinal.cluster IN (SELECT cluster FROM probes)
    )
    SELECT vec_id, cos_sim, rank FROM (
      SELECT vec_id, cos_sim,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@register(
    "similarity_ann_ivf",
    _ann_ivf_oracle_sql(n_clusters=16, n_iters=2, k=10, n_probes=4),
    doc="ANN top-10 via IVF: deterministic distributed k-means cells, "
    "4-probe search (the second scale path next to hyperplane LSH). "
    "Fully oracled: the fixed-point-free k-means recurrence (lowest-id "
    "init, argmin tie-break on cluster, fixed 2 iterations) is unrolled "
    "in DuckDB over long-form (id, dim, val) tables; recall vs brute "
    "force additionally pinned by pytest.",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    assignments, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
    return ivf_topk(emb, assignments, centroids, qv, k=10, n_probes=4)


SEMDEDUP_TAU = 0.30  # isotropic synthetic vectors: max pairwise cosine
# at sf0.01 is 0.51, so a production threshold (~0.95) would never fire;
# 0.30 exercises the prune path. The knob is a parameter of
# semdedup_flags; only the registered query pins 0.30.
SEMDEDUP_ANCHORS = 16


# The SemDeDup family's steps, each defined once: the full flag pass,
# the anchor memo, and the delete/append transitions (which the
# registered append/delete/upsert queries and state.semdedup_tick run)
# are compositions of these three.


def _semdedup_members(vecs: DataFrame, cells: DataFrame) -> DataFrame:
    """``(vec_id, __v, cluster)``: each ``(vec_id, embedding)`` vector as
    doubles, joined to its ``(vec_id, cluster)`` cell."""
    return vecs.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("__v"),
    ).join(cells.select("vec_id", F.col("cluster").cast("bigint").alias("cluster")), "vec_id")


def _semdedup_roster(members: DataFrame, n_anchors: int = SEMDEDUP_ANCHORS) -> DataFrame:
    """Each cell's anchor roster ``(cluster, a_id, a_v)``: its
    ``n_anchors`` lowest-id members, via the two-phase ``keyed_topk``
    (parallelism bounded by partition count, never a corpus-wide
    window)."""
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_topk

    return keyed_topk(members, ["cluster"], [F.col("vec_id").asc()], k=n_anchors).select(
        "cluster", F.col("vec_id").alias("a_id"), F.col("__v").alias("a_v")
    )


def _semdedup_flag(members: DataFrame, anchors: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """Keep flags ``(vec_id, cluster, n_dup_anchors, is_kept)`` of
    ``members`` against their cells' ``anchors``: a member is pruned iff
    an anchor with a STRICTLY LOWER id has cosine (rounded to 4 dp) >=
    ``tau``.

    The anchor join is UNHINTED by the join-strategy policy: the anchor
    table is n_clusters × n_anchors rows, and production SemDeDup scales
    n_clusters with the corpus, so a forced broadcast of that
    corpus-coupled side is the misestimated-broadcast failure DEPLOY.md
    bans. At registered params (16×16) the cost model broadcasts it
    anyway; at scale the equi-join on ``cluster`` co-locates each cell's
    members with its ≤ n_anchors anchors — parallelism = cell count,
    per-task work bounded by cell size."""
    hits = (
        members.join(anchors, "cluster")
        .filter(F.col("a_id") < F.col("vec_id"))
        .filter(F.round(cosine(F.col("__v"), F.col("a_v")), 4) >= tau)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_dup_anchors"))
    )
    return members.join(hits, "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.coalesce("n_dup_anchors", F.lit(0)).cast("bigint").alias("n_dup_anchors"),
        F.col("n_dup_anchors").isNull().alias("is_kept"),
    )


def semdedup_flags(
    embeddings: DataFrame,
    assignments: DataFrame,
    tau: float = SEMDEDUP_TAU,
    n_anchors: int = SEMDEDUP_ANCHORS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) with a bounded
    anchor set: semantic dedup prunes documents whose EMBEDDING is
    near-identical to an earlier document's, using k-means cells to
    avoid the corpus-wide pairwise cosine.

    Semantics (deterministic, earliest-id survives): within each k-means
    cell, the ``n_anchors`` lowest-id members are the cell's anchors; a
    member is pruned iff some anchor with a STRICTLY LOWER id has
    cosine ≥ ``tau`` to it. The lowest-id member of any near-dup group
    is never pruned (no anchor precedes it), so every group keeps ≥1
    survivor — same first-seen survivorship contract as the token-level
    dedup family (reference semantics: first-occurrence-wins,
    /root/reference/dcc_transforms.py:249-255, lifted to embedding
    space).

    Scale shape: the corpus is NEVER self-joined. Anchors come from
    ``_semdedup_roster`` (≤ n_clusters × n_anchors rows) and each member
    row does ≤ n_anchors JVM-side cosines in ``_semdedup_flag``: one
    scan, linear in the corpus. The cap is
    honest: a dup group whose survivor is not among its cell's anchors
    is missed, exactly the recall/cost dial the capped
    containment/PPJoin family documents; `n_anchors` plays the role of
    the candidate cap, and production SemDeDup scales n_clusters with
    the corpus so cells (and anchor coverage) stay constant-sized.
    """
    members = _semdedup_members(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        assignments.select(F.col(id_col).alias("vec_id"), "cluster"),
    )
    return _semdedup_flag(members, _semdedup_roster(members, n_anchors), tau)


# Materialized-view memo for the SemDeDup keep-flag table — the shared
# prefix of dedup_semdedup, corpus_semdedup_budget and the maintenance
# ticks (same discipline as graph._minhash_components: a production
# curation run materializes the per-corpus prune decision ONCE, then
# every consumer — the flag export, the per-source budget rollup, the
# actual filter — reads it). Against the checkpointed flag table the
# budget rollup is one linear join + one hash agg, not the flag pipeline
# re-run on top of the corpus-sized documents join.
def semdedup_flags_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered SemDeDup keep-flag table (16 cells, 16 anchors,
    tau=SEMDEDUP_TAU) for ``sf_dir``, computed once per (session,
    corpus) and localCheckpoint-pinned."""

    def build():
        emb = Catalog(spark, sf_dir)["embeddings"]
        assignments, _centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
        return materialize(semdedup_flags(emb, assignments))

    return session_memo(spark, ("semdedup_flags", sf_dir), build)


def semdedup_anchors_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup anchor table (cluster, a_id, a_v) for ``sf_dir`` —
    ≤ n_clusters × n_anchors rows, computed once per (session, corpus)
    and localCheckpoint-pinned. A production curation run persists this
    next to the keep-flag table: it is the frozen state the incremental
    append ticks against (the embedding-space analog of the MinHash hub
    table)."""

    def build():
        emb = Catalog(spark, sf_dir)["embeddings"]
        assignments, _centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
        return _semdedup_roster(_semdedup_members(emb, assignments)).transform(materialize)

    return session_memo(spark, ("semdedup_anchors", sf_dir), build)


def _semdedup_flags_cte(
    n_clusters: int = 16,
    n_iters: int = 2,
    tau: float = SEMDEDUP_TAU,
    n_anchors: int = SEMDEDUP_ANCHORS,
    member_filter: str = "",
) -> str:
    """Comma-terminated CTE prefix: the k-means fragment plus
    ``members``, ``anchors`` and ``dup_hits`` — shared by the per-doc
    flag query and the per-source budget rollup so both oracle the
    IDENTICAL prune decision. ``member_filter`` (a ``WHERE …`` fragment
    on ``e.id``) restricts membership while the cells stay trained on
    the FULL corpus — the frozen-cell replay the deletion twin needs."""
    kmeans, _cl = _kmeans_cte(n_clusters, n_iters)
    return f"""{kmeans}
    members AS (
      SELECT e.id, afinal.cluster, e.v FROM e JOIN afinal ON e.id = afinal.id
      {member_filter}
    ),
    anchors AS (
      SELECT id AS a_id, cluster, v AS a_v FROM (
        SELECT id, cluster, v,
               row_number() OVER (PARTITION BY cluster ORDER BY id) AS rk
        FROM members) WHERE rk <= {n_anchors}
    ),
    dup_hits AS (
      SELECT m.id, count(*) AS n_dup_anchors
      FROM members m JOIN anchors a
        ON m.cluster = a.cluster AND a.a_id < m.id
      WHERE round(list_dot_product(m.v, a.a_v)
                  / (sqrt(list_dot_product(m.v, m.v))
                     * sqrt(list_dot_product(a.a_v, a.a_v))), 4) >= {tau}
      GROUP BY m.id
    )"""


def _semdedup_oracle_sql(
    n_clusters: int = 16,
    n_iters: int = 2,
    tau: float = SEMDEDUP_TAU,
    n_anchors: int = SEMDEDUP_ANCHORS,
) -> str:
    return f"""
    WITH {_semdedup_flags_cte(n_clusters, n_iters, tau, n_anchors)}
    SELECT m.id AS vec_id, m.cluster::BIGINT AS cluster,
           coalesce(d.n_dup_anchors, 0)::BIGINT AS n_dup_anchors,
           d.id IS NULL AS is_kept
    FROM members m LEFT JOIN dup_hits d ON m.id = d.id
    """


@register(
    "dedup_semdedup",
    _semdedup_oracle_sql(),
    doc="SemDeDup semantic pruning (Abbas et al. 2023): k-means cells "
    "(the SAME memoized deterministic ivf_build clustering that "
    "similarity_ann_ivf queries — one training per session+corpus), "
    "then within each cell every member is compared against the cell's "
    "16 lowest-id ANCHOR members only; a member is pruned iff an "
    "earlier-id anchor has cosine ≥ 0.30 (threshold chosen for the "
    "isotropic synthetic vectors; production ≈0.95). Output is "
    "corpus-sized per-doc keep flags, never a pair stream. Scale: no "
    "corpus self-join anywhere — anchors come from the two-phase "
    "keyed_topk and join UNHINTED on `cluster` (production scales "
    "n_clusters with the corpus, so the anchor side is corpus-coupled "
    "— the cost model broadcasts it at small k, shuffle-joins at "
    "cell-count parallelism at large k), each row "
    "does ≤16 codegen'd cosines, and the k-means recurrence shuffles "
    "(cluster, dim, value) triples only. The anchor cap is the "
    "recall/cost dial (same contract as capped containment/PPJoin); "
    "the full unrolled k-means is value-oracled in DuckDB via the "
    "shared _kmeans_cte fragment.",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_flags_memo(spark, sf_dir)


@register(
    "corpus_semdedup_budget",
    f"""
    WITH {_semdedup_flags_cte()},
    flags AS (
      SELECT m.id AS doc_id, d.id IS NULL AS is_kept
      FROM members m LEFT JOIN dup_hits d ON m.id = d.id
    )
    SELECT doc.source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN f.is_kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           ((sum(CASE WHEN f.is_kept THEN 1 ELSE 0 END) * 1000000)
            // count(*))::BIGINT AS kept_ppm,
           sum(doc.n_chars)::BIGINT AS chars_total,
           sum(CASE WHEN f.is_kept THEN doc.n_chars ELSE 0 END)::BIGINT
             AS chars_kept,
           ((sum(CASE WHEN f.is_kept THEN doc.n_chars ELSE 0 END) * 1000000)
            // sum(doc.n_chars))::BIGINT AS chars_kept_ppm
    FROM documents doc JOIN flags f USING (doc_id)
    GROUP BY 1
    """,
    doc="Per-source SemDeDup budget report — what a curation run reads "
    "before committing a threshold: docs/chars kept per source in exact "
    "integer ppm (truncating integer division, identical on both "
    "engines). The FIRST cross-modal composition in the registry: joins "
    "the documents fact to the embedding-space keep flags on the shared "
    "doc_id↔vec_id key — the canonical corpus-and-its-embeddings shape "
    "of a real pipeline. Plan: the flag side IS the memoized per-corpus "
    "keep-flag table (semdedup_flags_memo — computed once per session+"
    "corpus, localCheckpoint-pinned, shared with dedup_semdedup; oracled "
    "through the shared _semdedup_flags_cte fragment), the doc↔flag "
    "equi-join is unhinted (both sides corpus-coupled), and the rollup "
    "is one map-side-partial hash aggregate on the low-cardinality "
    "source key. Making the flag table a materialized view instead of "
    "re-running the anchor-prune pipeline inside the rollup query "
    "flattened the 256x slope (2.93x -> linear).",
)
def corpus_semdedup_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    flags = semdedup_flags_memo(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "is_kept"
    )
    j = docs.select("doc_id", "source", "n_chars").join(flags, "doc_id")
    kept = F.sum(F.when(F.col("is_kept"), 1).otherwise(0))
    chars_kept = F.sum(F.when(F.col("is_kept"), F.col("n_chars")).otherwise(0))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        kept.cast("bigint").alias("n_kept"),
        F.expr(
            "(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        ).cast("bigint").alias("kept_ppm"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        chars_kept.cast("bigint").alias("chars_kept"),
        F.expr(
            "(sum(CASE WHEN is_kept THEN n_chars ELSE 0 END) * 1000000)"
            " div sum(n_chars)"
        ).cast("bigint").alias("chars_kept_ppm"),
    )


# deterministic ingest batch for the incremental SemDeDup tick: every
# 25th vector (mod-class 9) re-keyed past the corpus id range (same
# 1e6 shift convention as the IVF-PQ append batch)
_SEM_APPEND_SHIFT = 10_000_000_000  # above any bench_scale replica id
_SEM_APPEND_MOD, _SEM_APPEND_RES = 25, 9


def _sem_append_batch(emb: DataFrame) -> DataFrame:
    """The registered SemDeDup ingest batch ``(vec_id, embedding)``."""
    return emb.filter(
        F.pmod(F.col("vec_id"), F.lit(_SEM_APPEND_MOD)) == _SEM_APPEND_RES
    ).select((F.col("vec_id") + F.lit(_SEM_APPEND_SHIFT)).alias("vec_id"), "embedding")


def _semdedup_append_oracle_sql(
    n_clusters: int = 16,
    n_iters: int = 2,
    tau: float = SEMDEDUP_TAU,
    n_anchors: int = SEMDEDUP_ANCHORS,
) -> str:
    """DuckDB mirror of the frozen-state SemDeDup append: k-means trains
    on the BASE corpus only (the frozen cells), the batch coarse-assigns
    to the final centroids, and the anchor/prune pass runs over the
    union membership — which, because batch ids exceed every base id,
    keeps each cell's base anchors in place (batch members only FILL
    under-populated cells' remaining anchor slots) and cannot add hits
    to any base member (a new anchor's id exceeds theirs)."""
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    return f"""
    WITH {kmeans}
    newv AS (
      SELECT vec_id + {_SEM_APPEND_SHIFT} AS vec_id, embedding
      FROM embeddings WHERE vec_id % {_SEM_APPEND_MOD} = {_SEM_APPEND_RES}
    ),
    nel AS (
      SELECT vec_id AS id, u.i AS dim, (embedding::DOUBLE[])[u.i] AS val
      FROM newv, LATERAL unnest(range(1, len(embedding) + 1)) u(i)
    ),
    nassign AS (
      SELECT id, cluster FROM (
        SELECT nel.id, {cl}.cluster,
               row_number() OVER (
                 PARTITION BY nel.id
                 ORDER BY sum((nel.val - {cl}.cval) ^ 2), {cl}.cluster) AS rn
        FROM nel JOIN {cl} ON nel.dim = {cl}.dim
        GROUP BY nel.id, {cl}.cluster) WHERE rn = 1
    ),
    allm AS (
      SELECT e.id, afinal.cluster, e.v FROM e JOIN afinal ON e.id = afinal.id
      UNION ALL
      SELECT n.vec_id AS id, na.cluster, n.embedding::DOUBLE[] AS v
      FROM newv n JOIN nassign na ON n.vec_id = na.id
    ),
    anchors AS (
      SELECT id AS a_id, cluster, v AS a_v FROM (
        SELECT id, cluster, v,
               row_number() OVER (PARTITION BY cluster ORDER BY id) AS rk
        FROM allm) WHERE rk <= {n_anchors}
    ),
    dup_hits AS (
      SELECT m.id, count(*) AS n_dup_anchors
      FROM allm m JOIN anchors a
        ON m.cluster = a.cluster AND a.a_id < m.id
      WHERE round(list_dot_product(m.v, a.a_v)
                  / (sqrt(list_dot_product(m.v, m.v))
                     * sqrt(list_dot_product(a.a_v, a.a_v))), 4) >= {tau}
      GROUP BY m.id
    )
    SELECT m.id AS vec_id, m.cluster::BIGINT AS cluster,
           coalesce(d.n_dup_anchors, 0)::BIGINT AS n_dup_anchors,
           d.id IS NULL AS is_kept,
           m.id >= {_SEM_APPEND_SHIFT} AS is_appended
    FROM allm m LEFT JOIN dup_hits d ON m.id = d.id
    """


@register(
    "semdedup_flags_append",
    _semdedup_append_oracle_sql(),
    doc="Incremental SemDeDup — the embedding-space ingest tick, the "
    "twin of dedup_minhash_clusters_append and ivfpq_append_search, "
    "run by semdedup_state_append (the transition state.semdedup_tick "
    "commits): a new "
    "vector batch coarse-assigns to the FROZEN k-means cells (no "
    "retrain), compares against the FROZEN persisted anchor table "
    "(semdedup_anchors_memo — the embedding-space hub table) plus "
    "earlier-id batch members that FILL any under-populated cell's "
    "remaining anchor slots, and only the batch's flags are computed — "
    "the memoized base keep-flag table is passed through untouched. "
    "EQUIVALENCE to the frozen-cell rebuild over the union corpus, "
    "which the oracle replays end-to-end: batch ids exceed every base "
    "id, so (1) the union's per-cell lowest-id anchor sets extend — "
    "never displace — the base anchors, and (2) no base member can "
    "gain a hit (every new anchor's id exceeds its own), so base flags "
    "are invariant; batch flags see exactly the rebuild's anchor set. "
    "The monotonic-id guard enforces that precondition at runtime. "
    "Cost: O(batch x n_anchors) cosines + one batch-sized assign — a "
    "daily tick, never an O(corpus) re-prune. Output adds is_appended.",
)
def semdedup_flags_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    _assignments, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
    flags, _anchors = semdedup_state_append(
        semdedup_flags_memo(spark, sf_dir),
        semdedup_anchors_memo(spark, sf_dir),
        centroids,
        _sem_append_batch(emb),
    )
    return flags.withColumn("is_appended", F.col("vec_id") >= F.lit(_SEM_APPEND_SHIFT))


# deterministic takedown batch for the SemDeDup deletion tick: every
# 30th vector (mod-class 2 — never the anchor query vec_id 0). At the
# gate corpus most vectors are anchors (16 cells x 16 anchors vs 500
# vectors), so the batch reliably exercises the anchor-promotion path.
_SEM_DELETE_MOD, _SEM_DELETE_RES = 30, 2


@register(
    "semdedup_flags_delete",
    f"""
    WITH {_semdedup_flags_cte(member_filter=f"WHERE e.id % {_SEM_DELETE_MOD} <> {_SEM_DELETE_RES}")}
    SELECT m.id AS vec_id, m.cluster::BIGINT AS cluster,
           coalesce(d.n_dup_anchors, 0)::BIGINT AS n_dup_anchors,
           d.id IS NULL AS is_kept
    FROM members m LEFT JOIN dup_hits d ON m.id = d.id
    """,
    doc="SemDeDup DELETION maintenance — corrects the naive assumption "
    "that a keep-flag delete is a row filter: flags are computed "
    "AGAINST the cell's anchor set, so deleting an ANCHOR changes its "
    "cell's lowest-id anchor roster and can flip other members' flags "
    "(a doc pruned only by a now-removed anchor must come back). The "
    "tick (semdedup_state_delete, the transition state.semdedup_tick "
    "commits) therefore splits cells: (1) cells that lost NO anchor pass "
    "their frozen flags through minus the deleted rows — deleting a "
    "non-anchor member never changes the lowest-n_anchors set, and a "
    "member's flag depends only on its cell's anchors, so pass-through "
    "is exact; (2) cells that lost an anchor recompute from their "
    "surviving members only (frozen cells, batch-of-cells-sized work). "
    "Oracle replays the frozen-cell rebuild over survivors (k-means "
    "trained on the FULL corpus, membership filtered) end-to-end.",
)
def semdedup_flags_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    deleted = emb.filter(
        F.pmod(F.col("vec_id"), F.lit(_SEM_DELETE_MOD)) == _SEM_DELETE_RES
    ).select("vec_id")
    flags, _anchors = semdedup_state_delete(
        semdedup_flags_memo(spark, sf_dir), semdedup_anchors_memo(spark, sf_dir), deleted, emb
    )
    return flags


@register(
    "array_hof_suite",
    """
    SELECT vec_id,
           round(list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'sum'), 4)
               AS vec_sum,
           cast(len(list_filter(embedding, x -> x > 0)) AS bigint) AS n_pos,
           len(list_filter(embedding, x -> x > 0.9)) > 0 AS has_big,
           round(list_max(embedding)::DOUBLE, 4) AS vmax,
           round(list_sort(embedding)[1]::DOUBLE, 4) AS vmin_sorted
    FROM embeddings
    """,
    doc="Higher-order array function suite (transform/aggregate/filter/"
    "exists/array_max/array_sort) over the float-vector column — all "
    "JVM-side lambdas inside whole-stage codegen, no UDF. The fold is "
    "sequential on both engines (same element order), so double sums "
    "agree exactly; floats are cast to double BEFORE accumulating.",
)
def array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.round(F.aggregate(emb_d, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.exists(F.col("embedding"), lambda x: x > F.lit(0.9)).alias("has_big"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("vmax"),
        F.round(F.element_at(F.array_sort("embedding"), 1).cast("double"), 4).alias("vmin_sorted"),
    )


def ivf_write_index(
    embeddings: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index as a cluster-partitioned parquet layout.

    Vectors land under ``path/vectors/cluster=<c>/``; the tiny centroid
    table under ``path/centroids/``. The point of the layout: an
    ``n_probes``-cell search becomes a *partition-pruned scan* — only the
    probed cluster directories are listed and read, so search I/O scales
    with the probed fraction (n_probes/n_clusters of the corpus), not
    with corpus size. Disk-level analog of the in-memory
    ``ivf_topk`` candidate filter.
    """
    from redcap_omop_etl_spark.sources.partitioned import write_partitioned

    vecs = embeddings.select(id_col, vec_col).join(assignments, id_col)
    write_partitioned(vecs, f"{path}/vectors", "cluster")
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_from_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index: rank cells by centroid distance
    (driver-side, centroid table is tiny), then brute-force cosine over a
    scan whose ``cluster IN (probes)`` predicate prunes at file-listing
    time — unprobed cells cost zero I/O. Probe selection shares
    ``_nearest_cells`` for its deterministic (distance, cluster)
    tie-break."""
    cents = spark.read.parquet(f"{path}/centroids").collect()
    probe_clusters = _nearest_cells(cents, query_vec, n_probes)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    candidates = spark.read.parquet(f"{path}/vectors").filter(F.col("cluster").isin(probe_clusters))
    ranked = candidates.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"))
    topk = ranked.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)
    return topk.withColumn("rank", F.row_number().over(W.partitionBy(F.lit(0)).orderBy(F.desc("cos_sim"), F.asc(id_col))))


@register(
    "embedding_quantize_error",
    """
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale,
             embedding
      FROM embeddings
    ), e AS (
      SELECT vec_id, scale,
             list_transform(embedding,
                            x -> abs(x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale)) AS err
      FROM s
    )
    SELECT vec_id,
           round(scale * 1000, 6) AS scale_milli,
           round(list_max(err) * 1000, 6) AS max_abs_err_milli,
           round(list_sum(list_transform(err, v -> v * v)) / len(err) * 1e6, 6) AS mse_micro
    FROM e
    """,
    doc="Symmetric int8 scalar quantization audit — the storage-"
    "compression baseline every billion-vector ANN index runs (4x "
    "smaller than f32, cache-friendlier GEMMs): per-vector scale = "
    "max|x|/127, code = floor(x/scale + 0.5) (floor-form rounding, "
    "identical on both engines — round() half modes differ), and the "
    "reconstruction-error report (max abs, MSE) that decides whether SQ "
    "suffices or PQ is needed. Pure JVM higher-order functions, one "
    "scan, no shuffle; outputs scaled to milli/micro before 6dp "
    "rounding so the hash compares real signal, not leading zeros.",
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    xd = lambda x: x.cast("double")  # noqa: E731
    scale = (F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x)))) / 127.0).alias("scale")
    s = emb.select("vec_id", scale, "embedding")
    err = F.transform(
        F.col("embedding"),
        lambda x: F.abs(xd(x) - F.floor(xd(x) / F.col("scale") + 0.5) * F.col("scale")),
    )
    e = s.select("vec_id", "scale", err.alias("err"))
    mse = (
        F.aggregate(F.transform(F.col("err"), lambda v: v * v), F.lit(0.0), lambda acc, v: acc + v)
        / F.size("err")
    )
    return e.select(
        "vec_id",
        F.round(F.col("scale") * 1000, 6).alias("scale_milli"),
        F.round(F.array_max("err") * 1000, 6).alias("max_abs_err_milli"),
        F.round(mse * 1e6, 6).alias("mse_micro"),
    )


PQ_SUBSPACES = 8
PQ_SUBDIM = 8  # 64-dim embeddings -> 8 subspaces x 8 dims
# 16 codewords = 4-bit codes (production PQ uses 256 = 8-bit; 16 keeps
# the unrolled one-Lloyd-round DuckDB oracle trivial while giving the
# ADC proxy a realistic codebook size for the 500-5000-vector corpora)
PQ_CODEWORDS = 16


def _pq_sl(col: str, s: str) -> str:
    """DuckDB 1-based subvector slice for subspace expression ``s``."""
    return f"{col}[{s} * {PQ_SUBDIM} + 1 : {s} * {PQ_SUBDIM} + {PQ_SUBDIM}]::DOUBLE[]"


def _pq_cte() -> str:
    """Shared DuckDB fragment mirroring ``pq_assign``: defines ``seeds``,
    ``subs``, ``vs``, the init codebook ``cs0``, ONE unrolled Lloyd
    training round (assign ``b0``/``a0`` → per-(subspace, codeword, dim)
    mean update → trained codebook ``cs``), then the final code table
    ``best`` (quantized distortion; rk=1 rows are the codes) —
    comma-terminated CTE list consumed by the PQ audit and the IVF-PQ
    ADC search so both oracle the IDENTICAL trained code assignment.
    Deterministic for the same reasons as ``_kmeans_cte``: lowest-id
    seeds, integer-quantized distances before every argmin, (d2q,
    codeword) tie-break; a codeword left empty in a subspace drops out
    of the update inner-join on BOTH engines."""
    subs = ", ".join(f"({s})" for s in range(PQ_SUBSPACES))
    return f"""
    seeds AS (
      SELECT embedding, row_number() OVER (ORDER BY vec_id) AS codeword
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {PQ_CODEWORDS})
    ), subs(s) AS (VALUES {subs}),
    vs AS (
      SELECT vec_id, s AS subspace, {_pq_sl('embedding', 's')} AS sv
      FROM embeddings CROSS JOIN subs
    ), cs0 AS (
      SELECT codeword, s AS subspace, {_pq_sl('embedding', 's')} AS cv
      FROM seeds CROSS JOIN subs
    ), j0 AS (
      SELECT vec_id, subspace, codeword,
             floor((list_dot_product(sv, sv) + list_dot_product(cv, cv)
                    - 2 * list_dot_product(sv, cv)) * 10000 + 0.5)::BIGINT AS d2q
      FROM vs JOIN cs0 USING (subspace)
    ), a0 AS (
      SELECT vec_id, subspace, codeword FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2q, codeword) AS rk
        FROM j0) WHERE rk = 1
    ), vsl AS (
      SELECT vec_id, subspace, u.i AS dim, sv[u.i] AS val
      FROM vs, LATERAL unnest(range(1, len(sv) + 1)) u(i)
    ), csl AS (
      SELECT a0.subspace, a0.codeword, vsl.dim, avg(vsl.val) AS cval
      FROM a0 JOIN vsl ON a0.vec_id = vsl.vec_id AND a0.subspace = vsl.subspace
      GROUP BY 1, 2, 3
    ), cs AS (
      SELECT subspace, codeword, list(cval ORDER BY dim) AS cv
      FROM csl GROUP BY 1, 2
    ), j AS (
      SELECT vec_id, subspace, codeword,
             floor((list_dot_product(sv, sv) + list_dot_product(cv, cv)
                    - 2 * list_dot_product(sv, cv)) * 10000 + 0.5)::BIGINT AS d2q
      FROM vs JOIN cs USING (subspace)
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                   ORDER BY d2q, codeword) AS rk
      FROM j
    ),"""


def _pq_oracle_sql() -> str:
    return f"""
    WITH {_pq_cte()}
    codes AS (SELECT vec_id, subspace, codeword, d2q FROM best WHERE rk = 1)
    SELECT subspace::BIGINT AS subspace, codeword::BIGINT AS codeword,
           count(*)::BIGINT AS n_assigned,
           round(sum(d2q)::DOUBLE / (count(*) * 10000.0), 6) AS avg_distortion
    FROM codes GROUP BY 1, 2
    """


@register(
    "embedding_pq_audit",
    _pq_oracle_sql(),
    doc=f"Product-quantization assignment audit: split the 64-dim vectors "
    f"into {PQ_SUBSPACES} contiguous {PQ_SUBDIM}-dim subspaces, assign "
    f"each subvector to its nearest of {PQ_CODEWORDS} codewords "
    "(deterministic lowest-vec_id seeds — the init step of PQ codebook "
    "training), and report per-cell occupancy + average distortion — the "
    "memory-vs-recall audit behind every PQ/IVFPQ index. Plan: the "
    "subspace fan-out is an in-row explode (never a crossJoin of the "
    "vector table), codewords are a PQ_SUBSPACES×PQ_CODEWORDS-row "
    "(8×16=128) broadcast, and the argmin is "
    "a min(struct(d2q, codeword)) hash AGGREGATE — partial-aggregated "
    "map-side so only rows x subspaces single-struct rows shuffle (the "
    "row_number-window form it replaced exchanged and sorted rows x "
    "subspaces x 32 candidates). Distances quantize to integers "
    "(floor(d2·10⁴+0.5)) "
    "before the argmin and the distortion sum, so tie-breaks and "
    "averages are exact cross-engine.",
)
def embedding_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["embeddings"]
    best, _cs = pq_assign(e, memo_key=sf_dir)
    return best.groupBy(
        "subspace", F.col("codeword").cast("bigint").alias("codeword")
    ).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.sum("d2q").cast("double") / (F.count(F.lit(1)) * 10000.0), 6).alias(
            "avg_distortion"
        ),
    )


def _pq_argmin(vs: DataFrame, cs: DataFrame) -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace), vectorized
    through the Arrow boundary (round 13, same treatment as
    ``_ivf_assign``). The codebook is parameter-bounded (≤ subspaces ×
    codewords rows) — collected once per call, exactly the relation the
    previous formulation broadcast — and each (vector, subspace) row
    computes its argmin codeword in ONE ArrowEvalPython pass: no
    broadcast-join row blowup (the previous shape shipped rows × 16
    codeword pairs into interpreted dot-product folds and re-aggregated),
    no shuffle (the min(struct) aggregate disappears with the pair
    table).

    Bit-exactness: d2 = (dot(sv,sv) + dot(cv,cv)) - 2·dot(sv,cv) with
    each dot accumulated sequentially over dims in IEEE order (vectorized
    across rows), then integer-quantized floor(d2·10⁴+0.5) exactly as
    before — verified bit-identical across all three SFs. Tie-break:
    codeword ids sorted ascending, np.argmin keeps the first minimum —
    identical to min(struct(d2q, codeword)). A subspace absent from the
    codebook drops its rows (the inner-join semantics), kept as a
    null-filter on the result struct."""
    rows = cs.collect()
    book: dict[int, list] = {}
    for r in rows:
        book.setdefault(int(r["subspace"]), []).append(
            (int(r["codeword"]), [float(x) for x in r["cv"]])
        )
    for s in book:
        book[s].sort()
    bids = {s: np.array([c for c, _ in v], dtype=np.int64) for s, v in book.items()}
    bmat = {s: np.array([cv for _, cv in v], dtype=np.float64) for s, v in book.items()}

    @F.pandas_udf("codeword int, d2q bigint")
    def _argmin_codeword(sub: pd.Series, sv: pd.Series) -> pd.DataFrame:
        n_all = len(sub)
        out_c = np.full(n_all, -1, dtype=np.int64)
        out_d = np.zeros(n_all, dtype=np.int64)
        if n_all:
            subs = sub.to_numpy()
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in sv], dtype=np.float64
            )
            for s in np.unique(subs):
                si = int(s)
                if si not in bids:
                    continue
                m = subs == s
                Vm = V[m]
                n = Vm.shape[0]
                dvv = np.zeros(n, dtype=np.float64)
                for j in range(Vm.shape[1]):
                    dvv = dvv + Vm[:, j] * Vm[:, j]
                ids_s, cm = bids[si], bmat[si]
                Q = np.empty((n, len(ids_s)), dtype=np.int64)
                for ci in range(len(ids_s)):
                    c = cm[ci]
                    dcc = 0.0
                    for j in range(len(c)):
                        dcc = dcc + c[j] * c[j]
                    dvc = np.zeros(n, dtype=np.float64)
                    for j in range(Vm.shape[1]):
                        dvc = dvc + Vm[:, j] * c[j]
                    d2 = (dvv + dcc) - 2 * dvc
                    Q[:, ci] = np.floor(d2 * 10000 + 0.5).astype(np.int64)
                am = np.argmin(Q, axis=1)
                out_c[m] = ids_s[am]
                out_d[m] = Q[np.arange(n), am]
        cw = pd.Series(out_c).astype("Int32")
        cw[out_c < 0] = pd.NA
        return pd.DataFrame({"codeword": cw, "d2q": out_d})

    # asNondeterministic: without it the null-filter + struct-field
    # projections below duplicate the ArrowEvalPython node in the
    # physical plan (2 nodes -> every row pays the kernel twice); the
    # kernel is pure, the marker only stops duplication/reordering.
    r = vs.withColumn("m", _argmin_codeword.asNondeterministic()("subspace", "sv"))
    return r.filter(F.col("m.codeword").isNotNull()).select(
        "vec_id",
        "subspace",
        F.col("m.codeword").alias("codeword"),
        F.col("m.d2q").alias("d2q"),
    )


def _pq_sub_struct(col: str, alias: str):
    """Explode a vector column into (subspace, subvector) structs — an
    in-row fan-out, never a crossJoin of the vector table."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("bigint").alias("subspace"),
                    F.slice(F.col(col), s * PQ_SUBDIM + 1, PQ_SUBDIM).alias(alias),
                )
                for s in range(PQ_SUBSPACES)
            ]
        )
    )


def _pq_encode(batch: DataFrame, cs: DataFrame) -> DataFrame:
    """Encode a ``(vec_id, embedding)`` batch with a FROZEN codebook
    ``cs`` (no retrain, so existing codes stay valid):
    ``(vec_id, subspace, codeword, d2q)``, the code-table shape
    ``pq_assign`` returns."""
    vs = batch.select("vec_id", _pq_sub_struct("embedding", "sv").alias("x")).select(
        "vec_id", "x.subspace", "x.sv"
    )
    return _pq_argmin(vs, cs)


def pq_assign(e: DataFrame, memo_key: str | None = None) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebook training (ONE Lloyd round from
    deterministic lowest-vec_id seeds) + code assignment, shared by the
    PQ audit and the IVF-PQ ADC search: split each vector into
    PQ_SUBSPACES contiguous PQ_SUBDIM-dim subvectors, train the
    per-subspace PQ_CODEWORDS-codeword codebook, assign each subvector
    to its nearest trained codeword. Returns
    ``(best, cs)``: ``best(vec_id, subspace, codeword, d2q)`` — the code
    table plus the integer-quantized (×10⁴) squared distance to the
    chosen codeword — and ``cs(codeword, subspace, cv)`` — the codebook
    subvectors (PQ_CODEWORDS × PQ_SUBSPACES rows, parameter-bounded).

    Pass ``memo_key`` (the corpus directory) to reuse a
    previously-computed code table for the same (session, corpus) — PQ
    codes are INDEX state computed once at ingest and queried many
    times, exactly like the IVF assignments (``ivf_build``); re-encoding
    the corpus per search query is pure waste (measured: the encode was
    ~5x the actual ADC search wall at 64x replication).

    Plan: codewords are a PQ_SUBSPACES×PQ_CODEWORDS-row (8×16=128)
    broadcast; the argmin is a
    min(struct(d2q, codeword)) hash AGGREGATE — partial-aggregated
    map-side so only rows × subspaces single-struct rows shuffle (the
    row_number-window form it replaced exchanged and sorted rows ×
    subspaces × 32 candidates). Distances quantize to integers
    (floor(d2·10⁴+0.5)) before the argmin so tie-breaks are exact
    cross-engine."""
    if memo_key is not None:

        def build():
            best, cs = pq_assign(e)
            # checkpoint-bound the memoized frames: the code table is read
            # by every subsequent search in the session, the codebook is tiny.
            return materialize(best, "lazy"), materialize(cs, "lazy")

        return session_memo(e.sparkSession, ("pq_assign", memo_key), build)
    # size-adaptive single-job planning (round 13, same gate as
    # ivf_build): the Lloyd update shuffles rows x dim triples, so the
    # measured vector count x 64 bounds the working set.
    with small_plan_rounds(e.sparkSession, e.count() * 64):
        seeds = (
            e.orderBy("vec_id")
            .limit(PQ_CODEWORDS)
            .select(
                F.row_number()
                .over(W.partitionBy(F.lit(0)).orderBy("vec_id"))
                .alias("codeword"),
                F.col("embedding").alias("cvec"),
            )
        )
        # fan_out REMOVED (round 13, final session): the spread existed to
        # parallelize _pq_argmin's interpreted 0.7-1.0 s single-task
        # distance folds; the vectorized Arrow argmin kernel made them
        # milliseconds and the round-robin exchange became pure overhead
        # (A/B: adc 3.4-3.6 s without vs 4.1-4.3 s with, others neutral).
        vs = e.select(
            "vec_id", _pq_sub_struct("embedding", "sv").alias("x")
        ).select("vec_id", "x.subspace", "x.sv")
        cs = seeds.select("codeword", _pq_sub_struct("cvec", "cv").alias("x")).select(
            "codeword", "x.subspace", "x.cv"
        )
        # ONE Lloyd training round (mirrored by the unrolled oracle): assign
        # every subvector to its nearest init codeword, then replace each
        # (subspace, codeword) cell with the mean of its assigned subvectors.
        # The update shuffles (subspace, codeword, dim, value) triples only —
        # rows × dim, same shape as ivf_build's centroid update — and the
        # retrained codebook stays parameter-bounded (≤ subspaces×codewords
        # rows, eagerly checkpointed like ivf_build's centroid table). A
        # codeword left empty in a subspace drops out of the inner-join
        # update on both engines.
        assign0 = _pq_argmin(vs, cs)
        vsl = vs.select(
            "vec_id",
            "subspace",
            F.posexplode(F.transform("sv", lambda x: x.cast("double"))).alias(
                "dim", "val"
            ),
        )
        cs = (
            assign0.select("vec_id", "subspace", "codeword")
            .join(vsl, ["vec_id", "subspace"])
            .groupBy("subspace", "codeword", "dim")
            .agg(F.avg("val").alias("cval"))
            .groupBy("subspace", "codeword")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv")
            )
            .transform(materialize)
        )
        best = _pq_argmin(vs, cs)
    return best, cs


def _ivfpq_oracle_sql(
    n_clusters: int = 16,
    n_iters: int = 2,
    k: int = 10,
    n_probes: int = 4,
    cand_filter: str = "",
) -> str:
    """DuckDB mirror of the IVF-PQ ADC search: the shared k-means
    fragment supplies cells+probes, the shared PQ fragment supplies the
    code table, and the ADC distance is the BIGINT sum of the per-
    subspace quantized query→codeword distances — integer arithmetic end
    to end, so the top-k set and its tie-breaks agree cross-engine.
    ``cand_filter`` (an ``AND …`` fragment on ``c.vec_id``) restricts
    which codes survive as candidates — the deletion-maintenance twin
    replays "search after takedown" with it while the frozen centroids/
    codebook still train on the FULL corpus, exactly like the index."""
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    return f"""
    WITH {kmeans}{_pq_cte()}
    codes AS (SELECT vec_id, subspace, codeword FROM best WHERE rk = 1),
    qsub AS (
      SELECT s AS subspace, {_pq_sl('embedding', 's')} AS qv_s
      FROM embeddings CROSS JOIN subs WHERE vec_id = 0
    ),
    dtable AS (
      SELECT cs.subspace, cs.codeword,
             floor((list_dot_product(cv, cv) + list_dot_product(qv_s, qv_s)
                    - 2 * list_dot_product(cv, qv_s)) * 10000 + 0.5)::BIGINT AS qd2q
      FROM cs JOIN qsub USING (subspace)
    ),
    probes AS (
      SELECT {cl}.cluster
      FROM {cl} JOIN el q ON q.id = 0 AND q.dim = {cl}.dim
      GROUP BY {cl}.cluster
      ORDER BY sum(({cl}.cval - q.val) ^ 2), {cl}.cluster
      LIMIT {n_probes}
    ),
    adc AS (
      SELECT c.vec_id, sum(d.qd2q)::BIGINT AS adc_d2q
      FROM codes c
      JOIN afinal ON c.vec_id = afinal.id
      JOIN dtable d ON c.subspace = d.subspace AND c.codeword = d.codeword
      WHERE afinal.cluster IN (SELECT cluster FROM probes) AND c.vec_id <> 0
        {cand_filter}
      GROUP BY c.vec_id
    ),
    ranked AS (
      SELECT vec_id, adc_d2q,
             row_number() OVER (ORDER BY adc_d2q, vec_id) AS adc_rank
      FROM adc
    ),
    qv AS (SELECT v FROM e WHERE id = 0)
    SELECT r.vec_id, r.adc_rank, r.adc_d2q,
           round(list_dot_product(e.v, qv.v)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(qv.v, qv.v))), 4) AS cos_sim
    FROM ranked r JOIN e ON e.id = r.vec_id, qv
    WHERE r.adc_rank <= {k}
    """


def _nearest_cells(cents, query_vec: list[float], n_probes: int) -> list[int]:
    """Probe selection over COLLECTED centroid rows (parameter-bounded:
    n_clusters × dim doubles — collected like any broadcast dim)."""
    scored = sorted(
        (
            (c["cluster"], sum((float(v) - q) ** 2 for v, q in zip(c["centroid"], query_vec)))
            for c in cents
        ),
        key=lambda t: (t[1], t[0]),
    )
    return [c for c, _ in scored[:n_probes]]


def _adc_dtable(cs: DataFrame, query_vec: list[float]) -> DataFrame:
    """ADC distance table: per-subspace query subvectors as an in-row
    literal fan-out joined against the codebook subvectors —
    PQ_SUBSPACES×PQ_CODEWORDS (8×16=128) rows,
    integer-quantized (floor(d2·10⁴+0.5)) so per-vector ADC sums are
    exact BIGINT arithmetic on every engine."""
    qsub = cs.sparkSession.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("bigint").alias("subspace"),
                        F.array(
                            *[
                                F.lit(query_vec[s * PQ_SUBDIM + d])
                                for d in range(PQ_SUBDIM)
                            ]
                        ).alias("qv_s"),
                    )
                    for s in range(PQ_SUBSPACES)
                ]
            )
        ).alias("x")
    ).select("x.subspace", "x.qv_s")
    qd2 = dot(F.col("cv"), F.col("cv")) + dot(F.col("qv_s"), F.col("qv_s")) - 2 * dot(
        F.col("cv"), F.col("qv_s")
    )
    return cs.join(qsub, "subspace").select(
        "subspace",
        "codeword",
        F.floor(qd2 * 10000 + F.lit(0.5)).cast("bigint").alias("qd2q"),
    )


def _adc_topk(codes: DataFrame, dtable: DataFrame, k: int) -> DataFrame:
    """Rank candidate codes by ADC distance: broadcast the
    PQ_SUBSPACES×PQ_CODEWORDS-row (128)
    distance table, hash-agg the per-vector BIGINT sum, TakeOrdered
    heap on (adc_d2q, vec_id), exact rank over the k survivors."""
    adc = (
        codes.join(F.broadcast(dtable), ["subspace", "codeword"])
        .groupBy("vec_id")
        .agg(F.sum("qd2q").alias("adc_d2q"))
    )
    return (
        adc.orderBy(F.asc("adc_d2q"), F.asc("vec_id"))
        .limit(k)
        .withColumn(
            "adc_rank",
            F.row_number().over(
                W.partitionBy(F.lit(0)).orderBy(F.asc("adc_d2q"), F.asc("vec_id"))
            ),
        )
    )


class _AdcParts(NamedTuple):
    emb: DataFrame
    qv: list
    centroids: DataFrame
    cs: DataFrame
    probes: list
    cand: DataFrame
    topk: DataFrame
    dtable: DataFrame


def _ivfpq_adc_parts(
    spark: SparkSession, sf_dir: str, k: int = 10, n_probes: int = 4
) -> _AdcParts:
    """Shared body of the ADC search, its recall audit and the
    maintenance searches: memoized index state (cells + codes, frozen
    centroids + codebook), driver-side probe selection, candidate codes
    from the probed cells, ADC top-k. Consumers add their own
    projection — or re-rank a filtered or extended candidate set —
    without re-deriving index state."""
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    assignments, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
    codes, cs = pq_assign(emb, memo_key=sf_dir)
    probes = _nearest_cells(centroids.collect(), qv, n_probes)
    dtable = _adc_dtable(cs, qv)
    probe_members = assignments.filter(F.col("cluster").isin(probes)).select("vec_id")
    cand = codes.join(probe_members, "vec_id").filter(F.col("vec_id") != 0)
    topk = _adc_topk(cand, dtable, k)
    return _AdcParts(emb, qv, centroids, cs, probes, cand, topk, dtable)


def _adc_result(topk: DataFrame, vecs: DataFrame, qv: list, *extra) -> DataFrame:
    """The ADC searches' output rows: each top-k hit with its rank, code
    distance, ``extra`` columns and the exact-cosine audit column
    (``vecs`` holds the hits' raw vectors)."""
    q = F.array(*[F.lit(v) for v in qv])
    return topk.join(vecs.select("vec_id", "embedding"), "vec_id").select(
        "vec_id",
        "adc_rank",
        "adc_d2q",
        *extra,
        F.round(cosine(F.col("embedding"), q), 4).alias("cos_sim"),
    )


@register(
    "similarity_ivf_pq_adc",
    _ivfpq_oracle_sql(n_clusters=16, n_iters=2, k=10, n_probes=4),
    doc="IVF-PQ asymmetric-distance (ADC) top-10 — the third ANN path "
    "next to IVF-Flat and hyperplane LSH, and the one a 100 TB corpus "
    "actually affords: after IVF probing, candidate distances come from "
    "the 8-byte PQ CODES alone (per-subspace query→codeword distance "
    "table, PQ_SUBSPACES×PQ_CODEWORDS = 128 entries, summed per "
    "vector) — the raw float vectors are "
    "touched only to add the exact-cosine audit column on the 10 "
    "survivors, so search I/O is probes/cells of the CODE table (~3% "
    "of raw vector bytes at 64-dim float32 → 8×1B codes). Plan: the "
    "distance table is a parameter-bounded (8×16) broadcast built from "
    "the codebook + the collected query vector; the ADC sum is a hash "
    "aggregate over integer-quantized distances (exact, "
    "order-insensitive); top-k is TakeOrderedAndProject on (adc_d2q, "
    "vec_id); coarse cells and codes reuse the memoized ivf_build / "
    "shared pq_assign, both value-oracled via the same DuckDB "
    "fragments (_kmeans_cte, _pq_cte).",
)
def similarity_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _ivfpq_adc_parts(spark, sf_dir, k=10, n_probes=4)
    return _adc_result(p.topk, p.emb, p.qv)


def _ivfpq_recall_oracle_sql(
    n_clusters: int = 16, n_iters: int = 2, k: int = 10, n_probes: int = 4
) -> str:
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    return f"""
    WITH {kmeans}{_pq_cte()}
    codes AS (SELECT vec_id, subspace, codeword FROM best WHERE rk = 1),
    qsub AS (
      SELECT s AS subspace, {_pq_sl('embedding', 's')} AS qv_s
      FROM embeddings CROSS JOIN subs WHERE vec_id = 0
    ),
    dtable AS (
      SELECT cs.subspace, cs.codeword,
             floor((list_dot_product(cv, cv) + list_dot_product(qv_s, qv_s)
                    - 2 * list_dot_product(cv, qv_s)) * 10000 + 0.5)::BIGINT AS qd2q
      FROM cs JOIN qsub USING (subspace)
    ),
    probes AS (
      SELECT {cl}.cluster
      FROM {cl} JOIN el q ON q.id = 0 AND q.dim = {cl}.dim
      GROUP BY {cl}.cluster
      ORDER BY sum(({cl}.cval - q.val) ^ 2), {cl}.cluster
      LIMIT {n_probes}
    ),
    adc AS (
      SELECT c.vec_id, sum(d.qd2q)::BIGINT AS adc_d2q
      FROM codes c
      JOIN afinal ON c.vec_id = afinal.id
      JOIN dtable d ON c.subspace = d.subspace AND c.codeword = d.codeword
      WHERE afinal.cluster IN (SELECT cluster FROM probes) AND c.vec_id <> 0
      GROUP BY c.vec_id
    ),
    adc10 AS (
      SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY adc_d2q, vec_id) AS adc_rank
        FROM adc) WHERE adc_rank <= {k}
    ),
    qv AS (SELECT v FROM e WHERE id = 0),
    ex10 AS (
      SELECT vec_id FROM (
        SELECT e.id AS vec_id,
               row_number() OVER (
                 ORDER BY round(list_dot_product(e.v, qv.v)
                          / (sqrt(list_dot_product(e.v, e.v))
                             * sqrt(list_dot_product(qv.v, qv.v))), 4) DESC,
                 e.id) AS rk
        FROM e, qv WHERE e.id <> 0) WHERE rk <= {k}
    )
    SELECT {k}::BIGINT AS k,
           (SELECT count(*) FROM adc)::BIGINT AS n_candidates,
           (SELECT count(*) FROM ex10 JOIN adc10 USING (vec_id))::BIGINT AS n_overlap,
           ((SELECT count(*) FROM ex10 JOIN adc10 USING (vec_id)) * 1000000
            // {k})::BIGINT AS recall_ppm
    """


@register(
    "ivfpq_recall_audit",
    _ivfpq_recall_oracle_sql(),
    doc="IVF-PQ recall audit — the ANN analog of dedup_lsh_recall_audit: "
    "measure recall@10 of the ADC search (probed cells + 8-byte code "
    "distances) against the exact brute-force cosine top-10, plus the "
    "candidate count the probes admitted. This is the number a "
    "deployment watches when tuning n_probes / codebook size: ADC "
    "recall loss decomposes into probe loss (true neighbor in an "
    "unprobed cell) and quantization loss (code distance misranks "
    "inside a probed cell), and this audit reports the combined figure "
    "the user actually experiences. recall_ppm is an exact integer "
    "ratio (overlap x 1e6 div k) so the row value-oracles. Plan: both "
    "top-k sets are TakeOrdered heaps (never corpus-wide windows), the "
    "overlap is a k-row join, and the two 1-row summary sides combine "
    "via broadcast 1-row crossJoins (the sanctioned scalar pattern); "
    "index state is the same memoized cells/codes every other ANN "
    "query reads.",
)
def ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 10
    p = _ivfpq_adc_parts(spark, sf_dir, k=k, n_probes=4)
    emb, qv, cand, topk = p.emb, p.qv, p.cand, p.topk
    q = F.array(*[F.lit(v) for v in qv])
    exact10 = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cosine(F.col("embedding"), q), 4).alias("cs"))
        .orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
    )
    n_cand = cand.select("vec_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    ov = (
        exact10.join(topk.select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return (
        ov.crossJoin(F.broadcast(n_cand))
        .select(
            F.lit(k).cast("bigint").alias("k"),
            "n_candidates",
            "n_overlap",
            F.expr(f"n_overlap * 1000000 div {k}").cast("bigint").alias("recall_ppm"),
        )
    )


_SWEEP_PROBES = (1, 2, 4, 8)


def _ivfpq_sweep_oracle_sql(
    n_clusters: int = 16, n_iters: int = 2, k: int = 10
) -> str:
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    ks = ", ".join(str(p) for p in _SWEEP_PROBES)
    return f"""
    WITH {kmeans}{_pq_cte()}
    codes AS (SELECT vec_id, subspace, codeword FROM best WHERE rk = 1),
    qsub AS (
      SELECT s AS subspace, {_pq_sl('embedding', 's')} AS qv_s
      FROM embeddings CROSS JOIN subs WHERE vec_id = 0
    ),
    dtable AS (
      SELECT cs.subspace, cs.codeword,
             floor((list_dot_product(cv, cv) + list_dot_product(qv_s, qv_s)
                    - 2 * list_dot_product(cv, qv_s)) * 10000 + 0.5)::BIGINT AS qd2q
      FROM cs JOIN qsub USING (subspace)
    ),
    cellrank AS (
      SELECT {cl}.cluster,
             row_number() OVER (
               ORDER BY sum(({cl}.cval - q.val) ^ 2), {cl}.cluster) AS prk
      FROM {cl} JOIN el q ON q.id = 0 AND q.dim = {cl}.dim
      GROUP BY {cl}.cluster
    ),
    adc AS MATERIALIZED (
      SELECT c.vec_id, cr.prk, sum(d.qd2q)::BIGINT AS adc_d2q
      FROM codes c
      JOIN afinal ON c.vec_id = afinal.id
      JOIN cellrank cr ON afinal.cluster = cr.cluster
      JOIN dtable d ON c.subspace = d.subspace AND c.codeword = d.codeword
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id, cr.prk
    ),
    qv AS (SELECT v FROM e WHERE id = 0),
    ex10 AS MATERIALIZED (
      SELECT vec_id FROM (
        SELECT e.id AS vec_id,
               row_number() OVER (
                 ORDER BY round(list_dot_product(e.v, qv.v)
                          / (sqrt(list_dot_product(e.v, e.v))
                             * sqrt(list_dot_product(qv.v, qv.v))), 4) DESC,
                 e.id) AS rk
        FROM e, qv WHERE e.id <> 0) WHERE rk <= {k}
    ),
    ks(np) AS (SELECT unnest([{ks}])),
    topk_k AS (
      SELECT np, vec_id FROM (
        SELECT ks.np, vec_id,
               row_number() OVER (PARTITION BY ks.np
                                  ORDER BY adc_d2q, vec_id) AS rk
        FROM adc JOIN ks ON adc.prk <= ks.np) WHERE rk <= {k}
    ),
    cands AS (
      SELECT ks.np, count(*) AS n_candidates
      FROM adc JOIN ks ON adc.prk <= ks.np GROUP BY ks.np
    ),
    ov AS (
      SELECT np, count(*) AS n_overlap
      FROM topk_k JOIN ex10 USING (vec_id) GROUP BY np
    )
    SELECT cands.np::BIGINT AS n_probes,
           cands.n_candidates::BIGINT AS n_candidates,
           coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
           (coalesce(ov.n_overlap, 0) * 1000000 // {k})::BIGINT AS recall_ppm
    FROM cands LEFT JOIN ov USING (np)
    """


@register(
    "ivfpq_recall_sweep",
    _ivfpq_sweep_oracle_sql(),
    doc="IVF-PQ n_probes tuning TABLE — the sweep the single-point "
    "ivfpq_recall_audit motivates: recall@10 and admitted-candidate "
    "count for n_probes in {1,2,4,8} in one pass, i.e. the actual "
    "recall/cost curve a deployment reads to pick its probe budget. "
    "Candidates scale ~linearly with probes; recall is NOT guaranteed "
    "monotone — a newly probed cell can inject codes whose quantized "
    "distance underestimates the true distance and evict true "
    "neighbors from the ADC top-k (quantization loss vs probe loss), "
    "which is precisely why the curve must be MEASURED, not assumed "
    "(the smoke corpus exhibits the inversion). Plan: ADC distances "
    "and each vector's "
    "cell's probe rank are computed ONCE over the memoized codes "
    "(16-row broadcast rank map + 128-row broadcast distance table, "
    "one hash agg), persisted, then each sweep arm is a FILTER "
    "(prk <= np) + TakeOrdered-10 heap + 1-row scalar rollup — four "
    "statically-unrolled arms, no range join, no corpus-wide window, "
    "nothing rescanned. Exact brute-force top-10 computed once. All "
    "outputs exact integers (recall in ppm), fully value-oracled.",
)
def ivfpq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 10
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    assignments, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
    codes, cs = pq_assign(emb, memo_key=sf_dir)
    order = _nearest_cells(centroids.collect(), qv, n_probes=16)
    prk_map = spark.createDataFrame(
        [(int(c), i + 1) for i, c in enumerate(order)], "cluster int, prk int"
    )
    dtable = _adc_dtable(cs, qv)
    adc_all = (
        codes.join(assignments.select("vec_id", "cluster"), "vec_id")
        .join(F.broadcast(prk_map), "cluster")
        .filter(F.col("vec_id") != 0)
        .join(F.broadcast(dtable), ["subspace", "codeword"])
        .groupBy("vec_id", "prk")
        .agg(F.sum("qd2q").alias("adc_d2q"))
        .transform(materialize, "persist")
    )
    q = F.array(*[F.lit(v) for v in qv])
    exact10 = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cosine(F.col("embedding"), q), 4).alias("cs"))
        .orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
        .transform(materialize, "persist")
    )
    arms = []
    for np_ in _SWEEP_PROBES:
        cand = adc_all.filter(F.col("prk") <= np_)
        top = cand.orderBy(F.asc("adc_d2q"), F.asc("vec_id")).limit(k).select("vec_id")
        n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        ov = exact10.join(top, "vec_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlap")
        )
        arms.append(
            ov.crossJoin(F.broadcast(n_cand)).select(
                F.lit(np_).cast("bigint").alias("n_probes"),
                "n_candidates",
                "n_overlap",
                F.expr(f"n_overlap * 1000000 div {k}").cast("bigint").alias(
                    "recall_ppm"
                ),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# Derived append batch for the registered incremental-append query:
# every 50th vector (mod-class 7) re-keyed past the corpus id range —
# deterministic, no RNG, and guaranteed non-empty at every bundled SF.
_APPEND_SHIFT = 10_000_000_000  # above any bench_scale replica id
_APPEND_MOD, _APPEND_RES = 50, 7


def _ivfpq_append_oracle_sql(
    n_clusters: int = 16,
    n_iters: int = 2,
    k: int = 10,
    n_probes: int = 4,
    base_filter: str = "",
) -> str:
    """DuckDB mirror of the frozen-codebook incremental append + search:
    the shared k-means fragment supplies the FROZEN centroids/cells, the
    shared PQ fragment the FROZEN trained codebook + base codes; the
    append batch is encoded by the same argmin against that codebook
    (``nj``/``ncodes`` — NO retrain) and coarse-assigned against the
    final centroid table (``nassign``), then the ADC search ranks the
    UNION of base and appended codes."""
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    return f"""
    WITH {kmeans}{_pq_cte()}
    newv AS (
      SELECT vec_id + {_APPEND_SHIFT} AS vec_id, embedding
      FROM embeddings WHERE vec_id % {_APPEND_MOD} = {_APPEND_RES}
    ),
    nvs AS (
      SELECT vec_id, s AS subspace, {_pq_sl('embedding', 's')} AS sv
      FROM newv CROSS JOIN subs
    ),
    nj AS (
      SELECT vec_id, subspace, codeword,
             floor((list_dot_product(sv, sv) + list_dot_product(cv, cv)
                    - 2 * list_dot_product(sv, cv)) * 10000 + 0.5)::BIGINT AS d2q
      FROM nvs JOIN cs USING (subspace)
    ),
    ncodes AS (
      SELECT vec_id, subspace, codeword FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2q, codeword) AS rk
        FROM nj) WHERE rk = 1
    ),
    nel AS (
      SELECT vec_id AS id, u.i AS dim, (embedding::DOUBLE[])[u.i] AS val
      FROM newv, LATERAL unnest(range(1, len(embedding) + 1)) u(i)
    ),
    nassign AS (
      SELECT id, cluster FROM (
        SELECT nel.id, {cl}.cluster,
               row_number() OVER (
                 PARTITION BY nel.id
                 ORDER BY sum((nel.val - {cl}.cval) ^ 2), {cl}.cluster) AS rn
        FROM nel JOIN {cl} ON nel.dim = {cl}.dim
        GROUP BY nel.id, {cl}.cluster) WHERE rn = 1
    ),
    allcodes AS (
      SELECT c.vec_id, c.subspace, c.codeword, afinal.cluster
      FROM (SELECT vec_id, subspace, codeword FROM best WHERE rk = 1) c
      JOIN afinal ON c.vec_id = afinal.id
      WHERE 1 = 1 {base_filter}
      UNION ALL
      SELECT n.vec_id, n.subspace, n.codeword, na.cluster
      FROM ncodes n JOIN nassign na ON n.vec_id = na.id
    ),
    qsub AS (
      SELECT s AS subspace, {_pq_sl('embedding', 's')} AS qv_s
      FROM embeddings CROSS JOIN subs WHERE vec_id = 0
    ),
    dtable AS (
      SELECT cs.subspace, cs.codeword,
             floor((list_dot_product(cv, cv) + list_dot_product(qv_s, qv_s)
                    - 2 * list_dot_product(cv, qv_s)) * 10000 + 0.5)::BIGINT AS qd2q
      FROM cs JOIN qsub USING (subspace)
    ),
    probes AS (
      SELECT {cl}.cluster
      FROM {cl} JOIN el q ON q.id = 0 AND q.dim = {cl}.dim
      GROUP BY {cl}.cluster
      ORDER BY sum(({cl}.cval - q.val) ^ 2), {cl}.cluster
      LIMIT {n_probes}
    ),
    adc AS (
      SELECT a.vec_id, sum(d.qd2q)::BIGINT AS adc_d2q
      FROM allcodes a
      JOIN dtable d ON a.subspace = d.subspace AND a.codeword = d.codeword
      WHERE a.cluster IN (SELECT cluster FROM probes) AND a.vec_id <> 0
      GROUP BY a.vec_id
    ),
    ranked AS (
      SELECT vec_id, adc_d2q,
             row_number() OVER (ORDER BY adc_d2q, vec_id) AS adc_rank
      FROM adc
    ),
    ue AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM newv
    ),
    qv AS (SELECT v FROM e WHERE id = 0)
    SELECT r.vec_id, r.adc_rank, r.adc_d2q,
           r.vec_id >= {_APPEND_SHIFT} AS is_appended,
           round(list_dot_product(ue.v, qv.v)
                 / (sqrt(list_dot_product(ue.v, ue.v))
                    * sqrt(list_dot_product(qv.v, qv.v))), 4) AS cos_sim
    FROM ranked r JOIN ue ON ue.id = r.vec_id, qv
    WHERE r.adc_rank <= {k}
    """


@register(
    "ivfpq_append_search",
    _ivfpq_append_oracle_sql(),
    doc="Incremental IVF-PQ index maintenance: a production ANN "
    "pipeline ingests vectors continuously and must append to the "
    "index WITHOUT retraining — new vectors are encoded "
    "by the FROZEN trained codebook (the same one-Lloyd-round cs the "
    "base corpus trained; no retrain, so old codes stay valid) and "
    "coarse-assigned against the FROZEN centroid table, then search "
    "ranks the UNION of old and appended codes by the same broadcast "
    "ADC distance table. The append batch derives deterministically "
    "from the corpus (every 50th vector re-keyed past the id range). "
    "Output adds is_appended so the result proves the search sees both "
    "generations. Plan: frozen index state comes from the per-session "
    "memos (ivf_build/pq_assign — zero retrain cost), the batch encode "
    "(_pq_encode) is batch-rows x subspaces against the parameter-"
    "bounded codebook, the batch assign (_frozen_assign) one Arrow "
    "argmin pass, and the candidate union stays code-sized; the upsert "
    "runs the same body with a takedown filter. The persisted "
    "twin (ivfpq_append_index) runs the same encode and assign and "
    "appends ONLY the affected cluster "
    "partitions of the on-disk code table — partition-pruned writes, "
    "pinned in tests/test_round9_ops.py::TestIvfPqAppend. Oracle: the "
    "shared _kmeans_cte + _pq_cte fragments, with the batch encoded by "
    "the same frozen-codebook argmin in SQL.",
)
def ivfpq_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_ingest_search(spark, sf_dir)


def _ivfpq_ingest_search(spark: SparkSession, sf_dir: str, keep_base: Column | None = None) -> DataFrame:
    """The body of ``ivfpq_append_search`` and ``ivfpq_upsert_search``:
    the registered batch is encoded by the FROZEN codebook and
    coarse-assigned to the FROZEN centroids, and one ADC top-k ranks
    the probed base codes that pass ``keep_base`` (the upsert's
    takedown filter; None keeps all) UNION the probed batch codes."""
    p = _ivfpq_adc_parts(spark, sf_dir, k=10, n_probes=4)
    batch = p.emb.filter(
        F.pmod(F.col("vec_id"), F.lit(_APPEND_MOD)) == _APPEND_RES
    ).select((F.col("vec_id") + F.lit(_APPEND_SHIFT)).alias("vec_id"), "embedding")
    new_cand = _pq_encode(batch, p.cs).select("vec_id", "subspace", "codeword").join(
        _frozen_assign(batch, p.centroids).filter(F.col("cluster").isin(p.probes)).select("vec_id"),
        "vec_id",
    )
    base_cand = p.cand.select("vec_id", "subspace", "codeword")
    if keep_base is not None:
        base_cand = base_cand.filter(keep_base)
    topk = _adc_topk(base_cand.unionByName(new_cand), p.dtable, 10)
    return _adc_result(
        topk,
        p.emb.select("vec_id", "embedding").unionByName(batch),
        p.qv,
        (F.col("vec_id") >= _APPEND_SHIFT).alias("is_appended"),
    )


def ivfpq_append_index(
    spark: SparkSession,
    path: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a vector batch to a persisted IVF-PQ index with the FROZEN
    index state — no codebook retrain, no centroid update, no rewrite of
    existing data: new vectors are encoded against the persisted codebook
    (``path/codebook``), coarse-assigned against the persisted centroids,
    and appended to ``path/codes`` and ``path/vectors`` with
    ``partitionBy(cluster).mode(append)`` — so the write touches ONLY the
    cluster partitions the batch lands in (unaffected cells keep their
    files byte-identical; pinned in
    ``tests/test_round9_ops.py::TestIvfPqAppend``). Search via
    ``ivfpq_adc_from_index`` immediately sees old + new (same
    partition-pruned scan). This is the on-disk twin of the registered
    ``ivfpq_append_search``, whose oracle proves the frozen-codebook
    encode + unioned search semantics."""
    cents = spark.read.parquet(f"{path}/centroids")
    cs = spark.read.parquet(f"{path}/codebook")
    base = new_vecs.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    assign = _frozen_assign(base, cents)
    ncodes = _pq_encode(base, cs).join(assign, "vec_id")
    ncodes.write.partitionBy("cluster").mode("append").parquet(f"{path}/codes")
    base.join(assign, "vec_id").write.partitionBy("cluster").mode("append").parquet(
        f"{path}/vectors"
    )


# deterministic takedown batch for the registered deletion query: every
# 40th vector (mod-class 11 — never the query anchor vec_id=0)
_DELETE_MOD, _DELETE_RES = 40, 11


def _not_deleted() -> Column:
    """Candidate filter dropping the registered IVF-PQ takedown batch."""
    return F.pmod(F.col("vec_id"), F.lit(_DELETE_MOD)) != _DELETE_RES


@register(
    "ivfpq_delete_search",
    _ivfpq_oracle_sql(
        n_clusters=16,
        n_iters=2,
        k=10,
        n_probes=4,
        cand_filter=f"AND c.vec_id % {_DELETE_MOD} <> {_DELETE_RES}",
    ),
    doc="IVF-PQ deletion maintenance — 'delete, don't rebuild', the "
    "takedown/opt-out complement of ivfpq_append_search: removed "
    "vectors drop out of the CANDIDATE code set while the trained "
    "codebook and coarse centroids stay FROZEN (no retrain — remaining "
    "codes stay valid, exactly the index contract the on-disk twin "
    "ivfpq_delete_from_index implements by rewriting only the cluster "
    "partitions containing deleted ids, untouched partitions pinned "
    "byte-identical in tests/test_round10_ops.py). Search then ranks "
    "the surviving codes by the same broadcast ADC distance table; "
    "the oracle replays the full frozen-state pipeline (k-means + PQ "
    "trained on the ORIGINAL corpus) with the takedown batch excluded "
    "from candidates, so 'search after takedown' is value-checked "
    "cross-engine. Plan: memoized index state, candidate filter is a "
    "codegen'd pmod predicate pushed onto the code stream — cost "
    "identical to the base ADC search.",
)
def ivfpq_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _ivfpq_adc_parts(spark, sf_dir, k=10, n_probes=4)
    survivors = p.cand.filter(_not_deleted())
    return _adc_result(_adc_topk(survivors, p.dtable, 10), p.emb, p.qv)


def ivfpq_delete_from_index(
    spark: SparkSession,
    path: str,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Remove a batch of vector ids from a persisted IVF-PQ index with
    the FROZEN index state — the on-disk twin of the registered
    ``ivfpq_delete_search``: no codebook retrain, no centroid update,
    and the rewrite touches ONLY the cluster partitions that contain a
    deleted id. Unaffected cells keep their files byte-identical
    (pinned in ``tests/test_round10_ops.py``), so a takedown batch at
    100 TB costs I/O proportional to the touched cells, never the
    index.

    Mechanics: the deleted ids' clusters come from a column-pruned
    (vec_id, cluster) scan of the code table; each affected partition's
    survivors are rewritten via dynamic partition overwrite
    (lineage cut with ``localCheckpoint`` — Spark refuses to overwrite
    a path it is still reading); a partition whose every row was
    deleted produces no rows for dynamic overwrite to replace, so its
    directory is dropped explicitly."""
    dels = (
        delete_ids.select(F.col(id_col).alias("vec_id"))
        .distinct()
        .transform(materialize)
    )
    hadoop = spark._jvm.org.apache.hadoop.fs
    fs = hadoop.FileSystem.get(spark._jsc.hadoopConfiguration())
    for sub in ("codes", "vectors"):
        tbl = spark.read.parquet(f"{path}/{sub}")
        affected = [
            r["cluster"]
            for r in tbl.join(dels, "vec_id", "left_semi")
            .select("cluster")
            .distinct()
            .collect()
        ]  # bounded: <= n_clusters rows
        if not affected:
            continue
        survivors = (
            tbl.filter(F.col("cluster").isin(affected))
            .join(dels, "vec_id", "left_anti")
            .transform(materialize)
        )
        (
            survivors.write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{path}/{sub}")
        )
        still = {
            r["cluster"] for r in survivors.select("cluster").distinct().collect()
        }
        for c in set(affected) - still:
            fs.delete(hadoop.Path(f"{path}/{sub}/cluster={c}"), True)


def ivfpq_write_index(
    embeddings: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    memo_key: str | None = None,
) -> None:
    """Persist the full IVF-PQ index: the ``ivf_write_index`` layout
    (cluster-partitioned raw vectors for exact rerank + the centroid
    table) PLUS the cluster-partitioned PQ code table under
    ``path/codes/cluster=<c>/`` and the PQ_SUBSPACES×PQ_CODEWORDS-row
    codebook under ``path/codebook/``. An ADC search then reads ONLY the
    probed code directories — at 64-dim float32 the code table is ~3% of
    the vector bytes, so probe I/O at 100 TB is (n_probes/n_clusters) ×
    3% of the corpus; the vector directories are touched only if the
    caller reranks survivors. Pass ``memo_key`` (the corpus directory,
    mirroring the registered queries' ``sf_dir``) so writing an index
    REUSES the session's memoized code table instead of re-training the
    codebook and re-encoding the corpus a second time."""
    ivf_write_index(embeddings, assignments, centroids, path, id_col, vec_col)
    from redcap_omop_etl_spark.sources.partitioned import write_partitioned

    best, cs = pq_assign(embeddings, memo_key=memo_key)
    codes = best.join(assignments.select(F.col(id_col).alias("vec_id"), "cluster"), "vec_id")
    write_partitioned(codes, f"{path}/codes", "cluster")
    cs.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")


def ivfpq_adc_from_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int,
    n_probes: int = 4,
) -> DataFrame:
    """ADC search over a persisted IVF-PQ index WITHOUT touching raw
    vectors: probes come from the tiny centroid parquet (driver-side,
    like ``ivf_topk_from_index``), the distance table from the
    PQ_SUBSPACES×PQ_CODEWORDS-row (128)
    codebook parquet, and candidates from a ``cluster IN (probes)`` scan
    of the code table that prunes at file-listing time (``cluster`` is a
    partition column — unprobed cells cost zero I/O, pinned in
    ``tests/test_llm_ops.py::TestIvfPqIndex``)."""
    cents = spark.read.parquet(f"{path}/centroids").collect()
    probe_clusters = _nearest_cells(cents, query_vec, n_probes)
    cs = spark.read.parquet(f"{path}/codebook")
    dtable = _adc_dtable(cs, query_vec)
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("cluster").isin(probe_clusters)
    )
    return _adc_topk(codes.select("vec_id", "subspace", "codeword"), dtable, k)




@register(
    "similarity_hard_negatives",
    """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv, label AS qlabel
      FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM embeddings CROSS JOIN q
      WHERE vec_id <> 0 AND label <> (SELECT qlabel FROM q)
    )
    SELECT vec_id, label::BIGINT AS label, cos_sim,
           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="Hard-negative mining for contrastive/embedding training: the "
    "top-10 vectors most similar to the anchor (vec_id=0) whose LABEL "
    "differs from the anchor's — exactly the negatives that contribute "
    "gradient signal (easy negatives are already far). Same scale shape "
    "as cosine_topk: one scored projection against the broadcast anchor, "
    "label filter before the heap, TakeOrderedAndProject top-k (never a "
    "corpus-wide window), rank added over the 10 survivors only.",
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding", "label").head()
    qv = [float(x) for x in qrow[0]]
    q = F.array(*[F.lit(v) for v in qv])
    scored = (
        emb.filter((F.col("vec_id") != 0) & (F.col("label") != int(qrow[1])))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.round(cosine(F.col("embedding"), q), 4).alias("cos_sim"),
        )
    )
    topk = scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)
    w = W.partitionBy(F.lit(0)).orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w))


MMR_POOL = 20  # candidate pool (top-k by relevance; the corpus-scale cut)
MMR_K = 5  # reranked results
# lambda = 0.7 as integer tenths: mmr = 7*rel_q - 3*max_sim_q. Both terms
# are 1e4-quantized cosines, so the whole selection is integer arithmetic.
_MMR_L10, _MMR_L10C = 7, 3


def _mmr_oracle_sql(k: int = MMR_K, pool: int = MMR_POOL) -> str:
    cos_q = (
        "floor(list_dot_product(embedding::DOUBLE[], qv)"
        " / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(qv, qv))) * 10000 + 0.5)::BIGINT"
    )
    cos_ab = (
        "floor(list_dot_product(a.v, b.v)"
        " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
        " * 10000 + 0.5)::BIGINT"
    )
    parts = [
        f"""
    WITH q AS MATERIALIZED (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), pool AS MATERIALIZED (
      SELECT vec_id, {cos_q} AS rel_q, embedding::DOUBLE[] AS v
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
      ORDER BY rel_q DESC, vec_id LIMIT {pool}
    ), sims AS MATERIALIZED (
      SELECT a.vec_id AS x, b.vec_id AS y, {cos_ab} AS s
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ), sel1 AS MATERIALIZED (
      SELECT 1 AS step, vec_id, {_MMR_L10} * rel_q AS mmr
      FROM pool ORDER BY rel_q DESC, vec_id LIMIT 1
    ), selall1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(f""",
    cand{i} AS MATERIALIZED (
      SELECT p.vec_id, {_MMR_L10} * p.rel_q - {_MMR_L10C} * max(s.s) AS mmr
      FROM pool p JOIN sims s ON s.x = p.vec_id
      WHERE s.y IN (SELECT vec_id FROM selall{i - 1})
        AND p.vec_id NOT IN (SELECT vec_id FROM selall{i - 1})
      GROUP BY p.vec_id, p.rel_q
    ), sel{i} AS MATERIALIZED (
      SELECT {i} AS step, vec_id, mmr FROM cand{i}
      ORDER BY mmr DESC, vec_id LIMIT 1
    ), selall{i} AS MATERIALIZED (
      SELECT * FROM selall{i - 1} UNION ALL SELECT * FROM sel{i}
    )""")
    parts.append(f"""
    SELECT step::BIGINT AS step, vec_id, mmr::BIGINT AS mmr
    FROM selall{k} ORDER BY step""")
    return "".join(parts)


@register(
    "similarity_mmr_rerank",
    _mmr_oracle_sql(),
    doc=f"Maximal Marginal Relevance reranking (lambda=0.7): pick "
    f"{MMR_K} results from the top-{MMR_POOL} relevance pool, each step "
    "maximizing 7*rel - 3*max_sim_to_already_selected — THE standard "
    "diversification pass between retrieval and a RAG context window "
    "(near-duplicate hits waste prompt tokens). Scale split: relevance "
    "scoring + the pool cut are corpus-scale plan work (one scored scan, "
    "TakeOrderedAndProject on the 1e4-QUANTIZED integer score so the "
    "pool boundary is deterministic cross-engine); the greedy selection "
    "is inherently sequential but runs on the pool's pairwise-sim table "
    f"(≤ {MMR_POOL}x{MMR_POOL} integers, computed in-plan and collected "
    "once — the bounded-collect discipline of k-means centroid init). "
    "All selection arithmetic is integer, so the oracle's "
    f"{MMR_K} unrolled CTE rounds replay it bit-for-bit.",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    q = F.array(*[F.lit(float(x)) for x in qrow[0]])
    rel_q = F.floor(cosine(F.col("embedding"), q) * 10000 + F.lit(0.5)).cast("bigint")
    pool = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", rel_q.alias("rel_q"), "embedding")
        .orderBy(F.desc("rel_q"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .transform(materialize, "persist")
    )
    s = F.floor(
        cosine(F.col("a.embedding"), F.col("b.embedding")) * 10000 + F.lit(0.5)
    ).cast("bigint")
    sims = (
        pool.alias("a")
        .join(pool.alias("b"), F.col("a.vec_id") != F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("x"), F.col("b.vec_id").alias("y"), s.alias("s"))
    )
    rels = {r["vec_id"]: r["rel_q"] for r in pool.select("vec_id", "rel_q").collect()}
    sim = {(r["x"], r["y"]): r["s"] for r in sims.collect()}
    selected: list[tuple[int, int, int]] = []
    chosen: set = set()
    for step in range(1, MMR_K + 1):
        best = None
        for vid in sorted(rels):
            if vid in chosen:
                continue
            pen = max((sim[(vid, c)] for c in chosen), default=0)
            mmr = _MMR_L10 * rels[vid] - _MMR_L10C * pen
            if best is None or mmr > best[2] or (mmr == best[2] and vid < best[1]):
                best = (step, vid, mmr)
        selected.append(best)
        chosen.add(best[1])
    return spark.createDataFrame(selected, "step bigint, vec_id bigint, mmr bigint")


MRL_K = 20  # audited retrieval depth
MRL_HALF = 32  # truncated prefix dimensions (of 64)


@register(
    "embedding_matryoshka_audit",
    f"""
    WITH q AS MATERIALIZED (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), full_k AS MATERIALIZED (
      SELECT vec_id,
             floor(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))) * 10000 + 0.5)::BIGINT AS s
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
      ORDER BY s DESC, vec_id LIMIT {MRL_K}
    ), half_k AS MATERIALIZED (
      SELECT vec_id,
             floor(list_dot_product(embedding[1:{MRL_HALF}]::DOUBLE[], qv[1:{MRL_HALF}])
                   / (sqrt(list_dot_product(embedding[1:{MRL_HALF}]::DOUBLE[],
                                            embedding[1:{MRL_HALF}]::DOUBLE[]))
                      * sqrt(list_dot_product(qv[1:{MRL_HALF}], qv[1:{MRL_HALF}])))
                   * 10000 + 0.5)::BIGINT AS s
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
      ORDER BY s DESC, vec_id LIMIT {MRL_K}
    )
    SELECT {MRL_K}::BIGINT AS k,
           (SELECT count(*) FROM full_k JOIN half_k USING (vec_id))::BIGINT
             AS n_overlap,
           round((SELECT count(*) FROM full_k JOIN half_k USING (vec_id))
                 * 1.0 / {MRL_K}, 6) AS overlap_at_k
    """,
    doc=f"Matryoshka / truncated-dimension retrieval audit: overlap@{MRL_K} "
    f"between full-dim (64) and prefix-dim ({MRL_HALF}) cosine top-{MRL_K} "
    "for the anchor query — the measurement behind serving embeddings at "
    "truncated dimension (MRL): if overlap stays high, the half-width "
    "index answers at half the memory/flops. Plan: two scored "
    "projections over ONE scan each, 1e4-quantized scores so both LIMIT "
    "cuts are deterministic cross-engine, TakeOrderedAndProject for both "
    f"top-{MRL_K}s, and the overlap is a {MRL_K}x{MRL_K}-bounded join — "
    "corpus cost is exactly two brute-force scoring passes, never a "
    "pairwise join.",
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qfull = [float(x) for x in qrow[0]]
    q = F.array(*[F.lit(v) for v in qfull])
    qh = F.array(*[F.lit(v) for v in qfull[:MRL_HALF]])

    def topk(score_col):
        return (
            emb.filter(F.col("vec_id") != 0)
            .select(
                "vec_id",
                F.floor(score_col * 10000 + F.lit(0.5)).cast("bigint").alias("s"),
            )
            .orderBy(F.desc("s"), F.asc("vec_id"))
            .limit(MRL_K)
            .select("vec_id")
        )

    full_k = topk(cosine(F.col("embedding"), q))
    half_k = topk(cosine(F.slice(F.col("embedding"), 1, MRL_HALF), qh))
    overlap = full_k.join(half_k, "vec_id")
    return overlap.agg(
        F.lit(MRL_K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
        F.round(F.count(F.lit(1)).cast("double") / MRL_K, 6).alias("overlap_at_k"),
    )


# ---------------------------------------------------------------------------
# Label-noise audit: per-label centroid-distance outliers
# ---------------------------------------------------------------------------

_OUTLIER_K = 3


@register(
    "embedding_label_outliers",
    f"""
    WITH e AS (SELECT vec_id AS id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    el AS (
      SELECT id, label, u.i AS dim, v[u.i] AS val
      FROM e, LATERAL unnest(range(1, len(v) + 1)) u(i)
    ),
    cent AS (
      SELECT label, dim, avg(val) AS c FROM el GROUP BY label, dim
    ),
    dist AS (
      SELECT el.id, el.label,
             round(sqrt(sum((el.val - cent.c) ^ 2)), 4) AS centroid_dist
      FROM el JOIN cent ON el.label = cent.label AND el.dim = cent.dim
      GROUP BY el.id, el.label
    )
    SELECT label, vec_id, centroid_dist, rk FROM (
      SELECT id AS vec_id, label, centroid_dist,
             row_number() OVER (PARTITION BY label
                                ORDER BY centroid_dist DESC, id) AS rk
      FROM dist)
    WHERE rk <= {_OUTLIER_K}
    """,
    doc="Label-noise audit: flag the vectors farthest from their own "
    "label's centroid — the standard first-pass mislabel/outlier detector "
    "for embedding-labeled training data. Plan: one posexplode -> "
    "(label, dim) hash-agg builds the centroid table (labels x dim rows, "
    "broadcast back), distances are a map-side join + per-vector "
    "hash-agg, and the per-label top-k runs through the two-phase "
    "keyed_topk primitive (label has cardinality ~10, so a plain "
    "Window.partitionBy(label) would cap the data-sized sort at 10 tasks; "
    "keyed_topk prunes to <= partitions x labels x k candidates map-side "
    "and only ranks that tiny frame). Distances rounded 4dp on both "
    "engines before ranking, ties broken by vec_id.",
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_topk

    e = Catalog(spark, sf_dir)["embeddings"]
    lf = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = lf.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    dist = (
        lf.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")))),
                4,
            ).alias("centroid_dist")
        )
    )
    top = keyed_topk(
        dist, ["label"], [F.col("centroid_dist").desc(), "vec_id"], _OUTLIER_K, "rk"
    )
    return top.select("label", "vec_id", "centroid_dist", "rk")


# ---------------------------------------------------------------------------
# Index-health / staleness audit — how stale do the frozen coarse cells
# get after successive append generations (each generation encoded and
# assigned by the same _pq_encode / _frozen_assign the append ticks run)?
# ---------------------------------------------------------------------------

_DRIFT_SHIFT = 10_000_000_000  # above any bench_scale replica id
_DRIFT_MOD = 10
_DRIFT_GENS = (1, 2)
_DRIFT_NEG_PER_GEN = 16  # generation g negates the first 16*g dims
_DRIFT_ADVISE_PPM = 100_000  # advise rebuild at a 10-point staleness (vs gen 0)
_DRIFT_DELTA_PPM = 50_000  # ... or a 5-point deficit vs the retrained arm
_DRIFT_QUERIES = 8  # recall averaged over a drifted-query panel


def _drift_batch(emb: DataFrame, g: int) -> DataFrame:
    """Generation-g append batch with a GROWING distribution shift:
    every ``_DRIFT_MOD``-th vector (mod-class g), re-keyed past the id
    range, with its first ``16*g`` components NEGATED — sign flips are
    bit-exact on both engines (no float-rounding divergence), yet move
    the batch into a different orthant the frozen base centroids never
    saw. Doubles throughout so Spark and DuckDB fold identical
    operands."""
    d = _DRIFT_NEG_PER_GEN * g
    return emb.filter(F.pmod(F.col("vec_id"), F.lit(_DRIFT_MOD)) == g).select(
        (F.col("vec_id") + F.lit(g * _DRIFT_SHIFT)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i < F.lit(d), -x.cast("double")).otherwise(
                x.cast("double")
            ),
        ).alias("embedding"),
    )


def _ivfpq_drift_oracle_sql(
    n_clusters: int = 16, n_iters: int = 2, k: int = 10, n_probes: int = 4
) -> str:
    """DuckDB mirror of the drift audit: ONE frozen training (base
    k-means + base-trained PQ codebook via the shared fragments), then
    per generation g: the cumulative union corpus u{g}, batch codes
    encoded against the FROZEN codebook, frozen coarse assignment vs a
    RETRAINED coarse quantizer (one more ``_kmeans_cte`` unroll over
    u{g}, prefixed ``r{g}_``), both arms searched with the SAME
    per-(generation, query) ADC distance tables over the
    generation-matched DRIFTED query panel — so every delta isolates
    exactly the coarse-quantizer staleness, averaged over
    ``_DRIFT_QUERIES`` queries for statistical stability."""
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    nq = _DRIFT_QUERIES
    den = nq * k
    parts = [f"WITH {kmeans}{_pq_cte()}"]
    parts.append(f"""
    bcodes AS (SELECT vec_id, subspace, codeword FROM best WHERE rk = 1),
    u0 AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
    ),
    fa0 AS (SELECT id, cluster FROM afinal),
    code0 AS (SELECT * FROM bcodes)""")
    gens = (0,) + _DRIFT_GENS
    for g in gens:
        neg = _DRIFT_NEG_PER_GEN * g
        if g > 0:
            rk, rcl = _kmeans_cte(n_clusters, n_iters, src=f"u{g}", prefix=f"r{g}_")
            parts.append(f""",
    b{g} AS MATERIALIZED (
      SELECT vec_id + {g * _DRIFT_SHIFT} AS vec_id,
             list_transform(embedding::DOUBLE[],
                            (x, i) -> CASE WHEN i <= {neg}
                                      THEN -x ELSE x END) AS embedding
      FROM embeddings WHERE vec_id % {_DRIFT_MOD} = {g} AND vec_id >= {nq}
    ),
    u{g} AS MATERIALIZED (
      SELECT * FROM u{g - 1} UNION ALL SELECT * FROM b{g}
    ),
    nvs{g} AS (
      SELECT vec_id, s AS subspace, {_pq_sl('embedding', 's')} AS sv
      FROM b{g} CROSS JOIN subs
    ),
    nj{g} AS (
      SELECT vec_id, subspace, codeword,
             floor((list_dot_product(sv, sv) + list_dot_product(cv, cv)
                    - 2 * list_dot_product(sv, cv)) * 10000 + 0.5)::BIGINT AS d2q
      FROM nvs{g} JOIN cs USING (subspace)
    ),
    ncodes{g} AS (
      SELECT vec_id, subspace, codeword FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2q, codeword) AS rk
        FROM nj{g}) WHERE rk = 1
    ),
    nel{g} AS (
      SELECT vec_id AS id, u.i AS dim, embedding[u.i] AS val
      FROM b{g}, LATERAL unnest(range(1, len(embedding) + 1)) u(i)
    ),
    nassign{g} AS (
      SELECT id, cluster FROM (
        SELECT nel{g}.id, {cl}.cluster,
               row_number() OVER (
                 PARTITION BY nel{g}.id
                 ORDER BY sum((nel{g}.val - {cl}.cval) ^ 2), {cl}.cluster) AS rn
        FROM nel{g} JOIN {cl} ON nel{g}.dim = {cl}.dim
        GROUP BY nel{g}.id, {cl}.cluster) WHERE rn = 1
    ),
    fa{g} AS (SELECT * FROM fa{g - 1} UNION ALL SELECT * FROM nassign{g}),
    code{g} AS (SELECT * FROM code{g - 1} UNION ALL SELECT * FROM ncodes{g}),
    {rk}
    rprobes{g} AS MATERIALIZED (
      SELECT qid, cluster FROM (
        SELECT q.qid, {rcl}.cluster,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY sum(({rcl}.cval - q.val) ^ 2), {rcl}.cluster) AS prk
        FROM {rcl} JOIN ql{g} q ON q.dim = {rcl}.dim
        GROUP BY q.qid, {rcl}.cluster) WHERE prk <= {n_probes}
    ),
    rcand{g} AS MATERIALIZED (
      SELECT d.qid, c.vec_id, sum(d.qd2q)::BIGINT AS adc
      FROM code{g} c
      JOIN r{g}_afinal a ON c.vec_id = a.id
      JOIN dtable{g} d ON c.subspace = d.subspace AND c.codeword = d.codeword
      JOIN rprobes{g} p ON p.qid = d.qid AND p.cluster = a.cluster
      WHERE c.vec_id >= {nq}
      GROUP BY d.qid, c.vec_id
    ),
    rtop{g} AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rk
        FROM rcand{g}) WHERE rk <= {k}
    ),
    rov{g} AS (SELECT count(*) AS n FROM rtop{g} JOIN ex{g} USING (qid, vec_id)),
    rnc{g} AS (SELECT count(*) AS n FROM rcand{g}),
    rocc{g} AS (SELECT max(n) AS m FROM (
      SELECT cluster, count(*) AS n FROM r{g}_afinal GROUP BY cluster))""")
        parts.append(f""",
    q{g} AS MATERIALIZED (
      SELECT vec_id AS qid,
             list_transform(embedding::DOUBLE[],
                            (x, i) -> CASE WHEN i <= {neg}
                                      THEN -x ELSE x END) AS v
      FROM embeddings WHERE vec_id < {nq}
    ),
    ql{g} AS (
      SELECT qid, u.i AS dim, v[u.i] AS val
      FROM q{g}, LATERAL unnest(range(1, len(v) + 1)) u(i)
    ),
    qsub{g} AS (
      SELECT qid, s AS subspace, {_pq_sl('v', 's')} AS qv_s
      FROM q{g} CROSS JOIN subs
    ),
    dtable{g} AS MATERIALIZED (
      SELECT qsub{g}.qid, cs.subspace, cs.codeword,
             floor((list_dot_product(cv, cv) + list_dot_product(qv_s, qv_s)
                    - 2 * list_dot_product(cv, qv_s)) * 10000 + 0.5)::BIGINT AS qd2q
      FROM cs JOIN qsub{g} USING (subspace)
    ),
    fprobes{g} AS MATERIALIZED (
      SELECT qid, cluster FROM (
        SELECT q.qid, {cl}.cluster,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY sum(({cl}.cval - q.val) ^ 2), {cl}.cluster) AS prk
        FROM {cl} JOIN ql{g} q ON q.dim = {cl}.dim
        GROUP BY q.qid, {cl}.cluster) WHERE prk <= {n_probes}
    ),
    ex{g} AS MATERIALIZED (
      SELECT qid, vec_id FROM (
        SELECT q.qid, u.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(list_dot_product(u.embedding, q.v)
                          / (sqrt(list_dot_product(u.embedding, u.embedding))
                             * sqrt(list_dot_product(q.v, q.v))), 4) DESC,
                 u.vec_id) AS rk
        FROM u{g} u, q{g} q WHERE u.vec_id >= {nq}) WHERE rk <= {k}
    ),
    fcand{g} AS MATERIALIZED (
      SELECT d.qid, c.vec_id, sum(d.qd2q)::BIGINT AS adc
      FROM code{g} c
      JOIN fa{g} a ON c.vec_id = a.id
      JOIN dtable{g} d ON c.subspace = d.subspace AND c.codeword = d.codeword
      JOIN fprobes{g} p ON p.qid = d.qid AND p.cluster = a.cluster
      WHERE c.vec_id >= {nq}
      GROUP BY d.qid, c.vec_id
    ),
    ftop{g} AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rk
        FROM fcand{g}) WHERE rk <= {k}
    ),
    fov{g} AS (SELECT count(*) AS n FROM ftop{g} JOIN ex{g} USING (qid, vec_id)),
    fnc{g} AS (SELECT count(*) AS n FROM fcand{g}),
    focc{g} AS (SELECT max(n) AS m FROM (
      SELECT cluster, count(*) AS n FROM fa{g} GROUP BY cluster)),
    ntot{g} AS (SELECT count(*) AS n FROM u{g})""")
    rows = []
    for g in gens:
        if g == 0:
            rec_r, nc_r, occ_r = "fov0", "fnc0", "focc0"
        else:
            rec_r, nc_r, occ_r = f"rov{g}", f"rnc{g}", f"rocc{g}"
        rows.append(f"""
    SELECT {g}::BIGINT AS generation,
           (SELECT n FROM ntot{g})::BIGINT AS n_total,
           ((SELECT n FROM fov{g}) * 1000000 // {den})::BIGINT AS frozen_recall_ppm,
           ((SELECT n FROM {rec_r}) * 1000000 // {den})::BIGINT AS retrained_recall_ppm,
           ((SELECT n FROM {rec_r}) * 1000000 // {den}
            - (SELECT n FROM fov{g}) * 1000000 // {den})::BIGINT AS recall_delta_ppm,
           ((SELECT n FROM fov0) * 1000000 // {den}
            - (SELECT n FROM fov{g}) * 1000000 // {den})::BIGINT AS staleness_ppm,
           (SELECT n FROM fnc{g})::BIGINT AS frozen_cand,
           (SELECT n FROM {nc_r})::BIGINT AS retrained_cand,
           (SELECT m FROM focc{g})::BIGINT AS frozen_occ_max,
           (SELECT m FROM {occ_r})::BIGINT AS retrained_occ_max,
           (((SELECT n FROM fov0) * 1000000 // {den}
             - (SELECT n FROM fov{g}) * 1000000 // {den}) >= {_DRIFT_ADVISE_PPM}
            OR ((SELECT n FROM {rec_r}) * 1000000 // {den}
                - (SELECT n FROM fov{g}) * 1000000 // {den}) >= {_DRIFT_DELTA_PPM}
            OR (SELECT m FROM focc{g}) >= 2 * (SELECT m FROM {occ_r})
            OR (SELECT n FROM fnc{g}) >= 2 * (SELECT n FROM {nc_r}))
             AS rebuild_advised""")
    return "".join(parts) + "\n" + "\n    UNION ALL".join(rows)


def _drift_queries(emb: DataFrame, g: int) -> DataFrame:
    """The generation-g query panel: the ``_DRIFT_QUERIES`` lowest-id
    base vectors, drift-transformed like generation g's data (queries
    follow the data distribution — the operational premise of a
    staleness audit)."""
    d = _DRIFT_NEG_PER_GEN * g
    return emb.filter(F.col("vec_id") < _DRIFT_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i < F.lit(d), -x.cast("double")).otherwise(
                x.cast("double")
            ),
        ).alias("v"),
    )


@register(
    "ivfpq_drift_audit",
    _ivfpq_drift_oracle_sql(),
    doc="Index-health / STALENESS audit — the operational question the "
    "whole maintenance matrix leads to: after K append generations "
    "against the FROZEN coarse cells and PQ codebook, when is a "
    "retrain due? Each generation appends a distribution-shifted batch "
    "(leading dims sign-flipped — bit-exact on both engines, but an "
    "orthant the base k-means never saw) and measures, over an "
    f"{_DRIFT_QUERIES}-query generation-matched panel: frozen-arm "
    "recall@10 vs a RETRAINED coarse quantizer (one more k-means over "
    "the union corpus; the PQ codebook stays frozen in BOTH arms so "
    "the delta isolates coarse staleness), staleness vs the "
    "generation-0 baseline, admitted-candidate counts (the probe-cost "
    "proxy) and max cell occupancy (the hot-cell skew a drifted "
    "distribution piles onto frozen cells). rebuild_advised trips on "
    "staleness >= 10 points OR retrained-delta >= 5 points OR a 2x "
    "occupancy/candidate blowup. At the gate corpus the flag trips at "
    "generations 1 and 2 with MONOTONE staleness (0 / 87.5k / 150k "
    "ppm) while the raw frozen-vs-retrained delta is non-monotone — "
    "exactly the ADC non-monotonicity round 10 documented, and why "
    "the audit reports both. Plan: ONE frozen training (memoized), "
    "one retrained k-means per generation (memoized per generation "
    "key), panel-keyed probe ranks and ADC tables are "
    "parameter-bounded broadcasts; per-generation scalars are "
    "1-row aggregates collected driver-side (G x 8 numbers).",
)
def ivfpq_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, n_probes, nq = 10, 4, _DRIFT_QUERIES
    den = nq * k
    emb = Catalog(spark, sf_dir)["embeddings"]
    assignments, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
    codes, cs = pq_assign(emb, memo_key=sf_dir)
    base_codes = codes.select("vec_id", "subspace", "codeword")
    base_u = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )

    def arm_frame(u, cum_codes, cum_assign, cents, qs, tag, with_total=False):
        """Scalar-union FRAME of (recall_num, n_cand, occ_max[, n_total])
        for one arm, keys prefixed ``{tag}:`` — the caller unions BOTH
        arms of a generation and collects ONCE (round 13; previously one
        collect per arm). Probe ranks and ADC tables per panel query
        against `cents`, candidates from `cum_assign`, exact top-k from
        `u`. ``with_total`` rides the generation's corpus count in the
        same scalar-union job."""
        qc = qs.crossJoin(F.broadcast(cents))
        d2 = F.aggregate(
            F.zip_with(F.col("v"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        from pyspark.sql.window import Window as _W

        probes = (
            qc.select("qid", "cluster", d2.alias("d2"))
            .withColumn(
                "prk",
                F.row_number().over(
                    _W.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cluster"))
                ),
            )
            .filter(F.col("prk") <= n_probes)
            .select("qid", "cluster")
        )
        qsub = qs.select("qid", _pq_sub_struct("v", "qv_s").alias("x")).select(
            "qid", "x.subspace", "x.qv_s"
        )
        qd2 = (
            dot(F.col("cv"), F.col("cv"))
            + dot(F.col("qv_s"), F.col("qv_s"))
            - 2 * dot(F.col("cv"), F.col("qv_s"))
        )
        dtab = cs.join(F.broadcast(qsub), "subspace").select(
            "qid",
            "subspace",
            "codeword",
            F.floor(qd2 * 10000 + F.lit(0.5)).cast("bigint").alias("qd2q"),
        )
        adm = (
            cum_assign.join(F.broadcast(probes), "cluster")
            .filter(F.col("vec_id") >= nq)
            .select("qid", "vec_id")
        )
        cand = (
            adm.join(cum_codes, "vec_id")
            .join(F.broadcast(dtab), ["qid", "subspace", "codeword"])
            .groupBy("qid", "vec_id")
            .agg(F.sum("qd2q").alias("adc"))
            .transform(materialize, "persist")
        )
        top = (
            cand.withColumn(
                "rk",
                F.row_number().over(
                    _W.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= k)
            .select("qid", "vec_id")
        )
        ex = (
            u.filter(F.col("vec_id") >= nq)
            .join(F.broadcast(qs))
            .select(
                "qid",
                "vec_id",
                F.round(cosine(F.col("embedding"), F.col("v")), 4).alias("cs"),
            )
            .withColumn(
                "rk",
                F.row_number().over(
                    _W.partitionBy("qid").orderBy(F.desc("cs"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= k)
            .select("qid", "vec_id")
        )
        # ONE union-of-scalars frame per arm instead of three separate
        # actions (count/count/first): each branch is a 1-row aggregate,
        # and on this parameter-bounded panel the wall was job-count —
        # not data (round-12 measurement: the audit ran ~18 driver-side
        # jobs; merging them roughly halved the timed wall; round 13
        # merges the two arms of each generation into one collect, which
        # also lets ReuseExchange share the exact-top-k subtree the arms
        # have in common).
        m = (
            top.join(ex, ["qid", "vec_id"])
            .agg(F.count(F.lit(1)).alias("v"))
            .select(F.lit(f"{tag}:ov").alias("k"), F.col("v").cast("bigint"))
            .unionByName(
                cand.agg(F.count(F.lit(1)).alias("v")).select(
                    F.lit(f"{tag}:nc").alias("k"), F.col("v").cast("bigint")
                )
            )
            .unionByName(
                cum_assign.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(F.max("c").alias("v"))
                .select(F.lit(f"{tag}:occ").alias("k"), F.col("v").cast("bigint"))
            )
        )
        if with_total:
            m = m.unionByName(
                u.agg(F.count(F.lit(1)).alias("v")).select(
                    F.lit(f"{tag}:n").alias("k"), F.col("v").cast("bigint")
                )
            )
        return m

    rows = []
    u = base_u
    cum_codes = base_codes
    cum_assign = assignments.select("vec_id", "cluster")
    # generation 0: frozen == retrained by construction
    qs0 = _drift_queries(emb, 0)
    d0 = {
        r["k"]: int(r["v"])
        for r in arm_frame(
            u, cum_codes, cum_assign, centroids, qs0, "f", with_total=True
        ).collect()
    }
    ov0, nc0, occ0, n0 = d0["f:ov"], d0["f:nc"], d0["f:occ"], d0["f:n"]
    r0 = ov0 * 1_000_000 // den
    rows.append((0, n0, r0, r0, 0, 0, nc0, nc0, occ0, occ0, False))
    base_recall = r0
    for g in _DRIFT_GENS:
        batch = _drift_batch(
            emb.filter(F.col("vec_id") >= nq), g
        )
        u = u.unionByName(batch)
        ncodes = _pq_encode(batch, cs).select("vec_id", "subspace", "codeword")
        nassign = _frozen_assign(batch, centroids)
        # both arms + the next generation re-scan these; pin them with a
        # PLAN BARRIER (round 13 final session, was a persist): each
        # generation unions on top of the previous one, so the cached
        # lineage grew per generation and every panel action re-analyzed
        # the whole chain — the checkpointed frames plan as leaves (same
        # Catalyst-stall fix as the graph.py tick boundaries)
        u = materialize(u)
        cum_codes = cum_codes.unionByName(ncodes).transform(materialize)
        cum_assign = cum_assign.unionByName(nassign).transform(materialize)
        r_assign, r_cents = ivf_build(
            u, n_clusters=16, n_iters=2, memo_key=f"{sf_dir}#drift{g}"
        )
        qs = _drift_queries(emb, g)
        # frozen + retrained arms in ONE collect (round 13): the union job
        # shares the exact-top-k and candidate subtrees between arms
        both = arm_frame(
            u, cum_codes, cum_assign, centroids, qs, "f", with_total=True
        ).unionByName(
            arm_frame(
                u, cum_codes, r_assign.select("vec_id", "cluster"), r_cents, qs, "r"
            )
        )
        dg = {r["k"]: int(r["v"]) for r in both.collect()}
        fov, fnc, focc, ng = dg["f:ov"], dg["f:nc"], dg["f:occ"], dg["f:n"]
        rov, rnc, rocc = dg["r:ov"], dg["r:nc"], dg["r:occ"]
        f_ppm, r_ppm = fov * 1_000_000 // den, rov * 1_000_000 // den
        delta = r_ppm - f_ppm
        stale = base_recall - f_ppm
        advised = (
            stale >= _DRIFT_ADVISE_PPM
            or delta >= _DRIFT_DELTA_PPM
            or focc >= 2 * rocc
            or fnc >= 2 * rnc
        )
        rows.append(
            (g, ng, f_ppm, r_ppm, delta, stale, fnc, rnc, focc, rocc, advised)
        )
    return spark.createDataFrame(
        rows,
        "generation bigint, n_total bigint, frozen_recall_ppm bigint, "
        "retrained_recall_ppm bigint, recall_delta_ppm bigint, "
        "staleness_ppm bigint, frozen_cand bigint, retrained_cand bigint, "
        "frozen_occ_max bigint, retrained_occ_max bigint, rebuild_advised boolean",
    )


# ---------------------------------------------------------------------------
# SemDeDup state transitions: the delete and append cores every registered
# SemDeDup maintenance query and state.semdedup_tick run
# ---------------------------------------------------------------------------


def semdedup_state_delete(
    flags: DataFrame,
    anchors: DataFrame,
    deleted: DataFrame,
    embeddings: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """DELETE transition over the SemDeDup state pair ``(flags,
    anchors)``: cells that lost NO anchor pass their frozen flags
    through minus the deleted rows (exact — deleting a non-anchor member
    never changes the lowest-n anchor set, and a member's flag depends
    only on its cell's anchors); anchor-losing cells recompute flags AND
    roster from their surviving members. ``embeddings`` is the vector
    store surviving members' vectors resolve against; the flags table
    itself is the cell-membership map. Invariant maintained for the
    next append tick: after any delete, every cell's roster equals the
    lowest-n ids of its LIVE members."""
    anchors = anchors.select(
        F.col("cluster").cast("bigint").alias("cluster"), "a_id", "a_v"
    )
    deln = deleted.select(F.col(deleted.columns[0]).alias("vec_id")).distinct()
    touched = (
        anchors.join(deln.withColumnRenamed("vec_id", "a_id"), "a_id", "left_semi")
        .select("cluster")
        .distinct()
    )
    untouched_flags = flags.join(touched, "cluster", "left_anti").join(
        deln, "vec_id", "left_anti"
    )
    members = _semdedup_members(
        embeddings,
        flags.join(touched, "cluster", "left_semi").join(deln, "vec_id", "left_anti"),
    )
    roster = _semdedup_roster(members)
    flags_out = untouched_flags.unionByName(_semdedup_flag(members, roster))
    anchors_out = anchors.join(touched, "cluster", "left_anti").unionByName(roster)
    return flags_out, anchors_out


def _semdedup_upsert_oracle_sql(
    n_clusters: int = 16,
    n_iters: int = 2,
    tau: float = SEMDEDUP_TAU,
    n_anchors: int = SEMDEDUP_ANCHORS,
) -> str:
    """The append oracle with the takedown batch filtered OUT of the
    base membership half: frozen cells (k-means over the FULL original
    corpus), membership = survivors UNION the appended batch."""
    kmeans, cl = _kmeans_cte(n_clusters, n_iters)
    return f"""
    WITH {kmeans}
    newv AS (
      SELECT vec_id + {_SEM_APPEND_SHIFT} AS vec_id, embedding
      FROM embeddings WHERE vec_id % {_SEM_APPEND_MOD} = {_SEM_APPEND_RES}
    ),
    nel AS (
      SELECT vec_id AS id, u.i AS dim, (embedding::DOUBLE[])[u.i] AS val
      FROM newv, LATERAL unnest(range(1, len(embedding) + 1)) u(i)
    ),
    nassign AS (
      SELECT id, cluster FROM (
        SELECT nel.id, {cl}.cluster,
               row_number() OVER (
                 PARTITION BY nel.id
                 ORDER BY sum((nel.val - {cl}.cval) ^ 2), {cl}.cluster) AS rn
        FROM nel JOIN {cl} ON nel.dim = {cl}.dim
        GROUP BY nel.id, {cl}.cluster) WHERE rn = 1
    ),
    allm AS (
      SELECT e.id, afinal.cluster, e.v FROM e JOIN afinal ON e.id = afinal.id
      WHERE e.id % {_SEM_DELETE_MOD} <> {_SEM_DELETE_RES}
      UNION ALL
      SELECT n.vec_id AS id, na.cluster, n.embedding::DOUBLE[] AS v
      FROM newv n JOIN nassign na ON n.vec_id = na.id
    ),
    anchors AS (
      SELECT id AS a_id, cluster, v AS a_v FROM (
        SELECT id, cluster, v,
               row_number() OVER (PARTITION BY cluster ORDER BY id) AS rk
        FROM allm) WHERE rk <= {n_anchors}
    ),
    dup_hits AS (
      SELECT m.id, count(*) AS n_dup_anchors
      FROM allm m JOIN anchors a
        ON m.cluster = a.cluster AND a.a_id < m.id
      WHERE round(list_dot_product(m.v, a.a_v)
                  / (sqrt(list_dot_product(m.v, m.v))
                     * sqrt(list_dot_product(a.a_v, a.a_v))), 4) >= {tau}
      GROUP BY m.id
    )
    SELECT m.id AS vec_id, m.cluster::BIGINT AS cluster,
           coalesce(d.n_dup_anchors, 0)::BIGINT AS n_dup_anchors,
           d.id IS NULL AS is_kept,
           m.id >= {_SEM_APPEND_SHIFT} AS is_appended
    FROM allm m LEFT JOIN dup_hits d ON m.id = d.id
    """


@register(
    "semdedup_flags_upsert",
    _semdedup_upsert_oracle_sql(),
    doc="Mixed SemDeDup maintenance TRANSACTION — delete tick then "
    "append tick over the shared (flags, anchors) state in one pass, "
    "the embedding-space twin of dedup_minhash_clusters_upsert. The "
    "composition argument rides the roster invariant the delete "
    "transition maintains: after ANY delete, every cell's anchor "
    "roster equals the lowest-n ids of its live members (non-anchor "
    "deletions leave the lowest-n set untouched; anchor-losing cells "
    "recompute from survivors), so the subsequent append — guarded "
    "batch ids above every live id — extends exactly the roster the "
    "one-shot frozen-cell rebuild over (survivors UNION batch) would "
    "derive, and survivor flags are invariant under it. The oracle "
    "replays precisely that rebuild (frozen cells trained on the FULL "
    "original corpus, membership = survivors + batch). Cost: "
    "O(anchor-losing cells) + O(batch x n_anchors) — a daily tick, "
    "never an O(corpus) re-prune.",
)
def semdedup_flags_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir)["embeddings"]
    base_flags = semdedup_flags_memo(spark, sf_dir)
    anchors_base = semdedup_anchors_memo(spark, sf_dir)
    _assignments, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
    deleted = emb.filter(
        F.pmod(F.col("vec_id"), F.lit(_SEM_DELETE_MOD)) == _SEM_DELETE_RES
    ).select("vec_id")
    flags2, anchors2 = semdedup_state_delete(base_flags, anchors_base, deleted, emb)
    flags2 = materialize(flags2, "persist")
    anchors2 = materialize(anchors2, "persist")
    flags3, _anchors3 = semdedup_state_append(
        flags2, anchors2, centroids, _sem_append_batch(emb)
    )
    return flags3.withColumn(
        "is_appended", F.col("vec_id") >= F.lit(_SEM_APPEND_SHIFT)
    )


@register(
    "ivfpq_upsert_search",
    _ivfpq_append_oracle_sql(
        base_filter=f"AND c.vec_id % {_DELETE_MOD} <> {_DELETE_RES}"
    ),
    doc="Mixed IVF-PQ maintenance TRANSACTION — takedown + ingest in "
    "one tick over the frozen index state, completing the upsert "
    "column of the maintenance matrix for the ANN family: deleted ids "
    "drop out of the base candidate code set (ivfpq_delete_search "
    "semantics — frozen codebook/centroids, remaining codes stay "
    "valid) while the ingest batch is encoded by the frozen codebook "
    "and coarse-assigned to the frozen centroids "
    "(ivfpq_append_search semantics), and search ranks survivors "
    "UNION appended by the same broadcast ADC table. The two "
    "directions commute trivially here — deletion is a filter on "
    "candidates and append is a union of new candidates, with no "
    "shared per-cell state to re-derive — so the one-tick composition "
    "IS the one-shot semantics; the oracle replays the frozen-state "
    "pipeline with the takedown batch excluded from the base half of "
    "the candidate union. On disk this is ivfpq_delete_from_index + "
    "ivfpq_append_index back-to-back, each touching only its affected "
    "cluster partitions.",
)
def ivfpq_upsert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_ingest_search(spark, sf_dir, keep_base=_not_deleted())


def semdedup_state_append(
    flags: DataFrame,
    anchors: DataFrame,
    centroids: DataFrame,
    batch: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """APPEND transition over the SemDeDup state pair: the batch
    coarse-assigns to the FROZEN centroids, the roster extends with
    batch members filling under-populated cells, and only batch flags
    are computed; existing flags pass through untouched. Returns
    ``(flags_out, anchors_out)``.

    Exactness needs every batch id above every live id: then the
    lowest-id roster over (anchors ∪ batch) extends and never displaces
    the frozen anchors, and no existing member gains a hit (each new
    anchor's id exceeds its own). ``validation.require_monotonic_ids``
    enforces that before any work — one 1-row job per tick."""
    from redcap_omop_etl_spark.validation import require_monotonic_ids

    require_monotonic_ids(
        flags.select("vec_id"), batch.select("vec_id"), "semdedup_state_append"
    )
    bmembers = _semdedup_members(batch, _frozen_assign(batch, centroids))
    roster = _semdedup_roster(
        anchors.select(
            F.col("a_id").alias("vec_id"),
            F.col("a_v").alias("__v"),
            F.col("cluster").cast("bigint").alias("cluster"),
        ).unionByName(bmembers)
    )
    return flags.unionByName(_semdedup_flag(bmembers, roster)), roster
