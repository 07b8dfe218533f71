"""Iterative graph operators: connected components over pair edges.

Net-new LLM-data-pipeline surface: near-dup detection (dedup.py,
similarity.py) emits *pairs*; the deliverable a 100 TB dedup pipeline
needs is *clusters* — pick one representative per group of transitively
connected duplicates. That is connected components over the pair graph.

Below 256k edge rows (``readers._SMALL_PLAN_ROWS``) the edges are
collected once and labelled by a union-find on the driver; a round of
the distributed loop costs several driver-paced jobs over a few
kilobytes there. From the gate up, the formulation is alternating
large-star / small-star contraction as a driver loop over DataFrame
joins (Kiveris et al., SoCC'14 — the scheme GraphFrames ships):

- each round rewires every node toward its neighborhood minimum
  (large-star: greater neighbors to the min; small-star: smaller
  neighbors and the center to the min);
- the edge set converges to one star per component in O(log² n) rounds
  (O(log n) observed), detected as a fixpoint of the edge set.

Round 8 replaced min-label propagation, which needs O(diameter) rounds:
on mutated-replica corpora near-dup clusters form CHAINS and the
propagation hit its round cap without converging. Each round's result is
``localCheckpoint``-ed to truncate lineage — without it the plan doubles
every round and Catalyst analysis dominates (the classic iterative-Spark
pitfall).

The oracle is a DuckDB recursive CTE computing the same min-reachable
label via transitive closure — exponential-ish in edges, fine at test SF,
which is exactly why the Spark side is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Eager checkpoints (round 13, final session): the tick/transition
# boundary materializations below were persists; profiling the
# composed maintenance queries showed ~0.7-1.1 s DRIVER stalls per
# downstream action (7.7 s of inter-job gaps in the 13 s upsert tick) —
# Catalyst re-analyzing the full persisted-but-not-truncated lineage.
# An eager checkpoint is the same single-materialization with a PLAN
# BARRIER: downstream actions plan from a LogicalRDD leaf. Alternating
# A/B over the 9-query tick family (3 rounds, same JVM): persist
# 60.2/61.7/56.8 s vs checkpoint 52.2/54.5/50.8 s; the upsert tick
# alone 13.5/14.9/12.6 -> 8.9/10.4/8.3 s.
from redcap_omop_etl_spark.caching import materialize, session_memo
from redcap_omop_etl_spark.operators.dedup import (
    BAND_TABLE_SCHEMA,
    _PPJOIN_GATE_CAP,
    bucket_hubs,
    bucket_min,
    bucket_star,
    components_sql_cte,
    minhash_band_table,
    minhash_banded_sql_cte,
    minhash_star_edges,
    minhash_star_sql_cte,
    ngram_jaccard_pairs,
    ppjoin_capped_sql_cte,
    prefix_jaccard_pairs_capped,
    shingle_sql_cte,
)
from redcap_omop_etl_spark.sources.readers import _SMALL_PLAN_ROWS, Catalog, small_plan_rounds
from redcap_omop_etl_spark.workload import register


# Observability: star-contraction round count of the most recent
# connected_components() call (None before any call; 0 when the edges
# were under the size gate and the driver union-find labelled them).
# Written, not returned, so the 5 registered cluster consumers keep their
# signatures; read by tools/bench_scale.py's --skewed regime to publish
# how many rounds the heavy-hub graph takes vs the bounded-radius one
# (0 for an input under the gate).
# CONTRACT: single-threaded, read-immediately-after-call — a mutable
# module global, so thread-parallel query execution or a query that runs
# CC twice interleaves/overwrites it. It is diagnostics for the
# sequential bench_scale harness ONLY; nothing in the registered query
# surface reads it, and no correctness path may ever depend on it.
CC_LAST_ROUNDS: int | None = None


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of an undirected pair graph.

    Returns ``(node, component)`` where ``component`` is the minimum node
    id reachable from ``node``. Nodes are whatever appears in the edge
    list (isolated nodes don't appear — callers union them in if needed);
    a node that appears only in self-loops is a singleton component, and
    an edge with a null endpoint is ignored.

    Two kernels, one answer. The min-label partition does not depend on
    the order edges are visited in, so both return exactly equal rows:

    - **Below ``readers._SMALL_PLAN_ROWS`` edge rows** (256k, the gate
      ``small_plan_rounds`` already uses): ONE job collects the edges,
      a min-label union-find runs on the driver, and the result is one
      ``createDataFrame``. At this size a distributed round is 1-6
      driver-paced jobs over a few kilobytes (a maintenance tick's
      batch-sized merge graphs spent ~5-6 jobs per call in the loop
      below); the probe reads at most the gate's row count, and the
      union-find over 256k edges is well under a second of driver time.
      ``CC_LAST_ROUNDS`` reads 0 on this path (so does perfbench's
      per-layer ``graph.cc_rounds``).
    - **From the gate up**: the distributed star-contraction loop
      (``_star_contraction_components``), unchanged. The dispatch then
      costs the probe: one job that ships the gate's 256k rows to the
      driver and drops them (0.76 s warm on local[4], beside a 2.7 s
      loop over a 300k-edge graph).
    """
    global CC_LAST_ROUNDS
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    probe = raw.limit(_SMALL_PLAN_ROWS).collect()
    if len(probe) < _SMALL_PLAN_ROWS:
        CC_LAST_ROUNDS = 0
        schema = raw.select(
            F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
        ).schema
        return raw.sparkSession.createDataFrame(
            _union_find_labels(probe), schema, verifySchema=False
        )
    comp, CC_LAST_ROUNDS = _star_contraction_components(raw, max_iter)
    return comp


def _union_find_labels(pairs) -> list[tuple]:
    """``(node, min node id of its component)`` for every node of an
    edge list: union by minimum root, so every root is its set's
    minimum, with path halving."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        if u is None or v is None:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(x, find(x)) for x in parent]


def _star_contraction_components(raw: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Distributed kernel of ``connected_components`` over ``raw(u, v)``:
    ``(components, rounds run)``.

    Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    the same scheme GraphFrames ships): each round rewires every node
    toward its neighborhood minimum, provably converging to one star per
    component in O(log² n) rounds (O(log n) observed). Round 8 replaced
    the earlier min-label propagation, whose round count is the graph
    DIAMETER: on 64× mutated-replica corpora, near-dup clusters form
    long chains (adjacent replicas collide, distant ones don't) and the
    propagation hit its 25-round cap WITHOUT converging — a silent-
    wrong-labels failure mode at scale, caught by the round-8 stress
    diagnosis (nd64: propagation 25+ rounds/48 s vs contraction
    converging in a handful). Large-star/small-star contracts chain
    diameter exponentially instead of walking it.

    Scale: each half-round attaches the neighborhood minimum and rewires
    — linear in |E|; no collect, no driver-side graph.
    ``localCheckpoint`` per round keeps the plan O(1) deep. Convergence
    is a fixpoint of the edge set, detected by an order-free (count,
    xxhash64-sum) signature; exhausting ``max_iter`` RAISES instead of
    returning unconverged labels.

    The per-center minimum attaches through
    ``min().over(Window.partitionBy(center))``: ONE exchange per
    half-round. Bound, stated plainly: a window has no map-side partial
    aggregation, so one task receives each center's FULL neighborhood;
    an extreme first-round hub (a template family that is a large
    fraction of the corpus) concentrates its degree in a single task.
    The ``--skewed`` regime (one family = 10% of docs) holds fine
    because star edges already cap per-BUCKET degree and contraction
    halves hub degree per round, but the exposure is real for
    adversarially hub-heavy edge inputs fed directly.
    """
    # a node appearing ONLY in self-loops is still a node of the graph —
    # a singleton component (the pre-round-8 propagation semantics,
    # pinned by the hypothesis property test)
    selfloops = (
        raw.filter(F.col("u") == F.col("v")).select(F.col("u").alias("n")).distinct()
    )
    # lazy: the signature aggregation below is the loop's one
    # blocking action per round and its job MATERIALIZES the checkpoint
    # as a side effect — round 12 halved the per-round job count (the
    # eager checkpoint ran one job, the signature a second; on the
    # batch-sized merge graphs the maintenance ticks feed this loop,
    # per-job overhead — not data — was the wall).
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .transform(materialize, "lazy")
    )

    def _with_singletons(comp: DataFrame) -> DataFrame:
        lone = selfloops.join(
            comp.select(F.col("node").alias("n")), "n", "left_anti"
        )
        return comp.unionByName(
            lone.select(F.col("n").alias("node"), F.col("n").alias("component"))
        )

    def _signature(frame: DataFrame):
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: summing raw 64-bit hashes
            # overflows long under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    sig = _signature(e)
    # the signature's count doubles as the emptiness probe (the old
    # separate take(1) was one more job per call)
    if sig[0] == 0:
        empty = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        return _with_singletons(empty), 0

    # Size-adaptive AQE gate (round 13): with AQE on, every exchange in a
    # round materializes as its OWN job (QueryStageExec), so a round is
    # ~4-5 driver-paced jobs; profiled at sf0.1 that scheduling overhead
    # — not data — is most of the loop wall across the whole cluster/tick
    # family. Each round is gated on the MEASURED edge count of its input
    # (the signature's n, free): below small_plan_rounds' threshold it
    # plans with AQE off and a derived shuffle width, as ONE job. Large
    # graphs keep AQE for every round; a shrinking graph flips mode when
    # contraction crosses the threshold — at any scale the tail rounds
    # are tiny, so this is a cluster win too.
    for rounds in range(1, max_iter + 1):
        with small_plan_rounds(e.sparkSession, sig[0]):
            e = _cc_round(e)
            # ONE job per round: the signature materializes the checkpoint
            new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_iter} "
            "star-contraction rounds"
        )
    # At the fixpoint the edge set is a union of stars (u -> component
    # min); roots appear only on the v side and label themselves.
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component")).unionByName(
        e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )
    return _with_singletons(comp), rounds


def _cc_round(e: DataFrame) -> DataFrame:
    """One LARGE-STAR + SMALL-STAR contraction round over a canonical
    (u > v) edge table; returns the next round's canonical edge table,
    lazily localCheckpoint'ed (the caller's signature job materializes
    it)."""
    from pyspark.sql.window import Window

    # LARGE-STAR: center a over ALL neighbors b (both directions);
    # every strictly-greater neighbor rewires to the center's
    # neighborhood min. Output edges all point larger -> smaller.
    # The neighborhood min attaches via a KEYED WINDOW over the
    # center instead of the groupBy-min + join-back it replaced:
    # one exchange per half-round instead of three (round-9 rewrite;
    # the CC loop measured as ~60% of the cluster-table build wall,
    # and per-round exchanges — not data volume — were the cost).
    nbrs = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    m_a = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
    with_min = nbrs.withColumn("m", m_a)
    large = (
        with_min.where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    # SMALL-STAR: key by the larger endpoint; it and all its (smaller)
    # neighbors rewire to the neighborhood min. Same keyed-window
    # fusion; `large` is deliberately NOT distinct'd first — its row
    # count is exactly one per directed (b > a) edge, duplicates of
    # (u, v) pairs don't change the window min, and the single
    # canonical distinct below dedups the round's output once.
    sm_all = large.withColumn(
        "m", F.min("v").over(Window.partitionBy("u"))
    ).select("u", "v", "m")
    small = (
        sm_all.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(sm_all.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .transform(materialize, "lazy")
    )
    return small


# Shared oracle fragment: near-dup edges (stop-shingle-guarded Jaccard
# >= 0.6) -> symmetric closure -> recursive reachability -> components.
# Single source of truth for every UNCAPPED cluster-consuming oracle below.
_DOC_COMPONENTS_SQL = f"""edges AS (
      WITH {shingle_sql_cte()}, sh AS (
        SELECT doc_id, s FROM __sh
        WHERE s NOT IN (SELECT s FROM __sh GROUP BY s HAVING count(*) > 100)
      ), sz AS (
        SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
      ), inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT d1, d2 FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
      WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.6
    ),
    {components_sql_cte()}"""


@register(
    "dedup_clusters",
    f"""
    WITH {_DOC_COMPONENTS_SQL}
    SELECT node, component FROM comp
    """,
    doc="Iterative connected components over near-dup pairs → duplicate "
    "clusters (large-star/small-star contraction; oracle = recursive-CTE closure). "
    "The pair input runs with the stop-shingle guard ON (df_cap=100, "
    "mirrored in the oracle) so the candidate join is never quadratic "
    "on boilerplate shingles.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_near_dup_clusters(spark, sf_dir)[1]


# Materialized-view memo for the document near-dup cluster table — same
# discipline as _copurchase_edges below: pair generation + iterative
# components is the expensive prefix shared by every cluster consumer
# (dedup_clusters, dedup_survivorship, sampling_leakage_safe_split), and a
# production deployment materializes that table once per corpus snapshot,
# not once per downstream query.
def _doc_near_dup_clusters(spark: SparkSession, sf_dir: str):
    """(pairs, components) for the stop-shingle-guarded Jaccard>=0.6
    document graph, computed once per (session, corpus). Both frames are
    localCheckpoint-pinned: they are cluster-member-sized (≪ corpus), and
    downstream consumers reference them under differing partitionings
    that would otherwise recompute the pair join per query."""

    def build():
        docs = Catalog(spark, sf_dir)["documents"]
        pairs = materialize(ngram_jaccard_pairs(docs, threshold=0.6, n=3, df_cap=100))
        return pairs, connected_components(pairs)

    return session_memo(spark, ("doc_near_dup_clusters", sf_dir), build)


# Materialized-view memo for the co-purchase projection: every graph query
# (triangles, PageRank, components) starts from the same support-2 edge
# list, and the expensive pair-generation join should run once per
# (session, corpus), not once per query invocation — exactly the shared
# materialized projection a production deployment would persist.
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-2 co-purchase edge list (u < v), materialized once per
    (session, corpus).

    The w >= 2 filter prunes ~99.7% of co-purchase pairs, so the edge
    projection is tiny — but downstream consumers (degree calc,
    orientation, closing-edge lookup, PageRank propagation) reference it
    under differing partitionings that defeat exchange reuse, so without
    materialization the expensive pair-generation join recomputes per
    branch. ``localCheckpoint`` (eager) pins the small result; the module
    memo shares it across graph queries in the same session.
    """

    def build():
        # One exchange instead of two (round 13): hash-partitioning by
        # l_orderkey alone satisfies BOTH the distinct's clustered
        # distribution on (l_orderkey, l_partkey) — equal pairs share the
        # orderkey — AND the self-join's requirement on l_orderkey, so the
        # distinct's own (ok, pk) exchange and the join's re-exchange
        # collapse into this one (A/B at sf0.1: 1.24 s vs 1.54 s warm,
        # identical edge set; same bytes shuffled, strictly fewer exchanges
        # at any scale).
        li = (
            Catalog(spark, sf_dir)["lineitem"]
            .select("l_orderkey", "l_partkey")
            .repartition("l_orderkey")
            .distinct()
        )
        a = li.alias("a")
        b = li.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
            .agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= 2)
            .select("u", "v")
            .transform(materialize)
        )

    return session_memo(spark, ("copurchase_edges", sf_dir), build)


@register(
    "graph_triangle_count",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
    """,
    doc="Triangle enumeration on the co-purchase graph with DEGREE-ORDERED "
    "orientation (compact-forward): every edge points from its lower-"
    "(degree, id) endpoint, so wedges enumerate from each triangle's "
    "lowest-degree vertex and per-vertex wedge work is bounded by "
    "out-degree² ≤ O(E) total (id-ordered orientation lets one low-id "
    "hub generate degree² wedges — the quadratic hot spot at scale). "
    "Output is the sorted triple, identical to the id-oriented oracle; "
    "edge support ≥ 2 bounds the graph. Complements the iterative "
    "connected-components operator as the second graph-analytics "
    "primitive.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    inc = edges.select(F.col("u").alias("x")).unionByName(edges.select(F.col("v").alias("x")))
    deg = inc.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    e = edges.join(
        deg.select(F.col("x").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("x").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    directed = (
        e.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("d"),
            # Pinned: both sides of the wedge self-join reference this frame,
            # and the degree-annotation joins would otherwise recompute per
            # alias branch (same discipline as _copurchase_edges). Two longs
            # per edge.
        )
        # Explicit repartition on the wedge key BEFORE the checkpoint: the
        # edge rows are tiny (two longs) but the wedge generation around
        # each source is the query's compute, and AQE's byte-based
        # coalescing packed the self-join onto 1 task (profiled: a 2.3 s
        # single-task wedge stage). The checkpointed RDD keeps the
        # hashpartitioning, so the self-join needs NO further exchange on
        # either alias branch — this replaces the join's own
        # ENSURE_REQUIREMENTS shuffle rather than adding one.
        .repartition(edges.sparkSession.sparkContext.defaultParallelism, "s")
        .transform(materialize, "lazy")
    )
    # wedges around each source; closing edge is looked up in normalized
    # (u < v) form — p < q already by the wedge ordering
    w = (
        directed.alias("x")
        .join(directed.alias("y"), (F.col("x.s") == F.col("y.s")) & (F.col("x.d") < F.col("y.d")))
        .select(F.col("x.s").alias("s"), F.col("x.d").alias("p"), F.col("y.d").alias("q"))
    )
    tri = w.join(edges, (F.col("p") == F.col("u")) & (F.col("q") == F.col("v")))
    lo = F.least("s", "p", "q")
    hi = F.greatest("s", "p", "q")
    return tri.select(
        lo.alias("a"),
        (F.col("s") + F.col("p") + F.col("q") - lo - hi).alias("b"),
        hi.alias("c"),
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iters: int = 10,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """Damped PageRank over an undirected edge list (each edge walks both
    ways). Per iteration: ranks join the static degree-annotated edge
    list, contributions ship to destinations, and the damped update is
    FUSED into the destination aggregate — one shuffle per round, with
    ``localCheckpoint`` bounding lineage (same discipline as
    ``connected_components``). The dangling-node left-join is omitted on
    purpose: the symmetrized edge list gives every node in-degree ≥ 1,
    so the destination aggregate already covers the full node set.

    The rank table is broadcast into the edge join, so the big, static
    edge list is never reshuffled — the GraphX/Pregel-style plan: ranks
    are O(nodes) (a long + a double per node; ~1 GB per 60M nodes) while
    edges are 10-100× that. Deterministic: no RNG, fixed iteration
    count; exactness pinned by pytest against a dense NumPy solve.
    """
    both = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")).unionByName(
        edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
    )
    # lazy: contrib_edges' eager checkpoint below materializes it (its agg
    # stage runs first and persists the marked RDD for the join stage)
    both = materialize(both, "lazy")
    # degree is static — fold it into the edge list ONCE so each iteration
    # is a single rank⋈edges join + agg instead of rank⋈degrees⋈edges.
    # Round 13 prep fusion: the symmetrized edge list gives every node
    # out-degree >= 1, so the degree table IS the node table — the old
    # separate nodes.distinct() + count() ran one more full exchange and
    # job over `both` for a set the degree aggregate already computes.
    degrees = materialize(both.groupBy("s").agg(F.count(F.lit(1)).alias("deg")), "lazy")
    contrib_edges = both.join(degrees, "s").transform(materialize)
    n = degrees.count()
    ranks = degrees.select(F.col("s").alias("node"), F.lit(1.0 / n).alias("rank"))
    # each iteration's shuffle carries ~one row per node (map-side
    # partial agg), so the node count is the round working set
    with small_plan_rounds(edges.sparkSession, n):
        for _ in range(n_iters):
            ranks = (
                F.broadcast(ranks).join(contrib_edges, ranks.node == contrib_edges.s)
                .select(
                    F.col("d").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
                )
                .groupBy("node")
                .agg((F.lit((1.0 - damping) / n) + damping * F.sum("c")).alias("rank"))
                # lazy: lineage is still truncated once the next
                # iteration's join materializes this frame, but the loop no
                # longer pays a blocking job per round (~20% wall at sf0.1).
                .transform(materialize, "lazy")
            )
    return ranks.select("node", F.round("rank", 8).alias("rank"))


def _pagerank_oracle_sql(damping: float = 0.85, n_iters: int = 10) -> str:
    """DuckDB mirror of ``pagerank``: the fixed-iteration recurrence is
    mechanically unrolled into ``n_iters`` chained CTEs (DuckDB's
    recursive-CTE form can't aggregate per round). Constants are emitted
    exactly as the Python floats Spark folds into its plan
    (``repr(1.0 - damping)`` is NOT the same double as ``0.15``), cast to
    DOUBLE so both engines run the identical IEEE recurrence."""
    teleport = repr(1.0 - damping)
    iters = []
    for i in range(1, n_iters + 1):
        iters.append(
            f"""r{i} AS (
      SELECT nd.node,
             {teleport}::DOUBLE / (SELECT n FROM nn) + {damping!r}::DOUBLE * coalesce(c.c, 0) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT sym.d AS node, sum(p.rank / dg.deg) AS c
        FROM r{i - 1} p JOIN deg dg ON p.node = dg.s JOIN sym ON sym.s = p.node
        GROUP BY sym.d
      ) c ON nd.node = c.node
    )"""
        )
    chain = ",\n    ".join(iters)
    return f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT u AS s, v AS d FROM edges UNION ALL SELECT v AS s, u AS d FROM edges
    ),
    nodes AS (SELECT DISTINCT s AS node FROM sym),
    deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes),
    {chain}
    SELECT node, round(rank, 8) AS rank FROM r{n_iters}
    """


@register(
    "graph_pagerank",
    _pagerank_oracle_sql(damping=0.85, n_iters=10),
    doc="Damped PageRank (10 iterations) on the support-2 co-purchase "
    "graph: per-iteration one shuffle (contributions to destinations), "
    "localCheckpoint-bounded lineage — the iterative-algorithm template "
    "next to connected components. Deterministic fixed-iteration "
    "recurrence, so the oracle unrolls the same 10 steps in DuckDB.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(_copurchase_edges(spark, sf_dir))


_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_oracle_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled DuckDB mirror of the bounded k-core peel. Every stage CTE
    is MATERIALIZED — edges{i} is referenced by deg, keep, edges{i+1} AND
    the final stats row; re-inlining would re-run the support-2 pair join
    once per reference (the BPE-oracle lesson)."""
    parts = [
        """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""
    deg{i} AS MATERIALIZED (
      SELECT x, count(*) AS d FROM (
        SELECT u AS x FROM edges{p} UNION ALL SELECT v FROM edges{p}
      ) GROUP BY x
    ),
    keep{i} AS MATERIALIZED (SELECT x FROM deg{i} WHERE d >= {k}),
    edges{i} AS MATERIALIZED (
      SELECT u, v FROM edges{p}
      WHERE u IN (SELECT x FROM keep{i}) AND v IN (SELECT x FROM keep{i})
    )"""
        )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT {i}::BIGINT AS round,
           (SELECT count(*) FROM keep{i})::BIGINT AS n_nodes,
           (SELECT count(*) FROM edges{i})::BIGINT AS n_edges"""
        for i in range(1, rounds + 1)
    )
    return ",".join(parts) + "\n" + rows + "\n    ORDER BY round"


@register(
    "graph_kcore_peel",
    _kcore_oracle_sql(),
    doc=f"Bounded k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} rounds) on "
    "the co-purchase graph: each round drops nodes below degree k, then "
    "the edges touching them, reporting (round, surviving nodes, "
    "surviving edges) — the convergence profile that sizes the stable "
    "core for community/centrality passes and is the standard "
    "hub-vs-periphery decomposition primitive. Plan: per round one "
    "degree hash-agg + two semi-join-shaped inner joins against the "
    "bounded keep set; rounds are a FIXED driver-side plan unroll (no "
    "per-round collect — the whole profile is one job), intermediate "
    "edge sets materialized so round r+1 and round r's stats share "
    "one materialization. The full fixpoint is the same loop with a "
    "convergence check, exactly like pagerank/components.",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = _copurchase_edges(spark, sf_dir)
    out = None
    # per-round lazy checkpoints + the size gate (round 13): without the
    # checkpoints every round planned at ACTION time under session AQE —
    # 4-6 stage jobs per round on a peeled graph that only shrinks; the
    # gate plans each round as one job below 256k measured edges (the
    # memoized edge list is pinned, so the count is a ~free job). The
    # checkpoint replaces the round-12 persist of `nxt` (same
    # single-materialization purpose — nxt feeds the next round AND its
    # own count — without the IMR build).
    with small_plan_rounds(spark, cur.count()):
        for rnd in range(1, _KCORE_ROUNDS + 1):
            inc = cur.select(F.col("u").alias("x")).unionByName(
                cur.select(F.col("v").alias("x"))
            )
            deg = inc.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.filter(F.col("d") >= _KCORE_K).select("x")
            nxt = (
                cur.join(keep.withColumnRenamed("x", "u"), "u")
                .join(keep.withColumnRenamed("x", "v"), "v")
                .select("u", "v")
                .transform(materialize, "lazy")
            )
            row = (
                keep.agg(F.count(F.lit(1)).alias("n_nodes"))
                .crossJoin(F.broadcast(nxt.agg(F.count(F.lit(1)).alias("n_edges"))))
                .select(
                    F.lit(rnd).cast("bigint").alias("round"),
                    F.col("n_nodes").cast("bigint").alias("n_nodes"),
                    F.col("n_edges").cast("bigint").alias("n_edges"),
                )
            )
            out = row if out is None else out.unionByName(row)
            cur = nxt
    return out.orderBy("round")


@register(
    "graph_degree_assortativity",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), inc AS (
      SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
    ), deg AS (
      SELECT x, count(*) AS d FROM inc GROUP BY x
    ), ends AS (
      SELECT du.d AS d1, dv.d AS d2
      FROM edges JOIN deg du ON u = du.x JOIN deg dv ON v = dv.x
      UNION ALL
      SELECT dv.d, du.d
      FROM edges JOIN deg du ON u = du.x JOIN deg dv ON v = dv.x
    ), mom AS (
      SELECT count(*)::HUGEINT AS n,
             sum(d1::HUGEINT) AS sa, sum(d2::HUGEINT) AS sb,
             sum(d1::HUGEINT * d2) AS sab,
             sum(d1::HUGEINT * d1) AS saa, sum(d2::HUGEINT * d2) AS sbb
      FROM ends
    )
    SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
           (SELECT count(*) FROM edges)::BIGINT AS n_edges,
           round((SELECT sum(d) FROM deg)::DOUBLE / (SELECT count(*) FROM deg), 4)
             AS mean_degree,
           (SELECT max(d) FROM deg)::BIGINT AS max_degree,
           round((n * sab - sa * sb)::DOUBLE
                 / nullif(sqrt((n * saa - sa * sa)::DOUBLE)
                          * sqrt((n * sbb - sb * sb)::DOUBLE), 0), 6) AS assortativity
    FROM mom
    """,
    doc="Degree assortativity of the co-purchase graph: Pearson "
    "correlation of endpoint degrees over both edge orientations "
    "(Newman's r) — negative r means hubs attach to leaves "
    "(disassortative, the typical co-occurrence-graph shape), which "
    "predicts whether degree-based partitioning/salting will face hub "
    "hotspots. Degrees are exact integers from two hash aggs on the "
    "memoized support-2 edge projection, and r itself reduces to exact "
    "integer moment sums (order-independent cross-engine; one double "
    "normalize at the end); the graph summary scalars are 1-row "
    "broadcasts. Third graph-analytics primitive next to "
    "components/triangles/PageRank.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    inc = edges.select(F.col("u").alias("x")).unionByName(edges.select(F.col("v").alias("x")))
    deg = inc.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    e2 = edges.join(
        deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    ends = e2.select(F.col("du").alias("d1"), F.col("dv").alias("d2")).unionByName(
        e2.select(F.col("dv").alias("d1"), F.col("du").alias("d2"))
    )
    # Pearson r from exact integer moment sums (decimal(38,0) ≡ DuckDB
    # HUGEINT) — order-independent, unlike corr()'s double accumulation —
    # with one double normalize at the end. The nullif doubles as the
    # zero-variance guard (degree-regular graph): NULL on both engines.
    dec = "decimal(38,0)"
    d1, d2 = F.col("d1").cast(dec), F.col("d2").cast(dec)
    mom = ends.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(d1).alias("sa"),
        F.sum(d2).alias("sb"),
        F.sum(d1 * d2).alias("sab"),
        F.sum(d1 * d1).alias("saa"),
        F.sum(d2 * d2).alias("sbb"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    den = F.nullif(
        F.sqrt((F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double"))
        * F.sqrt((F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")),
        F.lit(0.0),
    )
    corr_row = mom.select(F.round(num / den, 6).alias("assortativity"))
    deg_row = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.round(F.sum("d").cast("double") / F.count(F.lit(1)), 4).alias("mean_degree"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
    edge_row = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        deg_row.crossJoin(F.broadcast(edge_row))
        .crossJoin(F.broadcast(corr_row))
        .select("n_nodes", "n_edges", "mean_degree", "max_degree", "assortativity")
    )


_LPA_ROUNDS = 3


def _lpa_oracle_sql(rounds: int = _LPA_ROUNDS) -> str:
    """Unrolled synchronous label-propagation oracle (every stage
    MATERIALIZED — edges feeds two branches per round)."""
    parts = [
        """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), l0 AS MATERIALIZED (
      SELECT x, x AS lab FROM (
        SELECT u AS x FROM edges UNION SELECT v FROM edges
      )
    )"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""
    nb{i} AS MATERIALIZED (
      SELECT e.u AS x, l.lab FROM edges e JOIN l{p} l ON e.v = l.x
      UNION ALL
      SELECT e.v AS x, l.lab FROM edges e JOIN l{p} l ON e.u = l.x
    ),
    l{i} AS MATERIALIZED (
      SELECT x, lab FROM (
        SELECT x, lab,
               row_number() OVER (PARTITION BY x
                                  ORDER BY count(*) DESC, lab) AS rk
        FROM nb{i} GROUP BY x, lab
      ) WHERE rk = 1
    )"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT lab AS community, count(*)::BIGINT AS size
    FROM l{rounds} GROUP BY lab
    ORDER BY size DESC, community LIMIT 20"""
    )


@register(
    "graph_label_propagation",
    _lpa_oracle_sql(),
    doc=f"Synchronous label propagation ({_LPA_ROUNDS} rounds) on the "
    "co-purchase graph: every node adopts its neighbors' most frequent "
    "label each round (ties -> min label, so the fixed-iteration "
    "recurrence is fully deterministic and the oracle unrolls it), then "
    "the top-20 communities by size — the lightweight community-"
    "detection primitive next to connected components (CC merges "
    "everything reachable; LPA finds denser cores). Per round: ONE "
    "shuffle shipping labels across edges + a (node, label) hash agg + "
    "a node-partitioned argmax window; localCheckpoint per round keeps "
    "lineage flat, exactly the pagerank/components template.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    edges = _copurchase_edges(spark, sf_dir)
    labels = (
        edges.select(F.col("u").alias("x"))
        .unionByName(edges.select(F.col("v").alias("x")))
        .distinct()
        .select("x", F.col("x").alias("lab"))
        .transform(materialize, "lazy")
    )
    # per-round shuffles carry <= 2|E| (x, lab) rows; the edge list is
    # memoized + eagerly checkpointed, so the count is a ~free job
    with small_plan_rounds(spark, 2 * edges.count()):
        for _ in range(_LPA_ROUNDS):
            nb = edges.join(labels, edges.v == labels.x).select(
                F.col("u").alias("x"), "lab"
            ).unionByName(
                edges.join(labels, edges.u == labels.x).select(
                    F.col("v").alias("x"), "lab"
                )
            )
            cnt = nb.groupBy("x", "lab").agg(F.count(F.lit(1)).alias("c"))
            w = W.partitionBy("x").orderBy(F.desc("c"), F.asc("lab"))
            labels = (
                cnt.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .select("x", "lab")
                .transform(materialize, "lazy")
            )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(20)
    )


@register(
    "graph_link_prediction",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
    ), deg AS MATERIALIZED (
      SELECT a, count(*) AS deg FROM sym GROUP BY a
    ), cn AS MATERIALIZED (
      SELECT x.a AS u, y.b AS v, count(*) AS cn
      FROM sym x JOIN sym y ON x.b = y.a AND x.a < y.b
      GROUP BY 1, 2
    ), cand AS (
      SELECT cn.u, cn.v, cn.cn FROM cn
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.u = cn.u AND e.v = cn.v
      )
    )
    SELECT cand.u, cand.v, cand.cn::BIGINT AS common_neighbors,
           round(cand.cn * 1.0 / (du.deg + dv.deg - cand.cn), 6) AS jaccard
    FROM cand JOIN deg du ON du.a = cand.u JOIN deg dv ON dv.a = cand.v
    ORDER BY cand.cn DESC, cand.u, cand.v LIMIT 20
    """,
    doc="Link prediction on the support-2 co-purchase graph: for vertex "
    "pairs at distance 2 that are NOT edges, the common-neighbor count "
    "and neighborhood Jaccard |N(u) inter N(v)| / |N(u) union N(v)| — "
    "the classic recommend-an-edge scores. Plan: wedge enumeration is "
    "the adjacency self-join on the MIDDLE vertex (the same shape as "
    "triangle counting — one shuffle on the join key, bounded by "
    "sum-of-degree-squares of the support-pruned projection), existing "
    "edges drop via an anti-join, degrees come from the memoized edge "
    "projection, and top-20 is TakeOrderedAndProject with the exact "
    "integer cn as the primary key — never a global sort.",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    cn = (
        sym.alias("x")
        .join(
            sym.alias("y"),
            (F.col("x.b") == F.col("y.a")) & (F.col("x.a") < F.col("y.b")),
        )
        .groupBy(F.col("x.a").alias("u"), F.col("y.b").alias("v"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = cn.join(e, ["u", "v"], "left_anti")
    return (
        cand.join(deg.select(F.col("a").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("a").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double") / (F.col("du") + F.col("dv") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_neighbors"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


@register(
    "graph_clustering_coefficient",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), tri AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
    ), tn AS (
      SELECT x AS node, count(*) AS n_tri FROM (
        SELECT a AS x FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY x
    ), deg AS (
      SELECT x AS node, count(*) AS deg FROM (
        SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY x
    )
    SELECT deg.node, deg.deg::BIGINT AS deg,
           coalesce(tn.n_tri, 0)::BIGINT AS n_triangles,
           (coalesce(tn.n_tri, 0) * 2000000 // (deg.deg * (deg.deg - 1)))::BIGINT
             AS cc_ppm
    FROM deg LEFT JOIN tn USING (node)
    WHERE deg.deg >= 2
    ORDER BY cc_ppm DESC, deg.node LIMIT 20
    """,
    doc="Local clustering coefficient: per node, closed wedges / possible "
    "wedges = 2·triangles(v) / (deg·(deg−1)) — the community-density "
    "score behind spam-ring and co-purchase-cluster detection. Reuses "
    "the degree-oriented triangle enumeration (per-vertex wedge work "
    "bounded by out-degree², O(E^1.5) total) and the memoized edge "
    "projection; triangle membership fans out via ONE 3-way union + "
    "hash agg; the coefficient is exact integer ppm (2e6·tri div "
    "deg·(deg−1)) so the top-20 cut is deterministic cross-engine, "
    "via TakeOrderedAndProject.",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = graph_triangle_count(spark, sf_dir)
    tn = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tn, "node", "left")
        .select(
            "node",
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr("coalesce(n_tri, 0) * 2000000 div (deg * (deg - 1))")
            .cast("bigint")
            .alias("cc_ppm"),
        )
        .orderBy(F.desc("cc_ppm"), F.asc("node"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dedup survivorship: clusters -> canonical doc -> per-source reduction
# ---------------------------------------------------------------------------


@register(
    "dedup_survivorship",
    f"""
    WITH {_DOC_COMPONENTS_SQL},
    mem AS (
      SELECT c.node, c.component, d.source, d.n_chars
      FROM comp c JOIN documents d ON c.node = d.doc_id
    ),
    surv AS (
      SELECT component,
             (list(node ORDER BY n_chars DESC, node ASC))[1] AS keeper
      FROM mem GROUP BY component
    )
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           count(m.node)::BIGINT AS n_dup_members,
           count(CASE WHEN m.node IS NOT NULL AND m.node <> s.keeper THEN 1 END)::BIGINT
             AS n_dropped,
           coalesce(sum(CASE WHEN m.node IS NOT NULL AND m.node <> s.keeper
                             THEN d.n_chars END), 0)::BIGINT AS chars_dropped
    FROM documents d
    LEFT JOIN mem m ON d.doc_id = m.node
    LEFT JOIN surv s ON m.component = s.component
    GROUP BY d.source
    """,
    doc="Dedup survivorship — the stage that turns near-dup *clusters* "
    "into the final corpus: within each transitively-connected duplicate "
    "cluster keep the canonical document (longest text, ties by doc_id) "
    "and report the per-source reduction (members, dropped docs, chars "
    "removed). Plan: pair gen reuses the stop-shingle-guarded Jaccard "
    "join, components are the star-contraction loop (checkpoint-"
    "bounded, O(log n) rounds), the survivor per cluster is one "
    "max-struct aggregate over the cluster-member table, and the "
    "per-source rollup left-joins those cluster tables against the doc "
    "stream UNHINTED (AQE broadcasts while dup volume is small; "
    "dup-dense corpora degrade to a shuffle hash join on doc_id) — no "
    "corpus-sized sort or window anywhere. Oracle = recursive-CTE "
    "closure + ordered-list head.",
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    comp = _doc_near_dup_clusters(spark, sf_dir)[1]
    mem = comp.join(
        docs.select(F.col("doc_id").alias("node"), "source", "n_chars"), "node"
    )
    surv = mem.groupBy("component").agg(
        F.max(F.struct(F.col("n_chars"), (-F.col("node")).alias("__neg"))).alias("__top")
    ).select("component", (-F.col("__top.__neg")).alias("keeper"))
    # member/survivor tables joined back UNHINTED: AQE broadcasts while
    # dup volume is small, but on a dup-dense corpus cluster members are a
    # large fraction of the corpus and the join must degrade to a shuffle
    # hash join on the high-cardinality doc_id/component keys.
    return (
        docs.join(mem.withColumnRenamed("node", "doc_id").select("doc_id", "component"), "doc_id", "left")
        .join(surv, "component", "left")
        .withColumn(
            "__dropped",
            F.col("component").isNotNull() & (F.col("doc_id") != F.col("keeper")),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.col("component")).cast("long").alias("n_dup_members"),
            F.count(F.when(F.col("__dropped"), 1)).cast("long").alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("__dropped"), F.col("n_chars"))), F.lit(0)
            ).cast("long").alias("chars_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (near-dup clusters inherit one split)
# ---------------------------------------------------------------------------

_SPLIT_CUTS = {"train": 80, "val": 10, "test": 10}


@register(
    "sampling_leakage_safe_split",
    f"""
    WITH {_DOC_COMPONENTS_SQL},
    asg AS (
      SELECT doc_id,
             CASE WHEN h_doc < 80 THEN 'train'
                  WHEN h_doc < 90 THEN 'val' ELSE 'test' END AS s_naive,
             CASE WHEN h_grp < 80 THEN 'train'
                  WHEN h_grp < 90 THEN 'val' ELSE 'test' END AS s_grp
      FROM (
        SELECT d.doc_id,
               cast(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8)) AS BIGINT) % 100
                 AS h_doc,
               cast(('0x' || substring(md5(coalesce(c.component, d.doc_id)::VARCHAR), 1, 8)) AS BIGINT) % 100
                 AS h_grp
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
      )
    ),
    px AS (
      SELECT a.s_naive AS n1, b.s_naive AS n2, a.s_grp AS g1, b.s_grp AS g2
      FROM edges e JOIN asg a ON e.d1 = a.doc_id JOIN asg b ON e.d2 = b.doc_id
    ),
    nx AS (
      SELECT s, count(*) AS c FROM (
        SELECT unnest([n1, n2]) AS s FROM px WHERE n1 <> n2
      ) GROUP BY s
    ),
    gx AS (
      SELECT s, count(*) AS c FROM (
        SELECT unnest([g1, g2]) AS s FROM px WHERE g1 <> g2
      ) GROUP BY s
    ),
    gc AS (SELECT s_grp AS s, count(*) AS c FROM asg GROUP BY 1),
    nc AS (SELECT s_naive AS s, count(*) AS c FROM asg GROUP BY 1),
    dim AS (SELECT unnest(['train', 'val', 'test']) AS split)
    SELECT dim.split,
           coalesce(gc.c, 0)::BIGINT AS n_docs_grouped,
           coalesce(nc.c, 0)::BIGINT AS n_docs_naive,
           coalesce(nx.c, 0)::BIGINT AS naive_cross_pairs,
           coalesce(gx.c, 0)::BIGINT AS grouped_cross_pairs
    FROM dim
    LEFT JOIN gc ON dim.split = gc.s
    LEFT JOIN nc ON dim.split = nc.s
    LEFT JOIN nx ON dim.split = nx.s
    LEFT JOIN gx ON dim.split = gx.s
    """,
    doc="Leakage-safe corpus splitting: a naive per-document hash split "
    "puts members of the same near-dup cluster on both sides of the "
    "train/test boundary (the classic eval-contamination bug); the "
    "grouped split hashes the CLUSTER id (component, falling back to "
    "doc_id for singletons) so every cluster lands whole in one split. "
    "The result quantifies exactly what that buys: per split, doc "
    "counts under both policies plus the near-dup pairs straddling "
    "splits (naive > 0 on any dup-bearing corpus; grouped = 0 by "
    "construction — and the query PROVES it per run rather than "
    "asserting it). Plan: pair gen + components reuse the guarded "
    "Jaccard pipeline; split assignment is the md5 split_assign "
    "primitive over coalesce(component, doc_id) with the component "
    "table joined onto the doc stream unhinted (broadcast only while "
    "dup volume allows); the straddle "
    "count joins the pair list (≪ corpus) to assignments; the 3-row "
    "split dim left-join fixes the output shape. No corpus-sized "
    "sort, window, or pairwise blowup.",
)
def sampling_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.sampling import split_assign

    docs = Catalog(spark, sf_dir)["documents"]
    pairs, comp = _doc_near_dup_clusters(spark, sf_dir)
    # component table joined back UNHINTED (same degradation story as
    # dedup_survivorship: dup-dense corpora outgrow a broadcast)
    asg = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            split_assign(F.col("doc_id"), dict(_SPLIT_CUTS)).alias("s_naive"),
            split_assign(
                F.coalesce(F.col("component"), F.col("doc_id")), dict(_SPLIT_CUTS)
            ).alias("s_grp"),
        )
        .transform(materialize)
    )
    px = (
        pairs.join(
            asg.select(
                F.col("doc_id").alias("d1"),
                F.col("s_naive").alias("n1"),
                F.col("s_grp").alias("g1"),
            ),
            "d1",
        )
        .join(
            asg.select(
                F.col("doc_id").alias("d2"),
                F.col("s_naive").alias("n2"),
                F.col("s_grp").alias("g2"),
            ),
            "d2",
        )
        .transform(materialize)
    )
    nx = (
        px.where(F.col("n1") != F.col("n2"))
        .select(F.explode(F.array("n1", "n2")).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("nxc"))
    )
    gx = (
        px.where(F.col("g1") != F.col("g2"))
        .select(F.explode(F.array("g1", "g2")).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("gxc"))
    )
    gc = asg.groupBy(F.col("s_grp").alias("s")).agg(F.count(F.lit(1)).alias("gcc"))
    nc = asg.groupBy(F.col("s_naive").alias("s")).agg(F.count(F.lit(1)).alias("ncc"))
    dim = spark.createDataFrame([("train",), ("val",), ("test",)], "split string")
    return (
        dim.join(F.broadcast(gc), dim.split == gc.s, "left")
        .drop("s")
        .join(F.broadcast(nc), dim.split == nc.s, "left")
        .drop("s")
        .join(F.broadcast(nx), dim.split == nx.s, "left")
        .drop("s")
        .join(F.broadcast(gx), dim.split == gx.s, "left")
        .drop("s")
        .select(
            "split",
            F.coalesce(F.col("gcc"), F.lit(0)).cast("long").alias("n_docs_grouped"),
            F.coalesce(F.col("ncc"), F.lit(0)).cast("long").alias("n_docs_naive"),
            F.coalesce(F.col("nxc"), F.lit(0)).cast("long").alias("naive_cross_pairs"),
            F.coalesce(F.col("gxc"), F.lit(0)).cast("long").alias("grouped_cross_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Round 8: bounded-output near-dup summary + capped cluster compositions
# ---------------------------------------------------------------------------


def _cluster_state_from_bands(banded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(components, hubs) from a band table ``(doc, band, bucket)``:
    ``components(node, component)`` over the star-edge graph and
    ``hubs(band, bucket, hub)`` = each LSH bucket's minimum doc id.

    ONE (band, bucket) exchange feeds both: the ``bucket_min`` window
    is materialized once and split into ``bucket_star`` and
    ``bucket_hubs``."""
    with_min = materialize(bucket_min(banded))
    return connected_components(bucket_star(with_min)), bucket_hubs(with_min)


def _batch_only_min(batch_banded: DataFrame, hubs: DataFrame) -> DataFrame:
    """``bucket_min`` over the batch band rows whose bucket has no hub
    yet (the buckets no base doc lands in)."""
    return bucket_min(batch_banded.join(hubs, ["band", "bucket"], "left_anti"))


# Materialized-view memo for the MinHash cluster STATE — the component
# table (doc -> cluster label) AND the per-(band, bucket) hub table,
# both derived from ONE band-table materialization per (session, corpus,
# family). The component table is the shared prefix of
# dedup_minhash_clusters and corpus_soft_dedup_weights; the hub table is
# the frozen index state the INCREMENTAL append path joins new documents
# against (same discipline as the IVF-PQ codebook/centroids: a
# production deployment persists exactly these two linear-sized tables
# per corpus snapshot).
def _minhash_cluster_state(
    spark: SparkSession, sf_dir: str, family: str = "md5"
) -> tuple[DataFrame, DataFrame]:
    """(components, hubs) for the corpus at ``sf_dir``, memoized per
    session. One band-table pass feeds both (signature generation is the
    shared cost)."""

    def build():
        docs = Catalog(spark, sf_dir)["documents"]
        comp, hubs = _cluster_state_from_bands(minhash_band_table(docs, family=family))
        return materialize(comp, "lazy"), materialize(hubs, "lazy")

    return session_memo(spark, ("minhash_cluster_state", sf_dir, family), build)


def _minhash_components(spark: SparkSession, sf_dir: str, family: str = "md5") -> DataFrame:
    return _minhash_cluster_state(spark, sf_dir, family)[0]


def cluster_table_from_components(
    doc_ids: DataFrame, comp: DataFrame, appended_from: int | None = None
) -> DataFrame:
    """Per-doc cluster table (doc_id, cluster_rep, is_survivor,
    cluster_size[, is_appended]) from a component table.

    ``doc_ids`` is the LIVE corpus (one ``doc_id`` column); ``comp`` is
    ``(node, component)`` covering exactly the live non-singleton
    members (the ``connected_components`` contract — reps label
    themselves, isolated docs are absent and coalesce to singletons).

    cluster_size is aggregated from ``comp`` alone and broadcast back:
    the former ``count() over (partition by cluster_rep)`` shuffled and
    sorted the FULL corpus output to size clusters that are completely
    described by the near-dup member table. With the sizes (one row per
    non-singleton cluster, strictly fewer rows than ``comp``) broadcast,
    the corpus side flows scan -> broadcast join -> project with ZERO
    corpus-sized exchange. Scale bound, stated plainly: this assumes the
    non-singleton member table is the small working set — the same
    assumption the star-edge CC loop itself rests on; a corpus whose
    duplicate membership rivals the corpus size would need the window
    form back (or a shuffled join), at which point the CC build is the
    wall anyway."""
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("__csz")
    )
    comp_sized = comp.join(F.broadcast(csize), "component").select(
        F.col("node").alias("doc_id"), "component", "__csz"
    )
    out = (
        doc_ids.join(F.broadcast(comp_sized), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_rep"),
            F.coalesce("__csz", F.lit(1)).cast("long").alias("__csz"),
        )
        .select(
            "doc_id",
            "cluster_rep",
            F.when(F.col("doc_id") == F.col("cluster_rep"), 1)
            .otherwise(0)
            .alias("is_survivor"),
            F.col("__csz").alias("cluster_size"),
        )
    )
    if appended_from is not None:
        out = out.withColumn(
            "is_appended", F.col("doc_id") >= F.lit(appended_from)
        )
    return out


def _cluster_table_frame(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    """Shared body of ``dedup_minhash_clusters`` and its xxHash64
    production twin: per-document (cluster_rep, is_survivor,
    cluster_size) over the MinHash star-edge component table. The hash
    ``family`` changes ONLY the per-shingle hash inside the signature
    fold (``shingle_hashes``); banding, star edges, star-contraction CC
    and this projection are plan-identical.

    cluster_size comes from aggregating the COMPONENT table (every
    member node appears there, reps label themselves), broadcast back
    onto the per-doc rows; docs absent from the component table are
    singletons (size 1). The round-12 rewrite of the former
    ``count() over (partition by cluster_rep)``: the window shuffled
    and sorted the FULL corpus to size clusters that are fully
    described by the near-dup member table, which is bounded by dup
    membership — the one corpus-sized exchange in the query, now zero
    (docs flow scan -> broadcast join -> project)."""
    docs = Catalog(spark, sf_dir)["documents"]
    comp = _minhash_components(spark, sf_dir, family=family)
    return cluster_table_from_components(docs.select("doc_id"), comp)


def _soft_dedup_frame(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    """Shared body of ``corpus_soft_dedup_weights`` and its xxHash64
    production twin (per-source n_docs / n_clusters / effective ppm over
    the same memoized component table — both families share the
    ``_minhash_components`` memo with ``dedup_minhash_clusters``).

    Sizes ride the same broadcast-from-components rewrite as
    ``cluster_table_from_components`` (zero corpus-sized exchange
    before the per-source rollup)."""
    docs = Catalog(spark, sf_dir)["documents"]
    comp = _minhash_components(spark, sf_dir, family=family)
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("__csz")
    )
    comp_sized = comp.join(F.broadcast(csize), "component").select(
        F.col("node").alias("doc_id"), "component", "__csz"
    )
    sized = (
        docs.select("doc_id", "source")
        .join(F.broadcast(comp_sized), "doc_id", "left")
        .select(
            "source",
            F.coalesce("component", "doc_id").alias("cluster_rep"),
            F.coalesce("__csz", F.lit(1)).alias("csz"),
        )
    )
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("cluster_rep").cast("long").alias("n_clusters"),
        F.sum(F.expr("1000000 div csz")).cast("long").alias("effective_docs_ppm"),
    )


@register(
    "dedup_minhash_clusters",
    f"""
    WITH {shingle_sql_cte()},
    {minhash_banded_sql_cte()},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    percol AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN doc_id = cluster_rep THEN 1 ELSE 0 END AS is_survivor,
           count(*) OVER (PARTITION BY cluster_rep)::BIGINT AS cluster_size
    FROM percol
    """,
    doc="Bounded-output near-dup summary — what a 100 TB dedup run "
    "actually materializes: ONE ROW PER DOCUMENT (doc_id, cluster_rep, "
    "is_survivor, cluster_size) instead of the quadratic-per-family pair "
    "stream (dedup_minhash_lsh's 256x wall was pure pair-output volume, "
    "SCALE_r07: 111x). Plan: MinHash band table (docs x 16 bands, zero "
    "pair enumeration) -> per-bucket STAR edges (every member linked to "
    "the bucket's min doc: same connected components as the full bucket "
    "clique at <= docs x bands edges) -> star-contraction components "
    "-> left join onto the doc stream. Cluster membership is transitive "
    "bucket co-occurrence with NO verify step (the RefinedWeb/"
    "SlimPajama-style production trade; false-positive mass follows the "
    "16x4 band S-curve), so wall is linear in docs x bands and fully "
    "decoupled from true-pair volume. Survivor = min doc id per cluster "
    "(first-seen semantics, reference dcc_transforms.py:249-255). "
    "Oracle: the shared banded-minhash fragment + star construction + "
    "recursive-CTE closure.",
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_table_frame(spark, sf_dir, family="md5")


@register(
    "dedup_minhash_clusters_fast",
    f"""
    WITH {shingle_sql_cte()},
    {minhash_banded_sql_cte(family="xxh")},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    percol AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN doc_id = cluster_rep THEN 1 ELSE 0 END AS is_survivor,
           count(*) OVER (PARTITION BY cluster_rep)::BIGINT AS cluster_size
    FROM percol
    """,
    doc="Production-hash twin of dedup_minhash_clusters: the same band "
    "table -> per-bucket star edges -> large-star/small-star contraction "
    "-> per-doc (cluster_rep, is_survivor, cluster_size) plan, with the "
    "per-shingle hash swapped from the oracle-portable interpreted md5 "
    "(portable_hash60) to Spark's codegen'd xxhash64. Registered per the "
    "round-8 brief, then MEASURED honestly: the family swap moves the "
    "cold component build only ~5% (74.8 -> 71.2 s at 256x mutated) "
    "because this path's wall is the contraction loop (~60%) plus the "
    "family-INDEPENDENT 64-permutation signature fold (~13%) — unlike "
    "the per-row hashers (DSIR/classifier/bootstrap) where md5 IS the "
    "wall. The twin stays registered as the (free, real) family knob "
    "for deployments standardizing on xxhash64; the wall itself was "
    "fixed by the round-9 keyed-window CC rewrite (DEPLOY.md). Shares "
    "the component memo discipline (keyed by family) and is the frame "
    "corpus_soft_dedup_weights_fast composes over.",
)
def dedup_minhash_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_table_frame(spark, sf_dir, family="xxh")


# Capped composition: the PRODUCTION configuration of the cluster
# consumers (survivorship, leakage-safe split). Pair generation runs the
# capped PPJoin (exact Jaccard >= 0.6 among clean docs, candidates linear
# by construction); documents routed to the overflow channel — the
# dup-dense families whose exact pair enumeration is the 23.6x/31.8x
# slope in SCALE_r07 — are clustered through MinHash STAR edges instead
# (linear in overflow docs x bands, no pair emission). Recall boundary,
# stated honestly: clean-clean near-dup pairs are EXACT (the capped
# PPJoin contract); overflow-overflow near-dups recover through LSH
# bucket co-occurrence (S-curve recall, and dup families share their
# family shingles so they co-bucket with high probability); a
# clean-overflow near-dup pair (possible only when one member carries a
# hot prefix shingle the other lacks entirely) is missed — the same
# class of probabilistic loss LSH itself accepts, bounded by the
# routed-doc fraction that the overflow output row count makes auditable
# per run.
_CAPPED_EDGES_SQL = f"""{ppjoin_capped_sql_cte()},
    {minhash_banded_sql_cte(gram="t", doc_filter="WHERE doc_id IN (SELECT doc FROM overflow)")},
    {minhash_star_sql_cte()},
    edges AS (
      SELECT d1, d2 FROM cpairs
      UNION ALL
      SELECT d1, d2 FROM star
    ),
    {components_sql_cte()}"""


def _doc_capped_clusters(spark: SparkSession, sf_dir: str):
    """(edges, overflow, components) for the capped composition above,
    computed once per (session, corpus) — the same materialized-view
    discipline as ``_doc_near_dup_clusters``. All three frames are
    cluster-member-sized (edges are linear in corpus size by the cap /
    star constructions) and localCheckpoint-pinned because downstream
    consumers reference them under differing partitionings."""

    def build():
        docs = Catalog(spark, sf_dir)["documents"]
        pairs, overflow = prefix_jaccard_pairs_capped(
            docs, threshold=0.6, n=3, bucket_cap=_PPJOIN_GATE_CAP
        )
        overflow = materialize(overflow)
        # overflow is corpus-coupled (dup-dense corpora route MOST docs) —
        # pinned sort-merge per the join-strategy policy, never a broadcast
        over_docs = docs.join(
            overflow.withColumnRenamed("doc", "doc_id").hint("merge"),
            "doc_id",
            "left_semi",
        )
        # Explicit spread (round 13): the semi-join's output exchange AQE-
        # coalesces to ONE partition at this data size, and the 64-permutation
        # signature fold inside minhash_star_edges then runs serially
        # downstream of it (profiled: a 1.8 s single-task stage in
        # dedup_survivorship_capped; shingle_hashes' own fan_out no-ops here
        # because the PLANNED partition count is the pre-AQE 64). A keyless
        # repartition is exempt from AQE coalescing; at scale the overflow
        # set is corpus-coupled and the spread is a linear reshuffle the fold
        # amortizes.
        over_docs = over_docs.repartition(spark.sparkContext.defaultParallelism)
        edges = (
            pairs.select("d1", "d2")
            .unionByName(minhash_star_edges(over_docs))
            .transform(materialize)
        )
        comp = connected_components(edges)
        return edges, overflow, comp

    return session_memo(spark, ("doc_capped_clusters", sf_dir), build)


@register(
    "dedup_survivorship_capped",
    f"""
    WITH {shingle_sql_cte(gram="t", materialized=True)},
    {_CAPPED_EDGES_SQL},
    mem AS (
      SELECT c.node, c.component, d.source, d.n_chars
      FROM comp c JOIN documents d ON c.node = d.doc_id
    ),
    surv AS (
      SELECT component,
             (list(node ORDER BY n_chars DESC, node ASC))[1] AS keeper
      FROM mem GROUP BY component
    )
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           count(m.node)::BIGINT AS n_dup_members,
           count(CASE WHEN m.node IS NOT NULL AND m.node <> s.keeper THEN 1 END)::BIGINT
             AS n_dropped,
           coalesce(sum(CASE WHEN m.node IS NOT NULL AND m.node <> s.keeper
                             THEN d.n_chars END), 0)::BIGINT AS chars_dropped,
           count(o.doc)::BIGINT AS n_overflow
    FROM documents d
    LEFT JOIN mem m ON d.doc_id = m.node
    LEFT JOIN surv s ON m.component = s.component
    LEFT JOIN overflow o ON d.doc_id = o.doc
    GROUP BY d.source
    """,
    doc="Dedup survivorship in its PRODUCTION configuration (the round-7 "
    "verdict's headline ask): clusters come from the CAPPED composition "
    "— exact capped-PPJoin pairs among clean docs UNION MinHash star "
    "edges over the routed overflow docs — instead of the uncapped "
    "exact pair stream whose emitted-pair volume made the registered "
    "uncapped twin 23.6x at 64x mutated data (SCALE_r07). Within each "
    "transitively-connected cluster the canonical doc (longest text, "
    "ties by doc_id) survives; output adds n_overflow per source so "
    "every run AUDITS how much of the corpus took the probabilistic "
    "channel. All stages linear: capped candidates by construction, "
    "star edges <= overflow x bands, one star-contraction loop, one "
    "rollup; the member/survivor/overflow tables join the doc stream "
    "unhinted (AQE broadcasts while small, degrades to shuffle joins on "
    "dup-dense corpora). Oracle = the composed capped fragment + "
    "recursive-CTE closure + ordered-list head.",
)
def dedup_survivorship_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    edges, overflow, comp = _doc_capped_clusters(spark, sf_dir)
    mem = comp.join(
        docs.select(F.col("doc_id").alias("node"), "source", "n_chars"), "node"
    )
    surv = mem.groupBy("component").agg(
        F.max(F.struct(F.col("n_chars"), (-F.col("node")).alias("__neg"))).alias("__top")
    ).select("component", (-F.col("__top.__neg")).alias("keeper"))
    return (
        docs.join(
            mem.withColumnRenamed("node", "doc_id").select("doc_id", "component"),
            "doc_id",
            "left",
        )
        .join(surv, "component", "left")
        .join(
            overflow.select(F.col("doc").alias("doc_id"), F.lit(1).alias("__o")),
            "doc_id",
            "left",
        )
        .withColumn(
            "__dropped",
            F.col("component").isNotNull() & (F.col("doc_id") != F.col("keeper")),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.col("component")).cast("long").alias("n_dup_members"),
            F.count(F.when(F.col("__dropped"), 1)).cast("long").alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("__dropped"), F.col("n_chars"))), F.lit(0)
            ).cast("long").alias("chars_dropped"),
            F.count(F.col("__o")).cast("long").alias("n_overflow"),
        )
    )


@register(
    "sampling_leakage_safe_split_capped",
    f"""
    WITH {shingle_sql_cte(gram="t", materialized=True)},
    {_CAPPED_EDGES_SQL},
    asg AS (
      SELECT doc_id,
             CASE WHEN h_doc < 80 THEN 'train'
                  WHEN h_doc < 90 THEN 'val' ELSE 'test' END AS s_naive,
             CASE WHEN h_grp < 80 THEN 'train'
                  WHEN h_grp < 90 THEN 'val' ELSE 'test' END AS s_grp
      FROM (
        SELECT d.doc_id,
               cast(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8)) AS BIGINT) % 100
                 AS h_doc,
               cast(('0x' || substring(md5(coalesce(c.component, d.doc_id)::VARCHAR), 1, 8)) AS BIGINT) % 100
                 AS h_grp
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
      )
    ),
    px AS (
      SELECT a.s_naive AS n1, b.s_naive AS n2, a.s_grp AS g1, b.s_grp AS g2
      FROM edges e JOIN asg a ON e.d1 = a.doc_id JOIN asg b ON e.d2 = b.doc_id
    ),
    nx AS (
      SELECT s, count(*) AS c FROM (
        SELECT unnest([n1, n2]) AS s FROM px WHERE n1 <> n2
      ) GROUP BY s
    ),
    gx AS (
      SELECT s, count(*) AS c FROM (
        SELECT unnest([g1, g2]) AS s FROM px WHERE g1 <> g2
      ) GROUP BY s
    ),
    gc AS (SELECT s_grp AS s, count(*) AS c FROM asg GROUP BY 1),
    nc AS (SELECT s_naive AS s, count(*) AS c FROM asg GROUP BY 1),
    dim AS (SELECT unnest(['train', 'val', 'test']) AS split)
    SELECT dim.split,
           coalesce(gc.c, 0)::BIGINT AS n_docs_grouped,
           coalesce(nc.c, 0)::BIGINT AS n_docs_naive,
           coalesce(nx.c, 0)::BIGINT AS naive_cross_pairs,
           coalesce(gx.c, 0)::BIGINT AS grouped_cross_pairs
    FROM dim
    LEFT JOIN gc ON dim.split = gc.s
    LEFT JOIN nc ON dim.split = nc.s
    LEFT JOIN nx ON dim.split = nx.s
    LEFT JOIN gx ON dim.split = gx.s
    """,
    doc="Leakage-safe train/val/test split in its PRODUCTION "
    "configuration: identical semantics to sampling_leakage_safe_split "
    "(cluster-hashed grouped split vs naive per-doc split, plus the "
    "near-dup evidence straddling splits under each policy) but the "
    "near-dup evidence stream is the CAPPED composition — exact capped-"
    "PPJoin pairs among clean docs UNION MinHash star edges over routed "
    "overflow docs — so the straddle join consumes a corpus-LINEAR edge "
    "stream instead of the uncapped pair stream whose volume made the "
    "uncapped twin 31.8x at 64x mutated data (SCALE_r07). "
    "grouped_cross_pairs = 0 stays PROVEN per run (every edge endpoint "
    "pair shares a component by construction, so the grouped hash "
    "agrees). Cross-split counts quantify straddling EDGES (the "
    "evidence a capped production run materializes), a superset "
    "semantics documented here rather than hidden. Plan: the composed "
    "edge/component tables join the doc stream unhinted; the split "
    "assignment is the md5 split_assign primitive; the 3-row dim join "
    "fixes output shape.",
)
def sampling_leakage_safe_split_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.sampling import split_assign

    docs = Catalog(spark, sf_dir)["documents"]
    edges, _overflow, comp = _doc_capped_clusters(spark, sf_dir)
    asg = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            split_assign(F.col("doc_id"), dict(_SPLIT_CUTS)).alias("s_naive"),
            split_assign(
                F.coalesce(F.col("component"), F.col("doc_id")), dict(_SPLIT_CUTS)
            ).alias("s_grp"),
        )
        .transform(materialize)
    )
    px = (
        edges.join(
            asg.select(
                F.col("doc_id").alias("d1"),
                F.col("s_naive").alias("n1"),
                F.col("s_grp").alias("g1"),
            ),
            "d1",
        )
        .join(
            asg.select(
                F.col("doc_id").alias("d2"),
                F.col("s_naive").alias("n2"),
                F.col("s_grp").alias("g2"),
            ),
            "d2",
        )
        .transform(materialize)
    )
    nx = (
        px.where(F.col("n1") != F.col("n2"))
        .select(F.explode(F.array("n1", "n2")).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("nxc"))
    )
    gx = (
        px.where(F.col("g1") != F.col("g2"))
        .select(F.explode(F.array("g1", "g2")).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("gxc"))
    )
    gc = asg.groupBy(F.col("s_grp").alias("s")).agg(F.count(F.lit(1)).alias("gcc"))
    nc = asg.groupBy(F.col("s_naive").alias("s")).agg(F.count(F.lit(1)).alias("ncc"))
    dim = spark.createDataFrame([("train",), ("val",), ("test",)], "split string")
    return (
        dim.join(F.broadcast(gc), dim.split == gc.s, "left")
        .drop("s")
        .join(F.broadcast(nc), dim.split == nc.s, "left")
        .drop("s")
        .join(F.broadcast(nx), dim.split == nx.s, "left")
        .drop("s")
        .join(F.broadcast(gx), dim.split == gx.s, "left")
        .drop("s")
        .select(
            "split",
            F.coalesce(F.col("gcc"), F.lit(0)).cast("long").alias("n_docs_grouped"),
            F.coalesce(F.col("ncc"), F.lit(0)).cast("long").alias("n_docs_naive"),
            F.coalesce(F.col("nxc"), F.lit(0)).cast("long").alias("naive_cross_pairs"),
            F.coalesce(F.col("gxc"), F.lit(0)).cast("long").alias("grouped_cross_pairs"),
        )
    )


@register(
    "corpus_soft_dedup_weights",
    f"""
    WITH {shingle_sql_cte()},
    {minhash_banded_sql_cte()},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    percol AS (
      SELECT d.doc_id, d.source,
             coalesce(c.component, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), sized AS (
      SELECT doc_id, source, cluster_rep,
             count(*) OVER (PARTITION BY cluster_rep) AS csz
      FROM percol
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT cluster_rep)::BIGINT AS n_clusters,
           sum(1000000 // csz)::BIGINT AS effective_docs_ppm
    FROM sized GROUP BY source
    """,
    doc="Soft deduplication (down-weight, don't drop): each document "
    "gets training weight 1/cluster_size over the MinHash star-edge "
    "cluster table — the standard alternative to hard dedup when "
    "duplicates carry signal (a doc appearing k times contributes once "
    "in aggregate) — and the per-source rollup reports the EFFECTIVE "
    "corpus size that weighting yields (sum of weights, in exact "
    "integer ppm: 1e6 div cluster_size sums order-free, so the value "
    "is engine-portable where a float weight sum would drift with "
    "accumulation order). n_docs vs n_clusters vs effective_docs_ppm "
    "is the mixture-planning triple: raw mass, hard-dedup mass, "
    "soft-dedup mass per source. Plan: reuses the bounded star-edge + "
    "contraction cluster pipeline (nothing pair-sized), one window "
    "count on the high-cardinality cluster_rep key, one hash agg.",
)
def corpus_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _soft_dedup_frame(spark, sf_dir, family="md5")


@register(
    "corpus_soft_dedup_weights_fast",
    f"""
    WITH {shingle_sql_cte()},
    {minhash_banded_sql_cte(family="xxh")},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    percol AS (
      SELECT d.doc_id, d.source,
             coalesce(c.component, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), sized AS (
      SELECT doc_id, source, cluster_rep,
             count(*) OVER (PARTITION BY cluster_rep) AS csz
      FROM percol
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT cluster_rep)::BIGINT AS n_clusters,
           sum(1000000 // csz)::BIGINT AS effective_docs_ppm
    FROM sized GROUP BY source
    """,
    doc="Production-hash twin of corpus_soft_dedup_weights: identical "
    "per-source soft-dedup rollup (1/cluster_size weights in exact "
    "integer ppm) composed over the xxhash64 star-edge component table "
    "that dedup_minhash_clusters_fast materializes — the two fast twins "
    "SHARE the family-keyed _minhash_components memo, exactly like their "
    "md5 twins share the md5 one, so a production run pays signature "
    "generation once per corpus snapshot regardless of hash family.",
)
def corpus_soft_dedup_weights_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _soft_dedup_frame(spark, sf_dir, family="xxh")


# ---------------------------------------------------------------------------
# Round 9: incremental cluster-table maintenance (the near-dup analog of
# the frozen-codebook IVF-PQ append)
# ---------------------------------------------------------------------------

# Derived append batch for the registered incremental query: every 25th
# document (mod-class 23) appended TWICE — ids re-keyed past the corpus
# range, with a shared 3-token suffix — so the batch exercises BOTH
# incremental paths: the untouched leading shingles co-bucket with the
# source document (edges into EXISTING clusters via the frozen hub
# table), while the suffix shingles create batch-only buckets shared by
# the two copies (star edges among NEW docs).
_CLUSTER_APPEND_SHIFT = 10_000_000_000  # above any bench_scale replica id
_CLUSTER_APPEND_MOD, _CLUSTER_APPEND_RES = 25, 23
_CLUSTER_APPEND_SUFFIX = " zzappend zzmarker zztail"


def incremental_minhash_components(
    base_comp: DataFrame,
    hubs: DataFrame,
    batch_banded: DataFrame,
    batch_star: DataFrame,
) -> DataFrame:
    """Attach a batch of NEW documents to an existing MinHash cluster
    state WITHOUT recomputing base signatures or re-running components
    over the corpus — the O(batch) ingest tick of a 100 TB dedup
    pipeline (vs the O(corpus) full rebuild).

    Inputs: ``base_comp(node, component)`` (the persisted component
    table; singleton docs absent, as produced by ``connected_components``
    over star edges), ``hubs(band, bucket, hub)`` (each bucket's minimum
    BASE doc id — the frozen index state), ``batch_banded(doc, band,
    bucket)`` (the batch's band table; batch ids must be DISJOINT from
    base ids — no ordering between the two ranges is required, see the
    equivalence argument) and ``batch_star(d1, d2)`` (the star edges of
    the batch-only buckets: ``bucket_star(_batch_only_min(batch_banded,
    hubs))``, materialized or lazy as the caller's plan needs).

    Returns ``(node, component)`` covering every batch doc that gained
    an edge plus every base component whose label CHANGED (a batch doc
    transitively bridging two base clusters merges them — handled
    exactly, not deferred).

    EQUIVALENCE to the full rebuild, which the registered query's oracle
    replays end-to-end. Argue at the PARTITION level, not the edge
    level: (1) star edges per bucket connect exactly the bucket's
    members, so any banded+star CC equals the connected components of
    the bucket CO-OCCURRENCE graph — which bucket member plays star
    center is irrelevant to connectivity; (2) the union corpus's
    co-occurrence graph is (base co-occurrence) ∪ (batch doc — every
    member of each bucket it lands in), and the edges this function
    feeds the merge CC — frozen hub's rep for shared buckets, batch
    stars for batch-only buckets — connect precisely those member sets
    through nodes already connected in base; so the merged partition
    equals the rebuild partition; (3) labels are min member id on both
    paths: the merge CC minimizes over {base reps} ∪ {batch ids}, and
    each rep IS its base component's minimum, so min(reps, batch ids)
    = min(all member ids) for every merged component regardless of how
    base and batch id ranges interleave. The argument needs only id
    disjointness, not batch ids above every base id
    (tools/bench_scale.py's replicated corpora interleave the ranges).

    Scale shape: the shared-bucket join hits the hub table on its
    (band, bucket) key; the merge graph has ≤ batch × bands edges over
    rep/batch nodes, so the star-contraction CC here is BATCH-sized
    regardless of corpus size. The id disjointness is checked by
    ``minhash_cluster_state_append``; the routed ingest tick's cluster
    route relies on its batch guard instead.
    """
    shared = batch_banded.join(hubs, ["band", "bucket"])
    hub_rep = shared.join(
        base_comp.withColumnRenamed("node", "hub"), "hub", "left"
    ).select(
        F.coalesce("component", "hub").alias("d1"), F.col("doc").alias("d2")
    )
    # merge graph over {base reps} ∪ {batch docs} — batch-sized
    return connected_components(hub_rep.distinct().unionByName(batch_star))


def _cluster_append_batch(docs: DataFrame) -> DataFrame:
    """The registered append batch: two suffixed copies of every
    ``_CLUSTER_APPEND_MOD``-selected doc, ids shifted above the corpus."""
    one = docs.filter(
        F.pmod(F.col("doc_id"), F.lit(_CLUSTER_APPEND_MOD)) == _CLUSTER_APPEND_RES
    ).select("doc_id", F.concat(F.col("text"), F.lit(_CLUSTER_APPEND_SUFFIX)).alias("text"))
    return one.select(
        (F.col("doc_id") + F.lit(_CLUSTER_APPEND_SHIFT)).alias("doc_id"), "text"
    ).unionByName(
        one.select(
            (F.col("doc_id") + F.lit(2 * _CLUSTER_APPEND_SHIFT)).alias("doc_id"),
            "text",
        )
    )


@register(
    "dedup_minhash_clusters_append",
    f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_CLUSTER_APPEND_SHIFT}, text || '{_CLUSTER_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_CLUSTER_APPEND_MOD} = {_CLUSTER_APPEND_RES}
      UNION ALL
      SELECT doc_id + {2 * _CLUSTER_APPEND_SHIFT}, text || '{_CLUSTER_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_CLUSTER_APPEND_MOD} = {_CLUSTER_APPEND_RES}
    ),
    {shingle_sql_cte(table="alldocs")},
    {minhash_banded_sql_cte()},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    percol AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_rep
      FROM alldocs d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN doc_id = cluster_rep THEN 1 ELSE 0 END AS is_survivor,
           count(*) OVER (PARTITION BY cluster_rep)::BIGINT AS cluster_size,
           doc_id >= {_CLUSTER_APPEND_SHIFT} AS is_appended
    FROM percol
    """,
    doc="Incremental near-dup cluster-table maintenance — the dedup "
    "analog of ivfpq_append_search, closing the ingest story: new "
    "documents are banded against the FROZEN per-bucket hub table and "
    "the existing component table (the two linear-sized tables "
    "_minhash_cluster_state memoizes per corpus snapshot), gaining "
    "edges into existing clusters through bucket hubs plus star edges "
    "among themselves in batch-only buckets; the merge CC then runs "
    "over a BATCH-sized rep/batch graph — so a daily ingest tick costs "
    "O(batch), never an O(corpus) rebuild, and cross-base-cluster "
    "merges caused by bridging batch docs resolve exactly rather than "
    "deferring to the next rebuild. Because appended ids exceed every "
    "base id, bucket minima are unchanged and the incremental result "
    "PROVABLY equals the full rebuild over the union corpus — which is "
    "exactly what the oracle replays (full banded-minhash + star + "
    "recursive closure over documents UNION the derived batch), so the "
    "equivalence is value-checked cross-engine, not just argued. "
    "Output is the updated per-doc cluster table plus an is_appended "
    "audit column.",
)
def dedup_minhash_clusters_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    base_comp, hubs = _minhash_cluster_state(spark, sf_dir, family="md5")
    batch = _cluster_append_batch(docs)
    # labels come off the APPEND transition; cluster_size off
    # cluster_table_from_components' broadcast-size join
    comp_out, _hubs_out = minhash_cluster_state_append(
        base_comp, hubs, materialize(minhash_band_table(batch))
    )
    alld = docs.select("doc_id").unionByName(batch.select("doc_id"))
    return cluster_table_from_components(
        alld, materialize(comp_out), appended_from=_CLUSTER_APPEND_SHIFT
    )


# ---------------------------------------------------------------------------
# Round 10: cluster-table DELETION maintenance ("delete, don't rebuild" —
# the takedown/opt-out complement of dedup_minhash_clusters_append)
# ---------------------------------------------------------------------------

_CLUSTER_DELETE_MOD, _CLUSTER_DELETE_RES = 10, 3


@register(
    "dedup_minhash_clusters_delete",
    f"""
    WITH keep AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_CLUSTER_DELETE_MOD} <> {_CLUSTER_DELETE_RES}
    ),
    {shingle_sql_cte(table="keep")},
    {minhash_banded_sql_cte()},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    percol AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_rep
      FROM keep d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN doc_id = cluster_rep THEN 1 ELSE 0 END AS is_survivor,
           count(*) OVER (PARTITION BY cluster_rep)::BIGINT AS cluster_size
    FROM percol
    """,
    doc="Cluster-table DELETION maintenance — the takedown/opt-out "
    "complement of dedup_minhash_clusters_append, completing the "
    "maintain-don't-rebuild story (a delete can SPLIT a component or "
    "retire its min-id label, which the append-side merge-CC cannot "
    "express). Plan: (1) touched components = those containing a "
    "deleted doc (deleted singletons touch nothing); every OTHER doc "
    "keeps its frozen label untouched — no recompute, no shuffle of the "
    "unaffected corpus; (2) the touched components' REMAINING members "
    "are re-banded (signatures are deterministic per doc, so deriving "
    "the subset's band rows equals reading them back from a banded "
    "index clustered by component — the partition-pruned production "
    "read) and star-contraction CC reruns over that subset only. "
    "EQUIVALENCE to the full rebuild over documents-minus-batch, which "
    "the oracle replays end-to-end: co-bucketing docs are always in one "
    "base component (a shared bucket IS an edge), so buckets never span "
    "base components and deletion never creates new co-occurrence — the "
    "reduced corpus's co-bucket graph therefore decomposes per base "
    "component; untouched components keep an identical edge set (same "
    "partition, same min-id labels), and each touched component's "
    "remaining members see exactly their rebuild-time bucket partners. "
    "Cost is O(touched members x bands) — at 100 TB a takedown batch "
    "touches a handful of components, not the corpus.",
)
def dedup_minhash_clusters_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    base_comp, hubs = _minhash_cluster_state(spark, sf_dir, family="md5")
    is_del = (
        F.pmod(F.col("doc_id"), F.lit(_CLUSTER_DELETE_MOD)) == _CLUSTER_DELETE_RES
    )
    deleted = docs.filter(is_del).select("doc_id")
    # labels come off the DELETE transition (untouched base rows verbatim
    # + touched-survivor sub-CC); cluster_size off
    # cluster_table_from_components' broadcast-size join
    comp_out, _hubs_out = minhash_cluster_state_delete(base_comp, hubs, deleted, docs)
    survivors = docs.filter(~is_del).select("doc_id")
    return cluster_table_from_components(
        survivors, materialize(comp_out)
    )


# ---------------------------------------------------------------------------
# Round 11: state-update cores — the (components, hubs) -> (components,
# hubs) transition functions behind the streaming bridges and the mixed
# upsert tick. Factored here so batch ticks, foreachBatch bridges and
# the registered upsert query all run the SAME proven transitions.
# ---------------------------------------------------------------------------


def minhash_cluster_state_append(
    base_comp: DataFrame,
    hubs: DataFrame,
    batch_banded: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """APPEND transition: merge a batch band table into the frozen
    (components, hubs) state and return the updated state. Components:
    base labels remap through the merge-CC rep map, batch docs that
    gained an edge append (``incremental_minhash_components`` — the
    O(batch) merge with the full rebuild-equivalence argument). Hubs:
    batch-only buckets' minima extend the table; existing hubs stay
    frozen (an edge to a hub preserves connectivity regardless of later
    smaller ids). Invariant preserved for the DELETE transition below:
    every live doc appears in comp.node or hubs.hub.

    The disjointness precondition is enforced before any merge work:
    every base doc appears in the frozen state
    (non-singleton docs in ``base_comp.node``; singletons are alone in
    all their buckets so each is the min of its own — i.e. present in
    ``hubs.hub``), so a batch id colliding with EITHER column would alias
    two distinct documents into one node and silently corrupt the
    partition. The guard is one short-circuited semi-join per tick
    (``validation.require_disjoint_ids``).

    ``batch_banded`` must carry ``minhash_band_table``'s column types
    (``dedup.BAND_TABLE_SCHEMA``); a mistyped table raises
    ``SchemaValidationError`` naming the column, from driver-side
    metadata, before any merge job.

    The batch-only band rows with their bucket minimum are materialized
    once (batch-sized): they feed both the merge CC's batch star and the
    hub extension."""
    from redcap_omop_etl_spark.validation import expect_schema, require_disjoint_ids

    base_ids = base_comp.select(F.col("node").alias("__id")).unionByName(
        hubs.select(F.col("hub").alias("__id"))
    )
    require_disjoint_ids(base_ids, batch_banded.select("doc"), "minhash_cluster_state_append")
    expect_schema(batch_banded, BAND_TABLE_SCHEMA, strict=False)
    only_m = materialize(_batch_only_min(batch_banded, hubs))
    merged = incremental_minhash_components(base_comp, hubs, batch_banded, bucket_star(only_m))
    rep_map = merged.select(
        F.col("node").alias("__rep"), F.col("component").alias("__final")
    )
    base_upd = base_comp.join(
        rep_map, base_comp["component"] == rep_map["__rep"], "left"
    ).select("node", F.coalesce("__final", "component").alias("component"))
    new_nodes = merged.join(base_comp.select("node"), "node", "left_anti")
    comp_out = base_upd.unionByName(new_nodes.select("node", "component"))
    return comp_out, hubs.unionByName(bucket_hubs(only_m))


def minhash_cluster_state_delete(
    base_comp: DataFrame,
    hubs: DataFrame,
    deleted: DataFrame,
    corpus: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """DELETE transition: remove a takedown batch from the frozen
    (components, hubs) state and return the updated state — touched
    components only (``dedup_minhash_clusters_delete`` semantics: a
    shared bucket IS an edge, so buckets never span components and
    untouched components keep identical edge sets). Hub repair: touched
    components' buckets (and deleted singletons' solo buckets) are
    re-derived from the survivors' deterministic banding, so the hub
    table stays EXACTLY the per-bucket minima of the live corpus — the
    precondition the next append tick's equivalence proof reads off the
    state. ``corpus`` is the doc store takedown ids resolve against
    (only TOUCHED survivors' texts are read — partition-pruned at a
    component-clustered layout).

    One banding pass over the touched survivors feeds both the sub-CC
    and the hub repair (``_cluster_state_from_bands``: the signature fold
    is a pure projection no ReuseExchange could share between two
    consumers). Its materialized table is touched-members × bands sized,
    not corpus sized."""
    deln = deleted.select(F.col(deleted.columns[0]).alias("node")).distinct()
    touched = base_comp.join(deln, "node", "left_semi").select("component").distinct()
    members = base_comp.join(touched, "component", "left_semi")
    remaining = members.join(deln, "node", "left_anti")
    sub_docs = corpus.join(
        remaining.withColumnRenamed("node", "doc_id"), "doc_id", "left_semi"
    )
    sub_comp, new_hubs = _cluster_state_from_bands(minhash_band_table(sub_docs))
    comp_out = base_comp.join(members.select("node"), "node", "left_anti").unionByName(
        sub_comp
    )
    stale_hub_ids = members.select("node").unionByName(deln).distinct()
    hubs_keep = hubs.join(
        stale_hub_ids.withColumnRenamed("node", "hub"), "hub", "left_anti"
    )
    return comp_out, hubs_keep.unionByName(new_hubs)


@register(
    "dedup_minhash_clusters_upsert",
    f"""
    WITH keep AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_CLUSTER_DELETE_MOD} <> {_CLUSTER_DELETE_RES}
    ),
    alldocs AS (
      SELECT doc_id, text FROM keep
      UNION ALL
      SELECT doc_id + {_CLUSTER_APPEND_SHIFT}, text || '{_CLUSTER_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_CLUSTER_APPEND_MOD} = {_CLUSTER_APPEND_RES}
      UNION ALL
      SELECT doc_id + {2 * _CLUSTER_APPEND_SHIFT}, text || '{_CLUSTER_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_CLUSTER_APPEND_MOD} = {_CLUSTER_APPEND_RES}
    ),
    {shingle_sql_cte(table="alldocs")},
    {minhash_banded_sql_cte()},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    percol AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_rep
      FROM alldocs d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN doc_id = cluster_rep THEN 1 ELSE 0 END AS is_survivor,
           count(*) OVER (PARTITION BY cluster_rep)::BIGINT AS cluster_size,
           doc_id >= {_CLUSTER_APPEND_SHIFT} AS is_appended
    FROM percol
    """,
    doc="MIXED append+delete maintenance TRANSACTION — a real ingest "
    "day interleaves both directions, so the two single-direction "
    "transitions must COMPOSE over shared state: one tick applies the "
    "takedown batch (touched-components delete + hub repair) and then "
    "the ingest batch (merge-CC append) against the state the delete "
    "just produced. The composition argument rides the state "
    "invariants each transition maintains for the next: the delete "
    "leaves the hub table EXACTLY the per-bucket minima of the live "
    "corpus and comp.node UNION hubs.hub covering every live doc "
    "(what the append's equivalence proof and id guard read off the "
    "state); the append extends hubs to all new buckets. Hence "
    "delete-then-append == rebuild over (documents - del) UNION add — "
    "which is exactly what the oracle replays end-to-end (full "
    "banded-minhash + star + recursive closure). Multi-tick (>= 4 "
    "alternating direction) == rebuild is pinned in pytest on top. "
    "Cost: O(touched members + batch) per tick, never O(corpus).",
)
def dedup_minhash_clusters_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    base_comp, hubs = _minhash_cluster_state(spark, sf_dir, family="md5")
    deleted = docs.filter(
        F.pmod(F.col("doc_id"), F.lit(_CLUSTER_DELETE_MOD)) == _CLUSTER_DELETE_RES
    ).select("doc_id")
    comp1, hubs1 = minhash_cluster_state_delete(base_comp, hubs, deleted, docs)
    comp1, hubs1 = materialize(comp1), materialize(hubs1)
    batch = _cluster_append_batch(docs)
    # Materialize the batch band table: the append transition reads it
    # twice (shared-bucket join, batch-only anti-join) plus the id guard,
    # and the signature fold behind it is a pure projection no
    # ReuseExchange can share.
    comp2, _hubs2 = minhash_cluster_state_append(
        comp1, hubs1, materialize(minhash_band_table(batch))
    )
    survivors = docs.join(deleted, "doc_id", "left_anti").select("doc_id")
    alld = survivors.unionByName(batch.select("doc_id"))
    return cluster_table_from_components(
        alld, materialize(comp2), appended_from=_CLUSTER_APPEND_SHIFT
    )
