"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Net-new LLM-data-pipeline surface (BASELINE.json north star). Strategy
ladder, cheapest first — all pure DataFrame plans, no Python in the hot
path:

- **exact**: hash-groupBy on a normalized-content fingerprint. One shuffle
  on the md5 key; at 100 TB this is the map-side-combine friendly baseline.
- **n-gram Jaccard** (exact near-dup): shingle → explode → self-equi-join
  on shingle → per-pair intersection counts → Jaccard. Exact but the
  shingle join is quadratic in hot shingles; ``df_cap`` drops
  ubiquitous shingles from candidate generation (the standard
  "stop-shingle" cap) while Jaccard itself stays exact per candidate pair.
- **MinHash + LSH** (scale path): k hash functions over shingle hashes →
  signature → bands → bucket-join candidates → exact-Jaccard verify.
  Candidate generation is linear in documents × bands; the verify join
  touches only bucket collisions.
- **SimHash**: 60-bit signed-projection fingerprint from token hashes;
  near-dups = fingerprints within Hamming distance d, blocked by
  band-exactness (pigeonhole) to avoid the quadratic compare.

Hash discipline: both sketches run on ``portable_hash60`` — the first 60
bits of md5, identical in Spark (``conv(substring(md5(x),1,15),16,10)``)
and DuckDB (``('0x'||substring(md5(x),1,15))::BIGINT``) — so BOTH
probabilistic dedup queries are fully DuckDB-oracled end-to-end (bands,
buckets, verify). md5 costs more per shingle than xxhash64 but stays
JVM-side whole-stage-codegen; swapping ``portable_hash60`` for
``F.xxhash64`` is a one-line throughput upgrade when cross-engine
reproducibility isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from redcap_omop_etl_spark.operators.textstats import fingerprint_md5, normalized_text, ws_tokens
from redcap_omop_etl_spark.sources.readers import Catalog, fan_out
from redcap_omop_etl_spark.workload import register
from redcap_omop_etl_spark.caching import materialize, session_memo

# Mersenne-31 prime for the (a*h + b) mod p minhash family. 31-bit hash
# space keeps a*h < 2^62 — no signed-long overflow under ANSI arithmetic.
_MERSENNE_P = (1 << 31) - 1



def portable_hash60(col: Column) -> Column:
    """60-bit hash reproducible bit-for-bit in Spark and DuckDB.

    First 15 hex chars of md5 as a non-negative bigint (< 2^60). DuckDB
    equivalent: ``('0x' || substring(md5(x), 1, 15))::BIGINT``. This is
    what lets MinHash-LSH and SimHash be hash-checked against a DuckDB
    oracle end-to-end instead of rows-only.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text (array<string>).

    Built by zipping the token array with its own 1..n-1 shifted slices
    (n-1 single-pass ``zip_with``es) instead of a transform over indices
    doing n ``element_at`` probes per gram — same grams, ~6× faster at
    sf0.1 (HOF lambdas evaluate interpreted; pass count is the cost
    driver). ``zip_with`` pads the shorter side with null and
    ``concat_ws`` skips nulls, so the trailing n-1 incomplete grams are
    dropped by the final slice; docs shorter than n tokens keep their one
    partial gram (same contract as before).
    """
    toks = ws_tokens(text)
    sz = F.size(toks)
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(sz - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(F.slice(grams, 1, F.greatest(sz - (n - 1), F.lit(1))))


def shingle_sql_cte(
    key: str = "doc_id",
    gram: str = "s",
    materialized: bool = False,
    table: str = "documents",
) -> str:
    """DuckDB CTE fragment mirroring ``shingles()`` EXACTLY — the single
    source of truth for every shingle-set oracle (splice right after
    ``WITH``; emits ``__tok`` and ``__sh({key}, {gram})``).

    Uses ``concat_ws`` (which skips NULL args, like Spark's) instead of
    null-propagating ``||``, so a document shorter than 3 tokens keeps its
    one partial gram on BOTH engines instead of silently vanishing from
    the oracle side only — the latent cross-engine divergence previously
    copy-pasted into each oracle. ``range(1, greatest(len(w)-1, 2))``
    guarantees at least one gram per document, matching the Spark slice's
    ``greatest(sz-(n-1), 1)`` floor; verified cell-for-cell against
    ``shingles()`` on 1-token, 2-token and empty-text documents.
    """
    mat = " MATERIALIZED" if materialized else ""
    return (
        f"__tok AS (\n"
        f"      SELECT {key}, string_split_regex(lower(trim(text)), '\\s+') AS w FROM {table}\n"
        f"    ), __sh AS{mat} (\n"
        f"      SELECT DISTINCT {key}, concat_ws(' ', w[u.i], w[u.i+1], w[u.i+2]) AS {gram}\n"
        f"      FROM __tok, unnest(range(1, greatest(len(w) - 1, 2))) u(i)\n"
        f"    )"
    )


def components_sql_cte(edges: str = "edges") -> str:
    """DuckDB mirror of ``connected_components`` — symmetric closure →
    recursive reachability → min-reachable label. Splice after a CTE that
    emitted ``{edges}(d1, d2)``; emits ``sym``, ``reach``, ``comp(node,
    component)``. Single source of truth for every cluster oracle.
    (Lives here rather than in ``graph.py`` so the routed-ingest oracle
    below can splice it without a circular import; graph.py imports it
    back for its own cluster oracles.)"""
    return (
        f"sym AS (\n"
        f"      SELECT d1 AS a, d2 AS b FROM {edges}\n"
        f"      UNION\n"
        f"      SELECT d2 AS a, d1 AS b FROM {edges}\n"
        f"    ),\n"
        f"    reach AS (\n"
        f"      WITH RECURSIVE r(a, b) AS (\n"
        f"        SELECT a, b FROM sym\n"
        f"        UNION\n"
        f"        SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a\n"
        f"      )\n"
        f"      SELECT * FROM r\n"
        f"    ),\n"
        f"    comp AS (\n"
        f"      SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a\n"
        f"    )"
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-content hash: keep the min-id representative
    per group, count the copies. One shuffle on the fingerprint."""
    return (
        df.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    df_cap: int | None = None,
) -> DataFrame:
    """Doc-keyed distinct-shingle table ``(doc, t)``: the one shingle
    explode behind every set-overlap pair, containment and PPJoin path.
    ``df_cap`` drops shingles carried by more than ``df_cap`` docs."""
    # Shingling is interpreted HOF work — make sure it isn't serialized on
    # a too-narrow scan (no-op at scale).
    sh = fan_out(df).select(F.col(id_col).alias("doc"), F.explode(shingles(F.col(text_col), n)).alias("t"))
    if df_cap is not None:
        hot = sh.groupBy("t").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > df_cap).select("t")
        # hint("merge"): the hot set grows with corpus size on dup-dense
        # data (every shingle of a large dup cluster crosses df_cap), and
        # its static size estimate (filter over aggregate) stays tiny, so
        # an unhinted plan gambles a multi-GB driver collect — 256x
        # mutated stress killed exactly that broadcast. Sort-merge is
        # spill-safe at every scale; both sides already shuffle on t.
        sh = sh.join(hot.hint("merge"), "t", "left_anti")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold (exact near-dup).

    Plan: explode shingles, self-equi-join on the shingle (NOT a theta
    join), count shared shingles per pair, join per-doc set sizes back,
    filter on Jaccard. Shuffles: one on the shingle, one on the pair key,
    two tiny ones for sizes. ``df_cap`` caps shingle document frequency to
    keep the equi-join from going quadratic on boilerplate shingles at
    scale (trades recall only for pairs whose entire overlap is
    boilerplate).
    """
    return (
        _pair_intersections(_shingle_table(df, id_col, text_col, n, df_cap))
        .withColumn("jaccard", F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))
    )


def _pair_intersections(sh: DataFrame) -> DataFrame:
    """Shared candidate pipeline for every set-overlap metric over a
    ``(doc, t)`` token table: ``(d1, d2, i, sz1, sz2)`` — intersection
    count and both set sizes per unordered pair sharing a token.
    Jaccard, containment and the capped containment's clean tier are
    thin arithmetic wrappers over this one frame, so the join shape can
    never diverge between metrics.

    No IMR cache on the exploded shingle table (measured: 5.7s vs 6.7s
    min-of-3 in-process alternation on dedup_containment at sf0.1): its
    three consumers (size agg, both self-join sides) re-run the fused
    scan→shingle→explode chain, but the two t-sorted join sides are an
    identical subtree ReuseExchange computes once, and the columnar
    cache build of the corpus×shingles table cost more than every
    recompute combined. At 100 TB the exploded table is ~5-10x corpus
    bytes — recompute keeps memory flat."""
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    # every side here scales with the corpus (shingle stream, per-doc size
    # table) — pin spill-safe sort-merge instead of trusting misestimated
    # stats with a broadcast (the 256x-stress lesson)
    inter = (
        a.join(b.hint("merge"), (F.col("a.t") == F.col("b.t")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return inter.join(
        sizes.withColumnRenamed("doc", "d1").withColumnRenamed("sz", "sz1").hint("merge"), "d1"
    ).join(sizes.withColumnRenamed("doc", "d2").withColumnRenamed("sz", "sz2").hint("merge"), "d2")


def _pair_intersections_sql_cte(df_cap: int = 100) -> str:
    """DuckDB mirror of ``_pair_intersections`` (splice after the shingle
    CTE; emits ``sh``, ``sz``, ``inter``) — single source of truth for the
    Jaccard AND containment oracles."""
    return (
        f"hot AS (\n"
        f"      SELECT s FROM __sh GROUP BY s HAVING count(*) > {df_cap}\n"
        f"    ), sh AS (\n"
        f"      SELECT doc_id, s FROM __sh WHERE s NOT IN (SELECT s FROM hot)\n"
        f"    ), sz AS (\n"
        f"      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id\n"
        f"    ), inter AS (\n"
        f"      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i\n"
        f"      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id\n"
        f"      GROUP BY 1, 2\n"
        f"    )"
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All shingle-SET pairs with Jaccard ≥ threshold via PPJoin-style
    prefix filtering (Chaudhuri et al. SSJoin / Xiao et al. PPJoin).
    Uncapped: exact recall over the WHOLE corpus, with the dup-density
    boundary documented below; ``prefix_jaccard_pairs_capped`` is the
    scale-safe variant that bounds the worst case with an overflow
    side-channel.

    Order every document's distinct shingles by ascending global document
    frequency (rarest first, shingle string as tie-break). A pair with
    Jaccard ≥ t must share at least one shingle among each side's first
    ``p = |d| - ceil(t*|d|) + 1`` shingles in that canonical order — so
    candidate generation joins only on PREFIX shingles, which are by
    construction the rarest: bucket sizes shrink exactly where hot-shingle
    blocking explodes. Candidates then pass the PPJoin length filter AND
    positional filter (match positions bound the achievable overlap)
    before the exact verify. No recall loss (unlike ``df_cap``-ed
    ``ngram_jaccard_pairs``), exact verify on candidates only.

    Shuffles: shingle explode → df count (vocab-sized; no broadcast hint
    — AQE converts the rank join to a broadcast at runtime when the
    measured vocabulary size fits, and degrades to a shuffle join when
    Heaps' law loses to corpus size, instead of OOMing the driver on a
    hard-coded hint. An eager ``dfreq.count()`` gate was tried and
    reverted: it made PLAN CONSTRUCTION run a corpus job, which every
    plan-inspection tool and test paid), one window shuffle on doc,
    prefix-shingle equi-join, one candidate-bounded verify join.

    Verify-shape note (measured, sf0.1): a collect_list + array_intersect
    verify (one array row per doc instead of the exploded token join) was
    tried and reverted — 8.8s vs 4.0s — because shuffling ~15 KB shingle
    arrays per candidate side costs more than the skinny (doc, token)
    hash join it replaced. The positional filter above is what actually
    bounds verify cost (193k → 69k candidates at sf0.1, 2.8×).

    Dup-density boundary (measured, SCALE_r05 mutated-replica stress):
    on dup-DENSE corpora — near-dup families of ~m members — exact
    prefix filtering goes superlinear (98× time at 64× data), because a
    rare family-shared shingle lands in every member's rarest-first
    prefix and the family contributes ~m²/2 candidates while only O(m)
    are true positives; the positional filter can't prune an
    early-position match. This is PPJoin's known failure mode, not a
    plan bug. Use ``minhash_lsh_pairs`` (7.2× at the same 64×: distant
    family members stop colliding in any band) or df-capped
    ``ngram_jaccard_pairs`` (8.7×) when dup density is high; use this
    operator when exact recall over moderate dup density is required.
    """
    pairs, _ = _prefix_jaccard_pipeline(df, threshold, n, text_col, id_col, None)
    return pairs


def prefix_jaccard_pairs_capped(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """PPJoin with a per-prefix-shingle candidate cap — the scale-safe
    answer to the dup-density cliff measured in SCALE_r05 (98× time at
    64× data on dup-dense corpora).

    A prefix shingle shared by m documents contributes ~m²/2 candidate
    pairs; one pathological near-dup family can quadratically dominate a
    100 TB run. Here, any prefix shingle whose prefix-bucket size exceeds
    ``bucket_cap`` is declared HOT, and every document carrying a hot
    shingle in its prefix is routed whole to the ``overflow`` side-channel
    instead of candidate generation. Candidate buckets are then ≤
    ``bucket_cap`` by construction, so candidates are bounded by
    #prefix-shingles × cap²/2 — linear in corpus size for fixed cap.

    Recall contract (exact below the cap): for any pair of NON-overflow
    docs with Jaccard ≥ t, PPJoin guarantees a shared prefix shingle; if
    that shingle were hot, BOTH docs would be overflow — contradiction —
    so every qualifying clean pair survives. Every missed pair therefore
    has ≥1 endpoint in ``overflow``; callers route overflow docs through
    ``minhash_lsh_pairs`` (7.2× at 64× on the same stress), which is
    exactly the regime LSH is good at. Pinned by the recall-completeness
    test in tests/test_llm_ops.py: in-cap pairs + pairs-touching-overflow
    ≡ uncapped pairs.

    Returns ``(pairs, overflow)``: pairs = (d1, d2, jaccard) among clean
    docs; overflow = (doc) one row per routed document. Joins against
    ``hot``/``overflow`` carry no broadcast hint — AQE broadcasts them
    when small and degrades to shuffle joins on adversarial corpora where
    the overflow set itself is large.
    """
    pairs, overflow = _prefix_jaccard_pipeline(
        df, threshold, n, text_col, id_col, bucket_cap
    )
    return pairs, overflow


def _prefix_jaccard_pipeline(
    df: DataFrame,
    threshold: float,
    n: int,
    text_col: str,
    id_col: str,
    bucket_cap: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """Shared PPJoin pipeline: (pairs, overflow) — overflow is None when
    uncapped. Plan notes live on the two public wrappers."""
    # NO cache on the shingle table (re-measured): the table feeds four
    # differently-keyed exchanges (df count, ranked join, both verify
    # sides), so each consumer's map stage re-runs the fused
    # scan→shingle→explode chain — but that recompute is
    # whole-stage-codegen over a skinny projection and measured CHEAPER
    # (4.9s vs 8.1s full-query wall at sf0.1, min-of-3 idle) than
    # materializing the columnar IMR cache of the exploded table. At
    # 100 TB the cache is also the wrong shape: the exploded token table
    # is ~5-10x corpus bytes — recompute-per-consumer keeps memory flat
    # while identical exchanges still dedupe via ReuseExchange inside
    # the one executed plan.
    toks = _shingle_table(df, id_col, text_col, n)
    dfreq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("dfr"))
    prefix = _ppj_prefix(toks, dfreq, threshold)
    overflow = None
    if bucket_cap is not None:
        # cap the per-prefix-shingle candidate bucket: docs whose prefix
        # contains a HOT shingle (prefix bucket > cap) route whole to the
        # overflow channel; remaining buckets are <= cap, so candidates
        # are linear in corpus size. prefix feeds three consumers here
        # (bucket counts, overflow, the anti-join) — uncached like toks:
        # the ranked-join/window exchanges above are identical subtrees
        # across consumers, so ReuseExchange runs them once, and skipping
        # the IMR build measured faster (5.8s vs 11.5s min-of-5 on the
        # capped query).
        hot = (
            prefix.groupBy("t")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") > bucket_cap)
            .select("t")
        )
        overflow = prefix.join(hot.hint("merge"), "t", "left_semi").select("doc").distinct()
        # on dup-dense corpora MOST docs route to overflow — corpus-scaling
        prefix = prefix.join(overflow.hint("merge"), "doc", "left_anti")
    # length filter (canonical PPJoin companion to the prefix filter):
    # Jaccard >= t forces t*|a| <= |b| <= |a|/t, so size-mismatched
    # collisions die before the verify join. Result-preserving — the
    # oracle doesn't need to mirror it.
    matched = prefix.alias("a").join(
        prefix.alias("b").hint("merge"),
        (F.col("a.t") == F.col("b.t"))
        & (F.col("a.doc") < F.col("b.doc"))
        & (F.col("b.sz") >= F.col("a.sz") * F.lit(threshold))
        & (F.col("a.sz") >= F.col("b.sz") * F.lit(threshold)),
    )
    # positional filter (Xiao et al., PPJoin): a prefix match on token t at
    # canonical positions (rn_a, rn_b) bounds the whole-set overlap at
    # ub = 1 + min(|a| - rn_a, |b| - rn_b) (the matched token plus, at
    # best, everything after it on the tighter side). Jaccard >= t needs
    # overlap >= t/(1+t)·(|a|+|b|); a pair none of whose prefix matches
    # can reach that bound is pruned BEFORE the verify join — typically
    # 2-5× fewer candidates, zero recall loss (the bound is exact, and
    # max-ing ub over all matches keeps the weakest sufficient witness).
    # The pair-dedup groupBy replaces a `.distinct()` — same shuffle, the
    # bound rides along as an aggregate. The 1e-9 slack keeps a
    # double-rounded RHS from ever exceeding the exact rational bound
    # and wrongly pruning a boundary pair (ub is an exact integer).
    ub = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    cand = (
        matched.groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .agg(
            F.max(ub).alias("ub"),
            F.first(F.col("a.sz")).alias("sz1"),
            F.first(F.col("b.sz")).alias("sz2"),
        )
        .filter(
            F.col("ub")
            >= F.lit(threshold) / (1.0 + threshold) * (F.col("sz1") + F.col("sz2"))
            - F.lit(1e-9)
        )
        .select("d1", "d2", "sz1", "sz2")
    )
    return _ppj_verify(cand, toks, threshold), overflow


def _ppj_prefix(toks: DataFrame, dfreq: DataFrame, threshold: float) -> DataFrame:
    """PPJoin prefixes ``(doc, t, rn, sz)`` of a ``(doc, t)`` token
    table: each doc's first ``sz - ceil(sz·threshold) + 1`` tokens in
    ascending ``(dfr, t)`` order under the ``dfreq(t, dfr)`` table, with
    ``rn`` the token's position and ``sz`` the doc's full token count.
    A token missing from ``dfreq`` ranks at frequency 0 — the
    frozen-order extension the incremental ticks rely on; where
    ``dfreq`` is aggregated from ``toks`` itself every token matches."""
    from pyspark.sql.window import Window

    wdoc = Window.partitionBy("doc")
    # dfreq is vocab-sized (Heaps-sublinear but unbounded) and statically
    # underestimated — pinned sort-merge, never a driver-collected broadcast
    ranked = (
        toks.join(dfreq.hint("merge"), "t", "left")
        .withColumn("rn", F.row_number().over(wdoc.orderBy(F.coalesce("dfr", F.lit(0)), "t")))
        .withColumn("sz", F.count(F.lit(1)).over(wdoc))
    )
    return ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + 1
    ).select("doc", "t", "rn", "sz")


def _ppj_verify(cand: DataFrame, toks: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard verify of PPJoin candidates: ``(d1, d2, sz1, sz2)``
    rows plus a ``(doc, t)`` token table covering their docs →
    ``(d1, d2, jaccard)`` for ``jaccard >= threshold``. The candidate
    row carries both full shingle-set sizes (the prefix's ``sz``), so no
    size table is re-aggregated and joined back after the verify."""
    inter = (
        cand.join(toks.alias("x").hint("merge"), F.col("x.doc") == F.col("d1"))
        .join(toks.alias("y").hint("merge"), (F.col("y.doc") == F.col("d2")) & (F.col("y.t") == F.col("x.t")))
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("sz1").alias("sz1"),
            F.first("sz2").alias("sz2"),
        )
    )
    return (
        inter.withColumn("jaccard", F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))
    )


def _pair_and_overflow_rows(pairs: DataFrame, overflow: DataFrame) -> DataFrame:
    """``(kind, d1, d2, jaccard)`` of a capped PPJoin result: one 'pair'
    row per pair, then one 'overflow' row per routed doc with null pair
    fields."""
    return pairs.select(F.lit("pair").alias("kind"), "d1", "d2", "jaccard").unionByName(
        overflow.select(
            F.lit("overflow").alias("kind"),
            F.col("doc").alias("d1"),
            F.lit(None).cast("bigint").alias("d2"),
            F.lit(None).cast("double").alias("jaccard"),
        )
    )


def shingle_hashes(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
) -> DataFrame:
    """Per-document array of 31-bit shingle hashes (the minhash input).

    Computed once and intended to be persisted by callers: every
    downstream signature/verify expression refers to the stored array, so
    the tokenize→shingle→hash pipeline runs exactly once per document
    (Spark's projection collapse would otherwise re-inline it into each of
    the 64 signature expressions).

    ``family`` picks the per-shingle hash: ``"md5"`` (default) is
    ``portable_hash60`` — bit-for-bit reproducible in DuckDB, which is
    what keeps every MinHash oracle value-checked end-to-end; ``"xxh"``
    is Spark's codegen'd ``xxhash64`` (pmod-folded into the same 31-bit
    space) — the PRODUCTION hash family, 5-7× the md5 throughput on
    identical plans (the documented md5-tax class: DSIR / classifier /
    bootstrap / cluster signatures), value-oracled through the SQL XXH64
    kernel (``functions/xxh_sql.py``). Everything
    downstream of the 31-bit fold — the (a·h+b) mod p permutation
    family, banding, star edges, components — is byte-identical between
    families.
    """
    hashed = _shingle_hash_array(F.col(text_col), n, family)
    return fan_out(df).select(F.col(id_col).alias("doc"), hashed.alias("hashes"))


def _shingle_hash_array(text: Column, n: int, family: str = "md5") -> Column:
    """Distinct 31-bit hashes of ``text``'s word n-gram shingles (the
    per-row expression behind ``shingle_hashes``)."""
    sh = shingles(text, n)
    if family == "xxh":
        return F.array_distinct(
            F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)))
        )
    # portable_hash60 is non-negative (< 2^60), so plain % p is already
    # a pmod — and the reduction replays exactly in the DuckDB oracle.
    return F.array_distinct(F.transform(sh, lambda s: portable_hash60(s) % _MERSENNE_P))


def _minhash_sig(hashes: Column | str, num_hashes: int) -> Column:
    """Single-pass MinHash signature over an array of 31-bit shingle hashes
    (``hashes``: the array column's name, or an array expression).

    One fold over the shingle array updates all ``num_hashes`` running
    minima via ``zip_with``/``least`` — O(shingles) array traversals
    instead of the naive ``num_hashes`` separate ``transform``+``array_min``
    passes (HOF lambdas evaluate interpreted, so pass count is the cost
    driver; the fold measured ~5× faster at 64 hashes). The hash family
    (a_i·h + b_i) mod p derives deterministically from the index — no RNG,
    reproducible across runs and partitionings; all arithmetic stays below
    2^62 so ANSI mode never overflows.

    The initial minima and the fold step are SQL text that Spark parses
    once each, handed to ``aggregate`` as expressions: a handful of py4j
    round trips per signature, where building the same tree through
    ``pyspark.sql.functions`` cost one per node (~3.2k for 64 hashes).
    The step is a SQL lambda, so an array expression (``near_dup_signature``'s
    per-row shingle hashes) folds through the same text as a named column.
    """
    params = [(2 * i + 1, 104729 * (i + 1) % _MERSENNE_P) for i in range(num_hashes)]
    perms = ", ".join(f"(h * {a} + {b}) % {_MERSENNE_P}" for a, b in params)
    return F.call_function(
        "aggregate",
        F.col(hashes) if isinstance(hashes, str) else hashes,
        F.expr(f"array_repeat(CAST({_MERSENNE_P} AS BIGINT), {num_hashes})"),
        F.expr(f"(acc, h) -> zip_with(acc, array({perms}), (x, y) -> least(x, y))"),
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    (a_i * h + b_i) mod p over 31-bit shingle hashes. Zero shuffles.
    ``family`` picks the shingle hash (see ``shingle_hashes``)."""
    base = shingle_hashes(df, n, text_col, id_col, family=family)
    return base.select("doc", _minhash_sig("hashes", num_hashes).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Candidate pairs collide in ≥1 of ``bands`` bands (rows = k/bands);
    verification recomputes exact shingle Jaccard only for candidates, so
    precision is exact and recall is the LSH S-curve. This is the plan
    that survives 100 TB: candidates ∝ docs × bands, never docs².
    """
    # No persists here (round-12 reversal, measured 3.2s vs 3.7s
    # min-of-3 in-process alternation at sf0.1): the banding self-join's
    # two sides and the verify join's two sides are pairwise IDENTICAL
    # exchange subtrees, so ReuseExchange runs the 64-hash signature
    # fold once and the tokenize→shingle→hash chain once per distinct
    # key — the extra fused recomputes cost less than materializing the
    # per-doc hash-array MEMORY_AND_DISK rows (the widest in the repo).
    base = shingle_hashes(df, n, text_col, id_col)
    sigs = base.select("doc", _minhash_sig("hashes", num_hashes).alias("sig"))
    banded = minhash_band_rows(sigs, num_hashes, bands)
    # docs x bands rows on both sides — corpus-scaling; pinned sort-merge
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y").hint("merge"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("d1"), F.col("y.doc").alias("d2"))
        .distinct()
    )
    # Exact verify on candidate pairs only, over the persisted hash arrays
    # (Jaccard over 31-bit hashes ≡ shingle Jaccard modulo negligible
    # collision mass in a ~2^31 space).
    sh = base.select("doc", F.col("hashes").alias("sh"))
    # sh carries per-doc hash ARRAYS (the widest rows in the repo) and its
    # cached-plan size estimate is unreliable pre-materialization: at 256x
    # stress a statically-planned broadcast of it collected ~1 GB to the
    # driver. Pinned sort-merge — spill-safe, linear.
    verified = (
        cand.join(sh.withColumnRenamed("doc", "d1").withColumnRenamed("sh", "sh1").hint("merge"), "d1")
        .join(sh.withColumnRenamed("doc", "d2").withColumnRenamed("sh", "sh2").hint("merge"), "d2")
        .withColumn("i", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn("u", F.size("sh1") + F.size("sh2") - F.col("i"))
        .withColumn("jaccard", F.col("i") / F.col("u"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


def minhash_band_rows(sigs: DataFrame, num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """Band rows ``(doc, band, bucket)`` of a signature frame
    ``(doc, sig)``: one row per (doc, band), the bucket key being the
    band's raw signature slice joined with "_" (a short string, so the
    banding replays verbatim in the DuckDB oracle; a fixed-width rehash
    of it would be a shuffle-width optimization, not a semantic change).
    Zero shuffles: the ``inline`` is docs × bands. Emitted as one SQL
    expression (see ``_minhash_sig``: one parse instead of a py4j round
    trip per band-slice node)."""
    rows = num_hashes // bands
    structs = ", ".join(
        f"named_struct('band', {bi}, 'bucket', concat_ws('_', "
        + ", ".join(f"element_at(sig, {bi * rows + r + 1})" for r in range(rows))
        + "))"
        for bi in range(bands)
    )
    return sigs.select("doc", F.expr(f"inline(array({structs}))"))


def minhash_band_table(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
) -> DataFrame:
    """LSH band table ``(doc, band, bucket)`` — the shared prefix of
    pair-emitting LSH (``minhash_lsh_pairs``) and every cluster path
    (``minhash_star_edges`` and the cluster-state transitions). Same
    deterministic (a·h+b) mod p family and band rows as
    ``minhash_lsh_pairs`` (md5 family; the ``"xxh"`` family swaps only
    the per-shingle hash — see ``shingle_hashes``)."""
    sigs = minhash_signatures(df, num_hashes, n, text_col, id_col, family=family)
    return minhash_band_rows(sigs, num_hashes, bands)


# Column types of ``minhash_band_table`` over a bigint ``doc_id`` — what
# the cluster-state transitions join against their frozen hub table.
BAND_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("doc", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.StringType()),
    ]
)


def bucket_min(banded: DataFrame) -> DataFrame:
    """A band table with ``m`` = its (band, bucket)'s minimum doc
    attached: ONE keyed window exchange, the single input of both the
    star edges (``bucket_star``) and the hub table (``bucket_hubs``)."""
    from pyspark.sql.window import Window

    return banded.withColumn("m", F.min("doc").over(Window.partitionBy("band", "bucket")))


def bucket_star(with_min: DataFrame) -> DataFrame:
    """Star edges ``(d1, d2)`` of a ``bucket_min`` frame: every bucket
    member links to the bucket's minimum doc. The star's connected
    components equal the bucket co-occurrence graph's (any two members
    of one bucket are linked through its minimum)."""
    return (
        with_min.filter(F.col("doc") != F.col("m"))
        .select(F.col("m").alias("d1"), F.col("doc").alias("d2"))
        .distinct()
    )


def bucket_hubs(with_min: DataFrame) -> DataFrame:
    """Hub table ``(band, bucket, hub)`` of a ``bucket_min`` frame: the
    rows where doc == min, exactly one per bucket (band rows are unique
    per (doc, band))."""
    return with_min.filter(F.col("doc") == F.col("m")).select(
        "band", "bucket", F.col("doc").alias("hub")
    )


def minhash_star_edges(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
) -> DataFrame:
    """Bucket-co-membership STAR edges ``(d1, d2)`` — the linear-output
    near-dup representation a 100 TB dedup run actually materializes.

    ``minhash_lsh_pairs`` emits every colliding pair: a duplicate family
    of m members costs ~m²/2 output rows, which made pair volume (not the
    plan) the 256× bottleneck (SCALE_r07: 111×). For CLUSTERING, the full
    per-bucket clique is redundant — connecting every bucket member to
    the bucket's MIN doc yields a star whose connected components are
    IDENTICAL to the clique graph's (any two members of one bucket are
    linked through its hub), with edges ≤ docs × bands instead of
    quadratic per family. No verify step: cluster membership is
    transitive bucket co-occurrence (the RefinedWeb/SlimPajama-style
    production trade — LSH false-positive mass is governed by the band
    S-curve, 16 bands × 4 rows ⇒ P(collide) = 1-(1-j⁴)¹⁶, and a verify
    that REJECTED a hub edge could disconnect true members anyway).
    One window shuffle on the high-cardinality (band, bucket) key + one
    distinct; both linear in docs × bands. ``family`` picks the shingle
    hash (``"md5"`` oracle-portable / ``"xxh"`` production throughput;
    see ``shingle_hashes``) — the star construction is identical."""
    banded = minhash_band_table(df, num_hashes, bands, n, text_col, id_col, family=family)
    return bucket_star(bucket_min(banded))


def near_dup_signature(
    text: Column, num_hashes: int = 64, n: int = 3
) -> Column:
    """Full MinHash signature as one deterministic string — the
    near-exact-duplicate KEY (two docs share it iff every one of the
    ``num_hashes`` permutation minima agrees, i.e. their shingle sets are
    near-identical). Stateless per row (zero shuffle), so it works as a
    streaming dedup key; DuckDB replays it as
    ``string_agg(sig::VARCHAR, '_' ORDER BY i)`` over the shared banded-
    minhash fragment's ``sigs`` CTE."""
    hashed = _shingle_hash_array(text, n)
    return F.concat_ws(
        "_",
        F.transform(_minhash_sig(hashed, num_hashes), lambda x: x.cast("string")),
    )


def minhash_banded_sql_cte(
    num_hashes: int = 64,
    bands: int = 16,
    gram: str = "s",
    doc_filter: str = "",
    family: str = "md5",
) -> str:
    """DuckDB mirror of ``minhash_band_table`` — splice after a shingle
    CTE that emitted ``__sh(doc_id, {gram})``; emits ``hs``, ``params``,
    ``sigs``, ``banded``. ``doc_filter`` restricts which documents get
    signatures (e.g. the capped-composition overflow channel). Single
    source of truth for every LSH-banded oracle.

    ``family`` mirrors ``shingle_hashes``: ``"md5"`` replays
    ``portable_hash60 % p``; ``"xxh"`` replays Spark's ``xxhash64``
    through the SQL XXH64 kernel (``functions/xxh_sql.py``) — each
    DISTINCT shingle string is hashed once and joined back to the
    (doc, shingle) stream, since the kernel is ~100x costlier per call
    than native md5."""
    rows = num_hashes // bands
    if family == "xxh":
        from redcap_omop_etl_spark.functions.xxh_sql import xxh64_pmod, xxh64_sql_cte

        hs = (
            f"__xd AS (\n"
            f"      SELECT DISTINCT {gram} AS s FROM __sh {doc_filter}\n"
            f"    ), {xxh64_sql_cte('__xd', col='s')},\n"
            f"    hs AS (\n"
            f"      SELECT DISTINCT __sh.doc_id AS doc,\n"
            f"             {xxh64_pmod(2147483647)} AS h\n"
            f"      FROM __sh JOIN __xxh ON __sh.{gram} = __xxh.__xs {('AND ' + doc_filter.removeprefix('WHERE ')) if doc_filter else ''}\n"
            f"    )"
        )
    else:
        hs = (
            f"hs AS (\n"
            f"      SELECT DISTINCT doc_id AS doc,\n"
            f"             ('0x' || substring(md5({gram}), 1, 15))::BIGINT % 2147483647 AS h\n"
            f"      FROM __sh {doc_filter}\n"
            f"    )"
        )
    return (
        f"{hs}, params AS (\n"
        f"      SELECT r.i, 2 * r.i + 1 AS a, (104729 * (r.i + 1)) % 2147483647 AS b\n"
        f"      FROM unnest(range({num_hashes})) r(i)\n"
        f"    ), sigs AS (\n"
        f"      SELECT doc, i, min((h * a + b) % 2147483647) AS sig\n"
        f"      FROM hs CROSS JOIN params GROUP BY doc, i\n"
        f"    ), banded AS (\n"
        f"      SELECT doc, i // {rows} AS band,\n"
        f"             string_agg(sig::VARCHAR, '_' ORDER BY i) AS bucket\n"
        f"      FROM sigs GROUP BY doc, i // {rows}\n"
        f"    )"
    )


def minhash_star_sql_cte() -> str:
    """DuckDB mirror of ``minhash_star_edges``' star construction —
    splice after ``minhash_banded_sql_cte``; emits ``mins`` and
    ``star(d1, d2)``."""
    return (
        "mins AS (\n"
        "      SELECT band, bucket, min(doc) AS m FROM banded GROUP BY 1, 2\n"
        "    ), star AS (\n"
        "      SELECT DISTINCT mins.m AS d1, banded.doc AS d2\n"
        "      FROM banded JOIN mins USING (band, bucket)\n"
        "      WHERE banded.doc <> mins.m\n"
        "    )"
    )


_SIMHASH_BITS = 60


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc, fp): 60-bit SimHash per document — per-bit signed votes from
    ``portable_hash60`` token hashes, sign → bit; md5-derived, so it
    replays bit-for-bit in the DuckDB oracle.

    Shape: explode tokens → ONE hash per row → groupBy(doc) with 60
    codegen'd conditional sums (map-side combinable: the shuffle carries
    one 60-long partial per doc per mapper, not tokens). This beats the
    per-row higher-order-function fold ~4× at sf0.1: HOF lambdas evaluate
    interpreted per element, while the 60 ``sum(CASE…)`` aggregates stay
    inside whole-stage codegen. (60 bits, not 64: the portable hash is 15
    hex chars so the top nibble stays clear of the sign bit.)
    """
    tok = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode(ws_tokens(normalized_text(F.col(text_col)))).alias("t"),
    )
    hashed = tok.select("doc", portable_hash60(F.col("t")).alias("h"))
    votes = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1).otherwise(-1)).alias(f"v{b}")
        for b in range(_SIMHASH_BITS)
    ]
    per_doc = hashed.groupBy("doc").agg(*votes)
    fp = None
    for b in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return per_doc.select("doc", fp.alias("fp"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 60-bit fingerprint into
    ``max_hamming + 1`` segments; d differing bits can spoil at most d of
    the d+1 segments (bits past ``nseg * seg_bits`` only make a segment
    agree more often), so any pair within distance d agrees on ≥1 segment
    and candidates are an equi-join on (segment_idx, segment value) —
    never a full cross-product. Distance is verified exactly via popcount
    on the XOR.
    """
    nseg = max_hamming + 1
    seg_bits = _SIMHASH_BITS // nseg
    # Pin the fingerprint table: the segment self-join references it on
    # both sides and the doc-keyed agg exchange is NOT reused across alias
    # branches, so without this the tokenize→hash→60-sum pipeline runs
    # twice. One long per document — negligible storage at any scale.
    fp = materialize(simhash_fingerprints(df, text_col, id_col), "lazy")
    segs = fp.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg"),
                        F.shiftrightunsigned("fp", i * seg_bits).bitwiseAND(F.lit((1 << seg_bits) - 1).cast("long")).alias("val"),
                    )
                    for i in range(nseg)
                ]
            )
        ).alias("s"),
    ).select("doc", "fp", "s.seg", "s.val")
    cand = (
        segs.alias("x")
        .join(
            segs.alias("y").hint("merge"),
            (F.col("x.seg") == F.col("y.seg")) & (F.col("x.val") == F.col("y.val")) & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("d1"), F.col("y.doc").alias("d2"), F.col("x.fp").alias("fp1"), F.col("y.fp").alias("fp2"))
    )
    # popcount BEFORE the dedup shuffle: the xor+bit_count verify is a few
    # codegen'd instructions per candidate, so filtering first means the
    # distinct only shuffles surviving near-pairs (a pair within distance d
    # can collide in up to d+1 segments — duplicates are re-verified
    # cheaply rather than deduplicated expensively).
    return (
        cand.withColumn("hamming", F.bit_count(F.col("fp1").bitwiseXOR(F.col("fp2"))).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
        .distinct()
    )


# --------------------------------------------------------------------------
# Registered workload queries
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup: hash-groupBy on normalized-content fingerprint.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(Catalog(spark, sf_dir)["documents"])


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {shingle_sql_cte()}, {_pair_intersections_sql_cte()}
    SELECT d1, d2, round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
    FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
    WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.6
    """,
    doc="Exact n-gram-Jaccard near-dup pairs (threshold 0.6, 3-gram "
    "shingles). The stop-shingle guard is ON (df_cap=100): shingles in "
    ">100 documents are dropped from candidate generation on BOTH engines, "
    "so the shingle equi-join stays linear in document frequency instead "
    "of quadratic on boilerplate shingles — the form that survives 100 TB. "
    "The uncapped variant is cross-checked by pytest at small SF.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(Catalog(spark, sf_dir)["documents"], threshold=0.6, n=3, df_cap=100)


@register(
    "dedup_prefix_jaccard",
    f"""
    WITH {shingle_sql_cte(gram="t", materialized=True)}, toks AS MATERIALIZED (
      SELECT doc_id AS doc, t FROM __sh
    ), dfreq AS MATERIALIZED (
      SELECT t, count(*) AS dfr FROM toks GROUP BY t
    ), ranked AS MATERIALIZED (
      SELECT doc, toks.t,
             row_number() OVER (PARTITION BY doc ORDER BY dfr, toks.t) AS rn,
             count(*) OVER (PARTITION BY doc) AS sz
      FROM toks JOIN dfreq ON toks.t = dfreq.t
    ), prefix AS MATERIALIZED (
      SELECT doc, t FROM ranked WHERE rn <= sz - ceil(sz * 0.6) + 1
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM prefix a JOIN prefix b ON a.t = b.t AND a.doc < b.doc
    ), inter AS (
      SELECT d1, d2, count(*) AS i
      FROM cand JOIN toks x ON x.doc = d1 JOIN toks y ON y.doc = d2 AND y.t = x.t
      GROUP BY 1, 2
    ), sz AS (
      SELECT doc, count(*) AS sz FROM toks GROUP BY doc
    )
    SELECT d1, d2, round(i * 1.0 / (a.sz + b.sz - i), 6) AS jaccard
    FROM inter JOIN sz a ON d1 = a.doc JOIN sz b ON d2 = b.doc
    WHERE i * 1.0 / (a.sz + b.sz - i) >= 0.6
    """,
    doc="3-gram-shingle similarity self-join (Jaccard >= 0.6, same "
    "semantics as dedup_ngram_jaccard) via PPJoin-style prefix "
    "filtering: documents join only on their |d|-ceil(t|d|)+1 RAREST "
    "shingles (global df ascending), which provably covers every "
    "qualifying pair — EXACT recall, unlike the df_cap=100 stop-shingle "
    "variant which trades away pairs whose overlap is boilerplate — "
    "while candidate buckets shrink exactly where hot-shingle blocking "
    "explodes. Exact Jaccard verify on candidates only.",
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_jaccard_pairs(Catalog(spark, sf_dir)["documents"], threshold=0.6, n=3)


# Cap used by the REGISTERED capped query: deliberately tiny so the driver's
# sf0.01 corpus (max prefix bucket = 3) actually exercises BOTH channels —
# hot-shingle detection, overflow routing, and exact pairs among clean docs
# all get cross-engine-hashed. Production callers use the signature default
# (bucket_cap=64); the recall-completeness property is pinned at realistic
# caps by tests/test_llm_ops.py on a dup-dense synthetic corpus.
_PPJOIN_GATE_CAP = 2


def ppjoin_capped_sql_cte(threshold: float = 0.6, cap: int = _PPJOIN_GATE_CAP) -> str:
    """DuckDB mirror of ``prefix_jaccard_pairs_capped`` — splice after a
    shingle CTE that emitted ``__sh(doc_id, t)``; emits ``toks``,
    ``dfreq``, ``ranked``, ``prefix``, ``hot``, ``overflow`` (the routed
    docs), and ``cpairs(d1, d2, jaccard)`` (exact pairs among clean
    docs). Single source of truth for the capped-PPJoin oracle AND the
    round-8 capped cluster compositions built on it."""
    return (
        f"toks AS MATERIALIZED (\n"
        f"      SELECT doc_id AS doc, t FROM __sh\n"
        f"    ), dfreq AS MATERIALIZED (\n"
        f"      SELECT t, count(*) AS dfr FROM toks GROUP BY t\n"
        f"    ), ranked AS MATERIALIZED (\n"
        f"      SELECT doc, toks.t,\n"
        f"             row_number() OVER (PARTITION BY doc ORDER BY dfr, toks.t) AS rn,\n"
        f"             count(*) OVER (PARTITION BY doc) AS sz\n"
        f"      FROM toks JOIN dfreq ON toks.t = dfreq.t\n"
        f"    ), prefix AS MATERIALIZED (\n"
        f"      SELECT doc, t FROM ranked WHERE rn <= sz - ceil(sz * {threshold}) + 1\n"
        f"    ), hot AS MATERIALIZED (\n"
        f"      SELECT t FROM prefix GROUP BY t HAVING count(*) > {cap}\n"
        f"    ), overflow AS MATERIALIZED (\n"
        f"      SELECT DISTINCT doc FROM prefix WHERE t IN (SELECT t FROM hot)\n"
        f"    ), cprefix AS MATERIALIZED (\n"
        f"      SELECT doc, t FROM prefix WHERE doc NOT IN (SELECT doc FROM overflow)\n"
        f"    ), cand AS MATERIALIZED (\n"
        f"      SELECT DISTINCT a.doc AS d1, b.doc AS d2\n"
        f"      FROM cprefix a JOIN cprefix b ON a.t = b.t AND a.doc < b.doc\n"
        f"    ), inter AS (\n"
        f"      SELECT d1, d2, count(*) AS i\n"
        f"      FROM cand JOIN toks x ON x.doc = d1 JOIN toks y ON y.doc = d2 AND y.t = x.t\n"
        f"      GROUP BY 1, 2\n"
        f"    ), szt AS (\n"
        f"      SELECT doc, count(*) AS sz FROM toks GROUP BY doc\n"
        f"    ), cpairs AS (\n"
        f"      SELECT d1, d2, round(i * 1.0 / (a.sz + b.sz - i), 6) AS jaccard\n"
        f"      FROM inter JOIN szt a ON d1 = a.doc JOIN szt b ON d2 = b.doc\n"
        f"      WHERE i * 1.0 / (a.sz + b.sz - i) >= {threshold}\n"
        f"    )"
    )


@register(
    "dedup_prefix_jaccard_capped",
    f"""
    WITH {shingle_sql_cte(gram="t", materialized=True)}, {ppjoin_capped_sql_cte()}
    SELECT 'pair' AS kind, d1, d2, jaccard FROM cpairs
    UNION ALL
    SELECT 'overflow' AS kind, doc AS d1, NULL::BIGINT AS d2,
           NULL::DOUBLE AS jaccard
    FROM overflow
    """,
    doc="Scale-capped PPJoin (the SCALE_r05 dup-density-cliff fix): prefix "
    f"shingles whose candidate bucket exceeds the cap ({_PPJOIN_GATE_CAP} "
    "here so the sf0.01 gate data exercises the channel; 64 is the "
    "production default) mark their documents as 'overflow' rows — the "
    "caller routes those through MinHash-LSH — while pairs among the "
    "remaining docs keep PPJoin's EXACT recall (a qualifying clean pair "
    "must share a prefix shingle, and a hot shared shingle would have "
    "routed both docs). Candidate buckets are ≤ cap by construction, so "
    "candidate count is linear in corpus size — one pathological near-dup "
    "family can no longer go quadratic on a 100 TB run.",
)
def dedup_prefix_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    return _pair_and_overflow_rows(
        *prefix_jaccard_pairs_capped(docs, threshold=0.6, n=3, bucket_cap=_PPJOIN_GATE_CAP)
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {shingle_sql_cte()}, {minhash_banded_sql_cte()}, cand AS (
      SELECT DISTINCT x.doc AS d1, y.doc AS d2
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc < y.doc
    ), sz AS (
      SELECT doc, count(*) AS sz FROM hs GROUP BY doc
    ), inter AS (
      SELECT c.d1, c.d2, count(*) AS i
      FROM cand c
      JOIN hs a ON a.doc = c.d1
      JOIN hs b ON b.doc = c.d2 AND a.h = b.h
      GROUP BY 1, 2
    )
    SELECT d1, d2, round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
    FROM inter JOIN sz x ON d1 = x.doc JOIN sz y ON d2 = y.doc
    WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.6
    """,
    doc="MinHash-LSH near-dup (scale path): banding candidates + exact "
    "verify, fully DuckDB-oracled — 64 (a·h+b) mod p permutations over "
    "portable md5-derived 31-bit shingle hashes, 16 bands × 4 rows, "
    "bucket self-join, exact-Jaccard verify on candidates only.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(Catalog(spark, sf_dir)["documents"], threshold=0.6)


@register(
    "dedup_simhash",
    """
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ), th AS (
      SELECT doc, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM toks
    ), votes AS (
      SELECT doc, r.b, sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN unnest(range(60)) r(b)
      GROUP BY doc, r.b
    ), fp AS (
      SELECT doc, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS fp
      FROM votes GROUP BY doc
    ), segs AS (
      SELECT doc, fp, r.seg, (fp >> (r.seg * 15)) & 32767 AS val
      FROM fp CROSS JOIN unnest(range(4)) r(seg)
    ), cand AS (
      SELECT DISTINCT x.doc AS d1, y.doc AS d2, x.fp AS fp1, y.fp AS fp2
      FROM segs x JOIN segs y
        ON x.seg = y.seg AND x.val = y.val AND x.doc < y.doc
    )
    SELECT d1, d2, bit_count(xor(fp1, fp2))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(fp1, fp2)) <= 3
    """,
    doc="SimHash near-dup with pigeonhole blocking (Hamming ≤ 3), fully "
    "DuckDB-oracled: 60-bit signed-vote fingerprint over portable "
    "md5-derived token hashes, 4 × 15-bit segment blocking, exact "
    "popcount verify.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_pairs(Catalog(spark, sf_dir)["documents"], max_hamming=3)


@register(
    "fuzzy_blocked_levenshtein",
    """
    SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON a.p_size = b.p_size
     AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    doc="Fuzzy matching via blocked edit distance: candidate pairs come "
    "from an equi-join on a composite blocking key (p_size, first name "
    "token) — never a cross product — and only candidates pay the O(m·n) "
    "levenshtein. p_size alone has ~50 values, so blocks grow "
    "quadratically with data; the name-prefix factor multiplies block "
    "cardinality so per-block size stays bounded at 100×. Edit distance "
    "≤3 can only delete a leading token if it is ≤3 chars — recall loss "
    "is bounded and pinned by pytest against the p_size-only baseline.",
)
def fuzzy_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Catalog(spark, sf_dir)["part"].select(
        "p_partkey", "p_name", "p_size", F.substring_index("p_name", " ", 1).alias("p_tok0")
    )
    a = p.alias("a")
    b = p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_tok0") == F.col("b.p_tok0"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    return (
        pairs.select(
            F.col("a.p_partkey").alias("k1"),
            F.col("b.p_partkey").alias("k2"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
        )
        .filter(F.col("dist") <= 3)
    )


@register(
    "dedup_incremental",
    """
    WITH batch AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE source IN ('src16', 'src17', 'src18', 'src19')
    ), hist AS (
      SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE source NOT IN ('src16', 'src17', 'src18', 'src19')
    ), keyed AS (
      SELECT b.doc_id, b.fp,
             min(b.doc_id) OVER (PARTITION BY b.fp) AS first_id,
             h.fp IS NOT NULL AS in_hist
      FROM batch b LEFT JOIN hist h ON b.fp = h.fp
    )
    SELECT doc_id, fp,
           CASE WHEN in_hist THEN 'dup_of_history'
                WHEN doc_id <> first_id THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM keyed
    """,
    doc="Incremental dedup — the daily-update production shape: a new "
    "batch (sources src16-19) checked against the historical fingerprint "
    "index (every other source) AND against itself. Verdict per batch "
    "document: dup_of_history (fingerprint already indexed; history wins "
    "over intra-batch rank), dup_in_batch (a lower-id batch doc owns the "
    "fingerprint), or new. Plan: historical index is distinct fingerprints "
    "only (the thing you'd persist between runs, bucketed by fp so the "
    "daily anti-join is shuffle-free); one left join + one fp-partitioned "
    "window, both on the same key so the exchange is shared.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    batch_sources = ["src16", "src17", "src18", "src19"]
    d = Catalog(spark, sf_dir)["documents"]
    fp = fingerprint_md5(F.col("text")).alias("fp")
    batch = d.filter(F.col("source").isin(batch_sources)).select("doc_id", fp)
    hist = d.filter(~F.col("source").isin(batch_sources)).select(fp).distinct()
    keyed = (
        batch.join(hist.withColumn("in_hist", F.lit(True)), "fp", "left")
        .withColumn("first_id", F.min("doc_id").over(Window.partitionBy("fp")))
    )
    return keyed.select(
        "doc_id",
        "fp",
        F.when(F.col("in_hist"), "dup_of_history")
        .when(F.col("doc_id") != F.col("first_id"), "dup_in_batch")
        .otherwise("new")
        .alias("status"),
    )


@register(
    "corpus_cross_contamination",
    f"""
    WITH {shingle_sql_cte(key="source", materialized=True)}, sh AS MATERIALIZED (
      SELECT source, s FROM __sh
    ), tot AS MATERIALIZED (
      SELECT source, count(*) AS n_sh FROM sh GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           count(*)::BIGINT AS shared_shingles,
           ta.n_sh::BIGINT AS n_a,
           cast(floor(count(*) * 1000000.0 / ta.n_sh + 0.5) AS bigint)
             AS containment_ppm_a
    FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    GROUP BY a.source, b.source, ta.n_sh
    """,
    doc="Cross-source contamination matrix: for every source pair, how "
    "many distinct 3-gram shingles they share and what fraction of the "
    "first source's shingle set that covers — the dataset-provenance "
    "audit run before mixing corpora (complement of "
    "decontaminate_overlap, which is doc-level vs one benchmark). The "
    "shingle table is deduplicated to (source, shingle) FIRST, so the "
    "self-join buckets are bounded by the SOURCE count (~20), never "
    "the document count; per-source totals are a dim-sized broadcast.",
)
def corpus_cross_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    # uncached (round-12, measured 1.8s vs 3.2s min-of-3 in-process
    # alternation at sf0.1): the three consumers (per-source totals,
    # both pair-join sides) re-run the fused tokenize→shingle→distinct
    # chain, but the pair join's two sides are an identical subtree
    # ReuseExchange computes once — cheaper than the IMR build of the
    # corpus-sized deduped shingle table
    sh = (
        fan_out(d)
        .select("source", F.explode(shingles(F.col("text"), 3)).alias("s"))
        .distinct()
    )
    tot = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    return shared.join(
        F.broadcast(tot.select(F.col("source").alias("src_a"), F.col("n_sh").alias("n_a"))),
        "src_a",
    ).select(
        "src_a",
        "src_b",
        "shared_shingles",
        "n_a",
        F.floor(F.col("shared_shingles") * 1000000.0 / F.col("n_a") + F.lit(0.5))
        .cast("bigint")
        .alias("containment_ppm_a"),
    )


def containment_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A|.

    Jaccard misses subset relationships: a tweet quoted inside an article
    has tiny Jaccard but containment ≈ 1. Same candidate plan as
    ``ngram_jaccard_pairs`` (one shingle equi-join, ``df_cap`` hot-shingle
    guard); both directed containments come from the ONE intersection
    count, so asymmetry costs nothing extra. Emitted per unordered pair
    with both directions; integer count / integer size divisions are
    bit-exact cross-engine.

    Dup-density boundary (measured, SCALE_r06 mutated-replica stress,
    registered configuration df_cap=100): 16.1× time at 64× data — the
    steepest slope of the "safe" near-dup family (MinHash 4.8×, SimHash
    ~6×). Mechanism: a near-dup family of m ≤ df_cap members still
    contributes ~m²/2 candidate pairs from every family-shared shingle
    below the cap (PPJoin's cliff mechanism, bounded here because the
    cap kills blocking above df_cap docs). The dial is ``df_cap``:
    lowering it bounds candidates harder, trading recall only for pairs
    whose entire overlap is cap-hot boilerplate — the standard
    stop-shingle deal. For dup-dense corpora where exact containment
    recall matters, use ``containment_pairs_capped``: the in-repo port
    of ``prefix_jaccard_pairs_capped``'s route-to-MinHash overflow
    pattern.
    """
    c12 = F.col("i") / F.col("sz1")
    c21 = F.col("i") / F.col("sz2")
    return (
        _pair_intersections(_shingle_table(df, id_col, text_col, n, df_cap))
        .filter(F.greatest(c12, c21) >= threshold)
        .select(
            "d1",
            "d2",
            F.round(c12, 6).alias("cont_1in2"),
            F.round(c21, 6).alias("cont_2in1"),
        )
    )


def containment_pairs_capped(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int = 100,
    bucket_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Containment with a hot-shingle candidate cap + overflow channel —
    the ``prefix_jaccard_pairs_capped`` pattern ported to the asymmetric
    metric (containment was the steepest remaining safe-family slope at
    16.1× time on 64× dup-dense data, SCALE_r06, because a near-dup
    family of m ≤ df_cap members still contributes ~m²/2 candidates from
    every family-shared shingle).

    Three shingle tiers by global document frequency ``dfr``:

    - ``dfr > df_cap``: boilerplate — EXCLUDED from the metric itself,
      exactly as in uncapped ``containment_pairs(df_cap=...)`` (dropping
      them changes what "containment" measures; that trade is this
      operator family's existing, documented semantics).
    - ``bucket_cap < dfr ≤ df_cap``: WARM — in-metric but
      candidate-explosive. Every document carrying a warm shingle routes
      whole to the ``overflow`` side-channel (callers re-run those docs
      through ``minhash_lsh_pairs``, the bounded-slope operator).
    - ``dfr ≤ bucket_cap``: cool — candidate generation proceeds.

    Recall contract (exact below the cap, mirroring the PPJoin cap): for
    any clean-doc pair with capped-metric containment ≥ t, every shared
    in-metric shingle is carried by both docs and neither doc holds a
    warm shingle, so all shared shingles are cool and the pair survives
    candidate generation with its EXACT containment (clean docs carry no
    warm shingles, hence their in-metric shingle sets — sizes and
    intersections — are untouched by the routing). Every missed pair
    therefore has ≥ 1 endpoint in ``overflow``. Pinned by
    ``TestContainmentCapped`` (tests/test_llm_ops.py).

    Candidate volume: every joined shingle has ``dfr ≤ bucket_cap``, so
    candidates ≤ #shingles × cap²/2 — linear in corpus size for fixed
    cap, killing the m²/2 family cliff (a family of m > bucket_cap
    members shares shingles with dfr ≥ m, which are warm or boilerplate).
    Joins against ``warm``/``overflow`` carry no broadcast hint — AQE
    broadcasts them when small and degrades to shuffle joins on
    adversarial corpora where the overflow set itself is large.

    Returns ``(pairs, overflow)``: pairs = (d1, d2, cont_1in2,
    cont_2in1) among clean docs; overflow = (doc), one row per routed
    document.
    """
    # no IMR caches on the exploded shingle chain (measured: 3.0s vs 6.3s
    # min-of-3 in-process alternation at sf0.1) — the differently-keyed
    # consumers re-run the fused explode chain, but identical exchange
    # subtrees dedupe via ReuseExchange and the columnar cache build of
    # a corpus×shingles table cost more than every recompute combined;
    # at 100 TB it would also pin ~5-10x corpus bytes of storage memory
    sh_all = _shingle_table(df, id_col, text_col, n)
    dfreq = sh_all.groupBy("t").agg(F.count(F.lit(1)).alias("dfr"))
    boiler = dfreq.filter(F.col("dfr") > df_cap).select("t")
    sh = sh_all.join(boiler.hint("merge"), "t", "left_anti")
    warm = dfreq.filter(
        (F.col("dfr") <= df_cap) & (F.col("dfr") > bucket_cap)
    ).select("t")
    overflow = sh.join(warm.hint("merge"), "t", "left_semi").select("doc").distinct()
    clean = sh.join(overflow.hint("merge"), "doc", "left_anti")
    c12 = F.col("i") / F.col("sz1")
    c21 = F.col("i") / F.col("sz2")
    pairs = (
        _pair_intersections(clean)
        .filter(F.greatest(c12, c21) >= threshold)
        .select(
            "d1",
            "d2",
            F.round(c12, 6).alias("cont_1in2"),
            F.round(c21, 6).alias("cont_2in1"),
        )
    )
    return pairs, overflow


@register(
    "dedup_containment",
    f"""
    WITH {shingle_sql_cte()}, {_pair_intersections_sql_cte()}
    SELECT d1, d2,
           round(i * 1.0 / x.sz, 6) AS cont_1in2,
           round(i * 1.0 / y.sz, 6) AS cont_2in1
    FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
    WHERE greatest(i * 1.0 / x.sz, i * 1.0 / y.sz) >= 0.5
    """,
    doc="Asymmetric containment near-dup pairs (max direction ≥ 0.5, "
    "3-gram shingles, df_cap=100): catches subset relationships — a doc "
    "quoted inside a longer one — that symmetric Jaccard scores near "
    "zero. Both directed containments come from ONE shingle equi-join's "
    "intersection count; the hot-shingle guard keeps candidate volume "
    "linear at corpus scale. Integer count/size divisions are bit-exact.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        Catalog(spark, sf_dir)["documents"], threshold=0.5, n=3, df_cap=100
    )


# Cap used by the REGISTERED capped-containment query: tiny (like
# _PPJOIN_GATE_CAP) so the driver's sf0.01 corpus exercises BOTH channels
# — warm-shingle detection, overflow routing, and exact containment among
# clean docs all get cross-engine-hashed. Production callers use the
# signature default (bucket_cap=64); the recall-completeness property is
# pinned at realistic caps by TestContainmentCapped on a dup-dense
# synthetic corpus.
_CONTAIN_GATE_CAP = 2


def containment_capped_sql(cap: int) -> str:
    """Full DuckDB oracle for the capped containment at a given bucket
    cap — shared by the gate-cap registration (cap=2, exercises the
    overflow channel at sf0.01 density) and the production-default
    cap=64 registration."""
    return f"""
    WITH {shingle_sql_cte(materialized=True)}, dfreq AS MATERIALIZED (
      SELECT s, count(*) AS dfr FROM __sh GROUP BY s
    ), sh AS MATERIALIZED (
      SELECT doc_id, __sh.s FROM __sh JOIN dfreq ON __sh.s = dfreq.s
      WHERE dfr <= 100
    ), warm AS MATERIALIZED (
      SELECT s FROM dfreq WHERE dfr <= 100 AND dfr > {cap}
    ), overflow AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM sh WHERE s IN (SELECT s FROM warm)
    ), clean AS MATERIALIZED (
      SELECT doc_id, s FROM sh
      WHERE doc_id NOT IN (SELECT doc_id FROM overflow)
    ), sz AS (
      SELECT doc_id, count(*) AS sz FROM clean GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM clean a JOIN clean b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT 'pair' AS kind, d1, d2,
           round(i * 1.0 / x.sz, 6) AS cont_1in2,
           round(i * 1.0 / y.sz, 6) AS cont_2in1
    FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
    WHERE greatest(i * 1.0 / x.sz, i * 1.0 / y.sz) >= 0.5
    UNION ALL
    SELECT 'overflow' AS kind, doc_id AS d1, NULL::BIGINT AS d2,
           NULL::DOUBLE AS cont_1in2, NULL::DOUBLE AS cont_2in1
    FROM overflow
    """


@register(
    "dedup_containment_capped",
    containment_capped_sql(_CONTAIN_GATE_CAP),
    doc="Scale-capped containment (the SCALE_r06 16.1×-slope fix, "
    "porting the capped-PPJoin overflow pattern): in-metric shingles "
    f"whose document frequency exceeds the cap ({_CONTAIN_GATE_CAP} "
    "here so the sf0.01 gate data exercises the channel; 64 is the "
    "production default) mark their documents as 'overflow' rows — the "
    "caller routes those through MinHash-LSH — while containment among "
    "the remaining docs is EXACT (clean docs carry no warm shingles, so "
    "their in-metric sizes and intersections are untouched). Every "
    "joined shingle has df ≤ cap, so candidate volume is linear in "
    "corpus size — a near-dup family can no longer go quadratic.",
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, overflow = containment_pairs_capped(
        Catalog(spark, sf_dir)["documents"],
        threshold=0.5,
        n=3,
        df_cap=100,
        bucket_cap=_CONTAIN_GATE_CAP,
    )
    return pairs.select(
        F.lit("pair").alias("kind"), "d1", "d2", "cont_1in2", "cont_2in1"
    ).unionByName(
        overflow.select(
            F.lit("overflow").alias("kind"),
            F.col("doc").alias("d1"),
            F.lit(None).cast("bigint").alias("d2"),
            F.lit(None).cast("double").alias("cont_1in2"),
            F.lit(None).cast("double").alias("cont_2in1"),
        )
    )


_SRC_MINHASH_K = 32


def _src_minhash_oracle() -> str:
    p = _MERSENNE_P
    params = [(2 * i + 1, 104729 * (i + 1) % p) for i in range(_SRC_MINHASH_K)]
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    eqs = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(_SRC_MINHASH_K)
    )
    return f"""
    WITH {shingle_sql_cte(key="source")}, h AS (
      SELECT source,
             ('0x' || substring(md5(s), 1, 15))::BIGINT % {p} AS h
      FROM __sh
    ), sigs AS MATERIALIZED (
      SELECT source,
             {mins}
      FROM h GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           ({eqs})::BIGINT AS matches,
           (({eqs}) * 1000000 // {_SRC_MINHASH_K})::BIGINT AS est_jaccard_ppm
    FROM sigs a JOIN sigs b ON a.source < b.source
    """


@register(
    "dedup_source_minhash_matrix",
    _src_minhash_oracle(),
    doc="Source-level corpus-similarity matrix via per-source MinHash "
    f"signatures: ONE scan computes all {_SRC_MINHASH_K} signature "
    "components as min aggregates over the permuted shingle hashes "
    "(min is dedup-insensitive, so no DISTINCT pass; partial mins "
    "combine map-side, reducing the shuffle to #sources rows × k "
    "columns), then the #sources² pair matrix — bounded by the source "
    "DIMENSION, never by data — estimates each pair's shingle-set "
    "Jaccard as matching-component share. The cheap screening pass a "
    "curator runs before the exact (and costlier) "
    "corpus_cross_contamination; same portable 60-bit md5 hash family "
    "as dedup_minhash_lsh, fully DuckDB-oracled.",
)
def dedup_source_minhash_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _MERSENNE_P
    params = [(2 * i + 1, 104729 * (i + 1) % p) for i in range(_SRC_MINHASH_K)]
    d = Catalog(spark, sf_dir)["documents"]
    sh = fan_out(d).select(
        "source", F.explode(shingles(F.col("text"), 3)).alias("s")
    )
    t = sh.select("source", (portable_hash60(F.col("s")) % p).alias("h"))
    sigs = t.groupBy("source").agg(
        *[
            F.min((F.col("h") * a + b) % p).alias(f"m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    matches = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int")
        for i in range(_SRC_MINHASH_K)
    )
    return a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        matches.cast("bigint").alias("matches"),
        F.expr(
            "CAST(("
            + " + ".join(
                f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
                for i in range(_SRC_MINHASH_K)
            )
            + f") * 1000000 div {_SRC_MINHASH_K} AS BIGINT)"
        ).alias("est_jaccard_ppm"),
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring span coverage (suffix-window dedup audit)
# ---------------------------------------------------------------------------

_SPAN_W = 48  # window width (chars); every test doc has n_chars >= 48
_SPAN_S = 16  # stride


@register(
    "dedup_span_coverage",
    f"""
    WITH w AS (
      SELECT doc_id, source, md5(substr(text, off + 1, {_SPAN_W})) AS h
      FROM (SELECT doc_id, source, text,
                   unnest(range(0, n_chars - {_SPAN_W} + 1, {_SPAN_S})) AS off
            FROM documents)
    ), per_doc_h AS (
      SELECT doc_id, source, h, count(*) AS n_occ
      FROM w GROUP BY doc_id, source, h
    ), flagged AS (
      SELECT doc_id, source, n_occ,
             count(*) OVER (PARTITION BY h) AS ndocs
      FROM per_doc_h
    )
    SELECT doc_id, source,
           sum(n_occ)::BIGINT AS n_windows,
           sum(CASE WHEN ndocs >= 2 THEN n_occ ELSE 0 END)::BIGINT
             AS n_dup_windows,
           round(sum(CASE WHEN ndocs >= 2 THEN n_occ ELSE 0 END)::DOUBLE
                 / sum(n_occ), 6) AS dup_ratio
    FROM flagged
    GROUP BY doc_id, source
    """,
    doc="Exact repeated-substring span coverage — the fixed-window form of "
    "suffix-array substring dedup (hash every 48-char window at stride 16, "
    "flag windows whose hash occurs in >= 2 distinct docs, report per-doc "
    "duplicated-window coverage). Unlike shingle-Jaccard this catches "
    "VERBATIM cross-doc spans (boilerplate, quotes, mirrored passages) "
    "regardless of how little of either doc they cover. Plan: explode "
    "~n_chars/stride offsets per doc -> substring+md5 (whole-stage "
    "codegen) -> one (doc,h) hash-agg -> distinct-doc count as a window "
    "over the HIGH-cardinality hash key (parallelism = #distinct windows, "
    "never #docs or #sources) -> per-doc hash-agg. No self-join, no "
    "pairwise blowup: cost is linear in total chars / stride at any "
    "corpus size.",
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir)["documents"]
    w = (
        fan_out(d)
        .where(F.col("n_chars") >= _SPAN_W)  # shorter docs have no window
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_chars") - _SPAN_W, F.lit(_SPAN_S)
                )
            ).alias("off"),
            "text",
        )
        .select(
            "doc_id",
            "source",
            F.md5(F.expr(f"substring(text, off + 1, {_SPAN_W})")).alias("h"),
        )
    )
    per_doc_h = w.groupBy("doc_id", "source", "h").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    # one row per (doc, h) => count(*) over h == distinct docs carrying h
    flagged = per_doc_h.withColumn(
        "ndocs", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    dup_occ = F.sum(F.when(F.col("ndocs") >= 2, F.col("n_occ")).otherwise(0))
    return flagged.groupBy("doc_id", "source").agg(
        F.sum("n_occ").alias("n_windows"),
        dup_occ.alias("n_dup_windows"),
        F.round(dup_occ.cast("double") / F.sum("n_occ"), 6).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Empirical LSH recall audit: band predicate vs exact-Jaccard ground truth
# ---------------------------------------------------------------------------

_AUDIT_K = 64
_AUDIT_BANDS = 16
_AUDIT_ROWS = _AUDIT_K // _AUDIT_BANDS
# Fixed-budget sampling (round-8, SCALE_r07 item 4): the audit samples a
# TARGET DOC COUNT, not a fixed percentage — the effective sample
# fraction is budget/N, resolved INSIDE the plan by a 1-row corpus-count
# scalar, so the audited doc set (and with it the audit's true-pair
# work) stays ~constant as the corpus grows instead of scaling with it.
# Sampling granularity is 1/10000 md5 buckets: a doc is sampled iff
# bucket * N < 10000 * budget, i.e. bucket < 10000*budget/N.
_AUDIT_DOC_BUDGET = 200
_AUDIT_DF_CAP = 100  # stop-shingle cap, same convention as ngram_jaccard


def _lsh_recall_oracle() -> str:
    p = _MERSENNE_P
    params = [(2 * i + 1, 104729 * (i + 1) % p) for i in range(_AUDIT_K)]
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    band_match = " OR ".join(
        "("
        + " AND ".join(
            f"sa.m{bi * _AUDIT_ROWS + r} = sb.m{bi * _AUDIT_ROWS + r}"
            for r in range(_AUDIT_ROWS)
        )
        + ")"
        for bi in range(_AUDIT_BANDS)
    )
    return f"""
    WITH smp AS (
      SELECT doc_id, text FROM documents
      WHERE cast(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS bigint)
            % 10000 * (SELECT count(*) FROM documents)
            < 10000 * {_AUDIT_DOC_BUDGET}
    ), __tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM smp
    ), __sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', w[u.i], w[u.i+1], w[u.i+2]) AS s
      FROM __tok, unnest(range(1, greatest(len(w) - 1, 2))) u(i)
    ), h0 AS (
      SELECT DISTINCT doc_id,
             ('0x' || substring(md5(s), 1, 15))::BIGINT % {p} AS h
      FROM __sh
    ), h AS MATERIALIZED (
      SELECT doc_id, h FROM h0
      WHERE h NOT IN (SELECT h FROM h0
                      GROUP BY h HAVING count(*) > {_AUDIT_DF_CAP})
    ), sz AS (
      SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id
    ), truth AS (
      SELECT d1, d2, (i * 10) // u AS jbucket FROM (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i,
               any_value(za.sz) + any_value(zb.sz) - count(*) AS u
        FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
        JOIN sz za ON za.doc_id = a.doc_id
        JOIN sz zb ON zb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
    ), sigs AS MATERIALIZED (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ), flagged AS (
      SELECT t.jbucket,
             CASE WHEN {band_match} THEN 1 ELSE 0 END AS det
      FROM truth t
      JOIN sigs sa ON sa.doc_id = t.d1
      JOIN sigs sb ON sb.doc_id = t.d2
    )
    SELECT jbucket, n_true, n_detected, recall_ppm,
           floor(1960000.0 * sqrt(p * (1.0 - p) / n_true::DOUBLE))::BIGINT
             AS ci_halfwidth_ppm
    FROM (
      SELECT jbucket, count(*)::BIGINT AS n_true,
             sum(det)::BIGINT AS n_detected,
             (sum(det)::BIGINT * 1000000 // count(*)) AS recall_ppm,
             sum(det)::DOUBLE / count(*)::DOUBLE AS p
      FROM flagged GROUP BY jbucket
    )
    """


@register(
    "dedup_lsh_recall_audit",
    _lsh_recall_oracle(),
    doc="Empirical MinHash-LSH S-curve audit under a FIXED DOC BUDGET: "
    "bucket every shingle-sharing pair in a deterministic md5 doc sample "
    "by exact Jaccard (floor(10*J), integer arithmetic) and score it "
    f"against the production band predicate ({_AUDIT_K} hashes x "
    f"{_AUDIT_BANDS} bands, same derived hash family as "
    "dedup_minhash_lsh). High buckets read as measured RECALL, low "
    "buckets as the band FALSE-POSITIVE rate — the measured S-curve "
    "instead of the closed-form 1-(1-J^r)^b. Budget math (round-8 fix "
    "for the 8.77x SCALE_r07 slope): a doc enters the sample iff "
    f"md5_bucket(doc_id, 10000) * N < 10000 * {_AUDIT_DOC_BUDGET}, with "
    "N the corpus count resolved in-plan as a 1-row broadcast scalar — "
    f"so the sample holds ~{_AUDIT_DOC_BUDGET} docs at ANY corpus size "
    "(fraction = budget/N), and since mutated-dup family membership in "
    "the sample stays ~constant as corpora replicate, the audit's "
    "true-pair work is flat instead of tracking corpus growth. The "
    "price of a fixed budget is sampling error, REPORTED per bucket as "
    "ci_halfwidth_ppm (Wald 95%: 1.96e6*sqrt(p(1-p)/n_true), floored — "
    "all-double arithmetic from identical integers, so even the CI is "
    "value-oracled). Ground truth uses the exact shingle equi-join "
    f"under the stop-shingle cap (df <= {_AUDIT_DF_CAP}, applied to "
    "truth sets AND signatures so the audited shingle space is "
    "self-consistent); the production path stays dedup_minhash_lsh.",
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.sampling import hash_bucket

    d = Catalog(spark, sf_dir)["documents"]
    # fixed-budget sample: bucket/10000 * N < budget — the corpus count
    # enters as a 1-row broadcast scalar (the repo's allowlisted
    # BNLJ-scalar pattern), so the sample FRACTION shrinks exactly as the
    # corpus grows and the audited doc set stays ~_AUDIT_DOC_BUDGET.
    n_frame = d.agg(F.count(F.lit(1)).alias("__n"))
    smp = (
        d.crossJoin(F.broadcast(n_frame))
        .where(
            hash_bucket(F.col("doc_id"), 10000) * F.col("__n")
            < 10000 * _AUDIT_DOC_BUDGET
        )
        .drop("__n")
    )
    base = shingle_hashes(smp, 3, "text", "doc_id")
    h0 = base.select("doc", F.explode("hashes").alias("h"))
    # stop-shingle cap (ngram_jaccard's df_cap convention): hashes carried
    # by > cap docs leave BOTH the truth join and the signatures, so the
    # audit's shingle space is self-consistent and the hot-shingle
    # quadratic pair mass never materializes.
    hot = (
        h0.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > _AUDIT_DF_CAP)
        .select("h")
    )
    h = h0.join(hot, "h", "left_anti").transform(materialize, "persist")
    sizes = h.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        h.alias("a")
        .join(h.alias("b"), (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.withColumnRenamed("doc", "d1").withColumnRenamed("sz", "sz1"), "d1")
        .join(sizes.withColumnRenamed("doc", "d2").withColumnRenamed("sz", "sz2"), "d2")
        .withColumn("u", F.col("sz1") + F.col("sz2") - F.col("i"))
        .select("d1", "d2", F.expr("(i * 10) div u").alias("jbucket"))
    )
    params = [
        (2 * i + 1, 104729 * (i + 1) % _MERSENNE_P) for i in range(_AUDIT_K)
    ]
    sigs = h.groupBy("doc").agg(
        *[
            F.min((F.col("h") * a + b) % _MERSENNE_P).alias(f"m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    band_match = F.greatest(
        *[
            F.when(
                F.lit(True)
                & F.expr(
                    " AND ".join(
                        f"s1.m{bi * _AUDIT_ROWS + r} = s2.m{bi * _AUDIT_ROWS + r}"
                        for r in range(_AUDIT_ROWS)
                    )
                ),
                1,
            ).otherwise(0)
            for bi in range(_AUDIT_BANDS)
        ]
    )
    flagged = (
        truth.join(sigs.alias("s1"), F.col("s1.doc") == F.col("d1"))
        .join(sigs.alias("s2"), F.col("s2.doc") == F.col("d2"))
        .withColumn("det", band_match)
    )
    agg = flagged.groupBy("jbucket").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum("det").alias("n_detected"),
        F.expr("sum(det) * 1000000 div count(1)").alias("recall_ppm"),
        (F.sum("det").cast("double") / F.count(F.lit(1)).cast("double")).alias("__p"),
    )
    # Wald 95% half-width in ppm: every operand is a double derived from
    # the same integers on both engines, and /, *, sqrt are each exactly
    # IEEE-rounded — bit-identical cross-engine, so the CI column is
    # value-oracled, not advisory.
    return agg.select(
        "jbucket",
        "n_true",
        "n_detected",
        "recall_ppm",
        F.floor(
            F.lit(1960000.0)
            * F.sqrt(
                F.col("__p") * (F.lit(1.0) - F.col("__p"))
                / F.col("n_true").cast("double")
            )
        )
        .cast("long")
        .alias("ci_halfwidth_ppm"),
    )


def merge_offset_spans(
    dupw: DataFrame, width: int, id_col: str = "doc_id", off_col: str = "off"
) -> DataFrame:
    """Merge per-key fixed-width windows at ``off_col`` into maximal
    spans (interval-union islands): a window starts a new span iff its
    offset exceeds the running max end of everything before it. Returns
    one row per (key, island) with ``s``/``e`` span bounds. Both windows
    partition by the HIGH-cardinality key, so parallelism tracks the key
    count at any data size. Adjacency merges: ``off == prev_end`` joins
    the spans (zero-gap intervals form one contiguous byte range)."""
    from pyspark.sql import Window

    win = Window.partitionBy(id_col).orderBy(off_col)
    prev_end = F.max(F.col(off_col) + width).over(
        win.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dupw.withColumn(
        "is_new",
        F.when(prev_end.isNull() | (F.col(off_col) > prev_end), 1).otherwise(0),
    )
    isl = marked.withColumn(
        "island", F.sum("is_new").over(win.rowsBetween(Window.unboundedPreceding, 0))
    )
    return isl.groupBy(id_col, "island").agg(
        F.min(off_col).alias("s"), (F.max(off_col) + width).alias("e")
    )



@register(
    "dedup_span_removal",
    f"""
    WITH w AS (
      SELECT doc_id, off, md5(substr(text, off + 1, {_SPAN_W})) AS h
      FROM (SELECT doc_id, text,
                   unnest(range(0, n_chars - {_SPAN_W} + 1, {_SPAN_S})) AS off
            FROM documents)
    ), dup_h AS (
      SELECT h FROM (SELECT DISTINCT doc_id, h FROM w)
      GROUP BY h HAVING count(*) >= 2
    ), dupw AS (
      SELECT doc_id, off FROM w WHERE h IN (SELECT h FROM dup_h)
    ), marked AS (
      SELECT doc_id, off,
             CASE WHEN prev_end IS NULL OR off > prev_end THEN 1 ELSE 0 END
               AS is_new
      FROM (SELECT doc_id, off,
                   max(off + {_SPAN_W}) OVER (
                     PARTITION BY doc_id ORDER BY off
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_end
            FROM dupw)
    ), isl AS (
      SELECT doc_id, off,
             sum(is_new) OVER (PARTITION BY doc_id ORDER BY off
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
      FROM marked
    ), spans AS (
      SELECT doc_id, island, min(off) AS s, max(off) + {_SPAN_W} AS e
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
             sum(e - s)::BIGINT AS chars_dup
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id, d.source, d.n_chars,
           coalesce(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
           coalesce(p.chars_dup, 0)::BIGINT AS chars_dup,
           round(coalesce(p.chars_dup, 0)::DOUBLE / d.n_chars, 6)
             AS dup_char_ratio
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Verbatim-span REMOVAL plan — the action step after "
    "dedup_span_coverage: windows whose hash occurs in >= 2 docs merge "
    "into maximal per-doc character spans (overlap/adjacency island "
    "detection: a window starts a new span iff its offset exceeds the "
    "running max end), yielding exactly the byte ranges a "
    "suffix-window dedup pass would cut, per doc, with the removable "
    "char count and ratio. Plan: the span pipeline's hash-agg + one "
    "left-semi hash join on the HIGH-cardinality window hash, then two "
    "windows partitioned by doc_id (cardinality = corpus, full "
    "parallelism) and a per-doc hash-agg; all arithmetic integer, so "
    "the oracle replays exactly. No self-join, no pairwise blowup at "
    "any corpus size.",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    w = (
        fan_out(d)
        .where(F.col("n_chars") >= _SPAN_W)  # shorter docs have no window
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_chars") - _SPAN_W, F.lit(_SPAN_S))
            ).alias("off"),
            "text",
        )
        .select(
            "doc_id",
            "off",
            F.md5(F.expr(f"substring(text, off + 1, {_SPAN_W})")).alias("h"),
        )
    )
    dup_h = (
        w.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("h")
    )
    dupw = w.join(dup_h, "h", "left_semi").select("doc_id", "off")
    spans = merge_offset_spans(dupw, _SPAN_W)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).alias("chars_dup"),
    )
    return (
        d.select("doc_id", "source", "n_chars")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("chars_dup", F.lit(0)).alias("chars_dup"),
            F.round(
                F.coalesce("chars_dup", F.lit(0)).cast("double") / F.col("n_chars"), 6
            ).alias("dup_char_ratio"),
        )
    )


@register(
    "corpus_span_source_matrix",
    f"""
    WITH ws AS (
      SELECT DISTINCT source, md5(substr(text, off + 1, {_SPAN_W})) AS h
      FROM (SELECT source, text,
                   unnest(range(0, n_chars - {_SPAN_W} + 1, {_SPAN_S})) AS off
            FROM documents)
    )
    SELECT a.source AS src_a, b.source AS src_b,
           count(*)::BIGINT AS shared_spans
    FROM ws a JOIN ws b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    doc="Cross-source VERBATIM contamination matrix: for every pair of "
    "sources, the number of distinct 48-char windows both carry "
    "verbatim — the exact counterpart to dedup_source_minhash_matrix's "
    "sketch estimate, at window (not whole-document) granularity, which "
    "is what catches licensing leaks / mirrored passages between "
    "corpus sources. Plan: the span pipeline's stride-window explode -> "
    "one DISTINCT (source, hash) hash-agg, then a self-equi-join on the "
    "HIGH-cardinality hash whose per-key fan-out is bounded by #sources "
    "(~20) — at most sources^2/2 rows per hash, so the join stays "
    "linear in distinct windows at any corpus size; output is the "
    "source-dimension matrix, never data-sized.",
)
def corpus_span_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    ws = (
        fan_out(d)
        .where(F.col("n_chars") >= _SPAN_W)
        .select(
            "source",
            F.explode(
                F.sequence(F.lit(0), F.col("n_chars") - _SPAN_W, F.lit(_SPAN_S))
            ).alias("off"),
            "text",
        )
        .select(
            "source",
            F.md5(F.expr(f"substring(text, off + 1, {_SPAN_W})")).alias("h"),
        )
        .distinct()
    )
    return (
        ws.alias("a")
        .join(
            ws.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared_spans"))
    )


# ---------------------------------------------------------------------------
# Incremental near-dup pairs — PPJoin against a FROZEN prefix index (the
# exact-recall complement of the LSH-based dedup_minhash_clusters_append
# ingest tick)
# ---------------------------------------------------------------------------

# Jaccard threshold of the incremental PPJoin index. The frozen base
# prefix and every batch prefix are cut at this one value: a batch prefix
# cut at any other threshold would no longer be guaranteed to share a
# prefix shingle with each qualifying base partner, and recall would drop
# without an error.
_PPJ_THRESHOLD = 0.6

# derived ingest batch: every 30th doc (mod-class 21) appended TWICE with
# a shared 3-token suffix — each copy pairs with its source doc
# (J = |orig|/(|orig|+3) >= 0.6 at any realistic length: base-vs-new
# path) and with its twin (J = 1: new-vs-new path)
_PPJ_APPEND_MOD, _PPJ_APPEND_RES = 30, 21
_PPJ_APPEND_SHIFT = 10_000_000_000  # above any bench_scale replica id (m*1e7)
_PPJ_APPEND_SUFFIX = " zzpp zzjoin zztail"


def ppjoin_frozen_state(spark: SparkSession, sf_dir: str):
    """The persisted PPJoin index state for the base corpus:
    ``dfreq(t, dfr)`` (the frozen global shingle-frequency ORDER) and
    ``prefix(doc, t, rn, sz)`` (each doc's ``_PPJ_THRESHOLD`` prefix
    under that order, with positions and its shingle-set size). Computed
    once per (session, corpus), localCheckpoint-pinned — exactly what a
    production incremental PPJoin stores next to the corpus."""

    def build():
        toks = _shingle_table(Catalog(spark, sf_dir)["documents"])
        dfreq = (
            toks.groupBy("t").agg(F.count(F.lit(1)).alias("dfr")).transform(materialize)
        )
        return dfreq, _ppj_prefix(toks, dfreq, _PPJ_THRESHOLD).transform(materialize)

    return session_memo(spark, ("ppjoin_frozen_state", sf_dir), build)


def _ppj_append_batch(
    spark: SparkSession,
    sf_dir: str,
    batch: DataFrame | None = None,
):
    """Shared batch derivation + frozen-order prefix ranking for the
    incremental PPJoin family: returns ``(docs, batch, btoks, bprefix)``
    — the derived batch docs, their distinct shingle table
    (persisted), and their ``(doc, t, rn, sz)`` prefix under the FROZEN
    base order extended with unseen shingles at frequency 0 (persisted).

    ``batch`` overrides the registered derived batch with a caller-
    supplied ``(doc_id, text)`` frame (the production ingest path). The
    id-disjointness precondition is enforced at runtime: every base doc
    has >= 1 row in the frozen prefix index (sz - ceil(0.6*sz) + 1 >= 1
    for any non-empty shingle set), so a batch id colliding with
    ``prefix.doc`` would alias two distinct documents in the
    candidate/verify joins and silently corrupt the pair set. One
    short-circuited semi-join per tick."""
    from redcap_omop_etl_spark.validation import require_disjoint_ids

    docs = Catalog(spark, sf_dir)["documents"]
    dfreq, base_prefix = ppjoin_frozen_state(spark, sf_dir)
    if batch is None:
        one = docs.filter(
            F.pmod(F.col("doc_id"), F.lit(_PPJ_APPEND_MOD)) == _PPJ_APPEND_RES
        ).select("doc_id", F.concat(F.col("text"), F.lit(_PPJ_APPEND_SUFFIX)).alias("text"))
        batch = one.select(
            (F.col("doc_id") + F.lit(_PPJ_APPEND_SHIFT)).alias("doc_id"), "text"
        ).unionByName(
            one.select(
                (F.col("doc_id") + F.lit(2 * _PPJ_APPEND_SHIFT)).alias("doc_id"), "text"
            )
        )
    require_disjoint_ids(
        base_prefix.select("doc"),
        batch.select("doc_id"),
        "dedup_prefix_jaccard_append",
    )
    btoks = _shingle_table(batch).transform(materialize, "persist")
    bprefix = _ppj_prefix(btoks, dfreq, _PPJ_THRESHOLD).transform(materialize, "persist")
    return docs, batch, btoks, bprefix


def _ppj_append_tick(
    spark: SparkSession,
    sf_dir: str,
    cap: int | None = None,
    parts=None,
) -> tuple[DataFrame, DataFrame | None]:
    """The incremental PPJoin tick body: ``(pairs, overflow)``, pairs =
    ``(d1, d2, jaccard)`` involving a batch doc, overflow = ``(doc)``
    routed docs or None when uncapped. ``parts`` accepts a precomputed
    ``_ppj_append_batch`` tuple so the router shares one batch
    derivation + guard.

    ``cap=None`` is the exact tick (``dedup_prefix_jaccard_append``
    holds the exact-recall argument). An integer ``cap`` is the capped
    tick (``dedup_prefix_jaccard_append_capped`` holds the hot-bucket
    routing semantics): gate corpora pin the routing channel at cap=2,
    production runs cap=64."""
    _dfreq, base_prefix = ppjoin_frozen_state(spark, sf_dir)
    docs, _batch, btoks, bprefix = (
        parts if parts is not None else _ppj_append_batch(spark, sf_dir)
    )
    overflow = None
    if cap is not None:
        base_cnt = base_prefix.groupBy("t").agg(F.count(F.lit(1)).alias("bc"))
        bat_cnt = bprefix.groupBy("t").agg(F.count(F.lit(1)).alias("nc"))
        hot = (
            base_cnt.join(bat_cnt, "t", "full_outer")
            .filter(
                F.coalesce("bc", F.lit(0)) + F.coalesce("nc", F.lit(0)) > cap
            )
            .select("t")
            .transform(materialize, "persist")
        )
        o_base = (
            base_prefix.join(hot.hint("merge"), "t", "left_semi")
            .select("doc")
            .distinct()
            .transform(materialize, "persist")
        )
        o_batch = (
            bprefix.join(hot.hint("merge"), "t", "left_semi").select("doc").distinct()
            .transform(materialize, "persist")
        )
        overflow = o_base.unionByName(o_batch).distinct()
        base_prefix = base_prefix.join(o_base, "doc", "left_anti")
        bprefix = bprefix.join(o_batch, "doc", "left_anti").transform(materialize, "persist")
    # candidates: base-vs-new by probing the frozen base prefix, new-vs-new
    # by a batch-sized prefix self-join; both carry the two set sizes
    cand_nb = (
        base_prefix.select(F.col("doc").alias("d1"), "t", F.col("sz").alias("sz1"))
        .join(
            bprefix.select(F.col("doc").alias("d2"), "t", F.col("sz").alias("sz2")).hint("merge"),
            "t",
        )
        .select("d1", "d2", "sz1", "sz2")
        .distinct()
    )
    a, b = bprefix.alias("a"), bprefix.alias("b")
    cand_bb = (
        a.join(b.hint("merge"), (F.col("a.t") == F.col("b.t")) & (F.col("a.doc") < F.col("b.doc")))
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.col("a.sz").alias("sz1"),
            F.col("b.sz").alias("sz2"),
        )
        .distinct()
    )
    cand = cand_nb.unionByName(cand_bb).distinct().transform(materialize, "persist")
    # verify tokens: candidate BASE docs re-shingled (candidate-sized) +
    # batch. The semi-join against the base documents alone picks them
    # (the id guard keeps batch ids out of the base), whatever their ids.
    base_cand = cand.select(F.col("d1").alias("doc_id")).distinct()
    vtoks = (
        _shingle_table(docs.join(base_cand.hint("merge"), "doc_id", "left_semi"))
        .unionByName(btoks)
        .transform(materialize, "persist")
    )
    return _ppj_verify(cand, vtoks, _PPJ_THRESHOLD), overflow


def _append_pair_kind() -> Column:
    """``new_new`` for a batch-batch pair, ``base_new`` for a base-batch
    one (batch ids sit at or above ``_PPJ_APPEND_SHIFT``; d1 < d2)."""
    return F.when(F.col("d1") >= _PPJ_APPEND_SHIFT, "new_new").otherwise("base_new")


@register(
    "dedup_prefix_jaccard_append",
    f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_PPJ_APPEND_SHIFT}, text || '{_PPJ_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_PPJ_APPEND_MOD} = {_PPJ_APPEND_RES}
      UNION ALL
      SELECT doc_id + {2 * _PPJ_APPEND_SHIFT}, text || '{_PPJ_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_PPJ_APPEND_MOD} = {_PPJ_APPEND_RES}
    ),
    {shingle_sql_cte(gram="t", materialized=True, table="alldocs")},
    toks AS MATERIALIZED (
      SELECT doc_id AS doc, t FROM __sh
    ), dfreq AS MATERIALIZED (
      SELECT t, count(*) AS dfr FROM toks GROUP BY t
    ), ranked AS MATERIALIZED (
      SELECT doc, toks.t,
             row_number() OVER (PARTITION BY doc ORDER BY dfr, toks.t) AS rn,
             count(*) OVER (PARTITION BY doc) AS sz
      FROM toks JOIN dfreq ON toks.t = dfreq.t
    ), prefix AS MATERIALIZED (
      SELECT doc, t FROM ranked WHERE rn <= sz - ceil(sz * 0.6) + 1
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM prefix a JOIN prefix b ON a.t = b.t AND a.doc < b.doc
    ), inter AS (
      SELECT d1, d2, count(*) AS i
      FROM cand JOIN toks x ON x.doc = d1 JOIN toks y ON y.doc = d2 AND y.t = x.t
      GROUP BY 1, 2
    ), szt AS (
      SELECT doc, count(*) AS sz FROM toks GROUP BY doc
    )
    SELECT d1, d2, round(i * 1.0 / (a.sz + b.sz - i), 6) AS jaccard,
           CASE WHEN d1 >= {_PPJ_APPEND_SHIFT} THEN 'new_new'
                ELSE 'base_new' END AS pair_kind
    FROM inter JOIN szt a ON d1 = a.doc JOIN szt b ON d2 = b.doc
    WHERE i * 1.0 / (a.sz + b.sz - i) >= 0.6
      AND d2 >= {_PPJ_APPEND_SHIFT}
    """,
    doc="Incremental EXACT near-dup pairs — PPJoin's ingest tick, the "
    "exact-recall complement of the LSH cluster append: a new document "
    "batch is prefix-ranked under the FROZEN global shingle-frequency "
    "order (ppjoin_frozen_state — unseen shingles take frequency 0, "
    "i.e. rarest-first) and probes the frozen base prefix index for "
    "base-vs-new candidates plus a batch-sized self-join for "
    "new-vs-new; exact-Jaccard verify re-shingles ONLY the candidate "
    "base docs (deterministic — equals a partition-pruned read of the "
    "persisted token layout). EXACT-RECALL ARGUMENT: the prefix "
    "theorem holds under ANY common total order; extending the frozen "
    "(dfr, t) order with new-vocabulary shingles at frequency 0 leaves "
    "every base doc's stored prefix unchanged (base docs contain no "
    "new shingles, and their own tokens' relative order is untouched), "
    "so base prefixes and batch prefixes are consistent under one "
    "order and every qualifying batch-involving pair shares a prefix "
    "shingle. Base-base pairs are untouched by construction (their "
    "Jaccard cannot change). The oracle replays the FULL uncapped "
    "PPJoin over the union corpus — whose exact output pair set is "
    "ORDER-INDEPENDENT — restricted to pairs involving a batch doc, so "
    "incremental ≡ rebuild is value-checked cross-engine. Cost: "
    "O(batch prefixes x bucket) candidates + candidate-sized verify — "
    "never a base-base re-pairing. BOUNDARY, measured (SCALE_r10): on "
    "dup-DENSE corpora the tick is superlinear (28x at 16x mutated "
    "replicas) because every batch doc's prefix hits all ~m of its "
    "near-dup partners — the SAME dup-density cliff as the base "
    "uncapped PPJoin, with the same escapes: emitted-pair volume IS "
    "the output (exactness costs what the true pairs cost), and "
    "dense-batch ingest belongs on dedup_minhash_clusters_append "
    "(bounded star edges, no pair emission) or a capped composition.",
)
def dedup_prefix_jaccard_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, _ = _ppj_append_tick(spark, sf_dir)
    return pairs.withColumn("pair_kind", _append_pair_kind())


@register(
    "dedup_prefix_jaccard_cap64",
    f"""
    WITH {shingle_sql_cte(gram="t", materialized=True)}, {ppjoin_capped_sql_cte(cap=64)}
    SELECT 'pair' AS kind, d1, d2, jaccard FROM cpairs
    UNION ALL
    SELECT 'overflow' AS kind, doc AS d1, NULL::BIGINT AS d2,
           NULL::DOUBLE AS jaccard
    FROM overflow
    """,
    doc="The capped PPJoin at its PRODUCTION default (bucket_cap=64) — "
    "previously a scale-only bench callable (tools/bench_scale.py), now "
    "registered so the configuration a deployment actually runs is the "
    "configuration the driver value-checks. At the sf0.01 gate corpus "
    "no prefix bucket exceeds 64, so the output equals the uncapped "
    "exact pair set with an empty overflow channel — which is itself "
    "the property worth pinning (the cap is inert until dup density "
    "crosses it; the cap=2 twin exercises the routing channel).",
)
def dedup_prefix_jaccard_cap64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    return _pair_and_overflow_rows(
        *prefix_jaccard_pairs_capped(docs, threshold=0.6, n=3, bucket_cap=64)
    )


@register(
    "dedup_prefix_jaccard_append_capped",
    f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_PPJ_APPEND_SHIFT}, text || '{_PPJ_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_PPJ_APPEND_MOD} = {_PPJ_APPEND_RES}
      UNION ALL
      SELECT doc_id + {2 * _PPJ_APPEND_SHIFT}, text || '{_PPJ_APPEND_SUFFIX}'
      FROM documents WHERE doc_id % {_PPJ_APPEND_MOD} = {_PPJ_APPEND_RES}
    ),
    {shingle_sql_cte(gram="t", materialized=True, table="alldocs")},
    toks AS MATERIALIZED (
      SELECT doc_id AS doc, t FROM __sh
    ), basedf AS MATERIALIZED (
      SELECT t, count(*) AS dfr FROM toks WHERE doc < {_PPJ_APPEND_SHIFT} GROUP BY t
    ), ranked AS MATERIALIZED (
      SELECT doc, toks.t,
             row_number() OVER (PARTITION BY doc
                                ORDER BY coalesce(dfr, 0), toks.t) AS rn,
             count(*) OVER (PARTITION BY doc) AS sz
      FROM toks LEFT JOIN basedf ON toks.t = basedf.t
    ), prefix AS MATERIALIZED (
      SELECT doc, t FROM ranked WHERE rn <= sz - ceil(sz * 0.6) + 1
    ), hot AS MATERIALIZED (
      SELECT t FROM prefix GROUP BY t HAVING count(*) > {_PPJOIN_GATE_CAP}
    ), overflow AS MATERIALIZED (
      SELECT DISTINCT doc FROM prefix WHERE t IN (SELECT t FROM hot)
    ), cprefix AS MATERIALIZED (
      SELECT doc, t FROM prefix WHERE doc NOT IN (SELECT doc FROM overflow)
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM cprefix a JOIN cprefix b ON a.t = b.t AND a.doc < b.doc
      WHERE b.doc >= {_PPJ_APPEND_SHIFT}
    ), inter AS (
      SELECT d1, d2, count(*) AS i
      FROM cand JOIN toks x ON x.doc = d1 JOIN toks y ON y.doc = d2 AND y.t = x.t
      GROUP BY 1, 2
    ), szt AS (
      SELECT doc, count(*) AS sz FROM toks GROUP BY doc
    )
    SELECT 'pair' AS kind, d1, d2,
           round(i * 1.0 / (a.sz + b.sz - i), 6) AS jaccard
    FROM inter JOIN szt a ON d1 = a.doc JOIN szt b ON d2 = b.doc
    WHERE i * 1.0 / (a.sz + b.sz - i) >= 0.6
    UNION ALL
    SELECT 'overflow' AS kind, doc AS d1, NULL::BIGINT AS d2,
           NULL::DOUBLE AS jaccard
    FROM overflow
    """,
    doc="CAPPED incremental PPJoin — the production answer to the "
    "measured dup-density boundary of the exact append tick (SCALE_r10: "
    "28x at 16x mutated replicas): prefix-bucket sizes are tracked "
    "across base+batch, any bucket exceeding the cap marks its shingle "
    "HOT, and every doc — base OR batch — carrying a hot shingle in "
    "its prefix is emitted as an overflow routing row instead of "
    "generating candidates. The subtle delta-semantics this encodes: "
    "batch additions can push a previously-cool base bucket over the "
    "cap, so BASE docs can become newly-overflow — their existing "
    "clean pairs are retracted by the overflow rows (the delta "
    "consumer drops pairs touching routed docs and re-clusters them "
    "through the LSH append, dedup_minhash_clusters_append). Clean "
    "candidates stay <= cap per bucket by construction, so the tick is "
    "linear in batch prefixes regardless of dup density. All prefixes "
    "are ranked under the FROZEN base frequency order (unseen shingles "
    "at frequency 0) — the index contract — and the oracle replays "
    "exactly that frozen-order capped pipeline over the union corpus "
    "(pairs restricted to batch-involving; overflow rows complete).",
)
def dedup_prefix_jaccard_append_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pair_and_overflow_rows(*_ppj_append_tick(spark, sf_dir, cap=_PPJOIN_GATE_CAP))


@register(
    "dedup_containment_cap64",
    containment_capped_sql(64),
    doc="The capped containment at its PRODUCTION default "
    "(bucket_cap=64) — like dedup_prefix_jaccard_cap64, previously a "
    "scale-only bench callable, now registered so the deployed "
    "configuration is the driver-verified one. At gate density the cap "
    "is inert (uncapped-within-df_cap pair set, empty overflow) — the "
    "property worth pinning; the cap=2 twin exercises the routing "
    "channel.",
)
def dedup_containment_cap64(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, overflow = containment_pairs_capped(
        Catalog(spark, sf_dir)["documents"],
        threshold=0.5,
        n=3,
        df_cap=100,
        bucket_cap=64,
    )
    return pairs.select(
        F.lit("pair").alias("kind"), "d1", "d2", "cont_1in2", "cont_2in1"
    ).unionByName(
        overflow.select(
            F.lit("overflow").alias("kind"),
            F.col("doc").alias("d1"),
            F.lit(None).cast("bigint").alias("d2"),
            F.lit(None).cast("double").alias("cont_1in2"),
            F.lit(None).cast("double").alias("cont_2in1"),
        )
    )


# ---------------------------------------------------------------------------
# Automated ingest-tick routing — the measured dup-density boundary
# (SCALE_r10 `ppjoin_append_boundary`) as a runtime decision
# ---------------------------------------------------------------------------

# Route thresholds, in estimated candidate pairs PER BATCH DOC. The
# probe upper-bounds the candidate volume the exact tick would generate
# from prefix-bucket co-occurrence counts alone (no joins over text):
#   est_cand = sum_t [ nc(t)*bc(t) + C(nc(t), 2) ]
# with bc/nc = base/batch prefix rows carrying shingle t. SCALE_r10
# measured the exact tick superlinear (28x) once near-dup partners per
# batch doc reach the tens — density <= 64 is comfortably inside the
# flat regime; 64 < density <= 1024 is where the cap=64 hot-bucket
# routing keeps clean candidates bounded while still emitting pairs;
# beyond that the batch is template-dominated and PAIR EMISSION ITSELF
# is the cost, so the LSH cluster append (bounded star edges, no pair
# output) is the only route that stays O(batch).
_ROUTE_EXACT_DENSITY = 64
_ROUTE_CAPPED_DENSITY = 1024
_ROUTE_PROD_CAP = 64


def ppjoin_ingest_probe(spark: SparkSession, sf_dir: str, batch=None, parts=None):
    """The cheap batch-side density probe that picks the ingest route:
    one aggregation over the batch's prefix-bucket counts joined to the
    FROZEN base prefix-bucket counts (``ppjoin_frozen_state`` — already
    persisted next to the corpus), i.e. O(batch prefixes) + one
    columnar scan of the frozen index; no candidate pairs are ever
    generated. Integer arithmetic end-to-end so the decision replays
    bit-for-bit in the DuckDB oracle. Returns ``(route, est_cand,
    n_batch, parts)`` where ``parts`` is the (guarded) batch derivation
    reusable by the chosen route body."""
    if parts is None:
        parts = _ppj_append_batch(spark, sf_dir, batch=batch)
    _docs, batch, _btoks, bprefix = parts
    _dfreq, base_prefix = ppjoin_frozen_state(spark, sf_dir)
    bc = base_prefix.groupBy("t").agg(F.count(F.lit(1)).alias("bc"))
    nc = bprefix.groupBy("t").agg(F.count(F.lit(1)).alias("nc"))
    row = (
        nc.join(bc, "t", "left")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("nc") * F.coalesce(F.col("bc"), F.lit(0))
                    + F.expr("(nc * (nc - 1)) div 2")
                ),
                F.lit(0),
            ).alias("est_cand")
        )
        .crossJoin(batch.agg(F.count(F.lit(1)).alias("n_batch")))
        .first()
    )
    est, nb = int(row["est_cand"]), int(row["n_batch"])
    if est <= _ROUTE_EXACT_DENSITY * nb:
        route = "exact"
    elif est <= _ROUTE_CAPPED_DENSITY * nb:
        route = "capped"
    else:
        route = "cluster"
    return route, est, nb, parts


def _ppj_cluster_route_delta(spark: SparkSession, sf_dir: str, batch: DataFrame) -> DataFrame:
    """The cluster-route body of the ingest router: band the batch,
    merge it into the frozen hub/component state (O(batch) — see
    ``incremental_minhash_components``), and emit ALL MEMBERS of every
    cluster containing an appended doc with their updated labels — the
    delta a downstream consumer needs to retract/re-key affected docs.
    ids were already guard-checked by ``_ppj_append_batch``; the
    disjointness argument transfers because the PPJoin prefix index and
    the cluster state cover the same base corpus."""
    from redcap_omop_etl_spark.operators.graph import (
        _batch_only_min,
        _minhash_cluster_state,
        incremental_minhash_components,
    )

    comp, hubs = _minhash_cluster_state(spark, sf_dir, family="md5")
    # Checkpointed: the merge consumes the batch band table twice
    # (shared-bucket join + batch-only anti-join), the signature fold
    # behind it is a pure projection no ReuseExchange can share, and the
    # eager localCheckpoint truncates the tick's lineage so the
    # downstream merge/delta actions re-plan from a leaf. The batch-only
    # star stays lazy: it is read once, and pinning it costs a job.
    banded = materialize(minhash_band_table(batch))
    batch_star = bucket_star(_batch_only_min(banded, hubs))
    merged = incremental_minhash_components(comp, hubs, banded, batch_star)
    bid = batch.select(F.col("doc_id").alias("node"))
    batch_rows = merged.join(bid, "node", "left_semi").select("node", "component")
    touched_reps = merged.join(bid, "node", "left_anti").select(
        F.col("node").alias("__rep"), F.col("component").alias("__final")
    )
    base_members = comp.join(
        touched_reps, comp["component"] == F.col("__rep")
    ).select("node", F.col("__final").alias("component"))
    singles = touched_reps.join(
        comp.select("node"), touched_reps["__rep"] == comp["node"], "left_anti"
    ).select(F.col("__rep").alias("node"), F.col("__final").alias("component"))
    return batch_rows.select(
        F.lit("batch").alias("kind"), F.col("node").alias("k1"), F.col("component").alias("k2")
    ).unionByName(
        base_members.unionByName(singles).select(
            F.lit("base").alias("kind"), F.col("node").alias("k1"), F.col("component").alias("k2")
        )
    )


_ROUTED_SCHEMA = "route string, kind string, k1 bigint, k2 bigint, score double"


def _ingest_tick_routed(spark: SparkSession, sf_dir: str, batch=None) -> DataFrame:
    """Shared body of the routed ingest tick: probe, pick, run. The
    first output row is the routing audit record (kind='probe',
    k1=est_cand, k2=n_batch) so a pipeline log captures WHY the route
    was chosen. The exact and capped routes are the one append tick body
    (``_ppj_append_tick``) without and with the production cap.

    Caller-supplied batches: the id guard enforces only DISJOINTNESS
    (sufficient for correctness of every route's pair/cluster set), but
    the new_new/base_new KIND labels on the exact/capped routes follow
    the shift convention (batch ids >= _PPJ_APPEND_SHIFT) — remap a
    production batch above the shift, as every registered batch is."""
    route, est, nb, parts = ppjoin_ingest_probe(spark, sf_dir, batch=batch)
    _docs, batch, _btoks, _bprefix = parts
    audit = spark.createDataFrame([(route, "probe", est, nb, None)], _ROUTED_SCHEMA)
    if route == "cluster":
        body = _ppj_cluster_route_delta(spark, sf_dir, batch).select(
            F.lit(route).alias("route"),
            "kind",
            "k1",
            "k2",
            F.lit(None).cast("double").alias("score"),
        )
        return audit.unionByName(body)
    if route == "exact":
        pairs, _ = _ppj_append_tick(spark, sf_dir, parts=parts)
        rows = pairs.select(_append_pair_kind().alias("kind"), "d1", "d2", "jaccard")
    else:
        rows = _pair_and_overflow_rows(
            *_ppj_append_tick(spark, sf_dir, cap=_ROUTE_PROD_CAP, parts=parts)
        )
    body = rows.select(
        F.lit(route).alias("route"),
        "kind",
        F.col("d1").alias("k1"),
        F.col("d2").alias("k2"),
        F.col("jaccard").alias("score"),
    )
    return audit.unionByName(body)


def _routed_oracle_sql(batch_sql: str) -> str:
    """The conditional 3-branch DuckDB oracle for the routed ingest
    tick: replays the probe (same integer arithmetic), picks the same
    route, and emits ONLY the chosen route's rows. Unused branches are
    gated at their SOURCE CTEs on the route scalar, so their expensive
    joins/recursion see empty inputs (cost ~ one cached-scalar
    comparison per source row); the always-on cost is the frozen-order
    prefix pipeline, which the probe itself needs."""
    shift = _PPJ_APPEND_SHIFT
    return f"""
    WITH batchd AS MATERIALIZED ({batch_sql}),
    alldocs AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM batchd
    ),
    {shingle_sql_cte(gram="t", materialized=True, table="alldocs")},
    toks AS MATERIALIZED (
      SELECT doc_id AS doc, t FROM __sh
    ), basedf AS MATERIALIZED (
      SELECT t, count(*) AS dfr FROM toks WHERE doc < {shift} GROUP BY t
    ), ranked AS MATERIALIZED (
      SELECT doc, toks.t,
             row_number() OVER (PARTITION BY doc
                                ORDER BY coalesce(dfr, 0), toks.t) AS rn,
             count(*) OVER (PARTITION BY doc) AS sz
      FROM toks LEFT JOIN basedf ON toks.t = basedf.t
    ), prefix AS MATERIALIZED (
      SELECT doc, t FROM ranked WHERE rn <= sz - ceil(sz * 0.6) + 1
    ), pcnt AS MATERIALIZED (
      SELECT t,
             count(*) FILTER (WHERE doc < {shift}) AS bc,
             count(*) FILTER (WHERE doc >= {shift}) AS nc
      FROM prefix GROUP BY t
    ), probe AS MATERIALIZED (
      SELECT coalesce(sum(nc * bc + (nc * (nc - 1)) // 2), 0)::BIGINT AS est_cand,
             (SELECT count(*) FROM batchd)::BIGINT AS n_batch
      FROM pcnt
    ), route AS MATERIALIZED (
      SELECT CASE WHEN est_cand <= {_ROUTE_EXACT_DENSITY} * n_batch THEN 'exact'
                  WHEN est_cand <= {_ROUTE_CAPPED_DENSITY} * n_batch THEN 'capped'
                  ELSE 'cluster' END AS r,
             est_cand, n_batch
      FROM probe
    ), szt AS MATERIALIZED (
      SELECT doc, count(*) AS sz FROM toks GROUP BY doc
    ), toksx AS MATERIALIZED (
      SELECT doc, t FROM toks WHERE (SELECT r FROM route) = 'exact'
    ), dfx AS MATERIALIZED (
      SELECT t, count(*) AS dfr FROM toksx GROUP BY t
    ), rankedx AS MATERIALIZED (
      SELECT doc, toksx.t,
             row_number() OVER (PARTITION BY doc ORDER BY dfr, toksx.t) AS rn,
             count(*) OVER (PARTITION BY doc) AS sz
      FROM toksx JOIN dfx ON toksx.t = dfx.t
    ), prefx AS MATERIALIZED (
      SELECT doc, t FROM rankedx WHERE rn <= sz - ceil(sz * 0.6) + 1
    ), candx AS MATERIALIZED (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM prefx a JOIN prefx b ON a.t = b.t AND a.doc < b.doc
      WHERE b.doc >= {shift}
    ), interx AS (
      SELECT d1, d2, count(*) AS i
      FROM candx JOIN toks x ON x.doc = d1 JOIN toks y ON y.doc = d2 AND y.t = x.t
      GROUP BY 1, 2
    ), exact_out AS (
      SELECT 'exact' AS route,
             CASE WHEN d1 >= {shift} THEN 'new_new' ELSE 'base_new' END AS kind,
             d1 AS k1, d2 AS k2,
             round(i * 1.0 / (a.sz + b.sz - i), 6) AS score
      FROM interx JOIN szt a ON d1 = a.doc JOIN szt b ON d2 = b.doc
      WHERE i * 1.0 / (a.sz + b.sz - i) >= 0.6
    ), hotc AS MATERIALIZED (
      SELECT t FROM pcnt WHERE bc + nc > {_ROUTE_PROD_CAP}
    ), overflowc AS MATERIALIZED (
      SELECT DISTINCT doc FROM prefix
      WHERE (SELECT r FROM route) = 'capped' AND t IN (SELECT t FROM hotc)
    ), cprefc AS MATERIALIZED (
      SELECT doc, t FROM prefix
      WHERE (SELECT r FROM route) = 'capped'
        AND doc NOT IN (SELECT doc FROM overflowc)
    ), candc AS MATERIALIZED (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM cprefc a JOIN cprefc b ON a.t = b.t AND a.doc < b.doc
      WHERE b.doc >= {shift}
    ), interc AS (
      SELECT d1, d2, count(*) AS i
      FROM candc JOIN toks x ON x.doc = d1 JOIN toks y ON y.doc = d2 AND y.t = x.t
      GROUP BY 1, 2
    ), capped_out AS (
      SELECT 'capped' AS route, 'pair' AS kind, d1 AS k1, d2 AS k2,
             round(i * 1.0 / (a.sz + b.sz - i), 6) AS score
      FROM interc JOIN szt a ON d1 = a.doc JOIN szt b ON d2 = b.doc
      WHERE i * 1.0 / (a.sz + b.sz - i) >= 0.6
      UNION ALL
      SELECT 'capped', 'overflow', doc, NULL::BIGINT, NULL::DOUBLE
      FROM overflowc
    ),
    {minhash_banded_sql_cte(gram="t", doc_filter="WHERE (SELECT r FROM route) = 'cluster'")},
    {minhash_star_sql_cte()},
    {components_sql_cte("star")},
    touched AS (
      SELECT DISTINCT component FROM comp WHERE node >= {shift}
    ), cluster_out AS (
      SELECT 'cluster' AS route,
             CASE WHEN node >= {shift} THEN 'batch' ELSE 'base' END AS kind,
             node AS k1, component AS k2, NULL::DOUBLE AS score
      FROM comp WHERE component IN (SELECT component FROM touched)
    )
    SELECT route, kind, k1, k2, score FROM exact_out
    UNION ALL SELECT route, kind, k1, k2, score FROM capped_out
    UNION ALL SELECT route, kind, k1, k2, score FROM cluster_out
    UNION ALL SELECT r AS route, 'probe' AS kind, est_cand AS k1,
                     n_batch AS k2, NULL::DOUBLE AS score
    FROM route
    """


_ROUTED_BATCH_SQL = f"""
      SELECT doc_id + {_PPJ_APPEND_SHIFT} AS doc_id, text || '{_PPJ_APPEND_SUFFIX}' AS text
      FROM documents WHERE doc_id % {_PPJ_APPEND_MOD} = {_PPJ_APPEND_RES}
      UNION ALL
      SELECT doc_id + {2 * _PPJ_APPEND_SHIFT} AS doc_id, text || '{_PPJ_APPEND_SUFFIX}' AS text
      FROM documents WHERE doc_id % {_PPJ_APPEND_MOD} = {_PPJ_APPEND_RES}
"""

_DENSE_COPIES = 120
_DENSE_SUFFIX = " " + " ".join(f"zzdense{i}" for i in range(30))
_DENSE_BATCH_SQL = f"""
      SELECT {_PPJ_APPEND_SHIFT} + r.i AS doc_id,
             (SELECT text FROM documents ORDER BY doc_id LIMIT 1) || '{_DENSE_SUFFIX}' AS text
      FROM range({_DENSE_COPIES}) r(i)
"""


def _dense_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deliberately template-dominated ingest batch: _DENSE_COPIES
    identical near-copies of the corpus's first document plus a shared
    30-token frequency-0 suffix — the crawler-hits-a-boilerplate-site
    shape that SCALE_r10 measured blowing up the exact tick. The 1-row
    template collect is parameter-bounded (LIMIT 1)."""
    docs = Catalog(spark, sf_dir)["documents"]
    tmpl = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    return spark.range(_DENSE_COPIES).select(
        (F.col("id") + F.lit(_PPJ_APPEND_SHIFT)).alias("doc_id"),
        F.lit(tmpl + _DENSE_SUFFIX).alias("text"),
    )


@register(
    "dedup_ingest_tick_routed",
    _routed_oracle_sql(_ROUTED_BATCH_SQL),
    doc="AUTOMATED ingest-tick routing: the measured dup-density "
    "boundary of the exact PPJoin tick (SCALE_r10: 28x at 16x dup-dense "
    "replicas) becomes a runtime "
    "decision instead of a docstring rule. A cheap integer probe over "
    "the batch's prefix-bucket counts joined to the FROZEN base prefix "
    "index upper-bounds the exact tick's candidate volume "
    "(sum nc*bc + C(nc,2)) WITHOUT generating a single candidate pair, "
    "then routes: density <= 64/doc -> exact tick (full pair recall), "
    "<= 1024/doc -> capped tick at the production cap 64 (bounded "
    "candidates + overflow routing rows), beyond -> LSH cluster append "
    "(no pair emission at all; emits updated labels for every member "
    "of a touched cluster). The oracle replays the SAME probe in "
    "DuckDB and conditionally emits the chosen route's rows — route "
    "flips across scale factors stay value-checked by construction "
    "(this derived batch routes 'exact' at sf0.001 and 'capped' at "
    "sf0.01 — both branches exercised by the two gate corpora). First "
    "output row is the audit record (kind='probe', k1=est_cand, "
    "k2=n_batch). At 100 TB: the probe is O(batch prefixes) + one "
    "columnar scan of the persisted prefix index — the router itself "
    "can never be the bottleneck.",
)
def dedup_ingest_tick_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ingest_tick_routed(spark, sf_dir)


@register(
    "dedup_ingest_tick_routed_dense",
    _routed_oracle_sql(_DENSE_BATCH_SQL),
    doc="The routed ingest tick under a TEMPLATE-DOMINATED batch (120 "
    "identical near-copies of one base document + a shared frequency-0 "
    "suffix — the boilerplate-crawl shape): the density probe "
    "(C(120,2) candidates per shared prefix shingle) trips the "
    "cluster threshold and the tick degrades gracefully to the LSH "
    "cluster append — bounded star edges, zero pair emission — "
    "instead of emitting ~7k pairs per suffix shingle through the "
    "exact path. Together with dedup_ingest_tick_routed (exact/capped "
    "at the gate corpora) all three routes are driver-value-checked: "
    "the oracle replays the probe and the full union-corpus minhash "
    "rebuild restricted to touched clusters.",
)
def dedup_ingest_tick_routed_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ingest_tick_routed(spark, sf_dir, batch=_dense_batch(spark, sf_dir))


_WARM_COPIES = 12
_WARM_BATCH_SQL = f"""
      SELECT {_PPJ_APPEND_SHIFT} + r.i AS doc_id,
             (SELECT text FROM documents ORDER BY doc_id LIMIT 1) || '{_DENSE_SUFFIX}' AS text
      FROM range({_WARM_COPIES}) r(i)
"""


@register(
    "dedup_ingest_tick_routed_warm",
    _routed_oracle_sql(_WARM_BATCH_SQL),
    doc="The routed ingest tick in the MIDDLE density band (12 template "
    "copies: ~C(12,2) candidates per shared frequency-0 prefix shingle "
    "puts the probe between 64/doc and 1024/doc): routes to the CAPPED "
    "tick at the production cap 64 — pairs still emitted where buckets "
    "stay bounded, hot buckets spill to overflow routing rows. "
    "Completes the route coverage: routed (exact at both gate "
    "corpora) / routed_warm (capped) / routed_dense (cluster) — every "
    "branch of the router is a driver-value-checked configuration, "
    "not dead code behind an if.",
)
def dedup_ingest_tick_routed_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    tmpl = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    batch = spark.range(_WARM_COPIES).select(
        (F.col("id") + F.lit(_PPJ_APPEND_SHIFT)).alias("doc_id"),
        F.lit(tmpl + _DENSE_SUFFIX).alias("text"),
    )
    return _ingest_tick_routed(spark, sf_dir, batch=batch)
