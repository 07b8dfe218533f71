"""Deterministic sampling, splits, and binning for corpus preparation.

Training-data pipelines need *reproducible* subsets: a train/val/test
split must give the same answer on every run, on any cluster, after any
repartition — so RNG-based ``df.sample``/``sampleBy`` (seed + partition
dependent, and not reproducible in another engine) is the wrong tool for
assignment. Instead, bucket every row by a content hash of its key:

    bucket(id) = int(hex(md5(id)[:8])) mod 100

Pure column arithmetic — no state, no shuffle, embarrassingly parallel,
stable under any layout, and portable (the DuckDB oracle computes the
identical md5 buckets). Rows join their split by bucket range; a "10%
sample" is ``bucket < 10``. The same idea powers incremental
re-processing (process bucket b of 100 per run) and A/B cohorting.

``histogram_fixed`` is the scan-friendly binning counterpart: one pass,
one tiny shuffle of (bucket, count) partials.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize
from redcap_omop_etl_spark.functions.xxh_sql import xxh64_pmod, xxh64_sql_cte
from redcap_omop_etl_spark.sources.readers import Catalog
from redcap_omop_etl_spark.workload import register


def hash_bucket(key: Column, n_buckets: int = 100, family: str = "md5") -> Column:
    """Deterministic bucket in [0, n_buckets).

    ``family="md5"`` is the engine-portable default — every oracled query
    uses it so DuckDB can replay the bucketing bit-for-bit. ``family="xxh"``
    is the production fast path: Spark's codegen'd xxHash64 is roughly an
    order of magnitude cheaper per call than interpreted md5+conv, which
    matters for the scan-bound per-token hashers (DSIR weights, the hashed
    quality classifier) whose 64x slopes are dominated by md5 throughput.
    xxh-family queries are value-oracled too: ``functions/xxh_sql.py``
    replays Spark's xxhash64 bit-for-bit as pure DuckDB SQL (hash the
    DISTINCT key strings, join back — the kernel is ~100x costlier per
    call than native md5, and key streams are Zipfian)."""
    if family == "xxh":
        return F.pmod(F.xxhash64(key.cast("string")), F.lit(n_buckets)).cast("bigint")
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("bigint") % n_buckets


def split_assign(key: Column, cuts: dict[str, int]) -> Column:
    """Assign a named split by cumulative bucket ranges.

    ``cuts`` maps split name → percent (must sum to 100), e.g.
    ``{"train": 80, "val": 10, "test": 10}`` → buckets [0,80) train,
    [80,90) val, [90,100) test.
    """
    if sum(cuts.values()) != 100:
        raise ValueError(f"split percents must sum to 100, got {cuts}")
    b = hash_bucket(key)
    expr = None
    hi = 0
    for name, pct in cuts.items():
        hi += pct
        expr = F.when(b < hi, name) if expr is None else expr.when(b < hi, name)
    return expr


@register(
    "sampling_split_counts",
    """
    WITH assigned AS (
      SELECT n_chars,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT n_chars,
               cast(('0x' || substring(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) % 100 AS b
        FROM documents
      )
    )
    SELECT split, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
    FROM assigned GROUP BY split
    """,
    doc="Deterministic 80/10/10 train/val/test split by md5 key bucket — "
    "reproducible across runs, layouts, and engines (the oracle computes "
    "the identical buckets); pure column arithmetic, no RNG, no shuffle "
    "before the count.",
)
def sampling_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    split = split_assign(F.col("doc_id"), {"train": 80, "val": 10, "test": 10})
    return (
        d.select("n_chars", split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("n_chars"), 2).alias("avg_chars"))
    )


@register(
    "agg_histogram",
    """
    SELECT least(greatest(cast(floor((o_totalprice - 0) / 60000.0) AS int) + 1, 0), 11)
             AS bucket,
           count(*) AS n
    FROM orders
    GROUP BY 1
    """,
    doc="Fixed-width histogram via width_bucket(0..600000, 10 bins): one "
    "scan, partial counts before the single tiny shuffle. The oracle "
    "computes width_bucket's floor arithmetic explicitly (bucket 0 / 11 "
    "are the out-of-range gutters).",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir)["orders"]
    return (
        o.select(
            F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(10))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "join_null_safe",
    """
    WITH keyed AS (
      SELECT event_id, nullif(event_type, 'view') AS k FROM events
    ), dim(k, label) AS (
      VALUES ('purchase', 'PAID'), ('click', 'ENGAGED'), (NULL, 'SUPPRESSED')
    )
    SELECT label, count(*) AS n
    FROM keyed JOIN dim ON keyed.k IS NOT DISTINCT FROM dim.k
    GROUP BY label
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match the dim's NULL row instead of vanishing — the join form of the "
    "reference's fillna('') trick for null join keys "
    "(dcc_transforms.py:233), without corrupting the domain. Plans as a "
    "plain broadcast hash join on the null-safe key.",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    keyed = e.select("event_id", F.nullif("event_type", F.lit("view")).alias("k"))
    dim = spark.createDataFrame(
        [("purchase", "PAID"), ("click", "ENGAGED"), (None, "SUPPRESSED")], "k string, label string"
    )
    joined = keyed.join(F.broadcast(dim), keyed["k"].eqNullSafe(dim["k"]), "inner")
    return joined.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_sketch_reaggregation",
    """
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS sketch_within_tol
    FROM events
    GROUP BY event_type
    """,
    doc="Mergeable-summary pattern: per-(day, type) HLL sketches unioned "
    "up to per-type totals — the only scalable shape for distinct counts "
    "over rolling horizons at 100 TB (daily sketches persist; any window "
    "re-aggregates by union instead of rescanning raw events; "
    "count(DISTINCT) cannot re-aggregate). Datasketches-backed built-ins "
    "(hll_sketch_agg/hll_union_agg), JVM-side throughout. Sketch "
    "estimates are engine-specific, so the driver-checkable contract is "
    "the exact distinct count plus a Spark-side tolerance boolean "
    "(|est − exact| / exact ≤ 0.05; default lgConfigK=12 gives ~1.6% "
    "error) — the oracle asserts the exact side and a TRUE literal. "
    "pytest (TestSketchReaggregation) additionally pins the union-equals-"
    "direct-sketch property.",
)
def agg_sketch_reaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    daily = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "exact_users",
        ((F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")) <= F.lit(0.05)).alias(
            "sketch_within_tol"
        ),
    )


@register(
    "dq_profile_orders",
    """
    SELECT 'o_orderstatus' AS col,
           count(*) - count(o_orderstatus) AS n_nulls,
           count(DISTINCT o_orderstatus)   AS n_distinct,
           cast(min(o_orderstatus) AS varchar) AS min_s,
           cast(max(o_orderstatus) AS varchar) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey),
           cast(min(o_custkey) AS varchar),
           cast(max(o_custkey) AS varchar)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
           cast(round(min(o_totalprice), 2) AS varchar),
           cast(round(max(o_totalprice), 2) AS varchar)
    FROM orders
    """,
    doc="Data-quality profile (V1/V3 generalized): nulls, exact distincts, "
    "min/max for a column set in ONE aggregation — one scan + one Expand "
    "for the distincts; the per-column long form is an exploded struct "
    "array over the 1-row aggregate (free). The oracle recomputes each "
    "column with a separate scan — same values, which is the point: the "
    "engine gets the whole profile for one pass.",
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.validation import profile_table

    o = Catalog(spark, sf_dir)["orders"].select("o_orderstatus", "o_custkey", "o_totalprice")
    return profile_table(o)


@register(
    "dq_expectations",
    """
    SELECT 'o_custkey_not_null' AS check_name,
           (count(*) FILTER (WHERE o_custkey IS NULL))::BIGINT AS violations,
           count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_nonneg',
           count(*) FILTER (WHERE NOT coalesce(o_totalprice >= 0, FALSE)),
           count(*) FILTER (WHERE NOT coalesce(o_totalprice >= 0, FALSE)) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_domain',
           count(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE)),
           count(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE)) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderkey_unique',
           count(*) - count(DISTINCT o_orderkey),
           count(*) - count(DISTINCT o_orderkey) = 0
    FROM orders
    UNION ALL
    SELECT 'o_custkey_fk_customer',
           count(*),
           count(*) = 0
    FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    doc="Declarative expectations suite (V1/V3 as a first-class audit): "
    "null/range/domain row constraints AND key uniqueness all evaluate in "
    "ONE conditional aggregation over a single scan (the long form is an "
    "exploded struct array over the 1-row aggregate); referential "
    "integrity is one UNHINTED anti-join count against the key side "
    "(customer grows with SF, so AQE must be free to degrade the "
    "broadcast to a shuffle anti-join). "
    "The pipeline gate pattern at 100 TB: two jobs total, no "
    "per-constraint passes.",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    o, c = cat["orders"], cat["customer"]
    row_checks = {
        "o_custkey_not_null": F.col("o_custkey").isNotNull(),
        "o_totalprice_nonneg": F.col("o_totalprice") >= 0,
        "o_orderstatus_domain": F.col("o_orderstatus").isin("O", "F", "P"),
    }
    # coalesce(..., 0): over an EMPTY input, sum() is NULL but the oracle's
    # count(*) FILTER is 0 — the empty-table result must still match.
    aggs = [
        F.coalesce(
            F.sum(F.when(~F.coalesce(pred, F.lit(False)), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias(name)
        for name, pred in row_checks.items()
    ]
    aggs.append((F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("long").alias("o_orderkey_unique"))
    one = o.agg(*aggs)
    names = [*row_checks, "o_orderkey_unique"]
    long_form = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(n).alias("check_name"), F.col(n).alias("violations"))
                    for n in names
                ]
            )
        ).alias("e")
    ).select("e.*")
    fk = (
        # unhinted: customer grows with SF (SFx150k rows) — a forced
        # broadcast of the FK side is a driver OOM at 100 TB; AQE
        # broadcasts while it fits, shuffle anti-join on the key after
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("violations"))
        .select(F.lit("o_custkey_fk_customer").alias("check_name"), "violations")
    )
    return long_form.unionByName(fk).withColumn("passed", F.col("violations") == 0)


@register(
    "agg_boolean_suite",
    """
    SELECT event_type,
           count(*) FILTER (WHERE value > 50)  AS n_high,
           bool_and(value >= 0)                AS all_nonneg,
           bool_or(value > 99)                 AS any_extreme,
           count(*) FILTER (WHERE props IS NOT NULL) AS n_with_props
    FROM events
    GROUP BY event_type
    """,
    doc="Boolean aggregate family (count_if / bool_and / bool_or, the "
    "FILTER clause shape): all accumulate in the same single-pass "
    "partial+final hash aggregation.",
)
def agg_boolean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).alias("n_high"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 99).alias("any_extreme"),
        F.count_if(F.col("props").isNotNull()).alias("n_with_props"),
    )


@register(
    "agg_argminmax_bitops",
    """
    SELECT o_orderpriority,
           strftime(min_by(o_orderdate, o_orderkey), '%Y-%m-%d') AS first_keyed_date,
           strftime(max_by(o_orderdate, o_orderkey), '%Y-%m-%d') AS last_keyed_date,
           bit_and(o_orderkey % 1024 + 1024) AS key_and,
           bit_or(o_custkey % 4096)    AS cust_or,
           bit_xor(o_custkey)          AS cust_xor,
           count(*)::BIGINT            AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Argmin/argmax (min_by/max_by on the unique order key, so ties are "
    "impossible and the result is engine-deterministic) plus the bitwise "
    "aggregate family (bit_and/bit_or/bit_xor — commutative, so map-side "
    "partials merge exactly like sums). One hash-agg shuffle on the "
    "5-value priority key.",
)
def agg_argminmax_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir)["orders"]
    return o.groupBy("o_orderpriority").agg(
        F.date_format(F.min_by("o_orderdate", "o_orderkey"), "yyyy-MM-dd").alias("first_keyed_date"),
        F.date_format(F.max_by("o_orderdate", "o_orderkey"), "yyyy-MM-dd").alias("last_keyed_date"),
        F.bit_and(F.col("o_orderkey") % 1024 + 1024).alias("key_and"),
        F.bit_or(F.col("o_custkey") % 4096).alias("cust_or"),
        F.bit_xor("o_custkey").alias("cust_xor"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "try_arithmetic_suite",
    """
    SELECT o_orderkey,
           (o_totalprice / nullif(o_custkey % 10, 0)) IS NULL AS div_nulled,
           o_orderkey // nullif(o_custkey % 10, 0) AS int_div,
           try_cast(o_orderstatus AS int) AS status_as_int
    FROM orders
    """,
    doc="Non-aborting arithmetic (V3 function family): try_divide yields "
    "NULL on zero denominators instead of failing the job under ANSI "
    "mode, try_cast NULLs unparseable values — per-value error channels "
    "with zero branching in the hot path (DuckDB mirrors via nullif "
    "guards).",
)
def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 10).isNull().alias("div_nulled"),
        F.floor(F.try_divide(F.col("o_orderkey"), F.col("o_custkey") % 10)).cast("bigint").alias("int_div"),
        F.col("o_orderstatus").try_cast("int").alias("status_as_int"),
    )


@register(
    "agg_listagg_ordered",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           string_agg(DISTINCT extract(year FROM o_orderdate)::VARCHAR,
                      '|' ORDER BY extract(year FROM o_orderdate)::VARCHAR) AS years,
           count(*)::BIGINT AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Ordered-set string aggregation (ANSI SQL:2016 LISTAGG ... WITHIN "
    "GROUP): distinct values concatenated in a declared total order, so "
    "the result is engine-deterministic regardless of partial-merge "
    "order. DISTINCT bounds the state to the value domain (3 statuses, "
    "7 years), not the row count — safe at any fact-table scale. One "
    "hash-agg shuffle on the 5-value priority key.",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir)["orders"]
    # Spark 4.1's ListAgg rewrite chokes on a computed DISTINCT+ORDER BY
    # expression (internal withNewChildrenInternal assertion) — pre-project
    # the computed column so the aggregate sees a plain attribute.
    pre = o.select(
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").cast("string").alias("order_year"),
    )
    # Two DISTINCT ListAggs in one aggregate hit a second Spark 4.1 bug
    # (RewriteDistinctAggregates casts ListAgg's SortOrder child to
    # AttributeReference) — the second ordered distinct concat uses the
    # equivalent sort_array(collect_set()) formulation instead, which is
    # also the portable pre-SQL:2016 spelling.
    return pre.groupBy("o_orderpriority").agg(
        F.expr("listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)").alias("statuses"),
        F.array_join(F.sort_array(F.collect_set("order_year")), "|").alias("years"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "sampling_stratified_quota",
    """
    WITH ranked AS (
      SELECT o_orderpriority,
             extract(year FROM o_orderdate) AS order_year,
             o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority, extract(year FROM o_orderdate)
               ORDER BY md5(cast(o_orderkey AS varchar)), o_orderkey
             ) AS rn,
             count(*) OVER (
               PARTITION BY o_orderpriority, extract(year FROM o_orderdate)
             ) AS n_g
      FROM orders
    )
    SELECT o_orderpriority,
           cast(order_year AS int) AS order_year,
           max(n_g)::BIGINT AS n_total,
           count(*)::BIGINT AS n_sampled,
           round(sum(o_totalprice::DECIMAL(10,2))::DOUBLE, 2) AS sample_price
    FROM ranked
    WHERE rn <= ceil(n_g * 0.02)
    GROUP BY o_orderpriority, order_year
    """,
    doc="Exact-quota stratified sampling: every (priority, year) stratum "
    "contributes ceil(2%) of its rows, chosen as the lowest-md5-hash "
    "keys — deterministic across runs, layouts, and engines (no RNG; "
    "the oracle computes the identical hash order). One shuffle on the "
    "stratum key feeds both windows (rank + stratum size) and the final "
    "aggregate reuses the same partitioning. For rate-based sampling "
    "with no window at all, see sampling_split_counts / "
    "sample_fraction_by.",
)
def sampling_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = Catalog(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.year("o_orderdate").alias("order_year"),
        "o_totalprice",
        "o_orderkey",
    )
    strata = Window.partitionBy("o_orderpriority", "order_year")
    ranked = o.select(
        "o_orderpriority",
        "order_year",
        "o_totalprice",
        F.row_number()
        .over(strata.orderBy(F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")))
        .alias("rn"),
        F.count(F.lit(1)).over(strata).alias("n_g"),
    )
    return (
        ranked.filter(F.col("rn") <= F.ceil(F.col("n_g") * 0.02))
        .groupBy("o_orderpriority", "order_year")
        .agg(
            F.max("n_g").alias("n_total"),
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(10,2)")).cast("double"), 2).alias(
                "sample_price"
            ),
        )
    )


@register(
    "sampling_weighted_topk",
    """
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             pow((cast(('0x' || substring(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) + 1)
                   / 4294967296.0,
                 1.0 / greatest(n_chars, 1)) AS k
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           cast(floor(k * 1e9 + 0.5) AS bigint) AS key_e9
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 500
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES): "
    "each row draws u in (0,1] from a content hash (md5 -> 32-bit "
    "fraction, no RNG — reproducible on any engine/layout) and races "
    "with key u^(1/w), w = n_chars; the top-k keys ARE a weighted "
    "sample without replacement. One pass, no shuffle of the corpus: "
    "top-k is per-partition heaps + a k-row driver merge "
    "(TakeOrderedAndProject), so it holds at any corpus size. The "
    "standard primitive for quality-weighted corpus subsampling.",
)
def sampling_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    u = (hash_bucket(F.col("doc_id"), 4294967296) + 1) / F.lit(4294967296.0)
    k = F.pow(u, 1.0 / F.greatest(F.col("n_chars"), F.lit(1)))
    return (
        d.select("doc_id", "source", "n_chars", k.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(500)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.floor(F.col("k") * 1e9 + F.lit(0.5)).cast("bigint").alias("key_e9"),
        )
    )


def sample_fraction_by(key: Column, group: Column, fractions: dict[str, float], default: float = 0.0) -> Column:
    """Deterministic per-group sampling predicate (``sampleBy`` analog):
    keep a row iff its md5 bucket (0-99) falls under its group's
    fraction. Reproducible across runs/engines/layouts — the corpus-
    mixing primitive (upsample rare sources, downsample boilerplate).
    """
    b = hash_bucket(key)
    expr = None
    for g, frac in fractions.items():
        cut = int(round(frac * 100))
        cond = b < cut
        expr = F.when(group == g, cond) if expr is None else expr.when(group == g, cond)
    return expr.otherwise(b < int(round(default * 100)))


@register(
    "corpus_mixture",
    """
    WITH b AS (
      SELECT source, n_chars,
             cast(('0x' || substring(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) % 100
               AS bucket
      FROM documents
    )
    SELECT source, count(*) AS n_kept,
           cast(sum(n_chars) AS bigint) AS chars_kept
    FROM b
    WHERE (source = 'src0' AND bucket < 100)
       OR (source = 'src1' AND bucket < 50)
       OR (source NOT IN ('src0', 'src1') AND bucket < 20)
    GROUP BY source
    """,
    doc="Deterministic corpus mixing: per-source keep fractions "
    "(100%/50%/20% default) via md5 key buckets — the reproducible "
    "sampleBy for dataset mixtures; pure filter, no shuffle before the "
    "per-source rollup, identical sample under any partitioning.",
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    keep = sample_fraction_by(
        F.col("doc_id"), F.col("source"), {"src0": 1.0, "src1": 0.5}, default=0.2
    )
    return (
        d.filter(keep)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
    )


@register(
    "corpus_temperature_mixture",
    """
    WITH stats AS (
      SELECT source, sum(n_chars)::BIGINT AS chars_s FROM documents GROUP BY source
    ), w AS (
      SELECT source, chars_s, cast(floor(sqrt(chars_s) * 1000) AS bigint) AS w_s
      FROM stats
    ), tot AS (
      SELECT sum(chars_s)::BIGINT AS total, sum(w_s)::BIGINT AS wsum FROM w
    ), rates AS (
      SELECT source, chars_s,
             cast(floor(least(1.0, 0.3::DOUBLE * total * w_s / wsum / chars_s) * 10000 + 0.5)
                  AS bigint) AS cut
      FROM w, tot
    )
    SELECT d.source,
           count(*)::BIGINT AS n_kept,
           sum(d.n_chars)::BIGINT AS chars_kept,
           max(r.cut)::BIGINT AS rate_e4
    FROM documents d
    JOIN rates r ON d.source = r.source
    WHERE cast(('0x' || substring(md5(cast(d.doc_id AS varchar)), 1, 8)) AS bigint) % 10000
          < r.cut
    GROUP BY d.source
    """,
    doc="Temperature-scaled mixture sampling (alpha=0.5, the multilingual "
    "rebalancing allocation): per-source keep RATES are computed FROM the "
    "data — weight w_s ~ chars_s^alpha, budget 30% of the corpus, rate = "
    "min(1, budget*w_s / (wsum*chars_s)) — then applied as a "
    "deterministic md5-bucket filter. Weights are floor(sqrt*1000) "
    "INTEGERS so the cross-engine arithmetic has identical operands "
    "(integer sums are order-independent; double ops on equal operands "
    "are IEEE-identical) — no accumulation-order drift at any source "
    "count. Plan: dim-sized stats agg, 1-row scalar broadcast, rate "
    "table broadcast back; the corpus never shuffles before the final "
    "rollup.",
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    stats = d.groupBy("source").agg(F.sum("n_chars").cast("long").alias("chars_s"))
    w = stats.withColumn("w_s", F.floor(F.sqrt(F.col("chars_s")) * 1000).cast("long"))
    tot = w.agg(
        F.sum("chars_s").cast("long").alias("total"), F.sum("w_s").cast("long").alias("wsum")
    )
    rate = F.least(
        F.lit(1.0), 0.3 * F.col("total") * F.col("w_s") / F.col("wsum") / F.col("chars_s")
    )
    rates = (
        w.crossJoin(F.broadcast(tot))
        .select("source", F.floor(rate * 10000 + F.lit(0.5)).cast("long").alias("cut"))
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(hash_bucket(F.col("doc_id"), 10000) < F.col("cut"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
            F.max("cut").alias("rate_e4"),
        )
    )


@register(
    "sequence_packing",
    """
    WITH toks AS (
      SELECT doc_id,
             cast(doc_id % 16 AS int) AS pack_group,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
      FROM documents
    ), packed AS (
      SELECT doc_id, pack_group, n_tok,
             cast(floor((sum(n_tok) OVER (PARTITION BY pack_group ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / 512.0) AS int) AS bin_id
      FROM toks
    )
    SELECT pack_group, bin_id,
           count(*)             AS n_docs,
           cast(sum(n_tok) AS bigint) AS bin_tokens
    FROM packed
    GROUP BY pack_group, bin_id
    """,
    doc="Context-window sequence packing: documents packed into ~512-token "
    "training bins. Greedy packing is inherently sequential, so the "
    "scalable form shards into pack_groups (hash of the key) and packs "
    "within each by running token count. The shard count here is a fixed "
    "16, so the per-group running sum goes through the two-phase "
    "keyed_running_sum primitive (data-sized sort partitioned by "
    "(__pid, pack_group), offsets from a tiny per-(pid, group) summary) "
    "— parallelism stays at partition count even with few groups. "
    "Deterministic bin assignment under any layout; start-offset binning "
    "bounds overflow to one document per bin boundary.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_running_sum
    from redcap_omop_etl_spark.operators.textstats import ws_tokens

    d = Catalog(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % 16).cast("int").alias("pack_group"),
        F.size(ws_tokens(F.col("text"))).alias("n_tok"),
    )
    packed = keyed_running_sum(
        toks, ["pack_group"], ["doc_id"], "n_tok", "__ps"
    ).withColumn("bin_id", F.floor(F.col("__ps") / 512.0).cast("int"))
    return packed.groupBy("pack_group", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("bin_tokens"),
    )


@register(
    "corpus_pipeline_full",
    """
    WITH mixed AS (
      SELECT doc_id, source, text
      FROM (
        SELECT doc_id, source, text,
               cast(('0x' || substring(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) % 100
                 AS bucket
        FROM documents
      )
      WHERE (source = 'src0' AND bucket < 100)
         OR (source <> 'src0' AND bucket < 50)
    ), gated AS (
      SELECT doc_id, source, text FROM mixed
      WHERE length(text) >= 100
        AND length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text) < 0.2
    ), deduped AS (
      SELECT source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             min(doc_id) AS keep_id,
             min(len(string_split_regex(lower(trim(text)), '\\s+'))) AS n_tok
      FROM gated GROUP BY 1, 2
    ), packed AS (
      SELECT source, keep_id, n_tok,
             cast(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY keep_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / 512.0) AS int) AS bin_id
      FROM deduped
    )
    SELECT source,
           count(*)                          AS kept_docs,
           cast(sum(n_tok) AS bigint)        AS total_tokens,
           cast(count(DISTINCT bin_id) AS bigint) AS n_bins
    FROM packed GROUP BY source
    """,
    doc="Capstone composition: deterministic mixture (100%/50%) → quality "
    "gate → per-source exact dedup → sequence packing → per-source "
    "corpus stats, ONE declarative plan. The mixture and gate are "
    "scan-time filters; dedup is a (source, fp) hash agg; packing's "
    "per-source running sum goes through the two-phase "
    "keyed_running_sum primitive (source has ~20 values — a naive "
    "source-keyed window would cap the sort at 20 tasks at any cluster "
    "size); every stage is an operator demonstrated standalone "
    "elsewhere in the registry — this query pins that they compose "
    "without materialization barriers.",
)
def corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_running_sum
    from redcap_omop_etl_spark.operators.textstats import (
        fingerprint_md5,
        ws_tokens,
    )

    d = Catalog(spark, sf_dir)["documents"]
    keep = sample_fraction_by(F.col("doc_id"), F.col("source"), {"src0": 1.0}, default=0.5)
    n = F.length("text")
    n_digit = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    gated = d.filter(keep).filter((n >= 100) & (n_digit / n < 0.2))
    deduped = (
        gated.select(
            "source",
            "doc_id",
            fingerprint_md5(F.col("text")).alias("fp"),
            F.size(ws_tokens(F.col("text"))).alias("n_tok"),
        )
        .groupBy("source", "fp")
        .agg(F.min("doc_id").alias("keep_id"), F.min("n_tok").alias("n_tok"))
    )
    packed = keyed_running_sum(
        deduped, ["source"], ["keep_id"], "n_tok", "__ps"
    ).withColumn("bin_id", F.floor(F.col("__ps") / 512.0).cast("int"))
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.count_distinct("bin_id").alias("n_bins"),
    )


@register(
    "corpus_source_caps",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(*) FILTER (WHERE rk <= 10)::BIGINT AS n_kept,
           count(*) FILTER (WHERE rk > 10)::BIGINT AS n_dropped,
           sum(n_chars) FILTER (WHERE rk <= 10)::BIGINT AS kept_chars
    FROM ranked
    GROUP BY source
    """,
    doc="Per-source document quota (training-mixture enforcement): rank "
    "each source's documents by a deterministic priority (length desc, "
    "doc_id tie-break), cap at K=10, and report the kept/dropped audit "
    "per source. Plan: the kept side is the two-phase keyed_topk — a "
    "local top-K inside every EXISTING scan partition (no corpus "
    "shuffle at all), then an exact per-source rank over the "
    "≤ #partitions×K-row candidate frame — and the totals are one "
    "map-side-combined hash agg; the two dim-sized results broadcast-"
    "join. A naive source-keyed rank window would shuffle the whole "
    "corpus onto ~20 source values and sort each inside one task.",
)
def corpus_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_topk

    d = Catalog(spark, sf_dir)["documents"]
    docs = d.select("source", "n_chars", "doc_id")
    top = keyed_topk(docs, ["source"], [F.col("n_chars").desc(), "doc_id"], 10)
    kept = top.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return totals.join(F.broadcast(kept), "source").select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
        "kept_chars",
    )


_PACK_BIN = 512
_LEN_BUCKET = 64


@register(
    "corpus_packing_efficiency",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
      FROM documents
    ), naive AS (
      SELECT n_tok,
             coalesce(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_PACK_BIN} AS bin
      FROM t
    ), nbins AS (
      SELECT bin, sum(n_tok) AS bt FROM naive GROUP BY bin
    ), bucketed AS (
      SELECT n_tok, n_tok // {_LEN_BUCKET} AS bucket,
             coalesce(sum(n_tok) OVER (PARTITION BY n_tok // {_LEN_BUCKET}
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_PACK_BIN} AS bin
      FROM t
    ), bbins AS (
      SELECT bucket, bin, sum(n_tok) AS bt FROM bucketed GROUP BY bucket, bin
    ), tot AS (
      SELECT sum(n_tok)::BIGINT AS total FROM t
    )
    SELECT 'naive' AS strategy,
           (SELECT count(*) FROM nbins)::BIGINT AS n_bins,
           (SELECT total FROM tot) AS total_tokens,
           (SELECT sum(greatest(bt, {_PACK_BIN})) FROM nbins)::BIGINT
             AS padded_tokens,
           (((SELECT sum(greatest(bt, {_PACK_BIN})) FROM nbins)
             - (SELECT total FROM tot)) * 1000000
             // (SELECT sum(greatest(bt, {_PACK_BIN})) FROM nbins))::BIGINT AS waste_ppm
    UNION ALL
    SELECT 'length_bucketed' AS strategy,
           (SELECT count(*) FROM bbins)::BIGINT,
           (SELECT total FROM tot),
           (SELECT sum(greatest(bt, {_PACK_BIN})) FROM bbins)::BIGINT,
           (((SELECT sum(greatest(bt, {_PACK_BIN})) FROM bbins)
             - (SELECT total FROM tot)) * 1000000
             // (SELECT sum(greatest(bt, {_PACK_BIN})) FROM bbins))::BIGINT
    """,
    doc="Padding-waste audit of two context-window packing strategies "
    f"(bin budget {_PACK_BIN} tokens): NAIVE (one global doc_id-ordered "
    f"stream) vs LENGTH-BUCKETED (docs grouped into {_LEN_BUCKET}-token "
    "length buckets first — the standard trick to cut padding, since "
    "similar-length docs pack bins tighter). Each bin pads to "
    "max(budget, bin tokens); waste_ppm = padded−total over padded, "
    "exact integers. BOTH running sums go through the two-phase "
    "keyed_running_sum — the naive one on a CONSTANT key, i.e. a "
    "GLOBAL prefix sum computed with NO single-task global window "
    "(the degenerate lowest-cardinality case of the primitive).",
)
def corpus_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_running_sum
    from redcap_omop_etl_spark.operators.textstats import ws_tokens

    d = Catalog(spark, sf_dir)["documents"]
    t = d.select("doc_id", F.size(ws_tokens(F.col("text"))).alias("n_tok"))

    def bins(df, keys):
        ps = keyed_running_sum(df, keys, ["doc_id"], "n_tok", "__ps")
        return (
            ps.select(*keys, F.expr(f"__ps div {_PACK_BIN}").alias("bin"), "n_tok")
            .groupBy(*keys, "bin")
            .agg(F.sum("n_tok").alias("bt"))
        )

    def audit(binned, strategy):
        return binned.agg(
            F.lit(strategy).alias("strategy"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("bt").cast("bigint").alias("total_tokens"),
            F.sum(F.greatest(F.col("bt"), F.lit(_PACK_BIN))).cast("bigint").alias(
                "padded_tokens"
            ),
            F.expr(
                f"CAST((sum(greatest(bt, {_PACK_BIN})) - sum(bt)) * 1000000 "
                f"div sum(greatest(bt, {_PACK_BIN})) AS BIGINT)"
            ).alias("waste_ppm"),
        )

    naive = bins(t.withColumn("__one", F.lit(1)), ["__one"]).drop("__one")
    bucketed = bins(
        t.withColumn("bucket", F.expr(f"n_tok div {_LEN_BUCKET}")), ["bucket"]
    )
    return audit(naive, "naive").unionByName(audit(bucketed, "length_bucketed"))


_EPOCH_SHARDS = 8


@register(
    "corpus_epoch_shuffle",
    f"""
    WITH t AS (
      SELECT doc_id, md5(doc_id::VARCHAR) AS h FROM documents
    ), r AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY h, doc_id) - 1 AS idx
      FROM t
    )
    SELECT doc_id,
           (idx % {_EPOCH_SHARDS})::BIGINT AS shard,
           (idx // {_EPOCH_SHARDS})::BIGINT AS pos
    FROM r
    """,
    doc="Deterministic epoch shuffle for a training loader: every "
    "document gets a pseudo-random but REPRODUCIBLE (shard, position) "
    "assignment — order by md5(doc_id), round-robin the shuffled rank "
    f"across {_EPOCH_SHARDS} shards (balanced to ±1 by construction), "
    "position = rank div shards. The shuffled rank is the two-phase "
    "with_global_index (range exchange on the hash, per-partition "
    "row_number + broadcast offsets), so the 'global sort' a naive "
    "row_number would serialize into one task is range-partitioned at "
    "full parallelism; different epochs = salt the hash "
    "(md5(seed || doc_id)). No RNG, no collect.",
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.sinks.chunked import with_global_index

    d = Catalog(spark, sf_dir)["documents"]
    t = d.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"))
    idx = with_global_index(t, ["h", "doc_id"], "__idx")
    return idx.select(
        "doc_id",
        (F.col("__idx") % _EPOCH_SHARDS).cast("bigint").alias("shard"),
        F.expr(f"__idx div {_EPOCH_SHARDS}").cast("bigint").alias("pos"),
    )


_TOKEN_BUDGET = 800


@register(
    "corpus_token_budget_cut",
    f"""
    WITH t AS (
      SELECT source, doc_id, n_chars,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
      FROM documents
    ), r AS (
      SELECT source, n_tok,
             coalesce(sum(n_tok) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS ps
      FROM t
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(*) FILTER (WHERE ps < {_TOKEN_BUDGET})::BIGINT AS n_kept,
           sum(n_tok) FILTER (WHERE ps < {_TOKEN_BUDGET})::BIGINT AS kept_tokens,
           (sum(n_tok) FILTER (WHERE ps < {_TOKEN_BUDGET})
              * 1000000 // {_TOKEN_BUDGET})::BIGINT AS fill_ppm
    FROM r GROUP BY source
    """,
    doc="Per-source TOKEN budget enforcement (the token-quota counterpart "
    f"to corpus_source_caps' doc quota): rank each source's documents by "
    "deterministic priority (length desc, doc_id), keep documents whose "
    f"EXCLUSIVE running token sum is under the {_TOKEN_BUDGET}-token "
    "budget (start-offset rule — overflow bounded to one document), "
    "report kept counts/tokens and integer fill ppm. The running sum is "
    "the two-phase keyed_running_sum (source has ~20 values; a naive "
    "source-keyed window would cap the sort at 20 tasks at any cluster "
    "size); the audit aggregate rides the same frame.",
)
def corpus_token_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_running_sum
    from redcap_omop_etl_spark.operators.textstats import ws_tokens

    d = Catalog(spark, sf_dir)["documents"]
    t = d.select(
        "source", "doc_id", "n_chars", F.size(ws_tokens(F.col("text"))).alias("n_tok")
    )
    r = keyed_running_sum(
        t, ["source"], [F.desc("n_chars"), "doc_id"], "n_tok", "ps"
    )
    kept = F.col("ps") < _TOKEN_BUDGET
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tok"))).cast("bigint").alias("kept_tokens"),
        F.expr(
            f"CAST(sum(CASE WHEN ps < {_TOKEN_BUDGET} THEN n_tok END) "
            f"* 1000000 div {_TOKEN_BUDGET} AS BIGINT)"
        ).alias("fill_ppm"),
    )


@register(
    "dq_distribution_drift",
    """
    WITH counts AS MATERIALIZED (
      SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY source, n_chars
    ), vals AS MATERIALIZED (
      SELECT DISTINCT v FROM counts
    ), s_tot AS MATERIALIZED (
      SELECT source, sum(c)::BIGINT AS n_s FROM counts GROUP BY source
    ), grid AS (
      SELECT s.source, vals.v, coalesce(c.c, 0) AS c
      FROM s_tot s CROSS JOIN vals
      LEFT JOIN counts c ON c.source = s.source AND c.v = vals.v
    ), cum2 AS (
      SELECT g.source, g.v,
             sum(g.c) OVER (PARTITION BY g.source ORDER BY g.v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
      FROM grid g
    ), corpus AS (
      SELECT v, sum(cum_s) AS cum_all FROM cum2 GROUP BY v
    ), tot AS (
      SELECT sum(n_s)::BIGINT AS n FROM s_tot
    )
    SELECT c2.source,
           max(s.n_s)::BIGINT AS n_docs,
           max(cast(floor(abs(c2.cum_s * 1.0 / s.n_s
                              - co.cum_all * 1.0 / (SELECT n FROM tot)) * 1e6 + 0.5)
                    AS bigint)) AS ks_e6
    FROM cum2 c2
    JOIN corpus co ON c2.v = co.v
    JOIN s_tot s ON c2.source = s.source
    GROUP BY c2.source
    """,
    doc="Distribution-drift audit: exact two-sample Kolmogorov-Smirnov "
    "statistic of each source's n_chars distribution vs the pooled "
    "corpus, evaluated on the full pooled value grid (so jumps at "
    "values a source never emits still count). The grid is "
    "(sources x distinct values) — bounded by the value DOMAIN, not row "
    "count; per-source CDFs are windowed cumsums over that grid and the "
    "corpus CDF is their sum (one pass, no second scan). All "
    "divisions run on identical integer operands, so the statistic is "
    "bit-stable cross-engine. Complements corpus_source_divergence "
    "(token-level KL) with a length-distribution lens.",
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = Catalog(spark, sf_dir)["documents"]
    counts = d.groupBy("source", F.col("n_chars").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    vals = counts.select("v").distinct()
    s_tot = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    grid = (
        s_tot.crossJoin(F.broadcast(vals))
        .join(counts, ["source", "v"], "left")
        .select("source", "v", "n_s", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.withColumn("cum_s", F.sum("c").over(w))
    corpus = cum.groupBy("v").agg(F.sum("cum_s").alias("cum_all"))
    n = s_tot.agg(F.sum("n_s").cast("long").alias("n"))
    gap = F.abs(
        F.col("cum_s") * F.lit(1.0) / F.col("n_s") - F.col("cum_all") * F.lit(1.0) / F.col("n")
    )
    return (
        cum.join(F.broadcast(corpus), "v")
        .crossJoin(F.broadcast(n))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.max(F.floor(gap * 1e6 + F.lit(0.5)).cast("long")).alias("ks_e6"),
        )
    )


# Benford expected first-digit probabilities log10(1 + 1/d), materialized
# ONCE in Python and inlined as identical 17-sig-digit literals in both
# engines — calling log10() in each engine would race libm vs JVM ulps.
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_VALUES = ", ".join(f"({d}, {p!r})" for d, p in _BENFORD_P.items())


@register(
    "dq_benford_audit",
    f"""
    WITH c AS (
      SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders
    ), d AS (
      SELECT substring(cents::VARCHAR, 1, 1)::BIGINT AS digit,
             count(*)::BIGINT AS n_obs
      FROM c GROUP BY 1
    ), bp(digit, p) AS (VALUES {_BENFORD_VALUES}),
    j AS (
      SELECT bp.digit, coalesce(d.n_obs, 0)::BIGINT AS n_obs, bp.p::DOUBLE AS p,
             sum(coalesce(d.n_obs, 0)) OVER ()::DOUBLE AS n
      FROM bp LEFT JOIN d USING (digit)
    )
    SELECT digit, n_obs,
           round(n_obs / n, 6)  AS obs_share,
           round(p, 6)          AS benford_p,
           round(sum((n_obs - n * p) * (n_obs - n * p) / (n * p)) OVER (), 6)
             AS chi2_total
    FROM j
    """,
    doc="Benford's-law first-significant-digit audit of o_totalprice (the "
    "classic fabricated-data / DQ screen): digit taken from the exact "
    "integer-cents value's decimal string (leading digit is invariant "
    "under x100, and integer-to-string is formatting-stable cross-engine, "
    "unlike double log10 digit extraction which races libm ulps at "
    "power-of-ten boundaries); expected shares are Python-materialized "
    "literals identical in both engines. One scan + one 9-row hash agg; "
    "the chi-square total runs on the digit-domain-bounded (9-row) "
    "global window.",
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = Catalog(spark, sf_dir)["orders"]
    digit = F.substring(F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
    counts = o.groupBy(digit.cast("bigint").alias("digit")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    bp = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P.items()], "digit bigint, p double"
    )
    w = W.partitionBy()
    # Drive from the 9-row expected table (LEFT join, n_obs → 0): a digit
    # absent from the data must still contribute its full (0 − n·p)²/(n·p)
    # term — an inner join would silently drop exactly the terms that
    # signal the strongest Benford deviation.
    j = (
        bp.join(F.broadcast(counts), "digit", "left")
        .withColumn("n_obs", F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint"))
        .withColumn("n", F.sum("n_obs").over(w).cast("double"))
    )
    dev = F.col("n_obs") - F.col("n") * F.col("p")
    chi = dev * dev / (F.col("n") * F.col("p"))  # explicit multiply: pow(x,2) may race x*x by an ulp
    return j.select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs") / F.col("n"), 6).alias("obs_share"),
        F.round("p", 6).alias("benford_p"),
        F.round(F.sum(chi).over(w), 6).alias("chi2_total"),
    )


@register(
    "dq_referential_integrity",
    """
    WITH li AS (
      SELECT count(*) AS n_child,
             sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_orphan
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), oc AS (
      SELECT count(*) AS n_child,
             sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS n_orphan
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ), cn AS (
      SELECT count(*) AS n_child,
             sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS n_orphan
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT 'lineitem->orders' AS relationship,
           n_child::BIGINT AS n_child, n_orphan::BIGINT AS n_orphan FROM li
    UNION ALL
    SELECT 'orders->customer', n_child::BIGINT, n_orphan::BIGINT FROM oc
    UNION ALL
    SELECT 'customer->nation', n_child::BIGINT, n_orphan::BIGINT FROM cn
    ORDER BY relationship
    """,
    doc="Referential-integrity audit down the fact->dim chain "
    "(lineitem->orders->customer->nation): child row counts plus orphan "
    "counts from LEFT-join null probes — the FK check every ingest "
    "pipeline runs before trusting joins, and the one that must NOT be "
    "an anti-join-per-relationship full scan pile-up. Each relationship "
    "is one join (parent side broadcast when dim-sized, AQE otherwise) "
    "collapsed to a 1-row aggregate; the three 1-row results union. All "
    "outputs exact integers.",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)

    def probe(child: DataFrame, ck: str, parent: DataFrame, pk: str, label: str) -> DataFrame:
        j = child.select(F.col(ck)).join(
            parent.select(F.col(pk)).distinct(), child[ck] == parent[pk], "left"
        )
        return j.agg(
            F.lit(label).alias("relationship"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col(pk).isNull().cast("int")).cast("bigint").alias("n_orphan"),
        ).select("relationship", "n_child", "n_orphan")

    out = (
        probe(cat["lineitem"], "l_orderkey", cat["orders"], "o_orderkey", "lineitem->orders")
        .unionByName(
            probe(cat["orders"], "o_custkey", cat["customer"], "c_custkey", "orders->customer")
        )
        .unionByName(
            probe(cat["customer"], "c_nationkey", cat["nation"], "n_nationkey", "customer->nation")
        )
    )
    return out.orderBy("relationship")


# Poisson(1) CDF cutoffs at 1e-6 resolution, Python-materialized once and
# inlined as identical integer literals in both engines (math.exp in each
# engine would race libm ulps): P(W<=k) for k=0..3; u >= the last cutoff
# draws w=4 (P ~ 0.0019 covers the tail well enough for CI work).
_POISSON1_CUTS = (367879, 735758, 919698, 981011)
N_BOOTSTRAP = 20


@register(
    "sampling_poisson_bootstrap",
    f"""
    WITH reps(b) AS (SELECT unnest(range(1, {N_BOOTSTRAP + 1}))),
    w AS (
      SELECT d.source, d.n_chars, reps.b,
             (CASE WHEN u < {_POISSON1_CUTS[0]} THEN 0
                   WHEN u < {_POISSON1_CUTS[1]} THEN 1
                   WHEN u < {_POISSON1_CUTS[2]} THEN 2
                   WHEN u < {_POISSON1_CUTS[3]} THEN 3
                   ELSE 4 END) AS wt
      FROM (SELECT source, n_chars, doc_id,
                   ('0x' || substring(md5(doc_id::VARCHAR || ':' || reps2.b::VARCHAR), 1, 15))::BIGINT
                     % 1000000 AS u, reps2.b
            FROM documents CROSS JOIN (SELECT unnest(range(1, {N_BOOTSTRAP + 1})) AS b) reps2
           ) d JOIN reps ON d.b = reps.b
    ), means AS (
      SELECT source, b,
             sum(wt * n_chars)::DOUBLE / nullif(sum(wt), 0) AS mean_b
      FROM w GROUP BY source, b
    ), ranked AS (
      SELECT source, mean_b,
             row_number() OVER (PARTITION BY source ORDER BY mean_b, b) AS rk
      FROM means WHERE mean_b IS NOT NULL
    ), base AS (
      SELECT source, count(*) AS n_docs,
             sum(n_chars)::DOUBLE / count(*) AS mean_chars
      FROM documents GROUP BY source
    )
    SELECT base.source, base.n_docs::BIGINT AS n_docs,
           round(base.mean_chars, 4) AS mean_chars,
           round(min(CASE WHEN rk = 2 THEN mean_b END), 4) AS ci_lo,
           round(min(CASE WHEN rk = {N_BOOTSTRAP - 1} THEN mean_b END), 4) AS ci_hi
    FROM base JOIN ranked USING (source)
    GROUP BY base.source, base.n_docs, base.mean_chars
    """,
    doc=f"Deterministic Poisson bootstrap ({N_BOOTSTRAP} resamples): the "
    "large-scale resampling technique — each row's weight in resample b "
    "is a Poisson(1) draw inverted from a portable hash of (doc_id, b), "
    "so the WHOLE bootstrap is one pass over rows x B with NO sampling "
    "state, reproducible across runs/engines/layouts, and the CI for "
    "each source's mean doc length falls out of the 2nd/19th ranked "
    "resample means (10%-90%). Cutoffs are Python-materialized integer "
    "literals (no engine exp()); resample means are single double "
    "divisions of exact integer sums. Shuffle: one (source, b) hash agg "
    "over rows x B, then a B-bounded rank window per source.",
)
def sampling_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _poisson_bootstrap_frame(spark, sf_dir, family="md5")


@register(
    "sampling_poisson_bootstrap_fast",
    f"""
    WITH ks AS (
      SELECT d.source, d.n_chars, reps2.b,
             d.doc_id::VARCHAR || ':' || reps2.b::VARCHAR AS k
      FROM documents d
      CROSS JOIN (SELECT unnest(range(1, {N_BOOTSTRAP + 1})) AS b) reps2
    ), {xxh64_sql_cte("ks", col="k", keys=("source", "n_chars", "b"))},
    w AS (
      SELECT source, n_chars, b,
             (CASE WHEN u < {_POISSON1_CUTS[0]} THEN 0
                   WHEN u < {_POISSON1_CUTS[1]} THEN 1
                   WHEN u < {_POISSON1_CUTS[2]} THEN 2
                   WHEN u < {_POISSON1_CUTS[3]} THEN 3
                   ELSE 4 END) AS wt
      FROM (SELECT source, n_chars, b, {xxh64_pmod(1000000)} AS u FROM __xxh)
    ), means AS (
      SELECT source, b,
             sum(wt * n_chars)::DOUBLE / nullif(sum(wt), 0) AS mean_b
      FROM w GROUP BY source, b
    ), ranked AS (
      SELECT source, mean_b,
             row_number() OVER (PARTITION BY source ORDER BY mean_b, b) AS rk
      FROM means WHERE mean_b IS NOT NULL
    ), base AS (
      SELECT source, count(*) AS n_docs,
             sum(n_chars)::DOUBLE / count(*) AS mean_chars
      FROM documents GROUP BY source
    )
    SELECT base.source, base.n_docs::BIGINT AS n_docs,
           round(base.mean_chars, 4) AS mean_chars,
           round(min(CASE WHEN rk = 2 THEN mean_b END), 4) AS ci_lo,
           round(min(CASE WHEN rk = {N_BOOTSTRAP - 1} THEN mean_b END), 4) AS ci_hi
    FROM base JOIN ranked USING (source)
    GROUP BY base.source, base.n_docs, base.mean_chars
    """,
    doc="Production-hash twin of sampling_poisson_bootstrap: identical "
    "plan (rows x B Poisson-weight explode, one (source, b) map-side-"
    "combined agg, B-bounded rank), drawing u from Spark's codegen'd "
    "xxHash64 over the same (doc_id, ':', b) key instead of the oracle-"
    "portable interpreted md5+conv. Round-8 re-measure (brief item 5) "
    "showed the md5 draw IS the wall: 6.54 s vs 0.94 s at 64x data on "
    "the same plan (85% hash throughput, the DSIR/classifier md5-tax "
    "class — scan-bound, parallelizes freely with executors). Different "
    "hash family => different (equally valid) resamples, so CI endpoints "
    "differ numerically from the md5 twin by construction.",
)
def sampling_poisson_bootstrap_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _poisson_bootstrap_frame(spark, sf_dir, family="xxh")


def _poisson_bootstrap_frame(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = Catalog(spark, sf_dir)["documents"]
    reps = F.explode(F.sequence(F.lit(1), F.lit(N_BOOTSTRAP))).alias("b")
    key = F.concat_ws(":", F.col("doc_id"), F.col("b"))
    if family == "xxh":
        u = F.pmod(F.xxhash64(key), F.lit(1000000))
    else:
        u = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % 1000000
    wt = (
        F.when(u < _POISSON1_CUTS[0], 0)
        .when(u < _POISSON1_CUTS[1], 1)
        .when(u < _POISSON1_CUTS[2], 2)
        .when(u < _POISSON1_CUTS[3], 3)
        .otherwise(4)
    )
    w = d.select("source", "n_chars", "doc_id", reps).select(
        "source", "b", wt.alias("wt"), F.col("n_chars").alias("x")
    )
    means = w.groupBy("source", "b").agg(
        (F.sum(F.col("wt") * F.col("x")).cast("double") / F.nullif(F.sum("wt"), F.lit(0))).alias(
            "mean_b"
        )
    )
    # NULL mean_b (an all-zero-weight resample — probability e^-n, real
    # for tiny sources) is dropped BEFORE ranking on both sides: Spark's
    # row_number puts NULLS FIRST, DuckDB's NULLS LAST, so an unfiltered
    # NULL would shift rk and flip ci_lo/ci_hi cross-engine.
    rk = F.row_number().over(W.partitionBy("source").orderBy("mean_b", "b"))
    ranked = means.filter(F.col("mean_b").isNotNull()).select("source", "mean_b", rk.alias("rk"))
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
    )
    return (
        base.join(ranked, "source")
        .groupBy("source", "n_docs", "mean_chars")
        .agg(
            F.round(F.min(F.when(F.col("rk") == 2, F.col("mean_b"))), 4).alias("ci_lo"),
            F.round(
                F.min(F.when(F.col("rk") == N_BOOTSTRAP - 1, F.col("mean_b"))), 4
            ).alias("ci_hi"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round("mean_chars", 4).alias("mean_chars"),
            "ci_lo",
            "ci_hi",
        )
    )


N_FOLDS = 5


@register(
    "sampling_group_kfold",
    f"""
    WITH f AS (
      SELECT user_id, event_type,
             cast(('0x' || substring(md5(cast(user_id AS varchar)), 1, 8)) AS BIGINT)
               % {N_FOLDS} AS fold
      FROM events
    )
    SELECT fold,
           count(DISTINCT user_id)::BIGINT AS n_users,
           count(*)::BIGINT AS n_events,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
             AS n_purchases
    FROM f GROUP BY fold ORDER BY fold
    """,
    doc=f"Leakage-safe grouped {N_FOLDS}-fold assignment (GroupKFold): the "
    "fold is a deterministic md5 bucket of the GROUP key (user_id), so "
    "every event of a user lands in exactly one fold BY CONSTRUCTION — "
    "the property that keeps cross-validation honest when rows within a "
    "group are correlated (per-row random splits leak a user's behavior "
    "across train and eval). No RNG, no state: the assignment replays "
    "identically across runs, engines, and partitionings, and adding "
    "data never reassigns an existing user. One hash agg on fold; the "
    "per-fold class balance (purchases) rides the same pass. Group "
    "exclusivity is pinned by tests/test_round6_ops.py.",
)
def sampling_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    f = e.select(
        "user_id",
        "event_type",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % N_FOLDS
        ).alias("fold"),
    )
    return (
        f.groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed-feature importance weights (targeted resampling)
# ---------------------------------------------------------------------------

_DSIR_B = 256  # hashed feature buckets


@register(
    "corpus_dsir_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, lang,
             cast(('0x' || substring(md5(g), 1, 8)) AS bigint) % {_DSIR_B} AS b
      FROM (SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS g
            FROM toks WHERE len(t) >= 2)
    ), raw AS (SELECT b, count(*) AS cr FROM bg GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT sum(cr) FROM raw)::BIGINT AS nr,
                   (SELECT sum(ct) FROM tgt)::BIGINT AS nt),
    tab AS (
      SELECT raw.b,
             CAST(round((1000000.0 * (coalesce(ct, 0) + 1) * (nr + {_DSIR_B}))
                        / ((cr + 1) * (nt + {_DSIR_B}))) AS BIGINT) AS ratio_micro
      FROM raw LEFT JOIN tgt USING (b), tot
    )
    SELECT doc_id, lang,
           count(*)::BIGINT AS n_feats,
           sum(ratio_micro)::BIGINT AS score_micro,
           (sum(ratio_micro)::BIGINT // count(*)) AS mean_ratio_micro,
           CAST(CASE WHEN sum(ratio_micro)::BIGINT // count(*) >= 1000000
                     THEN 1 ELSE 0 END AS INT) AS target_like
    FROM bg JOIN tab USING (b)
    GROUP BY doc_id, lang
    """,
    doc="DSIR-style data selection: score every doc by how target-like its "
    "hashed n-gram features are (target = the English slice, raw = the "
    "whole corpus), the importance-resampling recipe for steering a "
    "pretraining mixture toward a target domain without a trained "
    "classifier. Word bigrams hash into 256 buckets; each bucket gets a "
    "smoothed target/raw probability ratio; a doc's score is the exact "
    "integer sum of its features' ratios in 1e-6 units (ratios are "
    "single-division micro-quantized BIGINTs, so cross-engine sums are "
    "bit-identical — no transcendental log-likelihoods whose last-ulp "
    "could differ between engines). Plan: one explode feeding BOTH the "
    "raw and target 256-row hash-aggs (conditional sum, map-side "
    "combined), ratio table broadcast back, per-doc hash-agg. Two corpus "
    "scans, zero data-sized joins or windows; the feature table is "
    "O(buckets) at any corpus size. SCAN-BOUND boundary: the cost is the "
    "per-bigram md5 (the cross-engine reproducibility discipline) — "
    "per-token throughput is constant, so wall tracks corpus tokens "
    "(~35x at 64x data on the fixed 32-core stress box, SCALE_r07) and "
    "parallelizes freely with executors; swapping hash_bucket's md5 for "
    "xxhash64 is the one-line throughput upgrade when oracle portability "
    "isn't needed.",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir_frame(spark, sf_dir, family="md5")


@register(
    "corpus_dsir_weights_fast",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), g0 AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks WHERE len(t) >= 2
    ), gd AS (
      SELECT DISTINCT g AS k FROM g0
    ), {xxh64_sql_cte("gd", col="k")},
    bg AS (
      SELECT g0.doc_id, g0.lang, {xxh64_pmod(_DSIR_B)} AS b
      FROM g0 JOIN __xxh ON g0.g = __xxh.__xs
    ), raw AS (SELECT b, count(*) AS cr FROM bg GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT sum(cr) FROM raw)::BIGINT AS nr,
                   (SELECT sum(ct) FROM tgt)::BIGINT AS nt),
    tab AS (
      SELECT raw.b,
             CAST(round((1000000.0 * (coalesce(ct, 0) + 1) * (nr + {_DSIR_B}))
                        / ((cr + 1) * (nt + {_DSIR_B}))) AS BIGINT) AS ratio_micro
      FROM raw LEFT JOIN tgt USING (b), tot
    )
    SELECT doc_id, lang,
           count(*)::BIGINT AS n_feats,
           sum(ratio_micro)::BIGINT AS score_micro,
           (sum(ratio_micro)::BIGINT // count(*)) AS mean_ratio_micro,
           CAST(CASE WHEN sum(ratio_micro)::BIGINT // count(*) >= 1000000
                     THEN 1 ELSE 0 END AS INT) AS target_like
    FROM bg JOIN tab USING (b)
    GROUP BY doc_id, lang
    """,
    doc="Production-hash twin of corpus_dsir_weights: identical single-pass "
    "plan (one bigram explode, conditional raw/target 256-bucket agg, "
    "micro-quantized ratio table broadcast back), bucketed with Spark's "
    "codegen'd xxHash64 instead of the oracle-portable interpreted md5. "
    "The md5 variant's ~35x slope at 64x is hash-throughput-bound "
    "(SCALE_r07); this is the documented one-line upgrade, now "
    "registered and measured rather than hypothetical.",
)
def corpus_dsir_weights_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir_frame(spark, sf_dir, family="xxh")


def _dsir_frame(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    from redcap_omop_etl_spark.sources.readers import fan_out

    # fan_out GATED on the hash family (round 13; same gate as
    # _quality_classifier_frame): the md5 twin's per-gram interpreted md5
    # is the wall the spread pays for (round-12 confirmed 2.2x on
    # corpus_dsir_weights); the xxh twin's codegen'd hashing is not. The
    # plan reads the projection twice (bucket counts + scoring join) with
    # the BUCKET-BOUNDED counts table pinned below.
    d = Catalog(spark, sf_dir)["documents"].select("doc_id", "lang", "text")
    if family == "md5":
        d = fan_out(d)
    toks = d.select(
        "doc_id",
        "lang",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"),
    ).where(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("g"),
    ).select("doc_id", "lang", hash_bucket(F.col("g"), _DSIR_B, family=family).alias("b"))
    # raw and target bucket counts in ONE corpus pass (the target is a
    # slice of raw, so a conditional sum replaces a second explode+md5
    # scan — at 64x stress the explode is the whole cost)
    counts = bg.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    ).transform(materialize, "persist")
    tab = (
        counts.crossJoin(
            F.broadcast(counts.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt")))
        )
        .select(
            "b",
            F.expr(
                f"CAST(round((1000000.0 * (ct + 1) * (nr + {_DSIR_B}))"
                f" / ((cr + 1) * (nt + {_DSIR_B}))) AS BIGINT)"
            ).alias("ratio_micro"),
        )
    )
    mean_ratio = F.expr("sum(ratio_micro) div count(1)")
    return (
        bg.join(F.broadcast(tab), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("ratio_micro").alias("score_micro"),
            mean_ratio.alias("mean_ratio_micro"),
            F.when(mean_ratio >= 1000000, 1).otherwise(0).cast("int").alias("target_like"),
        )
    )


# ---------------------------------------------------------------------------
# Privacy re-identification audit: k-anonymity / l-diversity
# ---------------------------------------------------------------------------

_KANON_K = 5
_KANON_L = 3
_KANON_BAND = 2000  # sensitive-attribute banding (acctbal)


@register(
    "dq_k_anonymity",
    f"""
    SELECT c_nationkey, c_mktsegment,
           count(*)::BIGINT AS k,
           count(DISTINCT floor(c_acctbal / {_KANON_BAND}))::BIGINT AS l,
           CAST(CASE WHEN count(*) >= {_KANON_K} THEN 1 ELSE 0 END AS INT)
             AS k_ok,
           CAST(CASE WHEN count(DISTINCT floor(c_acctbal / {_KANON_BAND}))
                          >= {_KANON_L} THEN 1 ELSE 0 END AS INT) AS l_ok
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    doc="Re-identification risk audit — the release-gate counterpart to "
    "the PHI filter (reference redcap-etl.py strips direct identifiers; "
    "this measures what the remaining QUASI-identifiers still leak): "
    "per equivalence class over (nation, market segment), k-anonymity "
    f"(class size, Sweeney's k >= {_KANON_K}) and l-diversity (distinct "
    f"banded sensitive values, l >= {_KANON_L}) with violation flags. A "
    "class failing k is linkable; a class passing k but failing l leaks "
    "the sensitive attribute by homogeneity. Plan: ONE hash-agg over "
    "the quasi-identifier key (count + distinct via Spark's two-phase "
    "partial aggregation, map-side combined); output is bounded by the "
    "quasi-identifier domain, never data-sized — the same audit runs "
    "unchanged on a 10^9-row table.",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)["customer"]
    band = F.floor(F.col("c_acctbal") / _KANON_BAND)
    k = F.count(F.lit(1))
    l = F.countDistinct(band)
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        k.alias("k"),
        l.alias("l"),
        F.when(k >= _KANON_K, 1).otherwise(0).cast("int").alias("k_ok"),
        F.when(l >= _KANON_L, 1).otherwise(0).cast("int").alias("l_ok"),
    )
