"""Text analysis operators: tokenization, quality scoring, language-ID,
document fingerprinting.

Net-new LLM-data-pipeline surface (BASELINE.json north star): the
operations a 100 TB pretraining-data pipeline runs over a ``documents``
table. Everything here is built-in ``pyspark.sql.functions`` — string ops
stay inside whole-stage codegen, so each query is one scan with no shuffle
(aggregations excepted) and no Python in the hot path.

The DuckDB oracles reproduce the exact same deterministic formulas, so
these are hash-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.functions.xxh_sql import xxh64_pmod, xxh64_sql_cte
from redcap_omop_etl_spark.sources.readers import Catalog, fan_out
from redcap_omop_etl_spark.workload import register
from redcap_omop_etl_spark.caching import materialize

# Marker stopwords per language for the n-gram/token heuristic language ID.
# Tiny on purpose: the operator is the dispatch plan; swapping in a real
# marker table is a data change, not a code change.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "和", "在"],
}

# Word-boundary "BPE-ish" token pattern: runs of letters, runs of digits,
# or single non-space symbols — the standard pre-tokenizer shape.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization of normalized (lower/trim) text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_marker_hits(tokens: Column, markers: list[str]) -> Column:
    """How many tokens are in the marker list (membership, with repeats)."""
    return F.size(F.filter(tokens, lambda x: x.isin(*markers)))


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed lowercase text — the dedup/fingerprint key."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (hex string)."""
    return F.md5(normalized_text(text))


# --------------------------------------------------------------------------
# Registered workload queries (documents table)
# --------------------------------------------------------------------------
@register(
    "text_token_count",
    """
    SELECT doc_id,
           len(string_split_regex(lower(trim(text)), '\\s+'))      AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           length(text)                                            AS n_chars_measured
    FROM documents
    """,
    doc="Token counting: whitespace + BPE-ish regex pre-tokenizer.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


@register(
    "text_quality_score",
    """
    WITH t AS (
      SELECT doc_id, text,
             length(text)                                                  AS n,
             len(string_split_regex(lower(trim(text)), '\\s+'))            AS n_tok,
             length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g'))     AS n_punct,
             length(regexp_replace(text, '[^0-9]', '', 'g'))               AS n_digit
      FROM documents
    )
    SELECT doc_id,
           round(n_punct * 1.0 / n, 6)                      AS punct_ratio,
           round(n_digit * 1.0 / n, 6)                      AS digit_ratio,
           round((n - n_tok + 1) * 1.0 / greatest(n_tok, 1), 6) AS avg_token_len,
           CASE WHEN n >= 100 AND n_punct * 1.0 / n < 0.1
                     AND n_digit * 1.0 / n < 0.2
                THEN 1 ELSE 0 END                           AS quality_keep
    FROM t
    """,
    doc="Quality scoring: length / punctuation / digit ratios + keep gate.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    n = F.length("text")
    n_tok = F.size(ws_tokens(F.col("text")))
    n_punct = F.length(F.regexp_replace(F.col("text"), r"""[^.,;:!?'"()-]""", ""))
    n_digit = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    t = d.select("doc_id", n.alias("n"), n_tok.alias("n_tok"), n_punct.alias("n_punct"), n_digit.alias("n_digit"))
    return t.select(
        "doc_id",
        F.round(F.col("n_punct") / F.col("n"), 6).alias("punct_ratio"),
        F.round(F.col("n_digit") / F.col("n"), 6).alias("digit_ratio"),
        F.round((F.col("n") - F.col("n_tok") + 1) / F.greatest(F.col("n_tok"), F.lit(1)), 6).alias(
            "avg_token_len"
        ),
        F.when(
            (F.col("n") >= 100)
            & (F.col("n_punct") / F.col("n") < 0.1)
            & (F.col("n_digit") / F.col("n") < 0.2),
            1,
        )
        .otherwise(0)
        .alias("quality_keep"),
    )


@register(
    "text_readability",
    """
    WITH t AS (
      SELECT source,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
             greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                                      s -> length(trim(s)) > 0)), 1) AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT                    AS n_docs,
           sum(n_words)::BIGINT                AS n_words,
           sum(n_sents)::BIGINT                AS n_sentences,
           sum(n_syll)::BIGINT                 AS n_syllables,
           round(sum(n_words)::DOUBLE / sum(n_sents), 4)  AS words_per_sentence,
           round(sum(n_syll)::DOUBLE / sum(n_words), 4)   AS syllables_per_word,
           round(206.835 - 1.015 * (sum(n_words)::DOUBLE / sum(n_sents))
                         - 84.6 * (sum(n_syll)::DOUBLE / sum(n_words)), 4) AS flesch
    FROM t GROUP BY source
    """,
    doc="Per-source Flesch reading-ease profile — the classic readability "
    "quality signal for corpus curation (too-hard and too-trivial sources "
    "both get mixture-weight adjustments). Sentences = non-empty [.!?]+ "
    "segments (floored at 1 so headline-only docs don't divide by zero), "
    "syllables approximated by vowel-group runs — both pure regex counts, "
    "so every per-doc stat is an exact integer and the per-source ratios "
    "are single double expressions over exact integer sums (order-"
    "independent cross-engine). One scan, one hash agg on source.",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    n_words = F.size(ws_tokens(F.col("text")))
    n_sents = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), r"[.!?]+"),
                lambda s: F.length(F.trim(s)) > 0,
            )
        ),
        F.lit(1),
    )
    n_syll = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0))
    t = fan_out(d).select(
        "source", n_words.alias("n_words"), n_sents.alias("n_sents"), n_syll.alias("n_syll")
    )
    agg = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("sw"),
        F.sum("n_sents").alias("ss"),
        F.sum("n_syll").alias("sy"),
    )
    wps = F.col("sw").cast("double") / F.col("ss")
    spw = F.col("sy").cast("double") / F.col("sw")
    return agg.select(
        "source",
        "n_docs",
        F.col("sw").alias("n_words"),
        F.col("ss").alias("n_sentences"),
        F.col("sy").alias("n_syllables"),
        F.round(wps, 4).alias("words_per_sentence"),
        F.round(spw, 4).alias("syllables_per_word"),
        F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4).alias("flesch"),
    )


def _duckdb_marker_filter(markers: list[str]) -> str:
    ors = " OR ".join(f"x = '{m}'" for m in markers)
    return f"len(list_filter(w, x -> {ors}))"


@register(
    "text_langid",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
    ), scores AS (
      SELECT doc_id,
             {_duckdb_marker_filter(LANG_MARKERS["en"])} AS s_en,
             {_duckdb_marker_filter(LANG_MARKERS["es"])} AS s_es,
             {_duckdb_marker_filter(LANG_MARKERS["fr"])} AS s_fr,
             {_duckdb_marker_filter(LANG_MARKERS["de"])} AS s_de,
             {_duckdb_marker_filter(LANG_MARKERS["zh"])} AS s_zh
      FROM t
    )
    SELECT doc_id,
           CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 AND s_zh = 0 THEN 'und'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END AS predicted_lang
    FROM scores
    """,
    doc="Language-ID: marker-token heuristic with deterministic argmax.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    toks = ws_tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        *[token_marker_hits(toks, LANG_MARKERS[lang]).alias(f"s_{lang}") for lang in ["en", "es", "fr", "de", "zh"]],
    )
    s = {lang: F.col(f"s_{lang}") for lang in ["en", "es", "fr", "de", "zh"]}
    pred = (
        F.when((s["en"] == 0) & (s["es"] == 0) & (s["fr"] == 0) & (s["de"] == 0) & (s["zh"] == 0), "und")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["zh"]), "en")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]) & (s["es"] >= s["zh"]), "es")
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["zh"]), "fr")
        .when(s["de"] >= s["zh"], "de")
        .otherwise("zh")
    )
    return scored.select("doc_id", pred.alias("predicted_lang"))


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
           length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_len
    FROM documents
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized text.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp_md5"),
        F.length(normalized_text(F.col("text"))).alias("fp_len"),
    )


@register(
    "json_extract_props",
    """
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS prop_k
    FROM events
    """,
    doc="Reference F16/F17/F19: JSON parse + map-key extraction.",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("prop_k")
    )


@register(
    "json_variant_extract",
    """
    SELECT event_type,
           count(*) AS n,
           sum(CAST(props->>'$.k' AS BIGINT))::BIGINT AS sum_k,
           count(*) FILTER (WHERE props->>'$.k' IS NULL) AS n_missing
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured processing via Spark 4 VARIANT (the successor to "
    "string-path JSON): ``parse_json`` builds the binary variant once, "
    "``try_variant_get`` extracts a typed path (NULL on missing/shape "
    "mismatch instead of throwing), then a plain aggregate — the modern "
    "open-format pattern for ragged JSON at scale (variant decode is "
    "columnar, not per-row string re-parsing). Oracle uses DuckDB's JSON "
    "path operators on the same column.",
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_missing"),
    )


@register(
    "string_suite",
    """
    SELECT doc_id,
           regexp_extract(text, '^([a-z]+)', 1)  AS first_word,
           CASE WHEN source LIKE 'src1%' THEN 1 ELSE 0 END AS src_prefix_1,
           CASE WHEN lang = 'en' OR lang = 'de' THEN upper(lang) ELSE lang END AS lang_norm,
           substr(source, 4)                     AS src_num
    FROM documents
    """,
    doc="Reference F10-F12: suffix/prefix tests, regex extraction, substring slices.",
)
def string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_word"),
        F.when(F.col("source").startswith("src1"), 1).otherwise(0).alias("src_prefix_1"),
        F.when(F.col("lang").isin("en", "de"), F.upper("lang")).otherwise(F.col("lang")).alias("lang_norm"),
        F.substring("source", 4, 2147483647).alias("src_num"),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (rolling hash)
# --------------------------------------------------------------------------
_WINNOW_P = 1000003       # token-hash modulus
_WINNOW_B = 1009          # gram base; th*B^2 stays ~1e12 (exact in long)
_TOKEN_POWS = [31**i for i in range(8)]


def winnow_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", w: int = 4) -> DataFrame:
    """Document fingerprints via winnowing (Schleimer et al., MOSS): a
    polynomial rolling hash over 3-token grams, then the min hash of each
    sliding window of ``w`` grams — guaranteeing any shared run of ≥
    w+k-1 tokens contributes ≥1 shared fingerprint.

    All-integer arithmetic (token hash = Σ code·31^i mod P over the first
    8 chars; gram = th₀·B² + th₁·B + th₂) so the DuckDB oracle reproduces
    values bit-exactly — unlike the xxhash64-based MinHash path. Zero
    shuffles: fingerprinting is a pure projection + explode; dedup/lookup
    consumers group on the fp column downstream.
    """
    clean = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "[^a-z0-9 ]", "")
    toks = F.filter(F.split(clean, " +"), lambda t: t != "")

    # Token hash as zip-with-powers + sum, not a struct-accumulator fold:
    # one zip pass + one sum pass, no per-char struct allocation. zip_with
    # pads the shorter side with null (token < 8 chars → null*pow = null →
    # coalesce 0), reproducing Σ code·31^i exactly.
    pows = F.array(*[F.lit(p).cast("long") for p in _TOKEN_POWS])

    def token_hash(t):
        chars = F.split(F.substring(t, 1, 8), "")
        weighted = F.zip_with(chars, pows, lambda c, p: F.coalesce(F.ascii(c) * p, F.lit(0).cast("long")))
        return F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x) % _WINNOW_P

    # Materialization barrier: explode of a 1-element array is a Generate
    # node projection-collapse cannot cross, so downstream element_at()
    # reads the materialized th array instead of re-inlining (and
    # re-evaluating) the whole per-token fold — without it each of the
    # 3·w references re-runs the transform: O(tokens²) interpreted work
    # per document (measured: hang at 500 docs).
    # NO fan_out (round 13 reversal of the round-12 spread — the verdict's
    # dedup_winnow bisect): alternating in-session A/B at sf0.1 measured
    # the spread costing ~1 s (min-of-3 1.93 s plain vs 2.88 s spread) —
    # the round-robin exchange materializes the full text rows into the
    # localCheckpoint-style Generate barrier and the downstream fp
    # self-join repartitions anyway, so the spread's exchange is pure
    # overhead here.
    th_df = (
        df.filter(F.size(toks) >= 3)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array(F.transform(toks, token_hash))).alias("th"),
        )
    )
    # Rolling grams and window minima via zip-shift (same single-pass
    # technique as dedup.shingles): k-1 zips build the grams, w-1
    # least-zips build the per-window minima — no per-index element_at /
    # slice re-evaluation. zip_with pads with null; nulls propagate
    # through +/least only into the trailing incomplete entries, which
    # the final slices drop.
    th = F.col("th")
    n_th = F.size(th)
    th1 = F.slice(th, 2, F.greatest(n_th - 1, F.lit(0)))
    th2 = F.slice(th, 3, F.greatest(n_th - 2, F.lit(0)))
    grams_padded = F.zip_with(
        F.zip_with(th, th1, lambda a, b: a * (_WINNOW_B * _WINNOW_B) + b * _WINNOW_B),
        th2,
        lambda ab, c: ab + c,
    )
    grams = F.slice(grams_padded, 1, F.greatest(n_th - 2, F.lit(1)))
    # Second barrier (see above): `mins` references the gram array w
    # times; materialize it once via Generate.
    g_df = th_df.select("doc_id", F.explode(F.array(grams)).alias("g"))
    g = F.col("g")
    n_g = F.size(g)
    mins_padded = g
    for j in range(1, w):
        shifted = F.slice(g, j + 1, F.greatest(n_g - j, F.lit(0)))
        # F.least ignores nulls, so the padded tail degrades to a min over
        # the suffix — exactly the clamped slice(g, i, w) semantics.
        mins_padded = F.zip_with(mins_padded, shifted, lambda a, b: F.least(a, b))
    mins = F.slice(mins_padded, 1, F.greatest(n_g - (w - 1), F.lit(1)))
    return g_df.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))


# DuckDB replica of winnow_fingerprints (shared by the fingerprint query
# and the winnow near-dup query).
_WINNOW_SQL_CTE = """
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +'),
                 t -> t <> '') AS w
      FROM documents
    ), th AS (
      SELECT doc_id,
             list_transform(w, t -> list_sum(list_transform(
                 range(1, least(length(t), 8) + 1),
                 i -> unicode(t[i]) * [1,31,961,29791,923521,28629151,887503681,27512614111][i]
             )) % 1000003) AS h
      FROM toks WHERE len(w) >= 3
    ), grams AS (
      SELECT doc_id,
             list_transform(range(1, len(h) - 1), i -> h[i]*1018081 + h[i+1]*1009 + h[i+2]) AS g
      FROM th
    ), mins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(g) - 3, 1) + 1),
                                          i -> list_min(g[i:i+3]))) AS m
      FROM grams
    ), fp AS (
      SELECT doc_id, CAST(u.fp AS BIGINT) AS fp FROM mins, unnest(m) u(fp)
    )
"""


@register(
    "text_winnow_fingerprint",
    f"""
    WITH {_WINNOW_SQL_CTE}
    SELECT doc_id, fp FROM fp
    """,
    doc="Rolling-hash winnowing fingerprints (MOSS): 3-token-gram "
    "polynomial hashes, min per 4-gram window, distinct per doc.",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprints(Catalog(spark, sf_dir)["documents"])


def winnow_near_pairs(
    df: DataFrame, min_shared: int = 5, df_cap: int | None = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs sharing ≥ ``min_shared`` winnowing fingerprints.

    The MOSS candidate strategy: one equi-join on the fingerprint —
    linear in (docs × fingerprints-per-doc), never docs². ``df_cap``
    drops fingerprints appearing in more than that many documents
    (boilerplate) from pair generation, bounding the per-key join fan-out
    at scale; deterministic, so the oracle applies the same cap.
    """
    # Persisted: the pair self-join references the fingerprint table on
    # both sides (plus the stop-fp scan) — without materialization the
    # HOF fingerprint chain would run 3×.
    fp = materialize(winnow_fingerprints(df, text_col=text_col, id_col=id_col), "persist")
    if df_cap is not None:
        hot = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > df_cap).select("fp")
        # hint("merge"): the stop-fp set grows with corpus size on
        # dup-dense data and its filter-over-aggregate static estimate
        # stays tiny (256x-stress lesson from the shingle guard) —
        # pinned spill-safe sort-merge, never a driver-collected broadcast
        fp = fp.join(hot.hint("merge"), "fp", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b.hint("merge"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


@register(
    "dedup_winnow",
    f"""
    WITH {_WINNOW_SQL_CTE},
    capped AS (
      SELECT * FROM fp WHERE fp IN (
        SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 100)
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 5
    """,
    doc="Winnowing near-dup pairs (≥5 shared fingerprints, stop-fp cap "
    "100) — an independently-oracled near-dup path beside MinHash.",
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_near_pairs(Catalog(spark, sf_dir)["documents"])


@register(
    "docs_prep_pipeline",
    """
    WITH gated AS (
      SELECT doc_id, source, text
      FROM documents
      WHERE length(text) >= 100
        AND length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g')) * 1.0
              / length(text) < 0.1
        AND length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
              / length(text) < 0.2
    ), fp AS (
      SELECT source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             min(len(string_split_regex(lower(trim(text)), '\\s+')))  AS n_tok,
             min(length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                                                                      AS n_chars,
             count(*)                                                 AS n_copies
      FROM gated GROUP BY 1, 2
    )
    SELECT source,
           count(*)                            AS kept_docs,
           cast(sum(n_copies - 1) AS bigint)   AS dups_removed,
           cast(sum(n_tok) AS bigint)          AS total_tokens,
           round(avg(n_chars), 2)              AS avg_chars
    FROM fp GROUP BY source
    """,
    doc="Flagship composed LLM-data-prep pipeline: quality gate → "
    "per-source exact dedup → corpus stats, one declarative plan. Every "
    "aggregate is fixed-width (token/char counts are computed on the "
    "normalized text, so they are constant within a fingerprint group and "
    "min() selects them hash-aggregatably) — both aggs stay "
    "HashAggregate with map-side partials; a min_by-representative "
    "formulation instead forces SortAggregate (string buffers aren't "
    "hash-mutable), sorting the whole gated corpus.",
)
def docs_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    n = F.length("text")
    n_punct = F.length(F.regexp_replace(F.col("text"), r"""[^.,;:!?'"()-]""", ""))
    n_digit = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    gated = d.filter((n >= 100) & (n_punct / n < 0.1) & (n_digit / n < 0.2))
    rep = (
        gated.select(
            "source",
            fingerprint_md5(F.col("text")).alias("fp"),
            F.size(ws_tokens(F.col("text"))).cast("bigint").alias("n_tok"),
            F.length(normalized_text(F.col("text"))).alias("n_chars"),
        )
        .groupBy("source", "fp")
        .agg(
            F.min("n_tok").alias("n_tok"),
            F.min("n_chars").alias("n_chars"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum(F.col("n_copies") - 1).alias("dups_removed"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@register(
    "text_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n / dfreq.df), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
             AS rnk
    FROM scored QUALIFY rnk <= 3
    """,
    doc="TF-IDF top-3 terms per document: explode → per-(doc,term) counts "
    "→ per-term document frequencies → score → per-doc ranking window. "
    "Document frequency is a count() window over the term partition "
    "instead of a groupBy+self-join: the (doc,term) table is shuffled on "
    "term exactly once (the join formulation shuffles it twice — once for "
    "the dfreq agg, once to co-partition for the join). Shuffles total: "
    "tf agg, term window, doc window — all on bounded keys. The corpus "
    "size N is a driver-side scalar count folded in as a literal (one "
    "cheap count job) so the plan carries no 1-row cross join; scores "
    "are rounded BEFORE ranking so tie order is identical cross-engine.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = Catalog(spark, sf_dir)["documents"]
    n = d.count()
    # NO fan_out (round 13 reversal; verdict item 7): the driver and an
    # alternating in-session A/B both measured the round-12 spread ~0.5 s
    # SLOWER at sf0.1 (min-of-3 0.99 s plain vs 1.51 s spread) — the
    # tokenize+explode here is codegen-cheap, so the added exchange never
    # pays for itself.
    toks = d.select("doc_id", "text").select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf has one row per (doc, term), so rows-per-term-partition == df
    scored = tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term"))).select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "score", "rnk")
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def redact_pii(text: Column) -> Column:
    """Regex PII scrub: emails then phones → typed placeholders.

    The PHI-filter idea (P6) applied inside the value instead of to the
    row: drop the sensitive substring, keep the document. Pure
    regexp_replace chain — codegen'd, no UDF; patterns are RE2-safe so
    the DuckDB oracle runs the identical expressions.
    """
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )


@register(
    "text_redact_pii",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones,
           md5(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g')) AS redacted_md5
    FROM documents
    """,
    doc="PII redaction scrub (emails/phones → typed placeholders) with "
    "per-doc match counts; the md5 of the redacted text is hash-compared "
    "so the full replace chain is value-checked. The synthetic corpus "
    "carries no PII (counts are 0; redaction must be an identity there) "
    "— `TestRedaction` injects crafted PII to pin the positive path.",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.md5(redact_pii(F.col("text"))).alias("redacted_md5"),
    )


@register(
    "decontaminate_overlap",
    f"""
    WITH {_WINNOW_SQL_CTE},
    bench AS (
      SELECT DISTINCT f.fp
      FROM fp f JOIN documents d ON f.doc_id = d.doc_id
      WHERE d.source = 'src0'
    ),
    train AS (
      SELECT f.doc_id, f.fp
      FROM fp f JOIN documents d ON f.doc_id = d.doc_id
      WHERE d.source <> 'src0'
    )
    SELECT t.doc_id, count(DISTINCT t.fp) AS shared_fps
    FROM train t JOIN bench b ON t.fp = b.fp
    GROUP BY t.doc_id
    HAVING count(DISTINCT t.fp) >= 3
    """,
    doc="Train/eval decontamination: training documents sharing ≥3 winnow "
    "fingerprints with ANY benchmark document ('src0' as the held-out "
    "benchmark). The benchmark fingerprint set is dim-sized → broadcast "
    "semi-style join against the training fingerprint stream; the same "
    "bit-exact rolling-hash fingerprints as dedup_winnow, so one "
    "fingerprint table serves dedup AND decontamination.",
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    fps = winnow_fingerprints(d).join(d.select("doc_id", "source"), "doc_id")
    bench = fps.filter(F.col("source") == "src0").select("fp").distinct()
    train = fps.filter(F.col("source") != "src0").select("doc_id", "fp")
    return (
        train.join(F.broadcast(bench), "fp")
        .groupBy("doc_id")
        .agg(F.count_distinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


@register(
    "bpe_pair_counts",
    r"""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents
    ), pairs AS (
      SELECT w[i:i] || w[i+1:i+1] AS pair
      FROM words, LATERAL unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    doc="One distributed BPE iteration: adjacent-symbol pair frequencies "
    "over the tokenized corpus — the inner loop of tokenizer training. "
    "Pairs explode from each word via sequence+substr (codegen'd, no "
    "Python), partial counts combine map-side, top pairs via "
    "TakeOrderedAndProject. Iterating = apply the winning merge and "
    "re-count, each round this same one-shuffle job.",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    words = d.select(F.explode(ws_tokens(F.col("text"))).alias("w")).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# Diagnostics from the most recent bpe_learn call: driver rounds taken and
# merges accepted per round — the numbers that size the 30k-merge budget
# (see DEPLOY.md "BPE training at production merge counts").
BPE_LAST_STATS: dict = {"rounds": 0, "accepted_per_round": []}


def bpe_learn(
    docs: DataFrame, n_merges: int = 5, text_col: str = "text", batch_m: int = 1
) -> DataFrame:
    """Learn the top-``n_merges`` BPE merges corpus-wide — the tokenizer-
    training outer loop (``bpe_pair_counts`` is one inner iteration).

    Distributed shape: symbol sequences live on the DEDUPLICATED word-
    frequency table (vocab-sized, not corpus-sized — the standard BPE
    trick), so each round is one explode+groupBy shuffle over the vocab
    plus ONE bounded collect (≤ 4·batch_m rows); accepted merges apply as
    a single left-to-right ``aggregate`` fold over each symbol array
    (greedy, matching the classic algorithm), ``localCheckpoint`` keeps
    the plan O(1) deep across rounds. Ties break by pair string, so the
    merge table is deterministic and pytest pins it against a pure-Python
    BPE on the same corpus. Returns (rank, left, right, merged, frequency).

    ``batch_m`` is the driver-round-trip amortizer for real tokenizer
    training (30k+ merges): each round accepts the maximal PREFIX of the
    stale top-pair ranking whose pairs are symbol-disjoint (no shared
    left/right/merged symbol), up to ``batch_m`` of them, and applies
    them in one fold pass. Symbol-disjoint merges can't create or destroy
    each other's adjacencies, so their corpus frequencies are exactly the
    sequential recounts and the recorded table matches sequential greedy
    UNLESS a pair newly created by an earlier batch member would have
    outranked a later one (data-dependent; frequency-separated natural-
    corpus rankings don't hit it — batched ≡ sequential is pinned on the
    test fixture). batch_m=1 IS classic sequential greedy, the registered
    oracle contract.
    """
    words = (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seqs = words.select("cnt", F.split("w", "").alias("sym")).transform(materialize)

    merges: list[tuple[int, str, str, str, int]] = []
    BPE_LAST_STATS["rounds"] = 0
    BPE_LAST_STATS["accepted_per_round"] = []
    while len(merges) < n_merges:
        BPE_LAST_STATS["rounds"] += 1
        bigram = F.zip_with(
            F.col("sym"),
            F.slice(F.col("sym"), 2, F.greatest(F.size("sym") - 1, F.lit(0))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
        pairs = seqs.select("cnt", F.explode(bigram).alias("p")).filter(F.col("p").contains(" "))
        m = min(batch_m, n_merges - len(merges))
        top = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("p"))
            .limit(max(4 * m, 1))
            .collect()
        )
        if not top:
            break
        # maximal symbol-disjoint PREFIX of the ranking (stop at the first
        # conflict rather than skipping past it — a conflicting pair's
        # count changes once the earlier merge applies, so anything after
        # it must be re-ranked next round)
        accepted: list[tuple[str, str, str, int]] = []
        used: set[str] = set()
        for row in top:
            a, b = row["p"].split(" ")
            merged = a + b
            if {a, b, merged} & used:
                break
            accepted.append((a, b, merged, int(row["n"])))
            used |= {a, b, merged}
            if len(accepted) >= m:
                break
        for a, b, merged, n in accepted:
            merges.append((len(merges) + 1, a, b, merged, n))
        BPE_LAST_STATS["accepted_per_round"].append(len(accepted))

        # greedy left-to-right application of every accepted merge in one
        # fold pass (disjoint symbols → at most one WHEN fires per step);
        # try_element_at returns null on the empty accumulator (ANSI-safe)
        def make_step(batch: list[tuple[str, str, str, int]]):
            def step(acc, t):
                out = F.concat(acc, F.array(t))
                for a, b, merged, _n in batch:
                    out = F.when(
                        (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (t == F.lit(b)),
                        F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
                    ).otherwise(out)
                return out

            return step

        seqs = seqs.withColumn(
            "sym",
            F.aggregate(F.col("sym"), F.array().cast("array<string>"), make_step(accepted)),
        ).transform(materialize)
    return docs.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, frequency long"
    )


def _bpe_oracle_sql(n_merges: int = 5) -> str:
    r"""Generate a DuckDB oracle for ``bpe_learn``: n_merges unrolled
    rounds of (pair-count → argmax → greedy merge).

    Sequences are encoded as bracketed-token strings — each symbol as
    ``\x02sym\x03`` — so applying merge (a, b) is one ``replace`` of
    ``\x02a\x03\x02b\x03`` with ``\x02ab\x03``: every token match
    consumes its own brackets, making ``replace``'s left-to-right
    non-overlapping scan EXACTLY the classic greedy BPE application (and
    the token-boundary brackets prevent prefix false-matches like
    pattern ``(a,b)`` inside ``(a,bc)``). Ties break on the ``'a b'``
    pair string, mirroring the Spark side's deterministic ordering.
    """
    lo, hi = "chr(2)", "chr(3)"
    parts = [
        r"""
    WITH words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
      ) WHERE length(w) >= 2 GROUP BY w
    ),
    w1 AS MATERIALIZED (
      SELECT cnt,
             {lo} || array_to_string(string_split(w, ''), {hi} || {lo}) || {hi} AS r
      FROM words
    )""".format(lo=lo, hi=hi)
    ]
    for i in range(1, n_merges + 1):
        a = f"(SELECT a FROM best{i})"
        b = f"(SELECT b FROM best{i})"
        parts.append(f"""
    tok{i} AS MATERIALIZED (
      SELECT cnt, string_split(trim(r, {lo} || {hi}), {hi} || {lo}) AS l FROM w{i}
    ),
    p{i} AS MATERIALIZED (
      SELECT l[u.i] AS a, l[u.i + 1] AS b, sum(cnt) AS n
      FROM tok{i}, LATERAL unnest(range(1, len(l))) AS u(i)
      GROUP BY 1, 2
    ),
    best{i} AS MATERIALIZED (
      SELECT a, b, n FROM p{i} ORDER BY n DESC, a || ' ' || b LIMIT 1
    ),
    w{i + 1} AS MATERIALIZED (
      SELECT cnt,
             replace(r,
                     {lo} || {a} || {hi} || {lo} || {b} || {hi},
                     {lo} || {a} || {b} || {hi}) AS r
      FROM w{i}
    )""")
        # w{n+1} is generated but unused on the last round — harmless.
    selects = [
        f'SELECT {i} AS rank, a AS "left", b AS "right", a || b AS merged, '
        f"n::BIGINT AS frequency FROM best{i}"
        for i in range(1, n_merges + 1)
    ]
    return ",".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "bpe_learn_merges",
    _bpe_oracle_sql(5),
    doc="BPE tokenizer training: learn the top-5 merges corpus-wide. Each "
    "round = one vocab-sized explode+groupBy shuffle + 1-row argmax; the "
    "merge applies as a greedy left-to-right fold over symbol arrays; "
    "localCheckpoint bounds plan depth. Deterministic tie-break on the "
    "pair string.",
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_learn(Catalog(spark, sf_dir)["documents"], n_merges=5)


def _local_bpe(
    word_counts: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Classic driver-local BPE with incremental pair-count maintenance
    (the Sennrich ``learn_bpe`` shape, public algorithm): pair counts and
    a pair→words inverted index are updated only for the words a merge
    actually touches, so 30k merges over a bounded vocabulary run in
    seconds of pure Python instead of 30k distributed rounds.

    Semantics match ``bpe_learn(batch_m=1)`` exactly (pinned by
    ``test_bpe_local_matches_distributed``): pair counts are OVERLAPPING
    adjacencies weighted by word frequency, the winner breaks ties on
    (count DESC, "a b" string ASC), and the merge applies greedily
    left-to-right non-overlapping — the same contract as the distributed
    fold and the replace-based DuckDB oracle.
    """
    import heapq
    from collections import defaultdict

    def apply_merge(sym: list[str], a: str, b: str, merged: str) -> list[str]:
        out: list[str] = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(merged)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        return out

    words = [[list(sym), cnt] for sym, cnt in word_counts]
    stats: dict[tuple[str, str], int] = defaultdict(int)
    index: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, (sym, cnt) in enumerate(words):
        for p in zip(sym, sym[1:]):
            stats[p] += cnt
            index[p].add(wi)

    # Lazy-invalidation heap for the per-round argmax: a linear scan of
    # the pair table per merge is O(#pairs × n_merges) — minutes at 30k
    # merges over a 50k-word vocab — while popping a heap whose stale
    # entries are discarded on sight amortizes to (pushes + pops) log n.
    # Entry order (-count, "a b") == ORDER BY n DESC, pair ASC, the same
    # tie-break as the distributed learner and the DuckDB oracle.
    heap: list[tuple[int, str, tuple[str, str]]] = [
        (-n, f"{p[0]} {p[1]}", p) for p, n in stats.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges and heap:
        negn, _, (a, b) = heapq.heappop(heap)
        if stats.get((a, b), 0) != -negn:  # stale entry (count changed)
            continue
        n = -negn
        merged = a + b
        merges.append((len(merges) + 1, a, b, merged, n))
        touched: set[tuple[str, str]] = set()
        for wi in list(index[(a, b)]):
            sym, cnt = words[wi]
            new_sym = apply_merge(sym, a, b, merged)
            for p in zip(sym, sym[1:]):
                stats[p] -= cnt
                if stats[p] <= 0:
                    del stats[p]
                index[p].discard(wi)
                touched.add(p)
            for p in zip(new_sym, new_sym[1:]):
                stats[p] += cnt
                index[p].add(wi)
                touched.add(p)
            words[wi][0] = new_sym
        for p in touched:
            if p in stats:
                heapq.heappush(heap, (-stats[p], f"{p[0]} {p[1]}", p))
    return merges


def bpe_learn_sampled(
    docs: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
    vocab_top_k: int | None = None,
) -> DataFrame:
    """Sample-based BPE learner — the production alternative documented in
    DEPLOY.md ("BPE training at production merge counts") that removes the
    per-merge driver-round budget entirely.

    Key fact: the deduplicated (word, count) frequency table is BPE's
    SUFFICIENT STATISTIC — the merge table depends on the corpus only
    through it. So instead of running ~n_merges distributed rounds (each
    a vocab-sized shuffle + bounded collect, 0.44 s/round measured), this
    learner does ONE distributed word-count aggregation, collects the
    frequency table (bounded: vocabulary grows ~Heaps' law, and
    ``vocab_top_k`` hard-caps the collect via TakeOrdered — ORDER BY cnt
    DESC, w LIMIT K — for adversarial corpora; tail words contribute
    near-zero pair mass, the standard sampling trade), and learns all
    merges driver-locally with incremental pair-count updates. Encoding
    the corpus with the learned table (``bpe_encode``) stays distributed
    and single-pass.

    With ``vocab_top_k=None`` (or K ≥ vocabulary) the merge table is
    IDENTICAL to ``bpe_learn(batch_m=1)`` — same sufficient statistic,
    same tie-breaks (pinned by test + the shared DuckDB oracle).
    """
    words = (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if vocab_top_k is not None:
        # TakeOrderedAndProject: bounded collect regardless of corpus size
        words = words.orderBy(F.desc("cnt"), F.asc("w")).limit(vocab_top_k)
    rows = words.collect()
    merges = _local_bpe([(list(r["w"]), int(r["cnt"])) for r in rows], n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, frequency long"
    )


@register(
    "bpe_learn_sampled",
    _bpe_oracle_sql(5),
    doc="Sample-based BPE learner: ONE distributed word-frequency "
    "aggregation (BPE's sufficient statistic), a bounded TakeOrdered "
    "collect of the vocabulary, then all merges learned driver-locally "
    "with incremental pair-count maintenance — removing the per-merge "
    "driver-round budget of the iterative learner (~470 rounds for a 30k "
    "natural-corpus vocab) entirely. Registered UNCAPPED "
    "(vocab_top_k=None) so the shared full-vocabulary oracle is exact by "
    "construction on any gate corpus (ADVICE r7: a 50k cap could "
    "legitimately diverge from the oracle once the vocabulary exceeds "
    "it); production callers pass vocab_top_k (e.g. 50k) to hard-bound "
    "the collect on adversarial corpora — the capped/uncapped merge-table "
    "identity below K is pinned by test. Merge table identical to "
    "bpe_learn_merges; shares its oracle verbatim.",
)
def bpe_learn_sampled_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_learn_sampled(
        Catalog(spark, sf_dir)["documents"], n_merges=5, vocab_top_k=None
    )


# --------------------------------------------------------------------------
# Corpus-level repetition / boilerplate analysis (Gopher + RefinedWeb style)
# --------------------------------------------------------------------------
def grams_with_repeats(toks: Column, n: int) -> Column:
    """Complete word n-grams WITH repeats (array<string>), for frequency
    statistics — unlike ``dedup.shingles`` this neither dedups nor keeps a
    partial gram for short docs: a doc with < n tokens yields an empty
    array. Same single-pass ``zip_with`` construction (pass count is the
    cost driver for interpreted HOF lambdas)."""
    sz = F.size(toks)
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(sz - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(grams, 1, F.greatest(sz - (n - 1), F.lit(0)))


@register(
    "text_repetition_stats",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
    ), g2 AS (
      SELECT doc_id, w[u.i] || ' ' || w[u.i+1] AS g
      FROM t, unnest(range(1, greatest(len(w), 2))) u(i)
      WHERE w[u.i+1] IS NOT NULL
    ), c2 AS (
      SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
    ), s2 AS (
      SELECT doc_id, max(c)::BIGINT AS mx, sum(c)::BIGINT AS tot FROM c2 GROUP BY 1
    ), g3 AS (
      SELECT doc_id, w[u.i] || ' ' || w[u.i+1] || ' ' || w[u.i+2] AS g
      FROM t, unnest(range(1, greatest(len(w) - 1, 2))) u(i)
      WHERE w[u.i+2] IS NOT NULL
    ), c3 AS (
      SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2
    ), s3 AS (
      SELECT doc_id, sum(c - 1)::BIGINT AS dup, sum(c)::BIGINT AS tot FROM c3 GROUP BY 1
    )
    SELECT s2.doc_id,
           round(s2.mx * 1.0 / s2.tot, 6) AS top2gram_share,
           round(s3.dup * 1.0 / s3.tot, 6) AS dup3gram_frac,
           CASE WHEN s2.mx * 1.0 / s2.tot <= 0.2 AND s3.dup * 1.0 / s3.tot <= 0.3
                THEN 1 ELSE 0 END AS rep_keep
    FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
    """,
    doc="Gopher-style repetition filter: per-document share of the most "
    "frequent 2-gram and fraction of duplicated 3-gram occurrences, plus "
    "the keep gate (<=0.2 / <=0.3). Plan: two explode->groupBy chains "
    "(map-side combinable, keyed on (doc, gram) so cardinality is bounded "
    "by corpus token count) joined on doc_id. No Python, no windows.",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two explode→groupBy chains (one per gram order) joined on doc_id.
    # A fused single-chain variant (tag grams with n, one shuffle) was
    # measured SLOWER at sf0.1 (1.6 s vs 1.0 s): the per-gram struct
    # wrapping is interpreted HOF work that costs more than the second
    # (page-cached) scan saves. At true 100 TB, where the scan dominates,
    # fuse — the tagged-union form is in git history (commit before this).
    # NO fan_out (round 13 reversal; verdict item 7): in-session A/B
    # min-of-3 1.36 s plain vs 1.57 s spread — the gram chains are
    # cheaper than the round-12 profile (taken on a contended host)
    # suggested, and the spread's exchange costs more than it buys.
    d = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")
    toks = ws_tokens(F.col("text"))

    def per_doc(n: int, agg_cols):
        return (
            d.select("doc_id", F.explode(grams_with_repeats(toks, n)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(*agg_cols)
        )

    s2 = per_doc(2, [F.max("c").alias("mx"), F.sum("c").alias("tot2")])
    s3 = per_doc(3, [F.sum(F.col("c") - 1).alias("dup"), F.sum("c").alias("tot3")])
    top_share = F.col("mx") / F.col("tot2")
    dup_frac = F.col("dup") / F.col("tot3")
    return (
        s2.join(s3, "doc_id")
        .select(
            "doc_id",
            F.round(top_share, 6).alias("top2gram_share"),
            F.round(dup_frac, 6).alias("dup3gram_frac"),
            F.when((top_share <= 0.2) & (dup_frac <= 0.3), 1).otherwise(0).alias("rep_keep"),
        )
    )


@register(
    "text_boilerplate_ngrams",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
    ), occ AS (
      SELECT doc_id, w[u.i] || ' ' || w[u.i+1] || ' ' || w[u.i+2] AS g
      FROM t, unnest(range(1, greatest(len(w) - 1, 2))) u(i)
      WHERE w[u.i+2] IS NOT NULL
    ), dfreq AS (
      SELECT g, count(DISTINCT doc_id) AS df FROM occ GROUP BY g
    ), hot AS (
      SELECT g FROM dfreq WHERE df >= 5
    )
    SELECT o.doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN h.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hot,
           round(sum(CASE WHEN h.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS hot_frac,
           CASE WHEN sum(CASE WHEN h.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*) <= 0.3
                THEN 1 ELSE 0 END AS bp_keep
    FROM occ o LEFT JOIN hot h ON o.g = h.g
    GROUP BY o.doc_id
    """,
    doc="Corpus-global boilerplate detection (RefinedWeb/CCNet line-dedup "
    "shape, adapted to unsegmented text): 3-grams appearing in >=5 distinct "
    "documents form the corpus-wide hot list; each document is scored by "
    "the fraction of its gram occurrences that are boilerplate, with a "
    "keep gate at 30%. Plan: explode -> distinct-doc df -> hot heavy-"
    "hitter list (size bounded by total_occurrences/df_min, broadcast) -> "
    "broadcast left join mark -> per-doc re-agg. At 100 TB the hot list is "
    "exactly the thing you'd pin in memory; everything else is one "
    "map-side-combinable shuffle per stage.",
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    toks = ws_tokens(F.col("text"))
    # Cached: both the df-count branch and the mark join scan the exploded
    # gram table; without the cache the tokenize→gram explode runs twice
    # (same discipline as dedup._shingle_table). At 100 TB you'd persist
    # this to MEMORY_AND_DISK or compute the hot list from a hash-bucket
    # sample instead.
    # NO fan_out (round 13 reversal; verdict item 7): in-session A/B
    # min-of-3 1.72 s plain vs 1.96 s spread — the cache build is cheap
    # enough that the spread's exchange dominates it.
    occ = (
        d.select("doc_id", "text")
        .select("doc_id", F.explode(grams_with_repeats(toks, 3)).alias("g"))
        .transform(materialize, "persist")
    )
    dfreq = occ.select("doc_id", "g").distinct().groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    hot = dfreq.filter(F.col("df") >= 5).select("g", F.lit(1).alias("is_hot"))
    # hint("merge"): "df >= 5" is satisfied by a growing share of the
    # gram vocabulary as the corpus grows, and the static estimate of a
    # filtered aggregate undercounts it — pinned spill-safe sort-merge
    marked = occ.join(hot.hint("merge"), "g", "left")
    n_hot = F.sum(F.coalesce(F.col("is_hot"), F.lit(0)))
    n_grams = F.count(F.lit(1))
    return (
        marked.groupBy("doc_id")
        .agg(
            n_grams.alias("n_grams"),
            n_hot.alias("n_hot"),
            F.round(n_hot / n_grams, 6).alias("hot_frac"),
            F.when(n_hot / n_grams <= 0.3, 1).otherwise(0).alias("bp_keep"),
        )
    )


@register(
    "text_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ), cnt AS (
      SELECT t, count(*) AS c FROM toks GROUP BY t
    ), tot AS (
      SELECT count(*) AS n FROM toks
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           round(avg(ln(c.c) - ln((SELECT n FROM tot))), 6) AS avg_logprob
    FROM toks JOIN cnt c ON toks.t = c.t
    GROUP BY doc_id
    """,
    doc="Unigram language-model scoring (the CCNet/KenLM quality-filter "
    "shape with the LM trained on the corpus itself): global token "
    "counts -> per-token log-probability -> per-document mean log-prob. "
    "Documents far below the corpus mean are gibberish/outliers. Plan: "
    "one explode, one vocab-sized count shuffle, the vocabulary joined "
    "back UNHINTED (vocab is Heaps-sublinear but unbounded — AQE "
    "broadcasts while it fits, shuffle join after), one per-doc agg; the "
    "corpus-total is a 1-row broadcast scalar. Swapping in an external "
    "pretrained LM table changes the data, not the plan.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    toks = d.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("t"))
    cnt = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # corpus total = sum over the (small) vocabulary table — saves a third
    # full corpus explode vs counting toks directly
    tot = cnt.agg(F.sum("c").cast("long").alias("n"))
    return (
        toks.join(cnt, "t")  # unhinted: vocab is Heaps-sublinear but unbounded
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log("c") - F.log("n")), 6).alias("avg_logprob"),
        )
    )


@register(
    "corpus_source_divergence",
    r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      FROM documents
    ), st AS MATERIALIZED (
      SELECT source, t, count(*) AS c FROM toks GROUP BY source, t
    ), s_tot AS MATERIALIZED (
      SELECT source, sum(c)::BIGINT AS ns FROM st GROUP BY source
    ), ct AS MATERIALIZED (
      SELECT t, sum(c)::BIGINT AS ctot FROM st GROUP BY t
    ), n AS (
      SELECT sum(ns)::BIGINT AS n FROM s_tot
    )
    SELECT st.source,
           max(ns)::BIGINT AS n_tokens,
           round(-sum((c::DOUBLE / ns) * ln(c::DOUBLE / ns)), 6) AS entropy_nats,
           round(sum((c::DOUBLE / ns)
                     * (ln(c::DOUBLE / ns) - ln(ctot::DOUBLE / (SELECT n FROM n)))), 6)
             AS kl_vs_corpus
    FROM st JOIN s_tot USING (source) JOIN ct USING (t)
    GROUP BY st.source
    """,
    doc="Per-source unigram distribution diagnostics: Shannon entropy and "
    "KL(source || corpus) — the drift/contrast measure behind corpus "
    "mixing decisions (a source whose KL spikes is out-of-distribution "
    "or contaminated). One corpus explode feeds a (source, token) count; "
    "the corpus distribution is a vocab-sized RE-aggregation of that "
    "table (no second pass), joined back UNHINTED (Heaps-sublinear but "
    "unbounded — AQE broadcasts while it fits); the "
    "grand total is a 1-row broadcast scalar. Every source token occurs "
    "in the corpus by construction, so KL is always finite.",
)
def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    toks = d.select("source", F.explode(ws_tokens(F.col("text"))).alias("t"))
    st = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    s_tot = st.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    ct = st.groupBy("t").agg(F.sum("c").cast("long").alias("ctot"))
    n = s_tot.agg(F.sum("ns").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("ns")
    q = F.col("ctot").cast("double") / F.col("n")
    return (
        st.join(F.broadcast(s_tot), "source")
        .join(ct, "t")  # unhinted: vocab-sized, Heaps-sublinear but unbounded
        .crossJoin(F.broadcast(n))
        .groupBy("source")
        .agg(
            F.max("ns").alias("n_tokens"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(F.sum(p * (F.log(p) - F.log(q))), 6).alias("kl_vs_corpus"),
        )
    )


def _bpe_encode_oracle_sql(n_merges: int = 5) -> str:
    r"""DuckDB oracle for ``bpe_encode_counts``: the ``_bpe_oracle_sql``
    learning chain (unchanged) plus an encode chain — the FULL vocabulary
    (including 1-char words, which learning's pair counting excludes)
    run through the same bracketed-token ``replace`` for each learned
    merge in rank order, then token counts joined back per document."""
    lo, hi = "chr(2)", "chr(3)"
    parts = [
        r"""
    WITH words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
      ) WHERE length(w) >= 2 GROUP BY w
    ),
    w1 AS MATERIALIZED (
      SELECT cnt,
             {lo} || array_to_string(string_split(w, ''), {hi} || {lo}) || {hi} AS r
      FROM words
    )""".format(lo=lo, hi=hi)
    ]
    for i in range(1, n_merges + 1):
        a = f"(SELECT a FROM best{i})"
        b = f"(SELECT b FROM best{i})"
        parts.append(f"""
    tok{i} AS MATERIALIZED (
      SELECT cnt, string_split(trim(r, {lo} || {hi}), {hi} || {lo}) AS l FROM w{i}
    ),
    p{i} AS MATERIALIZED (
      SELECT l[u.i] AS a, l[u.i + 1] AS b, sum(cnt) AS n
      FROM tok{i}, LATERAL unnest(range(1, len(l))) AS u(i)
      GROUP BY 1, 2
    ),
    best{i} AS MATERIALIZED (
      SELECT a, b, n FROM p{i} ORDER BY n DESC, a || ' ' || b LIMIT 1
    ),
    w{i + 1} AS MATERIALIZED (
      SELECT cnt,
             replace(r,
                     {lo} || {a} || {hi} || {lo} || {b} || {hi},
                     {lo} || {a} || {b} || {hi}) AS r
      FROM w{i}
    )""")
    parts.append(f"""
    vocab AS MATERIALIZED (
      SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents
    ),
    enc0 AS MATERIALIZED (
      SELECT w, {lo} || array_to_string(string_split(w, ''), {hi} || {lo}) || {hi} AS r
      FROM vocab
    )""")
    for i in range(1, n_merges + 1):
        a = f"(SELECT a FROM best{i})"
        b = f"(SELECT b FROM best{i})"
        parts.append(f"""
    enc{i} AS MATERIALIZED (
      SELECT w, replace(r,
                        {lo} || {a} || {hi} || {lo} || {b} || {hi},
                        {lo} || {a} || {b} || {hi}) AS r
      FROM enc{i - 1}
    )""")
    parts.append(f"""
    encn AS MATERIALIZED (
      SELECT w, len(string_split(trim(r, {lo} || {hi}), {hi} || {lo})) AS n_sym
      FROM enc{n_merges}
    ),
    docw AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents
    )""")
    final = """
    SELECT doc_id,
           count(*)::BIGINT AS n_words,
           sum(n_sym)::BIGINT AS n_bpe_tokens
    FROM docw JOIN encn ON docw.w = encn.w
    GROUP BY doc_id
    """
    return ",".join(parts) + final


def _greedy_merge(sym: Column, a: str, b: str, merged: str) -> Column:
    """One greedy left-to-right BPE merge over a symbol array (identical
    fold to ``bpe_learn``'s application step)."""
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (t == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(t))),
    )


@register(
    "bpe_encode_counts",
    _bpe_encode_oracle_sql(5),
    doc="BPE tokenizer APPLICATION (the other half of bpe_learn_merges): "
    "learn the top-5 merges, then encode the corpus and report per-"
    "document word and BPE-token counts — the token-budget accounting "
    "every pretraining pipeline runs before packing. Scale shape: merges "
    "apply over the DEDUPLICATED vocabulary (vocab-sized HOF work, not "
    "corpus-sized), then the (word → token-count) table joins back "
    "broadcast onto the exploded token stream; per-doc sums combine "
    "map-side. The merge table itself is a bounded n_merges-row collect.",
)
def bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    merges = bpe_learn(d, n_merges=5).collect()  # bounded: 5 rows
    vocab = d.select(F.explode(ws_tokens(F.col("text"))).alias("w")).distinct()
    sym = F.split("w", "")
    for m in merges:
        sym = _greedy_merge(sym, m.left, m.right, m.merged)
    enc = vocab.select("w", F.size(sym).alias("n_sym"))
    tokd = d.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("w"))
    return (
        tokd.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


def _funnel_oracle_sql() -> str:
    """Compose the funnel oracle from the four gate oracles verbatim
    (pulled from the registry at registration time, so a gate-oracle edit
    can never drift out of sync with the funnel)."""
    from redcap_omop_etl_spark.workload import REGISTRY

    q = REGISTRY["text_quality_score"].oracle
    r = REGISTRY["text_repetition_stats"].oracle
    b = REGISTRY["text_boilerplate_ngrams"].oracle
    lm = REGISTRY["text_unigram_logprob"].oracle
    return f"""
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           sum(q.quality_keep)::BIGINT AS n_quality,
           sum(q.quality_keep * r.rep_keep)::BIGINT AS n_quality_rep,
           sum(q.quality_keep * r.rep_keep * b.bp_keep)::BIGINT AS n_quality_rep_bp,
           sum(q.quality_keep * r.rep_keep * b.bp_keep
               * CASE WHEN lm.avg_logprob >= -3.5 THEN 1 ELSE 0 END)::BIGINT AS n_pass_all
    FROM documents d
    JOIN ({q}) q ON d.doc_id = q.doc_id
    JOIN ({r}) r ON d.doc_id = r.doc_id
    JOIN ({b}) b ON d.doc_id = b.doc_id
    JOIN ({lm}) lm ON d.doc_id = lm.doc_id
    GROUP BY d.source
    """


@register(
    "corpus_quality_funnel",
    _funnel_oracle_sql(),
    doc="Composed quality funnel (capstone): per source, how many "
    "documents survive each successive gate — heuristic quality "
    "(length/punct/digit), Gopher repetition, corpus-global boilerplate, "
    "unigram-LM score (>= -3.5 on the 6dp-rounded mean log-prob; both "
    "engines compare the same rounded value, so the flag can never flip "
    "on a last-ulp difference). Built by REUSING the four registered gate "
    "queries and joining their per-doc flags on doc_id — the oracle is "
    "string-composed from the same four registry oracles, so they cannot "
    "drift. The funnel counts are what a corpus curator actually reads "
    "before choosing thresholds at 100 TB.",
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"].select("doc_id", "source")
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_keep")
    r = text_repetition_stats(spark, sf_dir).select("doc_id", "rep_keep")
    b = text_boilerplate_ngrams(spark, sf_dir).select("doc_id", "bp_keep")
    lm = text_unigram_logprob(spark, sf_dir).select(
        "doc_id", F.when(F.col("avg_logprob") >= -3.5, 1).otherwise(0).alias("lm_keep")
    )
    flags = d.join(q, "doc_id").join(r, "doc_id").join(b, "doc_id").join(lm, "doc_id")
    keep_qr = F.col("quality_keep") * F.col("rep_keep")
    keep_qrb = keep_qr * F.col("bp_keep")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("quality_keep").alias("n_quality"),
        F.sum(keep_qr).alias("n_quality_rep"),
        F.sum(keep_qrb).alias("n_quality_rep_bp"),
        F.sum(keep_qrb * F.col("lm_keep")).alias("n_pass_all"),
    )


@register(
    "text_chunk_windows",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), s AS (
      SELECT doc_id, w,
             unnest(generate_series(0, greatest(len(w) - 1, 0), 48)) AS start
      FROM t
    )
    SELECT doc_id,
           (start // 48)::BIGINT AS chunk_id,
           len(w[start + 1 : start + 64])::BIGINT AS n_chunk_tokens,
           md5(array_to_string(w[start + 1 : start + 64], ' ')) AS chunk_hash
    FROM s
    """,
    doc="Overlapping token-window chunking (RAG / context-window prep): "
    "each document becomes ceil(n_tokens/48) chunks of up to 64 tokens "
    "with a 16-token overlap (stride 48). The chunk grid is generated "
    "JVM-side as sequence() + posexplode + slice — one scan, no shuffle, "
    "no Python; output rows scale with corpus token count / stride, and "
    "each chunk carries a content hash so downstream chunk-level dedup "
    "and embedding jobs key on a 32-byte fingerprint instead of text.",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    chunk, stride = 64, 48
    toks = d.select("doc_id", ws_tokens(F.col("text")).alias("w"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("w") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = toks.select(
        "doc_id", "w", F.explode(starts).alias("start")
    )
    piece = F.slice(F.col("w"), F.col("start") + 1, chunk)
    return exploded.select(
        "doc_id",
        (F.col("start") / stride).cast("bigint").alias("chunk_id"),
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
    )


# Structure markers for the registered structured-split query. Real corpora
# split on markdown headings / blank lines / sentence ends; the synthetic
# driver corpus is single-line unpunctuated word soup, so two common content
# words stand in as section markers. The operator itself takes any marker
# list — the boundary PREDICATE is the parameter, the plan is the product.
_STRUCT_MARKERS = ("table", "line")
_STRUCT_MAX_TOKENS = 32


def split_structured(
    df: DataFrame,
    markers: list[str] | tuple[str, ...] = _STRUCT_MARKERS,
    max_tokens: int = _STRUCT_MAX_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Structure-aware, offset-preserving document splitter (the chunking
    step every RAG / pretrain pipeline runs BEFORE dedup + embedding).

    A new section starts at position 0 and at every token matching the
    ``markers`` boundary predicate (the stand-in for headings / blank
    lines / sentence starts); sections longer than ``max_tokens`` are
    re-split into fixed-width sub-chunks — the same windowing
    ``text_chunk_windows`` applies corpus-wide, here scoped INSIDE a
    structural section so a chunk never straddles a section boundary.

    Offset preservation is the contract: each chunk carries
    ``(start_idx, end_idx)`` token offsets into the ORIGINAL document,
    chunks tile the document exactly (sum of n_tokens = doc token count,
    end_i + 1 = start_{i+1}), so downstream spans (dedup hits, citation
    offsets, PII redaction spans) map back to source positions. Pinned by
    tests/test_round6_ops.py; the registered boundary AUDIT query proves
    the tiling cross-engine.

    Plan: posexplode of the token array (one scan, in-row fan-out), a
    cumulative boundary count per document (ONE window shuffle,
    partitioned by doc — never global), then a hash aggregate on
    (doc, section, sub). The chunk hash is md5 over the pos-sorted token
    list, computed from collect_list(struct(pos, tok)) + array_sort —
    JVM-side, no Python.
    """
    keep = keep_cols or []
    toks = fan_out(df).select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in keep],
        F.posexplode(ws_tokens(F.col(text_col))).alias("pos", "tok"),
    )
    is_boundary = (
        F.when(F.col("tok").isin(*markers) | (F.col("pos") == 0), 1).otherwise(0)
    )
    from pyspark.sql.window import Window

    wdoc = Window.partitionBy("doc").orderBy("pos")
    sec = toks.withColumn(
        "section_id",
        F.sum(is_boundary).over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wsec = Window.partitionBy("doc", "section_id")
    sub = sec.withColumn(
        "sub_id",
        F.floor((F.col("pos") - F.min("pos").over(wsec)) / F.lit(max_tokens)).cast(
            "bigint"
        ),
    )
    ordered_toks = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda x: x["tok"]
    )
    return sub.groupBy("doc", *keep, "section_id", "sub_id").agg(
        F.min("pos").cast("bigint").alias("start_idx"),
        F.max("pos").cast("bigint").alias("end_idx"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(ordered_toks, " ")).alias("chunk_hash"),
    )


@register(
    "text_chunk_structured",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), p AS (
      SELECT doc_id, source, u.i - 1 AS pos, w[u.i] AS tok
      FROM t, unnest(range(1, len(w) + 1)) u(i)
    ), sec AS (
      SELECT doc_id, source, pos, tok,
             sum(CASE WHEN tok IN ('table', 'line') OR pos = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS section_id
      FROM p
    ), sub AS (
      SELECT *, (pos - min(pos) OVER (PARTITION BY doc_id, section_id))
                  // {_STRUCT_MAX_TOKENS} AS sub_id
      FROM sec
    ), ch AS (
      SELECT doc_id, source, section_id, sub_id,
             min(pos) AS start_idx, max(pos) AS end_idx, count(*) AS n_tokens
      FROM sub GROUP BY 1, 2, 3, 4
    ), audit AS (
      SELECT doc_id, source, n_tokens,
             end_idx - start_idx + 1 - n_tokens AS span_minus_n,
             start_idx
               - coalesce(lag(end_idx) OVER (PARTITION BY doc_id ORDER BY start_idx),
                          -1) - 1 AS gap
      FROM ch
    ), per_doc AS (
      SELECT doc_id, source,
             count(*) AS n_chunks, sum(n_tokens) AS n_toks,
             max(n_tokens) AS max_chunk,
             sum(CASE WHEN gap <> 0 OR span_minus_n <> 0 THEN 1 ELSE 0 END) AS n_bad
      FROM audit GROUP BY 1, 2
    ), dlen AS (
      SELECT doc_id, len(w) AS doc_tokens FROM t
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_chunks)::BIGINT AS n_chunks,
           max(max_chunk)::BIGINT AS max_chunk_tokens,
           sum(CASE WHEN n_toks = doc_tokens THEN 1 ELSE 0 END)::BIGINT
             AS n_docs_exact_coverage,
           sum(n_bad)::BIGINT AS n_noncontiguous
    FROM per_doc JOIN dlen USING (doc_id)
    GROUP BY source ORDER BY source
    """,
    doc="Chunk-boundary AUDIT of the structure-aware splitter: per source, "
    "the number of chunks, the widest chunk (must be ≤ max_tokens + the "
    "marker token), how many documents are tiled EXACTLY (sum of chunk "
    "n_tokens = document token count), and how many chunks violate "
    "contiguity (gap to the previous chunk ≠ 0, or internal span ≠ "
    "n_tokens). n_noncontiguous must be 0 and exact-coverage must equal "
    "n_docs — the oracle proves offset preservation cross-engine, which "
    "is what lets downstream spans (dedup hits, citations, PII redaction) "
    "map back to source positions after a 100 TB chunking pass.",
)
def text_chunk_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    ch = split_structured(d, keep_cols=["source"])
    from pyspark.sql.window import Window

    wdoc = Window.partitionBy("doc").orderBy("start_idx")
    audit = ch.select(
        "doc",
        "source",
        "n_tokens",
        (F.col("end_idx") - F.col("start_idx") + 1 - F.col("n_tokens")).alias(
            "span_minus_n"
        ),
        (
            F.col("start_idx")
            - F.coalesce(F.lag("end_idx").over(wdoc), F.lit(-1))
            - 1
        ).alias("gap"),
    )
    per_doc = audit.groupBy("doc", "source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("n_toks"),
        F.max("n_tokens").alias("max_chunk"),
        F.sum(
            F.when((F.col("gap") != 0) | (F.col("span_minus_n") != 0), 1).otherwise(0)
        ).alias("n_bad"),
    )
    dlen = d.select(
        F.col("doc_id").alias("doc"), F.size(ws_tokens(F.col("text"))).alias("doc_tokens")
    )
    return (
        per_doc.join(dlen, "doc")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.max("max_chunk").cast("bigint").alias("max_chunk_tokens"),
            F.sum(F.when(F.col("n_toks") == F.col("doc_tokens"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_exact_coverage"),
            F.sum("n_bad").cast("bigint").alias("n_noncontiguous"),
        )
        .orderBy("source")
    )


@register(
    "dedup_chunk_level",
    """
    WITH t AS (
      SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), s AS (
      SELECT doc_id, source, w,
             unnest(generate_series(0, greatest(len(w) - 1, 0), 48)) AS start
      FROM t
    ), c AS (
      SELECT source, md5(array_to_string(w[start + 1 : start + 64], ' ')) AS h
      FROM s
    ), g1 AS (
      SELECT h, source, count(*) AS c FROM c GROUP BY h, source
    ), g2 AS (
      SELECT h, source, c, sum(c) OVER (PARTITION BY h) AS tot FROM g1
    )
    SELECT source,
           sum(c)::BIGINT AS n_chunks,
           sum(CASE WHEN tot > 1 THEN c ELSE 0 END)::BIGINT AS n_dup_chunks,
           floor(sum(CASE WHEN tot > 1 THEN c ELSE 0 END) * 1000000.0
                 / sum(c) + 0.5)::BIGINT AS dup_ppm
    FROM g2
    GROUP BY source
    """,
    doc="Chunk-granularity duplication profile per source: reuses the "
    "stride-48/len-64 chunk grid, counts per (chunk_hash, source) first "
    "(map-side partial agg collapses the corpus to near-unique hashes "
    "BEFORE any wide exchange), then a window over the reduced relation "
    "marks hashes occurring >1 time corpus-wide. Two shuffles total, both "
    "over the pre-aggregated hash table — never a self-join of raw "
    "chunks. The per-source dup fraction (ppm, floor-form rounding) is "
    "the RefinedWeb/Gopher-style signal for boilerplate-heavy sources.",
)
def dedup_chunk_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = Catalog(spark, sf_dir)["documents"]
    chunk, stride = 64, 48
    toks = d.select("doc_id", "source", ws_tokens(F.col("text")).alias("w"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("w") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = toks.select("source", "w", F.explode(starts).alias("start"))
    chunks = exploded.select(
        "source",
        F.md5(
            F.array_join(F.slice(F.col("w"), F.col("start") + 1, chunk), " ")
        ).alias("h"),
    )
    # One hash(h) exchange serves BOTH the (h, source) aggregate (hash(h)
    # clusters every (h, source) group) and the per-h window — the default
    # plan would shuffle twice: once on (h, source), again on h. Map-side
    # partial agg is no loss here: chunk hashes are near-unique, so
    # pre-shuffle combining wouldn't reduce the exchange anyway.
    g1 = chunks.repartition("h").groupBy("h", "source").agg(
        F.count("*").alias("c")
    )
    g2 = g1.withColumn("tot", F.sum("c").over(W.partitionBy("h")))
    dup_c = F.when(F.col("tot") > 1, F.col("c")).otherwise(F.lit(0))
    return (
        g2.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_chunks"),
            F.sum(dup_c).cast("bigint").alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_ppm",
            F.floor(
                F.col("n_dup_chunks") * 1000000.0 / F.col("n_chunks") + 0.5
            ).cast("bigint"),
        )
    )


@register(
    "text_collocation_pmi",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), bg AS (
      SELECT w[r.i] AS w1, w[r.i + 1] AS w2
      FROM t, unnest(range(1, len(w))) AS r(i)
      WHERE len(w) >= 2
    ), c2 AS (
      SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, count(*) AS cl FROM bg GROUP BY w1
    ), cr AS (
      SELECT w2, count(*) AS cr FROM bg GROUP BY w2
    ), tot AS (
      SELECT count(*)::DOUBLE AS nb FROM bg
    )
    SELECT w1, w2, n::BIGINT AS n,
           round(ln(n::DOUBLE * nb / (cl::DOUBLE * cr::DOUBLE)), 6) AS pmi
    FROM c2 JOIN c1 USING (w1) JOIN cr USING (w2) CROSS JOIN tot
    WHERE n >= 5
    ORDER BY n::DOUBLE * nb / (cl::DOUBLE * cr::DOUBLE) DESC, w1, w2
    LIMIT 20
    """,
    doc="Collocation extraction by pointwise mutual information: corpus "
    "bigrams (adjacent token pairs, docs with >= 2 tokens on both "
    "engines — Spark's sequence() runs DESCENDING when start > stop, so "
    "the short-doc filter is a correctness guard, not an optimization), "
    "PMI = ln(n12·N / (n1·n2)) over exact integer counts for pairs seen "
    ">= 5 times, top-20. One bigram explode scan feeds three hash aggs; "
    "the left/right marginal joins are vocabulary-bounded and the corpus "
    "total is a 1-row broadcast. The LIMIT-20 cut orders by the ln-FREE "
    "probability ratio (ln is monotone, so the ranking is identical): "
    "the ratio is three correctly-rounded IEEE ops over exact integers — "
    "bit-identical cross-engine — whereas JVM Math.log and libm may "
    "disagree by 1 ulp, which at a LIMIT boundary would flip the row "
    "set. Residual risk: the DISPLAYED pmi still passes through ln, so a "
    "1-ulp divergence landing exactly on a 6dp rounding boundary could "
    "differ (data-dependent, not accumulation-order-dependent).",
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    t = d.select(ws_tokens(F.col("text")).alias("w")).filter(F.size("w") >= 2)
    bg = t.select(
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))")
        ).alias("b")
    ).select("b.w1", "b.w2")
    # ONE corpus shuffle: the unfiltered (w1, w2) counts; every marginal
    # (left, right, total) re-aggregates that vocab^2-bounded table instead
    # of re-running the bigram explode scan (4 scans -> 1; the 64x scale
    # slope dropped from ~30 to ~12 with this shape). Cached because
    # Catalyst does not reuse the common exchange across the four
    # aggregate branches (verified: ReusedExchange=0, Generate=8 uncached).
    c2all = materialize(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n")), "persist")
    c2 = c2all.filter(F.col("n") >= 5)
    c1 = c2all.groupBy("w1").agg(F.sum("n").alias("cl"))
    cr = c2all.groupBy("w2").agg(F.sum("n").alias("cr"))
    tot = c2all.agg(F.sum("n").cast("double").alias("nb"))
    # Rank on the ln-free ratio (monotone-equivalent to PMI): exact-int
    # operands through three correctly-rounded double ops — bit-identical
    # cross-engine, immune to the JVM-vs-libm ln ulp at the LIMIT cut.
    ratio = (
        F.col("n").cast("double") * F.col("nb")
        / (F.col("cl").cast("double") * F.col("cr").cast("double"))
    )
    return (
        c2.join(c1, "w1")
        .join(cr, "w2")
        .crossJoin(F.broadcast(tot))
        .orderBy(ratio.desc(), "w1", "w2")
        .limit(20)
        .select("w1", "w2", "n", F.round(F.log(ratio), 6).alias("pmi"))
    )


@register(
    "corpus_ngram_novelty",
    """
    WITH t AS (
      SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), bgd AS (
      SELECT DISTINCT doc_id, source, w[u.i] || ' ' || w[u.i + 1] AS bg
      FROM t, LATERAL unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    ), per_doc AS (
      SELECT doc_id, source, count(*) AS n_bg FROM bgd GROUP BY 1, 2
    ), fs AS (
      SELECT bg, min(doc_id) AS fdoc FROM bgd GROUP BY bg
    ), novel AS (
      SELECT fdoc AS doc_id, count(*) AS n_novel FROM fs GROUP BY fdoc
    )
    SELECT p.source,
           count(*)::BIGINT                         AS n_docs,
           sum(p.n_bg)::BIGINT                      AS n_bigrams,
           sum(coalesce(n.n_novel, 0))::BIGINT      AS n_novel,
           round(sum(coalesce(n.n_novel, 0))::DOUBLE / sum(p.n_bg), 6)
                                                    AS novelty_ratio
    FROM per_doc p LEFT JOIN novel n USING (doc_id)
    GROUP BY p.source
    """,
    doc="Corpus n-gram novelty per source: a document's distinct bigrams "
    "are 'novel' if no lower-id document contains them; the per-source "
    "novelty ratio is the standard duplication/memorization pressure "
    "signal (low novelty => the source mostly re-treads existing text "
    "and should be down-weighted or deduped harder). NO bigram-level "
    "join-back: first-seen counts re-aggregate the (bigram -> min doc) "
    "table by its own min-doc column, so the plan is one distinct "
    "shuffle on (doc, bigram), one vocab-bounded min-agg, and two tiny "
    "doc-level aggs — all counts exact integers.",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    toks = ws_tokens(F.col("text"))
    bigram = F.explode(
        F.expr(
            "transform(sequence(1, size(__w) - 1), i -> concat(__w[i-1], ' ', __w[i]))"
        )
    )
    # NOT cached (measured): per_doc and the first-seen agg are separate
    # branches, so the tokenize→explode→distinct chain runs twice — but
    # with only TWO consumers, pinning this corpus-sized string table
    # costs more than the rescan (3.2s cached vs 1.8s uncached at sf0.1).
    # Contrast the shingle tables in dedup.py, which cache because 3-4
    # branches (sizes + both self-join sides) re-run a much heavier
    # interpreted-HOF chain per pass — the call is per-operator and
    # empirical, not a blanket rule.
    bgd = (
        fan_out(d)
        .select("doc_id", "source", toks.alias("__w"))
        .filter(F.size("__w") >= 2)
        .select("doc_id", "source", bigram.alias("bg"))
        .distinct()
    )
    per_doc = bgd.groupBy("doc_id", "source").agg(F.count(F.lit(1)).alias("n_bg"))
    fs = bgd.groupBy("bg").agg(F.min("doc_id").alias("doc_id"))
    novel = fs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_novel"))
    return (
        per_doc.join(novel, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bg").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("n_novel"), F.lit(0))).alias("n_novel"),
            F.round(
                F.sum(F.coalesce(F.col("n_novel"), F.lit(0))).cast("double")
                / F.sum("n_bg"),
                6,
            ).alias("novelty_ratio"),
        )
    )


def _lang_confusion_oracle_sql() -> str:
    """Confusion-matrix oracle composed from the registered text_langid
    oracle verbatim (registry splice, the funnel-oracle pattern — a
    langid edit can never drift this query out of sync)."""
    from redcap_omop_etl_spark.workload import REGISTRY

    p = REGISTRY["text_langid"].oracle
    return f"""
    WITH pred AS ({p}),
    j AS (
      SELECT d.lang AS actual_lang, pred.predicted_lang
      FROM documents d JOIN pred ON d.doc_id = pred.doc_id
    ), m AS (
      SELECT actual_lang, predicted_lang, count(*) AS n,
             sum(count(*)) OVER (PARTITION BY actual_lang) AS n_actual
      FROM j GROUP BY actual_lang, predicted_lang
    )
    SELECT actual_lang, predicted_lang, n::BIGINT AS n,
           round(n::DOUBLE / n_actual, 6) AS share_of_actual
    FROM m
    """


@register(
    "text_lang_confusion",
    _lang_confusion_oracle_sql(),
    doc="Language-ID confusion matrix: the marker-heuristic prediction "
    "(text_langid, composed verbatim) against the corpus's labeled lang "
    "column, with each cell's share of its actual-language row — the "
    "eval every language-filter deployment needs before trusting the "
    "classifier to route/drop documents. One scan through the langid "
    "expressions, one hash agg on the (actual, predicted) pair (cells "
    "bounded by langs², so the per-actual share window runs over a "
    "domain-bounded table); all counts exact integers, the share one "
    "double division.",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = Catalog(spark, sf_dir)["documents"]
    pred = text_langid(spark, sf_dir)
    j = d.select("doc_id", F.col("lang").alias("actual_lang")).join(pred, "doc_id")
    m = j.groupBy("actual_lang", "predicted_lang").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("actual_lang")
    return m.select(
        "actual_lang",
        "predicted_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("share_of_actual"),
    )


@register(
    "text_bigram_logprob",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), bg AS (
      SELECT doc_id, w[u.i] AS w1, w[u.i] || ' ' || w[u.i + 1] AS g
      FROM t, unnest(range(1, len(w))) u(i)
    ), c2 AS MATERIALIZED (
      SELECT g, count(*) AS c2 FROM bg GROUP BY g
    ), c1 AS MATERIALIZED (
      SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           round(avg(ln(c2.c2) - ln(c1.c1)), 6) AS avg_logprob
    FROM bg JOIN c2 USING (g) JOIN c1 USING (w1)
    GROUP BY doc_id
    """,
    doc="Bigram language-model scoring (the order-2 KenLM-filter shape, "
    "LM trained on the corpus itself): per-document mean "
    "ln P(w2 | w1) = ln c(w1 w2) - ln c(w1 ·), where the prefix counts "
    "re-aggregate from the bigram table (no second corpus pass). The "
    "order-2 model catches scrambled-word-salad documents whose UNIGRAM "
    "distribution looks normal — exactly what text_unigram_logprob "
    "cannot see. Plan: one bigram explode, one bigram-vocab count "
    "shuffle, prefix counts as a vocab-sized re-agg, both joined back "
    "WITHOUT a broadcast hint (bigram vocabulary grows faster than "
    "Heaps' unigram curve — AQE broadcasts while it fits and degrades "
    "to a shuffle join at web scale instead of OOMing the driver), one "
    "per-doc agg. Same ln/round-6 discipline as the unigram oracle.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    toks = ws_tokens(F.col("text"))
    bg = fan_out(d).select(
        "doc_id", F.explode(grams_with_repeats(toks, 2)).alias("g")
    ).withColumn("w1", F.split(F.col("g"), " ")[0])
    c2 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    return (
        bg.join(c2, "g")
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log("c2") - F.log("c1")), 6).alias("avg_logprob"),
        )
    )


_CHUNK_BIN_TOKENS = 128  # context-window budget for the packing stage


@register(
    "chunk_prep_pipeline",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), p AS (
      SELECT doc_id, source, u.i - 1 AS pos, w[u.i] AS tok
      FROM t, unnest(range(1, len(w) + 1)) u(i)
    ), sec AS (
      SELECT doc_id, source, pos, tok,
             sum(CASE WHEN tok IN ('table', 'line') OR pos = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS section_id
      FROM p
    ), sub AS (
      SELECT *, (pos - min(pos) OVER (PARTITION BY doc_id, section_id))
                  // {_STRUCT_MAX_TOKENS} AS sub_id
      FROM sec
    ), ch AS MATERIALIZED (
      SELECT doc_id, source, section_id, sub_id, count(*) AS n_tokens,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM sub GROUP BY 1, 2, 3, 4
    ), uniq AS MATERIALIZED (
      SELECT source, chunk_hash, min(n_tokens) AS n_tokens
      FROM ch GROUP BY source, chunk_hash
    ), packed AS (
      SELECT source, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY chunk_hash
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // {_CHUNK_BIN_TOKENS} AS bin
      FROM uniq
    )
    SELECT ch.source,
           count(*)::BIGINT AS n_chunks,
           (SELECT count(*) FROM uniq u WHERE u.source = ch.source)::BIGINT
             AS n_unique_chunks,
           ((count(*) - (SELECT count(*) FROM uniq u WHERE u.source = ch.source))
             * 1000000 // count(*))::BIGINT AS dup_ppm,
           (SELECT count(DISTINCT bin) FROM packed pk WHERE pk.source = ch.source)::BIGINT
             AS n_bins,
           round((SELECT sum(n_tokens) FROM uniq u WHERE u.source = ch.source) * 1.0
                 / (SELECT count(DISTINCT bin) FROM packed pk WHERE pk.source = ch.source)
                 / {_CHUNK_BIN_TOKENS}, 6) AS bin_utilization
    FROM ch GROUP BY ch.source ORDER BY ch.source
    """,
    doc="RAG-prep capstone: structure-aware chunking -> chunk-level exact "
    "dedup -> context-window packing, composed in ONE plan per source — "
    "the pipeline every retrieval corpus runs between raw documents and "
    f"an embedding job. Chunks come from split_structured (markers + "
    f"{_STRUCT_MAX_TOKENS}-token re-split), dedup keys on the chunk "
    "content hash (one hash-agg), and packing assigns unique chunks to "
    f"{_CHUNK_BIN_TOKENS}-token bins via the two-phase keyed running "
    "sum over the deterministic hash order (exact integer arithmetic; "
    "the data-sized sort is partitioned by (__pid, source), never by "
    "the ~20-value source key alone). "
    "Reports per-source chunk counts, dup ppm (integer floor-div), bin "
    "count, and utilization — the numbers that size the embedding job "
    "and the index.",
)
def chunk_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redcap_omop_etl_spark.operators.scalable_windows import keyed_running_sum

    d = Catalog(spark, sf_dir)["documents"]
    ch = materialize(split_structured(d, keep_cols=["source"]), "persist")
    uniq = ch.groupBy("source", "chunk_hash").agg(
        F.min("n_tokens").alias("n_tokens")
    ).transform(materialize, "persist")
    # packing's per-source running sum goes through the two-phase
    # keyed_running_sum primitive: source has ~20 values, so the naive
    # source-partitioned window this replaces capped the unique-chunk
    # sort at 20 tasks at any cluster size.
    packed = keyed_running_sum(
        uniq, ["source"], ["chunk_hash"], "n_tokens", "__ps"
    ).select(
        "source",
        "n_tokens",
        F.expr(f"__ps div {_CHUNK_BIN_TOKENS}").alias("bin"),
    )
    per_chunks = ch.groupBy("source").agg(F.count(F.lit(1)).alias("n_chunks"))
    per_uniq = uniq.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unique_chunks"),
        F.sum("n_tokens").alias("uniq_tokens"),
    )
    per_bins = packed.groupBy("source").agg(
        F.countDistinct("bin").alias("n_bins")
    )
    return (
        per_chunks.join(per_uniq, "source")
        .join(per_bins, "source")
        .select(
            "source",
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_unique_chunks").cast("bigint").alias("n_unique_chunks"),
            F.expr("(n_chunks - n_unique_chunks) * 1000000 div n_chunks")
            .cast("bigint")
            .alias("dup_ppm"),
            F.col("n_bins").cast("bigint").alias("n_bins"),
            F.round(
                F.col("uniq_tokens").cast("double")
                / F.col("n_bins")
                / _CHUNK_BIN_TOKENS,
                6,
            ).alias("bin_utilization"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: hashed-feature linear classifier
# ---------------------------------------------------------------------------

_CLF_B = 4096  # weight-table buckets (the "model" is B rows, broadcastable)


@register(
    "text_quality_classifier",
    f"""
    WITH lst AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
      FROM documents
    ), feats AS (
      SELECT doc_id, l[i] AS f
      FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM lst)
      UNION ALL
      SELECT doc_id, l[i] || ' ' || l[i + 1] AS f
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM lst)
    ), w AS (
      SELECT i AS b,
             (cast(('0x' || substring(md5('w:' || i::VARCHAR), 1, 8)) AS BIGINT)
              % 2001) - 1000 AS w_milli
      FROM generate_series(0, {_CLF_B - 1}) AS gs(i)
    ), scored AS (
      SELECT doc_id, f,
             cast(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % {_CLF_B} AS b
      FROM feats
    )
    SELECT doc_id,
           count(*)::BIGINT                                   AS n_features,
           round(sum(w_milli) / (1000.0 * count(*)), 6)       AS score,
           sum(w_milli) > 0                                   AS keep
    FROM scored JOIN w USING (b)
    GROUP BY doc_id
    """,
    doc="Model-based quality filter: a fasttext-style linear classifier "
    "over hashed unigram+bigram features (the CCNet/LLaMA corpus-filter "
    "stage that heuristic quality_score approximates). The 'pretrained' "
    "weight table is derived deterministically from md5 so both engines "
    "replay it; weights are integer milli-units so the per-doc sum is "
    "exact under any aggregation order (same bit-for-bit trick as the "
    "nDCG micro-units). Plan: one corpus scan, unigram+bigram features "
    "via zip_with (no self-join), bucket by portable md5, broadcast-join "
    "the B-row weight table (a real pretrained model swaps the table, "
    "not the plan), one per-doc hash-agg. Linear and scan-bound at any "
    "corpus size.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quality_classifier_frame(spark, sf_dir, family="md5")


def _quality_classifier_frame(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    """Shared plan for both hash families — only the bucket/weight hash
    differs, so the md5 twin's value oracle pins the whole plan shape."""
    from redcap_omop_etl_spark.operators.sampling import hash_bucket

    # fan_out GATED on the hash family (round 13; verdict item 7): the md5
    # twin's per-feature interpreted md5 is the wall the spread pays for
    # (in-session A/B min-of-3: 0.93 s spread vs 1.31 s plain), while the
    # xxh twin's codegen'd hashing is cheaper than the spread's exchange
    # (0.64 s plain vs 0.85 s spread). Same conditional as _dsir_frame.
    d = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")
    if family == "md5":
        d = fan_out(d)
    toks = ws_tokens(F.col("text"))
    d2 = d.select("doc_id", toks.alias("l"))
    big = F.zip_with(
        F.slice(F.col("l"), 1, F.size("l") - 1),
        F.slice(F.col("l"), 2, F.size("l") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = d2.select("doc_id", F.explode(F.concat(F.col("l"), big)).alias("f"))
    wkey = F.concat(F.lit("w:"), F.col("id").cast("string"))
    if family == "xxh":
        w_milli = F.pmod(F.xxhash64(wkey), F.lit(2001)) - 1000
    else:
        w_milli = (
            F.conv(F.substring(F.md5(wkey), 1, 8), 16, 10).cast("bigint") % 2001 - 1000
        )
    w = spark.range(_CLF_B).select(F.col("id").alias("b"), w_milli.alias("w_milli"))
    return (
        feats.withColumn("b", hash_bucket(F.col("f"), _CLF_B, family=family))
        .join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.round(F.sum("w_milli") / (1000.0 * F.count(F.lit(1))), 6).alias("score"),
            (F.sum("w_milli") > 0).alias("keep"),
        )
    )


@register(
    "text_quality_classifier_fast",
    f"""
    WITH lst AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
      FROM documents
    ), feats AS (
      SELECT doc_id, l[i] AS f
      FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM lst)
      UNION ALL
      SELECT doc_id, l[i] || ' ' || l[i + 1] AS f
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM lst)
    ), wk AS (
      SELECT i, 'w:' || i::VARCHAR AS k FROM generate_series(0, {_CLF_B - 1}) AS gs(i)
    ), {xxh64_sql_cte("wk", col="k", keys=("i",), prefix="__u")},
    w AS (
      SELECT i AS b, ({xxh64_pmod(2001)}) - 1000 AS w_milli FROM __uxh
    ), fd AS (
      SELECT DISTINCT f AS k FROM feats
    ), {xxh64_sql_cte("fd", col="k")},
    scored AS (
      SELECT feats.doc_id, {xxh64_pmod(_CLF_B)} AS b
      FROM feats JOIN __xxh ON feats.f = __xxh.__xs
    )
    SELECT doc_id,
           count(*)::BIGINT                                   AS n_features,
           round(sum(w_milli) / (1000.0 * count(*)), 6)       AS score,
           sum(w_milli) > 0                                   AS keep
    FROM scored JOIN w USING (b)
    GROUP BY doc_id
    """,
    doc="Production-hash twin of text_quality_classifier: same features, "
    "same broadcast weight-table join, same exact integer milli-unit "
    "aggregation — but bucketed with Spark's codegen'd xxHash64 instead "
    "of the oracle-portable interpreted md5. The md5 variant's 64x "
    "slope is hash-throughput-bound; this is the knob a 100 TB "
    "deployment turns (the model table is learned against the same "
    "hash family, so the swap is free).",
)
def text_quality_classifier_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quality_classifier_frame(spark, sf_dir, family="xxh")


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage audit (OOV rate per source/lang)
# ---------------------------------------------------------------------------

_VOCAB_V = 2000


@register(
    "corpus_vocab_coverage",
    f"""
    WITH toks AS (
      SELECT source, lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ), cnt AS (
      SELECT t, count(*) AS c FROM toks GROUP BY t
    ), vocab AS (
      SELECT t FROM cnt ORDER BY c DESC, t ASC LIMIT {_VOCAB_V}
    )
    SELECT source, lang,
           count(*)::BIGINT                                  AS n_tokens,
           count(CASE WHEN v.t IS NULL THEN 1 END)::BIGINT   AS n_oov,
           round(count(CASE WHEN v.t IS NULL THEN 1 END) * 1.0 / count(*), 6)
                                                             AS oov_rate
    FROM toks LEFT JOIN vocab v USING (t)
    GROUP BY source, lang
    """,
    doc="Tokenizer-coverage audit: build the top-V corpus vocabulary "
    "(V={v}, ties broken by token so both engines agree), then measure "
    "the out-of-vocabulary token rate per (source, lang) — the number "
    "that drives vocab-size choice and flags sources a fixed tokenizer "
    "would shred into bytes. Plan: one explode feeds a vocab-sized "
    "count; the top-V cut is TakeOrderedAndProject (no full sort of the "
    "vocabulary); the vocab is broadcast left-joined back (V rows); one "
    "per-(source,lang) hash-agg. The OOV ratio is an exact integer "
    "ratio, so the rounding replays bit-for-bit.".format(v=_VOCAB_V),
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir)["documents"]
    toks = d.select(
        "source", "lang", F.explode(ws_tokens(F.col("text"))).alias("t")
    ).transform(materialize, "persist")
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(_VOCAB_V)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "t", "left")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count(F.when(F.col("__in_vocab").isNull(), 1)).cast("long").alias("n_oov"),
            F.round(
                F.count(F.when(F.col("__in_vocab").isNull(), 1)) * 1.0 / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
    )
