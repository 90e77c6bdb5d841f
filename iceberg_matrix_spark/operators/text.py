"""Text-analysis operators for the document pipeline (north-star surface):
token statistics, language identification, quality scoring, fingerprinting.

All operators are narrow projections built from JVM-side expressions
(functions/text.py) — at 100 TB they run entirely inside whole-stage
codegen with no shuffle and no Python workers; the parquet scan reads only
(doc_id, text).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from iceberg_matrix_spark.functions.text import md5_fingerprint, token_count, tokens
from iceberg_matrix_spark.queries.registry import TOKS_SQL, register
from iceberg_matrix_spark.sources.testdata import load_table
from iceberg_matrix_spark.storage import cached

# Language marker words (tiny n-gram-style heuristic; deliberately simple —
# the operator shape matters, not lexicon quality).
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|a)\b",
    "es": r"\b(el|la|de|que|y)\b",
    "de": r"\b(der|die|und|das|ist)\b",
    "fr": r"\b(le|les|et|des|une)\b",
}


def _marker_hits(text_col: str, pattern: str) -> Column:
    return F.regexp_count(F.lower(F.col(text_col)), F.lit(pattern))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting + document fingerprint (rolling-hash stand-in: md5
    over normalized text — portable across engines)."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    no_ws = F.length(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", ""))
    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
            "avg_token_len": no_ws / n_tokens,
            "fingerprint": md5_fingerprint(text_col),
        }
    )


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID with deterministic argmax tiebreak (marker
    declaration order wins ties)."""
    hits = {lang: _marker_hits(text_col, pat) for lang, pat in LANG_MARKERS.items()}
    df = df.withColumns({f"{lang}_hits": c for lang, c in hits.items()})
    langs = list(LANG_MARKERS)
    expr = F.lit("unknown")
    for lang in reversed(langs):
        others = [F.col(f"{o}_hits") for o in langs if o != lang]
        is_max = F.col(f"{lang}_hits") > 0
        for o in others:
            is_max = is_max & (F.col(f"{lang}_hits") >= o)
        expr = F.when(is_max, F.lit(lang)).otherwise(expr)
    # reversed loop leaves highest-priority (first-declared) language outermost
    return df.withColumn("lang_guess", expr)


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: lexical diversity + stopword ratio +
    length band, combined into a [0,1]-ish score and a bucket."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    stop_ratio = _marker_hits(text_col, LANG_MARKERS["en"]) / n_tokens
    len_ok = F.when((n_tokens >= 10) & (n_tokens <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    score = distinct_ratio * 0.5 + stop_ratio * 0.3 + len_ok * 0.2
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("distinct_ratio", distinct_ratio)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("quality_score", score)
        .withColumn(
            "quality_bucket",
            F.when(score >= 0.6, "high").when(score >= 0.4, "medium").otherwise("low"),
        )
    )


# ---------------------------------------------------------------------------
# Registered queries (documents table)
# ---------------------------------------------------------------------------

_TOKS = TOKS_SQL


@register(
    "q_text_token_stats",
    oracle=f"""
    SELECT
      doc_id,
      len({_TOKS}) AS n_tokens,
      len(list_distinct({_TOKS})) AS n_distinct_tokens,
      CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
        / len({_TOKS}) AS avg_token_len,
      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "avg_token_len", "fingerprint"
    )


def _hits_sql(pattern: str) -> str:
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


@register(
    "q_text_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
        {_hits_sql(LANG_MARKERS['en'])} AS en_hits,
        {_hits_sql(LANG_MARKERS['es'])} AS es_hits,
        {_hits_sql(LANG_MARKERS['de'])} AS de_hits,
        {_hits_sql(LANG_MARKERS['fr'])} AS fr_hits
      FROM documents
    )
    SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
      CASE
        WHEN en_hits > 0 AND en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
        WHEN es_hits > 0 AND es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
        WHEN de_hits > 0 AND de_hits >= fr_hits THEN 'de'
        WHEN fr_hits > 0 THEN 'fr'
        ELSE 'unknown'
      END AS lang_guess
    FROM scored
    """,
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_language_id(docs).select(
        "doc_id", "lang", "en_hits", "es_hits", "de_hits", "fr_hits", "lang_guess"
    )


@register(
    "q_text_quality",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
        len({_TOKS}) AS n_tokens,
        CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS distinct_ratio,
        CAST({_hits_sql(LANG_MARKERS['en'])} AS DOUBLE) / len({_TOKS}) AS stop_ratio,
        CASE WHEN len({_TOKS}) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END AS len_ok
      FROM documents
    )
    SELECT doc_id, n_tokens, distinct_ratio, stop_ratio,
      distinct_ratio * 0.5 + stop_ratio * 0.3 + len_ok * 0.2 AS quality_score,
      CASE WHEN distinct_ratio * 0.5 + stop_ratio * 0.3 + len_ok * 0.2 >= 0.6 THEN 'high'
           WHEN distinct_ratio * 0.5 + stop_ratio * 0.3 + len_ok * 0.2 >= 0.4 THEN 'medium'
           ELSE 'low' END AS quality_bucket
    FROM feat
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_quality_score(docs).select(
        "doc_id", "n_tokens", "distinct_ratio", "stop_ratio", "quality_score", "quality_bucket"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints + BPE-ish token counting
# ---------------------------------------------------------------------------

_WINNOW_K = 8  # char k-gram width
_WINNOW_W = 4  # winnowing window (consecutive k-gram hashes)

# GPT-2-style coarse token classes: word, number, punctuation run — each
# optionally preceded by one space — then residual whitespace. Portable
# between Java regex and DuckDB's RE2.
_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def winnow_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    md5 every overlapping 8-char gram of the normalized text, slide a
    4-hash window, keep each window's minimum, dedupe.

    Pure JVM array expressions — the hash array binds once via the
    single-element-transform trick, the window mins are O(w) slices.
    Selected hex digests compare lexicographically identically in any
    engine, so the whole operator is SQL-oracle-able.
    """
    from iceberg_matrix_spark.operators.scale import ensure_compute_parallelism

    # md5-per-gram is the rare projection where per-row CPU dominates the
    # scan: make sure it isn't serialized onto one task by a small input
    # (no-op at real scale — see ensure_compute_parallelism).
    df = ensure_compute_parallelism(df.select("doc_id", text_col))
    k, w = _WINNOW_K, _WINNOW_W
    norm = f"lower(trim(regexp_replace({text_col}, '\\\\s+', ' ')))"
    expr = (
        f"element_at(transform(array({norm}), __t -> "
        f"CASE WHEN length(__t) < {k} THEN array(md5(__t)) ELSE "
        f"element_at(transform(array(transform(sequence(1, length(__t) - {k - 1}), "
        f"__i -> md5(substring(__t, __i, {k})))), __hs -> "
        f"array_distinct(transform(sequence(1, greatest(size(__hs) - {w - 1}, 1)), "
        f"__j -> array_min(slice(__hs, __j, {w}))))), 1) "
        f"END), 1)"
    )
    return df.select(
        F.col("doc_id"), F.expr(expr).alias("fingerprints")
    ).withColumn("n_fps", F.size("fingerprints"))


@register(
    "q_text_fingerprint_winnow",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    hs AS (
      SELECT doc_id,
        CASE WHEN length(t) < {_WINNOW_K} THEN [md5(t)]
             ELSE list_transform(generate_series(1, length(t) - {_WINNOW_K - 1}),
                                 i -> md5(substring(t, i, {_WINNOW_K})))
        END AS hashes,
        length(t) AS n FROM norm
    ),
    fps AS (
      SELECT doc_id,
        CASE WHEN n < {_WINNOW_K} THEN hashes
             ELSE list_distinct(list_transform(
                    generate_series(1, greatest(len(hashes) - {_WINNOW_W - 1}, 1)),
                    j -> list_min(hashes[j : j + {_WINNOW_W - 1}])))
        END AS fingerprints
      FROM hs
    )
    SELECT doc_id, CAST(len(fingerprints) AS INT) AS n_fps,
           list_min(fingerprints) AS min_fp, list_max(fingerprints) AS max_fp
    FROM fps
    """,
)
def q_text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary (count + extremes)."""
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs).select(
        "doc_id",
        "n_fps",
        F.array_min("fingerprints").alias("min_fp"),
        F.array_max("fingerprints").alias("max_fp"),
    )


@register(
    "q_text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INT)
             AS n_bpe_tokens,
           CAST(len(regexp_split_to_array(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS INT)
             AS n_ws_tokens
    FROM documents
    """,
)
def q_text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-less token-count estimate: BPE-style segment count (the
    ~training-token budget) next to the whitespace count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.size(tokens("text")).alias("n_ws_tokens"),
    )


VOCAB_TOPK = 500


@register(
    "q_vocab_topk",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    )
    SELECT token, COUNT(*) AS freq
    FROM toks
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT {VOCAB_TOPK}
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: global token frequencies, top-{500} under a
    total order (freq desc, token) — the first step of tokenizer
    training over a corpus.

    Scale: explode is narrow; the groupBy(token) partial-aggregates
    map-side so the shuffle carries one row per distinct token per task,
    not one per token occurrence; the top-k is a TakeOrderedAndProject
    (per-partition heaps, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(VOCAB_TOPK)
    )


# ------------------------------------------------------------- corpus LM
# CCNet-style language-model quality filtering (Wenzek et al. 2019,
# arXiv:1911.00359 §4.3 train an LM on reference text and drop
# high-perplexity documents). Re-expressed INTEGER-deterministic so the
# driver can hash-check it: the LM is the corpus' own trigram occurrence
# counts, and "high perplexity" becomes "too many hapax trigrams" (corpus
# occurrence count 1) — log-prob sums over doubles would be
# summation-order-dependent across engines, integer counts are not.
# Trigrams, not bigrams: this corpus' bigram vocabulary saturates (hapax
# ratio ≈ 0 everywhere) while trigram hapax ratios split the corpus at
# the driver's sf0.01 certification scale (median 0.38).

RARE_PCT = 35  # filtered when > 35% of a doc's trigrams are corpus-hapax

_LOWER_TOKS_SQL = TOKS_SQL.replace("text", "lower(text)")


def lm_rare_trigram_verdicts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_trigrams, n_rare_trigrams, verdict) per document.

    Scale design — the naive plan joins every doc trigram back to the
    corpus LM on the trigram value, which shuffles one row per TOKEN and
    hot-spots on stop-grams ("one of the" lands on one partition at
    100 TB). This plan never joins on the gram: a hapax trigram (count 1)
    has exactly ONE source document, so the LM aggregation itself carries
    `min(doc_id)` and the per-doc rare count is a second small
    aggregation OVER THE LM ROWS — two partial-agg shuffles, both on
    near-uniform keys, no skewed join, no join back to the corpus.
    `n_trigrams` is a pure projection (`size-2`)."""
    toks = tokens(F.lower(F.col(text_col)))
    n_tri = F.greatest(F.size(toks) - 2, F.lit(0))
    # adjacent-token trigrams; guarded — ANSI slice rejects negative lengths
    trigrams = F.when(
        F.size(toks) >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 2),
                F.slice(toks, 2, F.size(toks) - 2),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            F.slice(toks, 3, F.size(toks) - 2),
            lambda ab, c: F.concat_ws(" ", ab, c),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # the tokenize + trigram-assembly explode is the map-side CPU and a
    # single-file corpus plans it as ONE task (round 11: 5 single-task
    # stages measured); round-robin the slim projection — no-op at scale
    from iceberg_matrix_spark.operators.scale import (  # noqa: PLC0415
        ensure_compute_parallelism,
    )

    big = ensure_compute_parallelism(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), F.explode(trigrams).alias("bg"))
    lm = big.groupBy("bg").agg(
        F.count(F.lit(1)).alias("c"), F.min(id_col).alias("__d0")
    )
    rare = (
        lm.filter(F.col("c") <= 1)
        .groupBy(F.col("__d0").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_rare_trigrams"))
    )
    base = docs.select(F.col(id_col), n_tri.alias("n_trigrams"))
    out = base.join(rare, id_col, "left").select(
        id_col,
        "n_trigrams",
        F.coalesce("n_rare_trigrams", F.lit(0)).alias("n_rare_trigrams"),
    )
    return out.select(
        id_col,
        "n_trigrams",
        "n_rare_trigrams",
        F.when(F.col("n_trigrams") == 0, F.lit("too_short"))
        .when(
            F.col("n_rare_trigrams") * 100 <= F.col("n_trigrams") * RARE_PCT,
            F.lit("kept"),
        )
        .otherwise(F.lit("filtered_rare"))
        .alias("verdict"),
    )


@register(
    "q_lm_rare_trigram_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_LOWER_TOKS_SQL} AS t FROM documents
    ),
    big AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS bg
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ),
    lm AS (
      SELECT bg, COUNT(*) AS c, MIN(doc_id) AS d0 FROM big GROUP BY bg
    ),
    rare AS (
      SELECT d0 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_rare
      FROM lm WHERE c <= 1 GROUP BY d0
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.t) - 2, 0) AS BIGINT) AS n_trigrams,
           CAST(COALESCE(r.n_rare, 0) AS BIGINT) AS n_rare_trigrams,
           CASE WHEN len(t.t) - 2 <= 0 THEN 'too_short'
                WHEN COALESCE(r.n_rare, 0) * 100
                     <= (len(t.t) - 2) * {RARE_PCT} THEN 'kept'
                ELSE 'filtered_rare' END AS verdict
    FROM toks t LEFT JOIN rare r ON r.doc_id = t.doc_id
    """,
)
def q_lm_rare_trigram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality filter: drop documents where over {RARE_PCT}% of
    adjacent-token trigrams are corpus-hapax (occurrence count 1) — the
    integer-deterministic form of CCNet's LM-perplexity filtering."""
    docs = load_table(spark, sf_dir, "documents")
    return lm_rare_trigram_verdicts(docs)


# ---------------------------------------------------------------------------
# DSIR-style domain importance (integer vote form)
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"


def dsir_domain_votes(
    docs: DataFrame,
    target_pred: F.Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169) scores documents by how target-like their hashed
    n-gram features are: importance = Π p_target(g)/p_raw(g). The
    product of float ratios is summation/ordering-sensitive in log space
    (cross-engine float aggregation is not hash-stable — the
    lm_rare_trigram lesson), so this is the INTEGER VOTE form: each
    token occurrence votes +1 when its unigram is relatively more
    frequent in the target slice than in the rest (cross-multiplied
    counts — ``ct·N_raw > cr·N_target`` — no division, BIGINT exact),
    −1 when less, 0 on ties; a document's score is its vote sum.
    Monotone in the per-token sign of the DSIR log-ratio, deterministic,
    and exactly SQL-reproducible.

    Plan (100 TB shape): one token explode (∝ corpus tokens), a two-phase
    unigram count by (hash, side), one corpus-totals aggregate (2 longs,
    broadcast back), and one skew-prone-by-construction join of token
    occurrences to the per-unigram vote — one row per key on the
    frequency side, so AQE's skew split applies; the vote sum partial-
    aggregates map-side. The token string never leaves its row (xxhash64
    keys; the oracle joins on the string — the standard 2⁻⁶⁴ contract)."""
    tgt = target_pred if target_pred is not None else (
        F.col("lang") == DSIR_TARGET_LANG
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tgt.alias("__tgt"),
        F.explode(tokens(text_col)).alias("tok"),
    ).withColumn("__h", F.xxhash64("tok")).drop("tok")
    freq = toks.groupBy("__h").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("__tgt"), 0).otherwise(1)).alias("cr"),
    )
    totals = freq.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    voted = freq.crossJoin(F.broadcast(totals)).select(
        "__h",
        F.when(F.col("ct") * F.col("nr") > F.col("cr") * F.col("nt"), 1)
        .when(F.col("ct") * F.col("nr") < F.col("cr") * F.col("nt"), -1)
        .otherwise(0)
        .alias("v"),
    )
    return (
        toks.join(voted, "__h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("v").cast("long").alias("dsir_vote"),
        )
    )


@register(
    "q_dsir_domain_vote",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS tgt, unnest({TOKS_SQL}) AS tok
      FROM documents
    ),
    freq AS (
      SELECT tok,
             CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
      FROM tok GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr
      FROM freq
    ),
    voted AS (
      SELECT f.tok,
             CASE WHEN f.ct * t.nr > f.cr * t.nt THEN 1
                  WHEN f.ct * t.nr < f.cr * t.nt THEN -1
                  ELSE 0 END AS v
      FROM freq f CROSS JOIN tot t
    )
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.v) AS BIGINT) AS dsir_vote
    FROM tok k JOIN voted v USING (tok)
    GROUP BY k.doc_id
    """,
)
def q_dsir_domain_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style target-domain importance votes per document (target =
    the '{DSIR_TARGET_LANG}' slice of the corpus): positive scores mark
    documents whose unigrams skew target-like — the resampling weight
    input for domain-matched data selection."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_domain_votes(docs)


# ---------------------------------------------------------------------------
# CCNet head/middle/tail quality buckets
# ---------------------------------------------------------------------------


def quality_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet's selection mechanism on top of its quality score (Wenzek
    et al. 2020, §4.3): cut the corpus into head / middle / tail quality
    buckets — train on head+middle, or reweight by bucket. The score is
    the integer-deterministic rare-trigram permille (Spark ``DIV`` ==
    DuckDB ``//`` on non-negative operands; no float anywhere); documents
    with the SAME score land in the same bucket (value-level tertiles —
    CCNet buckets by score too; a naive NTILE would split ties). A
    score value v is 'head' while the cumulative document count through
    v stays ≤ ⌈n/3⌉, 'middle' through ⌈2n/3⌉, else 'tail' — all integer
    comparisons (cum·3 ≤ n+2 ⇔ cum ≤ ⌈n/3⌉). Too-short documents (no
    trigram) are excluded, as in CCNet.

    Scale design — exact quantiles WITHOUT a global sort: a naive
    NTILE/rank is a single-reducer window over the whole corpus (the
    plan-audit red flag). The permille domain is BOUNDED (0..1000), so
    the boundary computation is one groupBy(permille) count — ≤1001
    rows regardless of corpus size — a cumulative window over that tiny
    frame, and a broadcast join of the per-value bucket map back onto
    the documents. Heavy-path shape: one partial-aggregated count + one
    map-side broadcast join; nothing corpus-sized ever sorts globally."""
    v = lm_rare_trigram_verdicts(docs, id_col, text_col)
    scored = v.filter(F.col("n_trigrams") > 0).select(
        id_col,
        F.expr("n_rare_trigrams * 1000 DIV n_trigrams").alias(
            "rare_permille"
        ),
    )
    counts = scored.groupBy("rare_permille").agg(
        F.count(F.lit(1)).alias("c")
    )
    # ≤1001 rows: the single-partition cumulative window is over the
    # bounded VALUE DOMAIN, not the corpus
    wcum = Window.orderBy("rare_permille").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = counts.agg(F.sum("c").alias("n"))
    bucket_map = (
        counts.withColumn("cum", F.sum("c").over(wcum))
        .crossJoin(F.broadcast(totals))
        .select(
            "rare_permille",
            F.when(F.col("cum") * 3 <= F.col("n") + 2, "head")
            .when(F.col("cum") * 3 <= 2 * F.col("n") + 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
    return scored.join(F.broadcast(bucket_map), "rare_permille").select(
        id_col, "rare_permille", "bucket"
    )


@register(
    "q_quality_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_LOWER_TOKS_SQL} AS t FROM documents
    ),
    big AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS bg
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ),
    lm AS (
      SELECT bg, COUNT(*) AS c, MIN(doc_id) AS d0 FROM big GROUP BY bg
    ),
    rare AS (
      SELECT d0 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_rare
      FROM lm WHERE c <= 1 GROUP BY d0
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(COALESCE(r.n_rare, 0) * 1000 // (len(t.t) - 2) AS BIGINT)
               AS rare_permille
      FROM toks t LEFT JOIN rare r ON r.doc_id = t.doc_id
      WHERE len(t.t) - 2 > 0
    ),
    counts AS (
      SELECT rare_permille, CAST(COUNT(*) AS BIGINT) AS c
      FROM scored GROUP BY rare_permille
    ),
    bucket_map AS (
      SELECT rare_permille,
             CASE WHEN cum * 3 <= n + 2 THEN 'head'
                  WHEN cum * 3 <= 2 * n + 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM (
        SELECT rare_permille,
               SUM(c) OVER (ORDER BY rare_permille
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM counts
      )
    )
    SELECT s.doc_id, s.rare_permille, b.bucket
    FROM scored s JOIN bucket_map b USING (rare_permille)
    """,
)
def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: value-level quality tertiles over the
    integer rare-trigram permille (head = cleanest ~third; exact
    boundaries from the bounded-domain count, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_buckets(docs)


# ---------------------------------------------------------------------------
# N-gram diversity per corpus slice
# ---------------------------------------------------------------------------


def ngram_diversity(
    docs: DataFrame,
    slice_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct-n-gram ratio per corpus slice — the corpus-level form of
    the distinct-n-grams diversity metric used to detect mode/diversity
    collapse in generated text (Zhu et al. 2018's Texygen self-BLEU
    family, arXiv:1802.01886; Li et al. 2016's distinct-n): a slice whose
    generator loops emits few distinct trigrams relative to its volume.
    Integer counts per slice; the final ratio is one double division per
    OUTPUT row (bit-stable cross-engine).

    Scale: one explode (∝ tokens), n-grams hashed to 8-byte keys (the
    gram string never leaves its row; the oracle counts distinct STRINGS
    — the standard 2⁻⁶⁴ contract), two-phase counts; output is one row
    per slice."""
    toks_df = docs.select(
        F.col(slice_col).alias("slice"), tokens(text_col).alias("t")
    ).filter(F.size("t") >= n)
    grams = toks_df.select(
        "slice",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - F.lit(n - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("t", i, n))),
            )
        ).alias("h"),
    )
    return grams.groupBy("slice").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.countDistinct("h").alias("n_distinct"),
        (F.countDistinct("h") / F.count(F.lit(1))).alias("distinct_ratio"),
    )


@register(
    "q_ngram_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT source AS slice, {TOKS_SQL} AS t FROM documents
    ),
    grams AS (
      SELECT slice, array_to_string(t[i:i+2], ' ') AS g
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
      WHERE len(t) >= 3
    )
    SELECT slice,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS distinct_ratio
    FROM grams GROUP BY slice
    """,
)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-trigram diversity ratio per source slice — the
    diversity-collapse screen for generated/synthetic corpus slices."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_diversity(docs)


# ---------------------------------------------------------------------------
# Document chunking (round 8) — the RAG/context-window prep staple
# ---------------------------------------------------------------------------

CHUNK_SIZE = 64      # tokens per chunk
CHUNK_OVERLAP = 16   # tokens shared with the previous chunk


def doc_chunks(
    docs: DataFrame,
    chunk_size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_toks, chunk_text): fixed-size sliding
    token windows (stride = size − overlap; the final chunk may be
    short, and a start inside the previous chunk's un-overlapped body is
    never emitted — no chunk is a suffix of its predecessor).

    Plan: one narrow projection computing the chunk COUNT arithmetically
    from the token count, then explode(sequence) — chunk rows ∝ tokens,
    no shuffle at all (the parquet scan's partitioning carries through);
    chunk text is a slice of the already-split token array, so the
    document text is tokenized exactly once."""
    step = chunk_size - overlap
    t = docs.select(F.col(id_col), tokens(text_col).alias("__t")).withColumn(
        "__n", F.size("__t")
    )
    k_max = F.when(
        F.col("__n") > chunk_size,
        F.floor(
            (F.col("__n") - chunk_size + step - 1) / F.lit(float(step))
        ).cast("int"),
    ).otherwise(F.lit(0))
    return (
        t.withColumn("__k", F.explode(F.sequence(F.lit(0), k_max)))
        .select(
            F.col(id_col),
            F.col("__k").cast("int").alias("chunk_id"),
            F.slice(
                "__t", F.col("__k") * step + 1, chunk_size
            ).alias("__c"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("__c").alias("n_chunk_toks"),
            F.concat_ws(" ", "__c").alias("chunk_text"),
        )
    )


@register(
    "q_doc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_SQL} AS t, len({TOKS_SQL}) AS n FROM documents
    ),
    k AS (
      SELECT doc_id, t,
             CASE WHEN n > {CHUNK_SIZE}
                  THEN CAST(floor((n - {CHUNK_SIZE} + {CHUNK_SIZE - CHUNK_OVERLAP - 1})
                                  / {float(CHUNK_SIZE - CHUNK_OVERLAP)}) AS INT)
                  ELSE 0 END AS kmax
      FROM toks
    ),
    ch AS (
      SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
             t[g.i * {CHUNK_SIZE - CHUNK_OVERLAP} + 1 :
               g.i * {CHUNK_SIZE - CHUNK_OVERLAP} + {CHUNK_SIZE}] AS c
      FROM k, unnest(generate_series(0, kmax)) AS g(i)
    )
    SELECT doc_id, chunk_id,
           CAST(len(c) AS INT) AS n_chunk_toks,
           array_to_string(c, ' ') AS chunk_text
    FROM ch
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking ({CHUNK_SIZE}-token chunks,
    {CHUNK_OVERLAP}-token overlap) — the retrieval/context-prep staple;
    chunk rows ∝ tokens with zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return doc_chunks(docs)


# ---------------------------------------------------------------------------
# Chunk-level dedup (round 9) — the shape RAG/pretraining pipelines run
# ---------------------------------------------------------------------------

# chunk key = doc_id · 2^20 + chunk_id: one BIGINT the dedup operators
# can carry. Bounds (fail-loud under ANSI if exceeded): chunk_id < 2^20
# ⇒ docs up to ~50M tokens; doc_id < 2^43.
_CKEY_SHIFT = 1 << 20
CHUNK_DD_THRESHOLD = 0.6
CHUNK_DD_MAX_DOC_FREQ = 64


def chunks_with_ckey(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """:func:`doc_chunks` plus the single-BIGINT chunk key the dedup
    operators carry: ckey = doc_id · 2^20 + chunk_id."""
    return doc_chunks(docs, id_col=id_col, text_col=text_col).select(
        id_col,
        "chunk_id",
        "n_chunk_toks",
        "chunk_text",
        (F.col(id_col) * F.lit(_CKEY_SHIFT) + F.col("chunk_id")).alias("ckey"),
    )


def chunk_dedup_summary(
    docs: DataFrame,
    threshold: float = CHUNK_DD_THRESHOLD,
    max_doc_freq: int = CHUNK_DD_MAX_DOC_FREQ,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup at CHUNK granularity, de-overlapped back to docs — the
    composition real RAG/pretraining pipelines run (VERDICT r8 #5):

    1. :func:`doc_chunks` (zero shuffle, chunk rows ∝ tokens);
    2. exact pass — min-ckey representative per normalized md5
       fingerprint (the dedup_exact idiom: min() aggregate + semi-join,
       never a corpus-wide window);
    3. near-dup pass among exact survivors — 3-gram Jaccard ≥
       ``threshold`` via the capped inverted index
       (:func:`~iceberg_matrix_spark.operators.dedup.ngram_jaccard_pairs`),
       greedy SemDeDup drop rule (a chunk with ANY smaller near-dup
       partner is dropped — the q_dedup_semantic verdict spelling);
    4. de-overlap survivors back to docs: per doc, adjacent kept chunks
       share exactly CHUNK_OVERLAP tokens (the final short chunk shares
       min(overlap, len)), so kept_tokens counts each surviving token
       once.

    Output: (doc_id, n_chunks, n_kept, kept_tokens) for EVERY document
    (all-chunks-dropped docs emit 0s via left join + coalesce — the CMS
    absent-means-zero lesson). Shuffle budget: fingerprint agg + postings
    + pair counts + per-doc window — each ∝ chunks, inheriting the
    chunks (zero-shuffle generate) and ngram (linear postings) sweep
    verdicts."""
    from iceberg_matrix_spark.operators.dedup import (  # noqa: PLC0415
        ngram_jaccard_pairs,
    )

    from iceberg_matrix_spark.functions.text import xx_fingerprint  # noqa: PLC0415
    from iceberg_matrix_spark.operators.scale import (  # noqa: PLC0415
        persisted_small_hint,
    )

    ck = chunks_with_ckey(docs, id_col=id_col, text_col=text_col)
    chunks = ck
    # exact pass, round-11 shape: the keeper set is a MIN-ckey-per-
    # fingerprint aggregate over 8-byte xxhash64 fingerprints (the
    # md5-string keys cost 2× the wire — this key is internal, see
    # xx_fingerprint), persisted and joined back by its TRUE size.
    # The previous spelling semi-joined the full chunk frame on the
    # fingerprint, which shuffled every chunk's TEXT through the
    # exchange (measured round 11: ~211 MB of the 100× sweep point's
    # 2.3 GB, plus a second text-free copy in the survivors branch);
    # a keeper-ckey semi join against the broadcast key set keeps the
    # text map-side. Past the cutoff the join degrades to SMJ on the
    # 8-byte ckeys — text still never shuffles.
    keep_min = (
        ck.select(xx_fingerprint("chunk_text").alias("__fp"), "ckey")
        .groupBy("__fp")
        .agg(F.min("ckey").alias("ckey"))
    )
    keepers = persisted_small_hint(
        keep_min.select("ckey"), "chunk-keepers-"
    )
    keep1 = ck.join(keepers, "ckey", "left_semi")
    # The baseline pair-count operator, DELIBERATELY: chunk corpora are
    # the DENSE near-dup regime (overlapping windows + doc variants give
    # ~every chunk a high-Jaccard partner), where candidates ∝ chunks
    # and the prefix-filtered alternative's verify join drags shingle
    # arrays through shuffles (measured round 10: 17.6 GB vs 2.8 GB at
    # the 100× sweep point). ngram_jaccard_pairs_prefix is the right
    # choice for SPARSE corpora — see its docstring for the measured
    # crossover.
    pairs = ngram_jaccard_pairs(
        keep1,
        "ckey",
        "chunk_text",
        k=3,
        threshold=threshold,
        max_doc_freq=max_doc_freq,
    )
    # the drop set is ids-only and bounded by true near-dup pairs —
    # persist + stat-broadcast it too, so the anti-join never
    # re-shuffles the survivor frame
    dropped = persisted_small_hint(
        pairs.select(F.col("id2").alias("ckey")).distinct(),
        "chunk-dropped-",
    )
    keep2 = keep1.join(dropped, "ckey", "left_anti")
    w = Window.partitionBy(id_col).orderBy("chunk_id")
    seq = keep2.select(id_col, "chunk_id", "n_chunk_toks").withColumn(
        "__prev", F.lag("chunk_id").over(w)
    )
    ded = seq.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        (
            F.sum("n_chunk_toks")
            - F.sum(
                F.when(
                    F.col("chunk_id") == F.col("__prev") + 1,
                    F.least(F.lit(CHUNK_OVERLAP), F.col("n_chunk_toks")),
                ).otherwise(F.lit(0))
            )
        ).alias("kept_tokens"),
    )
    tot = chunks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    return tot.join(ded, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
    )


_CHUNK_STEP = CHUNK_SIZE - CHUNK_OVERLAP


@register(
    "q_chunk_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_SQL} AS t, len({TOKS_SQL}) AS n FROM documents
    ),
    k AS (
      SELECT doc_id, t,
             CASE WHEN n > {CHUNK_SIZE}
                  THEN CAST(floor((n - {CHUNK_SIZE} + {_CHUNK_STEP - 1})
                                  / {float(_CHUNK_STEP)}) AS INT)
                  ELSE 0 END AS kmax
      FROM toks
    ),
    ch AS (
      SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
             t[g.i * {_CHUNK_STEP} + 1 : g.i * {_CHUNK_STEP} + {CHUNK_SIZE}] AS c
      FROM k, unnest(generate_series(0, kmax)) AS g(i)
    ),
    chunks AS (
      SELECT doc_id, chunk_id, doc_id * {_CKEY_SHIFT} + chunk_id AS ckey,
             CAST(len(c) AS INT) AS n_toks, array_to_string(c, ' ') AS ctext, c
      FROM ch
    ),
    fp AS (
      SELECT *, md5(lower(trim(regexp_replace(ctext, '\\s+', ' ', 'g')))) AS f
      FROM chunks
    ),
    k1 AS (
      SELECT fp.* FROM fp
      JOIN (SELECT f, MIN(ckey) AS mk FROM fp GROUP BY f) m
        ON fp.f = m.f AND fp.ckey = m.mk
    ),
    sets_ AS (
      SELECT ckey, list_distinct(list_transform(generate_series(1, len(c) - 2),
        i -> concat_ws(' ', c[i], c[i+1], c[i+2]))) AS shingles
      FROM k1 WHERE len(c) >= 3
    ),
    sizes AS (SELECT ckey, len(shingles) AS n_sh FROM sets_),
    sh AS (SELECT ckey, unnest(shingles) AS shingle FROM sets_),
    kept_sh AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {CHUNK_DD_MAX_DOC_FREQ}
    ),
    shc AS (SELECT sh.* FROM sh JOIN kept_sh USING (shingle)),
    pairs AS (
      SELECT a.ckey AS id1, b.ckey AS id2, count(*) AS common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.ckey < b.ckey
      GROUP BY 1, 2
    ),
    dropped AS (
      SELECT DISTINCT id2 FROM pairs
      JOIN sizes s1 ON s1.ckey = id1
      JOIN sizes s2 ON s2.ckey = id2
      WHERE CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common)
            >= {CHUNK_DD_THRESHOLD}
    ),
    k2 AS (
      SELECT k1.* FROM k1 LEFT JOIN dropped d ON d.id2 = k1.ckey
      WHERE d.id2 IS NULL
    ),
    seq AS (
      SELECT doc_id, chunk_id, n_toks,
             lag(chunk_id) OVER (PARTITION BY doc_id ORDER BY chunk_id) AS prev
      FROM k2
    ),
    ded AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             SUM(n_toks) - SUM(CASE WHEN prev IS NOT NULL AND chunk_id = prev + 1
                                    THEN LEAST({CHUNK_OVERLAP}, n_toks)
                                    ELSE 0 END) AS kept_tokens
      FROM seq GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(d.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(d.kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM tot t LEFT JOIN ded d ON d.doc_id = t.doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity dedup de-overlapped back to docs: chunk →
    exact-hash pass → 3-gram near-dup pass → per-doc surviving-token
    accounting. See :func:`chunk_dedup_summary`."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_dedup_summary(docs)


def chunk_fingerprint_index_cached(
    corpus_docs: DataFrame, corpus_key: str
) -> DataFrame:
    """The persisted chunk-fingerprint index of ``corpus_docs`` (parquet
    — the 16-byte-row table an ingest pipeline maintains across
    batches)."""

    def build(d: str) -> DataFrame:
        path = d + "/index.parquet"
        (
            chunks_with_ckey(corpus_docs)
            .select(md5_fingerprint("chunk_text").alias("fingerprint"))
            .distinct()
            .write.parquet(path)
        )
        return corpus_docs.sparkSession.read.parquet(path)

    return cached("chunk-fp-index", (corpus_key,), [corpus_docs], build)


@register(
    "q_chunk_dedup_incremental",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_SQL} AS t, len({TOKS_SQL}) AS n FROM documents
    ),
    k AS (
      SELECT doc_id, t,
             CASE WHEN n > {CHUNK_SIZE}
                  THEN CAST(floor((n - {CHUNK_SIZE} + {_CHUNK_STEP - 1})
                                  / {float(_CHUNK_STEP)}) AS INT)
                  ELSE 0 END AS kmax
      FROM toks
    ),
    ch AS (
      SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
             doc_id * {_CKEY_SHIFT} + g.i AS ckey,
             array_to_string(
               t[g.i * {_CHUNK_STEP} + 1 : g.i * {_CHUNK_STEP} + {CHUNK_SIZE}],
               ' ') AS ctext
      FROM k, unnest(generate_series(0, kmax)) AS g(i)
    ),
    fp AS (
      SELECT doc_id, ckey,
             md5(lower(trim(regexp_replace(ctext, '\\s+', ' ', 'g')))) AS fingerprint
      FROM ch
    ),
    batch AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
    idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 <> 0),
    firsts AS (SELECT fingerprint, MIN(ckey) AS first_id FROM batch GROUP BY 1)
    SELECT b.ckey, b.fingerprint,
           CASE WHEN i.fingerprint IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.ckey <> f.first_id THEN 'dup_in_batch'
                ELSE 'kept' END AS verdict
    FROM batch b
    LEFT JOIN idx i ON i.fingerprint = b.fingerprint
    JOIN firsts f ON f.fingerprint = b.fingerprint
    """,
)
def q_chunk_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CHUNK-level ingest dedup: the batch (doc_id % 10 ==
    0) is chunked and each chunk checked against the persisted chunk-
    fingerprint index of the already-ingested corpus — per-chunk
    verdicts kept / dup_of_corpus / dup_in_batch, the exact shape a
    RAG/pretraining ingest runs per batch (q_dedup_incremental's
    contract at chunk granularity, composed from chunks_with_ckey +
    incremental_dedup_exact). Batch-side shuffle ∝ batch chunks; the
    corpus contributes only its 16-byte fingerprint rows, read from
    parquet, never re-chunked."""
    from iceberg_matrix_spark.operators.dedup import (  # noqa: PLC0415
        incremental_dedup_exact,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = chunks_with_ckey(docs.filter(F.col("doc_id") % 10 == 0))
    index = chunk_fingerprint_index_cached(
        docs.filter(F.col("doc_id") % 10 != 0), sf_dir
    )
    out = incremental_dedup_exact(batch, index, "ckey", "chunk_text")
    return out.select(
        F.col("doc_id").alias("ckey"), "fingerprint", "verdict"
    )


# ---------------------------------------------------------------------------
# Chunk-fingerprint index retraction (round 11, VERDICT r10 #5)
# ---------------------------------------------------------------------------


def chunk_fingerprint_counts(docs: DataFrame) -> DataFrame:
    """(fingerprint, n) REFERENCE-COUNTED chunk-fingerprint state — the
    retraction-capable form of the distinct-fingerprint index
    (:func:`chunk_fingerprint_index_cached`). A bare distinct index
    cannot absorb deletes: a fingerprint shared by a deleted and a
    surviving chunk must STAY, which only a refcount knows. Counts are
    additive, so ingest folds add and deletes fold negated — the
    BucketedCounterState contract."""
    return (
        chunks_with_ckey(docs)
        .select(md5_fingerprint("chunk_text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def chunk_fingerprint_store_cached(
    corpus_docs: DataFrame, corpus_key: str
):
    """Persisted refcounted chunk-fingerprint state for ``corpus_docs``,
    held in a :class:`~iceberg_matrix_spark.operators.pipeline.
    BucketedCounterState` (fingerprint-hash bucketed parquet) so later
    ingest folds and retractions touch only their buckets — the same
    O(batch) lifecycle the report state has. The corpus summary is
    folded once as batch 0. Every caller of one ``corpus_key`` gets the
    same mutable state, so a caller that folds or retracts uses a key of
    its own."""
    from iceberg_matrix_spark.operators.pipeline import (  # noqa: PLC0415
        BucketedCounterState,
    )

    def build(d: str) -> BucketedCounterState:
        counts = chunk_fingerprint_counts(corpus_docs)
        store = BucketedCounterState(
            corpus_docs.sparkSession,
            d,
            template=counts.limit(0),
            key_cols=["fingerprint"],
            counter_cols=["n"],
        )
        store.fold(counts, batch_id=0)
        return store

    return cached("chunk-fp-store", (corpus_key,), [corpus_docs], build)


@register(
    "q_chunk_index_retract",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_SQL} AS t, len({TOKS_SQL}) AS n FROM documents
    ),
    k AS (
      SELECT doc_id, t,
             CASE WHEN n > {CHUNK_SIZE}
                  THEN CAST(floor((n - {CHUNK_SIZE} + {_CHUNK_STEP - 1})
                                  / {float(_CHUNK_STEP)}) AS INT)
                  ELSE 0 END AS kmax
      FROM toks
    ),
    ch AS (
      SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
             doc_id * {_CKEY_SHIFT} + g.i AS ckey,
             array_to_string(
               t[g.i * {_CHUNK_STEP} + 1 : g.i * {_CHUNK_STEP} + {CHUNK_SIZE}],
               ' ') AS ctext
      FROM k, unnest(generate_series(0, kmax)) AS g(i)
    ),
    fp AS (
      SELECT doc_id, ckey,
             md5(lower(trim(regexp_replace(ctext, '\\s+', ' ', 'g')))) AS fingerprint
      FROM ch
    ),
    batch AS (SELECT * FROM fp WHERE doc_id % 20 = 0),
    idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 <> 0),
    firsts AS (SELECT fingerprint, MIN(ckey) AS first_id FROM batch GROUP BY 1)
    SELECT b.ckey, b.fingerprint,
           CASE WHEN i.fingerprint IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.ckey <> f.first_id THEN 'dup_in_batch'
                ELSE 'kept' END AS verdict
    FROM batch b
    LEFT JOIN idx i ON i.fingerprint = b.fingerprint
    JOIN firsts f ON f.fingerprint = b.fingerprint
    """,
)
def q_chunk_index_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE support for the chunk-fingerprint dedup index (VERDICT
    r10 #5): the full corpus's REFCOUNTED fingerprint state absorbs a
    delete of every ``doc_id % 10 == 0`` document as a negative
    touched-bucket fold — only the deleted docs are re-chunked, zeroed
    fingerprints leave the state, shared ones stay refcounted — and a
    RE-INGEST of half the deleted docs (doc_id % 20 == 0) is then
    verdicted against the retracted index. Without retraction those
    chunks would all read 'dup_of_corpus' from their own stale rows
    (the round-10 lifecycle asymmetry); the oracle computes verdicts
    against a from-scratch index OF THE SURVIVORS, so the hash match
    proves retract ≡ rebuild — including fingerprints whose last copy
    left and ones a surviving doc still holds."""
    from iceberg_matrix_spark.operators.dedup import (  # noqa: PLC0415
        incremental_dedup_exact,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = chunk_fingerprint_store_cached(docs, sf_dir + "::chunk-retract")
    deleted = docs.filter(F.col("doc_id") % 10 == 0)
    store.retract(chunk_fingerprint_counts(deleted), batch_id=1)
    live = store.current().select("fingerprint")
    batch = chunks_with_ckey(docs.filter(F.col("doc_id") % 20 == 0))
    out = incremental_dedup_exact(batch, live, "ckey", "chunk_text")
    return out.select(
        F.col("doc_id").alias("ckey"), "fingerprint", "verdict"
    )
