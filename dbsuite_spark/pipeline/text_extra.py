"""Category L extensions — text analysis beyond SURVEY §2's four keys
(task-mandated family: language-ID heuristic, quality scoring, tokenizer
regex, document fingerprinting).

All pure DataFrame ops with full SQL oracles; the only doubles are ratios
of exact integers (identical across engines) or md5 strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

PROFILE_TOP = 20  # tokens per language profile
TOKEN_RE = r"\w+|[^\w\s]"


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )


@query(
    "text_langid_ngram",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
             FROM documents),
lang_tok AS (SELECT lang, token, COUNT(*) AS n
             FROM tok GROUP BY lang, token),
profile AS (SELECT lang AS p_lang, token FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY lang ORDER BY n DESC, token) AS rn
              FROM lang_tok) WHERE rn <= {PROFILE_TOP}),
doc_tok AS (SELECT DISTINCT doc_id, lang, token FROM tok),
overlap AS (SELECT d.doc_id, d.lang, p.p_lang,
                   CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM doc_tok d JOIN profile p ON d.token = p.token
            GROUP BY d.doc_id, d.lang, p.p_lang)
SELECT doc_id, lang, p_lang AS predicted, n_hits
FROM (SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY n_hits DESC, p_lang) AS rn
      FROM overlap) WHERE rn = 1
""",
    category="L",
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: build a top-20-token profile per language
    from the corpus, then classify each doc by profile overlap (argmax,
    ties to the alphabetically-first language). The profile is tiny →
    broadcast join; the whole classifier is two aggregations."""
    tok = _tokens(spark, sf_dir)
    lang_tok = tok.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    profile = (
        lang_tok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PROFILE_TOP)
        .select(F.col("lang").alias("p_lang"), "token")
    )
    doc_tok = tok.select("doc_id", "lang", "token").distinct()
    overlap = (
        doc_tok.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count("*").alias("n_hits"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), "p_lang"
    )
    return (
        overlap.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("p_lang").alias("predicted"), "n_hits")
    )


@query(
    "text_quality_score",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
stats AS (SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types,
                 CAST(SUM(length(token)) AS BIGINT) AS sum_len,
                 CAST(SUM(CASE WHEN length(token) >= 8 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_long
          FROM tok GROUP BY doc_id)
SELECT doc_id, n_tokens, n_types,
       CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(n_types AS DOUBLE) / n_tokens AS type_token_ratio,
       CAST(n_long AS DOUBLE) / n_tokens AS long_token_ratio
FROM stats
""",
    category="L",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (the filter inputs of a training-data
    pipeline): token counts, type/token ratio (lexical diversity), average
    token length, long-token ratio. All exact-integer ratios."""
    tok = _tokens(spark, sf_dir)
    stats = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
        F.sum(F.length("token")).alias("sum_len"),
        F.count_if(F.length("token") >= 8).alias("n_long"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_types",
        (F.col("sum_len").cast("double") / F.col("n_tokens")).alias(
            "avg_token_len"
        ),
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias(
            "type_token_ratio"
        ),
        (F.col("n_long").cast("double") / F.col("n_tokens")).alias(
            "long_token_ratio"
        ),
    )


@query(
    "text_token_count_bpe",
    oracle=rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT)
           AS n_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '{TOKEN_RE}')))
           AS BIGINT) AS n_types,
       regexp_extract_all(text, '{TOKEN_RE}')[1] AS first_token
FROM documents
""",
    category="L",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style counting with a BPE-ish pre-tokenization regex
    (word runs vs punctuation singletons — the GPT-2-family split shape):
    per-doc token and type counts straight off ``regexp_extract_all``."""
    d = t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
        F.element_at(toks, 1).alias("first_token"),
    )


@query(
    "text_fingerprint",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, len(tk) - 2),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
       FROM toks)
SELECT doc_id,
       MIN(md5(s)) AS fp_min,
       MAX(md5(s)) AS fp_max,
       CAST(COUNT(*) AS BIGINT) AS n_shingles
FROM sh GROUP BY doc_id
""",
    category="L",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min/max shingle hash (a 2-element MinHash
    sketch — the winnowing/rolling-hash idea as order-free aggregates, so
    it map-side combines at any scale). Near-dup docs collide on fp_min
    with high probability; equality on (fp_min, fp_max) is a cheap
    pre-cluster key for the heavier Jaccard stages."""
    from dbsuite_spark.pipeline.dedup import _shingle_rows

    sh = _shingle_rows(spark, sf_dir)
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("s")).alias("fp_min"),
        F.max(F.md5("s")).alias("fp_max"),
        F.count("*").alias("n_shingles"),
    )


KEEP_LANGS = ("en", "de", "fr")
MIN_TOKENS, MAX_TOKENS = 20, 2000
MIN_TTR = 0.3


@query(
    "pipeline_quality_corpus",
    oracle=f"""
WITH pool AS (
  SELECT doc_id, text, lang FROM documents
  WHERE lang IN {KEEP_LANGS!r}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM pool),
stats AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types
  FROM tok GROUP BY doc_id),
quality AS (
  SELECT pool.doc_id, pool.lang, pool.text, stats.n_tokens,
         CAST(n_types AS DOUBLE) / n_tokens AS ttr
  FROM pool JOIN stats ON pool.doc_id = stats.doc_id
  WHERE n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
    AND CAST(n_types AS DOUBLE) / n_tokens >= {MIN_TTR}),
dedup AS (
  SELECT doc_id, lang, n_tokens, ttr FROM (
    SELECT *, row_number() OVER (
        PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM quality) WHERE rn = 1)
SELECT doc_id, lang, n_tokens, ttr FROM dedup
""",
    category="L",
)
def pipeline_quality_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end quality curation — the filter side of a training-data
    run, composing the verified signal operators: (1) language allowlist,
    (2) quality gates on token count and type/token ratio (lexical
    diversity), (3) exact dedup by full-text hash keeping the lowest
    doc_id. Complements ``pipeline_dedup_corpus`` (the near-dup side).

    Scale: the language and quality predicates are row-local (pushed to
    the scan / one token-explode aggregation); dedup is one hash-window
    shuffle over the already-reduced pool — stage order puts the cheapest
    most-selective filters first so later shuffles see fewer rows."""
    d = t(spark, sf_dir, "documents")
    pool = d.filter(F.col("lang").isin(*KEEP_LANGS)).select(
        "doc_id", "text", "lang"
    )
    tok = pool.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    stats = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
    )
    quality = (
        pool.join(stats, "doc_id")
        .withColumn(
            "ttr", F.col("n_types").cast("double") / F.col("n_tokens")
        )
        .filter(
            F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
            & (F.col("ttr") >= MIN_TTR)
        )
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens", "ttr")
    )


@query(
    "docs_train_test_split",
    oracle=f"""
SELECT doc_id, lang,
       CASE WHEN h < 90 THEN 'train'
            WHEN h < 95 THEN 'valid'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         {MD5_BIGINT("CAST(doc_id AS VARCHAR)")} % 100 AS h
  FROM documents)
""",
    category="L",
)
def docs_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/valid/test assignment by hashing the
    document id — the split survives reshuffles, re-runs, engine swaps,
    and corpus growth (a document never migrates between splits), which
    is exactly what leakage-free training-data curation requires. Pure
    row-local predicate: no shuffle, no RNG, no state."""
    d = t(spark, sf_dir, "documents")
    h = md5_bigint(F.col("doc_id").cast("string")) % 100
    return d.select(
        "doc_id",
        "lang",
        F.when(h < 90, "train")
        .when(h < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "text_token_entropy",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
wc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
       FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len,
              CAST(COUNT(*) AS BIGINT) AS n_distinct
       FROM wc GROUP BY doc_id)
SELECT w.doc_id, d.len AS n_tokens, d.n_distinct,
       CAST(SUM(CAST(c * round(ln(CAST(d.len AS DOUBLE) / w.c), 6)
                     AS DECIMAL(18,6))) AS DOUBLE) / d.len AS entropy
FROM wc w JOIN dl d ON w.doc_id = d.doc_id
GROUP BY w.doc_id, d.len, d.n_distinct
""",
    category="L",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (Shannon) entropy in nats — the lexical-
    diversity gate complementing ``text_repetition_score``: templated or
    keyword-stuffed documents score low, natural prose high; pretraining
    curations drop or down-weight the low-entropy tail.

    H = Σ (c/len)·ln(len/c) over the doc's distinct tokens, computed as
    an exact-integer-weighted decimal sum of 6-dp-rounded logs divided
    once by the exact length — ln of identical doubles rounded before
    any accumulation, integer weights exact, one final double division:
    the ``docs_unigram_logprob`` discipline, bit-identical both engines.

    Scale: one (doc, token) count aggregation (map-side combine) + one
    per-doc aggregation — zero joins against the corpus, no lists, no
    Python; output is one row per document."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    wc = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    dl = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    term = (
        F.col("c")
        * F.round(
            F.log(F.col("n_tokens").cast("double") / F.col("c")), 6
        )
    ).cast("decimal(18,6)")
    return (
        wc.join(dl, "doc_id")
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(
            (
                F.sum(term).cast("double")
                / F.col("n_tokens")
            ).alias("entropy")
        )
        .select("doc_id", "n_tokens", "n_distinct", "entropy")
    )


# --- readability scoring (round 5) -------------------------------------

_FLESCH = (
    "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)"
    " - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)"
)

_FLESCH_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_words,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_syllables,
       {_FLESCH} AS flesch,
       CASE WHEN {_FLESCH} >= 70 THEN 'easy'
            WHEN {_FLESCH} >= 50 THEN 'standard'
            ELSE 'hard' END AS band
FROM c
"""


@query("text_readability_flesch", oracle=_FLESCH_ORACLE, category="L")
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three regexp counts (words,
    sentence terminators, vowel-group "syllables" — the standard
    dictionary-free approximation), plus a banded difficulty label: the
    curriculum/quality signal a training-data pipeline derives per doc.

    Cross-engine: the counts are integers from identical RE classes
    (Java regex and RE2 agree on plain character-class+quantifier
    patterns — no lookaround, no anchors); the Flesch formula then
    evaluates the same expression text on both engines, so the double is
    bit-identical. ``greatest(1, …)`` guards the unpunctuated fixture
    corpus (0 terminators → 1 sentence).

    Scale: row-local regexp work in whole-stage codegen — no shuffle at
    all; at 100 TB this is a pure map stage."""
    d = t(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        F.expr("CAST(size(regexp_extract_all(text, '[^ ]+', 0)) AS BIGINT)")
        .alias("n_words"),
        F.expr(
            "CAST(greatest(1, size(regexp_extract_all(text, '[.!?]+', 0)))"
            " AS BIGINT)"
        ).alias("n_sentences"),
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
            " AS BIGINT)"
        ).alias("n_syllables"),
    )
    return c.selectExpr(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        f"{_FLESCH} AS flesch",
        f"CASE WHEN {_FLESCH} >= 70 THEN 'easy' "
        f"WHEN {_FLESCH} >= 50 THEN 'standard' "
        f"ELSE 'hard' END AS band",
    )


# --- light suffix stemming (round 5) -----------------------------------

# Longest-first alternation makes leftmost-first (Java) and
# leftmost-longest regex engines agree on which suffix strips.
_STEM_SUFFIX = "(edly|ies|ing|es|ed|ly|s)$"
_STEM_EXPR = (
    "CASE WHEN length(regexp_replace(w, '(edly|ies|ing|es|ed|ly|s)$', ''))"
    " >= 3 THEN regexp_replace(w, '(edly|ies|ing|es|ed|ly|s)$', '')"
    " ELSE w END"
)

_STEM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
stems AS (
  SELECT doc_id, {_STEM_EXPR} AS stem FROM toks WHERE w <> '')
SELECT stem,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM stems GROUP BY stem
"""


@query("text_stem_light", oracle=_STEM_ORACLE, category="L")
def text_stem_light(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Light suffix-stripping stemmer (rule subset of Porter step 1) +
    corpus-level stem statistics — vocabulary normalization before
    token counting / TF-IDF, entirely in codegen string functions.

    Cross-engine: the suffix alternation is ordered LONGEST-FIRST so
    Java's leftmost-first and RE2's matching agree on the stripped
    suffix; the ≥3-char guard prevents over-stripping short tokens and
    evaluates identical expression text on both engines.

    Scale: explode + two grouped counts — one shuffle on the stem key;
    the distinct-doc count rides the same aggregation."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    stems = toks.selectExpr("doc_id", f"{_STEM_EXPR} AS stem")
    return stems.groupBy("stem").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )


# --- BM25 lexical scoring (round 5) ------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "fast")  # fixed query terms (fixture vocab)

# Per-(doc, term) contribution rounded to 6dp then summed as exact
# decimals — the package's 6dp-log discipline (ln is not correctly
# rounded, so raw transcendental sums would drift cross-engine; a
# 6dp-rounded double casts to the same DECIMAL(18,6) on both engines).
_BM25_TERM = (
    "round(ln((n_docs - df + 0.5) / (df + 0.5))"
    f" * (tf * ({BM25_K1} + 1))"
    f" / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl)), 6)"
)

_BM25_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
q AS (SELECT unnest(['spark', 'join', 'fast']) AS token),
tf AS (SELECT t.doc_id, t.token, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok t JOIN q ON t.token = q.token GROUP BY t.doc_id, t.token),
df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM tok JOIN q USING (token) GROUP BY token),
scored AS (
  SELECT tf.doc_id, tf.token,
         {_BM25_TERM.replace("avgdl", "(CAST(total_tokens AS DOUBLE) / n_docs)")} AS s
  FROM tf
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
       CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25
FROM scored GROUP BY doc_id
"""


@query("text_bm25_score", oracle=_BM25_ORACLE, category="L")
def text_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document scoring for a fixed query (k1=1.2, b=0.75) —
    THE lexical ranking function (the first stage of every hybrid
    retrieval cascade; sim_search_hybrid_rerank uses a simpler idf
    recall — this key is the standard-scoring upgrade path).

    Scale: doc lengths and corpus stats are one aggregation each (stats
    broadcast as a 1-row frame); the query-term tf table only material-
    izes for matching (doc, term) pairs — the inverted-index shape, so
    work scales with postings of the query terms, not the corpus.
    Exactness: per-term contributions are 6dp-rounded then summed as
    exact decimals (cross-engine ln discipline)."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    qtok = tok.filter(F.col("token").isin(list(BM25_QUERY)))
    tf = qtok.groupBy("doc_id", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    dfr = qtok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    scored = (
        tf.join(F.broadcast(dfr), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "doc_id",
            "token",
            _BM25_TERM.replace(
                "avgdl", "(CAST(total_tokens AS DOUBLE) / n_docs)"
            )
            + " AS s",
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_hit_terms"),
        F.sum(F.col("s").cast("decimal(18,6)")).cast("double").alias("bm25"),
    )


# --- span extraction (round 5) -----------------------------------------

_SPAN_PATTERN = "[a-z]*ing"  # suffix-span demo pattern over fixture vocab

_SPAN_ORACLE = f"""
SELECT doc_id,
       regexp_extract(text, '{_SPAN_PATTERN}', 0) AS span,
       CAST(CASE WHEN regexp_extract(text, '{_SPAN_PATTERN}', 0) <> ''
                 THEN strpos(text, regexp_extract(text, '{_SPAN_PATTERN}', 0))
                 ELSE 0 END
            AS BIGINT) AS span_pos,
       CAST(length(regexp_extract(text, '{_SPAN_PATTERN}', 0)) AS BIGINT)
         AS span_len,
       regexp_extract(text, '{_SPAN_PATTERN}', 0) <> '' AS found
FROM documents
"""


@query("text_span_extract", oracle=_SPAN_ORACLE, category="L")
def text_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match span extraction with position and length — the
    annotation primitive behind PII tagging, citation mining, and
    weak-label span datasets: (span text, 1-based char offset, length,
    found flag) per document. ``strpos`` of the extracted literal gives
    the offset portably (both engines' regexp APIs return the match but
    not its position; for a non-empty first match, leftmost regex match
    position == first literal occurrence). Row-local codegen, zero
    shuffle.

    Caveat pinned by the pattern choice: the offset-via-strpos identity
    needs the regex's leftmost match to BE the first literal occurrence
    — true for deterministic patterns like this suffix class. Non-match
    rows emit span_pos 0 EXPLICITLY on both sides (ADVICE r05: Spark's
    instr returns 1 for an empty needle and DuckDB's strpos is not
    pinned on that edge, so the guard removes the engine dependency)."""
    d = t(spark, sf_dir, "documents")
    span = F.regexp_extract("text", _SPAN_PATTERN, 0)
    return d.select(
        "doc_id",
        span.alias("span"),
        F.when(span != "", F.instr("text", span))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("span_pos"),
        F.length(span).cast("bigint").alias("span_len"),
        (span != "").alias("found"),
    )


# --- RAKE-style keyword scoring (round 5 cont.) -------------------------

RAKE_STOP = (
    "the", "of", "and", "a", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by",
)
RAKE_TOP = 20

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOP)

_RAKE_ORACLE = f"""
WITH toks AS (SELECT string_split(lower(text), ' ') AS tk FROM documents),
w0 AS (SELECT unnest(tk) AS w FROM toks),
freq AS (SELECT w, COUNT(*) AS c FROM w0
         WHERE w NOT IN ({_RAKE_STOP_SQL}) GROUP BY w),
pairs0 AS (
  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                i -> [tk[i], tk[i + 1]])) AS p
  FROM toks),
adjw AS (
  SELECT p[1] AS w FROM pairs0
  WHERE p[1] NOT IN ({_RAKE_STOP_SQL}) AND p[2] NOT IN ({_RAKE_STOP_SQL})
  UNION ALL
  SELECT p[2] FROM pairs0
  WHERE p[1] NOT IN ({_RAKE_STOP_SQL}) AND p[2] NOT IN ({_RAKE_STOP_SQL})),
adj AS (SELECT w, COUNT(*) AS a FROM adjw GROUP BY w)
SELECT f.w AS word, CAST(f.c AS BIGINT) AS freq,
       CAST(COALESCE(adj.a, 0) AS BIGINT) AS n_adj,
       CAST(f.c + COALESCE(adj.a, 0) AS DOUBLE) / CAST(f.c AS DOUBLE)
           AS rake_score
FROM freq f LEFT JOIN adj ON f.w = adj.w
ORDER BY rake_score DESC, word
LIMIT {RAKE_TOP}
"""


@query("text_keyword_rake", oracle=_RAKE_ORACLE, category="L")
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyword scoring (Rose et al. 2010, public), word grain:
    a word's degree is its frequency plus its adjacency count inside
    stopword-free runs; score = degree/freq, favoring words that appear
    in multi-word phrases over isolated fillers. Top-20 by score with
    lexical tie-break — the cheap unsupervised keyword extractor run
    before embedding-based methods.

    Exactness: frequency and adjacency are integer counts; the score is
    one mirrored division; the top-k cut is a deterministic total order
    (score DESC, word). Scale: two token-keyed partial+final counts and
    a vocab-sized join; the top-k plans as TakeOrderedAndProject."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower("text"), " ").alias("tk"))
    stop = list(RAKE_STOP)
    w0 = toks.select(F.explode("tk").alias("w"))
    freq = (
        w0.filter(~F.col("w").isin(stop))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    k = F.size("tk") - 1
    pair_arr = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array(
                F.element_at("tk", i), F.element_at("tk", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    pairs0 = toks.select(F.explode(pair_arr).alias("p")).filter(
        ~F.col("p")[0].isin(stop) & ~F.col("p")[1].isin(stop)
    )
    adjw = pairs0.select(F.col("p")[0].alias("w")).unionAll(
        pairs0.select(F.col("p")[1].alias("w"))
    )
    adj = adjw.groupBy("w").agg(F.count("*").alias("a"))
    a0 = F.coalesce(F.col("a"), F.lit(0))
    return (
        freq.join(adj, "w", "left")
        .select(
            F.col("w").alias("word"),
            F.col("c").alias("freq"),
            a0.cast("bigint").alias("n_adj"),
            ((F.col("c") + a0).cast("double") / F.col("c").cast("double"))
            .alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "word")
        .limit(RAKE_TOP)
    )


# --- inverted index (round 5 cont.) -------------------------------------

INVIDX_MIN_DF = 5  # index only tokens appearing in >= 5 docs
INVIDX_CAP = 20  # postings per token materialized in the report

_INVIDX_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(
           list_slice(list(doc_id ORDER BY doc_id), 1, {INVIDX_CAP}), ',')
           AS postings
FROM tok
GROUP BY token
HAVING COUNT(*) >= {INVIDX_MIN_DF}
"""


@query("text_inverted_index", oracle=_INVIDX_ORACLE, category="L")
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the retrieval-engine primitive
    behind ``text_bm25_score`` and the hybrid reranker: token → document
    frequency + the sorted posting list (capped at 20 ids for the
    report; a real index sink writes the full lists partitioned by
    token prefix). Postings are sorted integer lists emitted
    comma-joined (raw arrays crash the driver's canonicalizer), so the
    output is bit-identical and partition-invariant.

    Scale: one distinct-pass over (doc, token) (map-side partial
    distinct), one grouped sort-agg on the token key — the same single
    fact shuffle as any vocabulary build; the df floor prunes the long
    tail before materialization."""
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")), 1, INVIDX_CAP
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= INVIDX_MIN_DF)
    )


# --- temperature-scaled language mixing (round 7) ------------------------

MIX_TEMPERATURE = 0.3  # the multilingual-pretraining convention (XLM-R)


@query(
    "docs_lang_temperature_mix",
    oracle=f"""
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM c),
w AS (SELECT lang, n_docs,
             CAST(n_docs AS DOUBLE) / n AS nat_share,
             CAST(round(pow(CAST(n_docs AS DOUBLE) / n,
                            {MIX_TEMPERATURE}), 6)
                  AS DECIMAL(18,6)) AS tw
      FROM c, tot),
s AS (SELECT CAST(SUM(tw) AS DECIMAL(38,6)) AS tws FROM w)
SELECT lang, n_docs, nat_share,
       CAST(tw AS DOUBLE) AS temp_weight,
       round(CAST(tw AS DOUBLE) / CAST(tws AS DOUBLE), 6) AS sample_prob,
       round(round(CAST(tw AS DOUBLE) / CAST(tws AS DOUBLE), 6)
             / nat_share, 6) AS boost
FROM w, s
""",
    category="L",
)
def docs_lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling rates — the standard
    multilingual-pretraining mixture (XLM-R §3.1 / mBERT exponential
    smoothing): sample language l with probability ∝ p_l^α (α =
    {MIX_TEMPERATURE}), up-weighting tail languages so high-resource
    ones don't drown them. Emits, per language: natural share, the
    α-tempered weight, the normalized sampling probability, and the
    boost factor (sample_prob / nat_share) a sampler applies on top of
    the natural stream.

    Cross-engine exactness: the integer counts and the share division
    are exact; pow (libm vs JVM Math, 1-ulp class) is 6dp-rounded
    BEFORE entering the DECIMAL normalization sum (order-free exact
    addition), and the final probability/boost divisions of identical
    doubles round 6dp — the geometric-mean-log discipline.

    Scale: one map-side-combined groupBy(lang) over the corpus (|langs|
    rows out), then arithmetic on a frame of |langs| rows — the scan is
    the cost at 100 TB; everything after is free. The output is the
    control table a weighted sampler (``docs_sample_weighted``)
    consumes."""
    d = t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    tot = c.agg(F.sum("n_docs").cast("long").alias("n"))
    w = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n")).alias("nat_share"),
        F.round(
            F.pow(
                F.col("n_docs").cast("double") / F.col("n"),
                F.lit(MIX_TEMPERATURE),
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("tw"),
    )
    s = w.agg(F.sum("tw").cast("decimal(38,6)").alias("tws"))
    return w.crossJoin(F.broadcast(s)).select(
        "lang",
        "n_docs",
        "nat_share",
        F.col("tw").cast("double").alias("temp_weight"),
        F.round(
            F.col("tw").cast("double") / F.col("tws").cast("double"), 6
        ).alias("sample_prob"),
        F.round(
            F.round(
                F.col("tw").cast("double") / F.col("tws").cast("double"), 6
            )
            / F.col("nat_share"),
            6,
        ).alias("boost"),
    )


_ATTRITION_ORACLE = f"""
WITH tok_all AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
pool AS (SELECT * FROM tok_all WHERE lang IN {KEEP_LANGS!r}),
types AS (
  SELECT doc_id, CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM pool) GROUP BY doc_id),
quality AS (
  SELECT pool.* FROM pool JOIN types USING (doc_id)
  WHERE n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
    AND CAST(n_types AS DOUBLE) / n_tokens >= {MIN_TTR}),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM quality) WHERE rn = 1),
raw_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok_all),
stages AS (
  SELECT '1_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM tok_all
  UNION ALL
  SELECT '2_lang', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM pool
  UNION ALL
  SELECT '3_quality', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM quality
  UNION ALL
  SELECT '4_exact_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM dedup)
SELECT stage, n_docs, n_tokens,
       CAST(n_docs AS DOUBLE) / (SELECT n FROM raw_n) AS docs_retained
FROM stages
"""


@query("pipeline_attrition_report", oracle=_ATTRITION_ORACLE, category="L")
def pipeline_attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA-PIPELINE FUNNEL — per-stage document and token attrition
    through the curation chain (raw → language allowlist → quality
    gates → exact dedup), the one table every training-data run reports
    before anyone trusts the resulting corpus: how many documents and
    tokens each stage removed, and the cumulative retention rate.
    Composes the exact stage semantics of ``pipeline_quality_corpus``
    (same constants, same gates) but reports the ATTRITION at every
    stage instead of only the survivors.

    Exactness: stage counts and token sums are exact integers; the
    retention rate is one mirrored double division by the raw count.

    Scale: ONE corpus pass — every document is classified with stage
    flags (lang_ok, quality_ok, dedup_keep) in a single pipeline (the
    token stats branch is the only second read, over the already
    lang-filtered pool), the dedup survivor picked by a window
    partitioned on (text hash, quality flag), and all four stage
    counts fall out of one conditional aggregation unpivoted to rows.
    Counting each stage with its own scan would re-read the corpus
    four times — the report exists to be cheap enough to run on every
    pipeline invocation."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    lang_ok = F.col("lang").isin(*KEEP_LANGS)
    types = (
        d.filter(lang_ok)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id")
        .agg(F.countDistinct("token").alias("n_types"))
    )
    flagged = (
        d.join(types, "doc_id", "left")
        .withColumn("lang_ok", lang_ok)
        .withColumn(
            "quality_ok",
            lang_ok
            & F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
            & (
                F.col("n_types").cast("double") / F.col("n_tokens")
                >= MIN_TTR
            ),
        )
    )
    wd = Window.partitionBy(F.md5("text"), "quality_ok").orderBy("doc_id")
    flagged = flagged.withColumn(
        "dedup_keep",
        F.col("quality_ok") & (F.row_number().over(wd) == 1),
    )
    one = flagged.agg(
        F.count("*").cast("bigint").alias("d1"),
        F.sum("n_tokens").cast("bigint").alias("t1"),
        F.count_if("lang_ok").cast("bigint").alias("d2"),
        F.sum(F.when(F.col("lang_ok"), F.col("n_tokens")))
        .cast("bigint")
        .alias("t2"),
        F.count_if("quality_ok").cast("bigint").alias("d3"),
        F.sum(F.when(F.col("quality_ok"), F.col("n_tokens")))
        .cast("bigint")
        .alias("t3"),
        F.count_if("dedup_keep").cast("bigint").alias("d4"),
        F.sum(F.when(F.col("dedup_keep"), F.col("n_tokens")))
        .cast("bigint")
        .alias("t4"),
    )
    return one.select(
        F.expr(
            "stack(4, '1_raw', d1, t1, '2_lang', d2, t2,"
            " '3_quality', d3, t3, '4_exact_dedup', d4, t4)"
        ).alias("stage", "n_docs", "n_tokens"),
        F.col("d1").alias("raw_docs"),
    ).select(
        "stage",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("raw_docs")).alias(
            "docs_retained"
        ),
    )
