"""Category L extension — repeated-substring (word n-gram) dedup.

``dedup_substring_ngram`` is the span-level counterpart of the
document-level dedup family: instead of asking "is this document a
near-copy of another document", it asks "which spans of this document are
verbatim repeats of spans elsewhere in the corpus" — the signal behind
suffix-array substring dedup in published training-data pipelines
(Lee et al., "Deduplicating Training Data Makes Language Models Better",
ACL 2022). A true suffix array is a poor fit for a shared-nothing engine;
the Spark-first equivalent is fixed-length word n-grams at stride 1:
every length-K verbatim overlap of at least K words is caught by its
constituent K-grams, and the plan is two co-partitioned hash shuffles
instead of a global sort.

Plan shape (100 TB):
- gram generation is row-local (``split`` + ``transform(sequence(...))``
  inside codegen, no Python);
- grams travel as 60-bit md5-prefix integers, not strings — the shuffle
  carries 8 bytes/gram instead of ~50;
- global repeat detection is ONE hash aggregation on the gram hash
  (map-side combined), and the per-document rollup joins grams to their
  global counts on that same key, so AQE co-partitions the pair;
- the fixture runs stride 1 for exactness; at crawl scale the documented
  knob is gram stride (sample every s-th gram), which divides both
  shuffle volumes by s and still catches overlaps ≥ K + s − 1 words.

The 60-bit hash space makes collisions across a fixture-scale corpus
vanishingly unlikely and — because both engines compute the SAME md5
prefix — any collision is shared, so the oracle stays bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

GRAM_WORDS = 8  # verbatim spans of >= 8 words are "repeated substrings"

_SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
grams AS (
  SELECT doc_id,
         {MD5_BIGINT(
             f"array_to_string(list_slice(tk, i, i + {GRAM_WORDS - 1}), ' ')"
         )} AS hv
  FROM toks, unnest(generate_series(1, len(tk) - {GRAM_WORDS - 1})) u(i)),
freq AS (
  SELECT hv, COUNT(*) AS cnt FROM grams GROUP BY hv),
per_doc AS (
  SELECT g.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS n_dup_grams
  FROM grams g JOIN freq f ON g.hv = f.hv
  GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN CAST(p.n_dup_grams AS DOUBLE) / p.n_grams
            ELSE CAST(0.0 AS DOUBLE) END AS dup_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def _gram_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hv): one 60-bit hash per word {GRAM_WORDS}-gram, stride 1.

    Spark ``sequence(1, 0)`` yields a DESCENDING [1, 0] rather than an
    empty array, so short documents guard the sequence explicitly."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    n_grams = F.size(tk) - (GRAM_WORDS - 1)
    gram_text = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(tk, i, GRAM_WORDS)
    )
    grams = F.when(
        n_grams >= 1,
        F.transform(F.sequence(F.lit(1), n_grams), gram_text),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id", F.explode(grams).alias("g")
    ).select(
        "doc_id",
        md5_bigint(F.col("g")).alias("hv"),
    )


@query("dedup_substring_ngram", oracle=_SUBSTRING_ORACLE, category="L")
def dedup_substring_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-substring profile: how many of the document's
    word 8-grams occur more than once in the corpus (within- OR
    cross-document), and the repeated fraction. Downstream cleaning drops
    or trims documents whose ``dup_frac`` exceeds a corpus-calibrated gate
    — the span-level complement of ``dedup_near_minhash``'s whole-document
    verdicts.

    ``dup_frac`` is a single IEEE division of two exact counts, so it is
    bit-identical across engines with no rounding step."""
    grams = _gram_hashes(spark, sf_dir)
    freq = grams.groupBy("hv").agg(F.count("*").alias("cnt"))
    per_doc = (
        grams.join(freq, "hv")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )
    d = t(spark, sf_dir, "documents").select("doc_id")
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.col("n_dup_grams").cast("double") / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
grams AS (
  SELECT doc_id,
         {MD5_BIGINT(
             f"array_to_string(list_slice(tk, i, i + {GRAM_WORDS - 1}), ' ')"
         )} AS hv
  FROM toks, unnest(generate_series(1, len(tk) - {GRAM_WORDS - 1})) u(i)),
first_seen AS (
  SELECT hv, MIN(doc_id) AS first_doc FROM grams GROUP BY hv),
per_doc AS (
  SELECT g.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM grams g JOIN first_seen f ON g.hv = f.hv
  GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN CAST(p.n_novel AS DOUBLE) / p.n_grams
            ELSE CAST(0.0 AS DOUBLE) END AS novelty_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@query("docs_ngram_novelty", oracle=_NOVELTY_ORACLE, category="L")
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY in corpus order: the fraction of a
    document's word 8-grams that no lower-id document contains — the
    ordering signal curriculum builders and streaming dedupers use (a
    document whose spans were all "introduced" earlier adds nothing new;
    ``dedup_substring_ngram`` is the symmetric repeat view of the same
    substrate). A gram occurrence is novel iff this document IS the
    gram's global first occurrence (min doc_id).

    Scale: identical plan to ``dedup_substring_ngram`` — row-local gram
    hashing, one gram-keyed aggregation (min instead of count), one
    co-partitioned rejoin, one per-doc rollup; ``novelty_frac`` is a
    single exact-integer division."""
    grams = _gram_hashes(spark, sf_dir)
    first_seen = grams.groupBy("hv").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first_seen, "hv")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    d = t(spark, sf_dir, "documents").select("doc_id")
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.col("n_novel").cast("double") / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("novelty_frac"),
    )


# --- content-defined chunking dedup (round 10) ---------------------------

CDC_WINDOW = 4  # tokens hashed per boundary test (the "gear" window)
CDC_DIVISOR = 16  # P(boundary) = 1/16 per position → E[chunk] ≈ 16 tokens

_CDC_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents),
b AS (
  SELECT doc_id, toks, n,
         list_filter(
           generate_series({CDC_WINDOW}, n - 1),
           i -> {MD5_BIGINT(
                  "array_to_string("
                  f"list_slice(toks, i - {CDC_WINDOW - 1}, i), ' ')"
                )} % {CDC_DIVISOR} = 0) AS bpos
  FROM tk),
kx AS (
  SELECT doc_id, toks, n, bpos,
         unnest(generate_series(0, len(bpos))) AS k
  FROM b),
ch AS (
  SELECT doc_id, n, k,
         CASE WHEN k = 0 THEN 1 ELSE bpos[k] + 1 END AS lo,
         CASE WHEN k = len(bpos) THEN n ELSE bpos[k + 1] END AS hi,
         md5(array_to_string(
               list_slice(toks,
                          CASE WHEN k = 0 THEN 1 ELSE bpos[k] + 1 END,
                          CASE WHEN k = len(bpos) THEN n
                               ELSE bpos[k + 1] END), ' ')) AS chash
  FROM kx),
freq AS (
  SELECT chash, CAST(COUNT(*) AS BIGINT) AS f FROM ch GROUP BY chash)
SELECT ch.doc_id,
       CAST(MAX(ch.n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) FILTER (WHERE freq.f > 1) AS BIGINT) AS n_dup_chunks,
       CAST(coalesce(SUM(ch.hi - ch.lo + 1) FILTER (WHERE freq.f > 1), 0)
            AS BIGINT) AS dup_tokens,
       CAST(coalesce(SUM(ch.hi - ch.lo + 1) FILTER (WHERE freq.f > 1), 0)
            AS DOUBLE) / MAX(ch.n) AS dup_token_frac,
       CAST(MAX(ch.n) AS DOUBLE) / COUNT(*) AS mean_chunk_len
FROM ch JOIN freq ON freq.chash = ch.chash
GROUP BY ch.doc_id
"""


@query("docs_cdc_chunk_dedup", oracle=_CDC_ORACLE, category="L")
def docs_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup (the FastCDC / LBFS / rsync family,
    public method): chunk boundaries fall where the hash of the trailing
    {CDC_WINDOW}-token window ≡ 0 (mod {CDC_DIVISOR}), so boundaries are
    a function of LOCAL CONTENT, not position — insert one token and only
    the chunks touching the edit change, while every fixed-width scheme
    (``text_chunk_dedup_global``'s complement) shifts all downstream
    chunk frames and misses every repeat after the edit. Per document:
    chunk count, corpus-duplicated chunk count (the chunk's hash appears
    >1 time anywhere, within- or cross-document), duplicated token mass,
    and realized mean chunk length (target ≈ {CDC_DIVISOR} tokens) — the
    dial a storage-dedup or corpus-curation run monitors.

    Exactness: boundary tests and chunk identities are md5 integer
    comparisons — no floats until the two final mirrored divisions of
    exact integers; last-position boundaries are excluded (i ≤ n−1), so
    no empty chunks exist on either engine.

    Scale: boundary detection, chunk splitting, and chunk hashing are
    ROW-LOCAL array expressions inside codegen (no shuffle, no Python —
    positions are generated, not joined); the corpus-wide work is one
    map-side-combined count on the 16-byte chunk hash, a co-partitioned
    hash join back, and the per-doc rollup on doc_id. Chunks travel as
    hashes, never text. The per-position window hash is O(W) with
    W={CDC_WINDOW} — constant per token, embarrassingly parallel."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    ch = _cdc_chunk_rows(d)
    freq = ch.groupBy("chash").agg(F.count("*").cast("bigint").alias("f"))
    dup_tok = F.coalesce(
        F.sum(F.when(F.col("f") > 1, F.col("clen"))), F.lit(0)
    )
    return (
        ch.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_chunks"),
            F.count_if(F.col("f") > 1).cast("bigint").alias("n_dup_chunks"),
            dup_tok.cast("bigint").alias("dup_tokens"),
            (dup_tok.cast("double") / F.max("n")).alias("dup_token_frac"),
            (F.max("n").cast("double") / F.count("*")).alias(
                "mean_chunk_len"
            ),
        )
    )


def _cdc_chunk_rows(d: DataFrame) -> DataFrame:
    """Row-local content-defined chunker: (doc_id, text) -> one row per
    chunk (doc_id, n, clen, chash). Factored out so the
    insert-robustness law (tests/test_round10_semantics) can chunk a
    synthetic perturbed pair with the EXACT production expressions."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)

    def _cond(i):
        return (
            md5_bigint(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("toks"),
                        i - (CDC_WINDOW - 1),
                        F.lit(CDC_WINDOW),
                    ),
                )
            )
            % CDC_DIVISOR
            == 0
        )

    base = d.select(
        "doc_id", toks.alias("toks"), n.cast("int").alias("n")
    ).select(
        "doc_id",
        "toks",
        "n",
        # Spark's sequence(a, b) DESCENDS when b < a (DuckDB's returns
        # empty) — guard the short-doc case explicitly.
        F.when(
            F.col("n") - 1 >= CDC_WINDOW,
            F.filter(
                F.sequence(F.lit(CDC_WINDOW), F.col("n") - 1), _cond
            ),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("bpos"),
    )
    nb = F.size(F.col("bpos"))
    lo_of = lambda k: F.when(k == 0, F.lit(1)).otherwise(
        F.element_at(F.col("bpos"), k) + 1
    )
    hi_of = lambda k: F.when(k == nb, F.col("n")).otherwise(
        F.element_at(F.col("bpos"), k + 1)
    )
    return base.select(
        "doc_id",
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nb),
                lambda k: F.struct(
                    (hi_of(k) - lo_of(k) + 1).alias("clen"),
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.slice(
                                F.col("toks"),
                                lo_of(k),
                                hi_of(k) - lo_of(k) + 1,
                            ),
                        )
                    ).alias("chash"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "n", F.col("c.clen").alias("clen"), "c.chash")
