"""Corpus-vocabulary construction and LM-based quality scoring — the
tokenizer-training / perplexity-filter stage of an LLM data pipeline
(companion to ``pipeline/text.py``'s frequency analytics and
``pipeline/text_extra.py``'s heuristic quality gates).

Five operators:

- ``docs_vocab_build`` — frequency-ranked vocabulary (unigrams + bigrams)
  with contiguous integer ids, the precursor to any BPE/WordPiece merge
  loop and to embedding-table sizing.
- ``docs_unigram_logprob`` — per-document average negative log-probability
  under the corpus unigram LM: the classic cheap perplexity proxy used to
  rank/filter pretraining documents (high avg-NLL ≈ out-of-distribution
  or noisy text).
- ``docs_sample_weighted`` — deterministic weighted (Bernoulli-by-hash)
  document sampling: keep probability proportional to document length,
  decided row-locally from an md5 of the id, so the sample is
  reproducible on any engine and any partitioning, with zero shuffles.
- ``docs_importance_weight`` — DSIR-style in-domain vs corpus unigram
  log-likelihood-ratio weighting (the published importance-resampling
  data-selection method).
- ``pipeline_mix_sources`` — temperature-scaled (α = 0.5) source mixing
  against a fixed budget, membership by the same deterministic hash draw.

Scale (100 TB): vocab is two explode→partial-agg passes (map-side
combine) + TakeOrderedAndProject for the top-V cut; the contiguous-id
window runs over the already-bounded V rows only — never over the corpus.
The LM scorer is one token-count aggregation joined back to the token
stream (shuffle on token, then on doc_id) with a 1-row broadcast for the
total; the per-doc mean uses the decimal-sum discipline (``exact.py``) so
partial aggregation stays bit-identical under any partitioning. The
sampler is a pure row-local expression — a filter pushed at the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import DAVG, DSUM, MD5_BIGINT, davg, dsum, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import memo_cache, t

VOCAB_SIZE = 512
SAMPLE_TARGET_CHARS = 400.0  # docs this long (or longer) are always kept


def _terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) stream of unigrams + bigrams, duplicates kept
    (frequency semantics, not set semantics)."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    k = F.size(toks) - 1
    bigrams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id", F.explode(F.concat(toks, bigrams)).alias("term")
    )


_TERMS_SQL = """
SELECT doc_id, unnest(list_concat(tk,
         list_transform(generate_series(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i + 1]))) AS term
FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
"""


@query(
    "docs_vocab_build",
    oracle=f"""
WITH terms AS ({_TERMS_SQL}),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
           FROM terms GROUP BY term),
top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT {VOCAB_SIZE})
SELECT term, n,
       CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS vocab_id
FROM top
""",
    category="L",
)
def docs_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary over unigrams + bigrams with contiguous
    ids 1..V (count DESC, term ASC — a unique total order, so ids are
    deterministic).

    Scale shape: the corpus-wide term count is a partial+final hash
    aggregation; the top-V cut plans as TakeOrderedAndProject
    (per-partition heaps, no global sort of the term space); only THEN
    does the single-partition ``row_number`` window run — over exactly V
    rows, a bounded constant, which is the only safe place for a global
    window at 100 TB. Building ids over the unbounded term space with one
    window would be the scale mistake this operator exists to avoid."""
    counts = (
        _terms(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(VOCAB_SIZE)
    )
    w = Window.orderBy(F.col("n").desc(), "term")
    return counts.select(
        "term", "n", F.row_number().over(w).cast("int").alias("vocab_id")
    )


@query(
    "docs_unigram_logprob",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY token),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
scored AS (
  SELECT tok.doc_id,
         round(ln(CAST(total.n AS DOUBLE) / counts.c), 6) AS nll
  FROM tok JOIN counts ON tok.token = counts.token CROSS JOIN total)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       {DAVG('nll')} AS avg_nll
FROM scored GROUP BY doc_id
""",
    category="L",
)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-probability under the corpus
    unigram LM (nll = ln(N/count(token))): the cheap perplexity proxy for
    pretraining-data quality ranking. Documents made of rare tokens score
    high (surprising); boilerplate scores low.

    Cross-engine exactness: N/c is one double division of exact integers
    and ln() of identical doubles is rounded to 6 dp before the
    order-free decimal mean (``exact.davg``) — the same discipline as
    ``text_tfidf_topterms``.

    Scale: one token-count aggregation (map-side combine), one shuffle
    join of the token stream against the counts (both hash-partitioned on
    token), a 1-row broadcast for N, and one per-doc decimal mean. No
    per-doc lists, no Python."""
    return _doc_nll(spark, sf_dir)


def _doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, avg_nll) under the corpus unigram LM — shared by
    ``docs_unigram_logprob`` and ``docs_perplexity_buckets``."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("n").cast("double") / F.col("c")), 6
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        davg(F.col("nll")).alias("avg_nll"),
    )


@query(
    "docs_perplexity_buckets",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY token),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
scored AS (
  SELECT tok.doc_id,
         round(ln(CAST(total.n AS DOUBLE) / counts.c), 6) AS nll
  FROM tok JOIN counts ON tok.token = counts.token CROSS JOIN total),
doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         {DAVG('nll')} AS avg_nll
  FROM scored GROUP BY doc_id)
SELECT d.doc_id, m.lang, d.n_tokens, d.avg_nll,
       CASE ntile(3) OVER (PARTITION BY m.lang
                           ORDER BY d.avg_nll, d.doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM doc d JOIN documents m ON d.doc_id = m.doc_id
""",
    category="L",
)
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per language, rank documents by
    their unigram-LM average NLL (the ``docs_unigram_logprob`` proxy for
    LM perplexity) and split them into equal head/middle/tail thirds —
    the published CCNet curation scheme where 'head' (lowest perplexity,
    most in-distribution) feeds pretraining first and 'tail' is dropped
    or down-weighted.

    Cross-engine exactness: avg_nll is the decimal-mean of 6-dp-rounded
    logs (identical doubles both engines), and NTILE runs over the total
    order (avg_nll, doc_id) — no ties left to engine discretion; both
    engines use the standard larger-buckets-first NTILE split.

    Scale: the scorer is the one-pass unigram pipeline (token-count
    shuffle + token join + per-doc decimal mean); the bucket assignment
    windows over the REDUCED per-doc table partitioned by language. At
    billion-doc scale replace the exact per-lang NTILE with
    approx-percentile boundaries (the ``events_rfm_segmentation``
    pattern) — same output contract."""
    scored = _doc_nll(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    b = F.ntile(3).over(w)
    return (
        scored.join(docs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "avg_nll",
            F.when(b == 1, F.lit("head"))
            .when(b == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )


@query(
    "docs_sample_weighted",
    oracle=f"""
SELECT doc_id, source, n_chars,
       least(1.0, CAST(n_chars AS DOUBLE) / {SAMPLE_TARGET_CHARS}) AS keep_p
FROM documents
WHERE {MD5_BIGINT("CAST(doc_id AS VARCHAR)")}
      % 1000000
      < CAST(floor(least(1.0, CAST(n_chars AS DOUBLE)
                              / {SAMPLE_TARGET_CHARS}) * 1000000.0)
             AS BIGINT)
""",
    category="L",
)
def docs_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-weighted Bernoulli sampling: each document is
    kept with probability min(1, n_chars/{target}) — the
    quality/length-weighted downsampling step of corpus construction
    (rebalancing away from short fragments), made reproducible by hashing
    the id instead of drawing randomness.

    Exactness: keep_p is one double divide + min; the threshold
    ``floor(keep_p·1e6)`` and the md5-derived draw are exact integers on
    both engines, so membership is bit-deterministic — no rand(), so the
    key stays inside the no-nondeterminism contract (SURVEY §2 footer).

    Scale: a pure row-local filter — no shuffle, no state; Catalyst
    pushes the n_chars arithmetic and the hash filter straight onto the
    scan, so this costs one pass at any corpus size. Changing the weight
    column (quality score, language prior) keeps the same plan."""
    d = t(spark, sf_dir, "documents")
    keep_p = F.least(
        F.lit(1.0), F.col("n_chars").cast("double") / SAMPLE_TARGET_CHARS
    )
    return d.filter(
        md5_bigint(F.col("doc_id").cast("string")) % 1_000_000
        < F.floor(keep_p * 1_000_000.0).cast("long")
    ).select("doc_id", "source", "n_chars", keep_p.alias("keep_p"))


DSIR_DOMAIN = ("src0", "src1")  # the in-domain slice (10% of sources)


@query(
    "docs_importance_weight",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
dom AS (SELECT t2.token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok t2 JOIN documents d ON t2.doc_id = d.doc_id
        WHERE d.source IN ('{DSIR_DOMAIN[0]}', '{DSIR_DOMAIN[1]}')
        GROUP BY t2.token),
alltok AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY token),
consts AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM dom) AS n_dom,
         (SELECT CAST(SUM(c) AS BIGINT) FROM alltok) AS n_all,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM alltok) AS v),
scored AS (
  SELECT tok.doc_id,
         round(ln(CAST(COALESCE(dom.c, 0) + 1 AS DOUBLE)
                  / (consts.n_dom + consts.v))
               - ln(CAST(alltok.c + 1 AS DOUBLE)
                    / (consts.n_all + consts.v)), 6) AS lr
  FROM tok
  JOIN alltok ON tok.token = alltok.token
  LEFT JOIN dom ON tok.token = dom.token
  CROSS JOIN consts)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       {DAVG('lr')} AS imp_weight
FROM scored GROUP BY doc_id
""",
    category="L",
)
def docs_importance_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method): each
    document's weight is its average per-token log-likelihood ratio
    between an in-domain unigram LM (here: the src0/src1 slice) and the
    general-corpus LM, with add-one smoothing. Positive weight ≈ looks
    like the target domain; downstream selection keeps the top mass
    (``docs_sample_weighted`` is the matching sampler).

    Exactness: both probabilities are double divisions of exact integer
    counts, the log-ratio is rounded to 6 dp per token, and the per-doc
    mean uses the order-free decimal discipline — hash-identical on both
    engines.

    Scale: two token-count aggregations (corpus + domain, both map-side
    combined), one 1-row broadcast of the normalizing constants, one join
    of the token stream against the (token, lr) table — the same plan at
    any corpus size; the domain table is small by construction and its
    counts broadcast."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    alltok = tok.groupBy("token").agg(F.count("*").alias("c_all"))
    dom = (
        tok.filter(F.col("source").isin(*DSIR_DOMAIN))
        .groupBy("token")
        .agg(F.count("*").alias("c_dom"))
    )
    consts = alltok.agg(
        F.sum("c_all").alias("n_all"), F.count("*").alias("v")
    ).crossJoin(
        dom.agg(F.sum("c_dom").alias("n_dom"))
    )
    lr_tbl = (
        alltok.join(dom, "token", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "token",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_dom"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_dom") + F.col("v"))
                )
                - F.log(
                    (F.col("c_all") + 1).cast("double")
                    / (F.col("n_all") + F.col("v"))
                ),
                6,
            ).alias("lr"),
        )
    )
    return (
        tok.join(lr_tbl, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            davg(F.col("lr")).alias("imp_weight"),
        )
    )


MIX_BUDGET = 250  # total document budget for the mixed corpus
MIX_ALPHA = 0.5  # temperature exponent: share_s ∝ count_s^alpha


@query(
    "pipeline_mix_sources",
    oracle=f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         round(pow(CAST(COUNT(*) AS DOUBLE), {MIX_ALPHA}), 6) AS w
  FROM documents GROUP BY source),
shares AS (
  SELECT source, n,
         w / (SELECT CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE)
              FROM counts) AS share
  FROM counts),
rates AS (
  SELECT source,
         least(1.0, share * {MIX_BUDGET} / n) AS rate
  FROM shares)
SELECT d.doc_id, d.source, r.rate
FROM documents d JOIN rates r ON d.source = r.source
WHERE {MD5_BIGINT("CAST(d.doc_id AS VARCHAR)")}
      % 1000000
      < CAST(floor(r.rate * 1000000.0) AS BIGINT)
""",
    category="L",
)
def pipeline_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (the multilingual-LM sampling
    scheme — share_s ∝ count_s^α with α = 0.5, as popularized by
    mBERT/XLM-R/mT5 training recipes, all public): each source's target
    share is its tempered mass, converted to a per-source keep rate
    against a fixed document budget, and membership is decided by the
    same md5 hash draw as ``docs_sample_weighted`` — so the mixed corpus
    is bit-reproducible with no RNG.

    Exactness: counts are exact integers and the tempered weights
    round to 6 dp BEFORE normalization, so the normalizer is an exact
    decimal sum (a raw double Σ pow(n,α) is accumulation-ORDER-dependent
    and drifted one ulp between engines at sf0.1 — caught by the
    dual-scale sim); the share/rate divisions then run on identical
    doubles and the integer threshold makes membership exact.

    Scale: one per-source count (map-side combine over however few
    sources exist), a broadcast of the tiny rate table onto the corpus
    scan, and a row-local filter — the corpus is never shuffled. This is
    the sampling half of a DoReMi-style loop; re-weighting just replaces
    the rate table."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.round(
            F.pow(F.count("*").cast("double"), MIX_ALPHA), 6
        ).alias("w"),
    )
    tot = counts.agg(dsum(F.col("w")).alias("z"))
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.col("w") / F.col("z") * MIX_BUDGET / F.col("n"),
        ).alias("rate"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(
            md5_bigint(F.col("doc_id").cast("string")) % 1_000_000
            < F.floor(F.col("rate") * 1_000_000.0).cast("long")
        )
        .select("doc_id", "source", "rate")
    )


APPLY_VOCAB_SIZE = 16  # deliberately small so the OOV path is exercised


@query(
    "docs_tokenizer_apply",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, i AS pos, tk[i] AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       unnest(generate_series(1, len(tk))) u(i)),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
           FROM tok GROUP BY token),
vocab AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY n DESC, token) AS INT)
           AS vocab_id
  FROM (SELECT token, n FROM counts
        ORDER BY n DESC, token LIMIT {APPLY_VOCAB_SIZE}))
SELECT t.doc_id, CAST(t.pos AS INT) AS pos, t.token,
       COALESCE(v.vocab_id, 0) AS token_id
FROM tok t LEFT JOIN vocab v ON t.token = v.token
""",
    category="L",
)
def docs_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application — the encode step after ``docs_vocab_build``:
    every (document, position) token maps to its trained id, with
    out-of-vocabulary tokens collapsing to the reserved id 0 (the vocab
    is deliberately tiny here so the OOV path is real). Output is the
    position-indexed id stream ``docs_pack_sequences``-style packing
    consumes.

    Scale: the vocab is bounded (V rows) and BROADCASTS onto the token
    stream — encoding a 100 TB corpus is one map-side hash-lookup pass,
    zero shuffles of the corpus itself; the token count that builds the
    vocab is the usual partial+final aggregation."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("p0", "token"),
    ).select(
        "doc_id", (F.col("p0") + 1).cast("int").alias("pos"), "token"
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(APPLY_VOCAB_SIZE)
    )
    w = Window.orderBy(F.col("n").desc(), "token")
    vocab_ids = vocab.select(
        "token", F.row_number().over(w).cast("int").alias("vocab_id")
    )
    return (
        tok.join(F.broadcast(vocab_ids), "token", "left")
        .select(
            "doc_id",
            "pos",
            "token",
            F.coalesce(F.col("vocab_id"), F.lit(0)).alias("token_id"),
        )
    )


_ZIPF_ORACLE = f"""
WITH terms AS ({_TERMS_SQL}),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
           FROM terms GROUP BY term),
top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT {VOCAB_SIZE}),
xy AS (
  SELECT ROUND(ln(CAST(row_number() OVER (ORDER BY n DESC, term)
                       AS DOUBLE)), 6) AS x,
         ROUND(ln(CAST(n AS DOUBLE)), 6) AS y
  FROM top),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         {DSUM('x')} AS sx, {DSUM('y')} AS sy,
         {DSUM('x * y')} AS sxy, {DSUM('x * x')} AS sxx
  FROM xy)
SELECT m AS n_terms,
       (m * sxy - sx * sy) / (m * sxx - sx * sx) AS zipf_slope,
       (sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m
         AS intercept
FROM s
"""


@query("docs_zipf_fit", oracle=_ZIPF_ORACLE, category="L")
def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope of
    log-frequency against log-rank over the top-V terms — natural text
    sits near −1, and the slope drifting is a cheap tripwire for
    template/boilerplate floods or synthetic contamination in a crawl.
    Logs are rounded to 6 dp first (libm ``ln`` is not correctly
    rounded; rounding absorbs the ulp, the idf precedent), the moment
    sums are decimal-exact, and the slope/intercept are pinned float
    expressions mirrored term-for-term.

    Scale: reuses the vocabulary shape — partial+final term counts, a
    TakeOrderedAndProject top-V cut, and the regression runs over
    exactly V rows."""
    counts = (
        _terms(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(VOCAB_SIZE)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    xy = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 6).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("bigint").alias("m"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    return s.select(
        m.alias("n_terms"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / m).alias("intercept"),
    )


HEAPS_BUCKETS = 20


_HEAPS_ORACLE = f"""
WITH terms AS ({_TERMS_SQL}),
first_seen AS (
  SELECT term, CAST(MIN(doc_id) AS BIGINT) AS first_doc
  FROM terms GROUP BY term),
buckets AS (
  SELECT doc_id,
         CAST(NTILE({HEAPS_BUCKETS}) OVER (ORDER BY doc_id) AS INT)
           AS bucket
  FROM (SELECT DISTINCT doc_id FROM terms)),
new_terms AS (
  SELECT b.bucket, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM first_seen f JOIN buckets b ON f.first_doc = b.doc_id
  GROUP BY b.bucket),
docs_per AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM buckets
  GROUP BY bucket)
SELECT d.bucket, d.n_docs,
       CAST(SUM(d.n_docs) OVER (ORDER BY d.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_terms,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM docs_per d LEFT JOIN new_terms n ON d.bucket = n.bucket
"""


@query("docs_heaps_curve", oracle=_HEAPS_ORACLE, category="L")
def docs_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: the corpus is cut into 20
    equal-document buckets in doc_id order and each bucket reports the
    NEW terms it introduces (terms whose first-seen doc lands there)
    plus the cumulative vocabulary — sublinear growth is healthy natural
    text; a flattening curve means the crawl has started re-reading
    itself, and a steep late jump flags an injected foreign corpus. The
    Zipf fit's (``docs_zipf_fit``) growth-side companion. All integers.

    Scale: first-seen is one MIN aggregation over the term space
    (partial+final); the bucket cut is an NTILE over the distinct doc
    list (at extreme doc counts: hash docs to fixed ranges instead);
    the curve itself is a 20-row window."""
    terms_df = _terms(spark, sf_dir)
    first_seen = terms_df.groupBy("term").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    w_n = Window.orderBy("doc_id")
    buckets = (
        terms_df.select("doc_id")
        .distinct()
        .select(
            "doc_id",
            F.ntile(HEAPS_BUCKETS).over(w_n).cast("int").alias("bucket"),
        )
    )
    new_terms = (
        first_seen.join(
            buckets.withColumnRenamed("doc_id", "first_doc"), "first_doc"
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_new"))
    )
    docs_per = buckets.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    w_c = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        docs_per.join(new_terms, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.sum("n_docs").over(w_c).cast("bigint").alias("cum_docs"),
            F.coalesce("n_new", F.lit(0))
            .cast("bigint")
            .alias("n_new_terms"),
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(w_c)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )


# --- OOV-rate gate (round 5) -------------------------------------------

_OOV_ORACLE = f"""
WITH terms AS ({_TERMS_SQL}),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
           FROM terms GROUP BY term),
top AS (SELECT term FROM counts ORDER BY n DESC, term LIMIT {VOCAB_SIZE}),
j AS (
  SELECT t.doc_id,
         CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
  FROM terms t LEFT JOIN top v ON t.term = v.term)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
FROM j GROUP BY doc_id
"""


@query("docs_oov_rate", oracle=_OOV_ORACLE, category="L")
def docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-512
    vocabulary (docs_vocab_build's cut) — the tokenizer-coverage gate a
    training pipeline runs before committing to a vocab: documents with
    high OOV rates either need vocab growth or are noise.

    Scale: the vocab is a bounded top-V (broadcast); the per-doc pass is
    one broadcast join + one grouped count over the term stream — no
    shuffle of the term space beyond the count that built the vocab.
    Exactness: integer counts and one division of exact integers."""
    terms = _terms(spark, sf_dir)
    vocab = (
        terms.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(VOCAB_SIZE)
        .select("term")
    )
    j = terms.join(
        F.broadcast(vocab.withColumnRenamed("term", "vterm")),
        terms.term == F.col("vterm"),
        "left",
    ).select(
        "doc_id",
        F.when(F.col("vterm").isNull(), 1).otherwise(0).alias("oov"),
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        (F.sum("oov").cast("double") / F.count("*")).alias("oov_rate"),
    )


# --- vocabulary drift monitor (round 5) --------------------------------

DRIFT_TOP = 64  # per-half vocabulary cut for the drift comparison

_DRIFT_ORACLE = f"""
WITH terms AS ({_TERMS_SQL}),
halves AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS half, term
  FROM terms),
counts AS (
  SELECT half, term, CAST(COUNT(*) AS BIGINT) AS n
  FROM halves GROUP BY half, term),
topa AS (SELECT term, n FROM counts WHERE half = 'a'
         ORDER BY n DESC, term LIMIT {DRIFT_TOP}),
topb AS (SELECT term, n FROM counts WHERE half = 'b'
         ORDER BY n DESC, term LIMIT {DRIFT_TOP})
SELECT COALESCE(a.term, b.term) AS term,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_b,
       a.term IS NOT NULL AS in_top_a,
       b.term IS NOT NULL AS in_top_b
FROM topa a FULL OUTER JOIN topb b ON a.term = b.term
"""


@query("docs_vocab_drift", oracle=_DRIFT_ORACLE, category="L")
def docs_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift monitor: the top-64 term vocabularies of two
    deterministic corpus halves (doc_id parity — stand-in for
    two ingest snapshots), full-outer joined — terms present in only one
    half's top list are the drift signal a tokenizer/ingest dashboard
    alerts on.

    Scale: each half's vocab is a TakeOrdered cut of a partial+final
    count (the docs_vocab_build shape); the drift join is top-N × top-N
    — constant size."""
    terms = _terms(spark, sf_dir).withColumn(
        "half",
        F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b"),
    )
    counts = terms.groupBy("half", "term").agg(F.count("*").alias("n"))

    def top(h: str) -> DataFrame:
        return (
            counts.filter(F.col("half") == h)
            .orderBy(F.col("n").desc(), "term")
            .limit(DRIFT_TOP)
            .select(
                F.col("term").alias(f"term_{h}"),
                F.col("n").cast("bigint").alias(f"n_{h}"),
            )
        )

    a, b = top("a"), top("b")
    return (
        a.join(b, a.term_a == b.term_b, "full_outer")
        .select(
            F.coalesce("term_a", "term_b").alias("term"),
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
            F.col("term_a").isNotNull().alias("in_top_a"),
            F.col("term_b").isNotNull().alias("in_top_b"),
        )
    )


_HAPAX_ORACLE = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tk FROM documents),
vf AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY tk)
SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(COUNT(*) FILTER (WHERE f = 1) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) FILTER (WHERE f = 2) AS BIGINT) AS n_dis,
       CAST(COUNT(*) FILTER (WHERE f = 1) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
FROM vf
"""


@query("docs_hapax_ratio", oracle=_HAPAX_ORACLE, category="L")
def docs_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness summary: hapax legomena (frequency-1 words) and
    dis legomena (frequency-2) counts plus the hapax share of the
    vocabulary — the corpus-health companion to ``docs_heaps_curve`` /
    ``docs_zipf_fit`` (a crawl whose hapax share spikes is full of
    garbage tokens; one that collapses is template spam).

    One token rollup + one 1-row filtered count; integer cells, one
    mirrored division."""
    tok = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tk")
    )
    vf = tok.groupBy("tk").agg(F.count("*").alias("f"))
    return vf.agg(
        F.count("*").alias("vocab_size"),
        F.count_if(F.col("f") == 1).alias("n_hapax"),
        F.count_if(F.col("f") == 2).alias("n_dis"),
        (
            F.count_if(F.col("f") == 1).cast("double")
            / F.count("*").cast("double")
        ).alias("hapax_ratio"),
    )


# --- BPE merge learning (fixed rounds) -----------------------------------

BPE_MERGES = 8  # learned merge rules (fixed-round, like graph_*_fixed)
BPE_TOP_WORDS = 200  # word-frequency table cut feeding the trainer


def _bpe_initial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BPE_TOP_WORDS} word-frequency table, each word symbolized
    as the ``|c1||c2||...|`` boundary-anchored encoding."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(BPE_TOP_WORDS)
    )
    return words.select(
        F.concat(
            F.lit("|"),
            F.array_join(
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " i -> substring(word, i, 1))"
                ),
                "||",
            ),
            F.lit("|"),
        ).alias("seq"),
        "freq",
    )


def _bpe_round_best(cur: DataFrame, r: int) -> DataFrame:
    """One BPE round's argmax rule: frequency-weighted adjacent-pair
    counts over the symbolized word table, cut to the single best pair
    by a distributed TakeOrdered (count DESC, pair lexicographic)."""
    pairs = (
        cur.select(
            "freq",
            F.expr(
                "explode(case when size(split(trim(BOTH '|' FROM seq),"
                " '\\\\|\\\\|')) >= 2 then"
                " transform(sequence(1, size(split(trim(BOTH '|' FROM"
                " seq), '\\\\|\\\\|')) - 1),"
                " i -> struct("
                "   element_at(split(trim(BOTH '|' FROM seq),"
                "     '\\\\|\\\\|'), i) as l,"
                "   element_at(split(trim(BOTH '|' FROM seq),"
                "     '\\\\|\\\\|'), i + 1) as rr))"
                " else cast(array() as"
                "   array<struct<l:string,rr:string>>) end)"
            ).alias("pr"),
        )
        .groupBy(F.col("pr.l").alias("l"), F.col("pr.rr").alias("rr"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    return (
        pairs.orderBy(F.col("cnt").desc(), "l", "rr")
        .limit(1)
        .select(F.lit(r).cast("int").alias("merge_round"), "l", "rr", "cnt")
    )


def _bpe_trainer_stages() -> list[str]:
    """The trainer's CTE stage list (words, w0, then p{r}/b{r}/w{r} per
    merge round) — the single source both oracles assemble from, so a
    formatting change cannot desynchronize them (ADVICE r08)."""
    stages = [
        f"""words AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY w
  ORDER BY freq DESC, w LIMIT {BPE_TOP_WORDS}),
w0 AS (
  SELECT '|' || array_to_string(list_transform(
             generate_series(1, length(word)),
             i -> substring(word, i, 1)), '||') || '|' AS seq, freq
  FROM words)"""
    ]
    for r in range(1, BPE_MERGES + 1):
        stages.append(f"""p{r} AS (
  SELECT pr.l AS l, pr.rr AS rr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
           i -> {{'l': syms[i], 'rr': syms[i + 1]}})) AS pr, freq
    FROM (SELECT string_split(trim(seq, '|'), '||') AS syms, freq
          FROM w{r - 1}))
  GROUP BY pr.l, pr.rr),
b{r} AS (
  SELECT CAST({r} AS INT) AS merge_round, l, rr, cnt FROM p{r}
  ORDER BY cnt DESC, l, rr LIMIT 1),
w{r} AS (
  SELECT replace(seq, '|' || b.l || '||' || b.rr || '|',
                 '|' || b.l || b.rr || '|') AS seq, freq
  FROM w{r - 1}, b{r} b)""")
    return stages


def _bpe_oracle() -> str:
    """Unrolled K-stage CTE chain mirroring the Spark loop round for
    round: pair counting over the symbolized word table, deterministic
    argmax (count DESC, pair ASC), then a boundary-anchored string
    replace that IS greedy left-to-right non-overlapping BPE merging
    (each symbol is wrapped ``|sym|``, so the pair pattern
    ``|a||b|`` cannot match inside a longer symbol and consecutive
    disjoint occurrences each match)."""
    stages = list(_bpe_trainer_stages())
    union = "\nUNION ALL\n".join(
        f"SELECT merge_round, l AS lhs, rr AS rhs, l || rr AS merged, "
        f"cnt AS pair_count FROM b{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n".join(stages) + "\n" + union


def _bpe_encode_oracle() -> str:
    """The trainer's CTE chain (for the b1..bK rules), plus the apply
    side: the UNCUT word table symbolized and rewritten by each rule in
    order, then reduced to corpus encoding stats.  Assembled from the
    shared ``_bpe_trainer_stages()`` list — NOT by re-parsing the
    rendered trainer SQL, which silently sliced the wrong prefix on any
    formatting change (ADVICE r08)."""
    stages = list(_bpe_trainer_stages())
    stages.append(f"""wa AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY w),
a0 AS (
  SELECT '|' || array_to_string(list_transform(
             generate_series(1, length(word)),
             i -> substring(word, i, 1)), '||') || '|' AS seq, freq
  FROM wa)""")
    for r in range(1, BPE_MERGES + 1):
        stages.append(f"""a{r} AS (
  SELECT replace(seq, '|' || b.l || '||' || b.rr || '|',
                 '|' || b.l || b.rr || '|') AS seq, freq
  FROM a{r - 1}, b{r} b)""")
    stages.append(f"""sy AS (
  SELECT string_split(trim(seq, '|'), '||') AS syms, freq
  FROM a{BPE_MERGES})""")
    return (
        "WITH "
        + ",\n".join(stages)
        + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(SUM(freq * len(syms)) AS BIGINT) AS n_symbols,
       CAST(SUM(freq * len(syms)) AS DOUBLE) / SUM(freq)
         AS avg_symbols_per_word,
       (SELECT CAST(COUNT(DISTINCT s) AS BIGINT)
        FROM (SELECT unnest(syms) AS s FROM sy)) AS n_distinct_symbols
FROM sy
"""
    )


@query("docs_bpe_encode_stats", oracle=_bpe_encode_oracle(), category="L")
def docs_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BPE encoding report: the {BPE_MERGES} rules learned
    by ``vocab_bpe_merges_fixed`` applied IN ORDER to the full
    word-frequency dictionary (every distinct word, not just the
    training cut), reduced to the numbers a tokenizer team tracks —
    corpus word mass, post-merge symbol mass, average symbols per word
    (the compression the merges bought), and the symbol-vocabulary
    size.

    Scale: the dictionary-encode pattern — each DISTINCT word is
    encoded once and weighted by its corpus frequency, so the apply
    side never rescans the corpus; the {BPE_MERGES} rewrites are 1-row
    broadcasts into row-local replaces (zero shuffles beyond the word
    count), and the rule frames are memoized per session, shared with
    the trainer key. Exactness: integer masses, one mirrored division;
    the symbol vocabulary counts distinct strings — no floats."""
    d = t(spark, sf_dir, "documents")
    wa = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .select(
            F.concat(
                F.lit("|"),
                F.array_join(
                    F.expr(
                        "transform(sequence(1, length(word)),"
                        " i -> substring(word, i, 1))"
                    ),
                    "||",
                ),
                F.lit("|"),
            ).alias("seq"),
            "freq",
        )
    )
    sy = _bpe_apply(wa, _bpe_rules(spark, sf_dir)).select(
        F.split(F.expr("trim(BOTH '|' FROM seq)"), "\\|\\|").alias("syms"),
        "freq",
    )
    sy = memo_cache(sy, f"bpe_encoded:{sf_dir}:{BPE_MERGES}:{BPE_TOP_WORDS}")
    stats = sy.agg(
        F.count("*").cast("bigint").alias("n_distinct_words"),
        F.sum("freq").cast("bigint").alias("n_words"),
        F.sum(F.col("freq") * F.size("syms"))
        .cast("bigint")
        .alias("n_symbols"),
        (
            F.sum(F.col("freq") * F.size("syms")).cast("double")
            / F.sum("freq")
        ).alias("avg_symbols_per_word"),
    )
    dsym = sy.select(F.explode("syms").alias("s")).agg(
        F.countDistinct("s").cast("bigint").alias("n_distinct_symbols")
    )
    return stats.crossJoin(F.broadcast(dsym))


@query("vocab_bpe_merges_fixed", oracle=_bpe_oracle(), category="L")
def vocab_bpe_merges_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule learning (Sennrich et al. 2016), {BPE_MERGES}
    fixed rounds — the tokenizer-training step of an LLM data pipeline,
    run the way production BPE trainers actually run: ON THE
    WORD-FREQUENCY TABLE, not the corpus. One corpus-wide word count
    (the only corpus-scale shuffle) is cut to the top-{BPE_TOP_WORDS}
    words (Zipf: they carry almost all pair mass); each round then
    counts frequency-weighted adjacent symbol pairs over that bounded
    frame, picks the argmax pair (count DESC, pair lexicographic — no
    rand()), and merges it greedily left-to-right in every word.

    The merge step runs as a boundary-anchored string replace over the
    ``|sym1||sym2||...|`` encoding: the pattern ``|a||b|`` consumes
    both symbols' own delimiters, so SQL ``replace``'s left-to-right
    non-overlapping scan is exactly BPE's greedy merge (``aaa`` under
    (a,a) -> [aa, a]), bit-identical on both engines. Each round
    lineage-truncates with a lazy localCheckpoint (the ``dedup_cc``
    discipline) so the K-round plan stays O(K), not O(2^K).

    Scale: after the word count, every round touches {BPE_TOP_WORDS}
    rows — pair counting, the 1-row TakeOrdered argmax, and the 1-row
    broadcast joined into the rewrite are all sub-kilobyte at any
    corpus size. Returns the learned rule table (merge_round, lhs,
    rhs, merged, pair_count)."""
    rules = _bpe_rules(spark, sf_dir)
    rounds = [
        best.select(
            "merge_round",
            F.col("l").alias("lhs"),
            F.col("rr").alias("rhs"),
            F.concat("l", "rr").alias("merged"),
            F.col("cnt").alias("pair_count"),
        )
        for best in rules
    ]
    out = rounds[0]
    for frame in rounds[1:]:
        out = out.unionAll(frame)
    return out


def _bpe_apply(words: DataFrame, rules: list[DataFrame]) -> DataFrame:
    """Apply the learned merge rules IN ORDER to a symbolized word
    frame: each rule is a 1-row broadcast joined into a row-local
    boundary-anchored replace — zero additional shuffles regardless of
    the frame's size (the scale path for encoding a whole corpus)."""
    cur = words
    for best in rules:
        cur = cur.crossJoin(F.broadcast(best.select("l", "rr"))).select(
            F.expr(
                "replace(seq, concat('|', l, '||', rr, '|'),"
                " concat('|', l, rr, '|'))"
            ).alias("seq"),
            "freq",
        )
    return cur


def _bpe_rules(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The {BPE_MERGES} learned rules as checkpointed 1-row frames
    (merge_round, l, rr, cnt), memoized per session so the trainer key
    and any apply-side consumer pay for the training loop once."""
    from dbsuite_spark.tables import _SESSION_CACHE, _memo

    k, hit = _memo(spark, f"bpe_rules:{sf_dir}:{BPE_MERGES}:{BPE_TOP_WORDS}")
    if hit is not None:
        return hit
    cur = _bpe_initial(spark, sf_dir).localCheckpoint(eager=False)
    rules: list[DataFrame] = []
    for r in range(1, BPE_MERGES + 1):
        best = _bpe_round_best(cur, r).localCheckpoint(eager=False)
        rules.append(best)
        cur = _bpe_apply(cur, [best]).localCheckpoint(eager=False)
    _SESSION_CACHE[k] = rules
    return rules


# --- interpolated bigram LM scoring ---------------------------------------

BIGRAM_LAMBDA = "0.7"  # bigram weight; unigram weight is the literal 0.3


def _bigram_lm_oracle() -> str:
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
uni AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(tk) AS t FROM tok) GROUP BY t),
total AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
stream AS (
  SELECT doc_id, pr.prev AS prev, pr.w AS w FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
           i -> {{'prev': tk[i], 'w': tk[i + 1]}})) AS pr
    FROM tok)),
bi AS (
  SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c2
  FROM stream GROUP BY prev, w),
scored AS (
  SELECT s.doc_id,
         round(-ln({BIGRAM_LAMBDA} * (CAST(b.c2 AS DOUBLE) / cp.c1)
                   + 0.3 * (CAST(cw.c1 AS DOUBLE) / total.n)), 6) AS nll
  FROM stream s
  JOIN bi b ON b.prev = s.prev AND b.w = s.w
  JOIN uni cp ON cp.w = s.prev
  JOIN uni cw ON cw.w = s.w
  CROSS JOIN total)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {DAVG('nll')} AS avg_nll
FROM scored GROUP BY doc_id
"""


@query("docs_bigram_logprob_interp", oracle=_bigram_lm_oracle(), category="L")
def docs_bigram_logprob_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average NLL under an INTERPOLATED bigram LM —
    nll = −ln(λ·c₂(prev,w)/c₁(prev) + (1−λ)·c₁(w)/N), λ=0.7 — the
    CCNet-style step up from ``docs_unigram_logprob``: bigram context
    separates fluent text from bag-of-frequent-words spam that fools a
    unigram scorer. Every observed bigram has c₂ ≥ 1 so the
    interpolation never needs smoothing beyond the unigram backoff.

    Cross-engine exactness: c₂/c₁ and c₁/N are single double divisions
    of exact integers; the λ-weighted sum uses the literal constants
    0.7 and 0.3 (never computing 1−λ, whose rounding differs from the
    literal); ln is rounded to 6 dp before the order-free decimal mean
    — the ``docs_unigram_logprob`` discipline.

    Scale: one bigram count and one unigram count (both partial+final,
    map-side combined), then the bigram stream joins counts hash-
    partitioned on its keys and reduces per doc; N is a 1-row
    broadcast. No Python, no per-doc lists."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    tok = d.select("doc_id", F.explode("tk").alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").cast("bigint").alias("c1"))
    total = uni.agg(F.sum("c1").cast("bigint").alias("n"))
    stream = d.select(
        "doc_id",
        F.expr(
            "explode(case when size(tk) >= 2 then"
            " transform(sequence(1, size(tk) - 1),"
            " i -> struct(element_at(tk, i) as prev,"
            "             element_at(tk, i + 1) as w))"
            " else cast(array() as"
            "   array<struct<prev:string,w:string>>) end)"
        ).alias("pr"),
    ).select("doc_id", F.col("pr.prev").alias("prev"), F.col("pr.w").alias("w"))
    bi = stream.groupBy("prev", "w").agg(
        F.count("*").cast("bigint").alias("c2")
    )
    cp = uni.select(F.col("w").alias("prev"), F.col("c1").alias("c1_prev"))
    cw = uni.select("w", F.col("c1").alias("c1_w"))
    lam = float(BIGRAM_LAMBDA)
    scored = (
        stream.join(bi, ["prev", "w"])
        .join(cp, "prev")
        .join(cw, "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    F.lit(lam)
                    * (F.col("c2").cast("double") / F.col("c1_prev"))
                    + F.lit(0.3)
                    * (F.col("c1_w").cast("double") / F.col("n"))
                ),
                6,
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        davg(F.col("nll")).alias("avg_nll"),
    )
