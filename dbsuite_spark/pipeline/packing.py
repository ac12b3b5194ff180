"""Sequence packing for LLM pretraining — turn a document corpus into
fixed-token-budget training sequences.

Every large-scale pretraining pipeline ends with this step: documents are
concatenated (with an end-of-document marker) and chunked into
fixed-length sequences (the GPT/LLaMA "concat-and-chunk" scheme), because
per-example padding wastes compute and greedy first-fit bin packing is
inherently sequential. Concat-and-chunk is the variant that scales: it is
a pure prefix-sum, so it is expressible as window functions and runs as
ONE shuffle per shard.

Determinism/scale design:

- Documents are assigned to ``PACK_SHARDS`` independent shards by a
  deterministic hash of ``doc_id`` (``exact.md5_bigint``). Each shard
  packs independently — on a 1000-executor cluster every shard is one
  window partition, so packing 100 TB is embarrassingly parallel and
  adds exactly one shuffle (the window's partition-by). The cost is only
  that sequences never span shards (negligible waste: ≤ one partial
  sequence per shard).
- Within a shard, documents are ordered by ``doc_id`` (a stable total
  order), token offsets are the running sum of token counts (window
  cumsum), and a document starts in sequence ``floor(off / BUDGET)``.
  Documents crossing a sequence boundary are flagged — the trainer
  splits them across consecutive sequences, which is exactly the
  concat-and-chunk semantics.
- Token counts use the corpus tokenization already proven cross-engine
  by the ``text_*`` keys (single-space split), +1 for the end-of-document
  token. Everything is integer arithmetic over window sums —
  bit-exact on any engine and any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

SEQ_BUDGET = 2048  # tokens per training sequence
PACK_SHARDS = 16  # independent packing shards


_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         {MD5_BIGINT("CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS off
  FROM d)
SELECT doc_id, CAST(shard AS INT) AS shard, n_tokens,
       CAST(off // {SEQ_BUDGET} AS BIGINT) AS seq_id,
       CAST(off % {SEQ_BUDGET} AS BIGINT) AS seq_offset,
       (off + n_tokens - 1) // {SEQ_BUDGET} > off // {SEQ_BUDGET}
         AS crosses_boundary
FROM o
"""


@query("docs_pack_sequences", oracle=_PACK_ORACLE, category="L")
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: every document gets its shard,
    token count (+1 EOD), the training sequence it starts in, its offset
    inside that sequence, and whether it spans into the next sequence.
    One window cumsum per shard — a single shuffle keyed on the packing
    shard, integer-exact at any scale."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        (
            md5_bigint(F.col("doc_id").cast("string")) % PACK_SHARDS
        ).alias("shard"),
        (F.size(F.split(F.col("text"), " ")) + 1)
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = d.withColumn(
        "off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    # integer `div`, not floor(double /): token offsets at 100 TB exceed
    # 2^53 and double division would mis-bin the tail
    return o.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        "n_tokens",
        F.expr(f"off div {SEQ_BUDGET}").alias("seq_id"),
        (F.col("off") % SEQ_BUDGET).alias("seq_offset"),
        F.expr(
            f"((off + n_tokens - 1) div {SEQ_BUDGET})"
            f" > (off div {SEQ_BUDGET})"
        ).alias("crosses_boundary"),
    )


_PACK_STATS_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         {MD5_BIGINT("CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS off
  FROM d)
SELECT CAST(shard AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX((off + n_tokens - 1) // {SEQ_BUDGET}) + 1 AS BIGINT)
         AS n_sequences,
       CAST(SUM(CASE WHEN (off + n_tokens - 1) // {SEQ_BUDGET}
                          > off // {SEQ_BUDGET}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
FROM o GROUP BY shard
"""


@query("docs_pack_stats", oracle=_PACK_STATS_ORACLE, category="L")
def docs_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing yield report per shard: documents, total tokens, number of
    emitted sequences, and how many documents straddle a sequence
    boundary — the numbers a data engineer checks before launching a
    training run (sequence count drives step count; boundary fraction
    sanity-checks the chunking). Same single-shuffle prefix-sum plan as
    ``docs_pack_sequences`` with one more (tiny, per-shard) aggregation
    on top."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        (
            md5_bigint(F.col("doc_id").cast("string")) % PACK_SHARDS
        ).alias("shard"),
        (F.size(F.split(F.col("text"), " ")) + 1)
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = d.withColumn(
        "off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    # integer `div` for the same 2^53 reason as docs_pack_sequences
    last_seq = F.expr(f"(off + n_tokens - 1) div {SEQ_BUDGET}")
    first_seq = F.expr(f"off div {SEQ_BUDGET}")
    return (
        o.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.max(last_seq) + 1).alias("n_sequences"),
            F.sum((last_seq > first_seq).cast("bigint")).alias(
                "n_boundary_docs"
            ),
        )
    )


CHUNK_TOKENS = 64  # tokens per chunk window
CHUNK_STRIDE = 48  # window stride (CHUNK_TOKENS - CHUNK_STRIDE overlap)


_CHUNK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(least(n - i * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS BIGINT)
         AS chunk_len,
       array_to_string(
         toks[i * {CHUNK_STRIDE} + 1 :
              least(i * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n)], ' ')
         AS chunk_text
FROM tok, unnest(generate_series(0, (n - 1) // {CHUNK_STRIDE})) t(i)
"""


@query("docs_chunk_overlap", oracle=_CHUNK_ORACLE, category="L")
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the RAG/embedding-pipeline
    complement to ``docs_pack_sequences``: each document becomes sliding
    windows of ``CHUNK_TOKENS`` tokens advancing by ``CHUNK_STRIDE``
    (16-token overlap preserves context across chunk boundaries), the
    unit fed to embedding models and vector indexes
    (``sim_search_*`` downstream).

    Scale: purely row-local — tokenize, generate window indices
    (``sequence`` + ``explode``), slice; no shuffle, no window function,
    embarrassingly parallel over any partitioning. Chunk counts per doc
    are ceil(n_tokens / stride), so output size is input-proportional
    with a fixed fan-out bound."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
    ).withColumn("n", F.size("toks"))
    c = d.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"(n - 1) div {CHUNK_STRIDE}"))
        ).alias("i"),
    )
    start = F.col("i") * CHUNK_STRIDE
    return c.select(
        "doc_id",
        F.col("i").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("start_tok"),
        F.least(F.col("n") - start, F.lit(CHUNK_TOKENS))
        .cast("bigint")
        .alias("chunk_len"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), start + 1, F.lit(CHUNK_TOKENS))
        ).alias("chunk_text"),
    )


N_CURRICULUM_BUCKETS = 8


_CURRICULUM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         NTILE({N_CURRICULUM_BUCKETS}) OVER (ORDER BY n_chars, doc_id)
           AS bucket
  FROM documents)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM d GROUP BY bucket
"""


@query("docs_length_curriculum", oracle=_CURRICULUM_ORACLE, category="L")
def docs_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning by document length: NTILE the corpus into 8
    equal-population buckets over (n_chars, doc_id) — the secondary key
    makes the tile assignment a total order, hence deterministic on
    both engines — and profile each bucket (doc count, char range, exact
    totals, language diversity). Length-ordered curricula (short→long)
    are a standard pretraining schedule; the bucket boundaries double as
    the shard manifest for a staged data loader.

    Scale: a global NTILE is a single total sort — at 100 TB you'd
    replace it with quantile cut-points from ``approx_percentile`` (one
    pass, no global sort) and assign buckets by range comparison; the
    NTILE formulation is the exactness reference the approximate
    cut-points are validated against. The profile aggregation itself is
    partial+final over integer domains."""
    d = t(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    b = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.ntile(N_CURRICULUM_BUCKETS).over(w).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


# --- T5-style span corruption statistics (round 9) -----------------------

MASK_PCT = 15  # per-token mask probability (percent), hash-decided

_SPAN_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, i,
         {MD5_BIGINT("CAST(doc_id AS VARCHAR) || ':' || i")} % 100
           < {MASK_PCT} AS m
  FROM (SELECT doc_id,
               unnest(generate_series(1, len(string_split(text, ' '))))
                 AS i
        FROM documents)),
flagged AS (
  SELECT doc_id, i, m,
         m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id
                                         ORDER BY i), FALSE) AS starts
  FROM tok)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE m) AS BIGINT) AS n_masked,
       CAST(COUNT(*) FILTER (WHERE starts) AS BIGINT) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE m) AS DOUBLE) / COUNT(*)
         AS corruption_rate,
       CASE WHEN COUNT(*) FILTER (WHERE starts) > 0
            THEN CAST(COUNT(*) FILTER (WHERE m) AS DOUBLE)
                   / (COUNT(*) FILTER (WHERE starts)) END
         AS mean_span_len
FROM flagged GROUP BY doc_id
"""


@query("docs_span_corruption", oracle=_SPAN_ORACLE, category="L")
def docs_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style SPAN-CORRUPTION masking statistics — the denoising-
    objective preprocessing step of an encoder-decoder training
    pipeline: each token is masked with probability {MASK_PCT}% by a
    deterministic md5 draw on (doc_id, position) — reproducible on any
    engine and any partitioning, the ``docs_sample_weighted``
    discipline applied per-token — and ADJACENT masked tokens merge
    into spans (one sentinel per span is what the objective actually
    emits). Per document: token/masked/span counts, the realized
    corruption rate, and the mean span length — the two dials (rate ≈
    {MASK_PCT}%, mean span ≈ 1/(1−p)) a pipeline monitors against its
    configured noise profile.

    Exactness: mask decisions are integer hash comparisons; span
    starts are a lag over the per-doc position order (unique key, no
    ties); the two ratios are single mirrored double divisions of
    exact integers.

    Scale: tokenization explodes in place (no shuffle — positions are
    generated, not joined); the lag window and the stats aggregation
    share one hash-partition by doc_id. State per task is one boolean
    per row; nothing is quadratic and no token text survives past the
    hash."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size(F.split(F.col("text"), " ")))
        ).alias("i"),
    ).select(
        "doc_id",
        "i",
        (
            md5_bigint(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            )
            % 100
            < MASK_PCT
        ).alias("m"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    flagged = tok.withColumn(
        "starts",
        F.col("m") & ~F.coalesce(F.lag("m").over(w), F.lit(False)),
    )
    n_masked = F.count_if(F.col("m"))
    n_spans = F.count_if(F.col("starts"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        n_masked.cast("bigint").alias("n_masked"),
        n_spans.cast("bigint").alias("n_spans"),
        (n_masked.cast("double") / F.count("*")).alias("corruption_rate"),
        F.when(
            n_spans > 0, n_masked.cast("double") / n_spans
        ).alias("mean_span_len"),
    )


# --- WebDataset-style shard assignment via distributed prefix sum --------

SHARD_BYTES = 4096  # byte budget per output shard
PS_RANGE = 100  # doc_id range width per prefix-sum bucket

_SHARD_ORACLE = f"""
WITH c AS (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents)
SELECT CAST((cum - n_chars) // {SHARD_BYTES} AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c GROUP BY 1
"""


@query("docs_shard_assign_prefix_sum", oracle=_SHARD_ORACLE, category="L")
def docs_shard_assign_prefix_sum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WebDataset-style SHARD ASSIGNMENT — every document goes to shard
    ⌊running_bytes / {SHARD_BYTES}⌋ in doc_id order, the layout step
    that turns a curated corpus into fixed-size training shards. The
    global running sum is computed as a DISTRIBUTED TWO-PASS PREFIX
    SUM: docs bucket into contiguous doc_id ranges (width {PS_RANGE}),
    pass 1 reduces each range to its byte total, the tiny range table
    gets exclusive offsets with one window over |ranges| rows, pass 2
    rejoins the offsets (broadcast) and computes the within-range
    running sum under a window PARTITIONED by range. The naive form —
    one un-partitioned window over the corpus — is the single-reducer
    scale killer this key exists to avoid (same discipline as
    ``docs_vocab_build``'s bounded-window rule); the oracle runs that
    naive form, proving the two-pass decomposition is value-identical.

    Exactness: byte counts and running sums are exact integers; shard
    assignment is one integer floor division.

    Scale: pass 1 is a partial+final sum keyed by range; the offsets
    window runs over corpus_size/{PS_RANGE} rows (driver-safe,
    broadcastable); pass 2's window state is bounded by the range
    width. Shard stats are one more keyed aggregation."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_bytes")
    )
    g = (F.col("doc_id") / PS_RANGE).cast("long").alias("rng")
    ranged = d.select("doc_id", "n_bytes", g)
    totals = ranged.groupBy("rng").agg(
        F.sum("n_bytes").alias("range_bytes")
    )
    w_off = (
        Window.orderBy("rng")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        "rng",
        (F.sum("range_bytes").over(w_off) - F.col("range_bytes")).alias(
            "offset"
        ),
    )
    w_loc = (
        Window.partitionBy("rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ranged.join(F.broadcast(offsets), "rng").select(
        "doc_id",
        "n_bytes",
        (
            F.col("offset")
            + F.sum("n_bytes").over(w_loc)
            - F.col("n_bytes")
        ).alias("start"),
    )
    return (
        cum.select(
            "doc_id",
            "n_bytes",
            F.expr(f"start div {SHARD_BYTES}").cast("int").alias(
                "shard_id"
            ),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("n_bytes"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
    )
