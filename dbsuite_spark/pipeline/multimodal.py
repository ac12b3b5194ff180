"""Category L — multimodal column operators (SURVEY §2L:
``multimodal_join``, ``multimodal_quality_filter``).

Driver-mandated LLM-pipeline scope: unify text + vector modalities into one
row with typed nested columns, and quality-filter on cross-modal
predicates. The struct column is the Spark-native "multimodal record":
opaque payloads (image/audio bytes) would ride along as binary fields of
the same struct — see ``dbsuite_spark.pipeline.media`` once added.

Scale: doc⋈vec is a 1:1 key join (shuffles both sides by id once, or
broadcasts the smaller modality); the quality predicates are codegen
row-local math — filter cost is O(dim) per row, no extra pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.pipeline.vectors import COSINE, L2NORM, l2_norm
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

CHAR_LO, CHAR_HI = 150, 450
MAXABS_HI = 0.32


@query(
    "multimodal_join",
    oracle="""
SELECT d.doc_id, d.lang, e.label, d.n_chars,
       CAST(len(e.embedding) AS BIGINT) AS dim,
       CAST(e.embedding[1] AS DOUBLE) AS h3_1,
       CAST(e.embedding[2] AS DOUBLE) AS h3_2,
       CAST(e.embedding[3] AS DOUBLE) AS h3_3
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
    category="L",
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unify text + vector modalities: documents ⋈ embeddings on id into a
    struct column {text, lang, embedding, label}, then project typed fields
    back out (the oracle checks the flattened projection — struct layout
    itself is engine-internal)."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id).withColumn(
        "record",
        F.struct(
            F.col("text"), F.col("lang"), F.col("embedding"), F.col("label")
        ),
    )
    rec_emb = F.col("record.embedding")
    return joined.select(
        "doc_id",
        F.col("record.lang").alias("lang"),
        F.col("record.label").alias("label"),
        "n_chars",
        F.size(rec_emb).cast("bigint").alias("dim"),
        F.element_at(rec_emb, 1).cast("double").alias("h3_1"),
        F.element_at(rec_emb, 2).cast("double").alias("h3_2"),
        F.element_at(rec_emb, 3).cast("double").alias("h3_3"),
    )


@query(
    "multimodal_quality_filter",
    oracle=f"""
SELECT d.doc_id, d.lang, d.n_chars,
       {L2NORM('e.embedding')} AS l2_norm,
       list_max(list_transform(e.embedding, x -> abs(CAST(x AS DOUBLE))))
           AS max_abs
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.n_chars BETWEEN {CHAR_LO} AND {CHAR_HI}
  AND list_max(list_transform(e.embedding, x -> abs(CAST(x AS DOUBLE))))
      <= {MAXABS_HI}
  AND {L2NORM('e.embedding')} BETWEEN 0.999 AND 1.001
""",
    category="L",
)
def multimodal_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal quality gate: text length bounds AND embedding sanity
    (unit norm within tolerance, no dominant component). max/abs/sqrt on
    identical doubles → bit-identical filter decisions on both engines."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    max_abs = F.array_max(
        F.transform(emb, lambda x: F.abs(x.cast("double")))
    )
    norm = l2_norm(emb)
    return (
        d.join(e, d.doc_id == e.vec_id)
        .withColumn("l2_norm", norm)
        .withColumn("max_abs", max_abs)
        .filter(
            F.col("n_chars").between(CHAR_LO, CHAR_HI)
            & (F.col("max_abs") <= MAXABS_HI)
            & F.col("l2_norm").between(0.999, 1.001)
        )
        .select("doc_id", "lang", "n_chars", "l2_norm", "max_abs")
    )


# --- contrastive pair construction (round 9) ------------------------------

NEG_K = 2  # hash-sampled negatives per anchor
NEG_BUCKETS = 16  # candidate buckets for negative sampling

_CONTRASTIVE_ORACLE = f"""
WITH anchors AS (
  SELECT d.doc_id, e.embedding AS a_emb
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
pos AS (
  SELECT doc_id, doc_id AS vec_id, CAST(0 AS INT) AS neg_slot,
         CAST(1 AS INT) AS label
  FROM anchors),
cand AS (
  SELECT vec_id, CAST(vec_id % {NEG_BUCKETS} AS INT) AS bucket
  FROM embeddings),
neg AS (
  SELECT doc_id, vec_id, neg_slot, CAST(0 AS INT) AS label FROM (
    SELECT a.doc_id, c.vec_id, k.neg_slot,
           row_number() OVER (
             PARTITION BY a.doc_id, k.neg_slot
             ORDER BY md5(CAST(a.doc_id AS VARCHAR) || ':'
                          || k.neg_slot || ':'
                          || CAST(c.vec_id AS VARCHAR)), c.vec_id)
             AS rn
    FROM anchors a
    CROSS JOIN (SELECT unnest(generate_series(1, {NEG_K})) AS neg_slot) k
    JOIN cand c
      ON c.bucket = CAST(
           {MD5_BIGINT("CAST(a.doc_id AS VARCHAR) || ':' || k.neg_slot")}
             % {NEG_BUCKETS} AS INT)
     AND c.vec_id <> a.doc_id)
  WHERE rn = 1),
pairs AS (SELECT * FROM pos UNION ALL SELECT * FROM neg)
SELECT p.doc_id, p.vec_id, p.neg_slot, p.label,
       {COSINE('a.a_emb', 'e.embedding')} AS cos_sim
FROM pairs p
JOIN anchors a ON a.doc_id = p.doc_id
JOIN embeddings e ON e.vec_id = p.vec_id
"""


@query(
    "multimodal_contrastive_pairs",
    oracle=_CONTRASTIVE_ORACLE,
    category="L",
)
def multimodal_contrastive_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLIP-style CONTRASTIVE PAIR construction over the text↔embedding
    modalities: each document with an embedding anchors one POSITIVE
    pair (its own vector, label 1) and {NEG_K} hash-sampled NEGATIVES
    (label 0) — the (anchor, candidate, label) table a contrastive
    trainer consumes, with the anchor↔candidate cosine attached so
    hard-negative mining can threshold it downstream.

    Negative sampling is deterministic AND bucket-scoped: slot k of
    anchor d draws only from embedding bucket md5(d:k) % {NEG_BUCKETS}
    (candidates = corpus/{NEG_BUCKETS} per draw, not the corpus), and
    picks the bucket member with the smallest md5(d:k:vec) — the
    ``docs_train_test_split`` hash-decision discipline applied to
    sampling, so pairs are reproducible on any engine and partitioning
    and never collapse onto the anchor itself.

    Exactness: bucket routing and winner selection are integer/string
    hash comparisons with a vec_id tie-break; the cosine is the shared
    bit-identical fold (``pipeline.vectors``).

    Scale: the negative join is anchor×bucket-sized (corpus × {NEG_K}
    / {NEG_BUCKETS} candidate rows before the per-slot argmin — a
    keyed window with a WindowGroupLimit pushdown, never all-pairs);
    positives are one equi-join. Cosine attaches via two id-equi joins
    against the embedding table."""
    from pyspark.sql.window import Window

    from dbsuite_spark.pipeline.vectors import cosine
    from dbsuite_spark.tables import memo_cache

    d = t(spark, sf_dir, "documents").select("doc_id")
    e = t(spark, sf_dir, "embeddings")
    # the anchor frame feeds positives, the slot fan-out, and the final
    # cosine join — cache it or each consumer re-runs the doc⋈emb join
    # (explain before: 8 parquet scans; after: 2)
    anchors = memo_cache(
        d.join(
            e.select(F.col("vec_id").alias("doc_id"),
                     F.col("embedding").alias("a_emb")),
            "doc_id",
        ),
        f"contrastive_anchors:{sf_dir}",
    )
    pos = anchors.select(
        "doc_id",
        F.col("doc_id").alias("vec_id"),
        F.lit(0).cast("int").alias("neg_slot"),
        F.lit(1).cast("int").alias("label"),
    )
    cand = e.select(
        "vec_id", (F.col("vec_id") % NEG_BUCKETS).cast("int").alias("bucket")
    )
    slots = anchors.select("doc_id").crossJoin(
        spark.range(1, NEG_K + 1).select(
            F.col("id").cast("int").alias("neg_slot")
        )
    )
    slot_bucket = slots.withColumn(
        "bucket",
        (
            md5_bigint(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("neg_slot").cast("string"),
                )
            )
            % NEG_BUCKETS
        ).cast("int"),
    )
    scored = (
        slot_bucket.join(cand, "bucket")
        .filter(F.col("vec_id") != F.col("doc_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id", "neg_slot").orderBy(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("neg_slot").cast("string"),
                            F.lit(":"),
                            F.col("vec_id").cast("string"),
                        )
                    ),
                    "vec_id",
                )
            ),
        )
    )
    neg = scored.filter(F.col("rn") == 1).select(
        "doc_id", "vec_id", "neg_slot", F.lit(0).cast("int").alias("label")
    )
    pairs = pos.unionAll(neg)
    return (
        pairs.join(
            anchors.select("doc_id", "a_emb"), "doc_id"
        )
        .join(
            e.select(F.col("vec_id"), F.col("embedding").alias("c_emb")),
            "vec_id",
        )
        .select(
            "doc_id",
            "vec_id",
            "neg_slot",
            "label",
            cosine(F.col("a_emb"), F.col("c_emb")).alias("cos_sim"),
        )
    )
