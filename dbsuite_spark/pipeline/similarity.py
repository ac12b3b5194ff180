"""Category L — embedding similarity search (SURVEY §2L:
``sim_search_cosine_topk``, ``sim_search_ann_lsh``, ``knn_classify_majority``).

Driver-mandated LLM-pipeline scope. All cosine math goes through
``pipeline.vectors`` — bit-identical folds on both engines, so rankings are
compared exactly with (cos_sim DESC, vec_id) deterministic tie-break and no
tolerance.

Scale design (100 TB):
- The exact path broadcasts the (small) query set against the corpus: one
  pass over the embeddings, per-partition top-k via window — no all-pairs
  shuffle. Crossover: fine while |queries| × dim fits in a broadcast;
  beyond that, switch to the LSH path.
- The LSH path (sign-random-projection, the cosine-appropriate family)
  buckets the corpus by hyperplane sign bits: candidates are only
  same-bucket rows across T tables, turning O(N·Q) into O(N + collisions).
  Hyperplanes are seeded constants → fully deterministic; recall vs the
  exact path is asserted in tests/test_pipeline.py.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.pipeline.vectors import (
    COSINE,
    DOT,
    L2NORM,
    QUERY_MOD,
    TOP_K,
    cosine,
    dot,
    l2_norm,
    map_with,
)
from dbsuite_spark.registry import query
from dbsuite_spark.tables import fan_out, memo_cache, t

_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         {COSINE('q.qe', 'e.embedding')} AS cos_sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.qid
)
SELECT qid, neighbor_id, cos_sim, CAST(rn AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM pairs) WHERE rn <= {TOP_K}
"""


def _cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, neighbor_id, cos_sim) for every query × corpus pair. The query
    side is broadcast; the corpus is scanned once. Norms are computed ONCE
    per vector on each side (not per pair) — same fold, same bits as
    folding inside the pair expression, but the per-pair work drops from
    three O(dim) folds to one."""
    e = t(spark, sf_dir, "embeddings")
    # Round-14: keyed fan_out — the per-pair cosine folds (|queries|
    # interpreted O(dim) folds per corpus row) fused into the one-task
    # embeddings scan; hash(neighbor_id) spreads them session-wide.
    corpus = fan_out(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ne"),
            l2_norm(F.col("embedding")).alias("nn"),
        ),
        key="neighbor_id",
    )
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    return (
        corpus.join(F.broadcast(q), F.col("neighbor_id") != F.col("qid"))
        .select(
            "qid",
            "neighbor_id",
            (
                dot(F.col("qe"), F.col("ne"))
                / (F.col("qn") * F.col("nn"))
            ).alias("cos_sim"),
        )
    )


def _topk(pairs: DataFrame, k: int = TOP_K) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@query("sim_search_cosine_topk", oracle=_TOPK_ORACLE, category="L")
def sim_search_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (brute-force baseline:
    broadcast queries × one corpus scan, window top-k per query)."""
    return _topk(_cosine_pairs(spark, sf_dir)).select(
        "qid", "neighbor_id", "cos_sim", "rank"
    )


def exact_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-k ``(qid, neighbor_id)`` every ANN evaluation scores
    against — the recall dashboards and ``sim_ivf_probe_sweep``. Each
    consumer aggregates it several times, so it is cached once per
    session and scale factor instead of re-running the corpus scan per
    consumer."""
    return memo_cache(
        sim_search_cosine_topk(spark, sf_dir).select("qid", "neighbor_id"),
        f"eval_exact_k:{sf_dir}:{TOP_K}:{QUERY_MOD}",
    )


@query(
    "knn_classify_majority",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.qid, e.vec_id AS neighbor_id, e.label,
         {COSINE('q.qe', 'e.embedding')} AS cos_sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.qid
),
topk AS (
  SELECT qid, label FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM pairs) WHERE rn <= {TOP_K}
),
votes AS (SELECT qid, label, COUNT(*) AS n_votes
          FROM topk GROUP BY qid, label)
SELECT qid, label AS predicted_label, CAST(n_votes AS BIGINT) AS n_votes
FROM (SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY n_votes DESC, label) AS rv
      FROM votes) WHERE rv = 1
""",
    category="L",
)
def knn_classify_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification: majority label of the 5 nearest neighbors,
    ties broken by the smaller label (deterministic on both engines)."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    topk = _topk(_cosine_pairs(spark, sf_dir)).join(
        e.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    votes = topk.groupBy("qid", "label").agg(
        F.count("*").alias("n_votes")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("rv", F.row_number().over(w))
        .filter(F.col("rv") == 1)
        .select("qid", F.col("label").alias("predicted_label"), "n_votes")
    )


# Sign-LSH geometry: P(bit collision) = 1 - θ/π. The fixture corpus is
# near-random (top-5 neighbor cosine ≈ 0.33-0.39 → θ ≈ 67° → p ≈ 0.63), so
# recall needs shallow tables: 4 bits × 8 tables → 1-(1-0.63⁴)⁸ ≈ 0.75.
# With a real high-similarity workload (near-dup search, cos ≥ 0.9) the
# same code runs 8-16 bits per table; bits scale with log(corpus) and
# target similarity, tables buy recall.
N_TABLES = 8  # LSH hash tables
N_BITS = 4  # hyperplanes (sign bits) per table
DIM = 64


def _hyperplanes() -> np.ndarray:
    """Deterministic random hyperplanes: (tables, bits, dim)."""
    rng = np.random.RandomState(42)
    return rng.standard_normal((N_TABLES, N_BITS, DIM))


def _lsh_oracle() -> str:
    """Full SQL oracle for the LSH key: the 2048 seeded hyperplane
    coefficients become a 32-row VALUES relation of literal vectors
    (``repr`` round-trips doubles exactly on both parsers); every
    projection is the same sequential fold as the Spark side, so buckets
    — and therefore the candidate set and the exact re-rank — match
    bit-for-bit."""
    planes = _hyperplanes()
    rows = ", ".join(
        f"({tc}, {b}, [{', '.join(repr(float(c)) for c in planes[tc, b])}])"
        for tc in range(N_TABLES)
        for b in range(N_BITS)
    )
    return f"""
WITH planes(tbl, bit, pvec) AS (VALUES {rows}),
bits AS (
  SELECT e.vec_id, p.tbl, p.bit,
         CASE WHEN {DOT("e.embedding", "p.pvec")} > 0
              THEN '1' ELSE '0' END AS b
  FROM embeddings e CROSS JOIN planes p),
buckets AS (
  SELECT vec_id, 't' || tbl || ':' || string_agg(b, '' ORDER BY bit)
           AS bucket
  FROM bits GROUP BY vec_id, tbl),
corpus AS (SELECT vec_id AS neighbor_id, bucket FROM buckets),
q AS (SELECT vec_id AS qid, bucket FROM buckets
      WHERE vec_id % {QUERY_MOD} = 0),
cand AS (
  SELECT DISTINCT q.qid, corpus.neighbor_id
  FROM corpus JOIN q USING (bucket)
  WHERE corpus.neighbor_id <> q.qid),
pairs AS (
  SELECT cand.qid, cand.neighbor_id,
         {COSINE("qe.embedding", "ne.embedding")} AS cos_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
SELECT qid, neighbor_id, cos_sim, CAST(rn AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM pairs) WHERE rn <= {TOP_K}
"""


@query("sim_search_ann_lsh", oracle=_lsh_oracle(), category="L")
def sim_search_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k neighbors via sign-random-projection LSH (the LSH
    family for cosine): 4 tables × 8 hyperplane sign bits bucket the
    corpus; candidates = same-bucket rows in any table; exact cosine +
    top-k on candidates only. Seeded hyperplanes → deterministic output
    with a FULL hash oracle (the hyperplanes are inlined as SQL literals
    and the projections fold in the same order on both engines); recall
    vs the exact key additionally asserted ≥0.6 in tests/test_pipeline.py.
    This is the path that replaces the broadcast brute force when the
    query set stops fitting memory."""
    planes = _hyperplanes()
    e = t(spark, sf_dir, "embeddings")

    def bucket(tbl: int, emb_col: str):
        bits = [
            F.when(
                dot(
                    F.col(emb_col),
                    F.array(
                        *[F.lit(float(planes[tbl, b, i])) for i in range(DIM)]
                    ),
                )
                > 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for b in range(N_BITS)
        ]
        return F.concat(F.lit(f"t{tbl}:"), *bits)

    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.explode(
            F.array(*[bucket(tc, "embedding") for tc in range(N_TABLES)])
        ).alias("bucket"),
    )
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.explode(
            F.array(*[bucket(tc, "embedding") for tc in range(N_TABLES)])
        ).alias("bucket"),
    )
    # Dedup multi-table collisions on the id PAIR only — shuffling the
    # embedding vectors through the distinct would move dim× more bytes
    # for no information. Vectors re-attach afterwards: corpus side by
    # join, bounded query side by broadcast.
    candidates = (
        corpus.select("neighbor_id", "bucket")
        .join(F.broadcast(q.select("qid", "bucket")), "bucket")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id")
        .distinct()
    )
    pairs = (
        candidates.join(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ne"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
                    F.col("vec_id").alias("qid"),
                    F.col("embedding").alias("qe"),
                )
            ),
            "qid",
        )
        .select(
            "qid",
            "neighbor_id",
            cosine(F.col("qe"), F.col("ne")).alias("cos_sim"),
        )
    )
    return _topk(pairs).select("qid", "neighbor_id", "cos_sim", "rank")



def _nearest_cells(
    df: DataFrame, cents: DataFrame, id_col: str, emb_col: str, n: int
) -> DataFrame:
    """Top-n cells per row by cosine against the broadcast centroid
    frame (cell tie-break) — the single IVF assignment kernel shared by
    every IVF key (build, probe sweep, filtered, append, delete); one
    copy so a tie-break or broadcast-hint fix can't drift between
    indexes (self-review finding, round 11)."""
    w = Window.partitionBy(id_col).orderBy(
        F.col("cell_sim").desc(), F.col("cell")
    )
    return (
        df.crossJoin(F.broadcast(cents))
        .withColumn("cell_sim", cosine(F.col(emb_col), F.col("ce")))
        .withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= n)
        .drop("ce", "cell_sim", "cell_rank")
    )


N_CELLS = 16  # IVF inverted-list count
N_PROBE = 4  # cells probed per query


def _ivf_cells_sql(filt: str, id_alias: str, n: int) -> str:
    return f"""(
  SELECT {id_alias}, cell FROM (
    SELECT e.vec_id AS {id_alias}, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {COSINE("e.embedding", "c.ce")} DESC, c.cell) AS rn
    FROM embeddings e CROSS JOIN cents c{filt}) WHERE rn <= {n})"""


def _ivf_oracle() -> str:
    """Full SQL oracle for the IVF key: same seed centroids (lowest-id
    vectors), same fold-cosine argmax assignment with cell tie-break,
    same nprobe expansion and exact re-rank — deterministic end to end."""
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS ce
  FROM embeddings ORDER BY vec_id LIMIT {N_CELLS}),
corpus_cells AS {_ivf_cells_sql("", "neighbor_id", 1)},
query_cells AS {_ivf_cells_sql(
    f" WHERE e.vec_id % {QUERY_MOD} = 0", "qid", N_PROBE)},
cand AS (
  SELECT DISTINCT q.qid, cc.neighbor_id
  FROM corpus_cells cc JOIN query_cells q USING (cell)
  WHERE cc.neighbor_id <> q.qid),
pairs AS (
  SELECT cand.qid, cand.neighbor_id,
         {COSINE("qe.embedding", "ne.embedding")} AS cos_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
SELECT qid, neighbor_id, cos_sim, CAST(rn AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM pairs) WHERE rn <= {TOP_K}
"""


@query("sim_search_ann_ivf", oracle=_ivf_oracle(), category="L")
def sim_search_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: 16 seed
    centroids (the lowest-id vectors — deterministic, no RNG), every
    vector assigned to its nearest centroid (one broadcast argmax pass),
    queries probe their 4 nearest cells and rank candidates exactly.
    Candidate volume ≈ nprobe/cells of the corpus (~25% here) — the
    classic recall/cost dial; ``ml_kmeans_fixed`` is the centroid
    refinement. Deterministic end to end → FULL hash oracle; recall vs
    the exact key additionally asserted in tests/test_pipeline.py."""
    pairs = _ivf_scored_pairs(spark, sf_dir, N_PROBE)
    return _topk(pairs).select("qid", "neighbor_id", "cos_sim", "rank")


def _ivf_scored_pairs(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    """Distinct IVF candidate pairs with their exact cosines at the
    given ``nprobe`` — the parametrized body shared by
    ``sim_search_ann_ivf`` (nprobe={N_PROBE}) and the tuning sweep."""
    e = t(spark, sf_dir, "embeddings")
    cents = (
        e.orderBy("vec_id")
        .limit(N_CELLS)
        .select(
            F.col("vec_id").alias("cell"), F.col("embedding").alias("ce")
        )
    )

    def nearest_cells(df: DataFrame, id_col: str, emb_col: str, n: int):
        """Top-n cells per row by cosine (broadcast centroid argmax)."""
        return _nearest_cells(df, cents, id_col, emb_col, n)

    corpus = nearest_cells(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ne"),
        ),
        "neighbor_id",
        "ne",
        1,
    )
    queries = nearest_cells(
        e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        ),
        "qid",
        "qe",
        nprobe,
    )
    return (
        corpus.join(F.broadcast(queries), "cell")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select(
            "qid",
            "neighbor_id",
            cosine(F.col("qe"), F.col("ne")).alias("cos_sim"),
        )
        .distinct()
    )


PROBE_SWEEP = (1, 2, 4)  # nprobe settings measured by the tuning sweep


def _ivf_probe_sweep_oracle() -> str:
    from dbsuite_spark.registry import spec as _spec

    exact_sql = _spec("sim_search_cosine_topk").oracle
    stages = [
        f"""cents AS (
  SELECT vec_id AS cell, embedding AS ce
  FROM embeddings ORDER BY vec_id LIMIT {N_CELLS}),
corpus_cells AS {_ivf_cells_sql("", "neighbor_id", 1)},
exact_k AS (SELECT qid, neighbor_id FROM ({exact_sql})),
nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries
       FROM exact_k)"""
    ]
    for p in PROBE_SWEEP:
        stages.append(f"""qc{p} AS {_ivf_cells_sql(
            f" WHERE e.vec_id % {QUERY_MOD} = 0", "qid", p)},
cand{p} AS (
  SELECT DISTINCT q.qid, cc.neighbor_id
  FROM corpus_cells cc JOIN qc{p} q USING (cell)
  WHERE cc.neighbor_id <> q.qid),
top{p} AS (
  SELECT qid, neighbor_id FROM (
    SELECT cand{p}.qid, cand{p}.neighbor_id,
           row_number() OVER (PARTITION BY cand{p}.qid
             ORDER BY {COSINE("qe.embedding", "ne.embedding")} DESC,
                      cand{p}.neighbor_id) AS rn
    FROM cand{p}
    JOIN embeddings qe ON qe.vec_id = cand{p}.qid
    JOIN embeddings ne ON ne.vec_id = cand{p}.neighbor_id)
  WHERE rn <= {TOP_K}),
row{p} AS (
  SELECT CAST({p} AS INT) AS nprobe, nq.n_queries,
         CAST((SELECT COUNT(*) FROM cand{p}) AS BIGINT) AS n_candidates,
         CAST((SELECT COUNT(*) FROM top{p} tp
               JOIN exact_k x ON tp.qid = x.qid
                AND tp.neighbor_id = x.neighbor_id) AS DOUBLE)
           / ({TOP_K} * nq.n_queries) AS mean_recall,
         CAST((SELECT COUNT(*) FROM cand{p}) AS DOUBLE) / nq.n_queries
           AS avg_candidates
  FROM nq)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM row{p}" for p in PROBE_SWEEP)
    return "WITH " + ",\n".join(stages) + "\n" + union


@query("sim_ivf_probe_sweep", oracle=_ivf_probe_sweep_oracle(), category="L")
def sim_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF nprobe TUNING CURVE the recall dashboards promise: mean
    recall@{TOP_K} and average candidate volume per query at nprobe ∈
    {PROBE_SWEEP} — the two axes of the classic recall/cost dial, so a
    deployment picks its operating point from measured numbers on its
    own corpus instead of folklore. Composes the parametrized IVF body
    (``_ivf_scored_pairs``) with the verified exact top-k truth.

    Exactness: recall is SUM(hits)/(k·|queries|) — one double division
    of exact integers; candidate volume likewise. No per-query floats
    survive to the output.

    Scale: each sweep point costs one corpus-assignment reuse + a
    candidates-sized exact re-rank (candidate volume ≈ nprobe/cells of
    the corpus — the dial itself); the eval joins are k-row-per-query
    frames. The corpus cell assignment is nprobe-independent and the
    exact truth is memoized across dashboards."""
    exact_k = exact_truth(spark, sf_dir)
    nq = exact_k.agg(
        F.countDistinct("qid").cast("bigint").alias("n_queries")
    )
    rows = []
    for p in PROBE_SWEEP:
        cand = _ivf_scored_pairs(spark, sf_dir, p)
        topk = _topk(cand).select("qid", "neighbor_id")
        ncand = cand.agg(
            F.count("*").cast("bigint").alias("n_candidates")
        )
        hits = topk.join(exact_k, ["qid", "neighbor_id"]).agg(
            F.count("*").cast("bigint").alias("n_hits")
        )
        rows.append(
            nq.crossJoin(F.broadcast(ncand))
            .crossJoin(F.broadcast(hits))
            .select(
                F.lit(p).cast("int").alias("nprobe"),
                "n_queries",
                "n_candidates",
                (
                    F.col("n_hits").cast("double")
                    / (F.lit(TOP_K) * F.col("n_queries"))
                ).alias("mean_recall"),
                (
                    F.col("n_candidates").cast("double")
                    / F.col("n_queries")
                ).alias("avg_candidates"),
            )
        )
    out = rows[0]
    for frame in rows[1:]:
        out = out.unionAll(frame)
    return out


RADIUS = 0.25

_RANGE_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id % {QUERY_MOD} = 0)
SELECT q.qid, e.vec_id AS neighbor_id,
       {COSINE('q.qe', 'e.embedding')} AS cos_sim
FROM q, embeddings e
WHERE e.vec_id <> q.qid
  AND {COSINE('q.qe', 'e.embedding')} >= {RADIUS}
"""


@query("sim_search_range", oracle=_RANGE_ORACLE, category="L")
def sim_search_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: every corpus vector within cosine
    ≥ 0.25 of each query vector — the retrieval-filter complement of
    top-k. Same broadcast-queries/one-corpus-scan shape as the exact top-k
    path (no all-pairs shuffle); the threshold predicate prunes before any
    window work, so output size — not candidate generation — bounds cost.
    Cosine goes through the shared deterministic fold (pipeline.vectors),
    so the >= comparison agrees bit-for-bit with the DuckDB oracle."""
    return _cosine_pairs(spark, sf_dir).filter(
        F.col("cos_sim") >= RADIUS
    )


QUANT_SCALE = 100.0  # int8-range quantization of unit-normalized values

_QUANT_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding, {L2NORM('embedding')} AS nrm FROM embeddings
),
qz AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) / nrm * {QUANT_SCALE} + 0.5)
                  AS BIGINT)) AS qv
  FROM base
),
q AS (SELECT vec_id AS qid, qv AS qq FROM qz
      WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.qid, c.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, len(q.qq)),
             i -> q.qq[i] * c.qv[i]), (x, y) -> x + y) AS qdot
  FROM q, qz c WHERE c.vec_id <> q.qid
)
SELECT qid, neighbor_id, qdot, CAST(rn AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY qdot DESC, neighbor_id) AS rn
  FROM pairs) WHERE rn <= {TOP_K}
"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv): embeddings unit-normalized then scalar-quantized to
    small ints (floor(x/‖v‖·100 + 0.5) — int8 range). One O(dim) norm fold
    per vector (handed to the element lambda by ``map_with``), then a
    row-local transform; downstream dot products are pure integer
    arithmetic → exact, engine-identical, and 4× smaller to shuffle/cache
    than float32 at 100 TB."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        map_with(
            F.col("embedding"),
            l2_norm(F.col("embedding")),
            lambda x, nrm: F.floor(
                x.cast("double") / nrm * F.lit(QUANT_SCALE) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("qv"),
    )


@query("sim_embed_quantize", oracle=_QUANT_ORACLE, category="L")
def sim_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbor search in int8-quantized space: the memory/shuffle
    layout used before exact re-ranking at scale. Quantized dot products
    are exact integers (no float-order hazard), ranked per query with a
    deterministic tie-break; recall vs the exact float path is asserted
    in tests/test_pipeline.py. Same broadcast-queries/one-corpus-scan
    shape as the exact path."""
    qz = _quantized(spark, sf_dir)
    q = qz.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qq")
    )
    # fan_out the corpus side: the ADC fold (64 multiplies/row/query)
    # is the CPU; identity when the corpus scan is already wide.
    # Round-14: keyed on vec_id — skips the keyless repartition's local
    # sort-before-repartition of the 64-wide array rows (guide §2.5);
    # the fold + window are key-local, order-independent.
    pairs = fan_out(qz, key="vec_id").alias("c").join(
        F.broadcast(q), F.col("c.vec_id") != F.col("qid")
    ).select(
        "qid",
        F.col("c.vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(F.col("qq"), F.col("c.qv"), lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("qdot"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "neighbor_id", "qdot", "rank")
    )


# --- hard-negative mining (round 5) ------------------------------------

HARDNEG_K = 3

_HARDNEG_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
           FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.qid, q.qlabel, e.vec_id AS neighbor_id, e.label AS nlabel,
         {COSINE('q.qe', 'e.embedding')} AS cos_sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.qid AND e.label <> q.qlabel
)
SELECT qid, qlabel, neighbor_id, nlabel, cos_sim, CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM pairs) WHERE rn <= {HARDNEG_K}
"""


@query("sim_hard_negatives", oracle=_HARDNEG_ORACLE, category="L")
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each query vector, the top-3 most
    similar corpus vectors carrying a DIFFERENT label — the contrastive-
    training staple (easy negatives teach nothing; the highest-similarity
    wrong-label examples are the gradient-rich ones).

    Scale: identical cost envelope to the exact top-k (broadcast query
    side × one corpus scan with per-side norms); the label filter prunes
    before ranking. The same mining runs against the ANN paths at 100 TB
    — exact here because this key is also the truth set for evaluating
    that swap. Cosines are ordered-fold exact (pipeline/vectors.py), so
    ranks are bit-deterministic."""
    e = t(spark, sf_dir, "embeddings")
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nn"),
    )
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    pairs = (
        corpus.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("qid"))
            & (F.col("nlabel") != F.col("qlabel")),
        )
        .select(
            "qid",
            "qlabel",
            "neighbor_id",
            "nlabel",
            (
                dot(F.col("qe"), F.col("ne"))
                / (F.col("qn") * F.col("nn"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HARDNEG_K)
        .select("qid", "qlabel", "neighbor_id", "nlabel", "cos_sim", "rank")
    )


# --- cell-scoped mutual k-NN graph (round 7) ----------------------------

KNN_GRAPH_K = 5


def _knn_graph_oracle() -> str:
    from dbsuite_spark.pipeline.dedup_extra import _SEM_ASSIGN_CTE

    return f"""
WITH {_SEM_ASSIGN_CTE},
p AS (
  SELECT aa.cell, a.vec_id AS src, b.vec_id AS dst,
         {COSINE('a.embedding', 'b.embedding')} AS cos_sim
  FROM embeddings a
  JOIN assign aa ON aa.vec_id = a.vec_id
  JOIN assign ab ON ab.cell = aa.cell
  JOIN embeddings b ON b.vec_id = ab.vec_id AND b.vec_id <> a.vec_id),
topk AS (
  SELECT cell, src, dst, cos_sim, CAST(rn AS INT) AS rn FROM (
    SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn
    FROM p) WHERE rn <= {KNN_GRAPH_K})
SELECT t1.cell, t1.src, t1.dst, t1.cos_sim,
       t1.rn AS rank_fwd, t2.rn AS rank_rev
FROM topk t1 JOIN topk t2 ON t1.src = t2.dst AND t1.dst = t2.src
WHERE t1.src < t1.dst
"""


def _knn_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DIRECTED within-cell top-{KNN_GRAPH_K} frame (cell, src, dst,
    cos_sim, rn) — the pre-mutualization substrate shared by
    ``sim_knn_graph`` and ``sim_search_graph_beam`` (extracted round 10;
    plan unchanged, same memo key)."""
    from dbsuite_spark.pipeline.dedup_extra import _sem_cells_assign

    # cached: the assignment argmax (one corpus scan x cells broadcast)
    # feeds BOTH sides of the within-cell self-join; without the cache
    # the plan recomputes it twice (verified via explain, round 7)
    assigned = memo_cache(
        _sem_cells_assign(spark, sf_dir), f"sem_cells_assign:{sf_dir}"
    )
    a = assigned.select(
        "cell", F.col("vec_id").alias("src"), F.col("embedding").alias("ea")
    )
    b = assigned.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
    )
    pairs = (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("src") != F.col("dst")))
        .select(
            "cell",
            "src",
            "dst",
            cosine(F.col("ea"), F.col("eb")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst")
    )
    return memo_cache(
        pairs.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= KNN_GRAPH_K),
        # consumed twice by the mutuality self-join, by the beam-search
        # edge table, and rebuilt by repeat invocations in one session
        f"knn_graph_topk:{sf_dir}:{KNN_GRAPH_K}",
    )


@query("sim_knn_graph", oracle=_knn_graph_oracle(), category="L")
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the embedding corpus — the substrate for
    graph-based curation (density-based pruning, label propagation,
    cluster discovery beyond threshold-CC). Cell-scoped like
    ``docs_semantic_dedup_ivf``: vectors are assigned to their nearest
    of max(16, ceil(√n)) seed centroids (the shared deterministic
    assignment of ``dedup_extra._sem_cells_assign``), each vector ranks
    its within-cell neighbors by the bit-identical fold cosine, and an
    edge survives only if MUTUAL — each endpoint in the other's
    within-cell top-{KNN_GRAPH_K} (undirected output, src < dst, with
    both directed ranks). Mutuality is the standard symmetrization that
    drops hub-induced asymmetric edges.

    Scale: one corpus shuffle by cell co-partitions the self-join; cell
    sizes are O(√n) so the per-cell quadratic term is bounded (the exact
    within-cell kNN is the same cluster-then-exact envelope as IVF
    search); the mutual join is top-k-row-count sized, shuffled on the
    (src, dst) pair key. No driver-side loop, no Python in the hot path
    — the cosine fold is JVM expression math (interpreted: see
    pipeline/vectors.py)."""
    topk = _knn_topk_frame(spark, sf_dir)
    t2 = topk.select(
        F.col("src").alias("dst2"),
        F.col("dst").alias("src2"),
        F.col("rn").alias("rank_rev"),
    )
    return (
        topk.join(
            t2,
            (F.col("src") == F.col("src2")) & (F.col("dst") == F.col("dst2")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            "cell",
            "src",
            "dst",
            "cos_sim",
            F.col("rn").alias("rank_fwd"),
            "rank_rev",
        )
    )


DENSITY_PRUNE_PCT = 0.8  # percent_rank cut: top 20% densest are flagged


def _knn_density_ctes() -> str:
    """The shared WITH-body producing the per-vector ``dens`` frame
    (cell assignment → within-cell kNN → density), consumed by both
    density-prune oracles below."""
    from dbsuite_spark.pipeline.dedup_extra import _SEM_ASSIGN_CTE

    return f"""{_SEM_ASSIGN_CTE},
p AS (
  SELECT aa.cell, a.vec_id AS src, b.vec_id AS dst,
         {COSINE('a.embedding', 'b.embedding')} AS cos_sim
  FROM embeddings a
  JOIN assign aa ON aa.vec_id = a.vec_id
  JOIN assign ab ON ab.cell = aa.cell
  JOIN embeddings b ON b.vec_id = ab.vec_id AND b.vec_id <> a.vec_id),
topk AS (
  SELECT cell, src, cos_sim FROM (
    SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn
    FROM p) WHERE rn <= {KNN_GRAPH_K}),
dens AS (
  SELECT src AS vec_id, CAST(MIN(cell) AS BIGINT) AS cell,
         CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(SUM(CAST(round(cos_sim, 6) AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(*) AS knn_density
  FROM topk GROUP BY src)"""


def _knn_density_oracle() -> str:
    return f"""
WITH {_knn_density_ctes()},
ranked AS (
  SELECT *, percent_rank() OVER (ORDER BY knn_density, vec_id) AS pr
  FROM dens)
SELECT vec_id, cell, k_used, knn_density, pr,
       pr >= {DENSITY_PRUNE_PCT} AS prune
FROM ranked
"""


@query("docs_knn_density_prune", oracle=_knn_density_oracle(), category="L")
def docs_knn_density_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based redundancy pruning over the embedding corpus
    (the self-supervised-prototypes metric of Sorscher et al. 2022,
    "Beyond neural scaling laws": a point's mean cosine to its k nearest
    neighbors estimates local density; the densest points are the most
    redundant and prune first). Density = mean of each vector's
    within-cell top-{KNN_GRAPH_K} fold cosines (the ``sim_knn_graph``
    substrate before mutualization), and the prune flag marks the
    densest 20% by global percent_rank with vec_id tie-break.

    Cross-engine exactness: per-node density sums 6dp-rounded cosines
    as DECIMAL (order-free) then divides once by the exact neighbor
    count; percent_rank is (rank-1)/(n-1) on integers — no float-order
    hazard anywhere.

    Scale: the cell-scoped kNN envelope (one corpus shuffle by cell,
    O(√n) cell sizes) reduces the corpus to ONE density row per vector;
    the global percent_rank then sorts n small rows — a doc-level
    stats sort, orders of magnitude under the corpus. At extreme n,
    swap the exact global rank for a sampled quantile threshold + a
    row-local filter — implemented as ``docs_knn_density_prune_sampled``
    below."""
    dens = _knn_density_frame(spark, sf_dir)
    wr = Window.orderBy("knn_density", "vec_id")
    return dens.select(
        "vec_id",
        "cell",
        "k_used",
        "knn_density",
        F.percent_rank().over(wr).alias("pr"),
    ).withColumn("prune", F.col("pr") >= DENSITY_PRUNE_PCT)


def _knn_density_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-vector kNN-density frame (vec_id, cell, k_used,
    knn_density) — the Spark mirror of :func:`_knn_density_ctes`,
    shared by both density-prune keys."""
    from dbsuite_spark.pipeline.dedup_extra import _sem_cells_assign

    # cached for the same both-sides-of-the-self-join reason as
    # sim_knn_graph (explain-verified, round 7)
    assigned = memo_cache(
        _sem_cells_assign(spark, sf_dir), f"sem_cells_assign:{sf_dir}"
    )
    a = assigned.select(
        "cell", F.col("vec_id").alias("src"), F.col("embedding").alias("ea")
    )
    b = assigned.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
    )
    pairs = a.join(
        b, (F.col("cell") == F.col("cell_b")) & (F.col("src") != F.col("dst"))
    ).select(
        "cell", "src", "dst", cosine(F.col("ea"), F.col("eb")).alias("cos_sim")
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst"))
    topk = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KNN_GRAPH_K
    )
    dens = topk.groupBy(F.col("src").alias("vec_id")).agg(
        F.min("cell").cast("long").alias("cell"),
        F.count("*").cast("long").alias("k_used"),
        (
            F.sum(F.round(F.col("cos_sim"), 6).cast("decimal(18,6)"))
            .cast("double")
            / F.count("*")
        ).alias("knn_density"),
    )
    # one slim row per vector, but its producer is the within-cell
    # quadratic self-join — cache so the sampled key's two consumers
    # (threshold estimate + flag pass) and any same-session sibling key
    # pay for it once
    return memo_cache(dens, f"knn_density:{sf_dir}:{KNN_GRAPH_K}")


DENSITY_SAMPLE_PCT = 50  # md5 hash-sample feeding the threshold estimate
DENSITY_PRUNE_TOP_FRAC = 0.2  # sample fraction above the cut rank


def _knn_density_sampled_oracle() -> str:
    return f"""
WITH {_knn_density_ctes()},
samp AS (
  SELECT knn_density, vec_id FROM dens
  WHERE {MD5_BIGINT("CAST(vec_id AS VARCHAR)")} % 100 < {DENSITY_SAMPLE_PCT}),
ns AS (SELECT COUNT(*) AS n_s FROM samp),
ranked AS (
  SELECT knn_density, vec_id, row_number() OVER (
      ORDER BY knn_density DESC, vec_id DESC) AS rn
  FROM samp),
thr AS (
  SELECT r.knn_density AS thr_density, r.vec_id AS thr_vec
  FROM ranked r, ns
  WHERE r.rn = CAST(CEIL({DENSITY_PRUNE_TOP_FRAC} * n_s) AS BIGINT))
SELECT d.vec_id, d.cell, d.k_used, d.knn_density,
       {MD5_BIGINT("CAST(d.vec_id AS VARCHAR)")} % 100 < {DENSITY_SAMPLE_PCT}
         AS in_sample,
       thr.thr_density,
       d.knn_density > thr.thr_density
           OR (d.knn_density = thr.thr_density
               AND d.vec_id >= thr.thr_vec) AS prune
FROM dens d, thr
"""


@query(
    "docs_knn_density_prune_sampled",
    oracle=_knn_density_sampled_oracle(),
    category="L",
)
def docs_knn_density_prune_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``docs_knn_density_prune``'s extreme-scale form (VERDICT r07
    ask #4): the prune cut comes from a SAMPLED quantile threshold plus
    a row-local filter instead of an exact global percent_rank, so no
    single-partition window ever sees the full vector population.

    Mechanics: a deterministic {DENSITY_SAMPLE_PCT}% md5 hash-sample of
    the density frame (an ``exact.md5_bigint`` draw) is ranked by
    (knn_density DESC, vec_id DESC); the sample row at rank
    ceil({DENSITY_PRUNE_TOP_FRAC}·n_sample) becomes the threshold
    (density, vec_id) pair, broadcast as one row; every density row —
    sampled or not — flags ``prune`` by the lexicographic row-local
    comparison against it. The boundary is sample-estimated (that is
    the documented trade), but every step is deterministic: md5 draw,
    integer rank, bit-identical densities, vec_id tie-breaks.

    Scale: the only global sort runs over the hash-sample, whose rate
    is tuned so the sample stays bounded (~1e6 rows at any corpus
    size); the threshold is a 1-row broadcast; the flag pass is a scan.
    Cross-engine exactness: densities are the decimal-exact folds of
    the base key; ceil(frac·n) is the same IEEE product both sides;
    the equality in the tie-break compares bit-identical doubles."""
    dens = _knn_density_frame(spark, sf_dir)
    in_sample = (
        md5_bigint(F.col("vec_id").cast("string")) % 100 < DENSITY_SAMPLE_PCT
    )
    samp = dens.filter(in_sample).select("knn_density", "vec_id")
    ns = samp.agg(F.count("*").alias("n_s"))
    wr = Window.orderBy(F.col("knn_density").desc(), F.col("vec_id").desc())
    ranked = samp.withColumn("rn", F.row_number().over(wr))
    thr = (
        ranked.crossJoin(F.broadcast(ns))
        .filter(
            F.col("rn")
            == F.ceil(F.lit(DENSITY_PRUNE_TOP_FRAC) * F.col("n_s"))
        )
        .select(
            F.col("knn_density").alias("thr_density"),
            F.col("vec_id").alias("thr_vec"),
        )
    )
    return (
        dens.crossJoin(F.broadcast(thr))
        .select(
            "vec_id",
            "cell",
            "k_used",
            "knn_density",
            in_sample.alias("in_sample"),
            "thr_density",
            (
                (F.col("knn_density") > F.col("thr_density"))
                | (
                    (F.col("knn_density") == F.col("thr_density"))
                    & (F.col("vec_id") >= F.col("thr_vec"))
                )
            ).alias("prune"),
        )
    )


SHORTLIST_K = 20  # coarse-stage candidates per query before exact re-rank


def _two_stage_oracle() -> str:
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {L2NORM('embedding')} AS nrm FROM embeddings),
qz AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) / nrm * {QUANT_SCALE} + 0.5)
                  AS BIGINT)) AS qv
  FROM base),
q AS (SELECT vec_id AS qid, qv AS qq FROM qz
      WHERE vec_id % {QUERY_MOD} = 0),
coarse AS (
  SELECT q.qid, c.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, len(q.qq)),
             i -> q.qq[i] * c.qv[i]), (x, y) -> x + y) AS qdot
  FROM q, qz c WHERE c.vec_id <> q.qid),
shortlist AS (
  SELECT qid, neighbor_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY qdot DESC, neighbor_id) AS rn
    FROM coarse) WHERE rn <= {SHORTLIST_K}),
exact AS (
  SELECT s.qid, s.neighbor_id,
         {COSINE('a.embedding', 'b.embedding')} AS cos_sim
  FROM shortlist s
  JOIN embeddings a ON a.vec_id = s.qid
  JOIN embeddings b ON b.vec_id = s.neighbor_id)
SELECT qid, neighbor_id, cos_sim, CAST(rn AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM exact) WHERE rn <= {TOP_K}
"""


@query("sim_search_two_stage", oracle=_two_stage_oracle(), category="L")
def sim_search_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving — the production retrieval pattern every
    vector store runs: a cheap COARSE pass over the int8-quantized
    corpus shortlists {SHORTLIST_K} candidates per query (exact integer
    dot products, 4× less data moved than float32), then the exact
    float cosine re-ranks only the shortlist down to top-{TOP_K}. The
    coarse stage eats the corpus scan; the exact stage touches
    shortlist-sized data only.

    Scale: stage 1 is the ``sim_embed_quantize`` envelope (broadcast
    bounded query side, one corpus scan, integer folds in the JVM);
    stage 2 joins a {SHORTLIST_K}·|queries|-row frame back to the
    corpus by id — a semi-join-sized probe, broadcastable at any corpus
    size. Recall vs the single-stage exact path is asserted in
    tests/test_pipeline.py; cross-engine exactness needs no rounding
    (integer stage-1 scores, fold-identical stage-2 cosines,
    deterministic id tie-breaks)."""
    qz = _quantized(spark, sf_dir)
    q = qz.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qq")
    )
    coarse = (
        # Round-14: keyed fan_out — same rationale as sim_embed_quantize.
        fan_out(qz, key="vec_id")
        .alias("c")
        .join(F.broadcast(q), F.col("c.vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("c.vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("qq"), F.col("c.qv"), lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("qdot"),
        )
    )
    wc = Window.partitionBy("qid").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    shortlist = (
        coarse.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= SHORTLIST_K)
        .select("qid", "neighbor_id")
    )
    e = t(spark, sf_dir, "embeddings")
    # the broadcast query-vector frame must be the BOUNDED query side,
    # not the full corpus projection — broadcasting unfiltered embeddings
    # here ships every corpus vector and dies at real corpus size even
    # though the join output is identical (ADVICE r07)
    qe = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv_f")
    )
    ne = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv_f")
    )
    # the SMALL side is the shortlist (SHORTLIST_K x |queries| rows, plus
    # the broadcast query vectors); broadcast IT into the corpus probe so
    # the plan at 100 TB is corpus-scan + broadcast hash probe — without
    # the hint the optimizer happily broadcasts the corpus at fixture
    # scale (explain-verified, round 7)
    exact = (
        ne.join(
            F.broadcast(shortlist.join(F.broadcast(qe), "qid")),
            "neighbor_id",
        )
        .select(
            "qid",
            "neighbor_id",
            cosine(F.col("qv_f"), F.col("nv_f")).alias("cos_sim"),
        )
    )
    we = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(we).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "neighbor_id", "cos_sim", "rank")
    )


KNN_RECALL_SRC_PCT = 20  # deterministic md5 draw of source nodes


def _knn_graph_recall_oracle() -> str:
    from dbsuite_spark.pipeline.dedup_extra import _SEM_ASSIGN_CTE

    return f"""
WITH {_SEM_ASSIGN_CTE},
srcs AS (
  SELECT vec_id FROM embeddings
  WHERE {MD5_BIGINT("CAST(vec_id AS VARCHAR)")} % 100 < {KNN_RECALL_SRC_PCT}),
gp AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {COSINE('a.embedding', 'b.embedding')} AS cos_sim
  FROM embeddings a
  JOIN srcs ON srcs.vec_id = a.vec_id
  JOIN embeddings b ON b.vec_id <> a.vec_id),
gtop AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn
    FROM gp) WHERE rn <= {KNN_GRAPH_K}),
cp AS (
  SELECT aa.cell, a.vec_id AS src, b.vec_id AS dst,
         {COSINE('a.embedding', 'b.embedding')} AS cos_sim
  FROM embeddings a
  JOIN srcs ON srcs.vec_id = a.vec_id
  JOIN assign aa ON aa.vec_id = a.vec_id
  JOIN assign ab ON ab.cell = aa.cell
  JOIN embeddings b ON b.vec_id = ab.vec_id AND b.vec_id <> a.vec_id),
ctop AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn
    FROM cp) WHERE rn <= {KNN_GRAPH_K}),
s AS (
  SELECT CAST((SELECT COUNT(*) FROM gtop) AS BIGINT) AS n_exact_edges,
         CAST((SELECT COUNT(*) FROM ctop JOIN gtop USING (src, dst))
              AS BIGINT) AS n_hit_edges)
SELECT n_exact_edges, n_hit_edges,
       CAST(n_hit_edges AS DOUBLE) / CAST(n_exact_edges AS DOUBLE)
         AS edge_recall
FROM s
"""


@query("sim_knn_graph_recall", oracle=_knn_graph_recall_oracle(), category="L")
def sim_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What cell-scoping trades away in the k-NN graph, measured — the
    honesty dashboard for ``sim_knn_graph`` (the same discipline as
    ``docs_semdedup_cell_recall``): the share of GLOBAL exact
    top-{KNN_GRAPH_K} directed edges that the within-cell graph
    recovers. Cross-cell nearest neighbors are out of the cell-scoped
    contract by design; this key keeps that design decision visible
    release-over-release (cells ↑ → cost ↓ but edge recall ↓).

    Scale: the truth side samples SOURCE nodes with the deterministic
    md5 draw ({KNN_RECALL_SRC_PCT}% — the ``dedup_minhash_recall_sampled``
    pattern, built in from the start because exact truth is n·|srcs|
    pairs): recall over a deterministic source sample is an unbiased,
    rerun-stable reading at any corpus size. The cell side is the
    production envelope. One two-counter reduce."""
    from dbsuite_spark.pipeline.dedup_extra import _sem_cells_assign

    e = t(spark, sf_dir, "embeddings")
    draw = (
        md5_bigint(F.col("vec_id").cast("string")) % 100 < KNN_RECALL_SRC_PCT
    )
    srcs = F.broadcast(e.filter(draw).select(F.col("vec_id").alias("src")))
    ga = e.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("ea")
    ).join(srcs, "src")
    gb = e.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("eb")
    )
    gp = ga.join(gb, F.col("src") != F.col("dst")).select(
        "src", "dst", cosine(F.col("ea"), F.col("eb")).alias("cos_sim")
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst"))
    gtop = (
        gp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_GRAPH_K)
        .select("src", "dst")
    )
    assigned = memo_cache(
        _sem_cells_assign(spark, sf_dir), f"sem_cells_assign:{sf_dir}"
    )
    ca = assigned.select(
        "cell", F.col("vec_id").alias("src"), F.col("embedding").alias("ea")
    ).join(srcs, "src")
    cb = assigned.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
    )
    cp = ca.join(
        cb, (F.col("cell") == F.col("cell_b")) & (F.col("src") != F.col("dst"))
    ).select("src", "dst", cosine(F.col("ea"), F.col("eb")).alias("cos_sim"))
    ctop = (
        cp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_GRAPH_K)
        .select("src", "dst")
    )
    n_exact = gtop.agg(F.count("*").cast("long").alias("n_exact_edges"))
    n_hit = ctop.join(gtop, ["src", "dst"]).agg(
        F.count("*").cast("long").alias("n_hit_edges")
    )
    return n_exact.crossJoin(F.broadcast(n_hit)).select(
        "n_exact_edges",
        "n_hit_edges",
        (
            F.col("n_hit_edges").cast("double")
            / F.col("n_exact_edges").cast("double")
        ).alias("edge_recall"),
    )


def _ivf_stats_oracle() -> str:
    from dbsuite_spark.pipeline.dedup_extra import _SEM_ASSIGN_CTE

    return f"""
WITH {_SEM_ASSIGN_CTE},
sizes AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM assign GROUP BY cell),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM sizes)
SELECT s.cell, s.n_vecs,
       CAST(s.n_vecs AS DOUBLE) / t.n_total AS share,
       CAST(s.n_vecs AS DOUBLE)
         / (CAST(t.n_total AS DOUBLE) / t.n_cells) AS load_factor,
       s.n_vecs > 2.0 * (CAST(t.n_total AS DOUBLE) / t.n_cells)
         AS overloaded
FROM sizes s, tot t
"""


@query("sim_ivf_build_stats", oracle=_ivf_stats_oracle(), category="L")
def sim_ivf_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-balance report for the IVF assignment every cell-scoped
    operator in this repo rides (`docs_semantic_dedup_ivf`,
    `sim_knn_graph`, `docs_knn_density_prune`, `sim_search_ann_ivf`'s
    family): per cell, its vector count, corpus share, load factor vs
    the ideal n/cells, and an overloaded flag at 2× ideal. Skewed cells
    are where cell-scoped quadratic work concentrates — at 100 TB an
    overloaded cell is the straggler task, and the fix (re-seed or
    split the cell) starts from exactly this table. The index-build
    observability twin of the recall dashboards.

    Scale: one groupBy(cell) over the assignment (map-side combined,
    O(√n) groups) + a broadcast of the 2-number total. All integer
    counts and single double divisions — engine-identical."""
    from dbsuite_spark.pipeline.dedup_extra import _sem_cells_assign

    sizes = (
        _sem_cells_assign(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_vecs"))
    )
    tot = sizes.agg(
        F.sum("n_vecs").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_cells"),
    )
    ideal = F.col("n_total").cast("double") / F.col("n_cells")
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.col("n_total")).alias("share"),
        (F.col("n_vecs").cast("double") / ideal).alias("load_factor"),
        (F.col("n_vecs") > 2.0 * ideal).alias("overloaded"),
    )


# --- graph-based ANN: beam search over the kNN graph (round 10) ----------

BEAM_BUCKETS = 16  # hash buckets whose representatives seed the search
BEAM_LONG = 2  # deterministic long-range edges per node (NSW shortcut)
BEAM_WIDTH = 8  # candidates kept per query per round
BEAM_ROUNDS = 3  # expansion rounds (graph diameter budget)
BEAM_OUT = 5  # final top-k emitted, scored against the exact truth


def _graph_beam_oracle() -> str:
    from dbsuite_spark.pipeline.dedup_extra import _SEM_ASSIGN_CTE

    rounds = []
    for r in range(1, BEAM_ROUNDS + 1):
        rounds.append(f"""
c{r} AS (
  SELECT DISTINCT qid, node FROM (
    SELECT qid, node FROM b{r - 1}
    UNION ALL
    SELECT b.qid, ed.dst AS node
    FROM b{r - 1} b JOIN edges ed ON ed.src = b.node)
  WHERE node <> qid),
s{r} AS (
  SELECT c.qid, c.node, {COSINE('e.embedding', 'q.qe')} AS cos_sim
  FROM c{r} c
  JOIN embeddings e ON e.vec_id = c.node
  JOIN q ON q.qid = c.qid),
b{r} AS MATERIALIZED (
  SELECT qid, node, cos_sim FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cos_sim DESC, node) AS rn
    FROM s{r}) WHERE rn <= {BEAM_WIDTH})""")
    return f"""
WITH {_SEM_ASSIGN_CTE},
p AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {COSINE('a.embedding', 'b.embedding')} AS cos_sim
  FROM embeddings a
  JOIN assign aa ON aa.vec_id = a.vec_id
  JOIN assign ab ON ab.cell = aa.cell
  JOIN embeddings b ON b.vec_id = ab.vec_id AND b.vec_id <> a.vec_id),
ktop AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
        PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn
    FROM p) WHERE rn <= {KNN_GRAPH_K}),
nodes AS (
  SELECT vec_id,
         {MD5_BIGINT("CAST(vec_id AS VARCHAR)")} % {BEAM_BUCKETS} AS bucket
  FROM embeddings),
reps AS MATERIALIZED (
  SELECT bucket, MIN(vec_id) AS rep FROM nodes GROUP BY bucket),
longe AS (
  SELECT n.vec_id AS src, r.rep AS dst
  FROM nodes n,
       (SELECT unnest(generate_series(1, {BEAM_LONG})) AS m) ms
  JOIN reps r
    ON r.bucket = {MD5_BIGINT(
        "CAST(n.vec_id AS VARCHAR) || ':' || CAST(ms.m AS VARCHAR)"
    )} % {BEAM_BUCKETS}),
edges AS MATERIALIZED (
  SELECT src, dst FROM ktop UNION ALL SELECT src, dst FROM longe),
q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0),
c0 AS (
  SELECT q.qid, r.rep AS node FROM q, reps r WHERE r.rep <> q.qid),
s0 AS (
  SELECT c.qid, c.node, {COSINE('e.embedding', 'q.qe')} AS cos_sim
  FROM c0 c
  JOIN embeddings e ON e.vec_id = c.node
  JOIN q ON q.qid = c.qid),
b0 AS MATERIALIZED (
  SELECT qid, node, cos_sim FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cos_sim DESC, node) AS rn
    FROM s0) WHERE rn <= {BEAM_WIDTH}),
{",".join(rounds)},
truth AS MATERIALIZED (
  SELECT qid, node FROM (
    SELECT q.qid, e.vec_id AS node, row_number() OVER (
        PARTITION BY q.qid
        ORDER BY {COSINE('e.embedding', 'q.qe')} DESC, e.vec_id) AS rn
    FROM q JOIN embeddings e ON e.vec_id <> q.qid)
  WHERE rn <= {BEAM_OUT})
SELECT f.qid, CAST(f.rn AS INT) AS rank, f.node AS neighbor_id,
       f.cos_sim, t.node IS NOT NULL AS hit
FROM (SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cos_sim DESC, node) AS rn
      FROM b{BEAM_ROUNDS}) f
LEFT JOIN truth t ON t.qid = f.qid AND t.node = f.node
WHERE f.rn <= {BEAM_OUT}
"""


@query("sim_search_graph_beam", oracle=_graph_beam_oracle(), category="L")
def sim_search_graph_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-BASED ANN — beam search over a navigable small-world graph
    (the HNSW/NSW/Vamana index family, public method), completing the
    index matrix next to LSH (``sim_search_ann_lsh``), IVF
    (``sim_search_ann_ivf``), and PQ (``sim_search_pq_adc``). The graph
    is the directed within-cell top-{KNN_GRAPH_K} of ``sim_knn_graph``
    (local edges) plus {BEAM_LONG} deterministic md5-routed long-range
    edges per node to hash-bucket representatives (the small-world
    shortcuts that let the walk cross cells). Search seeds at all
    {BEAM_BUCKETS} bucket representatives, then runs {BEAM_ROUNDS}
    rounds of expand-neighbors / keep-best-{BEAM_WIDTH}; since each
    round's candidate set contains the previous beam, beam quality is
    monotone. The final top-{BEAM_OUT} carries a per-row ``hit`` flag
    against the exact cosine truth — the recall honesty every ANN key
    in this package ships with.

    Exactness: cosines are the bit-identical fold (pipeline/vectors.py);
    every beam cut orders by (cos_sim DESC, node) — a total order, so
    the beam sets are identical on both engines; hash routing is md5
    integer arithmetic.

    Scale: the index build is the kNN-graph envelope (one corpus
    shuffle by cell, O(√n) cells) plus a row-local long-edge map; the
    SEARCH touches |Q| × {BEAM_WIDTH} × (deg) rows per round —
    independent of corpus size, the property that makes graph ANN the
    serving-tier choice. Each round is one hash join frontier→edges
    plus one join to fetch candidate vectors (co-partitioned on the
    node id); per-round lazy checkpoints stop the two-consumer plan
    doubling. The exact-truth join is |Q| × n and exists only as this
    key's recall audit — production serving omits it."""
    return _beam_final(spark, sf_dir, BEAM_ROUNDS)


def _beam_final(
    spark: SparkSession, sf_dir: str, rounds: int
) -> DataFrame:
    """Beam-search body with a parameterized round count — the key runs
    BEAM_ROUNDS; tests/test_round10_semantics runs rounds+1 to prove the
    beam's best cosine is monotone in the round budget."""
    e = t(spark, sf_dir, "embeddings")
    ktop = _knn_topk_frame(spark, sf_dir).select("src", "dst")
    bucket_of = md5_bigint(F.col("vec_id").cast("string")) % BEAM_BUCKETS
    nodes = e.select("vec_id", bucket_of.alias("bucket"))
    reps = nodes.groupBy("bucket").agg(F.min("vec_id").alias("rep"))
    longe = (
        nodes.select(
            "vec_id", F.explode(F.sequence(F.lit(1), F.lit(BEAM_LONG))).alias("m")
        )
        .select(
            F.col("vec_id").alias("src"),
            (
                md5_bigint(
                    F.concat(
                        F.col("vec_id").cast("string"),
                        F.lit(":"),
                        F.col("m").cast("string"),
                    )
                )
                % BEAM_BUCKETS
            ).alias("tbucket"),
        )
        .join(
            F.broadcast(reps.withColumnRenamed("bucket", "tbucket")),
            "tbucket",
        )
        .select("src", F.col("rep").alias("dst"))
    )
    edges = memo_cache(
        ktop.unionByName(longe),
        # consumed by every expansion round
        f"beam_edges:{sf_dir}:{KNN_GRAPH_K}:{BEAM_BUCKETS}:{BEAM_LONG}",
    )
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    emb = e.select(F.col("vec_id").alias("node"), F.col("embedding").alias("ne"))

    def _score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(emb, "node")
            .join(F.broadcast(q), "qid")
            .select(
                "qid",
                "node",
                cosine(F.col("ne"), F.col("qe")).alias("cos_sim"),
            )
        )

    def _cut(scored: DataFrame, k: int) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(
            F.col("cos_sim").desc(), F.col("node")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("qid", "node", "cos_sim")
        )

    c0 = q.select("qid").crossJoin(F.broadcast(reps.select("rep"))).filter(
        F.col("rep") != F.col("qid")
    ).select("qid", F.col("rep").alias("node"))
    # per-round lazy checkpoint: the next round references the beam
    # TWICE (carry-over union + frontier expansion) — without lineage
    # truncation the plan doubles per round (the MM/BF discipline)
    beam = _cut(_score(c0), BEAM_WIDTH).coalesce(1).localCheckpoint(
        eager=False
    )
    for _ in range(rounds):
        expanded = beam.join(
            edges, beam["node"] == edges["src"]
        ).select("qid", edges["dst"].alias("node"))
        cand = (
            beam.select("qid", "node")
            .unionByName(expanded)
            .filter(F.col("node") != F.col("qid"))
            .distinct()
        )
        beam = (
            _cut(_score(cand), BEAM_WIDTH)
            .coalesce(1)
            .localCheckpoint(eager=False)
        )
    wf = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("node")
    )
    final = (
        beam.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= BEAM_OUT)
    )
    truth = (
        emb.join(F.broadcast(q), F.col("node") != F.col("qid"))
        .select(
            "qid", "node", cosine(F.col("ne"), F.col("qe")).alias("tc")
        )
        .withColumn(
            "trn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("tc").desc(), F.col("node")
                )
            ),
        )
        .filter(F.col("trn") <= BEAM_OUT)
        .select("qid", F.col("node").alias("tnode"))
    )
    return final.join(
        truth,
        (final["qid"] == truth["qid"]) & (final["node"] == truth["tnode"]),
        "left",
    ).select(
        final["qid"],
        "rank",
        F.col("node").alias("neighbor_id"),
        "cos_sim",
        F.col("tnode").isNotNull().alias("hit"),
    )


# --- filtered ANN (round 10) ----------------------------------------------


def _filtered_ann_oracle() -> str:
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS ce
  FROM embeddings ORDER BY vec_id LIMIT {N_CELLS}),
corpus_cells AS {_ivf_cells_sql("", "neighbor_id", 1)},
query_cells AS {_ivf_cells_sql(
    f" WHERE e.vec_id % {QUERY_MOD} = 0", "qid", N_PROBE)},
cand AS (
  SELECT DISTINCT q.qid, ql.label AS qlabel, cc.neighbor_id
  FROM corpus_cells cc
  JOIN query_cells q USING (cell)
  JOIN embeddings ql ON ql.vec_id = q.qid
  JOIN embeddings nl ON nl.vec_id = cc.neighbor_id
                    AND nl.label = ql.label
  WHERE cc.neighbor_id <> q.qid),
approx AS (
  SELECT qid, qlabel, neighbor_id, cos_sim, CAST(rn AS INT) AS rank
  FROM (
    SELECT cand.qid, cand.qlabel, cand.neighbor_id,
           {COSINE("qe.embedding", "ne.embedding")} AS cos_sim,
           row_number() OVER (PARTITION BY cand.qid
               ORDER BY {COSINE("qe.embedding", "ne.embedding")} DESC,
                        cand.neighbor_id) AS rn
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.qid
    JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
  WHERE rn <= {TOP_K}),
truth AS (
  SELECT qid, neighbor_id FROM (
    SELECT q.vec_id AS qid, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
               ORDER BY {COSINE("e.embedding", "q.embedding")} DESC,
                        e.vec_id) AS rn
    FROM embeddings q
    JOIN embeddings e ON e.vec_id <> q.vec_id AND e.label = q.label
    WHERE q.vec_id % {QUERY_MOD} = 0)
  WHERE rn <= {TOP_K})
SELECT a.qid, a.qlabel, a.neighbor_id, a.cos_sim, a.rank,
       t.neighbor_id IS NOT NULL AS hit
FROM approx a
LEFT JOIN truth t ON t.qid = a.qid AND t.neighbor_id = a.neighbor_id
"""


@query("sim_search_filtered_ann", oracle=_filtered_ann_oracle(), category="L")
def sim_search_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — ANN under a metadata predicate (the
    filtered-DiskANN / vector-DB WHERE-clause problem, public method):
    each query retrieves its top-{TOP_K} among corpus vectors sharing
    its LABEL, probing {N_PROBE} IVF cells with the label predicate
    pushed INTO candidate generation (filter-then-rank, never
    rank-then-filter — post-filtering an unfiltered top-k silently
    under-fills when the filter is selective). Per-row ``hit`` flags
    against the exact filtered truth keep the recall honest, same as
    every ANN key here.

    Exactness: fold cosines, (cos DESC, id) total orders, integer
    label equality — hash-identical end to end.

    Scale: the IVF envelope (broadcast centroid argmax, one corpus
    shuffle by cell) with the label filter applied at the
    candidate join — candidate volume is nprobe/cells of ONE label
    class, so selective filters make the search cheaper, not
    recall-starved. The exact filtered truth is |Q| × |label class|
    and exists as this key's audit only."""
    e = t(spark, sf_dir, "embeddings")
    cents = (
        e.orderBy("vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("ce"))
    )

    def nearest_cells(df: DataFrame, id_col: str, emb_col: str, n: int):
        return _nearest_cells(df, cents, id_col, emb_col, n)

    corpus = nearest_cells(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
            F.col("embedding").alias("ne"),
        ),
        "neighbor_id",
        "ne",
        1,
    )
    queries = nearest_cells(
        e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("qe"),
        ),
        "qid",
        "qe",
        N_PROBE,
    )
    cand = (
        corpus.join(queries, "cell")
        .filter(
            (F.col("neighbor_id") != F.col("qid"))
            & (F.col("nlabel") == F.col("qlabel"))
        )
        .select("qid", "qlabel", "neighbor_id", "ne", "qe")
        .distinct()
    )
    approx = _topk(
        cand.select(
            "qid",
            "qlabel",
            "neighbor_id",
            cosine(F.col("qe"), F.col("ne")).alias("cos_sim"),
        )
    ).select("qid", "qlabel", "neighbor_id", "cos_sim", "rank")
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("tq"),
        F.col("label").alias("tlabel"),
        F.col("embedding").alias("tqe"),
    )
    truth = (
        e.select(
            F.col("vec_id").alias("tnid"),
            F.col("label").alias("tnlabel"),
            F.col("embedding").alias("tne"),
        )
        .join(
            F.broadcast(q),
            (F.col("tnid") != F.col("tq"))
            & (F.col("tnlabel") == F.col("tlabel")),
        )
        .select(
            "tq",
            "tnid",
            cosine(F.col("tne"), F.col("tqe")).alias("tc"),
        )
        .withColumn(
            "trn",
            F.row_number().over(
                Window.partitionBy("tq").orderBy(
                    F.col("tc").desc(), F.col("tnid")
                )
            ),
        )
        .filter(F.col("trn") <= TOP_K)
        .select("tq", "tnid")
    )
    return approx.join(
        truth,
        (approx["qid"] == truth["tq"])
        & (approx["neighbor_id"] == truth["tnid"]),
        "left",
    ).select(
        "qid",
        "qlabel",
        "neighbor_id",
        "cos_sim",
        "rank",
        F.col("tnid").isNotNull().alias("hit"),
    )


# --- IVF incremental maintenance (round 11) --------------------------------

IVF_APPEND_MOD = 7  # vec_id % 7 == 0 → the freshly-arriving batch (~14%)


def _ivf_append_state_sql(s: str, pred: str) -> str:
    """One index state (before/after the append) as CTE bodies — shared
    template so the two states are assembled, not hand-copied."""
    return f"""
corpus_{s} AS (
  SELECT vec_id AS nid, embedding AS ne FROM embeddings WHERE {pred}),
cc_{s} AS (
  SELECT nid, cell FROM (
    SELECT e.nid, c.cell,
           row_number() OVER (PARTITION BY e.nid
             ORDER BY {COSINE('e.ne', 'c.ce')} DESC, c.cell) AS rn
    FROM corpus_{s} e CROSS JOIN cents c) WHERE rn <= 1),
cand_{s} AS (
  SELECT DISTINCT q.qid, cc.nid
  FROM cc_{s} cc JOIN qc q USING (cell) WHERE cc.nid <> q.qid),
top_{s} AS (
  SELECT qid, nid FROM (
    SELECT cand.qid, cand.nid,
           row_number() OVER (PARTITION BY cand.qid
             ORDER BY {COSINE('qe.embedding', 'ne.embedding')} DESC,
                      cand.nid) AS rn
    FROM cand_{s} cand
    JOIN embeddings qe ON qe.vec_id = cand.qid
    JOIN embeddings ne ON ne.vec_id = cand.nid) WHERE rn <= {TOP_K}),
truth_{s} AS (
  SELECT qid, nid FROM (
    SELECT q.qid, e.nid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {COSINE('q.qe', 'e.ne')} DESC, e.nid) AS rn
    FROM q CROSS JOIN corpus_{s} e WHERE e.nid <> q.qid)
  WHERE rn <= {TOP_K}),
row_{s} AS (
  SELECT '{s}' AS state,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus_{s}) AS n_vectors,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{s}) AS n_candidates,
         CAST((SELECT COUNT(*) FROM cand_{s}) AS DOUBLE)
           / (SELECT COUNT(*) FROM q) AS avg_candidates,
         CAST((SELECT COUNT(*) FROM top_{s} tp JOIN truth_{s} tr
               ON tp.qid = tr.qid AND tp.nid = tr.nid) AS DOUBLE)
           / ({TOP_K} * (SELECT COUNT(*) FROM q)) AS mean_recall)"""


def _ivf_append_oracle() -> str:
    base_pred = f"vec_id % {IVF_APPEND_MOD} <> 0"
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS ce FROM embeddings
  WHERE {base_pred} ORDER BY vec_id LIMIT {N_CELLS}),
q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0 AND {base_pred}),
qc AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {COSINE('q.qe', 'c.ce')} DESC, c.cell) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= {N_PROBE}),
{_ivf_append_state_sql("before", base_pred)},
{_ivf_append_state_sql("after", "TRUE")}
SELECT * FROM row_before UNION ALL SELECT * FROM row_after
"""


@query("sim_search_ivf_append", oracle=_ivf_append_oracle(), category="L")
def sim_search_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX INCREMENTAL MAINTENANCE (VERDICT r10 stretch ask #8) —
    the index-freshness half of the vector-store story next to the
    build (``sim_search_ann_ivf``), tune (``sim_ivf_probe_sweep``), and
    observe (``sim_ivf_build_stats``) keys: a freshly-arriving batch
    (vec_id ≡ 0 mod {IVF_APPEND_MOD}, ~14% of the corpus) is appended
    into the EXISTING cells by assignment against the FROZEN base
    centroids — assign-only, no rebuild, no reassignment of the base
    corpus (law-tested) — which is exactly how production IVF serves
    writes between periodic re-trains (FAISS ``add`` after ``train``,
    public design).

    The before/after recall dashboard answers the freshness question:
    'before' searches the base-only index against base-only exact truth;
    'after' searches the appended index against FULL-corpus truth with
    the SAME frozen centroids and the same base query set — mean
    recall@{TOP_K} plus candidate volume per state show what staleness
    (centroids trained before the batch existed) costs, the number that
    decides when to trigger a re-train.

    Exactness: centroids are the lowest-id base vectors (no RNG), every
    cosine is the bit-identical fold of pipeline/vectors.py, ranks are
    (cos DESC, id)-tiebroken — FULL hash oracle across both states.

    Scale: the append is one broadcast-argmax pass over the NEW batch
    only (cost ∝ batch, not corpus — the point of incremental
    maintenance); search cost stays candidate-bounded (nprobe/cells of
    the corpus); the recall audit's brute-force truth is query-side
    bounded (|Q| broadcast × corpus scan), the standard sampled-truth
    pattern of the other recall dashboards."""
    e = t(spark, sf_dir, "embeddings")
    is_new = (F.col("vec_id") % IVF_APPEND_MOD) == 0
    base = e.filter(~is_new)
    cents = (
        base.orderBy("vec_id")
        .limit(N_CELLS)
        .select(
            F.col("vec_id").alias("cell"), F.col("embedding").alias("ce")
        )
    )
    q = base.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    def nearest(df: DataFrame, id_col: str, emb_col: str, n: int):
        return _nearest_cells(df, cents, id_col, emb_col, n)

    qc = nearest(q, "qid", "qe", N_PROBE)

    def state_frame(name: str, corpus: DataFrame) -> DataFrame:
        corpus_r = corpus.select(
            F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")
        )
        cc = nearest(corpus_r, "nid", "ne", 1)
        cand = (
            cc.join(F.broadcast(qc), "cell")
            .filter(F.col("nid") != F.col("qid"))
            .select(
                "qid",
                "nid",
                cosine(F.col("qe"), F.col("ne")).alias("cos_sim"),
            )
            .distinct()
        )
        wk = Window.partitionBy("qid").orderBy(
            F.col("cos_sim").desc(), F.col("nid")
        )
        top = (
            cand.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "nid")
        )
        truth = (
            corpus_r.join(F.broadcast(q), F.col("nid") != F.col("qid"))
            .select(
                "qid",
                "nid",
                cosine(F.col("qe"), F.col("ne")).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "nid")
        )
        matched = top.join(truth, ["qid", "nid"]).agg(
            F.count("*").cast("bigint").alias("matched")
        )
        n_vec = corpus.agg(F.count("*").cast("bigint").alias("n_vectors"))
        n_q = q.agg(F.count("*").cast("bigint").alias("n_queries"))
        n_cand = cand.agg(
            F.count("*").cast("bigint").alias("n_candidates")
        )
        return (
            n_vec.crossJoin(n_q)
            .crossJoin(n_cand)
            .crossJoin(matched)
            .select(
                F.lit(name).alias("state"),
                "n_vectors",
                "n_queries",
                "n_candidates",
                (
                    F.col("n_candidates").cast("double")
                    / F.col("n_queries")
                ).alias("avg_candidates"),
                (
                    F.col("matched").cast("double")
                    / (F.lit(TOP_K) * F.col("n_queries"))
                ).alias("mean_recall"),
            )
        )

    return state_frame("before", base).unionAll(state_frame("after", e))


# --- IVF tombstone delete (round 11) ----------------------------------------

IVF_DELETE_MOD = 9  # vec_id % 9 == 0 → the tombstoned (deleted) vectors


def _ivf_delete_state_sql(s: str, tomb: bool) -> str:
    """One search state (before/after the delete) — tombstones filter
    BOTH the candidate stream and the exact truth."""
    anti = (
        f" AND nid % {IVF_DELETE_MOD} <> 0" if tomb else ""
    )
    return f"""
cand_{s} AS (
  SELECT DISTINCT q.qid, cc.nid
  FROM cc cc JOIN qc q USING (cell)
  WHERE cc.nid <> q.qid{anti}),
top_{s} AS (
  SELECT qid, nid FROM (
    SELECT cand.qid, cand.nid,
           row_number() OVER (PARTITION BY cand.qid
             ORDER BY {COSINE('qe.embedding', 'ne.embedding')} DESC,
                      cand.nid) AS rn
    FROM cand_{s} cand
    JOIN embeddings qe ON qe.vec_id = cand.qid
    JOIN embeddings ne ON ne.vec_id = cand.nid) WHERE rn <= {TOP_K}),
truth_{s} AS (
  SELECT qid, nid FROM (
    SELECT q.qid, e.vec_id AS nid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {COSINE('q.qe', 'e.embedding')} DESC, e.vec_id)
             AS rn
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.qid{
        f" AND e.vec_id % {IVF_DELETE_MOD} <> 0" if tomb else ""})
  WHERE rn <= {TOP_K}),
row_{s} AS (
  SELECT '{s}' AS state,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings{
             f" WHERE vec_id % {IVF_DELETE_MOD} <> 0" if tomb else ""})
           AS n_vectors,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{s}) AS n_candidates,
         CAST((SELECT COUNT(*) FROM cand_{s}) AS DOUBLE)
           / (SELECT COUNT(*) FROM q) AS avg_candidates,
         CAST((SELECT COUNT(*) FROM top_{s} tp JOIN truth_{s} tr
               ON tp.qid = tr.qid AND tp.nid = tr.nid) AS DOUBLE)
           / ({TOP_K} * (SELECT COUNT(*) FROM q)) AS mean_recall)"""


def _ivf_delete_oracle() -> str:
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS ce FROM embeddings
  ORDER BY vec_id LIMIT {N_CELLS}),
q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0 AND vec_id % {IVF_DELETE_MOD} <> 0),
cc AS (
  SELECT nid, cell FROM (
    SELECT e.vec_id AS nid, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {COSINE('e.embedding', 'c.ce')} DESC, c.cell) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn <= 1),
qc AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {COSINE('q.qe', 'c.ce')} DESC, c.cell) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= {N_PROBE}),
{_ivf_delete_state_sql("before", False)},
{_ivf_delete_state_sql("after", True)}
SELECT * FROM row_before UNION ALL SELECT * FROM row_after
"""


@query("sim_search_ivf_delete", oracle=_ivf_delete_oracle(), category="L")
def sim_search_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF TOMBSTONE DELETE — the other half of index maintenance next
    to ``sim_search_ivf_append``: deleting vectors from a built index
    (right-to-be-forgotten, content takedowns) does NOT rebuild or
    reassign anything — a tombstone set (vec_id ≡ 0 mod
    {IVF_DELETE_MOD}, ~11%) is anti-joined out of the candidate stream
    at SEARCH time, exactly the deletion-vector idea of
    ``etl_manifest_deletion_vectors`` applied to a vector index (and
    exactly how FAISS ``remove_ids``-less deployments and vector DBs
    with soft deletes serve deletes between compactions, public
    design).

    'before' searches the intact index; 'after' applies the tombstones
    to BOTH the candidate stream and the exact truth (the truth a user
    observes post-delete) on the SAME surviving query set — the
    dashboard shows deletes cost candidates, and whether recall holds
    when ~11% of every cell is masked. No tombstoned id can ever be
    emitted (law-tested).

    Exactness: frozen lowest-id centroids, bit-identical cosine folds,
    (cos DESC, id) tie-breaks — full hash oracle across both states.

    Scale: the delete itself is O(|tombstones|) metadata; the search
    overhead is one broadcast anti-join on the candidate stream (cost ∝
    candidates, not corpus); compaction — physically dropping tombstoned
    vectors and re-assigning nothing — is the DV key's v3 story."""
    e = t(spark, sf_dir, "embeddings")
    tombs = e.filter(
        (F.col("vec_id") % IVF_DELETE_MOD) == 0
    ).select(F.col("vec_id").alias("dead_id"))
    cents = (
        e.orderBy("vec_id")
        .limit(N_CELLS)
        .select(
            F.col("vec_id").alias("cell"), F.col("embedding").alias("ce")
        )
    )
    q = e.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") % IVF_DELETE_MOD != 0)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))

    def nearest(df: DataFrame, id_col: str, emb_col: str, n: int):
        return _nearest_cells(df, cents, id_col, emb_col, n)

    corpus_r = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")
    )
    cc = nearest(corpus_r, "nid", "ne", 1)
    qc = nearest(q, "qid", "qe", N_PROBE)

    def state_frame(name: str, tomb: bool) -> DataFrame:
        cand = (
            cc.join(F.broadcast(qc), "cell")
            .filter(F.col("nid") != F.col("qid"))
        )
        live_corpus = corpus_r
        if tomb:
            cand = cand.join(
                F.broadcast(tombs),
                cand["nid"] == tombs["dead_id"],
                "left_anti",
            )
            live_corpus = corpus_r.join(
                F.broadcast(tombs),
                corpus_r["nid"] == tombs["dead_id"],
                "left_anti",
            )
        cand = cand.select(
            "qid",
            "nid",
            cosine(F.col("qe"), F.col("ne")).alias("cos_sim"),
        ).distinct()
        wk = Window.partitionBy("qid").orderBy(
            F.col("cos_sim").desc(), F.col("nid")
        )
        top = (
            cand.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "nid")
        )
        truth = (
            live_corpus.join(F.broadcast(q), F.col("nid") != F.col("qid"))
            .select(
                "qid",
                "nid",
                cosine(F.col("qe"), F.col("ne")).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "nid")
        )
        matched = top.join(truth, ["qid", "nid"]).agg(
            F.count("*").cast("bigint").alias("matched")
        )
        n_vec = live_corpus.agg(
            F.count("*").cast("bigint").alias("n_vectors")
        )
        n_q = q.agg(F.count("*").cast("bigint").alias("n_queries"))
        n_cand = cand.agg(
            F.count("*").cast("bigint").alias("n_candidates")
        )
        return (
            n_vec.crossJoin(n_q)
            .crossJoin(n_cand)
            .crossJoin(matched)
            .select(
                F.lit(name).alias("state"),
                "n_vectors",
                "n_queries",
                "n_candidates",
                (
                    F.col("n_candidates").cast("double")
                    / F.col("n_queries")
                ).alias("avg_candidates"),
                (
                    F.col("matched").cast("double")
                    / (F.lit(TOP_K) * F.col("n_queries"))
                ).alias("mean_recall"),
            )
        )

    return state_frame("before", False).unionAll(state_frame("after", True))
