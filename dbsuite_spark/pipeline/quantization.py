"""Product-quantization (PQ) approximate nearest-neighbor search —
the third ANN family alongside sign-LSH (``sim_search_ann_lsh``) and IVF
(``sim_search_ann_ivf``): Jégou, Douze & Schmid, "Product Quantization
for Nearest Neighbor Search" (TPAMI 2011).

The corpus is compressed to one code per subspace (here 8 subspaces × 8
dims, 16 centroids each → 8 small ints per vector instead of 64 floats);
queries score candidates by Asymmetric Distance Computation (ADC): the
sum over subspaces of the exact distance from the query's subvector to
the centroid the candidate's code names. At 100 TB the scan side touches
only the code table (≈8 bytes/vector), centroids ride along as a
broadcast, and scoring is row-local expression math — no shuffle of the
corpus, same plan family as the other ANN keys.

Determinism (full SQL hash oracle, unusual for PQ):
- the codebook is data-deterministic — the 16 lowest-id vectors, the
  seed convention of ``ml_kmeans_fixed``/``sim_search_ann_ivf`` (a Lloyd
  refinement would slot in from ``pipeline/clustering.py``);
- every distance is a sequential left-to-right double fold
  (pipeline/vectors.py discipline), ties in code assignment break on the
  centroid id and in the top-k on the neighbor id;
- the Spark side assigns codes with a ROW-LOCAL argmin fold (no shuffle);
  the oracle assigns them relationally (explode × rank). Both select by
  the same bit-identical distances, so the chosen codes — and therefore
  every ADC value — agree exactly. Intermediate shape is free; only the
  final projection is compared.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.pipeline.clustering import DIM as _DIM
from dbsuite_spark.pipeline.vectors import QUERY_MOD, TOP_K
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

N_SUB = 8  # subspaces
SUB_DIM = 8  # dims per subspace (N_SUB * SUB_DIM = DIM = 64)
N_CODES = 16  # centroids per subspace (codebook = vec_id < 16)

# (x - y)^2 written as an explicit product so both engines run the same
# IEEE ops (DuckDB's ^ routes through pow()).
_SQ = (
    "(CAST({x}[{s}*{sd} + i] AS DOUBLE) - CAST({c}[{s}*{sd} + i] AS DOUBLE))"
    " * "
    "(CAST({x}[{s}*{sd} + i] AS DOUBLE) - CAST({c}[{s}*{sd} + i] AS DOUBLE))"
)


def _subdist(x: str, c: str, s: str) -> str:
    """DuckDB: exact fold of the squared L2 distance on subspace ``s``."""
    sq = _SQ.format(x=x, c=c, s=s, sd=SUB_DIM)
    return (
        f"list_reduce(list_transform(generate_series(1, {SUB_DIM}), "
        f"i -> {sq}), (a, b) -> a + b)"
    )


_PQ_ORACLE = f"""
WITH cb AS (
  SELECT list(embedding ORDER BY vec_id) AS cbook
  FROM embeddings WHERE vec_id < {N_CODES}),
dists AS (
  SELECT e.vec_id, ss.s, cc.c,
         {_subdist('e.embedding', 'cbook[cc.c + 1]', 'ss.s')} AS d
  FROM embeddings e, cb,
       (SELECT unnest(generate_series(0, {N_SUB - 1})) AS s) ss,
       (SELECT unnest(generate_series(0, {N_CODES - 1})) AS c) cc),
codes AS (
  SELECT vec_id, list(c ORDER BY s) AS codes FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
    FROM dists) WHERE rn = 1
  GROUP BY vec_id),
adc AS (
  SELECT q.vec_id AS qid, x.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(0, {N_SUB - 1}),
             s -> {_subdist('q.embedding', 'cbook[x.codes[s + 1] + 1]', 's')}),
             (a, b) -> a + b) AS adc_dist
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % {QUERY_MOD} = 0) q,
       codes x, cb
  WHERE x.vec_id <> q.vec_id)
SELECT qid, neighbor_id, adc_dist, CAST(rn AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc) WHERE rn <= {TOP_K}
"""


def _spark_subdist(x: Column, cbook: Column, code: Column, s) -> Column:
    """Squared L2 distance between ``x``'s subspace ``s`` slice and
    centroid ``code``'s same slice — sequential fold, oracle-identical."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(SUB_DIM)),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            F.element_at(x, s * SUB_DIM + i).cast("double")
            - F.element_at(
                F.element_at(cbook, code + 1), s * SUB_DIM + i
            ).cast("double")
        )
        * (
            F.element_at(x, s * SUB_DIM + i).cast("double")
            - F.element_at(
                F.element_at(cbook, code + 1), s * SUB_DIM + i
            ).cast("double")
        ),
    )


def _codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: ``cbook`` = the {N_CODES} lowest-id embeddings, id order."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.filter(F.col("vec_id") < N_CODES)
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "embedding"))
            ).alias("pairs")
        )
        .select(F.transform("pairs", lambda p: p["embedding"]).alias("cbook"))
    )


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes array<int>): row-local argmin over the broadcast
    codebook — one corpus scan, no shuffle (the PQ *encode* step)."""
    e = t(spark, sf_dir, "embeddings")
    enc = e.crossJoin(F.broadcast(_codebook(spark, sf_dir)))

    def best_code(s):
        # argmin with lowest-code tie-break: array_position returns the
        # FIRST index holding the min, and the candidate list is in code
        # order — identical selection to the oracle's ORDER BY d, c.
        dists = F.transform(
            F.sequence(F.lit(0), F.lit(N_CODES - 1)),
            lambda c: _spark_subdist(
                F.col("embedding"), F.col("cbook"), c, s
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return enc.select(
        "vec_id",
        F.array(*[best_code(F.lit(s)) for s in range(N_SUB)]).alias("codes"),
    )


@query("sim_search_pq_adc", oracle=_PQ_ORACLE, category="L")
def sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-{TOP_K}: encode the corpus to 8 four-bit codes per
    vector (row-local argmin over a broadcast 16-entry-per-subspace
    codebook), then score query × corpus by the asymmetric distance sum
    and keep the k closest per query (ties on neighbor id). The final
    top-k shuffles only (qid, neighbor_id, adc_dist) candidate rows."""
    codes = pq_codes(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
        .crossJoin(F.broadcast(_codebook(spark, sf_dir)))
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(N_SUB - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + _spark_subdist(
            F.col("qe"),
            F.col("cbook"),
            F.element_at("codes", s + 1),
            s,
        ),
    )
    pairs = codes.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc_dist"),
    )
    w = Window.partitionBy("qid").orderBy("adc_dist", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "neighbor_id", "adc_dist", "rank")
    )


# --- per-dimension embedding whitening stats (round 10) -------------------

WHITEN_Z = 3.0  # |z| above this flags an outlier cell


_WHITEN_ORACLE = f"""
WITH cells AS (
  SELECT u.d AS dim, round(CAST(e.embedding[u.d] AS DOUBLE), 6) AS v
  FROM embeddings e,
       (SELECT unnest(generate_series(1, {_DIM})) AS d) u),
stats AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean,
         CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
           AS mean_sq
  FROM cells GROUP BY dim),
sd AS (
  SELECT dim, n, mean,
         sqrt(CASE WHEN mean_sq - mean * mean <= 0 THEN 0.0
                   ELSE mean_sq - mean * mean END) AS std
  FROM stats)
SELECT s.dim, s.n, round(s.mean, 6) AS mean, round(s.std, 6) AS std,
       CAST(COUNT(*) FILTER (
         WHERE s.std > 0 AND abs(c.v - s.mean) > {WHITEN_Z} * s.std)
         AS BIGINT) AS n_outliers,
       round(MAX(CASE WHEN s.std > 0
                      THEN abs(c.v - s.mean) / s.std ELSE 0.0 END), 6)
         AS max_abs_z
FROM sd s JOIN cells c ON c.dim = s.dim
GROUP BY s.dim, s.n, s.mean, s.std
"""


@query("ml_embedding_whitening", oracle=_WHITEN_ORACLE, category="L")
def ml_embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding WHITENING statistics — the
    mean-centering / variance-normalization pass retrieval pipelines
    apply before indexing ("all-but-the-top"-style post-processing,
    public method): per dimension the corpus mean and std, the
    outlier-cell count at |z| > {WHITEN_Z}, and the max |z| — the
    dashboard that catches dead dimensions (std ≈ 0), hot dimensions
    (heavy outlier mass), and mean shift that breaks cosine geometry.

    Exactness: each cell rounds to 6dp once (float32→double is exact;
    the round pins the decimal), sums are order-free DECIMAL — the
    6dp × 6dp square is exact in DECIMAL(28,12) — and every division /
    sqrt is a mirrored IEEE expression; outputs round at the edge.

    Scale: posexplode is row-local (dim-wise rows never shuffle as
    vectors); the stats aggregation is ONE map-side-combined shuffle of
    |corpus| × dim slim rows keyed by dim; the outlier pass re-joins
    the 64-row stats table broadcast. For 10⁹ vectors keep the same
    plan — the stats table stays |dim|-sized, and the z-pass fuses into
    the apply step that writes the whitened vectors."""
    e = t(spark, sf_dir, "embeddings")
    cells = e.select(
        F.posexplode(F.col("embedding")).alias("p", "raw")
    ).select(
        (F.col("p") + 1).alias("dim"),
        F.round(F.col("raw").cast("double"), 6).alias("v"),
    )
    stats = cells.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mean"),
        (
            F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)"))
            .cast("double")
            / F.count("*")
        ).alias("mean_sq"),
    )
    var = F.col("mean_sq") - F.col("mean") * F.col("mean")
    sd = stats.select(
        "dim",
        "n",
        "mean",
        F.sqrt(F.when(var <= 0, F.lit(0.0)).otherwise(var)).alias("std"),
    )
    z_ok = F.col("std") > 0
    absz = F.abs(F.col("v") - F.col("mean")) / F.col("std")
    return (
        cells.join(F.broadcast(sd), "dim")
        .groupBy("dim", "n", "mean", "std")
        .agg(
            F.count_if(z_ok & (F.abs(F.col("v") - F.col("mean"))
                               > WHITEN_Z * F.col("std")))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(
                F.max(F.when(z_ok, absz).otherwise(F.lit(0.0))), 6
            ).alias("max_abs_z"),
        )
        .select(
            "dim",
            "n",
            F.round(F.col("mean"), 6).alias("mean"),
            F.round(F.col("std"), 6).alias("std"),
            "n_outliers",
            "max_abs_z",
        )
    )
