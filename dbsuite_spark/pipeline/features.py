"""Derived-feature products: per-dimension feature standardization for
embedding corpora and item-item co-occurrence recommendation — the two
classic "second-order tables" a warehouse derives before ML training
(normalization statistics and a co-visitation graph).

Exactness: both keys follow the package's integer-units discipline.
Standardization moments are computed on ``floor(v · 2^20)`` BIGINT
quantities (exact, commutative sums; the 2^20 scale is a power of two so
the quantization product is an exact double op — see
``pipeline/clustering.py``), and the only float steps are one pinned
division chain and one IEEE ``sqrt`` (correctly rounded on both engines).
Co-occurrence scores are plain integer counts with tie-broken top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

FEAT_UNIT = float(1 << 20)  # 2^20: exact-double quantization scale

_Q = "CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT)"

_STANDARDIZE_ORACLE = f"""
WITH q AS (
  SELECT pos, {_Q} AS qv
  FROM embeddings, range(1, 65) t(pos)),
m AS (
  SELECT pos,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qv) AS BIGINT) AS s1,
         CAST(SUM(qv * qv) AS BIGINT) AS s2,
         CAST(MIN(qv) AS BIGINT) AS qmin,
         CAST(MAX(qv) AS BIGINT) AS qmax
  FROM q GROUP BY pos)
SELECT pos, n,
       CAST(s1 AS DOUBLE) / n / 1048576.0 AS mean,
       sqrt((CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            / 1048576.0 / 1048576.0) AS std,
       CAST(qmin AS DOUBLE) / 1048576.0 AS vmin,
       CAST(qmax AS DOUBLE) / 1048576.0 AS vmax
FROM m
"""


@query("ml_feature_standardize", oracle=_STANDARDIZE_ORACLE, category="L")
def ml_feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization statistics (n, mean, std, min, max)
    over the 64-dim embedding corpus — the fit step of a z-score scaler,
    the table every training pipeline derives before normalizing
    features. Moments are exact BIGINT sums of 2^20-quantized values
    (sum and sum-of-squares commute across any partitioning), the
    mean/variance come from one pinned division chain, and std is a
    single correctly-rounded IEEE sqrt — bit-identical across engines,
    no tolerance.

    Scale: one posexplode scan + one partial+final integer aggregation
    over 64 keys; output is 64 rows regardless of corpus size. int64
    headroom: q² ≤ 2^40, so sums stay exact to ~2^23 rows per dimension;
    beyond that, widen the sum to DECIMAL(38,0) (still exact and
    commutative) — noted rather than done because the int64→double final
    cast is the cross-engine-safe one (see ``exact.py``)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        F.posexplode("embedding").alias("p0", "valf")
    ).select(
        (F.col("p0") + 1).alias("pos"),
        F.floor(F.col("valf").cast("double") * F.lit(FEAT_UNIT))
        .cast("bigint")
        .alias("qv"),
    )
    m = q.groupBy("pos").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("qv").cast("bigint").alias("s1"),
        F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("s2"),
        F.min("qv").cast("bigint").alias("qmin"),
        F.max("qv").cast("bigint").alias("qmax"),
    )
    mean = F.col("s1").cast("double") / F.col("n") / F.lit(FEAT_UNIT)
    mean_q = F.col("s1").cast("double") / F.col("n")
    var = (
        (F.col("s2").cast("double") / F.col("n") - mean_q * mean_q)
        / F.lit(FEAT_UNIT)
        / F.lit(FEAT_UNIT)
    )
    return m.select(
        "pos",
        "n",
        mean.alias("mean"),
        F.sqrt(var).alias("std"),
        (F.col("qmin").cast("double") / F.lit(FEAT_UNIT)).alias("vmin"),
        (F.col("qmax").cast("double") / F.lit(FEAT_UNIT)).alias("vmax"),
    )


REC_TOPK = 5

_COPURCHASE_ORACLE = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
co AS (
  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS n_co
  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p
  GROUP BY x.p, y.p)
SELECT a, b, n_co, CAST(rn AS INT) AS rank FROM (
  SELECT a, b, n_co,
         ROW_NUMBER() OVER (PARTITION BY a
           ORDER BY n_co DESC, b) AS rn
  FROM co) WHERE rn <= {REC_TOPK}
"""


@query("rec_copurchase_topk", oracle=_COPURCHASE_ORACLE, category="L")
def rec_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-visitation recommender: for every part, the top-5
    parts most often appearing in the same order (market-basket
    "customers also bought"), ranked by exact co-occurrence count with
    ties broken on the item id — the classic neighborhood model built as
    a derived table. All-integer scoring, so results are bit-identical
    everywhere.

    Scale: the self-join fans out per order as lines² (bounded by order
    width, ~7 for TPC-H-shaped data) and feeds one partial+final integer
    count shuffle on the pair key; the top-k is one row_number window
    per item. Hot items skew the pair key — the standard mitigations are
    hub-capping (drop items above a frequency cap, as in the
    stop-shingle guard) or count-min pre-filtering; at fixture scale
    neither triggers."""
    op = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    x, y = op.alias("x"), op.alias("y")
    co = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.p") != F.col("y.p")))
        .groupBy(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .agg(F.count("*").cast("bigint").alias("n_co"))
    )
    w = Window.partitionBy("a").orderBy(F.col("n_co").desc(), F.col("b"))
    return (
        co.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= REC_TOPK)
        .select("a", "b", "n_co", F.col("rn").cast("int").alias("rank"))
    )


# --- closed-form least squares (round 5) -------------------------------

# Per-brand simple regression of line revenue on quantity via the normal
# equations, from decimal-exact raw sums. Same scalar-algebra discipline
# as agg_skew_kurtosis (operators/extras.py): the sums are exact and the
# slope/intercept formulas run from identical SQL expression text on
# both engines, so results are bit-identical with no tolerance.
_SLOPE = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
_INTERCEPT = f"((sy - {_SLOPE} * sx) / n)"

_LINREG_ORACLE = f"""
WITH s AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand)
SELECT p_brand, n,
       {_SLOPE} AS slope,
       {_INTERCEPT} AS intercept
FROM s
"""


@query("ml_linreg_normal_eq", oracle=_LINREG_ORACLE, category="L")
def ml_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand ordinary least squares (revenue ~ quantity) solved in
    closed form from the normal equations — the classic "regression
    inside the warehouse" pattern: one grouped aggregation produces the
    sufficient statistics (n, Σx, Σy, Σx², Σxy), the fit itself is
    per-group scalar algebra. At 100 TB this is a single partial+final
    aggregation over the fact table with the part dim broadcast; no
    iteration, no driver-side math.

    Exactness: x is integral (quantity ≤ 50) and y is 2dp, so x², x·y
    are ≤4dp — decimal-exact sums; per-brand Σxy at sf0.1 is ~1e11,
    inside DECIMAL(18,6)'s 1e12 integral headroom (grouped keys scale
    with group count, not corpus size; regroup or widen digits past
    sf~1). The slope/intercept algebra evaluates the same expression
    text on both engines."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    s = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(x.cast("decimal(18,6)")).cast("double").alias("sx"),
            F.sum(y.cast("decimal(18,6)")).cast("double").alias("sy"),
            F.sum((x * x).cast("decimal(18,6)")).cast("double").alias("sxx"),
            F.sum((x * y).cast("decimal(18,6)")).cast("double").alias("sxy"),
        )
    )
    return s.selectExpr(
        "p_brand", "n", f"{_SLOPE} AS slope", f"{_INTERCEPT} AS intercept"
    )


# --- hashing-trick features (round 5) ----------------------------------

HASH_DIM = 16  # feature-vector width (buckets)

# Engine-portable token hash: md5 hex prefix parsed as an integer (the
# package's cross-engine hash idiom, ``exact.md5_bigint``, but 8 digits
# wide: a separate hash) — xxhash64 exists only in Spark, so the hashing
# trick uses md5 on both.
_HB_SPARK = "CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT) % 16"
_HB_DUCK = "CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 16"


def _hash_feat_cols(bucket_expr: str) -> str:
    return ", ".join(
        f"CAST(SUM(CASE WHEN {bucket_expr} = {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS h{k}"
        for k in range(HASH_DIM)
    )


_HASH_FEAT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       {_hash_feat_cols(_HB_DUCK)}
FROM toks WHERE w <> '' GROUP BY doc_id
"""


@query("text_hash_features", oracle=_HASH_FEAT_ORACLE, category="L")
def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick"): each document's token
    counts fold into a fixed 16-bucket integer vector via a stable token
    hash — the unbounded-vocabulary-to-fixed-width step that lets
    downstream models train without a vocab build. Buckets flatten to
    scalar columns h0..h15 (driver-hash-safe), one row per doc.

    Scale: explode + one grouped conditional-sum pass — a single shuffle
    on doc_id; the vector width is a constant so the aggregation row is
    fixed-size no matter the corpus. Exactness: md5-derived buckets and
    integer counts are bit-identical across engines."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    return toks.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_tokens"),
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN {_HB_SPARK} = {k} THEN 1 ELSE 0 END)"
                f" AS BIGINT)"
            ).alias(f"h{k}")
            for k in range(HASH_DIM)
        ],
    )


# --- decision-split Gini scoring (round 5) -----------------------------

SPLIT_CANDIDATES = (10, 20, 30, 40)

# weighted Gini impurity of a (left, right) split on the returnflag
# label: all inputs are integer counts, every division evaluates from
# identical expression text → bit-identical doubles.
_GINI_SIDE = (
    "(1.0 - (CAST({p}_r AS DOUBLE) / {p}_n) * (CAST({p}_r AS DOUBLE) / {p}_n)"
    " - (CAST({p}_a AS DOUBLE) / {p}_n) * (CAST({p}_a AS DOUBLE) / {p}_n)"
    " - (CAST({p}_o AS DOUBLE) / {p}_n) * (CAST({p}_o AS DOUBLE) / {p}_n))"
)
_GINI_EXPR = (
    f"(CAST(l_n AS DOUBLE) / (l_n + r_n)) * {_GINI_SIDE.format(p='l')}"
    f" + (CAST(r_n AS DOUBLE) / (l_n + r_n)) * {_GINI_SIDE.format(p='r')}"
)


def _split_counts_sql(thr: int) -> str:
    return f"""
SELECT {thr} AS threshold,
       CAST(SUM(CASE WHEN l_quantity < {thr} THEN 1 ELSE 0 END) AS BIGINT) AS l_n,
       CAST(SUM(CASE WHEN l_quantity < {thr} AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS l_r,
       CAST(SUM(CASE WHEN l_quantity < {thr} AND l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS l_a,
       CAST(SUM(CASE WHEN l_quantity < {thr} AND l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS l_o,
       CAST(SUM(CASE WHEN l_quantity >= {thr} THEN 1 ELSE 0 END) AS BIGINT) AS r_n,
       CAST(SUM(CASE WHEN l_quantity >= {thr} AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r_r,
       CAST(SUM(CASE WHEN l_quantity >= {thr} AND l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS r_a,
       CAST(SUM(CASE WHEN l_quantity >= {thr} AND l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS r_o
FROM lineitem"""


_GINI_ORACLE = f"""
WITH counts AS ({" UNION ALL ".join(_split_counts_sql(t) for t in SPLIT_CANDIDATES)})
SELECT CAST(threshold AS INT) AS threshold, l_n, r_n,
       {_GINI_EXPR} AS weighted_gini
FROM counts
"""


@query("ml_split_gini_scores", oracle=_GINI_ORACLE, category="L")
def ml_split_gini_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split evaluation: weighted Gini impurity of the
    returnflag label for four candidate thresholds on quantity — the
    inner loop of distributed tree building (argmin over these rows is
    the chosen split), computed as ONE conditional-aggregation pass for
    ALL candidates (the histogram trick: never one scan per threshold).

    Exactness: per-side class counts are integers from a single
    aggregation; the impurity algebra evaluates identical expression
    text on both engines. Scale: one scan, constant-width reduce row,
    threshold count is the only multiplier."""
    li = t(spark, sf_dir, "lineitem")
    thr = F.explode(
        F.array(*[F.lit(x) for x in SPLIT_CANDIDATES])
    ).alias("threshold")
    exploded = li.select("l_quantity", "l_returnflag").select(
        thr, "l_quantity", "l_returnflag"
    )
    left = F.col("l_quantity") < F.col("threshold")

    def side(cond, flag, name):
        c = cond if flag is None else cond & (F.col("l_returnflag") == flag)
        return F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(name)

    counts = exploded.groupBy(
        F.col("threshold").cast("int").alias("threshold")
    ).agg(
        side(left, None, "l_n"),
        side(left, "R", "l_r"),
        side(left, "A", "l_a"),
        side(left, "N", "l_o"),
        side(~left, None, "r_n"),
        side(~left, "R", "r_r"),
        side(~left, "A", "r_a"),
        side(~left, "N", "r_o"),
    )
    return counts.selectExpr(
        "threshold", "l_n", "r_n", f"{_GINI_EXPR} AS weighted_gini"
    )


# --- association rules (round 5 cont.) ---------------------------------

ASSOC_MIN_CO = 2  # minimum co-occurrence (absolute support) for a rule

_ASSOC_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
pa AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p FROM op GROUP BY p),
co AS (
  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
  GROUP BY x.p, y.p
  HAVING COUNT(*) >= {ASSOC_MIN_CO})
SELECT co.a, co.b, co.n_ab, pa.n_p AS n_a, pb.n_p AS n_b,
       CAST(co.n_ab AS DOUBLE) / CAST(nn.n_orders AS DOUBLE) AS support,
       CAST(co.n_ab AS DOUBLE) / CAST(pa.n_p AS DOUBLE) AS conf_a_to_b,
       CAST(co.n_ab AS DOUBLE) / CAST(pb.n_p AS DOUBLE) AS conf_b_to_a,
       (CAST(co.n_ab AS DOUBLE) * CAST(nn.n_orders AS DOUBLE))
           / (CAST(pa.n_p AS DOUBLE) * CAST(pb.n_p AS DOUBLE)) AS lift
FROM co JOIN pa ON co.a = pa.p JOIN pa pb ON co.b = pb.p, nn
"""


@query("rec_assoc_rules", oracle=_ASSOC_ORACLE, category="L")
def rec_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts: support,
    directional confidence, and lift per unordered pair with absolute
    support ≥ 2 — the Apriori 2-itemset layer on the same basket
    substrate as ``rec_copurchase_topk`` (which ranks raw counts; this
    emits the normalized rule metrics a recommender thresholds on).

    All counts are integers; every metric is a mirrored division of
    double-cast counts. Scale: the pair fan-out is bounded by basket
    width; the min-support HAVING prunes before the dimension joins;
    item counts are dimension-sized → broadcast; the order count is a
    1-row broadcast."""
    op = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    nn = op.agg(F.countDistinct("o").alias("n_orders"))
    pa = op.groupBy("p").agg(F.count("*").alias("n_p"))
    x, y = op.alias("x"), op.alias("y")
    co = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p")))
        .groupBy(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= ASSOC_MIN_CO)
    )
    co_d = F.col("n_ab").cast("double")
    nn_d = F.col("n_orders").cast("double")
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    return (
        co.join(F.broadcast(pa.withColumnsRenamed({"p": "a", "n_p": "n_a"})), "a")
        .join(F.broadcast(pa.withColumnsRenamed({"p": "b", "n_p": "n_b"})), "b")
        .crossJoin(F.broadcast(nn))
        .select(
            "a", "b", "n_ab", "n_a", "n_b",
            (co_d / nn_d).alias("support"),
            (co_d / na_d).alias("conf_a_to_b"),
            (co_d / nb_d).alias("conf_b_to_a"),
            ((co_d * nn_d) / (na_d * nb_d)).alias("lift"),
        )
    )


# --- item-item Jaccard similarity -----------------------------------------

JACCARD_ITEM_MIN_CO = 2  # pairs must co-occur in >= 2 baskets
JACCARD_ITEM_TOPK = 3  # neighbors kept per item

_ITEM_JACCARD_ORACLE = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
deg AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_baskets FROM op GROUP BY p),
co AS (
  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS n_co
  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p
  GROUP BY x.p, y.p),
j AS (
  SELECT co.a, co.b, co.n_co, da.n_baskets AS n_a, db.n_baskets AS n_b,
         CAST(co.n_co AS DOUBLE)
           / (da.n_baskets + db.n_baskets - co.n_co) AS jaccard
  FROM co
  JOIN deg da ON da.p = co.a
  JOIN deg db ON db.p = co.b
  WHERE co.n_co >= {JACCARD_ITEM_MIN_CO})
SELECT a, b, n_co, n_a, n_b, jaccard, CAST(rn AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY a
      ORDER BY jaccard DESC, b) AS rn
  FROM j) WHERE rn <= {JACCARD_ITEM_TOPK}
"""


@query("rec_item_jaccard_topk", oracle=_ITEM_JACCARD_ORACLE, category="L")
def rec_item_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item JACCARD similarity top-{JACCARD_ITEM_TOPK} — the
    normalized companion to ``rec_copurchase_topk``'s raw co-counts:
    |baskets(a)∩baskets(b)| / |baskets(a)∪baskets(b)| discounts
    popular items that co-occur with everything, the standard
    neighborhood model for item-to-item recommendation (Linden et al.
    2003). Pairs below {JACCARD_ITEM_MIN_CO} co-baskets are pruned
    before the ratio (noise floor AND the scale guard).

    Exactness: intersection and basket counts are exact integers; the
    Jaccard is one double division mirrored term-for-term; ranking
    ties break on the neighbor id.

    Scale: the pair fan-out is per-order (bounded by basket width —
    the ``rec_copurchase_topk`` envelope); degrees join in dimension-
    sized; per-item ranking is a keyed window over pair-count rows.
    The min-co filter is what keeps the long tail of singleton pairs
    out of the shuffle."""
    op = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = op.groupBy("p").agg(
        F.count("*").cast("bigint").alias("n_baskets")
    )
    y = op.select(F.col("o").alias("o2"), F.col("p").alias("b"))
    co = (
        op.join(y, (F.col("o") == F.col("o2")) & (F.col("p") != F.col("b")))
        .groupBy(F.col("p").alias("a"), "b")
        .agg(F.count("*").cast("bigint").alias("n_co"))
        .filter(F.col("n_co") >= JACCARD_ITEM_MIN_CO)
    )
    j = (
        co.join(deg.select(F.col("p").alias("a"), F.col("n_baskets").alias("n_a")), "a")
        .join(deg.select(F.col("p").alias("b"), F.col("n_baskets").alias("n_b")), "b")
        .select(
            "a", "b", "n_co", "n_a", "n_b",
            (
                F.col("n_co").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_co"))
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("jaccard").desc(), "b")
    return (
        j.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= JACCARD_ITEM_TOPK)
        .select("a", "b", "n_co", "n_a", "n_b", "jaccard", "rank")
    )


# --- user-based collaborative filtering (round 9) -----------------------

CF_MIN_CO = 2  # user pairs must share >= 2 parts (noise + scale floor)
CF_NEIGHBORS = 3  # similar users consulted per user
CF_TOPK = 5  # recommendations kept per user
CF_PART_CAP = 100  # hub cap: parts bought by more customers are dropped

_USER_CF_ORACLE = f"""
WITH up0 AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
pdeg AS (
  SELECT p FROM up0 GROUP BY p HAVING COUNT(*) <= {CF_PART_CAP}),
up AS (SELECT u, p FROM up0 JOIN pdeg USING (p)),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_u FROM up GROUP BY u),
co AS (
  SELECT x.u AS ua, y.u AS ub, CAST(COUNT(*) AS BIGINT) AS n_co
  FROM up x JOIN up y ON x.p = y.p AND x.u <> y.u
  GROUP BY x.u, y.u
  HAVING COUNT(*) >= {CF_MIN_CO}),
sim AS (
  SELECT co.ua, co.ub,
         round(CAST(co.n_co AS DOUBLE)
               / sqrt(CAST(da.n_u AS DOUBLE) * CAST(db.n_u AS DOUBLE)),
               6) AS cos_sim
  FROM co JOIN deg da ON da.u = co.ua JOIN deg db ON db.u = co.ub),
nb AS (
  SELECT ua, ub, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ua
        ORDER BY cos_sim DESC, ub) AS rn
    FROM sim) WHERE rn <= {CF_NEIGHBORS}),
recs AS (
  SELECT nb.ua AS u, up.p,
         CAST(SUM(CAST(nb.cos_sim AS DECIMAL(18,6))) AS DOUBLE) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM nb JOIN up ON up.u = nb.ub
  WHERE NOT EXISTS (SELECT 1 FROM up own
                    WHERE own.u = nb.ua AND own.p = up.p)
  GROUP BY nb.ua, up.p)
SELECT u AS c_custkey, p AS rec_part, score, n_sources,
       CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY u
          ORDER BY score DESC, p) AS rn
      FROM recs) WHERE rn <= {CF_TOPK}
"""


@query("rec_user_cf_topk", oracle=_USER_CF_ORACLE, category="L")
def rec_user_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-based collaborative filtering — the third neighborhood
    model next to the two item-based keys: for every customer, the
    top-{CF_NEIGHBORS} most similar customers by cosine over their
    binary part-purchase vectors (n_co / √(n_a·n_b)), then parts those
    neighbors bought that the customer hasn't, scored by the
    decimal-exact sum of neighbor similarities, top-{CF_TOPK} per
    customer.

    Exactness: co/degree counts are exact integers; the cosine is one
    mirrored double expression rounded to 6 dp BEFORE both ranking and
    the order-free decimal score sum, so neighbor sets, scores, and
    ranks are bit-identical on both engines.

    Scale: the user-pair fan-out runs through the part inverted index
    and is quadratic in per-part customer count — so hub parts above
    {CF_PART_CAP} customers are dropped first (the stop-shingle guard
    applied to baskets; at 100 TB this cap is what keeps the pair
    shuffle proportional to Σ deg² of the long tail instead of the
    head). The ≥{CF_MIN_CO} floor prunes singleton-overlap pairs
    before the degree joins; ownership exclusion is one left-anti
    join on (user, part); both rankings are keyed windows."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("u"), "o_orderkey"
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_partkey").alias("p"),
    )
    from dbsuite_spark.tables import memo_cache

    # the basket substrate feeds SEVEN consumers (part degrees, user
    # degrees, both pair sides, candidate expansion, ownership anti-join)
    # — cache it or the orders⋈lineitem distinct recomputes per consumer
    # (explain before the fix: 24 parquet scans; after: 2)
    up0 = memo_cache(
        o.join(li, "o_orderkey").select("u", "p").distinct(),
        f"cf_baskets:{sf_dir}",
    )
    pdeg = (
        up0.groupBy("p")
        .agg(F.count("*").alias("n_cust"))
        .filter(F.col("n_cust") <= CF_PART_CAP)
        .select("p")
    )
    up = memo_cache(
        up0.join(pdeg, "p").select("u", "p"),
        f"cf_baskets_capped:{sf_dir}:{CF_PART_CAP}",
    )
    deg = up.groupBy("u").agg(F.count("*").cast("bigint").alias("n_u"))
    y = up.select(F.col("p").alias("p2"), F.col("u").alias("ub"))
    co = (
        up.join(y, (F.col("p") == F.col("p2")) & (F.col("u") != F.col("ub")))
        .groupBy(F.col("u").alias("ua"), "ub")
        .agg(F.count("*").cast("bigint").alias("n_co"))
        .filter(F.col("n_co") >= CF_MIN_CO)
    )
    sim = (
        co.join(deg.select(F.col("u").alias("ua"), F.col("n_u").alias("n_a")), "ua")
        .join(deg.select(F.col("u").alias("ub"), F.col("n_u").alias("n_b")), "ub")
        .select(
            "ua",
            "ub",
            F.round(
                F.col("n_co").cast("double")
                / F.sqrt(
                    F.col("n_a").cast("double") * F.col("n_b").cast("double")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    wn = Window.partitionBy("ua").orderBy(F.col("cos_sim").desc(), "ub")
    nb = (
        sim.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= CF_NEIGHBORS)
        .select("ua", "ub", "cos_sim")
    )
    cand = nb.join(up.select(F.col("u").alias("ub"), "p"), "ub")
    owned = up.select(F.col("u").alias("ua"), "p")
    recs = (
        cand.join(owned, ["ua", "p"], "left_anti")
        .groupBy(F.col("ua").alias("u"), "p")
        .agg(
            F.sum(F.col("cos_sim").cast("decimal(18,6)"))
            .cast("double")
            .alias("score"),
            F.count("*").cast("bigint").alias("n_sources"),
        )
    )
    wr = Window.partitionBy("u").orderBy(F.col("score").desc(), "p")
    return (
        recs.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= CF_TOPK)
        .select(
            F.col("u").alias("c_custkey"),
            F.col("p").alias("rec_part"),
            "score",
            "n_sources",
            "rank",
        )
    )


# --- exact greedy depth-2 regression tree (round 10) ----------------------

_TREE_FEATS_CTE = """
u AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS f1,
         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS f2,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS y
  FROM events GROUP BY user_id)
"""

# per-(feat, val) prefix stats -> candidate split scores; {side} is ''
# for the root and 'side,' for the child pass (same machinery, one more
# grouping key) — assembled, not hand-copied
def _tree_cand_sql(melt: str, side: str) -> str:
    sc = f"{side}" if not side else f"{side}, "
    return f"""
  SELECT {sc}feat, val,
         SUM(n_v) OVER w AS cn,
         SUM(s_v) OVER w AS cs,
         SUM(q_v) OVER w AS cq
  FROM (SELECT {sc}feat, val, CAST(COUNT(*) AS BIGINT) AS n_v,
               CAST(SUM(y) AS BIGINT) AS s_v,
               CAST(SUM(y * y) AS BIGINT) AS q_v
        FROM {melt} GROUP BY {sc}feat, val)
  WINDOW w AS (PARTITION BY {sc}feat ORDER BY val
               ROWS UNBOUNDED PRECEDING)
"""


def _tree_oracle() -> str:
    sse = (
        lambda q, s, n: f"(CAST({q} AS DOUBLE) - CAST({s} AS DOUBLE)"
        f" * ({s}) / ({n}))"
    )
    red = (
        f"round({sse('t.q','t.s','t.n')} - {sse('c.cq','c.cs','c.cn')}"
        f" - {sse('t.q - c.cq','t.s - c.cs','t.n - c.cn')}, 6)"
    )
    redc = (
        f"round({sse('t2.q','t2.s','t2.n')} - {sse('c.cq','c.cs','c.cn')}"
        f" - {sse('t2.q - c.cq','t2.s - c.cs','t2.n - c.cn')}, 6)"
    )
    return f"""
WITH {_TREE_FEATS_CTE},
melt AS (
  SELECT 'f1' AS feat, f1 AS val, y FROM u
  UNION ALL SELECT 'f2', f2, y FROM u),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(y * y) AS BIGINT) AS q FROM u),
cand AS ({_tree_cand_sql("melt", "")}),
root_best AS MATERIALIZED (
  SELECT feat AS rfeat, val AS rthr, score AS rscore FROM (
    SELECT c.feat, c.val, {red} AS score,
           row_number() OVER (ORDER BY {red} DESC, c.feat, c.val) AS rn
    FROM cand c, tot t WHERE c.cn < t.n) WHERE rn = 1),
sided AS MATERIALIZED (
  SELECT u.f1, u.f2, u.y,
         CASE WHEN (CASE WHEN rb.rfeat = 'f1' THEN u.f1 ELSE u.f2 END)
                   <= rb.rthr
              THEN 'L' ELSE 'R' END AS side
  FROM u, root_best rb),
melt2 AS (
  SELECT side, 'f1' AS feat, f1 AS val, y FROM sided
  UNION ALL SELECT side, 'f2', f2, y FROM sided),
tot2 AS MATERIALIZED (
  SELECT side, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS q FROM sided GROUP BY side),
cand2 AS ({_tree_cand_sql("melt2", "side")}),
child_best AS MATERIALIZED (
  SELECT side AS cside, feat AS cfeat, val AS cthr, score AS cscore
  FROM (
    SELECT c.side, c.feat, c.val, {redc} AS score,
           row_number() OVER (PARTITION BY c.side
                              ORDER BY {redc} DESC, c.feat, c.val) AS rn
    FROM cand2 c JOIN tot2 t2 ON t2.side = c.side
    WHERE c.cn < t2.n) WHERE rn = 1),
leaves AS (
  SELECT s.side ||
         (CASE WHEN (CASE WHEN cb.cfeat = 'f1' THEN s.f1 ELSE s.f2 END)
                    <= cb.cthr THEN 'L' ELSE 'R' END) AS node,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s.y) AS BIGINT) AS sum_y
  FROM sided s JOIN child_best cb ON cb.cside = s.side
  GROUP BY 1)
SELECT 'root' AS node, t.n, t.s AS sum_y,
       CAST(t.s AS DOUBLE) / t.n AS mean_y,
       rb.rfeat AS split_feat, rb.rthr AS split_thr,
       rb.rscore AS sse_reduction
FROM tot t, root_best rb
UNION ALL
SELECT t2.side, t2.n, t2.s, CAST(t2.s AS DOUBLE) / t2.n,
       cb.cfeat, cb.cthr, cb.cscore
FROM tot2 t2 LEFT JOIN child_best cb ON cb.cside = t2.side
UNION ALL
SELECT node, n, sum_y, CAST(sum_y AS DOUBLE) / n, NULL, NULL, NULL
FROM leaves
"""


@query("ml_decision_tree_depth2", oracle=_tree_oracle(), category="L")
def ml_decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT GREEDY DEPTH-2 REGRESSION TREE (CART / the
    histogram-split primitive inside every gradient-boosting trainer,
    public method): features f1 = events per user, f2 = active days;
    target y = purchases. Every distinct feature value is a candidate
    threshold; split quality is the SSE reduction computed from
    (n, Σy, Σy²) prefix sums over the value spine; the best root split
    then the best split per child are chosen by (rounded score DESC,
    feat, threshold) — fully DECLARATIVE: the argmax is a 1-row frame
    broadcast-joined back to route rows, no collect, no driver loop.
    Emits all 7 nodes (root, L/R, 4 leaves) with population, target
    mass, mean prediction, and the chosen split per internal node.

    Exactness: sufficient statistics are exact integers; SSEs are
    mirrored double expressions of double-cast BIGINTs (the ANSI
    overflow-safe form); scores round to 6dp before the argmax
    tie-break on (feat, val) — a total order.

    Scale: this is EXACTLY how distributed GBDT trainers split — per
    (feature, bin) sufficient stats (one map-side-combined shuffle of
    |features|×|bins| rows), prefix-scan the spine, argmax, route, and
    recurse one level. The spine here is distinct-value-sized; at
    extreme cardinality you quantile-bin first
    (``ml_feature_quantile_bin``) and the same plan runs over ≤256
    bins per feature. Candidate scoring never touches row data after
    the one stats aggregation; routing is one broadcast join per
    level."""
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("f1"),
        F.countDistinct(F.to_date("ts")).cast("bigint").alias("f2"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("y"),
    ).select("f1", "f2", "y")

    def _melt(df: DataFrame, keys: list[str]) -> DataFrame:
        return df.select(
            *keys,
            F.explode(
                F.array(
                    F.struct(
                        F.lit("f1").alias("feat"), F.col("f1").alias("val")
                    ),
                    F.struct(
                        F.lit("f2").alias("feat"), F.col("f2").alias("val")
                    ),
                )
            ).alias("fv"),
            "y",
        ).select(*keys, "fv.feat", "fv.val", "y")

    def _cand(melt: DataFrame, keys: list[str]) -> DataFrame:
        byval = melt.groupBy(*keys, "feat", "val").agg(
            F.count("*").cast("bigint").alias("n_v"),
            F.sum("y").cast("bigint").alias("s_v"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("q_v"),
        )
        w = (
            Window.partitionBy(*keys, "feat")
            .orderBy("val")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return byval.select(
            *keys,
            "feat",
            "val",
            F.sum("n_v").over(w).alias("cn"),
            F.sum("s_v").over(w).alias("cs"),
            F.sum("q_v").over(w).alias("cq"),
        )

    def _sse(q, s, n):
        return q.cast("double") - s.cast("double") * s / n

    def _red(tn, ts_, tq):
        return F.round(
            _sse(tq, ts_, tn)
            - _sse(F.col("cq"), F.col("cs"), F.col("cn"))
            - _sse(tq - F.col("cq"), ts_ - F.col("cs"), tn - F.col("cn")),
            6,
        )

    tot = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("q"),
    )
    scored = (
        _cand(_melt(u, []), [])
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cn") < F.col("n"))
        .select(
            "feat",
            "val",
            _red(F.col("n"), F.col("s"), F.col("q")).alias("score"),
        )
    )
    root_best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), "feat", "val")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("feat").alias("rfeat"),
            F.col("val").alias("rthr"),
            F.col("score").alias("rscore"),
        )
    )
    sided = u.crossJoin(F.broadcast(root_best)).select(
        "f1",
        "f2",
        "y",
        F.when(
            F.when(F.col("rfeat") == "f1", F.col("f1")).otherwise(
                F.col("f2")
            )
            <= F.col("rthr"),
            F.lit("L"),
        )
        .otherwise(F.lit("R"))
        .alias("side"),
    )
    # routed rows feed the child stats, the child totals, AND the leaf
    # rollup — memoizing avoids recomputing the corpus agg three times
    from dbsuite_spark.tables import memo_cache

    sided = memo_cache(sided, f"tree_sided:{sf_dir}")
    tot2 = sided.groupBy("side").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("q"),
    )
    scored2 = (
        _cand(_melt(sided, ["side"]), ["side"])
        .join(F.broadcast(tot2), "side")
        .filter(F.col("cn") < F.col("n"))
        .select(
            "side",
            "feat",
            "val",
            _red(F.col("n"), F.col("s"), F.col("q")).alias("score"),
        )
    )
    child_best = (
        scored2.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("side").orderBy(
                    F.col("score").desc(), "feat", "val"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("side").alias("cside"),
            F.col("feat").alias("cfeat"),
            F.col("val").alias("cthr"),
            F.col("score").alias("cscore"),
        )
    )
    leaves = (
        sided.join(
            F.broadcast(child_best), F.col("side") == F.col("cside")
        )
        .select(
            F.concat(
                F.col("side"),
                F.when(
                    F.when(F.col("cfeat") == "f1", F.col("f1")).otherwise(
                        F.col("f2")
                    )
                    <= F.col("cthr"),
                    F.lit("L"),
                ).otherwise(F.lit("R")),
            ).alias("node"),
            "y",
        )
        .groupBy("node")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sum_y"),
        )
    )
    mean = (F.col("sum_y").cast("double") / F.col("n")).alias("mean_y")
    root_row = tot.crossJoin(F.broadcast(root_best)).select(
        F.lit("root").alias("node"),
        "n",
        F.col("s").alias("sum_y"),
        (F.col("s").cast("double") / F.col("n")).alias("mean_y"),
        F.col("rfeat").alias("split_feat"),
        F.col("rthr").alias("split_thr"),
        F.col("rscore").alias("sse_reduction"),
    )
    child_rows = tot2.join(
        F.broadcast(child_best),
        F.col("side") == F.col("cside"),
        "left",
    ).select(
        F.col("side").alias("node"),
        "n",
        F.col("s").alias("sum_y"),
        (F.col("s").cast("double") / F.col("n")).alias("mean_y"),
        F.col("cfeat").alias("split_feat"),
        F.col("cthr").alias("split_thr"),
        F.col("cscore").alias("sse_reduction"),
    )
    leaf_rows = leaves.select(
        "node",
        "n",
        "sum_y",
        mean,
        F.lit(None).cast("string").alias("split_feat"),
        F.lit(None).cast("bigint").alias("split_thr"),
        F.lit(None).cast("double").alias("sse_reduction"),
    )
    return root_row.unionByName(child_rows).unionByName(leaf_rows)


# --- Markov next-event transitions (round 11) --------------------------------

NEXT_TOPK = 3  # recommendations kept per current event type

_NEXT_ITEM_ORACLE = f"""
WITH seq AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
  FROM events),
tr AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
tot AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS tc FROM tr GROUP BY cur)
SELECT cur AS cur_type, nxt AS next_type, c AS n_pairs,
       CAST(c AS DOUBLE) / tc AS prob, CAST(rn AS INT) AS rank
FROM (
  SELECT tr.cur, tr.nxt, tr.c, tot.tc,
         row_number() OVER (PARTITION BY tr.cur
           ORDER BY tr.c DESC, tr.nxt) AS rn
  FROM tr JOIN tot USING (cur))
WHERE rn <= {NEXT_TOPK}
"""


@query("rec_next_event_markov", oracle=_NEXT_ITEM_ORACLE, category="L")
def rec_next_event_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV next-item recommendation — the sequential
    half of the recsys tier next to the co-occurrence keys
    (``rec_copurchase_topk`` counts *baskets*; this counts *order*):
    per-user event streams in time order yield (current, next)
    transitions via one LEAD window, the transition matrix aggregates
    once, and each current type keeps its top-{NEXT_TOPK} next types by
    count with the empirical transition probability — the
    session-based "users who did X do Y next" baseline every
    sequential recommender is measured against (public method;
    Markov-chain recommenders, Rendle et al.'s FPMC baseline).

    Exactness: transitions are pure integer counting over the
    (user_id, ts)-unique stream (fixture law); prob is ONE double
    division of exact integers — bit-identical both engines; ties
    break (count DESC, next_type).

    Scale: one shuffle partitions users for the LEAD window (the
    sequence is derived, never collected), the transition matrix is
    |types|² — dimension-sized — so aggregation is map-side combined
    into a tiny frame; with unbounded item vocabularies you'd cap
    per-user history first (the CF_PART_CAP treatment)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tr = seq.groupBy("cur", "nxt").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = tr.groupBy("cur").agg(F.sum("c").cast("bigint").alias("tc"))
    wr = Window.partitionBy("cur").orderBy(
        F.col("c").desc(), F.col("nxt")
    )
    return (
        tr.join(F.broadcast(tot), "cur")
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= NEXT_TOPK)
        .select(
            F.col("cur").alias("cur_type"),
            F.col("nxt").alias("next_type"),
            F.col("c").alias("n_pairs"),
            (F.col("c").cast("double") / F.col("tc")).alias("prob"),
            F.col("rn").cast("int").alias("rank"),
        )
    )
