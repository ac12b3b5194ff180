"""Graph mining beyond centrality: link prediction and semi-supervised
label propagation — the candidate-generation and weak-labeling primitives
of large-scale graph curation (e.g. proposing near-duplicate candidates a
direct similarity pass missed, or spreading sparse human labels across an
interaction graph before training).

Cross-engine exactness follows the module family's discipline
(``pipeline/graph.py``): every score is computed in exact integer units
(BIGINT sums of floor divisions), every argmax breaks ties on the key, so
results are bit-identical across engines and partitionings with no
tolerance anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

RA_UNIT = 1_000_000_000_000  # 10^12: resource-allocation mass per neighbor
HOLDOUT_MOD = 7  # retain edges whose canonical-key md5 coin is 0 (~1/7)


def _retained_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct co-order supplier edges, sparsified by a
    deterministic md5 coin on the canonical (min, max) pair so ~1/7 of
    undirected edges are retained — the held-out-edges evaluation
    protocol of link prediction (the fixture co-order graph is complete,
    so the unsparsified graph has nothing to predict). The coin hashes
    the canonical key, so both directions survive or drop together and
    both engines keep identical edges."""
    os_ = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    x, y = os_.alias("x"), os_.alias("y")
    edges = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.s") != F.col("y.s")))
        .select(F.col("x.s").alias("src"), F.col("y.s").alias("dst"))
        .distinct()
    )
    coin = (
        md5_bigint(
            F.concat_ws(
                "-",
                F.least("src", "dst").cast("string"),
                F.greatest("src", "dst").cast("string"),
            )
        )
        % HOLDOUT_MOD
    )
    return edges.filter(coin == 0)


_RETAINED_SQL = f"""
os AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
alledges AS (
  SELECT DISTINCT x.s AS src, y.s AS dst
  FROM os x JOIN os y ON x.o = y.o AND x.s <> y.s),
edges AS (
  SELECT src, dst FROM alledges
  WHERE {MD5_BIGINT(
            "CAST(LEAST(src, dst) AS VARCHAR) || '-'"
            " || CAST(GREATEST(src, dst) AS VARCHAR)"
        )} % {HOLDOUT_MOD} = 0)
"""


_LINKPRED_ORACLE = f"""
WITH {_RETAINED_SQL},
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM edges GROUP BY src),
cand AS (
  SELECT e1.src AS a, e2.dst AS c, e1.dst AS z
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
  WHERE e1.src < e2.dst),
nonadj AS (
  SELECT cd.a, cd.c, cd.z FROM cand cd
  LEFT JOIN edges d ON cd.a = d.src AND cd.c = d.dst
  WHERE d.src IS NULL)
SELECT n.a, n.c,
       CAST(COUNT(*) AS BIGINT) AS common_neighbors,
       CAST(SUM({RA_UNIT} // g.degree) AS BIGINT) AS ra_units
FROM nonadj n JOIN deg g ON n.z = g.node
GROUP BY n.a, n.c
"""


@query("graph_link_prediction_ra", oracle=_LINKPRED_ORACLE, category="L")
def graph_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-order supplier graph by the
    Resource-Allocation index (Zhou/Lü/Zhang 2009, public): for every
    non-adjacent ordered pair (a < c) sharing at least one neighbor,
    score RA(a,c) = Σ_z 1/deg(z) over common neighbors z — here in exact
    integer units (10^12 // deg, BIGINT sum), so the score is
    bit-identical across engines and partitionings, unlike a float
    Adamic-Adar. The graph is the deterministically edge-held-out
    co-order graph (``_retained_edges``), the standard link-prediction
    evaluation setup. Emits common-neighbor count and RA units per pair.

    Scale: the candidate pass is the same edges⋈edges 2-hop join as
    ``graph_two_hop_neighbors`` (one co-partitioned shuffle on the
    shared node, hub-capping is the documented skew knob); the degree
    side is a broadcast-size aggregate; the anti-join against direct
    edges prunes before the final grouped integer sum. No floats."""
    edges = _retained_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("degree")
    )
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    cand = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e1.src") < F.col("e2.dst"))
        .select(
            F.col("e1.src").alias("a"),
            F.col("e2.dst").alias("c"),
            F.col("e1.dst").alias("z"),
        )
    )
    nonadj = cand.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
        "left_anti",
    )
    return (
        nonadj.join(deg, nonadj.z == deg.node)
        .groupBy("a", "c")
        .agg(
            F.count("*").cast("bigint").alias("common_neighbors"),
            F.sum(F.expr(f"{RA_UNIT} div degree"))
            .cast("bigint")
            .alias("ra_units"),
        )
    )


_LABELPROP_ORACLE = """
WITH w AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type),
u1 AS (
  SELECT user_id, event_type AS label, n AS votes FROM (
    SELECT user_id, event_type, n,
           ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY n DESC, event_type) AS rn
    FROM w) WHERE rn = 1),
e2 AS (
  SELECT event_type, label, CAST(COUNT(*) AS BIGINT) AS votes FROM (
    SELECT DISTINCT w.event_type, w.user_id, u1.label
    FROM w JOIN u1 ON w.user_id = u1.user_id)
  GROUP BY event_type, label),
e2top AS (
  SELECT event_type, label, votes FROM (
    SELECT event_type, label, votes,
           ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY votes DESC, label) AS rn
    FROM e2) WHERE rn = 1)
SELECT 'u' || CAST(user_id AS VARCHAR) AS node, 'user' AS kind,
       label, votes
FROM u1
UNION ALL
SELECT 'e' || event_type, 'event', label, votes FROM e2top
"""


@query("graph_label_propagation", oracle=_LABELPROP_ORACLE, category="L")
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronized rounds of label propagation over the bipartite
    user ↔ event-type interaction graph, seeded with each event-type
    node's own name: round 1 labels every user with their
    most-interacted event type (weight = interaction count, ties to the
    lexicographically smallest label); round 2 relabels every event-type
    node with the majority label among its distinct adjacent users. The
    community-detection primitive (Raghavan et al. 2007, public) with
    every vote an exact integer and every argmax tie-broken on the
    label, so the fixpoint step is bit-deterministic.

    Scale: each round is one grouped integer count plus one
    row_number-over-window argmax — the same partial+final shuffle shape
    as any top-1-per-group; state per round is one (node, label) row,
    never a neighbor list. Synchronous rounds map to a static DAG."""
    w = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    win_u = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    u1 = (
        w.withColumn("rn", F.row_number().over(win_u))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("label"),
            F.col("n").alias("votes"),
        )
    )
    adj = (
        w.select("event_type", "user_id")
        .join(u1.select("user_id", "label"), "user_id")
        .distinct()
    )
    e2 = adj.groupBy("event_type", "label").agg(
        F.count("*").cast("bigint").alias("votes")
    )
    win_e = Window.partitionBy("event_type").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    e2top = (
        e2.withColumn("rn", F.row_number().over(win_e))
        .filter(F.col("rn") == 1)
        .select("event_type", "label", "votes")
    )
    users = u1.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("node"),
        F.lit("user").alias("kind"),
        "label",
        "votes",
    )
    events_ = e2top.select(
        F.concat(F.lit("e"), F.col("event_type")).alias("node"),
        F.lit("event").alias("kind"),
        "label",
        "votes",
    )
    return users.unionAll(events_)


# --- k-core peeling, fixed rounds (round 5) ----------------------------

KCORE_ROUNDS = 2  # fixed unrolled peel rounds → static DAG, no driver loop

_KCORE_ORACLE = f"""
WITH {_RETAINED_SQL},
kv AS (
  SELECT CAST((COUNT(*) // COUNT(DISTINCT src)) * 15 // 16 AS BIGINT) AS k
  FROM edges),
deg0 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
         FROM edges GROUP BY src),
keep1 AS (SELECT node FROM deg0, kv WHERE d >= k),
e1 AS (SELECT e.src, e.dst FROM edges e
       JOIN keep1 a ON e.src = a.node
       JOIN keep1 b ON e.dst = b.node),
deg1 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
         FROM e1 GROUP BY src),
keep2 AS (SELECT node FROM deg1, kv WHERE d >= k),
e2 AS (SELECT e.src, e.dst FROM e1 e
       JOIN keep2 a ON e.src = a.node
       JOIN keep2 b ON e.dst = b.node)
SELECT src AS node,
       CAST(COUNT(*) AS BIGINT) AS residual_degree,
       (SELECT k FROM kv) AS k
FROM e2 GROUP BY src
"""


@query("graph_kcore_fixed", oracle=_KCORE_ORACLE, category="L")
def graph_kcore_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peeling on the sparsified co-order supplier
    graph: two unrolled rounds of "drop nodes with degree < k, restrict
    edges to survivors, recount" — the dense-subgraph extractor used to
    find tightly-coupled clusters (e.g. template farms in a dedup graph).
    k adapts to graph density as ``avg_degree * 15 // 16`` (exact
    integer arithmetic) — on this near-random graph a k above the mean
    collapses to an empty core within two rounds (restriction roughly
    halves every surviving degree), so the working band sits just under
    the mean; 15/16 peels a non-trivial minority at both fixture scales
    (41/100 nodes at sf0.01, 150/1000 at sf0.1).

    Full k-core iterates to a fixpoint; the fixed 2-round unroll keeps
    the plan a static DAG (the package's iterative-op discipline, see
    graph_pagerank_fixed) and is the anytime prefix of the real thing —
    at 100 TB each round is one semi-join restriction plus one grouped
    count on a hash-partitioned edge list, so rounds cost O(1) shuffles
    each and the unroll depth is the knob.

    Exactness: all degrees and k are BIGINT counts/floor-divisions —
    bit-identical across engines and partitionings."""
    edges = _retained_edges(spark, sf_dir)
    # integer division must be floor-exact on both engines: use `div`
    kv = edges.agg(
        F.expr(
            "CAST((count(*) div count(DISTINCT src)) * 15 div 16"
            " AS BIGINT)"
        ).alias("k")
    )

    def peel(e: DataFrame, k_df: DataFrame) -> DataFrame:
        deg = e.groupBy("src").agg(F.count("*").cast("bigint").alias("d"))
        keep = (
            deg.crossJoin(F.broadcast(k_df))
            .filter(F.col("d") >= F.col("k"))
            .select(F.col("src").alias("node"))
        )
        return (
            e.join(F.broadcast(keep), e.src == keep.node, "left_semi")
            .join(
                F.broadcast(keep.withColumnRenamed("node", "dnode")),
                F.col("dst") == F.col("dnode"),
                "left_semi",
            )
        )

    e2 = peel(peel(edges, kv), kv)
    return (
        e2.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("residual_degree"))
        .crossJoin(F.broadcast(kv))
        .select(F.col("src").alias("node"), "residual_degree", "k")
    )


# --- degree assortativity ----------------------------------------------

_ASSORT_ORACLE = """
WITH base AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
                  'e' || event_type AS v
  FROM events),
edges AS (
  SELECT u AS src, v AS dst FROM base
  UNION ALL
  SELECT v AS src, u AS dst FROM base),
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
xy AS (
  SELECT ds.d AS x, dd.d AS y
  FROM edges e
  JOIN deg ds ON e.src = ds.node
  JOIN deg dd ON e.dst = dd.node),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM xy),
v AS (
  SELECT m,
         CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(m AS DOUBLE) * CAST(sy2 AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
         CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
  FROM s)
SELECT m,
       CASE WHEN vx <= 0 OR vy <= 0 THEN NULL
            ELSE num / (SQRT(vx) * SQRT(vy))
       END AS assortativity
FROM v
"""


@query("graph_assortativity", oracle=_ASSORT_ORACLE, category="L")
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity coefficient of the user↔event-type
    interaction graph (``pipeline/graph.py``'s substrate): Pearson
    correlation between the endpoint degrees over all directed edges of
    the symmetrized graph — negative for hub-and-spoke (bipartite
    interaction graphs typically are), positive for core-periphery.
    The one-number topology health check run before any graph algorithm
    is trusted.

    Exactness: all six sufficient statistics are BIGINT sums of degree
    products — exact/commutative on both engines — and the final r is
    one mirrored IEEE expression; zero variance yields NULL. (Degree
    products can approach int64 at extreme hub sizes; the upgrade path
    is the decimal(38,0) cast used elsewhere in the family.)

    Scale: degrees are one partial count on the edge list; the two
    degree joins hash-partition the edge list by src then dst (the deg
    table is node-sized → broadcastable); the moment aggregation is a
    single 1-row map-side-combined pass."""
    from dbsuite_spark.pipeline.graph import _edges

    edges = _edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    xy = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("sn"),
                                   F.col("d").alias("x"))),
            F.col("src") == F.col("sn"),
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dn"),
                                   F.col("d").alias("y"))),
            F.col("dst") == F.col("dn"),
        )
        .select("x", "y")
    )
    s = xy.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    # Double-domain r from the double-cast BIGINT stats — hub-degree
    # moment products overflow int64 under ANSI sessions well before
    # 100 TB, and identical IEEE expression text keeps both engines
    # bit-identical at any magnitude. Nonpositive variance → NULL.
    md = F.col("m").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    vx = md * F.col("sx2").cast("double") - sxd * sxd
    vy = md * F.col("sy2").cast("double") - syd * syd
    num = md * F.col("sxy").cast("double") - sxd * syd
    r = (
        F.when((vx <= 0) | (vy <= 0), F.lit(None).cast("double"))
        .otherwise(num / (F.sqrt(vx) * F.sqrt(vy)))
    ).alias("assortativity")
    return s.select("m", r)


# --- community modularity ----------------------------------------------

_MODULARITY_ORACLE = f"""
WITH lp AS ({_LABELPROP_ORACLE}),
base AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
                  'e' || event_type AS v
  FROM events),
edges AS (
  SELECT u AS src, v AS dst FROM base
  UNION ALL
  SELECT v AS src, u AS dst FROM base),
lab AS (SELECT node, label FROM lp),
le AS (
  SELECT ls.label AS src_label, ld.label AS dst_label
  FROM edges e
  JOIN lab ls ON e.src = ls.node
  JOIN lab ld ON e.dst = ld.node),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_m FROM le),
deg AS (
  SELECT src_label AS label, CAST(COUNT(*) AS BIGINT) AS degree_sum
  FROM le GROUP BY src_label),
inner_ AS (
  SELECT src_label AS label, CAST(COUNT(*) AS BIGINT) AS inner_edges
  FROM le WHERE src_label = dst_label GROUP BY src_label)
SELECT d.label, d.degree_sum,
       CAST(COALESCE(i.inner_edges, 0) AS BIGINT) AS inner_edges,
       CAST(COALESCE(i.inner_edges, 0) AS DOUBLE) / CAST(big_m AS DOUBLE)
           - (CAST(d.degree_sum AS DOUBLE) / CAST(big_m AS DOUBLE))
             * (CAST(d.degree_sum AS DOUBLE) / CAST(big_m AS DOUBLE))
           AS q_term
FROM deg d LEFT JOIN inner_ i ON d.label = i.label, m
"""


@query("graph_community_modularity", oracle=_MODULARITY_ORACLE, category="L")
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity terms of the ``graph_label_propagation``
    communities over the symmetrized interaction graph: per community c,
    q_c = A_c/M − (d_c/M)² (A_c = within-community directed edges,
    d_c = degree mass, M = directed edge count) — the quality score that
    decides whether a community structure is real. Emitted per community
    (the scalar Q is the consumer's sum — an unordered float total would
    be summation-order-dependent); every input is an exact BIGINT count,
    so each term is one mirrored IEEE expression.

    Scale: the label join hash-partitions the edge list by endpoint
    (label table is node-sized → broadcast); both aggregations are
    |communities|-sized with map-side partials; M rides a 1-row
    broadcast."""
    from dbsuite_spark.pipeline.graph import _edges

    labels = graph_label_propagation(spark, sf_dir).select("node", "label")
    edges = _edges(spark, sf_dir)
    le = (
        edges.join(
            F.broadcast(labels.withColumnsRenamed(
                {"node": "sn", "label": "src_label"})),
            F.col("src") == F.col("sn"),
        )
        .join(
            F.broadcast(labels.withColumnsRenamed(
                {"node": "dn", "label": "dst_label"})),
            F.col("dst") == F.col("dn"),
        )
        .select("src_label", "dst_label")
    )
    m = le.agg(F.count("*").alias("big_m"))
    deg = le.groupBy(F.col("src_label").alias("label")).agg(
        F.count("*").alias("degree_sum")
    )
    inner = (
        le.filter(F.col("src_label") == F.col("dst_label"))
        .groupBy(F.col("src_label").alias("label"))
        .agg(F.count("*").alias("inner_edges"))
    )
    md = F.col("big_m").cast("double")
    a0 = F.coalesce(F.col("inner_edges"), F.lit(0))
    dd = F.col("degree_sum").cast("double")
    return (
        deg.join(inner, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "degree_sum",
            a0.cast("bigint").alias("inner_edges"),
            (
                a0.cast("double") / md - (dd / md) * (dd / md)
            ).alias("q_term"),
        )
    )


# --- deterministic random-walk corpus (round 10) --------------------------

RW_WALKS = 2  # walks per start node
RW_STEPS = 4  # steps per walk
RW_START_MOD = 10  # user_id % MOD == 0 -> start node (bounded fan-out)


def _rw_oracle() -> str:
    from dbsuite_spark.pipeline.graph import _BFS_EDGES_SQL

    steps = []
    for s in range(1, RW_STEPS + 1):
        hsh = MD5_BIGINT(
            f"w{s - 1}.start || ':' || CAST(w{s - 1}.w AS VARCHAR)"
            f" || ':' || {s}"
        )
        steps.append(f"""
w{s} AS (
  SELECT w{s - 1}.start, w{s - 1}.w,
         w{s - 1}.path || '>' ||
           a.nbrs[CAST({hsh} % a.deg AS INT) + 1] AS path,
         a.nbrs[CAST({hsh} % a.deg AS INT) + 1] AS cur
  FROM w{s - 1} JOIN adj a ON a.src = w{s - 1}.cur)""")
    return f"""
WITH {_BFS_EDGES_SQL.strip()},
adj AS MATERIALIZED (
  SELECT src, list(dst ORDER BY dst) AS nbrs,
         CAST(COUNT(*) AS BIGINT) AS deg
  FROM edges GROUP BY src),
w0 AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS start, ws.w,
         'u' || CAST(user_id AS VARCHAR) AS path,
         'u' || CAST(user_id AS VARCHAR) AS cur
  FROM (SELECT DISTINCT user_id FROM events
        WHERE user_id % {RW_START_MOD} = 0),
       (SELECT unnest(generate_series(1, {RW_WALKS})) AS w) ws),
{",".join(steps)}
SELECT start, CAST(w AS INT) AS walk_id, path,
       cur AS end_node,
       CAST(len(string_split(path, '>')) AS INT) AS n_nodes
FROM w{RW_STEPS}
"""


@query("graph_random_walk_fixed", oracle=_rw_oracle(), category="L")
def graph_random_walk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC RANDOM-WALK corpus over the user↔event-type
    interaction graph — the sentence-generation step of
    DeepWalk/node2vec (Perozzi 2014, public method): the walk corpus is
    what a skip-gram embedding trainer consumes, making this the graph
    twin of the text pipeline's token stream. Each sampled user starts
    {RW_WALKS} walks of {RW_STEPS} steps; step t moves to neighbor
    index md5(start:walk:t) % degree in the DST-SORTED adjacency list —
    reproducible on any engine and any partitioning (the
    ``docs_sample_weighted`` hash-draw discipline applied to graph
    traversal).

    Exactness: adjacency lists sort by dst (total order), indices are
    integer hash arithmetic, paths are string folds of the fixed walk —
    no floats anywhere.

    Scale: adjacency materializes once (one grouped shuffle; list size
    = degree — for hub nodes cap or hash-sample the list, the
    CF_PART_CAP treatment); each step is ONE hash join of the walk
    frontier (|starts|×{RW_WALKS} rows) against adj on the current
    node, co-partitioned on the join key. The plan is a static
    {RW_STEPS}-join chain — walk count controls cost, never corpus
    size. Start sampling is user_id % {RW_START_MOD}."""
    from dbsuite_spark.pipeline.graph import _edges
    from dbsuite_spark.tables import memo_cache

    adj = memo_cache(
        _edges(spark, sf_dir)
        .groupBy("src")
        .agg(
            F.array_sort(F.collect_list("dst")).alias("nbrs"),
            F.count("*").cast("bigint").alias("deg"),
        ),
        # consumed by every walk step
        f"rw_adj:{sf_dir}",
    )
    starts = (
        t(spark, sf_dir, "events")
        .select("user_id")
        .filter(F.col("user_id") % RW_START_MOD == 0)
        .distinct()
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
                "start"
            )
        )
    )
    walk = starts.crossJoin(
        spark.range(1, RW_WALKS + 1).select(
            F.col("id").cast("int").alias("w")
        )
    ).select(
        "start", "w", F.col("start").alias("path"), F.col("start").alias("cur")
    )
    for s in range(1, RW_STEPS + 1):
        hsh = md5_bigint(
            F.concat(
                F.col("start"),
                F.lit(":"),
                F.col("w").cast("string"),
                F.lit(":"),
                F.lit(str(s)),
            )
        )
        nxt = F.element_at(
            F.col("nbrs"), (hsh % F.col("deg")).cast("int") + 1
        )
        walk = (
            walk.join(adj, walk["cur"] == adj["src"])
            .select(
                "start",
                "w",
                F.concat(F.col("path"), F.lit(">"), nxt).alias("path"),
                nxt.alias("cur"),
            )
        )
    return walk.select(
        "start",
        F.col("w").alias("walk_id"),
        "path",
        F.col("cur").alias("end_node"),
        F.size(F.split(F.col("path"), ">")).cast("int").alias("n_nodes"),
    )
