"""Graph analytics over fixture-derived graphs: fixed-iteration PageRank.

Companion to ``dedup_connected_components`` (pipeline/dedup.py) — together
they cover the two iterative-graph primitives a large-scale corpus
pipeline needs (duplicate clustering and influence/centrality scoring).
The graph here is the bipartite user ↔ event-type interaction graph from
the ``events`` table, symmetrized so every node has out-edges.

Cross-engine exactness (the interesting part): floating-point PageRank is
summation-order-dependent — the per-node neighbor sum would differ between
Spark's shuffle order and DuckDB's, breaking the driver's value hash. This
implementation therefore runs **entirely in scaled integer arithmetic**:
ranks are BIGINT "units" summing to ~10^15, every division is floor
division (Spark ``DIV`` ≡ DuckDB ``//``), and BIGINT sums are exact and
commutative — so a 3-iteration PageRank is *bit-identical* on both
engines, with no rounding tolerance anywhere. The same trick is how
deterministic distributed PageRank is done at cluster scale (integer
fixed-point propagation commutes across any partitioning).

Scale design (100 TB): edges/deg materialize from one distinct-pass over
events (map-side partial distinct); each iteration is one shuffle join
(edges ⋈ ranks on src, both hash-partitioned on the join key) plus one
grouped integer sum on dst. Iteration count is fixed (3) so the plan is a
static 3-stage DAG — no driver-side convergence loop, no collect. The
node-count scalar is a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

_S = 1_000_000_000_000_000  # total rank mass in integer units (~10^15)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric bipartite edge list: u:<user_id> ↔ e:<event_type>."""
    e = t(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("e"), F.col("event_type")).alias("v"),
    ).distinct()
    return e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


_PR_ORACLE_PRELUDE = f"""
WITH base AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
                  'e' || event_type AS v
  FROM events),
edges AS (
  SELECT u AS src, v AS dst FROM base
  UNION ALL
  SELECT v AS src, u AS dst FROM base),
deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
  FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
r0 AS (
  SELECT src AS node, CAST({_S} AS BIGINT) // n AS ru FROM deg, nn)
"""


def _PR_STEP(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
s{i} AS (
  SELECT e.dst AS node, SUM(r.ru // d.outdeg) AS s
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN deg d    ON e.src = d.src
  GROUP BY e.dst),
r{i} AS (
  SELECT node,
         CAST((15 * (CAST({_S} AS BIGINT) // n)) // 100
              + (85 * s) // 100 AS BIGINT) AS ru
  FROM s{i}, nn)
"""


@query(
    "graph_pagerank_fixed",
    oracle=(
        _PR_ORACLE_PRELUDE
        + ","
        + ",".join(_PR_STEP(i) for i in (1, 2, 3))
        + "\nSELECT node, ru AS rank_units FROM r3"
    ),
    category="L",
)
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the user↔event-type graph,
    in exact integer units — bit-identical across engines and partition
    orders (module docstring). Output: every node with its final rank in
    BIGINT units (sum ≈ 10^15)."""
    edges = _edges(spark, sf_dir)
    # Round-13 optimization (guide §2.4): outdeg rides the SAME
    # hash(src) shuffle the iteration joins need, as a window count —
    # the previous shape aggregated deg separately and joined it back
    # inside EVERY iteration, adding one aggregate + one join per
    # iteration to the unrolled plan (measured interleaved same-session:
    # min 1.48s → 1.38s at sf0.1, and the plan drops the per-iteration
    # deg broadcast; plans/r13/graph_pagerank_fixed_{before,after}.txt).
    ed = edges.withColumn(
        "outdeg", F.count("*").over(Window.partitionBy("src"))
    )
    deg = ed.select("src", "outdeg").dropDuplicates(["src"])
    n_df = deg.agg(F.count("*").alias("n"))
    ranks = deg.crossJoin(F.broadcast(n_df)).select(
        F.col("src").alias("node"),
        F.expr(f"CAST({_S} AS BIGINT) div n").alias("ru"),
    )
    for _ in range(3):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("ru div outdeg")).alias("s"))
        )
        ranks = contrib.crossJoin(F.broadcast(n_df)).select(
            F.col("dst").alias("node"),
            F.expr(
                f"CAST((15 * (CAST({_S} AS BIGINT) div n)) div 100"
                " + (85 * s) div 100 AS BIGINT)"
            ).alias("ru"),
        )
    return ranks.select("node", F.col("ru").alias("rank_units"))


DOULION_MOD = 7  # keep-probability p = 1/7; estimate scales by 7^3


@query(
    "graph_degree_stats",
    oracle="""
WITH base AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
                  'e' || event_type AS v
  FROM events),
edges AS (
  SELECT u AS src, v AS dst FROM base
  UNION ALL
  SELECT v AS src, u AS dst FROM base),
deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
  FROM edges GROUP BY src)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
""",
    category="L",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the user↔event-type interaction graph —
    the first profiling query run on any large graph (skew detection:
    a heavy-tailed degree histogram predicts hot keys in every
    downstream join/propagation step, e.g. ``graph_pagerank_fixed``).

    Scale: two integer hash aggregations (node→degree, degree→count),
    both partial+final with map-side combine; output is bounded by the
    number of distinct degrees, not nodes. No floats anywhere."""
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


@query(
    "graph_triangle_doulion",
    oracle=f"""
WITH os AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
allpairs AS (
  SELECT DISTINCT x.s AS a, y.s AS b
  FROM os x JOIN os y ON x.o = y.o AND x.s < y.s),
sampled AS (
  SELECT a, b FROM allpairs
  WHERE {MD5_BIGINT("CAST(a AS VARCHAR) || '-' || CAST(b AS VARCHAR)")}
        % {DOULION_MOD} = 0),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM sampled e1
  JOIN sampled e2 ON e1.b = e2.a
  JOIN sampled e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM allpairs) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sampled) AS n_sampled,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS tri_sampled,
       (SELECT CAST(COUNT(*) * {DOULION_MOD ** 3} AS BIGINT) FROM tri)
           AS tri_estimate
""",
    category="L",
)
def graph_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting with DOULION edge sparsification (Tsourakakis
    et al., KDD'09 — public): each edge of the supplier co-order graph
    (suppliers sharing an order) survives a deterministic md5 coin with
    probability 1/{DOULION_MOD}; exact node-iterator triangle
    enumeration runs on the sparsified graph and the unbiased estimate
    is sampled·{DOULION_MOD}³. The coin is a hash of the canonical edge
    key, so both engines — and every partitioning — keep the same edges
    and the result is bit-exact integers, no tolerance.

    Scale: this IS the 100 TB triangle recipe — the co-occurrence
    projection is bounded per order (≤ lines²), the coin cuts the edge
    set {DOULION_MOD}× before the quadratic path join, and the two
    triangle joins are plain shuffle-hash joins on (b) then (a, c).
    Oriented edges (a < b) ensure each triangle counts exactly once."""
    li = t(spark, sf_dir, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    x, y = os_.alias("x"), os_.alias("y")
    allpairs = (
        x.join(y, (F.col("x.o") == F.col("y.o"))
               & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .distinct()
    )
    coin = (
        md5_bigint(
            F.concat_ws(
                "-", F.col("a").cast("string"), F.col("b").cast("string")
            )
        )
        % DOULION_MOD
    )
    sampled = allpairs.filter(coin == 0)
    e1, e2, e3 = sampled.alias("e1"), sampled.alias("e2"), sampled.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(F.col("e1.a").alias("ta"))
    )
    counts = tri.agg(F.count("*").alias("tc"))
    return (
        allpairs.agg(F.count("*").cast("bigint").alias("n_edges"))
        .crossJoin(
            F.broadcast(
                sampled.agg(F.count("*").cast("bigint").alias("n_sampled"))
            )
        )
        .crossJoin(
            F.broadcast(
                counts.select(
                    F.col("tc").cast("bigint").alias("tri_sampled"),
                    (F.col("tc") * DOULION_MOD**3)
                    .cast("bigint")
                    .alias("tri_estimate"),
                )
            )
        )
    )


_TWO_HOP_ORACLE = """
WITH os AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
edges AS (
  SELECT DISTINCT x.s AS src, y.s AS dst
  FROM os x JOIN os y ON x.o = y.o AND x.s <> y.s),
two_hop AS (
  SELECT DISTINCT e1.src, e2.dst
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
  WHERE e1.src <> e2.dst),
fof AS (
  SELECT t.src, t.dst FROM two_hop t
  LEFT JOIN edges d ON t.src = d.src AND t.dst = d.dst
  WHERE d.src IS NULL)
SELECT e.src AS supplier,
       CAST(COUNT(DISTINCT e.dst) AS BIGINT) AS n_direct,
       CAST(COALESCE(f.n_fof, 0) AS BIGINT) AS n_friends_of_friends
FROM edges e
LEFT JOIN (SELECT src, COUNT(*) AS n_fof FROM fof GROUP BY src) f
  ON e.src = f.src
GROUP BY e.src, f.n_fof
"""


@query("graph_two_hop_neighbors", oracle=_TWO_HOP_ORACLE, category="L")
def graph_two_hop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friends-of-friends profile on the co-order supplier graph: per
    supplier, direct-neighbor count and the count of distinct nodes at
    EXACTLY two hops (reachable via an intermediate, not adjacent, not
    self) — the expansion metric behind candidate generation in
    recommendation graphs and the cost predictor for 2-hop join plans.

    Scale: the 2-hop join is edges⋈edges on the shared node key (one
    co-partitioned shuffle); DISTINCT bounds the pair fan-out before the
    anti-join against direct edges. On power-law graphs the hub nodes
    dominate this join — the degree histogram (``graph_degree_stats``)
    is the pre-flight check, and hub-capping (drop nodes above a degree
    cap, as in the stop-shingle guard) is the documented knob.

    Memory envelope, honestly: in the SPARSE regime (N ≫ d, every real
    recommendation graph) the partial-distinct tables before the shuffle
    hold only each task's share of the ~N·d² intermediate pairs — spill-
    bounded, scales out. In the DENSE regime (d ≈ N, e.g. this fixture's
    co-order graph at sf0.1: 1 000 suppliers all co-ordering) every task
    sees nearly ALL N² distinct pairs, so map-side tables are Θ(N²) *per
    task* and a small-heap single JVM can OOM — that is the signal the
    exact-FOF question itself has become degenerate (the answer is
    "almost everyone"); switch to the hub-cap or an approx_count_distinct
    profile there. ``tools/driver_sim.py`` takes ``DRIVER_SIM_MEM`` for
    10×-scale re-verification runs on realistic heaps."""
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
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    two_hop = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e1.src") != F.col("e2.dst"))
        .select(F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst"))
        .distinct()
    )
    fof = two_hop.join(edges, ["src", "dst"], "left_anti")
    fof_counts = fof.groupBy("src").agg(F.count("*").alias("n_fof"))
    direct = edges.groupBy("src").agg(
        F.countDistinct("dst").alias("n_direct")
    )
    return (
        direct.join(fof_counts, "src", "left")
        .select(
            F.col("src").alias("supplier"),
            F.col("n_direct").cast("long").alias("n_direct"),
            F.coalesce("n_fof", F.lit(0))
            .cast("long")
            .alias("n_friends_of_friends"),
        )
    )


# --- HITS hubs & authorities (round 7) ------------------------------------

_HS = 100_000_000  # HITS mass in integer units (10^8): rescale products
# are bounded by maxdeg * _HS^2 = 5e16 << int64 max (user outdeg <= 5
# event types structurally; size _HS DOWN if the degree bound grows)


def _HITS_STEP(i: int) -> str:
    prev_h = f"h{i - 1}"
    return f"""
ar{i} AS (
  SELECT b.v AS node, SUM(h.hu) AS s
  FROM base b JOIN {prev_h} h ON b.u = h.node GROUP BY b.v),
at{i} AS (SELECT SUM(s) AS tot FROM ar{i}),
a{i} AS (
  SELECT node, CAST((s * {_HS}) // tot AS BIGINT) AS au
  FROM ar{i}, at{i}),
hr{i} AS (
  SELECT b.u AS node, SUM(a.au) AS s
  FROM base b JOIN a{i} a ON b.v = a.node GROUP BY b.u),
ht{i} AS (SELECT SUM(s) AS tot FROM hr{i}),
h{i} AS (
  SELECT node, CAST((s * {_HS}) // tot AS BIGINT) AS hu
  FROM hr{i}, ht{i})
"""


_HITS_ORACLE = (
    f"""
WITH base AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
                  'e' || event_type AS v
  FROM events),
hubs AS (SELECT DISTINCT u FROM base),
nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hubs),
h0 AS (SELECT u AS node, CAST({_HS} AS BIGINT) // n AS hu FROM hubs, nh)
"""
    + ","
    + ",".join(_HITS_STEP(i) for i in (1, 2))
    + """
SELECT node, 'hub' AS kind, hu AS score_units FROM h2
UNION ALL
SELECT node, 'authority', au FROM a2
"""
)


@query("graph_hits_fixed", oracle=_HITS_ORACLE, category="L")
def graph_hits_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration HITS (Kleinberg hubs & authorities) over the DIRECTED
    user→event-type graph — the centrality complement of
    ``graph_pagerank_fixed``: authorities score how much hub mass points
    at a node, hubs how much authority they point to. Same
    bit-exactness discipline as PageRank: all mass lives in BIGINT
    units, each half-step L1-renormalizes by integer floor division
    (classic HITS L2-normalizes in floats — summation-order-dependent
    and hash-breaking; L1 integer renormalization preserves the ranking
    fixed point and commutes across any partitioning). ``_HS`` = 10^8 is
    sized so rescale products stay ≤ maxdeg·_HS² ≪ int64.

    Scale: each half-iteration is one shuffle join (edges ⋈ scores on
    the join key) + one grouped BIGINT sum + a 1-row broadcast total —
    a static 4-stage DAG, no convergence loop, no collect.

    Round-13 optimization (guide §2.4; same criterion as
    ``graph_sssp_hops``): each half-step's raw aggregate feeds BOTH its
    L1 total and the rescaled scores, and the next half-step joins
    those scores back against ``base`` — so pure lineage COMPOUNDS
    (the round-1 join subtree re-ran inside every later half-step;
    182 exchanges planned). A lazy ``localCheckpoint`` on each
    half-step's raw aggregate truncates the growth at the smallest
    frame in the loop (|nodes| rows, pre-rescale). Bit-identical
    results (equality-gated at sf0.1); interleaved same-session, both
    orderings: old 3.89/3.49/2.97/3.38 s vs new 2.54/1.92/2.08/2.08 s
    — new won 4 of 4 adjacent pairs (~1.6×)."""
    base = t(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("e"), F.col("event_type")).alias("v"),
    ).distinct()
    hubs = base.select("u").distinct()
    nh = hubs.agg(F.count("*").alias("n"))
    h = hubs.crossJoin(F.broadcast(nh)).select(
        F.col("u").alias("node"),
        F.expr(f"CAST({_HS} AS BIGINT) div n").alias("hu"),
    )
    a = None
    for _ in range(2):
        araw = (
            base.join(h, base.u == h.node)
            .groupBy("v")
            .agg(F.sum("hu").alias("s"))
            .localCheckpoint(eager=False)
        )
        atot = araw.agg(F.sum("s").alias("tot"))
        a = araw.crossJoin(F.broadcast(atot)).select(
            F.col("v").alias("node"),
            F.expr(f"CAST((s * {_HS}) div tot AS BIGINT)").alias("au"),
        )
        hraw = (
            base.join(a, base.v == a.node)
            .groupBy("u")
            .agg(F.sum("au").alias("s"))
            .localCheckpoint(eager=False)
        )
        htot = hraw.agg(F.sum("s").alias("tot"))
        h = hraw.crossJoin(F.broadcast(htot)).select(
            F.col("u").alias("node"),
            F.expr(f"CAST((s * {_HS}) div tot AS BIGINT)").alias("hu"),
        )
    return h.select(
        "node", F.lit("hub").alias("kind"), F.col("hu").alias("score_units")
    ).unionAll(
        a.select(
            "node",
            F.lit("authority").alias("kind"),
            F.col("au").alias("score_units"),
        )
    )


# --- BFS layers from a deterministic seed ---------------------------------

BFS_ROUNDS = 4  # fixed frontier expansions (graph diameter here is ~3)

_BFS_EDGES_SQL = """
base AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
                  'e' || event_type AS v
  FROM events),
edges AS (
  SELECT u AS src, v AS dst FROM base
  UNION ALL
  SELECT v AS src, u AS dst FROM base)"""


def _bfs_oracle() -> str:
    stages = [
        _BFS_EDGES_SQL.strip(),
        """f0 AS (SELECT MIN(src) AS node FROM edges),
lab0 AS (SELECT node, CAST(0 AS INT) AS layer FROM f0)""",
    ]
    for r in range(1, BFS_ROUNDS + 1):
        seen = " UNION ALL ".join(
            f"SELECT node FROM lab{i}" for i in range(r)
        )
        stages.append(f"""n{r} AS (
  SELECT DISTINCT e.dst AS node
  FROM edges e JOIN lab{r - 1} f ON e.src = f.node),
lab{r} AS (
  SELECT node, CAST({r} AS INT) AS layer FROM n{r}
  WHERE node NOT IN ({seen}))""")
    union = "\nUNION ALL\n".join(
        f"SELECT node, layer FROM lab{r}" for r in range(BFS_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(stages) + "\n" + union


@query("graph_bfs_layers_fixed", oracle=_bfs_oracle(), category="L")
def graph_bfs_layers_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS layers ({BFS_ROUNDS} fixed frontier
    expansions) over the user↔event-type bipartite graph — hop-count
    shortest paths from a deterministic seed (the lexicographically
    smallest node), the traversal primitive the graph family was
    missing next to PageRank/HITS/CC/k-core. Layer = first round a
    node is reached; integers only, no tie-break needed (every
    frontier is a set).

    Scale: each round is one join of the frontier against the edge
    list (both hash-partitioned on the node key), a DISTINCT, and an
    anti-join against the labeled set — the textbook distributed-BFS
    round, no driver-side collect of any frontier; rounds
    lineage-truncate with lazy localCheckpoints. The fixture graph's
    diameter is ~3, so {BFS_ROUNDS} rounds label every reachable node;
    the unrolled-CTE oracle runs the identical expansion."""
    from dbsuite_spark.tables import memo_cache

    edges = memo_cache(_edges(spark, sf_dir), f"bfs_edges:{sf_dir}")
    labeled = (
        edges.agg(F.min("src").alias("node"))
        .select("node", F.lit(0).cast("int").alias("layer"))
        .localCheckpoint(eager=False)
    )
    frontier = labeled.select("node")
    out = labeled
    for r in range(1, BFS_ROUNDS + 1):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(out.select("node"), "node", "left_anti")
            .select("node", F.lit(r).cast("int").alias("layer"))
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(nxt)
        frontier = nxt.select("node")
    return out


# --- landmark closeness centrality ----------------------------------------

CLOSENESS_ROUNDS = 4  # per-landmark BFS depth (graph diameter ~3)


def _closeness_oracle() -> str:
    stages = [
        _BFS_EDGES_SQL.strip(),
        """lm AS (SELECT src AS landmark FROM edges
         WHERE src LIKE 'e%' GROUP BY src),
lab0 AS (SELECT landmark, landmark AS node, CAST(0 AS INT) AS dist
         FROM lm)""",
    ]
    for r in range(1, CLOSENESS_ROUNDS + 1):
        seen = " UNION ALL ".join(
            f"SELECT landmark, node FROM lab{i}" for i in range(r)
        )
        stages.append(f"""n{r} AS (
  SELECT DISTINCT f.landmark, e.dst AS node
  FROM edges e JOIN lab{r - 1} f ON e.src = f.node),
lab{r} AS (
  SELECT n.landmark, n.node, CAST({r} AS INT) AS dist FROM n{r} n
  WHERE NOT EXISTS (SELECT 1 FROM ({seen}) s
                    WHERE s.landmark = n.landmark
                      AND s.node = n.node))""")
    union = "\nUNION ALL\n".join(
        f"SELECT landmark, node, dist FROM lab{r}"
        for r in range(CLOSENESS_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(stages)
        + f""",
alldist AS ({union})
SELECT node,
       CAST(COUNT(*) AS BIGINT) AS n_landmarks,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CAST(COUNT(*) AS DOUBLE) / SUM(dist) AS closeness
FROM alldist WHERE dist > 0 GROUP BY node
"""
    )


@query("graph_closeness_landmarks", oracle=_closeness_oracle(), category="L")
def graph_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-based closeness centrality — the scalable form of the
    classic metric (exact closeness needs all-pairs shortest paths;
    production systems measure distances to a small landmark set
    instead): a MULTI-SOURCE BFS carries (landmark, node) state through
    {CLOSENESS_ROUNDS} frontier expansions from every event-type node
    at once, then closeness(node) = |landmarks| / Σ dist(node,
    landmark) over reached landmarks (self pairs excluded). Integer
    distances, one mirrored division.

    Scale: the multi-source trick runs ALL landmark BFS trees in the
    SAME per-round join (state is (landmark, node) pairs — |L|× the
    single-source state, one pass regardless of |L|); rounds are
    frontier⋈edges + DISTINCT + anti-join, lineage-truncated — the
    ``graph_bfs_layers_fixed`` envelope generalized to keyed sources."""
    from dbsuite_spark.tables import memo_cache

    edges = memo_cache(_edges(spark, sf_dir), f"bfs_edges:{sf_dir}")
    lm = (
        edges.filter(F.col("src").startswith("e"))
        .select(F.col("src").alias("landmark"))
        .distinct()
    )
    labeled = lm.select(
        "landmark",
        F.col("landmark").alias("node"),
        F.lit(0).cast("int").alias("dist"),
    ).localCheckpoint(eager=False)
    frontier = labeled.select("landmark", "node")
    out = labeled
    for r in range(1, CLOSENESS_ROUNDS + 1):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select("landmark", F.col("dst").alias("node"))
            .distinct()
            .join(out.select("landmark", "node"), ["landmark", "node"], "left_anti")
            .select("landmark", "node", F.lit(r).cast("int").alias("dist"))
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(nxt)
        frontier = nxt.select("landmark", "node")
    return (
        out.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count("*").cast("bigint").alias("n_landmarks"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
            (F.count("*").cast("double") / F.sum("dist")).alias("closeness"),
        )
    )
