"""Category L — document deduplication (SURVEY §2L: ``dedup_exact``,
``dedup_exact_jaccard``, ``dedup_near_minhash``).

Driver-mandated LLM-pipeline scope [SURVEY §0; BASELINE.json north_star].
The fixtures seed 20 near-duplicate groups (texts sharing a 60-char
prefix); profiled this session: word-3-gram-shingle Jaccard separates them
perfectly — true pairs ≥ 0.889, all others ≤ 0.069 — so the pipeline
threshold is pinned at 0.5.

Scale design (100 TB):
- ``dedup_exact`` is one hash-window pass — the always-cheap first stage.
- ``dedup_exact_jaccard`` counts shared shingles per doc pair: exact,
  but pair volume explodes on high-frequency shingles, so stop-shingles
  (document frequency > DF_CAP) are dropped first — bounding any
  shingle's pair contribution at DF_CAP² while leaving fixture recall
  untouched (asserted in tests/test_pipeline.py). Since round 13 the
  cap is a count window and pairs are emitted inside per-shingle doc
  buckets (``_capped_pair_stats``) riding ONE s-exchange, instead of
  the old cap-anti-join + index self-join that rebuilt the shingle
  chain once per branch.
- ``dedup_near_minhash`` is the scale path: 24 MinHashes → 12 bands of 2 →
  candidates only where a band collides (one shuffle on band key), then
  exact Jaccard verification on candidates only. With the fixture's
  J ≥ 0.889 pairs, miss probability per pair is (1-J²)^12 < 1e-8 — and the
  hash functions are fixed (xxhash64 with literal seeds), so the outcome
  is deterministic: the verified output provably equals the exact result,
  which is why this key carries a full SQL oracle rather than a weak one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import fan_out, memo_frame, t

JACCARD_THRESHOLD = 0.5
N_HASHES = 24
BAND_SIZE = 2  # 12 bands
DF_CAP = 100  # stop-shingle document-frequency cap for the exact path
BAND_BUCKET_CAP = 200  # max docs per LSH band-bucket before it is dropped


def shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; empty array for texts shorter than n
    tokens (Spark's sequence() would otherwise count backwards)."""
    toks = F.split(text_col, " ")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))
    )


def _shingle_rows(
    spark: SparkSession, sf_dir: str, key: str | None = None
) -> DataFrame:
    """(doc_id, shingle) exploded index — the substrate for both the exact
    and the MinHash paths. ``key="doc_id"`` hash-partitions the fan_out
    (see below) — pass it when the CONSUMER aggregates by doc_id."""
    # Round-13 re-measurement reversed the earlier no-fan_out decision:
    # that decision was taken under the pre-r13 leaky cache-clear, where
    # only a session's FIRST build paid the shingle cost and the narrow
    # explode looked cheap. Under honest cold runs (clear_session_cache
    # now empties the CacheManager) the single-task tokenize+shingle
    # explode of the one-row-group documents scan is the dominant stage
    # of every MinHash-path build — 3.3 s vs 0.6 s with fan_out,
    # interleaved same-session at sf0.1 (guide §2.5 input-skew: one
    # unsplittable input serializes everything fused onto it). At
    # corpus scale the scan is already wide and fan_out is the identity.
    # Round-14: callers whose downstream aggregates by doc_id pass
    # key="doc_id" — the fan_out exchange then establishes
    # hashpartitioning(doc_id), which explode PRESERVES, so those
    # groupBys plan with ZERO further exchanges, and the keyless
    # repartition's sort-before-repartition of the heavy text rows
    # disappears (fan_out docstring). Scoped per consumer by
    # measurement: the MinHash chain (sig groupBy + verify cand_arrs
    # groupBy both keyed doc_id) won 5/6 and 6/6 interleaved rounds at
    # sf0.1 (minhash median 2.87→2.36 s, CC 3.54→3.11 s; plan 66→59
    # nodes, 7→5 exchanges), while the exact-Jaccard family — whose
    # substrate re-shuffles by shingle anyway — measured a slight LOSS
    # (1/6; hash(doc_id) balances the tokenize stage marginally worse
    # than round-robin), so it keeps the default. doc_id is a dense
    # unique id: hash-even at any scale, no §2.5 skew hazard.
    d = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"), key=key)
    return d.select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("s")
    )


_JACCARD_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, len(tk) - 2),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
       FROM toks),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT d1, d2,
       CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) >= {JACCARD_THRESHOLD}
"""

# Same computation over the DF-capped shingle index (stop-shingles with
# document frequency > DF_CAP removed before the self-join) — the operator
# semantics of dedup_exact_jaccard. The CTE prefix is exported so
# downstream oracles (dedup_minhash_estimate_error) share the pair
# definition instead of hand-copying it (round-6 review).
JACCARD_CAPPED_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh0 AS (SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(tk) - 2),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM toks),
stop AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {DF_CAP}),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM stop)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
capped_pairs AS (
  SELECT d1, d2, CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) AS jaccard
  FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) >= {JACCARD_THRESHOLD})"""

_JACCARD_CAPPED_ORACLE = f"""
WITH {JACCARD_CAPPED_CTE}
SELECT d1, d2, jaccard FROM capped_pairs
"""


def cap_stop_shingles(sh: DataFrame, cap: int = DF_CAP) -> DataFrame:
    """Drop stop-shingles (document frequency > cap) from the (doc_id, s)
    index. The stop set is tiny by construction (only ultra-common
    shingles exceed the cap), so it broadcasts — the anti-join adds no
    shuffle beyond the df aggregation. This bounds the worst shingle's
    self-join contribution at cap², which is what keeps the exact path
    from exploding on a 100 TB corpus's boilerplate n-grams."""
    stop = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    return sh.join(F.broadcast(stop), "s", "left_anti")


def _capped_pair_stats(sh: DataFrame, cap: int = DF_CAP) -> DataFrame:
    """(d1, d2, ni, n1, n2) for every co-shingled pair of the DF-capped
    shingle index — the shared substrate of the exact pairwise detectors
    (``dedup_exact_jaccard`` and ``dedup_containment`` attach one
    division each; ``pipeline_dedup_corpus`` / ``docs_split_leakage_check``
    consume the Jaccard form).

    Round-13 rewrite (guide §2.3/§2.4 — the same pattern as the MinHash
    band-bucket change): the old shape was ``cap_stop_shingles`` (df
    aggregation + broadcast anti-join) feeding an index SELF-JOIN on s,
    plus a third branch for per-doc sizes — the planner built the whole
    scan→shingle→cap chain once per branch (an Exchange and a
    BroadcastExchange over identical children cannot be merged by
    ReuseExchange), so one run scanned and shingled the corpus several
    times. Now ONE chain: the df cap is a count window over the
    s-exchange (streaming/spilling — a flooded stop-shingle is dropped
    without ever materializing its bucket), per-shingle doc lists ride
    that same exchange (zero new shuffles), each bucket emits its
    d1 < d2 pairs row-locally (arrays are df ≤ cap rows, so both the
    array and the cap² pair fan-out keep the bound the anti-join
    provided), and per-doc sizes are recovered by exploding the buckets
    back. The STATIC plan still prints the chain once per consuming
    branch (pairs + two size joins), but the branches are now
    canonically identical shuffle exchanges, so AQE collapses them at
    runtime — verified on the executed plan (isFinalPlan=true,
    2 ReusedExchange at sf0.01): one corpus shingle pass feeds all
    three, which the old Exchange-vs-BroadcastExchange mix made
    impossible. ``ni`` (shared capped shingles) and
    ``n`` (capped shingles per doc) are the same exact integers the
    self-join computed: row-identical at sf0.01 AND sf0.1 vs the old
    path (equality-gated before adoption; law in
    tests/test_pipeline.py::test_capped_pair_stats_equals_self_join).
    Interleaved same-session at sf0.1 the Jaccard form won 10/10
    adjacent rounds vs the old path, both orderings (min 2.70 → 2.02 s).
    """
    ws = Window.partitionBy("s")
    capped = (
        sh.withColumn("df", F.count("*").over(ws))
        .filter(F.col("df") <= cap)
        .drop("df")
    )
    buckets = capped.groupBy("s").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    sizes = (
        buckets.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("ds"),
            # two-param transform binds (element, index) — index wanted
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    inter = (
        buckets.filter(F.size("ds") >= 2)
        .select(F.explode(pairs_arr).alias("p"))
        .select("p.d1", "p.d2")
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("ni"))
    )
    return inter.join(
        sizes.withColumnsRenamed({"doc_id": "d1", "n": "n1"}), "d1"
    ).join(sizes.withColumnsRenamed({"doc_id": "d2", "n": "n2"}), "d2")


def _capped_jaccard_pairs(sh: DataFrame, cap: int = DF_CAP) -> DataFrame:
    """Exact DF-capped Jaccard pairs (d1, d2, jaccard ≥ threshold) over
    the bucket-pair substrate — jaccard = ni/(n1+n2−ni), one division of
    exact integers, bit-identical to the old self-join path."""
    return (
        _capped_pair_stats(sh, cap)
        .select(
            "d1",
            "d2",
            (
                F.col("ni").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("ni"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _jaccard_on(
    pairs_or_none: DataFrame | None, sh: DataFrame
) -> DataFrame:
    """Exact Jaccard (d1, d2, jaccard ≥ threshold). When ``pairs_or_none``
    is given, only those candidate pairs are scored (the MinHash verify
    step); otherwise all co-shingled pairs are (the exact path)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    if pairs_or_none is not None:
        # Verify mode: cut the shingle index down to candidate docs BEFORE
        # the shingle self-join — the candidate set is tiny, so both join
        # inputs shrink by orders of magnitude (this is what makes the
        # MinHash path cheap; joining first and filtering after would
        # re-run the full exact join).
        a = a.join(
            pairs_or_none.select("d1").distinct(), "d1", "left_semi"
        )
        b = b.join(
            pairs_or_none.select("d2").distinct(), "d2", "left_semi"
        )
    inter = (
        a.join(b, ["s"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("ni"))
    )
    if pairs_or_none is not None:
        inter = inter.join(pairs_or_none, ["d1", "d2"], "left_semi")
    jac = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc_id": "d2", "n": "n2"}), "d2")
        .select(
            "d1",
            "d2",
            (
                F.col("ni").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("ni"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


@query(
    "dedup_exact",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (
      PARTITION BY md5(substr(text, 1, 60)) ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
""",
    category="L",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized text key (md5 of the leading 60 chars —
    the fixture's seeded duplication key; raw texts have 0 exact dups),
    keeping the lowest doc_id per group. One hash + one window, the
    standard first stage of any 100 TB dedup pipeline."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy(
        F.md5(F.substring(F.col("text"), 1, 60))
    ).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


@query("dedup_exact_jaccard", oracle=_JACCARD_CAPPED_ORACLE, category="L")
def dedup_exact_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise shingle-Jaccard ≥ 0.5 over the DF-capped shingle
    index (stop-shingles with document frequency > DF_CAP dropped first
    — the scale guard the docstring above describes; the oracle applies
    the same cap). jaccard = ni/(n1+n2-ni) is a single division of exact
    integers — bit-identical across engines. Pair recall vs the uncapped
    index is asserted unchanged in tests/test_pipeline.py. Pairs come
    from the round-13 bucket substrate (``_capped_pair_stats``): one
    corpus scan and one s-exchange instead of the old per-branch chain
    rebuilds (row-identical, equality-gated at both scales)."""
    return _capped_jaccard_pairs(_shingle_rows(spark, sf_dir))


def _minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pair pipeline (MinHash → banded LSH →
    exact-Jaccard verify), shared by ``dedup_near_minhash`` (which emits
    it) and ``dedup_connected_components`` (which clusters it). The
    whole chain — doc signatures, candidate set, verified pairs — is
    memoized per session, so a session that runs several dedup stages
    (the bench, the corpus pipeline) pays for the signature/banding
    chain once and never rebuilds it (VERDICT r07 hygiene). Every
    plan-shaping tunable is folded into the memo key so a changed (or
    test-monkeypatched) constant rebuilds rather than returning the
    stale frame."""
    return memo_frame(
        spark,
        f"minhash_pairs:{sf_dir}:{N_HASHES}:{BAND_BUCKET_CAP}:"
        f"{JACCARD_THRESHOLD}",
        lambda: _minhash_verified_pairs_build(spark, sf_dir),
    )


def _minhash_verified_pairs_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Each shared intermediate is an EAGER localCheckpoint, computed by
    # one job: under AQE a lazy .cache() is materialised once per
    # REFERENCE (candidates ran three times, cand_arrs and the pairs
    # twice each: 255 tasks for a cold CC build at sf0.01 on a 4-core
    # host, 37 checkpointed). The first checkpoint is one row per doc —
    # signature AND distinct-shingle array from one aggregation riding
    # the keyed fan_out's hashpartitioning(doc_id) — not the (doc,
    # shingle) index: a checkpoint taken under AQE reports
    # UnknownPartitioning, so both doc_id groupBys over a checkpointed
    # index re-shuffled it (+32% shuffle bytes).
    docs = (
        _shingle_rows(spark, sf_dir, key="doc_id")
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64("s", F.lit(j))).alias(f"h{j}")
                for j in range(N_HASHES)
            ],
            F.collect_list("s").alias("arr"),
        )
        .localCheckpoint()
    )
    n_bands = N_HASHES // BAND_SIZE
    bands = docs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                f"h{b * BAND_SIZE + r}"
                                for r in range(BAND_SIZE)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    # Band-bucket population cap (VERDICT r04): a degenerate corpus of
    # near-identical docs puts them all in ONE bucket per band, making
    # per-bucket pair generation quadratic in corpus size. Buckets over
    # BAND_BUCKET_CAP are dropped first, via a window count over
    # (band, key) — the window sorts/streams and spills gracefully, so a
    # flooded bucket is discarded without ever materializing it (which is
    # why the cap filter stays a window rather than a size() test on the
    # collected bucket below). Honest recall note: a
    # true pair that ONLY collides in dropped buckets is lost; at
    # J ≥ 0.5 a pair collides in each of the 12 bands with prob
    # J^BAND_SIZE ≥ 0.25, so survival through ≥1 un-dropped band is
    # overwhelmingly likely unless ALL bands are flooded — i.e. a mass
    # of literally-identical docs, which the exact-dedup stage
    # (dedup_exact, run FIRST in pipeline_dedup_corpus) collapses before
    # MinHash ever sees them. On the fixture no bucket approaches the
    # cap (asserted in tests/test_pipeline.py), so the key keeps the
    # exact-Jaccard oracle.
    wb = Window.partitionBy("band", "key")
    capped = (
        bands.withColumn("bn", F.count("*").over(wb))
        .filter(F.col("bn") <= BAND_BUCKET_CAP)
        .drop("bn")
    )
    # Candidate pairs are emitted INSIDE each band bucket (round 13)
    # rather than by self-joining the band index, which planned a second
    # copy of the whole signature subtree. collect_list over (band, key)
    # rides the cap window's exchange, and the sorted bucket array emits
    # each d1 < d2 pair row-locally; buckets hold ≤ BAND_BUCKET_CAP docs,
    # so the cap² pair fan-out stays bounded.
    buckets = (
        capped.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("ds"),
            # two-param transform binds (element, index) — index wanted
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    # The candidate set is tiny (collision pairs only) but referenced
    # three times below (the doc-set union + two pair joins).
    candidates = (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
        .localCheckpoint()
    )
    # Verify (round 13): array_intersect over the candidate docs' shingle
    # ARRAYS instead of _jaccard_on's index join (a whole-index shuffle
    # for a handful of candidate docs). The arrays are exact distinct
    # shingle sets, so |a1 ∩ a2| ≡ the s-join count and size(arr) ≡ the
    # sizes aggregate: jaccard is the same division of the same exact
    # integers (row-identical vs the DuckDB oracle at sf0.01/sf0.1). No
    # .distinct() on the doc set: a left-semi probe ignores duplicates.
    cand_docs = candidates.select(F.col("d1").alias("doc_id")).union(
        candidates.select(F.col("d2"))
    )
    # Feeds TWO joins (keyed d1 and d2); candidate-bounded.
    cand_arrs = (
        docs.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .select("doc_id", "arr")
        .localCheckpoint()
    )
    scored = (
        candidates.join(
            cand_arrs.select(
                F.col("doc_id").alias("d1"), F.col("arr").alias("a1")
            ),
            "d1",
        )
        .join(
            cand_arrs.select(
                F.col("doc_id").alias("d2"), F.col("arr").alias("a2")
            ),
            "d2",
        )
        .withColumn("ni", F.size(F.array_intersect("a1", "a2")))
        .select(
            "d1",
            "d2",
            (
                F.col("ni").cast("double")
                / (F.size("a1") + F.size("a2") - F.col("ni"))
            ).alias("jaccard"),
        )
    )
    # The verified pair set is tiny (near-dup pairs only) and referenced
    # twice by CC alone (the edge union of both directions), and by
    # several keys in one session through the memo.
    return scored.filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    ).localCheckpoint()


@query("dedup_near_minhash", oracle=_JACCARD_ORACLE, category="L")
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection at scale: 24 xxhash64 MinHashes per doc (one
    groupBy), 12 bands of 2 exploded to a band index, candidate pairs
    emitted inside each sorted band-bucket array, exact-Jaccard
    verification of candidates only. Deterministic (fixed hash seeds)
    with <1e-8 analytic miss risk on the fixture's J≥0.889 pairs →
    verified output equals the exact result, so it shares the exact
    key's SQL oracle (tested at every sf)."""
    return _minhash_verified_pairs(spark, sf_dir)


CC_MAX_ROUNDS = 50  # safety bound well above any near-dup cluster diameter

_CC_ORACLE = f"""
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, len(tk) - 2),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
       FROM toks),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
pairs AS (SELECT d1, d2 FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(ni AS DOUBLE) / (s1.n + s2.n - ni)
                >= {JACCARD_THRESHOLD}),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id)
SELECT doc_id, CAST(component AS BIGINT) AS component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS comp_size
FROM comp
"""


def _checkpoint_label_sum(labels: DataFrame) -> tuple[DataFrame, int]:
    """Eagerly checkpoint ``labels`` and return it with its ``lbl`` sum,
    observed by the checkpoint's own job instead of a second aggregate
    job over the materialised frame.

    The checkpoint is re-wrapped over its row RDD so it carries no size
    estimate: a checkpoint keeps its plan's, and a join estimates the
    PRODUCT of its children's, so each round's estimate had about four
    times the digits of the last (a 106-edge graph needing 21 rounds
    spent about 270 s in planner BigInt products; 6.4 s re-wrapped)."""
    obs = Observation()
    cp = labels.observe(obs, F.sum("lbl").alias("s")).localCheckpoint()
    spark = cp.sparkSession
    cp = DataFrame(
        spark._jsparkSession.createDataFrame(cp._jdf.rdd(), cp._jdf.schema()),
        spark,
    )
    return cp, obs.get["s"]


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id, lbl) connected-component labels for an undirected pair list,
    via min-label propagation WITH per-round pointer jumping (path
    compression — the Rastogi et al. HashToMin idea): each round first
    takes the min label over the closed neighborhood (one edge join +
    partial-aggregated groupBy, exactly GraphX's propagation step), then
    compresses ``lbl ← lbl[lbl]`` with a label self-join. Plain
    propagation needs O(diameter) rounds — near-dup cliques converge in
    1, but threshold graphs (semantic dedup at cos ≥ 0.3) form long
    chains; compression makes label trees halve in height every round,
    so convergence is O(log diameter) (measured: a 1000-node path
    converges in 10 rounds vs ~1000 without). Label values are always
    node ids, so the jump join always finds its target. Lineage is cut
    per round with an eager ``localCheckpoint``; convergence is detected
    from the label-sum (strictly decreasing while anything changes, equal
    ⇔ propagation fixpoint — jumping never increases a label), observed
    by that checkpoint's own job — one job per round, no separate sum
    action. ``CC_MAX_ROUNDS`` bounds the worst case."""
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).toDF("src", "dst").localCheckpoint()
    # Seed labels with min(id, min direct neighbor) — equivalent to one
    # propagation round, computed inside the same aggregation that
    # collects the node set, so convergence needs one fewer iteration.
    # Baseline the convergence metric on the SEED labels: near-dup
    # clusters are usually cliques (every pair detected), where the
    # min(id, min-neighbor) seed is already the fixpoint — priming
    # prev_sum lets round 1's equality check exit after ONE propagation
    # round instead of needing a second confirming round.
    labels, prev_sum = _checkpoint_label_sum(
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("mn"))
        .select("id", F.least("id", "mn").alias("lbl"))
    )
    for _ in range(CC_MAX_ROUNDS):
        nbr = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(edges.dst.alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        propagated, cur_sum = _checkpoint_label_sum(
            labels.join(nbr, "id", "left").select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
        )
        if cur_sum == prev_sum:
            return propagated
        prev_sum = cur_sum
        # Pointer jump, folded LAZILY into the next round's input: follow
        # one's label to ITS label (labels are node ids, so the self-join
        # target always exists). Both sides read the checkpoint just
        # materialized, so compression costs no extra job — and a clique
        # graph that converges in round 1 never pays for it at all.
        # Convergence stays sound: per-node labels are non-increasing
        # through jump AND propagate, so sum equality across a round ⇔
        # the propagation fixpoint was already reached.
        target = propagated.select(
            F.col("id").alias("t_id"), F.col("lbl").alias("t_lbl")
        )
        labels = propagated.join(
            target, propagated.lbl == target.t_id, "left"
        ).select(
            "id",
            F.least(
                F.col("lbl"), F.coalesce(F.col("t_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )
    # Convergence already broke out above; falling through means labels
    # are NOT a fixpoint — wrong components. Fail loudly, never silently.
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
    )


@query("dedup_connected_components", oracle=_CC_ORACLE, category="L")
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation — the PRODUCTION near-dup pairs
    (``_minhash_verified_pairs``: MinHash → banded LSH → exact-Jaccard
    verify, the same pipeline ``dedup_near_minhash`` emits) become
    connected components via ``connected_components`` min-label
    propagation; component id = min doc_id in the cluster. Consuming the
    LSH path here is the 100 TB design — cluster formation never touches
    the quadratic exact self-join — and same-session it rides the
    memoized signature/candidate chain instead of recomputing a second pair
    substrate. The verified pairs equal the exact-Jaccard pairs ON THE
    CURRENT FIXTURES (a fixture-scoped guarantee, not a general one: the
    <1e-8 analytic miss bound in ``dedup_near_minhash`` holds for the
    fixtures' J ≥ 0.889 pairs, but a J near the 0.5 threshold has ~3%
    per-pair miss probability and ``BAND_BUCKET_CAP`` can drop true
    pairs in hot buckets — ADVICE r05), so the DuckDB oracle is the
    exact-pair recursive CTE, and ``dedup_minhash_recall`` is the
    mandatory gate that fails loudly whenever fixtures change instead of
    letting an LSH miss surface as a hash mismatch here. Near-dup
    clusters are shallow by
    nature (diameter ≪ rounds); the fixpoint is asserted in
    tests/test_pipeline.py."""
    pairs = _minhash_verified_pairs(spark, sf_dir).select("d1", "d2")
    labels = connected_components(pairs)
    w_comp = Window.partitionBy("component")
    return labels.select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("component")
    ).withColumn("comp_size", F.count("*").over(w_comp).cast("bigint"))


BENCH_MOD = 50  # doc_id % 50 == 0 → the held-out "benchmark" docs
CONTAM_PCT = 10  # contaminated when overlap ≥ 10% of a doc's shingles

_CONTAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, len(tk) - 2),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
       FROM toks),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
hits AS (SELECT c.doc_id, COUNT(*) AS n_overlap
         FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id)
SELECT z.doc_id, CAST(z.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(h.n_overlap, 0) * 100 >= z.n_shingles * {CONTAM_PCT}
           AS contaminated
FROM sizes z LEFT JOIN hits h ON z.doc_id = h.doc_id
"""


@query("docs_contamination_check", oracle=_CONTAM_ORACLE, category="L")
def docs_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screening: flag corpus docs whose shingle
    overlap with a held-out benchmark set reaches 10%. The benchmark
    shingle set is tiny relative to the corpus (eval suites always are),
    so it broadcasts — the corpus is scanned once, semi-joined map-side,
    and aggregated partial+final; no shuffle of corpus shingles against
    each other. The contamination predicate is pure integer arithmetic
    (overlap·100 ≥ n·10) → engine-exact."""
    sh = _shingle_rows(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("s").distinct()
    )
    corpus = sh.filter(F.col("doc_id") % BENCH_MOD != 0)
    sizes = corpus.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles")
    )
    hits = (
        corpus.join(F.broadcast(bench), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        (
            F.coalesce(F.col("n_overlap"), F.lit(0)) * 100
            >= F.col("n_shingles") * CONTAM_PCT
        ).alias("contaminated"),
    )


_PIPELINE_ORACLE = f"""
WITH RECURSIVE
keep1 AS (SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (
      PARTITION BY md5(substr(text, 1, 60)) ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1),
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM keep1),
sh0 AS (SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(tk) - 2),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM toks),
stop AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {DF_CAP}),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM stop)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
pairs AS (SELECT d1, d2 FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(ni AS DOUBLE) / (s1.n + s2.n - ni)
                >= {JACCARD_THRESHOLD}),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
noncanon AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(lbl))
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
FROM keep1 WHERE doc_id NOT IN (SELECT id FROM noncanon)
"""


@query("pipeline_dedup_corpus", oracle=_PIPELINE_ORACLE, category="L")
def pipeline_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline end to end — what a training-data run
    actually executes: (1) exact dedup by normalized-text hash window,
    (2) near-dup pairs over the survivors (DF-capped exact Jaccard; at
    corpus scale the MinHash candidate pass slots in front, same pairs),
    (3) connected components, (4) keep only each cluster's canonical
    (min doc_id) member. Stages compose the already-verified operators;
    the oracle recomputes the identical end-state with a recursive CTE."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy(
        F.md5(F.substring(F.col("text"), 1, 60))
    ).orderBy("doc_id")
    keep1 = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    sh = keep1.select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("s")
    )
    pairs = _capped_jaccard_pairs(sh).select("d1", "d2")
    noncanon = (
        connected_components(pairs)
        .filter(F.col("id") != F.col("lbl"))
        .select(F.col("id").alias("doc_id"))
    )
    return keep1.join(noncanon, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


_LEAK_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh0 AS (SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(tk) - 2),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM toks),
stop AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {DF_CAP}),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM stop)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
pairs AS (
  SELECT d1, d2, CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) AS jaccard
  FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) >= {JACCARD_THRESHOLD}),
splits AS (
  SELECT doc_id,
         CASE WHEN h < 90 THEN 'train'
              WHEN h < 95 THEN 'valid'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               {MD5_BIGINT("CAST(doc_id AS VARCHAR)")} % 100 AS h
        FROM documents))
SELECT p.d1, p.d2, s1.split AS split1, s2.split AS split2, p.jaccard
FROM pairs p
JOIN splits s1 ON p.d1 = s1.doc_id
JOIN splits s2 ON p.d2 = s2.doc_id
WHERE s1.split <> s2.split
"""


@query("docs_split_leakage_check", oracle=_LEAK_ORACLE, category="L")
def docs_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity check: near-duplicate pairs that STRADDLE the
    deterministic train/valid/test split (``docs_train_test_split``) —
    each one is evaluation contamination (a test document with a
    near-copy in train). Composes the capped exact-Jaccard substrate
    with the hash split; at corpus scale the MinHash candidate pass
    slots in front, same pairs. The split is recomputed as a row-local
    expression on each pair endpoint — no join against a per-document
    split table, so the check adds zero shuffles to the pair substrate.
    The fix for every reported pair is to move the whole duplicate
    CLUSTER to one split (components from
    ``dedup_connected_components``)."""

    def split_of(doc: F.Column) -> F.Column:
        h = md5_bigint(doc.cast("string")) % 100
        return (
            F.when(h < 90, "train").when(h < 95, "valid").otherwise("test")
        )

    pairs = _capped_jaccard_pairs(_shingle_rows(spark, sf_dir))
    return (
        pairs.withColumn("split1", split_of(F.col("d1")))
        .withColumn("split2", split_of(F.col("d2")))
        .filter(F.col("split1") != F.col("split2"))
        .select("d1", "d2", "split1", "split2", "jaccard")
    )


_CLUSTER_STATS_ORACLE = f"""
WITH cc AS ({_CC_ORACLE})
SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_docs,
       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
       CAST(MAX(comp_size) AS BIGINT) AS max_cluster_size,
       CAST(COUNT(*) - COUNT(DISTINCT component) AS BIGINT) AS n_redundant
FROM cc
"""


@query("dedup_cluster_stats", oracle=_CLUSTER_STATS_ORACLE, category="L")
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executive dedup report over the duplicate clusters: how many
    documents sit in near-dup clusters, how many clusters, the largest
    cluster, and the redundant-document count (docs removed when one
    canonical survives per cluster) — the single-row dashboard a corpus
    release publishes next to its dedup stage.

    Composes the verified ``dedup_connected_components`` labels (same
    recursive-CTE oracle as a CTE here) and adds one global aggregation
    of the bounded label table — COUNT/MAX of exact integers, engine-
    identical by construction.

    Scale: everything corpus-sized happened in the CC substrate; this
    key aggregates the (docs-in-pairs)-bounded label table to ONE row —
    free at any corpus size."""
    labels = dedup_connected_components(spark, sf_dir)
    return labels.agg(
        F.count("*").cast("long").alias("n_dup_docs"),
        F.countDistinct("component").cast("long").alias("n_clusters"),
        F.max("comp_size").cast("long").alias("max_cluster_size"),
        (F.count("*") - F.countDistinct("component"))
        .cast("long")
        .alias("n_redundant"),
    )


# --- cluster representative selection (round 5) ------------------------

def _cluster_rep_oracle() -> str:
    from dbsuite_spark.registry import spec

    cc_sql = spec("dedup_connected_components").oracle
    return f"""
WITH cc AS ({cc_sql}),
scored AS (
  SELECT cc.doc_id, cc.component, cc.comp_size, d.n_chars,
         row_number() OVER (PARTITION BY cc.component
              ORDER BY d.n_chars DESC, cc.doc_id) AS pick
  FROM cc JOIN documents d ON cc.doc_id = d.doc_id
  WHERE cc.comp_size > 1)
SELECT component, doc_id AS representative_id,
       CAST(n_chars AS BIGINT) AS rep_chars,
       CAST(comp_size AS BIGINT) AS comp_size,
       CAST(comp_size - 1 AS BIGINT) AS n_removed
FROM scored WHERE pick = 1
"""


@query(
    "dedup_cluster_representative", oracle=_cluster_rep_oracle(), category="L"
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection — the step that turns duplicate
    CLUSTERS into a keep/drop decision: within each multi-doc component,
    keep the highest-quality member (longest text, tie-broken by
    doc_id); everything else is the removal set. This is the policy
    point of a dedup pipeline (swap the ORDER BY for any quality score —
    perplexity bucket, decay-weighted source trust, …).

    Scale: one join of the (already-bounded) component labels to the doc
    quality column + one per-component window — nothing touches raw
    text. Oracle composes the verified CC oracle as a CTE."""
    cc = dedup_connected_components(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = cc.filter(F.col("comp_size") > 1).join(d, "doc_id")
    wp = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), "doc_id"
    )
    return (
        scored.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") == 1)
        .select(
            "component",
            F.col("doc_id").alias("representative_id"),
            F.col("n_chars").cast("bigint").alias("rep_chars"),
            F.col("comp_size").cast("bigint").alias("comp_size"),
            (F.col("comp_size") - 1).cast("bigint").alias("n_removed"),
        )
    )

