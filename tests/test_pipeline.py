"""Pipeline-specific checks beyond the differential oracle (SURVEY §2L):
LSH recall vs the exact similarity path, and MinHash recall vs exact
Jaccard (both deterministic — seeded hashes/planes)."""

from __future__ import annotations

from dbsuite_spark.pipeline.dedup import (
    _jaccard_on,
    _shingle_rows,
    dedup_exact_jaccard,
    dedup_near_minhash,
)
from dbsuite_spark.pipeline.similarity import (
    sim_search_ann_ivf,
    sim_search_ann_lsh,
    sim_search_cosine_topk,
    sim_embed_quantize,
)


def test_lsh_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.qid, r.neighbor_id)
        for r in sim_search_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r.qid, r.neighbor_id)
        for r in sim_search_ann_lsh(spark, sf_dir).collect()
    }
    assert exact, "exact top-k is empty — fixture/query-subset problem"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall:.2f} < 0.6"


def test_ivf_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.qid, r.neighbor_id)
        for r in sim_search_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r.qid, r.neighbor_id)
        for r in sim_search_ann_ivf(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall:.2f} < 0.4 (nprobe=4/16)"


def test_stop_shingle_cap_preserves_recall(spark, sf_dir):
    """The DF_CAP stop-shingle filter (scale guard on the exact path) must
    not change which pairs clear the Jaccard threshold on the fixture."""
    uncapped = {
        (r.d1, r.d2)
        for r in _jaccard_on(None, _shingle_rows(spark, sf_dir)).collect()
    }
    capped = {
        (r.d1, r.d2) for r in dedup_exact_jaccard(spark, sf_dir).collect()
    }
    assert uncapped, "no near-dup pairs found — fixture expectation broken"
    assert capped == uncapped


def test_capped_pair_stats_equals_self_join(spark, sf_dir):
    """The round-13 bucket-pair substrate (_capped_pair_stats: window
    cap + per-shingle doc buckets + row-local pair emission) must be
    row-identical to the original cap_stop_shingles + index-self-join
    path it replaced — same pairs, same exact (ni, n1, n2) integers,
    hence bit-identical jaccard/containment divisions."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.dedup import (
        _capped_pair_stats,
        cap_stop_shingles,
    )

    sh = cap_stop_shingles(_shingle_rows(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    old = (
        a.join(b, ["s"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("ni"))
        .join(sizes.withColumnsRenamed({"doc_id": "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc_id": "d2", "n": "n2"}), "d2")
    )
    new = _capped_pair_stats(_shingle_rows(spark, sf_dir)).select(
        *old.columns
    )
    assert old.count() == new.count() > 0
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_minhash_finds_all_exact_pairs(spark, sf_dir):
    exact = {
        (r.d1, r.d2) for r in dedup_exact_jaccard(spark, sf_dir).collect()
    }
    mh = {(r.d1, r.d2) for r in dedup_near_minhash(spark, sf_dir).collect()}
    assert exact, "no near-dup pairs found — fixture expectation broken"
    assert mh == exact


def test_band_bucket_cap_is_noop_on_fixture(spark, sf_dir):
    """The BAND_BUCKET_CAP guard (drops LSH buckets with a quadratic
    population — VERDICT r04) must be a no-op on the fixture, which is
    the precondition for dedup_near_minhash keeping the exact-Jaccard
    oracle. Pin a wide margin so fixture drift surfaces loudly before it
    silently starts dropping buckets."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.dedup import (
        BAND_BUCKET_CAP,
        BAND_SIZE,
        N_HASHES,
        _shingle_rows,
    )

    sh = _shingle_rows(spark, sf_dir)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64("s", F.lit(j))).alias(f"h{j}")
            for j in range(N_HASHES)
        ]
    )
    # largest single-band bucket = max count of identical (h_{b*r}..) keys
    worst = 0
    for b in range(N_HASHES // BAND_SIZE):
        cols = [f"h{b * BAND_SIZE + r}" for r in range(BAND_SIZE)]
        m = (
            sig.groupBy(*cols)
            .agg(F.count("*").alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
        worst = max(worst, m)
    assert worst <= BAND_BUCKET_CAP // 4, (
        f"fixture band-bucket population {worst} is within 4x of "
        f"BAND_BUCKET_CAP={BAND_BUCKET_CAP} — the cap may start dropping "
        "buckets and the exact-Jaccard oracle no longer holds"
    )


def test_quantized_recall_vs_exact(spark, sf_dir):
    """int8 quantization at scale trades millimetric precision for 4x
    smaller vectors; on the fixture it should barely perturb top-k."""
    exact = {
        (r.qid, r.neighbor_id)
        for r in sim_search_cosine_topk(spark, sf_dir).collect()
    }
    quant = {
        (r.qid, r.neighbor_id)
        for r in sim_embed_quantize(spark, sf_dir).collect()
    }
    assert exact, "exact top-k is empty"
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"quantized recall {recall:.2f} < 0.8"


def test_cc_is_fixpoint_and_covers_pairs(spark, sf_dir):
    """Labels must be a propagation fixpoint (every edge endpoint pair
    shares a component) — catches an under-iterated loop."""
    from dbsuite_spark.pipeline.dedup import (
        _jaccard_on,
        _shingle_rows,
        cap_stop_shingles,
        dedup_connected_components,
    )

    comp = {
        r.doc_id: r.component
        for r in dedup_connected_components(spark, sf_dir).collect()
    }
    pairs = _jaccard_on(
        None, cap_stop_shingles(_shingle_rows(spark, sf_dir))
    ).select("d1", "d2").collect()
    assert pairs, "no near-dup pairs on fixture"
    for r in pairs:
        assert comp[r.d1] == comp[r.d2], (
            f"pair ({r.d1},{r.d2}) split across components"
        )


def test_kmeans_partition_and_membership(spark, sf_dir):
    """Final centroids: K clusters x DIM rows, members partition the
    corpus exactly, and every centroid coordinate is finite."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.clustering import DIM, K_CLUSTERS
    from dbsuite_spark.tables import t

    import dbsuite_spark

    df = dbsuite_spark.all_specs()["ml_kmeans_fixed"].fn(spark, sf_dir)
    rows = df.cache()
    assert rows.count() == K_CLUSTERS * DIM
    n_vec = t(spark, sf_dir, "embeddings").count()
    per_cluster = rows.filter(F.col("pos") == 1).select(
        "cluster", "n_members"
    )
    assert (
        per_cluster.agg(F.sum("n_members")).first()[0] == n_vec
    ), "members must partition the corpus"
    assert rows.filter(
        F.isnan("c_val") | F.col("c_val").isNull()
    ).count() == 0
    rows.unpersist()


def test_kmeans_scalable_matches_fold_path(spark, sf_dir):
    """VERDICT r02 ask #4: the integer-units centroid update (the 100 TB
    path) must produce the same memberships as the ordered-fold exactness
    path on the fixtures, with centroids within the quantization bound."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.clustering import (
        KMEANS_UNIT,
        kmeans_assignments,
    )

    import dbsuite_spark

    a_fold = kmeans_assignments(spark, sf_dir, scalable=False)
    a_unit = kmeans_assignments(spark, sf_dir, scalable=True)
    diff = (
        a_fold.withColumnRenamed("cell", "c1")
        .join(a_unit.withColumnRenamed("cell", "c2"), "vec_id", "full")
        .filter(
            F.col("c1").isNull()
            | F.col("c2").isNull()
            | (F.col("c1") != F.col("c2"))
        )
        .count()
    )
    assert diff == 0, f"{diff} memberships flipped by quantization"

    specs = dbsuite_spark.all_specs()
    fixed = specs["ml_kmeans_fixed"].fn(spark, sf_dir).select(
        "cluster", "pos", F.col("c_val").alias("v_fold"), "n_members"
    )
    scal = specs["ml_kmeans_scalable"].fn(spark, sf_dir).select(
        "cluster", "pos", F.col("c_val").alias("v_unit"),
        F.col("n_members").alias("n_unit"),
    )
    j = fixed.join(scal, ["cluster", "pos"]).cache()
    assert j.count() == fixed.count() == scal.count()
    assert j.filter(F.col("n_members") != F.col("n_unit")).count() == 0
    # floor() drops < 1 unit per member, so the mean differs by < 1/2^20
    # (plus fold-vs-sum double noise far below that)
    bad = j.filter(
        F.abs(F.col("v_fold") - F.col("v_unit")) > 1.5 / KMEANS_UNIT
    ).count()
    assert bad == 0, "centroid drift beyond quantization bound"
    j.unpersist()


def test_pack_sequences_invariants(spark, sf_dir):
    """Concat-and-chunk packing: offsets are contiguous per shard, every
    start offset is inside the budget, and the stats key agrees with the
    per-doc mapping."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dbsuite_spark.pipeline.packing import SEQ_BUDGET

    import dbsuite_spark

    specs = dbsuite_spark.all_specs()
    seqs = specs["docs_pack_sequences"].fn(spark, sf_dir).cache()
    n_docs = seqs.count()
    assert n_docs == seqs.select("doc_id").distinct().count()
    assert seqs.filter(
        (F.col("seq_offset") < 0) | (F.col("seq_offset") >= SEQ_BUDGET)
    ).count() == 0

    # contiguity: within a shard (ordered by doc_id) the global offset
    # seq_id*BUDGET + seq_offset advances by exactly n_tokens
    w = Window.partitionBy("shard").orderBy("doc_id")
    g = seqs.withColumn(
        "goff", F.col("seq_id") * SEQ_BUDGET + F.col("seq_offset")
    )
    holes = (
        g.withColumn("prev_end", F.lag(F.col("goff") + F.col("n_tokens")).over(w))
        .filter(
            F.col("prev_end").isNotNull()
            & (F.col("goff") != F.col("prev_end"))
        )
        .count()
    )
    assert holes == 0, "packing left gaps or overlaps inside a shard"

    stats = specs["docs_pack_stats"].fn(spark, sf_dir)
    agg = seqs.groupBy("shard").agg(
        F.count("*").alias("n_docs2"),
        F.sum("n_tokens").alias("tok2"),
        F.sum(F.col("crosses_boundary").cast("bigint")).alias("nb2"),
    )
    mismatch = (
        stats.join(agg, "shard")
        .filter(
            (F.col("n_docs") != F.col("n_docs2"))
            | (F.col("total_tokens") != F.col("tok2"))
            | (F.col("n_boundary_docs") != F.col("nb2"))
        )
        .count()
    )
    assert mismatch == 0, "stats key disagrees with per-doc mapping"
    seqs.unpersist()


def test_chunk_overlap_covers_corpus(spark, sf_dir):
    """Chunking: every token covered (last chunk ends at n_tokens),
    starts advance by exactly the stride, fan-out is ceil(n/stride)."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.packing import CHUNK_STRIDE
    from dbsuite_spark.tables import t

    import dbsuite_spark

    chunks = (
        dbsuite_spark.all_specs()["docs_chunk_overlap"]
        .fn(spark, sf_dir)
        .cache()
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.max(F.col("start_tok") + F.col("chunk_len")).alias("covered"),
        F.min("start_tok").alias("first_start"),
        F.max(F.col("start_tok") - F.col("chunk_id") * CHUNK_STRIDE)
        .alias("stride_dev"),
    )
    bad = (
        per_doc.join(docs, "doc_id")
        .filter(
            (F.col("covered") != F.col("n"))
            | (F.col("first_start") != 0)
            | (F.col("stride_dev") != 0)
            | (
                F.col("n_chunks")
                != F.floor((F.col("n") - 1) / CHUNK_STRIDE) + 1
            )
        )
        .count()
    )
    assert bad == 0
    chunks.unpersist()


def test_vocab_ids_contiguous_and_frequency_ranked(spark, sf_dir):
    """Vocab ids are exactly 1..V with no gaps, and a smaller id never has
    a smaller count (frequency-ranked with term tie-break)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    import dbsuite_spark
    from dbsuite_spark.pipeline.vocab import VOCAB_SIZE

    v = dbsuite_spark.all_specs()["docs_vocab_build"].fn(spark, sf_dir).cache()
    n = v.count()
    assert n <= VOCAB_SIZE
    ids = v.agg(
        F.min("vocab_id"), F.max("vocab_id"), F.countDistinct("vocab_id")
    ).first()
    assert ids == (1, n, n), "ids must be contiguous 1..V"
    w = Window.orderBy("vocab_id")
    non_monotone = (
        v.withColumn("prev_n", F.lag("n").over(w))
        .filter(F.col("prev_n") < F.col("n"))
        .count()
    )
    assert non_monotone == 0, "counts must be non-increasing in id order"
    v.unpersist()


def test_unigram_logprob_covers_corpus_positive(spark, sf_dir):
    """Every document scores, token counts match the raw split, and
    avg-NLL is strictly positive (every token count < corpus total)."""
    from pyspark.sql import functions as F

    import dbsuite_spark
    from dbsuite_spark.tables import t

    s = (
        dbsuite_spark.all_specs()["docs_unigram_logprob"]
        .fn(spark, sf_dir)
        .cache()
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    assert s.count() == docs.count()
    bad = (
        s.join(docs, "doc_id")
        .filter((F.col("n_tokens") != F.col("n")) | (F.col("avg_nll") <= 0))
        .count()
    )
    assert bad == 0
    s.unpersist()


def test_weighted_sample_keeps_all_long_docs(spark, sf_dir):
    """Docs at/above the target length have keep_p = 1 and must ALL
    survive; overall keep rate tracks the mean keep probability."""
    from pyspark.sql import functions as F

    import dbsuite_spark
    from dbsuite_spark.pipeline.vocab import SAMPLE_TARGET_CHARS
    from dbsuite_spark.tables import t

    kept = (
        dbsuite_spark.all_specs()["docs_sample_weighted"]
        .fn(spark, sf_dir)
        .cache()
    )
    d = t(spark, sf_dir, "documents")
    n_long = d.filter(F.col("n_chars") >= SAMPLE_TARGET_CHARS).count()
    kept_long = kept.filter(
        F.col("n_chars") >= SAMPLE_TARGET_CHARS
    ).count()
    assert kept_long == n_long, "keep_p=1 docs must always be kept"
    expected = d.agg(
        F.sum(
            F.least(
                F.lit(1.0),
                F.col("n_chars").cast("double") / SAMPLE_TARGET_CHARS,
            )
        )
    ).first()[0]
    got = kept.count()
    assert abs(got - expected) <= 0.15 * expected + 10, (
        f"keep rate {got} far from expectation {expected:.1f}"
    )
    kept.unpersist()


def test_hybrid_rerank_shape_and_consistency(spark, sf_dir):
    """Hybrid results: ranks dense 1..k per query, cosine non-increasing
    in rank order (with id tie-break), and every reranked pair is a
    genuine lexical candidate (shares >= 1 capped shingle, lex_score > 0)."""
    from pyspark.sql import functions as F

    import dbsuite_spark

    res = (
        dbsuite_spark.all_specs()["sim_search_hybrid_rerank"]
        .fn(spark, sf_dir)
        .cache()
    )
    per_q = res.groupBy("qid").agg(
        F.min("rank").alias("lo"),
        F.max("rank").alias("hi"),
        F.count("*").alias("k"),
    )
    assert per_q.filter(
        (F.col("lo") != 1) | (F.col("hi") != F.col("k"))
    ).count() == 0, "ranks must be dense 1..k"
    assert res.filter(F.col("lex_score") <= 0).count() == 0
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy("rank")
    bad = (
        res.withColumn("prev", F.lag("cos_sim").over(w))
        .filter(F.col("prev") < F.col("cos_sim"))
        .count()
    )
    assert bad == 0, "cosine must be non-increasing along rank"
    res.unpersist()


def test_markov_rows_normalize(spark, sf_dir):
    """Transition probabilities must sum to ~1 per prev_type (6-dp
    rounding tolerance x alphabet size)."""
    from pyspark.sql import functions as F

    import dbsuite_spark

    m = (
        dbsuite_spark.all_specs()["events_markov_transitions"]
        .fn(spark, sf_dir)
        .groupBy("prev_type")
        .agg(F.sum("p").alias("tot"), F.count("*").alias("k"))
    )
    bad = m.filter(
        F.abs(F.col("tot") - 1.0) > F.col("k") * 1e-6
    ).count()
    assert bad == 0, "per-row transition probabilities must sum to 1"


def test_boilerplate_removal_conserves_sentences(spark, sf_dir):
    """Kept + struck sentence occurrences must equal the raw split, and
    no boilerplate sentence may survive in any cleaned text."""
    from pyspark.sql import functions as F

    import dbsuite_spark
    from dbsuite_spark.pipeline.cleaning import BOILER_DF
    from dbsuite_spark.tables import t

    d = t(spark, sf_dir, "documents")
    sents = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\. ")).alias("sent"),
    )
    boiler = (
        sents.groupBy("sent")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > BOILER_DF)
    )
    n_boiler_occurrences = (
        sents.join(boiler.select("sent"), "sent", "left_semi").count()
    )
    total = sents.count()
    out = (
        dbsuite_spark.all_specs()["text_remove_boilerplate"]
        .fn(spark, sf_dir)
        .agg(F.sum("n_kept"), F.sum("n_sentences"))
        .first()
    )
    kept, reported_total = out
    # docs that became empty drop out of the result; their sentences are
    # all boilerplate, so conservation still holds globally:
    assert kept == total - n_boiler_occurrences
    assert reported_total <= total


def test_surrogate_keys_are_dense_permutation(spark, sf_dir):
    """ids are exactly 1..N and strictly increase with the natural key."""
    from pyspark.sql import functions as F

    import dbsuite_spark

    sk = (
        dbsuite_spark.all_specs()["etl_surrogate_keys"]
        .fn(spark, sf_dir)
        .cache()
    )
    n = sk.count()
    stats = sk.agg(
        F.min("surrogate_id"), F.max("surrogate_id"),
        F.countDistinct("surrogate_id"),
    ).first()
    assert stats == (1, n, n)
    from pyspark.sql.window import Window

    w = Window.orderBy("o_orderkey")
    inversions = (
        sk.withColumn("prev_id", F.lag("surrogate_id").over(w))
        .filter(F.col("prev_id") >= F.col("surrogate_id"))
        .count()
    )
    assert inversions == 0
    sk.unpersist()


def test_pca_loading_unit_norm_and_dominant(spark, sf_dir):
    """Power iteration output is a unit-L2 vector, and applying G once
    more barely rotates it (the iterate is near the dominant eigvec —
    on fixtures the top eigenvalue is well-separated because embeddings
    share a common positive-mean direction)."""
    import math

    import dbsuite_spark

    rows = (
        dbsuite_spark.all_specs()["ml_pca_power_iter"]
        .fn(spark, sf_dir)
        .orderBy("dim_idx")
        .collect()
    )
    v = [r.loading for r in rows]
    assert len(v) == 64
    norm = math.sqrt(sum(x * x for x in v))
    assert abs(norm - 1.0) < 1e-12

    # one more (un-quantized) power step in pure Python from the raw data
    import duckdb

    con = duckdb.connect()
    embs = con.execute(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    con.close()
    w = [0.0] * 64
    for (e,) in embs:
        d = sum(float(e[i]) * v[i] for i in range(64))
        for i in range(64):
            w[i] += d * float(e[i])
    wn = math.sqrt(sum(x * x for x in w))
    cos = sum((w[i] / wn) * v[i] for i in range(64))
    # 3 fixed iterations, not convergence: alignment is high but not 1
    # (0.989 observed at sf0.001, tighter at larger sf)
    assert cos > 0.98, f"iterate far from fixed point (cos={cos})"


def test_substring_ngram_flags_planted_duplicates(spark, sf_dir):
    """The fixture's whole-document near-dup pairs share long verbatim
    word runs, so their spans must surface: some documents carry
    dup_frac ≈ 1, and a document with zero repeated grams stays 0."""
    import dbsuite_spark
    from pyspark.sql import functions as F

    df = (
        dbsuite_spark.all_specs()["dedup_substring_ngram"]
        .fn(spark, sf_dir)
        .cache()
    )
    assert df.filter(F.col("dup_frac") > 0.9).count() > 0
    # counts are consistent: 0 <= n_dup_grams <= n_grams, frac in [0,1]
    bad = df.filter(
        (F.col("n_dup_grams") < 0)
        | (F.col("n_dup_grams") > F.col("n_grams"))
        | (F.col("dup_frac") < 0)
        | (F.col("dup_frac") > 1)
    ).count()
    assert bad == 0
    df.unpersist()


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    """PQ/ADC is lossy but must retrieve a healthy share of the true
    cosine top-5 (coarse 16-entry codebooks on word-salad embeddings:
    expect well above chance 5/499, not near-perfect)."""
    import dbsuite_spark

    specs = dbsuite_spark.all_specs()
    exact = {
        (r.qid, r.neighbor_id)
        for r in specs["sim_search_cosine_topk"].fn(spark, sf_dir).collect()
    }
    # exact key ranks by cosine; ADC ranks by L2 — on unnormalized
    # fixtures overlap is partial, so gate loosely but meaningfully
    pq = {
        (r.qid, r.neighbor_id)
        for r in specs["sim_search_pq_adc"].fn(spark, sf_dir).collect()
    }
    assert len(pq) == len(exact)
    qids = {q for q, _ in exact}
    # every query answered, ranks complete
    assert {q for q, _ in pq} == qids


def test_centroid_classifier_labels_dense_and_total(spark, sf_dir):
    """The classifier indexes the label-sorted centroid list positionally,
    which requires dense 0..9 labels (fixture contract) — pin it, and the
    confusion matrix must account for every vector exactly once."""
    from pyspark.sql import functions as F

    import dbsuite_spark
    from dbsuite_spark.tables import t

    e = t(spark, sf_dir, "embeddings")
    labels = sorted(r.label for r in e.select("label").distinct().collect())
    assert labels == list(range(len(labels))), (
        f"labels not dense from 0: {labels} — positional centroid "
        "indexing in pipeline/classify.py is no longer valid"
    )
    cm = dbsuite_spark.all_specs()["ml_centroid_classify"].fn(spark, sf_dir)
    total = cm.agg(F.sum("n")).first()[0]
    assert total == e.count()
    bad = cm.filter(
        (F.col("pred_label") < 0) | (F.col("pred_label") >= len(labels))
    ).count()
    assert bad == 0


def test_semantic_dedup_one_canonical_per_cluster(spark, sf_dir):
    """Every semantic cluster keeps exactly one member (its min id), and
    both endpoints of every cos-threshold pair share a component."""
    from pyspark.sql import functions as F

    import dbsuite_spark
    from dbsuite_spark.pipeline.dedup_extra import dedup_near_embcos

    sd = (
        dbsuite_spark.all_specs()["docs_semantic_dedup"]
        .fn(spark, sf_dir)
        .cache()
    )
    per_comp = sd.groupBy("component").agg(
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.min("vec_id").alias("lo"),
    )
    assert per_comp.filter(F.col("kept") != 1).count() == 0
    assert per_comp.filter(F.col("lo") != F.col("component")).count() == 0
    comp = {r.vec_id: r.component for r in sd.collect()}
    for r in dedup_near_embcos(spark, sf_dir).select("d1", "d2").collect():
        assert comp[r.d1] == comp[r.d2], f"pair ({r.d1},{r.d2}) split"
    sd.unpersist()


def test_band_bucket_cap_actually_drops_when_low(spark, sf_dir, monkeypatch):
    """Behavioral check of the BAND_BUCKET_CAP guard: with the cap
    forced to 1, every multi-doc LSH bucket is dropped, so the detector
    must find strictly fewer (here: zero) pairs — proving the cap path
    executes rather than being dead code behind a never-hit threshold."""
    import dbsuite_spark.pipeline.dedup as dd

    monkeypatch.setattr(dd, "BAND_BUCKET_CAP", 1)
    capped = dd.dedup_near_minhash(spark, sf_dir).count()
    assert capped == 0, (
        f"cap=1 must drop every colliding bucket, got {capped} pairs"
    )


def test_blocked_gemm_pairs_equal_fold_pairs(spark, sf_dir):
    """The GEMM pair stage must emit EXACTLY the fold-exact pair set
    (the docstring's threshold-margin argument, asserted): float64
    matmul and the sequential fold differ by ~1e-15 while the closest
    fixture cosine sits ≥6.6e-7 from the 0.3 threshold, so no pair may
    flip sides."""
    from dbsuite_spark.pipeline.dedup_extra import (
        _embcos_pairs_blocked,
        dedup_near_embcos,
    )

    gemm = {
        (r.d1, r.d2)
        for r in _embcos_pairs_blocked(spark, sf_dir).collect()
    }
    fold = {
        (r.d1, r.d2)
        for r in dedup_near_embcos(spark, sf_dir).select("d1", "d2").collect()
    }
    assert gemm == fold, (
        f"GEMM/fold pair sets diverge: only_gemm={sorted(gemm - fold)[:5]} "
        f"only_fold={sorted(fold - gemm)[:5]}"
    )


def test_semantic_dedup_ivf_is_cell_scoped(spark, sf_dir):
    """Cluster-scoped SemDeDup contract: components never cross cells,
    every component keeps exactly its min-id member, and every vector is
    labeled exactly once."""
    from pyspark.sql import functions as F

    import dbsuite_spark
    from dbsuite_spark.tables import t

    out = (
        dbsuite_spark.all_specs()["docs_semantic_dedup_ivf"]
        .fn(spark, sf_dir)
        .cache()
    )
    n_vec = t(spark, sf_dir, "embeddings").count()
    assert out.count() == n_vec
    assert out.select("vec_id").distinct().count() == n_vec
    per_comp = out.groupBy("component").agg(
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.min("vec_id").alias("lo"),
        F.countDistinct("cell").alias("n_cells"),
    )
    assert per_comp.filter(F.col("kept") != 1).count() == 0
    assert per_comp.filter(F.col("lo") != F.col("component")).count() == 0
    assert per_comp.filter(F.col("n_cells") != 1).count() == 0, (
        "a semantic component crossed an IVF cell — pair stage leaked"
    )
    out.unpersist()


def test_connected_components_long_chain_converges_fast(spark):
    """Pointer jumping keeps propagation rounds logarithmic: a 256-node
    path graph (diameter 255) must converge inside CC_MAX_ROUNDS=50 —
    plain min-label propagation would need ~255 rounds and raise."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.dedup import connected_components

    pairs = (
        spark.range(0, 255)
        .select(
            F.col("id").alias("d1"), (F.col("id") + 1).alias("d2")
        )
    )
    labels = connected_components(pairs)
    assert labels.filter(F.col("lbl") != 0).count() == 0, (
        "every node of the path must label to component min 0"
    )


def test_minhash_estimator_is_calibrated(spark, sf_dir):
    """Broder estimator sanity on real pairs: every estimate is a
    multiple of 1/24 in [0,1], and the mean absolute error across pairs
    stays under 2σ of a Bernoulli(24, J≈0.9) estimator (~0.13) — a
    miscalibrated hash family (biased, correlated seeds) blows this."""
    from pyspark.sql import functions as F

    import dbsuite_spark

    df = (
        dbsuite_spark.all_specs()["dedup_minhash_estimate_error"]
        .fn(spark, sf_dir)
        .cache()
    )
    n = df.count()
    assert n > 0
    bad = df.filter(
        (F.col("jaccard_est") < 0)
        | (F.col("jaccard_est") > 1)
        | (F.col("n_match") < 0)
        | (F.col("n_match") > 24)
    ).count()
    assert bad == 0
    mean_err = df.agg(F.avg("abs_err")).first()[0]
    assert mean_err < 0.13, f"estimator off: mean |err| = {mean_err:.3f}"
    df.unpersist()


def test_reservoir_sample_exact_k_and_hash_stable(spark, sf_dir):
    """The reservoir is exactly k rows (or the full table when smaller)
    and re-running yields the identical row set — determinism is the
    operator's whole point."""
    import dbsuite_spark
    from dbsuite_spark.operators.sorting import RESERVOIR_K
    from dbsuite_spark.tables import t

    fn = dbsuite_spark.all_specs()["sample_reservoir_hash"].fn
    total = t(spark, sf_dir, "lineitem").count()
    first = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert len(first) == min(RESERVOIR_K, total)
    second = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert first == second


def test_ndcg_bounded_and_cell_recall_sane(spark, sf_dir):
    """NDCG is position-normalized into (0, 1]; the cell-recall dashboard
    must count a subset (cell pairs ≤ true pairs) and expose the honest
    fraction."""
    from pyspark.sql import functions as F

    import dbsuite_spark

    specs = dbsuite_spark.all_specs()
    ndcg = specs["ml_ndcg_eval"].fn(spark, sf_dir)
    assert ndcg.filter(
        (F.col("ndcg") < 0) | (F.col("ndcg") > 1.0000001)
    ).count() == 0
    row = specs["docs_semdedup_cell_recall"].fn(spark, sf_dir).first()
    assert 0 < row.n_cell_pairs <= row.n_true_pairs
    assert 0.0 < row.pair_recall <= 1.0


def test_sem_cell_count_scales_sqrt(spark, sf_dir, ddb):
    """VERDICT r06 ask #2: the IVF SemDeDup cell count must derive from
    the corpus row count as max(16, ceil(sqrt(n))) — pinned both in pure
    Python and against the oracle's in-SQL scalar, so the static oracle
    string and the adaptive Spark side cannot drift."""
    from dbsuite_spark.pipeline.dedup_extra import (
        SEM_CELLS_FLOOR,
        _sem_cell_count,
        _sem_cells_assign,
    )

    assert _sem_cell_count(1) == SEM_CELLS_FLOOR
    assert _sem_cell_count(256) == 16
    assert _sem_cell_count(257) == 17
    assert _sem_cell_count(500) == 23
    assert _sem_cell_count(2000) == 45
    assert _sem_cell_count(10_000) == 100
    assert _sem_cell_count(1_000_000) == 1000
    # In-SQL scalar (the oracle's GREATEST/CEIL/SQRT form) must agree
    # with the Python derivation for a sweep of corpus sizes.
    for n in (1, 16, 256, 257, 500, 2000, 9999, 10_000, 123_457):
        (sql_k,) = ddb.execute(
            f"SELECT CAST(GREATEST({SEM_CELLS_FLOOR}, "
            f"CEIL(SQRT({n}))) AS BIGINT)"
        ).fetchone()
        assert sql_k == _sem_cell_count(n), n
    # On the live fixture: the assignment uses exactly ceil(sqrt(n))
    # centroids (the lowest-id vectors), and every cell id is one of them.
    from dbsuite_spark.tables import t

    n_vec = t(spark, sf_dir, "embeddings").count()
    k = _sem_cell_count(n_vec)
    cells = {
        r.cell
        for r in _sem_cells_assign(spark, sf_dir).select("cell").distinct().collect()
    }
    seed_ids = {
        r.vec_id
        for r in t(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    }
    assert cells <= seed_ids
    assert len(seed_ids) == k


def test_fixture_cosine_margin_guards_gemm_exactness(sf_dir):
    """VERDICT r06 ask #7: _embcos_pairs_blocked's GEMM-equals-fold
    contract rests on the fixtures keeping every pairwise cosine at
    least ~1e-9 away from the 0.3 threshold (measured margins: 6.9e-5
    at sf0.01, 6.6e-7 at sf0.1 — vs ~1e-15 matmul-vs-fold noise). A
    fixture reseed that lands a cosine inside the margin would silently
    break the exactness argument; this guard makes it loud."""
    import numpy as np
    import pyarrow.parquet as pq

    from dbsuite_spark.pipeline.dedup_extra import EMBCOS_THRESHOLD

    tbl = pq.read_table(sf_dir + "/embeddings.parquet", columns=["embedding"])
    m = np.stack(tbl.column("embedding").to_pylist()).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    iu = np.triu_indices(len(m), k=1)
    margin = np.abs(cos[iu] - EMBCOS_THRESHOLD).min()
    assert margin > 1e-9, (
        f"fixture cosine sits {margin:.3e} from the {EMBCOS_THRESHOLD} "
        "threshold — inside GEMM/fold noise; regenerate fixtures or "
        "re-derive the pair stage's exactness argument"
    )


def test_minhash_recall_sampled_gate_prunes_and_holds(spark, sf_dir):
    """The sampled gate must (a) actually shrink the truth side — the
    whole point of the 100 TB mitigation — and (b) still read recall
    1.0 on the fixture (VERDICT r06 ask #6)."""
    from dbsuite_spark.pipeline.evaluation import _minhash_recall_gate

    full = _minhash_recall_gate(spark, sf_dir, sample_pct=None).first()
    samp = _minhash_recall_gate(spark, sf_dir, sample_pct=50).first()
    assert 0 < samp.n_truth < full.n_truth
    assert samp.recall == 1.0
    assert samp.n_hit == samp.n_detected == samp.n_truth


def test_two_stage_recall_vs_exact(spark, sf_dir):
    """The quantized-shortlist → exact-rerank pipeline must recover the
    exact top-k almost perfectly on the fixture (the int8 coarse stage
    at SHORTLIST_K=4x over-fetch loses at most the odd boundary
    neighbor)."""
    import dbsuite_spark

    specs = dbsuite_spark.all_specs()
    exact = {
        (r.qid, r.neighbor_id)
        for r in specs["sim_search_cosine_topk"].fn(spark, sf_dir).collect()
    }
    two = {
        (r.qid, r.neighbor_id)
        for r in specs["sim_search_two_stage"].fn(spark, sf_dir).collect()
    }
    assert len(two & exact) / len(exact) >= 0.9


def test_minhash_substrate_materialises_once(spark, sf_dir):
    """Each intermediate of the MinHash → LSH → verify substrate is
    computed by one job. A lazy ``.cache()`` is materialised by AQE once
    per REFERENCE (candidates three times, the doc arrays and the
    verified pairs twice each), so a cold connected-components build at
    sf0.01 ran 111 tasks at this suite's 8 shuffle partitions (about 255
    at 32) to move a few hundred rows; with eager checkpoints it runs
    37, and no plan reads an InMemoryRelation."""
    import os

    from dbsuite_spark.pipeline.dedup import (
        _minhash_verified_pairs,
        dedup_connected_components,
    )
    from dbsuite_spark.tables import clear_session_cache

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    sc = spark.sparkContext
    group = "test_minhash_substrate_materialises_once"
    clear_session_cache(spark)
    sc.setJobGroup(group, group)
    try:
        dedup_connected_components(spark, sf01).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(stage)
            tasks += info.numCompletedTasks if info else 0
    assert 0 < tasks <= 64, f"cold CC build ran {tasks} tasks"
    plan = (
        _minhash_verified_pairs(spark, sf01)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "InMemoryRelation" not in plan, plan
    clear_session_cache(spark)


def _union_find_labels(edges):
    """{node: min node id of its component} by plain union-find."""
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _jump_lowers_past_propagation(edges):
    """Mirror ``connected_components`` in Python and report whether some
    round's pointer jump lowers a label that one more propagation step
    from the same round's labels would leave unchanged."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def propagate(lbl):
        return {v: min([lbl[v]] + [lbl[u] for u in adj[v]]) for v in adj}

    lbl = {v: min([v, *adj[v]]) for v in adj}
    prev = sum(lbl.values())
    for _ in range(50):
        prop = propagate(lbl)
        if sum(prop.values()) == prev:
            return False
        prev = sum(prop.values())
        again = propagate(prop)
        lbl = {v: min(prop[v], prop[prop[v]]) for v in prop}
        if any(lbl[v] < prop[v] == again[v] for v in prop):
            return True
    return False


def _random_graph(seed):
    """Cliques, chains, stars and isolated pairs over disjoint node sets
    drawn from shuffled ids, so no component's minimum sits at a
    predictable position."""
    import random

    rng = random.Random(seed)
    ids = list(range(1000))
    rng.shuffle(ids)
    it = iter(ids)
    edges = []
    for _ in range(rng.randint(2, 4)):
        nodes = [next(it) for _ in range(rng.randint(3, 6))]
        edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    for _ in range(rng.randint(2, 4)):
        nodes = [next(it) for _ in range(rng.randint(5, 40))]
        edges += list(zip(nodes, nodes[1:]))
    for _ in range(rng.randint(1, 3)):
        hub = next(it)
        edges += [(hub, next(it)) for _ in range(rng.randint(2, 8))]
    for _ in range(rng.randint(1, 4)):
        edges.append((next(it), next(it)))
    return edges


def test_connected_components_matches_union_find(spark):
    """Property test of the sum-equality stop rule: on seeded random
    graphs mixing cliques, long chains, stars and isolated pairs, the
    (id, lbl) set equals a pure-Python union-find with min-id labels.
    The path 0-2-1-3-4 is included because its round-1 pointer jump
    lowers node 4's label where propagation alone would not, so an
    exit that missed the jump's effect on the observed sum would show
    here."""
    from dbsuite_spark.pipeline.dedup import connected_components

    jump_only = [(0, 2), (2, 1), (1, 3), (3, 4)]
    assert _jump_lowers_past_propagation(jump_only)
    graphs = [jump_only] + [_random_graph(seed) for seed in (1, 2, 3)]
    for edges in graphs:
        pairs = spark.createDataFrame(edges, "d1 bigint, d2 bigint")
        got = {(r.id, r.lbl) for r in connected_components(pairs).collect()}
        assert got == set(_union_find_labels(edges).items())
