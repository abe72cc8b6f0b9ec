"""Dedup + similarity semantics: approximate operators are pinned
against their exact counterparts (containment + recall), the property
the driver's rows-only check cannot see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmc_conversion_spark.functions import dedup as DD
from pmc_conversion_spark.functions import similarity as SIM

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),      # near-dup of 1
    (3, "THE QUICK BROWN FOX jumps over the lazy dog!!"),    # exact-norm dup of 1
    (4, "completely different words about spark engines"),
    (5, "completely different words about spark engines"),   # exact dup of 4
    (6, "one two three four five six seven eight nine ten"),
]


@pytest.fixture()
def docs(fixture_df):
    return fixture_df(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = {(r.keep_id, r.dup_id) for r in DD.exact_duplicates(docs).collect()}
    assert got == {(1, 3), (4, 5)}


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = DD.ngram_jaccard_pairs(docs, threshold_num=1, threshold_den=2)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 3) in got and (4, 5) in got  # identical shingle sets
    assert (1, 2) in got                    # 1-word edit, high overlap
    assert (1, 6) not in got and (4, 6) not in got


def test_ngram_jaccard_hot_shingle_cap(fixture_df):
    """Skew guard: a shingle carried by more than ``max_posting`` docs
    must be dropped from the inverted index on the Spark side exactly as
    the oracle drops it — and the emission plan must stay two-stage
    (bounded per-row arrays), never one C(n,2) flatten per bucket."""
    # 12 docs share the hot shingle "alpha beta gamma"; every other
    # shingle is unique to its doc, so ALL candidate pairs come from
    # the hot bucket.
    rows = [(i, f"alpha beta gamma unique{i}") for i in range(12)]
    docs = fixture_df(rows, "doc_id long, text string")
    capped = DD.ngram_jaccard_pairs(docs, threshold_num=1,
                                    threshold_den=100, max_posting=8)
    assert capped.count() == 0          # hot bucket dropped entirely
    uncapped = DD.ngram_jaccard_pairs(docs, threshold_num=1,
                                      threshold_den=100, max_posting=64)
    assert uncapped.count() == 12 * 11 // 2   # all pairs, once each
    # plan shape: three Generate stages (shingles, bucket members,
    # per-member pairs) and no array-flatten of all combinations
    plan = uncapped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") >= 3
    assert "flatten" not in plan.lower()
    assert DD.MAX_POSTING_DEFAULT <= 1024


def test_minhash_lsh_subset_of_exact_with_recall(docs):
    exact = {(r.doc_a, r.doc_b)
             for r in DD.ngram_jaccard_pairs(
                 docs, threshold_num=1, threshold_den=2).collect()}
    lsh = {(r.doc_a, r.doc_b)
           for r in DD.minhash_lsh_pairs(
               docs, num_hashes=32, bands=16,
               threshold_num=1, threshold_den=2).collect()}
    assert lsh <= exact          # exact verification: no false positives
    assert len(lsh) >= len(exact) - 1  # high recall on this fixture


def test_containment_catches_fragment_jaccard_misses(fixture_df):
    """A short doc quoted inside a long one: containment ~1 while
    Jaccard stays below any useful threshold."""
    long_words = " ".join(f"w{i}" for i in range(60))
    frag = " ".join(f"w{i}" for i in range(12))          # prefix quote
    docs = fixture_df([(1, long_words), (2, frag),
                       (3, "totally unrelated content here")],
                      "doc_id long, text string")
    cont = {(r.doc_a, r.doc_b)
            for r in DD.ngram_containment_pairs(
                docs, threshold_num=9, threshold_den=10).collect()}
    assert (1, 2) in cont and len(cont) == 1
    jac = {(r.doc_a, r.doc_b)
           for r in DD.ngram_jaccard_pairs(
               docs, threshold_num=1, threshold_den=2).collect()}
    assert (1, 2) not in jac   # union dominated by the long doc


@pytest.mark.slow
def test_simhash_identical_docs_distance_zero(docs):
    fp = {r.doc_id: r.simhash for r in DD.simhash64(docs).collect()}
    assert fp[4] == fp[5]
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in DD.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert pairs[(4, 5)] == 0


@pytest.mark.slow
def test_simhash_block_join_finds_all_within_hamming(spark, docs):
    """Candidate generation must not miss any pair within the Hamming
    budget (pigeonhole property of the block join)."""
    fp = DD.simhash64(docs)
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = (a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b",
                     F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                     .alias("h"))
             .filter(F.col("h") <= 3))
    expected = {(r.doc_a, r.doc_b) for r in brute.collect()}
    got = {(r.doc_a, r.doc_b)
           for r in DD.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert got == expected


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.999, 0.01, 0.0, 0.0]),   # ~ vec 0
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.98, 0.1, 0.0]),     # ~ vec 2
    (4, [0.0, 0.0, 1.0, 0.0]),
    (5, [0.5, 0.5, 0.5, 0.5]),
]


@pytest.fixture()
def vectors(spark, fixture_df):
    df = fixture_df(VECS, "vec_id long, embedding array<double>")
    return df


def test_topk_bruteforce_ranks_by_cosine(vectors):
    out = SIM.topk_bruteforce(vectors.filter(F.col("vec_id") == 0),
                              vectors, k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [1, 5]


def test_topk_lsh_recall(vectors):
    brute = SIM.topk_bruteforce(vectors, vectors, k=2)
    # 2 planes -> 4 buckets; multiprobe visits 3 of 4, so recall must be
    # high even on this tiny fixture (more planes only make sense at
    # corpus scale — see test over the embeddings table in the checker)
    approx = SIM.topk_lsh(vectors, vectors, k=2, n_planes=2, dim=4)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(a & b) / len(b) >= 0.5


@pytest.mark.filterwarnings("error:Cannot infer the eval type")
def test_blocked_cosine_matches_exact(spark):
    """The blocked-matmul scale path must reproduce the exact pair join
    on the real embeddings table."""
    from pmc_conversion_spark import tables
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.id_a, r.id_b)
             for r in SIM.embedding_near_dup_pairs(
                 emb, threshold=0.45).collect()}
    blocked = {(r.id_a, r.id_b)
               for r in SIM.embedding_near_dup_blocked(
                   emb, threshold=0.45, n_blocks=4).collect()}
    assert blocked == exact
    assert len(exact) > 0


def test_embedding_near_dup_pairs(vectors):
    got = {(r.id_a, r.id_b)
           for r in SIM.embedding_near_dup_pairs(
               vectors, threshold=0.95).collect()}
    assert (0, 1) in got and (2, 3) in got
    assert all(p not in got for p in [(0, 2), (0, 4), (2, 4)])


def test_topk_ivf_finds_true_near_neighbors(spark, fixture_df):
    """IVF-style quantized-projection ANN must recover *genuinely
    close* neighbors (a perturbed copy of each query) — the workload
    ANN exists for. Uniform-random corpora (the driver embeddings) have
    no localizable neighbors, so recall there is a property of the
    data, not the index."""
    import math
    import random

    rng = random.Random(99)
    rows = []
    for i in range(20):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        v = [x / n for x in v]
        rows.append((i, v))                                    # query/base
        pert = [x + rng.gauss(0.0, 0.01) for x in v]           # near-dup
        n2 = math.sqrt(sum(x * x for x in pert))
        rows.append((i + 1000, [x / n2 for x in pert]))
    vecs = fixture_df(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") < 1000)
    ivf = SIM.topk_ivf(queries, vecs, k=1, n_planes=4, dim=64, width=0.25)
    top1 = {(r.query_id, r.neighbor_id) for r in ivf.collect()
            if r.rank == 1}
    found = sum(1 for q in range(20) if (q, q + 1000) in top1)
    assert found >= 18  # ±1-bucket multiprobe may miss a boundary case


@pytest.mark.filterwarnings("error:Cannot infer the eval type")
def test_knn_join_matches_bruteforce_self_query(spark):
    """The blocked kNN self-join must equal brute-force top-k with the
    corpus as its own query set (same rounding and tie contract)."""
    from pmc_conversion_spark import tables
    from pmc_conversion_spark.functions import similarity as SIM
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    got = {(r.query_id, r.rank): r.neighbor_id
           for r in SIM.knn_join_blocked(emb, k=3).collect()}
    ref = {(r.query_id, r.rank): r.neighbor_id
           for r in SIM.topk_bruteforce(emb, emb, k=3,
                                        round_digits=6).collect()}
    assert got == ref


def test_sql_double_array_ieee_roundtrip(spark):
    """The one-round-trip SQL literal form (r9 optimization #15) must
    reproduce the exact IEEE doubles of the Python values: repr emits
    the shortest round-tripping decimal and Spark's double literal
    parser maps it back to the identical bits."""
    import math
    import struct
    vals = [0.0, -0.0, 1.0, -1.0, 1e-300, -1e300, 2.0 ** -1022,
            (2.0 ** 53 - 1.0), 0.1, 1 / 3, math.pi, -math.e,
            5e-324, 1.7976931348623157e308, 0.30000000000000004]
    got = spark.sql(f"SELECT {SIM.sql_double_array(vals)} AS a") \
        .first()["a"]
    assert [struct.pack("<d", x) for x in got] \
        == [struct.pack("<d", x) for x in vals]


def test_lloyd_fixpoint_matches_reference_loop(fixture_df):
    """The single-job-per-round Lloyd loop (lazy checkpoint + observe,
    r9 optimization) must replay the r8 reference semantics exactly:
    same per-round E/M arithmetic, same stop rule, same final
    assignment and round count."""
    import random
    from pmc_conversion_spark.queries import llmdata as L

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)])
            for i in range(60)]
    emb = fixture_df(rows, "vec_id long, v array<double>") \
        .select("vec_id", F.col("v").cast("array<double>").alias("v"))
    cents = (emb.filter(F.col("vec_id") < 3)
             .select(F.col("vec_id").alias("cid"),
                     F.col("v").alias("cv")))
    seeds = L._collect_centroids(cents)

    assign, n_iters = L._lloyd_fixpoint(emb, seeds)
    got = {(r.vec_id, r.cluster) for r in assign.collect()}

    # r8 reference semantics: eager checkpoint per round, separate
    # M-step job, stop at the first round whose E-step changed nothing
    def estep(frame, cl):
        return (frame.withColumnRenamed("cluster", "prev")
                .withColumn("cluster", L._estep_cluster_expr(cl)))

    def mstep(a):
        comps = a.select("cluster", F.posexplode("v").alias("pos0", "val"))
        means = (comps.groupBy("cluster", "pos0")
                 .agg(F.round(F.sum(F.round("val", 6)
                                    .cast("decimal(18,6)")).cast("double")
                              / F.count(F.lit(1)), 6).alias("mv")))
        by = {}
        for row in means.collect():
            by.setdefault(row["cluster"], []).append((row["pos0"], row["mv"]))
        return sorted((cid, [mv for _, mv in sorted(p)])
                      for cid, p in by.items())

    ref = estep(emb.withColumn("cluster", F.lit(-1).cast("long")),
                seeds).localCheckpoint(eager=True)
    ref_iters = L._LLOYD_CAP
    for r in range(1, L._LLOYD_CAP + 1):
        ref = estep(ref.drop("prev"), mstep(ref)) \
            .localCheckpoint(eager=True)
        changed = ref.filter(F.col("cluster") != F.col("prev")).count()
        if changed == 0:
            ref_iters = r
            break
    want = {(r.vec_id, r.cluster) for r in ref.collect()}

    assert n_iters == ref_iters
    assert got == want
