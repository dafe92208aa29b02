"""Dedup + similarity operators: semantic unit tests."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from clj_nlp_parse_spark.operators import dedup as DD
from clj_nlp_parse_spark.operators import similarity as SIM
from clj_nlp_parse_spark.operators import textstats as TS


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in DD.exact_dedup(df).collect()}
    # normalization: lowercase + whitespace collapse → 1 and 2 are dups
    assert rows[1].group_size == 2 and rows[2].group_size == 2
    assert rows[1].keep and not rows[2].keep
    assert rows[3].group_size == 1 and rows[3].keep


def test_minhash_identical_docs_share_signature(spark):
    t = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, t), (2, t), (3, "totally different words "
                                                    "nothing shared here at all")],
                               "doc_id long, text string")
    sigs = {r.doc_id: [r[f"mh_{i}"] for i in range(DD.MINHASH_K)]
            for r in DD.minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = {(r.doc_a, r.doc_b) for r in DD.lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_minhash_simhash_trailing_empty_docs(spark):
    """Regression for the r6 Arrow kernels: a TRAILING empty doc put
    len(values) into the reduceat index list; the old clipping fix
    silently shrank the last non-empty doc's segment (its min lost the
    final shingle hash). Pin the kernel against the pure-Python twin on
    exactly that shape: non-empty docs followed by empty/sub-shingle
    docs, plus an interior empty."""
    docs = [(1, "alpha beta gamma delta epsilon zeta"), (2, ""),
            (3, "one two three four five six seven"), (4, "ab"), (5, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {r.doc_id: [r[f"mh_{i}"] for i in range(DD.MINHASH_K)]
            for r in DD.minhash_signatures(df).collect()}
    for doc_id, text in docs:
        assert sigs[doc_id] == DD.minhash_sig_py(text), doc_id
    sh = {r.doc_id: r.simhash for r in DD.simhash(df, bits=32).collect()}
    for doc_id, text in docs:
        assert sh[doc_id] == DD.simhash_py(text), doc_id


def test_simhash_near_docs_small_hamming(spark):
    a = "spark query engine with hash join and table scan operators"
    b = "spark query engine with hash join and table scan operator"  # 1 word
    df = spark.createDataFrame([(1, a), (2, b), (3, "x y z")],
                               "doc_id long, text string")
    h = {r.doc_id: r.simhash for r in DD.simhash(df, bits=32).collect()}
    ham12 = bin(h[1] ^ h[2]).count("1")
    ham13 = bin(h[1] ^ h[3]).count("1")
    assert ham12 < ham13


def test_jaccard_pairs_threshold(spark):
    a = "one two three four five six seven eight"
    b = "one two three four five six seven nine"   # high overlap
    df = spark.createDataFrame([(1, a), (2, b), (3, "no shingles common")],
                               "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in DD.ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert (1, 2) in pairs and np.isclose(pairs[(1, 2)], 5 / 7)
    assert not any(3 in p for p in pairs)


def test_brute_force_topk_self_is_nearest(spark):
    import random
    rnd = random.Random(42)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.brute_force_topk(df, q, k=3).collect()
    assert out[0].vec_id == 0 and np.isclose(out[0].cosine, 1.0)
    assert [r.rank for r in out] == [1, 2, 3]


def test_text_stats_shapes(spark):
    df = spark.createDataFrame(
        [(1, "The cat is on the mat and it is very happy today"),
         (2, "zzz qqq"), (3, "")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in TS.text_stats(df).collect()}
    assert rows[1].lang_pred == "en" and rows[2].lang_pred == "unk"
    assert rows[1].n_ws_tokens == 12 and rows[1].n_word_tokens == 12
    assert 0.0 <= rows[1].quality <= 1.0
    assert rows[3].n_word_tokens == 0 and rows[3].fp_min == -1


def test_lsh_topk_recall(spark):
    # clustered embeddings — the regime ANN exists for: true neighbors have
    # high cosine, so hyperplane buckets keep them together
    import random
    rnd = random.Random(9)
    dim = 16
    rows = []
    centers = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    for i in range(400):
        c = centers[i % 20]
        rows.append((i, [x + rnd.gauss(0, 0.15) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = SIM.brute_force_topk(df, q, k=5)
    approx = SIM.lsh_topk(df, q, k=5, dim=dim, n_planes=4)
    ex = {(r.qid, r.vec_id) for r in exact.collect()}
    ap = {(r.qid, r.vec_id) for r in approx.collect()}
    # self-match always survives (same bucket) and recall is meaningful
    assert all((i, i) in ap for i in range(5))
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, recall


def test_ivf_topk_recall_and_probe(spark):
    # same clustered regime as the LSH test; IVF with nprobe=2 must keep
    # self-matches (a vector's own cell is always its top probe) and beat
    # the 0.6 recall floor vs brute force
    import random
    rnd = random.Random(9)
    dim = 16
    rows = []
    centers = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    for i in range(400):
        c = centers[i % 20]
        rows.append((i, [x + rnd.gauss(0, 0.15) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = SIM.brute_force_topk(df, q, k=5)
    approx = SIM.ivf_topk(df, q, k=5, dim=dim, n_cells=6, nprobe=2)
    ex = {(r.qid, r.vec_id) for r in exact.collect()}
    ap = {(r.qid, r.vec_id) for r in approx.collect()}
    assert all((i, i) in ap for i in range(5))
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, recall


def test_ivf_cell_assignment_deterministic(spark):
    # quantizer is a pure projection: same vector -> same cell at any
    # parallelism; probe order is (-dot, cell_id) deterministic
    from pyspark.sql import functions as F2
    cents = SIM._centroids(8, 4)
    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
         for i in range(50)],
        "vec_id long, embedding array<double>")
    one = df.coalesce(1).withColumn(
        "c", F2.expr(SIM.cell_expr("embedding", cents))).collect()
    many = df.repartition(8).withColumn(
        "c", F2.expr(SIM.cell_expr("embedding", cents))).collect()
    a = {r.vec_id: r.c for r in one}
    b = {r.vec_id: r.c for r in many}
    assert a == b
    assert set(a.values()) <= set(range(1, 5))


def test_jaccard_prefix_equals_naive(spark):
    # prefix filtering must be EXACT: same pairs + same scores as the naive
    # inverted-index join, including boundary-threshold pairs
    import random
    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    base = [rnd.choice(vocab) for _ in range(30)]
    for i in range(60):
        doc = list(base)
        for _ in range(i % 7):  # increasing mutation
            doc[rnd.randrange(len(doc))] = rnd.choice(vocab)
        rows.append((i, " ".join(doc)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    naive = {(r.doc_a, r.doc_b): (r.inter, r.jaccard)
             for r in DD.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    pref = {(r.doc_a, r.doc_b): (r.inter, r.jaccard)
            for r in DD.ngram_jaccard_pairs_prefix(df, threshold=0.5).collect()}
    assert naive.keys() == pref.keys()
    for k in naive:
        assert naive[k][0] == pref[k][0]
        assert np.isclose(naive[k][1], pref[k][1])
    assert len(naive) > 0  # the fixture actually produces near-dups


def test_connected_components_transitive_chain(spark):
    from clj_nlp_parse_spark.operators import dedup as DD
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long")
    got = {(r.node, r.component)
           for r in DD.connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20), (23, 20)}


def test_connected_components_long_path_converges(spark):
    # pointer jumping: a 300-node path converges in O(log D) rounds —
    # max_iter=12 would be impossible for plain 1-hop propagation (300
    # rounds) and proves the jump actually compresses chains.
    # driver_max_edges=0 forces the DISTRIBUTED loop (r6: small edge
    # lists otherwise take the driver-side union-find fast path).
    from clj_nlp_parse_spark.operators import dedup as DD
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "doc_a long, doc_b long")
    got = {r.component
           for r in DD.connected_components(pairs, max_iter=12,
                                            driver_max_edges=0).collect()}
    assert got == {0}


def test_connected_components_nonconvergence_raises(spark):
    import pytest
    from clj_nlp_parse_spark.operators import dedup as DD
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iter=1, driver_max_edges=0)


def test_connected_components_driver_vs_distributed(spark):
    """r6 fast path: the driver-side union-find must emit the IDENTICAL
    (node, component) set as the distributed min-label loop on a random
    mixed star+chain+singleton-free graph."""
    import random
    from clj_nlp_parse_spark.operators import dedup as DD
    rnd = random.Random(7)
    edges = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {(r.node, r.component)
            for r in DD.connected_components(pairs).collect()}
    dist = {(r.node, r.component)
            for r in DD.connected_components(
                pairs, driver_max_edges=0).collect()}
    assert fast == dist and len(fast) > 0


def test_cc_driver_side_is_local_relation(spark):
    """r6: the fast path's result must plan as a JVM LocalTableScan (known
    small stats -> broadcastable downstream), never a Python-backed
    ExistingRDD — and the pandas conversion must not perturb values."""
    from clj_nlp_parse_spark.operators import dedup as DD
    pairs = spark.createDataFrame(
        [(5, 1), (1, 3), (9, 8)], "doc_a long, doc_b long")
    comp = DD.connected_components(pairs)
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got = {(r.node, r.component) for r in comp.collect()}
    assert got == {(5, 1), (1, 1), (3, 1), (9, 8), (8, 8)}


def test_dedup_groups_keep_semantics(spark):
    # a~b and b~c (transitively) must BOTH drop; singletons keep themselves
    from clj_nlp_parse_spark.operators import dedup as DD
    base = "the fast table scan runs the fast table scan again and again"
    docs = spark.createDataFrame([
        (1, base),
        (2, base + " ok"),            # near-dup of 1
        (3, base + " ok fine"),       # near-dup of 2 (chain to 1)
        (9, "completely different words entirely here now today"),
    ], "doc_id long, text string")
    got = {r.doc_id: (r.component, r.keep)
           for r in DD.dedup_groups(docs, threshold=0.5).collect()}
    assert got[1] == (1, True)
    assert got[2][0] == 1 and got[2][1] is False
    assert got[3][0] == 1 and got[3][1] is False
    assert got[9] == (9, True)


def test_dedup_groups_identical_text_blowup_guard(spark):
    # VERDICT_r02 #3 adversarial case: 10k byte-identical docs. Pre-guard
    # this emitted ~50M candidate pairs before distinct; collapse_exact must
    # reduce it to 0 prefix pairs + n-1 star edges with an unchanged CC
    # closure (one component, min id keeps).
    from pyspark.sql import functions as F
    from clj_nlp_parse_spark.operators import dedup as DD
    boiler = "the same boilerplate footer text repeated on every page"
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
    extra = spark.createDataFrame(
        [(20_000, "completely different content entirely here now")],
        "doc_id long, text string")
    corpus = docs.unionByName(extra)
    key = F.md5(F.expr(DD.norm_text_sql("text", "spark")))
    reps, star = DD.collapse_exact(corpus, "doc_id", key)
    assert reps.count() == 2                      # one rep per distinct text
    assert star.count() == 9_999                  # O(n) edges, not n^2/2
    pairs = DD.ngram_jaccard_pairs_prefix(reps, 0.5)
    assert pairs.count() == 0                     # reps are not near-dups
    out = DD.dedup_groups(corpus, threshold=0.5)
    agg = out.groupBy("component").agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("int")).alias("keeps")).collect()
    got = {r.component: (r.n, r.keeps) for r in agg}
    assert got[0] == (10_000, 1)                  # one cluster, one keep
    assert got[20_000] == (1, 1)


def test_collapse_exact_null_keys_stay_singletons(spark):
    # review r03: Window.partitionBy puts every NULL in ONE group — rows
    # with a NULL collapse key (e.g. failed image hashes) must NOT be
    # star-linked into one pseudo-duplicate cluster
    from pyspark.sql import functions as F
    from clj_nlp_parse_spark.operators import dedup as DD
    df = spark.createDataFrame(
        [(1, 7), (2, 7), (3, None), (4, None), (5, 9)],
        "doc_id long, ph long")
    reps, star = DD.collapse_exact(df, "doc_id", F.col("ph"))
    assert sorted(r.doc_id for r in reps.collect()) == [1, 3, 4, 5]
    assert [(r.doc_a, r.doc_b) for r in star.collect()] == [(1, 2)]


def test_dedup_groups_identical_empty_docs_stay_singletons(spark):
    # docs with fewer words than the shingle width can never pair under the
    # Jaccard path — the exact-collapse guard must NOT group them either
    from clj_nlp_parse_spark.operators import dedup as DD
    docs = spark.createDataFrame(
        [(1, "same two"), (2, "same two"), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: (r.component, r.keep)
           for r in DD.dedup_groups(docs, threshold=0.5).collect()}
    assert got == {1: (1, True), 2: (2, True), 3: (3, True)}


def test_embedding_dedup_groups_keep_semantics(spark, tmp_path):
    # the embedding surface of near_dup_groups, run through the registered
    # query body on a small embeddings table: byte-identical vectors share
    # a component (the query's own +1000000 copy of ids < 50 and an
    # explicit copy), zero-norm vectors never pair, and a cosine >= 0.99
    # pair of distinct vectors groups
    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark import schema
    rng = np.random.default_rng(5)
    v1, v2, v3 = (rng.standard_normal(64).astype(np.float32)
                  for _ in range(3))
    v2b = (v2 + 0.01 * rng.standard_normal(64)).astype(np.float32)
    cos = float(v2 @ v2b) / float(np.linalg.norm(v2) * np.linalg.norm(v2b))
    assert 0.99 <= cos < 1.0
    zero = np.zeros(64, dtype=np.float32)
    rows = [(1, v1), (60, v1), (70, zero), (71, zero), (80, v2), (81, v2b),
            (90, v3)]
    spark.createDataFrame(
        [(i, v.tolist(), 0) for i, v in rows], schema.EMBEDDINGS_SCHEMA) \
        .write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {r.vec_id: (r.component, r.keep)
           for r in Q.q_embedding_dedup_groups(
               spark, str(tmp_path)).collect()}
    assert got == {1: (1, True), 60: (1, False), 1_000_001: (1, False),
                   70: (70, True), 71: (71, True),
                   80: (80, True), 81: (80, False), 90: (90, True)}


def test_decontaminate_flags_ngram_overlap(spark):
    from clj_nlp_parse_spark.operators import dedup as DD
    ev = spark.createDataFrame(
        [(100, "the secret answer is forty two exactly")],
        "doc_id long, text string")
    tr = spark.createDataFrame([
        (1, "prefix words then the secret answer is hidden here"),
        (2, "completely unrelated training text entirely"),
        (3, "answer is forty something else"),
    ], "doc_id long, text string")
    got = {r.doc_id: r.contaminated
           for r in DD.decontaminate(tr, ev, n=4).collect()}
    # doc 1 shares the 4-gram 'the secret answer is'; doc 3 shares only a
    # 3-gram ('answer is forty') — below n, clean; doc 2 clean
    assert got == {1: True, 2: False, 3: False}


def test_banded_cosine_recall_beats_single_table(spark):
    # OR-amplification claim, measured: same total plane budget (16), the
    # banded split (4 bands x 4 planes) must recover MORE true near-dup
    # pairs than one 16-plane table — and every reported pair must be a
    # true pair (exact cosine verification is part of both operators)
    import numpy as np
    from clj_nlp_parse_spark.operators import similarity as SIM
    rng = np.random.default_rng(77)
    dim, n_base, n_dup = 16, 300, 80
    base = rng.normal(size=(n_base, dim))
    rows = [(i, base[i].tolist()) for i in range(n_base)]
    truth = set()
    for k in range(n_dup):
        # near-duplicate of base k: cosine ~ 0.998
        v = base[k] + 0.03 * rng.normal(size=dim)
        rows.append((10000 + k, v.tolist()))
        cos = float(base[k] @ v / (np.linalg.norm(base[k])
                                   * np.linalg.norm(v)))
        if cos >= 0.99:
            truth.add((k, 10000 + k))
    assert len(truth) >= 60
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    single = {(r.id_a, r.id_b) for r in SIM.cosine_dedup_pairs(
        df, threshold=0.99, dim=dim, n_planes=16).collect()}
    banded = {(r.id_a, r.id_b) for r in SIM.cosine_dedup_pairs_banded(
        df, threshold=0.99, dim=dim, n_bands=4,
        planes_per_band=4).collect()}
    # no false positives on either path (exact verify)
    brute = set()
    allv = {i: np.array(v) for i, v in rows}
    for a, b in [(a, b) for a in allv for b in allv if a < b]:
        va, vb = allv[a], allv[b]
        if va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) >= 0.99:
            brute.add((a, b))
    assert single <= brute and banded <= brute
    # the banded form dominates the single table at equal plane budget
    assert len(banded & truth) > len(single & truth)
    assert len(banded & truth) >= 0.95 * len(truth)


def test_choose_planes_per_band_rule():
    from clj_nlp_parse_spark.operators import similarity as SIM
    assert SIM.choose_planes_per_band(64) == 3             # floor
    assert SIM.choose_planes_per_band(500) == 3            # 500/64 → 2^3
    assert SIM.choose_planes_per_band(1 << 20) == 14       # 2^20/64
    assert SIM.choose_planes_per_band(10 ** 12) == 34
    assert SIM.choose_planes_per_band(10 ** 16) == 48      # cap
    vals = [SIM.choose_planes_per_band(n)
            for n in (10, 10**6, 10**8, 10**10, 10**12, 10**14)]
    assert vals == sorted(vals)                            # monotone


def test_choose_cosine_bands_rule():
    from clj_nlp_parse_spark.operators import similarity as SIM
    # recall floor holds as r grows: b rises with r at fixed threshold
    b3 = SIM.choose_cosine_bands(0.99, 3)
    b34 = SIM.choose_cosine_bands(0.99, 34)
    assert b3 == 2 and b34 == 13 and b34 > b3
    # looser threshold (smaller p) needs more bands at the same r
    assert SIM.choose_cosine_bands(0.9, 3) > SIM.choose_cosine_bands(0.99, 3)
    # the sized (r, b) actually meets the recall target
    import math
    for thr, r in ((0.99, 3), (0.99, 34), (0.95, 10)):
        b = SIM.choose_cosine_bands(thr, r)
        p = 1 - math.acos(thr) / math.pi
        assert 1 - (1 - p ** r) ** b >= 0.95


def test_banded_codegen_survives_derived_ceiling(spark):
    # ADVICE r04: the old unrolled sign-bucket expression blew janino's
    # 64 KB method limit even at r=3/b=2 and silently fell back to
    # interpreted execution. The fold form must COMPILE (no fallback) at
    # the derivation ceiling r=48/b=64 — run with codegen fallback
    # DISABLED so a regression raises instead of degrading silently.
    import numpy as np
    from clj_nlp_parse_spark.operators import similarity as SIM
    rng = np.random.default_rng(11)
    rows = [(i, v.tolist()) for i, v in
            enumerate(rng.normal(size=(8, 64)))]
    rows += [(100 + i, rows[i][1]) for i in range(3)]  # exact dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = {(r.id_a, r.id_b) for r in SIM.cosine_dedup_pairs_banded(
            df, threshold=0.99, dim=64, n_bands=64,
            planes_per_band=48).collect()}
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    # with 48 planes/band a single band rarely collides at random, but
    # exact dups agree on EVERY plane → all 64 bands; recall is 1.0 here
    assert {(0, 100), (1, 101), (2, 102)} <= got
    for a, b in got:
        va = np.array(dict(rows)[a]); vb = np.array(dict(rows)[b])
        assert va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) >= 0.99
