"""Physical-plan shape assertions — the 100 TB questions as regression
tests: does the filter reach the scan, is the scan pruned to the needed
columns, is the small side broadcast, how many shuffles does each operator
pay, does the hot path stay in whole-stage codegen with zero Python."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_feature_scan_pruned_and_pushed(spark, sf_dir):
    from clj_nlp_parse_spark.operators.features import pos_tag_features
    df = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("doc_id") < 100)
    plan = _plan(pos_tag_features(df))
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    # column pruning: only the two needed columns are read
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "n_chars" not in scan
    # predicate pushdown reaches the scan
    assert "doc_id" in scan.split("DataFilters")[1][:120]
    # pure projection: no exchange, no Python
    assert "Exchange" not in plan
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize("kw", [
    dict(direction="backward"),
    dict(direction="forward"),
    dict(direction="nearest"),
    dict(direction="forward", tolerance_ms=60000),
], ids=["backward", "forward", "nearest", "forward_tolerance"])
def test_asof_union_window_single_shuffle_no_python(spark, kw):
    import datetime as dt
    from clj_nlp_parse_spark.operators import asof
    l = spark.createDataFrame(
        [(1, "a", dt.datetime(2025, 1, 1))],
        "event_id long, entity_id string, event_ts timestamp")
    r = spark.createDataFrame(
        [("a", dt.datetime(2025, 1, 1), 1.0)],
        "entity_id string, feature_ts timestamp, fval double")
    plan = _plan(asof.asof_join(l, r, ["entity_id"], **kw))
    # exactly one shuffle: the window partitioning on the join key
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "ArrowEval" not in plan and "FlatMapCoGroups" not in plan


def test_similarity_topk_broadcasts_queries(spark, sf_dir):
    from clj_nlp_parse_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    plan = _plan(SIM.brute_force_topk(emb, q, k=5))
    assert "BroadcastExchange" in plan
    # the big side is never shuffled for the join itself (only the window)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_word_count_transform_is_pure_projection(spark, sf_dir):
    from clj_nlp_parse_spark.operators.word_count import WordCountFeaturizer
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fz = WordCountFeaturizer(label_col="lang", text_col="text")
    model = fz.fit(docs)
    plan = _plan(fz.transform(docs, model))
    # scoring after fit: broadcast literal maps, no join, no shuffle, no UDF
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEval" not in plan


def test_dedup_exact_single_shuffle(spark, sf_dir):
    from clj_nlp_parse_spark.operators.dedup import exact_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_image_features_drop_bytes_before_any_exchange(spark):
    from clj_nlp_parse_spark import synth
    from clj_nlp_parse_spark.operators import asof, images
    imgs = synth.synth_images(spark, 32)
    feats = images.extract_image_features(imgs)
    events = imgs.select("entity_id", "event_ts")
    out = asof.asof_join(events, feats.select(
        "entity_id", "feature_ts", "px_std"), on=["entity_id"])
    plan = _plan(out)
    # bytes never appear below an Exchange: the only reference to the
    # binary column is inside the mapInPandas stage feeding it
    exchange_at = plan.index("Exchange")
    assert "bytes" not in plan[:exchange_at]


def test_ivf_topk_broadcast_probe_no_cartesian(spark, sf_dir):
    from clj_nlp_parse_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    plan = _plan(SIM.ivf_topk(emb, q, k=5, dim=64, n_cells=8, nprobe=2))
    # probe is an equi-join on the cell id with the tiny query side broadcast
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # quantization is the DECLARED Arrow batch stage (r6,
    # similarity._assign_cells_arrow) — one per side, and no
    # row-at-a-time Python anywhere
    assert plan.count("MapInArrow") == 2
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan


def test_jaccard_prefix_no_cartesian_all_equijoins(spark, sf_dir):
    from clj_nlp_parse_spark.operators.dedup import ngram_jaccard_pairs_prefix
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(ngram_jaccard_pairs_prefix(docs, threshold=0.5))
    # candidate generation joins prefixes on the shingle — never a cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan


def test_composed_pipeline_zero_joins_zero_exchanges(spark):
    # VERDICT r01 'wrong' #3: sentiment and text-stats components must be
    # projections, not self-joins — the full composed pipeline is one
    # shuffle-free projection pass
    from clj_nlp_parse_spark.plans.pipeline import FeaturePipeline
    df = spark.createDataFrame(
        [(1, "the cats are running. slow table scan!")],
        "doc_id long, text string")
    out = FeaturePipeline.from_string(
        "tokenize,stopword,pos-features,doc-stats,sentiment,text-stats"
    ).transform(df)
    plan = _plan(out)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan
    # and it still computes: every component's headline column is present
    row = out.collect()[0]
    assert row.sentiment_utterance is not None
    assert row.lang_pred is not None
    assert row.pos_tag_count_noun is not None


def test_pii_scrub_pure_projection(spark, sf_dir):
    from clj_nlp_parse_spark import queries as Q
    df = Q.QUERIES["pii_scrub"](spark, sf_dir)
    # strip the oracle-comparison orderBy: the operator itself is the select
    plan = _plan(df.limit(2147483647).select("doc_id", "n_emails",
                                             "n_urls", "scrubbed"))
    # the operator core is one Catalyst projection; the only exchange
    # allowed is the oracle-ordering sort at the very end
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "doc_id" in scan and "text" in scan and "lang" not in scan


def test_stratified_sample_single_shuffle(spark, sf_dir):
    from clj_nlp_parse_spark import queries as Q
    plan = _plan(Q.QUERIES["stratified_sample"](spark, sf_dir))
    # one hash exchange for the stratum window + the final sort only
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_ex == 1, plan
    assert "BatchEvalPython" not in plan


def test_sequence_packing_no_stratum_wide_window(spark, sf_dir):
    # VERDICT_r02 #1: the per-row cumsum window must be partitioned by
    # (lang, __chunk) — never by lang alone, which would funnel a whole
    # stratum through one task at 100x. The only lang-partitioned window
    # allowed is the offset cumsum over the tiny per-chunk subtotal agg.
    from clj_nlp_parse_spark import queries as Q
    plan = _plan(Q.QUERIES["sequence_packing"](spark, sf_dir))
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines, plan
    for l in win_lines:
        if "sum(n_tokens" in l:
            # the per-row window: both stratum key and chunk key present
            assert "__chunk" in l.split("windowspecdefinition")[1][:80], l
        else:
            # any other window may only consume the subtotal aggregate
            assert "chunk_total" in l, l
    # offsets come back via broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_sequence_packing_two_pass_equals_single_window(spark, monkeypatch):
    # the chunked two-pass cumsum must reproduce the naive per-stratum
    # window layout EXACTLY, including NULL-lang strata, empty docs, and
    # single-doc chunks
    import random
    from pyspark.sql import Window
    from clj_nlp_parse_spark import queries as Q
    rnd = random.Random(47)
    docs = [(i, " ".join("w%d" % rnd.randint(0, 9)
                         for _ in range(rnd.randint(0, 30))),
             rnd.choice(["en", "de", None]))
            for i in range(300)]
    sdf = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    monkeypatch.setattr(Q, "_docs", lambda _s, _d: sdf)
    got = sorted((r.doc_id, r.seq_id, r.seq_offset)
                 for r in Q.QUERIES["sequence_packing"](spark, "x")
                 .collect())
    from clj_nlp_parse_spark import dialect
    w = sdf.select(
        "doc_id", "lang",
        F.expr(f"size({dialect.tokens_expr('text', 'spark')})")
        .cast("long").alias("n_tokens"))
    win = (Window.partitionBy("lang")
           .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = w.withColumn("cum", F.sum("n_tokens").over(win))
    start = F.col("cum") - F.col("n_tokens")
    want = sorted((r.doc_id, r.seq_id, r.seq_offset) for r in c.select(
        "doc_id",
        F.floor(start / 512).cast("long").alias("seq_id"),
        (start % 512).cast("long").alias("seq_offset")).collect())
    assert got == want


def test_pack_chunk_hex_derived_from_stratum_size(spark):
    # VERDICT_r03 #4: the chunk width must come from a per-stratum count so
    # the max window group is bounded by PACK_TARGET_GROUP_ROWS at ANY
    # corpus size — k widens as the dominant stratum grows, and the pass-2
    # offset-table cap holds.
    from clj_nlp_parse_spark import queries as Q
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    # 10k-row stratum: target 10_000 → k=1; 600 → 16^k >= 17 → k=2;
    # 30 → 16^k >= 334 → k=3
    assert Q.choose_pack_chunk_hex(docs, target=10_000) == 1
    assert Q.choose_pack_chunk_hex(docs, target=600) == 2
    assert Q.choose_pack_chunk_hex(docs, target=30) == 3
    assert Q.choose_pack_chunk_hex(docs, target=1) == 4  # 16^4 >= 10k
    # cap: an absurd stratum/target ratio never exceeds PACK_CHUNK_HEX_MAX
    assert Q.choose_pack_chunk_hex(docs, target=0) == Q.PACK_CHUNK_HEX_MAX
    # empty corpus → k=1, no crash
    assert Q.choose_pack_chunk_hex(docs.where("doc_id < 0")) == 1
    # NULL-lang stratum counts like any other stratum
    nulls = docs.withColumn("lang", F.lit(None).cast("string"))
    assert Q.choose_pack_chunk_hex(nulls, target=600) == 2


def test_corpus_profile_histogram_percentiles_no_per_row_window(spark, sf_dir):
    # VERDICT_r02 #2: percentiles must come from the (lang, n_tokens)
    # histogram — no row_number / full-stratum sort over corpus rows; every
    # window consumes only the histogram's count column.
    from clj_nlp_parse_spark import queries as Q
    plan = _plan(Q.QUERIES["corpus_profile"](spark, sf_dir))
    assert "row_number" not in plan, plan
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines, plan
    for l in win_lines:
        assert "sum(cnt" in l, l
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_curation_pipeline_one_window_broadcast_probe(spark, sf_dir):
    # the composed admission plan must stay: one hash-keyed window on the
    # text hash, a broadcast semi-probe for contamination, and the
    # contamination verdict joined back as the SMALL id set on the BUILD
    # side (review r03: a corpus-sized per-doc flags relation here becomes
    # a full-corpus join at scale). No sort-merge join anywhere, no Python.
    from clj_nlp_parse_spark import queries as Q
    plan = _plan(Q.QUERIES["curation_pipeline"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # eval shingles: broadcast left-semi probe of the exploded corpus
    semi = [l for l in plan.splitlines()
            if "BroadcastHashJoin" in l and "LeftSemi" in l]
    assert semi, plan
    # contaminated ids: broadcast BUILD side of the left-outer join — the
    # corpus is the stream side, never shuffled for this join
    outer = [l for l in plan.splitlines()
             if "BroadcastHashJoin" in l and "LeftOuter" in l
             and "BuildRight" in l]
    assert outer, plan


def test_model_mentions_pure_projection(spark, sf_dir):
    # gazetteer NER is a broadcast-literal CASE cascade + per-row run
    # folding: no join, no shuffle (beyond the final presentation sort),
    # no Python — the A6 surface must stay a projection at any scale
    from clj_nlp_parse_spark import queries as Q
    plan = _plan(Q.QUERIES["model_mentions"](spark, sf_dir))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_tree_queries_arrow_kernel_no_join_no_hash_exchange(spark, sf_dir):
    # the tree surfaces run their per-doc Arrow kernel and nothing
    # relational beyond the final presentation sort
    from clj_nlp_parse_spark import queries as Q
    for name in ("parse_tree_edges", "dep_tree_edges", "tree_features"):
        plan = _plan(Q.QUERIES[name](spark, sf_dir))
        assert "MapInArrow" in plan, name
        assert "Join" not in plan, name
        assert "Exchange hashpartitioning" not in plan, name


def test_cm_point_estimates_broadcasts_sketch(spark):
    from clj_nlp_parse_spark.operators import sketches as SK
    df = spark.createDataFrame([("a",), ("b",)], "item string")
    sk = SK.cm_sketch(df, "item")
    probes = spark.createDataFrame([("a",), ("zz",)], "item string")
    plan = _plan(SK.cm_point_estimates(sk, probes))
    assert "BroadcastHashJoin" in plan
    # left outer: absent cells must survive to the coalesce
    assert "LeftOuter" in plan


def test_decontaminate_broadcast_semi_probe(spark, sf_dir):
    # the corpus side must NOT shuffle: eval shingles broadcast into a
    # left-semi hash join probe of the exploded training shingles
    from clj_nlp_parse_spark import queries as Q
    plan = _plan(Q.QUERIES["decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # no sort-merge join of training shingles
    assert "SortMergeJoin" not in plan.split("LeftSemi")[0]
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_all_annotators_compose_in_one_scan_zero_shuffle(spark, sf_dir):
    # The reference's annotation tree carries tokens, mentions and model
    # mentions on ONE utterance record. The engine's projection
    # annotators (dictionary and model NER) chained onto one frame must
    # compile to a single parquet scan with zero exchanges and zero
    # Python — annotate in the map phase, pay the scan once. (coref,
    # natlog and srl are per-doc Arrow kernels, declared as Arrow
    # stages in tools/audit_plans.py.)
    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import ner as NER
    from clj_nlp_parse_spark.operators import dictionary as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = NER.add_model_mentions(D.tag_mentions(docs, Q.DICT_ITEMS))
    plan = _plan(full)
    assert len(re.findall(r"FileScan|BatchScan", plan)) == 1, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # and it actually runs: every annotation column materializes
    row = full.select("doc_id", "tok_re_mentions", "model_mentions").first()
    assert row.tok_re_mentions is not None
    assert row.model_mentions is not None
