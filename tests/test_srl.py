"""SRL selection logic golden tests (reference srl.clj:110-132)."""

from __future__ import annotations

from clj_nlp_parse_spark.operators import srl


def _sel(spark, rows):
    df = spark.createDataFrame(
        rows, "sent_id long, cand_id long, score double, has_label boolean, "
              "tok_count int")
    return {r.sent_id: r.cand_id
            for r in srl.select_best_candidates(df).collect()}


def test_long_sentence_top_score_wins(spark):
    got = _sel(spark, [
        (1, 10, 0.2, False, 8), (1, 11, 0.9, False, 8), (1, 12, 0.5, True, 8)])
    assert got[1] == 11  # pure score ranking, label irrelevant


def test_short_sentence_prefers_first_labeled(spark):
    # tok_count <= 3: the FIRST (candidate order) labeled candidate wins
    # even if a later/other candidate scores higher (srl.clj:115-132)
    got = _sel(spark, [
        (2, 20, 0.9, False, 3), (2, 21, 0.1, True, 3), (2, 22, 0.8, True, 3)])
    assert got[2] == 21


def test_short_sentence_no_label_falls_back_to_score(spark):
    got = _sel(spark, [
        (3, 30, 0.3, False, 2), (3, 31, 0.7, False, 2)])
    assert got[3] == 31


def test_verb_features_cascade(spark):
    from clj_nlp_parse_spark import schema
    df = spark.createDataFrame(
        [(1, "running fast today"),      # first token VBG → 'running'
         (2, "the cat was sleeping"),    # root: first verb 'was' → VBD
         (3, "table chair lamp")],       # no verb → none-label
        "doc_id long, text string")
    rows = {r.doc_id: r.elected_verb
            for r in srl.verb_features(df).collect()}
    assert rows[1] == "running"
    assert rows[2] == "was"
    assert rows[3] == schema.NONE_LABEL


def test_first_propbank_label(spark):
    df = spark.createDataFrame(
        [(1, [None, "verb.01", "verb.02"]), (2, [None, None])],
        "id long, labels array<string>")
    got = {r.id: r.first_propbank
           for r in srl.first_propbank_label(df, "id", "labels").collect()}
    assert got == {1: "verb.01", 2: None}


def test_srl_feature_cols(spark):
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, ["a.01", None, "b.02"], ["ARG0", None, "ARG1"])],
        "id long, pb array<string>, heads array<string>")
    row = df.select("id", *srl.srl_feature_cols("pb", "heads")).collect()[0]
    assert row.srl_argument_counts == 2
    assert row.srl_propbank_id != 0  # sum of two hashes, nil → 0


def test_srl_struct_shape_golden(spark):
    # A13 shape graft (reference srl.clj:143-162): hand-derivation over
    # "scan is running quickly" — the rule tagger gives is=VBZ(be),
    # running=VBG, so root = first verb-typed token = 2 ('is'); 'scan'
    # chunks as an NP headed by itself → head 2? No: singleton NP [scan]
    # has head scan(1) == itself → falls to root ('dep'). The VP
    # [is running quickly] heads at its last head-tagged token.
    from clj_nlp_parse_spark.operators import srl as S
    df = spark.createDataFrame([(1, "scan is running quickly")],
                               "doc_id long, text string")
    rows = {t.id: t for t in S.srl_token_rows(df).collect()}
    # ids are 1..n, exactly one root with head 0 and no head arc (NULL
    # function tag)
    assert sorted(rows) == [1, 2, 3, 4]
    assert [t.word for _, t in sorted(rows.items())] == \
        ["scan", "is", "running", "quickly"]
    roots = [t for t in rows.values() if t.dependency_label == "root"]
    assert len(roots) == 1 and roots[0].head_id == 0
    assert roots[0].function_tag is None
    # every non-root's one semantic-head arc carries its label's tag
    for t in rows.values():
        if t.dependency_label == "root":
            continue
        assert t.function_tag == {
            "mod": "PPT", "dep": "ADV"}[t.dependency_label]
    # propbank: verb-typed tokens carry lemma.01, others NULL
    assert rows[2].propbank == "be.01"       # is → irregular lemma be
    assert rows[1].propbank is None          # scan tags NN here
    # parity with the oracle-checked dep tree: same head per token
    from clj_nlp_parse_spark.operators import trees as TR
    dep = {r.dependent: r.head for r in TR.dep_edge_rows(df).collect()}
    assert {i: t.head_id for i, t in rows.items()} == dep


def test_srl_struct_empty_and_degenerate(spark):
    from clj_nlp_parse_spark.operators import srl as S
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "?!"), (4, "word")],
        "doc_id long, text string")
    rows = S.srl_token_rows(df).collect()
    # docs without tokens emit no rows; the one-token doc is its root
    assert [r.doc_id for r in rows] == [4]
    assert rows[0].dependency_label == "root" and rows[0].head_id == 0
    assert rows[0].function_tag is None
