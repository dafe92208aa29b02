"""A8/A9 tree surface: sr_parse_test.clj-shaped golden (nested tree
equality on a small utterance) over the edge kernel, canonical
serialization goldens over the serializer, and the rehomed F2 hash."""

from __future__ import annotations

from clj_nlp_parse_spark.operators import trees as TR


def _edges(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return [(r.parent, r.child, r.label, r.token_index)
            for r in TR.parse_tree_edge_rows(df).orderBy("child").collect()]


def _nested(edges):
    """Rebuild the reference's nested {label, token-index, child} map from
    the flattened edge array (the traversal a tree consumer writes)."""
    kids: dict[int, list] = {}
    node: dict[int, dict] = {}
    for parent, child, label, tix in edges:
        n = {"label": label}
        if tix is not None:
            n["token_index"] = tix
        node[child] = n
        kids.setdefault(parent, []).append(child)
    def build(i):
        n = dict(node[i])
        ch = [build(c) for c in sorted(kids.get(i, []))]
        if ch:
            n["child"] = ch
        return n
    (root,) = kids[-1]
    return build(root)


# the reference golden's exact shape (sr_parse_test.clj:26-49:
# ROOT(S(NP(PRP I), VP(VBP am, NP(NNP Paul)))) with 1-based :token-index),
# under the engine's deterministic rule tagger (paul → NN fallback)
FIRST_SENT_GOLD = {
    "label": "ROOT",
    "child": [{
        "label": "S",
        "child": [
            {"label": "NP", "child": [
                {"label": "PRP", "token_index": 1, "child": [
                    {"label": "i", "token_index": 1}]}]},
            {"label": "VP", "child": [
                {"label": "VBP", "token_index": 2, "child": [
                    {"label": "am", "token_index": 2}]},
                {"label": "NP", "child": [
                    {"label": "NN", "token_index": 3, "child": [
                        {"label": "paul", "token_index": 3}]}]}]},
        ],
    }],
}


def test_sr_parse_shaped_golden(spark):
    assert _nested(_edges(spark, "i am paul")) == FIRST_SENT_GOLD


def test_serialization_goldens():
    assert TR.tree_ser("i am paul") == (
        "(ROOT (S (NP (PRP i)) (VP (VBP am) (NP (NN paul)))))")
    # NP run over DT JJ JJ NNS; 'quickly' (RB) has no verb head → loose
    assert TR.tree_ser("the fast table runs quickly") == (
        "(ROOT (S (NP (DT the) (JJ fast) (JJ table) "
        "(NNS runs)) (RB quickly)))")
    assert TR.tree_ser("") == "(ROOT (S))"


def test_vp_close_deferred_only_for_attached_np():
    # adjacent NP attaches into VP
    assert TR.tree_ser("is quickly paul") == (
        "(ROOT (S (VP (VBZ is) (RB quickly) (NP (NN paul)))))")
    # [the(DT) table(JJ)] is HEADLESS → dissolves to loose tokens
    assert TR.tree_ser("is quickly the table") == (
        "(ROOT (S (VP (VBZ is) (RB quickly)) (DT the) (JJ table)))")


def test_headless_runs_dissolve_to_loose_tokens():
    # 'quickly slowly' is a VP-class run with no VB* head → tokens loose
    assert TR.tree_ser("quickly slowly") == (
        "(ROOT (S (RB quickly) (RB slowly)))")


def test_tree_features_hashes_the_serialization(spark):
    from clj_nlp_parse_spark import dialect
    from clj_nlp_parse_spark.operators import features as FT
    df = spark.createDataFrame([(1, "i am paul")], "doc_id long, text string")
    (row,) = FT.tree_features(df).collect()
    ser = TR.tree_ser("i am paul")
    (want,) = spark.sql(
        "SELECT " + dialect.hash32_expr(f"'{ser}'", "spark")).collect()
    assert row.dep_tree_id == want[0]


def test_dep_tree_golden(spark):
    # 'i am paul': root = first verb ('am', index 2); 'i' and 'paul' are
    # single-member chunks (each its own head) → both depend on root
    got = {r.dependent: (r.head, r.label)
           for r in TR.dep_edge_rows(
               spark.createDataFrame([(1, "i am paul")],
                                     "doc_id long, text string")).collect()}
    assert got == {2: (0, "root"), 1: (2, "dep"), 3: (2, "dep")}
    # multi-member NP: members point at the chunk head (last head tag),
    # which points at the root; no verb → root = token 1
    got = {r.dependent: (r.head, r.label)
           for r in TR.dep_edge_rows(
               spark.createDataFrame([(1, "the fast table runs quickly")],
                                     "doc_id long, text string")).collect()}
    # tags: DT JJ JJ NNS RB → NP run [1..4] head = 'runs' (NNS, last);
    # no VB* token → root = token 1 ('the')
    assert got[1] == (0, "root")     # root wins over chunk membership
    assert got[2] == (4, "mod") and got[3] == (4, "mod")
    assert got[4] == (1, "dep")      # chunk head → root
    assert got[5] == (1, "dep")      # loose RB → root
    # acyclicity: following heads from any node reaches 0
    for start in got:
        seen, cur = set(), start
        while cur != 0:
            assert cur not in seen
            seen.add(cur)
            cur = got.get(cur, (0,))[0]


def test_dep_tree_zero_token_doc_no_crash(spark):
    # an empty/punct-only/NULL doc yields zero dep edges and the empty
    # tree, not a crash
    df = spark.createDataFrame(
        [(1, ""), (2, "..."), (3, None), (4, "i am paul")],
        "doc_id long, text string")
    got = TR.dep_edge_rows(df).groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in got} == {4: 3}
    for text in ("", "...", None):
        assert TR.tree_ser(text) == "(ROOT (S))"
