"""A12 coref chains + A10 natlog polarity: goldens hand-derived from the
reference's documented semantics (stanford.clj:407-421 coref-tree-to-map,
stanford.clj:434-452 anon-operator-map/anon-token-map,
doc/annotation-definitions.md) — NOT from the dual-rendered SQL, so the
oracle gate and these tests fail independently (VERDICT_r03 #7). They run
the Arrow kernels the registered queries run (coref_rows, natlog_rows and
the two per-doc feature kernels)."""

from __future__ import annotations

from clj_nlp_parse_spark.operators import coref as CRF
from clj_nlp_parse_spark.operators import natlog as NLG


def _one_doc(spark, text):
    return spark.createDataFrame([(1, text)], "doc_id long, text string")


# --------------------------------------------------------------- A12 coref
def test_coref_chains_golden(spark):
    # hand-derivation: gazetteer runs per sentence →
    #   s0 "customer spark likes scan": [customer spark]=ORGANIZATION
    #      (toks 1-3 1-based [beg,end)), [scan]=OPERATION (4-5)
    #   s1 "the customer spark waits": [customer spark] (2-4)
    #   s2 "scan merge not scan": [scan merge] (1-3), [scan] (4-5)
    # keys with >=2 mentions: "customer spark" (2), "scan" (2);
    # "scan merge" is a singleton → dropped (CoreNLP drops singletons).
    # chain_id = rank in sorted key order: 1="customer spark", 2="scan".
    doc = _one_doc(spark, "customer spark likes scan . "
                          "the customer spark waits . "
                          "scan merge not scan")
    rows = [tuple(r) for r in
            CRF.coref_rows(doc).orderBy("sent_index", "token_beg")
            .select("chain_id", "mention_key", "label", "sent_index",
                    "token_beg", "token_end", "head_index", "chain_size")
            .collect()]
    want = [  # textual order
        (1, "customer spark", "ORGANIZATION", 0, 1, 3, 2, 2),
        (2, "scan", "OPERATION", 0, 4, 5, 4, 2),
        (1, "customer spark", "ORGANIZATION", 1, 2, 4, 3, 2),
        (2, "scan", "OPERATION", 2, 4, 5, 4, 2),
    ]
    assert rows == want


def test_coref_lemma_match_clusters_inflections(spark):
    # the clustering key is the LEMMA — "scans" and "scan" corefer even
    # though their surface forms differ (exact text/lemma match rule)
    doc = _one_doc(spark, "scan waits . scans run")
    rows = [tuple(r) for r in
            CRF.coref_rows(doc).orderBy("sent_index", "token_beg")
            .select("chain_id", "mention_key", "sent_index").collect()]
    assert rows == [(1, "scan", 0), (1, "scan", 1)]


def test_coref_empty_and_no_chain_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "..!!"), (4, "customer only once"),
         (5, "xyzzy xyzzy")],  # 5: repeated but not a gazetteer mention
        "doc_id long, text string")
    assert CRF.coref_rows(docs).collect() == []


def test_coref_adjacent_same_type_is_one_mention_not_two(spark):
    # run-merging: "scan merge" is ONE OPERATION mention; two isolated
    # "scan merge" occurrences then chain with each other
    doc = _one_doc(spark, "scan merge waits . scan merge runs")
    rows = [tuple(r) for r in
            CRF.coref_rows(doc).orderBy("sent_index", "token_beg")
            .select("chain_id", "mention_key", "token_beg", "token_end",
                    "chain_size").collect()]
    assert rows == [(1, "scan merge", 1, 3, 2), (1, "scan merge", 1, 3, 2)]


# --------------------------------------------------------------- A10 natlog
def test_natlog_polarity_golden(spark):
    # s0 "scan not slow never fast": negations at 2 and 4 —
    #   scan: 0 negs before → up; not: 0 → up; slow: 1 → down;
    #   never: 1 → down; fast: 2 → up (nested negations cancel)
    doc = _one_doc(spark, "scan not slow never fast . all big table")
    rows = {(r.sent_index, r.token_index): r for r in
            NLG.natlog_rows(doc).collect()}
    pol = {k: v.polarity for k, v in rows.items()}
    assert pol == {(0, 1): "up", (0, 2): "up", (0, 3): "down",
                   (0, 4): "down", (0, 5): "up",
                   (1, 1): "up", (1, 2): "up", (1, 3): "up"}


def test_natlog_negation_operator_spec_golden(spark):
    # "not" at i=2 in a 5-token sentence (reference anon-operator-map):
    # quantifier range = the operator token [2,3), subject = the whole
    # remaining scope [3,6), object empty [6,6), head = 1 (0-based)
    doc = _one_doc(spark, "scan not slow never fast")
    rows = {r.token_index: r for r in
            NLG.natlog_rows(doc).collect()}
    nt = rows[2]
    assert (nt.word, nt.operator) == ("not", "not")
    assert (nt.quant_beg, nt.quant_end, nt.quant_head) == (2, 3, 1)
    assert (nt.subj_beg, nt.subj_end) == (3, 6)
    assert (nt.obj_beg, nt.obj_end) == (6, 6)
    # non-operator token: polarity only, operator columns NULL
    sc = rows[1]
    assert sc.operator is None and sc.subj_beg is None
    assert sc.quant_head is None and sc.polarity == "up"


def test_natlog_quantifier_operator_spec_golden(spark):
    # "every" at i=1 in "every big table" (n=3): subject = restrictor
    # token [2,3), object = body [3,4), quant range [1,2), head 0
    doc = _one_doc(spark, "every big table")
    rows = {r.token_index: r for r in
            NLG.natlog_rows(doc).collect()}
    ev = rows[1]
    assert ev.operator == "every"
    assert (ev.subj_beg, ev.subj_end) == (2, 3)
    assert (ev.obj_beg, ev.obj_end) == (3, 4)
    assert (ev.quant_beg, ev.quant_end, ev.quant_head) == (1, 2, 0)
    # quantifiers do NOT flip polarity
    assert rows[2].polarity == "up" and rows[3].polarity == "up"


def test_natlog_quantifier_at_sentence_end_ranges_clamp(spark):
    # trailing quantifier: restrictor/body clamp to the sentence end —
    # subject [n+1, n+1) and object [n+1, n+1) are both empty, not OOB
    doc = _one_doc(spark, "table all")
    rows = {r.token_index: r for r in
            NLG.natlog_rows(doc).collect()}
    al = rows[2]
    assert (al.subj_beg, al.subj_end) == (3, 3)
    assert (al.obj_beg, al.obj_end) == (3, 3)


def test_natlog_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "?!")], "doc_id long, text string")
    assert NLG.natlog_rows(docs).collect() == []


# ------------------------------------------------------------ Python twins
# Independent reimplementations (the trees.py "Python twin" pattern):
# third comparator alongside the Spark and DuckDB renderings, so parity
# does not rest solely on dialect-paired SQL generated from one builder.
import re as _re

from clj_nlp_parse_spark import dialect as _dialect
from clj_nlp_parse_spark.operators import ner as _ner


def _sents_py(text):
    sents = [_re.findall(r"[a-z0-9']+", s.lower())
             for s in _re.split(r"[.!?]+", text or "")]
    return [ws for ws in sents if ws]


def coref_py(text):
    """(chain_id, key, label, sent_index, token_beg, token_end,
    head_index, chain_size) rows in textual order — plain Python."""
    from collections import Counter
    w2t = {w: t for t, ws in _ner.GAZETTEER.items() for w in ws}
    mentions = []
    for si, ws in enumerate(_sents_py(text)):
        types = [w2t.get(w) for w in ws]
        i = 0
        while i < len(types):
            if types[i] is None:
                i += 1
                continue
            j = i
            while j < len(types) and types[j] == types[i]:
                j += 1
            key = " ".join(_dialect.lemma_py(w) for w in ws[i:j])
            mentions.append((si, types[i], i, j, key))
            i = j
    cnt = Counter(m[4] for m in mentions)
    keys = sorted(k for k, c in cnt.items() if c >= 2)
    return [(keys.index(k) + 1, k, lab, si, beg + 1, end + 1, end, cnt[k])
            for (si, lab, beg, end, k) in mentions if k in keys]


def natlog_py(text):
    """(sent_index, token_index, word, polarity, operator, subj_beg,
    subj_end, obj_beg, obj_end, quant_beg, quant_end, quant_head) rows."""
    from clj_nlp_parse_spark.operators import natlog as NL
    rows = []
    for si, ws in enumerate(_sents_py(text)):
        n = len(ws)
        negs = 0
        for i, w in enumerate(ws, start=1):
            pol = "down" if negs % 2 == 1 else "up"
            is_neg = w in NL.NEGATION_WORDS
            is_q = w in NL.QUANTIFIER_WORDS
            if is_neg or is_q:
                subj_end = n + 1 if is_neg else min(i + 2, n + 1)
                obj_beg = n + 1 if is_neg else min(i + 2, n + 1)
                rows.append((si, i, w, pol, w, i + 1, subj_end, obj_beg,
                             n + 1, i, i + 1, i - 1))
            else:
                rows.append((si, i, w, pol, None, None, None, None, None,
                             None, None, None))
            if is_neg:
                negs += 1
    return rows


_VOCAB = (
    [w for ws in _ner.GAZETTEER.values() for w in ws]
    + ["not", "no", "never", "without", "all", "every", "some",
       "the", "a", "fast", "slow", "runs", "waits", "xyzzy", "o'clock",
       "z" * 40, "42", ""]
)


def _coref_features_py(rows):
    """Per-doc chain aggregates of coref_py rows; zeros without chains."""
    sizes = {r[0]: r[7] for r in rows}
    nc, nm = len(sizes), sum(sizes.values())
    return (nc, nm, max(sizes.values(), default=0),
            0.0 if nc == 0 else nm / nc)


def _natlog_features_py(rows):
    """Per-doc token aggregates of natlog_py rows; zeros without tokens."""
    nt = len(rows)
    nd = sum(r[3] == "down" for r in rows)
    return (nt, sum(r[4] is not None for r in rows), nd,
            0.0 if nt == 0 else nd / nt)


def _twin_compare(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    # (doc_id, sent_index, token_beg) / (doc_id, sent_index, token_index)
    c_key = lambda r: (r[0], r[4], r[5])
    n_key = lambda r: r[:3]
    got_c = sorted((tuple(r) for r in CRF.coref_rows(df).collect()),
                   key=c_key)
    want_c = sorted(((i,) + row for i, t in enumerate(texts)
                     for row in coref_py(t)), key=c_key)
    assert got_c == want_c
    got_n = sorted((tuple(r) for r in NLG.natlog_rows(df).collect()),
                   key=n_key)
    want_n = sorted(((i,) + row for i, t in enumerate(texts)
                     for row in natlog_py(t)), key=n_key)
    assert got_n == want_n
    # the per-doc kernels: one row per doc, equal to the twins' aggregates
    got_cf = sorted(tuple(r) for r in CRF.coref_doc_features(df).collect())
    assert got_cf == [(i,) + _coref_features_py(coref_py(t))
                      for i, t in enumerate(texts)]
    got_nf = sorted(tuple(r) for r in NLG.natlog_doc_features(df).collect())
    assert got_nf == [(i,) + _natlog_features_py(natlog_py(t))
                      for i, t in enumerate(texts)]


def test_coref_natlog_python_twin_seeded(spark):
    # seeded word-salad sweep: 40 docs mixing gazetteer runs, operators,
    # punctuation bursts, inflections, apostrophes, huge tokens
    import random
    rnd = random.Random(404)
    texts = []
    for _ in range(40):
        toks = [rnd.choice(_VOCAB) for _ in range(rnd.randint(0, 40))]
        # sprinkle sentence breaks
        out = []
        for t in toks:
            out.append(t)
            if rnd.random() < 0.15:
                out.append(rnd.choice([".", "!", "?", "...", "?!"]))
        texts.append(" ".join(out))
    texts += ["", "?!", None and "" or "..", "customer customer customer"]
    _twin_compare(spark, texts)


def test_coref_natlog_python_twin_hypothesis(spark):
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=12, deadline=None)
    @given(st.lists(
        st.lists(st.sampled_from(_VOCAB + [".", "!", "?"]), max_size=25)
        .map(" ".join),
        min_size=1, max_size=6))
    def check(texts):
        _twin_compare(spark, texts)

    check()


def test_coref_natlog_python_twin_degenerate(spark):
    """VERDICT_r04 #2: the twin comparison on the degenerate shapes a
    web corpus actually contains — one giant sentence, negation-dense,
    alternating-type runs, one unbroken mention run — so the oracle-
    independence check covers the worst-case scan paths, not just salad."""
    giant = " ".join(
        "not" if i % 7 == 0 else ("customer" if i % 3 == 0 else f"w{i%13}")
        for i in range(3000))                       # no sentence break
    alternating = " ".join(
        "scan" if i % 2 == 0 else "the" for i in range(2000))
    one_run = " ".join("customer" for _ in range(1500))  # single mention
    quant_dense = " . ".join(
        " ".join(["every", "table", "no", "merge"] * 20)
        for _ in range(10))
    all_neg = " ".join("not" for _ in range(2000))  # every token flips
    _twin_compare(spark, [giant, alternating, one_run, quant_dense,
                          all_neg])


def test_coref_natlog_python_twin_hypothesis_sentenceless(spark):
    """Random docs with NO sentence breaks (the single-sentence web page)
    plus random break-dense docs — the two extremes of the splitter."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=60)
           .map(" ".join),
           st.integers(min_value=0, max_value=5))
    def check(text, breaks):
        # interleave `breaks` hard breaks at deterministic positions
        ws = text.split(" ")
        step = max(1, len(ws) // (breaks + 1))
        parts = [" ".join(ws[i:i + step]) for i in range(0, len(ws), step)]
        _twin_compare(spark, [text, " . ".join(parts)])

    check()
