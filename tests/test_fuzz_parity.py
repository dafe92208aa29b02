"""Randomized differential testing: the three renderers of the dialect rule
tables (Spark SQL, DuckDB SQL, Python) and the document-level query
fragments must agree on ADVERSARIAL inputs — random unicode-ish tokens,
empty/punct-only documents, giant words, quote pathologies."""

from __future__ import annotations

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.operators import chunking as CH
from clj_nlp_parse_spark.operators import features as FT
from clj_nlp_parse_spark.operators import srl as SRL
from clj_nlp_parse_spark.operators import trees as TR


def _random_tokens(n: int, seed: int = 123) -> list[str]:
    rnd = random.Random(seed)
    alphabet = string.ascii_lowercase + "0123456789'"
    suffixes = ["", "s", "es", "ies", "ing", "ed", "ss", "us", "sses", "'s"]
    out = []
    for _ in range(n):
        base = "".join(rnd.choice(alphabet)
                       for _ in range(rnd.randint(1, 12)))
        out.append(base + rnd.choice(suffixes))
    # deliberate pathologies
    out += ["", "'", "''", "s", "ss", "sss", "ies", "ing", "ed",
            "a" * 100, "0" * 20, "'''quoted'''", "it''s"]
    return sorted(set(out))


def test_pos_lemma_fuzz_three_way(spark):
    words = _random_tokens(300)
    df = spark.createDataFrame([(w,) for w in words], "t string")
    srows = df.select(
        "t",
        F.expr(dialect.pos_case_expr("t", "spark")).alias("pos"),
        F.expr(dialect.lemma_case_expr("t", "spark")).alias("lem"),
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE w(t VARCHAR)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in words])
    duck = {t: (p, l) for t, p, l in con.execute(
        f"SELECT t, {dialect.pos_case_expr('t', 'duck')}, "
        f"{dialect.lemma_case_expr('t', 'duck')} FROM w").fetchall()}
    for r in srows:
        assert duck[r.t] == (r.pos, r.lem), repr(r.t)
        assert dialect.pos_py(r.t) == r.pos, repr(r.t)
        assert dialect.lemma_py(r.t) == r.lem, repr(r.t)


def test_doc_query_fragments_on_degenerate_docs(spark, monkeypatch):
    """Empty, punctuation-only, question-only, and huge-token documents must
    flow through every doc-level query with Spark == DuckDB."""
    import numpy as np
    import pandas as pd
    from clj_nlp_parse_spark import queries as Q

    docs = [
        (1, "", "en"),
        (2, "?!... ---", "en"),
        (3, "ok?", "en"),
        (4, ("z" * 80 + " ") * 3, "xx"),
        (5, "the the the. and? AND!", "en"),
        (6, "it's don't o'clock 'quoted'", "en"),
        (7, None, "en"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    monkeypatch.setattr(Q, "_docs", lambda _s, _d: sdf)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        docs, columns=["doc_id", "text", "lang"]))

    for name in ["pos_features", "doc_stats", "sentiment_features",
                 "tree_features", "go_words", "token_positional",
                 "srl_features", "sentiment_labels", "simhash",
                 "text_stats", "dedup_exact", "mention_union",
                 # round-3 surfaces: trees, model NER, merged F5,
                 # histogram percentiles, chunked packing cumsum
                 "parse_tree_edges", "dep_tree_edges", "model_mentions",
                 "mention_features_union", "corpus_profile",
                 "sequence_packing", "curation_pipeline",
                 # round-4 surfaces: coref chains, natlog polarity
                 "coref_chains", "coref_features",
                 "natlog_tokens", "natlog_features", "srl_tokens"]:
        got = Q.QUERIES[name](spark, "ignored").toPandas()
        want = con.sql(Q.ORACLES[name]).df()
        got = got[sorted(got.columns)].reset_index(drop=True)
        want = want[sorted(want.columns)].reset_index(drop=True)
        assert got.shape == want.shape, name
        for c in got.columns:
            a, b = got[c], want[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                assert np.allclose(
                    a.astype(float).fillna(-9e99),
                    b.astype(float).fillna(-9e99)), (name, c)
            else:
                assert (a.astype(object).where(pd.notna(a), None).tolist()
                        == b.astype(object).where(pd.notna(b), None)
                        .tolist()), (name, c)


def test_dictionary_mentions_fuzz_three_way(spark):
    """Random dictionaries (multi-token phrases, det-chop, lemma-match)
    over random docs: Catalyst tag_mentions, the DuckDB rendering of the
    same compiled items, and the Python full parser must emit identical
    (doc, item, tok_beg, tok_end) mention sets."""
    import pandas as pd
    from clj_nlp_parse_spark import dialect
    from clj_nlp_parse_spark.functions.parse import parse_document
    from clj_nlp_parse_spark.operators import dictionary as D

    rnd = random.Random(31)
    vocab = ["scan", "join", "the", "merge", "sort", "dups", "dup",
             "tables", "table", "a", "fast", "lines", "line"]
    docs = []
    for i in range(80):
        words = [rnd.choice(vocab) for _ in range(rnd.randint(0, 14))]
        docs.append((i, " ".join(words)))
    items = []
    for j in range(12):
        k = rnd.randint(1, 3)
        phrase = " ".join(rnd.choice(vocab) for _ in range(k))
        items.append(D.DictItem(
            j + 1, phrase, f"L{j}",
            lem_min_len=0 if rnd.random() < 0.3 else -1,
            first_det_chop=rnd.random() < 0.7))
    compiled = D.compile_items(items)

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    srows = D.tag_mentions(sdf, items).select(
        "doc_id", F.explode("tok_re_mentions").alias("m")).collect()
    got_spark = {(r.doc_id, r.m.item_id, r.m.tok_beg, r.m.tok_end)
                 for r in srows}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    w = dialect.tokens_expr("text", "duck")
    lem = dialect.lemma_case_expr("t", "duck")
    m = D.mentions_sql(compiled, "words", "lemmas", "duck")
    drows = con.sql(
        f"WITH w AS (SELECT doc_id, {w} AS words FROM documents), "
        f"l AS (SELECT doc_id, words, "
        f"list_transform(words, t -> ({lem})) AS lemmas FROM w) "
        f"SELECT doc_id, unnest({m}) AS m FROM l").fetchall()
    got_duck = {(d, mm["item_id"], mm["tok_beg"], mm["tok_end"])
                for d, mm in drows}

    got_py = set()
    for i, text in docs:
        pan = parse_document(text, compiled)
        for mm in pan["tok_re_mentions"]:
            got_py.add((i, mm["item_id"], mm["tok_beg"], mm["tok_end"]))

    assert got_spark == got_duck
    assert got_spark == got_py
    assert len(got_spark) > 20  # fixture actually produces matches


def _reference_massage(item):
    """Independent, literal port of the reference's item-to-word-regexes
    massaging (tok_re.clj:112-160) used ONLY as a fuzz comparator: lemma
    (with case restoration, tok_re.clj:97-107) on the last token (single
    token = first and last), det-chop on the lowercase of the massaged word
    at first?/last? positions, case fold unless case-sensitive, then the
    conj and|& replacement on the massaged text. Returns the same
    (field, kind, value) triples compile_items emits."""
    from clj_nlp_parse_spark.operators.dictionary import cased_lemma_py
    toks = item.content.split()
    lem_on = item.lem_min_len != -1 and len(item.content) >= item.lem_min_len
    case_sen = (item.case_min_tok != -1
                and len(toks) >= item.case_min_tok)

    def massage(word, lem_this, first):
        w = cased_lemma_py(word) if lem_this else word
        lower = w.lower()
        if first and item.first_det_chop and lower == "the":
            return None
        return (("lemma" if lem_this else "word"),
                w if case_sen else lower)

    out = []
    n = len(toks)
    for i, t in enumerate(toks):
        if n == 1:
            m = massage(t, lem_on, True)
        elif i == 0:
            m = massage(t, False, True)
        elif i == n - 1:
            # reference passes first?=true for the last token
            # (tok_re.clj:141-152)
            m = massage(t, lem_on, True)
        else:
            m = massage(t, False, False)
        if m is None:
            continue
        fld, text = m
        if item.conj_regexp and text in ("and", "&"):
            out.append((fld, "conj", text))
        else:
            out.append((fld, "eq", text))
    return out, case_sen


def test_compile_order_fuzz_vs_reference_massage():
    """VERDICT r01 #9: fuzz items mixing chop + lemma + case + conj and
    compare the engine compiler against the literal reference massaging."""
    from clj_nlp_parse_spark.operators import dictionary as D
    rnd = random.Random(47)
    vocab = ["the", "The", "THE", "and", "AND", "&", "Dups", "dups",
             "Teddy", "grams", "Tables", "thes", "Thes", "lines", "a"]
    for trial in range(400):
        k = rnd.randint(1, 4)
        content = " ".join(rnd.choice(vocab) for _ in range(k))
        item = D.DictItem(
            trial, content, "L",
            lem_min_len=rnd.choice([-1, 0, 3, 8]),
            case_min_tok=rnd.choice([-1, 0, 1, 2, 3]),
            first_det_chop=rnd.random() < 0.7,
            conj_regexp=rnd.random() < 0.7)
        want, want_cs = _reference_massage(item)
        got = D.compile_items([item])
        got_pats = ([(p.field, p.kind, p.value) for p in got[0].pattern]
                    if got else [])
        assert got_pats == want, (content, item)
        if got:
            assert got[0].case_sen == want_cs, (content, item)
        else:
            assert want == [], (content, item)


def test_dictionary_options_fuzz_three_way(spark):
    """Cased/option variant of the three-way fuzz: random dictionaries with
    case_min_tok / conj / regex items over MIXED-CASE docs — Catalyst,
    DuckDB rendering, and the Python full parser must agree."""
    import pandas as pd
    from clj_nlp_parse_spark import dialect
    from clj_nlp_parse_spark.functions.parse import parse_document
    from clj_nlp_parse_spark.operators import dictionary as D

    rnd = random.Random(53)
    vocab = ["Scan", "scan", "SCAN", "join", "The", "the", "and", "Dups",
             "dups", "Table", "table", "merge", "Lines", "line"]
    docs = []
    for i in range(60):
        words = [rnd.choice(vocab) for _ in range(rnd.randint(0, 12))]
        docs.append((i, " ".join(words)))
    items = []
    for j in range(10):
        k = rnd.randint(1, 3)
        phrase = " ".join(rnd.choice(vocab) for _ in range(k))
        items.append(D.DictItem(
            j + 1, phrase, f"L{j}",
            lem_min_len=0 if rnd.random() < 0.3 else -1,
            case_min_tok=rnd.choice([-1, -1, 0, 1, 2]),
            first_det_chop=rnd.random() < 0.7,
            conj_regexp=rnd.random() < 0.7))
    items.append(D.DictItem(90, "/[a-z]*an/ join", "RE1", is_regexp=True))
    items.append(D.DictItem(91, "/[A-Z][a-z]+/", "RE2", is_regexp=True))
    compiled = D.compile_items(items)

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    srows = D.tag_mentions(sdf, items).select(
        "doc_id", F.explode("tok_re_mentions").alias("m")).collect()
    got_spark = {(r.doc_id, r.m.item_id, r.m.tok_beg, r.m.tok_end)
                 for r in srows}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    w = dialect.tokens_expr("text", "duck")
    cw = D.cased_tokens_safe_expr("text", "words", "duck")
    lem = dialect.lemma_case_expr("t", "duck")
    cl = D.clemmas_expr("cased", "lemmas", "duck")
    m = D.mentions_sql(compiled, "words", "lemmas", "duck",
                       cased="cased", clemmas="clemmas")
    drows = con.sql(
        f"WITH w0 AS (SELECT doc_id, text, {w} AS words FROM documents), "
        f"w AS (SELECT doc_id, words, {cw} AS cased FROM w0), "
        f"l AS (SELECT doc_id, words, cased, "
        f"list_transform(words, t -> ({lem})) AS lemmas FROM w), "
        f"l2 AS (SELECT *, {cl} AS clemmas FROM l) "
        f"SELECT doc_id, unnest({m}) AS m FROM l2").fetchall()
    got_duck = {(d, mm["item_id"], mm["tok_beg"], mm["tok_end"])
                for d, mm in drows}

    got_py = set()
    for i, text in docs:
        pan = parse_document(text, compiled)
        for mm in pan["tok_re_mentions"]:
            got_py.add((i, mm["item_id"], mm["tok_beg"], mm["tok_end"]))

    assert got_spark == got_duck
    assert got_spark == got_py
    assert got_spark  # non-vacuous: the fuzz corpus must produce matches


def test_trees_and_ner_fuzz_two_way(spark):
    """Random word-salad docs (gazetteer words, NP/VP-tag words, random
    junk, pathological tokens): the Spark tree/NER expressions and the
    DuckDB renderings of the same builders must emit identical edge lists,
    serializations, and mention spans — cross-engine parity on INPUTS THE
    CORPUS NEVER EXERCISES, not just the fixed testdata."""
    import duckdb as _dd
    import pandas as pd
    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(41)
    vocab = (["customer", "spark", "join", "scan", "sort", "merge",
              "table", "window", "row", "key", "the", "a", "is", "am",
              "was", "running", "quickly", "i", "they", "paul", "fast",
              "slow", "and", "of"]
             + _random_tokens(30, seed=7)[:20])
    docs = []
    for i in range(120):
        words = [rnd.choice(vocab) for _ in range(rnd.randint(0, 18))]
        docs.append((i, " ".join(words), "en"))
    docs += [(900, "", "en"), (901, None, "en"), (902, "?!—", "en")]

    sdf = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    con = _dd.connect()
    con.register("documents", pd.DataFrame(
        docs, columns=["doc_id", "text", "lang"]))

    import numpy as np
    for name in ["parse_tree_edges", "dep_tree_edges", "model_mentions",
                 "mention_features_union", "tree_features"]:
        import unittest.mock as mock
        with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
            got = Q.QUERIES[name](spark, "ignored").toPandas()
        want = con.sql(Q.ORACLES[name]).df()
        got = got[sorted(got.columns)].reset_index(drop=True)
        want = want[sorted(want.columns)].reset_index(drop=True)
        assert got.shape == want.shape, (name, got.shape, want.shape)
        assert len(got) > 150 or name in (
            "mention_features_union", "tree_features"), name  # non-vacuous
        for c in got.columns:
            a, b = got[c], want[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                assert np.allclose(a.astype(float).fillna(-9e99),
                                   b.astype(float).fillna(-9e99)), (name, c)
            else:
                assert (a.astype(object).where(pd.notna(a), None).tolist()
                        == b.astype(object).where(pd.notna(b), None)
                        .tolist()), (name, c)


def _duck_trees(docs: list[tuple]) -> dict:
    """The DuckDB oracle's trees per doc_id — (edges, serialization, hash,
    dep edges) from trees.duck_tree_cte and the DuckDB builders, a
    relational statement of the grammar that shares no code with the
    Python kernels."""
    import pandas as pd
    from clj_nlp_parse_spark import queries as Q

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        [(i, t, "en") for i, t in docs], columns=["doc_id", "text", "lang"]))
    ser = TR.serialize_sql("words", "tg", "ch")
    rows = con.execute(
        f"""{Q._duck_toks_cte()}, {TR.duck_tree_cte("tk")},
        tr5 AS (SELECT *, {TR.root_index_sql("tg")} AS rt FROM tr4)
        SELECT doc_id, {TR.edges_sql("words", "tg", "ch")}, {ser},
               {dialect.hash32_expr(ser, "duck")},
               {TR.dep_edges_sql("words", "tg", "ch")}
        FROM tr5""").fetchall()
    return {d: (sorted((e["parent"], e["child"], e["label"], e["token_index"])
                       for e in edges), s, h,
                sorted((e["head"], e["dependent"], e["label"]) for e in dep))
            for d, edges, s, h, dep in rows}


def _dense_chunk_doc(n_tokens: int) -> str:
    # every other token opens a single-token NP chunk: 'cat and cat and …'
    return " ".join("cat" if i % 2 == 0 else "and" for i in range(n_tokens))


def test_tree_python_twin_three_way(spark):
    """The production tree kernels — parse_tree_edge_rows, dep_edge_rows
    and tree_features (trees.tree_ser and its md5 hash) — must agree with
    the DuckDB oracle's independent statement of the grammar on random
    docs and the degenerate chunk shapes."""

    rnd = random.Random(43)
    vocab = ["the", "a", "fast", "table", "runs", "is", "am", "running",
             "quickly", "i", "paul", "scan", "and", "of", "was", "been",
             "slow", "he", "3", "my"] + _random_tokens(20, seed=9)[:12]
    docs = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(0, 15))))
            for i in range(150)]
    # degenerate shapes: every other token opens a chunk; adjacent NP/VP
    # runs with no gap; chunk at position 0 and chunk ending exactly at n
    docs += [
        (1001, " ".join("table" if i % 2 == 0 else "and"
                        for i in range(400))),
        (1002, " ".join(["table runs"] * 120)),      # NP|VP adjacent
        (1003, "table and table"), (1004, "and table and"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    edges: dict = {i: [] for i, _ in docs}
    for r in TR.parse_tree_edge_rows(sdf).collect():
        edges[r.doc_id].append((r.parent, r.child, r.label, r.token_index))
    dep: dict = {i: [] for i, _ in docs}
    for r in TR.dep_edge_rows(sdf).collect():
        dep[r.doc_id].append((r.head, r.dependent, r.label))
    ids = {r.doc_id: r.dep_tree_id for r in FT.tree_features(sdf).collect()}
    want = _duck_trees(docs)
    assert len(want) == len(ids) == len(docs)
    for i, text in docs:
        w_edges, w_ser, w_hash, w_dep = want[i]
        assert sorted(edges[i]) == w_edges, (i, text)
        assert TR.tree_ser(text) == w_ser, (i, text)
        assert ids[i] == w_hash, (i, text)
        assert sorted(dep[i]) == w_dep, (i, text)
    assert sum(len(d) > 1 for d in dep.values()) > 100  # non-vacuous


# the row function behind each kernel
_KERNELS = {
    "chunk_rows": CH._chunk_rows,
    "parse_tree_edge_rows": TR._parse_tree_rows,
    "dep_edge_rows": TR._dep_rows,
    "srl_token_rows": SRL._srl_rows,
    "tree_features": FT._tree_id_rows,
}


@pytest.mark.parametrize("kernel", sorted(_KERNELS))
def test_tree_kernels_linear_on_dense_chunks(kernel):
    """Linearity pin for the per-doc kernels that read chunk runs: on a
    20,000-token doc where every other token opens a chunk, a kernel that
    scans all runs per run (quadratic in the chunk count) takes several
    seconds; a linear one takes a few milliseconds. No Spark session."""
    import time
    rows = _KERNELS[kernel]
    doc = _dense_chunk_doc(20_000)
    rows(doc[:100])  # warm the tagger cache
    t0 = time.perf_counter()
    out = rows(doc)
    took = time.perf_counter() - t0
    assert out, kernel
    assert took < 2.0, (kernel, took)


def test_tree_kernels_match_duckdb_on_dense_chunks():
    """The dense-chunk doc of the linearity pin, at 2,000 tokens: the tree
    kernels' row functions equal the DuckDB oracle. No Spark session."""
    doc = _dense_chunk_doc(2_000)
    w_edges, w_ser, w_hash, w_dep = _duck_trees([(1, doc)])[1]
    assert sorted(TR._parse_tree_rows(doc)) == w_edges
    assert TR.tree_ser(doc) == w_ser
    assert FT._tree_id_rows(doc) == [(w_hash,)]
    assert sorted(TR._dep_rows(doc)) == w_dep
    assert len(w_dep) == 2_000


def test_signature_python_twin_three_way(spark):
    """minhash_sig_py / band_hashes_py / simhash_py / lsh_pairs_py are
    INDEPENDENT hashlib+re implementations of the whole signature chain —
    the Spark operators must agree bit-exactly on random docs (plus the
    empty/NULL/punct/short-doc pathologies), giving the dedup surface a
    third comparator beyond the dialect-paired SQL (same pattern as
    dialect.pos_py)."""
    from clj_nlp_parse_spark.operators import dedup as D

    rnd = random.Random(47)
    vocab = _random_tokens(40, seed=11) + ["the", "a", "fox", "dog'",
                                           "0", "and", "of"]
    docs = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(0, 20))))
            for i in range(140)]
    # pathologies: empty, NULL, punct-only, sub-shingle length, repeated
    # shingles, byte-identical pair (must LSH-pair with itself)
    docs += [(900, ""), (901, None), (902, "?!—"), (903, "one two"),
             (904, " ".join(["x y z"] * 30)),
             (905, "same doc twin alpha beta gamma delta"),
             (906, "same doc twin alpha beta gamma delta")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    text_of = dict(docs)

    sig_rows = D.minhash_signatures(sdf).collect()
    assert len(sig_rows) == len(docs)
    for r in sig_rows:
        want = D.minhash_sig_py(text_of[r.doc_id])
        got = [r[f"mh_{i}"] for i in range(D.MINHASH_K)]
        assert got == want, (r.doc_id, got, want)

    sh_rows = D.simhash(sdf).collect()
    for r in sh_rows:
        assert r.simhash == D.simhash_py(text_of[r.doc_id]), r.doc_id

    got_pairs = {(r.doc_a, r.doc_b)
                 for r in D.lsh_candidate_pairs(sdf).collect()}
    want_pairs = D.lsh_pairs_py(docs)
    assert got_pairs == want_pairs
    assert (905, 906) in got_pairs  # non-vacuous: identical docs pair


def test_sketch_python_twin_three_way(spark):
    """kmv_py / cm_estimates_py vs the Spark KMV and Count-Min operators:
    bit-exact n_seen / buckets / estimates, allclose on the one float
    (n_est), over random groups crossing the k boundary both ways."""
    import math

    from clj_nlp_parse_spark.operators import sketches as S

    rnd = random.Random(53)
    rows, by_group = [], {}
    for g, n_vals in [("tiny", 3), ("under_k", 30), ("at_k", 64),
                      ("over_k", 300), ("dups", 120)]:
        vals = [f"v{rnd.randrange(40 if g == 'dups' else 10**9)}"
                for _ in range(n_vals)]
        if g == "tiny":
            vals += [None, None]
        by_group[g] = vals
        rows += [(g, v) for v in vals]
    sdf = spark.createDataFrame(rows, "g string, v string")

    for r in S.kmv_distinct(sdf, ["g"], "v", k=64).collect():
        n_seen, n_est = S.kmv_py(by_group[r.g], k=64)
        assert r.n_seen == n_seen, r.g
        assert math.isclose(r.n_est, n_est, rel_tol=1e-12), r.g

    values = [v for v in by_group["dups"] + by_group["under_k"]]
    items = sorted(set(values))[:25] + ["never_inserted"]
    vals_df = spark.createDataFrame([(v,) for v in values], "v string")
    items_df = spark.createDataFrame([(i,) for i in items], "item string")
    sk = S.cm_sketch(vals_df, "v")
    got = {r.item: r.est
           for r in S.cm_point_estimates(sk, items_df).collect()}
    want = S.cm_estimates_py(values, items)
    assert got == want
    assert got["never_inserted"] == 0  # non-vacuous: absent-item rule


def test_dedup_groups_python_twin(spark):
    """dedup_groups_py is the plain mathematical definition (all-pairs
    Jaccard + union-find) with no Spark, SQL, collapse, prefix-filter, or
    CC machinery — the full Spark pipeline must reproduce it exactly on
    random corpora with identical-text clusters, near-dup chains, and the
    empty/NULL/short-doc pathologies. Also pins the prefix path's
    zero-false-negative claim against jaccard_pairs_py."""
    from clj_nlp_parse_spark.operators import dedup as D

    rnd = random.Random(59)
    vocab = _random_tokens(25, seed=13)[:18] + ["a", "b", "c", "d", "e"]
    docs = []
    for i in range(90):
        docs.append((i, " ".join(rnd.choice(vocab)
                                 for _ in range(rnd.randint(0, 14)))))
    # identical-text cluster (collapse_exact star path), a near-dup CHAIN
    # a~b~c where a and c need transitivity, empties and NULLs
    docs += [(200, "alpha beta gamma delta epsilon")] * 1
    docs += [(201, "alpha beta gamma delta epsilon"),
             (202, "alpha beta gamma delta epsilon"),
             (210, "one two three four five six seven eight"),
             (211, "one two three four five six seven nine"),
             (212, "zero two three four five six seven nine"),
             (220, ""), (221, ""), (222, None), (223, "xy")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    got_pairs = {(r.doc_a, r.doc_b): r.jaccard
                 for r in D.ngram_jaccard_pairs_prefix(sdf, 0.5).collect()}
    want_pairs = D.jaccard_pairs_py(docs, 0.5)
    assert set(got_pairs) == set(want_pairs)
    for p, j in want_pairs.items():
        assert abs(got_pairs[p] - j) < 1e-12, p

    got = {r.doc_id: (r.component, r.keep)
           for r in D.dedup_groups(sdf, 0.5).collect()}
    want = D.dedup_groups_py(docs, 0.5)
    assert got == want
    # non-vacuous: the identical cluster collapsed, the chain is one
    # component via transitivity, identical empties stayed singletons
    assert got[201] == (200, False) and got[202] == (200, False)
    assert got[210][0] == got[211][0] == got[212][0] == 210
    assert got[220] == (220, True) and got[221] == (221, True)

    # leakage_safe_split rides the same components: hash-of-component
    # admission (h31_py twin), every near-dup group on ONE side, both
    # sides populated on this corpus
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q
    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        split = {r.doc_id: (r.component, r.split)
                 for r in Q.QUERIES["leakage_safe_split"](
                     spark, "twin").collect()}
    assert split == {i: (c, "train" if D.h31_py(str(c)) % 100 < 90
                         else "eval")
                     for i, (c, _) in want.items()}
    comp_sides: dict = {}
    for c, s in split.values():
        comp_sides.setdefault(c, set()).add(s)
    assert all(len(s) == 1 for s in comp_sides.values())
    assert {s for _, s in split.values()} == {"train", "eval"}


def test_positional_sentiment_label_python_twins(spark):
    """token_positional_py / sentiment_labels_py restate O2/O8 positional
    access and the O11 label map as list indexing + the existing
    sentiment twin. Docs span the boundary shapes: empty, punct-only,
    exactly 1/2/3 tokens (nth and slice edges), sentiment-heavy text
    hitting every label branch, and random soups."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(613)
    vocab = _random_tokens(40, seed=29)[:25] + [
        "good", "great", "bad", "terrible", "happy", "sad"]
    docs = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(0, 12))))
            for i in range(120)]
    docs += [(200, ""), (201, "..!?"), (202, "one"), (203, "one two"),
             (204, "one two three"),
             (205, "good great happy. good good!"),
             (206, "bad terrible. sad bad bad."),
             (207, "good bad."), (208, "good words here.")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        got_p = {r.doc_id: (r.first_word, r.third_tag, r.last_word,
                            r.slice_2_4)
                 for r in Q.QUERIES["token_positional"](
                     spark, "twin").collect()}
        got_s = {r.doc_id: (r.sentiment, r.sentiment_label)
                 for r in Q.QUERIES["sentiment_labels"](
                     spark, "twin").collect()}
    assert got_p == {i: Q.token_positional_py(t) for i, t in docs}
    assert got_s == {i: Q.sentiment_labels_py(t) for i, t in docs}
    # non-vacuous: nth edges actually exercised and all 5 labels hit
    assert got_p[202] == ("one", None, "one", "")
    assert got_p[204][1] is not None and got_p[200][0] is None
    assert {lbl for _, lbl in got_s.values()} == {
        "very positive", "positive", "neutral", "negative",
        "very negative"}


def test_exact_dedup_decontaminate_python_twins(spark):
    """exact_dedup_py / decontaminate_py restate the registered
    dedup_exact and decontaminate queries as hashlib/set logic. Corpus
    engineered for the normalization and split edges: texts differing
    only in case / tab / newline / multi-space (must collapse to one
    group), NULL and empty texts, sub-n-word docs (no shingles → never
    contaminated), and training docs sharing exactly one 3-gram with an
    eval doc (id % 97 == 0)."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import dedup as D

    rnd = random.Random(307)
    vocab = _random_tokens(30, seed=71)[:20]
    docs = []
    for i in range(180):
        words = [rnd.choice(vocab) for _ in range(rnd.randint(0, 9))]
        sep = rnd.choice([" ", "  ", "\t", "\n", " \n "])
        text = sep.join(words)
        if rnd.random() < 0.3:
            text = text.upper()
        docs.append((i, text))
    docs += [(300, "alpha  beta\tgamma"), (301, "ALPHA BETA GAMMA"),
             (302, "alpha beta gamma\n"), (310, None), (311, ""),
             (312, "  "), (313, "solo")]
    # doc 0 is eval (0 % 97 == 0): pin its text to force a one-shingle
    # overlap with training doc 350; 388 is an eval doc duplicating
    # training text (exact-dup group spanning the split)
    docs[0] = (0, "needle one two three haystack")
    docs += [(350, "zz one two three qq"), (388, docs[5][1])]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        got_e = {r.doc_id: (r.text_hash, r.group_size, r.keep)
                 for r in Q.QUERIES["dedup_exact"](spark, "twin").collect()}
        got_d = {r.doc_id: (r.contaminated, r.keep)
                 for r in Q.QUERIES["decontaminate"](
                     spark, "twin").collect()}
    assert got_e == D.exact_dedup_py(docs)
    assert got_d == D.decontaminate_py(docs, 3)
    # non-vacuous: the case/whitespace variants collapsed to ONE group
    # with the lowest id keeping; the planted 3-gram overlap flagged 350;
    # the sub-3-word doc is clean
    assert got_e[300][1] >= 3 and got_e[300][2] \
        and not got_e[301][2] and not got_e[302][2]
    assert got_d[350] == (True, False)
    assert got_d[313] == (False, True)
    assert any(c for c, _ in got_d.values()) \
        and any(not c for c, _ in got_d.values())


def test_brute_force_topk_python_twin(spark):
    """topk_py reproduces brute_force_topk bit-exactly: the Spark dot fold
    is a left-associative sequential double accumulation, so a plain
    Python loop over the same float32→double casts agrees to the last
    ulp — ranking, ids, AND cosine values (exact ==)."""
    import numpy as np

    from clj_nlp_parse_spark.operators import similarity as S

    rng = np.random.Generator(np.random.Philox(key=np.uint64(61)))
    dim = 24
    vecs = [(i, [float(v) for v in
                 rng.normal(size=dim).astype(np.float32)])
            for i in range(60)]
    vecs += [(100, [0.0] * dim)]          # zero vector → denom guard
    qs = [(j, [float(v) for v in rng.normal(size=dim).astype(np.float32)])
          for j in range(5)]
    qs += [(50, [0.0] * dim)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(qs, "qid long, qvec array<float>")

    got = sorted((r.qid, r.vec_id, r.cosine, r.rank)
                 for r in S.brute_force_topk(vdf, qdf, 7).collect())
    want = sorted(S.topk_py(vecs, qs, 7))
    assert [(g[0], g[1], g[3]) for g in got] \
        == [(w[0], w[1], w[3]) for w in want]
    assert all(g[2] == w[2] for g, w in zip(got, want)), \
        max(abs(g[2] - w[2]) for g, w in zip(got, want))


def test_windowed_ops_python_twin(spark):
    """lag_lead_py / sessionize_py / backfill_py restate the north_rule's
    windowed semantics as index arithmetic over sorted lists — no Window
    specs, no SQL — and the Spark operators must agree exactly on random
    event streams with duplicate timestamps (tiebreak order), NULL values,
    boundary-exact gaps (delta == gap must NOT break a session), and
    singleton entities. Third comparator per the as-of merge_asof model."""
    from datetime import datetime, timedelta

    from clj_nlp_parse_spark.operators import windows as W

    rnd = random.Random(67)
    base = datetime(2024, 3, 1)
    rows, eid = [], 0
    gap = 30
    for user in range(14):
        t = base
        for _ in range(rnd.randint(1, 25)):
            # deltas cross the gap both ways and hit EXACTLY gap seconds
            t = t + timedelta(seconds=rnd.choice(
                [0, 1, 5, gap, gap + 1, 90]))
            rows.append({"user_id": user, "event_id": eid, "ts": t,
                         "v": None if rnd.random() < 0.3
                         else rnd.randint(0, 9)})
            eid += 1
    rows.append({"user_id": 99, "event_id": eid, "ts": base, "v": None})

    sdf = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, v long")
    key = lambda r: (r["user_id"], r["event_id"])

    got = {key(r.asDict()): (r.v_lag1, r.v_lag2, r.v_lead1)
           for r in W.with_lag_lead(sdf, {"v": 1}).transform(
               lambda d: W.with_lag_lead(d, {"v": 2})).transform(
               lambda d: W.with_lag_lead(d, {"v": -1})).collect()}
    want = {key(r): (r["v_lag1"], r["v_lag2"], r["v_lead1"])
            for r in W.lag_lead_py(
                W.lag_lead_py(W.lag_lead_py(rows, {"v": 1}), {"v": 2}),
                {"v": -1})}
    assert got == want

    got_s = {key(r.asDict()): r.session_id
             for r in W.sessionize(sdf, gap).collect()}
    want_s = {key(r): r["session_id"]
              for r in W.sessionize_py(rows, gap)}
    assert got_s == want_s
    assert max(got_s.values()) >= 2  # non-vacuous: sessions actually split

    got_b = {key(r.asDict()): r.v_filled
             for r in W.backfill(sdf, "v").collect()}
    want_b = {key(r): r["v_filled"] for r in W.backfill_py(rows, "v")}
    assert got_b == want_b
    assert None in got_b.values() and \
        sum(v is not None for v in got_b.values()) > 50  # non-vacuous


def test_phash_dedup_python_twin(spark):
    """phash_pairs_py / image_dedup_groups_py are the quadratic
    mathematical definition of perceptual-hash near-dup over 64-bit
    two's-complement hamming — the banded operator, and near_dup_groups
    over it (the image_dedup_groups pipeline), must reproduce them
    exactly on random signed 64-bit hashes with injected 1/2-bit flips,
    byte-identical hashes, high-bit-only differences (above the banded
    region), and the (1<<62)+1 Arrow-exactness regression value."""
    from clj_nlp_parse_spark.operators import dedup as D

    rnd = random.Random(71)
    m64 = (1 << 64) - 1

    def to_i64(u):  # reinterpret unsigned 64 as signed (Spark bigint)
        return u - (1 << 64) if u >= (1 << 63) else u

    rows, nid = [], 0
    for _ in range(40):
        base = rnd.getrandbits(64)
        rows.append((nid, to_i64(base))); nid += 1
        for flips in (1, 2, 3):        # 3-bit flip must NOT pair
            if rnd.random() < 0.5:
                v = base
                for bit in rnd.sample(range(64), flips):
                    v ^= (1 << bit)
                rows.append((nid, to_i64(v & m64))); nid += 1
    rows += [(nid, (1 << 62) + 1), (nid + 1, (1 << 62) + 1),
             (nid + 2, to_i64((1 << 63) | 1)),           # negative
             (nid + 3, to_i64((1 << 63) | 1) ^ (1 << 40)),  # high-bit diff
             (nid + 4, 0), (nid + 5, -1)]
    sdf = spark.createDataFrame(rows, "doc_id long, ph long")

    for bits, bands in [(32, 4), (64, 8)]:
        got = {(r.id_a, r.id_b): r.hamming
               for r in D.phash_near_dup_pairs(
                   sdf, max_hamming=2, phash_col="ph",
                   bits=bits, bands=bands).collect()}
        assert got == D.phash_pairs_py(rows, 2), (bits, bands)

    groups = D.near_dup_groups(
        sdf, "doc_id", F.col("ph"),
        lambda reps: D.phash_near_dup_pairs(reps, max_hamming=2,
                                            phash_col="ph"))
    got_g = {r.doc_id: (r.component, r.keep) for r in groups.collect()}
    want_g = D.image_dedup_groups_py(rows)
    assert got_g == want_g
    # non-vacuous: identical hashes grouped, 1-bit flips grouped,
    # at least one multi-member component exists
    assert got_g[nid + 1] == (nid, False)
    assert sum(1 for _, k in got_g.values() if not k) > 10



def test_word_count_python_twin(spark):
    """fit_py / scores_py / top_count_scores_py restate the F7-F12
    featurizer as dict arithmetic — the Spark estimator must reproduce
    the fitted model (top-N per label with the count-desc/word-asc
    tiebreak), the wide score matrix (bit-exact division), and the
    ranked top-count rows on random labeled corpora with ties, empty
    docs, NULL text, and labels whose go-word set is empty."""
    from clj_nlp_parse_spark.operators import word_count as WC

    rnd = random.Random(73)
    vocab = _random_tokens(30, seed=17)[:22] + ["fox", "dog", "run",
                                                "the", "of", "and"]
    docs = []
    for i in range(80):
        lab = rnd.choice(["news", "spam", "blog"])
        docs.append((lab, " ".join(rnd.choice(vocab)
                                   for _ in range(rnd.randint(0, 12)))))
    docs += [("empty", ""), ("empty", None), ("stops", "the of and")]
    sdf = spark.createDataFrame(docs, "label string, text string")

    for form in ("word", "lemma"):
        for n_top in (3, 7):
            fz = WC.WordCountFeaturizer(words_by_label_count=n_top,
                                        form=form)
            got_m = fz.fit(sdf)
            want_m = WC.fit_py(docs, n_top, form)
            assert got_m.counts == want_m.counts, (form, n_top)
            assert got_m.totals == want_m.totals, (form, n_top)

    fz = WC.WordCountFeaturizer(words_by_label_count=4)
    model = fz.fit(sdf)
    score_docs = [(i, t) for i, (_, t) in enumerate(docs)]
    ssdf = spark.createDataFrame(score_docs, "doc_id long, text string")
    got = {r.doc_id: {lab: r[f"word_count_{lab}"]
                      for lab in model.labels()}
           for r in fz.transform(ssdf, model).collect()}
    want = WC.scores_py(score_docs, model)
    assert got == want  # bit-exact: same long sum, same double division
    assert any(any(v > 0 for v in row.values()) for row in got.values())

    got_top = sorted((r.doc_id, r.label, r.score, r.rn)
                     for r in fz.top_count_scores(ssdf, model, 2).collect())
    assert got_top == sorted(WC.top_count_scores_py(score_docs, model, 2))


def test_textstats_python_twin(spark):
    """text_stats_py / tfidf_top_terms_py restate the text-analysis
    surface in re + math — the Catalyst projections must agree exactly
    (floats with ==: same division order, same 9-decimal TF-IDF round)
    on random docs plus NULL text (quality/n_ws_tokens stay NULL),
    empty, whitespace-heavy, punct-only, and no-shingle docs."""
    from clj_nlp_parse_spark.operators import textstats as TS

    rnd = random.Random(79)
    vocab = _random_tokens(25, seed=19)[:18] + ["the", "and", "of",
                                                "fox", "Dog", "ABC"]
    docs = []
    for i in range(90):
        sep = rnd.choice([" ", "  ", " \t ", "\n"])
        docs.append((i, sep.join(rnd.choice(vocab)
                                 for _ in range(rnd.randint(0, 14)))))
    docs += [(900, None), (901, ""), (902, "   "), (903, "?!—"),
             (904, "one two"), (905, "x" * 600)]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    text_of = dict(docs)

    stat_cols = ["lang_pred", "quality", "stop_ratio", "n_ws_tokens",
                 "n_word_tokens", "n_bpe_tokens", "fp_min", "fp_max",
                 "fp_n"]
    for r in TS.text_stats(sdf).collect():
        want = TS.text_stats_py(text_of[r.doc_id])
        got = {c: r[c] for c in stat_cols}
        assert got == want, (r.doc_id, got, want)

    got_tf = sorted((r.doc_id, r.word, r.tf, r.df, r.tfidf, r.rank)
                    for r in TS.tfidf_top_terms(sdf, 3).collect())
    assert got_tf == sorted(TS.tfidf_top_terms_py(docs, 3))
    assert len(got_tf) > 150  # non-vacuous


def test_curation_python_twin(spark):
    """curation_decide_py restates the admission pipeline (gates +
    exact-dedup keep + decontamination) as dict logic — the one-plan
    Spark composition must agree on random corpora exercising EVERY
    reason: non-English (stopword-free) docs, low-quality short-alpha
    docs, sub-10-word docs, duplicate texts under different whitespace
    (the norm-hash), eval-contaminated docs, and admitted docs."""
    from clj_nlp_parse_spark.operators import curation as CU

    rnd = random.Random(83)
    stops = ["the", "and", "of", "is", "a", "in", "to", "it"]
    content = _random_tokens(30, seed=23)[:20] + ["fox", "dog", "run"]

    def sent(n_words, stop_frac):
        return " ".join(
            (rnd.choice(stops) if rnd.random() < stop_frac
             else rnd.choice(content)) for _ in range(n_words))

    docs = [(i, sent(rnd.randint(0, 30), rnd.choice([0.0, 0.05, 0.3])))
            for i in range(80)]
    leaked = "unique leak phrase alpha beta gamma delta " + sent(8, 0.3)
    docs += [
        (200, "the fox and the dog run in the big field today quickly"),
        (201, "THE  fox and the\tdog run in the big field today quickly"),
        (202, leaked),
        (210, None), (211, ""), (212, "the of and is a in to it bare"),
        (213, "?!— 123"),
    ]
    ev = [(900, "irrelevant eval text here"), (901, leaked)]
    tdf = spark.createDataFrame(docs, "doc_id long, text string")
    edf = spark.createDataFrame(ev, "doc_id long, text string")

    got = {r.doc_id: (r.reason, r.keep)
           for r in CU.curation_decide(tdf, edf).collect()}
    want = CU.curation_decide_py(docs, ev)
    assert got == want
    # non-vacuous: every reason appears, and the whitespace-variant dup
    # collapsed onto the min id
    assert {r for r, _ in got.values()} == {
        "not_en", "low_quality", "too_short", "exact_dup",
        "contaminated", "admitted"}
    assert got[201] == ("exact_dup", False)
    assert got[202] == ("contaminated", False)


def test_sequence_packing_python_twin(spark):
    """sequence_packing_py is one global cumsum per stratum; the Spark
    two-pass chunked layout (derived chunk width, per-chunk offsets,
    eqNullSafe broadcast join) must equal it exactly on a skewed corpus
    with a 90%-hot language, a NULL-lang stratum, empty/NULL texts,
    and the md5-prefix chunking splitting every stratum 16 ways."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(89)
    vocab = _random_tokens(20, seed=29)[:15]
    docs = []
    for i in range(400):
        lang = "en" if rnd.random() < 0.9 else rnd.choice(
            ["fr", "de", None])
        docs.append((i, lang,
                     " ".join(rnd.choice(vocab)
                              for _ in range(rnd.randint(0, 40)))))
    docs += [(900, "en", ""), (901, None, None), (902, "zz", "one doc")]
    sdf = spark.createDataFrame(docs, "doc_id long, lang string, text string")

    Q._PACK_CHUNK_HEX_CACHE.clear()
    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        got = [(r.doc_id, r.lang, r.n_tokens, r.seq_id, r.seq_offset)
               for r in Q.QUERIES["sequence_packing"](
                   spark, "twin-fuzz").collect()]
    Q._PACK_CHUNK_HEX_CACHE.clear()
    assert sorted(got) == sorted(Q.sequence_packing_py(docs))
    # non-vacuous: the hot stratum spans many sequences (so chunk
    # offsets really compose) and the NULL stratum survived the join
    assert max(s for _, lang, _, s, _ in got if lang == "en") > 3
    assert any(lang is None for _, lang, _, _, _ in got)


def test_pos_features_python_twin(spark):
    """pos_tag_features_py computes the F1 vector with none of the
    nested let-bound struct machinery — the Spark projection must agree
    exactly (ratios with ==) on random docs plus empty/NULL/punct-only
    docs and docs whose first/last tag falls outside the taxonomy
    (NONE_LABEL guard)."""
    from clj_nlp_parse_spark.operators import features as FE

    rnd = random.Random(97)
    vocab = _random_tokens(30, seed=31)[:22] + ["the", "fox", "runs",
                                                "quickly", "which", "red"]
    docs = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(0, 16))))
            for i in range(120)]
    docs += [(900, ""), (901, None), (902, "?!—"), (903, "which"),
             (904, "the")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    text_of = dict(docs)

    rows = FE.pos_tag_features(sdf).collect()
    assert len(rows) == len(docs)
    n_tagged = 0
    for r in rows:
        want = FE.pos_tag_features_py(text_of[r.doc_id])
        got = {k: r[k] for k in want}
        assert got == want, (r.doc_id, got, want)
        n_tagged += want["pos_first_tag"] != "<none>"
    assert n_tagged > 80  # non-vacuous


def test_pii_scrub_python_twin(spark):
    """pii_scrub_py replays the scrub projection through Python re —
    counts before redaction, emails replaced before URLs — and the
    Catalyst regexp pipeline must agree exactly on random docs mixing
    emails, URLs (including URLs containing @ and emails at string
    edges), multiple hits per doc, and hit-free text."""
    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(101)
    fillers = ["plain words here", "x", "", "end.", "tab\tsep"]
    emails = ["a.b%c@mail-host.example.com", "z9@q.io", "u+tag@a.b.co"]
    urls = ["https://example.com/p?q=1", "http://h.io/a@b",
            "https://x.y/z#frag,semi;"]
    docs = []
    for i in range(120):
        parts = []
        for _ in range(rnd.randint(0, 6)):
            parts.append(rnd.choice(fillers + emails + urls))
        docs.append((i, " ".join(parts)))
    docs += [(900, emails[0]), (901, urls[0]),
             (902, f"{emails[1]} {urls[1]} {emails[2]}"),
             (903, "no hits at all")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    text_of = dict(docs)

    got = (sdf.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(Q._RE_EMAIL), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(Q._RE_URL), F.lit(0)))
        .cast("long").alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace("text", Q._RE_EMAIL, "<EMAIL>"),
            Q._RE_URL, "<URL>").alias("scrubbed")).collect())
    n_hits = 0
    for r in got:
        want = Q.pii_scrub_py(text_of[r.doc_id])
        assert (r.n_emails, r.n_urls, r.scrubbed) == want, r.doc_id
        n_hits += want[0] + want[1]
    assert n_hits > 100  # non-vacuous


def test_sentiment_doc_stats_python_twin(spark):
    """sentiment_features_py / doc_stats_py restate F4 and F14 in
    re + arithmetic — the Catalyst projections must agree exactly
    (doubles with ==: same clamp, same sumsq/n - mean² order, same
    division) on random multi-sentence docs with punctuation-only
    segments, clamp-saturating sentences, NULL/empty text, and
    trailing-whitespace questions."""
    from clj_nlp_parse_spark.operators import features as FE

    rnd = random.Random(103)
    lex = list(FE.POSITIVE_WORDS[:6] + FE.NEGATIVE_WORDS[:6])
    neutral = _random_tokens(20, seed=37)[:14]
    docs = []
    for i in range(110):
        sents = []
        for _ in range(rnd.randint(0, 5)):
            sents.append(" ".join(
                rnd.choice(lex if rnd.random() < 0.5 else neutral)
                for _ in range(rnd.randint(0, 8))))
        docs.append((i, rnd.choice([". ", "! ", "? ", "?! "]).join(sents)
                     + rnd.choice(["", ".", "?", " ?  "])))
    docs += [(900, None), (901, ""), (902, "...!?"),
             (903, "good good good good good."),   # clamp +2
             (904, "bad bad bad bad."),            # clamp -2
             (905, "is this a question ?  ")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    text_of = dict(docs)

    for r in FE.sentiment_features(sdf).collect():
        want = FE.sentiment_features_py(text_of[r.doc_id])
        assert {k: r[k] for k in want} == want, r.doc_id

    n_q = 0
    for r in FE.token_features(sdf).collect():
        want = FE.doc_stats_py(text_of[r.doc_id])
        assert {k: r[k] for k in want} == want, r.doc_id
        n_q += bool(want["is_question"])
    assert n_q > 5  # non-vacuous


def test_ner_python_twin(spark):
    """model_mentions_py types tokens by dict lookup and merges runs in
    one linear scan — the Spark aligned break/ends array extraction must
    agree exactly on random docs with adjacent same-type runs,
    alternating-type runs (every token its own break), typed tokens at
    both document edges, and untyped/empty/NULL docs."""
    from clj_nlp_parse_spark.operators import ner as NR

    rnd = random.Random(107)
    typed = [w for _, ws in sorted(NR.GAZETTEER.items()) for w in ws]
    untyped = _random_tokens(15, seed=41)[:10] + ["the", "of"]
    docs = []
    for i in range(130):
        pool = typed if rnd.random() < 0.3 else typed + untyped * 2
        docs.append((i, " ".join(rnd.choice(pool)
                                 for _ in range(rnd.randint(0, 15)))))
    two_types = [NR.GAZETTEER[t][0] for t in sorted(NR.GAZETTEER)[:2]]
    docs += [(900, ""), (901, None), (902, "the of the"),
             (903, " ".join([typed[0]] * 6)),                # one long run
             (904, " ".join(two_types * 5)),                 # alternating
             (905, f"{typed[0]} the {typed[0]}")]            # edge runs
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    text_of = dict(docs)

    n_mentions = 0
    for r in NR.tag_model_mentions(sdf).select(
            "doc_id", "model_mentions").collect():
        words = dialect.TOKEN_RE_PY.findall(
            (text_of[r.doc_id] or "").lower())
        want = NR.model_mentions_py(words)
        got = [(m.label, m.item_id, m.tok_beg, m.tok_end)
               for m in r.model_mentions]
        assert got == want, (r.doc_id, got, want)
        n_mentions += len(got)
    assert n_mentions > 100  # non-vacuous


def test_corpus_profile_python_twin(spark):
    """corpus_profile_py indexes a sorted list directly for the
    nearest-rank percentiles — the histogram + cumsum + null-safe
    percentile-join pipeline must agree exactly on a corpus with a
    NULL-lang stratum (the r5 eqNullSafe fix: a plain equi-join dropped
    it), single-doc strata, all-empty strata, and duplicate texts."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(109)
    vocab = _random_tokens(15, seed=43)[:12]
    docs = []
    for i in range(250):
        lang = rnd.choice(["en", "en", "en", "fr", None, "zz"])
        docs.append((i, lang,
                     " ".join(rnd.choice(vocab)
                              for _ in range(rnd.randint(0, 25)))))
    docs += [(900, "solo", "one doc stratum"),
             (901, "mt", ""), (902, "mt", None),     # all-empty stratum
             (903, "en", docs[0][2]), (904, None, None)]
    sdf = spark.createDataFrame(docs, "doc_id long, lang string, text string")

    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        got = sorted(
            (tuple(r) for r in
             Q.QUERIES["corpus_profile"](spark, "twin-fuzz").collect()),
            key=lambda t: (t[0] is None, t[0]))
    want = sorted(Q.corpus_profile_py(docs),
                  key=lambda t: (t[0] is None, t[0]))
    assert got == want
    assert any(t[0] is None for t in got)  # NULL stratum profiled


def test_sampling_repetition_python_twins(spark):
    """consistent_sample_py / stratified_sample_py / repetition_stats_py
    restate the three corpus-ops as hashlib/Counter logic — the Spark
    window/filter/agg plans must agree on a corpus with quota-boundary
    strata (39/40/41 docs), a NULL-lang stratum, NULL/empty/sub-3-token
    texts, and an all-identical-token doc (dup_3gram_frac → 1)."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(97)
    vocab = _random_tokens(25, seed=41)[:18]
    sizes = {"en": 41, "fr": 40, "de": 39, None: 7, "zz": 1}
    docs, i = [], 0
    for lang, n in sizes.items():
        for _ in range(n):
            text = " ".join(rnd.choice(vocab)
                            for _ in range(rnd.randint(0, 12)))
            docs.append((i, lang, text))
            i += 1
    docs += [(500, "en", None), (501, "en", ""), (502, "en", "two words"),
             (503, "en", "rep " * 60), (504, "fr", "?!— 123")]
    sdf = spark.createDataFrame(docs, "doc_id long, lang string, text string")

    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        cons = {r.doc_id for r in
                Q.QUERIES["consistent_sample"](spark, "twin").collect()}
        strat = {(r.doc_id, r.lang) for r in
                 Q.QUERIES["stratified_sample"](spark, "twin").collect()}
        rep = {r.doc_id: (r.total_3grams, r.distinct_3grams,
                          r.dup_3gram_frac, r.top_3gram_frac)
               for r in Q.QUERIES["repetition_stats"](spark, "twin")
               .collect()}

    ids = [d for d, _, _ in docs]
    assert cons == Q.consistent_sample_py(ids)
    assert strat == Q.stratified_sample_py([(d, l) for d, l, _ in docs])
    for doc_id, _, text in docs:
        assert rep[doc_id] == Q.repetition_stats_py(text), (doc_id, text)
    # non-vacuous: quota bit on the 41-stratum, NULL stratum sampled
    # whole, sample rate in a sane band, and the repeated doc saturates
    assert len([1 for _, l in strat if l == "en"]) == 40
    assert len([1 for _, l in strat if l is None]) == 7
    assert 0.05 < len(cons) / len(ids) < 0.5
    assert rep[503][2] > 0.95 and rep[503][3] > 0.95
    assert rep[501] == (0, 0, 0.0, 0.0)


def test_corpus_mix_python_twin(spark):
    """corpus_mix_py restates both temperature-mix variants as
    isqrt/Counter/hashlib logic — the Spark exact-rank window and the
    hash-threshold filter must agree on strata spanning 1..200 docs
    (incl. a single-doc stratum, a NULL-lang stratum, and one stratum
    holding ~80% of the corpus so the sqrt temperature really bites)."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(131)
    sizes = {"en": 200, "fr": 25, "de": 12, None: 5, "zz": 1}
    docs, i = [], 0
    for lang, n in sizes.items():
        for _ in range(n):
            docs.append((i, lang))
            i += rnd.randint(1, 9)  # sparse ids → varied hashes
    sdf = spark.createDataFrame(
        [(d, l, "w") for d, l in docs],
        "doc_id long, lang string, text string")

    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        exact = {(r.doc_id, r.lang) for r in
                 Q.QUERIES["corpus_mix"](spark, "twin").collect()}
        cons = {(r.doc_id, r.lang) for r in
                Q.QUERIES["corpus_mix_consistent"](spark, "twin").collect()}
    assert exact == Q.corpus_mix_py(docs, exact=True)
    assert cons == Q.corpus_mix_py(docs, exact=False)
    # non-vacuous: temperature flattens the mix — the hot stratum's share
    # of the sample is well below its corpus share; small strata survive;
    # both variants target the same quotas (sizes within the binomial
    # band of each other)
    n_en = len([1 for _, l in exact if l == "en"])
    assert n_en / len(exact) < 200 / len(docs)
    assert any(l is None for _, l in exact)
    assert abs(len(cons) - len(exact)) < 30
    assert len(exact) <= len(docs) // 2


def test_windowed_query_python_twins(spark):
    """rolling_features_py / daily_rollup_py / session_stats_py restate
    the three REGISTERED windowed queries (not just the underlying
    operators) as sorted-list arithmetic. Stream engineered for the edge
    cases: duplicate timestamps (event_id tiebreak), NULL values (SQL
    aggregate null semantics incl. an all-null trailing window),
    boundary-exact 1800 s gaps, deltas crossing midnight (daily rollup
    day split), and a singleton user. Values are dyadic rationals so
    float summation is exact and order-free."""
    import unittest.mock as mock
    from datetime import datetime, timedelta

    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import windows as W

    rnd = random.Random(41)
    rows, eid = [], 0
    for user in range(12):
        t = datetime(2024, 3, 1, 22, 0, 0)
        for _ in range(rnd.randint(1, 30)):
            t = t + timedelta(seconds=rnd.choice(
                [0, 1, 5, 1800, 1801, 90_000]))
            rows.append({"user_id": user, "event_id": eid, "ts": t,
                         "value": None if rnd.random() < 0.25
                         else rnd.randint(-8, 8) / 4.0})
            eid += 1
    rows.append({"user_id": 99, "event_id": eid,
                 "ts": datetime(2024, 3, 1), "value": None})

    sdf = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    with mock.patch.object(Q, "_events", lambda _s, _d: sdf):
        roll = {r.event_id: (r.roll_mean3, r.roll_max3, r.delta)
                for r in Q.QUERIES["rolling_features"](
                    spark, "twin").collect()}
        daily = {(r.user_id, r.day): (r.n_events, r.sum_value,
                                      r.min_value, r.max_value)
                 for r in Q.QUERIES["daily_rollup"](
                     spark, "twin").collect()}
        sess = {(r.user_id, r.session_id): (r.n_events, r.duration_ms,
                                            r.sum_value)
                for r in Q.QUERIES["session_stats"](
                    spark, "twin").collect()}
        iv = {(r.event_id, r.user_id, r.iv_id)
              for r in Q.QUERIES["interval_overlap_join"](
                  spark, "twin").collect()}
        fnn = {r.user_id: r.first_value
               for r in Q.QUERIES["first_non_null"](
                   spark, "twin").collect()}

    assert roll == {r["event_id"]: (r["roll_mean3"], r["roll_max3"],
                                    r["delta"])
                    for r in W.rolling_features_py(rows)}
    assert daily == W.daily_rollup_py(rows)
    assert sess == W.session_stats_py(rows, 1800)
    assert iv == W.interval_overlap_py(rows)
    assert fnn == W.first_non_null_py(rows)
    # non-vacuous: interval hits exist; the all-null singleton user 99
    # yields first_value None while populated users yield values
    assert len(iv) > 10
    assert fnn[99] is None
    assert sum(v is not None for v in fnn.values()) >= 8
    # non-vacuous: null windows, day splits, and multi-session users all
    # actually occurred
    assert any(v[0] is None for v in roll.values())
    assert any(v[2] is None for v in roll.values()) \
        and any(v[2] is not None for v in roll.values())
    assert len({d for _, d in daily}) >= 3
    assert max(s for _, s in sess) >= 2


def test_passage_dedup_python_twin(spark):
    """passage_dedup_py restates exact-passage dedup as two dict scans —
    the Spark groupBy+join formulation (itself distinct from the oracle's
    window SQL) must agree on a corpus engineered for collisions: verbatim
    doc copies, shared k-aligned prefixes, a passage repeated WITHIN one
    doc, trailing partial chunks, a single-token doc, and an empty-string
    doc. Every removal decision and the rebuilt scrubbed text must match
    byte-for-byte."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q

    rnd = random.Random(977)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    shared = " ".join(rnd.choice(vocab) for _ in range(Q.PASSAGE_K))
    docs = []
    for i in range(40):
        body = " ".join(rnd.choice(vocab)
                        for _ in range(rnd.randint(1, 47)))
        if i % 4 == 0:          # shared k-aligned prefix passage
            body = shared + " " + body
        if i % 7 == 0:          # passage repeated WITHIN the doc
            body = shared + " " + shared + " " + body
        docs.append((i * 3, body))
    docs.append((200, docs[0][1]))   # verbatim copy, later doc_id
    docs.append((201, "solo"))       # single-token doc (partial chunk)
    docs.append((202, ""))           # empty text -> one ''-token chunk
    sdf = spark.createDataFrame(
        [(d, t, "en") for d, t in docs], "doc_id long, text string, lang string")

    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        got = {r.doc_id: (r.n_chunks, r.dup_chunks, r.removed_chunks,
                          r.scrubbed_text)
               for r in Q.QUERIES["passage_dedup"](spark, "twin").collect()}
        # incremental maintenance == full recompute on the same corpus;
        # the 80th-pct split puts the verbatim copy (doc 200) in the
        # BATCH, so history docs' unique chunks flip to duplicated via
        # the keyed delta path
        inc = {r.doc_id: (r.n_chunks, r.dup_chunks, r.removed_chunks,
                          r.scrubbed_text)
               for r in Q.QUERIES["passage_dedup_incremental"](
                   spark, "twin").collect()}
    want = Q.passage_dedup_py(docs)
    assert got == want
    assert inc == want
    # non-vacuous: the verbatim copy is fully scrubbed of its duplicated
    # passages; some doc actually lost a passage while keeping others;
    # within-doc repetition is removed on the second occurrence
    assert want[200][3] == "" or want[200][2] > 0
    assert any(0 < v[2] < v[0] for v in want.values())
    rep = next(v for k, v in want.items()
               if k % 3 == 0 and k // 3 % 7 == 0 and k != 0)
    assert rep[2] >= 1


def test_lm_perplexity_python_twin(spark):
    """lm_perplexity_py restates the bigram add-one LM as Counter +
    math.log — the Spark fit (train-split aggs, localCheckpointed model,
    broadcast scoring join, integer micro-nat re-agg) must agree exactly
    on a corpus with NULL/empty/single-token docs, an all-OOV doc (every
    term falls to the smoothing mass), a doc repeating one bigram 50
    times, and ids landing on both sides of the train split."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import lm as LM

    rnd = random.Random(113)
    vocab = _random_tokens(20, seed=53)[:12]
    docs = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(0, 15))))
            for i in range(120)]
    docs += [(600, None), (601, ""), (602, "solo"),
             (603, "zz9q zz9q " * 25),           # hot repeated bigram
             (604, "qqa wwb eec rrd")]           # likely all-OOV tail
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
        got = {r.doc_id: (r.n_terms, r.nll_micro, r.avg_nll)
               for r in Q.QUERIES["lm_perplexity"](spark, "twin").collect()}
    want = LM.lm_perplexity_py(docs)
    assert got == want
    # non-vacuous: empty docs are NULL-avg zero-terms rows, the split
    # really separates (some doc ids train, some don't), and scored
    # likelihoods vary across docs
    assert got[600] == (0, 0, None) and got[601] == (0, 0, None)
    ids = [d for d, _ in docs]
    split = Q.consistent_sample_py(ids, rate=LM.LM_SPLIT_RATE)
    assert 0 < len(split) < len(ids)
    assert len({v[2] for v in got.values() if v[2] is not None}) > 20


def test_srl_selection_python_twin(spark):
    """select_best_candidates_py restates srl.clj:110-132 as plain
    group-and-pick logic; the window-rank Spark form must elect the same
    candidate on sentences exercising every branch: short+labeled
    (first-in-order labeled wins over higher-scored), short+unlabeled
    (score rule), long sentences with exact score ties (candidate-order
    tie-break), negative scores, and single-candidate sentences."""
    from clj_nlp_parse_spark.operators import srl

    rnd = random.Random(101)
    cands = []
    for sid in range(60):
        tok_count = rnd.randint(1, 8)
        n = rnd.randint(1, 6)
        for j in range(n):
            cands.append(dict(
                sent_id=sid, cand_id=sid * 100 + j,
                score=float(rnd.randint(-3, 3)),  # exact doubles → ties
                has_label=rnd.random() < 0.4, tok_count=tok_count))
    # forced branches: short sentence where the LOWER-scored labeled
    # candidate must beat the higher-scored unlabeled one
    cands += [
        dict(sent_id=900, cand_id=1, score=9.0, has_label=False,
             tok_count=2),
        dict(sent_id=900, cand_id=2, score=0.5, has_label=True,
             tok_count=2),
        dict(sent_id=900, cand_id=3, score=8.0, has_label=True,
             tok_count=2),
        dict(sent_id=901, cand_id=1, score=1.0, has_label=False,
             tok_count=3),
        dict(sent_id=901, cand_id=2, score=2.0, has_label=False,
             tok_count=3),
    ]
    sdf = spark.createDataFrame(
        [(c["sent_id"], c["cand_id"], c["score"], c["has_label"],
          c["tok_count"]) for c in cands],
        "sent_id long, cand_id long, score double, has_label boolean, "
        "tok_count int")
    got = {r.sent_id: r.cand_id
           for r in srl.select_best_candidates(sdf).collect()}
    assert got == srl.select_best_candidates_py(cands)
    # non-vacuous: the first-labeled rule really overrode the score rule
    assert got[900] == 2 and got[901] == 2


def test_signature_twin_hypothesis(spark):
    """Hypothesis-driven (shrinking) variant of the signature twin
    comparison: arbitrary token soups — including quote-only tokens,
    repeated shingles, and sub-shingle docs — must give bit-identical
    MinHash signatures and SimHash values in Spark and pure Python."""
    from hypothesis import given, settings, strategies as st

    from clj_nlp_parse_spark.operators import dedup as D

    token = st.sampled_from(
        ["a", "b", "c", "aa", "x'y", "'", "0", "longtokenword", "q9"])

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.lists(token, max_size=12).map(" ".join),
                    min_size=1, max_size=8))
    def check(texts):
        docs = list(enumerate(texts))
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        rows = {r.doc_id: r for r in D.minhash_signatures(sdf).collect()}
        sh = {r.doc_id: r.simhash for r in D.simhash(sdf).collect()}
        for i, t in docs:
            want = D.minhash_sig_py(t)
            got = [rows[i][f"mh_{k}"] for k in range(D.MINHASH_K)]
            assert got == want, (t, got, want)
            assert sh[i] == D.simhash_py(t), t

    check()


def test_passage_dedup_twin_hypothesis(spark):
    """Hypothesis-driven (shrinking) variant of the passage-dedup twin:
    arbitrary tiny-vocab token soups — where k-token passages collide
    constantly, within and across docs, and trailing partial chunks are
    the norm — must give identical dup stats and byte-identical scrubbed
    text in Spark and pure Python."""
    import unittest.mock as mock

    from hypothesis import given, settings, strategies as st

    from clj_nlp_parse_spark import queries as Q

    token = st.sampled_from(["a", "b", "aa", "0"])

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.lists(token, max_size=25).map(" ".join),
                    min_size=1, max_size=8))
    def check(texts):
        docs = list(enumerate(texts))
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
            got = {r.doc_id: (r.n_chunks, r.dup_chunks, r.removed_chunks,
                              r.scrubbed_text)
                   for r in Q.QUERIES["passage_dedup"](
                       spark, "hyp").collect()}
        assert got == Q.passage_dedup_py(docs), texts

    check()


def _tbs_docs(seed: int, n: int) -> list[tuple]:
    """Corpus for token-budget fuzz: quality varies via length / alpha /
    stopword mix; deliberate duplicates create quality ties straddling
    the boundary; empty / None texts give zero-token rows."""
    rnd = random.Random(seed)
    stop = ["the", "and", "of", "to", "is", "in", "it", "that"]
    docs: list[tuple] = []
    for i in range(n):
        kind = rnd.random()
        if kind < 0.05:
            text = None
        elif kind < 0.10:
            text = ""
        elif kind < 0.25 and docs:
            text = rnd.choice(docs)[2]  # duplicate -> exact quality tie
        else:
            nw = rnd.randint(1, 60)
            ws = [rnd.choice(stop) if rnd.random() < 0.4 else
                  "".join(rnd.choice(string.ascii_lowercase + "019,.!")
                          for _ in range(rnd.randint(1, 11)))
                  for _ in range(nw)]
            text = " ".join(ws)
        lang = rnd.choice(["en", "fr", None])
        docs.append((i * 3 + 1, lang, text))
    return docs


def test_token_budget_select_python_twin(spark):
    """token_budget_select_py restates the registered query as plain
    sort + cumsum; the Spark histogram-threshold decomposition (whole
    bins by broadcast decision, ordered window only inside the boundary
    bin) must reproduce the spec's admitted SET exactly — including
    quality ties at the boundary (duplicate texts, doc_id tiebreak) and
    zero-token rows sitting past the crossing point."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import curation as CU

    for seed in (7, 99):
        docs = _tbs_docs(seed, 120)
        sdf = spark.createDataFrame(
            docs, "doc_id long, lang string, text string")
        with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
            got = [(r.doc_id, r.lang, r.quality, r.n_bpe_tokens)
                   for r in Q.QUERIES["token_budget_select"](
                       spark, "twin").collect()]
        want = CU.token_budget_select_py(docs)
        assert got == want
        # non-vacuous: a strict subset was admitted, and it is the
        # top-quality prefix (min admitted quality >= max rejected
        # quality cannot be asserted with ties — assert the budget
        # instead)
        assert 0 < len(want) < len(docs)
        total = sum(CU.text_stats_py(t or "")["n_bpe_tokens"]
                    for _, _, t in docs)
        assert sum(r[3] for r in want) <= (total * 6) // 10


def test_token_budget_select_degenerate_and_edges(spark):
    """The shapes that break histogram thresholds: (a) EVERY doc has
    identical quality -> one bin, the whole corpus is the boundary bin
    and the window must honor the doc_id tiebreak; (b) bins=1 forces the
    decomposition into the boundary path on a mixed corpus; (c) budget
    0 admits nothing; (d) budget 10/10 admits everything."""
    from clj_nlp_parse_spark.operators import curation as CU

    same = [(i, "en", "alpha beta gamma delta") for i in range(40)]
    sdf = spark.createDataFrame(
        same, "doc_id long, lang string, text string")
    got = sorted(
        (r.doc_id, r.lang, r.quality, r.n_bpe_tokens)
        for r in CU.token_budget_select(sdf).collect())
    assert got == CU.token_budget_select_py(same)
    # identical quality + identical tok -> budget cuts on doc_id order
    assert [r[0] for r in got] == [r[0] for r in same][:len(got)]
    assert 0 < len(got) < len(same)

    mixed = _tbs_docs(11, 80)
    mdf = spark.createDataFrame(
        mixed, "doc_id long, lang string, text string")
    coarse = sorted(
        (r.doc_id, r.lang, r.quality, r.n_bpe_tokens)
        for r in CU.token_budget_select(mdf, bins=1).collect())
    assert coarse == CU.token_budget_select_py(mixed)

    assert CU.token_budget_select(mdf, budget_num=0).count() == 0
    assert CU.token_budget_select_py(mixed, budget_num=0) == []
    n_all = CU.token_budget_select(mdf, budget_num=10).count()
    assert n_all == len(mixed)
    assert len(CU.token_budget_select_py(mixed, budget_num=10)) \
        == len(mixed)


def test_token_budget_twin_hypothesis(spark):
    """Hypothesis-driven (shrinking) variant of the token-budget twin:
    tiny-vocab soups where most docs share exact quality values — the
    boundary bin is all ties and the doc_id tiebreak decides admission —
    plus empty docs (zero tokens) interleaved everywhere."""
    import unittest.mock as mock

    from hypothesis import given, settings, strategies as st

    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import curation as CU

    token = st.sampled_from(["a", "the", "b,"])

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.one_of(
        st.none(), st.lists(token, max_size=6).map(" ".join)),
        min_size=2, max_size=10))
    def check(texts):
        docs = [(i, "en", t) for i, t in enumerate(texts)]
        sdf = spark.createDataFrame(
            docs, "doc_id long, lang string, text string")
        with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
            got = [(r.doc_id, r.lang, r.quality, r.n_bpe_tokens)
                   for r in Q.QUERIES["token_budget_select"](
                       spark, "hyp").collect()]
        assert got == CU.token_budget_select_py(docs), texts

    check()


def test_token_budget_mix_python_twin(spark):
    """token_budget_mix_py restates the stratified variant as
    isqrt/two-term-division/sort+cumsum per stratum; the Spark
    per-(stratum, bin) histogram decomposition must reproduce it exactly
    across multi-lang corpora with a NULL-lang stratum, duplicate-text
    quality ties, and zero-token docs."""
    import unittest.mock as mock

    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import curation as CU

    for seed in (13, 77):
        docs = _tbs_docs(seed, 120)
        sdf = spark.createDataFrame(
            docs, "doc_id long, lang string, text string")
        with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
            got = [(r.doc_id, r.lang, r.quality, r.n_bpe_tokens)
                   for r in Q.QUERIES["token_budget_mix"](
                       spark, "twin").collect()]
        want = CU.token_budget_mix_py(docs)
        assert got == want
        # non-vacuous: something admitted, something rejected, and every
        # stratum (incl. NULL lang) respects its own integer budget
        assert 0 < len(want) < len(docs)
        langs_in = {r[1] for r in want}
        assert None in langs_in or all(l is not None for _, l, _ in docs)

    # ts=0 edge: every doc zero tokens -> budget 0 per stratum, but
    # zero-token docs all fit a zero budget (cum 0 <= 0) — consistent
    # in Spark, DuckDB-rendered SQL semantics, and the twin
    zdocs = [(1, "en", ""), (2, None, None), (3, "fr", "")]
    zdf = spark.createDataFrame(
        zdocs, "doc_id long, lang string, text string")
    zgot = sorted(
        (r.doc_id, r.lang, r.quality, r.n_bpe_tokens)
        for r in CU.token_budget_mix(zdf).collect())
    assert zgot == CU.token_budget_mix_py(zdocs)
    assert len(zgot) == 3


def test_token_budget_mix_twin_hypothesis(spark):
    """Hypothesis-shrunk variant for the stratified budget: tiny-vocab
    soups spread over two named strata plus NULL lang, so per-stratum
    boundary ties, empty strata, and the all-zero-token ts=0 edge all
    shrink to minimal counterexamples."""
    import unittest.mock as mock

    from hypothesis import given, settings, strategies as st

    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import curation as CU

    token = st.sampled_from(["a", "the", "b,"])
    doc = st.tuples(
        st.sampled_from(["en", "fr", None]),
        st.one_of(st.none(), st.lists(token, max_size=6).map(" ".join)))

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=10))
    def check(pairs):
        docs = [(i, lang, t) for i, (lang, t) in enumerate(pairs)]
        sdf = spark.createDataFrame(
            docs, "doc_id long, lang string, text string")
        with mock.patch.object(Q, "_docs", lambda _s, _d: sdf):
            got = [(r.doc_id, r.lang, r.quality, r.n_bpe_tokens)
                   for r in Q.QUERIES["token_budget_mix"](
                       spark, "hyp").collect()]
        assert got == CU.token_budget_mix_py(docs), docs

    check()
