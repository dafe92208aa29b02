"""Deterministic shallow chunking goldens (A8-surface span extraction),
run on the chunk_rows kernel and filtered by label."""

from __future__ import annotations

from clj_nlp_parse_spark.operators import chunking as C


def _chunks(spark, text, label):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return (C.chunk_rows(df).where(f"label = '{label}'")
            .orderBy("chunk_index").collect())


def _np(spark, text):
    return [(r.chunk_index, r.tok_beg, r.tok_end, r.head, r.text)
            for r in _chunks(spark, text, "NP")]


def test_np_chunk_spans_and_heads(spark):
    # tags: the/a DT, fast/small JJ, cats/mouse/cup NN*, is VBZ (breaks);
    # note 'table' would tag JJ via the %able suffix rule — heads follow
    # the ENGINE tagger, not English intuition
    got = _np(spark, "the fast cats is a small mouse cup")
    assert got == [
        (0, 0, 3, "cats", "the fast cats"),
        (1, 4, 8, "cup", "a small mouse cup"),
    ]


def test_np_requires_head_noun(spark):
    # a pure modifier run with no noun head is dropped
    got = _np(spark, "is the fast was")
    assert got == []


def test_vp_chunks_modal_and_participles(spark):
    got = [(r.tok_beg, r.tok_end, r.head) for r in _chunks(
        spark, "cats could be waiting now table is running quickly", "VP")]
    # could(MD) be(VB) waiting(VBG) now(RB) | is(VBZ) running(VBG)
    # quickly(RB)
    assert got == [(1, 5, "waiting"), (6, 9, "running")]


def test_chunk_index_dense_per_doc(spark):
    idx = [r.chunk_index
           for r in _chunks(spark, "the cat is the dog is the bird", "NP")]
    assert idx == [0, 1, 2]
