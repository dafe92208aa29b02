"""Deterministic shallow chunking (NP/VP spans) — the engine's rule-based
analog of the reference's constituency-tree span extraction (A8 surface;
reference parse trees: stanford.clj:381-405, config.clj:153-161). The
reference's parser MODELS are out of scope (SURVEY.md §2.3); chunking over
the engine's deterministic POS tags gives the span-extraction capability a
tree consumer actually uses (NP mention candidates, VP predicates) with a
SQL-checkable contract.

Contract: a chunk is a MAXIMAL run of consecutive tokens whose tag is in
the chunk's tag set, kept only if the run contains at least one head tag
(noun for NP, verb for VP). The head is the LAST head-tagged token in the
run. Positions are UTTERANCE-level and punctuation is not tokenized, so a
run MAY span a sentence boundary ('the cat. the dog' is one NP run) — the
documented simplification; sentence-bounded chunking would add the
sentence index (from the sentence splitter's cumulative token counts) to
the run key.

Scale shape: one declared Arrow batch stage per doc batch
(`chunk_rows`); `chunk_runs` finds every kept run of a doc in one linear
pass, and the tree, dependency and srl kernels (trees.py, srl.py) read
their chunks from the same function. `chunks_sql` is the DuckDB oracle's
relational rendering (explode → lag run starts → cumsum run ids → per-run
agg).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.dialect import _q
from clj_nlp_parse_spark.functions.text import map_text_rows

# PRP is an NP constituent and head (a pronoun IS a noun phrase — the
# reference golden sr_parse_test.clj:26-31 has NP(PRP I))
NP_TAGS = ("DT", "PRP", "PRP$", "CD", "JJ", "JJR", "JJS",
           "NN", "NNS", "NNP", "NNPS")
NP_HEAD_TAGS = ("PRP", "NN", "NNS", "NNP", "NNPS")
VP_TAGS = ("MD", "RB", "VB", "VBD", "VBG", "VBN", "VBP", "VBZ")
VP_HEAD_TAGS = ("VB", "VBD", "VBG", "VBN", "VBP", "VBZ")


def chunks_sql(tags: tuple[str, ...], head_tags: tuple[str, ...],
               label: str, table: str = "documents") -> str:
    """DuckDB oracle rendering of the same runs formulation (lag run
    starts → cumsum run ids → per-run agg; arg_max picks the head)."""
    in_set = ", ".join(_q(t) for t in tags)
    head_set = ", ".join(_q(t) for t in head_tags)
    words = dialect.tokens_expr("text", "duck")
    pos_case = dialect.pos_case_expr("w", "duck")
    return f"""
    WITH wd AS (SELECT doc_id, {words} AS words FROM {table}),
    tk AS (SELECT doc_id,
             unnest(list_transform(range(1, len(words) + 1), i ->
               struct_pack(pos := i - 1, w := words[i]))) AS x
           FROM wd),
    tok AS (SELECT doc_id, pos, w, ({pos_case}) AS tag
            FROM (SELECT doc_id, x.pos AS pos, x.w AS w FROM tk)),
    flt AS (SELECT * FROM tok WHERE tag IN ({in_set})),
    st AS (SELECT *, CASE WHEN
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) != pos - 1
             THEN 1 ELSE 0 END AS start
           FROM flt),
    rr AS (SELECT *, sum(start) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
           FROM st),
    agg AS (SELECT doc_id, run_id,
              CAST(min(pos) AS BIGINT) AS tok_beg,
              CAST(max(pos) + 1 AS BIGINT) AS tok_end,
              arg_max(w, pos) FILTER (tag IN ({head_set})) AS head,
              array_to_string(list_transform(
                list_sort(list(struct_pack(pos := pos, w := w))),
                s -> s.w), ' ') AS text
            FROM rr GROUP BY doc_id, run_id
            HAVING count(*) FILTER (tag IN ({head_set})) > 0)
    SELECT doc_id, '{label}' AS label,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tok_beg)
                - 1 AS BIGINT) AS chunk_index,
           tok_beg, tok_end, head, text
    FROM agg"""


# NP_TAGS and VP_TAGS are disjoint, so a maximal run of one label's tags
# is exactly a maximal run of same-class tokens
_CLASS = {**dict.fromkeys(NP_TAGS, "NP"), **dict.fromkeys(VP_TAGS, "VP")}
_HEADS = {"NP": frozenset(NP_HEAD_TAGS), "VP": frozenset(VP_HEAD_TAGS)}


def chunk_runs(tags: list[str]) -> list[tuple[str, int, int, int]]:
    """The kept chunk runs of one doc's tag list as (label, beg, fin,
    head): beg 0-based, fin exclusive, head the 0-based position of the
    run's LAST head-tagged token. Runs with no head tag are dropped. One
    pass over the tags; the runs come out sorted by beg and disjoint."""
    runs = []
    n = len(tags)
    i = 0
    while i < n:
        label = _CLASS.get(tags[i])
        if label is None:
            i += 1
            continue
        heads = _HEADS[label]
        j, head = i, -1
        while j < n and _CLASS.get(tags[j]) == label:
            if tags[j] in heads:
                head = j
            j += 1
        if head >= 0:
            runs.append((label, i, j, head))
        i = j
    return runs


def _chunk_rows(text: str | None) -> list[tuple]:
    ws, tags = dialect.tagged_words_py(text)
    count = {"NP": 0, "VP": 0}
    out = []
    for label, beg, fin, head in chunk_runs(tags):
        out.append((label, count[label], beg, fin, ws[head],
                    " ".join(ws[beg:fin])))
        count[label] += 1
    return out


def chunk_rows(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """NP and VP chunk rows (id_col, label, chunk_index, tok_beg,
    tok_end, head, text) in ONE declared Arrow batch stage: `chunk_runs`
    per doc, chunk_index dense per (doc, label). All values are
    ints/strings, oracle-gated at both SFs."""
    return map_text_rows(
        df, _chunk_rows,
        [("label", pa.string()), ("chunk_index", pa.int64()),
         ("tok_beg", pa.int64()), ("tok_end", pa.int64()),
         ("head", pa.string()), ("text", pa.string())],
        id_col, text_col)
