"""A12 coref-shaped chains — the reference's coreference structure
(stanford.clj:407-421 coref-tree-to-map, component config.clj:200-204,
annotation shape doc/annotation-definitions.md:22-41) re-expressed as a
deterministic per-document clustering, per the A6/A8/A9 shape-graft
precedent: the STRUCTURE (chains of mentions in textual order, each
mention carrying sent-index / token-range / head-index / chain id) is real
and consumable by downstream features; the neural mention-ranking model is
replaced by a documented deterministic rule.

The graft contract (each rule hand-checkable against the reference shape):
  - mention source: the model-side (gazetteer) NER mentions per sentence
    (ner.py run-merging — CoreNLP's coref consumes entity mentions too)
  - clustering rule: two mentions corefer iff their LEMMA-NORMALIZED
    texts match exactly (exact text/lemma match — the deterministic core
    of CoreNLP's deterministic-sieve "exact match" pass)
  - a chain = a key with >= 2 mentions in the document; singletons are
    not chains (CoreNLP drops singleton clusters from getCorefChains)
  - chain_id: 1-based rank of the key in sorted key order within the doc
    (dense and deterministic, like the reference's stable :id per chain)
  - mentions listed in TEXTUAL ORDER (the reference's
    getMentionsInTextualOrder)
  - sent_index: 0-based (reference :sent-index)
  - token_beg/token_end: 1-based sentence token range [start, end) —
    the reference's :token-range convention for coref mentions
  - head_index: the mention's LAST token, 1-based (rightmost-headed
    noun compounds — the deterministic stand-in for :head-index)

Scale shape: clustering is PER-DOCUMENT by definition, so each surface
(the chain-mention rows and the per-doc aggregates) is one declared Arrow
batch stage over one shared mention function — zero shuffle. The key
counting is bounded by mentions-per-doc, never by corpus size. The DuckDB
CTE renders the same rule tables as the independent oracle.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.functions.text import map_text_rows
from clj_nlp_parse_spark.operators import ner
from clj_nlp_parse_spark.operators.features import sentence_words_sql


def mention_key_sql(ws: str, m: str) -> str:
    """DuckDB chain clustering key: lemma-joined mention words. `ws` =
    bound sentence word-array name, `m` = bound mention struct name
    (tok_beg 0-based, tok_end exclusive — the ner.py mention shape)."""
    lem = dialect.lemma_case_expr("w", "duck")
    return (f"array_to_string(list_transform({ws}[{m}.tok_beg + 1:"
            f"{m}.tok_end], w -> {lem}), ' ')")


#: flat chain-mention output column order (after doc_id)
COREF_COLS = ("chain_id", "mention_key", "label", "sent_index",
              "token_beg", "token_end", "head_index", "chain_size")

_WORD_TYPE = {w: t for t, ws in ner.GAZETTEER.items() for w in ws}


def _doc_mentions(text: str | None) -> list[tuple]:
    """The mention rule over one doc: (sent_index, label, tok_beg,
    tok_end, key) per maximal same-type run of gazetteer-typed tokens,
    textual order; tok_beg 0-based, tok_end exclusive, key = the run's
    lemma-joined words."""
    mentions = []
    for si, ws in enumerate(dialect.sentence_words_py(text)):
        types = [_WORD_TYPE.get(w) for w in ws]
        i = 0
        while i < len(types):
            if types[i] is None:
                i += 1
                continue
            j = i
            while j < len(types) and types[j] == types[i]:
                j += 1
            key = " ".join(dialect.lemma_py(w) for w in ws[i:j])
            mentions.append((si, types[i], i, j, key))
            i = j
    return mentions


def _chain_rows(text: str | None) -> list[tuple]:
    mentions = _doc_mentions(text)
    cnt = Counter(m[4] for m in mentions)
    rank = {k: r for r, k in enumerate(
        sorted(k for k, c in cnt.items() if c >= 2), start=1)}
    return [(rank[key], key, lab, si, beg + 1, end + 1, end, cnt[key])
            for (si, lab, beg, end, key) in mentions if key in rank]


def coref_rows(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """One row per chain mention in textual order (id_col + COREF_COLS)
    as a declared Arrow batch stage: chains = keys with >= 2 mentions in
    the doc, chain_id = 1-based rank in sorted qualifying-key order.
    Values are ints/strings only — and Python string sorting compares
    code points exactly like UTF8String's binary order, so output is
    byte-identical (oracle-gated at both SFs)."""
    fields = [(c, pa.string() if c in ("mention_key", "label")
               else pa.int64()) for c in COREF_COLS]
    return map_text_rows(df, _chain_rows, fields, id_col, text_col)


def _chain_features(text: str | None) -> list[tuple]:
    q = [c for c in Counter(m[4] for m in _doc_mentions(text)).values()
         if c >= 2]
    nc, nm = len(q), sum(q)
    return [(nc, nm, max(q, default=0),
             0.0 if nc == 0 else float(nm) / float(nc))]


def coref_doc_features(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-doc chain aggregates (n_chains, n_chain_mentions,
    max_chain_size, mean_chain_size) over the coref_rows mention rule, as
    a declared Arrow batch stage — one output row per input doc (zero
    defaults for chainless docs); the mean is one double division,
    bit-identical in IEEE."""
    return map_text_rows(
        df, _chain_features,
        [("n_chains", pa.int64()), ("n_chain_mentions", pa.int64()),
         ("max_chain_size", pa.int64()), ("mean_chain_size", pa.float64())],
        id_col, text_col)


def duck_coref_cte(from_tbl: str, text_col: str = "text") -> str:
    """DuckDB CTE chain (no leading WITH) ending in `cm`: one row per
    chain mention with doc_id, chain_id, key, label, sent_index, tok_beg,
    tok_end (0-based, ner shape), chain_size — and `cch` (doc_id, key,
    chain_size) for per-doc aggregation. Same rule tables as
    _doc_mentions/_chain_rows (dense_rank over sorted keys == the rank in
    the sorted qualifying-key list)."""
    sents = sentence_words_sql(text_col, "duck")
    ty = ner.token_types_sql("ws", "duck")
    ments = ner.ner_mentions_sql("ty", "duck")
    key = mention_key_sql("ws", "m")
    return f"""
cs0 AS (SELECT doc_id, {sents} AS sents FROM {from_tbl}),
cs1 AS (SELECT doc_id, unnest(list_transform(range(1, len(sents) + 1),
          i -> struct_pack(si := i, ws := sents[i]))) AS sx FROM cs0),
cs2 AS (SELECT doc_id, sx.si AS si, sx.ws AS ws, {ty} AS ty FROM cs1),
cs3 AS (SELECT doc_id, si, ws, unnest({ments}) AS m FROM cs2),
cs4 AS (SELECT doc_id, si - 1 AS sent_index, m.label AS label,
               m.tok_beg AS tok_beg, m.tok_end AS tok_end,
               {key} AS key FROM cs3),
cch AS (SELECT doc_id, key, COUNT(*) AS chain_size FROM cs4
        GROUP BY doc_id, key HAVING COUNT(*) >= 2),
cid AS (SELECT doc_id, key, chain_size,
               dense_rank() OVER (PARTITION BY doc_id ORDER BY key)
                 AS chain_id FROM cch),
cm AS (SELECT cs4.doc_id AS doc_id, chain_id, key, label, sent_index,
              tok_beg, tok_end, chain_size
       FROM cs4 JOIN cid USING (doc_id, key))"""
