"""A10 natlog-shaped polarity — the reference's natural-logic annotator
(component config.clj:179-187, per-token map stanford.clj:434-452
anon-operator-map/anon-token-map, shape doc/annotation-definitions.md:
natlog = {operator, polarity} per token) re-expressed as a deterministic
monotonicity rule table, per the A6/A8/A9 shape-graft precedent.

The graft contract (each rule hand-checkable against the reference shape):
  - operator lexicon: NEGATION_WORDS are downward-monotone operators;
    QUANTIFIER_WORDS are (upward) generalized quantifiers. Both emit the
    reference's operator spec; only negations flip polarity.
  - scope rule: an operator scopes over the REST OF ITS SENTENCE. A
    token's polarity is 'down' iff an ODD number of negation tokens occur
    STRICTLY BEFORE it in the same sentence, else 'up' (nested negations
    cancel — the monotonicity-composition rule).
  - operator spec (reference anon-operator-map, all 1-based sentence
    token ranges [start, end) except the 0-based head):
      * quantifier_token_range = [i, i+1) — the operator token itself
      * negation:   subject = [i+1, n+1) (the whole remaining scope),
                    object  = [n+1, n+1) (empty — negation is unary)
      * quantifier: subject = [i+1, min(i+2, n+1)) (the restrictor
                    token), object = [min(i+2, n+1), n+1) (the body)
      * quantifier_token_head_index = i - 1 (0-based index of the
        operator token, reference's :quantifier-token-head-index)
  - non-operator tokens carry polarity only (operator columns NULL) —
    exactly the reference's anon-token-map, which attaches :operator
    only when the token heads an operator.

Scale shape: one declared Arrow batch stage per surface (the token rows
and the per-doc aggregates), both driven by one per-sentence rule
function. The polarity is a running negation count over the sentence —
O(n) per sentence, never corpus-dependent. The DuckDB CTE renders the
same rule tables as the independent oracle.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.functions.text import map_text_rows
from clj_nlp_parse_spark.operators.features import sentence_words_sql
from clj_nlp_parse_spark.operators.trees import _in

#: downward-monotone operators: flip polarity over the rest of the
#: sentence. KEEP SORTED — _in renders the tuple verbatim and the
#: rendered SQL must be deterministic across both dialects.
NEGATION_WORDS = ("neither", "never", "no", "nor", "not", "without")
#: generalized quantifiers: emit an operator spec, no polarity flip
QUANTIFIER_WORDS = ("all", "each", "every", "many", "most", "some")


def neg_positions_sql(ws: str) -> str:
    """DuckDB: 1-based positions of negation tokens in the bound word
    array `ws` — computed ONCE per sentence so the per-token polarity
    count is over the (short) operator list, not a re-sliced prefix of
    the sentence."""
    return (f"list_filter(range(1, len({ws}) + 1), j -> "
            f"{_in(f'{ws}[j]', NEGATION_WORDS)})")


def polarity_sql(np_: str, i: str) -> str:
    """DuckDB: 'down' iff an odd number of negation positions (bound array
    `np_`, from neg_positions_sql) lie STRICTLY BEFORE 1-based position
    `i`."""
    cnt = f"len(list_filter({np_}, p -> p < {i}))"
    return f"CASE WHEN {cnt} % 2 = 1 THEN 'down' ELSE 'up' END"


def operator_cols_sql(w: str, i: str, n: str) -> dict[str, str]:
    """The seven operator-spec columns (dialect-common SQL) for token
    expr `w` at 1-based position `i` in a sentence of `n` tokens. NULL
    for non-operator tokens."""
    neg = _in(w, NEGATION_WORDS)
    quant = _in(w, QUANTIFIER_WORDS)
    op = f"({neg} OR {quant})"
    null = "CAST(NULL AS BIGINT)"
    when = lambda val: f"CASE WHEN {op} THEN CAST({val} AS BIGINT) ELSE {null} END"
    return {
        "operator": f"CASE WHEN {op} THEN {w} ELSE CAST(NULL AS STRING) END",
        "subj_beg": when(f"{i} + 1"),
        "subj_end": (f"CASE WHEN {neg} THEN CAST({n} + 1 AS BIGINT) "
                     f"WHEN {quant} THEN CAST(least({i} + 2, {n} + 1) "
                     f"AS BIGINT) ELSE {null} END"),
        "obj_beg": (f"CASE WHEN {neg} THEN CAST({n} + 1 AS BIGINT) "
                    f"WHEN {quant} THEN CAST(least({i} + 2, {n} + 1) "
                    f"AS BIGINT) ELSE {null} END"),
        "obj_end": when(f"{n} + 1"),
        "quant_beg": when(i),
        "quant_end": when(f"{i} + 1"),
        "quant_head": when(f"{i} - 1"),
    }


#: flat output column order (after doc_id): the oracle compare sorts by
#: name, but a stable order keeps the schema readable
NATLOG_COLS = ("sent_index", "token_index", "word", "polarity", "operator",
               "subj_beg", "subj_end", "obj_beg", "obj_end",
               "quant_beg", "quant_end", "quant_head")


def _natlog_sentence(si: int, ws: list[str]):
    """The rule table over sentence `si`: yields one NATLOG_COLS tuple
    per token — 1-based token_index, polarity from the running negation
    count, and the operator spec for operator tokens (NULLs otherwise)."""
    n = len(ws)
    negs = 0
    for i, w in enumerate(ws, start=1):
        pol = "down" if negs % 2 == 1 else "up"
        if w in NEGATION_WORDS:
            negs += 1
            yield (si, i, w, pol, w, i + 1, n + 1, n + 1, n + 1,
                   i, i + 1, i - 1)
        elif w in QUANTIFIER_WORDS:
            se = min(i + 2, n + 1)
            yield (si, i, w, pol, w, i + 1, se, se, n + 1, i, i + 1, i - 1)
        else:
            yield (si, i, w, pol, None, None, None, None, None,
                   None, None, None)


def _natlog_doc(text: str | None):
    for si, ws in enumerate(dialect.sentence_words_py(text)):
        yield from _natlog_sentence(si, ws)


def natlog_rows(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row per sentence token (id_col + NATLOG_COLS), textual order,
    as a declared Arrow batch stage. All values are ints/strings, so the
    output is byte-identical to the DuckDB oracle (gated at both SFs)."""
    fields = [(c, pa.string() if c in ("word", "polarity", "operator")
               else pa.int64()) for c in NATLOG_COLS]
    return map_text_rows(df, _natlog_doc, fields, id_col, text_col)


def _natlog_features(text: str | None):
    nt = no = nd = 0
    for row in _natlog_doc(text):
        nt += 1
        no += row[4] is not None
        nd += row[3] == "down"
    return [(nt, no, nd, 0.0 if nt == 0 else float(nd) / float(nt))]


def natlog_doc_features(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-doc natlog aggregates (n_tokens, n_operators, n_down,
    down_ratio) over the natlog_rows rule core, as a declared Arrow batch
    stage — one output row per input doc (zero defaults for docs without
    tokens); the ratio is one double division, bit-identical in IEEE."""
    return map_text_rows(
        df, _natlog_features,
        [("n_tokens", pa.int64()), ("n_operators", pa.int64()),
         ("n_down", pa.int64()), ("down_ratio", pa.float64())],
        id_col, text_col)


def duck_natlog_cte(from_tbl: str, text_col: str = "text") -> str:
    """DuckDB CTE chain (no leading WITH) ending in `nl`: one row per
    sentence token with doc_id + NATLOG_COLS, same rule tables as
    _natlog_sentence. sentence_words_sql guarantees non-empty word
    arrays, so every cs row explodes to >= 1 token."""
    sents = sentence_words_sql(text_col, "duck")
    oc = operator_cols_sql("w", "i", "n")
    cols = ", ".join(f"{oc[k]} AS {k}" for k in NATLOG_COLS[4:])
    return f"""
ns0 AS (SELECT doc_id, {sents} AS sents FROM {from_tbl}),
ns1 AS (SELECT doc_id, unnest(list_transform(range(1, len(sents) + 1),
          j -> struct_pack(si := j, ws := sents[j]))) AS sx FROM ns0),
ns2 AS (SELECT doc_id, sx.si AS si, sx.ws AS ws,
               {neg_positions_sql('sx.ws')} AS np_,
               unnest(range(1, len(sx.ws) + 1)) AS i FROM ns1),
ns3 AS (SELECT doc_id, si, ws, np_, i, ws[i] AS w, len(ws) AS n FROM ns2),
nl AS (SELECT doc_id, CAST(si - 1 AS BIGINT) AS sent_index,
              CAST(i AS BIGINT) AS token_index, w AS word,
              {polarity_sql('np_', 'i')} AS polarity,
              {cols}
       FROM ns3)"""
