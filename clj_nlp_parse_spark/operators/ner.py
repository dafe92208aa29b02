"""Gazetteer-backed model-side NER — the A6 SHAPE without the CRF model.

Reference surface: the CRF NER component (config.clj:108-128, model load
stanford.clj:82-96) emits per-token entity tags that CoreNLP merges into
`:mentions` entity spans, which parse.clj:194-205 then UNIONS with the
dictionary side's `:tok-re-mentions` (exercised by ner_test.clj). The CRF
MODEL itself is out of scope (SURVEY.md §2.3 — parity is against the
engine's own dumped vectors), but a user porting a reference pipeline needs
a deterministic component that populates the `:mentions` side so the union
and every downstream mention consumer (O4-O10, F5) sees two genuinely
distinct sources.

This component reproduces exactly the CRF-to-mentions mechanics with a
broadcast gazetteer in place of model weights:

  1. per-token typing: each token gets an entity type from a literal
     word→type map (a CASE cascade — the same broadcast-literal pattern as
     the dictionary matcher; at 100 TB the gazetteer is a driver literal
     compiled into codegen, zero join, zero shuffle);
  2. span merging: maximal runs of consecutive same-type tokens become ONE
     mention — precisely how CoreNLP's EntityMentionsAnnotator folds CRF
     token tags into NERMention spans.

Mentions share the dictionary mention struct shape
(label, item_id, tok_beg, tok_end) with item_id = -1 marking the model
side, so the two sources concat directly (the reference's mentions union)
and mentions_feature_cols consumes both unchanged.

Everything is a per-row array computation (let-bound HOFs, no shuffle), and
the whole pipeline renders identically in Spark SQL and DuckDB SQL for the
oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.dialect import _q

#: word → entity type, over the synthetic corpus vocabulary (the F5 entity
#: vocabulary's universe). Multi-token entities arise from ADJACENT typed
#: tokens of the same type, merged by run-folding — the CRF-mention
#: mechanic, not dictionary phrase lookup.
GAZETTEER: dict[str, tuple[str, ...]] = {
    # inflected surface forms (customers/scans/tables) type like their
    # base word — they lemma-normalize onto it, which is what makes the
    # coref clustering key (A12, coref.py) a genuine text/LEMMA match
    "ORGANIZATION": ("customer", "customers", "spark"),
    "OPERATION": ("agg", "filter", "group", "join", "merge", "scan",
                  "scans", "sort"),
    "ARTIFACT": ("batch", "column", "key", "line", "row", "table",
                 "tables", "vector", "window"),
}

#: item_id marking model-side mentions in the shared mention struct (real
#: dictionary item ids are positive).
MODEL_ITEM_ID = -1


def _word_to_type() -> list[tuple[str, str]]:
    """(word, type) pairs, word-sorted for deterministic SQL rendering."""
    pairs = [(w, t) for t, ws in GAZETTEER.items() for w in ws]
    return sorted(pairs)


def type_case_sql(var: str, d: str = "spark") -> str:
    """CASE cascade typing one token: gazetteer word → entity type, else
    NULL (the 'O' tag). Identical text in both dialects."""
    whens = " ".join(f"WHEN {_q(w)} THEN {_q(t)}"
                     for w, t in _word_to_type())
    return f"CASE {var} {whens} ELSE NULL END"


def token_types_sql(words: str, d: str = "spark") -> str:
    """array<string entity-type-or-NULL>, aligned with the token array."""
    case = type_case_sql("w", d)
    if d == "spark":
        return f"transform({words}, w -> {case})"
    return f"list_transform({words}, w -> {case})"


def ner_mentions_sql(ty: str, d: str = "spark") -> str:
    """Mentions from a BOUND per-token type array name `ty`: maximal runs
    of consecutive identical non-NULL types, one struct per run —
    array<struct<label,item_id,tok_beg,tok_end>> (the dictionary mention
    shape; tok_beg 0-based, tok_end exclusive).

    A run STARTS at i where ty[i] is typed and differs (null-safely) from
    ty[i-1]; it ENDS before the first j > i whose type differs. The caller
    must let-bind `ty` (Spark HOFs re-evaluate free variables per lambda
    call — the engine-wide let-binding idiom).

    LINEAR form (review r04): the old per-start tail scan for the run end
    was O(n^2) on an alternating-type document. ALL break positions
    (typed or not) are computed once; a run starting at break x ends at
    break x+1 (or n+1) — an aligned-array lookup, so the whole extraction
    is O(n + runs)."""
    if d == "spark":
        at = lambda i: f"try_element_at({ty}, {i})"
        neq = lambda a, b: f"NOT ({a} <=> {b})"
        # every position where the type changes, typed or NULL
        breaks = (f"filter(sequence(1, size({ty})), i -> "
                  f"i = 1 OR {neq(at('i - 1'), at('i'))})")
        # run ends aligned with breaks: next break, else n+1
        # nx, not x: a short lambda name can SHADOW an outer let
        # variable of a CALLER that bound ty under that name
        ends = (f"transform(CASE WHEN size(w0.bs) = 0 THEN array() "
                f"ELSE sequence(1, size(w0.bs)) END, nx -> "
                f"coalesce(try_element_at(w0.bs, nx + 1), "
                f"size({ty}) + 1))")
        start_at = "try_element_at(w1.bs, nx)"
        body = (f"transform(filter(CASE WHEN size(w1.bs) = 0 THEN array() "
                f"ELSE sequence(1, size(w1.bs)) END, nx -> "
                f"try_element_at({ty}, {start_at}) IS NOT NULL), "
                f"nx -> named_struct("
                f"'label', try_element_at({ty}, {start_at}), "
                f"'item_id', {MODEL_ITEM_ID}L, "
                f"'tok_beg', {start_at} - 1, "
                f"'tok_end', try_element_at(w1.en, nx) - 1))")
        inner = (f"try_element_at(transform(array(named_struct("
                 f"'bs', w0.bs, 'en', {ends})), w1 -> {body}), 1)")
        return (f"CASE WHEN size({ty}) = 0 THEN array() ELSE "
                f"try_element_at(transform(array(named_struct("
                f"'bs', {breaks})), w0 -> {inner}), 1) END")
    at = lambda i: f"{ty}[{i}]"
    neq = lambda a, b: f"({a} IS DISTINCT FROM {b})"
    breaks = (f"list_filter(range(1, len({ty}) + 1), i -> "
              f"i = 1 OR {neq(at('i - 1'), at('i'))})")
    # DuckDB: out-of-range [x+1] is NULL, so the successor lookup needs
    # no aligned ends array; bs is bound once via the single-element-
    # lambda idiom (same trick as the Spark side)
    body = (f"list_transform("
            f"list_filter(range(1, len(bs0) + 1), nx -> "
            f"{ty}[bs0[nx]] IS NOT NULL), "
            f"nx -> struct_pack("
            f"label := {ty}[bs0[nx]], "
            f"item_id := CAST({MODEL_ITEM_ID} AS BIGINT), "
            f"tok_beg := bs0[nx] - 1, "
            f"tok_end := coalesce(bs0[nx + 1], len({ty}) + 1) - 1))")
    return f"list_transform([{breaks}], bs0 -> {body})[1]"


def model_mentions_expr(words: str) -> str:
    """Spark expression: words array name → model mentions array, with the
    type array computed ONCE via the let-binding idiom."""
    body = ner_mentions_sql("z.ty", "spark")
    return (f"try_element_at(transform(array(named_struct("
            f"'ty', {token_types_sql(words, 'spark')})), "
            f"z -> {body}), 1)")


def add_model_mentions(df: DataFrame, words_col: str = "words",
                       out_col: str = "model_mentions") -> DataFrame:
    """Attach the model-side mention array to any frame carrying a token
    array — composes with dictionary.tag_mentions' output so both mention
    sources live on one row (the reference's pipeline shape) with zero
    extra scans or shuffles."""
    return df.withColumn(out_col, F.expr(model_mentions_expr(words_col)))


def tag_model_mentions(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Standalone A6-shaped tagger: text → words + model_mentions."""
    out = df.withColumn(
        "words", F.expr(dialect.tokens_expr(text_col, "spark")))
    return add_model_mentions(out)


# ------------------------------------------------------------ Python twin
# INDEPENDENT pure-Python A6 mentions (dict lookup + one linear scan, no
# SQL, none of the aligned break/ends array machinery) — the third
# comparator per the dialect.pos_py pattern; fuzz-asserted in
# tests/test_fuzz_parity.py alongside the hand-derived goldens.

def model_mentions_py(words: list[str]) -> list[tuple]:
    """Twin of ner_mentions_sql over a token list: maximal runs of
    consecutive identical gazetteer types as (label, item_id, tok_beg,
    tok_end) tuples (0-based, end-exclusive)."""
    w2t = dict(_word_to_type())
    types = [w2t.get(w) for w in words]
    out = []
    i = 0
    while i < len(types):
        if types[i] is None:
            i += 1
            continue
        j = i + 1
        while j < len(types) and types[j] == types[i]:
            j += 1
        out.append((types[i], MODEL_ITEM_ID, i, j))
        i = j
    return out
