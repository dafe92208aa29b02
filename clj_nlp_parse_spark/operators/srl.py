"""SRL candidate selection + verb/srl features (SURVEY.md §2.4 O13-O15,
§2.5 F3/F6).

The reference's SRL *model* (ClearNLP) is out of scope; its selection logic
is in scope and reproduced exactly:

  O13 rank candidate parses per sentence by score desc
      (sentence-sort-by-score, srl.clj:110-113)
  O14 best-candidate: top-1 by score, EXCEPT for short sentences
      (token count <= first-label-token-threshold = 3, srl.clj:22-25) where
      the first candidate HAVING a propbank label wins if any
      (short-sentence-best, srl.clj:126-132; first-with-label :115-124)
  O15 first non-null propbank label across ordered tokens/sentences
      (first-sent-propbank-label, feature/lang.clj:15-31)
  F3  srl-features: propbank hash-id sum (0 for nil) + argument counts
      (feature/lang.clj:142-160)
  F6  verb-features: elected verb = first token if VB-type, else dep-root
      if VB-type, else none-label; id = deterministic hash
      (feature/lang.clj:33-59; the dead WordNet branch is not grafted)

The engine's deterministic dependency-root (no parser model): the first
verb-type token of the sentence, else the first token — consistent with the
tagger's rule tables.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect, schema
from clj_nlp_parse_spark.functions.text import map_text_rows
from clj_nlp_parse_spark.operators import trees as TR

FIRST_LABEL_TOKEN_THRESHOLD = 3  # srl.clj:22-25


def select_best_candidates(cands: DataFrame,
                           sent_col: str = "sent_id",
                           score_col: str = "score",
                           has_label_col: str = "has_label",
                           tok_count_col: str = "tok_count",
                           order_col: str = "cand_id") -> DataFrame:
    """O13+O14 in one window: rank key is
      short sentence (tok_count <= 3):
          any labeled candidate exists → (has_label desc, cand order asc)
          [first-with-label returns the FIRST in candidate order, not the
           highest-scored — srl.clj:115-124]
      else: (score desc, cand order asc).
    """
    short = F.col(tok_count_col) <= FIRST_LABEL_TOKEN_THRESHOLD
    any_label = F.max(F.col(has_label_col).cast("int")).over(
        Window.partitionBy(sent_col)) == 1
    use_label_rule = short & any_label
    key1 = (F.when(use_label_rule, -F.col(has_label_col).cast("double"))
            .otherwise(-F.col(score_col).cast("double")))
    w = Window.partitionBy(sent_col).orderBy(key1.asc(), F.col(order_col).asc())
    return (cands.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def select_best_candidates_py(cands: list[dict]) -> dict:
    """INDEPENDENT pure-Python twin of O13/O14 (srl.clj:110-132), stated
    from the reference's prose rule rather than the window-rank encoding:
    per sentence, a short sentence (tok_count <= threshold) that has ANY
    labeled candidate elects the FIRST labeled candidate in candidate
    order; every other sentence elects the highest score, ties broken by
    candidate order. Returns {sent_id: cand_id}. Shares no SQL/window
    code with select_best_candidates; fuzz-pinned in
    tests/test_fuzz_parity.py."""
    by_sent: dict = {}
    for c in cands:
        by_sent.setdefault(c["sent_id"], []).append(c)
    out = {}
    for sid, cs in by_sent.items():
        cs = sorted(cs, key=lambda c: c["cand_id"])
        short = cs[0]["tok_count"] <= FIRST_LABEL_TOKEN_THRESHOLD
        if short and any(c["has_label"] for c in cs):
            best = next(c for c in cs if c["has_label"])
        else:
            best = min(cs, key=lambda c: (-c["score"], c["cand_id"]))
        out[sid] = best["cand_id"]
    return out


def first_propbank_label(df: DataFrame, id_col: str,
                         labels_col: str) -> DataFrame:
    """O15: first non-null element of an ordered array of (nullable)
    propbank labels."""
    return df.select(
        F.col(id_col),
        F.expr(f"try_element_at(filter({labels_col}, x -> x IS NOT NULL), 1)")
        .alias("first_propbank"))


def srl_feature_cols(propbanks: str, arg_labels: str) -> list[Column]:
    """F3 over per-token arrays: propbanks (nullable strings) and first-head
    dependency labels (nullable strings)."""
    h = dialect.hash32_expr("x", "spark")
    return [
        F.expr(f"aggregate(transform({propbanks}, x -> "
               f"CASE WHEN x IS NULL THEN 0L ELSE ({h}) END), "
               f"0L, (a, v) -> a + v)").alias("srl_propbank_id"),
        F.expr(f"size(filter({arg_labels}, x -> x IS NOT NULL))")
        .cast("long").alias("srl_argument_counts"),
    ]


def verb_features(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    from clj_nlp_parse_spark.functions import text as tx
    # r6: only word + pos_type are read — skip lemma/stopword/go fields
    ann = df.withColumn("words", tx.words_col(text_col)).withColumn(
        "toks", F.expr(tx.annotated_tokens_sql(
            "words", "spark", fields=("word", "pos_type"))))
    first_is_verb = F.expr("try_element_at(toks, 1).pos_type = 'verb'")
    root = F.expr(
        "coalesce(try_element_at(filter(toks, x -> x.pos_type = 'verb'), 1), "
        "try_element_at(toks, 1))")
    elected = (
        F.when(first_is_verb, F.expr("try_element_at(toks, 1).word"))
        .when(root.isNotNull() & (root["pos_type"] == "verb"), root["word"])
        .otherwise(F.lit(schema.NONE_LABEL)))
    h = dialect.hash32_expr("elected_verb", "spark")
    return (ann.withColumn("elected_verb", elected)
            .select(F.col(id_col), "elected_verb",
                    F.expr(h).alias("elected_verb_id")))


# ------------------------------------------------- A13 srl token shape
# The reference's per-token srl map (srl.clj:143-162 mapify-parsed-
# sentences): {id, propbank, head-id, dependency-label,
# heads [{function-tag, dependency-label}]}, flattened to one row per
# token. The ClearNLP MODEL stays out of scope (SURVEY §2.3); this is the
# A6/A8/A9-style shape graft — every field is derived deterministically
# from the engine's dependency tree (trees.py dep edges), so it is real,
# traversable, and oracle-checkable:
#   id               = 1-based token index (ClearNLP DEPNode.id)
#   head_id          = dep-edge head (0 for the root token, like the
#                      reference's artificial root node)
#   dependency_label = dep-edge label ('root' / 'mod' / 'dep')
#   propbank         = lemma + '.01' for verb-typed tokens else NULL
#                      (the reference's propbank sense strings, e.g.
#                      want.01 — sense 01 is the deterministic choice)
#   function_tag     = NULL for the root (it has no head arc), else the
#                      tag of its one semantic-head arc from a fixed
#                      label→tag table ('mod' → PPT [patient], 'dep' →
#                      ADV — ClearNLP's most common tags for those
#                      attachments)

def function_tag_sql(label: str) -> str:
    """Dialect-common CASE: dependency label → ClearNLP-style function
    tag; NULL for the root (it has no head arc)."""
    return (f"CASE {label} WHEN 'mod' THEN 'PPT' WHEN 'dep' THEN 'ADV' "
            f"ELSE CAST(NULL AS STRING) END")


def propbank_sql(ws: str, tg: str, i: str) -> str:
    """DuckDB propbank sense string for token `i` (1-based) of bound
    word/tag arrays: lemma.01 for verb-typed tokens, else NULL."""
    tags = ", ".join(f"'{t}'" for t in schema.VERB_TAGS)
    lem = dialect.lemma_case_expr(f"{ws}[{i}]", "duck")
    return (f"CASE WHEN {tg}[{i}] IN ({tags}) THEN concat({lem}, '.01') "
            f"ELSE CAST(NULL AS STRING) END")


_FUNCTION_TAG = {"mod": "PPT", "dep": "ADV"}
_VERB_TAGS = frozenset(schema.VERB_TAGS)


def _srl_rows(text: str | None) -> list[tuple]:
    ws, tags = dialect.tagged_words_py(text)
    rows = []
    for hd, dep, lab in TR.dep_edges(tags):
        w = ws[dep - 1]
        pb = dialect.lemma_py(w) + ".01" if tags[dep - 1] in _VERB_TAGS \
            else None
        rows.append((dep, w, hd, lab, _FUNCTION_TAG.get(lab), pb))
    return rows


def srl_token_rows(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """One row per token (id_col, id, word, head_id, dependency_label,
    function_tag, propbank) — the flattened A13 surface, as a declared
    Arrow batch stage: dep edges from trees.dep_edges,
    function tag from the fixed label→tag table (NULL for the root),
    propbank = lemma + '.01' for verb-tagged tokens."""
    return map_text_rows(
        df, _srl_rows,
        [("id", pa.int64()), ("word", pa.string()),
         ("head_id", pa.int64()), ("dependency_label", pa.string()),
         ("function_tag", pa.string()), ("propbank", pa.string())],
        id_col, text_col)
