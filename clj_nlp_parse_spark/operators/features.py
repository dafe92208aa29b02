"""Per-document feature vectors — the reference's feature operators in
Catalyst column expressions, except F2, whose tree serialization runs in
a per-doc Python kernel.

Implements (SURVEY.md §2.5):
  F1  pos_tag_features   (reference feature/lang.clj:77-111, metas :113-119)
  F4  sentiment_features (reference feature/lang.clj:165-179)
  F14 token_features     (doc-level stats, reference README.md:269-291)
  F2  tree_features (hash of trees.tree_ser, the dialect.hash32_expr
      formula, in a declared Arrow batch stage)
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clj_nlp_parse_spark import schema
from clj_nlp_parse_spark.functions import text as tx
from clj_nlp_parse_spark.functions.text import map_text_rows
from clj_nlp_parse_spark.operators import trees as TR


def _type_count(toks: str, type_name: str) -> Column:
    return F.expr(f"size(filter({toks}, x -> x.pos_type = '{type_name}'))")


def pos_tag_feature_cols(toks: str = "toks") -> list[Column]:
    """Zero-filled count + ratio per coarse POS type, plus first/last tag
    (out-of-vocab → NONE_LABEL). Ratio = count/token-count, 0 if empty —
    exactly the reference's contract (feature/lang.clj:95-111)."""
    cols: list[Column] = []
    tc = F.expr(f"size({toks})")
    for t in schema.POS_TAG_TYPES:
        cnt = _type_count(toks, t)
        cols.append(cnt.cast("long").alias(f"pos_tag_count_{t}"))
        cols.append(
            F.when(tc == 0, F.lit(0.0))
            .otherwise(cnt.cast("double") / tc.cast("double"))
            .alias(f"pos_tag_ratio_{t}")
        )
    vocab = ", ".join("'" + x.replace("'", "''") + "'" for x in schema.ALL_POS_TAGS)
    for name, idx in (("pos_first_tag", 1), ("pos_last_tag", -1)):
        tag = F.expr(f"try_element_at({toks}, {idx}).pos_tag")
        cols.append(
            F.when(tag.isNull() | ~tag.isin(*schema.ALL_POS_TAGS),
                   F.lit(schema.NONE_LABEL)).otherwise(tag).alias(name)
        )
    return cols


def token_feature_cols(text_col: str = "text", toks: str = "toks",
                       mentions: str | None = None,
                       word_of: str = "x.word") -> list[Column]:
    """Doc-level stats (F14): utterance-length, token-count, sent-count,
    mention-count, token-average-length (exact ratio → double),
    is-question — the FULL token-count-features surface the metas declare
    (reference README.md:269-291); mention_count is 0 when the caller has
    no mention source (no NER ran — the reference's empty-mentions case).

    `word_of`: how to read the word from one element `x` of `toks` —
    'x.word' for annotated structs, 'x' for a plain word array (r6: the
    doc-stats path only needs word lengths, so it passes the word array
    and skips the full annotate() struct)."""
    tc = F.expr(f"size({toks})")
    sc = F.expr(f"size({sentence_words_sql(text_col, 'spark')})")
    mc = (F.expr(f"size({mentions})") if mentions is not None
          else F.lit(0))
    return [
        F.length(F.col(text_col)).cast("long").alias("utterance_length"),
        tc.cast("long").alias("token_count"),
        sc.cast("long").alias("sent_count"),
        mc.cast("long").alias("mention_count"),
        F.when(tc == 0, F.lit(0.0)).otherwise(
            F.expr(f"aggregate({toks}, 0L, (a, x) -> a + length({word_of}))")
            .cast("double") / tc.cast("double")
        ).alias("token_average_length"),
        F.expr(f"rtrim({text_col}) LIKE '%?'").alias("is_question"),
    ]


def pos_tag_features(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """F1 at table granularity: one row per document with the zero-filled
    POS-type count/ratio vector. Pure projection — no shuffle.

    The whole vector is computed inside ONE let-bound struct so the
    tokenize+tag expression runs once per row; naming `toks` in each of the
    14 output columns would re-evaluate it per column after projection
    collapse. Only the (tag, type) arrays are bound — NOT the full
    annotated token struct: column pruning cannot reach inside a let
    binding, so binding `toks` would compute lemma/stopword/go fields this
    query never reads (measured 1.55x on sf0.1)."""
    from clj_nlp_parse_spark import dialect
    words = dialect.tokens_expr(text_col, "spark")
    pos = dialect.pos_case_expr("t", "spark")
    ptype = dialect.pos_type_case_expr("x")
    tags = f"transform({words}, t -> ({pos}))"
    types_ = f"transform(z0.tg, x -> ({ptype}))"
    fields = []
    for t in schema.POS_TAG_TYPES:
        cnt = f"size(filter(z.tp, p -> p = '{t}'))"
        fields.append(f"'pos_tag_count_{t}', cast({cnt} as bigint)")
        fields.append(
            f"'pos_tag_ratio_{t}', CASE WHEN size(z.tp) = 0 "
            f"THEN cast(0.0 as double) ELSE cast({cnt} as double) "
            f"/ cast(size(z.tp) as double) END")
    vocab = ", ".join(
        "'" + x.replace("'", "''") + "'" for x in schema.ALL_POS_TAGS)
    for nm, ix in (("pos_first_tag", 1), ("pos_last_tag", -1)):
        tag = f"try_element_at(z.tg, {ix})"
        fields.append(
            f"'{nm}', CASE WHEN {tag} IS NULL OR NOT ({tag} IN ({vocab})) "
            f"THEN '{schema.NONE_LABEL}' ELSE {tag} END")
    let = (f"try_element_at(transform(array(named_struct('tg', {tags})), "
           f"z0 -> try_element_at(transform(array(named_struct("
           f"'tg', z0.tg, 'tp', {types_})), "
           f"z -> named_struct({', '.join(fields)})), 1)), 1)")
    return (df.select(F.col(id_col), F.expr(let).alias("__f"))
            .select(id_col, "__f.*"))


def token_features(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    # r6: doc stats only need the word array (token count + lengths), not
    # the 7-field annotate() struct — ~4x at sf0.1
    ann = df.withColumn("words", tx.words_col(text_col))
    return ann.select(F.col(id_col),
                      *token_feature_cols(text_col, "words", word_of="x"))


# ------------------------------------------------------------------ sentiment
# Engine's deterministic sentiment lexicon (the reference uses a model;
# SURVEY.md §2.3 A11 — engine supplies a lexicon-scored equivalent with the
# same aggregate contract: per-sentence int in [-2,2], utterance = sum).
POSITIVE_WORDS = (
    "good", "great", "fast", "best", "better", "new", "win", "happy",
    "love", "like", "nice", "cool", "efficient", "correct", "clean",
)
NEGATIVE_WORDS = (
    "bad", "slow", "worst", "worse", "old", "fail", "sad", "hate",
    "wrong", "dirty", "broken", "error", "leak", "skew", "stale",
)


def sentence_words_sql(text_col: str, dialect_name: str = "spark") -> str:
    """Per-sentence word arrays, dialect-common. A sentence is a [.!?]+
    -delimited segment containing AT LEAST ONE TOKEN — punctuation-only
    segments are not sentences (the empty word array made the two SQL
    dialects disagree on segment membership; filtering on the token count
    is the contract all three renderers share, incl. the Python parser)."""
    if dialect_name == "spark":
        return (f"filter(transform(split(coalesce({text_col}, ''), "
                f"'[.!?]+'), s -> "
                f"regexp_extract_all(lower(s), '([a-z0-9'']+)', 1)), "
                f"ws -> size(ws) > 0)")
    return (f"list_filter(list_transform("
            f"string_split_regex(coalesce({text_col}, ''), '[.!?]+'), s -> "
            f"regexp_extract_all(lower(s), '[a-z0-9'']+')), "
            f"ws -> len(ws) > 0)")


def sentence_sentiment_sql(words: str, dialect_name: str = "spark") -> str:
    """Clamp(sum(+1/-1 lexicon hits), -2, 2) over one sentence's words —
    dialect-common SQL."""
    pos = ", ".join(f"'{w}'" for w in POSITIVE_WORDS)
    neg = ", ".join(f"'{w}'" for w in NEGATIVE_WORDS)
    if dialect_name == "spark":
        raw = (f"aggregate({words}, 0, (a, t) -> a + "
               f"(CASE WHEN t IN ({pos}) THEN 1 "
               f"WHEN t IN ({neg}) THEN -1 ELSE 0 END))")
    else:
        raw = (f"list_sum(list_transform({words}, t -> "
               f"CASE WHEN t IN ({pos}) THEN 1 "
               f"WHEN t IN ({neg}) THEN -1 ELSE 0 END))")
        raw = f"coalesce({raw}, 0)"
    return f"greatest(-2, least(2, {raw}))"


def _sentiment_feature_cols(scores: str = "sent_scores") -> list[Column]:
    """The six F4 columns over a bound per-sentence score array column."""
    n = F.expr(f"size({scores})")
    s = F.expr(f"aggregate({scores}, 0L, (a, x) -> a + x)")
    mean = F.when(n == 0, F.lit(0.0)).otherwise(s.cast("double") / n)
    var = F.when(n == 0, F.lit(0.0)).otherwise(
        F.expr(f"aggregate({scores}, cast(0.0 as double), "
               f"(a, x) -> a + x * x)") / n
        - (s.cast("double") / n) * (s.cast("double") / n)
    )
    return [
        s.cast("long").alias("sentiment_utterance"),
        F.expr(f"coalesce(array_max({scores}), 0)").cast("long")
            .alias("sentiment_sentence_max"),
        F.expr(f"coalesce(array_min({scores}), 0)").cast("long")
            .alias("sentiment_sentence_min"),
        s.cast("long").alias("sentiment_sentence_sum"),
        mean.alias("sentiment_sentence_mean"),
        var.alias("sentiment_sentence_variance"),
    ]


def with_sentiment_features(df: DataFrame,
                            text_col: str = "text") -> DataFrame:
    """F4 as a pure projection: append the six sentiment feature columns to
    df, keeping every input column — the composable-pipeline form (no join;
    VERDICT r01 'wrong' #3)."""
    sent_words = sentence_words_sql(text_col, "spark")
    score = sentence_sentiment_sql("ws", "spark")
    # private temp name: a caller's own sent_scores column must survive
    scored = df.withColumn(
        "__sent_scores",
        F.expr(f"transform({sent_words}, ws -> ({score}))"),
    )
    return scored.select(
        "*", *_sentiment_feature_cols("__sent_scores")).drop("__sent_scores")


def sentiment_features(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """F4: utterance score (= sum over sentences, reference
    stanford.clj:474-475) + per-sentence max/min/sum/mean/variance
    (population variance; 0 when empty — feature/lang.clj:165-179).

    Sentences are split on [.!?]+ — same regex as the oracle.
    """
    return with_sentiment_features(
        df.select(id_col, text_col), text_col).drop(text_col)


def _tree_id_rows(text: str | None) -> list[tuple[int]]:
    # dialect.hash32_expr in Python: first 8 md5 hex chars → int
    ser = TR.tree_ser(text)
    return [(int(hashlib.md5(ser.encode("utf-8")).hexdigest()[:8], 16),)]


def tree_features(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """F2-shaped: dep_tree_id = deterministic hash of the CANONICAL BRACKET
    SERIALIZATION of the engine's actual tree (trees.tree_ser) — the
    replacement for the reference's summed JVM .hashCode of trees
    (feature/lang.clj:123-137), rehomed per VERDICT r02 #7 so the feature
    id is derived from the same structure a tree consumer traverses. One
    row per doc from a declared Arrow batch stage. Utterance-level (the
    chunk grammar's documented sentence-boundary simplification,
    chunking.py)."""
    return map_text_rows(df, _tree_id_rows, [("dep_tree_id", pa.int64())],
                         id_col, text_col)


# ------------------------------------------------------------ Python twin
# INDEPENDENT pure-Python F1 vector (re + dialect Python twins, no SQL
# rendering) — fuzz-asserted in tests/test_fuzz_parity.py per the
# dedup.minhash_sig_py independence rationale. The nested let-bound
# struct above is exactly the kind of machinery a twin should check:
# this function has none of it.

import re as _re


def pos_tag_features_py(text: str | None) -> dict:
    """Twin of pos_tag_features for one document: the zero-filled POS
    count/ratio vector + first/last tag with the vocab guard."""
    from clj_nlp_parse_spark import dialect as _dl
    words = _re.findall(_dl.TOKEN_RE, (text or "").lower())
    tags = [_dl.pos_py(t) for t in words]
    types = []
    for tag in tags:
        tp = None
        for name, tset in schema.POS_TYPE_ORDER:
            if tag in tset:
                tp = name
                break
        types.append(tp)
    out = {}
    n = len(types)
    for t in schema.POS_TAG_TYPES:
        c = sum(1 for x in types if x == t)
        out[f"pos_tag_count_{t}"] = c
        out[f"pos_tag_ratio_{t}"] = 0.0 if n == 0 else float(c) / float(n)
    for nm, ix in (("pos_first_tag", 0), ("pos_last_tag", -1)):
        tag = tags[ix] if tags else None
        out[nm] = tag if tag in schema.ALL_POS_TAGS else schema.NONE_LABEL
    return out


def sentiment_features_py(text: str | None) -> dict:
    """Twin of sentiment_features (F4): [.!?]+ sentence split, per
    sentence clamp(sum ±1 lexicon hits, -2, 2), then the six aggregate
    columns with the operator's exact double op order (population
    variance as sumsq/n - mean*mean)."""
    from clj_nlp_parse_spark import dialect as _dl
    scores = []
    for seg in _re.split(r"[.!?]+", text or ""):
        ws = _re.findall(_dl.TOKEN_RE, seg.lower())
        if not ws:
            continue
        raw = sum(1 if w in POSITIVE_WORDS
                  else -1 if w in NEGATIVE_WORDS else 0 for w in ws)
        scores.append(max(-2, min(2, raw)))
    n, s = len(scores), sum(scores)
    mean = 0.0 if n == 0 else float(s) / float(n)
    var = 0.0 if n == 0 else (
        float(sum(x * x for x in scores)) / float(n)
        - (float(s) / float(n)) * (float(s) / float(n)))
    return {"sentiment_utterance": s,
            "sentiment_sentence_max": max(scores) if scores else 0,
            "sentiment_sentence_min": min(scores) if scores else 0,
            "sentiment_sentence_sum": s,
            "sentiment_sentence_mean": mean,
            "sentiment_sentence_variance": var}


def doc_stats_py(text: str | None) -> dict:
    """Twin of token_features (F14, no mention source): the doc-level
    stats with the operator's NULL contract (utterance_length and
    is_question stay NULL on NULL text; counts see the coalesced '')."""
    from clj_nlp_parse_spark import dialect as _dl
    words = _re.findall(_dl.TOKEN_RE, (text or "").lower())
    n_sents = sum(
        1 for seg in _re.split(r"[.!?]+", text or "")
        if _re.findall(_dl.TOKEN_RE, seg.lower()))
    tc = len(words)
    return {
        "utterance_length": None if text is None else len(text),
        "token_count": tc,
        "sent_count": n_sents,
        "mention_count": 0,
        "token_average_length": 0.0 if tc == 0 else
        float(sum(len(w) for w in words)) / float(tc),
        "is_question": None if text is None
        else text.rstrip().endswith("?"),
    }
