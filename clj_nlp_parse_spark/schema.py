"""Schemas, POS taxonomy, stopword/go-word vocabularies, feature metas.

Single source of truth shared by the Spark engine AND the DuckDB oracle SQL
(see dialect.py) so both sides compute identical semantics.

POS taxonomy mirrors the reference (`penn-treebank-pos-tags`,
`noun/verb/adjective/adverb/wh-tags`, reference parse.clj:24-123).
Go-word POS set mirrors `*stopword-config*` (reference stopword.clj:27-31).
Feature metas mirror the `X-feature-metas` registry contract
(reference feature/lang.clj:113-119,181-189,197-203; §1.3 of SURVEY.md).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- POS taxonomy
PENN_TAGS = {
    "CC": "Coordinating conjunction", "CD": "Cardinal number",
    "DT": "Determiner", "EX": "Existential there", "FW": "Foreign word",
    "IN": "Preposition or subordinating conjunction", "JJ": "Adjective",
    "JJR": "Adjective, comparative", "JJS": "Adjective, superlative",
    "LS": "List item marker", "MD": "Modal", "NN": "Noun, singular or mass",
    "NNS": "Noun, plural", "NNP": "Proper noun, singular",
    "NNPS": "Proper noun, plural", "PDT": "Predeterminer",
    "POS": "Possessive ending", "PRP": "Personal pronoun",
    "PRP$": "Possessive pronoun", "RB": "Adverb", "RBR": "Adverb, comparative",
    "RBS": "Adverb, superlative", "RP": "Particle", "SYM": "Symbol",
    "TO": "to", "UH": "Interjection", "VB": "Verb, base form",
    "VBD": "Verb, past tense", "VBG": "Verb, gerund or present participle",
    "VBN": "Verb, past participle", "VBP": "Verb, non-3rd person singular present",
    "VBZ": "Verb, 3rd person singular present", "WDT": "Wh-determiner",
    "WP": "Wh-pronoun", "WP$": "Possessive wh-pronoun", "WRB": "Wh-adverb",
}

NOUN_TAGS = ("NN", "NNS", "NNP", "NNPS")
VERB_TAGS = ("VB", "VBD", "VBG", "VBN", "VBP", "VBZ")
ADJECTIVE_TAGS = ("JJ", "JJR", "JJS")
ADVERB_TAGS = ("RB", "RBR", "RBS", "WRB")
WH_TAGS = ("WDT", "WRB", "WP", "WP$")

# reference parse.clj:82-86 — extra tags unioned into the full set
POS_TAG_LIST = (
    "$", "#", "''", ",", "-LRB-", "-RRB-", ".", ":", "CC", "CD", "DT", "IN",
    "JJ", "MD", "NN", "NNP", "NNPS", "NNS", "PDT", "POS", "PRP", "RB", "RP",
    "SYM", "VB", "VBD", "VBG", "VBN", "VBP", "VBZ", "LS",
)

POS_TAG_TYPES = ("adjective", "adverb", "noun", "verb", "wh")

# NOTE: reference pos-tag-type checks types in order noun,verb,adjective,
# adverb,wh and returns the FIRST match (parse.clj:114-123). WRB is in both
# adverb and wh — first match wins, so WRB → adverb.
POS_TYPE_ORDER = (
    ("noun", NOUN_TAGS),
    ("verb", VERB_TAGS),
    ("adjective", ADJECTIVE_TAGS),
    ("adverb", ADVERB_TAGS),
    ("wh", WH_TAGS),
)

ALL_POS_TAGS = tuple(sorted(set(PENN_TAGS) | set(POS_TAG_LIST)))

# pos-description source table: PENN_TAGS above already carries the Penn
# Treebank tag → description mapping (reference penn-treebank-pos-tags /
# pos-description, parse.clj:24-112); aliased for the dialect renderer.
PENN_DESCRIPTIONS = PENN_TAGS


def pos_description(tag: str) -> str | None:
    """O12: pos-description lookup (reference parse.clj:107-112)."""
    return PENN_DESCRIPTIONS.get(tag)

NONE_LABEL = "<none>"  # reference feature/util.clj none-label


def pos_tag_type(tag: str) -> str | None:
    for name, tags in POS_TYPE_ORDER:
        if tag in tags:
            return name
    return None


def pos_tags(type_: str | None = None) -> frozenset[str]:
    """O12 API surface (reference pos-tags, parse.clj:89-134): the tag set
    of one type, or with no argument the full tag universe (Penn table ∪
    the extra punctuation/symbol tags)."""
    if type_ is None:
        return frozenset(PENN_TAGS) | frozenset(POS_TAG_LIST)
    for name, tags in POS_TYPE_ORDER:
        if name == type_:
            return frozenset(tags)
    raise KeyError(f"unknown POS tag type: {type_}")


# -------------------------------------------------------------- go-word config
# reference stopword.clj:27-31 — POS tags whose tokens are "go words".
GO_POS_TAGS = (
    "RB", "JJ", "JJR", "JJS", "MD",
    "NN", "NNS", "NNP", "NNPS",
    "VB", "VBD", "VBG", "VBN", "VBP", "VBZ",
    "PRP", "PDT", "POS", "RP", "FW",
)

# Engine's deterministic English stopword list (the reference delegates to
# CoreNLP's list; the engine pins its own so results are reproducible).
STOPWORDS = (
    "a", "an", "the", "and", "or", "but", "nor", "of", "in", "on", "at",
    "by", "with", "from", "to", "for", "as", "is", "are", "was", "were",
    "be", "been", "being", "am", "i", "you", "he", "she", "it", "we",
    "they", "me", "him", "her", "us", "them", "my", "your", "his", "its",
    "our", "their", "this", "that", "these", "those", "not", "no", "so",
    "do", "does", "did", "have", "has", "had", "will", "would", "can",
    "could", "shall", "should", "may", "might", "must", "there", "here",
    "what", "which", "who", "whom", "when", "where", "why", "how",
)

# --------------------------------------------------------------- input schema
# The engine's input tables, declared so a read needs no schema-inference
# job (one footer-reading job per spark.read.parquet call otherwise). Every
# field is nullable, as Spark reads parquet. Spark's rule for a given
# schema: a file missing a declared column reads it as nulls; a column of
# another type fails the read.
DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])

# ts is TIMESTAMP_NTZ: what Spark 4 infers for the parquet files
EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

EMBEDDINGS_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])

# BASELINE.json input_hint: Iceberg table of image + caption pairs.
IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    # graft columns for as-of/window semantics (FIXTURES.md §1)
    T.StructField("entity_id", T.StringType()),
    T.StructField("event_ts", T.TimestampType()),
])

# Token struct — Spark mapping of the reference's annotation-keys
# (reference stanford.clj:267-270, doc/annotation-definitions.md:59-108).
TOKEN_STRUCT = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("lemma", T.StringType()),
    T.StructField("pos_tag", T.StringType()),
    T.StructField("sent_index", T.IntegerType()),   # 0-based per utterance
    T.StructField("token_index", T.IntegerType()),  # 1-based per sentence
    T.StructField("char_beg", T.IntegerType()),     # [start,end) utterance chars
    T.StructField("char_end", T.IntegerType()),
    T.StructField("tok_beg", T.IntegerType()),      # [start,end) utterance tokens
    T.StructField("tok_end", T.IntegerType()),
    T.StructField("is_stop", T.BooleanType()),
    T.StructField("is_stop_lemma", T.BooleanType()),
])

SENT_STRUCT = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("sent_index", T.IntegerType()),
    T.StructField("sentiment", T.IntegerType()),
    T.StructField("tokens", T.ArrayType(TOKEN_STRUCT)),
])

MENTION_STRUCT = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("entity_type", T.StringType()),
    T.StructField("ner_tag", T.StringType()),
    T.StructField("item_id", T.LongType()),
    T.StructField("features", T.MapType(T.StringType(), T.StringType())),
    T.StructField("sent_index", T.IntegerType()),
    T.StructField("char_beg", T.IntegerType()),
    T.StructField("char_end", T.IntegerType()),
    T.StructField("tok_beg", T.IntegerType()),
    T.StructField("tok_end", T.IntegerType()),
])

# panon — the reference's parsed-annotation tree as nested Spark columns
# (SURVEY.md §1.4). parse-tree recursion stored as JSON string.
PANON_STRUCT = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("sentiment", T.IntegerType()),
    T.StructField("sents", T.ArrayType(SENT_STRUCT)),
    T.StructField("mentions", T.ArrayType(MENTION_STRUCT)),
    T.StructField("tok_re_mentions", T.ArrayType(MENTION_STRUCT)),
])


# --------------------------------------------------------------- feature metas
def pos_tag_feature_metas() -> list[tuple[str, object]]:
    """Mirror of pos-tag-feature-metas (reference feature/lang.clj:113-119)."""
    metas: list[tuple[str, object]] = [
        ("pos_last_tag", (NONE_LABEL,) + ALL_POS_TAGS),
        ("pos_first_tag", (NONE_LABEL,) + ALL_POS_TAGS),
    ]
    metas += [(f"pos_tag_ratio_{t}", "numeric") for t in POS_TAG_TYPES]
    metas += [(f"pos_tag_count_{t}", "numeric") for t in POS_TAG_TYPES]
    return metas


def sentiment_feature_metas() -> list[tuple[str, object]]:
    return [(n, "numeric") for n in (
        "sentiment_utterance", "sentiment_sentence_min",
        "sentiment_sentence_max", "sentiment_sentence_sum",
        "sentiment_sentence_mean", "sentiment_sentence_variance")]


def mentions_feature_metas(entities: list[str]) -> list[tuple[str, object]]:
    out = []
    for e in entities:
        le = e.lower()
        out += [(f"mentions_count_{le}", "numeric"),
                (f"mentions_ratio_{le}", "numeric")]
    return out


def token_feature_metas() -> list[tuple[str, object]]:
    return [(n, "numeric") for n in (
        "utterance_length", "token_count", "sent_count", "mention_count",
        "token_average_length")] + [("is_question", "boolean")]


def label_word_count_feature_metas(labels: list[str]) -> list[tuple[str, object]]:
    """Mirror of label-word-count-feature-metas (reference word_count.clj:94-101)."""
    return [(f"word_count_{lab}", "numeric") for lab in labels]


FEATURE_METAS: dict[str, list[tuple[str, object]]] = {
    "pos_tag_features": pos_tag_feature_metas(),
    "sentiment_features": sentiment_feature_metas(),
    "token_features": token_feature_metas(),
    "tree_features": [("dep_tree_id", "numeric")],
    "verb_features": [("elected_verb_id", "numeric")],
    "srl_features": [("srl_propbank_id", "numeric"),
                     ("srl_argument_counts", "numeric")],
}
