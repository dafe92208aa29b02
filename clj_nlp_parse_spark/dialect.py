"""Deterministic tokenizer/tagger/lemmatizer rules rendered to BOTH dialects.

The engine's per-token semantics (tokenize → POS tag → lemma → stopword) are
defined ONCE here as data, then rendered to (a) Spark SQL expressions used by
the engine via F.expr, and (b) DuckDB SQL used by the driver's oracle. This
guarantees the oracle checks the same semantics the engine computes.

The tagger is the engine's deterministic, rule-based replacement for the
reference's model-based POS component (reference config.clj:83-93,
stanford.clj:69-80) — SURVEY.md §2.3 A3: the engine mirrors POS-*shaped*
tags; parity is against the engine's own dumped vectors, not CoreNLP.
"""

from __future__ import annotations

from clj_nlp_parse_spark import schema

TOKEN_RE = "[a-z0-9']+"  # applied to lower(text)

# ------------------------------------------------------------------ POS rules
# Ordered; first match wins; fallback NN. Kinds:
#   in:    word in set          regex: word matches
#   raw:   SQL condition with {t} placeholder (dialect-common subset only:
#          LIKE / length / AND / NOT)
POS_RULES: list[tuple[str, object, str]] = [
    ("regex", "^[0-9][0-9.,]*$", "CD"),
    ("in", ("the", "a", "an", "this", "that", "these", "those",
            "every", "each", "some", "any"), "DT"),
    ("in", ("all", "both", "half"), "PDT"),
    ("in", ("i", "you", "he", "she", "it", "we", "they",
            "me", "him", "her", "us", "them"), "PRP"),
    ("in", ("my", "your", "his", "its", "our", "their", "hers", "theirs"), "PRP$"),
    ("in", ("what", "which"), "WDT"),
    ("in", ("who", "whom"), "WP"),
    ("in", ("whose",), "WP$"),
    ("in", ("when", "where", "why", "how"), "WRB"),
    ("in", ("and", "or", "but", "nor"), "CC"),
    ("in", ("to",), "TO"),
    ("in", ("of", "in", "on", "at", "by", "with", "from", "for", "as",
            "into", "over", "under", "about", "between", "through",
            "during", "against", "near"), "IN"),
    ("in", ("can", "could", "will", "would", "shall", "should",
            "may", "might", "must"), "MD"),
    ("in", ("is", "has", "does"), "VBZ"),
    ("in", ("are", "am", "have", "do"), "VBP"),
    ("in", ("was", "were", "did", "had"), "VBD"),
    ("in", ("be",), "VB"),
    ("in", ("been",), "VBN"),
    ("in", ("being",), "VBG"),
    ("in", ("there",), "EX"),
    ("in", ("not", "very", "too", "also", "never", "always", "often",
            "quickly", "slowly", "now", "then", "again"), "RB"),
    ("in", ("oh", "wow", "hey", "ah", "ouch"), "UH"),
    # verbs by suffix
    ("raw", "{t} LIKE '%ing' AND length({t}) > 4", "VBG"),
    ("raw", "{t} LIKE '%ed' AND length({t}) > 3", "VBD"),
    # adverbs / adjectives by suffix
    ("raw", "{t} LIKE '%ly' AND length({t}) > 3", "RB"),
    ("raw", "{t} LIKE '%est' AND length({t}) > 4", "JJS"),
    ("raw", "{t} LIKE '%er' AND length({t}) > 4", "JJR"),
    ("raw", "{t} LIKE '%ous' OR {t} LIKE '%ful' OR {t} LIKE '%ive' "
            "OR {t} LIKE '%able' OR {t} LIKE '%al'", "JJ"),
    ("in", ("fast", "slow", "big", "small", "good", "bad", "new", "old",
            "hot", "cold", "high", "low", "large", "little", "long",
            "short", "few", "many", "much", "more", "most", "other",
            "own", "same", "great"), "JJ"),
    # plural nouns: trailing s but not ss
    ("raw", "{t} LIKE '%s' AND {t} NOT LIKE '%ss' AND {t} NOT LIKE '%''s' "
            "AND length({t}) > 3", "NNS"),
]

# ---------------------------------------------------------------- lemma rules
# Ordered CASE arms: (condition template, regexp_replace pattern, replacement)
LEMMA_RULES: list[tuple[str, str, str]] = [
    ("{t} LIKE '%ies' AND length({t}) > 4", "ies$", "y"),
    ("{t} LIKE '%sses' AND length({t}) > 5", "es$", ""),
    ("{t} LIKE '%ing' AND length({t}) > 5", "ing$", ""),
    ("{t} LIKE '%ed' AND length({t}) > 4", "ed$", ""),
    ("{t} LIKE '%s' AND {t} NOT LIKE '%ss' AND {t} NOT LIKE '%us' "
     "AND length({t}) > 3", "s$", ""),
]

_IRREGULAR_LEMMAS = {
    "is": "be", "are": "be", "was": "be", "were": "be", "been": "be",
    "being": "be", "am": "be", "has": "have", "had": "have",
    "does": "do", "did": "do", "went": "go", "gone": "go",
    "children": "child", "men": "man", "women": "woman", "feet": "foot",
    "mice": "mouse", "better": "good", "best": "good", "worse": "bad",
    "worst": "bad",
}


def _q(w: str) -> str:
    return "'" + w.replace("'", "''") + "'"


def _regex_cond(t: str, pattern: str, dialect: str) -> str:
    if dialect == "spark":
        return f"{t} RLIKE '{pattern}'"
    return f"regexp_matches({t}, '{pattern}')"


def tokens_expr(text_col: str, dialect: str) -> str:
    """Array of lowercase word tokens from a text column; identical output
    in Spark SQL and DuckDB. NULL text ≡ empty text (the reference drops
    nil fields; a production caption column may be NULL) — coalesced HERE
    so every downstream zero-fill contract applies uniformly."""
    re_sql = TOKEN_RE.replace("'", "''")
    if dialect == "spark":
        return (f"regexp_extract_all(lower(coalesce({text_col}, '')), "
                f"'({re_sql})', 1)")
    return (f"regexp_extract_all(lower(coalesce({text_col}, '')), "
            f"'{re_sql}')")


def pos_case_expr(t: str, dialect: str) -> str:
    """CASE expression mapping a lowercase token to its POS tag."""
    arms = []
    for kind, arg, tag in POS_RULES:
        if kind == "regex":
            cond = _regex_cond(t, arg, dialect)
        elif kind == "in":
            cond = f"{t} IN ({', '.join(_q(w) for w in arg)})"
        else:  # raw
            cond = arg.format(t=t)
        arms.append(f"WHEN {cond} THEN '{tag}'")
    return "CASE " + " ".join(arms) + " ELSE 'NN' END"


def lemma_case_expr(t: str, dialect: str) -> str:
    """CASE expression mapping a lowercase token to its lemma."""
    arms = [
        "WHEN {t} IN ({ks}) THEN CASE {t} {m} END".format(
            t=t,
            ks=", ".join(_q(k) for k in _IRREGULAR_LEMMAS),
            m=" ".join(f"WHEN {_q(k)} THEN {_q(v)}"
                       for k, v in _IRREGULAR_LEMMAS.items()),
        )
    ]
    for cond, pat, repl in LEMMA_RULES:
        arms.append(
            f"WHEN {cond.format(t=t)} THEN regexp_replace({t}, '{pat}', '{repl}')"
        )
    return "CASE " + " ".join(arms) + f" ELSE {t} END"


def stopword_cond(t: str) -> str:
    """Boolean SQL condition: token is a stopword (dialect-common)."""
    return f"{t} IN ({', '.join(_q(w) for w in schema.STOPWORDS)})"


def go_word_cond(t: str, pos: str) -> str:
    """go-word? — NOT stopword AND pos in GO_POS_TAGS
    (reference stopword.clj:33-38)."""
    tags = ", ".join(_q(x) for x in schema.GO_POS_TAGS)
    return f"(NOT ({stopword_cond(t)}) AND {pos} IN ({tags}))"


def pos_description_case_expr(tag: str) -> str:
    """CASE mapping POS tag → Penn Treebank description (dialect-common),
    completing the O12 taxonomy surface (reference parse.clj:24-112)."""
    arms = [f"WHEN {tag} = {_q(k)} THEN {_q(v)}"
            for k, v in sorted(schema.PENN_DESCRIPTIONS.items())]
    return "CASE " + " ".join(arms) + " ELSE NULL END"


def pos_type_case_expr(tag: str) -> str:
    """CASE mapping POS tag → coarse type, first-match-wins order mirroring
    reference parse.clj:114-123 (dialect-common)."""
    arms = []
    for name, tags in schema.POS_TYPE_ORDER:
        arms.append(
            f"WHEN {tag} IN ({', '.join(_q(x) for x in tags)}) THEN '{name}'"
        )
    return "CASE " + " ".join(arms) + " ELSE NULL END"


def hash32_expr(s: str, dialect: str) -> str:
    """Deterministic 32-bit-ish hash of a string expression, identical in
    both dialects: first 8 hex chars of md5 → BIGINT. The engine's
    replacement for the reference's JVM .hashCode feature ids
    (reference feature/lang.clj:123-137,142-160 — SURVEY.md §7 'parity
    semantics, not model parity')."""
    if dialect == "spark":
        return f"cast(conv(substring(md5({s}), 1, 8), 16, 10) as bigint)"
    return f"(('0x' || substr(md5({s}), 1, 8))::BIGINT)"


def let_expr(bindings: dict[str, str], body: str, var: str) -> str:
    """Spark let-binding: evaluate each binding once per row and expose
    them to `body` as fields of the struct `var`, so a higher-order
    function's free variables are not re-evaluated per lambda call."""
    binding = ", ".join(f"'{k}', {v}" for k, v in bindings.items())
    return (f"try_element_at(transform(array(named_struct({binding})), "
            f"{var} -> {body}), 1)")


# ------------------------------------------------------------ Python twins
# Exact Python equivalents of the SQL CASE expressions above, used by the
# Arrow pandas-UDF full parser and dictionary compiler. Parity with the
# Catalyst path is asserted by tests/test_dialect_parity.py.
import functools as _functools
import re as _re

_POS_COMPILED = None
_SUFFIX_RE = {
    "ies$": _re.compile(r"ies$"), "es$": _re.compile(r"es$"),
    "ing$": _re.compile(r"ing$"), "ed$": _re.compile(r"ed$"),
    "s$": _re.compile(r"s$"),
}


@_functools.lru_cache(maxsize=65536)
def lemma_py(t: str) -> str:
    """Python twin of lemma_case_expr (ordered CASE semantics). Cached like
    pos_py — once per distinct word per executor process."""
    if t in _IRREGULAR_LEMMAS:
        return _IRREGULAR_LEMMAS[t]
    if t.endswith("ies") and len(t) > 4:
        return _SUFFIX_RE["ies$"].sub("y", t)
    if t.endswith("sses") and len(t) > 5:
        return _SUFFIX_RE["es$"].sub("", t)
    if t.endswith("ing") and len(t) > 5:
        return _SUFFIX_RE["ing$"].sub("", t)
    if t.endswith("ed") and len(t) > 4:
        return _SUFFIX_RE["ed$"].sub("", t)
    if (t.endswith("s") and not t.endswith("ss") and not t.endswith("us")
            and len(t) > 3):
        return _SUFFIX_RE["s$"].sub("", t)
    return t


def _build_pos_py():
    """Compile POS_RULES into (predicate, tag) closures once."""
    preds = []
    for kind, arg, tag in POS_RULES:
        if kind == "regex":
            rx = _re.compile(arg)
            preds.append((lambda t, rx=rx: bool(rx.search(t)), tag))
        elif kind == "in":
            s = frozenset(arg)
            preds.append((lambda t, s=s: t in s, tag))
        else:  # raw — the LIKE/length conditions used by POS_RULES
            preds.append((_raw_cond_py(arg), tag))
    return preds


def _raw_cond_py(cond: str):
    """Interpret the dialect-common raw conditions (LIKE/NOT LIKE/length/
    AND/OR only) used in POS_RULES. Kept tiny and data-driven so the SQL
    and Python stay in lockstep."""
    ors = []
    for part_or in cond.split(" OR "):
        ands = []
        for part in part_or.split(" AND "):
            part = part.strip()
            m = _re.match(r"\{t\} (NOT )?LIKE '%(.+?)'$", part)
            if m:
                suf = m.group(2).replace("''", "'")
                neg = bool(m.group(1))
                ands.append((lambda t, s=suf: t.endswith(s)) if not neg
                            else (lambda t, s=suf: not t.endswith(s)))
                continue
            m = _re.match(r"length\(\{t\}\) > (\d+)$", part)
            if m:
                n = int(m.group(1))
                ands.append(lambda t, n=n: len(t) > n)
                continue
            raise ValueError(f"unparsable raw POS condition: {part}")
        ors.append(ands)
    return lambda t: any(all(p(t) for p in ands) for ands in ors)


@_functools.lru_cache(maxsize=65536)
def pos_py(t: str) -> str:
    """Python twin of pos_case_expr. LRU-cached: word distributions are
    Zipf, so the rule cascade (80% of parse_document time profiled) runs
    once per distinct word per executor process, not once per occurrence."""
    global _POS_COMPILED
    if _POS_COMPILED is None:
        _POS_COMPILED = _build_pos_py()
    for pred, tag in _POS_COMPILED:
        if pred(t):
            return tag
    return "NN"


TOKEN_RE_PY = _re.compile(TOKEN_RE)
_SENT_SPLIT_PY = _re.compile("[.!?]+")


def sentence_words_py(text: str | None) -> list[list[str]]:
    """Python twin of features.sentence_words_sql: the word lists of the
    [.!?]+-delimited segments that hold at least one token."""
    sents = (TOKEN_RE_PY.findall(seg.lower())
             for seg in _SENT_SPLIT_PY.split(text or ""))
    return [ws for ws in sents if ws]


def tagged_words_py(text: str | None) -> tuple[list[str], list[str]]:
    """The words of a text (TOKEN_RE over lower(text)) and their POS tags
    (pos_py)."""
    ws = TOKEN_RE_PY.findall((text or "").lower())
    return ws, [pos_py(w) for w in ws]
