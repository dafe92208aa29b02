"""Dictionary / token-regex NER (A7) + mention queries (O4-O10) + F5.

The reference compiles dictionary items into CoreNLP TokensRegex rule files
(tok_re.clj:44-71,112-191) and tags matching token spans in-process. The
engine compiles the same item model into Catalyst higher-order expressions:
for a k-word phrase, candidate start positions are
`filter(sequence(1, n-k+1), i -> words[i] = w1 AND ... )` — pure JVM,
whole-stage codegen, zero Python. Matches are ALL start positions
(overlaps allowed) — a deterministic, SQL-checkable contract.

Item options mirrored from the reference (tok_re.clj:29-42,112-160):
  first_det_chop  — drop a leading (and, per the reference's massage-tokens
                    which passes first?=true for the LAST token too —
                    tok_re.clj:141-152 — a trailing) 'the'. The chop test
                    runs on the lowercase of the *already lemmatized* word
                    (tok_re.clj:131-139), so a single-token lemma item whose
                    lemma is 'the' is chopped away.       (default True)
  lem_min_len     — if != -1 and len(content) >= it, match the LAST token
                    on lemma instead of word              (default -1)
  case_min_tok    — if != -1 and token_count >= it, the whole item matches
                    case-SENSITIVELY against the original-case token text
                    (tok_re.clj:126-127,137). Lemmas keep reference case
                    restoration (tok_re.clj:97-107): all-caps word → upper
                    lemma, capitalized → capitalized lemma; if the lemma
                    equals the word ignoring case the original word is kept.
                                                          (default -1)
  conj_regexp     — a massaged token that is exactly 'and' or '&' matches
                    BOTH symbols (tok_re.clj:39,120-122; reference default
                    is ON). Under the engine's default tokenizer '&' never
                    tokenizes, so the live direction is item-'&' matching
                    corpus-'and'; the reverse branch is kept for custom
                    tokenizers.                            (default True)
  is_regexp       — content is written verbatim (tok_re.clj:45-46,66,173).
                    Engine contract (deviation, documented): content is a
                    whitespace-separated sequence of per-token regexes
                    (optionally /slash-delimited/), each FULL-matched
                    case-sensitively against the original-case token text.
                    The reference's multi-token TokensRegex surface syntax
                    is out of scope; oracle-checked regexes are restricted
                    to the Java∩RE2∩Python-re common subset.

F5 mentions-features (feature/lang.clj:193-237): count + ratio per entity
type, zero defaults for the full entity vocabulary, ratio = count/token_count
with 0-if-empty guard.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.functions import text as tx


@dataclass
class DictItem:
    item_id: int
    content: str
    label: str
    features: dict[str, str] = field(default_factory=dict)
    lem_min_len: int = -1
    case_min_tok: int = -1
    first_det_chop: bool = True
    conj_regexp: bool = True
    is_regexp: bool = False


@dataclass
class TokPat:
    field: str   # 'word' | 'lemma'
    kind: str    # 'eq' | 'conj' | 'regex'
    value: str   # match text (lower unless item is case-sensitive) or regex


@dataclass
class CompiledItem:
    item_id: int
    label: str
    features: dict[str, str]
    pattern: list[TokPat]
    case_sen: bool = False


_ALL_CAPS = _re.compile(r"^[A-Z]+$")


def cased_lemma_py(word: str) -> str:
    """Reference lemma-with-case-restoration (tok_re.clj:97-107): keep the
    original word when the lemma only differs by case; else restore all-caps
    / leading-cap shape onto the (lowercase) rule lemma."""
    low = word.lower()
    lem = dialect.lemma_py(low)
    if lem == low:
        return word
    if _ALL_CAPS.match(word):
        return lem.upper()
    if word[:1].isupper():
        return lem.capitalize()
    return lem


def compile_items(items: list[DictItem]) -> list[CompiledItem]:
    """Python twin of the reference's item-to-word-regexes + massage-tokens
    (tok_re.clj:112-160); order of operations is the reference's: lemmatize
    (last token only; a single token is both first and last) → det-chop on
    the lowercase of the massaged word (first AND last positions) → case
    fold unless case-sensitive → conj alternation on the massaged text."""
    out = []
    for it in items:
        if it.is_regexp:
            pats = []
            for tok in it.content.split():
                if len(tok) >= 2 and tok.startswith("/") and tok.endswith("/"):
                    tok = tok[1:-1]
                pats.append(TokPat("word", "regex", tok))
            if pats:
                out.append(CompiledItem(it.item_id, it.label,
                                        dict(it.features), pats, True))
            continue
        toks = it.content.split()
        if not toks:
            continue
        lem = it.lem_min_len != -1 and len(it.content) >= it.lem_min_len
        case_sen = it.case_min_tok != -1 and len(toks) >= it.case_min_tok
        pattern = []
        for i, t in enumerate(toks):
            first = i == 0
            last = i == len(toks) - 1
            lem_this = lem and last
            word = cased_lemma_py(t) if lem_this else t
            lower = word.lower()
            # the reference's massage-tokens passes first?=true for both the
            # first and last token (tok_re.clj:141-152), so the det chop
            # applies at either end — after lemmatization.
            if (first or last) and it.first_det_chop and lower == "the":
                continue
            text = word if case_sen else lower
            fld = "lemma" if lem_this else "word"
            if it.conj_regexp and text in ("and", "&"):
                pattern.append(TokPat(fld, "conj", text))
            else:
                pattern.append(TokPat(fld, "eq", text))
        if pattern:
            out.append(CompiledItem(it.item_id, it.label,
                                    dict(it.features), pattern, case_sen))
    return out


def match_token_py(ci: CompiledItem, p: TokPat, w_low: str, lem_low: str,
                   cased: str) -> bool:
    """Python twin of _tok_cond — used by the Arrow full parser
    (functions/parse.py); parity with the Catalyst matcher is fuzz-tested
    (tests/test_fuzz_parity.py)."""
    if p.kind == "regex":
        return _re.fullmatch(p.value, cased) is not None
    if ci.case_sen:
        doc = cased if p.field == "word" else cased_lemma_py(cased)
    else:
        doc = w_low if p.field == "word" else lem_low
    if p.kind == "conj":
        return doc in ("and", "&")
    return doc == p.value


def needs_arrays(compiled: list[CompiledItem]) -> dict[str, bool]:
    """Which token arrays the matcher must bind — keep the let-struct narrow
    so Catalyst column pruning stays effective (BENCH.md pruning lesson)."""
    n = {"words": False, "lemmas": False, "cased": False, "clemmas": False}
    for ci in compiled:
        for p in ci.pattern:
            if p.kind == "regex":
                n["cased"] = True
            elif ci.case_sen:
                n["cased" if p.field == "word" else "clemmas"] = True
            else:
                n["words" if p.field == "word" else "lemmas"] = True
    if n["clemmas"]:
        n["lemmas"] = True  # clemmas derive from (cased, lemmas)
        n["cased"] = True
    return n


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def cased_tokens_expr(text_col: str, dialect_name: str) -> str:
    """Original-case token array from an EXPLICIT ASCII class
    ([a-zA-Z0-9']) — deliberately NOT (?i): Java's (?i) is ASCII-only but
    RE2's folds Unicode (U+212A KELVIN SIGN ∈ (?i)[a-z]), so the two
    engines would tokenize such text differently. The explicit class is
    identical in Java, RE2, and Python re. Boundaries still only match
    dialect.tokens_expr when the scan aligns — use cased_tokens_safe_expr
    for matching."""
    re_sql = "[a-zA-Z0-9'']+"
    if dialect_name == "spark":
        return (f"regexp_extract_all(coalesce({text_col}, ''), "
                f"'({re_sql})', 1)")
    return f"regexp_extract_all(coalesce({text_col}, ''), '{re_sql}')"


def cased_tokens_safe_expr(text_col: str, words: str,
                           dialect_name: str) -> str:
    """Original-case token array VERIFIED element-wise against the
    lowercase `words` array.

    lower() can change string LENGTH (U+0130 'İ' → 'i' + combining dot),
    and non-ASCII letters that lowercase INTO the token class (U+212A
    KELVIN SIGN → 'k') split the cased scan differently from the
    lower()-then-tokenize path — either way the arrays misalign and
    case-sensitive matches would probe wrong positions. Guard: keep the
    cased array only when it aligns EXACTLY (same length AND
    lower(cased[i]) == words[i] for every i); otherwise fall back to the
    lowercase tokens — the document then matches case-INsensitively
    (documented contract for non-ASCII edge text; the Python parser
    applies the same rule). `words` must be a bound COLUMN (not an
    expression) — it is referenced inside a lambda."""
    cased = cased_tokens_expr(text_col, dialect_name)
    if dialect_name == "spark":
        return (f"try_element_at(transform(array({cased}), c -> "
                f"CASE WHEN size(c) = size({words}) AND "
                f"forall(zip_with(c, {words}, (x, y) -> lower(x) = y), "
                f"b -> b) THEN c ELSE {words} END), 1)")
    return (f"list_transform([{cased}], c -> "
            f"CASE WHEN len(c) = len({words}) AND "
            f"len(list_filter(range(1, len(c) + 1), "
            f"i -> lower(c[i]) != {words}[i])) = 0 "
            f"THEN c ELSE {words} END)[1]")


def cased_lemma_case_sql(tok: str, lem: str, dialect_name: str) -> str:
    """SQL twin of cased_lemma_py given a cased token and its (lowercase)
    rule lemma."""
    if dialect_name == "spark":
        all_caps = f"{tok} RLIKE '^[A-Z]+$'"
        first_cap = f"substring({tok}, 1, 1) RLIKE '^[A-Z]$'"
    else:
        all_caps = f"regexp_matches({tok}, '^[A-Z]+$')"
        first_cap = f"regexp_matches(substring({tok}, 1, 1), '^[A-Z]$')"
    return (f"CASE WHEN {lem} = lower({tok}) THEN {tok} "
            f"WHEN {all_caps} THEN upper({lem}) "
            f"WHEN {first_cap} THEN concat(upper(substring({lem}, 1, 1)), "
            f"substring({lem}, 2)) ELSE {lem} END")


def clemmas_expr(cased: str, lemmas: str, dialect_name: str) -> str:
    """Array of case-restored lemmas from (cased words, lowercase lemmas)."""
    if dialect_name == "spark":
        body = cased_lemma_case_sql("t", "l", "spark")
        return f"zip_with({cased}, {lemmas}, (t, l) -> ({body}))"
    body = cased_lemma_case_sql(f"{cased}[i]", f"{lemmas}[i]", "duck")
    return f"list_transform(range(1, len({cased}) + 1), i -> ({body}))"


def _tok_cond(ci: CompiledItem, p: TokPat, arrs: dict[str, str], idx: str,
              dialect_name: str) -> str:
    """Per-position match condition for one TokPat."""
    if p.kind == "regex":
        arr = arrs["cased"]
        if dialect_name == "spark":
            # Spark SQL string literals treat backslash as an escape —
            # double it so the regex reaches the engine verbatim
            pat = ("^(?:" + p.value + ")$").replace("\\", "\\\\") \
                .replace("'", "''")
            return f"try_element_at({arr}, {idx}) RLIKE '{pat}'"
        pat = p.value.replace("'", "''")
        return f"regexp_full_match({arr}[{idx}], '{pat}')"
    if ci.case_sen:
        arr = arrs["cased"] if p.field == "word" else arrs["clemmas"]
    else:
        arr = arrs["words"] if p.field == "word" else arrs["lemmas"]
    at = (f"try_element_at({arr}, {idx})" if dialect_name == "spark"
          else f"{arr}[{idx}]")
    if p.kind == "conj":
        return f"{at} IN ('and', '&')"
    return f"{at} = {_q(p.value)}"


def match_positions_sql(ci: CompiledItem, arrs: dict[str, str],
                        dialect_name: str = "spark") -> str:
    """SQL array of 1-based start positions where the item matches. `arrs`
    maps array kind → bound SQL name, e.g. {'words': 'z.ws', ...}; the
    length probe uses arrs['words'] (all arrays share length)."""
    k = len(ci.pattern)
    base = arrs["words"]
    conds = [_tok_cond(ci, p, arrs, f"i + {off}", dialect_name)
             for off, p in enumerate(ci.pattern)]
    cond = " AND ".join(conds)
    if dialect_name == "spark":
        return (f"CASE WHEN size({base}) >= {k} THEN "
                f"filter(sequence(1, size({base}) - {k} + 1), i -> {cond}) "
                f"ELSE array() END")
    return (f"CASE WHEN len({base}) >= {k} THEN "
            f"list_filter(range(1, len({base}) - {k} + 2), i -> {cond}) "
            f"ELSE [] END")


def _features_map_sql(features: dict[str, str], dialect_name: str) -> str:
    """Literal map<string,string> of item features (tok_re.clj:78-82),
    key-sorted for determinism."""
    ks = sorted(features)
    if dialect_name == "spark":
        if not ks:
            return "map()"
        return "map(" + ", ".join(f"{_q(k)}, {_q(features[k])}"
                                  for k in ks) + ")"
    if not ks:
        return "MAP {}"
    return ("MAP {" + ", ".join(f"{_q(k)}: {_q(features[k])}"
                                for k in ks) + "}")


def mentions_sql(compiled: list[CompiledItem], words: str, lemmas: str,
                 dialect_name: str = "spark",
                 cased: str | None = None, clemmas: str | None = None,
                 with_features: bool = False) -> str:
    """SQL for tok_re_mentions:
    array<struct<label,item_id,tok_beg,tok_end[,features]>> — flattened over
    all items, ALL matching start positions. `features` (a map, reference
    tok_re.clj:78-82 / ner_test.clj:46-50) is emitted when with_features.

    Raises when the compiled items need a cased / cased-lemma array the
    caller did not bind — a silent lowercase fallback would return wrong
    matches for case-sensitive or regex items."""
    need = needs_arrays(compiled)
    if need["cased"] and cased is None:
        raise ValueError("compiled items use case-sensitive or regex "
                         "matching: bind the `cased` array "
                         "(cased_tokens_safe_expr)")
    if need["clemmas"] and clemmas is None:
        raise ValueError("compiled items use case-sensitive lemma "
                         "matching: bind the `clemmas` array (clemmas_expr)")
    arrs = {"words": words, "lemmas": lemmas,
            "cased": cased or words, "clemmas": clemmas or lemmas}
    parts = []
    for ci in compiled:
        k = len(ci.pattern)
        pos = match_positions_sql(ci, arrs, dialect_name)
        fmap = _features_map_sql(ci.features, dialect_name)
        if dialect_name == "spark":
            feat = f", 'features', {fmap}" if with_features else ""
            parts.append(
                f"transform({pos}, i -> named_struct("
                f"'label', {_q(ci.label)}, 'item_id', {ci.item_id}L, "
                f"'tok_beg', i - 1, 'tok_end', i - 1 + {k}{feat}))")
        else:
            feat = f", features := {fmap}" if with_features else ""
            parts.append(
                f"list_transform({pos}, i -> struct_pack("
                f"label := {_q(ci.label)}, item_id := {ci.item_id}::BIGINT, "
                f"tok_beg := i - 1, tok_end := i - 1 + {k}{feat}))")
    if not parts:
        return "array()" if dialect_name == "spark" else "[]"
    if dialect_name == "spark":
        return "concat(" + ", ".join(parts) + ")"
    return "(" + " || ".join(parts) + ")"


def tag_mentions(df: DataFrame, items: list[DictItem],
                 text_col: str = "text",
                 with_features: bool = False) -> DataFrame:
    """Annotate + add `tok_re_mentions` (Catalyst path; tok ranges only —
    char ranges live in the full parser).

    PERF: free variables inside Spark higher-order-function lambdas are
    re-evaluated on every lambda invocation, so referencing the words/lemmas
    EXPRESSIONS inside per-position probes re-runs tokenization per token —
    O(n²) blowup (observed 280 s at sf0.1). The let-binding idiom below
    evaluates them ONCE per row: wrap the needed arrays in a single-element
    struct array and run the matcher inside that lambda scope, where z.ws /
    z.ls / z.cs / z.cl are bound variables (cheap reads). Only the arrays
    the compiled items actually probe are bound (pruning lesson)."""
    compiled = compile_items(items)
    need = needs_arrays(compiled)
    # r6: the matcher reads only words/lemmas (+cased variants) — the full
    # annotate() struct was dead weight Catalyst could not prune out of
    # the per-row lambda scope; consumers that need `toks` annotate
    # themselves
    ann = df.withColumn("words", tx.words_col(text_col))
    lemma_case = dialect.lemma_case_expr("t", "spark")
    cols = {"ws": "words"}
    ann = ann.withColumn(
        "lemmas", F.expr(f"transform(words, t -> ({lemma_case}))"))
    if need["lemmas"]:
        cols["ls"] = "lemmas"
    if need["cased"]:
        ann = ann.withColumn(
            "words_cased",
            F.expr(cased_tokens_safe_expr(text_col, "words", "spark")))
        cols["cs"] = "words_cased"
    if need["clemmas"]:
        ann = ann.withColumn(
            "lemmas_cased",
            F.expr(clemmas_expr("words_cased", "lemmas", "spark")))
        cols["cl"] = "lemmas_cased"
    body = mentions_sql(
        compiled, "z.ws", "z.ls" if "ls" in cols else "z.ws", "spark",
        cased="z.cs" if "cs" in cols else None,
        clemmas="z.cl" if "cl" in cols else None,
        with_features=with_features)
    return ann.withColumn("tok_re_mentions",
                          F.expr(dialect.let_expr(cols, body, "z")))


def mentions_feature_cols(mentions: str, toks: str,
                          entities: list[str]) -> list[Column]:
    """F5: zero-defaulted count + ratio per entity type."""
    cols: list[Column] = []
    tc = F.expr(f"size({toks})")
    for e in entities:
        cnt = F.expr(f"size(filter({mentions}, m -> m.label = {_q(e)}))")
        le = e.lower()
        cols.append(cnt.cast("long").alias(f"mentions_count_{le}"))
        cols.append(
            F.when(tc == 0, F.lit(0.0))
            .otherwise(cnt.cast("double") / tc.cast("double"))
            .alias(f"mentions_ratio_{le}"))
    return cols


def mention_token_join(df: DataFrame, items: list[DictItem],
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """O7/O10 at table granularity: containment range join token↔mention —
    every (doc, mention, token) pair with tok_beg <= pos < tok_end.

    Implemented WITHOUT a shuffle: both sides are arrays in the same row, so
    the 'join' is a nested transform+filter (the engine's containment join
    when granularity allows; the cross-table form would be an equi-join on
    doc_id + array filter — SURVEY.md §2.6)."""
    tagged = tag_mentions(df, items, text_col)
    pairs = tagged.select(
        F.col(id_col),
        F.explode(F.expr(
            "flatten(transform(tok_re_mentions, m -> "
            "transform(filter(transform(words, (w, i) -> named_struct("
            "'w', w, 'p', i)), t -> m.tok_beg <= t.p AND t.p < m.tok_end), "
            "t -> named_struct('label', m.label, 'item_id', m.item_id, "
            "'pos', t.p, 'word', t.w))))")).alias("x"))
    return pairs.select(
        id_col,
        F.col("x.label").alias("label"),
        F.col("x.item_id").alias("item_id"),
        F.col("x.pos").alias("pos"),
        F.col("x.word").alias("word"))
