"""Tree-STRUCTURED surface for A8/A9 — a traversable parse tree, not just
its consumers.

Reference surface: the constituency tree (stanford.clj:381-393 map-ify,
golden sr_parse_test.clj:26-49: ROOT → S → NP/VP → preterminal → leaf with
1-based :token-index) and the dependency tree (stanford.clj:395-405). The
parser MODELS are out of scope (SURVEY.md §2.3); the deterministic grammar
already powering np_vp_chunks (chunking.py: rule-tagger POS tags → maximal
NP/VP runs with head election) here produces the actual TREE:

  ROOT → S → chunk nodes (NP/VP) → preterminal (tag) → leaf (word),
  with one nesting rule mirroring the reference golden's VP(VBP, NP) shape:
  an NP chunk immediately following a VP chunk attaches INSIDE that VP
  (object attachment) — giving "i am paul"-class utterances the exact
  ROOT(S(NP(PRP i), VP(VBP am, NP(NNP paul)))) structure of
  sr_parse_test.clj.

Representation per SURVEY.md §1.4: Spark StructType cannot express
unbounded recursion, so the tree is FLATTENED EDGE rows
(parent, child, label, token_index) (label = child's node label,
token_index 1-based for preterminals/leaves like the reference, NULL for
internal nodes) plus a CANONICAL bracket serialization string —
'(ROOT (S (NP (PRP i)) (VP (VBP am) (NP (NNP paul)))))' — which is what
F2 tree-features hashes (the engine's replacement for the reference's
summed JVM .hashCode of trees, feature/lang.clj:123-137).

Node ids are position-derived, so the numbering needs no DFS pass:
ROOT=0, S=1, chunk starting at 0-based token b → 2+3b, preterminal of
1-based token i → 3i, leaf → 3i+1 (disjoint by residue mod 3 + offsets).

Two forms, each written once:
  - the engine: per-doc Python kernels (`parse_tree_edge_rows`,
    `dep_edge_rows`, and `tree_ser` behind features.tree_features) run
    as declared Arrow batch stages through functions.text.map_text_rows.
    Each reads its chunks from chunking.chunk_runs and is linear in the
    doc's token count.
  - the oracle: DuckDB list-lambda SQL (`duck_tree_cte` and the *_sql
    builders), an independent relational statement of the same grammar.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from clj_nlp_parse_spark import dialect, schema
from clj_nlp_parse_spark.dialect import _q
from clj_nlp_parse_spark.functions.text import map_text_rows
from clj_nlp_parse_spark.operators import chunking as CH
from clj_nlp_parse_spark.operators.chunking import (
    NP_HEAD_TAGS, NP_TAGS, VP_HEAD_TAGS, VP_TAGS)


# ------------------------------------------------------------ DuckDB oracle

def _in(var: str, tags: tuple[str, ...]) -> str:
    return f"{var} IN ({', '.join(_q(t) for t in tags)})"


def class_sql(tg: str) -> str:
    """Per-token chunk class ('NP' / 'VP' / NULL) from the tag array."""
    case = (f"CASE WHEN {_in('t', NP_TAGS)} THEN 'NP' "
            f"WHEN {_in('t', VP_TAGS)} THEN 'VP' ELSE NULL END")
    return f"list_transform({tg}, t -> {case})"


def _head_cond(tag_expr: str) -> str:
    """Head-election predicate for a run struct `r` and a candidate tag."""
    return (f"((r.label = 'NP' AND {_in(tag_expr, NP_HEAD_TAGS)}) OR "
            f"(r.label = 'VP' AND {_in(tag_expr, VP_HEAD_TAGS)}))")


def kept_runs_sql(cl: str, tg: str) -> str:
    """Maximal same-class runs over a BOUND class array `cl`, kept only if
    the run contains a head tag for its class (head election, as in
    chunking.py). list<struct<label, beg, fin>> — beg 0-based, fin
    exclusive ('fin' not 'end': keyword-safe). Break positions are
    computed once and each run ends at its successor break."""
    at = lambda a, i: f"{a}[{i}]"
    neq = lambda a, b: f"({a} IS DISTINCT FROM {b})"
    breaks = (f"list_filter(range(1, len({cl}) + 1), i -> "
              f"i = 1 OR {neq(at(cl, 'i - 1'), at(cl, 'i'))})")
    runs = (f"list_transform("
            f"list_filter(range(1, len(bs1) + 1), kx -> "
            f"{cl}[bs1[kx]] IS NOT NULL), "
            f"kx -> struct_pack("
            f"label := {cl}[bs1[kx]], beg := bs1[kx] - 1, "
            f"fin := coalesce(bs1[kx + 1], len({cl}) + 1) - 1))")
    kept = f"list_transform([{breaks}], bs1 -> {runs})[1]"
    return (f"list_filter({kept}, r -> len(list_filter("
            f"range(r.beg + 1, r.fin + 1), "
            f"j -> {_head_cond(at(tg, 'j'))})) > 0)")


def chunks_sql(kept: str) -> str:
    """Final chunk list from BOUND kept runs: adds `pvp` (0-based beg of
    the VP this NP attaches into, NULL if none) and `dvp` (this VP has an
    attached NP following, so its bracket close is deferred)."""
    pvp = (f"CASE WHEN c.label = 'NP' THEN list_filter({kept}, "
           f"v -> v.label = 'VP' AND v.fin = c.beg)[1].beg END")
    dvp = (f"c.label = 'VP' AND len(list_filter({kept}, "
           f"k -> k.label = 'NP' AND k.beg = c.fin)) > 0")
    return (f"list_transform({kept}, c -> struct_pack("
            f"label := c.label, beg := c.beg, fin := c.fin, "
            f"pvp := {pvp}, dvp := {dvp}))")


def edges_sql(ws: str, tg: str, ch: str) -> str:
    """Flattened edge list from BOUND ws/tg/ch:
    list<struct<parent,child,label,token_index>>."""
    chunk_of = (f"list_filter({ch}, "
                f"c -> c.beg <= i - 1 AND i - 1 < c.fin)[1]")
    fixed = ("[struct_pack(parent := -1, child := 0, label := 'ROOT', "
             "token_index := CAST(NULL AS BIGINT)), "
             "struct_pack(parent := 0, child := 1, label := 'S', "
             "token_index := CAST(NULL AS BIGINT))]")
    chunk_e = (f"list_transform({ch}, c -> struct_pack("
               f"parent := CASE WHEN c.pvp IS NOT NULL "
               f"THEN 2 + 3 * c.pvp ELSE 1 END, "
               f"child := 2 + 3 * c.beg, label := c.label, "
               f"token_index := CAST(NULL AS BIGINT)))")
    pre_e = (f"list_transform(range(1, len({ws}) + 1), i -> struct_pack("
             f"parent := coalesce(2 + 3 * ({chunk_of}).beg, 1), "
             f"child := 3 * i, label := {tg}[i], "
             f"token_index := i))")
    leaf_e = (f"list_transform(range(1, len({ws}) + 1), i -> struct_pack("
              f"parent := 3 * i, child := 3 * i + 1, label := {ws}[i], "
              f"token_index := i))")
    return f"({fixed} || {chunk_e} || {pre_e} || {leaf_e})"


def serialize_sql(ws: str, tg: str, ch: str) -> str:
    """Canonical bracket serialization from BOUND ws/tg/ch. An NP attached
    inside a VP closes BOTH brackets; the VP's own close is deferred."""
    opener = (f"coalesce('(' || (list_filter({ch}, "
              f"c -> c.beg = i - 1)[1]).label || ' ', '')")
    closer_c = f"list_filter({ch}, c -> c.fin = i)[1]"
    closer = (f"CASE WHEN ({closer_c}) IS NULL THEN '' "
              f"WHEN ({closer_c}).dvp THEN '' "
              f"WHEN ({closer_c}).pvp IS NOT NULL THEN '))' "
              f"ELSE ')' END")
    tok = (f"{opener} || '(' || {tg}[i] || ' ' || {ws}[i] || ')' "
           f"|| {closer}")
    return (f"CASE WHEN len({ws}) = 0 THEN '(ROOT (S))' ELSE "
            f"'(ROOT (S ' || array_to_string("
            f"list_transform(range(1, len({ws}) + 1), i -> {tok}), ' ') "
            f"|| '))' END")


def dep_edges_sql(ws: str, tg: str, ch: str) -> str:
    """A9 dependency edge list from BOUND ws/tg/ch and a BOUND root index
    `rt` (bind it via root_index_sql in a CTE):
    list<struct<head,dependent,label>> over 1-BASED token indices, head 0
    for the root. Deterministic dependency grammar, consistent with the
    engine's existing surfaces: the root is the FIRST verb-typed token,
    else token 1 (exactly verb_features' root election, srl.py /
    reference root-dependency parse.clj:167-171); chunk members depend on
    their chunk's HEAD token ('mod' — the head is the LAST head-tagged
    token in the run, chunking.py's head election); chunk heads and loose
    tokens depend on the root ('dep'). Acyclic by construction:
    member → chunk head → root → 0."""
    cof = f"list_filter({ch}, c -> c.beg <= i - 1 AND i - 1 < c.fin)[1]"
    hd = (f"list_filter(range(({cof}).beg + 1, ({cof}).fin + 1), j -> "
          f"((({cof}).label = 'NP' AND {_in(f'{tg}[j]', NP_HEAD_TAGS)}) OR "
          f"(({cof}).label = 'VP' AND {_in(f'{tg}[j]', VP_HEAD_TAGS)})"
          f"))[-1]")
    dep = (f"struct_pack("
           f"head := CASE WHEN ({cof}) IS NOT NULL AND ({hd}) IS NOT NULL "
           f"AND ({hd}) != i THEN ({hd}) ELSE rt END, "
           f"dependent := i, "
           f"label := CASE WHEN ({cof}) IS NOT NULL AND ({hd}) IS NOT NULL "
           f"AND ({hd}) != i THEN 'mod' ELSE 'dep' END)")
    return (f"CASE WHEN len({ws}) = 0 THEN [] ELSE "
            f"([struct_pack(head := 0, dependent := rt, label := 'root')] "
            f"|| list_transform(list_filter(range(1, len({ws}) + 1), "
            f"i -> i != rt), i -> {dep})) END")


def root_index_sql(tg: str) -> str:
    """1-based root token index: first verb-typed token, else 1."""
    return (f"coalesce(list_filter(range(1, len({tg}) + 1), "
            f"j -> {_in(f'{tg}[j]', schema.VERB_TAGS)})[1], 1)")


def duck_tree_cte(from_tbl: str = "tk") -> str:
    """DuckDB CTE chain binding ws/tg/cl/kept/ch as real columns (DuckDB
    needs no let-binding — CTE columns are materialized once). `from_tbl`
    must provide (doc_id, words, toks); tags come from toks.pos_tag."""
    return f"""tr1 AS (SELECT doc_id, words,
        list_transform(toks, x -> x.pos_tag) AS tg FROM {from_tbl}),
    tr2 AS (SELECT *, {class_sql('tg')} AS cl FROM tr1),
    tr3 AS (SELECT *, {kept_runs_sql('cl', 'tg')} AS kept FROM tr2),
    tr4 AS (SELECT doc_id, words, tg,
        {chunks_sql('kept')} AS ch FROM tr3)"""


# ------------------------------------------------------------ kernels

def _attached(runs: list[tuple]) -> list[tuple]:
    """Kept runs (chunking.chunk_runs) as (label, beg, fin, pvp, dvp):
    pvp is the 0-based beg of the VP this NP attaches into (None if
    none); dvp says this VP has an attached NP following, so its bracket
    close is deferred.

    Both are read from the run's immediate predecessor and successor,
    O(#runs) in all. Valid because kept runs are SORTED by beg and
    DISJOINT: a VP with fin == c.beg can only be c's immediate kept
    predecessor (any kept run between them would have to start inside the
    empty interval [vp.fin, c.beg)); mirrored for dvp's NP successor."""
    out = []
    last = len(runs) - 1
    for k, (label, beg, fin, _) in enumerate(runs):
        pvp = None
        if label == "NP" and k > 0:
            p_label, p_beg, p_fin, _ = runs[k - 1]
            if p_label == "VP" and p_fin == beg:
                pvp = p_beg
        dvp = (label == "VP" and k < last and runs[k + 1][0] == "NP"
               and runs[k + 1][1] == fin)
        out.append((label, beg, fin, pvp, dvp))
    return out


def tree_ser(text: str | None) -> str:
    """Canonical bracket serialization of one doc's tree (serialize_sql's
    contract): '(ROOT (S))' when the doc has no tokens."""
    ws, tags = dialect.tagged_words_py(text)
    if not ws:
        return "(ROOT (S))"
    parts = [f"({t} {w})" for t, w in zip(tags, ws)]
    for label, beg, fin, pvp, dvp in _attached(CH.chunk_runs(tags)):
        parts[beg] = f"({label} {parts[beg]}"
        parts[fin - 1] += "" if dvp else ")" if pvp is None else "))"
    return "(ROOT (S " + " ".join(parts) + "))"


_VERB_TAGS = frozenset(schema.VERB_TAGS)


def dep_edges(tags: list[str]) -> list[tuple[int, int, str]]:
    """Dependency edges (head, dependent, label) of one doc's tag list —
    dep_edges_sql's grammar over 1-based indices, head 0 for the root.
    Each token's chunk head is filled in once per chunk span, so the
    whole doc is O(n)."""
    if not tags:
        return []
    head_of = [0] * len(tags)  # 1-based head of the token's chunk, 0: none
    for _, beg, fin, head in CH.chunk_runs(tags):
        head_of[beg:fin] = [head + 1] * (fin - beg)
    rt = next((i + 1 for i, t in enumerate(tags) if t in _VERB_TAGS), 1)
    out = [(0, rt, "root")]
    for i, hd in enumerate(head_of, 1):
        if i == rt:
            continue
        if hd and hd != i:
            out.append((hd, i, "mod"))
        else:
            out.append((rt, i, "dep"))
    return out


def _dep_rows(text: str | None) -> list[tuple[int, int, str]]:
    return dep_edges(dialect.tagged_words_py(text)[1])


def dep_edge_rows(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exploded dependency edge rows (id_col, head, dependent, label) as
    a declared Arrow batch stage (`dep_edges` per doc)."""
    return map_text_rows(
        df, _dep_rows,
        [("head", pa.int64()), ("dependent", pa.int64()),
         ("label", pa.string())],
        id_col, text_col)


def _parse_tree_rows(text: str | None) -> list[tuple]:
    ws, tags = dialect.tagged_words_py(text)
    parent = [1] * len(ws)  # preterminal's parent: its chunk node, or S
    out = [(-1, 0, "ROOT", None), (0, 1, "S", None)]
    for label, beg, fin, pvp, _ in _attached(CH.chunk_runs(tags)):
        out.append((1 if pvp is None else 2 + 3 * pvp, 2 + 3 * beg,
                    label, None))
        parent[beg:fin] = [2 + 3 * beg] * (fin - beg)
    out += [(p, 3 * i, t, i) for i, (p, t) in enumerate(zip(parent, tags), 1)]
    out += [(3 * i, 3 * i + 1, w, i) for i, w in enumerate(ws, 1)]
    return out


def parse_tree_edge_rows(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Exploded constituency edge rows (id_col, parent, child, label,
    token_index) as a declared Arrow batch stage — the exact edges_sql
    numbering: ROOT(-1→0), S(0→1), chunk nodes at 2+3*beg (parent S, or
    the preceding VP for object-attached NPs), preterminals at 3i
    (parent = containing chunk or S), leaves at 3i+1."""
    return map_text_rows(
        df, _parse_tree_rows,
        [("parent", pa.int64()), ("child", pa.int64()),
         ("label", pa.string()), ("token_index", pa.int64())],
        id_col, text_col)
