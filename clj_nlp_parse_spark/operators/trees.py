"""Tree-STRUCTURED column for A8/A9 — a traversable parse tree, not just
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
unbounded recursion, so the tree is a FLATTENED EDGE ARRAY
array<struct<parent,child,label,token_index>> (label = child's node label,
token_index 1-based for preterminals/leaves like the reference, NULL for
internal nodes) plus a CANONICAL bracket serialization string —
'(ROOT (S (NP (PRP i)) (VP (VBP am) (NP (NNP paul)))))' — which is what
F2 tree-features hashes (the engine's replacement for the reference's
summed JVM .hashCode of trees, feature/lang.clj:123-137).

Node ids are position-derived, so the numbering needs no DFS pass:
ROOT=0, S=1, chunk starting at 0-based token b → 2+3b, preterminal of
1-based token i → 3i, leaf → 3i+1 (disjoint by residue mod 3 + offsets).

Everything is a per-row array computation: chunks via same-class run
folding (the NER run-merging mechanic over tag CLASSES), nested
let-bindings so no HOF free variable is ever re-evaluated per lambda call,
zero joins, zero shuffles — identical SQL rendered for Spark and DuckDB.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.dialect import _q
from clj_nlp_parse_spark.functions.text import map_text_rows
from clj_nlp_parse_spark.operators.chunking import (
    NP_HEAD_TAGS, NP_TAGS, VP_HEAD_TAGS, VP_TAGS)


def _in(var: str, tags: tuple[str, ...]) -> str:
    return f"{var} IN ({', '.join(_q(t) for t in tags)})"


def class_sql(tg: str, d: str = "spark") -> str:
    """Per-token chunk class ('NP' / 'VP' / NULL) from the tag array."""
    case = (f"CASE WHEN {_in('t', NP_TAGS)} THEN 'NP' "
            f"WHEN {_in('t', VP_TAGS)} THEN 'VP' ELSE NULL END")
    fn = "transform" if d == "spark" else "list_transform"
    return f"{fn}({tg}, t -> {case})"


def _head_cond(tag_expr: str) -> str:
    """Head-election predicate for a run struct `r` and a candidate tag."""
    return (f"((r.label = 'NP' AND {_in(tag_expr, NP_HEAD_TAGS)}) OR "
            f"(r.label = 'VP' AND {_in(tag_expr, VP_HEAD_TAGS)}))")


def kept_runs_sql(cl: str, tg: str, d: str = "spark") -> str:
    """Maximal same-class runs over a BOUND class array `cl`, kept only if
    the run contains a head tag for its class (head election, as in
    chunking.py). array<struct<label, beg, fin>> — beg 0-based, fin
    exclusive ('fin' not 'end': keyword-safe in both dialects). Both `cl`
    and `tg` must be bound names."""
    # LINEAR form (review r04, the ner.py rewrite): break positions are
    # computed once and each run ends at its successor break — no
    # per-start tail scan, so alternating-class docs stay O(n + runs).
    if d == "spark":
        at = lambda a, i: f"try_element_at({a}, {i})"
        neq = lambda a, b: f"NOT ({a} <=> {b})"
        breaks = (f"filter(sequence(1, size({cl})), i -> "
                  f"i = 1 OR {neq(at(cl, 'i - 1'), at(cl, 'i'))})")
        # kx, not x: short lambda names can SHADOW an outer let variable
        # (tree_expr binds x) and silently rebind {cl}'s qualifier
        ends = (f"transform(CASE WHEN size(t0.bs) = 0 THEN array() "
                f"ELSE sequence(1, size(t0.bs)) END, kx -> "
                f"coalesce(try_element_at(t0.bs, kx + 1), "
                f"size({cl}) + 1))")
        st = "try_element_at(t1.bs, kx)"
        runs = (f"transform(filter(CASE WHEN size(t1.bs) = 0 THEN array() "
                f"ELSE sequence(1, size(t1.bs)) END, kx -> "
                f"{at(cl, st)} IS NOT NULL), "
                f"kx -> named_struct("
                f"'label', {at(cl, st)}, 'beg', {st} - 1, "
                f"'fin', try_element_at(t1.en, kx) - 1))")
        inner = (f"try_element_at(transform(array(named_struct("
                 f"'bs', t0.bs, 'en', {ends})), t1 -> {runs}), 1)")
        kept = (f"CASE WHEN size({cl}) = 0 THEN "
                f"cast(array() as array<struct<label:string, beg:int, "
                f"fin:int>>) ELSE "
                f"try_element_at(transform(array(named_struct("
                f"'bs', {breaks})), t0 -> {inner}), 1) END")
        return (f"filter({kept}, r -> exists("
                f"sequence(r.beg + 1, r.fin), "
                f"j -> {_head_cond(at(tg, 'j'))}))")
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


def chunks_sql(kept: str, d: str = "spark") -> str:
    """Final chunk array from BOUND kept runs: adds `pvp` (0-based beg of
    the VP this NP attaches into, NULL if none) and `dvp` (this VP has an
    attached NP following, so its bracket close is deferred)."""
    if d == "spark":
        # r5: pvp/dvp via PREDECESSOR/SUCCESSOR lookup — O(#chunks) —
        # instead of a filter/exists over the whole kept array per chunk
        # (O(#chunks^2) on a doc that is mostly chunks). Valid because
        # kept runs are SORTED by beg and DISJOINT: a VP with
        # fin == c.beg can only be c's immediate kept predecessor (any
        # kept run between them would have to start inside the empty
        # interval [vp.fin, c.beg)); mirrored for dvp's NP successor.
        # try_element_at(a, cx+1) past the end is NULL; index 0 throws,
        # hence the cx = 1 guard.
        pv = (f"CASE WHEN cx = 1 THEN NULL "
              f"ELSE try_element_at({kept}, cx - 1) END")
        sv = f"try_element_at({kept}, cx + 1)"
        pvp = (f"CASE WHEN cb.c.label = 'NP' AND cb.pv.label = 'VP' "
               f"AND cb.pv.fin = cb.c.beg THEN cb.pv.beg END")
        dvp = (f"cb.c.label = 'VP' AND coalesce("
               f"cb.sv.label = 'NP' AND cb.sv.beg = cb.c.fin, false)")
        body = (f"named_struct('label', cb.c.label, 'beg', cb.c.beg, "
                f"'fin', cb.c.fin, 'pvp', {pvp}, 'dvp', {dvp})")
        return (f"transform(CASE WHEN size({kept}) = 0 THEN "
                f"cast(array() as array<int>) ELSE "
                f"sequence(1, size({kept})) END, cx -> "
                f"try_element_at(transform(array(named_struct("
                f"'c', try_element_at({kept}, cx), 'pv', {pv}, "
                f"'sv', {sv})), cb -> {body}), 1))")
    pvp = (f"CASE WHEN c.label = 'NP' THEN list_filter({kept}, "
           f"v -> v.label = 'VP' AND v.fin = c.beg)[1].beg END")
    dvp = (f"c.label = 'VP' AND len(list_filter({kept}, "
           f"k -> k.label = 'NP' AND k.beg = c.fin)) > 0")
    return (f"list_transform({kept}, c -> struct_pack("
            f"label := c.label, beg := c.beg, fin := c.fin, "
            f"pvp := {pvp}, dvp := {dvp}))")


def _chunk_pos_index_sql(ch: str, n: str, mode: str) -> str:
    """Token-aligned chunk-index arrays (Spark side): for 1-based token
    i, 'member'[i] = index of the chunk CONTAINING position i-1,
    'start'[i] = index of the chunk with beg == i-1, 'end'[i] = index of
    the chunk with fin == i; NULL elsewhere. Built ONCE as a flatten of
    per-chunk (gap, span) repeat segments — O(n + #chunks) — replacing
    the per-token filter of the chunk array (O(n * #chunks), ~n^2/2 on a
    doc where every other token opens a chunk; VERDICT_r04 #1,
    tools/probe_dep_chunks.py). Valid because chunks come from maximal-
    run decomposition (kept_runs_sql): SORTED by beg and DISJOINT, so
    the token axis is [gap][chunk 1][gap][chunk 2]...[gap].
    array_repeat(x, n<=0) is [] so malformed spans degrade, not crash;
    an empty chunk array yields [] and try_element_at([], i) is NULL —
    the same no-chunk fallback the filters produced. `n` is the token-
    count EXPRESSION (e.g. f"size({ws})"); the caller let-binds the
    result (the engine-wide idiom) so it is built once per row."""
    c_at = lambda j: f"try_element_at({ch}, {j})"
    gap = (f"{c_at('cj')}.beg - CASE WHEN cj = 1 THEN 0 "
           f"ELSE {c_at('cj - 1')}.fin END")
    span = f"{c_at('cj')}.fin - {c_at('cj')}.beg"
    nul = "cast(null as int)"
    seg = {
        "member": (f"concat(array_repeat({nul}, {gap}), "
                   f"array_repeat(cj, {span}))"),
        "start": (f"concat(array_repeat({nul}, {gap}), array(cj), "
                  f"array_repeat({nul}, ({span}) - 1))"),
        "end": (f"concat(array_repeat({nul}, {gap}), "
                f"array_repeat({nul}, ({span}) - 1), array(cj))"),
    }[mode]
    return (f"CASE WHEN size({ch}) = 0 THEN cast(array() as array<int>) "
            f"ELSE concat(flatten(transform(sequence(1, size({ch})), "
            f"cj -> {seg})), "
            f"array_repeat({nul}, {n} - {c_at('-1')}.fin)) END")


def edges_sql(ws: str, tg: str, ch: str, d: str = "spark") -> str:
    """Flattened edge array from BOUND ws/tg/ch:
    array<struct<parent,child,label,token_index>>."""
    if d == "spark":
        # r5: per-token containing-chunk lookup via the precomputed
        # token→chunk-index array (O(1) per token) instead of filtering
        # the chunk array per token — see _chunk_pos_index_sql
        tci = _chunk_pos_index_sql(ch, f"size({ws})", "member")
        chunk_of = f"try_element_at({ch}, try_element_at(h2.tci, i))"
        fixed = ("array("
                 "named_struct('parent', -1, 'child', 0, 'label', 'ROOT', "
                 "'token_index', cast(null as int)), "
                 "named_struct('parent', 0, 'child', 1, 'label', 'S', "
                 "'token_index', cast(null as int)))")
        chunk_e = (f"transform({ch}, c -> named_struct("
                   f"'parent', CASE WHEN c.pvp IS NOT NULL "
                   f"THEN 2 + 3 * c.pvp ELSE 1 END, "
                   f"'child', 2 + 3 * c.beg, 'label', c.label, "
                   f"'token_index', cast(null as int)))")
        pre_e = (f"CASE WHEN size({ws}) = 0 THEN array() ELSE "
                 f"try_element_at(transform(array(named_struct("
                 f"'tci', {tci})), h2 -> "
                 f"transform(sequence(1, size({ws})), i -> named_struct("
                 f"'parent', coalesce(2 + 3 * {chunk_of}.beg, 1), "
                 f"'child', 3 * i, "
                 f"'label', try_element_at({tg}, i), "
                 f"'token_index', cast(i as int)))), 1) END")
        leaf_e = (f"CASE WHEN size({ws}) = 0 THEN array() ELSE "
                  f"transform(sequence(1, size({ws})), i -> named_struct("
                  f"'parent', 3 * i, 'child', 3 * i + 1, "
                  f"'label', try_element_at({ws}, i), "
                  f"'token_index', cast(i as int))) END")
        return f"concat({fixed}, {chunk_e}, {pre_e}, {leaf_e})"
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


def serialize_sql(ws: str, tg: str, ch: str, d: str = "spark") -> str:
    """Canonical bracket serialization from BOUND ws/tg/ch. An NP attached
    inside a VP closes BOTH brackets; the VP's own close is deferred."""
    if d == "spark":
        # r5: chunk-open/close lookups via precomputed start/end-aligned
        # index arrays (O(1) per token, O(n + #chunks) to build) instead
        # of filtering the chunk array twice per token — see
        # _chunk_pos_index_sql
        sci = _chunk_pos_index_sql(ch, f"size({ws})", "start")
        eci = _chunk_pos_index_sql(ch, f"size({ws})", "end")
        opener = (f"coalesce(concat('(', try_element_at({ch}, "
                  f"try_element_at(h3.sci, i)).label, ' '), '')")
        closer_c = f"try_element_at({ch}, try_element_at(h3.eci, i))"
        closer = (f"CASE WHEN ({closer_c}) IS NULL THEN '' "
                  f"WHEN ({closer_c}).dvp THEN '' "
                  f"WHEN ({closer_c}).pvp IS NOT NULL THEN '))' "
                  f"ELSE ')' END")
        tok = (f"concat({opener}, '(', try_element_at({tg}, i), ' ', "
               f"try_element_at({ws}, i), ')', {closer})")
        joined = (f"try_element_at(transform(array(named_struct("
                  f"'sci', {sci}, 'eci', {eci})), h3 -> array_join("
                  f"transform(sequence(1, size({ws})), i -> {tok}), "
                  f"' ')), 1)")
        return (f"CASE WHEN size({ws}) = 0 THEN '(ROOT (S))' ELSE "
                f"concat('(ROOT (S ', {joined}, '))') END")
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


def dep_edges_sql(ws: str, tg: str, ch: str, d: str = "spark") -> str:
    """A9 dependency edge array from BOUND ws/tg/ch:
    array<struct<head,dependent,label>> over 1-BASED token indices, head 0
    for the root. Deterministic dependency grammar, consistent with the
    engine's existing surfaces: the root is the FIRST verb-typed token,
    else token 1 (exactly verb_features' root election, srl.py:83 /
    reference root-dependency parse.clj:167-171); chunk members depend on
    their chunk's HEAD token ('mod' — the head is the LAST head-tagged
    token in the run, chunking.py's head election); chunk heads and loose
    tokens depend on the root ('dep'). Acyclic by construction:
    member → chunk head → root → 0.

    The DuckDB rendering expects a BOUND column `rt` (root index) — bind it
    via root_index_sql in a CTE; the Spark rendering let-binds it
    internally."""
    from clj_nlp_parse_spark import schema
    if d == "spark":
        is_verb = lambda e: _in(e, schema.VERB_TAGS)
        # CASE guard: sequence(1, 0) is DESCENDING [1, 0] and
        # try_element_at(tg, 0) throws INVALID_INDEX_OF_ZERO — a zero-token
        # doc must not crash the binding construction (body returns [] but
        # bindings are evaluated first)
        rootix = (f"CASE WHEN size({tg}) = 0 THEN 1 ELSE "
                  f"coalesce(try_element_at(filter(sequence(1, size({tg})),"
                  f" j -> {is_verb(f'try_element_at({tg}, j)')}), 1), 1) "
                  f"END")
        # per-token chunk-head index, computed ONCE into a bound array
        # (PERF: inlining the chunk lookup into every edge field re-ran the
        # filter ~6x per token — measured 78 s vs ~4 s at sf0.1).
        # r4: the head is now elected ONCE PER CHUNK (chh, aligned with the
        # chunk array) instead of rescanning the chunk span per member
        # token — O(#chunks*span + n*#chunks) instead of O(n*span), which
        # matters on word-salad docs where one NP run spans the whole doc
        # (measured 2.7x on dep_tree_edges at sf0.1: 8.0 s → 3.0 s warm)
        chh = (f"transform({ch}, c -> try_element_at(filter("
               f"sequence(c.beg + 1, c.fin), j -> "
               f"((c.label = 'NP' AND "
               f"{_in(f'try_element_at({tg}, j)', NP_HEAD_TAGS)}) OR "
               f"(c.label = 'VP' AND "
               f"{_in(f'try_element_at({tg}, j)', VP_HEAD_TAGS)}))), -1))")
        # r5 (VERDICT_r04 #1, the last super-linear annotator term): the
        # old per-token `ci` filtered the chunk array once per token —
        # O(n * #chunks), ~n^2/2 on a doc where every other token opens
        # a chunk. tci is the token→chunk-index map built ONCE in
        # O(n + #chunks) (_chunk_pos_index_sql, the ner.py/coref.py
        # break-array trick); no chunks → tci = [] and
        # try_element_at([], i) is NULL, same 'dep'-to-root fallback.
        tci = _chunk_pos_index_sql(ch, f"size({ws})", "member")
        # try_element_at(arr, NULL) is NULL → no chunk → hd NULL
        hd = "try_element_at(h.chh, try_element_at(h.tci, i))"
        hds_body = (f"CASE WHEN size({ws}) = 0 THEN array() ELSE "
                    f"transform(sequence(1, size({ws})), i -> {hd}) END")
        hds = (f"try_element_at(transform(array(named_struct("
               f"'tci', {tci}, 'chh', {chh})), h -> {hds_body}), 1)")
        at_hd = "try_element_at(z.hds, i)"
        dep = (f"named_struct("
               f"'head', CASE WHEN {at_hd} IS NOT NULL "
               f"AND {at_hd} != i THEN {at_hd} ELSE z.rt END, "
               f"'dependent', i, "
               f"'label', CASE WHEN {at_hd} IS NOT NULL "
               f"AND {at_hd} != i THEN 'mod' ELSE 'dep' END)")
        body = (f"CASE WHEN size({ws}) = 0 THEN "
                f"cast(array() as array<struct<head:int, dependent:int, "
                f"label:string>>) ELSE concat("
                f"array(named_struct('head', 0, 'dependent', z.rt, "
                f"'label', 'root')), "
                f"transform(filter(sequence(1, size({ws})), "
                f"i -> i != z.rt), i -> {dep})) END")
        return (f"try_element_at(transform(array(named_struct("
                f"'rt', {rootix}, 'hds', {hds})), z -> {body}), 1)")
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


# ------------------------------------------------------------ Python twin
# Independent reimplementation of the tree grammar (dialect.py "Python
# twins" pattern): used by the fuzz suite as a THIRD comparator alongside
# the Spark and DuckDB renderings, so tree parity does not rest solely on
# dialect-paired SQL generated from one builder.


def _dep_edges_linear(ws: list[str], tags: list[str],
                      chunks: list[dict]) -> list[tuple[int, int, str]]:
    """dep_edges_py's algorithm in O(n + Σ chunk spans): token→chunk map
    and per-chunk elected head precomputed once (the r5 linearization of
    the per-token chunk lookup, kept in the Python kernel — the
    adversarial-density probe contract must hold here too). Identical
    output to dep_edges_py."""
    from clj_nlp_parse_spark import schema
    if not ws:
        return []
    tok2c: list[dict | None] = [None] * len(ws)
    for c in chunks:
        heads = NP_HEAD_TAGS if c["label"] == "NP" else VP_HEAD_TAGS
        hs = [j for j in range(c["beg"] + 1, c["fin"] + 1)
              if tags[j - 1] in heads]
        c["_hd"] = hs[-1] if hs else None
        for k in range(c["beg"], c["fin"]):
            tok2c[k] = c
    rt = next((i + 1 for i, t in enumerate(tags)
               if t in schema.VERB_TAGS), 1)
    out = [(0, rt, "root")]
    for i in range(1, len(ws) + 1):
        if i == rt:
            continue
        c = tok2c[i - 1]
        hd = c["_hd"] if c is not None else None
        if hd is not None and hd != i:
            out.append((hd, i, "mod"))
        else:
            out.append((rt, i, "dep"))
    return out


def _dep_rows(text: str | None) -> list[tuple[int, int, str]]:
    ws, tags = dialect.tagged_words_py(text)
    return _dep_edges_linear(ws, tags, _chunks_py(tags))


def dep_edge_rows(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exploded dependency edge rows (id_col, head, dependent, label) as
    a declared Arrow batch stage — same rule tables as dep_tree_edges'
    SQL form (fuzz-pinned twin algorithm, linearized chunk lookup),
    emitted directly instead of HOF-array-build + interpreted Generate."""
    return map_text_rows(
        df, _dep_rows,
        [("head", pa.int64()), ("dependent", pa.int64()),
         ("label", pa.string())],
        id_col, text_col)


def _parse_tree_rows(text: str | None) -> list[tuple]:
    ws, tags = dialect.tagged_words_py(text)
    ch = _chunks_py(tags)
    tok2beg: list[int | None] = [None] * len(ws)
    for c in ch:
        for k in range(c["beg"], c["fin"]):
            tok2beg[k] = c["beg"]
    out = [(-1, 0, "ROOT", None), (0, 1, "S", None)]
    for c in ch:
        parent = 2 + 3 * c["pvp"] if c["pvp"] is not None else 1
        out.append((parent, 2 + 3 * c["beg"], c["label"], None))
    for i in range(1, len(ws) + 1):
        beg = tok2beg[i - 1]
        out.append((2 + 3 * beg if beg is not None else 1,
                    3 * i, tags[i - 1], i))
    for i in range(1, len(ws) + 1):
        out.append((3 * i, 3 * i + 1, ws[i - 1], i))
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


def _chunks_py(tags: list[str]) -> list[dict]:
    """Kept chunk runs with attachment flags, plain Python."""
    cls = ["NP" if t in NP_TAGS else "VP" if t in VP_TAGS else None
           for t in tags]
    runs, i = [], 0
    while i < len(cls):
        if cls[i] is None:
            i += 1
            continue
        j = i
        while j < len(cls) and cls[j] == cls[i]:
            j += 1
        heads = NP_HEAD_TAGS if cls[i] == "NP" else VP_HEAD_TAGS
        if any(tags[k] in heads for k in range(i, j)):
            runs.append({"label": cls[i], "beg": i, "fin": j})
        i = j
    for c in runs:
        c["pvp"] = next((v["beg"] for v in runs
                         if c["label"] == "NP" and v["label"] == "VP"
                         and v["fin"] == c["beg"]), None)
        c["dvp"] = (c["label"] == "VP"
                    and any(k["label"] == "NP" and k["beg"] == c["fin"]
                            for k in runs))
    return runs


def tree_ser_py(words: list[str]) -> str:
    """Canonical bracket serialization, independent Python implementation
    (tags via dialect.pos_py)."""
    from clj_nlp_parse_spark import dialect as dlect
    tags = [dlect.pos_py(w) for w in words]
    ch = _chunks_py(tags)
    if not words:
        return "(ROOT (S))"
    parts = []
    for i, (w, t) in enumerate(zip(words, tags)):
        pre = next(("(" + c["label"] + " " for c in ch if c["beg"] == i), "")
        c_end = next((c for c in ch if c["fin"] == i + 1), None)
        if c_end is None:
            post = ""
        elif c_end["dvp"]:
            post = ""
        elif c_end["pvp"] is not None:
            post = "))"
        else:
            post = ")"
        parts.append(f"{pre}({t} {w}){post}")
    return "(ROOT (S " + " ".join(parts) + "))"


def dep_edges_py(words: list[str]) -> list[tuple[int, int, str]]:
    """Dependency edges (head, dependent, label), independent Python
    implementation — 1-based indices, head 0 for the root."""
    from clj_nlp_parse_spark import dialect as dlect
    from clj_nlp_parse_spark import schema
    if not words:
        return []
    tags = [dlect.pos_py(w) for w in words]
    ch = _chunks_py(tags)
    rt = next((i + 1 for i, t in enumerate(tags)
               if t in schema.VERB_TAGS), 1)
    out = [(0, rt, "root")]
    for i in range(1, len(words) + 1):
        if i == rt:
            continue
        c = next((c for c in ch if c["beg"] <= i - 1 < c["fin"]), None)
        hd = None
        if c is not None:
            heads = NP_HEAD_TAGS if c["label"] == "NP" else VP_HEAD_TAGS
            hs = [j for j in range(c["beg"] + 1, c["fin"] + 1)
                  if tags[j - 1] in heads]
            hd = hs[-1] if hs else None
        if hd is not None and hd != i:
            out.append((hd, i, "mod"))
        else:
            out.append((rt, i, "dep"))
    return out


def root_index_sql(tg: str, d: str = "duck") -> str:
    """1-based root token index: first verb-typed token, else 1."""
    from clj_nlp_parse_spark import schema
    if d == "spark":
        return (f"CASE WHEN size({tg}) = 0 THEN 1 ELSE "
                f"coalesce(try_element_at(filter(sequence(1, size({tg})), "
                f"j -> {_in(f'try_element_at({tg}, j)', schema.VERB_TAGS)})"
                f", 1), 1) END")
    return (f"coalesce(list_filter(range(1, len({tg}) + 1), "
            f"j -> {_in(f'{tg}[j]', schema.VERB_TAGS)})[1], 1)")


def dep_tree_edges(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Exploded dependency edge rows: (id, head, dependent, label)."""
    words = dialect.tokens_expr(text_col, "spark")
    out = df.select(
        F.col(id_col),
        F.explode(F.expr(tree_expr(words, "dep"))).alias("e"))
    return out.select(
        id_col,
        F.col("e.head").cast("long").alias("head"),
        F.col("e.dependent").cast("long").alias("dependent"),
        F.col("e.label").alias("label"))


def _spark_let(bindings: dict[str, str], body: str, var: str) -> str:
    binding = ", ".join(f"'{k}', {v}" for k, v in bindings.items())
    return (f"try_element_at(transform(array(named_struct({binding})), "
            f"{var} -> {body}), 1)")


def tree_expr(words: str, what: str = "edges",
              tags: str | None = None) -> str:
    """Spark expression: words array → edge array ('edges'), canonical
    serialization ('ser'), dependency edges ('dep'), or a struct of all
    three ('all'). Four nested let-bindings (tags, classes, kept runs,
    chunks) so every array is materialized once per row.

    tags: pass an ALREADY-BOUND tag array name to skip the internal POS
    derivation when the caller has the tags in scope (srl_tokens reuses
    its own tg — review r04)."""
    tags = tags or (f"transform({words}, t -> "
                    f"({dialect.pos_case_expr('t', 'spark')}))")
    if what == "all":
        # one shared binding chain emitting every tree column at once —
        # measured 1.5x faster than three independent columns at sf0.1
        # (the tags→classes→runs→chunks derivation is paid once per row)
        body = ("named_struct("
                "'edges', " + edges_sql("w.ws", "w.tg", "w.ch", "spark")
                + ", 'ser', " + serialize_sql("w.ws", "w.tg", "w.ch",
                                              "spark")
                + ", 'dep', " + dep_edges_sql("w.ws", "w.tg", "w.ch",
                                              "spark") + ")")
    else:
        body_fn = {"edges": edges_sql, "ser": serialize_sql,
                   "dep": dep_edges_sql}[what]
        body = body_fn("w.ws", "w.tg", "w.ch", "spark")
    l4 = _spark_let(
        {"ws": "z.ws", "tg": "z.tg", "ch": chunks_sql("z.kept", "spark")},
        body, "w")
    l3 = _spark_let(
        {"ws": "x.ws", "tg": "x.tg",
         "kept": kept_runs_sql("x.cl", "x.tg", "spark")},
        l4, "z")
    l2 = _spark_let(
        {"ws": "y.ws", "tg": "y.tg", "cl": class_sql("y.tg", "spark")},
        l3, "x")
    return _spark_let({"ws": words, "tg": tags}, l2, "y")


def duck_tree_cte(from_tbl: str = "tk") -> str:
    """DuckDB CTE chain binding ws/tg/cl/kept/ch as real columns (DuckDB
    needs no let-binding — CTE columns are materialized once). `from_tbl`
    must provide (doc_id, words, toks); tags come from toks.pos_tag."""
    return f"""tr1 AS (SELECT doc_id, words,
        list_transform(toks, x -> x.pos_tag) AS tg FROM {from_tbl}),
    tr2 AS (SELECT *, {class_sql('tg', 'duck')} AS cl FROM tr1),
    tr3 AS (SELECT *, {kept_runs_sql('cl', 'tg', 'duck')} AS kept FROM tr2),
    tr4 AS (SELECT doc_id, words, tg,
        {chunks_sql('kept', 'duck')} AS ch FROM tr3)"""


def parse_tree_edges(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exploded edge rows: (id, parent, child, label, token_index) — the
    traversable tree a reference user asks for, one row per edge."""
    words = dialect.tokens_expr(text_col, "spark")
    out = df.select(
        F.col(id_col),
        F.explode(F.expr(tree_expr(words, "edges"))).alias("e"))
    return out.select(
        id_col,
        F.col("e.parent").cast("long").alias("parent"),
        F.col("e.child").cast("long").alias("child"),
        F.col("e.label").alias("label"),
        F.col("e.token_index").cast("long").alias("token_index"))


def with_tree(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach both tree columns: `tree_edges` (flattened edge array) and
    `tree_ser` (canonical bracket serialization)."""
    words = dialect.tokens_expr(text_col, "spark")
    return (df.withColumn("__tree", F.expr(tree_expr(words, "all")))
            .withColumn("tree_edges", F.col("__tree.edges"))
            .withColumn("tree_ser", F.col("__tree.ser"))
            .withColumn("dep_edges", F.col("__tree.dep"))
            .drop("__tree"))
