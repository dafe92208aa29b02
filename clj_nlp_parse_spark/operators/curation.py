"""End-to-end corpus curation: the admission decision and its incremental
maintenance loop.

`curation_decide` composes the gates a 100 TB curation job runs in ONE
plan (language-ID + quality + min-length, exact-dedup keep, eval-set
decontamination) with a first-failing drop REASON per document.

`incremental_curation` is the production update shape (the daily crawl
increment): only the NEW batch is scored; the historical state a running
pipeline maintains is just the (text_hash, min_doc_id) table. Correctness
contract (oracle-checked by the curation_incremental query, same pattern
as incremental_asof_update): output == full curation_decide(base ∪ batch)
whenever batch ids are all NEWER than base ids — which is exactly what a
crawl increment is. Under that contract no old decision can change: the
exact-dedup keep is min-id per hash (new ids can never steal it), and the
eval set is fixed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.operators import dedup as DD
from clj_nlp_parse_spark.operators import textstats as TS


def _scored(tr: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc gate columns: lang_pred, quality, n_words, text_hash."""
    wd = tr.withColumn(
        "words", F.expr(dialect.tokens_expr(text_col, "spark")))
    return wd.select(
        id_col,
        F.expr(TS.lang_id_sql("words", "spark")).alias("lang_pred"),
        F.expr(TS.quality_score_sql(text_col, "words", "spark"))
        .alias("quality"),
        F.expr("size(words)").cast("long").alias("n_words"),
        F.expr(f"md5({DD.norm_text_sql(text_col, 'spark')})")
        .alias("text_hash"))


def _reason_col():
    return (F.when(F.col("lang_pred") != "en", "not_en")
            .when(F.col("quality") < 0.4, "low_quality")
            .when(F.col("n_words") < 10, "too_short")
            .when(~F.col("keep_exact"), "exact_dup")
            .when(F.col("contaminated"), "contaminated")
            .otherwise("admitted"))


def curation_decide(tr: DataFrame, ev: DataFrame, n: int = 3,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Full admission decision: (id, reason, keep). One corpus scan + one
    hash-keyed window + one broadcast shingle semi-probe."""
    q = _scored(tr, id_col, text_col)
    w = Window.partitionBy("text_hash")
    d = q.withColumn("keep_exact",
                     F.col(id_col) == F.min(id_col).over(w))
    # join the SMALL contaminated-id set (the oracle's `bad` side), never a
    # corpus-sized per-doc flags relation — at 10^12 rows the flags join
    # would be a full-corpus shuffle (review r03 #2)
    bad = DD.contaminated_ids(tr, ev, n=n, id_col=id_col,
                              text_col=text_col)
    out = (d.join(bad.withColumn("__c", F.lit(True)), id_col, "left")
           .withColumn("contaminated",
                       F.coalesce(F.col("__c"), F.lit(False))))
    reason = _reason_col()
    return out.select(id_col, reason.alias("reason"),
                      (reason == "admitted").alias("keep"))


def hash_state(tr: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """The ONLY historical state incremental curation needs:
    (text_hash, min id seen) — tiny relative to the corpus, maintainable
    as a merge-on-hash table."""
    h = F.expr(f"md5({DD.norm_text_sql(text_col, 'spark')})")
    return (tr.select(F.col(id_col), h.alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("min_id")))


def incremental_curation(prev_out: DataFrame, prev_hashes: DataFrame,
                         batch: DataFrame, ev: DataFrame, n: int = 3,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Score ONLY the new batch; pass prior decisions through untouched.

    Requires every batch id > every historical id (a crawl increment).
    The batch's exact-dedup keep consults the batch-local window min AND
    the historical (text_hash, min_id) state: a hash seen before can never
    be kept again. The corpus is never rescanned — work is proportional to
    the batch plus one join against the hash state (shuffle join; the
    state is corpus-distinct-texts-sized, usually NOT broadcastable)."""
    q = _scored(batch, id_col, text_col)
    w = Window.partitionBy("text_hash")
    d = (q.withColumn("__bmin", F.min(id_col).over(w))
         .join(prev_hashes.select("text_hash",
                                  F.col("min_id").alias("__hmin")),
               "text_hash", "left")
         .withColumn("keep_exact",
                     F.col("__hmin").isNull()
                     & (F.col(id_col) == F.col("__bmin"))))
    bad = DD.contaminated_ids(batch, ev, n=n, id_col=id_col,
                              text_col=text_col)
    out = (d.join(bad.withColumn("__c", F.lit(True)), id_col, "left")
           .withColumn("contaminated",
                       F.coalesce(F.col("__c"), F.lit(False))))
    reason = _reason_col()
    rec = out.select(id_col, reason.alias("reason"),
                     (reason == "admitted").alias("keep"))
    return prev_out.unionByName(rec)


# ------------------------------------------------------------ Python twin
# INDEPENDENT pure-Python restatement of the admission decision (re +
# hashlib, no SQL, no windows, no joins) — third comparator per the
# dedup.minhash_sig_py rationale; fuzz-asserted in
# tests/test_fuzz_parity.py.

import hashlib as _hashlib
import math as _math
import re as _re

from clj_nlp_parse_spark.operators.dedup import _shingles_py, _tokens_py
from clj_nlp_parse_spark.operators.textstats import text_stats_py


def curation_decide_py(train: list[tuple], ev: list[tuple],
                       n: int = 3) -> dict:
    """Twin of curation_decide over [(id, text)]: {id: (reason, keep)}
    with the same first-failing gate order (not_en → low_quality →
    too_short → exact_dup → contaminated → admitted)."""
    ev_shingles = set()
    for _, text in ev:
        ev_shingles.update(_shingles_py(_tokens_py(text), n))

    min_id_by_hash: dict[str, int] = {}
    scored = {}
    for doc_id, text in train:
        st = text_stats_py(text)
        h = None
        if text is not None:
            norm = _re.sub(r"\s+", " ", text.lower()).strip()
            h = _hashlib.md5(norm.encode("utf-8")).hexdigest()
            if h not in min_id_by_hash or doc_id < min_id_by_hash[h]:
                min_id_by_hash[h] = doc_id
        scored[doc_id] = (st, h, text)

    out = {}
    for doc_id, (st, h, text) in scored.items():
        contaminated = any(
            s in ev_shingles for s in _shingles_py(_tokens_py(text), n))
        if st["lang_pred"] != "en":
            reason = "not_en"
        elif st["quality"] is not None and st["quality"] < 0.4:
            reason = "low_quality"
        elif st["n_word_tokens"] < 10:
            reason = "too_short"
        elif min_id_by_hash.get(h) != doc_id:
            reason = "exact_dup"
        elif contaminated:
            reason = "contaminated"
        else:
            reason = "admitted"
        out[doc_id] = (reason, reason == "admitted")
    return out


def _budget_scored(tr: DataFrame, id_col: str, lang_col: str,
                   text_col: str) -> DataFrame:
    """The checkpointed (id, lang, quality, n_bpe_tokens) frame both token
    budgets decide over. Several subtrees read it (histogram, admission
    join, and token_budget_mix's per-stratum budgets), and each would
    otherwise re-evaluate the tokenize+score expressions over the full
    corpus; the checkpoint is O(corpus rows) of 4 narrow columns (measured
    1.7 → 0.7 s for token_budget_select at sf0.1; a pure materialization,
    the same rows bit-for-bit)."""
    t = F.expr(f"coalesce({text_col}, '')").alias("__t")
    return (tr.select(F.col(id_col), F.col(lang_col), t,
                      F.expr(dialect.tokens_expr(text_col, "spark"))
                      .alias("__ws"))
            .select(id_col, lang_col,
                    F.expr(TS.quality_score_sql("__t", "__ws", "spark"))
                    .alias("quality"),
                    F.expr(TS.token_counts_sql("__t", "__ws", "spark")
                           ["n_bpe_tokens"]).alias("n_bpe_tokens"))
            .localCheckpoint())


def token_budget_select(tr: DataFrame, budget_num: int = 6,
                        budget_den: int = 10, id_col: str = "doc_id",
                        lang_col: str = "lang", text_col: str = "text",
                        bins: int = 100_000) -> DataFrame:
    """Token-budget selection (FineWeb/DCLM-style): admit the
    highest-quality documents until a global BPE-token budget of
    budget_num/budget_den of the corpus total is filled. The selection
    rule — the spec the oracle replays — is: order docs by
    (quality DESC, doc_id ASC) and admit while the running token sum
    (inclusive) stays <= budget.

    Scale shape (NO global sort of the corpus — the corpus_profile
    histogram precedent): quality is quantized to integer bins
    (floor(q*bins); double multiply + floor are monotone, so higher
    quality can never land in a lower bin and equal qualities share a
    bin). One map-side-combinable groupBy produces the per-bin token
    histogram (<= bins+1 rows at ANY corpus size); a cumsum over that
    tiny table (descending bins) yields, per bin, the tokens consumed
    by strictly-better bins (__pre) and the corpus total — so each bin
    is decided wholesale: fully admitted (pre+btok <= B), the single
    boundary bin (pre <= B < pre+btok, remaining budget B-pre), or
    dropped (broadcast-joined back, so full-bin admission is a pushed
    filter). Only the boundary bin's docs get an ordered cumsum
    (windowed by exact quality, doc_id) — bounded by one quantile
    bin's population, not the corpus. Degenerate shape, documented:
    a corpus where EVERY doc has identical quality collapses to one
    bin and the boundary window inherits the spec's inherent ordering
    cost; every other distribution pays only the tiny-table pass.
    Integer token arithmetic throughout (budget = (total*num) div den)
    keeps the decision bit-exact across engines.

    Cost note (r6): the scored frame is _budget_scored's checkpoint, read
    by the histogram and the join subtrees — this IS the documented
    production shape ("a run that already materializes per-doc
    quality/token columns pays one scan of those"), done in-plan."""
    s = _budget_scored(tr, id_col, lang_col, text_col)
    return select_from_scored(s, budget_num, budget_den,
                              id_col=id_col, lang_col=lang_col, bins=bins)


def select_from_scored(scored: DataFrame, budget_num: int = 6,
                       budget_den: int = 10, id_col: str = "doc_id",
                       lang_col: str = "lang",
                       bins: int = 100_000) -> DataFrame:
    """The histogram-threshold selection over a frame that already
    carries (id, lang, quality in [0,1], n_bpe_tokens) — the production
    shape when per-doc quality/token columns are materialized, and the
    surface the scale probe (tools/probe_budget.py) compares against a
    naive global window."""
    s = scored.withColumn(
        "__bin", F.expr(f"cast(floor(quality * {bins}) as int)"))
    hist = s.groupBy("__bin").agg(F.sum("n_bpe_tokens").alias("__btok"))
    # tiny-table windows: <= bins+1 rows regardless of corpus size
    wdesc = (Window.orderBy(F.col("__bin").desc())
             .rowsBetween(Window.unboundedPreceding, -1))
    d = (hist.select(
            "__bin", "__btok",
            F.coalesce(F.sum("__btok").over(wdesc), F.lit(0))
            .alias("__pre"),
            F.sum("__btok").over(Window.partitionBy()).alias("__tot"))
         .withColumn("__b", F.expr(
             f"(__tot * {budget_num}) div {budget_den}"))
         .where(F.col("__pre") <= F.col("__b"))
         .select("__bin",
                 (F.col("__pre") + F.col("__btok") <= F.col("__b"))
                 .alias("__full"),
                 (F.col("__b") - F.col("__pre")).alias("__rem")))
    j = s.join(F.broadcast(d), "__bin")
    full = j.where("__full").select(id_col, lang_col, "quality",
                                    "n_bpe_tokens")
    wb = (Window.partitionBy("__bin")
          .orderBy(F.col("quality").desc(), F.col(id_col))
          .rowsBetween(Window.unboundedPreceding, 0))
    boundary = (j.where(~F.col("__full"))
                .withColumn("__cum", F.sum("n_bpe_tokens").over(wb))
                .where(F.col("__cum") <= F.col("__rem"))
                .select(id_col, lang_col, "quality", "n_bpe_tokens"))
    return full.unionByName(boundary)


def token_budget_select_py(docs: list[tuple], budget_num: int = 6,
                           budget_den: int = 10) -> list[tuple]:
    """INDEPENDENT twin of token_budget_select over [(doc_id, lang,
    text)]: the plain spec — sort by (quality desc, doc_id), admit while
    the inclusive token cumsum stays within (total*num)//den. Returns
    admitted (doc_id, lang, quality, n_bpe_tokens) sorted by doc_id."""
    scored = []
    for doc_id, lang, text in docs:
        st = text_stats_py(text if text is not None else "")
        scored.append((doc_id, lang, st["quality"], st["n_bpe_tokens"]))
    budget = (sum(r[3] for r in scored) * budget_num) // budget_den
    cum, out = 0, []
    for r in sorted(scored, key=lambda r: (-r[2], r[0])):
        cum += r[3]
        if cum > budget:
            break
        out.append(r)
    return sorted(out)


def token_budget_mix(tr: DataFrame, budget_num: int = 6,
                     budget_den: int = 10, id_col: str = "doc_id",
                     lang_col: str = "lang", text_col: str = "text",
                     bins: int = 100_000) -> DataFrame:
    """Temperature-weighted per-stratum token budgets — the data-mix op
    training runs actually budget in TOKENS, not docs: the global token
    budget (budget_num/budget_den of corpus tokens) is split across
    language strata proportionally to isqrt(stratum tokens) (temperature-2
    downweighting, the corpus_mix weights applied to token mass), then
    each stratum admits its highest-quality docs until its own budget
    fills (the token_budget_select rule per stratum). All allocation
    arithmetic is integer — isqrt weights, window sums, and the
    overflow-free two-term floor division (gb div ts)*s + ((gb % ts)*s)
    div ts from corpus_mix_consistent — so both engines agree bit-exactly;
    an all-zero-token corpus gets ts=0 and budget 0 per stratum (CASE
    guard — Spark ANSI div would otherwise throw).

    Scale shape: per-(stratum, quality-bin) histogram + per-stratum cumsum
    over that agg, whole bins decided by a null-safe broadcast join, the
    ordered window only inside each stratum's single boundary bin. The
    decision table is |strata| x bins rows — at a web-scale stratum count,
    lower `bins` (e.g. 4096) to keep it broadcastable; the boundary bin
    grows proportionally, still corpus-independent under a continuous
    quality distribution. NULL lang is its own stratum everywhere
    (eqNullSafe / IS NOT DISTINCT FROM, the corpus_profile precedent).

    The scored frame is _budget_scored's checkpoint, read by THREE
    subtrees (per-stratum budgets, the histogram, and the admission
    join); `__bin` is a cheap projection over it."""
    s = _budget_scored(tr, id_col, lang_col, text_col).withColumn(
        "__bin", F.expr(f"cast(floor(quality * {bins}) as int)"))
    wall = Window.partitionBy()
    budgets = (s.groupBy(lang_col)
               .agg(F.sum("n_bpe_tokens").alias("__tl"))
               .withColumn("__s", F.expr(
                   "cast(floor(sqrt(cast(__tl as double))) as bigint)"))
               .withColumn("__tt", F.sum("__tl").over(wall))
               .withColumn("__ts", F.sum("__s").over(wall))
               .withColumn("__gb", F.expr(
                   f"(__tt * {budget_num}) div {budget_den}"))
               .select(F.col(lang_col).alias("__blang"),
                       F.expr("CASE WHEN __ts = 0 THEN 0 ELSE least(__tl, "
                              "(__gb div __ts) * __s + "
                              "((__gb % __ts) * __s) div __ts) END")
                       .alias("__bl")))
    hist = (s.groupBy(lang_col, "__bin")
            .agg(F.sum("n_bpe_tokens").alias("__btok")))
    wdesc = (Window.partitionBy(lang_col)
             .orderBy(F.col("__bin").desc())
             .rowsBetween(Window.unboundedPreceding, -1))
    d = (hist.withColumn(
            "__pre", F.coalesce(F.sum("__btok").over(wdesc), F.lit(0)))
         .join(budgets, F.col(lang_col).eqNullSafe(F.col("__blang")))
         .where(F.col("__pre") <= F.col("__bl"))
         .select(F.col("__blang").alias("__dlang"),
                 F.col("__bin").alias("__dbin"),
                 (F.col("__pre") + F.col("__btok") <= F.col("__bl"))
                 .alias("__full"),
                 (F.col("__bl") - F.col("__pre")).alias("__rem")))
    j = s.join(F.broadcast(d),
               F.col(lang_col).eqNullSafe(F.col("__dlang"))
               & (F.col("__bin") == F.col("__dbin")))
    full = j.where("__full").select(id_col, lang_col, "quality",
                                    "n_bpe_tokens")
    wb = (Window.partitionBy("__dlang", "__dbin")
          .orderBy(F.col("quality").desc(), F.col(id_col))
          .rowsBetween(Window.unboundedPreceding, 0))
    boundary = (j.where(~F.col("__full"))
                .withColumn("__cum", F.sum("n_bpe_tokens").over(wb))
                .where(F.col("__cum") <= F.col("__rem"))
                .select(id_col, lang_col, "quality", "n_bpe_tokens"))
    return full.unionByName(boundary)


def token_budget_mix_py(docs: list[tuple], budget_num: int = 6,
                        budget_den: int = 10) -> list[tuple]:
    """INDEPENDENT twin of token_budget_mix over [(doc_id, lang, text)]:
    math.isqrt weights over per-stratum token totals, two-term integer
    budget split, per-stratum sort + cumsum admission. Returns admitted
    (doc_id, lang, quality, n_bpe_tokens) sorted by doc_id."""
    scored: dict = {}
    for doc_id, lang, text in docs:
        st = text_stats_py(text if text is not None else "")
        scored.setdefault(lang, []).append(
            (doc_id, lang, st["quality"], st["n_bpe_tokens"]))
    totals = {lang: sum(r[3] for r in rs) for lang, rs in scored.items()}
    # floor(sqrt(double)) mirrors the SQL rendering; == math.isqrt on
    # every total below 2^52 (fuzz-pinned like corpus_mix_py)
    weights = {lang: _math.isqrt(t) for lang, t in totals.items()}
    tt, ts = sum(totals.values()), sum(weights.values())
    gb = (tt * budget_num) // budget_den
    out = []
    for lang, rs in scored.items():
        s = weights[lang]
        bl = 0 if ts == 0 else min(
            totals[lang], (gb // ts) * s + ((gb % ts) * s) // ts)
        cum = 0
        for r in sorted(rs, key=lambda r: (-r[2], r[0])):
            cum += r[3]
            if cum > bl:
                break
            out.append(r)
    return sorted(out)
