"""Deterministic shallow chunking (NP/VP spans) — the engine's rule-based
analog of the reference's constituency-tree span extraction (A8 surface;
reference parse trees: stanford.clj:381-405, config.clj:153-161). The
reference's parser MODELS are out of scope (SURVEY.md §2.3); chunking over
the engine's deterministic POS tags gives the span-extraction capability a
tree consumer actually uses (NP mention candidates, VP predicates) with a
SQL-checkable contract.

Contract: a chunk is a MAXIMAL run of consecutive tokens whose tag is in
the chunk's tag set, kept only if the run contains at least one head tag
(noun for NP, verb for VP). The head is the LAST head-tagged token in the
run. Positions are UTTERANCE-level and punctuation is not tokenized, so a
run MAY span a sentence boundary ('the cat. the dog' is one NP run) — the
documented simplification; sentence-bounded chunking would add the
sentence index (from the sentence splitter's cumulative token counts) to
the run key.

Scale shape: explode tokens with position → lag() per doc marks run starts
→ window cumsum assigns run ids → one hash agg per (doc, run) → filter on
head presence. Two window/agg shuffles on the doc key, no per-row quadratic
scan, identical formulation in both dialects.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.functions.text import map_text_rows

# PRP is an NP constituent and head (a pronoun IS a noun phrase — the
# reference golden sr_parse_test.clj:26-31 has NP(PRP I))
NP_TAGS = ("DT", "PRP", "PRP$", "CD", "JJ", "JJR", "JJS",
           "NN", "NNS", "NNP", "NNPS")
NP_HEAD_TAGS = ("PRP", "NN", "NNS", "NNP", "NNPS")
VP_TAGS = ("MD", "RB", "VB", "VBD", "VBG", "VBN", "VBP", "VBZ")
VP_HEAD_TAGS = ("VB", "VBD", "VBG", "VBN", "VBP", "VBZ")


from clj_nlp_parse_spark.dialect import _q


def chunks(df: DataFrame, tags: tuple[str, ...] = NP_TAGS,
           head_tags: tuple[str, ...] = NP_HEAD_TAGS,
           label: str = "NP",
           id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """Maximal-run chunks over the deterministic tagger's output.

    Output: (id, label, chunk_index [0-based per doc], tok_beg, tok_end
    [token range, end exclusive], head [last head-tagged word], text
    [space-joined words])."""
    in_set = ", ".join(_q(t) for t in tags)
    head_set = ", ".join(_q(t) for t in head_tags)
    words = F.expr(dialect.tokens_expr(text_col, "spark"))
    pos_case = dialect.pos_case_expr("t", "spark")
    tok = (df.select(F.col(id_col), words.alias("words"))
           .select(id_col,
                   F.posexplode(F.expr(
                       f"transform(words, t -> named_struct("
                       f"'w', t, 'tag', ({pos_case})))"))
                   .alias("pos", "x"))
           .select(id_col, "pos",
                   F.col("x.w").alias("w"), F.col("x.tag").alias("tag"))
           .where(F.expr(f"tag IN ({in_set})")))
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    runs = tok.withColumn(
        "start", F.when(
            F.lag("pos").over(w_ord).isNull()
            | (F.lag("pos").over(w_ord) != F.col("pos") - 1), 1)
        .otherwise(0)
    ).withColumn("run_id", F.sum("start").over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    agg = (runs.groupBy(id_col, "run_id")
           .agg(F.min("pos").alias("tok_beg"),
                (F.max("pos") + 1).alias("tok_end"),
                F.max(F.when(F.expr(f"tag IN ({head_set})"),
                             F.col("pos"))).alias("head_pos"),
                F.array_join(F.array_sort(F.collect_list(
                    F.struct("pos", "w"))).getField("w"), " ").alias("text"),
                F.max(F.when(F.expr(f"tag IN ({head_set})"),
                             F.struct("pos", F.col("w").alias("hw"))))
                .getField("hw").alias("head"))
           .where(F.col("head_pos").isNotNull()))
    w_idx = Window.partitionBy(id_col).orderBy("tok_beg")
    return (agg.select(
        F.col(id_col),
        F.lit(label).alias("label"),
        (F.row_number().over(w_idx) - 1).cast("long").alias("chunk_index"),
        F.col("tok_beg").cast("long"),
        F.col("tok_end").cast("long"),
        "head", "text"))


def chunks_sql(tags: tuple[str, ...], head_tags: tuple[str, ...],
               label: str, table: str = "documents") -> str:
    """DuckDB oracle rendering of the same runs formulation (lag run
    starts → cumsum run ids → per-run agg; arg_max picks the head)."""
    in_set = ", ".join(_q(t) for t in tags)
    head_set = ", ".join(_q(t) for t in head_tags)
    words = dialect.tokens_expr("text", "duck")
    pos_case = dialect.pos_case_expr("w", "duck")
    return f"""
    WITH wd AS (SELECT doc_id, {words} AS words FROM {table}),
    tk AS (SELECT doc_id,
             unnest(list_transform(range(1, len(words) + 1), i ->
               struct_pack(pos := i - 1, w := words[i]))) AS x
           FROM wd),
    tok AS (SELECT doc_id, pos, w, ({pos_case}) AS tag
            FROM (SELECT doc_id, x.pos AS pos, x.w AS w FROM tk)),
    flt AS (SELECT * FROM tok WHERE tag IN ({in_set})),
    st AS (SELECT *, CASE WHEN
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) != pos - 1
             THEN 1 ELSE 0 END AS start
           FROM flt),
    rr AS (SELECT *, sum(start) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
           FROM st),
    agg AS (SELECT doc_id, run_id,
              CAST(min(pos) AS BIGINT) AS tok_beg,
              CAST(max(pos) + 1 AS BIGINT) AS tok_end,
              arg_max(w, pos) FILTER (tag IN ({head_set})) AS head,
              array_to_string(list_transform(
                list_sort(list(struct_pack(pos := pos, w := w))),
                s -> s.w), ' ') AS text
            FROM rr GROUP BY doc_id, run_id
            HAVING count(*) FILTER (tag IN ({head_set})) > 0)
    SELECT doc_id, '{label}' AS label,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tok_beg)
                - 1 AS BIGINT) AS chunk_index,
           tok_beg, tok_end, head, text
    FROM agg"""


_CHUNK_SPECS = (("NP", frozenset(NP_TAGS), frozenset(NP_HEAD_TAGS)),
                ("VP", frozenset(VP_TAGS), frozenset(VP_HEAD_TAGS)))


def _chunk_rows(text: str | None) -> list[tuple]:
    ws, tags = dialect.tagged_words_py(text)
    n = len(ws)
    out = []
    for label, in_set, head_set in _CHUNK_SPECS:
        ci = 0
        i = 0
        while i < n:
            if tags[i] not in in_set:
                i += 1
                continue
            j = i
            head = None
            while j < n and tags[j] in in_set:
                if tags[j] in head_set:
                    head = ws[j]
                j += 1
            if head is not None:
                out.append((label, ci, i, j, head, " ".join(ws[i:j])))
                ci += 1
            i = j
    return out


def chunk_rows(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """NP and VP chunk rows (id_col, label, chunk_index, tok_beg,
    tok_end, head, text) in ONE declared Arrow batch stage (r6
    optimization, guide §4: the fused-parser precedent) — the relational
    form paid two explode→window→window→agg pipelines (one per label);
    the kernel applies the identical maximal-run + head-election contract
    per doc. All values are ints/strings, oracle-gated at both SFs."""
    return map_text_rows(
        df, _chunk_rows,
        [("label", pa.string()), ("chunk_index", pa.int64()),
         ("tok_beg", pa.int64()), ("tok_end", pa.int64()),
         ("head", pa.string()), ("text", pa.string())],
        id_col, text_col)


def np_chunks(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    return chunks(df, NP_TAGS, NP_HEAD_TAGS, "NP", id_col, text_col)


def vp_chunks(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    return chunks(df, VP_TAGS, VP_HEAD_TAGS, "VP", id_col, text_col)
