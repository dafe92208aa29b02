"""Catalyst-native text annotation: tokenize / POS / lemma / stopword.

The hot path stays entirely JVM-side (whole-stage codegen): tokenization is
`regexp_extract_all`, tagging/lemmatization are CASE expressions applied with
the `transform` higher-order function — zero Python crossings. This is the
engine's re-expression of the reference's per-record annotation operators
A1/A3/A4/A5 (reference config.clj:64-106, stanford.clj:185-208,193-195);
the composition P1/P2 (reference parse.clj:125-130, stanford.clj:494-516)
becomes chained `withColumn` stages fused by Catalyst into one projection.

The per-doc Python rule kernels (natlog, coref, srl, trees, chunking) share
one Arrow harness here: `map_text_rows` behind `spread_small_input`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect


def words_col(text_col: str = "text") -> Column:
    """Array of lowercase word tokens."""
    return F.expr(dialect.tokens_expr(text_col, "spark"))


#: full annotated-token field order (the reference's token record shape)
ANNOT_FIELDS = ("word", "lemma", "pos_tag", "pos_type", "is_stop",
                "is_stop_lemma", "is_go")


def annotated_tokens_sql(words: str = "words", dialect_name: str = "spark",
                         fields: tuple[str, ...] | None = None) -> str:
    """SQL for array<struct<word,lemma,pos_tag,pos_type,is_stop,
    is_stop_lemma,is_go>> from an array of lowercase words.

    Two nested transform()s: the inner one computes tag + lemma once per
    token; the outer derives the dependent fields. Works verbatim in Spark
    SQL and (list_transform-compatible lambda syntax) DuckDB.

    Mirrors the reference's token record (annotation-keys,
    stanford.clj:267-270) at word granularity; `is_go` is go-word?
    (stopword.clj:33-38).

    `fields` (r6 optimization, guide §2.3 'project early'): render only a
    SUBSET of the struct fields — column pruning cannot reach inside HOF
    lambdas, so a consumer that reads two fields otherwise pays the POS
    CASE + lemma CASE + three lexicon probes per token. The inner binding
    drops tag/lem when no requested field needs them; field VALUES are
    identical to the full render. Default (None) renders the full struct,
    byte-identical to the pre-r6 SQL (the oracle CTEs depend on that).
    """
    d = dialect_name
    fields = ANNOT_FIELDS if fields is None else tuple(fields)
    assert all(f in ANNOT_FIELDS for f in fields), fields
    need_tag = any(f in fields for f in ("pos_tag", "pos_type", "is_go"))
    need_lem = any(f in fields for f in ("lemma", "is_stop_lemma"))
    pos = dialect.pos_case_expr("t", d)
    lemma = dialect.lemma_case_expr("t", d)
    rendered = {
        "word": "x.t", "lemma": "x.lem", "pos_tag": "x.tag",
        "pos_type": f"({dialect.pos_type_case_expr('x.tag')})",
        "is_stop": f"({dialect.stopword_cond('x.t')})",
        "is_stop_lemma": f"({dialect.stopword_cond('x.lem')})",
        "is_go": f"({dialect.go_word_cond('x.t', 'x.tag')})",
    }
    if d == "spark":
        parts = ["'t', t"]
        if need_tag:
            parts.append(f"'tag', ({pos})")
        if need_lem:
            parts.append(f"'lem', ({lemma})")
        inner = f"transform({words}, t -> named_struct({', '.join(parts)}))"
        outer = ", ".join(f"'{f}', {rendered[f]}" for f in fields)
        return f"transform({inner}, x -> named_struct({outer}))"
    # DuckDB: struct_pack
    parts = ["t := t"]
    if need_tag:
        parts.append(f"tag := ({pos})")
    if need_lem:
        parts.append(f"lem := ({lemma})")
    inner = (f"list_transform({words}, t -> "
             f"struct_pack({', '.join(parts)}))")
    outer = ", ".join(f"{f} := {rendered[f]}" for f in fields)
    return f"list_transform({inner}, x -> struct_pack({outer}))"


def annotated_tokens_col(words: str = "words") -> Column:
    return F.expr(annotated_tokens_sql(words, "spark"))


def annotate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add `words` (array<string>) and `toks` (annotated token structs)."""
    return df.withColumn("words", words_col(text_col)) \
             .withColumn("toks", annotated_tokens_col("words"))


def spread_small_input(df: DataFrame) -> DataFrame:
    """Ensure a per-doc Arrow kernel gets cluster-wide parallelism (r6):
    a small parquet scan arrives as ONE input split, which would
    serialize the kernel. Repartition ONLY when the scan has fewer
    partitions than the default parallelism — at corpus scale input
    splits abound and no shuffle is added. A streaming frame is returned
    unchanged: a micro-batch has no scan split count to read."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def map_text_rows(df: DataFrame, rows, fields, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Run a per-doc Python rule kernel as one declared Arrow batch stage
    (mapInArrow behind spread_small_input).

    `rows(text)` returns the output tuples of one doc (text may be None);
    `fields` lists their columns as (name, pyarrow type) and is the one
    place the output schema is written — the Spark types are derived from
    it. Each output row is prefixed with its doc's id, gathered from the
    input batch by `pyarrow.compute.take`, so the id keeps its input type
    and nullability."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    names = [id_col] + [n for n, _ in fields]
    row_type = pa.struct([pa.field(n, t) for n, t in fields])

    def kern(batches):
        import pyarrow.compute as pc
        for batch in batches:
            src, out = [], []
            for k, text in enumerate(batch.column(text_col).to_pylist()):
                n = len(out)
                out.extend(rows(text))
                src.extend([k] * (len(out) - n))
            # one C-level tuple->struct conversion; split into columns
            yield pa.record_batch(
                [pc.take(batch.column(id_col), pa.array(src, pa.int32()))]
                + pa.array(out, row_type).flatten(),
                names=names)

    inp = spread_small_input(df.select(id_col, text_col))
    out_schema = T.StructType(
        [inp.schema[id_col]] + from_arrow_type(row_type).fields)
    return inp.mapInArrow(kern, out_schema)


def go_word_forms_col(toks: str = "toks", form: str = "word") -> Column:
    """go-word-forms (reference stopword.clj:40-50): filter go words,
    project canonical form (default lower text; alt 'lemma')."""
    return F.expr(f"transform(filter({toks}, x -> x.is_go), x -> x.{form})")


def go_word_forms_from_words_sql(words: str = "words",
                                 form: str = "word") -> str:
    """go-word-forms computed DIRECTLY from the word array (r6
    optimization, guide §2.3 'project early'): callers that only need go
    forms paid the full 7-field annotate() struct per token (POS + lemma +
    3 stopword/go flags) because column pruning cannot reach inside a HOF
    lambda. This renders only the predicate (stopword + POS-in-go-tags,
    exactly is_go's definition) and, for form='lemma', only the lemma CASE
    on the survivors — same output as
    transform(filter(toks, x.is_go), x.{form})."""
    from clj_nlp_parse_spark import dialect, schema
    pos = dialect.pos_case_expr("gwt", "spark")
    stop = dialect.stopword_cond("gwt")
    tags = ", ".join("'" + x.replace("'", "''") + "'"
                     for x in schema.GO_POS_TAGS)
    kept = f"filter({words}, gwt -> (NOT ({stop}) AND ({pos}) IN ({tags})))"
    if form == "word":
        return kept
    lemma = dialect.lemma_case_expr("gwt", "spark")
    return f"transform({kept}, gwt -> ({lemma}))"
