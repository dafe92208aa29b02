"""Registry of (Spark query, DuckDB oracle SQL, presentation order) triples
for the driver gate.

Every operator from SURVEY.md §2 that is SQL-expressible lands here with
BOTH a Spark callable (spark, sf_dir) -> DataFrame and a DuckDB oracle SQL
string over the pre-registered views (region nation customer supplier part
orders lineitem events documents embeddings). The two sides are generated
from the same rule tables (dialect.py) so arithmetic is bit-identical.
Each registration declares the output columns its oracle's ORDER BY sorts
on; `register` presents every query's result in that order, so a query
body returns its unsorted operator output.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect, schema
from clj_nlp_parse_spark.functions import text as tx
from clj_nlp_parse_spark.operators import features

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
ORDERS: dict[str, tuple[str, ...]] = {}


def register(name: str, oracle: str, *, order: tuple[str, ...]):
    """Register the decorated body as query `name`, checked against the
    DuckDB `oracle` and presented sorted on the output columns `order`
    (the oracle's ORDER BY). The body is returned unchanged; `QUERIES`
    holds the presented form.

    Presentation sort: the result is presented as
    `.repartition(1).sortWithinPartitions(*order)`, not a global
    `.orderBy(*order)`. A global orderBy range-partitions its input, and
    range partitioning runs a SAMPLING pass that re-executes the ENTIRE
    child plan — measured ~2x wall on every map-heavy query here
    (cosine_dedup_banded 18.5 -> 9.7 s, doc_stats 1.67 -> 0.96 s at
    sf0.1). The single-partition sort shuffles the (oracle-sized) RESULT
    rows once into one partition and sorts there: same rows, same total
    order, pipeline computed ONCE. Window-spec orderBys and the semantic
    top-k `orderBy().limit()` (TakeOrdered) inside bodies are untouched,
    and production consumers of the operators never pass through here.
    Open hazard: an unbounded (corpus-sized) output still funnels through
    this one task; splitting bounded from unbounded outputs is an open
    ROADMAP item.
    """
    def deco(fn):
        def present(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(spark, sf_dir).repartition(1).sortWithinPartitions(
                *order)
        QUERIES[name] = present
        ORACLES[name] = oracle
        ORDERS[name] = order
        return fn
    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (spark.read.schema(schema.DOCUMENTS_SCHEMA)
            .parquet(f"{sf_dir}/documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet timestamps arrive as TIMESTAMP_NTZ in Spark 4; cast to instant
    # (session tz pinned to UTC) so unix_millis == DuckDB epoch_ms.
    return (spark.read.schema(schema.EVENTS_SCHEMA)
            .parquet(f"{sf_dir}/events.parquet")
            .withColumn("ts", F.col("ts").cast("timestamp")))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (spark.read.schema(schema.EMBEDDINGS_SCHEMA)
            .parquet(f"{sf_dir}/embeddings.parquet"))


# --------------------------------------------------------------------- F1/F14
def _duck_toks_cte() -> str:
    toks = tx.annotated_tokens_sql("words", "duck")
    words = dialect.tokens_expr("text", "duck")
    return (f"WITH w AS (SELECT doc_id, text, lang, {words} AS words FROM documents), "
            f"tk AS (SELECT doc_id, text, lang, words, {toks} AS toks FROM w)")


_POS_ORACLE_COLS = []
for _t in schema.POS_TAG_TYPES:
    _POS_ORACLE_COLS.append(
        f"CAST(len(list_filter(toks, x -> x.pos_type = '{_t}')) AS BIGINT)"
        f" AS pos_tag_count_{_t}")
    _POS_ORACLE_COLS.append(
        f"CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
        f"CAST(len(list_filter(toks, x -> x.pos_type = '{_t}')) AS DOUBLE)"
        f" / CAST(len(toks) AS DOUBLE) END AS pos_tag_ratio_{_t}")
_VOCAB = ", ".join("'" + x.replace("'", "''") + "'" for x in schema.ALL_POS_TAGS)
for _nm, _ix in (("pos_first_tag", 1), ("pos_last_tag", -1)):
    _POS_ORACLE_COLS.append(
        f"CASE WHEN toks[{_ix}].pos_tag IS NULL OR "
        f"NOT (toks[{_ix}].pos_tag IN ({_VOCAB})) THEN '{schema.NONE_LABEL}' "
        f"ELSE toks[{_ix}].pos_tag END AS {_nm}")


@register(
    "pos_features",
    _duck_toks_cte() + " SELECT doc_id, " + ", ".join(_POS_ORACLE_COLS)
    + " FROM tk ORDER BY doc_id",
    order=("doc_id",))
def q_pos_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 pos-tag-features (reference feature/lang.clj:77-111)."""
    return features.pos_tag_features(_docs(spark, sf_dir))


@register(
    "doc_stats",
    _duck_toks_cte() + f"""
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS utterance_length,
      CAST(len(toks) AS BIGINT) AS token_count,
      CAST(len({features.sentence_words_sql('text', 'duck')}) AS BIGINT)
        AS sent_count,
      CAST(0 AS BIGINT) AS mention_count,
      CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        CAST(coalesce(list_sum(list_transform(toks, x -> length(x.word))), 0)
             AS DOUBLE) / CAST(len(toks) AS DOUBLE) END
        AS token_average_length,
      (rtrim(text) LIKE '%?') AS is_question
    FROM tk ORDER BY doc_id""",
    order=("doc_id",))
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 doc-level stats (reference README.md:269-291)."""
    return features.token_features(_docs(spark, sf_dir))


_SENT_WORDS_DUCK = features.sentence_words_sql("text", "duck")
_SC = features.sentence_sentiment_sql("ws", "duck")


@register(
    "sentiment_features",
    f"""
    WITH sw AS (SELECT doc_id, {_SENT_WORDS_DUCK} AS sws FROM documents),
    sc AS (SELECT doc_id,
             list_transform(sws, ws -> ({_SC})) AS ss FROM sw),
    ag AS (SELECT doc_id, ss, len(ss) AS n,
             CAST(coalesce(list_sum(ss), 0) AS BIGINT) AS s,
             CAST(coalesce(list_sum(list_transform(ss, x -> CAST(x AS DOUBLE) * x)), 0.0) AS DOUBLE) AS sq
           FROM sc)
    SELECT doc_id,
      s AS sentiment_utterance,
      CAST(coalesce(list_max(ss), 0) AS BIGINT) AS sentiment_sentence_max,
      CAST(coalesce(list_min(ss), 0) AS BIGINT) AS sentiment_sentence_min,
      s AS sentiment_sentence_sum,
      CASE WHEN n = 0 THEN 0.0 ELSE CAST(s AS DOUBLE) / n END
        AS sentiment_sentence_mean,
      CASE WHEN n = 0 THEN 0.0 ELSE sq / n -
        (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) END
        AS sentiment_sentence_variance
    FROM ag ORDER BY doc_id""",
    order=("doc_id",))
def q_sentiment_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 sentiment-features (reference feature/lang.clj:165-179)."""
    return features.sentiment_features(_docs(spark, sf_dir))


from clj_nlp_parse_spark.operators import trees as TR

_TREE_SER_DUCK = TR.serialize_sql("words", "tg", "ch")


@register(
    "tree_features",
    _duck_toks_cte() + ", " + TR.duck_tree_cte("tk")
    + f"""
    SELECT doc_id,
      CAST({dialect.hash32_expr(_TREE_SER_DUCK, 'duck')} AS BIGINT)
        AS dep_tree_id
    FROM tr4 ORDER BY doc_id""",
    order=("doc_id",))
def q_tree_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 tree-features — deterministic hash-id replacement (reference
    feature/lang.clj:123-137's summed JVM .hashCode of trees), REHOMED
    (VERDICT r02 #7) onto the canonical bracket serialization of the
    engine's actual tree (trees.tree_ser) so the feature id and the
    traversable tree can never drift apart. One declared Arrow batch
    stage (the per-doc serializer and hash)."""
    return features.tree_features(_docs(spark, sf_dir))


@register(
    "parse_tree_edges",
    _duck_toks_cte() + ", " + TR.duck_tree_cte("tk")
    + f"""
    SELECT doc_id, CAST(e.parent AS BIGINT) AS parent,
           CAST(e.child AS BIGINT) AS child, e.label AS label,
           CAST(e.token_index AS BIGINT) AS token_index
    FROM (SELECT doc_id,
            unnest({TR.edges_sql('words', 'tg', 'ch')}) AS e
          FROM tr4)
    ORDER BY doc_id, child""",
    order=("doc_id", "child"))
def q_parse_tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9 tree-STRUCTURED column (VERDICT r02 #7): the flattened edge
    array per SURVEY §1.4 — ROOT → S → NP/VP chunk nodes (with the
    reference golden's VP(V, NP) object attachment) → preterminals →
    leaves, 1-based token_index like the reference's :token-index
    (sr_parse_test.clj:26-49). One row per edge from the declared Arrow
    kernel parse_tree_edge_rows (behind spread_small_input); the only
    shuffle is the final presentation sort."""
    return TR.parse_tree_edge_rows(_docs(spark, sf_dir))


@register(
    "dep_tree_edges",
    _duck_toks_cte() + ", " + TR.duck_tree_cte("tk")
    + f""", tr5 AS (SELECT *, {TR.root_index_sql('tg')} AS rt
                    FROM tr4)
    SELECT doc_id, CAST(e.head AS BIGINT) AS head,
           CAST(e.dependent AS BIGINT) AS dependent, e.label AS label
    FROM (SELECT doc_id,
            unnest({TR.dep_edges_sql('words', 'tg', 'ch')}) AS e
          FROM tr5)
    ORDER BY doc_id, dependent""",
    order=("doc_id", "dependent"))
def q_dep_tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 dependency tree as a traversable edge list (reference
    stanford.clj:395-405; root election = reference root-dependency
    parse.clj:167-171): head 0 → root token, chunk members → chunk head
    ('mod'), everything else → root ('dep'). 1-based token indices; one
    row per token from the declared Arrow kernel dep_edge_rows (behind
    spread_small_input); the only shuffle is the final presentation
    sort."""
    return TR.dep_edge_rows(_docs(spark, sf_dir))


@register(
    "go_words",
    _duck_toks_cte() + """
    SELECT doc_id,
      CAST(len(list_filter(toks, x -> x.is_go)) AS BIGINT) AS n_go_words,
      CAST(len(list_distinct(list_transform(list_filter(toks, x -> x.is_go),
           x -> x.word))) AS BIGINT) AS n_distinct_go
    FROM tk ORDER BY doc_id""",
    order=("doc_id",))
def q_go_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 go-word filtering (reference stopword.clj:16-50). The go-word
    array is let-bound once per row — naming it in both output columns
    would re-run tokenize+tag per column (projection collapse)."""
    # r6: go forms straight from the word array (no 7-field struct)
    forms = tx.go_word_forms_from_words_sql(
        dialect.tokens_expr("text", "spark"), "word")
    let = (f"try_element_at(transform(array({forms}), "
           f"z -> named_struct("
           f"'n_go_words', cast(size(z) as bigint), "
           f"'n_distinct_go', cast(size(array_distinct(z)) as bigint))), 1)")
    return (_docs(spark, sf_dir)
            .select("doc_id", F.expr(let).alias("__f"))
            .select("doc_id", "__f.*"))


# ------------------------------------------------- as-of join + window ops
# Left/right sides derived deterministically from `events` (TESTDATA.md):
# rights = every 3rd event's (user_id, ts, max(value)); lefts = the rest.
def _asof_sides(spark: SparkSession, sf_dir: str):
    ev = _events(spark, sf_dir)
    lefts = ev.where(F.col("event_id") % 3 != 0).select("event_id", "user_id", "ts")
    rights = (ev.where(F.col("event_id") % 3 == 0)
              .groupBy("user_id", F.col("ts").alias("fts"))
              .agg(F.max("value").alias("fval")))
    return lefts, rights


_ASOF_ORACLE = """
WITH lefts AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 3 <> 0),
rights AS (SELECT user_id, ts AS fts, max(value) AS fval
           FROM events WHERE event_id % 3 = 0 GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS event_ts_ms,
       epoch_ms(r.fts) AS feature_ts_ms, r.fval
FROM lefts l ASOF LEFT JOIN rights r
  ON l.user_id = r.user_id AND l.ts >= r.fts
ORDER BY l.event_id"""


def _asof_out(j: DataFrame) -> DataFrame:
    return j.select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("event_ts_ms"),
        F.unix_millis("fts").alias("feature_ts_ms"),
        "fval",
    )


def _q_asof(**asof_kwargs):
    """The as-of registry body: `asof_join` over `_asof_sides` with the
    given strategy/direction/tolerance, projected to the oracle columns."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from clj_nlp_parse_spark.operators import asof
        lefts, rights = _asof_sides(spark, sf_dir)
        return _asof_out(asof.asof_join(
            lefts, rights, on=["user_id"], left_ts="ts", right_ts="fts",
            value_cols=["fval"], **asof_kwargs))
    return q


register("asof_join", _ASOF_ORACLE, order=("event_id",))(
    _q_asof(strategy="union_window"))
register("asof_join_merge", _ASOF_ORACLE, order=("event_id",))(
    _q_asof(strategy="merge_asof"))


# Nearest-direction as-of (pd.merge_asof direction='nearest'): each event
# takes whichever of the latest-before / earliest-after feature is closer,
# ties -> backward (the point-in-time-safe side). ONE union+window pass
# computes both carries on the same sort — same single shuffle as backward.
# Oracle: two DuckDB ASOF joins + the same distance CASE.
register(
    "asof_join_nearest",
    """
    WITH lefts AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_id % 3 <> 0),
    rights AS (SELECT user_id, ts AS fts, max(value) AS fval
               FROM events WHERE event_id % 3 = 0 GROUP BY user_id, ts),
    b AS (SELECT l.event_id, l.user_id, l.ts, r.fts AS bfts, r.fval AS bval
          FROM lefts l ASOF LEFT JOIN rights r
            ON l.user_id = r.user_id AND l.ts >= r.fts),
    f AS (SELECT l.event_id, r.fts AS ffts, r.fval AS fv
          FROM lefts l ASOF LEFT JOIN rights r
            ON l.user_id = r.user_id AND l.ts <= r.fts)
    SELECT b.event_id, b.user_id, epoch_ms(b.ts) AS event_ts_ms,
      CASE WHEN ffts IS NULL OR (bfts IS NOT NULL AND
             epoch_ms(b.ts) - epoch_ms(bfts)
               <= epoch_ms(ffts) - epoch_ms(b.ts))
           THEN epoch_ms(bfts) ELSE epoch_ms(ffts) END AS feature_ts_ms,
      CASE WHEN ffts IS NULL OR (bfts IS NOT NULL AND
             epoch_ms(b.ts) - epoch_ms(bfts)
               <= epoch_ms(ffts) - epoch_ms(b.ts))
           THEN bval ELSE fv END AS fval
    FROM b JOIN f USING (event_id)
    ORDER BY b.event_id""",
    order=("event_id",))(_q_asof(direction="nearest"))


@register("asof_incremental", _ASOF_ORACLE, order=("event_id",))
def q_asof_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental feature-store maintenance: previous output is built from
    a BASE feature subset, then a batch (every 4th feature row) arrives and
    only the touched entities recompute. The oracle is the FULL as-of over
    base ∪ batch — passing proves incremental == full recompute."""
    from clj_nlp_parse_spark.operators import asof
    lefts, rights = _asof_sides(spark, sf_dir)
    is_batch = F.unix_millis("fts") % 4 == 0
    base, batch = rights.where(~is_batch), rights.where(is_batch)
    prev = asof.asof_join(lefts, base, on=["user_id"], left_ts="ts",
                          right_ts="fts", value_cols=["fval"])
    out = asof.incremental_asof_update(
        prev, lefts, rights, batch, on=["user_id"], left_ts="ts",
        right_ts="fts", value_cols=["fval"])
    return _asof_out(out)


# Forward (inclusive) as-of join — earliest feature_ts >= event_ts per
# entity; the label-join direction of pd.merge_asof. Same one-shuffle
# union+window shape as backward, with first() over the following frame.
register(
    "asof_join_forward",
    """
    WITH lefts AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_id % 3 <> 0),
    rights AS (SELECT user_id, ts AS fts, max(value) AS fval
               FROM events WHERE event_id % 3 = 0 GROUP BY user_id, ts)
    SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS event_ts_ms,
           epoch_ms(r.fts) AS feature_ts_ms, r.fval
    FROM lefts l ASOF LEFT JOIN rights r
      ON l.user_id = r.user_id AND l.ts <= r.fts
    ORDER BY l.event_id""",
    order=("event_id",))(_q_asof(direction="forward"))


_ASOF_TOL_MS = 1800 * 1000  # 30 min staleness bound


# Backward as-of with a staleness bound (pd.merge_asof tolerance): matches
# farther than 30 min from the event are nulled — exact, because any other
# candidate is strictly staler than the latest one.
register(
    "asof_join_tolerance",
    f"""
    WITH lefts AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_id % 3 <> 0),
    rights AS (SELECT user_id, ts AS fts, max(value) AS fval
               FROM events WHERE event_id % 3 = 0 GROUP BY user_id, ts),
    j AS (SELECT l.event_id, l.user_id, l.ts, r.fts, r.fval
          FROM lefts l ASOF LEFT JOIN rights r
            ON l.user_id = r.user_id AND l.ts >= r.fts)
    SELECT event_id, user_id, epoch_ms(ts) AS event_ts_ms,
      CASE WHEN fts IS NULL OR epoch_ms(ts) - epoch_ms(fts) > {_ASOF_TOL_MS}
           THEN NULL ELSE epoch_ms(fts) END AS feature_ts_ms,
      CASE WHEN fts IS NULL OR epoch_ms(ts) - epoch_ms(fts) > {_ASOF_TOL_MS}
           THEN NULL ELSE fval END AS fval
    FROM j ORDER BY event_id""",
    order=("event_id",))(_q_asof(tolerance_ms=_ASOF_TOL_MS))


@register(
    "lag_lead",
    """
    SELECT event_id, user_id,
      lag(value) OVER w AS value_lag1,
      lead(value) OVER w AS value_lead1
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id""",
    order=("event_id",))
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag/lead per entity (SURVEY.md §2.7)."""
    from clj_nlp_parse_spark.operators import windows
    out = windows.with_lag_lead(_events(spark, sf_dir), {"value": 1})
    out = windows.with_lag_lead(out, {"value": -1})
    return out.select("event_id", "user_id", "value_lag1", "value_lead1")


@register(
    "sessionize",
    """
    WITH g AS (
      SELECT event_id, user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800 * 1000
        THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id, user_id,
      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
        AS session_id
    FROM g ORDER BY event_id""",
    order=("event_id",))
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, 30-min gap (SURVEY.md §2.7 cumsum idiom)."""
    from clj_nlp_parse_spark.operators import windows
    out = windows.sessionize(_events(spark, sf_dir), gap_seconds=1800)
    return out.select("event_id", "user_id", "session_id")


@register(
    "rolling_features",
    """
    SELECT event_id, user_id,
      avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_mean3,
      max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_max3,
      value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        AS delta
    FROM events ORDER BY event_id""",
    order=("event_id",))
def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling per-entity features (trailing mean/max over 3 rows + delta
    vs previous) — one window partitioning shared by all three outputs, so
    Catalyst plans a single shuffle+sort."""
    from pyspark.sql import Window
    ev = _events(spark, sf_dir)
    w3 = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-2, 0))
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.avg("value").over(w3).alias("roll_mean3"),
        F.max("value").over(w3).alias("roll_max3"),
        (F.col("value") - F.lag("value").over(wl)).alias("delta"),
    )


@register(
    "daily_rollup",
    """
    SELECT user_id, CAST(ts AS DATE) AS day,
      CAST(count(*) AS BIGINT) AS n_events,
      sum(value) AS sum_value,
      min(value) AS min_value,
      max(value) AS max_value
    FROM events GROUP BY user_id, CAST(ts AS DATE)
    ORDER BY user_id, day""",
    order=("user_id", "day"))
def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: per (entity, day) aggregates — one
    combiner-friendly hash agg; the aligned materialization a downstream
    as-of join consumes."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum("value").alias("sum_value"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value")))


@register(
    "session_stats",
    """
    WITH g AS (
      SELECT event_id, user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800 * 1000
        THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
                ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) - 1 AS BIGINT) AS session_id
      FROM g)
    SELECT user_id, session_id,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms,
      sum(value) AS sum_value
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_id""",
    order=("user_id", "session_id"))
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session feature vector (duration, event count, value sum) on top
    of gap sessionization — the windowed feature a session-level model
    trains on. The groupBy rides the sessionize window's existing
    entity-key partitioning."""
    from clj_nlp_parse_spark.operators import windows
    s = windows.sessionize(_events(spark, sf_dir), gap_seconds=1800)
    return (s.groupBy("user_id", "session_id")
            .agg(F.count("*").cast("long").alias("n_events"),
                 (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
                 .cast("long").alias("duration_ms"),
                 F.sum("value").alias("sum_value")))


@register(
    "backfill",
    """
    SELECT event_id, user_id,
      last_value(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END
                 IGNORE NULLS)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS value_filled
    FROM events ORDER BY event_id""",
    order=("event_id",))
def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill of late/missing values (SURVEY.md §2.7); nulls injected
    deterministically on every 5th event."""
    from clj_nlp_parse_spark.operators import windows
    ev = _events(spark, sf_dir).withColumn(
        "value_n",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("value")))
    out = windows.backfill(ev, "value_n", out_col="value_filled")
    return out.select("event_id", "user_id", "value_filled")


# --------------------------------------------------- word-count featurizer
# Train on documents with class label = lang, score every doc (long format).
# Reference path F7-F12 (word_count.clj); exactness via single final division.
_WC_ORACLE = _duck_toks_cte() + """
, gw AS (SELECT lang AS label, unnest(toks) AS x FROM tk)
, cnt AS (SELECT label, x.word AS word, count(*) AS c
          FROM gw WHERE x.is_go GROUP BY 1, 2)
, topn AS (SELECT label, word, c,
             row_number() OVER (PARTITION BY label ORDER BY c DESC, word ASC)
               AS rn
           FROM cnt)
, dist AS (SELECT label, word, c FROM topn WHERE rn <= 3)
, tot AS (SELECT label, sum(c) AS total FROM dist GROUP BY label)
, tokall AS (SELECT doc_id, unnest(toks) AS x FROM tk)
, hits AS (SELECT t.doc_id, d.label, sum(d.c) AS sc
           FROM tokall t JOIN dist d ON t.x.word = d.word GROUP BY 1, 2)
SELECT dd.doc_id, l.label,
       CAST(coalesce(h.sc, 0) AS DOUBLE) / t.total AS score
FROM (SELECT DISTINCT doc_id FROM documents) dd
CROSS JOIN (SELECT DISTINCT label FROM dist) l
JOIN tot t ON t.label = l.label
LEFT JOIN hits h ON h.doc_id = dd.doc_id AND h.label = l.label
ORDER BY dd.doc_id, l.label"""


@register(
    "word_count_dist",
    _WC_CTES_HEAD := _WC_ORACLE[:_WC_ORACLE.index("SELECT dd.doc_id")] + """
    SELECT d.label, d.word,
           CAST(d.c AS DOUBLE) / CAST(t.total AS DOUBLE) AS prob
    FROM dist d JOIN tot t ON d.label = t.label
    ORDER BY d.label, d.word""",
    order=("label", "word"))
def q_word_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 calculate-word-count-dist itself (reference word_count.clj:19-38):
    top-N words per label by count (deterministic tiebreak word asc — the
    reference's tie order was map-iteration-dependent, SURVEY §2.5 F8),
    normalized by the top-N sum. Two hash aggs + one label-window."""
    from pyspark.sql import Window
    ann = _docs(spark, sf_dir).withColumn("words", tx.words_col("text"))
    gw = ann.select(
        F.col("lang").alias("label"),
        F.explode(F.expr(tx.go_word_forms_from_words_sql("words", "word")))
        .alias("word"))
    counts = gw.groupBy("label", "word").agg(F.count("*").alias("c"))
    w = Window.partitionBy("label").orderBy(F.desc("c"), F.asc("word"))
    topn = (counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3))
    tot = Window.partitionBy("label")
    return (topn.withColumn(
        "prob", F.col("c").cast("double")
        / F.sum("c").over(tot).cast("double"))
        .select("label", "word", "prob"))


@register("word_count_scores", _WC_ORACLE, order=("doc_id", "label"))
def q_word_count_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7-F12: fit word-count dist per lang label, score every doc.
    Long output (doc_id, label, score)."""
    from clj_nlp_parse_spark.operators.word_count import WordCountFeaturizer
    docs = _docs(spark, sf_dir)
    fz = WordCountFeaturizer(words_by_label_count=3, label_col="lang",
                             text_col="text")
    model = fz.fit(docs)
    wide = fz.transform(docs, model, id_col="doc_id")
    labs = model.labels()
    stack = ", ".join(f"'{lab}', word_count_{lab}" for lab in labs)
    return wide.select(
        "doc_id",
        F.expr(f"stack({len(labs)}, {stack}) AS (label, score)"),
    )


# ------------------------------------------------ dictionary / mention engine
from clj_nlp_parse_spark.operators import dictionary as D

# Fixed demo dictionary over the synthetic corpus vocabulary; exercises
# multi-token phrases, first-det-chop ('the line' → 'line'), and the
# lemma-match path ('dups' matched on lemma 'dup').
DICT_ITEMS = [
    D.DictItem(1, "table scan", "SCAN_OP"),
    D.DictItem(2, "hash join", "JOIN_OP"),
    D.DictItem(3, "the line", "LINE_T"),
    D.DictItem(4, "sort merge", "MERGE_OP"),
    D.DictItem(5, "dups", "RARE", lem_min_len=0),
]
_COMPILED = D.compile_items(DICT_ITEMS)


def _dict_cte() -> str:
    m = D.mentions_sql(_COMPILED, "words", "lemmas", "duck")
    return (_duck_toks_cte()
            + f", lm AS (SELECT doc_id, words, toks, "
              f"list_transform(toks, x -> x.lemma) AS lemmas FROM tk), "
              f"mn AS (SELECT doc_id, words, toks, {m} AS mentions FROM lm)")


@register(
    "dict_mentions",
    _dict_cte() + """
    SELECT doc_id, x.label AS label, x.item_id AS item_id,
           CAST(x.tok_beg AS BIGINT) AS tok_beg,
           CAST(x.tok_end AS BIGINT) AS tok_end
    FROM (SELECT doc_id, unnest(mentions) AS x FROM mn)
    ORDER BY doc_id, item_id, tok_beg""",
    order=("doc_id", "item_id", "tok_beg"))
def q_dict_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 token-regex/dictionary NER span tagging
    (reference tok_re.clj:112-191)."""
    tagged = D.tag_mentions(_docs(spark, sf_dir), DICT_ITEMS)
    return (tagged.select("doc_id",
                          F.explode("tok_re_mentions").alias("x"))
            .select("doc_id", F.col("x.label").alias("label"),
                    F.col("x.item_id").alias("item_id"),
                    F.col("x.tok_beg").cast("long").alias("tok_beg"),
                    F.col("x.tok_end").cast("long").alias("tok_end")))


_MF_COLS_DUCK = []
for _e in sorted({i.label for i in DICT_ITEMS}):
    _le = _e.lower()
    _MF_COLS_DUCK.append(
        f"CAST(len(list_filter(mentions, m -> m.label = '{_e}')) AS BIGINT)"
        f" AS mentions_count_{_le}")
    _MF_COLS_DUCK.append(
        f"CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
        f"CAST(len(list_filter(mentions, m -> m.label = '{_e}')) AS DOUBLE)"
        f" / CAST(len(toks) AS DOUBLE) END AS mentions_ratio_{_le}")


@register(
    "mention_features",
    _dict_cte() + " SELECT doc_id, " + ", ".join(_MF_COLS_DUCK)
    + " FROM mn ORDER BY doc_id",
    order=("doc_id",))
def q_mention_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 mentions-features, zero-defaulted
    (reference feature/lang.clj:193-237)."""
    tagged = D.tag_mentions(_docs(spark, sf_dir), DICT_ITEMS)
    ents = sorted({i.label for i in DICT_ITEMS})
    # r6: the token count = size(words) == size(toks) by construction —
    # the full annotated struct drops out of the plan entirely
    return tagged.select(
        "doc_id",
        *D.mentions_feature_cols("tok_re_mentions", "words", ents),
    )


@register(
    "mention_token_join",
    _dict_cte() + """
    SELECT doc_id, x.label AS label, x.item_id AS item_id,
           CAST(x.pos AS BIGINT) AS pos, x.word AS word
    FROM (SELECT doc_id,
            unnest(flatten(list_transform(mentions, m ->
              list_transform(
                list_filter(range(1, len(words) + 1),
                            i -> m.tok_beg <= i - 1 AND i - 1 < m.tok_end),
                i -> struct_pack(label := m.label, item_id := m.item_id,
                                 pos := i - 1, word := words[i]))))) AS x
          FROM mn)
    ORDER BY doc_id, item_id, pos""",
    order=("doc_id", "item_id", "pos"))
def q_mention_token_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5/O7/O10 containment range join mention↔token
    (reference parse.clj:173-240)."""
    out = D.mention_token_join(_docs(spark, sf_dir), DICT_ITEMS)
    return out.select("doc_id", "label", "item_id",
                      F.col("pos").cast("long").alias("pos"), "word")


# Dictionary OPTION parity (VERDICT r01 #1/#2): case_min_tok case-sensitive
# matching, conj and|& alternation (reference DEFAULT, tok_re.clj:39),
# verbatim-regex items, det-chop/case interplay, and the features map
# surfaced from the Catalyst mention struct. The corpus is all-lowercase,
# so the query derives deterministic case + conjunction variance in-query
# (upper() every 3rd doc; ' slow ' → ' and ') — identically in both
# dialects.
DICT_OPT_ITEMS = [
    # case-sensitive (2 tokens >= case_min_tok=2): matches only upper docs
    D.DictItem(21, "FAST TABLE", "CS_UP", case_min_tok=2,
               features={"food-type": "snack"}),
    # case-sensitive lowercase twin: matches only non-upper docs
    D.DictItem(22, "fast table", "CS_LO", case_min_tok=2),
    # conj alternation: item '&' matches every 'and' token (tok_re.clj:120-122)
    D.DictItem(23, "&", "CONJ"),
    # verbatim regex (RE2∩Java subset), case-sensitive full match
    D.DictItem(24, "/[a-z]*ow/", "RE_OW", is_regexp=True),
    # leading-the chop runs on lowercase even for a case-sensitive item
    D.DictItem(25, "THE line", "CHOP_CS", case_min_tok=0),
    # trailing-the chop (massage-tokens first?=true on the last token)
    D.DictItem(26, "line the", "CHOP_TRAIL"),
]
_OPT_COMPILED = D.compile_items(DICT_OPT_ITEMS)
_OPT_TEXT = ("CASE WHEN doc_id % 3 = 0 THEN "
             "upper(replace(text, ' slow ', ' and ')) "
             "ELSE replace(text, ' slow ', ' and ') END")


def _dict_opt_cte() -> str:
    words = dialect.tokens_expr("text", "duck")
    cased = D.cased_tokens_safe_expr("text", "words", "duck")
    lem = dialect.lemma_case_expr("t", "duck")
    m = D.mentions_sql(_OPT_COMPILED, "words", "lemmas", "duck",
                       cased="cased", with_features=True)
    return (f"WITH src AS (SELECT doc_id, {_OPT_TEXT} AS text "
            f"FROM documents), "
            f"w0 AS (SELECT doc_id, text, {words} AS words FROM src), "
            f"w AS (SELECT doc_id, words, {cased} AS cased FROM w0), "
            f"lm AS (SELECT doc_id, words, cased, "
            f"list_transform(words, t -> ({lem})) AS lemmas FROM w), "
            f"mn AS (SELECT doc_id, {m} AS mentions FROM lm)")


@register(
    "dict_mentions_options",
    _dict_opt_cte() + """
    SELECT doc_id, x.label AS label, x.item_id AS item_id,
           CAST(x.tok_beg AS BIGINT) AS tok_beg,
           CAST(x.tok_end AS BIGINT) AS tok_end,
           (x.features['food-type'])[1] AS food_type
    FROM (SELECT doc_id, unnest(mentions) AS x FROM mn)
    ORDER BY doc_id, item_id, tok_beg""",
    order=("doc_id", "item_id", "tok_beg"))
def q_dict_mentions_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 dictionary NER with full option parity: case_min_tok,
    conj-regexp and|& alternation, verbatim is_regexp, det-chop ordering,
    features map lookups (reference tok_re.clj:29-46,97-160,
    ner_test.clj:46-50)."""
    src = _docs(spark, sf_dir).select("doc_id", F.expr(_OPT_TEXT).alias("text"))
    tagged = D.tag_mentions(src, DICT_OPT_ITEMS, with_features=True)
    return (tagged.select("doc_id",
                          F.explode("tok_re_mentions").alias("x"))
            .select("doc_id", F.col("x.label").alias("label"),
                    F.col("x.item_id").alias("item_id"),
                    F.col("x.tok_beg").cast("long").alias("tok_beg"),
                    F.col("x.tok_end").cast("long").alias("tok_end"),
                    F.expr("x.features['food-type']").alias("food_type")))


# ------------------------------------------------------------- dedup suite
from clj_nlp_parse_spark.operators import dedup as DD
from clj_nlp_parse_spark.operators import similarity as SIM
from clj_nlp_parse_spark.operators import textstats as TS

_WD_CTE = (f"WITH wd AS (SELECT doc_id, text, "
           f"{dialect.tokens_expr('text', 'duck')} AS words FROM documents)")


@register(
    "dedup_exact",
    f"""
    WITH h AS (SELECT doc_id, md5({DD.norm_text_sql('text', 'duck')})
                 AS text_hash FROM documents)
    SELECT doc_id, text_hash,
      CAST(count(*) OVER (PARTITION BY text_hash) AS BIGINT) AS group_size,
      doc_id = min(doc_id) OVER (PARTITION BY text_hash) AS keep
    FROM h ORDER BY doc_id""",
    order=("doc_id",))
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_docs(spark, sf_dir))


_MH_DUCK = DD.minhash_sig_sql("hs")
_MH_SIG_CTE = (_WD_CTE + f", sh AS (SELECT doc_id, "
               f"{DD.word_shingles_sql('words', 3, 'duck')} AS shingles "
               f"FROM wd), hh AS (SELECT doc_id, "
               f"{DD.shingle_hashes_sql('shingles', 'duck')} AS hs FROM sh), "
               "sig AS (SELECT doc_id, "
               + ", ".join(f"{s} AS mh_{i}" for i, s in enumerate(_MH_DUCK))
               + " FROM hh)")


@register(
    "minhash_signatures",
    _MH_SIG_CTE + " SELECT * FROM sig ORDER BY doc_id",
    order=("doc_id",))
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_signatures(_docs(spark, sf_dir))


_SIG_COLS = [f"mh_{i}" for i in range(DD.MINHASH_K)]
_BANDS_DUCK = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, {DD.band_hash_sql(_SIG_COLS, b, 'duck')} AS bh "
    f"FROM sig" for b in range(DD.LSH_BANDS))


@register(
    "lsh_pairs",
    _MH_SIG_CTE + f""", buckets AS ({_BANDS_DUCK})
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM buckets l JOIN buckets r
      ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
    ORDER BY doc_a, doc_b""",
    order=("doc_a", "doc_b"))
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.lsh_candidate_pairs(_docs(spark, sf_dir))


@register(
    "simhash",
    _WD_CTE + f"""
    , hh AS (SELECT doc_id, {DD.word_hashes_sql('words', 'duck')} AS hs
             FROM wd)
    SELECT doc_id, {DD.simhash_sql('hs', 32)} AS simhash
    FROM hh ORDER BY doc_id""",
    order=("doc_id",))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash(_docs(spark, sf_dir), bits=32)


# candidate-pair CTE core, shared verbatim by the jaccard_pairs oracle and
# the recursive connected-components oracle (dedup_groups)
_JP_CORE = _WD_CTE + f"""
    , sh AS (SELECT doc_id, {DD.word_shingles_sql('words', 3, 'duck')}
               AS shingles FROM wd)
    , sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh)
    , inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
    , inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(count(*) AS BIGINT) AS inter
                FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)"""


@register(
    "jaccard_pairs",
    _JP_CORE + """
    SELECT doc_a, doc_b, inter,
      CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE)
        AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE)
          >= 0.5
    ORDER BY doc_a, doc_b""",
    order=("doc_a", "doc_b"))
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BASELINE ONLY — not a scale path. The unbounded inverted-index
    self-join goes quadratic on hot shingles at 100×; production uses
    jaccard_pairs_prefix (exact PPJoin, same oracle, measured 18.8× faster)
    or jaccard_pairs_capped. Kept registered so the pruning variants are
    provably lossless against it."""
    return DD.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


# ------------------------------------------------------- similarity search
@register(
    "similarity_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec
               FROM embeddings WHERE vec_id < 3)
    , scored AS (SELECT q.qid, e.vec_id,
                   {SIM.cosine_sql('q.qvec', 'e.embedding', 'duck')} AS cosine
                 FROM embeddings e CROSS JOIN q)
    SELECT qid, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT qid, vec_id, cosine,
        row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)
          AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY qid, rank""",
    order=("qid", "rank"))
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BASELINE ONLY — not a scale path. Brute-force full scan per
    query by construction; production ANN is ivf_topk (cell-probe join,
    recall-tested) or lsh_topk. Kept registered as the exact-answer
    baseline the ANN variants are measured against."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.brute_force_topk(emb, queries, k=5)
    return out.select("qid", "vec_id", "cosine",
                      F.col("rank").cast("int").alias("rank"))


# ----------------------------------------------------------- text analysis
_TC_DUCK = TS.token_counts_sql("text", "words", "duck")
_FP_DUCK = TS.fingerprint_sql("words", "duck")


@register(
    "text_stats",
    _WD_CTE + f"""
    SELECT doc_id,
      {TS.lang_id_sql('words', 'duck')} AS lang_pred,
      {TS.quality_score_sql('text', 'words', 'duck')} AS quality,
      {TS._stop_ratio_sql('words', 'duck')} AS stop_ratio,
      {_TC_DUCK['n_ws_tokens']} AS n_ws_tokens,
      {_TC_DUCK['n_word_tokens']} AS n_word_tokens,
      {_TC_DUCK['n_bpe_tokens']} AS n_bpe_tokens,
      {_FP_DUCK['fp_min']} AS fp_min,
      {_FP_DUCK['fp_max']} AS fp_max,
      {_FP_DUCK['fp_n']} AS fp_n
    FROM wd ORDER BY doc_id""",
    order=("doc_id",))
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.text_stats(_docs(spark, sf_dir))


# O9 tokens-for-mention: synthesized mention per doc (sent_index = doc_id%4
# — sometimes past the last sentence, exercising the reference's guard);
# span = first two tokens of that sentence, positions utterance-level.
_SW_SPARK = features.sentence_words_sql("text", "spark")
_SW_DUCK = features.sentence_words_sql("text", "duck")


@register(
    "tokens_for_mention",
    f"""
    WITH sw AS (SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS m_sent,
                       {_SW_DUCK} AS sents FROM documents),
    g AS (SELECT doc_id, m_sent, sents,
            CASE WHEN m_sent < len(sents) THEN sents[m_sent + 1]
                 ELSE [] END AS stoks,
            CASE WHEN m_sent < len(sents) THEN
              CAST(coalesce(list_sum(list_transform(
                list_slice(sents, 1, m_sent), x -> len(x))), 0) AS INTEGER)
            ELSE 0 END AS off FROM sw)
    SELECT doc_id, x.w AS word, CAST(x.p AS BIGINT) AS pos
    FROM (SELECT doc_id,
            unnest(list_transform(
              list_filter(list_transform(range(1, len(stoks) + 1),
                i -> struct_pack(w := stoks[i], p := off + i - 1)),
                t -> off <= t.p AND t.p < off + 2),
              t -> t)) AS x
          FROM g)
    ORDER BY doc_id, pos""",
    order=("doc_id", "pos"))
def q_tokens_for_mention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 tokens-for-mention (reference parse.clj:221-228): the mention's
    sentence's tokens filtered by utterance-token-range containment, with
    the sent-index guard (mention pointing past the last sentence yields
    no rows instead of erroring). Pure projection + explode."""
    docs = _docs(spark, sf_dir)
    g = docs.select(
        "doc_id",
        (F.col("doc_id") % 4).cast("int").alias("m_sent"),
        F.expr(_SW_SPARK).alias("sents"))
    g = g.select(
        "doc_id", "m_sent", "sents",
        F.expr("CASE WHEN m_sent < size(sents) THEN "
               "try_element_at(sents, m_sent + 1) ELSE array() END")
        .alias("stoks"),
        F.expr("CASE WHEN m_sent < size(sents) THEN "
               "cast(aggregate(slice(sents, 1, m_sent), 0, "
               "(a, x) -> a + size(x)) as int) ELSE 0 END").alias("off"))
    pairs = g.select(
        "doc_id",
        F.explode(F.expr(
            "filter(transform(stoks, (w, i) -> "
            "named_struct('w', w, 'p', off + i)), "
            "t -> off <= t.p AND t.p < off + 2)")).alias("x"))
    return pairs.select(
        "doc_id", F.col("x.w").alias("word"),
        F.col("x.p").cast("long").alias("pos"))


_PH_SPARK = dialect.hash32_expr(DD.norm_text_sql("text", "spark"), "spark")
_PH_DUCK = dialect.hash32_expr(DD.norm_text_sql("text", "duck"), "duck")


# phash corpus CTE (base + injected near-dups), shared verbatim by the
# phash_near_dup and image_dedup_groups oracles — ONE copy of the
# injection constants (mirrored by the Spark-side _phash_corpus)
_PH_CORPUS_CTE = f"""base AS (SELECT doc_id, {_PH_DUCK} AS ph FROM documents),
    allv AS (SELECT doc_id, ph FROM base
             UNION ALL
             SELECT doc_id + 1000000, xor(ph, 1) FROM base WHERE doc_id < 25
             UNION ALL
             SELECT doc_id + 2000000, xor(ph, 21) FROM base WHERE doc_id < 5)"""


@register(
    "phash_near_dup",
    f"""
    WITH {_PH_CORPUS_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
    FROM allv a JOIN allv b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph, b.ph)) <= 2
    ORDER BY id_a, id_b""",
    order=("id_a", "id_b"))
def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash hamming near-dup pairs (image dedup on the
    north_star's phash column). Candidates come from banded equi-joins
    (pigeonhole: hamming<=2 over 4 bands forces a shared band) — the oracle
    is the QUADRATIC join, so the parity check also proves the banding
    lost nothing. phash derived deterministically from text (testdata has
    no binary column); near-dups injected at hamming 1 (must match) and
    hamming 3 (must not)."""
    allv = _phash_corpus(spark, sf_dir)
    return DD.phash_near_dup_pairs(allv, max_hamming=2, phash_col="ph")


def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phash_near_dup corpus (base + injected hamming-1 near-dups)."""
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", F.expr(_PH_SPARK).alias("ph"))
    dup1 = base.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("ph ^ 1").alias("ph"))
    dup3 = base.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("ph ^ 21").alias("ph"))
    return base.unionByName(dup1).unionByName(dup3)


@register(
    "image_dedup_groups",
    f"""
    WITH RECURSIVE {_PH_CORPUS_CTE},
    pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
              FROM allv a JOIN allv b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.ph, b.ph)) <= 2),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS node, least(u, min(v)) AS component
             FROM reach GROUP BY u)
    SELECT a.doc_id AS image_id,
           coalesce(c.component, a.doc_id) AS component,
           coalesce(c.component, a.doc_id) = a.doc_id AS keep
    FROM allv a LEFT JOIN comp c ON c.node = a.doc_id
    ORDER BY a.doc_id""",
    order=("image_id",))
def q_image_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10^12-image dedup decision end-to-end: phash hamming pairs
    (pigeonhole-banded equi-join, never quadratic) → connected components →
    one canonical image kept per perceptual-duplicate cluster. Same
    recursive-closure oracle pattern as dedup_groups; the injected
    hamming-1 duplicates MUST collapse onto their originals.

    Equal-phash images collapse to one representative before the banded
    pair join (near_dup_groups, VERDICT_r02 #3): a 10^6-copy boilerplate
    image yields 10^6-1 star edges instead of ~5*10^11 pairs; the CC
    closure is identical because hamming(x, x)=0 always pairs and the rep
    inherits every cross-group band match."""
    groups = DD.near_dup_groups(
        _phash_corpus(spark, sf_dir), "doc_id", F.col("ph"),
        lambda reps: DD.phash_near_dup_pairs(reps, max_hamming=2,
                                             phash_col="ph"))
    return groups.withColumnRenamed("doc_id", "image_id")


@register(
    "tfidf_top_terms",
    _WD_CTE + """
    , tok AS (SELECT doc_id, unnest(words) AS w FROM wd)
    , tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2)
    , dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1)
    , nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
    , scored AS (SELECT tf.doc_id, tf.w, tf.tf, dfq.df,
                   round(CAST(tf.tf AS DOUBLE) *
                     ln(CAST(nd.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)), 9)
                     AS tfidf
                 FROM tf JOIN dfq ON tf.w = dfq.w CROSS JOIN nd)
    SELECT doc_id, w AS word, tf, CAST(df AS BIGINT) AS df, tfidf,
           CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, w ASC) AS rank FROM scored)
    WHERE rank <= 3 ORDER BY doc_id, rank""",
    order=("doc_id", "rank"))
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per doc (training-pipeline text feature):
    two combiner-friendly hash aggs + broadcast N + doc-window top-k."""
    return TS.tfidf_top_terms(_docs(spark, sf_dir), k=3)


from clj_nlp_parse_spark.operators import sketches as SK


@register(
    "kmv_distinct",
    SK.kmv_sql("user_id % 10", "event_id", 64, "duck") + " ORDER BY g",
    order=("g",))
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per user bucket (deterministic mergeable
    sketch — bit-exact across engines unlike HLL, so the oracle verifies
    the estimate itself; accuracy + mergeability property-tested)."""
    ev = _events(spark, sf_dir)
    df = ev.select((F.col("user_id") % 10).alias("g"), "event_id")
    return SK.kmv_distinct(df, ["g"], "event_id", k=64)


@register(
    "cm_word_counts",
    SK.cm_sql(
        value_from=("SELECT unnest("
                    + dialect.tokens_expr("text", "duck")
                    + ") AS v FROM documents"),
        items_from=("SELECT word AS item FROM ("
                    "SELECT w AS word, count(*) AS c FROM ("
                    "SELECT unnest(" + dialect.tokens_expr("text", "duck")
                    + ") AS w FROM documents) GROUP BY 1 "
                    "ORDER BY c DESC, word ASC LIMIT 10)"),
        item_expr="word",
    ) + " ORDER BY word",
    order=("word",))
def q_cm_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates for the corpus's 10 most frequent
    words (deterministic md5 hash rows — the estimate itself is
    oracle-checked; overestimate + mergeability property-tested). At
    100 TB the sketch is a d×w table built by one combiner-friendly agg
    — heavy-hitter counts without a full word-count shuffle."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        F.explode(F.expr(dialect.tokens_expr("text", "spark"))).alias("w"))
    sketch = SK.cm_sketch(tok, "w")
    top = (tok.groupBy("w").agg(F.count("*").alias("c"))
           .orderBy(F.desc("c"), F.asc("w")).limit(10)
           .select(F.col("w").alias("word")))
    return SK.cm_point_estimates(sketch, top, item_col="word")


_SAMPLE_H = DD.h31_sql("cast(doc_id as string)", "spark")
_SAMPLE_H_DUCK = DD.h31_sql("CAST(doc_id AS VARCHAR)", "duck")


@register(
    "consistent_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_SAMPLE_H_DUCK} < CAST(0.2 * 2147483647 AS BIGINT)
    ORDER BY doc_id""",
    order=("doc_id",))
def q_consistent_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic consistent sampling (training-pipeline op): keep rows
    whose key-hash falls under the rate threshold. Unlike df.sample() it is
    reproducible across runs/engines/parallelism AND consistent across
    tables (the same doc_id samples in or out everywhere — joinable
    samples). Pure filter: pushes to the scan, no shuffle."""
    docs = _docs(spark, sf_dir)
    thr = int(0.2 * 2147483647)
    return (docs.where(F.expr(_SAMPLE_H) < thr)
            .select("doc_id", "lang"))


def consistent_sample_py(doc_ids: list[int], rate: float = 0.2) -> set[int]:
    """INDEPENDENT pure-Python twin of the consistent-sampling decision
    (hashlib only, no SQL rendering): doc_id is in the sample iff the
    md5-derived 31-bit hash of its decimal string falls under
    rate * (2^31 - 1). Fuzz-pinned in tests/test_fuzz_parity.py."""
    thr = int(rate * 2147483647)
    return {i for i in doc_ids if DD.h31_py(str(i)) < thr}


@register(
    "training_corpus_filter",
    _WD_CTE + f"""
    , q AS (SELECT doc_id, text, words,
              {TS.lang_id_sql('words', 'duck')} AS lang_pred,
              {TS.quality_score_sql('text', 'words', 'duck')} AS quality,
              md5({DD.norm_text_sql('text', 'duck')}) AS text_hash
            FROM wd)
    , d AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY text_hash)
              AS keep FROM q)
    SELECT doc_id, lang_pred, quality,
           CAST(len(words) AS BIGINT) AS n_words
    FROM d
    WHERE keep AND lang_pred = 'en' AND quality >= 0.4 AND len(words) >= 10
    ORDER BY doc_id""",
    order=("doc_id",))
def q_training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data admission filter (the composition a 100 TB
    curation pipeline actually runs): language-ID + quality threshold +
    min length + exact-dedup keep — one scan, one window shuffle on the
    text hash, every predicate Catalyst-pushable."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    wd = docs.withColumn(
        "words", F.expr(dialect.tokens_expr("text", "spark")))
    q = wd.select(
        "doc_id",
        F.expr(TS.lang_id_sql("words", "spark")).alias("lang_pred"),
        F.expr(TS.quality_score_sql("text", "words", "spark"))
        .alias("quality"),
        F.expr(f"md5({DD.norm_text_sql('text', 'spark')})")
        .alias("text_hash"),
        F.expr("size(words)").cast("long").alias("n_words"))
    w = Window.partitionBy("text_hash")
    d = q.withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
    return (d.where(F.col("keep") & (F.col("lang_pred") == "en")
                    & (F.col("quality") >= 0.4) & (F.col("n_words") >= 10))
            .select("doc_id", "lang_pred", "quality", "n_words"))


@register(
    "decontaminate",
    _WD_CTE + f"""
    , sh AS (SELECT doc_id, {DD.word_shingles_sql('words', 3, 'duck')}
               AS shingles FROM wd)
    , ev AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
             WHERE doc_id % 97 = 0)
    , tr AS (SELECT doc_id, unnest(shingles) AS s FROM sh
             WHERE doc_id % 97 <> 0)
    , bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.s = ev.s)
    SELECT d.doc_id, b.doc_id IS NOT NULL AS contaminated,
           b.doc_id IS NULL AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN bad b ON b.doc_id = d.doc_id
    ORDER BY d.doc_id""",
    order=("doc_id",))
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 appendix-C-shaped): every training
    doc sharing a 3-gram with the held-out eval split (doc_id % 97 = 0) is
    flagged (n=3 matches the synthetic corpus's short-doc scale; production
    uses 8-13); eval shingles broadcast into a semi-probe — the corpus pays
    one scan, no training-side shuffle."""
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    return DD.decontaminate(tr, ev, n=3)


_CURATION_SQL = _WD_CTE + f"""
    , tr0 AS (SELECT * FROM wd WHERE doc_id % 97 <> 0)
    , q AS (SELECT doc_id, text, words,
              {TS.lang_id_sql('words', 'duck')} AS lang_pred,
              {TS.quality_score_sql('text', 'words', 'duck')} AS quality,
              CAST(len(words) AS BIGINT) AS n_words,
              md5({DD.norm_text_sql('text', 'duck')}) AS text_hash
            FROM tr0)
    , d AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY text_hash)
              AS keep_exact FROM q)
    , sh AS (SELECT doc_id, {DD.word_shingles_sql('words', 3, 'duck')}
               AS shingles FROM wd)
    , ev AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
             WHERE doc_id % 97 = 0)
    , trs AS (SELECT doc_id, unnest(shingles) AS s FROM sh
              WHERE doc_id % 97 <> 0)
    , bad AS (SELECT DISTINCT trs.doc_id FROM trs JOIN ev ON trs.s = ev.s)
    SELECT d.doc_id,
           CASE WHEN d.lang_pred <> 'en' THEN 'not_en'
                WHEN d.quality < 0.4 THEN 'low_quality'
                WHEN d.n_words < 10 THEN 'too_short'
                WHEN NOT d.keep_exact THEN 'exact_dup'
                WHEN b.doc_id IS NOT NULL THEN 'contaminated'
                ELSE 'admitted' END AS reason,
           CASE WHEN d.lang_pred <> 'en' THEN 'not_en'
                WHEN d.quality < 0.4 THEN 'low_quality'
                WHEN d.n_words < 10 THEN 'too_short'
                WHEN NOT d.keep_exact THEN 'exact_dup'
                WHEN b.doc_id IS NOT NULL THEN 'contaminated'
                ELSE 'admitted' END = 'admitted' AS keep
    FROM d LEFT JOIN bad b ON b.doc_id = d.doc_id
    ORDER BY d.doc_id"""


@register("curation_pipeline", _CURATION_SQL, order=("doc_id",))
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data admission decision as ONE composed plan —
    what a 100 TB curation job actually submits: language-ID + quality +
    min-length gates, exact-dedup keep (hash-keyed window), and eval-set
    decontamination (broadcast shingle semi-probe), with a first-failing
    REASON per document (the per-stage drop accounting every curation run
    reports). One corpus scan + one window shuffle + one broadcast probe;
    near-dup GROUP dropping stays the separate dedup_groups op (its CC
    loop is iterative) and composes downstream on the keep list."""
    from clj_nlp_parse_spark.operators import curation as CU
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    return CU.curation_decide(tr, ev, n=3)


# oracle = the FULL recompute: incremental maintenance must be
# indistinguishable from rerunning the whole pipeline
@register("curation_incremental", _CURATION_SQL, order=("doc_id",))
def q_curation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation maintenance — the daily-crawl-increment job:
    the corpus is split at the 80th percentile of ids (a crawl increment
    always has NEWER ids than history); only the batch is scored, history
    passes through, and the only state consulted is the
    (text_hash, min_id) table. Oracle = the full-recompute SQL of
    curation_pipeline: the incremental output must be bit-identical to
    rerunning everything (the incremental_asof_update contract). The id
    threshold is a driver-side scalar max (documented eager metadata
    lookup, like choose_asof_strategy)."""
    from clj_nlp_parse_spark.operators import curation as CU
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    mx = tr.agg(F.max("doc_id")).collect()[0][0]
    thr = (mx or 0) * 4 // 5    # empty split → both halves empty, no crash
    base = tr.where(F.col("doc_id") <= thr)
    batch = tr.where(F.col("doc_id") > thr)
    prev = CU.curation_decide(base, ev, n=3)
    return CU.incremental_curation(prev, CU.hash_state(base), batch, ev, n=3)


@register(
    "stratified_sample",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          AS rn
      FROM documents)
    SELECT doc_id, lang FROM ranked WHERE rn <= 40
    ORDER BY lang, doc_id""",
    order=("lang", "doc_id"))
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sampling per language — the training-mix
    operator ('40 docs per lang'): deterministic md5 order inside each
    stratum, so the sample is stable across runs/clusters and joinable.
    One window shuffle on the stratum key; quota predicate applied inside
    the window (Spark pushes rank limits into the sort at scale)."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (docs.select("doc_id", "lang",
                        F.row_number().over(w).alias("rn"))
            .where(F.col("rn") <= 40)
            .select("doc_id", "lang"))


_MIX_QUOTA_CTES = """
    c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY lang),
    s AS (SELECT lang, n,
            CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s FROM c),
    t AS (SELECT lang, n, s, sum(n) OVER () AS tn, sum(s) OVER () AS ts
          FROM s),
    q AS (SELECT lang, n, least(n, ((tn // 2) * s) // ts) AS q FROM t)"""


@register(
    "corpus_mix",
    f"""
    WITH {_MIX_QUOTA_CTES},
    r AS (SELECT doc_id, lang,
            row_number() OVER (PARTITION BY lang
                               ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                        doc_id) AS rn
          FROM documents)
    SELECT r.doc_id, r.lang
    FROM r JOIN q ON r.lang IS NOT DISTINCT FROM q.lang
    WHERE r.rn <= q.q
    ORDER BY r.lang, r.doc_id""",
    order=("lang", "doc_id"))
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (the pretraining data-mix op,
    LLaMA/data-mixture-style): per-language quotas ∝ n^0.5 (temperature-2
    downweighting of huge strata), total budget = half the corpus, each
    stratum admitted by deterministic md5 rank up to its quota. ALL
    quota arithmetic is integer (integer sqrt, integer window sums,
    integer floor-division) so the allocation is bit-exact across
    engines — no float normalization whose summation order could differ.
    One tiny per-lang agg (+ unpartitioned window over the handful of
    strata) broadcast-joined into the ranked corpus; NULL lang is its
    own stratum (eqNullSafe join, the corpus_profile precedent)."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    counts = (docs.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
              .withColumn("s", F.expr(
                  "cast(floor(sqrt(cast(n as double))) as bigint)")))
    wall = Window.partitionBy()
    quota = (counts
             .withColumn("tn", F.sum("n").over(wall))
             .withColumn("ts", F.sum("s").over(wall))
             .withColumn("q", F.expr(
                 "least(n, ((tn div 2) * s) div ts)"))
             .select("lang", "q"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    ranked = docs.select("doc_id", "lang",
                         F.row_number().over(w).alias("rn"))
    return (ranked.join(F.broadcast(quota),
                        ranked["lang"].eqNullSafe(quota["lang"]))
            .where(F.col("rn") <= F.col("q"))
            .select(ranked["doc_id"], ranked["lang"]))


@register(
    "corpus_mix_consistent",
    f"""
    WITH {_MIX_QUOTA_CTES},
    thr AS (SELECT lang,
              (2147483647 // n) * q + ((2147483647 % n) * q) // n AS thr
            FROM q)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang IS NOT DISTINCT FROM thr.lang
    WHERE ({DD.h31_sql('CAST(doc_id AS VARCHAR)', 'duck')}) < thr.thr
    ORDER BY d.lang, d.doc_id""",
    order=("lang", "doc_id"))
def q_corpus_mix_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for corpus mixing: instead of an exact per-stratum
    rank (whose window must sort whole strata once quotas stop being
    literals — no WindowGroupLimit pushdown), admit doc_id iff its h31
    hash falls under floor(MOD * q / n) for its stratum — a zero-shuffle
    broadcast-join + pushed filter whose sample size is binomial around
    the quota but reproducible across runs/engines/tables (the
    consistent-sample contract). The threshold uses the overflow-free
    two-term floor division (MOD//n)*q + ((MOD%n)*q)//n — exact integer
    for strata up to ~3e9 docs, bit-identical in both engines."""
    docs = _docs(spark, sf_dir)
    counts = (docs.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
              .withColumn("s", F.expr(
                  "cast(floor(sqrt(cast(n as double))) as bigint)")))
    from pyspark.sql import Window
    wall = Window.partitionBy()
    thr = (counts
           .withColumn("tn", F.sum("n").over(wall))
           .withColumn("ts", F.sum("s").over(wall))
           .withColumn("q", F.expr("least(n, ((tn div 2) * s) div ts)"))
           .withColumn("thr", F.expr(
               "(2147483647 div n) * q + ((2147483647 % n) * q) div n"))
           .select(F.col("lang").alias("mix_lang"), "thr"))
    h = F.expr(f"({dialect.hash32_expr('cast(doc_id as string)', 'spark')}"
               f" % 2147483647)")
    return (docs.join(F.broadcast(thr),
                      docs["lang"].eqNullSafe(F.col("mix_lang")))
            .where(h < F.col("thr"))
            .select("doc_id", "lang"))


def corpus_mix_py(docs: list[tuple], exact: bool = True) -> set[tuple]:
    """INDEPENDENT pure-Python twin of both mixing variants (hashlib +
    math.isqrt, zero SQL): integer-sqrt temperature weights, half-corpus
    budget, exact md5-rank admission (exact=True) or h31 hash-threshold
    admission (exact=False). Fuzz-pinned in tests/test_fuzz_parity.py."""
    import hashlib
    import math
    strata: dict = {}
    for doc_id, lang in docs:
        strata.setdefault(lang, []).append(doc_id)
    ns = {lang: len(ids) for lang, ids in strata.items()}
    ss = {lang: math.isqrt(n) for lang, n in ns.items()}
    tn, ts = sum(ns.values()), sum(ss.values())
    quota = {lang: min(ns[lang], ((tn // 2) * ss[lang]) // ts)
             for lang in ns}
    out = set()
    mod = 2147483647
    for lang, ids in strata.items():
        if exact:
            ids.sort(key=lambda i: (
                hashlib.md5(str(i).encode()).hexdigest(), i))
            out.update((i, lang) for i in ids[:quota[lang]])
        else:
            n, q = ns[lang], quota[lang]
            thr = (mod // n) * q + ((mod % n) * q) // n
            out.update((i, lang) for i in ids
                       if DD.h31_py(str(i)) < thr)
    return out


def stratified_sample_py(docs: list[tuple], quota: int = 40) -> set[tuple]:
    """INDEPENDENT pure-Python twin of the exact-quota stratified sample
    (hashlib only): within each lang stratum (NULL is its own stratum)
    order by (md5 hex of the decimal doc_id string, doc_id) and keep the
    first `quota`. Returns {(doc_id, lang)}. Fuzz-pinned in
    tests/test_fuzz_parity.py."""
    import hashlib
    strata: dict = {}
    for doc_id, lang in docs:
        strata.setdefault(lang, []).append(doc_id)
    out = set()
    for lang, ids in strata.items():
        ids.sort(key=lambda i: (
            hashlib.md5(str(i).encode()).hexdigest(), i))
        out.update((i, lang) for i in ids[:quota])
    return out


#: passage width (tokens) for exact-substring dedup. Lee et al. 2021
#: ("Deduplicating Training Data Makes Language Models Better") removes
#: duplicated >=50-token substrings via suffix arrays; the
#: Spark-distributable restatement chunks each doc into NON-overlapping
#: k-token passages and dedups exact passage matches corpus-wide —
#: the line/passage-hash dedup used by RefinedWeb/Dolma-style pipelines.
#: k=10 (not 50) so the sf0.01 corpus exercises real cross-doc matches.
PASSAGE_K = 10


_PASSAGE_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    chunks AS (
      SELECT doc_id, i AS chunk_pos,
             array_to_string(t[(i*{PASSAGE_K}+1):(i*{PASSAGE_K}+{PASSAGE_K})],
                             ' ') AS chunk
      FROM toks,
           unnest(range(CAST(ceil(len(t)/{PASSAGE_K}.0) AS BIGINT))) u(i)),
    marked AS (
      SELECT doc_id, chunk_pos, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_pos) AS occ,
             count(*) OVER (PARTITION BY chunk) AS n_occ
      FROM chunks)
    SELECT doc_id,
      CAST(count(*) AS BIGINT) AS n_chunks,
      CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS dup_chunks,
      CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS removed_chunks,
      coalesce(string_agg(CASE WHEN occ = 1 THEN chunk END, ' '
                          ORDER BY chunk_pos), '') AS scrubbed_text
    FROM marked GROUP BY doc_id ORDER BY doc_id"""


def _passage_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_pos, chunk): non-overlapping PASSAGE_K-token
    passages built by a per-row `transform` over the token array — the
    explode is per PASSAGE (1/k of the tokens), never per token."""
    k = PASSAGE_K
    return (docs
            .select("doc_id", F.split("text", " ").alias("t"))
            .select("doc_id", F.posexplode(F.expr(
                f"transform(sequence(0, cast(ceil(size(t)/{k}.0) as int)"
                f" - 1), i -> array_join(slice(t, i*{k}+1, {k}), ' '))"))
                .alias("chunk_pos", "chunk")))


def _passage_doc_agg(marked: DataFrame) -> DataFrame:
    """Per-doc rebuild from (doc_id, chunk_pos, chunk, n_occ, is_first):
    counts plus the scrubbed text of first-occurrence passages in
    textual order."""
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
         .cast("long").alias("dup_chunks"),
        F.sum(F.when(~F.col("is_first"), 1).otherwise(0))
         .cast("long").alias("removed_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("is_first"),
                           F.struct("chunk_pos", "chunk")))),
                lambda x: x["chunk"]),
            " ").alias("scrubbed_text"))


@register("passage_dedup", _PASSAGE_SQL, order=("doc_id",))
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (passage) dedup, Lee-et-al-2021-shaped: chunk each
    doc into non-overlapping PASSAGE_K-token passages, find passages whose
    exact text recurs ANYWHERE in the corpus, keep only the globally first
    occurrence (min (doc_id, chunk_pos)), and emit per-doc dup stats plus
    the scrubbed text with later occurrences removed. Scale shape: chunks
    are built by a per-row `transform` over the token array (no token
    explode — the explode is per PASSAGE, 1/k of the tokens); first
    occurrence + occurrence count come from ONE groupBy(chunk) with
    map-side partial aggregation — m identical passages collapse to one
    record per map task BEFORE the shuffle, so the 100k-identical-docs hot
    key ships m partial rows, not m full rows, and there is no windowed
    global sort per chunk value (the oracle SQL deliberately uses the
    window formulation — different algorithm, same semantics). Rebuild is
    one groupBy(doc_id) over (pos, chunk) structs. Cites reference scope:
    the reference has exact utterance-level dedup only
    (src/clojure/zensols/nlparse/feature/word.clj word-count tables);
    passage-level is the graft-added training-pipeline op."""
    chunks = _passage_chunks(_docs(spark, sf_dir))
    firsts = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "chunk_pos")).alias("first_occ"),
        F.count("*").alias("n_occ"))
    marked = (chunks.join(firsts, "chunk")
              .select("doc_id", "chunk_pos", "chunk", "n_occ",
                      ((F.col("first_occ.doc_id") == F.col("doc_id"))
                       & (F.col("first_occ.chunk_pos")
                          == F.col("chunk_pos"))).alias("is_first")))
    return _passage_doc_agg(marked)


@register("passage_dedup_incremental", _PASSAGE_SQL, order=("doc_id",))
def q_passage_dedup_incremental(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Incremental passage-dedup maintenance — the daily-crawl-increment
    job: corpus split at the 80th percentile of ids (a crawl increment
    always has NEWER ids than history, the curation_incremental split),
    and ONLY the batch's text is chunked; history is touched exclusively
    through its materialized state — the (chunk, doc_id, chunk_pos)
    inventory and its per-chunk (first_occ, count) aggregate, which at
    production scale are bucketed tables maintained across increments.
    Because batch ids sort after every history id, history docs'
    first-occurrence decisions (removed_chunks, scrubbed_text) are
    PROVABLY stable; the only history change is the unique→duplicated
    flip for chunks the batch repeats, applied as a keyed delta: the
    flip set comes from the batch-side aggregate (hist count == 1 AND
    batch count >= 1), joins back to the inventory on the chunk key, and
    updates dup_chunks per affected doc — O(|batch| + |touched keys|)
    work, no history text re-scan. Oracle = the FULL-recompute window
    SQL of passage_dedup: incremental output must be bit-identical to
    rerunning everything (the incremental_asof_update contract). The id
    threshold is a driver-side scalar max (documented eager metadata
    lookup, the curation_incremental precedent)."""
    docs = _docs(spark, sf_dir)
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    thr = (mx or 0) * 4 // 5    # empty corpus → both halves empty
    hist_chunks = _passage_chunks(docs.where(F.col("doc_id") <= thr))
    batch_chunks = _passage_chunks(docs.where(F.col("doc_id") > thr))

    hist_firsts = hist_chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "chunk_pos")).alias("h_first"),
        F.count("*").alias("hn"))
    # prev = the materialized per-doc output of the LAST increment
    prev = _passage_doc_agg(
        hist_chunks.join(hist_firsts, "chunk")
        .select("doc_id", "chunk_pos", "chunk",
                F.col("hn").alias("n_occ"),
                ((F.col("h_first.doc_id") == F.col("doc_id"))
                 & (F.col("h_first.chunk_pos") == F.col("chunk_pos")))
                .alias("is_first")))

    return (incremental_passage_update(
        prev, hist_firsts, hist_chunks, batch_chunks))


def incremental_passage_update(prev: DataFrame, hist_firsts: DataFrame,
                               hist_chunks: DataFrame,
                               batch_chunks: DataFrame) -> DataFrame:
    """Apply one crawl increment to materialized passage-dedup state.
    The three state tables (prev per-doc output, per-chunk (first, count)
    aggregate, chunk inventory) are each SCANNED EXACTLY ONCE and never
    shuffled: every join against state broadcasts the batch-derived
    (small) side — the increment≪corpus assumption shared with
    decontaminate/asof_incremental. When an increment is too large to
    broadcast its chunk-key set, bucket the state tables by chunk and
    these become shuffle-free bucketed joins instead; the plan shape is
    otherwise identical. Requires every batch doc_id > every history
    doc_id (crawl increments append)."""
    batch_firsts = batch_chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "chunk_pos")).alias("b_first"),
        F.count("*").alias("bn"))
    # prune state to batch-touched keys: ONE scan of the aggregate,
    # broadcast-probed — the big side never shuffles
    hn_touched = (hist_firsts.select("chunk", "hn")
                  .join(F.broadcast(batch_firsts.select("chunk")), "chunk"))
    touched = (batch_firsts
               .join(F.broadcast(hn_touched), "chunk", "left")
               .select("chunk", "b_first", "bn",
                       F.coalesce("hn", F.lit(0)).alias("hn")))
    batch_out = _passage_doc_agg(
        batch_chunks.join(F.broadcast(touched), "chunk")
        .select("doc_id", "chunk_pos", "chunk",
                (F.col("bn") + F.col("hn")).alias("n_occ"),
                ((F.col("hn") == 0)
                 & (F.col("b_first.doc_id") == F.col("doc_id"))
                 & (F.col("b_first.chunk_pos") == F.col("chunk_pos")))
                .alias("is_first")))

    # unique→dup flips: each such chunk has EXACTLY ONE history row in
    # the inventory — ONE broadcast-probed scan finds it
    flips = touched.where(F.col("hn") == 1).select("chunk")
    delta = (hist_chunks.join(F.broadcast(flips), "chunk")
             .groupBy("doc_id").agg(F.count("*").alias("add_dups")))
    hist_out = (prev.join(F.broadcast(delta), "doc_id", "left")
                .select("doc_id", "n_chunks",
                        (F.col("dup_chunks")
                         + F.coalesce("add_dups", F.lit(0)))
                        .cast("long").alias("dup_chunks"),
                        "removed_chunks", "scrubbed_text"))
    return hist_out.unionByName(batch_out)


def passage_dedup_py(docs: list[tuple], k: int = PASSAGE_K) -> dict:
    """INDEPENDENT pure-Python twin of passage_dedup (dict/list only, zero
    SQL): chunk docs in input order into k-token passages, first scan
    records the globally-minimal (doc_id, pos) and total count per exact
    passage text, second scan rebuilds. Returns {doc_id: (n_chunks,
    dup_chunks, removed_chunks, scrubbed_text)}. Fuzz-pinned in
    tests/test_fuzz_parity.py."""
    chunked: dict = {}
    for doc_id, text in docs:
        t = text.split(" ")
        chunked[doc_id] = [
            " ".join(t[i * k:i * k + k])
            for i in range((len(t) + k - 1) // k)]
    first: dict = {}
    count: dict = {}
    for doc_id in sorted(chunked):
        for pos, c in enumerate(chunked[doc_id]):
            count[c] = count.get(c, 0) + 1
            if c not in first or (doc_id, pos) < first[c]:
                first[c] = (doc_id, pos)
    out = {}
    for doc_id, cs in chunked.items():
        kept = [c for pos, c in enumerate(cs)
                if first[c] == (doc_id, pos)]
        out[doc_id] = (
            len(cs),
            sum(1 for c in cs if count[c] > 1),
            len(cs) - len(kept),
            " ".join(kept))
    return out


# PII scrubbing — the corpus is synthetic word-salad with no PII, so the
# query derives deterministic injections in-query (identical in both
# dialects), then redacts them. Regexes are in the Java∩RE2 common subset.
_PII_TEXT = ("CASE WHEN doc_id % 5 = 0 THEN "
             "concat(text, ' contact u', cast(doc_id as string), "
             "'@example.com via https://ex.com/d/', "
             "cast(doc_id as string), ' now') ELSE text END")
# raw Python strings = the actual regexes; the DuckDB oracle embeds them in
# SQL literals verbatim (DuckDB keeps backslashes), the Spark side passes
# them through the DataFrame API (no SQL-literal unescaping involved)
_RE_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
_RE_URL = r"https?://[^ ]+"


def pii_scrub_py(text: str) -> tuple:
    """INDEPENDENT pure-Python twin of the pii_scrub projection
    (re module vs Catalyst regexp — same greedy semantics on these
    character-class patterns): (n_emails, n_urls, scrubbed) with the
    same count-before-redact and emails-before-urls replacement order.
    Fuzz-asserted in tests/test_fuzz_parity.py."""
    import re
    n_emails = len(re.findall(_RE_EMAIL, text))
    n_urls = len(re.findall(_RE_URL, text))
    scrubbed = re.sub(_RE_URL, "<URL>",
                      re.sub(_RE_EMAIL, "<EMAIL>", text))
    return n_emails, n_urls, scrubbed



@register(
    "pii_scrub",
    f"""
    WITH src AS (SELECT doc_id, {_PII_TEXT} AS text FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '{_RE_EMAIL}')) AS BIGINT)
        AS n_emails,
      CAST(len(regexp_extract_all(text, '{_RE_URL}')) AS BIGINT) AS n_urls,
      regexp_replace(regexp_replace(text, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                     '{_RE_URL}', '<URL>', 'g') AS scrubbed
    FROM src ORDER BY doc_id""",
    order=("doc_id",))
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing for training corpora: count + redact emails and
    URLs in one projection (pure Catalyst regexp — no Python, fully
    pushdown-friendly). Counting happens before redaction; replacement
    order (emails first) prevents the URL rule from seeing email hosts."""
    src = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_PII_TEXT).alias("text"))
    return (src.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_RE_EMAIL), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_RE_URL), F.lit(0)))
        .cast("long").alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace("text", _RE_EMAIL, "<EMAIL>"),
            _RE_URL, "<URL>").alias("scrubbed")))


@register(
    "repetition_stats",
    """
    WITH w AS (SELECT doc_id,
                 regexp_extract_all(lower(coalesce(text, '')),
                                    '[a-z0-9'']+') AS words
               FROM documents),
    g AS (SELECT doc_id,
            unnest(CASE WHEN len(words) >= 3 THEN
              list_transform(range(1, len(words) - 1),
                             i -> array_to_string(words[i:i+2], ' '))
              ELSE [] END) AS g3
          FROM w),
    cnt AS (SELECT doc_id, g3, count(*) AS c FROM g GROUP BY 1, 2),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_3grams,
              CAST(count(*) AS BIGINT) AS distinct_3grams,
              CAST(max(c) AS BIGINT) AS top_count
            FROM cnt GROUP BY doc_id)
    SELECT d.doc_id,
      coalesce(a.total_3grams, 0) AS total_3grams,
      coalesce(a.distinct_3grams, 0) AS distinct_3grams,
      CASE WHEN coalesce(a.total_3grams, 0) = 0 THEN 0.0 ELSE
        1.0 - CAST(a.distinct_3grams AS DOUBLE)
              / CAST(a.total_3grams AS DOUBLE) END AS dup_3gram_frac,
      CASE WHEN coalesce(a.total_3grams, 0) = 0 THEN 0.0 ELSE
        CAST(a.top_count AS DOUBLE) / CAST(a.total_3grams AS DOUBLE) END
        AS top_3gram_frac
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    ORDER BY d.doc_id""",
    order=("doc_id",))
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals: duplicate-3-gram
    fraction and most-frequent-3-gram mass. Implemented as explode + two
    hash aggs on (doc_id, gram) — combiner-friendly, no per-row quadratic
    scan, so a 10k-token document costs O(tokens), not O(tokens²)."""
    docs = _docs(spark, sf_dir)
    wd = docs.withColumn(
        "words", F.expr(dialect.tokens_expr("text", "spark")))
    g = wd.select(
        "doc_id",
        F.explode(F.expr(
            "CASE WHEN size(words) >= 3 THEN "
            "try_element_at(transform(array(words), ws -> "
            "transform(sequence(1, size(ws) - 2), "
            "i -> array_join(slice(ws, i, 3), ' '))), 1) "
            "ELSE array() END")).alias("g3"))
    cnt = g.groupBy("doc_id", "g3").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("total_3grams"),
        F.count("*").cast("long").alias("distinct_3grams"),
        F.max("c").cast("long").alias("top_count"))
    total = F.coalesce(F.col("total_3grams"), F.lit(0))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select(
                "doc_id",
                total.alias("total_3grams"),
                F.coalesce(F.col("distinct_3grams"), F.lit(0))
                .alias("distinct_3grams"),
                F.when(total == 0, F.lit(0.0)).otherwise(
                    F.lit(1.0) - F.col("distinct_3grams").cast("double")
                    / F.col("total_3grams").cast("double"))
                .alias("dup_3gram_frac"),
                F.when(total == 0, F.lit(0.0)).otherwise(
                    F.col("top_count").cast("double")
                    / F.col("total_3grams").cast("double"))
                .alias("top_3gram_frac")))


def _lm_oracle() -> str:
    from clj_nlp_parse_spark.operators import lm as LM
    return LM.oracle_sql()


@register("lm_perplexity", _lm_oracle(), order=("doc_id",))
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality scoring (CCNet-style corpus signal):
    add-one bigram LM fit on the consistent-sample train split, every doc
    scored in exact integer micro-nats so the per-doc aggregation is
    shuffle-order-independent and bit-exact vs the DuckDB oracle. One
    train scan -> localCheckpointed model table; one corpus scan ->
    broadcast model join -> per-doc re-agg (operators/lm.py)."""
    from clj_nlp_parse_spark.operators import lm as LM
    return LM.fit_score(_docs(spark, sf_dir))


def repetition_stats_py(text: str | None) -> tuple:
    """INDEPENDENT pure-Python twin of the Gopher-style repetition
    signals (collections.Counter, no SQL rendering): lowercase word
    tokens, 3-grams joined by spaces, (total, distinct, dup_3gram_frac,
    top_3gram_frac). Fuzz-pinned in tests/test_fuzz_parity.py."""
    from collections import Counter
    words = DD._tokens_py(text)
    grams = [" ".join(words[i:i + 3]) for i in range(len(words) - 2)]
    if not grams:
        return 0, 0, 0.0, 0.0
    c = Counter(grams)
    total, distinct = len(grams), len(c)
    return (total, distinct, 1.0 - distinct / total,
            max(c.values()) / total)


@register(
    "corpus_profile",
    """
    WITH w AS (SELECT doc_id, lang,
                 len(regexp_extract_all(lower(coalesce(text, '')),
                                        '[a-z0-9'']+')) AS n_tokens,
                 md5(lower(trim(coalesce(text, '')))) AS text_hash
               FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY n_tokens, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM w),
    base AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (n_tokens = 0) AS BIGINT) AS n_empty,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
               CAST(count(DISTINCT text_hash) AS BIGINT) AS distinct_texts
             FROM w GROUP BY lang),
    p50 AS (SELECT lang, CAST(n_tokens AS BIGINT) AS p50_tokens FROM r
            WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
    p90 AS (SELECT lang, CAST(n_tokens AS BIGINT) AS p90_tokens FROM r
            WHERE rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT)))
    SELECT b.lang, n_docs, n_empty, total_tokens, avg_tokens,
           distinct_texts, p50_tokens, p90_tokens
    FROM base b
    JOIN p50 ON b.lang IS NOT DISTINCT FROM p50.lang
    JOIN p90 ON b.lang IS NOT DISTINCT FROM p90.lang
    ORDER BY b.lang""",
    order=("lang",))
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data-quality profile per language: doc/empty counts, token
    totals, exact-dup distinct texts, and NEAREST-RANK p50/p90 token-count
    percentiles (rank arithmetic on integers → bit-exact across engines,
    unlike interpolated percentiles whose float op order differs).

    Scale shape (VERDICT_r02 #2): percentiles come from a
    ``groupBy(lang, n_tokens)`` HISTOGRAM + cumsum over that tiny agg —
    nearest-rank value at rank r is the smallest n_tokens whose cumulative
    count reaches r (doc_id tie-break in the oracle's row_number is
    irrelevant: ties share the same n_tokens value). No per-row window:
    the only Window sits above the histogram aggregate, whose cardinality
    is distinct-token-counts per lang (bounded by max doc length), not
    corpus rows — so no task ever sorts a whole stratum at 100×."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    w = docs.select(
        "doc_id", "lang",
        F.expr(f"size({dialect.tokens_expr('text', 'spark')})")
        .alias("n_tokens"),
        F.md5(F.expr("lower(trim(coalesce(text, '')))")).alias("text_hash"))
    base = w.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_if(F.col("n_tokens") == 0).cast("long").alias("n_empty"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count("*"))
        .alias("avg_tokens"),
        F.countDistinct("text_hash").cast("long").alias("distinct_texts"))
    hist = w.groupBy("lang", "n_tokens").agg(F.count("*").alias("cnt"))
    hwin = (Window.partitionBy("lang").orderBy("n_tokens")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    h = hist.select(
        "*",
        F.sum("cnt").over(hwin).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("n"))

    def _pctl(q: float, name: str) -> DataFrame:
        rank = F.greatest(
            F.lit(1), F.ceil(F.lit(q) * F.col("n")).cast("long"))
        return (h.where(F.col("cum") >= rank)
                .groupBy("lang")
                .agg(F.min("n_tokens").cast("long").alias(name)))

    # eqNullSafe (review r05): a plain equi-join silently DROPPED the
    # NULL-lang stratum from the profile — the bug class the packing
    # layout already guards against; twin-pinned in test_fuzz_parity
    p50 = _pctl(0.5, "p50_tokens").withColumnRenamed("lang", "__l50")
    p90 = _pctl(0.9, "p90_tokens").withColumnRenamed("lang", "__l90")
    return (base.join(p50, F.col("lang").eqNullSafe(F.col("__l50")))
            .join(p90, F.col("lang").eqNullSafe(F.col("__l90")))
            .select("lang", "n_docs", "n_empty", "total_tokens",
                    "avg_tokens", "distinct_texts", "p50_tokens",
                    "p90_tokens"))


#: target max rows sorted by one packing window task. The md5-prefix width
#: k is DERIVED from the corpus (VERDICT_r03 #4): smallest k with
#: biggest_stratum / 16**k <= this bound, so group size is bounded by a
#: constant at ANY corpus size instead of stratum/256.
PACK_TARGET_GROUP_ROWS = 1 << 20
#: cap on k: the pass-2 offset table is langs x 16**k rows; 16**6 = 16.7M
#: per lang still aggregates/sorts cheaply (few bytes/row) while bounding
#: strata up to 16**6 * 2**20 ~= 1.8e13 rows — beyond 100 TB of documents.
PACK_CHUNK_HEX_MAX = 6


#: per-(corpus, target) memo for choose_pack_chunk_hex (review r05): the
#: derivation scan is a metadata lookup, not part of the packing job, so
#: repeated builds in one session (bench timing loops, oracle checks)
#: should pay it once. Safe to cache per sf_dir: the testdata corpora are
#: immutable inputs; a production deployment keying on a mutable table
#: would key on the table's snapshot id instead.
_PACK_CHUNK_HEX_CACHE: dict[tuple[str, int], int] = {}


def choose_pack_chunk_hex(w: DataFrame,
                          target: int = PACK_TARGET_GROUP_ROWS,
                          cache_key: str | None = None) -> int:
    """Pick the md5-prefix chunk width from data: one cheap agg (column-
    pruned to lang, map-side combined) -> driver scalar, the
    choose_asof_strategy precedent. The packing LAYOUT is invariant to k —
    the chunk is a prefix of the md5 sort key, so chunk order == global
    order for every k — only the task-group bound changes. Pass
    cache_key (an immutable-corpus identifier, e.g. the sf_dir) to memo
    the scan across repeated plan builds in one session."""
    key = (cache_key, target) if cache_key is not None else None
    if key is not None and key in _PACK_CHUNK_HEX_CACHE:
        return _PACK_CHUNK_HEX_CACHE[key]
    biggest = (w.groupBy("lang").count()
               .agg(F.max("count").alias("m")).first()["m"]) or 0
    k = 1
    while biggest > target * (16 ** k) and k < PACK_CHUNK_HEX_MAX:
        k += 1
    if key is not None:
        _PACK_CHUNK_HEX_CACHE[key] = k
    return k


@register(
    "sequence_packing",
    """
    WITH w AS (SELECT doc_id, lang,
                 CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                                             '[a-z0-9'']+')) AS BIGINT)
                   AS n_tokens
               FROM documents),
    c AS (SELECT *, sum(n_tokens) OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM w)
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_offset
    FROM c ORDER BY lang, seq_id, doc_id""",
    order=("lang", "seq_id", "doc_id"))
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing: docs are laid out deterministically
    (md5 order per language stratum) along a token axis; each doc is
    assigned the 512-token training sequence where it STARTS (seq_id =
    floor(start/512)) plus its offset. Integer arithmetic only, so packing
    is reproducible across runs, engines, and parallelism (the property a
    resumable 100 TB tokenize-and-pack job needs).

    Scale shape (VERDICT_r02 #1): TWO-PASS DISTRIBUTED CUMSUM instead of
    one unbounded window per stratum. The stratum is split into 16**k
    deterministic chunks by md5 PREFIX (a prefix of the sort key, so chunk
    order == global md5 order — and unlike repartitionByRange's sampled
    bounds, the chunking is identical in both passes by construction):
    (1) local cumsum per (lang, chunk) window — group size bounded by
    PACK_TARGET_GROUP_ROWS because k is derived from a per-stratum count
    (choose_pack_chunk_hex, VERDICT_r03 #4); (2) per-chunk subtotals
    (langs x 16**k rows) get an exclusive running-sum offset via a window
    over that tiny agg, then broadcast-join back. cum = chunk_offset +
    local_cum. A 90 %-one-lang corpus no longer funnels through a single
    task, at ANY corpus size."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    chunk_hex = choose_pack_chunk_hex(
        docs.select("doc_id", "lang"),  # derived, not hard-coded (r03 #4)
        cache_key=sf_dir)               # memoized per corpus (r05)
    w = docs.select(
        "doc_id", "lang",
        F.expr(f"size({dialect.tokens_expr('text', 'spark')})")
        .cast("long").alias("n_tokens"),
        h.alias("__h"),
        F.substring(h, 1, chunk_hex).alias("__chunk"))
    local_win = (Window.partitionBy("lang", "__chunk")
                 .orderBy("__h", "doc_id")
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = w.withColumn("local_cum", F.sum("n_tokens").over(local_win))
    sub = w.groupBy("lang", "__chunk").agg(
        F.sum("n_tokens").alias("chunk_total"))
    off_win = (Window.partitionBy("lang").orderBy("__chunk")
               .rowsBetween(Window.unboundedPreceding, -1))
    offsets = sub.select(
        F.col("lang").alias("__olang"), F.col("__chunk").alias("__ochunk"),
        F.coalesce(F.sum("chunk_total").over(off_win), F.lit(0))
        .alias("chunk_offset"))
    # eqNullSafe on lang: window PARTITION BY groups NULL langs together,
    # so the offset join must too — a plain equi-join would silently DROP
    # every NULL-lang doc (regression-tested vs the single-window layout)
    c = (c.join(F.broadcast(offsets),
                F.col("lang").eqNullSafe(F.col("__olang"))
                & (F.col("__chunk") == F.col("__ochunk")))
         .drop("__olang", "__ochunk"))
    start = F.col("chunk_offset") + F.col("local_cum") - F.col("n_tokens")
    return (c.select(
        "doc_id", "lang", "n_tokens",
        F.floor(start / 512).cast("long").alias("seq_id"),
        (start % 512).cast("long").alias("seq_offset")))


def corpus_profile_py(docs: list[tuple]) -> list[tuple]:
    """INDEPENDENT pure-Python twin of q_corpus_profile over
    [(doc_id, lang, text)]: per-stratum counts, the same double
    division for avg, md5 distinct texts, and nearest-rank p50/p90 by
    direct sorted-list indexing (no histogram/cumsum machinery). The
    NULL-lang stratum is profiled like any other (the eqNullSafe
    contract). Fuzz-asserted in tests/test_fuzz_parity.py."""
    import hashlib
    import math
    import re

    from clj_nlp_parse_spark import dialect as _dl
    strata: dict = {}
    for _, lang, text in docs:
        n = len(re.findall(_dl.TOKEN_RE, (text or "").lower()))
        h = hashlib.md5(
            (text or "").lower().strip().encode("utf-8")).hexdigest()
        strata.setdefault(lang, []).append((n, h))
    out = []
    for lang, rows in strata.items():
        ns = sorted(n for n, _ in rows)
        total = sum(ns)
        rank = lambda q: max(1, math.ceil(q * len(ns)))
        out.append((lang, len(ns),
                    sum(1 for n in ns if n == 0), total,
                    float(total) / float(len(ns)),
                    len({h for _, h in rows}),
                    ns[rank(0.5) - 1], ns[rank(0.9) - 1]))
    return out


def sequence_packing_py(docs: list[tuple]) -> list[tuple]:
    """INDEPENDENT pure-Python twin of q_sequence_packing over
    [(doc_id, lang, text)]: ONE global md5-ordered cumsum per language
    stratum — none of the two-pass chunk/offset/broadcast machinery —
    so agreement proves the distributed layout equals the plain
    definition (fuzz-asserted in tests/test_fuzz_parity.py)."""
    import hashlib
    import re

    from clj_nlp_parse_spark import dialect as _dl
    strata: dict = {}
    for doc_id, lang, text in docs:
        n = len(re.findall(_dl.TOKEN_RE, (text or "").lower()))
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        strata.setdefault(lang, []).append((h, doc_id, n))
    out = []
    for lang, rows in strata.items():
        rows.sort()
        cum = 0
        for _, doc_id, n in rows:
            out.append((doc_id, lang, n, cum // 512, cum % 512))
            cum += n
    return out


from clj_nlp_parse_spark.operators import chunking as CH

# The synthetic corpus is OOV word-salad (fallback tag NN → one giant NP
# per doc, zero VPs), so the query derives verb/adverb/conjunction variance
# in-query — identical replace() chains in both dialects — to exercise run
# BREAKS, VP heads, and multi-chunk docs.
_CHUNK_TEXT = ("replace(replace(replace(text, ' scan ', "
               "' is running quickly '), ' merge ', "
               "' could be waiting now '), ' sort ', ' and ')")


@register(
    "np_vp_chunks",
    "WITH chunk_src AS (SELECT doc_id, " + _CHUNK_TEXT
    + " AS text FROM documents) ("
    + CH.chunks_sql(CH.NP_TAGS, CH.NP_HEAD_TAGS, "NP", "chunk_src")
    + ") UNION ALL ("
    + CH.chunks_sql(CH.VP_TAGS, CH.VP_HEAD_TAGS, "VP", "chunk_src")
    + ") ORDER BY doc_id, label, chunk_index",
    order=("doc_id", "label", "chunk_index"))
def q_np_vp_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8-surface deterministic shallow chunking: maximal NP and VP spans
    over the rule tagger's output, with head election — the span-extraction
    capability the reference gets from constituency trees
    (stanford.clj:381-405). Both labels come from one declared Arrow
    kernel pass (chunking.chunk_rows); the oracle states the same runs
    relationally (explode → lag run starts → cumsum run ids → per-run
    agg)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_CHUNK_TEXT).alias("text"))
    return CH.chunk_rows(docs)


# --------------------------------------------------------- image pipeline
#: committed golden fixture written by tools/make_image_stats.py with the
#: SAME deterministic synth+decode+stats code the query runs — the oracle
#: reads the fixture, the query re-materializes live; any behavior change
#: in the decode/stats path turns the driver's value-hash gate red.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_IMAGE_STATS_FIXTURE = os.path.join(
    _REPO_ROOT, "fixtures", "image_stats_2000.parquet")
#: scratch dir for the query's own materialization step (gitignored)
_IMAGE_STATS_SCRATCH = os.path.join(
    _REPO_ROOT, ".artifacts", "image_stats_{n}")
#: stale-scratch age gate: a sibling older than this is from a dead
#: session and safe to purge; younger siblings may belong to a LIVE
#: concurrent session and are left alone. Every invocation overwrites
#: its own scratch (refreshing its mtime), so a dir only looks stale
#: after its session has not re-invoked the query for this long — 12h
#: (review r05; was 1h) so only a session idle for half a day can race,
#: at the cost of a few extra ~50 KB dirs lingering between sessions.
_SCRATCH_TTL_S = 12 * 3600


#: applicationIds that already ran the sibling purge this process
_PURGED_APPS: set[str] = set()


def _purge_stale_scratch(keep: str, app_id: str,
                         ttl_s: int = _SCRATCH_TTL_S) -> None:
    """Delete per-applicationId scratch siblings older than ttl_s (review
    r04: they accumulated without bound — one dir per session). Runs
    ONCE per application (review r05): purging on every invocation
    multiplied the race window against live concurrent sessions; now a
    sibling can only be deleted at another session's FIRST invocation,
    and only if its own session has not re-invoked (each invocation's
    overwrite refreshes the dir mtime) for ttl_s. Residual, documented:
    a session that builds the DataFrame once, idles past ttl_s, and then
    re-triggers an action on the stale handle can still race a freshly
    started session — Spark re-reads the parquet lazily and there is no
    cross-JVM liveness signal for local applicationIds; the 12h TTL
    makes that window a deliberately rare edge."""
    import glob
    import os
    import shutil
    import time
    if app_id in _PURGED_APPS:
        return
    _PURGED_APPS.add(app_id)
    for old in glob.glob(_IMAGE_STATS_SCRATCH.format(n="*") + "_*"):
        try:
            if (old != keep
                    and time.time() - os.path.getmtime(old) > ttl_s):
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass


@register(
    "image_feature_materialization",
    f"""
    WITH s0 AS (SELECT entity_id, feature_ts, px_mean_r, px_std, sharpness
                FROM '{_IMAGE_STATS_FIXTURE}'),
    s AS (SELECT entity_id, feature_ts,
                 max(px_mean_r) AS px_mean_r, max(px_std) AS px_std,
                 max(sharpness) AS sharpness
          FROM s0 GROUP BY entity_id, feature_ts),
    p AS (SELECT entity_id, feature_ts + INTERVAL 1 SECOND AS event_ts
          FROM s)
    SELECT p.entity_id, epoch_ms(p.event_ts) AS event_ts_ms,
           epoch_ms(r.feature_ts) AS feature_ts_ms,
           r.px_mean_r, r.px_std, r.sharpness
    FROM p ASOF LEFT JOIN s r
      ON p.entity_id = r.entity_id AND p.event_ts >= r.feature_ts
    ORDER BY p.entity_id, event_ts_ms""",
    order=("entity_id", "event_ts_ms"))
def q_image_feature_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule flagship, now oracle-checked (VERDICT_r03 #3):
    synthesize the input_hint image table deterministically, extract
    pixel features in one Arrow stage (decode → stats → DROP bytes),
    MATERIALIZE the ~48-byte/row stats to parquet (the write is the
    point: bytes never cross a shuffle, only stats continue), read the
    materialization back, and as-of join per-entity probes against it.
    The DuckDB side replays the join half on the committed golden
    fixture (tools/make_image_stats.py — same seed-fixed code), so the
    value-hash gate covers decode + stats + write + as-of end-to-end;
    PSNR/leakage/determinism invariants stay under pytest.

    Ties: stats are pre-aggregated to one row per (entity_id,
    feature_ts) via max() on BOTH sides, so the as-of match is unique
    and the compare is deterministic.

    n is PINNED to the fixture's 2000 rows at every sf (review r04: an
    sf-dependent n made the oracle valid only at sf0.01) — the input is
    synthesized, so sf_dir does not change what this query computes; the
    scratch path carries the Spark applicationId so concurrent sessions
    (pytest + check_oracle) never overwrite each other's read."""
    from clj_nlp_parse_spark import synth
    from clj_nlp_parse_spark.operators import asof, images
    n = 2000
    imgs = synth.synth_images(spark, n)
    feats = images.extract_image_features(imgs)
    app_id = spark.sparkContext.applicationId
    scratch = _IMAGE_STATS_SCRATCH.format(n=n) + "_" + app_id
    _purge_stale_scratch(scratch, app_id)
    (feats.where("decode_ok")
     .select("entity_id", "feature_ts", "px_mean_r", "px_std", "sharpness")
     .write.mode("overwrite").parquet(scratch))
    s0 = (spark.read.parquet(scratch)
          .withColumn("feature_ts", F.col("feature_ts").cast("timestamp")))
    stats = s0.groupBy("entity_id", "feature_ts").agg(
        F.max("px_mean_r").alias("px_mean_r"),
        F.max("px_std").alias("px_std"),
        F.max("sharpness").alias("sharpness"))
    probes = stats.select(
        "entity_id",
        (F.col("feature_ts") + F.expr("INTERVAL 1 SECOND"))
        .alias("event_ts"))
    out = asof.asof_join(probes, stats, on=["entity_id"])
    return (out.select(
        "entity_id",
        F.unix_millis("event_ts").alias("event_ts_ms"),
        F.unix_millis("feature_ts").alias("feature_ts_ms"),
        "px_mean_r", "px_std", "sharpness"))


# -------------------------------------------------- SRL selection + verb id
@register(
    "srl_best_candidates",
    """
    WITH c AS (SELECT user_id AS sent_id, event_id AS cand_id,
                      value AS score, (event_id % 2 = 0) AS has_label,
                      CAST(user_id % 6 + 1 AS INTEGER) AS tok_count
               FROM events),
    a AS (SELECT *, max(CASE WHEN has_label THEN 1 ELSE 0 END)
                      OVER (PARTITION BY sent_id) = 1 AS any_label FROM c),
    r AS (SELECT *, row_number() OVER (PARTITION BY sent_id ORDER BY
            CASE WHEN tok_count <= 3 AND any_label
                 THEN -CAST(CAST(has_label AS INTEGER) AS DOUBLE)
                 ELSE -score END ASC, cand_id ASC) AS rn
          FROM a)
    SELECT sent_id, cand_id, score, has_label, tok_count
    FROM r WHERE rn = 1 ORDER BY sent_id""",
    order=("sent_id",))
def q_srl_best_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13/O14 SRL candidate ranking + short-sentence label preference
    (reference srl.clj:110-132); candidates synthesized from events."""
    from clj_nlp_parse_spark.operators import srl
    ev = _events(spark, sf_dir)
    cands = ev.select(
        F.col("user_id").alias("sent_id"),
        F.col("event_id").alias("cand_id"),
        F.col("value").alias("score"),
        (F.col("event_id") % 2 == 0).alias("has_label"),
        (F.col("user_id") % 6 + 1).cast("int").alias("tok_count"))
    return srl.select_best_candidates(cands)


_VERB_DUCK = dialect.hash32_expr("elected_verb", "duck")


@register(
    "verb_features",
    _duck_toks_cte() + f"""
    , rt AS (SELECT doc_id, toks,
        coalesce(list_filter(toks, x -> x.pos_type = 'verb')[1], toks[1])
          AS root FROM tk)
    , ev AS (SELECT doc_id,
        CASE WHEN toks[1].pos_type = 'verb' THEN toks[1].word
             WHEN root.pos_type = 'verb' THEN root.word
             ELSE '{schema.NONE_LABEL}' END AS elected_verb
      FROM rt)
    SELECT doc_id, elected_verb, {_VERB_DUCK} AS elected_verb_id
    FROM ev ORDER BY doc_id""",
    order=("doc_id",))
def q_verb_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 verb-features with deterministic dep-root
    (reference feature/lang.clj:33-59)."""
    from clj_nlp_parse_spark.operators import srl
    return srl.verb_features(_docs(spark, sf_dir))


register("asof_join_split", _ASOF_ORACLE, order=("event_id",))(
    _q_asof(strategy="union_window_split"))


# ------------------------------------------------------ remaining O/F covers
@register(
    "sentiment_labels",
    f"""
    WITH sw AS (SELECT doc_id, {_SENT_WORDS_DUCK} AS sws FROM documents),
    sc AS (SELECT doc_id,
             CAST(coalesce(list_sum(list_transform(sws, ws -> ({_SC}))), 0)
                  AS BIGINT) AS s FROM sw)
    SELECT doc_id, s AS sentiment,
      CASE WHEN s >= 2 THEN 'very positive' WHEN s = 1 THEN 'positive'
           WHEN s = 0 THEN 'neutral' WHEN s = -1 THEN 'negative'
           ELSE 'very negative' END AS sentiment_label
    FROM sc ORDER BY doc_id""",
    order=("doc_id",))
def q_sentiment_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 sentiment-score-to-label (reference parse.clj:242-252)."""
    from clj_nlp_parse_spark.functions.parse import sentiment_label
    sf = features.sentiment_features(_docs(spark, sf_dir))
    return sf.select(
        "doc_id", F.col("sentiment_utterance").alias("sentiment"),
        sentiment_label(F.col("sentiment_utterance")).alias("sentiment_label"),
    )


_PTYPE = dialect.pos_type_case_expr("x.pos_tag")
_PDESC = dialect.pos_description_case_expr("x.pos_tag")


@register(
    "pos_tag_taxonomy",
    _duck_toks_cte() + f"""
    SELECT doc_id, x.word AS word, x.pos_tag AS pos_tag,
           coalesce(x.pos_type, 'none') AS pos_type,
           ({_PDESC}) AS pos_description
    FROM (SELECT doc_id, unnest(toks) AS x FROM tk)
    ORDER BY doc_id, word, pos_tag""",
    order=("doc_id", "word", "pos_tag"))
def q_pos_tag_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 pos-tag-type taxonomy lookup per token, including the Penn
    Treebank tag description (reference parse.clj:24-123)."""
    ann = _docs(spark, sf_dir).withColumn(
        "words", tx.words_col("text")).withColumn(
        "toks", F.expr(tx.annotated_tokens_sql(
            "words", "spark", fields=("word", "pos_tag", "pos_type"))))
    return (ann.select("doc_id", F.explode("toks").alias("x"))
            .select("doc_id", F.col("x.word").alias("word"),
                    F.col("x.pos_tag").alias("pos_tag"),
                    F.coalesce(F.col("x.pos_type"), F.lit("none"))
                    .alias("pos_type"),
                    F.expr(_PDESC).alias("pos_description")))


_WC_LEMMA_ORACLE = _duck_toks_cte() + """
, gw AS (SELECT lang AS label, unnest(toks) AS x FROM tk)
, cnt AS (SELECT label, x.lemma AS word, count(*) AS c
          FROM gw WHERE x.is_go GROUP BY 1, 2)
, topn AS (SELECT label, word, c,
             row_number() OVER (PARTITION BY label ORDER BY c DESC, word ASC)
               AS rn
           FROM cnt)
, dist AS (SELECT label, word, c FROM topn WHERE rn <= 3)
, tot AS (SELECT label, sum(c) AS total FROM dist GROUP BY label)
, tokall AS (SELECT doc_id, unnest(toks) AS x FROM tk)
, hits AS (SELECT t.doc_id, d.label, sum(d.c) AS sc
           FROM tokall t JOIN dist d ON t.x.lemma = d.word GROUP BY 1, 2)
SELECT dd.doc_id, l.label,
       CAST(coalesce(h.sc, 0) AS DOUBLE) / t.total AS score
FROM (SELECT DISTINCT doc_id FROM documents) dd
CROSS JOIN (SELECT DISTINCT label FROM dist) l
JOIN tot t ON t.label = l.label
LEFT JOIN hits h ON h.doc_id = dd.doc_id AND h.label = l.label
ORDER BY dd.doc_id, l.label"""


@register("word_count_scores_lemma", _WC_LEMMA_ORACLE, order=("doc_id", "label"))
def q_word_count_scores_lemma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7-F12 with the lemma word-form variant (stopword.clj:24-26
    word-form-fn alternative)."""
    from clj_nlp_parse_spark.operators.word_count import WordCountFeaturizer
    docs = _docs(spark, sf_dir)
    fz = WordCountFeaturizer(words_by_label_count=3, label_col="lang",
                             text_col="text", form="lemma")
    model = fz.fit(docs)
    wide = fz.transform(docs, model, id_col="doc_id")
    labs = model.labels()
    stack = ", ".join(f"'{lab}', word_count_{lab}" for lab in labs)
    return wide.select(
        "doc_id",
        F.expr(f"stack({len(labs)}, {stack}) AS (label, score)"),
    )


_WC_CTES = _WC_ORACLE[:_WC_ORACLE.index("SELECT dd.doc_id")]


@register(
    "top_count_scores",
    _WC_CTES + """
    , ranked AS (
      SELECT dd.doc_id, l.label,
             CAST(coalesce(h.sc, 0) AS DOUBLE) / t.total AS score
      FROM (SELECT DISTINCT doc_id FROM documents) dd
      CROSS JOIN (SELECT DISTINCT label FROM dist) l
      JOIN tot t ON t.label = l.label
      LEFT JOIN hits h ON h.doc_id = dd.doc_id AND h.label = l.label)
    SELECT doc_id, label, score, CAST(rn AS INTEGER) AS rn FROM (
      SELECT doc_id, label, score,
        row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, label ASC) AS rn
      FROM ranked WHERE score > 0)
    WHERE rn <= 2 ORDER BY doc_id, rn""",
    order=("doc_id", "rn"))
def q_top_count_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 top-count-scores (reference word_count.clj:103-117)."""
    from clj_nlp_parse_spark.operators.word_count import WordCountFeaturizer
    docs = _docs(spark, sf_dir)
    fz = WordCountFeaturizer(words_by_label_count=3, label_col="lang",
                             text_col="text")
    model = fz.fit(docs)
    out = fz.top_count_scores(docs, model, num_counts=2, id_col="doc_id")
    return out.select("doc_id", "label", "score",
                      F.col("rn").cast("int").alias("rn"))


@register(
    "interval_overlap_join",
    """
    WITH iv AS (SELECT user_id, epoch_ms(ts) AS beg_ms,
                       epoch_ms(ts) + 600000 AS end_ms, event_id AS iv_id
                FROM events WHERE event_id % 10 = 0),
    pts AS (SELECT event_id, user_id, epoch_ms(ts) AS p_ms
            FROM events WHERE event_id % 10 <> 0)
    SELECT p.event_id, p.user_id, i.iv_id
    FROM pts p JOIN iv i
      ON p.user_id = i.user_id
     AND i.beg_ms <= p.p_ms AND p.p_ms <= i.end_ms
    ORDER BY p.event_id, i.iv_id""",
    order=("event_id", "iv_id"))
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5 interval-overlap/containment as a TABLE-level range join
    (reference parse.clj:173-192): equi-join on the entity plus range
    predicate — the bucketed form of SURVEY.md §2.6."""
    ev = _events(spark, sf_dir)
    iv = (ev.where(F.col("event_id") % 10 == 0)
          .select("user_id", F.unix_millis("ts").alias("beg_ms"),
                  (F.unix_millis("ts") + 600000).alias("end_ms"),
                  F.col("event_id").alias("iv_id")))
    pts = (ev.where(F.col("event_id") % 10 != 0)
           .select("event_id", "user_id", F.unix_millis("ts").alias("p_ms")))
    out = pts.join(iv, (pts.user_id == iv.user_id)
                   & (iv.beg_ms <= pts.p_ms) & (pts.p_ms <= iv.end_ms))
    return out.select(pts.event_id, pts.user_id, iv.iv_id)


_PLANES = SIM._hyperplanes(64, 6)  # embeddings dim is 64 in testdata
_SB_DUCK = SIM._sign_bucket_expr("embedding", _PLANES, "duck")
_COS_DUCK = SIM.cosine_sql("a.embedding", "b.embedding", "duck")


@register(
    "cosine_dedup_pairs",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + 1000000, embedding
               FROM embeddings WHERE vec_id < 50),
    vb AS (SELECT vec_id, embedding, {_SB_DUCK} AS b FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_DUCK} AS cosine
    FROM vb a JOIN vb b ON a.b = b.b AND a.vec_id < b.vec_id
    WHERE {_COS_DUCK} >= 0.99
    ORDER BY id_a, id_b""",
    order=("id_a", "id_b"))
def q_cosine_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup suite, round brief). The
    testdata embeddings are random (max pairwise cosine ~0.51), so exact
    duplicates are injected deterministically (vec_id<50 re-keyed +1e6) —
    the operator must find exactly those pairs and nothing else."""
    emb = _emb(spark, sf_dir)
    dups = (emb.where(F.col("vec_id") < 50)
            .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    e = emb.select("vec_id", "embedding").unionByName(dups)
    return SIM.cosine_dedup_pairs(e, threshold=0.99, dim=64, n_planes=6)


@register(
    "embedding_dedup_groups",
    f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + 1000000, embedding
               FROM embeddings WHERE vec_id < 50),
    vb AS (SELECT vec_id, embedding, {_SB_DUCK} AS b FROM e),
    pairs AS (SELECT a.vec_id AS u, b.vec_id AS v
              FROM vb a JOIN vb b ON a.b = b.b AND a.vec_id < b.vec_id
              WHERE {_COS_DUCK} >= 0.99),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
    comp AS (SELECT u AS node, least(u, min(v)) AS component
             FROM reach GROUP BY u)
    SELECT e.vec_id AS vec_id,
           coalesce(c.component, e.vec_id) AS component,
           coalesce(c.component, e.vec_id) = e.vec_id AS keep
    FROM e LEFT JOIN comp c ON c.node = e.vec_id
    ORDER BY e.vec_id""",
    order=("vec_id",))
def q_embedding_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-modality dedup GROUPS + canonical keep list — completes
    the dedup-groups family across all three modalities (text
    dedup_groups, image image_dedup_groups, embeddings here): hyperplane
    sign-bucket candidate pairs verified at cosine >= 0.99 → connected
    components → one canonical vector kept per near-duplicate cluster.

    Same near_dup_groups core as the other two, so the same
    identical-content blowup guard: byte-identical embeddings collapse to
    a representative before the bucket self-join (m copies cost m-1 star
    edges, not m²/2 pairs);
    zero-norm vectors get a per-row key and stay singletons (cosine
    against a zero vector is defined as 0 here, so they can never pair)."""
    emb = _emb(spark, sf_dir)
    dups = (emb.where(F.col("vec_id") < 50)
            .select((F.col("vec_id") + 1000000).alias("vec_id"),
                    "embedding"))
    e = emb.select("vec_id", "embedding").unionByName(dups)
    key = F.when(
        F.expr(f"({SIM.norm_sql('embedding', 'spark')}) > 0"),
        F.md5(F.col("embedding").cast("string"))) \
        .otherwise(F.concat(F.lit("!"), F.col("vec_id").cast("string")))
    return DD.near_dup_groups(
        e, "vec_id", key,
        lambda reps: SIM.cosine_dedup_pairs(reps, threshold=0.99, dim=64,
                                            n_planes=6))


@register(
    "jaccard_pairs_capped",
    _WD_CTE + f"""
    , sh AS (SELECT doc_id, {DD.word_shingles_sql('words', 3, 'duck')}
               AS shingles FROM wd)
    , sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh)
    , inv0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
    , hot AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) > 20)
    , inv AS (SELECT doc_id, s FROM inv0 WHERE s NOT IN (SELECT s FROM hot))
    , inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(count(*) AS BIGINT) AS inter
                FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter,
      CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE)
        AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE)
          >= 0.5
    ORDER BY doc_a, doc_b""",
    order=("doc_a", "doc_b"))
def q_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup with document-frequency cap (df > 20 shingles
    dropped from the inverted index) — the skew kill for hot shingles;
    at real-corpus scale this bounds the self-join blowup. Note the
    jaccard denominator still uses FULL shingle-set sizes, so scores are
    exact for pairs whose intersection survives the cap."""
    return (DD.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5,
                                   max_df=20))


# same result set as jaccard_pairs (prefix filtering is exact) → same oracle
@register("jaccard_pairs_prefix", ORACLES["jaccard_pairs"], order=("doc_a", "doc_b"))
def q_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs via prefix filtering (AllPairs/PPJoin) — only
    each doc's rarest |s|-ceil(t|s|)+1 shingles are indexed/joined, so hot
    shingles never enter the self-join. Identical output to the naive
    inverted-index join (zero false negatives), verified by the same
    DuckDB oracle."""
    # r6: derive + checkpoint the shingle projection once — the prefix
    # pipeline reads it from four branches (df window, self-join side B's
    # broadcast build, both verify sides), and the self-join's broadcast
    # side otherwise recomputes the whole scan+shingle derivation
    shingled = DD.with_shingles(_docs(spark, sf_dir)).localCheckpoint()
    return DD.prefix_pairs_from_shingles(shingled, 0.5)


_GROUPS_CTES = _JP_CORE.replace("WITH wd", "WITH RECURSIVE wd") + """
    , pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE)
              / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) >= 0.5)
    , edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs)
    , reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
    , comp AS (SELECT u AS node, least(u, min(v)) AS component
               FROM reach GROUP BY u)"""


@register(
    "dedup_groups",
    _GROUPS_CTES + """
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS component,
           coalesce(c.component, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ORDER BY d.doc_id""",
    order=("doc_id",))
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS + canonical keep list: prefix-filtered exact Jaccard
    pairs → iterative min-label connected components → every doc labeled
    with its component (min member id) and keep flag. The oracle computes
    the same components by recursive-CTE transitive closure — feasible at
    oracle scale precisely because the engine's iterative form is the one
    that survives 100×."""
    return DD.dedup_groups(_docs(spark, sf_dir), threshold=0.5)


@register(
    "leakage_safe_split",
    _GROUPS_CTES + f"""
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS component,
           CASE WHEN ({DD.h31_sql(
               "CAST(coalesce(c.component, d.doc_id) AS VARCHAR)",
               "duck")}) % 100 < 90
                THEN 'train' ELSE 'eval' END AS split
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ORDER BY d.doc_id""",
    order=("doc_id",))
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/eval split (the GroupShuffleSplit of training
    pipelines): every doc is assigned train/eval by hashing its near-dup
    COMPONENT label, not its own id — so all members of a near-dup group
    land on the same side BY CONSTRUCTION and no eval doc has a near-dup
    twin in train (the leakage mode that inflates eval scores). 90/10 by
    the deterministic h31 hash: reproducible across runs, engines, and
    cluster sizes, and stable under re-partitioning. Cost on top of
    dedup_groups is one hash projection — zero extra shuffles; at 100 TB
    the component labels are already materialized by the dedup pass."""
    groups = DD.dedup_groups(_docs(spark, sf_dir), threshold=0.5)
    h = F.expr(f"({DD.h31_sql('CAST(component AS STRING)', 'spark')})"
               f" % 100")
    return (groups.select(
        "doc_id", "component",
        F.when(h < 90, F.lit("train")).otherwise(F.lit("eval"))
         .alias("split")))


# ----------------------------------------------- positional / slice (O2, O8)
@register(
    "token_positional",
    _duck_toks_cte() + """
    SELECT doc_id,
      toks[1].word AS first_word,
      toks[3].pos_tag AS third_tag,
      toks[-1].word AS last_word,
      coalesce(array_to_string(list_slice(words, 2, 4), ' '), '')
        AS slice_2_4
    FROM tk ORDER BY doc_id""",
    order=("doc_id",))
def q_token_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 positional nth access + O8 token-range slice
    (reference parse.clj:157-165, 213-219): try_element_at is the null-safe
    nth (1-based, -1 = last), slice(words, beg, len) is tokens-by-sentence's
    drop/take — both pure codegen projections, no shuffle."""
    toks = tx.annotated_tokens_sql(dialect.tokens_expr("text", "spark"),
                                   "spark", fields=("word", "pos_tag"))
    let = (f"try_element_at(transform(array({toks}), z -> named_struct("
           f"'first_word', try_element_at(z, 1).word, "
           f"'third_tag', try_element_at(z, 3).pos_tag, "
           f"'last_word', try_element_at(z, -1).word, "
           f"'slice_2_4', array_join(transform(slice(z, 2, 3), "
           f"x -> x.word), ' '))), 1)")
    return (_docs(spark, sf_dir)
            .select("doc_id", F.expr(let).alias("__f"))
            .select("doc_id", "__f.*"))


def token_positional_py(text: str) -> tuple:
    """INDEPENDENT pure-Python twin of token_positional (re + list
    indexing only): tokens = TOKEN_RE over lowered text; nth access is
    None-safe (1-based, -1 = last), slice_2_4 joins words 2..4 (empty
    string when absent). Fuzz-pinned in tests/test_fuzz_parity.py."""
    ws = dialect.TOKEN_RE_PY.findall((text or "").lower())
    return (ws[0] if ws else None,
            dialect.pos_py(ws[2]) if len(ws) >= 3 else None,
            ws[-1] if ws else None,
            " ".join(ws[1:4]))


def sentiment_labels_py(text: str) -> tuple:
    """INDEPENDENT pure-Python twin of sentiment_labels (O11): doc score
    from the sentiment_features twin, then the reference's 5-way label
    map (parse.clj:242-252)."""
    s = features.sentiment_features_py(text)["sentiment_utterance"]
    label = ("very positive" if s >= 2 else "positive" if s == 1
             else "neutral" if s == 0 else "negative" if s == -1
             else "very negative")
    return s, label


# --------------------------------------- A6-shaped model NER (gazetteer CRF)
from clj_nlp_parse_spark.operators import ner as NER


def _ner_cte() -> str:
    """tk + per-token entity types + model mentions, DuckDB side."""
    return (_duck_toks_cte()
            + f""", tyc AS (SELECT doc_id, words,
        {NER.token_types_sql('words', 'duck')} AS ty FROM tk),
    nm AS (SELECT doc_id, words,
        {NER.ner_mentions_sql('ty', 'duck')} AS ms FROM tyc)""")


@register(
    "model_mentions",
    _ner_cte() + """
    SELECT doc_id, x.label AS entity_type,
           CAST(x.tok_beg AS BIGINT) AS tok_beg,
           CAST(x.tok_end AS BIGINT) AS tok_end,
           array_to_string(list_slice(words, x.tok_beg + 1, x.tok_end), ' ')
             AS span
    FROM (SELECT doc_id, words, unnest(ms) AS x FROM nm)
    ORDER BY doc_id, tok_beg""",
    order=("doc_id", "tok_beg"))
def q_model_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-shaped model-side NER (reference CRF component config.clj:108-128,
    exercised by ner_test.clj; the model is out of scope — SURVEY.md §2.3):
    per-token entity types from a broadcast gazetteer, maximal same-type
    runs merged into :mentions-side spans exactly as CoreNLP folds CRF tags
    into NERMentions. Pure per-row array computation, zero shuffle."""
    tagged = NER.tag_model_mentions(_docs(spark, sf_dir))
    return (tagged.select("doc_id", "words",
                          F.explode("model_mentions").alias("x"))
            .select("doc_id",
                    F.col("x.label").alias("entity_type"),
                    F.col("x.tok_beg").cast("long").alias("tok_beg"),
                    F.col("x.tok_end").cast("long").alias("tok_end"),
                    F.expr("array_join(slice(words, x.tok_beg + 1, "
                           "x.tok_end - x.tok_beg), ' ')").alias("span")))


# ------------------------------------------------- mention-source union (O6)
DICT_ITEMS2 = [
    D.DictItem(11, "table hash", "HASH2"),
    D.DictItem(12, "customer join", "JOIN2"),
    D.DictItem(13, "the window", "WIN2"),   # det-chop → single-token 'window'
    D.DictItem(14, "big order", "ORD2"),
]
_COMPILED2 = D.compile_items(DICT_ITEMS2)


@register(
    "mention_union",
    _duck_toks_cte()
    + f""", lm AS (SELECT doc_id, words, toks,
        list_transform(toks, x -> x.lemma) AS lemmas FROM tk),
    tyu AS (SELECT *, {NER.token_types_sql('words', 'duck')} AS ty FROM lm),
    mu AS (SELECT doc_id,
        ({D.mentions_sql(_COMPILED, 'words', 'lemmas', 'duck')}
         || {D.mentions_sql(_COMPILED2, 'words', 'lemmas', 'duck')}
         || {NER.ner_mentions_sql('ty', 'duck')})
          AS mentions FROM tyu)
    SELECT doc_id, x.label AS label, x.item_id AS item_id,
           CAST(x.tok_beg AS BIGINT) AS tok_beg,
           CAST(x.tok_end AS BIGINT) AS tok_end
    FROM (SELECT doc_id, unnest(mentions) AS x FROM mu)
    ORDER BY doc_id, item_id, tok_beg""",
    order=("doc_id", "item_id", "tok_beg"))
def q_mention_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 union of mention sources (reference parse.clj:194-205): like the
    reference's :mentions ∪ :tok-re-mentions, GENUINELY DISTINCT sources —
    two dictionary taggers plus the A6-shaped model NER (item_id = -1) —
    concat'd per row, the array form of unionByName, zero shuffle. Every
    source tagged with the let-binding idiom (HOF free-var re-eval
    guard)."""
    # VERDICT_r03 #6: ONE fused projection — tokenize once, derive
    # lemmas/entity-types once from the bound words, and emit all three
    # mention sources inside a single two-level let (outer binds ws so
    # the inner bindings read it as a variable, not re-evaluate it).
    docs = _docs(spark, sf_dir)
    lemma_case = dialect.lemma_case_expr("t", "spark")
    body = (f"concat({D.mentions_sql(_COMPILED, 'z.ws', 'z.ls', 'spark')}, "
            f"{D.mentions_sql(_COMPILED2, 'z.ws', 'z.ls', 'spark')}, "
            f"{NER.ner_mentions_sql('z.ty', 'spark')})")
    inner = dialect.let_expr(
        {"ws": "w0.ws",
         "ls": f"transform(w0.ws, t -> ({lemma_case}))",
         "ty": NER.token_types_sql("w0.ws", "spark")},
        body, "z")
    fused = dialect.let_expr({"ws": dialect.tokens_expr("text", "spark")},
                             inner, "w0")
    return (docs.select("doc_id", F.explode(F.expr(fused)).alias("x"))
            .select("doc_id", F.col("x.label").alias("label"),
                    F.col("x.item_id").alias("item_id"),
                    F.col("x.tok_beg").cast("long").alias("tok_beg"),
                    F.col("x.tok_end").cast("long").alias("tok_end")))


_MFU_DICT_LABELS = {i.label for i in DICT_ITEMS}
# advisor r03: a dict label colliding with a gazetteer type would silently
# emit duplicate mentions_count_*/ratio_* columns — fail loudly instead
# (a raise, not an assert: `python -O` strips asserts)
if _MFU_DICT_LABELS & set(NER.GAZETTEER):
    raise ValueError(
        "dictionary labels and gazetteer types must be disjoint: "
        f"{_MFU_DICT_LABELS & set(NER.GAZETTEER)}")
_MFU_ENTS = sorted(_MFU_DICT_LABELS) + sorted(NER.GAZETTEER)
_MFU_COLS_DUCK = []
for _e in _MFU_ENTS:
    _le = _e.lower()
    _MFU_COLS_DUCK.append(
        f"CAST(len(list_filter(allm, m -> m.label = '{_e}')) AS BIGINT)"
        f" AS mentions_count_{_le}")
    _MFU_COLS_DUCK.append(
        f"CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
        f"CAST(len(list_filter(allm, m -> m.label = '{_e}')) AS DOUBLE)"
        f" / CAST(len(toks) AS DOUBLE) END AS mentions_ratio_{_le}")


@register(
    "mention_features_union",
    _dict_cte()
    + f""", mty AS (SELECT *, {NER.token_types_sql('words', 'duck')} AS ty
                    FROM mn),
    ma AS (SELECT doc_id, toks,
             (mentions || {NER.ner_mentions_sql('ty', 'duck')}) AS allm
           FROM mty)
    SELECT doc_id, """ + ", ".join(_MFU_COLS_DUCK)
    + " FROM ma ORDER BY doc_id",
    order=("doc_id",))
def q_mention_features_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 mentions-features over BOTH mention sources (dictionary A7 +
    model-side A6 NER) — the reference's feature path consumes the merged
    mention list (parse.clj:194-205 feeding feature/lang.clj:193-237), so
    the engine's F5 must too. Same zero-default count/ratio columns,
    entity vocabulary = dict labels ∪ gazetteer types, one projection,
    no shuffle."""
    tagged = NER.add_model_mentions(
        D.tag_mentions(_docs(spark, sf_dir), DICT_ITEMS))
    both = tagged.withColumn(
        "all_mentions", F.expr("concat(tok_re_mentions, model_mentions)"))
    # r6: size(words) == size(toks) — see mention_features
    return both.select(
        "doc_id",
        *D.mentions_feature_cols("all_mentions", "words", _MFU_ENTS),
    )


# ------------------------------------------- F3 srl features + O15 first scan
def _srl_frags(d: str) -> dict[str, str]:
    """Dialect-common fragments over the annotated `toks` array with a
    synthesized-but-deterministic srl struct: propbank = 'pb.'+lemma for
    words of length >= 5, first-head dep label present for non-stop words
    longer than 3 chars (the engine has no SRL model — SURVEY.md §2.3 A13:
    selection logic + struct shape are the parity surface)."""
    if d == "spark":
        pb_arr = ("transform(toks, x -> CASE WHEN length(x.word) >= 5 "
                  "THEN concat('pb.', x.lemma) ELSE NULL END)")
        h = dialect.hash32_expr("p", "spark")
        pid = (f"aggregate(transform({pb_arr}, p -> "
               f"CASE WHEN p IS NULL THEN 0L ELSE ({h}) END), "
               f"0L, (a, x) -> a + x)")
        argc = ("size(filter(toks, x -> NOT x.is_stop "
                "AND length(x.word) > 3))")
        first_pb = (f"coalesce(try_element_at(filter({pb_arr}, "
                    f"p -> p IS NOT NULL), 1), '{schema.NONE_LABEL}')")
    else:
        pb_arr = ("list_transform(toks, x -> CASE WHEN length(x.word) >= 5 "
                  "THEN 'pb.' || x.lemma ELSE NULL END)")
        h = dialect.hash32_expr("p", "duck")
        pid = (f"CAST(coalesce(list_sum(list_transform({pb_arr}, p -> "
               f"CASE WHEN p IS NULL THEN 0 ELSE ({h}) END)), 0) AS BIGINT)")
        argc = ("CAST(len(list_filter(toks, x -> NOT x.is_stop "
                "AND length(x.word) > 3)) AS BIGINT)")
        first_pb = (f"coalesce(list_filter({pb_arr}, "
                    f"p -> p IS NOT NULL)[1], '{schema.NONE_LABEL}')")
    return {"pid": pid, "argc": argc, "first_pb": first_pb}


_SRL_D = _srl_frags("duck")


@register(
    "srl_features",
    _duck_toks_cte() + f"""
    SELECT doc_id,
      {_SRL_D['pid']} AS srl_propbank_id,
      {_SRL_D['argc']} AS srl_argument_counts,
      {_SRL_D['first_pb']} AS first_propbank_label
    FROM tk ORDER BY doc_id""",
    order=("doc_id",))
def q_srl_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 srl-features (reference feature/lang.clj:142-160: propbank-id =
    sum of hashes with nil→0; argument-counts = tokens with a first-head
    dependency label) + O15 first non-null scan (feature/lang.clj:15-31)."""
    s = _srl_frags("spark")
    toks = tx.annotated_tokens_sql(dialect.tokens_expr("text", "spark"),
                                   "spark",
                                   fields=("word", "lemma", "is_stop"))
    # bind toks once; the three feature fragments reference the bound `toks`
    # lambda variable instead of re-deriving the annotation per column
    let = (f"try_element_at(transform(array({toks}), toks -> "
           f"named_struct("
           f"'srl_propbank_id', cast({s['pid']} as bigint), "
           f"'srl_argument_counts', cast({s['argc']} as bigint), "
           f"'first_propbank_label', {s['first_pb']})), 1)")
    return (_docs(spark, sf_dir)
            .select("doc_id", F.expr(let).alias("__f"))
            .select("doc_id", "__f.*"))


# --------------------------------------- O15 windowed first non-null (events)
@register(
    "first_non_null",
    """
    WITH e AS (SELECT user_id, ts, event_id,
                 CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
               FROM events)
    SELECT user_id,
      first(v ORDER BY ts, event_id) FILTER (WHERE v IS NOT NULL)
        AS first_value
    FROM e GROUP BY user_id ORDER BY user_id""",
    order=("user_id",))
def q_first_non_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 first non-null over an ordered scan, windowed form
    (reference feature/lang.clj:15-31): F.first(ignorenulls=True) over the
    entity-ordered frame — one shuffle on the entity key."""
    from pyspark.sql import Window
    ev = _events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_id") % 5 == 0, F.lit(None))
              .otherwise(F.col("value")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("first_value", F.first("v", ignorenulls=True).over(w))
            .withColumn("__rn", F.row_number().over(rn))
            .where(F.col("__rn") == 1)
            .select("user_id", "first_value"))


# ----------------------------------------------------- IVF ANN (scale path 2)
#: embeddings row count at the driver's oracle scale factor (sf0.01) —
#: the static oracle SQL must quantize with the SAME derived cell count
#: the Spark side computes there (pinned like the flagship fixture; a
#: contract test asserts the pin matches choose_ivf_cells)
_IVF_ORACLE_N = 500
_IVF_CELLS = SIM._centroids(64, SIM.choose_ivf_cells(_IVF_ORACLE_N))


@register(
    "ivf_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec
               FROM embeddings WHERE vec_id < 3),
    qc AS (SELECT qid, qvec, {SIM.cell_expr('qvec', _IVF_CELLS, 'duck')}
             AS cell FROM q),
    vc AS (SELECT vec_id, embedding,
             {SIM.cell_expr('embedding', _IVF_CELLS, 'duck')} AS cell
           FROM embeddings),
    scored AS (SELECT qc.qid, vc.vec_id,
                 {SIM.cosine_sql('qc.qvec', 'vc.embedding', 'duck')} AS cosine
               FROM vc JOIN qc ON vc.cell = qc.cell)
    SELECT qid, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT qid, vec_id, cosine,
        row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)
          AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY qid, rank""",
    order=("qid", "rank"))
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (round brief 'IVF or LSH-bucketed
    variant as the scale path'): coarse-quantize to nearest unit centroid,
    probe the query's cell, exact-score candidates only. nprobe=1 here so
    DuckDB replays the identical deterministic quantizer; recall at
    nprobe>=2 is pytest-checked against brute force."""
    emb = _emb(spark, sf_dir)
    # the OPERATOR derives n_cells from a corpus count when unset; the
    # registered query PINS it to the oracle's static quantizer so parity
    # holds at every sf (the flagship fixture-n precedent)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.ivf_topk(emb, queries, k=5, dim=64,
                       n_cells=SIM.choose_ivf_cells(_IVF_ORACLE_N),
                       nprobe=1)
    return out.select("qid", "vec_id", "cosine",
                      F.col("rank").cast("int").alias("rank"))


# ----------------------------------------------- A12 coref / A10 natlog
from clj_nlp_parse_spark.operators import coref as CRF
from clj_nlp_parse_spark.operators import natlog as NLG

# The synthetic corpus is punctuation-free word-salad, so the queries
# derive sentence breaks / operator words in-query with IDENTICAL
# replace() chains in both dialects — the np_vp_chunks precedent.
_COREF_TEXT = "replace(text, ' query ', ' . query ')"
_NATLOG_TEXT = ("replace(replace(replace(text, ' slow ', ' not slow . '), "
                "' big ', ' every big '), ' dup ', ' no dup ')")

_COREF_DOC_CTE = ("WITH cdoc AS (SELECT doc_id, " + _COREF_TEXT
                  + " AS text FROM documents),")


@register(
    "coref_chains",
    _COREF_DOC_CTE + CRF.duck_coref_cte("cdoc") + """
    SELECT doc_id, CAST(chain_id AS BIGINT) AS chain_id,
           key AS mention_key, label,
           CAST(sent_index AS BIGINT) AS sent_index,
           CAST(tok_beg + 1 AS BIGINT) AS token_beg,
           CAST(tok_end + 1 AS BIGINT) AS token_end,
           CAST(tok_end AS BIGINT) AS head_index,
           CAST(chain_size AS BIGINT) AS chain_size
    FROM cm ORDER BY doc_id, chain_id, sent_index, token_beg""",
    order=("doc_id", "chain_id", "sent_index", "token_beg"))
def q_coref_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 coref chains (reference stanford.clj:407-421 coref-tree-to-map,
    config.clj:200-204): mentions clustered across sentences by exact
    lemma match, one row per chain mention in textual order with the
    reference's sent-index / token-range / head-index shape. Per-doc
    clustering in one declared mapInArrow stage behind
    spread_small_input (coref.coref_rows)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_COREF_TEXT).alias("text"))
    return CRF.coref_rows(docs)


@register(
    "coref_features",
    _COREF_DOC_CTE + CRF.duck_coref_cte("cdoc") + """,
    cagg AS (SELECT doc_id, COUNT(*) AS n_chains,
                    SUM(chain_size) AS nm, MAX(chain_size) AS mx
             FROM cch GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(coalesce(n_chains, 0) AS BIGINT) AS n_chains,
      CAST(coalesce(nm, 0) AS BIGINT) AS n_chain_mentions,
      CAST(coalesce(mx, 0) AS BIGINT) AS max_chain_size,
      CASE WHEN coalesce(n_chains, 0) = 0 THEN 0.0
           ELSE CAST(nm AS DOUBLE) / n_chains END AS mean_chain_size
    FROM documents d LEFT JOIN cagg USING (doc_id) ORDER BY doc_id""",
    order=("doc_id",))
def q_coref_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 feature consumer: per-doc chain count/size stats from the
    coref column (the chain-count/size features a reference pipeline
    derives from coref-tree-to-map's output). Zero-default rows for
    chainless docs; one declared mapInArrow stage behind
    spread_small_input (coref.coref_doc_features)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_COREF_TEXT).alias("text"))
    return CRF.coref_doc_features(docs)


_NATLOG_DOC_CTE = ("WITH ndoc AS (SELECT doc_id, " + _NATLOG_TEXT
                   + " AS text FROM documents),")


@register(
    "natlog_tokens",
    _NATLOG_DOC_CTE + NLG.duck_natlog_cte("ndoc") + """
    SELECT * FROM nl ORDER BY doc_id, sent_index, token_index""",
    order=("doc_id", "sent_index", "token_index"))
def q_natlog_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 natlog (reference stanford.clj:434-452 anon-operator-map /
    anon-token-map, config.clj:179-187): per-token {operator, polarity}
    from the deterministic monotonicity rule table — negations flip
    polarity over the rest of the sentence, operators carry the
    reference's operator-spec ranges. One declared mapInArrow stage
    behind spread_small_input (natlog.natlog_rows)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_NATLOG_TEXT).alias("text"))
    return NLG.natlog_rows(docs)


@register(
    "natlog_features",
    _NATLOG_DOC_CTE + NLG.duck_natlog_cte("ndoc") + """,
    nagg AS (SELECT doc_id, COUNT(*) AS n_tokens,
      SUM(CASE WHEN operator IS NOT NULL THEN 1 ELSE 0 END) AS n_ops,
      SUM(CASE WHEN polarity = 'down' THEN 1 ELSE 0 END) AS n_down
      FROM nl GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
      CAST(coalesce(n_ops, 0) AS BIGINT) AS n_operators,
      CAST(coalesce(n_down, 0) AS BIGINT) AS n_down,
      CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
           ELSE CAST(n_down AS DOUBLE) / n_tokens END AS down_ratio
    FROM documents d LEFT JOIN nagg USING (doc_id) ORDER BY doc_id""",
    order=("doc_id",))
def q_natlog_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 feature consumer: per-doc operator/polarity stats over the
    natlog token rule. Zero-default rows for empty docs; one declared
    mapInArrow stage behind spread_small_input
    (natlog.natlog_doc_features)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_NATLOG_TEXT).alias("text"))
    return NLG.natlog_doc_features(docs)


# ------------------------------------------------- A13 srl struct (flat)
from clj_nlp_parse_spark.operators import srl as SRL
from clj_nlp_parse_spark.operators import trees as TR2


@register(
    "srl_tokens",
    "WITH chunk_src AS (SELECT doc_id, " + _CHUNK_TEXT
    + """ AS text FROM documents),
    w AS (SELECT doc_id, text, """ + dialect.tokens_expr("text", "duck")
    + """ AS words FROM chunk_src),
    tk AS (SELECT doc_id, text, words, """
    + tx.annotated_tokens_sql("words", "duck") + """ AS toks FROM w),
    """ + TR2.duck_tree_cte("tk") + f""",
    tr5 AS (SELECT *, {TR2.root_index_sql('tg')} AS rt FROM tr4),
    ed AS (SELECT doc_id, words, tg,
             unnest({TR2.dep_edges_sql('words', 'tg', 'ch')}) AS e
           FROM tr5)
    SELECT doc_id, CAST(e.dependent AS BIGINT) AS id,
           words[e.dependent] AS word,
           CAST(e.head AS BIGINT) AS head_id,
           e.label AS dependency_label,
           {SRL.function_tag_sql('e.label')} AS function_tag,
           {SRL.propbank_sql('words', 'tg', 'e.dependent')}
             AS propbank
    FROM ed ORDER BY doc_id, id""",
    order=("doc_id", "id"))
def q_srl_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 srl struct shape, flattened (reference srl.clj:143-162
    mapify-parsed-sentences): one row per token with id / head-id /
    dependency-label / function-tag / propbank, derived deterministically
    from the engine's dependency tree (the ClearNLP model stays out of
    scope — SURVEY §2.3). Same in-query verb derivation as np_vp_chunks
    (_CHUNK_TEXT) so VP heads and propbank senses are exercised. One
    declared mapInArrow stage behind spread_small_input
    (srl.srl_token_rows)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_CHUNK_TEXT).alias("text"))
    return SRL.srl_token_rows(docs)


# ----------------------------- banded cosine near-dup (dedup scale path)
#: planes per band pinned to the derivation at the oracle sf's embedding
#: count (the _IVF_ORACLE_N precedent; contract-tested below the IVF pin)
_CB_R = SIM.choose_planes_per_band(_IVF_ORACLE_N)
_CB_BANDS = SIM.choose_cosine_bands(0.99, _CB_R)
_CB_DUCK_BK = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, ({e}) AS bh FROM e"
    for b, e in enumerate(
        SIM.band_bucket_exprs("embedding", 64, _CB_BANDS, _CB_R, "duck")))


@register(
    "cosine_dedup_banded",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + 1000000, embedding
               FROM embeddings WHERE vec_id < 50),
    bk AS ({_CB_DUCK_BK}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bk a JOIN bk b
               ON a.band = b.band AND a.bh = b.bh
                  AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM (
      SELECT id_a, id_b,
             {SIM.cosine_sql('ea.embedding', 'eb.embedding', 'duck')}
               AS cosine
      FROM cand
      JOIN e ea ON ea.vec_id = id_a
      JOIN e eb ON eb.vec_id = id_b)
    WHERE cosine >= 0.99
    ORDER BY id_a, id_b""",
    order=("id_a", "id_b"))
def q_cosine_dedup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (OR-amplified) embedding-cosine near-dup pairs — the scale
    path of cosine_dedup_pairs: n_bands independent hyperplane tables,
    candidates unioned and deduped before exact scoring, planes-per-band
    derived from the corpus size so bucket occupancy is bounded at ANY N
    (similarity.py cosine_dedup_pairs_banded). Same injected-duplicate
    fixture as cosine_dedup_pairs."""
    emb = _emb(spark, sf_dir)
    dups = (emb.where(F.col("vec_id") < 50)
            .select((F.col("vec_id") + 1000000).alias("vec_id"),
                    "embedding"))
    e = emb.select("vec_id", "embedding").unionByName(dups)
    return SIM.cosine_dedup_pairs_banded(
        e, threshold=0.99, dim=64, n_bands=_CB_BANDS,
        planes_per_band=_CB_R)


#: the DERIVED-path pins (VERDICT_r04 #4): the production entry point
#: sizes r from the ACTUAL corpus count (N = sf0.01 embeddings + 50
#: injected dups = 550) and b from the recall rule; the oracle replays
#: exactly those derived values, so the value-hash gate covers the code
#: path a deployment runs, not just the pinned-small oracle setting.
#: Literal pins contract-tested next to the IVF pin.
_CBD_N = _IVF_ORACLE_N + 50
_CBD_R = SIM.choose_planes_per_band(_CBD_N)
_CBD_BANDS = SIM.choose_cosine_bands(0.99, _CBD_R)
_CBD_DUCK_BK = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, ({e}) AS bh FROM e"
    for b, e in enumerate(
        SIM.band_bucket_exprs("embedding", 64, _CBD_BANDS, _CBD_R,
                              "duck")))


@register(
    "cosine_dedup_banded_derived",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + 1000000, embedding
               FROM embeddings WHERE vec_id < 50),
    bk AS ({_CBD_DUCK_BK}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bk a JOIN bk b
               ON a.band = b.band AND a.bh = b.bh
                  AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM (
      SELECT id_a, id_b,
             {SIM.cosine_sql('ea.embedding', 'eb.embedding', 'duck')}
               AS cosine
      FROM cand
      JOIN e ea ON ea.vec_id = id_a
      JOIN e eb ON eb.vec_id = id_b)
    WHERE cosine >= 0.99
    ORDER BY id_a, id_b""",
    order=("id_a", "id_b"))
def q_cosine_dedup_banded_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cosine_dedup_banded through the PRODUCTION parameter path
    (VERDICT_r04 #4): r and b are NOT passed — cosine_dedup_pairs_banded
    counts the corpus and derives r = choose_planes_per_band(N),
    b = choose_cosine_bands(0.99, r) itself (one documented eager
    metadata count at plan build, the choose_asof_strategy precedent).
    The static oracle replays the values that derivation yields at the
    oracle sf (N = 550 → r = 4, b = 2 — a DIFFERENT r than the pinned
    query's 3, so the gate exercises the derived sizing, not a
    coincidence). Same injected-duplicate fixture, same exact-verify
    contract: every reported pair has true cosine ≥ 0.99."""
    emb = _emb(spark, sf_dir)
    dups = (emb.where(F.col("vec_id") < 50)
            .select((F.col("vec_id") + 1000000).alias("vec_id"),
                    "embedding"))
    e = emb.select("vec_id", "embedding").unionByName(dups)
    return SIM.cosine_dedup_pairs_banded(e, threshold=0.99, dim=64)


_TBS_TOKS = dialect.tokens_expr("text", "duck")
_TBS_Q = TS.quality_score_sql("t", "ws", "duck")
_TBS_BPE = TS.token_counts_sql("t", "ws", "duck")["n_bpe_tokens"]


@register(
    "token_budget_select",
    f"""
    WITH s0 AS (SELECT doc_id, lang, coalesce(text, '') AS t,
                       {_TBS_TOKS} AS ws FROM documents),
    s AS (SELECT doc_id, lang, {_TBS_Q} AS quality,
                 {_TBS_BPE} AS n_bpe_tokens FROM s0),
    tot AS (SELECT (SUM(n_bpe_tokens) * 6) // 10 AS b FROM s),
    o AS (SELECT *, SUM(n_bpe_tokens) OVER (
            ORDER BY quality DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM s)
    SELECT doc_id, lang, quality,
           CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
    FROM o, tot WHERE cum <= b ORDER BY doc_id""",
    order=("doc_id",))
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection — admit the highest-quality docs until 60%
    of the corpus's BPE tokens are filled. The ORACLE is the plain spec
    (global ORDER BY quality DESC, doc_id + inclusive running token sum);
    the Spark side NEVER sorts the corpus: a quantized-quality histogram
    (tiny agg) is cumsum'd to decide whole bins via a broadcast join, and
    only the single boundary bin pays an ordered window (curation.py
    token_budget_select — the corpus_profile histogram-threshold
    precedent). Integer budget arithmetic keeps both engines bit-exact;
    twin: token_budget_select_py (tests/test_fuzz_parity.py)."""
    from clj_nlp_parse_spark.operators import curation as CU
    out = CU.token_budget_select(_docs(spark, sf_dir))
    return (out.select("doc_id", "lang", "quality",
                       F.col("n_bpe_tokens").cast("long")
                       .alias("n_bpe_tokens")))


@register(
    "token_budget_mix",
    f"""
    WITH s0 AS (SELECT doc_id, lang, coalesce(text, '') AS t,
                       {_TBS_TOKS} AS ws FROM documents),
    s AS (SELECT doc_id, lang, {_TBS_Q} AS quality,
                 {_TBS_BPE} AS n_bpe_tokens FROM s0),
    c AS (SELECT lang, SUM(n_bpe_tokens) AS tl FROM s GROUP BY lang),
    w AS (SELECT lang, tl,
            CAST(floor(sqrt(CAST(tl AS DOUBLE))) AS BIGINT) AS sw FROM c),
    g AS (SELECT lang, tl, sw, sum(tl) OVER () AS tt,
                 sum(sw) OVER () AS ts FROM w),
    g2 AS (SELECT lang, tl, sw, ts, (tt * 6) // 10 AS gb FROM g),
    b AS (SELECT lang,
            CASE WHEN ts = 0 THEN 0 ELSE least(tl,
              (gb // ts) * sw + ((gb % ts) * sw) // ts) END AS bl
          FROM g2),
    o AS (SELECT *, SUM(n_bpe_tokens) OVER (PARTITION BY lang
            ORDER BY quality DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM s)
    SELECT o.doc_id AS doc_id, o.lang AS lang, quality,
           CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
    FROM o JOIN b ON o.lang IS NOT DISTINCT FROM b.lang
    WHERE cum <= bl ORDER BY doc_id""",
    order=("doc_id",))
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted per-stratum TOKEN budgets (the data-mix op in
    the units training actually budgets): the 60% global token budget is
    split across language strata ∝ isqrt(stratum tokens) with the
    overflow-free two-term integer division, then each stratum admits its
    top-quality docs until its own budget fills. Oracle = the plain spec
    (per-stratum quality-DESC cumsum vs the integer budget table); the
    Spark side decides whole (stratum, quality-bin) histogram rows via a
    null-safe broadcast join and orders only each stratum's boundary bin
    (curation.py token_budget_mix). NULL lang is its own stratum on both
    sides. Twin: token_budget_mix_py (tests/test_fuzz_parity.py)."""
    from clj_nlp_parse_spark.operators import curation as CU
    out = CU.token_budget_mix(_docs(spark, sf_dir))
    return (out.select("doc_id", "lang", "quality",
                       F.col("n_bpe_tokens").cast("long")
                       .alias("n_bpe_tokens")))
