"""The benchmark's workloads: which engine calls a pass makes, how each
output is checked, and the isolated per-layer calls of the traced run.

Every op is either a registered query from `queries.QUERIES` or a call
into a public module function. A pass runs every op of its workload once,
in order, and sends each result to the noop sink (the image flow writes
its feature table instead, which is the point of that op).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clj_nlp_parse_spark import queries as Q
from clj_nlp_parse_spark import sources
from clj_nlp_parse_spark.functions import parse, text
from clj_nlp_parse_spark.operators import (asof, chunking, coref, curation,
                                           dedup, dictionary, features,
                                           images, lm, natlog, ner,
                                           similarity, srl, trees, windows)

# one entity bucket: synth_row's 90-day timestamps already give 90 day
# partitions; 4 buckets at 1k images wrote ~3-row files, timing file
# creation alone
FEATURE_BUCKETS = 1
STAT_COLS = ("px_mean_r", "px_std", "sharpness")


@dataclass
class Ctx:
    spark: object
    cores: int
    data: str       # the timed input
    check: str      # the smaller input of the same seed the oracles run on
    check_docs: int = 0
    cache: dict = field(default_factory=dict)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    build: Callable[[Ctx, str], DataFrame]
    sink: Callable[[Ctx, str, DataFrame], None] = \
        lambda ctx, d, df: noop(df)
    registered: bool = False


def registered(name: str) -> Op:
    return Op(name, lambda ctx, d: Q.QUERIES[name](ctx.spark, d),
              registered=True)


# ------------------------------------------------------------- annotate
def _parse_captions(ctx: Ctx, d: str) -> DataFrame:
    docs = ctx.spark.read.parquet(f"{d}/documents.parquet")
    return parse.parse_captions(docs, items=Q.DICT_ITEMS, text_col="text",
                                id_col="doc_id")


ANNOTATE_OPS = [registered(n) for n in (
    "pos_features", "doc_stats", "sentiment_features", "dict_mentions",
    "mention_features_union", "natlog_features", "coref_features",
    "srl_features", "np_vp_chunks", "dep_tree_edges", "token_positional",
)] + [Op("parse_captions", _parse_captions)]

CURATE_OPS = [registered(n) for n in (
    "dedup_exact", "minhash_signatures", "lsh_pairs", "jaccard_pairs_prefix",
    "dedup_groups", "decontaminate", "curation_pipeline", "passage_dedup",
    "lm_perplexity", "token_budget_select", "leakage_safe_split",
    "embedding_dedup_groups",
)]


# ------------------------------------------ point-in-time image features
def features_path(d: str) -> str:
    return os.path.join(d, "feature_table")


def _image_features(ctx: Ctx, d: str) -> DataFrame:
    imgs = sources.read_images_table(ctx.spark, f"{d}/images.parquet")
    return images.extract_image_features(imgs)


def _write_features(ctx: Ctx, d: str, feats: DataFrame) -> None:
    sources.write_feature_table(
        feats.where("decode_ok").select("entity_id", "feature_ts",
                                        *STAT_COLS),
        features_path(d), ts_col="feature_ts", buckets=FEATURE_BUCKETS)


def entity_events(ctx: Ctx, d: str) -> DataFrame:
    """Events as as-of probes: user_id % 50 names the image entity."""
    ev = ctx.spark.read.parquet(f"{d}/events.parquet")
    return ev.select(
        "event_id",
        F.format_string("ent-%04d", F.col("user_id") % 50).alias("entity_id"),
        F.col("ts").cast("timestamp").alias("event_ts"))


def feature_stats(ctx: Ctx, d: str) -> DataFrame:
    """The written feature table read back, one row per (entity, ts)."""
    s0 = (ctx.spark.read.parquet(features_path(d))
          .withColumn("feature_ts", F.col("feature_ts").cast("timestamp")))
    return s0.groupBy("entity_id", "feature_ts").agg(
        *[F.max(c).alias(c) for c in STAT_COLS])


def _feature_asof(ctx: Ctx, d: str) -> DataFrame:
    return asof.asof_join(entity_events(ctx, d), feature_stats(ctx, d),
                          on=["entity_id"])


PIT_OPS = [
    Op("image_features", _image_features, sink=_write_features),
    Op("feature_asof", _feature_asof),
] + [registered(n) for n in ("asof_incremental", "sessionize", "backfill")]


# ------------------------------------------------------------- checks
def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows(tbl) -> Counter:
    """Order-insensitive multiset of a pyarrow table's rows, columns in
    name order; values compared exactly."""
    cols = sorted(tbl.column_names)
    return Counter(tuple(_norm(r[c]) for c in cols)
                   for r in tbl.select(cols).to_pylist())


def same_rows(a, b) -> bool:
    return (sorted(a.column_names) == sorted(b.column_names)
            and a.num_rows == b.num_rows and rows(a) == rows(b))


def duck(d: str):
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        p = f"{d}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def digest(tbl) -> str:
    h = hashlib.sha256()
    for r in sorted(json.dumps(x, sort_keys=True, default=str)
                    for x in tbl.to_pylist()):
        h.update(r.encode())
    return h.hexdigest()


def check_registered(ctx: Ctx, op: Op, con) -> str | None:
    got = op.build(ctx, ctx.check).toArrow()
    want = con.cursor().execute(Q.ORACLES[op.name]).arrow()
    if same_rows(got, want):
        return None
    return f"{op.name}: {got.num_rows} rows vs oracle {want.num_rows}"


def parse_digest(ctx: Ctx) -> tuple[int, str]:
    """parse_captions has no oracle: the check is its row count and a
    digest that must repeat exactly; weaker than an oracle compare."""
    tbl = _parse_captions(ctx, ctx.check).toArrow()
    return tbl.num_rows, digest(tbl)


PIT_ORACLE = """
WITH s0 AS (SELECT entity_id, epoch_us(feature_ts) AS fts,
                   px_mean_r, px_std, sharpness
            FROM read_parquet('{path}/**/*.parquet', hive_partitioning = 1)),
s AS (SELECT entity_id, fts, max(px_mean_r) AS px_mean_r,
             max(px_std) AS px_std, max(sharpness) AS sharpness
      FROM s0 GROUP BY entity_id, fts),
e AS (SELECT event_id, 'ent-' || lpad(CAST(user_id % 50 AS VARCHAR), 4, '0')
               AS entity_id, epoch_us(ts) AS ets FROM events)
SELECT e.event_id, e.entity_id, e.ets // 1000 AS event_ts_ms,
       s.fts // 1000 AS feature_ts_ms, s.px_mean_r, s.px_std, s.sharpness
FROM e ASOF LEFT JOIN s ON e.entity_id = s.entity_id AND e.ets >= s.fts
"""


def check_pit(ctx: Ctx, con) -> str | None:
    """Image flow on the check input: write the feature table, as-of join
    it against the events, audit leakage, compare with DuckDB's ASOF JOIN
    over the same written table."""
    d = ctx.check
    _write_features(ctx, d, _image_features(ctx, d))
    out = _feature_asof(ctx, d)
    leaks = asof.audit_leakage(out)
    got = out.select(
        "event_id", "entity_id",
        F.unix_millis("event_ts").alias("event_ts_ms"),
        F.unix_millis("feature_ts").alias("feature_ts_ms"),
        *STAT_COLS).toArrow()
    want = con.cursor().execute(
        PIT_ORACLE.format(path=features_path(d))).arrow()
    if leaks:
        return f"feature_asof: {leaks} rows see a future feature"
    if not same_rows(got, want):
        return (f"feature_asof: {got.num_rows} rows differ from the DuckDB "
                f"ASOF JOIN ({want.num_rows})")
    return None


# ------------------------------------------------- isolated layer calls
def _cached(ctx: Ctx, key: str, make: Callable[[], DataFrame]) -> DataFrame:
    if key not in ctx.cache:
        df = make().cache()
        df.count()
        ctx.cache[key] = df
    return ctx.cache[key]


def _docs(ctx: Ctx) -> DataFrame:
    return _cached(ctx, "docs", lambda: ctx.spark.read.parquet(
        f"{ctx.data}/documents.parquet"))


def annotate_layers(ctx: Ctx, counts: dict
                    ) -> dict[str, Callable[[], object]]:
    """layer metric -> call on the cached documents (sent to noop)."""
    docs = _docs(ctx)
    return {
        "text.annotate_s": lambda: noop(text.annotate(docs)),
        "parse.panon_s": lambda: noop(parse.parse_captions(
            docs, items=Q.DICT_ITEMS, text_col="text", id_col="doc_id")),
        "features.exec_s": lambda: noop(features.pos_tag_features(docs)),
        "dictionary.exec_s": lambda: noop(
            dictionary.tag_mentions(docs, Q.DICT_ITEMS)),
        "ner.exec_s": lambda: noop(ner.tag_model_mentions(docs)),
        "natlog.exec_s": lambda: noop(natlog.natlog_doc_features(docs)),
        "coref.exec_s": lambda: noop(coref.coref_doc_features(docs)),
        "srl.exec_s": lambda: noop(srl.srl_token_rows(docs)),
        "trees.exec_s": lambda: noop(trees.dep_edge_rows(docs)),
        "chunking.exec_s": lambda: noop(chunking.chunk_rows(docs)),
    }


def curate_layers(ctx: Ctx, counts: dict) -> dict[str, Callable[[], object]]:
    docs = _docs(ctx)
    emb = _cached(ctx, "emb", lambda: ctx.spark.read.parquet(
        f"{ctx.data}/embeddings.parquet").select("vec_id", "embedding"))
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)

    def pairs():
        cand = _cached(ctx, "cand", lambda: dedup.lsh_candidate_pairs(docs))
        ver = _cached(ctx, "ver", lambda: dedup.ngram_jaccard_pairs_prefix(
            docs, threshold=0.5).select("doc_a", "doc_b"))
        counts["dedup.candidate_pairs"] = cand.count()
        counts["dedup.verified_pairs"] = ver.count()
        hit = cand.join(ver, ["doc_a", "doc_b"]).count()
        counts["dedup.verify_yield"] = (
            hit / counts["dedup.candidate_pairs"]
            if counts["dedup.candidate_pairs"] else 0.0)

    def cc():
        edges = ctx.cache["ver"]
        counts["dedup.cc_edges"] = edges.count()
        noop(dedup.connected_components(edges, "doc_a", "doc_b"))

    return {
        "dedup.pairs": pairs,
        "dedup.cc_s": cc,
        "similarity.exec_s": lambda: noop(similarity.cosine_dedup_pairs(
            emb, threshold=0.99, dim=64, n_planes=6)),
        "curation.decide_s": lambda: noop(
            curation.curation_decide(tr, ev, n=3)),
        "curation.budget_s": lambda: noop(curation.token_budget_select(docs)),
        "lm.fit_score_s": lambda: noop(lm.fit_score(docs)),
    }


def pit_layers(ctx: Ctx, counts: dict) -> dict[str, Callable[[], object]]:
    d = ctx.data
    imgs = _cached(ctx, "imgs", lambda: sources.read_images_table(
        ctx.spark, f"{d}/images.parquet"))
    feats = _cached(ctx, "feats", lambda: images.extract_image_features(
        imgs).where("decode_ok").select("entity_id", "feature_ts",
                                        *STAT_COLS))
    left = _cached(ctx, "left", lambda: entity_events(ctx, d))
    stats = _cached(ctx, "stats", lambda: feature_stats(ctx, d))
    events = _cached(ctx, "events", lambda: ctx.spark.read.parquet(
        f"{d}/events.parquet").withColumn("ts", F.col("ts").cast(
            "timestamp")))
    out_path = os.path.join(d, "feature_table_layer")

    def write():
        sources.write_feature_table(feats, out_path, ts_col="feature_ts",
                                    buckets=FEATURE_BUCKETS)
        n_files, n_bytes = table_files(out_path)
        counts["sources.files_written"] = n_files
        counts["sources.bytes_written"] = n_bytes

    def incremental():
        is_batch = F.unix_millis("feature_ts") % 4 == 0
        base = stats.where(~is_batch)
        batch = stats.where(is_batch)
        prev = asof.asof_join(left, base, on=["entity_id"])
        noop(asof.incremental_asof_update(prev, left, stats, batch,
                                          on=["entity_id"]))

    return {
        "sources.scan_s": lambda: noop(sources.read_images_table(
            ctx.spark, f"{d}/images.parquet")),
        "sources.write_s": write,
        "images.decode_s": lambda: noop(images.extract_image_features(imgs)),
        "asof.join_s": lambda: noop(asof.asof_join(left, stats,
                                                   on=["entity_id"])),
        "asof.incremental_s": incremental,
        "windows.exec_s": lambda: (
            noop(windows.sessionize(events, gap_seconds=1800)),
            noop(windows.backfill(events, "value", out_col="v2"))),
    }


def table_files(path: str) -> tuple[int, int]:
    """Data files and their bytes under a written parquet table."""
    n, b = 0, 0
    for root, _d, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


@dataclass
class Workload:
    name: str
    ops: list[Op]
    docs: int = 0                 # rows_per_s counts these
    events: int = 0
    emb: int = 0
    images: int = 0
    check_scale: float = 0.1


WORKLOADS = {
    "annotate": Workload("annotate", ANNOTATE_OPS + PIT_OPS, docs=1000,
                         events=10000, images=1000),
    "curate": Workload("curate", CURATE_OPS, docs=500, emb=500,
                       check_scale=0.25),
}
