"""Sources / sinks (SURVEY.md §2.1 S1-S5).

S1 utterance ingest     — spark.read.parquet/iceberg of the input table;
                          `ingest_utterances` wraps raw strings (the
                          parse-object analog, stanford.clj:518-525).
S2 corpus file read     — line-oriented text corpus → one utterance
                          (word_count_test.clj:24-31 fixture pattern).
S3 rule-file sink       — dictionary items → TokensRegex-format rule file +
                          features sidecar (write-regex-files,
                          tok_re.clj:193-230) plus a JSON manifest the
                          engine actually consumes (broadcast dict).
S4 rule-file template   — header prepended to rule files
                          (resources/nlparse/tok-re-template.txt).
S5 model/resource paths — broadcast dictionaries; no model files exist in
                          the engine (rule tables are code).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from clj_nlp_parse_spark.operators.dictionary import DictItem, compile_items
from clj_nlp_parse_spark.schema import IMAGES_SCHEMA

RULE_TEMPLATE = """# Token-regex rules generated by clj_nlp_parse_spark
# (engine-native analog of the reference's CoreNLP TokensRegex file,
#  reference resources/nlparse/tok-re-template.txt + tok_re.clj:193-230)
ENV.defaults["stage"] = 1
"""


def ingest_utterances(spark: SparkSession, utterances: list[str],
                      id_prefix: str = "utt") -> DataFrame:
    """S1: wrap raw strings into the engine's document shape."""
    rows = [(f"{id_prefix}-{i:06d}", u) for i, u in enumerate(utterances)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def read_corpus_file(spark: SparkSession, path: str,
                     join_lines: bool = True) -> DataFrame:
    """S2: read a text corpus; join_lines=True → single utterance row
    (the moby.txt fixture pattern), else one row per line."""
    lines = spark.read.text(path)
    if not join_lines:
        from pyspark.sql import functions as F
        return lines.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("value").alias("text"))
    from pyspark.sql import functions as F
    return lines.agg(
        F.concat_ws(" ", F.collect_list("value")).alias("text")
    ).select(F.lit("corpus-0").alias("doc_id"), "text")


def format_features(features: dict[str, str]) -> str | None:
    """Reference format-features (tok_re.clj:74-77): 'k1={v1},k2={v2}'.
    Keys are emitted in sorted order for determinism (the reference's map
    order is insertion-dependent); None for an empty map, matching the
    reference's nil seed.

    Domain contract (ADVICE r02): the wire format does not escape, so a
    '}' inside a value (truncates at the first '}') or '=', '{', '}'
    inside a key would make parse_features lossy — the reference silently
    mangles such maps; this engine REJECTS them so format→parse is a
    guaranteed bijection over the accepted domain."""
    if not features:
        return None
    for k, v in features.items():
        k, v = str(k), str(v)
        if not k or any(ch in k for ch in "={}\n\r"):
            raise ValueError(
                f"feature key {k!r} is empty or contains one of '=', "
                "'{', '}', newline — unrepresentable in the k={v} wire "
                "format (no escaping; the parse regex does not cross lines)")
        if not v or "}" in v or "\n" in v or "\r" in v:
            raise ValueError(
                f"feature value {v!r} for key {k!r} is empty or contains "
                "'}' or a newline — unrepresentable in the k={v} wire "
                "format (no escaping; empty values parse away, the regex "
                "does not cross lines)")
    return ",".join(f"{k}={{{v}}}" for k, v in sorted(features.items()))


def parse_features(feature_string: str) -> dict[str, str]:
    """Reference parse-features (tok_re.clj:79-83): inverse of
    format_features, regex-scanned exactly like the reference
    (non-greedy key up to '={', value up to '}'). Exact inverse only over
    format_features' accepted domain — see its domain contract."""
    import re as _re
    return {m.group(1): m.group(2)
            for m in _re.finditer(r"(.+?)=\{(.+?)\},?", feature_string)}


def write_regex_files(regex_path: str, features_path: str,
                      items: list[DictItem]) -> None:
    """S3: compile + persist the dictionary. The .rules file is a
    human-auditable TokensRegex-style export; the .json sidecar is what the
    engine reloads and broadcasts."""
    compiled = compile_items(items)
    with open(regex_path, "w") as fh:
        fh.write(RULE_TEMPLATE)
        # one rule line per item
        for ci in compiled:
            toks = []
            for p in ci.pattern:
                if p.kind == "regex":
                    toks.append('[{word:/%s/}]' % p.value)
                elif p.kind == "conj":
                    body = "(?:&|and)" if ci.case_sen else "(?i)(?:&|and)"
                    toks.append('[{%s:/%s/}]' % (p.field, body))
                elif ci.case_sen:
                    toks.append('[{%s:"%s"}]' % (p.field, p.value))
                else:
                    # reference fmt-pattern (tok_re.clj:162-171): case-
                    # insensitive literals render as /(?i).../ regexes
                    toks.append('[{%s:/(?i)%s/}]' % (p.field, p.value))
            pat = " ".join(toks)
            fh.write(f'{{ pattern: ( {pat} ), action: Annotate($0, ner, '
                     f'"{ci.label}"), result: "{ci.item_id}" }}\n')
    with open(features_path, "w") as fh:
        json.dump([{
            "item_id": ci.item_id, "label": ci.label,
            "features": ci.features, "case_sen": ci.case_sen,
            "pattern": [{"field": p.field, "kind": p.kind, "value": p.value}
                        for p in ci.pattern],
        } for ci in compiled], fh, indent=1)


def read_regex_features(features_path: str) -> list[dict]:
    """Reload the S3 sidecar (round-trip tested)."""
    with open(features_path) as fh:
        return json.load(fh)


def read_images_table(spark: SparkSession, location: str,
                      snapshot_id: int | None = None,
                      fmt: str = "auto") -> "DataFrame":
    """S1 production path: read the image+caption table.

    Iceberg (the north_rule target) when the runtime has the Iceberg
    catalog configured — with optional snapshot pinning so checkpoint
    manifests can record exactly which snapshot a run consumed
    (`VERSION AS OF`, checkpoint.py). Plain parquet where no Iceberg
    jars are present, read with the declared `schema.IMAGES_SCHEMA`: no
    footer-reading inference job per read. Iceberg takes its schema from
    the table metadata.
    """
    if fmt == "auto":
        fmt = "iceberg" if ("/" not in location
                            or location.startswith("iceberg.")) else "parquet"
    if fmt == "iceberg":
        try:
            r = spark.read.format("iceberg")
            if snapshot_id is not None:
                r = r.option("snapshot-id", str(snapshot_id))
            return r.load(location)
        except Exception as e:  # jars absent in sandbox
            raise NotImplementedError(
                "Iceberg runtime not available in this environment; "
                "pass a parquet path instead") from e
    if snapshot_id is not None:
        raise ValueError("snapshot pinning requires the iceberg format")
    return spark.read.schema(IMAGES_SCHEMA).parquet(location)


def write_feature_table(df: "DataFrame", path: str,
                        entity_col: str = "entity_id",
                        ts_col: str = "event_ts",
                        buckets: int = 64) -> None:
    """Production layout for feature output (the parquet analog of Iceberg
    `days(ts) + bucket(entity)` partition transforms with a sorted write
    order): partition dirs prune time-range and entity-bucket scans, and
    rows inside every file are sorted by (entity, ts) so downstream as-of /
    window consumers get merge-friendly, partially-clustered input instead
    of a full shuffle+sort.

    One shuffle (repartition on the partition keys) + in-task sort; no
    driver-side work. The repartition names its partition count
    (spark.sql.shuffle.partitions): AQE coalesces a small keyed shuffle
    without one into a single task, which then writes every file alone.
    Each (day, bucket) still lands in exactly one task, so the files and
    their row order do not depend on the count.
    """
    from pyspark.sql import functions as F

    out = (df.withColumn("p_day", F.to_date(F.col(ts_col)))
           .withColumn("p_bucket",
                       F.pmod(F.xxhash64(F.col(entity_col)),
                              F.lit(buckets)).cast("int")))
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # the sort leads with the partition columns: the dynamic-partition
    # writer re-sorts on them otherwise, destroying the (entity, ts) order
    (out.repartition(n, "p_day", "p_bucket")
        .sortWithinPartitions("p_day", "p_bucket", entity_col, ts_col)
        .write.mode("overwrite")
        .partitionBy("p_day", "p_bucket")
        .parquet(path))


# ------------------------------------------------- snapshot log (time travel)
def _meta_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def table_versions(table_path: str) -> list[dict]:
    """All committed snapshots, oldest first."""
    md = _meta_dir(table_path)
    if not os.path.isdir(md):
        return []
    out = []
    for f in sorted(os.listdir(md)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(md, f)) as fh:
                out.append(json.load(fh))
    return sorted(out, key=lambda s: s["snapshot_id"])


def append_table_version(df: "DataFrame", table_path: str,
                         op: str = "append") -> int:
    """Commit a new table snapshot — the engine's Iceberg-shaped metadata
    layer over plain parquet (the sandbox has no Iceberg jars; the PROTOCOL
    is what the north_star needs: pinned file lists, lineage, time travel).

    Data files land under <table>/data/s<id>-part-*.parquet; the commit is
    a metadata/v<id>.json written via tmp+atomic-rename listing every LIVE
    file (parent's files + the new ones for op='append'; only the new ones
    for op='overwrite'), with row count and parent id — so a reader pinned
    to snapshot N is immune to concurrent appends, and lineage manifests
    (checkpoint.py) can record exactly which snapshot a run consumed.
    Returns the new snapshot id."""
    if op not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot op: {op}")
    versions = table_versions(table_path)
    parent = versions[-1] if versions else None
    sid = (parent["snapshot_id"] + 1) if parent else 1
    # unique data dir per WRITER (not just per sid): two concurrent
    # committers racing to the same sid must not interleave part files
    token = os.urandom(6).hex()
    data_dir = os.path.join(table_path, "data", f"s{sid}-{token}")
    df.write.mode("overwrite").parquet(data_dir)
    new_files = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
        if f.endswith(".parquet"))
    live = list(new_files) if op == "overwrite" or parent is None \
        else list(parent["files"]) + new_files
    # row count from parquet footers — no second Spark scan of the data
    import pyarrow.parquet as pq
    n_new = sum(pq.ParquetFile(f).metadata.num_rows for f in new_files)
    snap = {
        "snapshot_id": sid,
        "parent_id": parent["snapshot_id"] if parent else None,
        "op": op,
        "files": live,
        "added_files": new_files,
        "added_rows": n_new,
        "committed_at": time.time(),
    }
    md = _meta_dir(table_path)
    os.makedirs(md, exist_ok=True)
    tmp = os.path.join(md, f".v{sid}.{token}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(snap, fh, indent=1)
    # exclusive commit: os.link fails with EEXIST if another writer already
    # committed this sid — optimistic concurrency, the loser gets an error
    # (its orphaned data dir is unreferenced garbage for a vacuum to sweep)
    target = os.path.join(md, f"v{sid}.json")
    try:
        os.link(tmp, target)
    except FileExistsError:
        os.unlink(tmp)
        raise RuntimeError(
            f"concurrent commit: snapshot {sid} already exists at "
            f"{table_path} — retry on top of the new latest snapshot")
    os.unlink(tmp)
    return sid


def read_table_version(spark: "SparkSession", table_path: str,
                       snapshot_id: int | None = None) -> "DataFrame":
    """Read the file list pinned by snapshot_id (latest when None) — time
    travel: a reader of snapshot N sees EXACTLY N's files regardless of
    later commits."""
    versions = table_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    if snapshot_id is None:
        snap = versions[-1]
    else:
        match = [s for s in versions if s["snapshot_id"] == snapshot_id]
        if not match:
            raise ValueError(f"snapshot {snapshot_id} not found "
                             f"(have {[s['snapshot_id'] for s in versions]})")
        snap = match[0]
    return spark.read.parquet(*snap["files"])


def expire_table_versions(table_path: str, keep_last: int = 2,
                          min_age_s: float = 3600.0) -> dict:
    """Vacuum the snapshot log: keep the newest `keep_last` snapshots,
    delete older metadata, and remove every data file (and then-empty or
    orphaned data dir) no surviving snapshot references. Pinned readers of
    EXPIRED snapshots lose time travel to them (the Iceberg
    expire_snapshots contract); surviving snapshots are untouched.

    Safety rails (all review-driven):
    - refuses to run when the table has NO committed snapshots — nothing
      is provably orphaned without a snapshot log (a lost metadata dir
      must not turn the vacuum into rm -rf);
    - `min_age_s` age threshold (Iceberg's orphan-sweep rule): files
      younger than it are skipped, so an IN-FLIGHT writer that has written
      data but not yet committed its metadata cannot be swept mid-commit;
    - live-file comparison is on os.path.realpath so a differently-spelled
      (relative/absolute/symlinked) table_path cannot dodge the live set;
    - leftover _temporary DIRECTORIES (killed writers) are rmtree'd only
      when old enough and containing no live file.

    Returns {"expired_snapshots": [...], "deleted_files": n}."""
    import shutil
    versions = table_versions(table_path)
    if not versions:
        raise RuntimeError(
            f"no committed snapshots at {table_path} — refusing to vacuum "
            f"(is the metadata directory missing?)")
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    keep = versions[-keep_last:]
    expired = versions[:-keep_last] if len(versions) > keep_last else []
    live = {os.path.realpath(f) for s in keep for f in s["files"]}
    md = _meta_dir(table_path)
    for s in expired:
        os.unlink(os.path.join(md, f"v{s['snapshot_id']}.json"))
    deleted = 0
    now = time.time()

    def _mtime(p):
        try:
            return os.path.getmtime(p)
        except OSError:
            return now

    def _newest_in_tree(d):
        # the age gate must see the NEWEST write anywhere in the tree: a
        # long-running job's top dir mtime is stale, and committer renames
        # preserve task-write mtimes on part files — only the newest
        # tree-wide mtime proves the writer is actually gone
        newest = _mtime(d)
        for root, dirs, files in os.walk(d):
            for x in dirs + files:
                newest = max(newest, _mtime(os.path.join(root, x)))
        return newest

    def _tree_has_live(d):
        for root, _dirs, files in os.walk(d):
            for f in files:
                if os.path.realpath(os.path.join(root, f)) in live:
                    return True
        return False

    def _count_parquet(d):
        return sum(1 for _r, _d, files in os.walk(d)
                   for f in files if f.endswith(".parquet"))

    data_root = os.path.join(table_path, "data")
    if os.path.isdir(data_root):
        for d in sorted(os.listdir(data_root)):
            dd = os.path.join(data_root, d)
            if not os.path.isdir(dd):
                continue
            # a recent write ANYWHERE under this data dir means a possibly
            # uncommitted writer — leave the whole dir alone this pass
            dir_quiet = now - _newest_in_tree(dd) >= min_age_s
            for f in list(os.listdir(dd)):
                fp = os.path.join(dd, f)
                if os.path.isdir(fp):
                    if dir_quiet and not _tree_has_live(fp):
                        deleted += _count_parquet(fp)
                        shutil.rmtree(fp)
                    continue
                if os.path.realpath(fp) not in live and dir_quiet:
                    os.unlink(fp)
                    if f.endswith(".parquet"):
                        deleted += 1
            if not os.listdir(dd):
                shutil.rmtree(dd)
    return {"expired_snapshots": [s["snapshot_id"] for s in expired],
            "deleted_files": deleted}
