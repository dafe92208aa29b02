"""Sources/sinks (S1-S5): corpus read, rule-file compile round-trip —
mirrors ner_test.clj:51-86 (rule-file round-trip)."""

from __future__ import annotations

import pytest

from clj_nlp_parse_spark import sources
from clj_nlp_parse_spark.operators.dictionary import DictItem


def test_ingest_utterances(spark):
    df = sources.ingest_utterances(spark, ["hello world", "bye"])
    rows = df.collect()
    assert [r.doc_id for r in rows] == ["utt-000000", "utt-000001"]


def test_read_corpus_single_utterance(spark, tmp_path):
    p = tmp_path / "moby.txt"
    p.write_text("Call me Ishmael.\nSome years ago - never mind how long.\n")
    df = sources.read_corpus_file(spark, str(p))
    row = df.collect()[0]
    assert "Call me Ishmael." in row.text and "never mind" in row.text
    assert df.count() == 1
    per_line = sources.read_corpus_file(spark, str(p), join_lines=False)
    assert per_line.count() == 2


def test_rule_file_roundtrip(tmp_path):
    items = [
        DictItem(123, "Teddy Grams", "PRODUCT",
                 features={"food-type": "snack"}),
        DictItem(7, "dups", "RARE", lem_min_len=0),
    ]
    rp, fp = str(tmp_path / "x.rules"), str(tmp_path / "x.json")
    sources.write_regex_files(rp, fp, items)
    rules = open(rp).read()
    assert 'Annotate($0, ner, "PRODUCT")' in rules
    assert '[{word:/(?i)teddy/}] [{word:/(?i)grams/}]' in rules
    assert '[{lemma:/(?i)dup/}]' in rules
    back = sources.read_regex_features(fp)
    assert back[0]["item_id"] == 123
    assert back[0]["features"] == {"food-type": "snack"}
    assert back[1]["pattern"] == [
        {"field": "lemma", "kind": "eq", "value": "dup"}]


def test_rule_file_case_and_regex_rendering(tmp_path):
    items = [
        DictItem(1, "Teddy Grams", "PRODUCT", case_min_tok=2),
        DictItem(2, "rock & roll", "MUSIC"),
        DictItem(3, "/[0-9]{3}/", "NUM_RE", is_regexp=True),
    ]
    rp, fp = str(tmp_path / "y.rules"), str(tmp_path / "y.json")
    sources.write_regex_files(rp, fp, items)
    rules = open(rp).read()
    # case-sensitive items render as exact string tokens (tok_re.clj:162-166)
    assert '[{word:"Teddy"}] [{word:"Grams"}]' in rules
    # conj alternation renders the and|& regex (tok_re.clj:120-122)
    assert '[{word:/(?i)(?:&|and)/}]' in rules
    assert '[{word:/[0-9]{3}/}]' in rules
    back = sources.read_regex_features(fp)
    assert back[0]["case_sen"] is True
    assert back[1]["pattern"][1]["kind"] == "conj"
    assert back[2]["pattern"] == [
        {"field": "word", "kind": "regex", "value": "[0-9]{3}"}]


def test_write_feature_table_layout(spark, tmp_path):
    # partition dirs by (day, entity bucket); rows sorted by (entity, ts)
    # inside every file
    import datetime as dt
    import os
    import pandas as pd
    rows = []
    for e in range(20):
        for i in range(30):
            rows.append((f"e{e}", dt.datetime(2025, 1, 1 + i % 3, i % 24),
                         float(i)))
    df = spark.createDataFrame(
        rows, "entity_id string, event_ts timestamp, fval double")
    p = str(tmp_path / "feat")
    from clj_nlp_parse_spark import sources
    sources.write_feature_table(df, p, buckets=4)
    days = [d for d in os.listdir(p) if d.startswith("p_day=")]
    assert sorted(days) == ["p_day=2025-01-01", "p_day=2025-01-02",
                            "p_day=2025-01-03"]
    bdirs = os.listdir(os.path.join(p, days[0]))
    assert all(b.startswith("p_bucket=") for b in bdirs)
    # in-file sort order
    import glob
    f = glob.glob(os.path.join(p, days[0], bdirs[0], "*.parquet"))[0]
    pdf = pd.read_parquet(f)
    assert list(pdf[["entity_id", "event_ts"]].itertuples(index=False)) == \
        sorted(pdf[["entity_id", "event_ts"]].itertuples(index=False))
    # round trip preserves all rows
    assert spark.read.parquet(p).count() == len(rows)


def test_write_feature_table_parallel_write(spark, tmp_path):
    """The write stage runs in more than one task: a small keyed shuffle
    without a partition count would be coalesced by AQE into one."""
    import datetime as dt
    rows = [(f"e{e}", dt.datetime(2025, 1, 1 + i % 3, i % 24), float(i))
            for e in range(20) for i in range(30)]
    df = spark.createDataFrame(
        rows, "entity_id string, event_ts timestamp, fval double")
    sc = spark.sparkContext
    group = f"write-feature-table-{tmp_path.name}"
    sc.setJobGroup(group, "parallel write")
    try:
        sources.write_feature_table(df, str(tmp_path / "feat"), buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    write_stage = max(st.getJobInfo(max(jobs)).stageIds)
    assert st.getStageInfo(write_stage).numTasks > 1


_SCHEMA_TABLES = [("documents", "DOCUMENTS_SCHEMA"),
                  ("events", "EVENTS_SCHEMA"),
                  ("embeddings", "EMBEDDINGS_SCHEMA")]


@pytest.mark.parametrize("sf,table,name", [
    (sf, t, n) for sf in ("sf0.001", "sf0.01") for t, n in _SCHEMA_TABLES
] + [("synth", "images", "IMAGES_SCHEMA")])
def test_declared_schema_equals_inferred(spark, sf_dir, tmp_path, sf, table,
                                         name):
    """Reads with a declared schema skip the inference job; the declared
    schema must be what Spark would infer."""
    import os
    from clj_nlp_parse_spark import schema, synth
    if sf == "synth":
        path = str(tmp_path / "images.parquet")
        synth.synth_images(spark, 8, partitions=1).write.parquet(path)
    else:
        path = os.path.join(os.path.dirname(sf_dir), sf, f"{table}.parquet")
    assert getattr(schema, name) == spark.read.parquet(path).schema


def test_declared_schema_type_mismatch_fails_loudly(spark, tmp_path):
    """A documents file whose doc_id is a string fails the read instead of
    reading as nulls."""
    from clj_nlp_parse_spark import queries
    d = tmp_path / "sf"
    spark.createDataFrame(
        [("d1", "some text", "en", "web", 9)],
        "doc_id string, text string, lang string, source string, "
        "n_chars bigint").write.parquet(str(d / "documents.parquet"))
    with pytest.raises(Exception, match="(?i)doc_id"):
        queries._docs(spark, str(d)).collect()


def test_feature_string_roundtrip():
    # reference format-features / parse-features (tok_re.clj:74-83)
    got = sources.format_features({"food-type": "snack", "pii-type": "ssn"})
    assert got == "food-type={snack},pii-type={ssn}"
    assert sources.parse_features(got) == {
        "food-type": "snack", "pii-type": "ssn"}
    assert sources.format_features({}) is None
    assert sources.parse_features("k={v}") == {"k": "v"}


def test_feature_string_rejects_unrepresentable_chars():
    # ADVICE r02: the wire format has no escaping, so format_features must
    # reject maps parse_features could not round-trip (bijection contract)
    import pytest
    for bad in ({"k": "a}b"},        # '}' truncates the value
                {"k": "a},x={b"},    # '},' splits into spurious pairs
                {"k=1": "v"},        # '=' in key
                {"k}": "v"}, {"{k": "v"},
                {"k": ""},           # empty value parses away (k={} → {})
                {"": "v"},           # empty key
                {"k": "a\nb"},       # regex '.' does not cross newlines
                {"a\nb": "v"}):
        with pytest.raises(ValueError):
            sources.format_features(bad)
    # values with ',' or '=' are fine — the scanner handles them
    s = sources.format_features({"k": "a,b=c"})
    assert sources.parse_features(s) == {"k": "a,b=c"}


def test_snapshot_log_time_travel_and_lineage(spark, tmp_path):
    tp = str(tmp_path / "snap_table")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    s1 = sources.append_table_version(df1, tp)
    s2 = sources.append_table_version(df2, tp)
    assert (s1, s2) == (1, 2)
    # latest sees both commits; pinned read of v1 is immune to the append
    assert sources.read_table_version(spark, tp).count() == 3
    v1 = sources.read_table_version(spark, tp, snapshot_id=1)
    assert sorted(r.id for r in v1.collect()) == [1, 2]
    # lineage metadata
    snaps = sources.table_versions(tp)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent_id"] == 1
    assert snaps[0]["added_rows"] == 2 and snaps[1]["added_rows"] == 1
    # overwrite starts a fresh file list but HISTORY keeps time travel
    df3 = spark.createDataFrame([(9, "z")], "id long, v string")
    s3 = sources.append_table_version(df3, tp, op="overwrite")
    assert sources.read_table_version(spark, tp).count() == 1
    assert sources.read_table_version(spark, tp, snapshot_id=2).count() == 3
    assert sources.table_versions(tp)[-1]["op"] == "overwrite"
    import pytest
    with pytest.raises(ValueError, match="not found"):
        sources.read_table_version(spark, tp, snapshot_id=77)


def test_snapshot_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    # two writers race from the same parent: writer B commits v2 first;
    # writer A (whose snapshot listing is stale) must FAIL loudly on its
    # exclusive commit, not clobber B's v2
    import pytest
    tp = str(tmp_path / "race_table")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    sources.append_table_version(df1, tp)            # v1
    stale = sources.table_versions(tp)               # A's view: [v1]
    sources.append_table_version(df1, tp)            # B commits v2
    v2 = sources.table_versions(tp)[-1]
    monkeypatch.setattr(sources, "table_versions", lambda p: stale)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        sources.append_table_version(df1, tp)        # A: sid=2 → EEXIST
    monkeypatch.undo()
    # B's commit is intact
    assert sources.table_versions(tp)[-1] == v2


def test_snapshot_vacuum_expires_and_sweeps_orphans(spark, tmp_path):
    import os

    import pytest
    tp = str(tmp_path / "vac_table")
    for i in range(4):
        df = spark.createDataFrame([(i, "x")], "id long, v string")
        sources.append_table_version(df, tp)
    # orphan data dir (a lost concurrent commit)
    orphan = os.path.join(tp, "data", "s9-deadbeef")
    os.makedirs(orphan)
    spark.createDataFrame([(99, "o")], "id long, v string") \
        .coalesce(1).write.mode("overwrite").parquet(orphan)
    import pytest
    with pytest.raises(RuntimeError, match="refusing to vacuum"):
        sources.expire_table_versions(str(tmp_path / "nonexistent"))
    # age guard: a fresh sweep deletes nothing (in-flight writer safety)
    res0 = sources.expire_table_versions(tp, keep_last=4)
    assert res0["deleted_files"] == 0 and os.path.exists(orphan)
    res = sources.expire_table_versions(tp, keep_last=2, min_age_s=0)
    assert res["expired_snapshots"] == [1, 2]
    assert res["deleted_files"] >= 1
    assert not os.path.exists(orphan)
    # surviving snapshots still read correctly (v3 = 3 rows, v4 = 4 rows)
    assert sources.read_table_version(spark, tp, snapshot_id=3).count() == 3
    assert sources.read_table_version(spark, tp).count() == 4
    snaps = sources.table_versions(tp)
    assert [s["snapshot_id"] for s in snaps] == [3, 4]
    with pytest.raises(ValueError, match="not found"):
        sources.read_table_version(spark, tp, snapshot_id=1)
