"""Structured Streaming: session windows, watermarked aggregation, and
stateless caption features over a file-source stream — results must equal
the batch operators on the same input."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from clj_nlp_parse_spark.streaming import stream as ST


def _t(s):
    return dt.datetime.fromisoformat(s)


def _write_events(spark, tmp_path):
    rows = [
        (1, 1, _t("2025-01-01T10:00:00"), 1.0),
        (2, 1, _t("2025-01-01T10:10:00"), 2.0),
        (3, 1, _t("2025-01-01T11:30:00"), 3.0),  # 80-min gap → new session
        (4, 2, _t("2025-01-01T10:05:00"), 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    p = str(tmp_path / "ev")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    return p, df


def test_streaming_session_window_matches_batch_sessionize(spark, tmp_path):
    p, batch = _write_events(spark, tmp_path)
    sdf = spark.readStream.schema(batch.schema).parquet(p)
    out = ST.session_aggregate(sdf, gap="30 minutes")
    ST.run_available_now(out, "sess_t", output_mode="complete")
    got = {(r.user_id, r.n_events)
           for r in spark.sql("SELECT * FROM sess_t").collect()}
    # user 1: sessions {2 events}, {1 event}; user 2: {1 event}
    assert got == {(1, 2), (1, 1), (2, 1)}
    # batch equivalent agrees on session count per user
    from clj_nlp_parse_spark.operators import windows
    b = windows.sessionize(batch, gap_seconds=1800)
    bs = (b.groupBy("user_id").agg(F.countDistinct("session_id").alias("n"))
          .collect())
    assert {(r.user_id, r.n) for r in bs} == {(1, 2), (2, 1)}


def test_streaming_windowed_counts(spark, tmp_path):
    p, batch = _write_events(spark, tmp_path)
    sdf = spark.readStream.schema(batch.schema).parquet(p)
    out = ST.windowed_event_counts(sdf, window="1 hour")
    ST.run_available_now(out, "winc_t", output_mode="complete")
    got = {(r.user_id, r.win_start.hour, r.n_events)
           for r in spark.sql("SELECT * FROM winc_t").collect()}
    assert (1, 10, 2) in got and (1, 11, 1) in got and (2, 10, 1) in got


def test_streaming_caption_features_match_batch(spark, tmp_path):
    rows = [("a", "the fast cats are running"), ("b", "slow table scan")]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    p = str(tmp_path / "caps")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    sdf = spark.readStream.schema(df.schema).parquet(p)
    out = ST.streaming_caption_features(sdf).select(
        "image_id", "pos_tag_count_noun", "pos_tag_count_verb")
    ST.run_available_now(out, "capf_t")
    got = {r.image_id: (r.pos_tag_count_noun, r.pos_tag_count_verb)
           for r in spark.sql("SELECT * FROM capf_t").collect()}
    batch = ST.streaming_caption_features(df).select(
        "image_id", "pos_tag_count_noun", "pos_tag_count_verb")
    want = {r.image_id: (r.pos_tag_count_noun, r.pos_tag_count_verb)
            for r in batch.collect()}
    assert got == want


def test_streaming_image_features_match_batch(spark, tmp_path):
    # the one-Arrow-stage image op streams unchanged: availableNow over a
    # file source must produce exactly the batch features, including the
    # corrupt-row containment path
    from clj_nlp_parse_spark import synth
    from clj_nlp_parse_spark.operators import images
    imgs = synth.synth_images(spark, 12, partitions=2)
    bad = imgs.limit(1).select(
        F.lit("corrupt").alias("image_id"), F.lit(b"zz").alias("bytes"),
        "w", "h", "fmt", "entity_id", "event_ts", "phash")
    src = imgs.select("image_id", "bytes", "w", "h", "fmt", "entity_id",
                      "event_ts", "phash").unionByName(bad)
    p = str(tmp_path / "simg")
    src.coalesce(1).write.mode("overwrite").parquet(p)
    sdf = spark.readStream.schema(src.schema).parquet(p)
    sink = str(tmp_path / "simg_out")
    ST.run_available_now_to_parquet(
        ST.streaming_image_features(sdf), sink, str(tmp_path / "simg_ckpt"))
    got = {r.image_id: (r.phash_bucket, r.px_mean_r, r.decode_ok)
           for r in spark.read.parquet(sink).collect()}
    want = {r.image_id: (r.phash_bucket, r.px_mean_r, r.decode_ok)
            for r in images.extract_image_features(src).collect()}
    assert got == want and len(got) == 13
    assert got["corrupt"][2] is False


def test_streaming_asof_carry_stateful(spark, tmp_path):
    # unified feature+event stream; state carries the latest feature across
    # micro-batches AND across query restarts (checkpointed GroupState)
    schema = "entity_id string, ts timestamp, side string, fval double"
    batch1 = spark.createDataFrame([
        ("a", _t("2025-01-01T10:00:00"), "feature", 1.0),
        ("a", _t("2025-01-01T10:00:00"), "event", None),   # tie → inclusive
        ("a", _t("2025-01-01T10:30:00"), "event", None),
        ("b", _t("2025-01-01T10:00:00"), "event", None),   # no feature yet
    ], schema)
    p = str(tmp_path / "carry_in")
    ckpt = str(tmp_path / "carry_ckpt")
    sink = str(tmp_path / "carry_out")
    batch1.coalesce(1).write.mode("append").parquet(p)
    sdf = spark.readStream.schema(batch1.schema).parquet(p)
    out = ST.streaming_asof_carry(sdf)
    ST.run_available_now_to_parquet(out, sink, ckpt)
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    assert got[("a", _t("2025-01-01T10:00:00"))] == \
        (_t("2025-01-01T10:00:00"), 1.0)
    assert got[("a", _t("2025-01-01T10:30:00"))] == \
        (_t("2025-01-01T10:00:00"), 1.0)
    assert got[("b", _t("2025-01-01T10:00:00"))] == (None, None)

    # restart with new events only: entity a's feature must come FROM STATE
    batch2 = spark.createDataFrame([
        ("a", _t("2025-01-01T11:00:00"), "event", None),
        ("b", _t("2025-01-01T11:00:00"), "feature", 7.0),
        ("b", _t("2025-01-01T11:30:00"), "event", None),
    ], schema)
    batch2.coalesce(1).write.mode("append").parquet(p)
    sdf2 = spark.readStream.schema(batch1.schema).parquet(p)
    out2 = ST.streaming_asof_carry(sdf2)
    ST.run_available_now_to_parquet(out2, sink, ckpt)
    got2 = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
            for r in spark.read.parquet(sink).collect()}
    assert got2[("a", _t("2025-01-01T11:00:00"))] == \
        (_t("2025-01-01T10:00:00"), 1.0)   # carried from checkpointed state
    assert got2[("b", _t("2025-01-01T11:30:00"))] == \
        (_t("2025-01-01T11:00:00"), 7.0)


def test_streaming_carry_equals_batch_asof(spark, tmp_path):
    # the streaming stateful carry and the batch union_window as-of must
    # produce the same (entity, event_ts) -> (feature_ts, value) mapping
    import random
    from clj_nlp_parse_spark.operators import asof
    rnd = random.Random(5)
    feats, evs, uni = [], [], []
    for e in ["a", "b", "c"]:
        t = 0
        for i in range(30):
            t += rnd.randint(1, 900)
            ts = _t("2025-01-01T00:00:00") + dt.timedelta(seconds=t)
            if rnd.random() < 0.4:
                v = float(rnd.randint(0, 99))
                feats.append((e, ts, v))
                uni.append((e, ts, "feature", v))
            else:
                evs.append((e, ts))
                uni.append((e, ts, "event", None))
    lefts = spark.createDataFrame(evs, "entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        feats, "entity_id string, feature_ts timestamp, fval double")
    batch = asof.asof_join(lefts, rights, on=["entity_id"])
    want = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
            for r in batch.collect()}

    udf_ = spark.createDataFrame(
        uni, "entity_id string, ts timestamp, side string, fval double")
    p = str(tmp_path / "uni_in")
    udf_.coalesce(1).write.mode("overwrite").parquet(p)
    sdf = spark.readStream.schema(udf_.schema).parquet(p)
    sink = str(tmp_path / "uni_out")
    ST.run_available_now_to_parquet(
        ST.streaming_asof_carry(sdf), sink, str(tmp_path / "uni_ckpt"))
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    assert got == want


def test_watermark_drops_late_event(spark, tmp_path):
    # drain 1: user 1 has 2 events in [10:00, 11:00); a 12:00 event advances
    # the watermark to 11:30, closing and evicting that window's state.
    # drain 2 (same checkpoint): a LATE 10:05 event arrives — beyond the
    # watermark, it must be dropped; a 14:00 event advances the watermark
    # past 12:00 + 13:00 so every legitimate window flushes to the sink.
    schema = "event_id long, user_id long, ts timestamp, value double"
    p = str(tmp_path / "wm_in")
    ckpt = str(tmp_path / "wm_ckpt")
    sink = str(tmp_path / "wm_out")

    batch1 = spark.createDataFrame([
        (1, 1, _t("2025-01-01T10:00:00"), 1.0),
        (2, 1, _t("2025-01-01T10:10:00"), 2.0),
        (3, 1, _t("2025-01-01T12:00:00"), 3.0),
    ], schema)
    batch1.coalesce(1).write.mode("append").parquet(p)
    sdf = spark.readStream.schema(batch1.schema).parquet(p)
    out = ST.windowed_event_counts(sdf, window="1 hour",
                                   watermark="30 minutes")
    ST.run_available_now_to_parquet(out, sink, ckpt)

    batch2 = spark.createDataFrame([
        (4, 1, _t("2025-01-01T10:05:00"), 9.0),   # LATE: beyond watermark
        (5, 1, _t("2025-01-01T14:00:00"), 4.0),   # advances watermark
    ], schema)
    batch2.coalesce(1).write.mode("append").parquet(p)
    sdf2 = spark.readStream.schema(batch1.schema).parquet(p)
    out2 = ST.windowed_event_counts(sdf2, window="1 hour",
                                    watermark="30 minutes")
    ST.run_available_now_to_parquet(out2, sink, ckpt)

    got = {(r.win_start.hour, r.n_events, float(r.sum_value))
           for r in spark.read.parquet(sink).collect()}
    # the 10:00 window finalized WITHOUT the late event (2 events, sum 3.0)
    assert (10, 2, 3.0) in got
    assert (10, 3, 12.0) not in got   # late row did NOT reopen the window
    assert (12, 1, 3.0) in got        # the 12:00 window flushed


def test_streaming_carry_many_microbatches(spark, tmp_path):
    # one file per micro-batch (maxFilesPerTrigger=1): the GroupState must
    # carry across MANY batch boundaries within a single availableNow run
    import random
    from clj_nlp_parse_spark.operators import asof
    rnd = random.Random(11)
    schema = "entity_id string, ts timestamp, side string, fval double"
    p = str(tmp_path / "mb_in")
    uni, evs, feats = [], [], []
    t = 0
    import glob
    import os
    import time as time_mod
    base_mtime = time_mod.time() - 600
    for fidx in range(6):       # 6 files → 6 micro-batches
        rows = []
        for _ in range(10):
            t += rnd.randint(1, 500)
            ts = _t("2025-01-01T00:00:00") + dt.timedelta(seconds=t)
            if rnd.random() < 0.35:
                v = float(rnd.randint(0, 99))
                rows.append(("e", ts, "feature", v))
                feats.append(("e", ts, v))
            else:
                rows.append(("e", ts, "event", None))
                evs.append(("e", ts))
        before = set(glob.glob(f"{p}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(p)
        # pin strictly increasing mtimes so the file source's batch order
        # matches write order even with same-second filesystem resolution
        for f in set(glob.glob(f"{p}/*.parquet")) - before:
            os.utime(f, (base_mtime + fidx * 10, base_mtime + fidx * 10))
        uni += rows
    sdf = (spark.readStream.schema(uni and spark.createDataFrame(
        uni, schema).schema).option("maxFilesPerTrigger", 1).parquet(p))
    sink = str(tmp_path / "mb_out")
    ST.run_available_now_to_parquet(
        ST.streaming_asof_carry(sdf), sink, str(tmp_path / "mb_ckpt"))
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    lefts = spark.createDataFrame(evs, "entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        feats, "entity_id string, feature_ts timestamp, fval double")
    want = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
            for r in asof.asof_join(lefts, rights, on=["entity_id"])
            .collect()}
    assert got == want


def _write_microbatch_files(spark, path, files, schema, base_offset=600):
    """Write each rows-list as one parquet file with pinned increasing
    mtimes so maxFilesPerTrigger=1 processes them in order."""
    import glob
    import os
    import time as time_mod
    base_mtime = time_mod.time() - base_offset
    for fidx, rows in enumerate(files):
        before = set(glob.glob(f"{path}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(path)
        for f in set(glob.glob(f"{path}/*.parquet")) - before:
            os.utime(f, (base_mtime + fidx * 10, base_mtime + fidx * 10))


def test_streaming_asof_buffered_late_feature(spark, tmp_path):
    # a feature arriving in a LATER micro-batch than the events it serves
    # must still win (the carry variant would miss it; VERDICT r01 #8)
    schema = "entity_id string, ts timestamp, side string, fval double"
    p = str(tmp_path / "buf_in")
    files = [
        [("a", _t("2025-01-01T09:00:00"), "feature", 1.0),
         ("a", _t("2025-01-01T10:00:00"), "event", None),
         ("a", _t("2025-01-01T10:30:00"), "event", None)],
        # LATE feature at 09:50 — before both events, arrives after them
        [("a", _t("2025-01-01T09:50:00"), "feature", 2.0),
         ("a", _t("2025-01-01T20:00:00"), "feature", 9.0)],  # advances wm
    ]
    _write_microbatch_files(spark, p, files, schema)
    sdf = (spark.readStream.schema(
        spark.createDataFrame(files[0], schema).schema)
        .option("maxFilesPerTrigger", 1).parquet(p))
    sink = str(tmp_path / "buf_out")
    ST.run_available_now_to_parquet(
        ST.streaming_asof_buffered(sdf, watermark="1 hour"),
        sink, str(tmp_path / "buf_ckpt"))
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    assert got[("a", _t("2025-01-01T10:00:00"))] == \
        (_t("2025-01-01T09:50:00"), 2.0)
    assert got[("a", _t("2025-01-01T10:30:00"))] == \
        (_t("2025-01-01T09:50:00"), 2.0)


def test_streaming_asof_buffered_pending_flush_on_restart(spark, tmp_path):
    # events newer than the final watermark stay pending in state and flush
    # on the next run over the same checkpoint
    schema = "entity_id string, ts timestamp, side string, fval double"
    p = str(tmp_path / "pend_in")
    ckpt = str(tmp_path / "pend_ckpt")
    sink = str(tmp_path / "pend_out")
    in_schema = spark.createDataFrame(
        [("a", _t("2025-01-01T09:00:00"), "feature", 1.0)], schema).schema
    _write_microbatch_files(spark, p, [
        [("a", _t("2025-01-01T09:00:00"), "feature", 1.0),
         ("a", _t("2025-01-01T10:00:00"), "event", None)],
    ], schema)
    sdf = spark.readStream.schema(in_schema).parquet(p)
    ST.run_available_now_to_parquet(
        ST.streaming_asof_buffered(sdf, watermark="1 hour"), sink, ckpt)
    # watermark never passed 10:00 → nothing emitted yet
    assert spark.read.parquet(sink).count() == 0

    _write_microbatch_files(spark, p, [
        [("a", _t("2025-01-01T15:00:00"), "feature", 5.0)],  # advances wm
    ], schema, base_offset=60)
    sdf2 = spark.readStream.schema(in_schema).parquet(p)
    ST.run_available_now_to_parquet(
        ST.streaming_asof_buffered(sdf2, watermark="1 hour"), sink, ckpt)
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    assert got[("a", _t("2025-01-01T10:00:00"))] == \
        (_t("2025-01-01T09:00:00"), 1.0)


def test_streaming_asof_buffered_equals_batch_shuffled(spark, tmp_path):
    # rows randomly scattered across 5 micro-batches (features arrive out
    # of order relative to events); a final sentinel feature far in the
    # future flushes everything — output must equal the batch as-of
    import random
    from clj_nlp_parse_spark.operators import asof
    rnd = random.Random(17)
    schema = "entity_id string, ts timestamp, side string, fval double"
    feats, evs = [], []
    rows_all = []
    for e in ["a", "b"]:
        t = 0
        for _ in range(40):
            t += rnd.randint(1, 300)   # spans < 4 hours
            ts = _t("2025-01-01T00:00:00") + dt.timedelta(seconds=t)
            if rnd.random() < 0.4:
                v = float(rnd.randint(0, 99))
                feats.append((e, ts, v))
                rows_all.append((e, ts, "feature", v))
            else:
                evs.append((e, ts))
                rows_all.append((e, ts, "event", None))
    files = [[] for _ in range(5)]
    for r in rows_all:
        files[rnd.randrange(5)].append(r)
    files = [f for f in files if f]
    # sentinel: advances the final watermark past every event
    sentinel_ts = _t("2025-01-02T12:00:00")
    files.append([("a", sentinel_ts, "feature", 0.0),
                  ("b", sentinel_ts, "feature", 0.0)])
    p = str(tmp_path / "shuf_in")
    _write_microbatch_files(spark, p, files, schema)
    sdf = (spark.readStream.schema(
        spark.createDataFrame(rows_all, schema).schema)
        .option("maxFilesPerTrigger", 1).parquet(p))
    sink = str(tmp_path / "shuf_out")
    ST.run_available_now_to_parquet(
        ST.streaming_asof_buffered(sdf, watermark="10 hours"),
        sink, str(tmp_path / "shuf_ckpt"))
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    lefts = spark.createDataFrame(evs, "entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        feats, "entity_id string, feature_ts timestamp, fval double")
    want = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
            for r in asof.asof_join(lefts, rights, on=["entity_id"])
            .collect()}
    assert got == want


def test_streaming_carry_multichunk_group(spark, tmp_path):
    # >2048 rows for ONE key in ONE micro-batch → the group arrives as
    # multiple Arrow chunks; the carry must sort the WHOLE group, not each
    # chunk (ADVICE r01 high-severity finding)
    import random
    from clj_nlp_parse_spark.operators import asof
    rnd = random.Random(23)
    rows, feats, evs = [], [], []
    t = 0
    for _ in range(6000):
        t += rnd.randint(1, 20)
        ts = _t("2025-01-01T00:00:00") + dt.timedelta(seconds=t)
        if rnd.random() < 0.3:
            v = float(rnd.randint(0, 99))
            rows.append(("e", ts, "feature", v))
            feats.append(("e", ts, v))
        else:
            rows.append(("e", ts, "event", None))
            evs.append(("e", ts))
    schema = "entity_id string, ts timestamp, side string, fval double"
    df = spark.createDataFrame(rows, schema)
    p = str(tmp_path / "big_in")
    # shuffle row order inside the file so chunk order != time order
    df.orderBy(F.md5(F.col("ts").cast("string"))).coalesce(1) \
        .write.mode("overwrite").parquet(p)
    sdf = spark.readStream.schema(df.schema).parquet(p)
    sink = str(tmp_path / "big_out")
    ST.run_available_now_to_parquet(
        ST.streaming_asof_carry(sdf), sink, str(tmp_path / "big_ckpt"))
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    lefts = spark.createDataFrame(evs, "entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        feats, "entity_id string, feature_ts timestamp, fval double")
    want = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
            for r in asof.asof_join(lefts, rights, on=["entity_id"])
            .collect()}
    assert len(got) == len(evs)
    assert got == want


def test_streaming_asof_buffered_multichunk_group_with_late_features(
        spark, tmp_path):
    # VERDICT r02 #8: one key with >2,048 rows in a single micro-batch (the
    # group spans multiple Arrow chunks — the buffered variant's
    # pdfs-concat path) PLUS late features arriving across later
    # micro-batches; output must equal the batch union_window as-of.
    import random
    from clj_nlp_parse_spark.operators import asof
    rnd = random.Random(29)
    schema = "entity_id string, ts timestamp, side string, fval double"
    rows_all, feats, evs = [], [], []

    def mk(n, max_step, off_ms=0):
        # off_ms: per-batch sub-second offset so timestamps never collide
        # across batches (every (key, ts) stays unique)
        batch, t = [], 0
        for _ in range(n):
            t += rnd.randint(1, max_step)
            ts = _t("2025-01-01T00:00:00") + dt.timedelta(
                seconds=t, milliseconds=off_ms)
            if rnd.random() < 0.3:
                v = float(rnd.randint(0, 99))
                batch.append(("e", ts, "feature", v))
                feats.append(("e", ts, v))
            else:
                batch.append(("e", ts, "event", None))
                evs.append(("e", ts))
        return batch

    # batch 1: 6,000 rows (>2 Arrow chunks for the one key), shuffled so
    # chunk order != time order
    big = mk(6000, 2)                     # spans ~2 hours
    rnd.shuffle(big)
    # batches 2-3: LATE features + more events with timestamps interleaved
    # into batch 1's range (within the 10h watermark, so the contract
    # guarantees exactness)
    late2 = mk(400, 18, off_ms=333)
    late3 = mk(400, 18, off_ms=667)
    rows_all = big + late2 + late3
    sentinel = [("e", _t("2025-01-02T12:00:00"), "feature", 0.0)]
    feats.append(("e", _t("2025-01-02T12:00:00"), 0.0))
    p = str(tmp_path / "mc_in")
    _write_microbatch_files(spark, p, [big, late2, late3, sentinel], schema)
    sdf = (spark.readStream.schema(
        spark.createDataFrame(rows_all, schema).schema)
        .option("maxFilesPerTrigger", 1).parquet(p))
    sink = str(tmp_path / "mc_out")
    ST.run_available_now_to_parquet(
        ST.streaming_asof_buffered(sdf, watermark="10 hours"),
        sink, str(tmp_path / "mc_ckpt"))
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    lefts = spark.createDataFrame(evs, "entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        feats, "entity_id string, feature_ts timestamp, fval double")
    want = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
            for r in asof.asof_join(lefts, rights, on=["entity_id"])
            .collect()}
    assert len(got) == len(evs)
    assert got == want


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    # duplicates across micro-batches are dropped; first arrival survives;
    # state is bounded by the watermark
    schema = "doc_id long, ts timestamp, text string"
    p = str(tmp_path / "sdd_in")
    files = [
        [(1, _t("2025-01-01T10:00:00"), "the fast cat"),
         (2, _t("2025-01-01T10:01:00"), "a slow dog")],
        [(3, _t("2025-01-01T10:02:00"), "THE  FAST   CAT"),   # dup of 1
         (4, _t("2025-01-01T10:03:00"), "something new")],
    ]
    _write_microbatch_files(spark, p, files, schema)
    sdf = (spark.readStream.schema(
        spark.createDataFrame(files[0], schema).schema)
        .option("maxFilesPerTrigger", 1).parquet(p))
    out = ST.streaming_exact_dedup(sdf, watermark_col="ts")
    sink = str(tmp_path / "sdd_out")
    ST.run_available_now_to_parquet(out, sink, str(tmp_path / "sdd_ckpt"))
    got = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 4]
    # batch equivalent keeps the same SET of hashes
    from clj_nlp_parse_spark.operators import dedup as DD
    batch = spark.createDataFrame(
        [r for f in files for r in f], schema)
    kept = DD.exact_dedup(batch).where("keep").count()
    assert kept == 3


def test_streaming_asof_buffered_timeout_flush_via_other_key(spark, tmp_path):
    # entity 'a' gets NO new rows in the later micro-batches; the watermark
    # advances via entity 'b' only — a's pending event must flush through
    # the EventTimeTimeout path (state.hasTimedOut), not a data arrival
    schema = "entity_id string, ts timestamp, side string, fval double"
    p = str(tmp_path / "tmo_in")
    files = [
        [("a", _t("2025-01-01T09:00:00"), "feature", 1.0),
         ("a", _t("2025-01-01T10:00:00"), "event", None)],
        [("b", _t("2025-01-01T13:00:00"), "feature", 5.0)],
        [("b", _t("2025-01-01T15:00:00"), "feature", 6.0)],  # wm → 14:00
    ]
    _write_microbatch_files(spark, p, files, schema)
    sdf = (spark.readStream.schema(
        spark.createDataFrame(files[0], schema).schema)
        .option("maxFilesPerTrigger", 1).parquet(p))
    sink = str(tmp_path / "tmo_out")
    ST.run_available_now_to_parquet(
        ST.streaming_asof_buffered(sdf, watermark="1 hour"),
        sink, str(tmp_path / "tmo_ckpt"))
    got = {(r.entity_id, r.event_ts): (r.feature_ts, r.fval)
           for r in spark.read.parquet(sink).collect()}
    assert got[("a", _t("2025-01-01T10:00:00"))] == \
        (_t("2025-01-01T09:00:00"), 1.0)


def test_streaming_coref_natlog_match_batch(spark, tmp_path):
    # the A12/A10 kernels are per-doc mapInArrow stages, so they run on a
    # stream unchanged (spread_small_input leaves a streaming frame
    # alone) — availableNow over a file source must reproduce the batch
    # chains/polarity exactly
    from clj_nlp_parse_spark.operators import coref as CRF
    from clj_nlp_parse_spark.operators import natlog as NLG
    docs = spark.createDataFrame(
        [(1, "customer spark waits . customer spark runs"),
         (2, "scan not slow never fast . all big table"),
         (3, ""), (4, None), (5, "?!...")],
        "doc_id long, text string")
    p = str(tmp_path / "cn_docs")
    docs.coalesce(1).write.mode("overwrite").parquet(p)
    sdf = spark.readStream.schema(docs.schema).parquet(p)

    sink_c = str(tmp_path / "cn_coref")
    ST.run_available_now_to_parquet(
        CRF.coref_rows(sdf), sink_c, str(tmp_path / "cn_coref_ckpt"))
    got_c = sorted(tuple(r) for r in spark.read.parquet(sink_c).collect())
    want_c = sorted(tuple(r) for r in CRF.coref_rows(docs).collect())
    assert got_c == want_c and len(got_c) == 2  # doc 1's chain

    sink_n = str(tmp_path / "cn_natlog")
    ST.run_available_now_to_parquet(
        NLG.natlog_rows(sdf), sink_n, str(tmp_path / "cn_natlog_ckpt"))
    key = lambda r: r[:3]  # (doc_id, sent_index, token_index)
    got_n = sorted((tuple(r) for r in spark.read.parquet(sink_n).collect()),
                   key=key)
    want_n = sorted((tuple(r) for r in NLG.natlog_rows(docs).collect()),
                    key=key)
    assert got_n == want_n and len(got_n) == 14  # 6 + 8 tokens


def test_streaming_srl_tokens_match_batch(spark, tmp_path):
    # A13: the SRL token kernel (dependency label → function tag →
    # propbank sense) streams unchanged, completing the annotator set
    # with coref/natlog (VERDICT_r04 #7)
    from clj_nlp_parse_spark.operators import srl as SRL

    docs = spark.createDataFrame(
        [(1, "the customer is running quickly . scan waits"),
         (2, "table merge sort"), (3, ""), (4, None)],
        "doc_id long, text string")
    p = str(tmp_path / "srl_docs")
    docs.coalesce(1).write.mode("overwrite").parquet(p)
    sdf = spark.readStream.schema(docs.schema).parquet(p)
    sink = str(tmp_path / "srl_sink")
    ST.run_available_now_to_parquet(
        SRL.srl_token_rows(sdf), sink, str(tmp_path / "srl_ckpt"))
    key = lambda r: r[:2]  # (doc_id, id)
    got = sorted((tuple(r) for r in spark.read.parquet(sink).collect()),
                 key=key)
    want = sorted((tuple(r) for r in SRL.srl_token_rows(docs).collect()),
                  key=key)
    assert got == want and len(got) >= 10


def test_streaming_lm_scoring_matches_batch(spark, tmp_path):
    # LM scoring splits into a batch-fit model (c2/c1/v) and a STATELESS
    # per-term scorer (projection + broadcast model joins) — the scorer
    # must run on a file-source stream unchanged and reproduce the batch
    # per-term micro-nat rows exactly (the production shape: fit the LM
    # offline, score the incoming crawl stream against it)
    from clj_nlp_parse_spark.operators import lm as LM
    train = spark.createDataFrame(
        [(1, "the fox runs fast"), (2, "the fox sleeps"),
         (3, "a dog runs")], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(10, "the fox runs"), (11, "unseen words here"),
         (12, ""), (13, None)], "doc_id long, text string")
    c2, c1, v = LM.fit(train)

    p = str(tmp_path / "lm_docs")
    incoming.coalesce(1).write.mode("overwrite").parquet(p)
    sdf = spark.readStream.schema(incoming.schema).parquet(p)

    sink = str(tmp_path / "lm_scores")
    ST.run_available_now_to_parquet(
        LM.score_terms(sdf, c2, c1, v), sink,
        str(tmp_path / "lm_ckpt"))
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    want = sorted(tuple(r) for r in
                  LM.score_terms(incoming, c2, c1, v).collect())
    assert got == want and len(got) == 6  # 3 + 3 terms; empty docs none
    # non-vacuous: seen bigram scores below the smoothing-mass scores
    li = {(r[1], r[2]): r[3] for r in got}
    assert li[("<s>", "the")] < li[("unseen", "words")]
