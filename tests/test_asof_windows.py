"""As-of join + windowed operators: semantics, leakage, determinism.

The as-of operator has no reference analog (graft per BASELINE.json
north_rule); invariants tested here are the north_rule's: backward-inclusive
match, zero temporal leakage, identical results across strategies and
parallelism levels.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from clj_nlp_parse_spark.operators import asof, windows


def _t(s):
    return dt.datetime.fromisoformat(s)


def _sides(spark):
    left = spark.createDataFrame(
        [(1, "a", _t("2025-01-01T10:00:00")),
         (2, "a", _t("2025-01-01T11:00:00")),
         (3, "a", _t("2025-01-01T09:00:00")),   # before any feature
         (4, "b", _t("2025-01-01T12:00:00")),
         (5, "c", _t("2025-01-01T12:00:00"))],  # entity with no features
        "event_id long, entity_id string, event_ts timestamp")
    right = spark.createDataFrame(
        [("a", _t("2025-01-01T10:00:00"), 1.0),   # exact tie → inclusive
         ("a", _t("2025-01-01T10:30:00"), 2.0),
         ("a", _t("2025-01-01T23:00:00"), 9.0),   # future: never selected
         ("b", _t("2025-01-01T01:00:00"), 7.0)],
        "entity_id string, feature_ts timestamp, fval double")
    return left, right


def _expected():
    return {
        1: (_t("2025-01-01T10:00:00"), 1.0),  # inclusive exact match
        2: (_t("2025-01-01T10:30:00"), 2.0),
        3: (None, None),
        4: (_t("2025-01-01T01:00:00"), 7.0),
        5: (None, None),
    }


def test_asof_semantics_both_strategies(spark):
    left, right = _sides(spark)
    for strategy in ("union_window", "merge_asof"):
        out = asof.asof_join(left, right, on=["entity_id"],
                             strategy=strategy)
        got = {r.event_id: (r.feature_ts, r.fval) for r in out.collect()}
        assert got == _expected(), strategy
        assert asof.audit_leakage(out) == 0


def test_asof_determinism_across_parallelism(spark):
    left, right = _sides(spark)
    a = asof.asof_join(left.repartition(1), right.repartition(1), ["entity_id"])
    b = asof.asof_join(left.repartition(16), right.repartition(7), ["entity_id"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, 1, _t("2025-01-01T10:00:00")),
         (2, 1, _t("2025-01-01T10:10:00")),   # 10 min — same session
         (3, 1, _t("2025-01-01T11:10:00")),   # 60 min — new session
         (4, 2, _t("2025-01-01T10:00:00"))],
        "event_id long, user_id long, ts timestamp")
    out = {r.event_id: r.session_id
           for r in windows.sessionize(df, gap_seconds=1800).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 0}


def test_backfill_forward_only(spark):
    df = spark.createDataFrame(
        [(1, 1, _t("2025-01-01T10:00:00"), None),
         (2, 1, _t("2025-01-01T10:10:00"), 5.0),
         (3, 1, _t("2025-01-01T10:20:00"), None),
         (4, 1, _t("2025-01-01T10:30:00"), None)],
        "event_id long, user_id long, ts timestamp, v double")
    out = {r.event_id: r.v_filled
           for r in windows.backfill(df, "v").collect()}
    # row 1 precedes any value → stays null (no future leakage)
    assert out == {1: None, 2: 5.0, 3: 5.0, 4: 5.0}


def test_lag_lead(spark):
    df = spark.createDataFrame(
        [(1, 1, _t("2025-01-01T10:00:00"), 1.0),
         (2, 1, _t("2025-01-01T10:10:00"), 2.0),
         (3, 1, _t("2025-01-01T10:20:00"), 3.0)],
        "event_id long, user_id long, ts timestamp, value double")
    out = windows.with_lag_lead(df, {"value": 1})
    out = windows.with_lag_lead(out, {"value": -1})
    got = {r.event_id: (r.value_lag1, r.value_lead1) for r in out.collect()}
    assert got == {1: (None, 2.0), 2: (1.0, 3.0), 3: (2.0, None)}


def test_asof_split_equals_union_window(spark):
    # property: the skew-splitting strategy must produce IDENTICAL results
    # to the plain window on randomized hot-key data spanning many buckets
    import random
    # Timestamps carry microsecond offsets, and half the rows fall into a
    # few shared milliseconds, so the split must order and seed on the
    # full timestamp, not on unix_millis.
    rnd = random.Random(7)
    base = dt.datetime(2025, 1, 1)
    span_ms = 60 * 24 * 60 * 60 * 1000
    hot_ms = [rnd.randint(0, span_ms) for _ in range(6)]

    def draw_ts():
        ms = (rnd.choice(hot_ms) if rnd.random() < 0.5
              else rnd.randint(0, span_ms))
        return base + dt.timedelta(milliseconds=ms,
                                   microseconds=rnd.randint(0, 999))

    lefts, rights = [], []
    for i in range(600):
        ent = f"e{min(rnd.randint(0, 9), rnd.randint(0, 9))}"  # skewed
        lefts.append((i, ent, draw_ts()))
    seen = set()
    for i in range(300):
        ent = f"e{rnd.randint(0, 9)}"
        ts = draw_ts()
        if (ent, ts) in seen:  # right side unique per (key, ts)
            continue
        seen.add((ent, ts))
        rights.append((ent, ts, float(i)))
    ldf = spark.createDataFrame(
        lefts, "event_id long, entity_id string, event_ts timestamp")
    rdf = spark.createDataFrame(
        rights, "entity_id string, feature_ts timestamp, fval double")
    a = asof.asof_join(ldf, rdf, ["entity_id"], strategy="union_window")
    b = asof.asof_join(ldf, rdf, ["entity_id"],
                       strategy="union_window_split")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    assert asof.audit_leakage(b) == 0


def test_asof_split_small_goldens(spark):
    import itertools

    left, right = _sides(spark)
    out = asof.asof_join(left, right, on=["entity_id"],
                         strategy="union_window_split")
    got = {r.event_id: (r.feature_ts, r.fval) for r in out.collect()}
    assert got == _expected()

    def join_all(lefts, rights):
        ldf = spark.createDataFrame(
            lefts, "event_id long, entity_id string, event_ts timestamp")
        rdf = spark.createDataFrame(
            rights, "entity_id string, feature_ts timestamp, fval double")
        res = {}
        for strategy in ("union_window", "union_window_split", "merge_asof"):
            out = asof.asof_join(ldf, rdf, on=["entity_id"],
                                 strategy=strategy)
            assert asof.audit_leakage(out) == 0, strategy
            res[strategy] = {r.event_id: (r.feature_ts, r.fval)
                             for r in out.collect()}
        return res

    # sub-millisecond leak: the event at t+100us must not see the feature
    # at t+900us of the same millisecond, only the one 5 s earlier
    t = _t("2025-01-01T10:00:00")
    us = lambda n: t + dt.timedelta(microseconds=n)
    res = join_all(
        [(1, "a", us(100))],
        [("a", t - dt.timedelta(seconds=5), 1.0), ("a", us(900), 2.0)])
    for strategy, got in res.items():
        assert got == {1: (t - dt.timedelta(seconds=5), 1.0)}, strategy

    # carry-in: three features share one millisecond of an earlier bucket;
    # the latest of them is carried into the event's bucket, whatever the
    # input order (one entity per order of the three)
    later = t + dt.timedelta(days=8)
    feats = [(us(100), 1.0), (us(500), 2.0), (us(900), 3.0)]
    orders = list(itertools.permutations(feats))
    res = join_all(
        [(i, f"p{i}", later) for i in range(len(orders))],
        [(f"p{i}", ts, v) for i, order in enumerate(orders)
         for ts, v in order])
    for strategy, got in res.items():
        assert got == {i: (us(900), 3.0) for i in range(len(orders))}, \
            strategy


def test_asof_forward_semantics(spark):
    left, right = _sides(spark)
    out = asof.asof_join(left, right, on=["entity_id"], direction="forward")
    got = {r.event_id: (r.feature_ts, r.fval) for r in out.collect()}
    assert got == {
        1: (_t("2025-01-01T10:00:00"), 1.0),  # inclusive exact match
        2: (_t("2025-01-01T23:00:00"), 9.0),  # earliest ts >= event
        3: (_t("2025-01-01T10:00:00"), 1.0),
        4: (None, None),                      # all features earlier
        5: (None, None),
    }
    # forward never matches earlier features
    rows = out.where("feature_ts IS NOT NULL").collect()
    assert all(r.feature_ts >= r.event_ts for r in rows)


def test_asof_tolerance_nulls_stale(spark):
    left, right = _sides(spark)
    out = asof.asof_join(left, right, on=["entity_id"],
                         tolerance_ms=45 * 60 * 1000)  # 45 min
    got = {r.event_id: (r.feature_ts, r.fval) for r in out.collect()}
    assert got == {
        1: (_t("2025-01-01T10:00:00"), 1.0),  # 0 min stale → kept
        2: (_t("2025-01-01T10:30:00"), 2.0),  # 30 min stale → kept
        3: (None, None),
        4: (None, None),                      # 11 h stale → nulled
        5: (None, None),
    }
    assert asof.audit_leakage(out) == 0


def test_asof_auto_strategy(spark):
    # small/uniform input → plain window; hot-key input past the threshold →
    # split. Output equals the explicit strategies either way.
    from pyspark.sql import functions as F2
    left, right = _sides(spark)
    assert asof.choose_asof_strategy(left, ["entity_id"]) == "union_window"
    out = asof.asof_join(left, right, on=["entity_id"], strategy="auto")
    got = {r.event_id: (r.feature_ts, r.fval) for r in out.collect()}
    assert got == _expected()

    hot = spark.range(2000).select(
        F2.lit("hot").alias("entity_id"), F2.col("id").alias("event_id"),
        F2.timestamp_millis((F2.lit(1700000000000)
                             + F2.col("id") * 1000).cast("long"))
        .alias("event_ts"))
    assert asof.choose_asof_strategy(
        hot, ["entity_id"], hot_rows_threshold=500) == "union_window_split"


def test_asof_vs_pandas_merge_asof_randomized(spark):
    # independent third oracle: pandas merge_asof (backward inclusive,
    # by=entity) on 150 random timelines with ties, empty sides, and
    # feature-less entities
    import random
    import pandas as pd
    rnd = random.Random(77)
    lefts, rights = [], []
    base = dt.datetime(2025, 1, 1)
    for e in range(150):
        eid = f"e{e}"
        seen = set()
        for _ in range(rnd.randint(0, 8)):
            ts = base + dt.timedelta(seconds=rnd.randint(0, 5000))
            lefts.append((eid, ts, rnd.randint(0, 10**6)))
        for _ in range(rnd.randint(0, 6)):
            ts = base + dt.timedelta(seconds=rnd.choice(
                [rnd.randint(0, 5000), 0, 5000]))
            if (eid, ts) in seen:    # rights unique per (key, ts)
                continue
            seen.add((eid, ts))
            rights.append((eid, ts, float(rnd.randint(0, 999))))
    ldf = spark.createDataFrame(
        lefts, "entity_id string, event_ts timestamp, event_id long")
    rdf = spark.createDataFrame(
        rights, "entity_id string, feature_ts timestamp, fval double")
    for strategy in ("union_window", "union_window_split", "merge_asof"):
        out = asof.asof_join(ldf, rdf, on=["entity_id"], strategy=strategy)
        got = {(r.entity_id, r.event_ts, r.event_id): (r.feature_ts, r.fval)
               for r in out.collect()}
        lp = pd.DataFrame(lefts, columns=["entity_id", "event_ts", "event_id"]) \
            .sort_values("event_ts", kind="mergesort")
        rp = pd.DataFrame(rights, columns=["entity_id", "feature_ts", "fval"]) \
            .sort_values("feature_ts", kind="mergesort")
        m = pd.merge_asof(lp, rp, left_on="event_ts", right_on="feature_ts",
                          by="entity_id", direction="backward",
                          allow_exact_matches=True)
        want = {}
        for r in m.itertuples(index=False):
            ft = None if pd.isna(r.feature_ts) else r.feature_ts.to_pydatetime()
            fv = None if pd.isna(r.fval) else r.fval
            want[(r.entity_id, r.event_ts.to_pydatetime(), r.event_id)] = (ft, fv)
        assert got == want, strategy


def test_asof_forward_merge_strategy_matches_window(spark):
    left, right = _sides(spark)
    w = asof.asof_join(left, right, on=["entity_id"], direction="forward",
                       strategy="union_window")
    m = asof.asof_join(left, right, on=["entity_id"], direction="forward",
                       strategy="merge_asof")
    gw = {r.event_id: (r.feature_ts, r.fval) for r in w.collect()}
    gm = {r.event_id: (r.feature_ts, r.fval) for r in m.collect()}
    assert gw == gm


def test_asof_auto_strategy_right_side_hot_key(spark):
    # ADVICE r01: a feature-heavy hot key must trigger the split even when
    # the LEFT side is uniform — the union-window sort cost is left+right
    from pyspark.sql import functions as F2
    left = spark.range(10).select(
        F2.lit("hot").alias("entity_id"), F2.col("id").alias("event_id"),
        F2.timestamp_millis((F2.lit(1700000000000)
                             + F2.col("id") * 1000).cast("long"))
        .alias("event_ts"))
    right = spark.range(3000).select(
        F2.lit("hot").alias("entity_id"),
        F2.timestamp_millis((F2.lit(1700000000000)
                             + F2.col("id") * 7).cast("long"))
        .alias("feature_ts"),
        F2.col("id").cast("double").alias("fval"))
    assert asof.choose_asof_strategy(
        left, ["entity_id"], right,
        hot_rows_threshold=500) == "union_window_split"
    # left alone stays under the threshold → would have chosen plain window
    assert asof.choose_asof_strategy(
        left, ["entity_id"], hot_rows_threshold=500) == "union_window"


def test_incremental_asof_update_equals_full_and_passes_through(spark):
    # randomized split: incremental == full recompute; untouched entities
    # literally PASS THROUGH from prev_out (proven by poisoning prev_out
    # for an untouched key and observing the poison survive)
    import random

    import datetime as dt

    from pyspark.sql import functions as F2
    rnd = random.Random(99)
    lefts_r, feats_r = [], []
    base_t = dt.datetime(2025, 1, 1)
    for e in ["a", "b", "c", "d"]:
        t = 0
        for i in range(25):
            t += rnd.randint(1, 500)
            ts = base_t + dt.timedelta(seconds=t)
            if rnd.random() < 0.4:
                feats_r.append((e, ts, float(rnd.randint(0, 99))))
            else:
                lefts_r.append((len(lefts_r), e, ts))
    lefts = spark.createDataFrame(
        lefts_r, "event_id long, entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        feats_r, "entity_id string, feature_ts timestamp, fval double")
    # batch = entity 'b' features newer than median-ish time
    is_batch = (F2.col("entity_id") == "b") & \
        (F2.col("feature_ts") > F2.lit(base_t + dt.timedelta(seconds=3000)))
    base, batch = rights.where(~is_batch), rights.where(is_batch)
    assert batch.count() > 0
    prev = asof.asof_join(lefts, base, on=["entity_id"])
    # poison an untouched entity's prev rows: pass-through must preserve it
    poisoned = prev.withColumn(
        "fval", F2.when(F2.col("entity_id") == "c", F2.lit(-999.0))
        .otherwise(F2.col("fval")))
    out = asof.incremental_asof_update(
        poisoned, lefts, rights, batch, on=["entity_id"])
    got = {r.event_id: (r.feature_ts, r.fval) for r in out.collect()}
    full = {r.event_id: (r.feature_ts, r.fval)
            for r in asof.asof_join(lefts, rights,
                                    on=["entity_id"]).collect()}
    for eid, (fts, fv) in full.items():
        ent = lefts_r[eid][1]
        if ent == "c":
            assert got[eid][1] == -999.0 or got[eid][1] is None  # passed through
        else:
            assert got[eid] == (fts, fv), (eid, ent)
    # and with NO poison, incremental == full exactly
    out2 = asof.incremental_asof_update(
        prev, lefts, rights, batch, on=["entity_id"])
    got2 = {r.event_id: (r.feature_ts, r.fval) for r in out2.collect()}
    assert got2 == full


def test_asof_nearest_vs_pandas_and_ties(spark):
    import random

    import datetime as dt

    import pandas as pd
    rnd = random.Random(41)
    lefts_r, feats_r = [], []
    base_t = dt.datetime(2025, 1, 1)
    used = set()
    for e in ["a", "b"]:
        t = 0
        for i in range(40):
            t += rnd.randint(1, 400)
            if (e, t) in used:
                continue
            used.add((e, t))
            ts = base_t + dt.timedelta(seconds=t)
            if rnd.random() < 0.4:
                feats_r.append((e, ts, float(rnd.randint(0, 99))))
            else:
                lefts_r.append((len(lefts_r), e, ts))
    lefts = spark.createDataFrame(
        lefts_r, "event_id long, entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        feats_r, "entity_id string, feature_ts timestamp, fval double")
    out = asof.asof_join(lefts, rights, on=["entity_id"],
                         direction="nearest")
    got = {r.event_id: (r.feature_ts, r.fval) for r in out.collect()}
    lp = pd.DataFrame(lefts_r, columns=["event_id", "entity_id", "event_ts"]) \
        .sort_values("event_ts")
    rp = pd.DataFrame(feats_r,
                      columns=["entity_id", "feature_ts", "fval"]) \
        .sort_values("feature_ts")
    m = pd.merge_asof(lp, rp, left_on="event_ts", right_on="feature_ts",
                      by="entity_id", direction="nearest")
    want = {int(r.event_id): (None if pd.isna(r.feature_ts) else
                              r.feature_ts.to_pydatetime(), 
                              None if pd.isna(r.fval) else r.fval)
            for r in m.itertuples()}
    assert got == want

    # explicit equidistant tie → backward wins (documented contract)
    lefts2 = spark.createDataFrame(
        [(1, "x", dt.datetime(2025, 1, 1, 0, 0, 10))],
        "event_id long, entity_id string, event_ts timestamp")
    rights2 = spark.createDataFrame(
        [("x", dt.datetime(2025, 1, 1, 0, 0, 5), 1.0),
         ("x", dt.datetime(2025, 1, 1, 0, 0, 15), 2.0)],
        "entity_id string, feature_ts timestamp, fval double")
    row = asof.asof_join(lefts2, rights2, on=["entity_id"],
                         direction="nearest").collect()[0]
    assert row.fval == 1.0  # backward side of the tie

    # nearest + tolerance uses ABSOLUTE distance
    row_t = asof.asof_join(lefts2, rights2, on=["entity_id"],
                           direction="nearest", tolerance_ms=3000) \
        .collect()[0]
    assert row_t.fval is None  # both candidates 5 s away > 3 s budget

    # documented contract: the tie-break and tolerance_ms compare
    # unix_millis values, as the DuckDB oracles' epoch_ms do
    t = dt.datetime(2025, 1, 1)
    us = lambda n: t + dt.timedelta(microseconds=n)
    rights3 = spark.createDataFrame(
        [("x", us(10_300), 1.0), ("x", us(11_300), 2.0)],
        "entity_id string, feature_ts timestamp, fval double")
    lefts3 = spark.createDataFrame(
        [(1, "x", us(10_900))],
        "event_id long, entity_id string, event_ts timestamp")
    # 0.6 ms before vs 0.4 ms after: truncated to 0 and 1 ms
    row = asof.asof_join(lefts3, rights3, on=["entity_id"],
                         direction="nearest").collect()[0]
    assert row.fval == 1.0
    # a 1000.8 ms gap (10.0 ms -> 1010.8 ms) passes a 1000 ms tolerance
    lefts3 = spark.createDataFrame(
        [(1, "x", us(1_010_800))],
        "event_id long, entity_id string, event_ts timestamp")
    rights3 = spark.createDataFrame(
        [("x", us(10_000), 1.0)],
        "entity_id string, feature_ts timestamp, fval double")
    row = asof.asof_join(lefts3, rights3, on=["entity_id"],
                         direction="nearest", tolerance_ms=1000).collect()[0]
    assert row.fval == 1.0


def test_asof_null_feature_value_not_replaced_by_older(spark):
    # round-2 review: the window carry must move (ts, value) as ONE struct;
    # independent ignorenulls carries paired a matched feature's ts with an
    # OLDER feature's value whenever the matched value was NULL
    import datetime as dt
    lefts = spark.createDataFrame(
        [(1, "u", dt.datetime(2025, 1, 1, 0, 0, 21))],
        "event_id long, entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        [("u", dt.datetime(2025, 1, 1, 0, 0, 10), 1.0),
         ("u", dt.datetime(2025, 1, 1, 0, 0, 20), None)],
        "entity_id string, feature_ts timestamp, fval double")
    for strategy in ("union_window", "union_window_split", "merge_asof"):
        row = asof.asof_join(lefts, rights, on=["entity_id"],
                             strategy=strategy).collect()[0]
        assert row.feature_ts == dt.datetime(2025, 1, 1, 0, 0, 20), strategy
        assert row.fval is None, strategy
    row_n = asof.asof_join(lefts, rights, on=["entity_id"],
                           direction="nearest").collect()[0]
    assert row_n.feature_ts == dt.datetime(2025, 1, 1, 0, 0, 20)
    assert row_n.fval is None


def test_asof_nearest_null_event_ts_matches_nothing(spark):
    import datetime as dt
    lefts = spark.createDataFrame(
        [(1, "u", None)],
        "event_id long, entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        [("u", dt.datetime(2025, 1, 1), 1.0)],
        "entity_id string, feature_ts timestamp, fval double")
    row = asof.asof_join(lefts, rights, on=["entity_id"],
                         direction="nearest").collect()[0]
    assert row.feature_ts is None and row.fval is None


def test_asof_null_ts_guards_all_strategies(spark):
    # ADVICE r02: (a) a left row with NULL event_ts matches nothing in
    # EVERY direction/strategy — the forward path would otherwise sort it
    # NULLS FIRST and first() would grab the earliest feature; (b) a right
    # row with NULL feature_ts can never match — its non-NULL pack would
    # otherwise be carried as a pseudo-match (rts NULL, value set).
    import datetime as dt
    lefts = spark.createDataFrame(
        [(1, "u", None),
         (2, "u", dt.datetime(2025, 1, 1, 12, 0, 0))],
        "event_id long, entity_id string, event_ts timestamp")
    rights = spark.createDataFrame(
        [("u", None, 99.0),                       # NULL-ts feature: inert
         ("u", dt.datetime(2025, 1, 1, 10, 0, 0), 1.0)],
        "entity_id string, feature_ts timestamp, fval double")
    cases = [dict(strategy="union_window", direction="backward"),
             dict(strategy="union_window", direction="forward"),
             dict(strategy="union_window_split"),
             dict(direction="nearest")]
    for kw in cases:
        got = {r.event_id: (r.feature_ts, r.fval)
               for r in asof.asof_join(
                   lefts, rights, on=["entity_id"], **kw).collect()}
        assert got[1] == (None, None), kw      # NULL event ts: no match
        assert got[2][1] != 99.0, kw           # NULL feature ts never wins
    # backward for event 2 still finds the real 10:00 feature
    got = {r.event_id: (r.feature_ts, r.fval)
           for r in asof.asof_join(lefts, rights,
                                   on=["entity_id"]).collect()}
    assert got[2] == (dt.datetime(2025, 1, 1, 10, 0, 0), 1.0)


def test_incremental_asof_broadcast_gate_fallback(spark):
    # ADVICE r02: above broadcast_key_limit the update must fall back to
    # plain joins (no broadcast of a huge build side) and stay correct
    import datetime as dt
    lefts = spark.createDataFrame(
        [(i, f"e{i}", dt.datetime(2025, 1, 2)) for i in range(20)],
        "event_id long, entity_id string, event_ts timestamp")
    base = spark.createDataFrame(
        [(f"e{i}", dt.datetime(2025, 1, 1), float(i)) for i in range(20)],
        "entity_id string, feature_ts timestamp, fval double")
    batch = spark.createDataFrame(
        [(f"e{i}", dt.datetime(2025, 1, 1, 12), float(100 + i))
         for i in range(10)],
        "entity_id string, feature_ts timestamp, fval double")
    full = base.unionByName(batch)
    prev = asof.asof_join(lefts, base, on=["entity_id"])
    out = asof.incremental_asof_update(
        prev, lefts, full, batch, on=["entity_id"],
        broadcast_key_limit=3)  # 10 distinct keys > 3 → fallback path
    want = {r.event_id: r.fval
            for r in asof.asof_join(lefts, full, on=["entity_id"]).collect()}
    got = {r.event_id: r.fval for r in out.collect()}
    assert got == want


def test_incremental_asof_forwards_tolerance(spark):
    import datetime as dt
    lefts = spark.createDataFrame(
        [(1, "u", dt.datetime(2025, 1, 1, 2, 0, 0))],
        "event_id long, entity_id string, event_ts timestamp")
    base = spark.createDataFrame(
        [("u", dt.datetime(2025, 1, 1, 0, 0, 0), 1.0)],
        "entity_id string, feature_ts timestamp, fval double")
    batch = spark.createDataFrame(
        [("u", dt.datetime(2025, 1, 1, 0, 30, 0), 2.0)],
        "entity_id string, feature_ts timestamp, fval double")
    rights = base.unionByName(batch)
    tol = 3600 * 1000  # 1 hour: both features are stale for the 02:00 event
    prev = asof.asof_join(lefts, base, on=["entity_id"], tolerance_ms=tol)
    out = asof.incremental_asof_update(
        prev, lefts, rights, batch, on=["entity_id"], tolerance_ms=tol)
    row = out.collect()[0]
    assert row.feature_ts is None and row.fval is None
