"""Point-in-time (as-of) join — the north_rule centerpiece.

No reference analog (the reference is a single-document batch engine); this
is the graft mandated by BASELINE.json: join each entity's event rows to
one feature row of the same key — backward (the latest feature_ts <=
event_ts, inclusive: the point-in-time default), forward (the earliest
feature_ts >= event_ts, inclusive: label joins) or nearest (the closer of
the two) — with zero temporal leakage for backward, at 10^12-row scale.

Three strategies, same semantics:

1. union_window (default; all three directions) — pure Catalyst: tag both
   sides, union, one window `over (partition by key order by ts, side)`
   carries the matched feature onto each event row (`last(ignorenulls)`
   backward, `first(ignorenulls)` forward, both for nearest). One shuffle
   on the join key, whole-stage codegen, AQE-coalesced; no Python
   crossing at all. Survives 100× scale because it is exactly a
   sort-merge join's shuffle+sort with an O(1) carry instead of a probe —
   no row explosion on hot keys.

2. merge_asof (all three directions) — range-bucketed sort-merge via
   applyInPandas(pd.merge_asof) per co-partitioned key group (the shape
   the north_rule names). Arrow batches, vectorized inside pandas.

3. union_window_split (backward) — the hot-key skew killer: every key's
   timeline is cut into time buckets, each bucket is seeded with the
   latest feature of any earlier bucket, and the union_window carry runs
   per (key, bucket). strategy='auto' picks it past the measured hot-key
   crossover.

`_asof_union_window` is the only place the tag/union/window carry is
built; union_window and union_window_split both run through it.

Leakage guard: `audit_leakage` anti-checks feature_ts <= event_ts on the
output — structurally impossible to fail for backward union_window and
its split (the carry only ever looks backward, ordered on the full
timestamp), but the audit is part of the output contract.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "event_ts",
    right_ts: str = "feature_ts",
    value_cols: Sequence[str] | None = None,
    strategy: str = "union_window",
    direction: str = "backward",
    tolerance_ms: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the right row's values at the
    greatest right_ts <= left_ts (direction='backward', inclusive — the
    point-in-time default), the smallest right_ts >= left_ts
    (direction='forward', inclusive — e.g. label joins) or the closer of
    the two (direction='nearest'; equidistant → backward) within `on` keys.

    tolerance_ms: if set, matches farther than this from the event are
    nulled out. Equivalent to matching 'latest/earliest within tolerance':
    any other candidate is strictly farther, so post-match filtering is
    exact (the pd.merge_asof tolerance contract).

    Millisecond distances: nearest's tie-break and tolerance_ms compare
    whole milliseconds (`unix_millis` of both timestamps), as the frozen
    DuckDB oracles' `epoch_ms` do; the match itself orders on the full
    timestamp. So a feature at 10.0 ms passes a 1000 ms tolerance for an
    event at 1010.8 ms (1000.8 ms later), and an event at 10.9 ms takes
    the feature at 10.3 ms (0.6 ms before) over the one at 11.3 ms (0.4 ms
    after): truncated, they are 0 and 1 ms away.

    Output: all left columns + matched right_ts (named after right_ts,
    NULL when no match) + value_cols (NULL when no match).
    """
    on = list(on)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in right.columns if c not in on and c != right_ts]
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction}")
    if direction != "backward" and strategy not in ("union_window",
                                                    "merge_asof", "auto"):
        raise ValueError(f"direction={direction!r} is implemented for the "
                         "union_window and merge_asof strategies")
    if strategy == "auto":
        strategy = choose_asof_strategy(left, on, right)
        if direction != "backward":
            strategy = "union_window"
    if strategy == "union_window":
        out = _asof_union_window(left, right, on, left_ts, right_ts,
                                 value_cols, direction)
    elif strategy == "merge_asof":
        out = _asof_merge(left, right, on, left_ts, right_ts, value_cols,
                          direction=direction)
    elif strategy == "union_window_split":
        out = _asof_union_window_split(left, right, on, left_ts, right_ts,
                                       value_cols)
    else:
        raise ValueError(f"unknown asof strategy: {strategy}")
    if tolerance_ms is not None:
        if direction == "backward":
            dist = F.unix_millis(F.col(left_ts).cast("timestamp")) - \
                F.unix_millis(F.col(right_ts).cast("timestamp"))
        elif direction == "forward":
            dist = F.unix_millis(F.col(right_ts).cast("timestamp")) - \
                F.unix_millis(F.col(left_ts).cast("timestamp"))
        else:  # nearest: absolute distance
            dist = F.abs(
                F.unix_millis(F.col(right_ts).cast("timestamp"))
                - F.unix_millis(F.col(left_ts).cast("timestamp")))
        bad = F.col(right_ts).isNull() | (dist > tolerance_ms)
        out = out.select(
            *[c for c in left.columns],
            F.when(bad, F.lit(None)).otherwise(F.col(right_ts)).alias(right_ts),
            *[F.when(bad, F.lit(None)).otherwise(F.col(c)).alias(c)
              for c in value_cols])
    return out


def choose_asof_strategy(left, on, right=None,
                         hot_rows_threshold: int = 4_000_000,
                         sample_rows: int = 2_000_000) -> str:
    """Pick union_window vs union_window_split from a SAMPLED key histogram
    (measured crossover in BENCH.md: a single window partition sorting
    >~4M rows becomes the straggler; below that the split's seed/carry
    pre-pass costs more than it saves).

    The histogram covers BOTH sides when `right` is given: the union-window
    sort cost per key is left+right rows, so a feature-heavy hot key must
    trigger the split even when the left side looks uniform (ADVICE r01).

    SIDE EFFECT: this runs two EAGER Spark jobs (count + sampled groupBy
    max) at plan-BUILD time — a deliberate exception to the otherwise lazy
    plan-building API, and the price of strategy='auto'. Both jobs scan key
    columns only (column-pruned) and are negligible next to the join itself
    at the scales where the answer matters; pass an explicit strategy to
    stay fully lazy."""
    keys = left.select(*on)
    if right is not None:
        keys = keys.unionByName(right.select(*on))
    total = keys.count()
    if total <= hot_rows_threshold:
        return "union_window"
    frac = min(1.0, sample_rows / total)
    row = (keys.sample(fraction=frac, seed=42)
           .groupBy(*on).count()
           .agg(F.max("count").alias("m")).collect()[0])
    hot_est = (row["m"] or 0) / frac
    return ("union_window_split" if hot_est > hot_rows_threshold
            else "union_window")


def _pack_type(right, right_ts, value_cols):
    """Struct type bundling (feature_ts, value columns) for the window
    carry. Carrying ONE struct instead of independent per-column carries is
    a correctness requirement, not a style choice: independent
    last(ignorenulls) carries would pair a matched feature's timestamp with
    an OLDER feature's value whenever the matched row's value column is
    NULL (a (ts, value) pair from two different feature rows — diverging
    from pd.merge_asof and the DuckDB ASOF oracle)."""
    from pyspark.sql import types as T
    return T.StructType(
        [T.StructField("rts", right.schema[right_ts].dataType)]
        + [T.StructField(f"v_{c}", right.schema[c].dataType)
           for c in value_cols])


def _asof_union_window(left, right, on, left_ts, right_ts, value_cols,
                       direction: str = "backward", part: Sequence[str] = ()):
    """The one tag/union/window carry: every union_window direction and the
    split's per-bucket stage run through it.

    Both sides are tagged and unioned, then one window partitioned by
    `on + part` and ordered by (__ts, __side) on the timestamp itself
    carries the matched feature onto each event row. The side tag gives
    inclusive matching at equal ts: right rows sort BEFORE left rows for
    backward and nearest (last() over the preceding frame sees them) and
    AFTER them for forward (first() over the following frame sees them).
    Backward carries `last`, forward carries `first`; nearest carries both
    on the same sort and picks the closer one, tie (equidistant) →
    backward, the point-in-time-safe side (matches pd.merge_asof's
    backward preference on ties). One shuffle for every direction.

    `part`: extra partition columns present on both sides (the split's
    time bucket); they partition the window and are not output.

    NULL-timestamp contract (ADVICE r02): a right row with NULL right_ts
    can never match (ts comparison with NULL is no-match in merge_asof /
    ASOF JOIN) — it is filtered before the union, or its non-NULL __pack
    would be carried as a pseudo-match. A left row with NULL left_ts
    matches nothing — it sorts NULLS FIRST, so without the guard the
    forward carry would grab the earliest feature."""
    part = list(part)
    left_cols = [c for c in left.columns if c not in part]
    ptype = _pack_type(right, right_ts, value_cols)
    right = right.where(F.col(right_ts).isNotNull())
    r_side, l_side = (1, 0) if direction == "forward" else (0, 1)
    r = right.select(
        *on, *part,
        F.col(right_ts).alias("__ts"),
        F.lit(r_side).alias("__side"),
        F.struct(F.col(right_ts).alias("rts"),
                 *[F.col(c).alias(f"v_{c}") for c in value_cols])
        .alias("__pack"),
        *[F.lit(None).alias(f"__l_{c}") for c in left_cols],
    )
    l = left.select(
        *on, *part,
        F.col(left_ts).alias("__ts"),
        F.lit(l_side).alias("__side"),
        F.lit(None).cast(ptype).alias("__pack"),
        *[F.col(c).alias(f"__l_{c}") for c in left_cols],
    )
    u = r.unionByName(l)
    base = Window.partitionBy(*on, *part).orderBy(F.col("__ts").asc(),
                                                  F.col("__side").asc())
    back = F.last("__pack", ignorenulls=True).over(
        base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = F.first("__pack", ignorenulls=True).over(
        base.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    if direction == "nearest":
        carried = u.select("*", back.alias("__b"), fwd.alias("__f"))
        ts_ms = F.unix_millis(F.col("__ts").cast("timestamp"))
        b_ms = F.unix_millis(F.col("__b.rts").cast("timestamp"))
        f_ms = F.unix_millis(F.col("__f.rts").cast("timestamp"))
        use_b = (F.col("__f").isNull()
                 | (F.col("__b").isNotNull()
                    & ((ts_ms - b_ms) <= (f_ms - ts_ms))))
        m = F.when(F.col("__ts").isNull(), F.lit(None).cast(ptype)) \
            .when(use_b, F.col("__b")).otherwise(F.col("__f"))
        out = carried.where(F.col("__side") == l_side).withColumn("__m", m)
    else:
        carry = back if direction == "backward" else fwd
        out = (u.select("*", carry.alias("__m"))
               .withColumn("__m", F.when(F.col("__ts").isNotNull(),
                                         F.col("__m")))
               .where(F.col("__side") == l_side))
    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in left_cols],
        F.col("__m.rts").alias(right_ts),
        *[F.col(f"__m.v_{c}").alias(c) for c in value_cols],
    )


def _asof_merge(left, right, on, left_ts, right_ts, value_cols,
                n_buckets: int = 64, direction: str = "backward"):
    """Cogrouped merge_asof. Keys are hash-bucketed so each pandas call
    handles a whole bucket of keys via pd.merge_asof(by=on) — per-group
    Python invocation overhead is paid per BUCKET (n_buckets total), not
    per key (unbounded). This is the repartition + sortWithinPartitions +
    grouped merge_asof shape from SURVEY.md §2.6."""
    import pandas as pd

    left_cols = left.columns
    out_fields = [left.schema[c] for c in left_cols] + \
                 [right.schema[right_ts]] + [right.schema[c] for c in value_cols]
    from pyspark.sql import types as T
    out_schema = T.StructType(out_fields)

    # When left and right descend from the same parent DataFrame, Spark's
    # cogroup self-join deduplication can silently drop the right side's
    # shared-lineage key attributes. Rename keys on the right internally
    # and restore them pandas-side.
    l = left.select(*left_cols).withColumn(
        "__bkt", F.pmod(F.xxhash64(*on), F.lit(n_buckets)))
    r = right.select(
        *[F.col(k).alias(f"__k_{k}") for k in on], right_ts, *value_cols
    ).withColumn(
        "__bkt", F.pmod(F.xxhash64(*[f"__k_{k}" for k in on]),
                        F.lit(n_buckets)))

    def merge(lpdf, rpdf):
        lpdf = lpdf.drop(columns=["__bkt"]).sort_values(
            left_ts, kind="mergesort")
        rpdf = rpdf.drop(columns=["__bkt"]).rename(
            columns={f"__k_{k}": k for k in on}).sort_values(
            right_ts, kind="mergesort")
        if rpdf.empty:
            m = lpdf.copy()
            m[right_ts] = pd.NaT if str(out_schema[right_ts].dataType) == "TimestampType()" else None
            for c in value_cols:
                m[c] = None
            return m[[*left_cols, right_ts, *value_cols]]
        m = pd.merge_asof(
            lpdf, rpdf,
            left_on=left_ts, right_on=right_ts, by=on,
            direction=direction, allow_exact_matches=True,
        )
        return m[[*left_cols, right_ts, *value_cols]]

    # cogroup co-partitions both sides by bucket — one shuffle each side,
    # merge_asof(by=key) inside Arrow batches.
    return (l.groupBy("__bkt").cogroup(r.groupBy("__bkt"))
            .applyInPandas(merge, schema=out_schema))


def _asof_union_window_split(left, right, on, left_ts, right_ts, value_cols,
                             bucket_ms: int = 7 * 24 * 3600 * 1000):
    """Skew-killing as-of: a Zipf-hot key turns the plain union_window into
    a single-task straggler (one window partition per key). Split every
    key's timeline into fixed time buckets `__bk`; each (key, bucket)
    partition carries independently through `_asof_union_window(...,
    part=["__bk"])`. Its right side is the bucket's own right rows plus a
    carry-in row = the latest right row of any STRICTLY EARLIER bucket,
    with its own timestamp (computed on the tiny per-(key, bucket) seed
    table, so the pre-pass is O(keys × buckets)). The bucket is monotone
    in the timestamp, so a carry-in row is strictly earlier than every row
    of the bucket it enters, and the core's order on the full timestamp
    breaks every tie within a millisecond.

    Same semantics as union_window (backward inclusive; right side must be
    unique per (key, ts)); equivalence is property-tested. NULL-timestamp
    contract (ADVICE r02): right rows with NULL right_ts are filtered (they
    can never match and would otherwise seed a NULL bucket); left rows with
    NULL left_ts get a NULL match — their NULL bucket sorts before every
    seed bucket, so no carry-in reaches them, and no right rows share the
    NULL bucket.
    """
    bucket = lambda c: (F.unix_millis(F.col(c).cast("timestamp"))
                        / bucket_ms).cast("long")
    right = right.where(F.col(right_ts).isNotNull())
    r = right.select(*on, right_ts, *value_cols,
                     bucket(right_ts).alias("__bk"))
    l = left.withColumn("__bk", bucket(left_ts))

    ptype = _pack_type(right, right_ts, value_cols)
    pack_r = F.struct(
        F.col(right_ts).alias("rts"),
        *[F.col(c).alias(f"v_{c}") for c in value_cols])

    # seeds: latest right row per (key, bucket) — small
    w_seed = (Window.partitionBy(*on, "__bk")
              .orderBy(F.col(right_ts).desc()))
    seeds = (r.withColumn("__rn", F.row_number().over(w_seed))
             .where(F.col("__rn") == 1))

    # buckets that have left rows, and their carry-in from earlier buckets:
    # union (needed side=0, seeds side=1) ordered by (bucket, side); a
    # needed row sees only seeds with bucket < its own. The carried value
    # is ONE struct (see _pack_type) so a NULL value column can never pick
    # up an older seed's value.
    needed = (l.select(*on, "__bk").distinct()
              .withColumn("__sd", F.lit(0))
              .withColumn("__c", F.lit(None).cast(ptype)))
    seed_rows = seeds.select(
        *on, "__bk", F.lit(1).alias("__sd"), pack_r.alias("__c"))
    u = needed.select(seed_rows.columns).unionByName(seed_rows)
    w_carry = (Window.partitionBy(*on)
               .orderBy(F.col("__bk").asc(), F.col("__sd").asc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carry_in = (u.select(
        *on, "__bk", "__sd",
        F.last("__c", ignorenulls=True).over(w_carry).alias("__in"))
        .where((F.col("__sd") == 0) & F.col("__in").isNotNull())
        .select(*on, "__bk", F.col("__in.rts").alias(right_ts),
                *[F.col(f"__in.v_{c}").alias(c) for c in value_cols]))

    return _asof_union_window(l, r.unionByName(carry_in), on, left_ts,
                              right_ts, value_cols, part=["__bk"])


def audit_leakage(joined: DataFrame, left_ts: str = "event_ts",
                  right_ts: str = "feature_ts") -> int:
    """Zero-temporal-leakage invariant: count of rows whose matched feature
    is dated after the event. Must be 0 (north_rule)."""
    return joined.where(F.col(right_ts) > F.col(left_ts)).count()


def incremental_asof_update(prev_out: "DataFrame", left: "DataFrame",
                            right_full: "DataFrame", new_batch: "DataFrame",
                            on, left_ts: str = "event_ts",
                            right_ts: str = "feature_ts",
                            value_cols=None,
                            tolerance_ms: int | None = None,
                            broadcast_key_limit: int | None = 1_000_000
                            ) -> "DataFrame":
    """Incremental feature-store maintenance — the production update loop:
    a new batch of feature rows arrives; only entities the batch TOUCHES
    are recomputed, everything else passes through from the previous
    materialized output untouched.

    At 100 TB this is the difference between rescanning the corpus per
    feed and work proportional to the delta: affected keys = distinct keys
    of `new_batch` (typically a tiny fraction), broadcast into a left-anti
    join (keep untouched prev_out rows — never recomputed, never even
    deserialized beyond the key columns) and left-semi joins that prune
    BOTH recompute inputs at the scan (Catalyst pushes the broadcast
    semi-join below the shuffle). Affected entities recompute against the
    FULL feature set (`right_full` = previous features ∪ the batch — the
    feature table the caller maintains), because a new feature row changes
    which older feature each event resolves to.

    Correctness contract (oracle-checked by the asof_incremental query and
    property-tested): output == full asof_join(left, right_full) for ANY
    split of features into base + batch.

    Broadcast gate (ADVICE r02): the broadcast hint is applied only when
    the batch touches at most `broadcast_key_limit` distinct keys — probed
    EAGERLY (documented side effect, same eager-probe pattern as
    choose_asof_strategy). The probe is one distinct partial-aggregate scan
    over the batch's key columns; the LIMIT caps only the rows shuffled to
    the driver (limit+1), not the scan itself — one extra key-column pass
    per update, proportional to the batch. A huge backfill batch (many
    distinct entities)
    falls back to plain shuffled semi/anti joins instead of OOMing the
    driver with the build side. Pass broadcast_key_limit=None to force the
    broadcast unconditionally (caller asserts a small batch).
    """
    on = list(on)
    keys = new_batch.select(*on).distinct()
    if broadcast_key_limit is not None and \
            keys.limit(broadcast_key_limit + 1).count() > broadcast_key_limit:
        bkeys = keys
    else:
        bkeys = F.broadcast(keys)
    kept = prev_out.join(bkeys, on, "left_anti")
    lf = left.join(bkeys, on, "left_semi")
    rf = right_full.join(bkeys, on, "left_semi")
    rec = asof_join(lf, rf, on=on, left_ts=left_ts, right_ts=right_ts,
                    value_cols=value_cols, tolerance_ms=tolerance_ms)
    return kept.unionByName(rec.select(*kept.columns))
