"""Deduplication operators for large-scale training-data pipelines.

No reference analog (graft per round brief): exact dedup, MinHash+LSH,
SimHash, and n-gram Jaccard — each expressed as Catalyst-native dataflows
whose arithmetic is reproducible in ANSI SQL (DuckDB oracle).

Scale notes:
  exact      — one hash-groupBy; partial aggregation, no skew (md5 keys).
  minhash    — signatures are per-row array math (no shuffle); LSH banding
               turns O(n²) similarity into an equi-join on (band, bandhash):
               shuffle keyed by band hash, AQE handles bucket skew; candidate
               verification joins only within buckets.
  simhash    — per-row bit arithmetic; near-dup via prefix-bucketed join.
  jaccard    — inverted-index self-join on shingle (explode + equi-join),
               the classic doc-pair counting shape; hot shingles (stopwords)
               are pre-filtered by document frequency to kill skew.

All hashes derive from md5 (dialect.hash32_expr) — deterministic and
identical across engines; mixing constants are fixed (seeded) literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clj_nlp_parse_spark import dialect

# Fixed odd multipliers/addends (< 2^31) for the k min-hash permutations —
# generated once from a seeded PRNG, pinned as literals so every engine and
# every run agrees. h31 < 2^31, a < 2^31 → a*h+b < 2^62 + 2^31: no overflow.
MINHASH_A = [
    1103515245, 1231577323, 747796405, 62089911, 2024337845, 1664525,
    1566083941, 1812433253, 741103597, 1597334677, 887987685, 1294951549,
    1181783497, 1744312007, 1609587929, 1372383749,
]
MINHASH_B = [
    12345, 1013904223, 2891336453, 1284865837, 1291390831, 1013904243,
    2531011, 293261861, 288737297, 851723965, 2654435769, 97531,
    1865811235, 1406932606, 654435761, 789456123,
]
MINHASH_MOD = 2147483647  # 2^31 - 1
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # K = BANDS * ROWS


def norm_text_sql(text: str, d: str) -> str:
    """Normalized text for exact dedup: lowercase, collapse whitespace."""
    return f"trim(regexp_replace(lower({text}), '\\\\s+', ' '))" if d == "spark" \
        else f"trim(regexp_replace(lower({text}), '\\s+', ' ', 'g'))"


def word_shingles_sql(words: str, n: int, d: str) -> str:
    """Distinct n-gram word shingles (space-joined) from a word array.

    Spark side binds the word array ONCE via the single-element-transform
    let idiom: referencing {words} inside the per-position lambda would
    re-evaluate the tokenizer expression per shingle (HOF free-var re-eval
    — see tag_mentions PERF note; measured 2.5x on the jaccard path)."""
    if d == "spark":
        return (
            f"try_element_at(transform(array({words}), ws -> "
            f"CASE WHEN size(ws) >= {n} THEN "
            f"array_distinct(transform(sequence(1, size(ws) - {n} + 1), "
            f"i -> array_join(slice(ws, i, {n}), ' '))) "
            f"ELSE array() END), 1)")
    return (
        f"list_distinct(CASE WHEN len({words}) >= {n} THEN "
        f"list_transform(range(1, len({words}) - {n} + 2), "
        f"i -> array_to_string(list_slice({words}, i, i + {n} - 1), ' ')) "
        f"ELSE [] END)")


def h31_sql(s: str, d: str) -> str:
    """Deterministic 31-bit hash of a string expression (md5-derived)."""
    return f"({dialect.hash32_expr(s, d)} % {MINHASH_MOD})"


def shingle_hashes_sql(shingles: str, d: str) -> str:
    """h31 of every shingle — computed ONCE, reused by all K permutations
    (md5 is the expensive part; K=16 permutations are cheap arithmetic)."""
    h = h31_sql("s", d)
    if d == "spark":
        return f"transform({shingles}, s -> {h})"
    return f"list_transform({shingles}, s -> {h})"


def minhash_sig_sql(hs: str) -> list[str]:
    """DuckDB: K expressions over precomputed shingle hashes `hs`
    (NULL-safe: empty shingle set → MINHASH_MOD sentinel). The Spark side
    computes the same signatures in the _minhash_arrow_fn kernel."""
    return [f"coalesce(list_min(list_transform({hs}, "
            f"h -> ({a}::BIGINT * h + {b}::BIGINT) % {MINHASH_MOD})), "
            f"{MINHASH_MOD}::BIGINT)"
            for a, b in zip(MINHASH_A, MINHASH_B)]


def band_hash_sql(sig_cols: list[str], band: int, d: str) -> str:
    """Hash one LSH band (ROWS consecutive signature components)."""
    lo = band * LSH_ROWS
    parts = sig_cols[lo:lo + LSH_ROWS]
    if d == "spark":
        joined = "concat_ws(',', " + ", ".join(
            f"cast({p} as string)" for p in parts) + ")"
    else:
        joined = " || ',' || ".join(f"CAST({p} AS VARCHAR)" for p in parts)
    return dialect.hash32_expr(joined, d)


def word_hashes_sql(words: str, d: str) -> str:
    """h31 of every word occurrence — computed ONCE, reused by all simhash
    bit planes (md5 is the expensive part)."""
    h = h31_sql("w", d)
    if d == "spark":
        return f"transform({words}, w -> {h})"
    return f"list_transform({words}, w -> {h})"


def simhash_sql(hs: str, bits: int) -> str:
    """DuckDB SimHash over precomputed word hashes `hs`: bit k set iff
    Σ_occurrences (±1) > 0 where sign is bit k of the word's h31. The
    Spark side computes the same hash in the _simhash_arrow_fn kernel."""
    terms = []
    for k in range(bits):
        bit = f"(CASE WHEN ((x) // {1 << k}) % 2 = 1 THEN 1 ELSE -1 END)"
        s = f"coalesce(list_sum(list_transform({hs}, x -> {bit})), 0)"
        terms.append(
            f"(CASE WHEN ({s}) > 0 THEN {1 << k}::BIGINT ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")"


# ------------------------------------------------------------ Spark operators
def _hash_segments(col):
    """(flat int64 values, per-row lengths, offsets) from an Arrow list
    column — shared by the minhash/simhash batch kernels."""
    import numpy as np
    import pyarrow.compute as pc
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False) \
        .astype(np.int64)
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    return flat, lengths, offs


def _minhash_arrow_fn(id_col: str):
    """mapInArrow kernel for the K min-hash permutations (r6 optimization,
    guide §4.2): the SQL form ran K=16 interpreted array folds per row
    (aggregate/transform are CodegenFallback); this computes
    min((a_i*h + b_i) % MOD) per permutation with vectorized segment
    reductions. Integer arithmetic is exact (a*h + b < 2^62 fits int64,
    operands non-negative so numpy % == SQL %), so signatures are
    bit-identical to the DuckDB oracle rendering."""
    import numpy as np
    import pyarrow as pa
    A = np.array(MINHASH_A, dtype=np.int64)
    B = np.array(MINHASH_B, dtype=np.int64)

    def sig(batches):
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            flat, lengths, offs = _hash_segments(batch.column("__hs"))
            empty = lengths == 0
            outs = []
            # reduceat quirks: an empty segment (offs[i] == offs[i+1])
            # returns vals[offs[i]] instead of the identity (masked out
            # below), and a trailing empty segment would put len(vals)
            # itself in the index list — appending ONE identity element
            # keeps every index valid WITHOUT clipping (clipping an index
            # shrinks the PREVIOUS row's segment — a real bug the fuzz
            # suite caught). The sentinel only ever joins the LAST row's
            # reduction, where the identity is a no-op.
            for i in range(MINHASH_K):
                vals = (A[i] * flat + B[i]) % MINHASH_MOD
                ext = np.concatenate(
                    [vals, np.array([MINHASH_MOD], dtype=np.int64)])
                mins = np.minimum.reduceat(ext, offs[:-1])
                mins = np.where(empty, MINHASH_MOD, mins)
                outs.append(pa.array(mins, type=pa.int64()))
            yield pa.record_batch(
                [batch.column(id_col)] + outs,
                names=[id_col] + [f"mh_{i}" for i in range(MINHASH_K)])

    return sig


def _simhash_arrow_fn(id_col: str, bits: int):
    """mapInArrow kernel for simhash (r6, guide §4.2): the SQL form ran
    `bits` interpreted folds per row; this does one signed popcount per
    bit plane with segment sums. Pure int64 arithmetic — bit-identical
    to the SQL/DuckDB rendering (empty rows sum to 0 per plane → 0)."""
    import numpy as np
    import pyarrow as pa

    def sh(batches):
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            flat, lengths, offs = _hash_segments(batch.column("__hs"))
            empty = lengths == 0
            res = np.zeros(n, dtype=np.int64)
            # identity-sentinel append — see _minhash_arrow_fn on why
            # indices must not be clipped
            for k in range(bits):
                signed = 2 * ((flat >> k) & 1) - 1
                ext = np.concatenate(
                    [signed, np.array([0], dtype=np.int64)])
                s = np.add.reduceat(ext, offs[:-1])
                s = np.where(empty, 0, s)
                res += np.where(s > 0, np.int64(1) << k, 0)
            yield pa.record_batch(
                [batch.column(id_col), pa.array(res, type=pa.int64())],
                names=[id_col, "simhash"])

    return sh


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 of normalized text; keep = smallest id per group."""
    h = F.expr(f"md5({norm_text_sql(text_col, 'spark')})")
    out = df.select(F.col(id_col), h.alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return (out.withColumn("group_size", F.count("*").over(w).cast("long"))
            .withColumn("keep", F.col(id_col) == F.min(id_col).over(w)))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3) -> DataFrame:
    """Shingle hashes stay JVM-side (md5 is codegen-able and must match
    the engine hash); the K=16 permutation mins run in the declared Arrow
    batch kernel (r6 — the old let-bound SQL form was 16 interpreted
    folds per row)."""
    from pyspark.sql import types as T
    words = F.expr(dialect.tokens_expr(text_col, "spark"))
    sh = word_shingles_sql("words", n, "spark")
    d = (df.withColumn("words", words)
         .withColumn("shingles", F.expr(sh))
         .withColumn("__hs", F.expr(shingle_hashes_sql("shingles", "spark")))
         .select(F.col(id_col), "__hs"))
    out_schema = T.StructType(
        [d.schema[id_col]] + [T.StructField(f"mh_{i}", T.LongType())
                              for i in range(MINHASH_K)])
    return d.mapInArrow(_minhash_arrow_fn(id_col), out_schema)


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3) -> DataFrame:
    """MinHash+LSH: docs sharing any band bucket. Returns distinct
    (doc_a < doc_b) candidate pairs."""
    sig = minhash_signatures(df, id_col, text_col, n)
    sig_cols = [f"mh_{i}" for i in range(MINHASH_K)]
    # one projection + posexplode: signatures computed once per row (a
    # 4-way union would recompute them per band)
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bh', "
        f"{band_hash_sql(sig_cols, b, 'spark')})"
        for b in range(LSH_BANDS))
    buckets = sig.select(
        F.col(id_col),
        F.explode(F.expr(f"array({band_structs})")).alias("x"),
    ).select(id_col, F.col("x.band").alias("band"), F.col("x.bh").alias("bh"))
    l = buckets.alias("l")
    r = buckets.alias("r")
    pairs = (l.join(r, (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.bh") == F.col("r.bh"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("doc_a"),
                     F.col(f"r.{id_col}").alias("doc_b"))
             .distinct())
    return pairs


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """Word hashes stay JVM-side (engine md5); the per-bit signed
    popcounts run in the declared Arrow batch kernel (r6 — the old SQL
    form was `bits` interpreted folds per row)."""
    from pyspark.sql import types as T
    words = F.expr(dialect.tokens_expr(text_col, "spark"))
    d = (df.withColumn("words", words)
         .withColumn("__hs", F.expr(word_hashes_sql("words", "spark")))
         .select(F.col(id_col), "__hs"))
    out_schema = T.StructType(
        [d.schema[id_col], T.StructField("simhash", T.LongType())])
    return d.mapInArrow(_simhash_arrow_fn(id_col, bits), out_schema)


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, max_df: int | None = None) -> DataFrame:
    """n-gram Jaccard near-dup pairs via inverted-index self-join.
    max_df: drop shingles appearing in more than max_df docs (skew kill)."""
    words = F.expr(dialect.tokens_expr(text_col, "spark"))
    sh = word_shingles_sql("words", n, "spark")
    docs = (df.withColumn("words", words)
            .withColumn("shingles", F.expr(sh))
            .select(F.col(id_col), "shingles"))
    sizes = docs.select(F.col(id_col),
                        F.expr("size(shingles)").alias("nsh"))
    inv = docs.select(F.col(id_col), F.explode("shingles").alias("s"))
    if max_df is not None:
        dfreq = inv.groupBy("s").agg(F.count("*").alias("df"))
        inv = inv.join(F.broadcast(dfreq.where(F.col("df") <= max_df)
                                   .select("s")), "s")
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    out = (inter
           .join(sizes.withColumnRenamed(id_col, "doc_a")
                 .withColumnRenamed("nsh", "nsh_a"), "doc_a")
           .join(sizes.withColumnRenamed(id_col, "doc_b")
                 .withColumnRenamed("nsh", "nsh_b"), "doc_b")
           .withColumn("jaccard",
                       F.col("inter").cast("double")
                       / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter"))
                       .cast("double"))
           .where(F.col("jaccard") >= threshold)
           .select("doc_a", "doc_b", "inter", "jaccard"))
    return out


def ngram_jaccard_pairs_prefix(df: DataFrame, threshold: float = 0.5,
                               id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3) -> DataFrame:
    """EXACT n-gram Jaccard pairs via prefix filtering (AllPairs/PPJoin,
    Bayardo et al. WWW'07) — the 100 TB scale path that `max_df` only
    approximates.

    Shingles get a global canonical order (document frequency asc, then
    shingle asc: rarest first). For Jaccard >= t, two sets must share a
    shingle inside each one's first |s| - ceil(t*|s|) + 1 shingles in that
    order, so ONLY prefixes are indexed/joined: hot (high-df) shingles sort
    last and fall out of prefixes, killing the quadratic hot-key blowup
    structurally instead of by dropping data. Candidates get a length
    filter (t*|a| <= |b| <= |a|/t) AND the PPJoin POSITIONAL filter (r6
    optimization, guide §2.3) in the join condition, then exact
    verification by array_intersect on the full shingle sets. Zero false
    negatives — same result set as the naive inverted-index join, hence the
    same DuckDB oracle.

    Positional filter: a match at sorted prefix ranks (ra, rb) bounds the
    overlap by ub = 1 + min(|a|-ra, |b|-rb), and Jaccard >= t needs
    inter >= t(|a|+|b|)/(1+t); a TRUE pair always survives via its FIRST
    common shingle (all inter common shingles sit at ranks >= ra/rb, so
    ub >= inter there), so pruning rows with ub < minoverlap - 1e-6 drops
    only false candidates (the 1e-6 slack absorbs double rounding;
    measured 310k -> 125k candidates at sf0.1). The document-frequency
    rank comes from a count-over-window instead of the old
    groupBy+re-join (one exchange fewer feeding the prefix window)."""
    docs = with_shingles(df, id_col, text_col, n)
    return prefix_pairs_from_shingles(docs, threshold, id_col)


def with_shingles(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingles, nsh) projection shared by the prefix-pair path and
    dedup_groups (r6: dedup_groups checkpoints THIS so the tokenize+shingle
    expression is computed once, not once per pipeline branch)."""
    words = F.expr(dialect.tokens_expr(text_col, "spark"))
    sh = word_shingles_sql("words", n, "spark")
    return (df.withColumn("words", words)
            .withColumn("shingles", F.expr(sh))
            .select(F.col(id_col), "shingles",
                    F.expr("size(shingles)").alias("nsh")))


def prefix_pairs_from_shingles(docs: DataFrame, threshold: float,
                                id_col: str = "doc_id") -> DataFrame:
    """Prefix-filter pair join over a pre-shingled (id, shingles, nsh)
    frame — the body of ngram_jaccard_pairs_prefix."""
    t = float(threshold)
    inv = docs.select(F.col(id_col), "nsh", F.explode("shingles").alias("s"))
    invf = inv.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    w = Window.partitionBy(id_col).orderBy("df", "s")
    pref = (invf.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn")
                   <= F.col("nsh") - F.ceil(F.col("nsh") * t) + 1)
            .select(F.col(id_col), "nsh", "s", "__rn"))
    a, b = pref.alias("a"), pref.alias("b")
    minov = f"({t} * (a.nsh + b.nsh) / (1.0 + {t}) - 1e-6)"
    cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                   & (F.col(f"b.nsh") * t <= F.col("a.nsh"))
                   & (F.col(f"a.nsh") * t <= F.col("b.nsh"))
                   & F.expr(f"1 + least(a.nsh - a.__rn, b.nsh - b.__rn) "
                            f">= {minov}"))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"))
            .distinct())
    sa = docs.select(F.col(id_col).alias("doc_a"),
                     F.col("shingles").alias("__sh_a"),
                     F.col("nsh").alias("__nsh_a"))
    sb = docs.select(F.col(id_col).alias("doc_b"),
                     F.col("shingles").alias("__sh_b"),
                     F.col("nsh").alias("__nsh_b"))
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("inter",
                        F.expr("size(array_intersect(__sh_a, __sh_b))")
                        .cast("long"))
            .withColumn("jaccard",
                        F.col("inter").cast("double")
                        / (F.col("__nsh_a") + F.col("__nsh_b")
                           - F.col("inter")).cast("double"))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "inter", "jaccard"))


def phash_near_dup_pairs(df: DataFrame, max_hamming: int = 2,
                         id_col: str = "doc_id",
                         phash_col: str = "phash",
                         bits: int = 32, bands: int = 4) -> DataFrame:
    """Perceptual-hash near-duplicate pairs (image dedup on the north_star's
    phash column): band the hash into `bands` equal bit-slices — two hashes
    within `max_hamming` bits MUST share at least one identical band when
    max_hamming < bands (pigeonhole), so candidates come from `bands`
    equi-joins (shuffle-friendly, AQE-splittable) and only candidates pay
    the exact bit_count(xor) verification. Never quadratic in corpus size;
    hot bands (e.g. flat images) are the salting/AQE case like any hot key.
    """
    if max_hamming >= bands:
        raise ValueError("pigeonhole guarantee needs max_hamming < bands")
    slice_bits = bits // bands
    mask = (1 << slice_bits) - 1
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bh', "
        f"shiftright(cast({phash_col} as bigint), {b * slice_bits}) & {mask})"
        for b in range(bands))
    buckets = df.select(
        F.col(id_col), F.col(phash_col).cast("long").alias("__ph"),
        F.explode(F.expr(f"array({band_structs})")).alias("x"),
    ).select(id_col, "__ph", F.col("x.band").alias("band"),
             F.col("x.bh").alias("bh"))
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.__ph").alias("ph_a"),
                    F.col("b.__ph").alias("ph_b"))
            .distinct())
    return (cand.withColumn(
        "hamming", F.expr("bit_count(ph_a ^ ph_b)").cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"))


#: edge-count ceiling for the driver-side union-find fast path, in RAW
#: (u, v) bigint pair rows; above it the distributed min-label loop runs
#: unchanged. 2M rows are ~32 MB of collected payload, but the driver's
#: Python holds far more at the cap: the collected Row objects, the
#: union-find dicts and the pandas result peak at 1,387 MiB (tracemalloc,
#: CPython 3.11, pandas 2.2) for 2M disjoint pairs (4M nodes, the most a
#: 2M-edge list can touch) and 811 MiB for 2M random edges over 1M ids
#: (~0.98M nodes touched).
DRIVER_CC_MAX_EDGES = 2_000_000


def _cc_driver_side(edges: DataFrame, limit: int) -> DataFrame | None:
    """Driver-side union-find fast path for SMALL edge sets (r6
    optimization, guide §1.2/'first-principles'): the distributed
    min-label loop costs a fixed ~4-6 eager jobs (checkpoints +
    convergence aggregates) regardless of data size — pure scheduling
    overhead when the edge list fits in driver memory. One limit-guarded
    collect replaces the whole loop: if the collect comes back complete
    (≤ limit rows), union-find with min-id labels computes the IDENTICAL
    (node, component) fixpoint — component = min reachable node id — and
    the result returns as a local relation (broadcast-sized by
    construction). The input may be the RAW undirected pair list (r6):
    union-find is direction-free and idempotent, so neither symmetry nor
    dedup is required. Returns None when the edge list exceeds the limit
    (collect truncated → fall back to the distributed loop). The same
    scale-adaptive eager-metadata pattern as choose_asof_strategy."""
    rows = edges.limit(limit + 1).collect()
    if len(rows) > limit:
        return None
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    mins: dict = {}
    for n in parent:
        r = find(n)
        if r not in mins or n < mins[r]:
            mins[r] = n
    out = [(n, mins[find(n)]) for n in parent]
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("node", edges.schema["u"].dataType),
        T.StructField("component", edges.schema["u"].dataType)])
    spark = edges.sparkSession
    # r6: a pandas-backed createDataFrame becomes a JVM LocalRelation
    # (LocalTableScan) with KNOWN small stats — downstream keep_list
    # joins broadcast it and skip both exchanges, and execution never
    # re-serializes the rows through a Python worker the way a plain-list
    # createDataFrame's ExistingRDD does (measured 0.40 → 0.19 s per
    # keep_list execution at 500 components).
    import pandas as pd
    return spark.createDataFrame(
        pd.DataFrame(out, columns=["node", "component"]), schema)


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 50,
                         driver_max_edges: int = DRIVER_CC_MAX_EDGES
                         ) -> DataFrame:
    """Connected components over a candidate-pair edge list by iterative
    min-label propagation WITH pointer jumping (the 'hash-to-min' family,
    cf. Rastogi et al., ICDE'13) — the standard corpus-dedup grouping step:
    every near-dup cluster collapses to one component labeled by its
    smallest member id.

    Each round: (1) every node takes the min label among itself and its
    neighbors (one equi-join + one hash agg on the node key), then (2) one
    POINTER JUMP compresses label chains — component ← that component's own
    component — so a path of length D converges in O(log D) rounds instead
    of D (a 300-node chain converges in 9 rounds, tested). No quadratic
    step anywhere. The convergence check is an EAGER count per round
    (inherent to any fixpoint loop; documented side effect like
    choose_asof_strategy). Exceeding max_iter raises instead of silently
    returning unconverged labels.

    Iterative-algorithm hygiene: the RAW pair list is localCheckpoint()ed
    ONCE up front (otherwise EVERY round — or the fast-path collect —
    recomputes the upstream candidate-pair pipeline; measured 22.8 s →
    9.5 s on the sf0.1 dedup_groups bench), the distributed loop's
    deduplicated symmetric edge list is built from that checkpoint,
    and labels are checkpointed each round so the convergence check and the
    next round's join share one materialization instead of growing lineage
    (labels are small: one (node, component) row per non-singleton node).

    r6 optimizations (guide §2.4 — fewer jobs/shuffles per fixpoint round):
      * round 0 is FUSED into one aggregation: with identity labels the
        first min-label propagation is just min({u} ∪ neighbors(u)) —
        groupBy(u).least(u, min(v)) over the symmetric edge list, no
        edges×labels join and no identity-labels checkpoint;
      * the per-round changed-count JOIN is gone: labels are monotonically
        non-increasing per node (the min includes the node's own previous
        label; the jump maps a label to one ≤ it), so the exact decimal
        SUM of labels strictly decreases iff any node changed — one
        scan-only aggregate on the checkpointed labels per round;
      * edge lists at or under `driver_max_edges` take the driver-side
        union-find fast path (_cc_driver_side) — identical fixpoint, one
        limit-guarded collect instead of the per-round job chain. Pass
        driver_max_edges=0 to force the distributed loop (tests do, to
        keep both paths covered).

    Returns (node, component) — component = min node id reachable.
    """
    # r6: the lineage cut happens on the RAW (u, v) pair list — half the
    # rows of the symmetric form, and the driver union-find neither needs
    # symmetry nor dedup (union(u, v) is direction-free and idempotent),
    # so the small-graph fast path skips the symmetric-union + distinct
    # exchange entirely. The distributed loop builds its deduplicated
    # symmetric edge list FROM this checkpoint (one cheap job) and
    # re-checkpoints it so the per-round joins still read a materialized
    # relation.
    raw = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .localCheckpoint())
    if driver_max_edges and driver_max_edges > 0:
        local = _cc_driver_side(raw, driver_max_edges)
        if local is not None:
            return local
    edges = (raw.unionByName(raw.select(F.col("v").alias("u"),
                                        F.col("u").alias("v")))
             .distinct()
             .localCheckpoint())

    def jump(stepped):
        # pointer jump: component ← component's component (labels form a
        # forest pointing at smaller ids, so one hop halves chain depth;
        # every component value IS a node, so the self-join always hits)
        ptr = stepped.select(F.col("node").alias("component"),
                             F.col("component").alias("cc"))
        return (stepped.join(ptr, "component", "left")
                .select("node",
                        F.coalesce("cc", "component").alias("component")))

    def label_sum(lbl):
        # decimal(38,0): exact at any node-id magnitude (a bigint sum
        # could overflow at web-corpus node counts)
        row = lbl.agg(F.sum(F.col("component").cast("decimal(38,0)"))
                      .alias("s")).collect()[0]
        return row["s"]

    labels = jump(
        edges.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("component"))
        .select(F.col("u").alias("node"), "component")).localCheckpoint()
    prev_sum = label_sum(labels)
    for i in range(max_iter):
        prop = (edges.join(labels,
                           edges["u"] == labels["node"], "inner")
                .select(F.col("v").alias("node"), "component"))
        stepped = (prop.unionByName(labels)
                   .groupBy("node")
                   .agg(F.min("component").alias("component")))
        labels = jump(stepped).localCheckpoint()
        cur_sum = label_sum(labels)
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"(graph diameter > 2^{max_iter}) — raise max_iter")


def collapse_exact(df: DataFrame, id_col: str, key) -> tuple:
    """Collapse rows sharing an identical `key` (a Column: text hash, phash,
    …) to their min-id REPRESENTATIVE before any pair-enumeration stage —
    the identical-content blowup guard (VERDICT_r02 #3): a crawl with m
    byte-identical copies of one boilerplate doc would otherwise emit
    m²/2 candidate pairs before distinct; with collapse it emits m-1 STAR
    edges (rep → member) whose connected-components closure is identical,
    because identical content is pairwise-similar at any threshold and the
    rep inherits every cross-group relation its members would have found.

    One hash-keyed window shuffle (same shape as exact_dedup, unskewed —
    the key is a hash). Returns (reps, star_edges): `reps` keeps the input
    schema (one row per distinct key, the min-id member); `star_edges` has
    columns (doc_a=rep, doc_b=member) for every collapsed non-rep row.

    NULL keys never collapse: Window.partitionBy puts every NULL in ONE
    group, which would star-link all missing-key rows (e.g. images whose
    hash failed) into a single pseudo-duplicate cluster — so NULL keys get
    a per-row unique fallback ('n:'+id; non-null keys render as 'k:'+key,
    so the namespaces cannot collide) and stay singletons."""
    w = Window.partitionBy("__xkey")
    safe_key = (F.when(key.isNotNull(),
                       F.concat(F.lit("k:"), key.cast("string")))
                .otherwise(F.concat(F.lit("n:"),
                                    F.col(id_col).cast("string"))))
    hashed = (df.withColumn("__xkey", safe_key)
              .withColumn("__rep", F.min(id_col).over(w)))
    reps = (hashed.where(F.col(id_col) == F.col("__rep"))
            .drop("__xkey", "__rep"))
    star = (hashed.where(F.col(id_col) != F.col("__rep"))
            .select(F.col("__rep").alias("doc_a"),
                    F.col(id_col).alias("doc_b")))
    return reps, star


def near_dup_groups(df: DataFrame, id_col: str, key, pairs_of,
                    prepare=lambda reps: reps) -> DataFrame:
    """The one dedup-groups decision behind every modality (text
    dedup_groups, image_dedup_groups, embedding_dedup_groups): rows
    sharing an identical `key` collapse to their min-id representative
    (collapse_exact), `pairs_of` finds the near-duplicate pairs among the
    representatives, the pairs plus the collapse's star edges feed
    connected components, and keep_list decides one canonical row per
    cluster. Returns (id_col, component, keep) for every row of `df`.

    `prepare` projects the representatives into what `pairs_of` reads
    (text: the shingle projection). Its result is localCheckpoint()ed
    once: every pair pipeline reads it from several branches (self-join
    sides, verify sides, the prefix df window), so the collapse window and
    the projection run once instead of once per branch. `pairs_of` returns
    a frame whose first two columns are the pair's ids."""
    reps, star = collapse_exact(df, id_col, key)
    pairs = pairs_of(prepare(reps).localCheckpoint())
    a, b = pairs.columns[:2]
    edges = (pairs.select(F.col(a).alias("doc_a"), F.col(b).alias("doc_b"))
             .unionByName(star))
    comp = connected_components(edges, "doc_a", "doc_b")
    return keep_list(df.select(id_col), comp, id_col)


def dedup_groups(df: DataFrame, threshold: float = 0.5,
                 id_col: str = "doc_id", text_col: str = "text",
                 n: int = 3) -> DataFrame:
    """Near-duplicate GROUPS + canonical-document keep list: exact n-gram
    Jaccard pairs via the prefix-filter scale path feed connected
    components; every document (including singletons) gets its component
    id and keep = (doc is the smallest member = the canonical copy kept in
    the training corpus).

    The full end-to-end corpus-dedup decision the reference has no analog
    for — pairs alone (jaccard_pairs*) don't dedup transitive chains
    (a~b, b~c must drop BOTH b and c).

    Identical texts are collapsed to one representative BEFORE pair
    enumeration (near_dup_groups) — only docs with at least one shingle
    are eligible (shingle-less docs can never pair under the Jaccard path,
    so collapsing two identical empty docs would WRONGLY group them; they
    get a per-row unique key instead and stay singletons)."""
    n_toks = F.expr(f"size({dialect.tokens_expr(text_col, 'spark')})")
    # md5 is hex, so the "!"-prefixed per-row fallback key never collides
    key = F.when(n_toks >= n,
                 F.md5(F.expr(norm_text_sql(text_col, "spark")))) \
        .otherwise(F.concat(F.lit("!"), F.col(id_col).cast("string")))
    return near_dup_groups(
        df.select(id_col, text_col), id_col, key,
        lambda shingled: prefix_pairs_from_shingles(shingled, threshold,
                                                    id_col),
        prepare=lambda reps: with_shingles(reps, id_col, text_col, n))


def keep_list(ids: DataFrame, components: DataFrame,
              id_col: str) -> DataFrame:
    """Canonical keep-list semantics shared by every dedup-groups surface
    (text, image, embedding; see near_dup_groups): left-join ids to their
    component, singletons are their own component, keep = the smallest
    member of each cluster."""
    return (ids
            .join(components.withColumnRenamed("node", id_col),
                  id_col, "left")
            .withColumn("component",
                        F.coalesce(F.col("component"), F.col(id_col)))
            .withColumn("keep", F.col(id_col) == F.col("component"))
            .select(id_col, "component", "keep"))


def contaminated_ids(train: DataFrame, eval_df: DataFrame, n: int = 5,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Distinct ids of training docs sharing an n-gram with the eval set —
    the SMALL side of the decontamination decision (typically a tiny
    fraction of the corpus). Same plan as decontaminate's probe: eval
    shingles broadcast into a left-semi probe of the exploded training
    shingles, no training-side shuffle."""
    t_sh = (train.withColumn(
        "words", F.expr(dialect.tokens_expr(text_col, "spark")))
        .withColumn("__sh", F.expr(word_shingles_sql("words", n, "spark")))
        .select(F.col(id_col), F.explode("__sh").alias("s")))
    e_sh = (eval_df.withColumn(
        "words", F.expr(dialect.tokens_expr(text_col, "spark")))
        .withColumn("__sh", F.expr(word_shingles_sql("words", n, "spark")))
        .select(F.explode("__sh").alias("s")).distinct())
    return (t_sh.join(F.broadcast(e_sh), "s", "left_semi")
            .select(id_col).distinct())


def decontaminate(train: DataFrame, eval_df: DataFrame, n: int = 5,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Eval-set decontamination — the standard pretraining hygiene step:
    flag every training document sharing at least one word n-gram with any
    evaluation document (the GPT-3 appendix-C / Llama contamination rule
    shape, n-gram membership not similarity, so ONE leaked answer string is
    enough to drop a doc).

    Scale shape: the eval side is tiny relative to the corpus — its
    distinct shingles are BROADCAST into a left-semi probe of the exploded
    training shingles, so the corpus pays one scan + one broadcast probe
    and NO shuffle of training data; contaminated ids then anti-join back.
    Output: (id, contaminated, keep) for every training doc.
    """
    bad = contaminated_ids(train, eval_df, n, id_col, text_col)
    return (train.select(F.col(id_col))
            .join(bad.withColumn("__c", F.lit(True)), id_col, "left")
            .withColumn("contaminated",
                        F.coalesce(F.col("__c"), F.lit(False)))
            .withColumn("keep", ~F.col("contaminated"))
            .select(id_col, "contaminated", "keep"))


# ------------------------------------------------------------ Python twins
# INDEPENDENT pure-Python implementations of the signature chain (hashlib
# md5 + re — no SQL rendering in either dialect), the third comparator for
# the dedup surface per the dialect.pos_py pattern:
# the Spark operators and the DuckDB oracles both render from the *_sql
# builders above, so agreement between them proves cross-engine execution
# parity but not independent specification; agreement with THESE functions
# does. Parity is fuzz-asserted in tests/test_fuzz_parity.py.

import hashlib as _hashlib
import re as _re

def _tokens_py(text: str | None) -> list[str]:
    """Twin of dialect.tokens_expr: lowercase word tokens, NULL ≡ empty."""
    return dialect.TOKEN_RE_PY.findall((text or "").lower())


def h31_py(s: str) -> int:
    """Twin of h31_sql / dialect.hash32_expr % MOD: first 8 md5 hex chars
    of the UTF-8 bytes → int, mod 2^31-1."""
    return int(_hashlib.md5(s.encode("utf-8")).hexdigest()[:8],
               16) % MINHASH_MOD


def _shingles_py(words: list[str], n: int) -> list[str]:
    if len(words) < n:
        return []
    seen, out = set(), []
    for i in range(len(words) - n + 1):
        s = " ".join(words[i:i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def minhash_sig_py(text: str | None, n: int = 3) -> list[int]:
    """Twin of minhash_signatures for one document: K min-hash values
    (MINHASH_MOD sentinel when the doc has no n-shingle)."""
    hs = [h31_py(s) for s in _shingles_py(_tokens_py(text), n)]
    if not hs:
        return [MINHASH_MOD] * MINHASH_K
    return [min((a * h + b) % MINHASH_MOD for h in hs)
            for a, b in zip(MINHASH_A, MINHASH_B)]


def band_hashes_py(sig: list[int]) -> list[int]:
    """Twin of band_hash_sql over a full K-signature: one 32-bit bucket
    hash per LSH band (full hash32, NOT mod 2^31-1)."""
    out = []
    for band in range(LSH_BANDS):
        lo = band * LSH_ROWS
        joined = ",".join(str(v) for v in sig[lo:lo + LSH_ROWS])
        out.append(int(_hashlib.md5(joined.encode("utf-8"))
                       .hexdigest()[:8], 16))
    return out


def lsh_pairs_py(docs: list[tuple], n: int = 3) -> set[tuple]:
    """Twin of lsh_candidate_pairs over [(id, text)]: distinct (a < b) id
    pairs sharing any (band, bucket)."""
    buckets: dict[tuple, list] = {}
    for doc_id, text in docs:
        for band, bh in enumerate(band_hashes_py(minhash_sig_py(text, n))):
            buckets.setdefault((band, bh), []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if ids[i] != ids[j]:
                    pairs.add((ids[i], ids[j]))
    return pairs


def simhash_py(text: str | None, bits: int = 32) -> int:
    """Twin of the simhash operator: bit k set iff the signed occurrence
    sum (±1 by bit k of each word-occurrence h31) is > 0."""
    hs = [h31_py(w) for w in _tokens_py(text)]
    out = 0
    for k in range(bits):
        s = sum(1 if (h >> k) & 1 else -1 for h in hs)
        if s > 0:
            out |= 1 << k
    return out


def jaccard_pairs_py(docs: list[tuple], threshold: float = 0.5,
                     n: int = 3) -> dict[tuple, float]:
    """Twin of ngram_jaccard_pairs / ngram_jaccard_pairs_prefix over
    [(id, text)]: {(a < b): jaccard} for every pair meeting the threshold.
    All-pairs O(m²) — the SPECIFICATION, against which the prefix-filter
    scale path's zero-false-negative claim is independently checked."""
    sh = {i: set(_shingles_py(_tokens_py(t), n)) for i, t in docs}
    ids = sorted(sh)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sh[a] or not sh[b]:
                continue  # shingle-less docs never pair (no index rows)
            inter = len(sh[a] & sh[b])
            union = len(sh[a]) + len(sh[b]) - inter
            j = inter / union
            if j >= threshold:
                out[(a, b)] = j
    return out


def dedup_groups_py(docs: list[tuple], threshold: float = 0.5,
                    n: int = 3) -> dict:
    """Twin of dedup_groups over [(id, text)]: {id: (component, keep)} via
    union-find over the all-pairs Jaccard edges — no Spark, no SQL, no
    collapse/prefix/CC machinery, so agreement checks the ENTIRE pipeline
    (collapse_exact star edges + prefix filtering + pointer-jumping CC +
    keep_list) against the plain mathematical definition."""
    parent = {i: i for i, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in jaccard_pairs_py(docs, threshold, n):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: (find(i), find(i) == i) for i, _ in docs}


def phash_pairs_py(rows: list[tuple], max_hamming: int = 2) -> dict:
    """Twin of phash_near_dup_pairs over [(id, phash)]: the plain all-pairs
    definition — {(a < b): hamming} for popcount of the 64-bit
    two's-complement xor ≤ max_hamming. The banded operator must equal
    this exactly (pigeonhole guarantees the candidate join loses
    nothing), so agreement independently proves the banding claim."""
    m64 = (1 << 64) - 1
    ids = sorted(rows)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            (a, pa), (b, pb) = ids[x], ids[y]
            h = bin((pa ^ pb) & m64).count("1")
            if h <= max_hamming:
                out[(a, b)] = h
    return out


def image_dedup_groups_py(rows: list[tuple],
                          max_hamming: int = 2) -> dict:
    """Twin of the image_dedup_groups decision over [(id, phash)]:
    union-find over the all-pairs hamming edges → {id: (component, keep)}.
    No banding, no collapse_exact, no CC machinery."""
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in phash_pairs_py(rows, max_hamming):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: (find(i), find(i) == i) for i, _ in rows}


def exact_dedup_py(docs: list[tuple]) -> dict:
    """Twin of exact_dedup over [(id, text)]: normalize (lower, collapse
    ASCII whitespace, trim), md5-hash, group — {id: (text_hash,
    group_size, keep)}. NULL text hashes to None and groups together
    (SQL window partitions treat NULL as one group)."""
    import re as _re

    def norm(t):
        if t is None:
            return None
        return _hashlib.md5(
            _re.sub(r"\s+", " ", t.lower()).strip().encode("utf-8")
        ).hexdigest()

    hashes = {i: norm(t) for i, t in docs}
    groups: dict = {}
    for i, h in hashes.items():
        groups.setdefault(h, []).append(i)
    return {i: (h, len(groups[h]), i == min(groups[h]))
            for i, h in hashes.items()}


def decontaminate_py(docs: list[tuple], n: int = 3) -> dict:
    """Twin of the decontaminate registry query over [(id, text)]: eval
    split = id % 97 == 0, a training doc is contaminated iff it shares
    ANY distinct n-gram shingle with the eval split — {train_id:
    (contaminated, keep)}. Docs shorter than n words have no shingles
    and can never be contaminated."""
    sh = {i: set(_shingles_py(_tokens_py(t), n)) for i, t in docs}
    ev: set = set()
    for i, _ in docs:
        if i % 97 == 0:
            ev |= sh[i]
    return {i: (bool(sh[i] & ev), not sh[i] & ev)
            for i, _ in docs if i % 97 != 0}
