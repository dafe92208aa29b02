"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, size): the same seed writes
byte-identical parquet, another seed writes different rows. The engine
only ever sees the parquet files written here.

Documents are drawn from the engine's own lexicons (synth.VOCAB, the
sentiment words, natlog's negation and quantifier words, the dictionary
phrases and the stopwords) plus a Zipf tail of suffixed words, with
sentence punctuation and ALL-CAPS tokens. A set share of documents are
near-copies (one token edited) or exact copies of an earlier document,
which is what drives the dedup family. Events come at about ten per
document, embeddings are clustered, and images come from synth.synth_row
over a seed-offset id range.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from clj_nlp_parse_spark import schema, synth
from clj_nlp_parse_spark.operators import features, natlog

TAIL_WORDS = 8000
TAIL_SHARE = 0.6
NEAR_DUP_SHARE = 0.08
EXACT_DUP_SHARE = 0.02
EMB_DIM = 64
EMB_CLUSTERS = 16
EMB_DUP_SHARE = 0.05
N_ENTITIES = synth.N_ENTITIES
EVENT_SPAN_S = 90 * 24 * 3600

PHRASES = ("table scan", "hash join", "the line", "sort merge", "dups",
           "table hash", "customer join", "the window", "big order")
LEXICON = tuple(sorted(set(
    synth.VOCAB + list(features.POSITIVE_WORDS) + list(features.NEGATIVE_WORDS)
    + list(natlog.NEGATION_WORDS) + list(natlog.QUANTIFIER_WORDS)
    + list(schema.STOPWORDS[:24]))))
_SUFFIXES = ("s", "ed", "ing", "er", "ly", "ness", "ion", "able")


def _tail_words() -> list[str]:
    """8k distinct words: a lexicon stem, an English suffix and a letter
    code, so lemma and POS rules see realistic endings."""
    out = []
    stems = synth.VOCAB
    for k in range(TAIL_WORDS):
        code = ""
        j = k
        for _ in range(2):
            code += chr(ord("a") + j % 26)
            j //= 26
        out.append(stems[k % len(stems)] + code + _SUFFIXES[k % len(_SUFFIXES)])
    return out


TAIL = _tail_words()
_ZIPF_P = 1.0 / np.arange(1, TAIL_WORDS + 1) ** 1.1
_ZIPF_P /= _ZIPF_P.sum()


def _sentence(rng: np.random.Generator) -> str:
    n = int(rng.integers(5, 15))
    tail = rng.random(n) < TAIL_SHARE
    tail_ix = rng.choice(TAIL_WORDS, size=n, p=_ZIPF_P)
    lex_ix = rng.integers(0, len(LEXICON), n)
    words = [TAIL[t] if is_tail else LEXICON[x]
             for is_tail, t, x in zip(tail, tail_ix, lex_ix)]
    if rng.random() < 0.4:
        words.insert(int(rng.integers(0, len(words))),
                     PHRASES[int(rng.integers(0, len(PHRASES)))])
    for i in range(len(words)):
        r = rng.random()
        if r < 0.04:
            words[i] = words[i].upper()
        elif r < 0.08 and i < len(words) - 1:
            words[i] += ","
    words[0] = words[0][:1].upper() + words[0][1:]
    end = ("." if rng.random() < 0.75 else
           ("?" if rng.random() < 0.6 else "!"))
    return " ".join(words) + end


def _edit(text: str, rng: np.random.Generator) -> str:
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    words[i] = TAIL[int(rng.integers(0, TAIL_WORDS))]
    return " ".join(words)


def documents(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed % 2**32, 1])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts.append(_edit(texts[int(rng.integers(0, i))], rng))
        else:
            k = int(rng.integers(2, 6))
            texts.append(" ".join(_sentence(rng) for _ in range(k)))
    lang = rng.choice(np.array(["en", "de", "fr"]), size=n, p=[0.9, 0.05, 0.05])
    source = [f"src{int(s)}" for s in rng.integers(0, 20, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(n: int, seed: int) -> pa.Table:
    """Strictly increasing microsecond timestamps over 90 days from
    synth.BASE_TS, so every (user_id, ts) is unique and as-of matches are
    deterministic; users map onto image entities by user_id % 50."""
    rng = np.random.default_rng([seed % 2**32, 2])
    users = max(N_ENTITIES, n // 60)
    gaps = rng.integers(1, 2 * EVENT_SPAN_S * 10**6 // max(n, 1), n)
    ts = synth.BASE_TS + np.cumsum(gaps).astype("timedelta64[us]")
    types = np.array(["click", "signup", "error", "view", "purchase"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, n)].tolist()),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, n), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}'
                           for k in rng.integers(0, 100, n)]),
    })


def embeddings(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed % 2**32, 3])
    centers = rng.normal(0.0, 0.15, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n)
    vec = centers[label] + rng.normal(0.0, 0.12, (n, EMB_DIM))
    dup = np.flatnonzero(rng.random(n) < EMB_DUP_SHARE)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    vec[dup] = vec[src] + rng.normal(0.0, 1e-3, (len(dup), EMB_DIM))
    vec = vec.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def image_id_offset(seed: int) -> int:
    return (seed % 4096) * 1_000_000


def write(table: pa.Table, path: str) -> None:
    # fixed row groups: footers and layout identical for identical rows
    pq.write_table(table, path, row_group_size=1 << 16)


def images(n: int, seed: int) -> pa.Table:
    """synth.synth_row over [offset, offset + n): the image+caption table
    with the engine's input schema (synth.IMAGES_FIELDS)."""
    off = image_id_offset(seed)
    recs = [synth.synth_row(i) for i in range(off, off + n)]
    cols = {k: [r[k] for r in recs] for k in recs[0]} if recs else {}
    return pa.table({
        "image_id": pa.array(cols.get("image_id", []), pa.string()),
        "bytes": pa.array(cols.get("bytes", []), pa.binary()),
        "w": pa.array(cols.get("w", []), pa.int32()),
        "h": pa.array(cols.get("h", []), pa.int32()),
        "fmt": pa.array(cols.get("fmt", []), pa.string()),
        "caption": pa.array(cols.get("caption", []), pa.string()),
        "phash": pa.array(cols.get("phash", []), pa.int64()),
        "entity_id": pa.array(cols.get("entity_id", []), pa.string()),
        "event_ts": pa.array(cols.get("event_ts", []),
                             pa.timestamp("us", tz="UTC")),
    })


def make_dir(out_dir: str, seed: int, docs: int = 0, n_events: int = 0,
             n_emb: int = 0, n_images: int = 0) -> dict:
    """Write the requested tables under out_dir; returns their
    properties."""
    os.makedirs(out_dir, exist_ok=True)
    props: dict = {}
    if docs:
        t = documents(docs, seed)
        write(t, os.path.join(out_dir, "documents.parquet"))
        props["documents"] = doc_properties(t)
    if n_events:
        t = events(n_events, seed)
        write(t, os.path.join(out_dir, "events.parquet"))
        props["events"] = {"rows": t.num_rows,
                           "users": len(set(t.column("user_id").to_pylist()))}
    if n_emb:
        t = embeddings(n_emb, seed)
        write(t, os.path.join(out_dir, "embeddings.parquet"))
        props["embeddings"] = {"rows": t.num_rows, "dim": EMB_DIM,
                               "clusters": EMB_CLUSTERS,
                               "dup_share": EMB_DUP_SHARE}
    if n_images:
        t = images(n_images, seed)
        write(t, os.path.join(out_dir, "images.parquet"))
        props["images"] = {"rows": t.num_rows,
                           "id_offset": image_id_offset(seed),
                           "entities": len(set(
                               t.column("entity_id").to_pylist()))}
    return props


def doc_properties(t: pa.Table) -> dict:
    """Rows, tokens per doc, lexicon hit rates, near-duplicate share, the
    exact-duplicate count and the MinHash-LSH candidate pairs (counted by
    the engine's Python twin, dedup.lsh_pairs_py) of a documents table."""
    import re

    from clj_nlp_parse_spark.operators import dedup
    texts = t.column("text").to_pylist()
    tok = re.compile(r"[a-z0-9']+")
    lex = {
        "positive": set(features.POSITIVE_WORDS),
        "negative": set(features.NEGATIVE_WORDS),
        "negation": set(natlog.NEGATION_WORDS),
        "quantifier": set(natlog.QUANTIFIER_WORDS),
        "vocab": set(synth.VOCAB),
    }
    hits = dict.fromkeys(lex, 0)
    n_tok = 0
    for s in texts:
        ws = tok.findall(s.lower())
        n_tok += len(ws)
        for w in ws:
            for k, v in lex.items():
                if w in v:
                    hits[k] += 1
    n = len(texts)
    return {
        "rows": n,
        "tokens_per_doc": round(n_tok / max(n, 1), 2),
        "lexicon_hit_rate": {k: round(v / max(n_tok, 1), 4)
                             for k, v in hits.items()},
        "near_dup_share": NEAR_DUP_SHARE,
        "exact_dup_docs": n - len(set(texts)),
        "lsh_candidate_pairs": len(dedup.lsh_pairs_py(
            list(zip(t.column("doc_id").to_pylist(), texts)))),
    }
