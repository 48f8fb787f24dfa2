"""Seeded input generators for the perfbench workloads.

Each generator writes the parquet tables a workload reads plus the labels
its checker needs (what was planted where). The same seed and size give
the same files. Nothing here uses graft code: the checks compare graft's
outputs against these labels and against recomputation in Python.
"""
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

# Sizes per workload: the benchmark size and the smoke size.
SIZES = {
    "topic_drain": {"bench": {"n": 30_000}, "smoke": {"n": 5_000}},
    "corpus_clean": {"bench": {"n": 2_000}, "smoke": {"n": 600}},
    "ann_serve": {"bench": {"n": 8_192, "qbatch": 16, "nbatches": 8},
                  "smoke": {"n": 3_000, "qbatch": 8, "nbatches": 2}},
    "knn_graph": {"bench": {"n": 2_000}, "smoke": {"n": 600}},
}

ROW_GROUP = 16_384


def _write(table, path):
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def _rng(workload, seed):
    tag = sum(ord(c) * 131 ** i for i, c in enumerate(workload)) % (2 ** 31)
    return np.random.default_rng([int(seed), tag])


# ---- topic_drain -----------------------------------------------------------

BAD_VALUES = ['{"x": 5}', '{"k": "abc"}', '{"k": 99999999999}', 'not json']


def gen_topic(rng, n, out):
    """A keyed log with skewed key popularity, planted tombstones,
    undecodable values and keys, and a decisions table with duplicated and
    conflicting rows. Labels give each record's kind and resolved action.
    """
    n_users = max(50, n // 40)
    pop = 1.0 / np.arange(1, n_users + 1) ** 1.1
    pop /= pop.sum()
    pool = rng.choice(10 ** 9, size=n_users, replace=False).astype(np.int64) + 1
    users = pool[rng.choice(n_users, size=n, p=pop)]
    # 19-digit ids: valid bigints the key serde rejects (18-digit cap)
    bad_key = rng.random(n) < 0.004
    bad_pool = 10 ** 18 + rng.choice(10 ** 17, size=8, replace=False).astype(np.int64)
    users[bad_key] = rng.choice(bad_pool, size=int(bad_key.sum()))
    tomb = rng.random(n) < 0.05
    bad_value = ~tomb & (rng.random(n) < 0.03)
    etype = rng.choice(np.array(["view", "click", "purchase"]), size=n).astype(object)
    etype[tomb] = "error"
    kv = rng.integers(0, 10 ** 6, size=n)
    pad_len = rng.integers(0, 48, size=n)
    letters = np.array(list(string.ascii_lowercase))
    pad_chars = rng.choice(letters, size=int(pad_len.sum()))
    bad_pick = rng.integers(0, len(BAD_VALUES), size=n)
    props = []
    pos = 0
    for i in range(n):
        pad = "".join(pad_chars[pos:pos + pad_len[i]])
        pos += pad_len[i]
        props.append(BAD_VALUES[bad_pick[i]] if bad_value[i]
                     else '{"k": %d, "p": "%s"}' % (kv[i], pad))
    offsets = np.arange(n, dtype=np.int64)
    ts = (np.int64(1_700_000_000_000_000) + offsets * 1_000_000).astype("datetime64[us]")
    _write(pa.table({
        "event_id": pa.array(offsets),
        "ts": pa.array(ts),
        "user_id": pa.array(users),
        "event_type": pa.array(list(etype), pa.string()),
        "props": pa.array(props, pa.string()),
    }), os.path.join(out, "events.parquet"))

    # decisions for 40% of offsets; 5% of rows repeated, 5% contradicted
    dec_off = np.sort(rng.choice(n, size=int(n * 0.4), replace=False))
    acts = np.array(["merge", "purge", "skip"])
    dec_act = rng.choice(acts, size=len(dec_off))
    dup = rng.random(len(dec_off)) < 0.05
    con = rng.random(len(dec_off)) < 0.05
    con_act = np.array([acts[(list(acts).index(a) + 1 + rng.integers(0, 2)) % 3]
                        for a in dec_act[con]])
    d_off = np.concatenate([dec_off, dec_off[dup], dec_off[con]])
    d_act = np.concatenate([dec_act, dec_act[dup], con_act])
    perm = rng.permutation(len(d_off))
    d_off, d_act = d_off[perm], d_act[perm]
    _write(pa.table({
        "topic": pa.array(["events"] * len(d_off), pa.string()),
        "partition": pa.array((users[d_off] % 8).astype(np.int32)),
        "offset": pa.array(d_off.astype(np.int64)),
        "action": pa.array(list(d_act), pa.string()),
    }), os.path.join(out, "decisions.parquet"))

    resolved = [None] * n
    for o, a in zip(d_off.tolist(), d_act.tolist()):
        if resolved[o] is None or a < resolved[o]:
            resolved[o] = a
    kind = np.where(bad_key & tomb, "bad_key_tombstone",
                    np.where(bad_key, "bad_key",
                             np.where(tomb, "tombstone",
                                      np.where(bad_value, "bad_value", "ok"))))
    _write(pa.table({
        "offset": pa.array(offsets),
        "kind": pa.array(list(kind), pa.string()),
        "action": pa.array(resolved, pa.string()),
    }), os.path.join(out, "labels.parquet"))
    return {"n": n}


# ---- corpus_clean ----------------------------------------------------------

def quality(text):
    """graft's fixed-weight text quality, recomputed from its definition
    (ASCII texts): 0.3·unique/words + 0.3·stopwords/words + 0.4·letters/chars.
    """
    words = [w for w in text.strip(" ").lower().split(" ") if w != ""] or [""]
    n_words = len(words)
    uniq = len(set(words)) / n_words
    stop = sum(w in STOPWORDS for w in words) / n_words
    alpha = sum("a" <= c <= "z" for c in text.lower()) / len(text)
    return 0.3 * uniq + 0.3 * stop + 0.4 * alpha


def gen_corpus(rng, n, out):
    """Documents of widely spread length with planted exact copies,
    whitespace-variant copies (same shingle set, different text), edited
    copies around the Jaccard threshold, and low-quality junk.
    """
    letters = np.array(list(string.ascii_lowercase))
    vocab = set()
    while len(vocab) < 4000:
        ln = int(rng.integers(2, 10))
        w = "".join(rng.choice(letters, size=ln))
        if w not in STOPWORDS:
            vocab.add(w)
    vocab = np.array(sorted(vocab))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()

    def good_doc():
        while True:
            nw = int(np.exp(rng.uniform(np.log(3), np.log(400))))
            stop = rng.random(nw) < 0.45
            words = np.where(stop, rng.choice(STOPWORDS, size=nw),
                             vocab[rng.choice(len(vocab), size=nw, p=zipf)])
            text = " ".join(words)
            if quality(text) >= 0.53:
                return text

    def junk_doc():
        while True:
            nw = int(rng.integers(3, 120))
            toks = [str(int(t)) if rng.random() < 0.7 else "#!?"[int(t) % 3] * 3
                    for t in rng.integers(0, 50, size=nw)]
            text = " ".join(toks)
            if quality(text) <= 0.43:
                return text

    texts, kinds, origin = [], [], []
    base = []
    for _ in range(n):
        r = rng.random()
        if base and r < 0.04:
            o = base[int(rng.integers(0, len(base)))]
            texts.append(texts[o]); kinds.append("exact"); origin.append(o)
        elif base and r < 0.07:
            o = base[int(rng.integers(0, len(base)))]
            ws = texts[o].split(" ")
            if len(ws) < 3:
                texts.append(texts[o]); kinds.append("exact"); origin.append(o)
                continue
            j = int(rng.integers(1, len(ws)))
            texts.append(" ".join(ws[:j]) + "  " + " ".join(ws[j:]))
            kinds.append("spaced"); origin.append(o)
        elif base and r < 0.12:
            o = base[int(rng.integers(0, len(base)))]
            ws = texts[o].split(" ")
            frac = rng.uniform(0.02, 0.45)
            edit = rng.random(len(ws)) < frac
            ws = [vocab[int(rng.integers(0, len(vocab)))] if e else w
                  for w, e in zip(ws, edit)]
            t = " ".join(ws)
            if quality(t) < 0.53 or t == texts[o]:
                t = good_doc()
                kinds.append("good"); origin.append(-1); base.append(len(texts))
            else:
                kinds.append("edited"); origin.append(o)
            texts.append(t)
        elif r < 0.20:
            texts.append(junk_doc()); kinds.append("junk"); origin.append(-1)
        else:
            base.append(len(texts))
            texts.append(good_doc()); kinds.append("good"); origin.append(-1)
    ids = rng.permutation(n).astype(np.int64)
    _write(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
    }), os.path.join(out, "documents.parquet"))
    _write(pa.table({
        "doc_id": pa.array(ids),
        "kind": pa.array(kinds, pa.string()),
        "origin_id": pa.array([int(ids[o]) if o >= 0 else -1 for o in origin],
                              pa.int64()),
    }), os.path.join(out, "labels.parquet"))
    return {"n": n}


# ---- ann_serve / knn_graph -------------------------------------------------

def _clustered(rng, n, dim, clusters, spread):
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    which = rng.integers(0, clusters, size=n)
    x = centers[which] + spread * rng.normal(size=(n, dim)) / np.sqrt(dim)
    return x.astype(np.float32)


def _write_vectors(x, out):
    flat = pa.array(x.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(pa.list_(pa.float32()))
    _write(pa.table({
        "vec_id": pa.array(np.arange(len(x), dtype=np.int64)),
        "embedding": emb,
    }), os.path.join(out, "embeddings.parquet"))


def gen_ann(rng, n, qbatch, nbatches, out):
    """A clustered corpus; the first qbatch·nbatches ids are the query
    batches, drawn from the same clusters.
    """
    _write_vectors(_clustered(rng, n, 64, 256, 0.6), out)
    return {"qbatch": qbatch, "nbatches": nbatches}


def gen_knn(rng, n, out):
    """A clustered corpus with planted near-duplicate pairs, so SemDeDup's
    cos ≥ τ components are a mix of singletons and groups.
    """
    x = _clustered(rng, n, 64, max(8, n // 100), 1.2)
    dup = rng.choice(n, size=n // 20, replace=False)
    src = rng.choice(n, size=len(dup))
    x[dup] = x[src] + 0.05 * rng.normal(size=(len(dup), 64)).astype(np.float32) / 8.0
    _write_vectors(x, out)
    return {"n": n}


def generate(workload, seed, mode, out):
    """Writes the inputs for (workload, seed, mode) into `out` unless they
    are already there; returns the parameters the JVM needs.
    """
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    size = SIZES[workload][mode]
    rng = _rng(workload, seed)
    if workload == "topic_drain":
        meta = gen_topic(rng, size["n"], out)
    elif workload == "corpus_clean":
        meta = gen_corpus(rng, size["n"], out)
    elif workload == "ann_serve":
        meta = gen_ann(rng, size["n"], size["qbatch"], size["nbatches"], out)
    else:
        meta = gen_knn(rng, size["n"], out)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return meta
