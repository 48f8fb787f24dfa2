"""Output checks for the perfbench workloads.

Every check compares graft's written outputs with the generator's planted
labels, with recomputation in Python/numpy/DuckDB, or with a property the
method must have. Each `check_*` returns a list of failure messages; an
empty list means the outputs are correct.
"""
import glob
import hashlib
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import quality

TOPIC = "events"
DEST = "events_merged"
DLQ_KINDS = {"bad_value", "bad_key", "bad_key_tombstone"}


def read(path):
    return pq.read_table(path)


def _rowhash(parts):
    h = hashlib.blake2b(repr(parts).encode(), digest_size=8).digest()
    return int.from_bytes(h, "little")


def content_hash(rows):
    """Order-free hash of a multiset of row tuples."""
    return sum(_rowhash(r) for r in rows) % (2 ** 64)


def _sink_counts(result, expected):
    errs = []
    for k, s in enumerate(result["warm"] + result["timed"]):
        for sink, n in expected.items():
            got = s["sinks"].get(sink)
            if got is not None and got != n:
                errs.append(f"op {k}: sink {sink} received {got} records, expected {n}")
    return errs


# ---- topic_drain -----------------------------------------------------------

def expected_topic(inp):
    ev = read(os.path.join(inp, "events.parquet")).to_pydict()
    lab = read(os.path.join(inp, "labels.parquet")).to_pydict()
    n = len(ev["event_id"])
    recs = []
    for i in range(n):
        off = ev["event_id"][i]
        assert lab["offset"][i] == off
        uid = ev["user_id"][i]
        tomb = ev["event_type"][i] == "error"
        recs.append({
            "offset": off, "partition": uid % 8, "key": str(uid),
            "value": None if tomb else ev["props"][i], "etype": ev["event_type"][i],
            "kind": lab["kind"][i], "action": lab["action"][i]})
    produced = []
    for r in recs:
        if r["kind"] in DLQ_KINDS or r["kind"] == "tombstone":
            continue
        if r["action"] == "merge":
            produced.append((DEST, r["partition"], r["key"], r["value"], r["offset"], "merge",
                             (("src", r["etype"].encode()), ("seq", str(r["offset"]).encode()))))
        if r["action"] in ("merge", "purge"):
            produced.append((TOPIC, r["partition"], r["key"], None, r["offset"], "purge", ()))
    return recs, produced


def _headers(h):
    return tuple((x["k"], bytes(x["v"])) for x in (h or []))


def check_topic(inp, out, result):
    errs = []
    recs, produced = expected_topic(inp)
    n_dlq = sum(r["kind"] in DLQ_KINDS for r in recs)
    n_clean = len(recs) - n_dlq

    dlq = read(os.path.join(out, "dlq")).to_pydict()
    clean = read(os.path.join(out, "clean")).to_pydict()
    if len(dlq["offset"]) != n_dlq:
        errs.append(f"dlq has {len(dlq['offset'])} records, expected {n_dlq}")
    if len(clean["offset"]) != n_clean:
        errs.append(f"clean has {len(clean['offset'])} records, expected {n_clean}")
    want_dlq = {r["offset"] for r in recs if r["kind"] in DLQ_KINDS}
    if set(dlq["offset"]) != want_dlq or len(set(dlq["offset"])) != len(dlq["offset"]):
        errs.append("dlq offsets differ from the planted undecodable records")
    by_off = {r["offset"]: r for r in recs}
    for off, err in zip(dlq["offset"], dlq["error"]):
        r = by_off.get(off)
        want = "key_decode_failure" if r and r["kind"].startswith("bad_key") else "decode_failure"
        if err != want:
            errs.append(f"dlq record {off} carries error {err!r}, expected {want!r}")
            break

    got = read(os.path.join(out, "produced")).to_pydict()
    rows = [(got["topic"][i], got["partition"][i], got["key"][i], got["value"][i],
             got["src_offset"][i], got["kind"][i], _headers(got["headers"][i]))
            for i in range(len(got["kind"]))]
    if len(rows) != len(produced):
        errs.append(f"produced has {len(rows)} records, expected {len(produced)}")
    if content_hash(rows) != content_hash(produced):
        errs.append("produced records differ from the planted decisions (content hash)")
    for t, p, k, v, src, kind, _ in rows:
        r = by_off.get(src)
        if r is None:
            errs.append(f"produced record points at unknown offset {src}")
            break
        if kind == "merge" and v != r["value"]:
            errs.append(f"merged value of offset {src} is not byte-equal to the source")
            break
        if kind == "purge" and (v is not None or p != r["partition"] or t != TOPIC):
            errs.append(f"tombstone for offset {src} lost its null value or source partition")
            break

    # compaction of the post-drain log against a DuckDB latest-per-key query
    log = pa.table({
        "topic": [TOPIC] * len(recs) + [t for t, *_ in produced],
        "partition": [r["partition"] for r in recs] + [p for _, p, *_ in produced],
        "key": [r["key"] for r in recs] + [k for _, _, k, *_ in produced],
        "offset_": [r["offset"] for r in recs] + [x[4] + 10 ** 12 for x in produced],
        "value": pa.array([r["value"] for r in recs] + [x[3] for x in produced], pa.string()),
    })
    con = duckdb.connect()
    con.register("log", log)
    want = con.execute("""
        WITH last AS (SELECT topic, partition, key, max(offset_) AS o FROM log GROUP BY ALL)
        SELECT l.topic, l.partition, l.key, l.offset_, l.value FROM log l
        JOIN last USING (topic, partition, key) WHERE l.offset_ = last.o
          AND l.value IS NOT NULL""").fetchall()
    con.close()
    comp = read(os.path.join(out, "compacted")).to_pydict()
    got_c = list(zip(comp["topic"], comp["partition"], comp["key"], comp["offset"], comp["value"]))
    if len(got_c) != len(want) or content_hash(got_c) != content_hash(want):
        errs.append(f"compacted ({len(got_c)} keys) differs from DuckDB latest-per-key "
                    f"({len(want)} keys)")

    offs = read(os.path.join(out, "offsets")).to_pydict()
    want_o = {}
    for r in recs:
        m, c = want_o.get(r["partition"], (-1, 0))
        want_o[r["partition"]] = (max(m, r["offset"]), c + 1)
    got_o = {p: (o, c) for t, p, o, c in zip(offs["topic"], offs["partition"],
                                            offs["committed_offset"], offs["records"])}
    if got_o != want_o:
        errs.append("committed offsets differ from the per-partition max offset and count")

    errs += _sink_counts(result, {
        "routed": len(recs), "dlq": n_dlq, "clean": n_clean,
        "produced": len(produced), "compacted": len(want), "offsets": len(want_o)})
    return errs


# ---- corpus_clean ----------------------------------------------------------

def shingles(text):
    ws = [w for w in text.strip(" ").lower().split(" ") if w != ""]
    return {tuple(ws[i:i + 3]) for i in range(len(ws) - 2)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def check_corpus(inp, out, result, tau=0.5, min_quality=0.48):
    errs = []
    docs = read(os.path.join(inp, "documents.parquet")).to_pydict()
    lab = read(os.path.join(inp, "labels.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    kind = dict(zip(lab["doc_id"], lab["kind"]))
    origin = dict(zip(lab["doc_id"], lab["origin_id"]))
    q = {d: quality(t) for d, t in text.items()}
    # quality filter, then exact dedup keeping the min id per text
    keeper = {}
    for d in sorted(text):
        if q[d] >= min_quality and text[d] not in keeper:
            keeper[text[d]] = d
    survivors = set(keeper.values())

    got = read(os.path.join(out, "clean")).to_pydict()
    ids = got["doc_id"]
    if len(set(ids)) != len(ids):
        errs.append("a document survives twice")
    kept = set(ids)
    if len({text.get(d) for d in kept}) != len(kept):
        errs.append("two survivors share the same text")
    if not kept <= survivors:
        errs.append(f"{len(kept - survivors)} survivors failed the quality filter or are "
                    "exact copies of a lower id")
    for d, qq in zip(ids, got["quality"]):
        if d in q and abs(qq - q[d]) > 1e-12:
            errs.append(f"doc {d}: quality {qq} differs from the recomputed {q[d]}")
            break
    # planted copies whose shingle set equals a lower id's must go
    for d, k in kind.items():
        if k in ("exact", "spaced") and d in kept:
            o = origin[d]
            if k == "exact" and o < d:
                errs.append(f"planted exact copy {d} of {o} survives")
            elif k == "spaced" and len(shingles(text[d])) > 0 and o < d and o in survivors:
                errs.append(f"planted near copy {d} of {o} (Jaccard 1) survives")
    # every near-dup removal is justified by a lower-id survivor at J >= tau
    sh = {d: shingles(text[d]) for d in survivors}
    index = {}
    for d in survivors:
        for g in sh[d]:
            index.setdefault(g, []).append(d)
    for d in sorted(survivors - kept):
        sd = sh[d]
        if not sd:
            errs.append(f"doc {d} without shingles was removed as a near duplicate")
            break
        cands = {o for g in sd for o in index[g] if o < d}
        if not any(jaccard(sd, sh[o]) >= tau for o in cands):
            errs.append(f"doc {d} was removed but no lower-id survivor reaches Jaccard {tau}")
            break
    errs += _sink_counts(result, {"clean": len(kept)})
    return errs


# ---- ann_serve -------------------------------------------------------------

RECALL_FLOOR = 0.80


def _vectors(inp):
    t = read(os.path.join(inp, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    return ids, x


def check_ann(inp, out, result, k=10):
    errs = []
    meta_q, meta_b = result["qbatch"], result["nbatches"]
    ids, x = _vectors(inp)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    answered = sorted({int(k.split("=")[1]) for s in result["warm"] + result["timed"]
                       for k in s["sinks"] if k.startswith("topk/batch=")})
    hits = total = 0
    for b in answered:
        path = os.path.join(out, "topk", f"batch={b}")
        if not os.path.isdir(path):
            errs.append(f"query batch {b} was answered but wrote nothing")
            continue
        t = read(path).to_pydict()
        qs = list(range(b * meta_q, (b + 1) * meta_q))
        corpus = np.ones(len(ids), bool)
        corpus[qs] = False
        for qid in qs:
            rows = sorted((r, c, s) for q_, c, s, r in zip(t["query_id"], t["corpus_id"],
                                                          t["cos"], t["rnk"]) if q_ == qid)
            if len(rows) != k:
                errs.append(f"query {qid}: {len(rows)} rows, expected {k}")
                continue
            if [r for r, _, _ in rows] != list(range(1, k + 1)):
                errs.append(f"query {qid}: ranks are not 1..{k}")
            scores = [s for _, _, s in rows]
            if any(a < b_ for a, b_ in zip(scores, scores[1:])):
                errs.append(f"query {qid}: scores not in descending order")
            cands = [c for _, c, _ in rows]
            if not all(0 <= c < len(ids) and corpus[c] for c in cands):
                errs.append(f"query {qid}: a neighbour is a query vector or unknown")
                continue
            exact = xn[cands] @ xn[qid]
            if np.max(np.abs(exact - np.array(scores))) > 1e-9:
                errs.append(f"query {qid}: a score differs from the exact cosine")
            allc = xn @ xn[qid]
            allc[~corpus] = -np.inf
            truth = set(np.argsort(-allc, kind="stable")[:k].tolist())
            hits += len(truth & set(cands))
            total += k
    if total == 0:
        errs.append("no query batch answered")
        return errs
    print(f"perfbench: ann_serve: recall@{k} {hits / total:.4f} over {total // k} queries",
          file=sys.stderr)
    if hits / total < RECALL_FLOOR:
        errs.append(f"recall@{k} {hits / total:.3f} below the floor {RECALL_FLOOR}")
    errs += _sink_counts(result, {f"topk/batch={b}": meta_q * k for b in range(meta_b)})
    return errs


# ---- knn_graph -------------------------------------------------------------

def check_knn(inp, out, result, warehouse, tau=0.4):
    errs = []
    files = glob.glob(os.path.join(warehouse, "perfbench_knn", "*.parquet"))
    if not files:
        return ["the edge index table was not written"]
    con = duckdb.connect()
    edges_sql = "read_parquet(%r)" % files
    n_nodes, n_edges, max_deg = con.execute(f"""
        WITH d AS (SELECT src, count(*) AS deg FROM {edges_sql} GROUP BY src)
        SELECT count(*), sum(deg) // 2, max(deg) FROM d""").fetchone()
    edges = con.execute(f"SELECT src, dst, cos FROM {edges_sql}").fetchnumpy()
    con.close()

    card = read(os.path.join(out, "card")).to_pylist()
    if len(card) != 1:
        return [f"card has {len(card)} rows, expected 1"]
    c = card[0]
    for name, want in (("n_nodes", n_nodes), ("n_edges", n_edges), ("max_deg", max_deg)):
        if c[name] != want:
            errs.append(f"card {name} = {c[name]}, DuckDB over the edge index gives {want}")

    # MIS: independent and maximal on the indexed edges
    mis = set(read(os.path.join(out, "mis")).column("vec_id").to_pylist())
    src, dst = edges["src"], edges["dst"]
    both = np.isin(src, list(mis)) & np.isin(dst, list(mis))
    if both.any():
        errs.append(f"MIS selects adjacent nodes {src[both][0]} and {dst[both][0]}")
    covered = set(mis) | set(dst[np.isin(src, list(mis))].tolist())
    nodes = set(src.tolist()) | set(dst.tolist())
    if nodes - covered:
        errs.append(f"MIS is not maximal: {len(nodes - covered)} nodes have no selected "
                    "neighbour and are not selected")

    # SemDeDup: components over cos >= tau edges, by union-find
    ids = read(os.path.join(inp, "embeddings.parquet")).column("vec_id").to_numpy()
    parent = {int(i): int(i) for i in ids}
    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a
    for a, b_, cs in zip(src.tolist(), dst.tolist(), edges["cos"].tolist()):
        if cs >= tau:
            ra, rb = find(a), find(b_)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    n_comp = len({find(int(i)) for i in ids})
    if c["sd_reps"] != n_comp:
        errs.append(f"card sd_reps = {c['sd_reps']}, union-find counts {n_comp} components")
    if c["n_vectors"] != len(ids):
        errs.append(f"card n_vectors = {c['n_vectors']}, expected {len(ids)}")

    # the card equals the standalone consumers
    sd = read(os.path.join(out, "semdedup")).to_pydict()
    if sum(sd["keep"]) != c["sd_reps"]:
        errs.append("card sd_reps differs from semDeDupFromIndex")
    if len(mis) != c["mis_selected"]:
        errs.append("card mis_selected differs from diversityMisFromIndex")
    pr = read(os.path.join(out, "pagerank")).to_pydict()
    top = [v for v, r in zip(pr["vec_id"], pr["rnk"]) if r == 1]
    if top != [c["pr_top_id"]]:
        errs.append("card pr_top_id differs from pageRankFromIndex")
    errs += _sink_counts(result, {"card": 1})
    return errs


def check(workload, inp, out, result, work):
    """The checker of `workload` over the run directory `work`."""
    if workload == "topic_drain":
        return check_topic(inp, out, result)
    if workload == "corpus_clean":
        return check_corpus(inp, out, result)
    if workload == "ann_serve":
        return check_ann(inp, out, result)
    return check_knn(inp, out, result, os.path.join(work, "warehouse"))
