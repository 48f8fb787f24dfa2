#!/usr/bin/env python3
"""Self-test of the perfbench output checks.

    python3 perfbench/selftest.py

Run from the repository root. It needs the smoke outputs, and runs
`run.py --smoke` first when they are missing. For every workload it
checks that the untouched outputs pass, then feeds the checker one
deliberately corrupted copy at a time and requires each to fail. Exits
non-zero, naming the corruption, if a corrupted copy passes.
"""
import copy
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

RUNS = os.path.join(HERE, "work", "runs")
CORRUPTED = os.path.join(HERE, "work", "selftest")


def rows(out, sink):
    t = pq.read_table(os.path.join(out, sink))
    return t.schema, t.to_pylist()


def put(out, sink, schema, rs):
    d = os.path.join(out, sink)
    shutil.rmtree(d)
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(rs, schema=schema), os.path.join(d, "part-0.parquet"))


def edit(sink, fn):
    """A corruption that rewrites one sink through `fn(rows) -> rows`."""
    def apply(out, res):
        schema, rs = rows(out, sink)
        put(out, sink, schema, fn(rs))
    return apply


def first(rs, pred):
    return next(i for i, r in enumerate(rs) if pred(r))


def set_field(rs, i, **kv):
    rs = list(rs)
    rs[i] = {**rs[i], **kv}
    return rs


def topic_cases(inp):
    def flip_byte(rs):
        i = first(rs, lambda r: r["kind"] == "merge")
        v = rs[i]["value"]
        return set_field(rs, i, value=v[:-1] + chr(ord(v[-1]) ^ 1))

    def bad_count(out, res):
        res["timed"][0]["sinks"]["produced"] += 1

    return {
        "dropped produced record": edit("produced", lambda rs: rs[1:]),
        "duplicated produced record": edit("produced", lambda rs: rs + rs[:1]),
        "flipped byte in a merged value": edit("produced", flip_byte),
        "tombstone moved to another partition": edit("produced", lambda rs: set_field(
            rs, first(rs, lambda r: r["kind"] == "purge"),
            partition=(rs[first(rs, lambda r: r["kind"] == "purge")]["partition"] + 1) % 8)),
        "undecodable record missing from the dlq": edit("dlq", lambda rs: rs[1:]),
        "compacted key with a stale value": edit("compacted", lambda rs: set_field(
            rs, 0, value=(rs[0]["value"] or "") + " ")),
        "deleted key still compacted": edit("compacted", lambda rs: rs + [
            {**rs[0], "key": "424242424242"}]),
        "committed offset off by one": edit("offsets", lambda rs: set_field(
            rs, 0, committed_offset=rs[0]["committed_offset"] - 1)),
        "an op wrote one record too many": bad_count,
    }


def corpus_cases(inp):
    lab = pq.read_table(os.path.join(inp, "labels.parquet")).to_pydict()
    docs = pq.read_table(os.path.join(inp, "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    copies = [d for d, k, o in zip(lab["doc_id"], lab["kind"], lab["origin_id"])
              if k == "exact" and o < d]

    def add_copy(rs):
        d = copies[0]
        return rs + [{"doc_id": d, "quality": checks.quality(text[d])}]

    return {
        "surviving planted exact copy": edit("clean", add_copy),
        "survivor listed twice": edit("clean", lambda rs: rs + rs[:1]),
        "unjustified removal of the lowest id": edit(
            "clean", lambda rs: [r for r in rs if r["doc_id"] != min(x["doc_id"] for x in rs)]),
        "wrong quality score": edit("clean", lambda rs: set_field(
            rs, 0, quality=rs[0]["quality"] + 1e-6)),
    }


def ann_cases(inp):
    def corrupt(fn):
        def apply(out, res):
            sink = "topk/batch=0"
            schema, rs = rows(out, sink)
            put(out, sink, schema, fn(rs))
        return apply

    def wrong_neighbour(rs):
        top = [r for r in rs if r["rnk"] == 1][0]
        used = {r["corpus_id"] for r in rs if r["query_id"] == top["query_id"]}
        other = next(c for c in range(100, 10_000) if c not in used)
        return [({**r, "corpus_id": other} if r is top else r) for r in rs]

    def swap_ranks(rs):
        q = rs[0]["query_id"]
        return [({**r, "rnk": 3 - r["rnk"]} if r["query_id"] == q and r["rnk"] in (1, 2)
                 else r) for r in rs]

    return {
        "wrong neighbour": corrupt(wrong_neighbour),
        "wrong score": corrupt(lambda rs: set_field(rs, 0, cos=rs[0]["cos"] + 1e-4)),
        "ranks out of score order": corrupt(swap_ranks),
        "a query lost a row": corrupt(lambda rs: rs[1:]),
    }


def knn_cases(inp, out, warehouse):
    files = [os.path.join(warehouse, "perfbench_knn", f)
             for f in os.listdir(os.path.join(warehouse, "perfbench_knn"))
             if f.endswith(".parquet")]
    e = pq.read_table(files).to_pydict()
    mis = set(pq.read_table(os.path.join(out, "mis")).column("vec_id").to_pylist())
    nb = next(d for s, d in zip(e["src"], e["dst"]) if s in mis)

    def card(**kv):
        return edit("card", lambda rs: [{**rs[0], **{k: rs[0][k] + v for k, v in kv.items()}}])

    return {
        "MIS with two adjacent nodes": edit("mis", lambda rs: rs + [{**rs[0], "vec_id": nb}]),
        "MIS not maximal": edit("mis", lambda rs: rs[1:]),
        "edge count off by one": card(n_edges=1),
        "max degree off by one": card(max_deg=1),
        "SemDeDup representative count off by one": card(sd_reps=1),
        "PageRank top id wrong": card(pr_top_id=1),
    }


def main():
    workloads = ["topic_drain", "corpus_clean", "ann_serve", "knn_graph"]
    if not all(os.path.exists(os.path.join(RUNS, f"{w}-smoke", "result.json"))
               for w in workloads):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"], check=True,
                       stdout=subprocess.DEVNULL)
    failures = 0
    for w in workloads:
        work = os.path.join(RUNS, f"{w}-smoke")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        inp = res["input"]
        out = os.path.join(work, "out")
        base = checks.check(w, inp, out, res, work)
        if base:
            print(f"{w}: the untouched outputs fail: {base[:3]}")
            failures += 1
            continue
        if w == "topic_drain":
            cases = topic_cases(inp)
        elif w == "corpus_clean":
            cases = corpus_cases(inp)
        elif w == "ann_serve":
            cases = ann_cases(inp)
        else:
            cases = knn_cases(inp, out, os.path.join(work, "warehouse"))
        for name, corrupt in cases.items():
            tmp = os.path.join(CORRUPTED, w)
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.copytree(out, tmp)
            r = copy.deepcopy(res)
            corrupt(tmp, r)
            errs = checks.check(w, inp, tmp, r, work)
            status = "caught" if errs else "MISSED"
            failures += not errs
            print(f"{w}: {name}: {status}" + (f" ({errs[0]})" if errs else ""))
    shutil.rmtree(CORRUPTED, ignore_errors=True)
    if failures:
        print(f"selftest: {failures} corruption(s) passed the checks")
        sys.exit(1)
    print("selftest: every corruption fails its check")


if __name__ == "__main__":
    main()
