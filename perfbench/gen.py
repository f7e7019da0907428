"""Seeded generator of a `documents` table, with its answers computed here.

Writes <out>/documents.parquet/ (several part files), <out>/append/ (one more
part file, for the dashboard's append-then-refresh check) and
<out>/expected.json. The answers -- A1 issue distribution, A2/A3 tags-per-
record histogram, the A4 language list, per language and for "All", plus
the report sink's row and file counts -- are computed from the generated
rows with numpy and plain Python, never through the program under test.

The seed sets the language skew (nl/en/de/fr/it plus es/zh), the spread of
document lengths and the density of lexicon terms. Mean document length,
document count and the density range are fixed, and kept narrow, so that
every seed asks for about the same amount of work.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The program's lexicon (graft.parity.Lexicon.terms), in its order.
TERMS = ["slow", "big", "dup", "hash", "scan"]
FILLER = ["key", "agg", "row", "fast", "table", "value", "part", "the", "line",
          "sort", "window", "a", "merge", "batch", "spark", "order", "data",
          "column", "join", "small", "customer", "query", "group", "stream",
          "filter", "vector"]
LANGS = ["nl", "en", "de", "fr", "it", "es", "zh"]
SOURCES = 20
MEAN_TOKENS = 40
PARTS = 4


def make_docs(rng, n, lang_p, density, spread):
    lengths = np.maximum(1, np.rint(
        MEAN_TOKENS * (1 + spread * (rng.random(n) - 0.5)))).astype(np.int64)
    total = int(lengths.sum())
    is_term = rng.random(total) < density
    term_ix = rng.integers(0, len(TERMS), total)
    filler_ix = rng.integers(0, len(FILLER), total)
    # token code: 0..4 lexicon terms, 5.. filler words
    codes = np.where(is_term, term_ix, len(TERMS) + filler_ix)
    words = np.array(TERMS + FILLER, dtype=object)[codes].tolist()
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    texts = [" ".join(words[s:s + k]) for s, k in zip(starts.tolist(), lengths.tolist())]
    # per-document presence of each term: the annotator tags a term once
    present = np.stack([np.logical_or.reduceat(codes == t, starts) for t in range(len(TERMS))], 1)
    langs = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=lang_p)].tolist()
    sources = [f"src{i}" for i in rng.integers(0, SOURCES, n).tolist()]
    return {"doc_id": list(range(n)), "text": texts, "lang": langs, "source": sources,
            "n_chars": [len(t) for t in texts], "present": present}


def table(d, lo=0, hi=None):
    hi = len(d["doc_id"]) if hi is None else hi
    return pa.table({
        "doc_id": pa.array(d["doc_id"][lo:hi], pa.int64()),
        "text": pa.array(d["text"][lo:hi], pa.string()),
        "lang": pa.array(d["lang"][lo:hi], pa.string()),
        "source": pa.array(d["source"][lo:hi], pa.string()),
        "n_chars": pa.array(d["n_chars"][lo:hi], pa.int64()),
    })


def a1(present, mask):
    counts = present[mask].sum(0)
    rows = [(TERMS[t], int(c)) for t, c in enumerate(counts) if c > 0]
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def a2a3(texts, ntags, mask):
    per_record = {}
    for t, k, m in zip(texts, ntags, mask):
        if m:
            per_record[t] = max(k, per_record.get(t, 0))
    hist = {}
    for k in per_record.values():
        hist[k] = hist.get(k, 0) + 1
    return [(str(k), v) for k, v in sorted(hist.items())]


def answers(d):
    present, texts = d["present"], d["text"]
    ntags = present.sum(1).tolist()
    langs = np.array(d["lang"], dtype=object)
    keys = ["All"] + sorted(set(d["lang"]))
    masks = {k: (np.ones(len(texts), bool) if k == "All" else langs == k) for k in keys}
    flagged = {s for s, k in zip(d["source"], ntags) if k > 0}
    return {
        "sources": len(set(d["source"])),
        "flagged_sources": len(flagged),
        "total_tags": int(sum(ntags)),
        "languages": sorted(set(d["lang"])),
        "a1": {k: a1(present, m) for k, m in masks.items()},
        "a2a3": {k: a2a3(texts, ntags, m) for k, m in masks.items()},
    }


def generate(out, seed, n_docs, n_append):
    rng = np.random.default_rng(seed)
    skew = rng.uniform(0.5, 1.5)
    lang_p = np.exp(skew * rng.standard_normal(len(LANGS)))
    lang_p /= lang_p.sum()
    density = rng.uniform(0.095, 0.105)
    spread = rng.uniform(0.4, 0.6)
    base = make_docs(rng, n_docs + n_append, lang_p, density, spread)

    docs_dir = os.path.join(out, "documents.parquet")
    os.makedirs(docs_dir)
    os.makedirs(os.path.join(out, "append"))
    bounds = np.linspace(0, n_docs, PARTS + 1).astype(int)
    for i in range(PARTS):
        pq.write_table(table(base, bounds[i], bounds[i + 1]),
                       os.path.join(docs_dir, f"part-{i:05d}.parquet"), row_group_size=8192)
    pq.write_table(table(base, n_docs), os.path.join(out, "append", "part-append.parquet"))

    head = {k: v[:n_docs] for k, v in base.items()}
    expected = answers(head)
    expected["after_append"] = {"a1": a1(base["present"], np.ones(n_docs + n_append, bool))}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    out_dir, seed, docs, extra = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    generate(out_dir, seed, docs, extra)
