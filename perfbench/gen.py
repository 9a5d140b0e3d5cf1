"""Seeded input generator for the benchmark.

Every input the library sees is made here from `--seed` alone: the same
seed gives byte-identical files, a different seed gives different ones.
Files are JSON lines (one object per line) so the JVM side reads them with
an explicit schema and no inference.

Text is drawn from a fixed synthetic vocabulary (seed-independent) with a
Zipf-like skew, so documents share common words the way natural text does.
Near-duplicates are planted by substituting a few tokens of an earlier
document in place: word 3-shingle Jaccard stays above 0.7 and the
token-aligned chunks stay aligned, so every dedup family can find them.
"""
import json
import os
import random

VOCAB_SIZE = 4000
ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
          "br", "st", "tr", "pl", "gr", "sk"]
VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]


def vocabulary():
    """4000 distinct pronounceable words, 2 to 7 letters, fixed across seeds."""
    rng = random.Random(7919)
    words, seen = [], set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(ONSETS) + rng.choice(VOWELS)
                    for _ in range(rng.choice((1, 1, 2, 2, 3))))
        if w not in seen and len(w) <= 7:
            seen.add(w)
            words.append(w)
    return words


def zipf_cdf(n, s):
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        out.append(acc)
    return [x / acc for x in out]


class Text:
    def __init__(self, rng):
        self.rng = rng
        self.vocab = vocabulary()
        self.doc_cdf = zipf_cdf(len(self.vocab), 0.8)
        # queries favour a hot head of the vocabulary so a batch shares tokens
        self.query_cdf = zipf_cdf(300, 1.0)

    def _draw(self, cdf):
        import bisect
        return bisect.bisect_left(cdf, self.rng.random())

    def doc(self, n_min, n_max):
        n = self.rng.randint(n_min, n_max)
        return [self.vocab[self._draw(self.doc_cdf)] for _ in range(n)]

    def query(self):
        n = self.rng.randint(2, 5)
        toks = []
        while len(toks) < n:
            t = self.vocab[self._draw(self.query_cdf)]
            if t not in toks:
                toks.append(t)
        return " ".join(toks)

    def near_dup(self, toks, subs):
        out = list(toks)
        for pos in self.rng.sample(range(len(out)), subs):
            out[pos] = self.vocab[self._draw(self.doc_cdf)]
        return out


def write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":"), sort_keys=True))
            f.write("\n")


def corpus_with_dups(tx, first_id, n_docs, dup_share, n_min, n_max, subs):
    """n_docs documents; `dup_share` of them are near-copies of an earlier
    one. Returns (rows, planted pairs as (source id, copy id))."""
    rows, pairs, toks_by_id = [], [], {}
    for i in range(n_docs):
        did = first_id + i
        if toks_by_id and tx.rng.random() < dup_share:
            src = tx.rng.choice(sorted(toks_by_id)[-400:])
            toks = tx.near_dup(toks_by_id[src], subs)
            pairs.append([src, did])
        else:
            toks = tx.doc(n_min, n_max)
        toks_by_id[did] = toks
        text = " ".join(toks)
        rows.append({"doc_id": did, "text": text, "n_chars": len(text)})
    return rows, pairs


# Sizes per workload. "smoke" is the tiny variant the tests run.
SIZES = {
    "search": {"docs": 1500, "queries": 4096, "batch": 16},
    "corpus_build": {"shard_docs": 4200, "shards": 4, "eval_docs": 200,
                     "warmup_docs": 100},
    "stream_dedup": {"seed_docs": 400, "batches": 60, "batch_docs": 50,
                     "batch_dups": 10},
}
SMOKE = {
    "search": {"docs": 300, "queries": 64, "batch": 16},
    "corpus_build": {"shard_docs": 200, "shards": 2, "eval_docs": 20,
                     "warmup_docs": 50},
    "stream_dedup": {"seed_docs": 100, "batches": 4, "batch_docs": 20,
                     "batch_dups": 5},
}


def gen_search(out, seed, sz):
    tx = Text(random.Random(seed * 1000003 + 1))
    docs, _ = corpus_with_dups(tx, 0, sz["docs"], 0.0, 20, 40, 0)
    write_jsonl(os.path.join(out, "docs.jsonl"), docs)
    write_jsonl(os.path.join(out, "queries.jsonl"),
                [{"query_id": q, "text": tx.query()} for q in range(sz["queries"])])
    return {"docs": sz["docs"], "queries": sz["queries"], "batch": sz["batch"]}


def gen_corpus_build(out, seed, sz):
    """Shards 0..n-1 are timed; shard n is the smaller warm-up shard."""
    tx = Text(random.Random(seed * 1000003 + 2))
    pairs_all = []
    for s in range(sz["shards"] + 1):
        n_docs = sz["shard_docs"] if s < sz["shards"] else sz["warmup_docs"]
        rows, pairs = corpus_with_dups(tx, s * 1000000, n_docs, 0.05, 40, 50, 1)
        write_jsonl(os.path.join(out, "shard-%02d.jsonl" % s), rows)
        pairs_all += pairs
        # held-out eval set: fresh docs plus near-copies of shard docs, the
        # contamination decontaminate must flag
        ev, contaminated = [], []
        for j in range(sz["eval_docs"]):
            eid = 900000000 + s * 100000 + j
            if j % 4 == 0:
                src = rows[tx.rng.randrange(len(rows))]
                toks = tx.near_dup(src["text"].split(), 1)
                contaminated.append([src["doc_id"], eid])
            else:
                toks = tx.doc(40, 50)
            ev.append({"doc_id": eid, "text": " ".join(toks)})
        write_jsonl(os.path.join(out, "eval-%02d.jsonl" % s), ev)
        write_jsonl(os.path.join(out, "contaminated-%02d.jsonl" % s),
                    [{"train_id": a, "bench_id": b} for a, b in contaminated])
    write_jsonl(os.path.join(out, "planted.jsonl"),
                [{"id_a": a, "id_b": b} for a, b in pairs_all])
    return {"shard_docs": sz["shard_docs"], "shards": sz["shards"],
            "eval_docs": sz["eval_docs"], "warmup_docs": sz["warmup_docs"],
            "planted_pairs": len(pairs_all)}


def gen_stream_dedup(out, seed, sz):
    tx = Text(random.Random(seed * 1000003 + 3))
    # the seed batch carries planted pairs too, so duplicate recall rests on
    # more pairs than the few timed batches plant
    seed_rows, planted = corpus_with_dups(tx, 0, sz["seed_docs"], 0.05, 40, 60, 1)
    write_jsonl(os.path.join(out, "seed.jsonl"), seed_rows)
    toks_by_id = {r["doc_id"]: r["text"].split() for r in seed_rows}
    next_id = sz["seed_docs"]
    for b in range(sz["batches"]):
        rows = []
        n_new = sz["batch_docs"] - sz["batch_dups"]
        for _ in range(n_new):
            toks = tx.doc(40, 60)
            toks_by_id[next_id] = toks
            rows.append({"doc_id": next_id, "text": " ".join(toks)})
            next_id += 1
        for _ in range(sz["batch_dups"]):
            src = tx.rng.randrange(next_id - n_new)  # an earlier doc
            toks = tx.near_dup(toks_by_id[src], 1)
            toks_by_id[next_id] = toks
            rows.append({"doc_id": next_id, "text": " ".join(toks)})
            planted.append([src, next_id])
            next_id += 1
        write_jsonl(os.path.join(out, "batch-%03d.jsonl" % b), rows)
    write_jsonl(os.path.join(out, "planted.jsonl"),
                [{"id_a": a, "id_b": b} for a, b in planted])
    return {"seed_docs": sz["seed_docs"], "batches": sz["batches"],
            "batch_docs": sz["batch_docs"], "planted_pairs": len(planted)}


GENERATORS = {"search": gen_search, "corpus_build": gen_corpus_build,
              "stream_dedup": gen_stream_dedup}


def generate(workload, seed, out, smoke=False):
    """Write the workload's inputs under `out`; return the input sizes."""
    sz = (SMOKE if smoke else SIZES)[workload]
    sizes = GENERATORS[workload](out, seed, sz)
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f, sort_keys=True)
    return sizes
