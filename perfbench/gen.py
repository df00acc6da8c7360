"""Seeded input generator for the Zipf web-page benchmark.

Run as a separate process so the engine under test receives only the
generated files, and the benchmark process's peak RSS measures the engine,
not the generator:

    python3 perfbench/gen.py --workload serve_zipf --seed 7 --out DIR

Writes into DIR:

* ``documents.parquet`` — the serving / bulk corpus in the testdata
  ``documents`` schema ``(doc_id, text, lang, source, n_chars)``; the
  engine derives ``url / warc_ts / html`` itself (``corpus.as_corpus``).
  No timestamp column is written.
* ``tokens.npz`` — the generator's own token ids per document (CSR), the
  input of the index-free oracle in ``oracle.py``.
* ``queries.json`` — the closed-loop query log (``serve_zipf``), and
  ``warmup.json``, the filtered requests sent before it to warm the JIT.
* ``batches/bNN.parquet`` (+ ``.npz`` token ids) and ``ingest.json`` —
  the micro-batch and edit stream with its msearch queries (``ingest_live``).
* ``vocab.json`` — the vocabulary, in Zipf rank order.
* ``meta.json`` — parameters and the shares the workloads depend on.

Every random draw comes from ``numpy.random.default_rng`` streams spawned
from the seed, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def load_params() -> dict:
    with open(os.path.join(HERE, "params.json")) as f:
        return json.load(f)


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """`size` distinct lowercase pseudo-words; list order is Zipf rank."""
    out: dict[str, None] = {}
    while len(out) < size:
        n = int((size - len(out)) * 1.3) + 16
        lens = np.clip(rng.poisson(5.0, n) + 2, 2, 14)
        letters = rng.integers(97, 123, size=(n, 14), dtype=np.uint8)
        for row, ln in zip(letters, lens):
            out.setdefault(row[:ln].tobytes().decode("ascii"), None)
            if len(out) == size:
                break
    return list(out)


class Zipf:
    """Rank sampler with p(r) proportional to 1 / r**s over `size` ranks."""

    def __init__(self, size: int, s: float):
        w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w / w.sum())

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        r = np.searchsorted(self.cdf, rng.random(n), side="right")
        return np.minimum(r, self.cdf.size - 1).astype(np.int32)


def doc_lengths(rng: np.random.Generator, p: dict, n: int) -> np.ndarray:
    """Log-normal page lengths, rescaled so that their sum is the
    distribution's mean times n: a small batch then holds the same token
    count (and compaction work) for every seed."""
    d = p["doc_len"]
    raw = rng.lognormal(np.log(d["median_tokens"]), d["sigma"], n)
    mean = d["median_tokens"] * np.exp(d["sigma"] ** 2 / 2)
    raw *= mean * n / raw.sum()
    return np.clip(raw.astype(np.int64), d["min_tokens"], d["max_tokens"])


def render(vocab_sp: np.ndarray, ids: np.ndarray, offs: np.ndarray) -> list[str]:
    """Token ids -> page text: capitalized first word, trailing period
    (the engine's tokenizer lowercases and splits on non-alphanumerics, so
    the token sequence is exactly `ids`)."""
    words = vocab_sp[ids]
    out = []
    for s, e in zip(offs[:-1], offs[1:]):
        t = "".join(words[s:e])
        out.append(t[:1].upper() + t[1:-1] + ".")
    return out


def docs_table(p: dict, rng, vocab_sp, ids, offs, doc_ids) -> pa.Table:
    texts = render(vocab_sp, ids, offs)
    langs = list(p["langs"])
    lang = rng.choice(len(langs), size=len(texts), p=list(p["langs"].values()))
    src = p["sources"]
    source = rng.integers(0, len(src), size=len(texts))
    return pa.table(
        {
            "doc_id": pa.array(np.asarray(doc_ids, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([langs[i] for i in lang], pa.string()),
            "source": pa.array([src[i] for i in source], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    # fixed writer settings: same table -> same bytes
    pq.write_table(table, path, compression="zstd", write_statistics=True)


def sample_corpus(p, rng, zipf, n_docs):
    lens = doc_lengths(rng, p, n_docs)
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    ids = zipf.sample(rng, int(offs[-1]))
    return ids, offs


def query_terms(p, rng, zipf, n):
    """n queries of 1-4 distinct term ids, each term a Zipf draw."""
    q = p["queries"]
    sizes = rng.choice(
        len(q["terms_per_query"]), size=n, p=q["terms_per_query"]
    ) + 1
    out = []
    for k in sizes:
        t = set()
        while len(t) < k:
            t.update(int(x) for x in zipf.sample(rng, k - len(t)))
        out.append(sorted(t))
    return out


def request_kinds(q: dict, rng: np.random.Generator, n: int) -> list[str]:
    """Request kinds in blocks of `block` requests holding exactly
    `filtered` lang-filtered and `page2` next-page requests each, at random
    places; a next-page request always follows a plain one."""
    block = q["block"]
    out: list[str] = []
    while len(out) < n:
        kinds = ["plain"] * block
        slots = list(range(1, block))
        for _ in range(q["page2"]):
            s = int(rng.choice(slots))
            kinds[s] = "page2"
            slots = [x for x in slots if abs(x - s) > 1]
        free = [i for i, k in enumerate(kinds)
                if k == "plain" and (i + 1 >= block or kinds[i + 1] != "page2")]
        for s in rng.choice(free, size=q["filtered"], replace=False):
            kinds[int(s)] = "filtered"
        out.extend(kinds)
    return out[:n]


def gen_queries(p, rng, zipf, vocab) -> tuple[list[dict], dict]:
    """Closed-loop query log: plain, `lang`-filtered and next-page requests.
    A next-page request repeats the previous plain request's terms and
    pages past its last hit (the client fills the cursor at run time)."""
    q = p["queries"]
    n = q["log_length"]
    kinds = request_kinds(q, rng, n)
    terms = query_terms(p, rng, zipf, n)
    # filter languages follow the mix as a golden-ratio sequence from a
    # seeded start, so every prefix of the log holds the mix's shares
    langs = list(p["langs"])
    cdf = np.cumsum(list(p["langs"].values()))
    u = (rng.random() + np.arange(n) * 0.6180339887498949) % 1.0
    flang = np.minimum(np.searchsorted(cdf, u * cdf[-1], side="right"), len(langs) - 1)
    log, seen = [], set()
    first_touch = sent = cold_queries = n_filtered = 0
    for i in range(n):
        kind = kinds[i]
        ts = log[-1]["terms"] if kind == "page2" else [vocab[t] for t in terms[i]]
        req = {"kind": kind, "terms": ts}
        if kind == "filtered":
            req["lang"] = langs[flang[n_filtered]]
            n_filtered += 1
        log.append(req)
        new = [t for t in ts if t not in seen]
        sent += len(ts)
        first_touch += len(new)
        cold_queries += bool(new)
        seen.update(new)
    shares = {
        "first_touch_terms": first_touch / sent,
        "first_touch_queries": cold_queries / n,
        "filtered_queries": sum(r["kind"] == "filtered" for r in log) / n,
        "paged_queries": sum(r["kind"] == "page2" for r in log) / n,
    }
    return log, shares


def gen_warmup(p, rng, zipf, vocab) -> list[dict]:
    """`lang`-filtered requests for the JIT warm-up before the timed loop
    (sent to a handle of their own, so the timed handle's caches stay
    cold); languages cycle through the mix."""
    n = p["queries"]["warmup_filtered"]
    langs = list(p["langs"])
    return [
        {"kind": "filtered", "terms": [vocab[t] for t in ts],
         "lang": langs[i % len(langs)]}
        for i, ts in enumerate(query_terms(p, rng, zipf, n))
    ]


def gen_ingest(p, rng, zipf, vocab, vocab_sp, out) -> tuple[dict, dict]:
    """`batches` micro-batches; batch 1 is all new pages, later batches
    carry `edit_share` edits (same doc_id -> same url, partly rewritten
    text) of pages ingested earlier, and a `msearch_queries`-query msearch
    to send after them."""
    ing = p["ingest"]
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    n_parts = p["n_doc_parts"]
    live: dict[int, np.ndarray] = {}
    present: list[tuple[int, np.ndarray]] = []  # every doc version
    batches, n_edits, n_docs, next_id = [], 0, 0, 0
    for b in range(ing["batches"]):
        bsz = ing["batch_docs"]
        n_edit = 0 if b == 0 else int(round(bsz * ing["edit_share"]))
        n_new = bsz - n_edit
        ids, offs = sample_corpus(p, rng, zipf, n_new)
        doc_ids = list(range(next_id, next_id + n_new))
        next_id += n_new
        toks = [ids[s:e] for s, e in zip(offs[:-1], offs[1:])]
        if n_edit:
            targets = rng.choice(sorted(live), size=n_edit, replace=False)
            for d in targets:
                old = live[int(d)]
                new = old.copy()
                m = rng.random(new.size) < ing["edit_rewrite_share"]
                m[rng.integers(0, new.size)] = True  # never a no-op edit
                new[m] = zipf.sample(rng, int(m.sum()))
                same = new == old
                new[same & m] = (old[same & m] + 1) % zipf.cdf.size
                toks.append(new)
                doc_ids.append(int(d))
        lens = np.array([t.size for t in toks], dtype=np.int64)
        boffs = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(lens, out=boffs[1:])
        flat = np.concatenate(toks)
        name = f"b{b:02d}.parquet"
        write_table(
            docs_table(p, rng, vocab_sp, flat, boffs, doc_ids),
            os.path.join(out, "batches", name),
        )
        np.savez(
            os.path.join(out, "batches", name.replace(".parquet", ".npz")),
            ids=flat, offs=boffs, doc_ids=np.asarray(doc_ids, np.int64),
        )
        for d, t in zip(doc_ids, toks):
            live[d] = t
            present.append((d, t))
        n_edits += n_edit
        n_docs += len(doc_ids)
        batches.append(
            {
                "file": name,
                "n_docs": len(doc_ids),
                "n_edits": n_edit,
                # no msearch after the first batch: the run's start-up
                "msearch": [
                    [vocab[t] for t in ts]
                    for ts in query_terms(p, rng, zipf, ing["msearch_queries"])
                ] if b else [],
            }
        )
    # (term, salt) groups the closing compaction merges: every physically
    # present doc version of the segments (edited generations keep
    # salt = doc_id mod P, since the engine's generation stride is a
    # multiple of P)
    keys = np.concatenate(
        [t.astype(np.int64) * n_parts + (d % n_parts) for d, t in present]
    )
    groups = int(np.unique(keys).size)
    shares = {"edited_docs": n_edits / n_docs, "compaction_groups": groups}
    return {"batches": batches, "compaction_groups": groups}, shares


def generate(workload: str, seed: int, out: str, scale: float = 1.0) -> dict:
    p = load_params()["generator"]
    if scale != 1.0:
        p["serve_docs"] = max(50, int(p["serve_docs"] * scale))
        p["queries"]["log_length"] = max(40, int(p["queries"]["log_length"] * scale))
        p["queries"]["warmup_filtered"] = max(4, int(p["queries"]["warmup_filtered"] * scale))
        p["ingest"]["batch_docs"] = max(12, int(p["ingest"]["batch_docs"] * scale))
    os.makedirs(out, exist_ok=True)
    ss = np.random.SeedSequence([seed, 0x5EED])
    r_vocab, r_docs, r_query, r_ingest, r_warm = (
        np.random.default_rng(s) for s in ss.spawn(5)
    )
    vocab = make_vocab(r_vocab, p["vocab_size"])
    vocab_sp = np.array([w + " " for w in vocab], dtype=object)
    zipf = Zipf(p["vocab_size"], p["zipf_s"])
    meta = {"workload": workload, "seed": seed, "scale": scale, "params": p}
    shares: dict = {}
    if workload == "serve_zipf":
        n = p["serve_docs"]
        ids, offs = sample_corpus(p, r_docs, zipf, n)
        table = docs_table(p, r_docs, vocab_sp, ids, offs, np.arange(n))
        write_table(table, os.path.join(out, "documents.parquet"))
        np.savez(os.path.join(out, "tokens.npz"), ids=ids, offs=offs)
        meta["n_docs"] = n
        meta["n_tokens"] = int(offs[-1])
        meta["text_bytes"] = int(sum(len(t.encode()) for t in table["text"].to_pylist()))
        log, qs = gen_queries(p, r_query, zipf, vocab)
        with open(os.path.join(out, "queries.json"), "w") as f:
            json.dump(log, f)
        with open(os.path.join(out, "warmup.json"), "w") as f:
            json.dump(gen_warmup(p, r_warm, zipf, vocab), f)
        shares.update(qs)
    if workload == "ingest_live":
        plan, ishares = gen_ingest(p, r_ingest, zipf, vocab, vocab_sp, out)
        with open(os.path.join(out, "ingest.json"), "w") as f:
            json.dump(plan, f)
        shares.update(ishares)
    with open(os.path.join(out, "vocab.json"), "w") as f:
        json.dump(vocab, f)
    meta["shares"] = shares
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_zipf", "ingest_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink every size by this factor (smoke tests)")
    a = ap.parse_args(argv)
    meta = generate(a.workload, a.seed, a.out, a.scale)
    print(json.dumps(meta["shares"], sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
