"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed, params): the same seed
writes the same rows. Schemas follow FIXTURES.md section B; the traffic
parameters (user skew, out-of-order share, crawl shares) live in
params.json next to this file.

Preconditions the program documents, honoured here by construction:
  - generated doc_id < 1,000,000: the program derives perturbed copies at
    doc_id + 1e6 (withCrawlCorpus, withPerturbedCopies) and carves queries
    from ids below 1e6 (Retrieval.retrievalEval);
  - out-of-order events are displaced by less than the stream watermark,
    so no event is late and every store can be checked exactly.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "fr", "es", "zh"]
BLOCKED = ["ads.example.net", "site7.example.org", "never.example.io"]
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DOC_ID_LIMIT = 1_000_000


def load_params():
    with open(os.path.join(os.path.dirname(__file__), "params.json")) as f:
        return json.load(f)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def _zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ---- events_stream -------------------------------------------------------

def customers(rng, users):
    ids = np.arange(users, dtype=np.int64)
    return pa.table({
        "c_custkey": ids,
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": rng.integers(0, 25, users).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, users), 2),
        "c_mktsegment": rng.choice(SEGMENTS, users),
    })


def event_files(rng, p, n_files):
    """n_files event batches. File i covers event time
    [i*span, (i+1)*span); an out-of-order share is displaced back by less
    than the watermark, and a redelivery share is re-sent verbatim (same
    event_id) inside the same file. props carries a per-event `seq` so two
    records share content only when one is a redelivery of the other."""
    per, span_us = p["events_per_file"], int(p["file_event_span_s"] * 1e6)
    users = p["users"]
    # Zipf over a seeded permutation: the hot users are not the low ids
    perm = rng.permutation(users)
    uw = _zipf_weights(users, p["user_zipf_s"])
    tw = np.array([p["event_type_mix"][t] for t in EVENT_TYPES], dtype=float)
    tw /= tw.sum()
    max_disp_us = int(p["out_of_order_max_s"] * 1e6)
    assert p["out_of_order_max_s"] < p["watermark_s"]
    files, next_id = [], 0
    for i in range(n_files):
        ids = np.arange(next_id, next_id + per, dtype=np.int64)
        next_id += per
        ts = T0_US + i * span_us + np.sort(rng.integers(0, span_us, per))
        late = rng.random(per) < p["out_of_order_share"]
        ts = ts - late * rng.integers(0, max_disp_us, per)
        user = perm[rng.choice(users, per, p=uw)].astype(np.int64)
        etype = rng.choice(EVENT_TYPES, per, p=tw)
        value = np.round(rng.uniform(0, 200, per), 2)
        k = rng.integers(0, 100, per)
        props = [f'{{"k": {a}, "seq": {b}}}' for a, b in zip(k, ids)]
        redo = np.nonzero(rng.random(per) < p["redelivery_share"])[0]
        order = np.concatenate([np.arange(per), redo])
        files.append(pa.table({
            "event_id": ids[order],
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
            "user_id": user[order],
            "event_type": etype[order],
            "value": value[order],
            "props": [props[j] for j in order],
        }))
    return files


def _manifest(stage, counts):
    """rows per staged file, so the benchmark never counts them with Spark"""
    with open(f"{stage}/rows.txt", "w") as f:
        f.writelines(f"{name} {n}\n" for name, n in counts)


def gen_events(out, seed, params, n_files):
    p = params["events_stream"]
    rng = np.random.default_rng([seed, 1])
    assert p["users"] <= p["customers"]  # every event joins a customer row
    _write(customers(rng, p["customers"]), f"{out}/customer.parquet")
    counts = []
    for i, t in enumerate(event_files(rng, p, n_files)):
        name = f"events-{i:05d}.parquet"
        _write(t, f"{out}/stage/{name}")
        counts.append((name, t.num_rows))
    _manifest(f"{out}/stage", counts)


# ---- crawl_ingest --------------------------------------------------------

def _text(rng, vocab, lo, hi):
    return " ".join(rng.choice(vocab, int(rng.integers(lo, hi))))


def _links(doc_id, site, ad):
    s = (f" see https://site{site}.example.org/p{doc_id % 7}"
         f" and http://mirror{doc_id % 3}.example.com/x")
    return s + (f" ad https://cdn{doc_id % 4}.ads.example.net/t" if ad else "")


def gen_crawl(out, seed, params, n_batches):
    """Base corpus (the dedup index), eval suite (the bench index) and
    n_batches crawl files. Each crawl doc is exactly one planted kind:
    clean, blocked (cites an ad host or site7), contaminated (carries a
    20-token window of an eval doc) or near-dup (an earlier clean doc or a
    base doc minus its first word). Truth per doc goes to truth.parquet."""
    p = params["crawl_ingest"]
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, p["vocab"])
    lo, hi = p["doc_tokens"]

    def clean_site():
        s = int(rng.integers(0, 49))
        return s + (s >= 7)  # never site7: citing it is a blocked kind

    base = [(i, _text(rng, vocab, lo, hi)) for i in range(p["base_docs"])]
    bench = [(i, _text(rng, vocab, lo, hi)) for i in range(p["bench_docs"])]
    for name, rows in (("base", base), ("bench", bench)):
        _write(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                         "text": [r[1] for r in rows]}),
               f"{out}/{name}.parquet")
    # originals a near-dup may copy: every base doc, then clean crawl docs
    # of EARLIER batches (a same-batch twin survives by contract)
    originals = [t for _, t in base]
    used = set()
    next_id = p["base_docs"]
    truth = {"blocked": [], "contaminated": [], "dup": [], "clean": []}
    shares = p["kind_shares"]
    kinds = ["blocked", "contaminated", "dup", "clean"]
    kw = np.array([shares[k] for k in kinds], dtype=float)
    counts = []
    for b in range(n_batches):
        rows, new_clean = [], []
        for _ in range(p["docs_per_batch"]):
            doc_id = next_id
            next_id += 1
            assert doc_id < DOC_ID_LIMIT
            kind = kinds[rng.choice(4, p=kw / kw.sum())]
            if kind == "blocked":
                ad = bool(rng.random() < 0.7)
                body = _text(rng, vocab, lo, hi)
                text = body + _links(doc_id, clean_site() if ad else 7, ad)
                truth["blocked"].append(doc_id)
            elif kind == "contaminated":
                src = bench[int(rng.integers(0, len(bench)))][1].split(" ")
                at = int(rng.integers(0, max(1, len(src) - 20)))
                body = " ".join([_text(rng, vocab, 5, 15)] + src[at:at + 20]
                                + [_text(rng, vocab, 5, 15)])
                text = body + _links(doc_id, clean_site(), False)
                truth["contaminated"].append(doc_id)
            elif kind == "dup":
                assert len(used) < len(originals), "too few originals for the dup share"
                j = int(rng.integers(0, len(originals)))
                while j in used:
                    j = int(rng.integers(0, len(originals)))
                used.add(j)
                src = originals[j]
                text = src[src.index(" ") + 1:] + _links(doc_id, clean_site(), False)
                truth["dup"].append(doc_id)
            else:
                body = _text(rng, vocab, lo, hi)
                text = body + _links(doc_id, clean_site(), False)
                new_clean.append(body)
                truth["clean"].append(doc_id)
            rows.append((doc_id, text))
        originals.extend(new_clean)
        name = f"crawl-{b:05d}.parquet"
        _write(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                         "text": [r[1] for r in rows]}), f"{out}/stage/{name}")
        counts.append((name, len(rows)))
    _manifest(f"{out}/stage", counts)
    kinds_of = [(d, k) for k, ds in truth.items() for d in ds]
    _write(pa.table({"doc_id": pa.array([d for d, _ in kinds_of], pa.int64()),
                     "kind": [k for _, k in kinds_of]}), f"{out}/truth.parquet")
    _write(pa.table({"domain": BLOCKED}), f"{out}/blocked.parquet")


# ---- corpus (the catalog pass of a traced crawl_ingest run) ---------------

def gen_corpus(out, seed, params):
    """documents + embeddings (one vector per doc). As in the sf0.01
    fixture, the vectors are random directions and the label is drawn
    independently of them."""
    p = params["corpus"]
    n = p["docs"]
    assert n < DOC_ID_LIMIT
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, p["vocab"])
    ww = _zipf_weights(len(vocab), p["word_zipf_s"])
    lo, hi = p["doc_tokens"]
    texts = [" ".join(rng.choice(vocab, int(rng.integers(lo, hi)), p=ww))
             for _ in range(n)]
    ids = np.arange(n, dtype=np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i}" for i in rng.integers(0, p["sources"], n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")
    v = rng.normal(0, 1, (n, p["embed_dim"]))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, p["labels"], n)
    _write(pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }), f"{out}/embeddings.parquet")
