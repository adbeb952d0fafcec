"""Input files of the benchmark's two workloads.

    python3 perfbench/gen_data.py OUT_DIR [SEED]

`dag` reads small astro-sdk style inputs in several formats:

- orders.csv (20 000 orders), customers.ndjson (2 000 customers),
  lineitem.parquet (60 000 lines);
- customer_updates.parquet (1 000 rows, half of them keys that exist in
  customers), the source of both merges;
- orders_backfill.parquet (2 000 late orders), the source of the append;
- events/ (8 ndjson files of 1 500 events), the file-stream source.

`curate` reads a document corpus and a reference vector set:

- documents/ (4 parquet shards): doc_id, url, text, embedding (64 floats).
  Texts draw 40-100 words from a 4 000-word Zipf vocabulary; 6% are exact
  re-posts (case and spacing changed), 10% are near-duplicates (a few words
  edited) of an original document, 12% carry an e-mail address or a phone number;
- references/ (2 parquet shards): 4 000 reference vectors for the IVF index;
- curated_snapshot.parquet: the curated table as a previous run left it
  (every 8th document, older text).

The output is a pure function of SEED (numpy's PCG64 drives every column),
so the same seed gives byte-identical files.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
SYLLABLES = ["ka", "lo", "mi", "ten", "ra", "vo", "su", "pel", "dan", "ri", "ost", "ne",
             "bar", "qui", "zo", "fen", "ul", "ma", "tor", "is"]

N_ORDERS, N_CUSTOMERS, N_LINES = 20_000, 2_000, 60_000
N_UPDATES, N_BACKFILL, N_EVENT_FILES, EVENTS_PER_FILE = 1_000, 2_000, 8, 1_500
N_DOCS, DOC_SHARDS, N_REFS, REF_SHARDS, DIM, TOPICS = 1_200, 4, 4_000, 2, 64, 48


def _dates(rng, n, start="2020-01-01", days=1460):
    return (np.datetime64(start) + rng.integers(0, days, n).astype("timedelta64[D]")).astype(str)


def _customers(rng, ids):
    n = len(ids)
    return {
        "cust_id": [int(i) for i in ids],
        "name": [f"Customer#{i:06d}" for i in ids],
        "segment": list(rng.choice(SEGMENTS, n)),
        "region": list(rng.choice(REGIONS, n)),
        "signup_date": list(_dates(rng, n)),
        "balance": [float(x) for x in np.round(rng.uniform(-500.0, 9000.0, n), 2)],
    }


def write_dag(out, rng):
    with open(os.path.join(out, "orders.csv"), "w") as f:
        f.write("order_id,cust_id,order_date,status,priority,amount\n")
        cust = rng.integers(1, N_CUSTOMERS + 1, N_ORDERS)
        dates = _dates(rng, N_ORDERS)
        status = rng.choice(STATUSES, N_ORDERS)
        prio = rng.choice(PRIORITIES, N_ORDERS)
        amount = np.round(rng.uniform(5.0, 5000.0, N_ORDERS), 2)
        for i in range(N_ORDERS):
            f.write(f"{i + 1},{cust[i]},{dates[i]},{status[i]},{prio[i]},{amount[i]:.2f}\n")
    customers = _customers(rng, np.arange(1, N_CUSTOMERS + 1))
    with open(os.path.join(out, "customers.ndjson"), "w") as f:
        keys = list(customers)
        for row in zip(*customers.values()):
            f.write(json.dumps(dict(zip(keys, row))) + "\n")
    qty = rng.integers(1, 51, N_LINES)
    pq.write_table(pa.table({
        "order_id": rng.integers(1, N_ORDERS + 1, N_LINES).astype(np.int64),
        "line_no": rng.integers(1, 8, N_LINES).astype(np.int32),
        "part_id": rng.integers(1, 5_000, N_LINES).astype(np.int64),
        "qty": qty.astype(np.int32),
        "price": np.round(qty * rng.uniform(2.0, 90.0, N_LINES), 2),
        "discount": rng.integers(0, 11, N_LINES) / 100.0,
    }), os.path.join(out, "lineitem.parquet"))
    existing = rng.choice(np.arange(1, N_CUSTOMERS + 1), N_UPDATES // 2, replace=False)
    fresh = np.arange(N_CUSTOMERS + 1, N_CUSTOMERS + 1 + N_UPDATES // 2)
    upd = _customers(rng, np.concatenate([existing, fresh]))
    pq.write_table(pa.table({k: pa.array(v) for k, v in upd.items()}),
                   os.path.join(out, "customer_updates.parquet"))
    pq.write_table(pa.table({
        "order_id": np.arange(N_ORDERS + 1, N_ORDERS + 1 + N_BACKFILL, dtype=np.int64),
        "cust_id": rng.integers(1, N_CUSTOMERS + 1, N_BACKFILL).astype(np.int64),
        "amount": np.round(rng.uniform(5.0, 5000.0, N_BACKFILL), 2),
    }), os.path.join(out, "orders_backfill.parquet"))
    events = os.path.join(out, "events")
    os.makedirs(events)
    for part in range(N_EVENT_FILES):
        with open(os.path.join(events, f"part-{part:03d}.ndjson"), "w") as f:
            base = part * EVENTS_PER_FILE
            cust = rng.integers(1, N_CUSTOMERS + 1, EVENTS_PER_FILE)
            kind = rng.choice(EVENT_TYPES, EVENTS_PER_FILE)
            value = np.round(rng.exponential(40.0, EVENTS_PER_FILE), 2)
            secs = np.sort(rng.integers(0, 86_400, EVENTS_PER_FILE))
            for i in range(EVENTS_PER_FILE):
                ts = f"2024-03-{part + 1:02d}T{secs[i] // 3600:02d}:{secs[i] // 60 % 60:02d}:{secs[i] % 60:02d}Z"
                f.write(json.dumps({"event_id": base + i + 1, "cust_id": int(cust[i]), "ts": ts,
                                    "type": str(kind[i]), "value": float(value[i])}) + "\n")


def _vocab(rng, n=4_000):
    words = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        words.add("".join(rng.choice(SYLLABLES, k)))
    return sorted(words)


def _unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def write_curate(out, rng):
    # stop words take the top Zipf ranks, as in real text
    vocab = np.array(STOPWORDS + list(rng.permutation(_vocab(rng))))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    texts = []
    for n_words in rng.integers(40, 101, N_DOCS):
        words = list(vocab[rng.choice(len(vocab), int(n_words), p=zipf)])
        sentences, i = [], 0
        while i < len(words):
            k = int(rng.integers(6, 16))
            sentences.append(" ".join(words[i:i + k]).capitalize() + ".")
            i += k
        texts.append(" ".join(sentences))
    centers = _unit(rng.normal(size=(TOPICS, DIM)))
    topic = rng.integers(0, TOPICS, N_DOCS)
    emb = _unit(0.6 * centers[topic] + 0.8 * rng.normal(size=(N_DOCS, DIM)) / np.sqrt(DIM) * 4)
    kind = rng.random(N_DOCS)
    originals = [0]
    for i in range(1, N_DOCS):
        # copies are made of originals only, so duplicate clusters are stars
        src = originals[int(rng.integers(0, len(originals)))]
        if kind[i] >= 0.16:
            originals.append(i)
        elif kind[i] < 0.06:      # exact re-post: same words, other case and spacing
            texts[i] = "  " + texts[src].upper().replace(" ", "  ")
            emb[i] = emb[src]
        elif kind[i] < 0.16:    # near-duplicate: a few words replaced
            words = texts[src].split(" ")
            for j in rng.integers(0, len(words), 3):
                words[j] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts[i] = " ".join(words)
            emb[i] = _unit(emb[src] + 0.05 * rng.normal(size=DIM).astype(np.float32))
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.12):
        if rng.random() < 0.5:
            pii = f"mail user{int(rng.integers(0, 10**6))}@example.org for details."
        else:
            pii = f"call 555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))} today."
        texts[i] = texts[i] + " " + pii.capitalize()
    doc_id = np.arange(1, N_DOCS + 1, dtype=np.int64)
    urls = [f"https://site{int(s)}.example.com/page/{int(d)}"
            for s, d in zip(rng.integers(0, 300, N_DOCS), doc_id)]
    docs = os.path.join(out, "documents")
    os.makedirs(docs)
    for s in range(DOC_SHARDS):
        sl = slice(s, None, DOC_SHARDS)
        pq.write_table(pa.table({
            "doc_id": doc_id[sl], "url": urls[sl], "text": texts[sl],
            "embedding": pa.array(list(emb[sl]), pa.list_(pa.float32())),
        }), os.path.join(docs, f"part-{s:03d}.parquet"))
    refs = os.path.join(out, "references")
    os.makedirs(refs)
    ref_topic = rng.integers(0, TOPICS, N_REFS)
    ref_emb = _unit(0.6 * centers[ref_topic] + 3.2 * rng.normal(size=(N_REFS, DIM)) / np.sqrt(DIM))
    ref_id = np.arange(1, N_REFS + 1, dtype=np.int64)
    for s in range(REF_SHARDS):
        sl = slice(s, None, REF_SHARDS)
        pq.write_table(pa.table({
            "ref_id": ref_id[sl], "embedding": pa.array(list(ref_emb[sl]), pa.list_(pa.float32())),
        }), os.path.join(refs, f"part-{s:03d}.parquet"))
    snap = doc_id[::8]
    pq.write_table(pa.table({
        "doc_id": snap,
        "url": [urls[i - 1] for i in snap],
        "text": [texts[i - 1][: len(texts[i - 1]) // 2] for i in snap],
        "quality": np.zeros(len(snap)),
    }), os.path.join(out, "curated_snapshot.parquet"))


def write(out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    write_dag(out, rng)
    write_curate(out, rng)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 42)
