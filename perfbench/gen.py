"""Seeded input generator for the graft benchmark.

Every table is a pure function of (seed, sizes): the same seed writes the same
rows, and a different seed salts the vocabulary, the id permutation (which
decides the base / append / probe sets of the index workload), the event
stream and the vector perturbations. Tables carry the column names and types
of graft's declared test tables (orders, documents, embeddings, events), so
the oracle SQL of the matching declared query runs on them unchanged.

Each table is fingerprinted by its row count and an order-independent hash
(the sum of DuckDB row hashes mod 2^64).
"""
import datetime
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1e6)
ORDERS_START = datetime.date(1995, 1, 1)
LANGS = np.array(["en", "de", "fr", "es", "zh"])
EVENT_TYPES = np.array(["view", "click", "signup", "error", "purchase"])

# stream arrival files: the keyed near-dup stream reads one file per trigger,
# the stateful events stream two files per trigger
DOC_STREAM_FILES = 4
EVENT_STREAM_FILES = 8
# the q308 oracle's duplicate copies carry doc_id + 10000
DUP_ID_OFFSET = 10000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def gen_orders(seed, n_orders, n_days, out):
    r = _rng(seed, 1)
    day = r.integers(0, n_days, n_orders)
    day[:2] = [0, n_days - 1]  # pin the series span to exactly n_days
    dates = np.datetime64(ORDERS_START) + day.astype("timedelta64[D]")
    t = pa.table({
        "o_orderkey": pa.array(r.permutation(n_orders).astype(np.int64)),
        "o_custkey": pa.array(r.integers(1, 15000, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.where(r.random(n_orders) < 0.5, "F", "O")),
        "o_totalprice": pa.array(np.round(r.uniform(900.0, 450000.0, n_orders), 2)),
        "o_orderdate": pa.array(dates.astype("datetime64[D]"), pa.date32()),
    })
    _write(t, os.path.join(out, "orders.parquet"))


def _doc_texts(seed, n_docs):
    """Near-duplicate-rich corpus: ~35% of docs are light edits of an earlier
    doc, ~4% exact copies, the rest fresh Zipf-distributed word sequences."""
    r = _rng(seed, 2)
    salt = "".join(chr(ord("a") + int(c)) for c in r.integers(0, 26, 2))
    vocab = np.array([f"w{i:x}{salt}" for i in range(3000)])
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf_p /= zipf_p.sum()
    docs = []
    for i in range(n_docs):
        u = r.random()
        if i > 10 and u < 0.04:
            docs.append(list(docs[int(r.integers(0, i))]))
        elif i > 10 and u < 0.39:
            words = list(docs[int(r.integers(0, i))])
            for _ in range(int(r.integers(1, 4))):
                words[int(r.integers(0, len(words)))] = vocab[int(r.integers(0, len(vocab)))]
            if r.random() < 0.5:
                words += list(r.choice(vocab, int(r.integers(1, 4)), p=zipf_p))
            docs.append(words)
        else:
            docs.append(list(r.choice(vocab, int(r.integers(12, 70)), p=zipf_p)))
    return [" ".join(w) for w in docs], r


def gen_documents(seed, n_docs, out, stream_files=False):
    assert n_docs <= DUP_ID_OFFSET, "q308's duplicate ids start at 10000"
    texts, r = _doc_texts(seed, n_docs)
    ids = r.permutation(n_docs).astype(np.int64)  # seed picks which text gets which id
    order = np.argsort(ids)
    ids, texts = ids[order], [texts[i] for i in order]
    t = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[r.integers(0, len(LANGS), n_docs)]),
        "source": pa.array(np.char.add("src", r.integers(0, 20, n_docs).astype(str))),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    _write(t, os.path.join(out, "documents.parquet"))
    if stream_files:
        # the q308 arrival stream: every doc plus a ' dup0' copy of each
        # doc_id % 5 == 0 doc, in ascending id order across the files
        dup = ids % 5 == 0
        inc_ids = np.concatenate([ids, ids[dup] + DUP_ID_OFFSET])
        inc_txt = texts + [texts[i] + " dup0" for i in np.nonzero(dup)[0]]
        cuts = doc_stream_cuts(len(inc_ids))
        d = os.path.join(out, "stream_docs")
        os.makedirs(d)
        for b in range(DOC_STREAM_FILES):
            lo, hi = cuts[b], cuts[b + 1]
            p = os.path.join(d, f"b{b:02d}.parquet")
            _write(pa.table({"doc_id": pa.array(inc_ids[lo:hi]),
                             "text": pa.array(inc_txt[lo:hi])}), p)
            os.utime(p, (1_000_000 * (b + 1),) * 2)  # arrival order = id order


def doc_stream_cuts(n_incoming):
    return [n_incoming * b // DOC_STREAM_FILES for b in range(DOC_STREAM_FILES + 1)]


def doc_stream_batch(inc_ids_sorted, keep_ids):
    """Micro-batch index of each kept id: the file its id arrived in."""
    cuts = doc_stream_cuts(len(inc_ids_sorted))
    bounds = [inc_ids_sorted[c] for c in cuts[1:-1]]
    return np.searchsorted(np.array(bounds), np.asarray(keep_ids), side="right")


def gen_embeddings(seed, n_vecs, out, dim=64, n_clusters=16):
    r = _rng(seed, 3)
    centers = r.normal(0.0, 1.0, (n_clusters, dim))
    label = r.integers(0, n_clusters, n_vecs)
    vecs = (centers[label] + r.normal(0.0, 0.35, (n_vecs, dim))).astype(np.float32)
    ids = r.permutation(n_vecs).astype(np.int64)
    order = np.argsort(ids)
    t = pa.table({
        "vec_id": pa.array(ids[order]),
        "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
        "label": pa.array(label[order].astype(np.int32)),
    })
    _write(t, os.path.join(out, "embeddings.parquet"))


def gen_events(seed, n_events, n_users, out, stream_files=False):
    r = _rng(seed, 4)
    ts = EPOCH_2024_US + np.sort(r.integers(0, 30 * 86400 * 10**6, n_events))
    t = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(r.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n_events)]),
        "value": pa.array(np.round(r.exponential(60.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]),
    })
    _write(t, os.path.join(out, "events.parquet"))
    if stream_files:
        d = os.path.join(out, "stream_events")
        os.makedirs(d)
        for b in range(EVENT_STREAM_FILES):
            lo = n_events * b // EVENT_STREAM_FILES
            hi = n_events * (b + 1) // EVENT_STREAM_FILES
            p = os.path.join(d, f"e{b:02d}.parquet")
            _write(t.slice(lo, hi - lo), p)
            os.utime(p, (1_000_000 * (b + 1),) * 2)


def generate(seed, spec, out):
    """Write the tables named in `spec` into `out`; return their fingerprints."""
    os.makedirs(out)
    if "orders" in spec:
        gen_orders(seed, spec["orders"]["rows"], spec["orders"]["days"], out)
    if "documents" in spec:
        gen_documents(seed, spec["documents"]["rows"], out,
                      stream_files=spec["documents"].get("stream", False))
    if "embeddings" in spec:
        gen_embeddings(seed, spec["embeddings"]["rows"], out)
    if "events" in spec:
        gen_events(seed, spec["events"]["rows"], spec["events"]["users"], out,
                   stream_files=spec["events"].get("stream", False))
    return fingerprints(out, sorted(spec))


def fingerprints(out, tables):
    con = duckdb.connect()
    fp = {}
    for name in tables:
        rows, h = con.execute(
            "SELECT count(*), CAST(coalesce(sum(hash(t)::HUGEINT), 0) % 18446744073709551616 AS UBIGINT) "
            f"FROM read_parquet('{os.path.join(out, name + '.parquet')}') t").fetchone()
        fp[name] = {"rows": int(rows), "hash": f"{int(h):016x}"}
    con.close()
    return fp
