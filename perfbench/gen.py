"""Seeded input generators for the graft benchmark.

Every table is a pure function of (seed, size): the same arguments
write byte-identical parquet. The engine only ever sees these files.

- `catalog_tables`: the ten catalog tables (TPC-H-ish star schema,
  `events`, `documents`, `embeddings`) with the column domains of the
  repository's fixed test data, so every catalog query has rows. Its
  `documents` table carries planted exact and near duplicates, listed
  in planted.json (`documents`).
- `ann_corpus`: a clustered unit-vector `embeddings` table in the
  ScaleRun layout (query ids are the multiples of 50) plus an exact
  L2 top-10 groundtruth computed here with numpy, sharing no code with
  the engine's BruteForce.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Head of the document vocabulary: the word list of the catalog's
# documents table. bm25_rank and the text queries look these words up,
# so a corpus without them returns no rows.
HEAD_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _ts_us(days):
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _embedding_array(vecs):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def clustered_vectors(rng, n, dim, n_clusters):
    """n unit vectors in Gaussian clusters (centers scaled 2.0, noise
    0.5 — the engine's SynthData.clustered shape), float32, and the
    cluster label of each."""
    centers = rng.standard_normal((n_clusters, dim)) * 2.0
    labels = rng.integers(0, n_clusters, n)
    v = centers[labels] + rng.standard_normal((n, dim)) * 0.5
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def _words_text(rng, n_docs, vocab, probs, lo, hi):
    lens = rng.integers(lo, hi + 1, n_docs)
    idx = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    words = np.asarray(vocab, dtype=object)[idx]
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(words[at:at + ln]))
        at += ln
    return out


def catalog_tables(out_dir, seed, scale):
    """The ten catalog tables at `scale` (1.0 = the 0.1 scale factor's
    row counts: 15k customers, 150k orders, 600k line items)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_part = max(64, int(20000 * scale))
    n_ord = max(200, int(150000 * scale))
    n_line = 4 * n_ord
    n_evt = max(500, int(100000 * scale))
    n_users = max(50, int(1500 * scale))
    n_docs = max(1000, int(5000 * scale))
    n_emb = max(500, int(2000 * scale))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out_dir}/region.parquet")

    r = _rng(seed, 1)
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32())}),
        f"{out_dir}/nation.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.asarray(SEGMENTS, dtype=object)[r.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")

    r = _rng(seed, 3)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")

    r = _rng(seed, 4)
    names = [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
             zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": np.asarray(P_TYPES, dtype=object)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail}), f"{out_dir}/part.parquet")

    r = _rng(seed, 5)
    odate = _days(r, n_ord, "1995-01-01", 2405)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": np.asarray(PRIORITIES, dtype=object)[r.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    r = _rng(seed, 6)
    lok = r.integers(0, n_ord, n_line)
    lpk = r.integers(0, n_part, n_line)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpk, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpk] * r.uniform(0.02, 2.1, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_line)],
        "l_linestatus": np.asarray(["F", "O"], dtype=object)[r.integers(0, 2, n_line)],
        "l_shipdate": _ts_us(odate[lok] + r.integers(1, 122, n_line).astype("timedelta64[D]"))}),
        f"{out_dir}/lineitem.parquet")

    r = _rng(seed, 7)
    t0 = np.datetime64("2024-01-01T00:00:00", "ns")
    ts = np.sort(t0 + r.integers(0, 30 * 86400 * 10**9, n_evt).astype("timedelta64[ns]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[r.integers(0, 5, n_evt)],
        "value": np.round(r.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]}),
        f"{out_dir}/events.parquet")

    documents(out_dir, seed, n_docs)

    r = _rng(seed, 9)
    vecs, labels = clustered_vectors(r, n_emb, 64, 10)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": _embedding_array(vecs),
        "label": pa.array(labels, pa.int32())}), f"{out_dir}/embeddings.parquet")


def _docs_table(text, rng):
    n = len(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


def ann_corpus(out_dir, seed, n_base, n_query, dim, k=10):
    """An `embeddings` table in the ScaleRun layout (query j has id
    50·j, base ids walk the non-multiples of 50) and the exact L2 top-k
    of every query over the base, ties broken by id. Returns the
    groundtruth as {qid: [bid, ...]}."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 20)
    vecs, labels = clustered_vectors(r, n_base + n_query, dim, 16)
    j = np.arange(n_base, dtype=np.int64)
    base_ids = j + j // 49 + 1
    q_ids = np.arange(n_query, dtype=np.int64) * 50
    ids = np.concatenate([q_ids, base_ids])
    order = np.argsort(ids, kind="stable")
    _write(pa.table({
        "vec_id": pa.array(ids[order], pa.int64()),
        "embedding": _embedding_array(vecs[order]),
        "label": pa.array(labels[order], pa.int32())}), f"{out_dir}/embeddings.parquet")
    return exact_topk(q_ids, vecs[:n_query], base_ids, vecs[n_query:], k)


def exact_topk(q_ids, q_vecs, base_ids, base_vecs, k=10):
    """Exact L2 top-k of every query over the base, ties broken by id,
    in float64 from the stored float32 values: {qid: [bid, ...]}."""
    qv = q_vecs.astype(np.float64)
    bv = base_vecs.astype(np.float64)
    bn = (bv * bv).sum(axis=1)
    gt = {}
    for lo in range(0, len(qv), 256):
        q = qv[lo:lo + 256]
        d2 = bn[None, :] - 2.0 * (q @ bv.T) + (q * q).sum(axis=1)[:, None]
        # a generous candidate set by the fast formula, then the exact
        # per-coordinate distance and (dist, id) order on it
        c_k = min(4 * k, len(bv) - 1)
        cand = np.argpartition(d2, c_k, axis=1)[:, :c_k + 1]
        for row in range(len(q)):
            c = cand[row]
            exact = ((bv[c] - q[row]) ** 2).sum(axis=1)
            best = sorted(zip(exact.tolist(), base_ids[c].tolist()))[:k]
            gt[int(q_ids[lo + row])] = [b for _, b in best]
    return gt


def groundtruth(data_dir, k=10):
    """Exact L2 top-k over an `embeddings` table, split as the engine
    splits it (queries are the ids divisible by 50)."""
    t = pq.read_table(f"{data_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    vecs = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
    q = ids % 50 == 0
    return exact_topk(ids[q], vecs[q], ids[~q], vecs[~q], k)


def documents(out_dir, seed, n_docs, vocab_tail=2000):
    """The `documents` table: n_docs with planted duplicates, and the
    ledger of planted pairs in planted.json. 2% of documents are exact
    copies of another with changed spacing (dedup_exact normalises it;
    the word split drops empty tokens, so the shingles are identical),
    and 4% are near copies with 2 of every 100 words replaced (3-word-
    shingle Jaccard well above the 0.5 threshold). The vocabulary is
    the catalog word list followed by a Zipf tail of generated words."""
    r = _rng(seed, 30)
    tail = [f"w{i:04d}x" for i in range(vocab_tail)]
    vocab = HEAD_WORDS + tail
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = 1.0 / ranks ** 0.9
    probs /= probs.sum()
    text = _words_text(r, n_docs, vocab, probs, 30, 120)

    # fixed counts, and every copy's source is an original used once, so
    # each planted group is exactly one pair whatever the seed
    n_exact, n_near = n_docs // 50, n_docs // 25
    perm = r.permutation(n_docs)
    copies, sources = perm[:n_exact + n_near], perm[n_exact + n_near:2 * (n_exact + n_near)]
    exact, near = [], []
    for k, (c, src) in enumerate(zip(copies.tolist(), sources.tolist())):
        words = text[src].split(" ")
        if k < n_exact:
            text[c] = "  ".join(words) + " "
            exact.append((src, c))
        else:
            for p in r.choice(len(words), size=max(1, len(words) // 50), replace=False):
                words[p] = vocab[int(r.integers(0, len(vocab)))]
            text[c] = " ".join(words)
            near.append((src, c))
    _write(_docs_table(text, r), f"{out_dir}/documents.parquet")
    ledger = {"n_docs": n_docs, "exact": exact, "near": near}
    with open(f"{out_dir}/planted.json", "w") as f:
        json.dump(ledger, f)
    return ledger
