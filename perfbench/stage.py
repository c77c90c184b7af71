"""Seeded input staging for the benchmark.

Every input the benchmark reads is generated here from the workload seed,
into a directory under the benchmark's own work dir: the same seed gives
byte-identical inputs, and a directory whose marker matches the seed and
the generator version is reused instead of rebuilt.

Two input sets:

* ``store/`` -- the relational store: ``region nation supplier customer
  part orders lineitem events documents embeddings``, one parquet file
  each, with the schemas and value domains of the TPC-H-like fixtures the
  program's keys are written against (see FIXTURES.md at the repo root).
  Row counts scale with ``STORE_SF``.
* ``corpus/`` -- the dedup and similarity corpus: the store's documents,
  fresh documents drawn from the same vocabulary and length distribution,
  and planted near-duplicate groups of known edit size (``planted.json``
  lists every group, the ground truth of the recall checks); plus an
  enlarged vector corpus and the query vectors.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 8
STORE_SF = 0.05

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

# corpus shape: sized so that one round of the workload takes about ten
# seconds on a 4-core box (candidate generation over this 30-word
# vocabulary grows with the square of the corpus)
BASE_DOCS = 500           # taken from the store's documents
FRESH_DOCS = 350
GROUPS = 40               # planted near-duplicate groups
LARGE_GROUPS = 2          # of which this many are large
LARGE_GROUP_SIZE = 12
CORPUS_VECS = 2500        # the store's 2000 embeddings, enlarged
QUERY_VECS = 64
DIM = 64

DAY_US = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _write_parts(path, cols, parts=4):
    """A parquet directory of `parts` files, so a plain read of it scans
    with that many tasks, as a multi-file corpus would."""
    t = pa.table(cols)
    os.makedirs(path)
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step), f"{path}/part-{i}.parquet")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng, start, end, n):
    """Midnight timestamps (µs) uniformly drawn from [start, end]."""
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n) * DAY_US


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return out


def _docs_table(rng, ids, texts):
    n = len(ids)
    lang = rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def _emb_table(ids, vecs, labels):
    return {
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    }


def stage_store(rng, out):
    sf = STORE_SF
    n_supp, n_cust = int(10_000 * sf), int(150_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_docs, n_emb = 5000, 2000

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    pk = np.arange(n_part)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk, type=pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIOS, n_ord))})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line))})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = _texts(rng, n_docs)
    # the fixtures mark ~5% of documents with a trailing `dup` token
    texts = [t + " dup" if rng.random() < 0.05 else t for t in texts]
    _write(f"{out}/documents.parquet", _docs_table(rng, np.arange(n_docs), texts))
    _write(f"{out}/embeddings.parquet", _emb_table(
        np.arange(n_emb), _unit_vectors(rng, n_emb), rng.integers(0, 10, n_emb)))


def _edit(rng, words, n_edits):
    """Copy of `words` with `n_edits` positions replaced by a different word."""
    out = list(words)
    for p in rng.choice(len(out), n_edits, replace=False):
        out[p] = VOCAB[(VOCAB.index(out[p]) + 1 + rng.integers(0, len(VOCAB) - 1)) % len(VOCAB)]
    return out


def stage_corpus(rng, store, out):
    base = pq.read_table(f"{store}/documents.parquet").slice(0, BASE_DOCS)
    ids = base.column("doc_id").to_pylist()
    texts = base.column("text").to_pylist()
    next_id = 1_000_000
    fresh = _texts(rng, FRESH_DOCS)
    ids += list(range(next_id, next_id + FRESH_DOCS))
    texts += fresh
    next_id += FRESH_DOCS
    groups = []
    sizes = [LARGE_GROUP_SIZE] * LARGE_GROUPS + list(
        rng.choice([2, 3, 4, 6], GROUPS - LARGE_GROUPS, p=[0.55, 0.25, 0.12, 0.08]))
    for g, size in enumerate(sizes):
        # the group's source: a fresh document long enough that a few edits
        # keep every copy above the near-duplicate thresholds
        src = _texts(rng, 1)[0].split(" ")
        while len(src) < 40:
            src = _texts(rng, 1)[0].split(" ")
        edits = int(rng.integers(1, 3))
        members = [next_id]
        ids.append(next_id)
        texts.append(" ".join(src))
        next_id += 1
        for _ in range(int(size) - 1):
            ids.append(next_id)
            texts.append(" ".join(_edit(rng, src, edits)))
            members.append(next_id)
            next_id += 1
        groups.append({"edits": edits, "members": members})
    # shuffle so planted copies are not contiguous in the file
    perm = rng.permutation(len(ids))
    ids = [ids[i] for i in perm]
    texts = [texts[i] for i in perm]
    _write_parts(f"{out}/docs.parquet", _docs_table(rng, np.array(ids), texts))
    with open(f"{out}/planted.json", "w") as f:
        json.dump(groups, f)

    emb = pq.read_table(f"{store}/embeddings.parquet")
    base_vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    extra = _unit_vectors(rng, CORPUS_VECS - len(base_vecs))
    vecs = np.vstack([base_vecs, extra])
    vids = np.arange(len(vecs))
    _write_parts(f"{out}/vectors.parquet", _emb_table(vids, vecs, rng.integers(0, 10, len(vecs))))
    q = np.sort(rng.choice(len(vecs), QUERY_VECS, replace=False))
    _write(f"{out}/queries.parquet", _emb_table(q, vecs[q], rng.integers(0, 10, len(q))))


def stage(work, seed):
    """Stage (or reuse) the inputs of `seed` under `work`; returns the dir."""
    root = os.path.join(work, f"inputs-{seed}")
    marker = os.path.join(root, "STAGED")
    want = json.dumps({"seed": seed, "version": VERSION, "sf": STORE_SF})
    if os.path.exists(marker) and open(marker).read() == want:
        return root
    tmp = f"{root}.tmp-{os.getpid()}"
    os.makedirs(f"{tmp}/store")
    os.makedirs(f"{tmp}/corpus")
    rng = np.random.default_rng(seed)
    stage_store(rng, f"{tmp}/store")
    stage_corpus(rng, f"{tmp}/store", f"{tmp}/corpus")
    with open(f"{tmp}/STAGED", "w") as f:
        f.write(want)
    if os.path.exists(root):
        import shutil
        shutil.rmtree(root)
    os.rename(tmp, root)
    return root
