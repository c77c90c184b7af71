"""Output checkers: every result a run produces is compared with a
computation made apart from the program.

* tweet_store: each key's output, written by the benchmark JVM as parquet,
  must equal DuckDB evaluating the key's SQL restatement over the same
  staged parquet (column names sorted, rows in order, floats byte-exact),
  and every execution of a stream key must have read exactly the staged
  rows (no micro-batch lost or replayed).
* corpus_dedup: exact groups against a DuckDB md5 grouping; every reported
  near-duplicate pair's similarity recomputed in numpy / pure Python and
  held to its threshold; planted pairs within threshold must all be found
  by simhash and containment, and minhash must reach its 16x4 banding
  recall bound less a tolerance and find every planted pair of Jaccard at
  least 0.9; every kNN and LSH neighbour's cosine must match numpy and no
  vector left out may beat the k-th neighbour.

`selftest` feeds each checker a result with one row dropped and one value
changed and shows that the checker fails on each.
"""
import glob
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# ---------------------------------------------------------------- keys

# Rows a stream key's queries read when nothing is lost or replayed: the
# events that pass the bus's ingest guard (finite or NULL `value`), plus the
# signups the bus sink's second query reads back from the topic it wrote.
GUARDED = "FROM events WHERE value IS NULL OR isfinite(value)"
STREAM_ROWS = {
    "stream_bus_sink": f"SELECT count(*) + count(*) FILTER (WHERE event_type = 'signup') {GUARDED}",
}


def _floats(s):
    x = s.astype("float64").to_numpy().copy()
    x[np.isnan(x)] = np.float64("nan")  # one NaN bit pattern on both sides
    return x


def compare_frames(a, b):
    """None when the Spark frame `a` equals the DuckDB frame `b`."""
    a = a.reindex(sorted(a.columns), axis=1).reset_index(drop=True)
    b = b.reindex(sorted(b.columns), axis=1).reset_index(drop=True)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        num = {x.dtype.kind, y.dtype.kind} <= set("iuf")
        if num and x.dtype.kind != y.dtype.kind:
            return f"column {c}: dtype {x.dtype} vs {y.dtype}"
        try:
            if num and "f" in (x.dtype.kind, y.dtype.kind):
                same = _floats(x).tobytes() == _floats(y).tobytes()
            else:
                same = x.astype(object).where(pd.notna(x), None).equals(
                    y.astype(object).where(pd.notna(y), None))
        except Exception as e:  # non-comparable types
            return f"column {c}: {e}"
        if not same:
            return f"column {c}: values differ"
    return None


def load_keys(out):
    oracle = json.load(open(os.path.join(out, "oracle.json")))
    keys = sorted(os.listdir(os.path.join(out, "results")))
    return {k: pq.read_table(os.path.join(out, "results", k)).to_pandas() for k in keys}, oracle


def check_keys(inputs, results, oracle, progress=None):
    problems = []
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "store", "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    for k, spark_df in sorted(results.items()):
        try:
            p = compare_frames(spark_df, con.execute(oracle[k]).df())
        except Exception as e:
            p = f"check raised {type(e).__name__}: {e}"
        if p:
            problems.append(f"{k}: {p}")
    # every execution of a stream key consumed the staged events exactly
    # once: no micro-batch lost or replayed
    for k, rows in (progress or {}).items():
        want = con.execute(STREAM_ROWS[k]).fetchone()[0]
        if any(r != want for r in rows):
            problems.append(f"{k}: stream input rows {rows}, staged {want}")
    missing = set(oracle) - set(results)
    if missing:
        problems.append(f"no output for {sorted(missing)}")
    return problems


# -------------------------------------------------------------- corpus

M64 = (1 << 64) - 1
P1, P2, P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
P4, P5 = 9650029242287828579, 2870177450012600261


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc, lane):
    return (_rotl((acc + lane * P2) & M64, 31) * P1) & M64


def xxh64(data, seed=42):
    """XXH64 of `data` (bytes), as Spark's xxhash64 computes it (seed 42)."""
    n, i = len(data), 0
    u64 = lambda j: int.from_bytes(data[j:j + 8], "little")
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed & M64, (seed - P1) & M64]
        while i + 32 <= n:
            v = [_round(v[j], u64(i + 8 * j)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for x in v:
            h = (((h ^ _round(0, x)) * P1) + P4) & M64
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h = ((_rotl(h ^ _round(0, u64(i)), 27) * P1) + P4) & M64
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i:i + 4], "little") * P1) & M64), 23) * P2) + P3) & M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * P5) & M64), 11) * P1) & M64
        i += 1
    h = ((h ^ (h >> 33)) * P2) & M64
    h = ((h ^ (h >> 29)) * P3) & M64
    return h ^ (h >> 32)


def simhash(words, token_hash):
    votes = np.zeros(60, dtype=np.int64)
    bits = np.arange(60, dtype=np.uint64)
    for w in words:
        votes += 2 * ((np.uint64(token_hash[w]) >> bits) & np.uint64(1)).astype(np.int64) - 1
    return int(sum(1 << b for b in range(60) if votes[b] > 0))


def shingles(words):
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)} if len(words) >= 3 else set()


def load_corpus(out):
    res = {}
    for p in glob.glob(os.path.join(out, "results", "*.json")):
        res[os.path.basename(p)[:-5]] = [tuple(r) for r in json.load(open(p))]
    res["meta"] = json.load(open(os.path.join(out, "corpus.json")))
    return res


def _neighbours(name, rows, ids, vecs, qids, k, candidates=None):
    """kNN rows (q_id, rk, n_id, cos): right cosines, right order, and no
    left-out vector (among `candidates`, when given) beating the k-th."""
    problems = []
    pos = {int(v): i for i, v in enumerate(ids)}
    V = vecs.astype(np.float64)
    norms = np.linalg.norm(V, axis=1)
    by_q = {}
    for q, rk, n, c in rows:
        by_q.setdefault(q, []).append((rk, n, c))
    if set(by_q) != set(int(q) for q in qids):
        return [f"{name}: answers for {len(by_q)} of {len(qids)} queries"]
    for q, got in by_q.items():
        got.sort()
        qi = pos[q]
        cos = V @ V[qi] / (norms * norms[qi])
        allowed = np.ones(len(ids), dtype=bool) if candidates is None else candidates(qi)
        allowed[qi] = False  # the query itself is excluded
        want = min(k, int(allowed.sum()))
        if [r for r, _, _ in got] != list(range(1, want + 1)):
            problems.append(f"{name}: query {q} ranks {[r for r, _, _ in got]}, want 1..{want}")
            continue
        chosen = [pos.get(n, -1) for _, n, _ in got]
        if min(chosen) < 0 or not all(allowed[c] for c in chosen) or len(set(chosen)) != len(chosen):
            problems.append(f"{name}: query {q} returned a vector that is not a candidate")
            continue
        for (_, n, c), ci in zip(got, chosen):
            if abs(c - cos[ci]) > 5.01e-5:
                problems.append(f"{name}: cos({q},{n}) reported {c}, numpy {cos[ci]:.6f}")
                break
        left = allowed.copy()
        left[chosen] = False
        if left.any() and cos[left].max() > cos[chosen[-1]] + 1e-9:
            problems.append(f"{name}: query {q}: an unreturned vector beats the k-th neighbour")
    return problems


def check_corpus(inputs, res):
    problems = []
    cdir = os.path.join(inputs, "corpus")
    docs = pq.read_table(os.path.join(cdir, "docs.parquet")).to_pandas()
    text = dict(zip(docs.doc_id.astype(int), docs.text))
    words = {i: t.split(" ") for i, t in text.items()}
    sh = {i: shingles(w) for i, w in words.items()}
    planted = json.load(open(os.path.join(cdir, "planted.json")))
    planted_pairs = [(min(a, b), max(a, b)) for g in planted for x, a in enumerate(g["members"])
                     for b in g["members"][x + 1:]]

    # exact: a DuckDB md5 grouping over the same normalization
    con = duckdb.connect()
    exact = con.execute(f"""
        SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM read_parquet('{cdir}/docs.parquet/*.parquet') GROUP BY 1""").fetchall()
    if sorted(res.get("exact", [])) != sorted(exact):
        problems.append(f"exact: {len(res.get('exact', []))} groups differ from DuckDB's {len(exact)}")

    def jac(a, b):
        i = len(sh[a] & sh[b])
        return i / (len(sh[a]) + len(sh[b]) - i)

    def round4(x):  # Spark's round(): half-up on the shortest decimal form
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    def cont(a, b):
        return len(sh[a] & sh[b]) / min(len(sh[a]), len(sh[b]))

    # minhash: precision exact; recall against the banding bound, and
    # every planted pair of Jaccard >= 0.9 found (each is missed with
    # probability (1 - 0.9^4)^16 < 1e-7)
    mh = res.get("minhash", [])
    for a, b, j in mh:
        if not (a < b and abs(j - jac(a, b)) < 1e-12 and j >= 0.6):
            problems.append(f"minhash: pair ({a},{b}) jac {j} vs {jac(a, b)}")
            break
    found = {(a, b) for a, b, _ in mh}
    if len(found) != len(mh):
        problems.append("minhash: duplicate pairs")
    due = [(p, jac(*p)) for p in planted_pairs if jac(*p) >= 0.6]
    if due:
        recall = sum(p in found for p, _ in due) / len(due)
        bound = float(np.mean([1 - (1 - j ** 4) ** 16 for _, j in due])) - MINHASH_RECALL_TOLERANCE
        if recall < bound:
            problems.append(f"minhash: planted-pair recall {recall:.3f} below banding bound {bound:.3f}")
        missed = [p for p, j in due if j >= 0.9 and p not in found]
        if missed:
            problems.append(f"minhash: {len(missed)} planted pairs with Jaccard >= 0.9 not found")
    else:
        problems.append("minhash: no planted pair within threshold (corpus broken)")

    # simhash: recomputed Hamming distances; complete on planted pairs
    token_hash = {w: xxh64(w.encode()) & ((1 << 60) - 1) for w in {w for ws in words.values() for w in ws}}
    sig_cache = {}

    def sig(i):
        if i not in sig_cache:
            sig_cache[i] = simhash(words[i], token_hash)
        return sig_cache[i]
    sim = res.get("simhash", [])
    for a, b, h in sim:
        if not (a < b and h <= 4 and bin(sig(a) ^ sig(b)).count("1") == h):
            problems.append(f"simhash: pair ({a},{b}) hamming {h} vs {bin(sig(a) ^ sig(b)).count('1')}")
            break
    found = {(a, b) for a, b, _ in sim}
    missed = [p for p in planted_pairs if bin(sig(p[0]) ^ sig(p[1])).count("1") <= 4 and p not in found]
    if missed or len(found) != len(sim):
        problems.append(f"simhash: {len(missed)} planted pairs within Hamming 4 not found")

    # containment: recomputed, complete on planted pairs
    con_rows = res.get("containment", [])
    for a, b, c in con_rows:
        if not (a < b and c >= 0.8 and c == round4(cont(a, b))):
            problems.append(f"containment: pair ({a},{b}) {c} vs {cont(a, b)}")
            break
    found = {(a, b) for a, b, _ in con_rows}
    missed = [p for p in planted_pairs if cont(*p) >= 0.8 and p not in found]
    if missed or len(found) != len(con_rows):
        problems.append(f"containment: {len(missed)} planted pairs with containment >= 0.8 not found")

    # vector searches
    vt = pq.read_table(os.path.join(cdir, "vectors.parquet")).to_pandas()
    ids = vt.vec_id.to_numpy()
    vecs = np.stack(vt.embedding.to_numpy())
    qids = pq.read_table(os.path.join(cdir, "queries.parquet")).column("vec_id").to_pylist()
    k = res["meta"]["k"]
    problems += _neighbours("knn", res.get("knn", []), ids, vecs, qids, k)
    signs = (vecs[:, :64] > 0).reshape(len(vecs), 16, 4)
    bands = (signs * (1 << np.arange(4))).sum(axis=2)
    problems += _neighbours("lsh", res.get("lsh", []), ids, vecs, qids, k,
                            candidates=lambda qi: (bands == bands[qi]).any(axis=1))
    return problems


MINHASH_RECALL_TOLERANCE = 0.05


# --------------------------------------------------------------- entry

def stream_rows(out):
    """Input rows of every execution of each stream key, warm-up included."""
    res = json.load(open(os.path.join(out, "result.json")))
    rows = {}
    for name, _, ok, n in res["warmup_ops"] + res["ops"]:
        if name in STREAM_ROWS and ok:
            rows.setdefault(name, []).append(n)
    return rows


def check(workload, inputs, out):
    if workload == "corpus_dedup":
        return check_corpus(inputs, load_corpus(out))
    results, oracle = load_keys(out)
    return check_keys(inputs, results, oracle, stream_rows(out))


def _mutations(workload, inputs, out):
    """(label, checker over a corrupted copy) for each corruption."""
    if workload == "corpus_dedup":
        base = load_corpus(out)
        planted = {(min(a, b), max(a, b))
                   for g in json.load(open(os.path.join(inputs, "corpus", "planted.json")))
                   for a in g["members"] for b in g["members"] if a != b}
        for name in ("exact", "minhash", "simhash", "containment", "knn", "lsh"):
            rows = base[name]
            if not rows:
                yield f"{name}: empty result", lambda: ["empty result"]
                continue
            # a pair list loses a planted pair: the pairs the checker has
            # ground truth for (minhash: the most similar one)
            i = 0
            if name in ("minhash", "simhash", "containment"):
                hits = [j for j, r in enumerate(rows) if r[:2] in planted]
                i = max(hits, key=lambda j: rows[j][2]) if name == "minhash" else hits[0]
            dropped = dict(base, **{name: rows[:i] + rows[i + 1:]})
            yield f"{name}: one row dropped", lambda r=dropped: check_corpus(inputs, r)
            first = list(rows[0])
            v = first[-1]
            first[-1] = (not v) if isinstance(v, bool) else (v + "0" if isinstance(v, str) else v + 1)
            changed = dict(base, **{name: [tuple(first)] + rows[1:]})
            yield f"{name}: one value changed", lambda r=changed: check_corpus(inputs, r)
        return
    results, oracle = load_keys(out)
    key = next(k for k in sorted(results) if len(results[k]) > 1)
    df = results[key]
    yield f"{key}: one row dropped", lambda: check_keys(
        inputs, dict(results, **{key: df.iloc[1:].reset_index(drop=True)}), oracle)
    changed = df.copy()
    col = changed.columns[-1]
    v = changed.at[0, col]
    changed.at[0, col] = (v + "x") if isinstance(v, str) else (None if v is None else v + 1)
    yield f"{key}.{col}: one value changed", lambda: check_keys(
        inputs, dict(results, **{key: changed}), oracle)


def selftest(workloads, run_workload):
    """Run each workload once (`run_workload(name)` returns its inputs and
    output dirs), check its real outputs pass, then show the checker fails
    on each corruption. Returns a process exit code."""
    bad = 0
    for w in workloads:
        inputs, out = run_workload(w)
        p = check(w, inputs, out)
        print(f"{w}: real outputs -> {'pass' if not p else 'FAIL ' + p[0]}")
        bad += bool(p)
        for label, run_check in _mutations(w, inputs, out):
            p = run_check()
            print(f"{w}: {label} -> {'caught: ' + p[0] if p else 'NOT CAUGHT'}")
            bad += not p
    print("selftest:", "ok" if not bad else f"{bad} problem(s)")
    return 1 if bad else 0

