"""Seeded input generation for the three benchmark workloads.

Every input is a pure function of (workload, seed): numpy's PCG64 stream
seeded with the workload seed, written as parquet with pyarrow.  The
fingerprint (row counts plus a content checksum) is printed by run.py so
two runs with one seed provably saw the same inputs.

Values that take part in theta predicates are multiples of 1/16, so sums
and differences are exact doubles in Spark and in DuckDB alike.
"""
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
THETA = {
    "rows": 45_000,         # rows per relation (L and R)
    "keys": 2_000,          # distinct as-of keys
    "vdom": 1_000_000,      # value domain of the uniform column v
    "zipf_a": 1.3,          # zipf exponent of the skewed column z
    "zranks": 1_000,        # zipf ranks; each rank spans 1000 units of z
    "tdom": 1_000_000_000,  # time domain of t
    "len_median": 20_000,   # median interval length (lognormal)
    "band_eps": 2.0,        # bandJoin on v
    "sql_eps": 0.5,         # naive SQL band on z, auto-rewritten
    "ineq_rows": 2_500,     # rows per side of the dense lessThanJoinAuto
    "theta_rows": 2_000,    # rows per side of the 1-Bucket-Theta join
}
LLM = {
    "docs": 4_500,
    "vocab": 5_000,
    "zipf_a": 1.1,
    "min_tokens": 30,
    "max_tokens": 80,
    "near_dup_share": 0.10,   # docs that are a near copy of an earlier doc
    "exact_dup_share": 0.02,  # docs that repeat an earlier doc verbatim
    "vectors": 4_500,
    "dim": 64,
    "clusters": 32,
}
INGEST = {
    "base_rows": 100_000,  # rows of the pre-populated head (setup)
    "batch_rows": 5_000,   # rows per append / merge micro-batch
    "vdom": 1_000_000,     # domain of the zone-map column v
    "hit_pct": 50,         # share of merge rows that target existing keys
    "range_width": 20_000,  # readRange span (2% of the domain)
    "travel_back": 5,      # readAt reads head minus this many versions
    "buckets": 4,          # clustered-append buckets
}

def _write(path, table):
    pq.write_table(table, path, compression="snappy")


def _digest(h, arr):
    h.update(np.ascontiguousarray(arr).tobytes())


def _q16(x):
    return np.floor(x * 16.0) / 16.0


def theta(out_dir, seed, p=THETA):
    rng = np.random.default_rng([seed, 1])
    n = p["rows"]
    h = hashlib.sha256()
    counts = {}
    for side in ("l", "r"):
        ids = np.arange(n, dtype=np.int64)
        k = rng.integers(0, p["keys"], n, dtype=np.int64)
        v = _q16(rng.random(n) * p["vdom"])
        ranks = np.minimum(rng.zipf(p["zipf_a"], n), p["zranks"]) - 1
        z = _q16(ranks * 1000.0 + rng.random(n) * 1000.0)
        # quote times are unique so the as-of match is unambiguous
        t = rng.choice(p["tdom"], n, replace=False).astype(np.int64)
        ln = np.maximum(1, rng.lognormal(np.log(p["len_median"]), 0.8, n)).astype(np.int64)
        cols = {f"{side}id": ids, f"{side}k": k, f"{side}v": v, f"{side}z": z,
                f"{side}t": t, f"{side}end": t + ln}
        for c in cols.values():
            _digest(h, c)
        _write(f"{out_dir}/{side}.parquet", pa.table(cols))
        counts[side] = n
    return counts, h.hexdigest()[:16]


def _doc_text(rng, vocab, n_tok, a):
    ranks = np.minimum(rng.zipf(a, n_tok), len(vocab)) - 1
    return [vocab[r] for r in ranks]


def llm(out_dir, seed, p=LLM):
    rng = np.random.default_rng([seed, 2])
    syll = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu",
            "qua", "dri", "sto", "ple", "gre"]
    vocab = []
    i = 0
    while len(vocab) < p["vocab"]:
        w, x = "", i
        while True:
            w += syll[x % len(syll)]
            x //= len(syll)
            if x == 0:
                break
        vocab.append(w)
        i += 1
    n = p["docs"]
    texts = []
    kinds = rng.random(n)
    lens = rng.integers(p["min_tokens"], p["max_tokens"] + 1, n)
    for d in range(n):
        if d > 0 and kinds[d] < p["exact_dup_share"]:
            texts.append(texts[int(rng.integers(0, d))])
        elif d > 0 and kinds[d] < p["exact_dup_share"] + p["near_dup_share"]:
            toks = texts[int(rng.integers(0, d))].split(" ")
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(_doc_text(rng, vocab, int(lens[d]), p["zipf_a"])))
    doc_id = np.arange(n, dtype=np.int64)
    langs = np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n)]
    sources = np.array([f"src{j}" for j in range(20)])[rng.integers(0, 20, n)]
    n_chars = np.array([len(t) for t in texts], dtype=np.int64)
    h = hashlib.sha256()
    _digest(h, doc_id)
    h.update("\n".join(texts).encode())
    _write(f"{out_dir}/documents.parquet", pa.table({
        "doc_id": doc_id, "text": texts, "lang": langs, "source": sources,
        "n_chars": n_chars}))

    m, dim = p["vectors"], p["dim"]
    centers = rng.normal(0.0, 1.0, (p["clusters"], dim)).astype(np.float32)
    cl = rng.integers(0, p["clusters"], m)
    emb = (centers[cl] + 0.6 * rng.normal(0.0, 1.0, (m, dim))).astype(np.float32)
    emb = np.round(emb * 4096.0).astype(np.float32) / np.float32(4096.0)
    vec_id = np.arange(m, dtype=np.int64)
    label = (cl % 10).astype(np.int32)
    _digest(h, emb)
    _digest(h, label)
    emb_col = pa.FixedSizeListArray.from_arrays(pa.array(emb.reshape(-1)), dim)
    _write(f"{out_dir}/embeddings.parquet", pa.table({
        "vec_id": vec_id,
        "embedding": emb_col.cast(pa.list_(pa.float32())),
        "label": label}))
    return {"documents": n, "embeddings": m}, h.hexdigest()[:16]


# ------------------------------------------------------------- ingest
# The ingest batches are generated inside the JVM from the formulas below
# (spark.range + integer arithmetic), and replayed here for the oracle.
# Lehmer steps keep every product below 2^63, so ANSI arithmetic never
# overflows on either side.
LEHMER = 48271
MOD31 = 2147483647


def lehmer(x):
    return (x * LEHMER) % MOD31


def ingest_batch(seed, kind, idx, next_key, p=INGEST):
    """Rows (key, v, p) of micro-batch `idx` of `kind` ('base', 'append' or
    'merge'), allocated from key slot `next_key`.  Mirrors
    IngestWorkload.batch in the JVM harness."""
    b = p["base_rows"] if kind == "base" else p["batch_rows"]
    j = np.arange(b, dtype=np.int64)
    new_key = next_key + j
    if kind == "merge":
        hit = (lehmer(lehmer(idx * b + j + seed)) % 100) < p["hit_pct"]
        start = lehmer(lehmer(idx + seed)) % max(1, next_key)
        key = np.where(hit, (start + j * 7) % max(1, next_key), new_key)
    else:
        key = new_key
    v = lehmer(lehmer(key + idx * 104729 + seed)) % p["vdom"]
    pay = (key * 31 + idx) % 1000003
    return key, v, pay


def fingerprint_ingest(seed, p=INGEST):
    key, v, pay = ingest_batch(seed, "base", 0, 0, p)
    h = hashlib.sha256()
    for a in (key, v, pay):
        _digest(h, a)
    return {"base": int(len(key))}, h.hexdigest()[:16]
