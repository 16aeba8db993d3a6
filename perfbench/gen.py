"""Seeded input generators for the four workloads.

Every generator is a pure function of (seed, sizes): the same seed gives
byte-identical parquet files, a different seed gives different ones
(`test_perfbench.py` checks both). The shapes follow the repo's sf0.1
fixtures (orders 150k rows, lineitem 600k, documents 5k, embeddings 64-d),
but the rows are synthesised here, so the benchmark needs nothing outside
its checkout.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# one salt per workload, so seed n of two workloads never shares a stream
SALT = {"backfill_jdbc_date": 11, "upsert_stream": 23, "corpus_dedup": 37, "ann_serve": 53}

VOCAB = (
    "a the spark batch part line column order small sort fast value scan hash slow group "
    "agg filter query big key window row table stream merge data vector customer join "
    "lake trusted work promote chunk shuffle index probe cell refresh commit snapshot "
    "schema partition bucket minhash shingle token corpus embedding cosine nearest cluster "
    "driver executor task stage job plan"
).split()

EPOCH = dt.date(1970, 1, 1)


def rng_for(workload, seed):
    return np.random.default_rng(np.random.SeedSequence([SALT[workload], int(seed)]))


def write_table(table, path):
    """Deterministic parquet: fixed compression, no statistics drift."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True)
    return os.path.getsize(path)


# ---------------------------------------------------------------- orders

def orders(seed, n=150_000, first_day=dt.date(1992, 1, 1), days=2405):
    rng = rng_for("backfill_jdbc_date", seed)
    keys = np.sort(rng.choice(4 * n, size=n, replace=False).astype(np.int64) + 1)
    start = (first_day - EPOCH).days + int(rng.integers(0, 60))
    date = (start + rng.integers(0, days, n)).astype(np.int32)
    status = np.array(["F", "O", "P"])[rng.integers(0, 3, n)]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
        rng.integers(0, 5, n)]
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15_001, n), pa.int64()),
        "o_orderstatus": pa.array(status, pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2), pa.float64()),
        "o_orderdate": pa.array(date, pa.date32()),
        "o_orderpriority": pa.array(prio, pa.string()),
    })


def gen_backfill(seed, out, window_days=60):
    t = orders(seed)
    nbytes = write_table(t, f"{out}/orders.parquet")
    # Derby bulk-imports CSV (ISO dates, quoted strings, no header)
    pacsv.write_csv(t, f"{out}/orders.csv", pacsv.WriteOptions(include_header=False))
    first = pc.min(t["o_orderdate"]).as_py()
    params = {
        "rows": t.num_rows,
        # the window opens at the source's own min(o_orderdate), which the
        # engine resolves with a boundary query (cliStart left empty)
        "window_start": first.isoformat(),
        "window_end": (first + dt.timedelta(days=window_days - 1)).isoformat(),
        "input_bytes": nbytes,
    }
    return params


# -------------------------------------------------------------- lineitem

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("ms")),
])

SHIP_LO_MS = 694_224_000_000  # 1992-01-01
SHIP_SPAN_MS = 2_400 * 86_400_000
GARBAGE_MS = -62_000_000_000_000  # year 0005: nulled by the promote's date repair


def lineitem_rows(rng, okey, lnum):
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2_000, n), 2)
    return {
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        # whole seconds: the ms timestamps survive every engine round trip
        "l_shipdate": SHIP_LO_MS + rng.integers(0, SHIP_SPAN_MS // 1000, n) * 1000,
    }


def to_lineitem_table(cols):
    arrays = []
    for f in LINEITEM_SCHEMA:
        v = cols[f.name]
        if f.name == "l_shipdate":
            arrays.append(pa.array(v.astype(np.int64), pa.int64()).cast(pa.timestamp("ms")))
        else:
            arrays.append(pa.array(v, f.type))
    return pa.Table.from_arrays(arrays, schema=LINEITEM_SCHEMA)


def gen_upsert(seed, out, n_orders=75_000, batches=40, upd=3_000, new=300, dups=150,
               garbage=30):
    rng = rng_for("upsert_stream", seed)
    lines = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(len(okeys)) - starts + 1
    base = to_lineitem_table(lineitem_rows(rng, okeys, lnum))
    nbytes = write_table(base, f"{out}/base/part-0.parquet")
    # the TRUSTED table the stream starts from is the promote of the base,
    # computed by the reference (the engine's promote of it is not measured)
    import reference
    os.makedirs(f"{out}/trusted_base")
    reference.base_trusted(f"{out}/base/part-0.parquet", f"{out}/trusted_base/part-0.parquet")
    batch_rows = []
    for b in range(batches):
        pick = rng.choice(len(okeys), size=upd, replace=False)
        k_new = np.arange(new, dtype=np.int64) + 10_000_000 + b * 10_000
        ok = np.concatenate([okeys[pick], k_new])
        ln = np.concatenate([lnum[pick], np.ones(new, dtype=np.int64)])
        rows = lineitem_rows(rng, ok, ln)
        # in-batch duplicates: same key, different payload; the promote keeps
        # the minimum row struct per key
        d = rng.choice(len(ok), size=dups, replace=False)
        extra = lineitem_rows(rng, ok[d], ln[d])
        rows = {c: np.concatenate([rows[c], extra[c]]) for c in rows}
        g = rng.choice(len(rows["l_orderkey"]), size=garbage, replace=False)
        rows["l_shipdate"][g] = GARBAGE_MS
        perm = rng.permutation(len(rows["l_orderkey"]))
        rows = {c: v[perm] for c, v in rows.items()}
        t = to_lineitem_table(rows)
        batch_rows.append(t.num_rows)
        write_table(t, f"{out}/batches/b{b:03d}.parquet")
    return {"base_rows": base.num_rows, "batch_rows": batch_rows, "input_bytes": nbytes}


# ------------------------------------------------------------- documents

def shingles(text, n=3):
    """The engine's 3-word shingle set of a lower-case, single-spaced text."""
    w = text.split()
    if len(w) < n:
        return {" ".join(w)} if w else set()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_dedup(seed, out, n_base=2_000, n_exact=160, n_near=240, min_jaccard=0.85):
    rng = rng_for("corpus_dedup", seed)
    vocab = np.array(VOCAB)
    texts, origin = [], []
    for _ in range(n_base):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(60, 121)))]))
        origin.append(-1)
    planted_j = []
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = texts[src].split()
        while True:
            w = list(words)
            for _ in range(int(rng.integers(1, 3))):
                w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
            cand = " ".join(w)
            j = jaccard(cand, texts[src])
            if cand != texts[src] and j >= min_jaccard:
                break
        texts.append(cand)
        origin.append(src)
        planted_j.append(j)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        # exact duplicates differ only in case and spacing, which the
        # exact-dedup fingerprint normalises away
        w = texts[src].split()
        w[0] = w[0].upper()
        texts.append("  ".join(w[:3]) + " " + " ".join(w[3:]))
        origin.append(src)
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64)
    lang = np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)]
    source = np.array([f"src{i}" for i in range(8)])[rng.integers(0, 8, n)]
    t = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nbytes = write_table(t, f"{out}/corpus/part-0.parquet")
    # ground truth: a cluster is an original plus its planted copies; the
    # engine keeps the minimum doc_id of each cluster
    clusters = {}
    for i, o in enumerate(origin):
        root = i if o < 0 else o
        clusters.setdefault(root, []).append(int(ids[i]))
    keep = sorted(min(m) for m in clusters.values())
    planted = sorted(x for m in clusters.values() for x in m if x != min(m))
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"keep": keep, "planted": planted}, f)
    return {"docs": n, "planted": len(planted), "min_planted_jaccard": min(planted_j),
            "input_bytes": nbytes}


# ------------------------------------------------------------ embeddings

DIM = 64


def gen_ann(seed, out, n_base=10_000, n_clusters=24, q_batches=400, q_size=32,
            appends=40, append_size=500, noise=1.1):
    rng = rng_for("ann_serve", seed)
    centers = rng.normal(0, 1, (n_clusters, DIM))

    def draw(n):
        lab = rng.integers(0, n_clusters, n)
        v = centers[lab] + rng.normal(0, noise, (n, DIM))
        return v.astype(np.float32), lab.astype(np.int32)

    def table(ids, v, lab):
        flat = pa.array(v.reshape(-1), pa.float32())
        emb = pa.ListArray.from_arrays(pa.array(np.arange(0, len(v) * DIM + 1, DIM,
                                                          dtype=np.int32)), flat)
        return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb,
                         "label": pa.array(lab, pa.int32())})

    v, lab = draw(n_base)
    nbytes = write_table(table(np.arange(n_base, dtype=np.int64), v, lab),
                         f"{out}/vectors/part-base.parquet")
    nid = n_base
    for a in range(appends):
        av, al = draw(append_size)
        write_table(table(np.arange(nid, nid + append_size, dtype=np.int64), av, al),
                    f"{out}/appends/a{a:03d}.parquet")
        nid += append_size
    qv, ql = draw(q_batches * q_size)
    qids = np.arange(len(qv), dtype=np.int64) + 100_000_000
    write_table(table(qids, qv, ql), f"{out}/queries.parquet")
    return {"base_rows": n_base, "q_size": q_size, "q_batches": q_batches,
            "append_size": append_size, "appends": appends, "input_bytes": nbytes}


GENERATORS = {
    "backfill_jdbc_date": gen_backfill,
    "upsert_stream": gen_upsert,
    "corpus_dedup": gen_dedup,
    "ann_serve": gen_ann,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    params = GENERATORS[workload](seed, out)
    params["workload"] = workload
    params["seed"] = int(seed)
    with open(f"{out}/params.json", "w") as f:
        json.dump(params, f, sort_keys=True)
    return params
