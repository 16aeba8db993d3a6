"""Independent references: DuckDB and numpy recompute what each workload's
output must be, from the generated inputs alone.

Each `check_*` returns (ops_checked, failures, extra) where `extra` holds
quality figures for the report.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

ORACLE_TS = "TIMESTAMP '2024-01-01 00:00:00'"


def _diff(con, a, b, cols):
    """Rows of a missing from b and of b missing from a (bag semantics)."""
    sel = ", ".join(cols)

    def missing(x, y):
        return con.execute(f"select count(*) from (select {sel} from {x} "
                           f"except all select {sel} from {y})").fetchone()[0]
    return missing(a, b) + missing(b, a)


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet')"


# ------------------------------------------------------------------ backfill

ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"]


def check_backfill(inp, params, res):
    con = duckdb.connect()
    lo, hi = params["window_start"], params["window_end"]
    con.execute(f"""create table ref as
        select {', '.join(ORDERS_COLS[:4])},
               case when year(o_orderdate) >= 10 then o_orderdate end as o_orderdate,
               o_orderpriority, md5(cast(o_orderkey as varchar)) as sk,
               cast({ORACLE_TS} as varchar) as timestamp_kafka
        from read_parquet('{inp}/orders.parquet')
        where o_orderdate >= date '{lo}' and o_orderdate <= date '{hi}'""")
    want = con.execute("select count(*) from ref").fetchone()[0]
    cols = ORDERS_COLS + ["sk", "timestamp_kafka"]
    failures = []
    reps = res["outputs"].get("reps", [])
    for rep in reps:
        work = con.execute(f"select count(*) from {_pq(rep + '/work')}").fetchone()[0]
        if work != want:
            failures.append(f"{rep}: WORK has {work} rows, window has {want}")
            continue
        con.execute(f"""create or replace view got as
            select {', '.join(ORDERS_COLS)}, sk, cast(timestamp_kafka as varchar) as timestamp_kafka
            from {_pq(rep + '/trusted')}""")
        d = _diff(con, "got", "ref", cols)
        if d:
            failures.append(f"{rep}: TRUSTED differs from the reference in {d} rows")
    return len(reps), failures, {"window_rows": want}


# -------------------------------------------------------------------- upsert

LI_COLS = [f.name for f in gen.LINEITEM_SCHEMA]


def curated_sql(src):
    """The promote of a lineitem batch: T1 sk, T2 oracle stamp, T3 year
    repair, T4 the minimum row struct per sk (nulls first, field by field)."""
    fixed = ", ".join(
        "case when year(l_shipdate) >= 10 then l_shipdate end as l_shipdate"
        if c == "l_shipdate" else c for c in LI_COLS)
    order = ", ".join(f"{c} asc nulls first" for c in LI_COLS)
    return f"""select * exclude (rn) from (
        select *, row_number() over (partition by sk order by {order}) as rn from (
            select {fixed},
                   md5(concat(cast(l_orderkey as varchar), cast(l_linenumber as varchar))) as sk,
                   {ORACLE_TS} as timestamp_kafka
            from {src}))
        where rn = 1"""


def check_upsert(inp, params, res):
    con = duckdb.connect()
    con.execute(f"create table t as {curated_sql(_file(inp + '/base/part-0.parquet'))}")
    n = res["outputs"].get("batches_applied", 0)
    for b in range(n):
        con.execute(f"create or replace temp table cur as "
                    f"{curated_sql(_file(f'{inp}/batches/b{b:03d}.parquet'))}")
        con.execute("delete from t where sk in (select sk from cur)")
        con.execute("insert into t select * from cur")
    cols = [c for c in LI_COLS if c != "l_shipdate"] + [
        "epoch_us(l_shipdate) as l_shipdate", "sk", "cast(timestamp_kafka as varchar) as ts"]
    con.execute(f"create view got as select {', '.join(cols)} from {_pq(res['outputs']['trusted'])}")
    con.execute(f"create view want as select {', '.join(cols)} from t")
    failures = []
    d = _diff(con, "got", "want", LI_COLS + ["sk", "ts"])
    if d:
        failures.append(f"TRUSTED differs from the replay of base + {n} batches in {d} rows")
    rows = con.execute("select count(*) from t").fetchone()[0]
    return 1, failures, {"trusted_rows": rows, "batches_replayed": n}


def base_trusted(inp, out):
    """The TRUSTED table the stream starts from: the promote of the base."""
    con = duckdb.connect()
    t = con.execute(f"select * from ({curated_sql(_file(inp))}) order by sk").arrow()
    pq.write_table(t, out, compression="snappy")
    return t.num_rows


def _file(path):
    return f"read_parquet('{path}')"


# --------------------------------------------------------------------- dedup

def check_dedup(inp, params, res):
    with open(f"{inp}/truth.json") as f:
        truth = json.load(f)
    keep, planted = set(truth["keep"]), set(truth["planted"])
    corpus = pq.read_table(f"{inp}/corpus/part-0.parquet").to_pydict()
    rows = {i: tuple(corpus[c][k] for c in corpus) for k, i in enumerate(corpus["doc_id"])}
    text = {i: " ".join(corpus["text"][k].lower().split()) for k, i in enumerate(corpus["doc_id"])}
    failures = []
    recall = precision = 1.0
    reps = res["outputs"].get("reps", [])
    for rep in reps:
        t = pq.read_table(rep).to_pydict()
        got = [tuple(t[c][k] for c in corpus) for k in range(len(t["doc_id"]))]
        ids = set(t["doc_id"])
        if len(ids) != len(got) or any(rows.get(r[0]) != r for r in got):
            failures.append(f"{rep}: output rows are not distinct input rows")
            continue
        removed = set(rows) - ids
        hit = len(removed & planted)
        recall = min(recall, hit / len(planted))
        precision = min(precision, hit / len(removed) if removed else 1.0)
        # every removal must be a true duplicate of some kept document:
        # the same normalised text or 3-shingle Jaccard >= 0.8
        wrong = removed - planted
        wrong = {d for d in wrong
                 if not any(text[d] == text[k] or gen.jaccard(text[d], text[k]) >= 0.8
                            for k in ids)}
        if wrong:
            failures.append(f"{rep}: {len(wrong)} removed docs are not duplicates")
        if recall < 0.95:
            failures.append(f"{rep}: recall {recall:.4f} below 0.95")
    return len(reps), failures, {"dedup_recall": recall, "dedup_precision": precision,
                                 "planted": len(planted), "kept_expected": len(keep)}


# ----------------------------------------------------------------------- ann

def _load_vectors(path):
    t = pq.read_table(path)
    ids = np.asarray(t["vec_id"].to_numpy(), dtype=np.int64)
    v = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    return ids, v


def check_ann(inp, params, res):
    """Every answer must be k distinct corpus vectors in exact-cosine
    order; recall@k is measured against the exact top-k (numpy)."""
    out = res["outputs"]
    k = out["k"]
    base = _load_vectors(f"{inp}/vectors/part-base.parquet")
    appends = [_load_vectors(f"{inp}/appends/a{a:03d}.parquet")
               for a in range(out["appends_applied"])]
    q_ids, q_v = _load_vectors(f"{inp}/queries.parquet")
    qpos = {q: i for i, q in enumerate(q_ids)}
    # columns: step, appends applied before it, q_id, neighbour, rank
    rows = np.loadtxt(out["results"], delimiter=",", dtype=np.int64, ndmin=2)
    failures, recalls = [], {}
    for n_app in np.unique(rows[:, 1]):
        ids = np.concatenate([base[0]] + [a[0] for a in appends[:n_app]])
        v = np.concatenate([base[1]] + [a[1] for a in appends[:n_app]])
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        idpos = {x: j for j, x in enumerate(ids)}
        state = rows[rows[:, 1] == n_app]
        qs = np.unique(state[:, 2])
        qm = q_v[[qpos[q] for q in qs]]
        cos = (qm / np.linalg.norm(qm, axis=1, keepdims=True)) @ vn.T
        exact = np.argsort(-cos, axis=1, kind="stable")[:, :k]
        qrow = {q: j for j, q in enumerate(qs)}
        for step in np.unique(state[:, 0]):
            at = state[state[:, 0] == step]
            for q in np.unique(at[:, 2]):
                mine = at[at[:, 2] == q]
                mine = mine[np.argsort(mine[:, 4])]
                got = [int(x) for x in mine[:, 3]]
                if list(mine[:, 4]) != list(range(1, k + 1)) or len(set(got)) != k:
                    failures.append(f"step {step} query {q}: ranks or neighbours malformed")
                    continue
                if any(g not in idpos for g in got):
                    failures.append(f"step {step} query {q}: neighbour outside the corpus")
                    continue
                c = cos[qrow[q], [idpos[g] for g in got]]
                if np.any(np.diff(c) > 1e-6):
                    failures.append(f"step {step} query {q}: neighbours not in cosine order")
                truth = set(int(ids[j]) for j in exact[qrow[q]])
                recalls[(int(step), int(q))] = len(set(got) & truth) / k
    return len(recalls), failures, {"recalls": recalls}


CHECKS = {
    "backfill_jdbc_date": check_backfill,
    "upsert_stream": check_upsert,
    "corpus_dedup": check_dedup,
    "ann_serve": check_ann,
}


def check(workload, inp, params, res):
    return CHECKS[workload](inp, params, res)
