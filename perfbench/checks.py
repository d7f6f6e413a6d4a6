"""Output checks, run after the timed region. Each returns
(checks made, list of failure messages)."""
import decimal
import glob
import math
import os

import numpy as np
import pyarrow.parquet as pq

import gen

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]


def queries(check_dir, data_dir, names):
    """Every captured Spark result equals DuckDB running the query's oracle
    SQL over the same generated tables: same columns, same rows in order."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    fails = []
    for n in names:
        files = glob.glob(os.path.join(check_dir, n, "*.parquet"))
        sql_file = os.path.join(check_dir, f"{n}.sql")
        if not files or not os.path.isfile(sql_file):
            fails.append(f"{n}: no captured result")
            continue
        try:
            got_cols, got = _rows(con.sql(f"SELECT * FROM '{check_dir}/{n}/*.parquet'"))
            exp_cols, exp = _rows(con.sql(open(sql_file).read()))
        except Exception as e:  # an unreadable result is a failed check
            fails.append(f"{n}: {e}")
            continue
        if got_cols != exp_cols:
            fails.append(f"{n}: columns {got_cols} != oracle {exp_cols}")
        elif got != exp:
            fails.append(f"{n}: {len(got)} rows differ from the oracle's {len(exp)}")
    return len(names), fails


def etl(ledgers, manifest):
    """No ledger error rows; staged, geoprocessed and published row counts
    equal the generator's staged and by-construction kept counts."""
    want = {s["name"]: s for s in manifest["sources"]}
    expected = {"stage": "staged", "geoprocess": "kept", "publish": "kept"}
    checks, fails = 0, []
    for i, ledger in enumerate(ledgers):
        for row in ledger:
            checks += 1
            if row["status"] == "error":
                fails.append(f"pass {i} {row['source']}/{row['phase']}: {row['error'][:200]}")
        done = {(r["source"], r["phase"]): r["rows"] for r in ledger if r["status"] == "done"}
        for name, src in want.items():
            for phase, key in expected.items():
                checks += 1
                got = done.get((name, phase))
                if got != src[key]:
                    fails.append(f"pass {i} {name}/{phase}: {got} rows, expected {src[key]}")
    return checks, fails


def recall(data_dir, reference, k, floor):
    """recall@k of the IVF probe against the exact cosine ranking of the
    live corpus; returns (recall, checks, failures)."""
    vt = pq.read_table(os.path.join(data_dir, "vectors.parquet"))
    corpus_mask = np.asarray(vt.column("batch")) == -1
    ids = np.asarray(vt.column("vec_id"))[corpus_mask]
    vecs = np.stack(vt.column("embedding").to_numpy(zero_copy_only=False))[corpus_mask]
    qt = pq.read_table(os.path.join(data_dir, "queries.parquet"))
    qids = np.asarray(qt.column("query_id"))
    qvecs = np.stack(qt.column("embedding").to_numpy(zero_copy_only=False))
    truth = ids[gen.brute_top_k(vecs, qvecs, k)]
    got = {}
    for qid, _, vid in reference:
        got.setdefault(qid, set()).add(vid)
    hits = sum(len(got.get(int(q), set()) & set(int(x) for x in t)) for q, t in zip(qids, truth))
    r = hits / float(k * len(qids))
    fails = [] if r >= floor else [f"IVF recall@{k} {r:.4f} below the {floor} floor"]
    return r, 1, fails
