"""Independent correctness checks. The inventory workloads: each dumped
Spark result against its DuckDB oracle SQL, under the comparison rules of
the repository's local oracle verifier (columns matched by name, equal
dtypes and row counts, cell equality with NaN == NaN). mr_books: each
job's result against the plain-Scala reference fold."""
import hashlib
import math
import os
import pickle

import duckdb

from gen import TABLES


def _oracle_frame(sql, data_dir, cache_dir):
    """The oracle's answer, cached by (oracle SQL, data dir)."""
    key = hashlib.sha256(f"{data_dir}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    rel = con.sql(sql)
    df = rel.df()[sorted(rel.columns)]
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def _cells_equal(a, b):
    if a is None and b is None:
        return True
    try:
        if a == b:
            return True
    except Exception:
        pass
    if isinstance(a, float) and isinstance(b, float):
        return math.isnan(a) and math.isnan(b)
    try:
        return (a != a) and (b != b)  # pandas NaN for nulls
    except Exception:
        return False


def compare(sdf, ddf):
    """None when the frames match, else the first difference."""
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"columns differ spark={sorted(sdf.columns)} oracle={sorted(ddf.columns)}"
    cols = sorted(sdf.columns)
    sdf, ddf = sdf[cols], ddf[cols]
    dt = {c: (str(sdf[c].dtype), str(ddf[c].dtype)) for c in cols
          if str(sdf[c].dtype) != str(ddf[c].dtype)}
    if dt:
        return f"dtypes differ {dt}"
    if len(sdf) != len(ddf):
        return f"rows spark={len(sdf)} oracle={len(ddf)}"
    for c in cols:
        for i, (a, b) in enumerate(zip(sdf[c].tolist(), ddf[c].tolist())):
            if not _cells_equal(a, b):
                return f"first diff col={c} row={i} spark={a!r} oracle={b!r}"
    return None


#: the part of the mr_books reference each job produces
MR_KIND = {"ta_wordcount": "wordcount", "mr_wordcount": "wordcount",
           "kv_wordcount": "wordcount", "ta_invindex": "invindex",
           "mr_invindex": "invindex"}


def check_mr(job, got, ref):
    """'ok' when the job's rows equal the reference part it produces (word
    counts, or each word's set of files), else the difference."""
    kind = MR_KIND[job]
    want = ref[kind]
    if kind == "invindex":
        got = {w: sorted(set(fs)) for w, fs in got.items()}
        want = {w: sorted(fs) for w, fs in want.items()}
    if got == want:
        return "ok"
    missing = len(want.keys() - got.keys())
    extra = len(got.keys() - want.keys())
    differ = sum(1 for w in want.keys() & got.keys() if got[w] != want[w])
    return (f"{kind} differs: {len(got)} words vs {len(want)} in the reference "
            f"({missing} missing, {extra} extra, {differ} with other values)")


def check_dumps(dumps, oracle_sql, cache_dir):
    """{(name, scale): verdict} with verdict 'ok', 'no-oracle' (the query
    has no SQL form; its rows are not checked) or the mismatch, plus
    {(name, scale): oracle row count}."""
    verdicts, rows = {}, {}
    con = duckdb.connect()
    for d in dumps:
        key = (d["name"], d["scale"])
        if d["error"]:
            verdicts[key] = "spark error: " + d["error"]
            continue
        sql = oracle_sql.get(d["name"])
        if sql is None:
            verdicts[key] = "no-oracle"
            continue
        try:
            sdf = con.sql(f"SELECT * FROM read_parquet('{d['path']}/*.parquet')").df()
            ddf = _oracle_frame(sql, d["data_dir"], cache_dir)
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[key] = f"check error: {type(e).__name__}: {e}"[:300]
            continue
        rows[key] = len(ddf)
        verdicts[key] = compare(sdf, ddf) or "ok"
    return verdicts, rows
