"""Output check of the dedup_docs workload: each board query's first-pass
result must equal its DuckDB oracle (`graft.SparkEntry.oracleSql`) over the
same generated corpus, compared as tools/selfcheck.py compares them:
columns sorted by name, rows sorted, cell by cell.

Each expected result is cached under a hash of the query's oracle SQL
and of the corpus rows, so a change to either computes it again.
"""
import hashlib
import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from selfcheck import canon  # noqa: E402  the repository's own normal form


def corpus_digest(con):
    """A digest of the corpus rows in doc_id order, whatever files hold them."""
    return con.execute(
        "SELECT md5(string_agg(concat_ws(chr(31), doc_id, text, lang, source, n_chars), "
        "chr(30) ORDER BY doc_id)) FROM documents").fetchone()[0]


def connect(corpus):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{corpus}/documents.parquet/*.parquet')")
    return con


def expected(corpus, sqls, cache):
    digest = corpus_digest(connect(corpus))
    os.makedirs(cache, exist_ok=True)
    path = {q: os.path.join(cache, hashlib.sha256(
        f"{sqls[q]}\0{digest}".encode()).hexdigest() + ".parquet") for q in sqls}

    def run(q):
        out = path[q]
        if os.path.exists(out):
            return
        connect(corpus).execute(sqls[q]).fetchdf().to_parquet(out + f".{os.getpid()}.tmp")
        os.replace(out + f".{os.getpid()}.tmp", out)

    # one connection per query, run side by side: about 12 s on a 4-core
    # host for the six, against about 16 s one after another
    with ThreadPoolExecutor(len(sqls)) as pool:
        list(pool.map(run, sqls))
    return {q: canon(pd.read_parquet(path[q])) for q in sqls}


def diff(expect, actual):
    """None when equal, else a one-line reason."""
    if list(expect.columns) != list(actual.columns):
        return f"columns {list(actual.columns)} != {list(expect.columns)}"
    if len(expect) != len(actual):
        return f"rows {len(actual)} != {len(expect)}"
    for c in expect.columns:
        e, a = expect[c], actual[c]
        if pd.api.types.is_float_dtype(e):
            ok = ((e == a) | (e.isna() & a.isna())).all()
        else:
            ok = (e == a).all()
        if not ok:
            i = (e != a).idxmax()
            return f"col {c} spark={a.iloc[i]!r} oracle={e.iloc[i]!r}"
    return None


def check_board(raw, work, cache):
    """Appends one check per query to the run's checks."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sqls = json.load(f)
    want = expected(raw["extra"]["corpus_dir"], sqls, cache)
    for q in sorted(sqls):
        path = os.path.join(work, "results", q)
        if not os.path.isdir(path):
            reason = "no result"
        else:
            try:
                reason = diff(want[q], canon(pd.read_parquet(path)))
            except Exception as e:  # a result DuckDB or pandas cannot read
                reason = f"{type(e).__name__}: {e}"
        raw["checks"].append({"name": f"{q} matches the DuckDB oracle",
                              "ok": reason is None, "detail": reason or ""})
        raw["attempted"] += 1
        raw["failed"] += reason is not None
