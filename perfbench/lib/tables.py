"""Seeded input tables for query_mix, shaped like the sf0.1 test tables the
registry queries are written against, and the DuckDB oracle compare.

`events` (100k rows) is drawn from the run's seed. `documents` (5000) and
`embeddings` (2000) are drawn from a fixed seed: the oracle answers of the
band-join queries over them take DuckDB about a minute, so they are
computed once per build (`warm_oracle_cache`) and cached under the build
directory, keyed by the oracle SQL and the table bytes.
"""
import hashlib
import json
import os
import time

import duckdb
import numpy as np
import pandas as pd

FIXED_SEED = 20240101
N_EVENTS, N_DOCS, N_VECS, DIM = 100_000, 5000, 2000, 64
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()


def _write(con, df, path):
    con.register("t", df)
    con.execute(f"COPY (SELECT * FROM t) TO '{path}' (FORMAT PARQUET)")
    con.unregister("t")


def make_events(seed, path):
    """30 days of events: uniform users and types, exponential values."""
    rng = np.random.default_rng([seed, 3])
    gaps = rng.exponential(1.0, N_EVENTS)
    t = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.round(t * 1e6).astype(np.int64), "us")
    df = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    con = duckdb.connect()
    _write(con, df, path)


def make_documents(path):
    """Random texts over a 30-word vocabulary, with 5% near duplicates
    (another document plus the token `dup`)."""
    rng = np.random.default_rng([FIXED_SEED, 4])
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(N_DOCS)]
    dups = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    dup_set = set(dups.tolist())
    originals = [i for i in range(N_DOCS) if i not in dup_set]
    for d in dups:
        texts[d] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    df = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "zh", "de", "es", "fr"])[rng.integers(0, 6, N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(duckdb.connect(), df, path)


def make_embeddings(path):
    """Unit-norm Gaussian vectors with a uniform label."""
    rng = np.random.default_rng([FIXED_SEED, 5])
    x = rng.standard_normal((N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    con = duckdb.connect()
    df = pd.DataFrame({"vec_id": np.arange(N_VECS, dtype=np.int64),
                       "emb": [r.tolist() for r in x],
                       "label": rng.integers(0, 10, N_VECS).astype(np.int32)})
    con.register("t", df)
    con.execute(f"COPY (SELECT vec_id, CAST(emb AS FLOAT[]) AS embedding, label FROM t) "
                f"TO '{path}' (FORMAT PARQUET)")


def make_tables(seed, data_dir, fixed_dir):
    """Write the three tables for `seed` into `data_dir`; the fixed ones
    are built once into `fixed_dir` and linked. With no `data_dir`, only
    build the fixed ones."""
    os.makedirs(fixed_dir, exist_ok=True)
    for name, fn in (("documents", make_documents), ("embeddings", make_embeddings)):
        src = os.path.join(fixed_dir, f"{name}.parquet")
        if not os.path.exists(src):
            fn(src + ".tmp")
            os.replace(src + ".tmp", src)
        if data_dir:
            os.makedirs(data_dir, exist_ok=True)
            os.link(src, os.path.join(data_dir, f"{name}.parquet"))
    if data_dir:
        make_events(seed, os.path.join(data_dir, "events.parquet"))


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _oracle_key(sql, hashes):
    """Cache key of an oracle answer: its SQL and the bytes of the tables it reads."""
    used = [t for t in hashes if t in sql]
    return used, hashlib.sha256(json.dumps([sql, [hashes[t] for t in used]]).encode()).hexdigest()


def warm_oracle_cache(fixed_dir, oracle_sql, cache_dir):
    """Compute and cache the oracle answers of the queries that read only
    the fixed tables, so no timed run pays for them. Returns the seconds."""
    make_tables(None, None, fixed_dir)
    con = duckdb.connect()
    hashes = {}
    for t in ("documents", "embeddings"):
        p = os.path.join(fixed_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        hashes[t] = _file_hash(p)
    os.makedirs(cache_dir, exist_ok=True)
    t0 = time.time()
    for sql in oracle_sql.values():
        if "events" in sql:
            continue
        cached = os.path.join(cache_dir, _oracle_key(sql, hashes)[1] + ".parquet")
        if not os.path.exists(cached):
            _write(con, con.execute(sql).df(), cached + ".tmp")
            os.replace(cached + ".tmp", cached)
    return time.time() - t0


def compare(data_dir, result_dir, oracle_sql, cache_dir):
    """Compare each query's result with its DuckDB oracle the way
    scripts/check.py does: columns sorted by name, rows sorted by value.
    Returns ({query: failure message or ""}, seconds spent in DuckDB)."""
    con = duckdb.connect()
    hashes = {}
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        hashes[t] = _file_hash(p)
    os.makedirs(cache_dir, exist_ok=True)
    out, spent = {}, 0.0
    for name, sql in oracle_sql.items():
        got_glob = os.path.join(result_dir, name, "*.parquet")
        try:
            got = _canon(con.execute(f"SELECT * FROM '{got_glob}'").df())
            used, key = _oracle_key(sql, hashes)
            cached = os.path.join(cache_dir, key + ".parquet")
            t0 = time.time()
            if os.path.exists(cached):
                exp = _canon(con.execute(f"SELECT * FROM '{cached}'").df())
            else:
                exp = _canon(con.execute(sql).df())
                if "events" not in used:
                    _write(con, exp, cached + ".tmp")
                    os.replace(cached + ".tmp", cached)
            spent += time.time() - t0
        except Exception as e:  # a failing oracle or unreadable result is a failure
            out[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if list(got.columns) != list(exp.columns):
            out[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            out[name] = f"rows {len(got)} != {len(exp)}"
        elif not got.equals(exp):
            out[name] = "values differ"
        else:
            out[name] = ""
    return out, spent
