"""Output check against DuckDB: the registry's own oracle SQL for registry
entries, and a DuckDB word count plus a mass check for the word-count
pipeline. Oracle answers are cached per (input directory, SQL).

The row comparison is the type-tagged rule of scripts/check.py: columns
sorted by name, each value tagged with its Python type name (so 6000 vs
6000.0 or int32 vs int64 fail), rows sorted and compared exactly.
"""
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TOKEN_RE = "[a-z']+"


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", v)
    return (type(v).__name__, v)


def rows_of(df):
    """(sorted column names, rows sorted by their string form)."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(norm(v) for v in r) for r in df.itertuples(index=False)]
    return list(df.columns), sorted(rows, key=str)


def compare(got, exp):
    """Return None when (columns, rows) pairs match, else a message."""
    gc, gr = got
    ec, er = exp
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} vs {len(er)}"
    bad = [(a, b) for a, b in zip(gr, er) if a != b]
    if bad:
        return f"{len(bad)}/{len(gr)} row mismatches; first: spark {bad[0][0]} duckdb {bad[0][1]}"
    return None


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def cached(cache_dir, key, compute):
    os.makedirs(cache_dir, exist_ok=True)
    path = f"{cache_dir}/{hashlib.sha256(key.encode()).hexdigest()[:20]}.pkl"
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(value, f)
    os.replace(tmp, path)
    return value


def check_registry(data_dir, results_dir, oracle_sql, cache_dir):
    """{query: None | mismatch message} for each registry entry."""
    con = connect(data_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(f"{results_dir}/{name}/*.parquet")
        if not files:
            out[name] = "no result written"
            continue
        try:
            got = rows_of(con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df())
            exp = cached(cache_dir, f"{data_dir}\n{sql}",
                         lambda: rows_of(con.execute(sql).df()))
            out[name] = compare(got, exp)
        except Exception as e:  # an unreadable result or oracle error is a failure
            out[name] = f"error: {e}"[:300]
    con.close()
    return out


def word_counts(data_dir, cache_dir):
    """DuckDB word count over the unzipped corpus: {word: count}."""
    def compute():
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        rows = con.execute(f"""
            SELECT word, count(*) FROM (
              SELECT unnest(regexp_extract_all(lower(line), '{TOKEN_RE.replace("'", "''")}')) AS word
              FROM read_csv('{data_dir}/corpus_synth', columns={{'line': 'VARCHAR'}},
                            header=false, delim='\t', quote='', escape=''))
            GROUP BY word""").fetchall()
        con.close()
        return dict(rows)
    return cached(cache_dir, f"{data_dir}\nwordcount", compute)


def check_wordcount(data_dir, results_dir, cache_dir):
    """Top-20 report against the oracle, and the reducer objects: every
    word in exactly one file, counts equal to the oracle, and the objects
    summing to the corpus token total."""
    counts = word_counts(data_dir, cache_dir)
    out = {}
    seen = {}
    dup = 0
    for f in sorted(glob.glob(f"{results_dir}/reduce/reduce-*.json")):
        with open(f, encoding="utf-8") as fh:
            obj = json.load(fh, object_pairs_hook=lambda kv: kv)
        for w, c in obj:
            if w in seen:
                dup += 1
            seen[w] = seen.get(w, 0) + c
    total = sum(counts.values())
    if dup:
        out["wordcount_reduce"] = f"{dup} words appear in more than one reducer file"
    elif sum(seen.values()) != total:
        out["wordcount_reduce"] = f"mass {sum(seen.values())} vs token total {total}"
    elif seen != counts:
        diff = [w for w in set(seen) | set(counts) if seen.get(w) != counts.get(w)]
        out["wordcount_reduce"] = f"{len(diff)} word counts differ, e.g. {diff[0]!r}"
    else:
        out["wordcount_reduce"] = None
    top = sorted(counts.items(), key=lambda wc: (-wc[1], -len(wc[0]), wc[0]))[:20]
    con = duckdb.connect()
    try:
        got = con.execute(f"SELECT word, cnt FROM read_parquet('{results_dir}/wordcount_top20/*.parquet')"
                          ).fetchall()
        got = sorted(got, key=lambda wc: (-wc[1], -len(wc[0]), wc[0]))
        out["wordcount_top20"] = None if got == top else f"top-20 differs: {got[:3]} vs {top[:3]}"
    except Exception as e:
        out["wordcount_top20"] = f"error: {e}"[:300]
    con.close()
    return out
