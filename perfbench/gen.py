"""Seeded input generator for the benchmark workloads.

Every value is a pure function of (row id, salt), where each salt is
derived from the seed argument, so one seed always yields the same files
and another seed yields different ones. Schemas and distributions follow
graft.GenSf (tables) and graft.Flagship1G (zipped Zipf corpus); DuckDB
writes the files, so generation needs no JVM and is not part of any
timed phase.

Usage (normally called by run.py):
    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import glob
import hashlib
import json
import os
import shutil
import sys
import zipfile

import duckdb

# Rows per table at scale 1.0 (GenSf's sf0.1 base counts).
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "users": 1500, "documents": 5000,
}
# GenSf's 31-word document vocabulary.
VOCAB = ["spark", "line", "column", "order", "small", "sort", "batch", "part",
         "scan", "fast", "query", "agg", "data", "stream", "group", "merge",
         "vector", "filter", "customer", "value", "slow", "index", "join",
         "shuffle", "cache", "table", "row", "key", "hash", "plan", "node"]
MAX_EVENT_VALUE = 599.0  # graft.Tables.MaxEventValue

# Per-workload input sizes: which tables, at which scale, plus corpus size.
SIZES = {
    "wordcount_ingest": {"corpus_bytes": 20_000_000, "vocab": 50000},
    "registry_mix": {"scale": 0.05, "docs": 800, "vecs": 800, "tables": [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"]},
}
GEN_VERSION = 1  # bump when the generated data changes for a given seed
KEEP_INPUTS = 4


def salts(seed):
    """Map each named draw to a 31-bit salt derived from the seed."""
    def salt(name):
        h = hashlib.sha256(f"{seed}:{name}".encode()).digest()
        return int.from_bytes(h[:4], "little") & 0x7FFFFFFF
    return salt


def size_key(workload):
    return hashlib.sha256(json.dumps(
        [GEN_VERSION, SIZES[workload]], sort_keys=True).encode()).hexdigest()[:10]


def _u(expr, s):
    """Uniform [0,1) keyed on (expr, salt s)."""
    return f"(CAST(hash(CAST({expr} AS BIGINT), CAST({s} AS BIGINT)) % 1000000 AS DOUBLE) / 1000000.0)"


def _h(expr, s, mod):
    return f"CAST(hash(CAST({expr} AS BIGINT), CAST({s} AS BIGINT)) % {mod} AS BIGINT)"


def _pick(values, expr, s):
    arr = "[" + ",".join(f"'{v}'" for v in values) + "]"
    return f"{arr}[{_h(expr, s, len(values))} + 1]"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 1000000)")


def gen_tables(con, out, salt, tables, scale, n_docs=None, n_vecs=None):
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    if n_docs:
        n["documents"] = n_docs
    s = salt
    q = {}
    q["region"] = ("SELECT CAST(i AS INTEGER) AS r_regionkey, "
                   "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
                   "FROM range(5) t(i)")
    q["nation"] = ("SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                   "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)")
    q["customer"] = f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST({_h('i', s('c_nation'), 25)} AS INTEGER) AS c_nationkey,
        round({_u('i', s('c_acctbal'))} * 11000.0 - 1000.0, 2) AS c_acctbal,
        {_pick(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'], 'i', s('c_seg'))} AS c_mktsegment
        FROM range({n['customer']}) t(i)"""
    q["supplier"] = f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
        CAST({_h('i', s('s_nation'), 25)} AS INTEGER) AS s_nationkey,
        round({_u('i', s('s_acctbal'))} * 11000.0 - 1000.0, 2) AS s_acctbal
        FROM range({n['supplier']}) t(i)"""
    colors = ['large', 'hot', 'blue', 'red', 'green', 'small', 'dim', 'plated', 'polished', 'rusty']
    shapes = ['ring', 'bolt', 'screw', 'washer', 'anchor', 'cog', 'plate', 'rod']
    q["part"] = f"""SELECT i AS p_partkey,
        {_pick(colors, 'i', s('p_color'))} || ' ' || {_pick(shapes, 'i', s('p_shape'))} AS p_name,
        'Brand#' || ({_h('i', s('p_brand'), 25)} + 1) AS p_brand,
        {_pick(['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'], 'i', s('p_type'))} AS p_type,
        CAST({_h('i', s('p_size'), 50)} + 1 AS INTEGER) AS p_size,
        round(900.0 + CAST(i % 1000 AS DOUBLE) / 10.0, 2) AS p_retailprice
        FROM range({n['part']}) t(i)"""
    q["orders"] = f"""SELECT i AS o_orderkey, {_h('i', s('o_cust'), n['customer'])} AS o_custkey,
        {_pick(['F','O','P'], 'i', s('o_status'))} AS o_orderstatus,
        round(1000.0 + {_u('i', s('o_price'))} * 499000.0, 2) AS o_totalprice,
        CAST(DATE '1995-01-01' + CAST({_h('i', s('o_date'), 2404)} AS INTEGER) AS TIMESTAMP) AS o_orderdate,
        {_pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], 'i', s('o_prio'))} AS o_orderpriority
        FROM range({n['orders']}) t(i)"""
    q["lineitem"] = f"""SELECT {_h('i', s('l_order'), n['orders'])} AS l_orderkey,
        {_h('i', s('l_part'), n['part'])} AS l_partkey,
        {_h('i', s('l_supp'), n['supplier'])} AS l_suppkey,
        CAST({_h('i', s('l_line'), 7)} + 1 AS INTEGER) AS l_linenumber,
        CAST({_h('i', s('l_qty'), 50)} + 1 AS DOUBLE) AS l_quantity,
        round(1000.0 + {_u('i', s('l_price'))} * 104000.0, 2) AS l_extendedprice,
        CAST({_h('i', s('l_disc'), 11)} AS DOUBLE) / 100.0 AS l_discount,
        CAST({_h('i', s('l_tax'), 9)} AS DOUBLE) / 100.0 AS l_tax,
        {_pick(['A','N','R'], 'i', s('l_flag'))} AS l_returnflag,
        {_pick(['F','O'], 'i', s('l_status'))} AS l_linestatus,
        CAST(DATE '1995-01-01' + CAST({_h('i', s('l_ship'), 2499)} AS INTEGER) AS TIMESTAMP) AS l_shipdate
        FROM range({n['lineitem']}) t(i)"""
    # events: 30-day span, exponential-ish values clipped like GenSf
    q["events"] = f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01 00:00:00' + to_seconds({_h('i', s('e_ts'), 30 * 86400)}) AS ts,
        {_h('i', s('e_user'), n['users'])} AS user_id,
        {_pick(['click','error','purchase','signup','view'], 'i', s('e_type'))} AS event_type,
        round(least(-50.0 * ln(1.0 - {_u('i', s('e_value'))} * 0.99999), {MAX_EVENT_VALUE}), 2) AS value,
        '{{"k": ' || {_h('i', s('e_props'), 100)} || '}}' AS props
        FROM range({n['events']}) t(i)"""
    # documents: exact-dup (~2%) and near-dup (~3%) groups over a base
    # universe of nDocs/100 ids, 8..95 words per doc, like GenSf
    n_base = max(50, n["documents"] // 100)
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"

    def words(seed_col):
        return (f"array_to_string(list_transform(range(1, nw + 1), j -> {vocab}["
                f"CAST(hash(CAST({seed_col} AS BIGINT), CAST(j AS BIGINT), "
                f"CAST({s('d_word')} AS BIGINT)) % {len(VOCAB)} AS BIGINT) + 1]), ' ')")
    q["documents"] = f"""WITH a AS (
          SELECT i AS doc_id, {_u('i', s('d_dup'))} AS udup, {_h('i', s('d_base'), n_base)} AS base_id
          FROM range({n['documents']}) t(i)),
        b AS (SELECT doc_id,
          CASE WHEN udup < 0.05 THEN base_id ELSE doc_id END AS tseed,
          CASE WHEN udup >= 0.02 AND udup < 0.05 THEN base_id ELSE -1 END AS near_of FROM a),
        c AS (SELECT doc_id, near_of, tseed, CAST(8 + {_h('tseed', s('d_len'), 88)} AS INTEGER) AS nw FROM b),
        d AS (SELECT doc_id, CASE WHEN near_of >= 0
                THEN {words('tseed')} || ' ' || {_pick(VOCAB, 'doc_id', s('d_extra'))}
                ELSE {words('tseed')} END AS text,
              {_u('doc_id', s('d_lang'))} AS ul FROM c)
        SELECT doc_id, text,
          CASE WHEN ul < 0.41 THEN 'en' WHEN ul < 0.56 THEN 'zh' WHEN ul < 0.71 THEN 'es'
               WHEN ul < 0.86 THEN 'fr' ELSE 'de' END AS lang,
          'src' || {_h('doc_id', s('d_src'), 20)} AS source,
          CAST(length(text) AS BIGINT) AS n_chars
        FROM d ORDER BY doc_id"""
    # embeddings: 64-dim float, 10 label clusters (center + noise)
    q["embeddings"] = f"""SELECT i AS vec_id,
        list_transform(range(1, 65), j -> CAST(
          (CAST(hash(CAST(i % 10 AS BIGINT), CAST(j AS BIGINT), CAST({s('v_center')} AS BIGINT)) % 1000000 AS DOUBLE) / 500000.0 - 1.0) * 0.2
          + (CAST(hash(CAST(i AS BIGINT), CAST(j AS BIGINT), CAST({s('v_noise')} AS BIGINT)) % 1000000 AS DOUBLE) / 500000.0 - 1.0) * 0.1
          AS FLOAT)) AS embedding,
        CAST(i % 10 AS INTEGER) AS label
        FROM range({n_vecs or 2000}) t(i)"""
    for t in tables:
        _copy(con, q[t], f"{out}/{t}.parquet")


def gen_corpus(con, out, salt, target_bytes, vocab):
    """Flagship1G's corpus: 12 log-uniform-rank (Zipf) 4-letter words per
    60-byte line, zipped as one member with deflate level 1."""
    n_lines = target_bytes // 60
    s = salt("corpus")
    u = (f"(CAST(hash(CAST(i AS BIGINT), CAST(j AS BIGINT), CAST({s} AS BIGINT)) "
         f"% 9007199254740992 AS DOUBLE) / 9007199254740992.0)")
    rank = f"(CAST(floor(pow({float(vocab)}, {u})) AS BIGINT) + 17576)"

    def letter(div):
        return f"chr(CAST(97 + (r // {div}) % 26 AS INTEGER))"
    word = f"{letter(1)} || {letter(26)} || {letter(676)} || {letter(17576)}"
    txt = f"{out}/corpus_synth"
    con.execute(f"""COPY (
        SELECT array_to_string(list_transform(
            list_transform(range(1, 13), j -> {rank}), r -> {word}), ' ') AS line
        FROM range({n_lines}) t(i) ORDER BY i)
        TO '{txt}' (FORMAT CSV, HEADER false, QUOTE '', ESCAPE '', DELIMITER '\t')""")
    zpath = f"{out}/corpus.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.write(txt, "corpus_synth")
    return txt


def describe(con, out, workload):
    """Input bytes, rows, layout and vocabulary for the run record."""
    info = {"tables": {}, "bytes": 0}
    for f in sorted(os.listdir(out)):
        p = f"{out}/{f}"
        if f.endswith(".parquet"):
            rows = con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0]
            rgs = con.execute(
                f"SELECT count(DISTINCT row_group_id) FROM parquet_metadata('{p}')").fetchone()[0]
            size = os.path.getsize(p)
            info["tables"][f[:-8]] = {"rows": rows, "bytes": size, "files": 1,
                                      "row_groups": rgs}
            info["bytes"] += size
    if workload == "wordcount_ingest":
        z = f"{out}/corpus.zip"
        raw = os.path.getsize(f"{out}/corpus_synth")
        lines, distinct = con.execute(
            f"""SELECT count(*), (SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(line, ' ')) AS w
                 FROM read_csv('{out}/corpus_synth', columns={{'line': 'VARCHAR'}}, header=false,
                               delim='\t', quote='', escape='')))
                FROM read_csv('{out}/corpus_synth', columns={{'line': 'VARCHAR'}}, header=false,
                              delim='\t', quote='', escape='')""").fetchone()
        info["tables"]["corpus"] = {"rows": lines, "bytes": os.path.getsize(z),
                                    "raw_bytes": raw, "files": 1, "zip_members": 1}
        info["bytes"] += os.path.getsize(z)
        info["vocabulary"] = distinct
    elif "documents" in info["tables"]:
        info["vocabulary"] = len(VOCAB)
    return info


def generate(workload, seed, root):
    """Generate (or reuse) the inputs for (workload, seed, size) under
    root; return (data_dir, description)."""
    out = f"{root}/{workload}-s{seed}-{size_key(workload)}"
    done = f"{out}/_input.json"
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    salt = salts(seed)
    size = SIZES[workload]
    if workload == "wordcount_ingest":
        gen_corpus(con, tmp, salt, size["corpus_bytes"], size["vocab"])
    else:
        gen_tables(con, tmp, salt, size["tables"], size.get("scale", 0.01),
                   n_docs=size.get("docs"), n_vecs=size.get("vecs"))
    info = describe(con, tmp, workload)
    info["seed"] = seed
    info["size"] = size
    con.close()
    with open(f"{tmp}/_input.json", "w") as f:
        json.dump(info, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # keep the inputs of the last few seeds only; the corpus is ~60 MB a seed
    dirs = [d for d in glob.glob(f"{root}/{workload}-s*") if not d.endswith(".tmp")]
    for d in sorted(dirs, key=os.path.getmtime)[:-KEEP_INPUTS]:
        shutil.rmtree(d, ignore_errors=True)
    return out, info


if __name__ == "__main__":
    d, i = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(d)
    print(json.dumps(i, indent=1))
