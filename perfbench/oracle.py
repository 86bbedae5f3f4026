"""DuckDB oracle for the query board written by a traced run.

Each query's parquet output is compared with its oracle SQL run by
DuckDB over the same seeded tables: row count, sorted column names and
an order-insensitive value hash, in the canonical form of
tools/check_oracle.py. `w2v_cells` has no oracle (word2vec training is
iterative and float-order sensitive); its rows and schema are checked
against the vocabulary it must cover instead.
"""
import glob
import hashlib
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# w2v_cells: one (word, dim) row per distinct lang and source cell value
# (nulls as 'Nan'), each vector of the query's fixed 16 dimensions.
W2V_INVARIANT = """
SELECT DISTINCT w AS word, CAST(16 AS BIGINT) AS dim FROM (
  SELECT coalesce(CAST(lang AS VARCHAR), 'Nan') AS w FROM documents
  UNION ALL
  SELECT coalesce(CAST(source AS VARCHAR), 'Nan') AS w FROM documents)
"""


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)


def table_hash(rows, cols):
    h = hashlib.sha256()
    for line in canon_rows(rows, cols):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(con, out_dir, name, sql):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return {"ok": False, "error": "no output"}
    t = pa.concat_tables([pq.read_table(f) for f in files])
    rows = [tuple(c[i].as_py() for c in t.columns) for i in range(t.num_rows)]
    d = con.execute(sql)
    dcols = [c[0] for c in d.description]
    drows = d.fetchall()
    res = {"rows": len(rows), "oracle_rows": len(drows),
           "schema_match": sorted(t.column_names) == sorted(dcols),
           "hash_match": table_hash(rows, t.column_names) == table_hash(drows, dcols)}
    res["ok"] = res["schema_match"] and res["hash_match"] and len(rows) == len(drows)
    if not res["ok"]:
        mine, theirs = canon_rows(rows, t.column_names), canon_rows(drows, dcols)
        res["first_diff"] = next(({"spark": a[:300], "oracle": b[:300]}
                                  for a, b in zip(mine, theirs) if a != b), None)
    return res


def check_board(board_dir, out_dir):
    """Returns {query: result} for every query with an oracle, plus w2v_cells."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(board_dir, t + '.parquet', '*.parquet')}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    results = {}
    for name in sorted(set(oracle) | {"w2v_cells"}):
        sql = oracle.get(name, W2V_INVARIANT)
        try:
            results[name] = compare(con, out_dir, name, sql)
        except Exception as e:  # a failed comparison is a failed check
            results[name] = {"ok": False, "error": str(e)[:300]}
    con.close()
    return results
