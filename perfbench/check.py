"""Output checks made apart from the program.

* Each query's full output, as the cold pass and the untimed check pass
  after the warm passes wrote it, is compared with DuckDB running the program's own oracle SQL (`SparkEntry.oracleSql`)
  over the same input files: columns sorted by name, rows sorted, values
  compared by repr.
* Oracle answers are computed once per input set and cached under
  work/oracle/, keyed by the input files' contents, the SQL text and any
  file the SQL reads by path (the program's Senzing fixture).
  `python3 perfbench/check.py --rebuild` drops the cache and recomputes the
  answers of the last SQL dump of each workload whose inputs are still on
  disk; the others are recomputed by the next run that needs them.
"""
import glob
import gzip
import hashlib
import json
import os
import shutil
import sys

import duckdb


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '3GB'")
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(repr(v) for v in row) for row in df.itertuples(index=False))
    return list(df.columns), rows


def input_digest(data):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def referenced_files(sql):
    """Digest of files outside the input set that the SQL reads by path."""
    h = hashlib.sha256()
    for tok in sql.replace("'", " ").split():
        if tok.startswith("/") and os.path.isfile(tok):
            with open(tok, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def oracle_answer(con, digest, sql, work):
    key = hashlib.sha256((digest + "\0" + sql + "\0" + referenced_files(sql)).encode()).hexdigest()
    path = os.path.join(work, "oracle", key[:2], key + ".json.gz")
    if os.path.exists(path):
        with gzip.open(path, "rt") as f:
            return json.load(f)
    cols, rows = normalize(con.sql(sql).fetchdf())
    ans = {"columns": cols, "rows": rows}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.open(path + ".tmp", "wt") as f:
        json.dump(ans, f)
    os.replace(path + ".tmp", path)
    return ans


def spark_output(con, out_dir, name):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return None
    return con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def compare(got, want):
    cols, rows = normalize(got)
    if cols != want["columns"]:
        return f"columns {cols} vs {want['columns']}"
    wrows = [tuple(r) for r in want["rows"]]
    if len(rows) != len(wrows):
        return f"{len(rows)} rows vs the oracle's {len(wrows)}"
    for i, (a, b) in enumerate(zip(rows, wrows)):
        if a != b:
            return f"sorted row {i}: {a} vs the oracle's {b}"
    return None


def outputs(res, data, run_dir, work):
    """Problems found in this run's outputs; empty when all are correct."""
    problems = [f"property {k}: {v}" for k, v in res["checks"].items() if v != "ok"]
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    dumps = os.path.join(work, "oracle_sql")
    os.makedirs(dumps, exist_ok=True)
    with open(os.path.join(dumps, res["workload"] + ".json"), "w") as f:
        json.dump({"data": data, "sql": oracle}, f)
    failed = {f.split(":")[0] for f in res["failures"]}
    con = connect(data)
    digest = input_digest(data)
    for q in res["query_s"]:
        if q not in oracle:
            problems.append(f"{q}: no oracle and no property check")
            continue
        for kind, out in (("cold", "out"), ("check", "out-warm")):
            if f"{kind}/{q}" in failed:
                continue
            got = spark_output(con, os.path.join(run_dir, out), q)
            if got is None:
                problems.append(f"{out}/{q}: no output")
                continue
            p = compare(got, oracle_answer(con, digest, oracle[q], work))
            if p:
                problems.append(f"{out}/{q}: {p}")
    return problems


def rebuild(work):
    """Drop every cached answer; recompute those of the saved SQL dumps."""
    shutil.rmtree(os.path.join(work, "oracle"), ignore_errors=True)
    for dump in sorted(glob.glob(os.path.join(work, "oracle_sql", "*.json"))):
        d = json.load(open(dump))
        if not os.path.isdir(d["data"]):
            continue
        con = connect(d["data"])
        digest = input_digest(d["data"])
        for sql in d["sql"].values():
            oracle_answer(con, digest, sql, work)
        print(f"rebuilt {len(d['sql'])} oracle answers for {os.path.basename(dump)[:-5]}")


if __name__ == "__main__":
    if sys.argv[1:] != ["--rebuild"]:
        sys.exit("usage: python3 perfbench/check.py --rebuild")
    rebuild(os.path.join(os.path.dirname(os.path.abspath(__file__)), "work"))
