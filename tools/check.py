#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare (builder tooling only,
not part of the shipped library). Usage:
  python3 tools/check.py <sfDir> <verifyOutDir> [query...]
For each query with oracle SQL: run the SQL in DuckDB against views over the
fixture parquet, load Spark's dumped parquet, sort columns by name, and
compare cell-by-cell (exact; floats reported with ulp-distance).
A requested query missing from oracle_sql.json is reported and fails the
run. Queries are compared in one worker process per core, and each
query's line is printed as soon as its compare finishes (completion order;
sort the output to diff two runs)."""
import sys, glob, os, math, json
import multiprocessing
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

con = None  # one DuckDB connection per worker process

def open_fixture(sf_dir):
    global con
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def check(job):
    """Compare one query; returns (line, passed)."""
    name, sql, out_dir = job
    spark_dir = f"{out_dir}/{name}"
    if not os.path.isdir(spark_dir):
        return f"[MISS] {name}: no spark dump", False
    try:
        duck = con.execute(sql).fetchdf()
    except Exception as e:
        return f"[ORACLE-ERR] {name}: {e}", False
    # sorted: glob order is filesystem-dependent; multi-file dumps must
    # concatenate part files in partition order for the positional
    # compare against the ORDER BY'd oracle to be meaningful
    files = sorted(glob.glob(f"{spark_dir}/*.parquet"))
    spark = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    duck = duck[sorted(duck.columns)]
    spark = spark[sorted(spark.columns)]
    if list(duck.columns) != list(spark.columns):
        return f"[FAIL] {name}: columns differ duck={list(duck.columns)} spark={list(spark.columns)}", False
    if len(duck) != len(spark):
        return f"[FAIL] {name}: rows duck={len(duck)} spark={len(spark)}", False
    bad = []
    for c in duck.columns:
        dv, sv = duck[c].tolist(), spark[c].tolist()
        for i, (a, b) in enumerate(zip(dv, sv)):
            if a is None and b is None: continue
            if isinstance(a, float) or isinstance(b, float):
                try:
                    fa, fb = float(a), float(b)
                    if math.isnan(fa) and math.isnan(fb): continue
                    if fa != fb:
                        bad.append((c, i, a, b, f"ulp-ish diff {abs(fa-fb):.3e}"))
                except (TypeError, ValueError):
                    bad.append((c, i, a, b, "type"))
            elif str(a) != str(b):
                bad.append((c, i, a, b, "value"))
            if len(bad) > 3: break
        if len(bad) > 3: break
    if bad:
        return f"[FAIL] {name}: {len(bad)}+ diffs, first: {bad[:3]}", False
    return f"[PASS] {name} ({len(duck)} rows)", True

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    for name in sorted(only - oracle.keys()):
        print(f"[UNKNOWN] {name}: not in oracle_sql.json", flush=True)
        n_fail += 1
    jobs = [(name, sql, out_dir) for name, sql in sorted(oracle.items())
            if not only or name in only]
    workers = max(1, min(len(jobs), os.cpu_count() or 1))
    with multiprocessing.Pool(workers, open_fixture, (sf_dir,)) as pool:
        for line, passed in pool.imap_unordered(check, jobs):
            print(line, flush=True)
            if passed: n_pass += 1
            else: n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
