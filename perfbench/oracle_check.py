#!/usr/bin/env python3
"""Cross-check corpus_curation's expected fingerprints against DuckDB.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 10 --write-expected
    python3 perfbench/oracle_check.py

The first command rewrites perfbench/expected/corpus_curation.tsv and
dumps the generated corpus, each query's result and the DuckDB SQL of
every query that has one under .bench_build/oracle. This script runs
that SQL over the same corpus and compares rows the way graft's
tools/check_oracle.py does (columns sorted by name, rows sorted,
decimals as strings, floats by repr). It checks that each dumped
result has the row count the expected file records. Queries without
oracle SQL are reported as ROWS. Exits 1 on any mismatch.
"""
import decimal
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DUMP = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "oracle")
EXPECTED = os.path.join(ROOT, "perfbench", "expected", "corpus_curation.tsv")


def norm(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main():
    expected = {}
    with open(EXPECTED) as fh:
        for line in fh:
            if not line.startswith("#") and line.strip():
                name, rows, _ = line.rstrip("\n").split("\t")
                expected[name] = int(rows)
    with open(os.path.join(DUMP, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DUMP}/data/{t}.parquet/*.parquet')")
    fails = 0
    for name in sorted(expected):
        t = pq.read_table(os.path.join(DUMP, "results", name))
        if t.num_rows != expected[name]:
            print(f"FAIL {name}: dumped {t.num_rows} rows, expected file {expected[name]}")
            fails += 1
            continue
        if name not in oracle:
            print(f"ROWS {name}: {t.num_rows} rows (no oracle SQL)")
            continue
        s_cols = t.column_names
        s_rows = [tuple(r[c] for c in s_cols) for r in t.to_pylist()]
        res = con.sql(oracle[name])
        sc, sr = canon(s_cols, s_rows)
        dc, dr = canon(list(res.columns), res.fetchall())
        if sc != dc or sr != dr:
            diff = sum(1 for a, b in zip(sr, dr) if a != b) + abs(len(sr) - len(dr))
            print(f"FAIL {name}: columns equal {sc == dc}, {diff} of {len(sr)} rows differ")
            fails += 1
        else:
            print(f"OK   {name} ({len(sr)} rows)")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
