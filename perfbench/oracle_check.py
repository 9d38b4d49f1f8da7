#!/usr/bin/env python3
"""Cross-checks expected_queries.json against graft's DuckDB oracles.

Usage, from the repository root:

    python3 perfbench/oracle_check.py [--record RESULT_JSON]

With `--record`, first rewrites expected_queries.json from the query
digests of a saved query_suite run (`.bench_build/results/
query_suite-<seed>-t0.json`), as when the corpus or the suite changes;
the cross-check below then decides whether the recorded values stand.

Runs `graft.Verify` for the suite's queries on the benchmark's corpus,
then for every query compares the expected (row count, digest) with the
digest of graft's written result and with the digest of the query's
oracle SQL evaluated by DuckDB over the same parquet tables. Exits
non-zero on any mismatch. Needs the `duckdb` Python package.
"""
import argparse
import decimal
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

import corpus
import run
import stats


def rows_of(table_rows, columns):
    out = []
    for r in table_rows:
        # decimals compare as floats, as in scripts/check_oracle.py
        out.append(tuple(float(r[c]) if isinstance(r[c], decimal.Decimal) else r[c]
                         for c in columns))
    return out


def record(result_json):
    """Writes expected_queries.json from a saved query_suite result."""
    with open(result_json) as fh:
        res = json.load(fh)["raw"]
    got = run.digests(res)
    if not all(op[2] for op in res["ops"]) or sorted(got) != sorted(op[0] for op in res["ops"]):
        raise SystemExit(f"{result_json}: not a query_suite run in which every query ran")
    with open(run.EXPECTED, "w") as fh:
        json.dump({"sf": run.WORKLOADS["query_suite"], "queries": dict(sorted(got.items()))},
                  fh, indent=1)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--record", metavar="RESULT_JSON")
    args = ap.parse_args()
    if args.record:
        record(args.record)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = run.build(os.getcwd(), build_dir)
    sf = run.WORKLOADS["query_suite"]
    data = run.corpus_dir(build_dir, sf)
    with open(run.EXPECTED) as fh:
        expected = json.load(fh)["queries"]
    out = os.path.join(build_dir, "oracle-check")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    subprocess.run(
        ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.ADD_OPENS] +
        ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         f"-Djava.io.tmpdir={out}/tmp", "-cp", classpath, "graft.Verify", data,
         os.path.join(out, "results"), ",".join(expected)],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(out, "results", "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = 0
    for q, want in sorted(expected.items()):
        t = pq.read_table(glob.glob(os.path.join(out, "results", q, "*.parquet")))
        graft = list(stats.digest_rows(t.column_names, rows_of(t.to_pylist(), t.column_names)))
        ok = graft == want
        verdict = "graft " + ("ok" if ok else "DIFFERS")
        if q in oracle:
            rel = con.execute(oracle[q])
            cols = [c[0] for c in rel.description]
            duck = list(stats.digest_rows(cols, rows_of(rel.fetch_arrow_table().to_pylist(), cols)))
            verdict += ", oracle " + ("ok" if duck == want else "DIFFERS")
            ok = ok and duck == want
        else:
            verdict += ", no oracle"
        bad += not ok
        print(f"{q:26s} {want[0]:6d} rows  {verdict}")
    shutil.rmtree(out, ignore_errors=True)
    print(f"{len(expected) - bad} of {len(expected)} agree")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
