#!/usr/bin/env python3
"""Regenerates perfbench/oracle/catalog_fingerprints.json.

    python3 perfbench/tools/make_fingerprints.py

Run from the repository root. Builds the harness, dumps the Spark result of
every query in the catalog subset over perfbench/data/sf0.01, runs each
query's oracle SQL in DuckDB over the same parquet tables, and writes the
fingerprint of the canonical result (columns sorted by name, rows sorted,
the form tools/compare_oracle.py compares). A query whose Spark and DuckDB
fingerprints differ is reported and left out, and the script exits non-zero.
"""
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
import run  # noqa: E402

import duckdb  # noqa: E402


def main():
    classpath = run.build()
    root = os.path.join(run.BUILD, "oracle-export")
    try:
        rc, _ = run.java(classpath, root, ["--workload", "catalog-oracle", "--seed", "0",
                                           "--seconds", "0", "--trace", "0", "--trace-out", "-"])
        with open(os.path.join(root, "result.json")) as fh:
            res = json.load(fh)
        data = os.path.join(run.HERE, "data", "sf0.01")
        con = duckdb.connect()
        for f in sorted(os.listdir(data)):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{os.path.join(data, f)}'")
        out, bad = {}, []
        for q, sql in sorted(res["info"]["oracle_sql"].items()):
            duck = run.fingerprint(con.execute(sql).df())
            spark = run.fingerprint(run.parquet_dir(os.path.join(root, "verify", q)))
            if duck == spark:
                out[q] = duck
            else:
                bad.append(q)
                print(f"MISMATCH {q}: spark={spark} duckdb={duck}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    with open(os.path.join(run.HERE, "oracle", "catalog_fingerprints.json"), "w") as fh:
        json.dump({"data": "perfbench/data/sf0.01", "duckdb": duckdb.__version__,
                   "canonical_form": "columns sorted by name, rows sorted, object columns as str; "
                                     "sha256 over column names, dtypes and pandas row hashes",
                   "fingerprints": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(out)} fingerprints written, {len(bad)} mismatches")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
