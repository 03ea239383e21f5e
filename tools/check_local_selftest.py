#!/usr/bin/env python3
"""Pin check_local.py's driver-comparator semantics (r18 post-mortem).

The r18 round shipped three ERR correctness rows because check_local
stringified values BEFORE sorting (array cells survived) while the
driver sorts RAW columns with pandas (array cells crash). This selftest
asserts the failure mode can never regress silently:

  1. an array-typed output column must FAIL (DRIVER_CRASH, exit 1)
  2. the same data projected to a scalar (to_json) must PASS (exit 0)
  3. with no query names, an oracle key whose output dir is missing
     (its Verify build failed) must FAIL (MISSING_OUTPUT, exit 1)

Run: python3 tools/check_local_selftest.py   (exits non-zero on failure)
"""
import json, os, subprocess, sys, tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
CHECK = os.path.join(HERE, "check_local.py")


def run_case(tmp, name, spark_sql, oracle_sql, extra_oracles=None,
             names=None):
    """Write <tmp>/<name>/part.parquet from spark_sql and an
    oracle_sql.json ({name: oracle_sql} plus extra_oracles), then run
    check_local on it with `names` (default: [name])."""
    qdir = os.path.join(tmp, name)
    os.makedirs(qdir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"COPY ({spark_sql}) TO '{qdir}/part.parquet' (FORMAT PARQUET)")
    con.close()
    with open(os.path.join(tmp, "oracle_sql.json"), "w") as f:
        json.dump({name: oracle_sql, **(extra_oracles or {})}, f)
    return subprocess.run(
        [sys.executable, CHECK, tmp] + ([name] if names is None else names),
        capture_output=True, text=True)


def main():
    ok = True
    with tempfile.TemporaryDirectory() as tmp:
        # Case 1: array column → the driver's pandas sort dies on the
        # unhashable cell; check_local must fail loudly, not pass.
        r = run_case(tmp, "q_array",
                     "SELECT 1::BIGINT AS id, [3,1,2]::BIGINT[] AS postings",
                     "SELECT 1::BIGINT AS id, [3,1,2]::BIGINT[] AS postings")
        if r.returncode == 0 or "DRIVER_CRASH" not in r.stdout:
            print("FAIL: array-typed output did not trip DRIVER_CRASH")
            print(r.stdout, r.stderr)
            ok = False
        else:
            print("ok: array output trips DRIVER_CRASH "
                  f"({r.stdout.strip().splitlines()[0][:100]}...)")

    with tempfile.TemporaryDirectory() as tmp:
        # Case 1b (r19 ADVICE): a SINGLE array column — pandas sorts one
        # object column by direct cell comparison (lists are orderable),
        # so the sort probe alone would pass while the real driver's
        # ndarray cells still ERR. The per-cell hashability probe must
        # catch it.
        r = run_case(tmp, "q_array1col",
                     "SELECT [3,1,2]::BIGINT[] AS postings",
                     "SELECT [3,1,2]::BIGINT[] AS postings")
        if r.returncode == 0 or "DRIVER_CRASH" not in r.stdout:
            print("FAIL: single-column array output did not trip "
                  "DRIVER_CRASH (sort-probe blind spot)")
            print(r.stdout, r.stderr)
            ok = False
        else:
            print("ok: single-column array output trips DRIVER_CRASH")

    with tempfile.TemporaryDirectory() as tmp:
        # Case 2: same data through to_json → scalar, must pass.
        r = run_case(tmp, "q_scalar",
                     "SELECT 1::BIGINT AS id,"
                     " CAST(to_json(list_sort([3,1,2]::BIGINT[])) AS VARCHAR)"
                     " AS postings",
                     "SELECT 1::BIGINT AS id,"
                     " CAST(to_json(list_sort([3,1,2]::BIGINT[])) AS VARCHAR)"
                     " AS postings")
        if r.returncode != 0 or "OK (1 rows)" not in r.stdout:
            print("FAIL: scalar to_json projection did not pass")
            print(r.stdout, r.stderr)
            ok = False
        else:
            print("ok: to_json scalar projection passes")

    with tempfile.TemporaryDirectory() as tmp:
        # Case 3: no names given; q_failed has an oracle but no output dir
        # (Verify deletes a failed query's dir). It must fail the run, not
        # drop out of the report.
        r = run_case(tmp, "q_ok", "SELECT 1::BIGINT AS id",
                     "SELECT 1::BIGINT AS id",
                     extra_oracles={"q_failed": "SELECT 1::BIGINT AS id"},
                     names=[])
        if (r.returncode == 0 or "q_failed: MISSING_OUTPUT" not in r.stdout
                or "q_ok: OK (1 rows)" not in r.stdout):
            print("FAIL: an oracle key without an output dir did not trip "
                  "MISSING_OUTPUT")
            print(r.stdout, r.stderr)
            ok = False
        else:
            print("ok: oracle key without output dir trips MISSING_OUTPUT")

    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
