#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB oracle compare.

Usage: python3 tools/check_local.py <outDir> [query ...]

Expects `sbt "runMain graft.Verify <sfDir> <outDir>"` (optionally with
SPARK_GRAFT_ONLY=<names>) to have populated <outDir>/<name>/ parquet and
<outDir>/oracle_sql.json. With no query names it checks every
oracle_sql.json key and every output dir; a name without an output dir
is a MISSING_OUTPUT failure (after a SPARK_GRAFT_ONLY run, pass the same
names). Re-runs each oracle SQL in DuckDB over the same
sf tables and compares rows/schema/values the way the driver does: columns
sorted by name, values stringified with float rounding, then hashed.

IMPORTANT (r18 post-mortem): the driver sorts the RAW columns with
pandas (`DataFrame.sort_values` over all columns) BEFORE any
stringification. Array-typed cells make that sort raise
"unhashable type" — the driver records the query as ERR, not green.
r18 shipped three ERR rows because this script used to stringify first
(arrays survived) and diverged from the driver exactly there. The
`driver_sort_probe` below replicates the driver's raw-column sort so an
array-typed output column fails HERE, before it can ship. Registered
query outputs must be scalar-typed — project arrays through
to_json/array_join at the query boundary.
"""
import decimal, json, os, sys, hashlib

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def driver_sort_probe(rows, cols, side):
    """Replicate the driver comparator's raw-column pandas sort.

    Returns None if the sort succeeds, else the error string the driver
    would die with. The driver reads Spark parquet via pyarrow→pandas
    (array cells become numpy.ndarray) and DuckDB results via fetchdf
    (array cells become lists); both are unhashable, so both crash its
    `sort_values` → Categorical → factorize path the same way.

    r19 ADVICE: a SINGLE-column frame can dodge the sort probe — pandas
    sorts one object column by comparing cells directly (Python lists
    are orderable), never entering the factorize/hash path that raises
    for multi-column sorts, while the driver's pyarrow ndarray cells
    would still ERR. So every cell is ALSO probed for hashability
    directly: any list/ndarray/dict cell fails here regardless of the
    column count or which container type this script's fetch produced.
    """
    for r in rows:
        for i, v in enumerate(r):
            try:
                hash(v)
            except TypeError:
                return (f"{side} side: column {cols[i]} has an unhashable "
                        f"{type(v).__name__} cell — the driver comparator "
                        f"cannot sort/factorize it")
    try:
        df = pd.DataFrame(rows, columns=cols)
        df.sort_values(by=sorted(cols), inplace=True, kind="mergesort")
        return None
    except Exception as e:  # noqa: BLE001 — report whatever pandas raises
        return f"{side} side: {type(e).__name__}: {e}"


def numkind_from_types(cols, typenames):
    """Column → 'decimal'/'float' from DECLARED DuckDB type names, so
    all-NULL columns still participate in the precision-mismatch warning
    (r18 ADVICE — value sampling skipped them)."""
    kinds = {}
    for c, t in zip(cols, typenames):
        t = str(t).upper()
        if t.startswith("DECIMAL") or t.startswith("NUMERIC"):
            kinds[c] = "decimal"
        elif t in ("DOUBLE", "FLOAT", "REAL"):
            kinds[c] = "float"
    return kinds


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            # Type-representation differences between Spark-written
            # parquet read back through DuckDB and the oracle expression
            # must not read as value differences (r15 ADVICE): one
            # numeric path for Decimal/float, -0.0 snapped to 0.0,
            # bool casing via str(bool). Integral values render EXACTLY
            # (r16 ADVICE: .6g masked integer drift above 1e6 and
            # cent-level decimal drift); non-integral Decimals get .12g
            # — they only arise from exact decimal-domain oracle
            # expressions, where 6 significant digits is too forgiving.
            # Non-integral floats stay .6g: cross-engine double
            # summation order legitimately differs in low bits.
            if isinstance(v, decimal.Decimal):
                if v == v.to_integral_value():
                    vals.append(str(int(v)))
                else:
                    vals.append(f"{float(v):.12g}")
            elif isinstance(v, float):
                if v == 0.0:
                    v = 0.0  # -0.0 and 0.0 must render identically
                if v.is_integer() and abs(v) < 1e15:
                    vals.append(str(int(v)))
                else:
                    vals.append(f"{v:.6g}")
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return hashlib.md5("\x1e".join(out).encode()).hexdigest(), len(out)


def main():
    out_dir = sys.argv[1]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    # With no names: every oracle key plus every output dir. Verify leaves
    # no dir for a query whose build failed, so listing only the dirs
    # would drop that query from the report instead of failing it.
    names = sys.argv[2:] or sorted(set(oracles) | {
        d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d))})
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fails = 0
    for name in names:
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"{name}: MISSING_OUTPUT no {name}/ dir under {out_dir} "
                  f"(its Verify build failed or never ran)")
            fails += 1
            continue
        if name not in oracles:
            print(f"{name}: NO_ORACLE (rows-only check)")
            continue
        pq = os.path.join(out_dir, name, "*.parquet").replace("'", "''")
        sp = con.sql(f"SELECT * FROM read_parquet('{pq}')")
        sp_cols = list(sp.columns)
        sp_types = [str(t) for t in sp.types]
        sp_rows = sp.fetchall()
        try:
            du = con.sql(oracles[name])
        except Exception as e:
            print(f"{name}: ORACLE_SQL_ERROR {e}")
            fails += 1
            continue
        du_cols = list(du.columns)
        du_types = [str(t) for t in du.types]
        du_rows = du.fetchall()
        if sorted(sp_cols) != sorted(du_cols):
            print(f"{name}: SCHEMA_MISMATCH spark={sorted(sp_cols)} "
                  f"duck={sorted(du_cols)}")
            fails += 1
            continue
        # r17 ADVICE: Decimal renders at .12g, float at .6g — a column
        # that is DECIMAL on one side and DOUBLE on the other hashes
        # identical values differently. The rendering must stay faithful
        # to the driver's (changing it here would make local green lie),
        # so instead surface the hazard loudly: any query whose twin
        # sides disagree on Decimal-vs-float for a column is a query
        # contract bug to fix at the source (align the types). Kinds
        # come from the DECLARED column types (r18 ADVICE: an all-NULL
        # column never registered a kind when sampled from row values).
        k1 = numkind_from_types(sp_cols, sp_types)
        k2 = numkind_from_types(du_cols, du_types)
        for c in sorted(set(k1) & set(k2)):
            if k1[c] != k2[c]:
                print(f"{name}: WARN column {c} is {k1[c]} on spark side "
                      f"but {k2[c]} on oracle side — renders at different "
                      f"precision; align the twin types")
        # The driver's raw-column sort runs BEFORE stringification — an
        # array-typed column must fail here the way it fails there.
        crash = (driver_sort_probe(sp_rows, sp_cols, "spark")
                 or driver_sort_probe(du_rows, du_cols, "oracle"))
        if crash:
            print(f"{name}: DRIVER_CRASH the driver comparator would "
                  f"ERR on this output ({crash}) — registered query "
                  f"outputs must be scalar-typed; project arrays via "
                  f"to_json/array_join at the query boundary")
            fails += 1
            continue
        h1, n1 = canon(sp_rows, sp_cols)
        h2, n2 = canon(du_rows, du_cols)
        if n1 != n2:
            print(f"{name}: ROWS_MISMATCH spark={n1} duck={n2}")
            fails += 1
        elif h1 != h2:
            print(f"{name}: HASH_MISMATCH ({n1} rows)")
            fails += 1
        else:
            print(f"{name}: OK ({n1} rows)")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
