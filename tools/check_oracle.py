#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>

Registers each <sfDir>/*.parquet as a view named after the file, runs every
SQL in <verifyOutDir>/oracle_sql.json, and compares with the Spark result
parquet in <verifyOutDir>/<name>/ — columns sorted by name, column type
classes compared (see type_class), rows sorted, values compared (floats to
1e-9 rel).
"""
import sys, json, glob, math
import duckdb

INT64 = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}


def type_class(t):
    """The class of a DuckDB column type that the hash compare behind
    CORRECTNESS_r0*.json distinguishes. Integers that fit in 64 bits are one
    class, and so are DOUBLE, FLOAT and DECIMAL: rows whose Spark and oracle
    columns differ only within a class are hash-green there. A 128-bit or
    unsigned 64-bit integer (a BIGINT sum the oracle widens to HUGEINT) is a
    class of its own, and such a row is reported hash-red."""
    if t.endswith("[]"):
        return type_class(t[:-2]) + "[]"
    if t in INT64:
        return "INT64"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "FLOAT"
    return t


def norm(rel):
    """(sorted rows, column names, column types), columns ordered by name."""
    cols, types = rel.columns, [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rel.fetchall():
        out.append(tuple(r[i] for i in order))
    return (sorted(out, key=lambda t: tuple(str(x) for x in t)),
            [cols[i] for i in order], [types[i] for i in order])

def eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = p.split("/")[-1].removesuffix(".parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            wrows, wcols, wtypes = norm(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        try:
            grows, gcols, gtypes = norm(con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_fail += 1
            continue
        if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
            print(f"FAIL {name}: columns differ spark={gcols} oracle={wcols}")
            n_fail += 1
            continue
        diff = [f"{c} spark={g} oracle={w}" for c, g, w in zip(gcols, gtypes, wtypes)
                if type_class(g) != type_class(w)]
        if diff:
            print(f"FAIL {name}: column types differ: {'; '.join(diff)}")
            n_fail += 1
            continue
        if len(grows) != len(wrows):
            print(f"FAIL {name}: rows spark={len(grows)} oracle={len(wrows)}")
            print("  spark sample:", grows[:3])
            print("  oracle sample:", wrows[:3])
            n_fail += 1
            continue
        bad = None
        for i, (g, w) in enumerate(zip(grows, wrows)):
            if not all(eq(a, b) for a, b in zip(g, w)):
                bad = (i, g, w)
                break
        if bad:
            print(f"FAIL {name}: first diff at sorted row {bad[0]}:\n  spark={bad[1]}\n  oracle={bad[2]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(grows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
