#!/usr/bin/env python3
"""Dev-only local mirror of the driver's correctness gate.

Runs graft.Verify output (parquet per query + oracle_sql.json) against
DuckDB on the same sf dir and reports per-query row/schema/value match.
Usage: python3 tools/check.py [sfdir] [outdir] [--only q10,q11]
(Uses driver-side python libs duckdb/pandas — NOT part of the engine.)
"""
import json, math, re, sys, glob, os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name, spark_df, duck_df):
    # DTYPE-STRICT (mirrors the driver's typed hash): the driver hashes
    # typed values, so DuckDB HUGEINT/DECIMAL vs Spark int64 is a FAIL even
    # when values are numerically equal, and array/list cells are a FAIL
    # because the driver's pandas sort cannot hash them. Do these checks
    # BEFORE any normalization so nothing can be coerced into passing.
    for frame, side in ((spark_df, "spark"), (duck_df, "duck")):
        for c in frame.columns:
            if len(frame) and frame[c].dtype == object:
                # scan the whole column: an array cell in ANY row (or after a
                # null first row) still breaks the driver's pandas sort/hash
                has_array = frame[c].map(
                    lambda v: isinstance(v, (list, tuple))
                    or type(v).__name__ == "ndarray").any()
                if has_array:
                    return (f"ARRAY column {side}.{c}: driver hasher cannot "
                            f"sort array cells — stringify it in the gate")
    # Compare dtype KIND, not width: the driver's hash treats int8/32/64 as
    # equal (q80 passed r1 with int32-vs-int64) but distinguishes int from
    # float (DuckDB HUGEINT->float64) and from object (DECIMAL) — exactly
    # the class that broke 13 gates in round 1.
    for c in set(spark_df.columns) & set(duck_df.columns):
        sk = spark_df[c].dtype.kind
        dk = duck_df[c].dtype.kind
        if sk in "iu":
            sk = "i"
        if dk in "iu":
            dk = "i"
        if sk != dk:
            return (f"DTYPE mismatch col={c}: spark={spark_df[c].dtype} "
                    f"duck={duck_df[c].dtype}")
    s, d = norm(spark_df), norm(duck_df)
    if list(s.columns) != list(d.columns):
        return f"SCHEMA mismatch: spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"ROWS mismatch: spark={len(s)} duck={len(d)}"
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            ok = (a == b) or (a is None and b is None)
            if not ok:
                try:
                    if isinstance(a, float) and isinstance(b, float):
                        ok = (math.isnan(a) and math.isnan(b)) or a == b
                except Exception:
                    pass
            if not ok:
                return f"VALUE mismatch col={c} row={i}: spark={a!r} duck={b!r}"
    return None


def reference_root():
    """Gate.ReferenceRoot, read from its one definition in the Scala source."""
    gate = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                        "src/main/scala/graft/queries/Gate.scala")
    return re.search(r'val ReferenceRoot = "([^"]+)"', open(gate).read()).group(1)


def missing_reference(sql, root):
    """Paths under the reference root that `sql` names and that do not
    exist: a gate failing on these lacks its checkout, not its logic."""
    return sorted({p for p in re.findall(r"'([^']+)'", sql)
                   if (p == root or p.startswith(root + "/"))
                   and not os.path.exists(p)})


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    root = reference_root()
    n_ok = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        missing = missing_reference(oracle[name], root)
        note = (f" (reference checkout missing: {', '.join(missing)})"
                if missing else "")
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output{note}")
            n_fail += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e).splitlines()[0][:200]}{note}")
            n_fail += 1
            continue
        err = compare(name, spark_df, duck_df)
        if err:
            print(f"FAIL {name}: {err}{note}")
            n_fail += 1
        else:
            print(f"ok   {name} ({len(spark_df)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
