#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir>

Reads each <name>/ parquet result written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same parquet tables, and
compares: schema (column names), row count, and exact values (columns sorted
by name, rows sorted). Exit code 1 if any query mismatches.

Driver parity: after the value compare, both sides are also fetched as pandas
frames and their dtypes compared per column. The driver hashes pandas frames,
where a DuckDB HUGEINT (e.g. an uncast SUM) becomes float64 while Spark's
BIGINT stays int64 — identical values, divergent hashes. The value compare
above goes through Python ints and cannot see that; the dtype compare can.
This exact gap produced red driver rows in rounds 4 (q150) and 5
(q231/q235/q237) while this checker showed green.

Crashed queries: graft.Verify lists every query that threw (and so wrote
no parquet) in failed.json; each one listed there fails here too, so a crash
cannot drop out of the "N/N pass" count.

Self-test: `python3 tools/check.py --selftest` seeds one uncast-SUM oracle
against an int64 result and asserts the dtype gate fails it, and seeds a
dump whose failed.json lists a crashed query and asserts that query fails.
"""
import glob
import json
import math
import os
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def dtype_mismatches(got_df, exp_df):
    """Columns where one side is an integer pandas dtype and the other a
    float (case-insensitive column match). This is the driver's
    canonicalization hazard: it hashes pandas frames, where a DuckDB
    HUGEINT becomes float64 against Spark's int64 and the rendered values
    diverge ("24.0" vs "24") even though the values are equal. Same-kind
    width splits (int32 vs int64) hash identically under the driver —
    r5's board proves it (q06/q33/... rank columns are Spark int32 vs
    oracle int64 and were driver-green) — so only KIND splits flag."""
    got_t = {c.lower(): t.kind for c, t in got_df.dtypes.items()}
    exp_t = {c.lower(): t.kind for c, t in exp_df.dtypes.items()}
    ints, floats = set("iu"), set("f")
    bad = []
    for c in sorted(set(got_t) & set(exp_t)):
        g, e = got_t[c], exp_t[c]
        if (g in ints and e in floats) or (g in floats and e in ints):
            bad.append((c, str(got_df.dtypes[[k for k in got_df.columns
                            if k.lower() == c][0]]),
                        str(exp_df.dtypes[[k for k in exp_df.columns
                            if k.lower() == c][0]])))
    return bad


def selftest():
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT range AS v FROM range(5)")
    # Spark side: BIGINT sum (what graft queries produce) -> int64.
    got_df = con.sql(
        "SELECT CAST(SUM(v) AS BIGINT) AS s FROM t").df()
    # Oracle side: bare SUM -> HUGEINT -> float64 in pandas.
    exp_df = con.sql("SELECT SUM(v) AS s FROM t").df()
    bad = dtype_mismatches(got_df, exp_df)
    assert bad == [("s", "int64", "float64")], bad
    # And a cast oracle must pass.
    ok_df = con.sql("SELECT CAST(SUM(v) AS BIGINT) AS s FROM t").df()
    assert dtype_mismatches(got_df, ok_df) == []
    # A dump with one passing query and one that crashed in Verify.
    with tempfile.TemporaryDirectory() as out:
        os.makedirs(f"{out}/q1_ok")
        con.sql(f"COPY (SELECT 1 AS a) TO '{out}/q1_ok/part.parquet' "
                "(FORMAT PARQUET)")
        json.dump({"q1_ok": "SELECT 1 AS a", "q2_crash": "SELECT 2 AS a"},
                  open(f"{out}/oracle_sql.json", "w"))
        json.dump({"q2_crash": "java.lang.IllegalStateException"},
                  open(f"{out}/failed.json", "w"))
        total, failed = check(out, duckdb.connect())
    assert total == 2 and failed == ["q2_crash"], (total, failed)
    print("selftest OK: uncast HUGEINT oracle is caught, cast one passes; "
          "a query in failed.json fails")


def check(out_dir, con):
    """Compares every query of a Verify dump with its oracle over `con`.
    Returns (number of queries, failed names)."""
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    crashed_file = f"{out_dir}/failed.json"
    crashed = (json.load(open(crashed_file))
               if os.path.isfile(crashed_file) else {})
    failed = []
    for name, cls in sorted(crashed.items()):
        print(f"  {name}: FAILED IN VERIFY ({cls})")
        failed.append(name)
    # a crashed query's directory can only be a stale earlier result
    names = sorted(n for n in (d.split("/")[-1]
                               for d in glob.glob(f"{out_dir}/*")
                               if not d.endswith(".json"))
                   if n not in crashed)
    for name in names:
        # materialize each side ONCE — the value compare (fetchall) and
        # the driver-parity dtype gate (.df()) both read the temp table,
        # so the oracle SQL and the result parquet execute a single time
        con.sql(f"CREATE OR REPLACE TEMP TABLE _got AS SELECT * FROM "
                f"read_parquet('{out_dir}/{name}/*.parquet')")
        got_rel = con.sql("SELECT * FROM _got")
        got_cols = [c.lower() for c in got_rel.columns]
        got = canon(got_rel.fetchall(), got_cols)
        if name not in oracle:
            print(f"  {name}: NO ORACLE (rows-only) rows={len(got)}")
            if len(got) == 0:
                failed.append(name + " (0 rows)")
            continue
        try:
            # CTAS preserves column types (HUGEINT stays HUGEINT), so
            # the dtype gate sees exactly what the oracle produced
            con.sql(f"CREATE OR REPLACE TEMP TABLE _exp AS {oracle[name]}")
            exp_rel = con.sql("SELECT * FROM _exp")
            exp_cols = [c.lower() for c in exp_rel.columns]
            exp = canon(exp_rel.fetchall(), exp_cols)
        except Exception as e:
            print(f"  {name}: ORACLE SQL ERROR: {e}")
            failed.append(name)
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"  {name}: SCHEMA MISMATCH spark={sorted(got_cols)} "
                  f"duck={sorted(exp_cols)}")
            failed.append(name)
        elif len(got) != len(exp):
            print(f"  {name}: ROWCOUNT {len(got)} vs {len(exp)}")
            failed.append(name)
        elif got != exp:
            bad = [(g, e) for g, e in zip(got, exp) if g != e][:3]
            print(f"  {name}: VALUE MISMATCH e.g. {bad}")
            failed.append(name)
        else:
            dt_bad = dtype_mismatches(
                con.sql("SELECT * FROM _got").df(),
                con.sql("SELECT * FROM _exp").df())
            if dt_bad:
                print(f"  {name}: DTYPE MISMATCH (driver-hash red) "
                      f"{dt_bad}")
                failed.append(name)
            else:
                print(f"  {name}: OK rows={len(got)}")
    return len(names) + len(crashed), failed


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        selftest()
        return
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    total, failed = check(out_dir, con)
    print(f"\n{total - len(failed)}/{total} pass")
    if failed:
        print("FAILED:", failed)
        sys.exit(1)


if __name__ == "__main__":
    main()
