"""Registry-board correctness: each query's result, written by the warm-up
pass, against its DuckDB oracle (`SparkEntry.oracleSql`) over the same
generated tables. Values compare exactly after canonical ordering (columns
by name, rows sorted); an integer-kind column on one side against a
float-kind column on the other fails even when the values agree."""

import glob
import json
import os
import sys

# canonical row order and value normalization of the repository's oracle
# checker (tools/check.py), shared so the two compare alike
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
from check import TABLES, canon  # noqa: E402

INT_KINDS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
FLOAT_KINDS = ("FLOAT", "DOUBLE")


def _kind(t):
    t = str(t).upper()
    return "i" if t in INT_KINDS else "f" if t in FLOAT_KINDS else "o"


def compare(con, got_sql, exp_sql):
    """None when the two relations agree, else what differs."""
    got = con.sql(got_sql)
    exp = con.sql(exp_sql)
    gc = [c.lower() for c in got.columns]
    ec = [c.lower() for c in exp.columns]
    if sorted(gc) != sorted(ec):
        return f"columns {sorted(gc)} vs oracle {sorted(ec)}"
    gk = {c: _kind(t) for c, t in zip(gc, got.types)}
    ek = {c: _kind(t) for c, t in zip(ec, exp.types)}
    split = [c for c in gc if {gk[c], ek[c]} == {"i", "f"}]
    if split:
        return f"int/float kind split in {split}"
    g = canon(got.fetchall(), gc)
    e = canon(exp.fetchall(), ec)
    if len(g) != len(e):
        return f"{len(g)} rows vs oracle {len(e)}"
    if g != e:
        bad = [(a, b) for a, b in zip(g, e) if a != b][:1]
        return f"value mismatch, e.g. {bad}"
    return None


def check_board(results_dir, tables_dir):
    """Returns {query: None or failure} for every query the run wrote."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tables_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    out = {}
    for d in sorted(glob.glob(os.path.join(results_dir, "*"))):
        q = os.path.basename(d)
        if not os.path.isdir(d):
            continue
        got = f"SELECT * FROM read_parquet('{d}/*.parquet')"
        try:
            if q in oracle:
                out[q] = compare(con, got, oracle[q])
            else:
                n = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
                out[q] = None if n > 0 else "no oracle and 0 rows"
        except Exception as e:  # an oracle that cannot run is a failure
            out[q] = f"{type(e).__name__}: {str(e)[:200]}"
    return out
