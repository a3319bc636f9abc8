"""Output check of a benchmark run: each query's result, written by the
check pass, against DuckDB running the query's oracle SQL over the same
fixture tables.

The rules are those of tools/check_oracle.py, whose value canonicalisation
and ORDER BY detection this module imports:
  - result columns must be plain scalars (no decimal, nested, float32 or
    binary types, which graft's output policy rules out);
  - column names and arrow types must match exactly (both sides are read
    through DuckDB, so representations are uniform);
  - values compare as (type tag, canonical form), never as bare Python
    values, so 900 (int) never equals 900.0 (double);
  - rows compare in order; the order-insensitive multiset comparison is
    allowed only when the oracle SQL has no top-level ORDER BY.
Every query in the workload pools has oracle SQL; a query without it
fails the check.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, canon, has_toplevel_order_by  # noqa: E402

# arrow float64 prints as "double", so "float" matches only 16/32-bit floats
UNSTABLE_TYPES = ("decimal", "list", "struct", "map", "large_list", "fixed_size_list",
                  "float", "halffloat", "binary", "large_binary")


def compare(con, sql, result_dir):
    """None when the result matches the oracle, else why not."""
    want = con.execute(sql).fetch_arrow_table()
    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetch_arrow_table()
    hazards = [f"{f.name}: {f.type}" for f in got.schema if str(f.type).startswith(UNSTABLE_TYPES)]
    if hazards:
        return f"output types outside the output policy: {hazards}"
    wcols, gcols = sorted(want.column_names), sorted(got.column_names)
    if wcols != gcols:
        return f"columns differ: oracle={wcols} result={gcols}"
    wtypes = {f.name: str(f.type) for f in want.schema}
    gtypes = {f.name: str(f.type) for f in got.schema}
    diffs = [(c, wtypes[c], gtypes[c]) for c in wcols if wtypes[c] != gtypes[c]]
    if diffs:
        return f"arrow types differ: {diffs}"
    # fast path: equal arrow tables are also equal row by row below
    if want.select(wcols).equals(got.select(wcols)):
        return None
    wrows = [tuple(canon(r[c]) for c in wcols) for r in want.to_pylist()]
    grows = [tuple(canon(r[c]) for c in wcols) for r in got.to_pylist()]
    if len(wrows) != len(grows):
        return f"row count: oracle={len(wrows)} result={len(grows)}"
    if wrows == grows:
        return None
    if not has_toplevel_order_by(sql) and sorted(map(repr, wrows)) == sorted(map(repr, grows)):
        return None
    first = next(i for i, (w, g) in enumerate(zip(wrows, grows)) if w != g)
    return f"value mismatch at row {first}: oracle={wrows[first]} result={grows[first]}"


def check_all(fixtures, check_dir, written, oracle_sql):
    """One {"name", "ok", "detail"} per query of the warm-up pass, which
    wrote each result to check_dir/<name>."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(fixtures, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = []
    for w in written:
        name = w["name"]
        result_dir = os.path.join(check_dir, name)
        if w["error"]:
            detail = f"query failed: {w['error']}"
        elif name in oracle_sql:
            try:
                detail = compare(con, oracle_sql[name], result_dir)
            except Exception as e:  # an oracle or read error is a failed check
                detail = f"compare error: {e}"
        else:
            detail = "no oracle SQL"
        results.append({"name": name, "ok": detail is None, "detail": detail})
    con.close()
    return results
