"""Checks each query's output against its DuckDB oracle, inside DuckDB.

Both sides are normalized the way tools/check_oracle.py does it (columns
by name, floating values rounded to 6 decimals, blobs as hex) and then
compared as multisets with EXCEPT ALL in both directions, so a large
output never travels through Python rows.

Some oracles cost far more in DuckDB than the query costs in Spark (the
text oracles hash every character in SQL lambdas). An output whose
oracle SQL is identical to that of an output already verified in the
same process is therefore compared with that verified output instead,
which proves the same equality.
"""
from pathlib import Path

import duckdb

FLOATING = ("DOUBLE", "FLOAT", "REAL", "DECIMAL")


def _norm(name, dtype):
    c = '"' + name.replace('"', '""') + '"'
    if dtype.startswith(FLOATING):
        return f"round({c}::DOUBLE, 6) AS {c}"
    if dtype.endswith("[]") and dtype[:-2].startswith(FLOATING):
        return f"list_transform({c}, x -> round(x::DOUBLE, 6)) AS {c}"
    if dtype == "BLOB":
        return f"hex({c}) AS {c}"
    return c


def _columns(con, relation):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {relation}").fetchall()}


def _parquet(path):
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def compare(con, output, oracle_sql):
    """Returns None when the output equals the oracle, else the reason."""
    spark_rel = _parquet(output)
    oracle_rel = f"SELECT * FROM ({oracle_sql})"
    s_cols, o_cols = _columns(con, spark_rel), _columns(con, oracle_rel)
    if sorted(s_cols) != sorted(o_cols):
        return f"columns differ: {sorted(s_cols)} vs oracle {sorted(o_cols)}"
    names = sorted(s_cols)
    s = ", ".join(_norm(n, s_cols[n]) for n in names)
    o = ", ".join(_norm(n, o_cols[n]) for n in names)
    rows, oracle_rows, extra, missing = con.execute(f"""
        WITH s AS (SELECT {s} FROM ({spark_rel})),
             o AS (SELECT {o} FROM ({oracle_rel}))
        SELECT (SELECT count(*) FROM s), (SELECT count(*) FROM o),
               (SELECT count(*) FROM (FROM s EXCEPT ALL FROM o)),
               (SELECT count(*) FROM (FROM o EXCEPT ALL FROM s))""").fetchone()
    if extra or missing or rows != oracle_rows:
        return (f"{rows} rows vs oracle {oracle_rows}: {extra} unexpected, "
                f"{missing} missing")
    return None


def outputs(data, runs, temp_dir):
    """Checks every query run of one process; returns one record per run."""
    con = duckdb.connect(config={"temp_directory": str(temp_dir), "threads": 4})
    for f in sorted(Path(data).glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    results, verified = [], {}
    for r in runs:
        if r["error"] is not None:
            detail = "query raised " + r["error"]
        elif r["oracle"] is None:
            detail = "no oracle SQL for this query"
        else:
            reference = verified.get(r["oracle"], r["oracle"])
            try:
                detail = compare(con, r["output"], reference)
            except duckdb.Error as e:
                detail = f"comparison failed: {e}"
            if detail is None:
                verified.setdefault(r["oracle"], _parquet(r["output"]))
        results.append({"query": r["query"], "pass": r["pass"],
                        "ok": detail is None, "detail": detail})
    con.close()
    return results
