#!/usr/bin/env python3
"""Local oracle pre-check: compare a graft.Verify dump against DuckDB.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir> [--bench]
       python3 tools/check_oracle.py <verify_out_dir> --same-models <other_verify_out_dir>

Mirrors the driver's compare: per query, run the oracle SQL from
oracle_sql.json in DuckDB over the same parquet tables, sort columns
by name, round floats to 6 decimals, and compare row count + sorted
value multiset. With --bench, also times each oracle SQL in DuckDB
(median of 3) and prints a JSON timing map — the single-node baseline
for BASELINE.md.

With --same-models, no oracle runs: the two dumps' oracle_sql.json files
(the oracle SQL, which embeds every fitted model as rendered SQL) are
compared byte for byte; each query whose SQL differs is named, and the
exit status is non-zero unless the files are identical. Use it to show
that a change to how models are fitted left every rendered model as it
was.
"""
import json
import math
import sys
import time
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    import decimal
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def frame_key(cols, rows):
    # Multiset compare (NULLs aren't orderable against values).
    from collections import Counter
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = Counter(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], data


def same_models(a_dir, b_dir):
    a = (a_dir / "oracle_sql.json").read_bytes()
    b = (b_dir / "oracle_sql.json").read_bytes()
    qa, qb = json.loads(a), json.loads(b)
    names = sorted(set(qa) | set(qb))
    differ = [n for n in names if qa.get(n) != qb.get(n)]
    for n in differ:
        side = ("only in " + str(b_dir) if n not in qa else
                "only in " + str(a_dir) if n not in qb else "DIFFERENT")
        print(f"{n}: {side}")
    print(f"SAME {len(names) - len(differ)}/{len(names)} queries; "
          f"oracle_sql.json {'byte-identical' if a == b else 'differs'}")
    return 0 if a == b else 1


def main():
    if "--same-models" in sys.argv:
        other = sys.argv[sys.argv.index("--same-models") + 1]
        sys.exit(same_models(Path(sys.argv[1]), Path(other)))
    out_dir, sf_dir = Path(sys.argv[1]), Path(sys.argv[2])
    bench = "--bench" in sys.argv
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())

    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    results, timings = {}, {}
    for name in sorted(oracle):
        sql = oracle[name]
        spark_dir = out_dir / name
        try:
            # Output-type lint BEFORE value compare: the driver's hasher
            # does not normalize engine-widened integer types (DuckDB
            # sum(BIGINT) -> HUGEINT) against Spark's int64 parquet dump,
            # while this script's Python-int compare silently would —
            # exactly how 10 round-8 oracles passed locally but failed the
            # driver. Reject what the driver's comparator rejects.
            widened = [
                (r[0], r[1])
                for r in con.execute(f"DESCRIBE {sql}").fetchall()
                if r[1] in ("HUGEINT", "UHUGEINT")
                or r[1].startswith("DECIMAL")
            ]
            if widened:
                results[name] = f"TYPE_LINT widened oracle columns: {widened}"
                continue
            cur = con.execute(sql)
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = f"ORACLE_ERR {e}"
            continue
        try:
            cur = con.execute(
                f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            s_cols = [d[0] for d in cur.description]
            s_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK_READ_ERR {e}"
            continue
        ok_rows = len(o_rows) == len(s_rows)
        o_key = frame_key(o_cols, o_rows)
        s_key = frame_key(s_cols, s_rows)
        ok_schema = o_key[0] == s_key[0]
        ok_hash = o_key[1] == s_key[1]
        results[name] = ("PASS" if ok_rows and ok_schema and ok_hash else
                         f"FAIL rows={ok_rows}({len(s_rows)}/{len(o_rows)}) "
                         f"schema={ok_schema} hash={ok_hash}")
        if bench and results[name] == "PASS":
            ts = []
            for _ in range(3):
                t0 = time.time()
                con.execute(sql).fetchall()
                ts.append(time.time() - t0)
            timings[name] = round(sorted(ts)[1], 3)

    npass = sum(1 for v in results.values() if v == "PASS")
    for name, v in sorted(results.items()):
        print(f"{name}: {v}")
    print(f"TOTAL {npass}/{len(results)}")
    if bench:
        print("BASELINE_JSON " + json.dumps(timings, sort_keys=True))
    # Non-zero exit on any FAIL / ORACLE_ERR / SPARK_READ_ERR so CI or a
    # shell && chain can gate on this script.
    sys.exit(0 if npass == len(results) else 1)


if __name__ == "__main__":
    main()
