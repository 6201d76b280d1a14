#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles, mimicking the driver's
DuckDB compare: run `sbt "runMain graft.Verify <sfDir> <outDir>"` first,
then this script loads each result parquet, runs the oracle SQL in DuckDB
over the same sfDir tables, and diffs (schema-by-sorted-column-name,
row-sorted values, exact match for non-floats, exact-or-1e-9 for floats).

Usage: python3 tools/check.py <sfDir> <outDir>

Offline mode, no DuckDB: compare two Verify output directories query by
query (row count and an order-independent hash of the normalized rows,
columns sorted by name) and exit non-zero on any difference:

       python3 tools/check.py --against <baseOutDir> <outDir>
"""
import hashlib
import json
import math
import sys
from pathlib import Path

import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def rows_of(cols, names):
    # driver sorts columns by name before hashing
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [cols[i] for i in order]
    return sorted(
        (tuple(norm(c[j]) for c in cols) for j in range(len(cols[0]) if cols else 0)),
        key=repr)


def read_result(res_dir):
    """(column names, normalized sorted rows) of one query's result
    parquet, or None when it wrote none."""
    files = sorted(Path(res_dir).glob("*.parquet"))
    if not files:
        return None
    tbl = pq.read_table(files[0])
    return tbl.column_names, rows_of([c.to_pylist() for c in tbl.columns],
                                     tbl.column_names)


def fingerprint(res_dir):
    """(row count, hash over sorted column names and sorted rows) of one
    query's result, or None when it wrote no parquet."""
    res = read_result(res_dir)
    if res is None:
        return None
    names, rows = res
    h = hashlib.sha256(repr((sorted(names), rows)).encode()).hexdigest()
    return len(rows), h[:16]


def diff(base_dir, out_dir):
    names = set()
    for d in (base_dir, out_dir):
        names |= set(json.loads(Path(f"{d}/oracle_sql.json").read_text()))
    n_same = n_diff = 0
    for name in sorted(names):
        base = fingerprint(Path(base_dir) / name)
        got = fingerprint(Path(out_dir) / name)
        if base is not None and base == got:
            print(f"SAME {name} ({got[0]} rows, {got[1]})")
            n_same += 1
        else:
            print(f"DIFF {name}: base {base} vs {got}")
            n_diff += 1
    print(f"\n{n_same} same, {n_diff} differ")
    return 1 if n_diff else 0


def main(sf_dir, out_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    # events.ts has carried several physical encodings across driver
    # testdata generations: timestamp[ns], raw INT64 nanos (DataGen
    # output from the ns era), and native timestamp[us] (current).
    # Normalize the view so the oracles' CAST(ts AS TIMESTAMP) sees the
    # identical logical µs column in every case (ns -> us truncation
    # matches DuckDB's own ns cast).
    ts_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    if str(ts_type) == "int64":
        con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
            "(make_timestamp(CAST(ts // 1000 AS BIGINT)) AS ts) "
            f"FROM '{sf_dir}/events.parquet'")
    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res = read_result(Path(out_dir) / name)
        if res is None:
            print(f"FAIL {name}: no spark result parquet")
            n_fail += 1
            continue
        got_names, got = res
        try:
            rel = con.sql(sql)
            exp_names = list(rel.columns)
            # Oracle-output TYPE LINT: the driver hashes typed/encoded
            # values, so an oracle column DuckDB widens past Spark's
            # 64-bit types (HUGEINT from sum-of-BIGINT windows, DECIMAL
            # from // or avg) hash-mismatches even when values are
            # identical. check.py normalizes values and would mask it —
            # fail loudly here instead (the q133/r14 class).
            bad_types = [
                f"{n}:{t}" for n, t in zip(exp_names, map(str, rel.types))
                if t.upper() in ("HUGEINT", "UHUGEINT")
                or t.upper().startswith("DECIMAL")]
            if bad_types:
                print(f"FAIL {name}: oracle type lint — driver-unhashable "
                      f"column types {bad_types}; add CAST in the oracle SQL")
                n_fail += 1
                continue
            exp_cols = list(zip(*rel.fetchall())) or [[] for _ in exp_names]
            exp_cols = [list(c) for c in exp_cols]
            exp = rows_of([[norm(v) for v in c] for c in exp_cols], exp_names)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        if sorted(got_names) != sorted(exp_names):
            print(f"FAIL {name}: columns {sorted(got_names)} != {sorted(exp_names)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        bad = None
        exact = True
        for g, e in zip(got, exp):
            for gv, ev in zip(g, e):
                if gv == ev:
                    continue
                exact = False
                if (isinstance(gv, float) and isinstance(ev, float)
                        and math.isclose(gv, ev, rel_tol=1e-9, abs_tol=1e-12)):
                    continue
                bad = (g, e)
                break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: first diff\n  got {bad[0]}\n  exp {bad[1]}")
            n_fail += 1
        else:
            tag = "PASS" if exact else "PASS~(float-close-not-exact!)"
            print(f"{tag} {name} ({len(got)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if sys.argv[1] == "--against":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
