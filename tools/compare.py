#!/usr/bin/env python3
"""Local pre-flight replica of the driver's DuckDB oracle compare.

Usage: python3 tools/compare.py <sfDir> <outDir>

Reads <outDir>/oracle_sql.json (written by graft.Verify), executes each
oracle SQL in DuckDB over views named after the parquet tables in <sfDir>,
and compares against the engine's parquet output in <outDir>/<name>/.

Comparison is driver-faithful: column names are sorted, then rows are
VALUE-SORTED on both sides before comparing (the driver pandas-
sort_values every column before hashing), and floats compared
bit-exactly (struct.pack), which is stricter than any plausible driver
hash. A NULL in a DECIMAL column of the oracle result compares as NaN:
the driver reads the oracle through DuckDB's `.df()`, which turns it
into a float64 NaN, while the engine's parquet NULL reads as None — so
such a cell fails here as it does on the driver. Outputs containing
complex-typed values (lists/structs/maps) are REJECTED up front: the driver's comparator crashes on them
(`TypeError: unhashable type: 'numpy.ndarray'`, see round-10
fn_regexp), so local green must never be claimed for such an output.
Dev tool only; not part of the shipped library.
"""
import json
import os
import math
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return struct.pack(">d", v).hex()
    if isinstance(v, int):
        return str(v)
    return repr(v)


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        # base testdata tables are single files; StressGen scale-ups
        # are directories of part files — glob handles both
        src = f"read_parquet('{sf_dir}/{t}.parquet" + (
            "/*.parquet')" if os.path.isdir(f"{sf_dir}/{t}.parquet") else "')")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        if t == "events":
            # base fixture stores ts as TIMESTAMP(NANOS); Spark cannot
            # write that type, so StressGen scale-ups carry the raw
            # nanos BIGINT (the Spark side reads BOTH as nanos-longs via
            # nanosAsLong). Rebuild the view as timestamp_ns so the
            # oracle SQL sees one type at every scale.
            (typ,) = con.execute(
                "SELECT typeof(ts) FROM events LIMIT 1").fetchone()
            if typ == "BIGINT":
                # this DuckDB (v1.0.0) has no make_timestamp_ns; the
                # fixture's nanos are µs-aligned (verified: zero rows
                # with ts % 1000 != 0), so micros reconstruct exactly
                con.execute(
                    "CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
                    "(CAST(make_timestamp(ts // 1000) AS TIMESTAMP_NS)"
                    f" AS ts) FROM {src}")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    produced = sorted(d for d in os.listdir(out_dir)
                      if os.path.isdir(f"{out_dir}/{d}"))
    if only:
        produced = [n for n in produced if n in only]
    n_pass = n_fail = 0
    for name in produced:
        try:
            mine = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            my_cols = [d[0] for d in mine.description]
            my_rows = mine.fetchall()
        except Exception as e:
            print(f"FAIL {name}: cannot read own output: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            status = "ROWS-ONLY"
            ok = len(my_rows) > 0
            print(f"{'pass' if ok else 'FAIL'} {name}: {status} rows={len(my_rows)}")
            n_pass += ok
            n_fail += (not ok)
            continue
        try:
            # a relation, not execute(): its types tell DECIMAL from
            # DOUBLE (this DuckDB's cursor description says NUMBER for
            # both)
            ref = con.sql(oracle[name])
            ref_cols = ref.columns
            dec = [str(t).startswith("DECIMAL") for t in ref.types]
            ref_rows = [tuple(float("nan") if d and v is None else v
                              for v, d in zip(r, dec))
                        for r in ref.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        # driver sorts columns by name before hashing
        mperm = sorted(range(len(my_cols)), key=lambda i: my_cols[i])
        rperm = sorted(range(len(ref_cols)), key=lambda i: ref_cols[i])
        if sorted(my_cols) != sorted(ref_cols):
            print(f"FAIL {name}: schema {sorted(my_cols)} != {sorted(ref_cols)}")
            n_fail += 1
            continue
        if len(my_rows) != len(ref_rows):
            print(f"FAIL {name}: rows {len(my_rows)} != {len(ref_rows)}")
            n_fail += 1
            continue
        # driver-faithfulness pre-flight: the driver's pandas
        # sort_values crashes on list/struct/map cells — reject them
        # here so local green predicts driver green
        complex_cell = next(
            (my_cols[i] for r in my_rows[:100] for i in range(len(r))
             if isinstance(r[i], (list, tuple, dict))), None)
        if complex_cell:
            print(f"FAIL {name}: complex-typed column '{complex_cell}' — "
                  "driver comparator crashes on array/struct/map values "
                  "(unhashable type); serialize to string first")
            n_fail += 1
            continue
        # driver sorts rows by value (pandas sort_values over all
        # columns) before hashing — replicate so written order is
        # irrelevant, exactly as on the driver
        mine_sorted = sorted([canon(r[i]) for i in mperm] for r in my_rows)
        ref_sorted = sorted([canon(r[i]) for i in rperm] for r in ref_rows)
        bad = None
        for ri, (mv, rv) in enumerate(zip(mine_sorted, ref_sorted)):
            if mv != rv:
                bad = (ri, list(zip(sorted(my_cols), mv, rv)))
                break
        if bad:
            ri, detail = bad
            diffs = [(c, a, b) for c, a, b in detail if a != b][:4]
            print(f"FAIL {name}: row {ri} differs: {diffs}")
            n_fail += 1
        else:
            print(f"pass {name}: {len(my_rows)} rows")
            n_pass += 1
    if not only:
        missing = sorted(set(oracle) - set(produced))
        for name in missing:
            print(f"FAIL {name}: oracle declared but no output written")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    # optional argv[3]: comma-separated key filter for targeted re-checks
    sys.exit(main(sys.argv[1], sys.argv[2],
                  set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
