#!/usr/bin/env python3
"""Stepwise administration of the llm_dedup_minhash_lsh oracle at stress
scale (same pattern as pagerank_oracle_stepwise.py).

The one-shot WITH spelling in SparkEntry.oracleSql references the `sh`
shingle CTE three times; DuckDB inlines it, re-running the 73M-row
window-function shingling concurrently in one pipeline — at x100 that
spilled past the box's free disk (observed: 70GB+ temp then ENOSPC).
This runner executes the IDENTICAL math as discrete temp tables:
shingles materialized ONCE, signatures/bands/candidates as bounded hash
steps, and the exact-Jaccard intersection restricted to docs that
appear in the banded candidate set (sound: `inter` rows are only ever
consumed via an equi-join on candidate pairs).

Usage: python3 tools/minhash_oracle_stepwise.py <sfDir> <outDir>
Dev tool only.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(__file__))
from compare import canon  # noqa: E402

# mirrors graft.ops.Params: 64 slots, 16 bands x 4 rows, tau = 0.8
N_HASH = 64
BANDS = 16
ROWS = 4


def hash_consts():
    # mirrors graft.plans.ShingleUtil's MinhashA/MinhashB generator exactly:
    #   a_i = ((2654435761 * (i+1)) % 2^30) | 1, b_i = (15485863 * (i+1)) % P
    for i in range(N_HASH):
        yield (((2654435761 * (i + 1)) % (1 << 30)) | 1,
               (15485863 * (i + 1)) % 4294967311)


def view(sf_dir, t):
    src = f"{sf_dir}/{t}.parquet"
    return f"read_parquet('{src}/*.parquet')" if os.path.isdir(src) \
        else f"read_parquet('{src}')"


def assert_matches_oracle(out_dir, key):
    """Guard against silent drift (same discipline as
    compare_astro_slices.py, which loads the oracle verbatim): every
    hand-respelled constant below must appear verbatim in the one-shot
    oracle SQL the engine dumped. If graft.ops.Llm or Params change,
    this tool must FAIL LOUDLY instead of validating stale math."""
    import json
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))[key]
    for i, (a, b) in enumerate(hash_consts()):
        frag = f"MIN(({a} * h + {b}) % 4294967311) AS s{i}"
        assert frag in sql, f"minhash const drift: '{frag}' not in oracle SQL"
    assert sql.count("MIN((") == N_HASH, \
        f"oracle has {sql.count('MIN((')} hash slots, tool assumes {N_HASH}"
    for bi in range(BANDS):
        frag = ", ".join(f"s{bi * ROWS + r}" for r in range(ROWS))
        assert frag in sql, f"band layout drift: '{frag}' not in oracle SQL"
    assert "5 * i >= 4 *" in sql, "jaccard threshold drift (tool assumes 4/5)"
    # shingle CTE: k=5 LEAD chain (tok + LEAD 1..4), md5-prefix-8 hashing
    for frag in ("LEAD(tok, 4) OVER w", "SUBSTR(MD5(sh), 1, 8)",
                 "SUBSTR(MD5(CONCAT_WS(','"):
        assert frag in sql, f"shingle/hash spelling drift: '{frag}' missing"
    assert "LEAD(tok, 5)" not in sql, "shingle width changed (tool assumes k=5)"


def main(sf_dir, out_dir, key="llm_dedup_minhash_lsh"):
    # the incremental key is the SAME math with candidates restricted to
    # pairs touching the batch (doc_id % 3 = 0) — assert that the
    # restriction is really in its oracle, then apply it here
    incremental = key == "llm_dedup_minhash_incremental"
    assert_matches_oracle(out_dir, key)
    con = duckdb.connect()
    con.execute("SET memory_limit='48GB'")
    con.execute("SET threads=16")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute(f"""CREATE TEMP TABLE sh AS
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id,
            tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w ||
              ' ' || LEAD(tok, 3) OVER w || ' ' || LEAD(tok, 4) OVER w AS sh,
            LEAD(tok, 4) OVER w AS lst
          FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok,
                 UNNEST(RANGE(0, LEN(STRING_SPLIT(text, ' ')))) AS pos
                FROM {view(sf_dir, 'documents')})
          WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        WHERE lst IS NOT NULL""")
    print("sh materialized", flush=True)
    mins = ",\n ".join(
        f"MIN(({a} * h + {b}) % 4294967311) AS s{i}"
        for i, (a, b) in enumerate(hash_consts()))
    con.execute(f"""CREATE TEMP TABLE sig AS
        SELECT doc_id, {mins}
        FROM (SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(sh), 1, 8)) AS BIGINT) AS h FROM sh)
        GROUP BY doc_id""")
    print("sig materialized", flush=True)
    band_sel = "\n UNION ALL\n ".join(
        f"SELECT doc_id, {bi} AS band, CAST(('0x' || SUBSTR(MD5(CONCAT_WS(','"
        f", {', '.join(f's{bi * ROWS + r}' for r in range(ROWS))})), 1, 15)) "
        "AS BIGINT) AS bv FROM sig"
        for bi in range(BANDS))
    con.execute(f"CREATE TEMP TABLE bands AS {band_sel}")
    con.execute("DROP TABLE sig")
    touch = "WHERE x.doc_id % 3 = 0 OR y.doc_id % 3 = 0" if incremental else ""
    if incremental:
        import json
        sql = json.load(open(f"{out_dir}/oracle_sql.json"))[key]
        assert "x.doc_id % 3 = 0 OR y.doc_id % 3 = 0" in sql, \
            "incremental oracle lost its batch restriction"
    con.execute(f"""CREATE TEMP TABLE cand AS
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
        {touch}""")
    con.execute("DROP TABLE bands")
    (nc,) = con.execute("SELECT COUNT(*) FROM cand").fetchone()
    print(f"cand materialized: {nc} pairs", flush=True)
    con.execute("""CREATE TEMP TABLE cd AS
        SELECT d1 AS doc_id FROM cand UNION SELECT d2 FROM cand""")
    con.execute("""CREATE TEMP TABLE shc AS
        SELECT s.doc_id, s.sh FROM sh s JOIN cd ON s.doc_id = cd.doc_id""")
    con.execute("""CREATE TEMP TABLE sizes AS
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id""")
    con.execute("DROP TABLE sh")
    con.execute("""CREATE TEMP TABLE inter AS
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2""")
    con.execute("DROP TABLE shc")
    print("inter materialized", flush=True)
    ref = con.execute("""
        SELECT c.d1, c.d2,
               FLOOR((i / (sa.sz + sb.sz - i)) * 1e6 + 0.5) / 1e6 AS jaccard
        FROM cand c
         JOIN inter t ON t.d1 = c.d1 AND t.d2 = c.d2
         JOIN sizes sa ON sa.doc_id = c.d1
         JOIN sizes sb ON sb.doc_id = c.d2
        WHERE 5 * i >= 4 * (sa.sz + sb.sz - i)
        ORDER BY c.d1, c.d2""").fetchall()
    mine = con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/{key}/*.parquet')"
        " ORDER BY 1, 2").fetchall()
    if len(ref) != len(mine):
        print(f"FAIL {key}: rows {len(mine)} != {len(ref)}")
        return 1
    for i, (m, r) in enumerate(zip(mine, ref)):
        if [canon(v) for v in m] != [canon(v) for v in r]:
            print(f"FAIL {key}: row {i}: {m} != {r}")
            return 1
    print(f"pass {key}: {len(mine)} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  *(sys.argv[3:4] or ["llm_dedup_minhash_lsh"])))
