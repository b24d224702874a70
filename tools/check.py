#!/usr/bin/env python3
"""Local dev harness mimicking the driver's correctness gate:
runs graft.Verify output (parquet per query) against the DuckDB oracle SQL
on the same testdata tables, compares values column-sorted.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
(Run `sbt "runMain graft.Verify <sfDir> <outDir>"` first.)
"""
import sys, json, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    src = f"{sf_dir}/{t}.parquet"
    if os.path.isdir(src):  # Spark-written tables are directories of parts
        src = f"{src}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))


def split_cte_chain(sql):
    """Split `WITH n1 AS (...), n2 AS [NOT] MATERIALIZED (...), ...
    <final select>` into ([(name, body), ...], final_select). Top-level
    only: tracks paren depth and single-quoted strings. Returns None if
    the SQL is not a plain WITH-chain."""
    s = sql.strip()
    if not s.upper().startswith("WITH"):
        return None
    i, n = 4, len(s)
    ctes = []
    while True:
        while i < n and s[i] in " \t\n\r,":
            i += 1
        m = i
        while i < n and (s[i].isalnum() or s[i] == "_"):
            i += 1
        name = s[m:i]
        while i < n and s[i] in " \t\n\r":
            i += 1
        if not name or s[i:i + 2].upper() != "AS":
            return None
        i += 2
        while i < n and s[i] in " \t\n\r":
            i += 1
        # optional `MATERIALIZED` / `NOT MATERIALIZED` before the body
        for kw in ("NOT", "MATERIALIZED"):
            if s[i:i + len(kw)].upper() == kw and i + len(kw) < n \
                    and not s[i + len(kw)].isalnum():
                i += len(kw)
                while i < n and s[i] in " \t\n\r":
                    i += 1
        if i >= n or s[i] != "(":
            return None
        depth, i = 1, i + 1
        body_start = i
        in_str = False
        while i < n and depth > 0:
            c = s[i]
            if in_str:
                in_str = c != "'"
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        if depth != 0:
            return None
        ctes.append((name, s[body_start:i - 1]))
        while i < n and s[i] in " \t\n\r":
            i += 1
        if i < n and s[i] == ",":
            continue
        return ctes, s[i:]


def execute_materialized(con, sql):
    """Bounded-memory replay of a WITH-chain oracle: each CTE becomes a
    materialized TEMP TABLE in order, so DuckDB frees every intermediate
    instead of spilling the whole inlined chain (the q87 pagerank oracle
    at sf1 needs >74 GB inlined; materialized it runs in bounded memory —
    each round's rank table is |V| rows). Results are identical: every
    CTE in our oracles is deterministic and referenced downstream."""
    parts = split_cte_chain(sql)
    if parts is None:
        raise RuntimeError("oracle is not a WITH-chain; cannot materialize")
    ctes, final = parts
    made = []
    try:
        for name, body in ctes:
            con.execute(f'CREATE TEMP TABLE "{name}" AS {body}')
            made.append(name)
        return con.execute(final).df()
    finally:
        for name in reversed(made):
            con.execute(f'DROP TABLE IF EXISTS "{name}"')

def canon(v):
    if isinstance(v, float):
        return float(v)
    return v

fails = 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    res_glob = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not res_glob:
        print(f"FAIL {name}: no result parquet"); fails += 1; continue
    try:
        mine = con.execute(f"SELECT * FROM '{res_glob[0]}'").df()
        try:
            ref = con.execute(sql).df()
        except duckdb.Error:
            # big-scale fallback: a WITH-chain that out-spills DuckDB
            # (q87's unrolled pagerank at sf1) replays with each CTE
            # materialized as a temp table — bounded memory, same values
            print(f"NOTE {name}: direct oracle failed; replaying materialized")
            ref = execute_materialized(con, sql)
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    mc, rc = sorted(mine.columns), sorted(ref.columns)
    if mc != rc:
        print(f"FAIL {name}: columns {mc} vs {rc}"); fails += 1; continue
    if len(mine) != len(ref):
        print(f"FAIL {name}: rows {len(mine)} vs {len(ref)}"); fails += 1; continue
    mine, ref = mine[mc], ref[mc]
    # the driver's comparator sort_values+factorize+hashes the frames, so
    # a dtype mismatch (e.g. DuckDB HUGEINT -> float64 vs Spark int64) or
    # an unhashable cell (bytearray/ndarray) fails there even when values
    # compare equal — surface both locally
    for c in mc:
        if str(mine[c].dtype) != str(ref[c].dtype):
            print(f"WARN {name}: dtype col {c}: {mine[c].dtype} vs {ref[c].dtype}")
        if mine[c].dtype == object and len(mine) > 0:
            v = mine[c].iloc[0]
            try:
                hash(v)
            except TypeError:
                print(f"WARN {name}: col {c} unhashable ({type(v).__name__}) — driver gate would ERR")
    bad = None
    for c in mc:
        a, b = mine[c].tolist(), ref[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            xx, yy = canon(x), canon(y)
            if xx != yy and not (xx != xx and yy != yy):  # NaN==NaN ok
                bad = (c, i, x, y); break
        if bad: break
    if bad:
        c, i, x, y = bad
        print(f"FAIL {name}: col {c} row {i}: {x!r} vs {y!r}"); fails += 1
    else:
        print(f"OK   {name}: {len(mine)} rows")
# a requested query that is absent from oracle_sql.json (stale dump, or
# a typo'd name) must FAIL loudly, not vanish into a vacuous ALL OK
for q in sorted(only - set(oracle)):
    print(f"FAIL {q}: not in oracle_sql.json (stale Verify dump?)"); fails += 1
print("----", "ALL OK" if fails == 0 else f"{fails} FAILURES")
sys.exit(1 if fails else 0)
