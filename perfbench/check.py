"""Reference check for the benchmark's outputs.

Every output a run writes is compared, as a multiset of rows, with a
reference that DuckDB computes from the same generated inputs: the
repository's own oracle SQL for the layer (SparkEntry.oracleSql), or SQL
written here for the chained stages it has no oracle for (envelope parse,
cleanse rules, the MERGE of each update batch, the streaming snapshot).
Spark is not involved in computing any reference.
"""
import glob
import os
import re

import duckdb

def parquet(path):
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
            f"union_by_name = true)")


def payload(v="value"):
    """The event fields of the JSON payload `v`."""
    return f"""
    CAST(json_extract({v}, '$.event_id') AS BIGINT) AS event_id,
    CAST(json_extract_string({v}, '$.ts') AS TIMESTAMP) AS ts,
    CAST(json_extract({v}, '$.user_id') AS BIGINT) AS user_id,
    json_extract_string({v}, '$.event_type') AS event_type,
    CAST(json_extract({v}, '$.value') AS DOUBLE) AS value,
    json_extract_string({v}, '$.props') AS props"""


def envelopes(files):
    listing = ", ".join(f"'{f}'" for f in files)
    return (f"read_json([{listing}], format = 'newline_delimited', filename = true, "
            "columns = {'key': 'VARCHAR', 'value': 'VARCHAR', 'timestamp': 'TIMESTAMP'})")


def medallion_refs(con, inputs):
    raw = sorted(glob.glob(os.path.join(inputs, "raw", "*.json")))
    con.execute(f"""CREATE TABLE bronze_ref AS SELECT key, "timestamp",
        "timestamp" AS ingestion_time, NOT json_valid(value) AS is_malformed,
        {payload("CASE WHEN json_valid(value) THEN value END")}
        FROM {envelopes(raw)}""")
    con.execute("""CREATE TABLE silver_ref AS
        SELECT event_id, ts, user_id,
               CASE WHEN trim(event_type) = '' THEN NULL ELSE event_type END AS event_type,
               value, props
        FROM (SELECT *, row_number() OVER (PARTITION BY event_id
                                           ORDER BY ingestion_time, key) AS rn
              FROM bronze_ref
              WHERE NOT is_malformed AND event_id IS NOT NULL AND ts IS NOT NULL)
        WHERE rn = 1""")
    con.execute(f"CREATE TABLE merged_ref AS SELECT * FROM {parquet(inputs + '/orders.parquet')}")
    batches = sorted(glob.glob(os.path.join(inputs, "batch-*.parquet")),
                     key=lambda p: int(re.search(r"batch-(\d+)", p).group(1)))
    for b in batches:
        con.execute(f"""CREATE OR REPLACE TABLE merged_ref AS
            WITH batch AS (SELECT * FROM {parquet(b)})
            SELECT * FROM batch UNION ALL BY NAME
            SELECT * FROM merged_ref WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)""")
    con.execute("CREATE VIEW events AS SELECT * FROM silver_ref")
    con.execute("CREATE VIEW orders AS SELECT * FROM merged_ref")
    for t in ["customer", "nation", "region", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {parquet(inputs + '/' + t + '.parquet')}")
    return {"bronze": "SELECT * FROM bronze_ref", "silver": "SELECT * FROM silver_ref",
            "merged": "SELECT * FROM merged_ref"}


def stream_ref(source):
    """Latest snapshot expected after the released micro-batch files: every
    valid record, minus records behind the watermark (one hour under the
    largest event time of the earlier files), deduplicated on event_id."""
    files = sorted(glob.glob(os.path.join(source, "batch-*.json")))
    return f"""
        WITH parsed AS (
            SELECT CAST(regexp_extract(filename, 'batch-(\\d+)', 1) AS INTEGER) AS f,
                   {payload()}
            FROM {envelopes(files)} WHERE json_valid(value)),
        maxes AS (SELECT f, max(ts) AS m FROM parsed GROUP BY f),
        marks AS (SELECT a.f, max(b.m) - INTERVAL 1 HOUR AS wm
                  FROM maxes a LEFT JOIN maxes b ON b.f < a.f GROUP BY a.f)
        SELECT DISTINCT ON (event_id) event_id, ts, user_id, event_type, value, props
        FROM parsed JOIN marks USING (f)
        WHERE wm IS NULL OR ts >= wm
        ORDER BY event_id, f"""


def canonical(con, table):
    """The rows of `table` as text, columns in name order, so values compare
    exactly and independent of column order and partition layout."""
    cols = sorted(con.execute(f"DESCRIBE {table}").fetchall(), key=lambda c: c[0])
    exprs = []
    for name, typ, *_ in cols:
        c = f'"{name}"'
        if typ.startswith("TIMESTAMP WITH TIME ZONE"):
            c = f"CAST({c} AS TIMESTAMP)"
        exprs.append(f'CAST({c} AS VARCHAR) AS "{name}"')
    return [c[0] for c in cols], f"SELECT {', '.join(exprs)} FROM {table}"


def compare(con, mine_sql, ref_sql):
    """None when both queries return the same multiset of rows, else why not."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE mine AS {mine_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS {ref_sql}")
    mc, mine = canonical(con, "mine")
    rc, ref = canonical(con, "ref")
    if mc != rc:
        return f"columns {mc} vs {rc}"
    n_mine = con.execute("SELECT count(*) FROM mine").fetchone()[0]
    n_ref = con.execute("SELECT count(*) FROM ref").fetchone()[0]
    if n_mine != n_ref:
        return f"rows {n_mine} vs {n_ref}"
    extra = con.execute(f"SELECT count(*) FROM ({mine} EXCEPT ALL {ref})").fetchone()[0]
    if extra:
        return f"{extra} of {n_ref} rows differ from the reference"
    if n_ref == 0:
        return "empty output"
    return None


def verify(workload, inputs, outputs):
    """[(output name, None if it matches its reference else why not)]."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    refs = {}
    if workload == "medallion":
        refs = medallion_refs(con, inputs)
    elif workload == "curation":
        for t in ["documents", "embeddings"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {parquet(inputs + '/' + t + '.parquet')}")
    results = []
    for o in outputs:
        kind = o["kind"]
        try:
            if kind.startswith("oracle:"):
                if not o["sql"]:
                    raise ValueError(f"no oracle SQL for {kind}")
                ref = o["sql"]
            elif kind == "stream":
                ref = stream_ref(o["source"])
            else:
                ref = refs[kind]
            results.append((o["name"], compare(con, f"SELECT * FROM {parquet(o['path'])}", ref)))
        except Exception as e:  # a reference that cannot run is a failed check
            results.append((o["name"], f"{type(e).__name__}: {e}"))
    con.close()
    return results
