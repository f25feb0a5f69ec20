"""Output checks, run in DuckDB after the harness JVM exits.

None of them uses the program's code: each re-derives the expected output
from the generated input files in SQL and counts the mismatches.
"""
import glob
import json
import os

import duckdb


def _con():
    c = duckdb.connect()
    c.execute("SET threads TO 2")
    return c


def _files(pattern):
    fs = sorted(glob.glob(pattern))
    if not fs:
        raise RuntimeError(f"no files match {pattern}")
    return "[" + ",".join(f"'{f}'" for f in fs) + "]"


def _diff(c, expected, actual):
    """Rows in one multiset and not the other, both ways."""
    c.execute(f"CREATE OR REPLACE TEMP TABLE _e AS {expected}")
    c.execute(f"CREATE OR REPLACE TEMP TABLE _a AS {actual}")
    return c.execute("""
        SELECT (SELECT count(*) FROM (FROM _e EXCEPT ALL FROM _a)) +
               (SELECT count(*) FROM (FROM _a EXCEPT ALL FROM _e))""").fetchone()[0]


def enrich_drain(work, manifest, pass_dir):
    """The produced log equals the topology in SQL over the segments the
    pass's query read; per-partition offsets run contiguously from 0."""
    c = _con()
    inputs = f"{work}/inputs"
    cutoff = int(manifest["cutoff_ms"])
    expected = f"""
        WITH src AS (
          SELECT decode(key) AS txn_id, decode(value)::JSON AS j,
                 list_filter(headers, h -> h.key = 'origin')[1].value AS origin
          FROM read_parquet({_files(f'{pass_dir}/log/seg-*.parquet')})),
        t AS (
          SELECT txn_id, j->>'typ' AS typ, (j->>'acct')::BIGINT AS acct,
                 (j->>'amount')::DOUBLE AS amount, (j->>'ts_ms')::BIGINT AS ts_ms, origin
          FROM src)
        SELECT t.txn_id AS k,
               CASE WHEN c.c_acctbal < 0 THEN NULL ELSE
                 'Your a/c ' || t.acct || ' is ' ||
                 CASE t.typ WHEN 'credit' THEN 'credited' ELSE 'debited' END ||
                 ' with ' || CAST(floor(t.amount * 100 + 0.5) AS BIGINT) || ' cents (' ||
                 c.c_name || ', ' || n.n_name || ')' END AS v,
               t.origin AS o
        FROM t
        JOIN '{inputs}/customer.parquet' c ON c.c_custkey = t.acct
        JOIN '{inputs}/nation.parquet' n ON n.n_nationkey = c.c_nationkey
        WHERE t.typ IN ('credit', 'debit') AND t.ts_ms >= {cutoff}"""
    out = _files(f"{pass_dir}/out/seg-*.parquet")
    actual = f"""
        SELECT decode(key) AS k, decode(value) AS v,
               list_filter(headers, h -> h.key = 'origin')[1].value AS o
        FROM read_parquet({out})"""
    bad = _diff(c, expected, actual)
    gaps = c.execute(f"""
        SELECT count(*) FROM (
          SELECT partition, count(*) AS n, count(DISTINCT "offset") AS d,
                 min("offset") AS lo, max("offset") AS hi
          FROM read_parquet({out}) GROUP BY partition)
        WHERE lo <> 0 OR hi <> n - 1 OR d <> n""").fetchone()[0]
    rows = c.execute(f"SELECT count(*) FROM ({actual})").fetchone()[0]
    return rows, bad + gaps


def upsert_serve(work, manifest, pass_dir):
    """The final store equals latest-by-key over the released segments;
    every timed lookup returned a value written for its key; every
    post-drain lookup returned the final value."""
    c = _con()
    c.execute(f"""
        CREATE TABLE written AS
        SELECT decode(key) AS key, (j->>'seq')::BIGINT AS seq, j->>'v' AS v FROM (
          SELECT key, decode(value)::JSON AS j
          FROM read_parquet({_files(f'{pass_dir}/log/seg-*.parquet')}))""")
    c.execute("""CREATE TABLE latest AS
                 SELECT key, max(seq) AS seq, arg_max(v, seq) AS v FROM written GROUP BY key""")
    store = f"SELECT key, seq, v FROM read_parquet({_files(f'{pass_dir}/store/*.parquet')})"
    bad = _diff(c, "SELECT key, seq, v FROM latest", store)
    rows = []
    with open(f"{pass_dir}/lookups.jsonl") as f:
        for line in f:
            r = json.loads(line)
            body = r["body"] if isinstance(r["body"], list) else []
            one = body[0] if r["status"] == 200 and len(body) == 1 else {}
            rows.append((r["phase"], r["key"], one.get("key"), one.get("seq"), one.get("v")))
    c.execute("CREATE TABLE got (phase VARCHAR, key VARCHAR, rkey VARCHAR, seq BIGINT, v VARCHAR)")
    c.executemany("INSERT INTO got VALUES (?, ?, ?, ?, ?)", rows)
    bad += c.execute("""
        SELECT count(*) FROM got g WHERE NOT (g.rkey IS NOT DISTINCT FROM g.key AND
          CASE g.phase
            WHEN 'open' THEN EXISTS (SELECT 1 FROM written w
                                     WHERE w.key = g.key AND w.seq = g.seq AND w.v = g.v)
            ELSE EXISTS (SELECT 1 FROM latest l
                         WHERE l.key = g.key AND l.seq = g.seq AND l.v = g.v) END)
        """).fetchone()[0]
    return len(rows), bad


def _canon(rows, cols):
    """Rows with columns ordered by name, sorted: the oracle's column and
    row order are not the engine's."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows), key=repr)


# (tables dir, oracle SQL) -> canonical rows: every pass of a run reads the
# same tables, so each oracle runs once per run
_ORACLE_ROWS = {}


def batch_ops(work, manifest, pass_dir):
    """Each query's result equals its registry oracle SQL in DuckDB."""
    c = _con()
    tables = f"{work}/inputs/tables"
    for f in glob.glob(f"{tables}/*.parquet"):
        name = os.path.basename(f)[:-len(".parquet")]
        c.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    with open(f"{pass_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    expected = {}
    for q, sql in oracle.items():
        if (tables, sql) not in _ORACLE_ROWS:
            r = c.execute(sql)
            _ORACLE_ROWS[tables, sql] = _canon(r.fetchall(), [d[0] for d in r.description])
        expected[q] = _ORACLE_ROWS[tables, sql]
    checked, bad = 0, 0
    for out in sorted(glob.glob(f"{pass_dir}/out/*/*")):
        q = os.path.basename(out)
        r = c.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        checked += 1
        if _canon(r.fetchall(), [d[0] for d in r.description]) != expected[q]:
            bad += 1
    if checked < len(oracle):
        bad += len(oracle) - checked
    return checked, bad


CHECKS = {"enrich_drain": enrich_drain, "upsert_serve": upsert_serve, "batch_ops": batch_ops}


def check(workload, work, manifest):
    """(outputs checked, mismatches) over every pass the harness ran."""
    checked, bad = 0, 0
    for pass_dir in sorted(glob.glob(f"{work}/pass*")):
        n, b = CHECKS[workload](work, manifest, pass_dir)
        checked += n
        bad += b
    return checked, bad
