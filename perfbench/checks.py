"""Output checks of the benchmark, run outside the timed region. Each
returns a list of mismatch messages (empty = correct)."""
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import Crud


def _rows(path):
    """Rows of a Spark parquet output directory, as python tuples."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    if not tables:
        return [], []
    cols = tables[0].column_names
    rows = []
    for t in tables:
        rows.extend(zip(*[t.column(c).to_pylist() for c in cols]) if t.num_rows else [])
    return cols, rows


def _digest(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def crud(check_dir, seed, params, n_ops):
    """Registries and audit log after `n_ops` requests must hash-equal the
    model's, ignoring row order."""
    model = Crud(seed, params["mix"], params["zipf"])
    model.script(n_ops)
    bad = []
    for t in Crud.TABLES:
        _, rows = _rows(os.path.join(check_dir, t))
        got = ["|".join("" if v is None else str(v) for v in r) for r in rows]
        want = model.entity_rows(t)
        if _digest(got) != _digest(want):
            bad.append(f"{t}: {len(got)} rows do not hash-equal the model's {len(want)}")
    _, rows = _rows(os.path.join(check_dir, "audit"))
    got = ["|".join(str(v) for v in r) for r in rows]
    want = model.audit_rows()
    if _digest(got) != _digest(want):
        bad.append(f"audit: {len(got)} rows do not hash-equal the model's {len(want)}")
    return bad


def ingest(table_dir, landing_files):
    """The ingested table must equal an upsert computed here: a later file
    wins; within a file the minimum over the non-key columns wins."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    files = ", ".join(f"('{p}', {i})" for i, p in enumerate(landing_files))
    con.execute(f"CREATE TEMP TABLE fi(path VARCHAR, i INT); INSERT INTO fi VALUES {files}")
    cols = "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props"
    con.execute(f"""
        CREATE TEMP TABLE model AS
        WITH f AS (SELECT r.*, fi.i FROM read_parquet([{', '.join(f"'{p}'" for p in landing_files)}],
                                                    filename = true) r
                   JOIN fi ON r.filename = fi.path),
        w AS (SELECT * FROM f QUALIFY row_number() OVER (
                PARTITION BY i, event_id ORDER BY ts, user_id, event_type, value, props) = 1)
        SELECT {cols} FROM w
        QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY i DESC) = 1""")
    con.execute(f"CREATE TEMP TABLE got AS SELECT {cols} FROM read_parquet('{table_dir}/*.parquet')")
    n_model = con.execute("SELECT count(*) FROM model").fetchone()[0]
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM model)").fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (SELECT * FROM model EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    if n_model != n_got or extra or missing:
        return [f"ingest: table has {n_got} rows, upsert model {n_model}; "
                f"{extra} unexpected, {missing} missing"]
    return []


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return int(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _sort_key(row):
    return tuple((0, 0) if x is None else (1, x) if isinstance(x, (int, float)) else (2, repr(x))
                 for x in row)


def queries(capture_dir, lake_dir, keys):
    """Each key's captured rows must equal its oracle SQL run by DuckDB
    over the lake, ignoring row and column order."""
    oracle = json.load(open(os.path.join(capture_dir, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents"]:
        p = os.path.join(lake_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    bad = []
    for k in keys:
        if k not in oracle:
            bad.append(f"{k}: no oracle SQL")
            continue
        cols, rows = _rows(os.path.join(capture_dir, k))
        rel = con.sql(oracle[k])
        want_cols = rel.columns
        want = rel.fetchall()
        if sorted(c.lower() for c in cols) != sorted(c.lower() for c in want_cols):
            bad.append(f"{k}: columns {sorted(cols)} != oracle {sorted(want_cols)}")
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        worder = sorted(range(len(want_cols)), key=lambda i: want_cols[i].lower())
        g = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key)
        w = sorted((tuple(_norm(r[i]) for i in worder) for r in want), key=_sort_key)
        if len(g) != len(w):
            bad.append(f"{k}: {len(g)} rows, oracle {len(w)}")
        elif g != w:
            diff = next(i for i in range(len(g)) if g[i] != w[i])
            bad.append(f"{k}: row {diff} differs: {g[diff]} != oracle {w[diff]}")
    return bad
