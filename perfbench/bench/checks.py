"""Output checks, run after the timed window against DuckDB: every distinct
dashboard request against the SQL the reference's DuckDB service would run
(with graft's exact-sum and rounding semantics), every ETL output against
SQL over the generated CSV, and every gate against its `oracleSql`, hashed
the way `scripts/check_oracle.py` hashes."""
import glob
import importlib.util
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tables_dir=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    if tables_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v)


def esum(c):
    return f"ROUND(CAST(SUM(CAST({c} AS DECIMAL(38,10))) AS DOUBLE), 4)"


def eavg(c):
    return (f"FLOOR((CAST(SUM(CAST({c} AS DECIMAL(38,10))) AS DOUBLE) "
            f"/ COUNT({c})) * 1e4 + 0.5) / 1e4")


def where(filters):
    ops = {"eq": "=", "neq": "<>", "gt": ">", "gte": ">=", "lt": "<", "lte": "<="}
    parts = []
    for f in filters:
        c, op, v = f["column"], f["operator"], f.get("value")
        if op in ops:
            parts.append(f"{c} {ops[op]} {lit(v)}")
        elif op == "in":
            parts.append(f"{c} IN ({', '.join(lit(x) for x in v)})")
        elif op == "between":
            parts.append(f"{c} BETWEEN {lit(v[0])} AND {lit(v[1])}")
        else:
            raise ValueError(op)
    return " AND ".join(parts) if parts else "TRUE"


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_equal(got, want, cols):
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for c in cols:
            if not _same(g.get(c), w.get(c)):
                return f"row {i} column {c}: {g.get(c)!r} != {w.get(c)!r}"
    return None


def _fetch(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()], names


def _date(v):
    return None if v is None else str(v)[:10]


def dashboard_request(con, req, data):
    """None when `data` (the response's rows) is what the reference's SQL
    returns for `req`, else a one-line reason."""
    route = req["route"]
    if route == "query":
        b = req["body"]
        agg = b["aggregation"]
        gb = agg.get("group_by", [])
        ms = []
        for m in agg["metrics"]:
            fn, c, a = m.get("agg", "sum"), m["column"], m.get("alias", m["column"])
            e = {"sum": esum(c), "avg": eavg(c), "min": f"MIN({c})",
                 "max": f"MAX({c})", "count": "COUNT(*)"}[fn]
            ms.append(f"{e} AS {a}")
        first = agg["metrics"][0].get("alias", agg["metrics"][0]["column"])
        sql = (f"SELECT {', '.join(gb + ms)} FROM {b['table']} "
               f"WHERE {where(b.get('filters', []))}"
               + (f" GROUP BY {', '.join(gb)}" if gb else "")
               + f" ORDER BY {first} DESC" + "".join(f", {g} ASC" for g in gb)
               + (f" LIMIT {agg['limit']}" if "limit" in agg else ""))
        want, cols = _fetch(con, sql)
        return _rows_equal(data, want, cols)
    if route == "drill_down":
        b = req["body"]
        sql = (f"SELECT {', '.join(b['columns'])} FROM {b['table']} "
               f"WHERE {where(b.get('filters', []))} ORDER BY {b['sort_key']} "
               f"LIMIT {b['limit']} OFFSET {b['offset']}")
        want, cols = _fetch(con, sql)
        return _rows_equal(data, want, cols)
    if route == "filter_values":
        q = req["query"]
        c = q["column"]
        cond = f"{c} IS NOT NULL"
        if q.get("search"):
            cond += f" AND contains(lower(CAST({c} AS VARCHAR)), {lit(q['search'].lower())})"
        sql = (f"SELECT DISTINCT {c} FROM {q['table']} WHERE {cond} "
               f"ORDER BY {c} LIMIT {int(q.get('limit', 100))}")
        want, cols = _fetch(con, sql)
        return _rows_equal(data, want, cols)
    if route == "dashboard":
        q = req["query"]
        if q["kind"] == "summary":
            sql = (f"SELECT COUNT(*) AS record_count, {esum('o_totalprice')} AS total_amount, "
                   f"{eavg('o_totalprice')} AS mean_amount, "
                   f"CAST(MIN(o_totalprice) AS DOUBLE) AS min_amount, "
                   f"CAST(MAX(o_totalprice) AS DOUBLE) AS max_amount FROM {q['table']}")
            want, cols = _fetch(con, sql)
            return _rows_equal(data, want, cols)
        sql = (f"SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS service_date, "
               f"COUNT(*) AS record_count, {esum('o_totalprice')} AS total_amount, "
               f"{eavg('o_totalprice')} AS mean_amount FROM {q['table']} "
               f"WHERE o_orderdate IS NOT NULL GROUP BY 1 ORDER BY 1")
        want, cols = _fetch(con, sql)
        got = [dict(r, service_date=_date(r.get("service_date"))) for r in data]
        return _rows_equal(got, want, cols)
    if route == "schema":
        return _schema(con, req["query"], data)
    if route == "anomalies":
        b = req["body"]
        (f,) = b["fields"]
        thr = float(b["threshold"])
        mu, sigma, n = con.execute(
            f"SELECT AVG({f}), COALESCE(STDDEV_POP({f}), 0), COUNT({f}) "
            f"FROM {b['table']}").fetchone()
        rows = con.execute(f"SELECT event_id, {f} FROM {b['table']}").fetchall()
        if len(rows) != len(data):
            return f"{len(data)} rows, expected {len(rows)}"
        got = {r["event_id"]: bool(r["_meta_is_anomaly"]) for r in data}
        for eid, v in rows:
            if n < 3 or sigma <= 0 or v is None:
                want = False
            else:
                z = abs(v - mu) / sigma
                if abs(z - thr) < 1e-9:
                    continue  # on the boundary: either engine's rounding holds
                want = z > thr
            if got.get(eid) != want:
                return f"event {eid}: flagged {got.get(eid)}, expected {want}"
        return None
    return f"no check for route {route}"


def _schema(con, q, data):
    t = q["table"]
    cols = q["columns"].split(",")
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {t}").fetchall()}
    by_col = {r["column_name"]: r for r in data}
    if sorted(by_col) != sorted(cols):
        return f"columns {sorted(by_col)} != {sorted(cols)}"
    for c in cols:
        dt = types[c].upper()
        num = any(k in dt for k in ("INT", "DOUBLE", "FLOAT", "DECIMAL"))
        ts = "TIMESTAMP" in dt or dt == "DATE"
        total, nulls, nd = con.execute(
            f"SELECT COUNT(*), SUM(CASE WHEN {c} IS NULL OR CAST({c} AS VARCHAR) = '' "
            f"THEN 1 ELSE 0 END), COUNT(DISTINCT {c}) FROM {t}").fetchone()
        want = {"total_count": total, "null_count": nulls, "n_distinct": nd,
                "high_cardinality": nd > 100}
        if num:
            mn, mx, mean = con.execute(
                f"SELECT CAST(MIN({c}) AS DOUBLE), CAST(MAX({c}) AS DOUBLE), "
                f"{eavg(c)} FROM {t}").fetchone()
            want.update(min_value=mn, max_value=mx, mean_value=mean)
        else:
            mn, mx = con.execute(f"SELECT CAST(MIN({c}) AS VARCHAR), "
                                 f"CAST(MAX({c}) AS VARCHAR) FROM {t}").fetchone()
            want.update(min_text=mn, max_text=mx)
            if nd <= 20:
                vals = [r[0] for r in con.execute(
                    f"SELECT DISTINCT CAST({c} AS VARCHAR) FROM {t} WHERE {c} IS NOT NULL "
                    f"AND CAST({c} AS VARCHAR) <> '' ORDER BY 1").fetchall()]
                want["sample_values"] = "|".join(vals)
        id_like = c.lower().endswith("_id") or c.lower().endswith("key")
        want["suggested_role"] = ("id" if id_like and nd == total - nulls else
                                  "metric" if num else "datetime" if ts else
                                  "dimension" if nd <= 100 else "text")
        for k, v in want.items():
            if not _same(by_col[c].get(k), v):
                return f"column {c} {k}: {by_col[c].get(k)!r} != {v!r}"
    return None


def dashboard(tables_dir, responses_dir, requests_by_key):
    """{key: reason} for every distinct request whose response is wrong."""
    con = connect(tables_dir)
    bad = {}
    for key, req in requests_by_key.items():
        path = os.path.join(responses_dir, f"{key}.json")
        if not os.path.exists(path):
            continue  # never answered with 200; counted as failed already
        with open(path, encoding="utf-8") as f:
            resp = json.load(f)
        try:
            why = dashboard_request(con, req, resp["data"])
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check error: {e}"
        if why:
            bad[key] = why
    return bad


# ---- ETL -------------------------------------------------------------------

ETL_KEY = ["l_orderkey", "l_linenumber"]
ETL_ANOMALY = ["l_extendedprice", "l_quantity"]
ETL_INT = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"]
ETL_DBL = ["l_extendedprice", "l_discount", "l_tax"]
ETL_STR = ["l_returnflag", "l_linestatus"]


def _canon_row():
    parts = ([f"CAST(CAST({c} AS BIGINT) AS VARCHAR)" for c in ETL_INT]
             + [f"printf('%.2f', CAST({c} AS DOUBLE))" for c in ETL_DBL]
             + [f"CAST({c} AS VARCHAR)" for c in ETL_STR]
             + ["substr(CAST(l_shipdate AS VARCHAR), 1, 10)"])
    return "concat_ws('|', " + ", ".join(parts) + ")"


def _summary(con, rel):
    return con.execute(
        f"SELECT COUNT(*), SUM(hash({_canon_row()}) % 1000000007), "
        f"SUM(CASE WHEN _meta_is_anomaly THEN 1 ELSE 0 END), "
        f"MIN(_meta_quality_score), MAX(_meta_quality_score) FROM {rel}").fetchone()


def etl_expected(csv_path):
    """(rows, checksum, anomalies, min score, max score) the pipeline must
    produce, by SQL over the CSV."""
    con = connect()
    cols = ETL_INT + ETL_DBL + ETL_STR + ["l_shipdate"]
    missing = " OR ".join(f"{c} IS NULL OR CAST({c} AS VARCHAR) = ''" for c in cols)
    con.execute(f"CREATE TABLE src AS SELECT * FROM read_csv('{csv_path}', header=true)")
    con.execute(f"CREATE TABLE dd AS SELECT * FROM src WHERE NOT ({missing}) "
                f"QUALIFY row_number() OVER (PARTITION BY {', '.join(ETL_KEY)} "
                f"ORDER BY {', '.join(cols)}) = 1")
    flags = []
    for f in ETL_ANOMALY:
        mu, sigma, n = con.execute(f"SELECT AVG({f}), COALESCE(STDDEV_POP({f}), 0), "
                                   f"COUNT({f}) FROM dd").fetchone()
        if n >= 3 and sigma > 0:
            flags.append(f"ABS({f} - {mu!r}) / {sigma!r} > 3.0")
    flag = " OR ".join(flags) if flags else "FALSE"
    # every row left after the null filter is complete, valid and
    # consistent on the scored fields, so its quality score is exactly 1.0
    con.execute(f"CREATE TABLE want AS SELECT *, ({flag}) AS _meta_is_anomaly, "
                f"1.0 AS _meta_quality_score FROM dd")
    return _summary(con, "want")


def etl_outputs(dirs, expected):
    """{output dir: reason} for every sink output, of the parquet and jsonl
    dirs given, that is missing or differs from the expected summary."""
    con = connect()
    bad = {}
    for d in dirs:
        kind = os.path.basename(d)
        pattern = {"parquet": "*.parquet", "jsonl": "*.json"}[kind]
        if not glob.glob(os.path.join(d, pattern)):
            bad[d] = "no output"
            continue
        rel = (f"read_parquet('{d}/*.parquet')" if kind == "parquet" else
               f"read_json_auto('{d}/*.json', format='newline_delimited')")
        try:
            got = _summary(con, rel)
        except Exception as e:
            bad[d] = f"check error: {e}"
            continue
        if tuple(got) != tuple(expected):
            bad[d] = f"got {got}, expected {expected}"
    return bad


# ---- gates -----------------------------------------------------------------

def _check_oracle(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def gates(root, tables_dir, out_dir, oracle_sql, gate_names):
    """{gate: status} where status is "pass", "rows-only" or a failure
    reason. Oracle SQL comes from `SparkEntry.oracleSql`, replaced by
    `scripts/oracle_sf01_overrides.json` where that file has the gate.
    Gates whose oracle reads aux files that only `graft.Verify` writes get
    a non-empty-result check instead."""
    import pandas as pd
    co = _check_oracle(root)
    with open(os.path.join(root, "scripts", "oracle_sf01_overrides.json")) as f:
        overrides = json.load(f)
    con = connect(tables_dir)
    out = {}
    for g in gate_names:
        files = glob.glob(os.path.join(out_dir, g, "*.parquet"))
        if not files:
            out[g] = "no output"
            continue
        ours = pd.read_parquet(os.path.join(out_dir, g))
        sql = overrides.get(g, oracle_sql.get(g))
        if sql is None or "graft_oracle_aux" in sql:
            out[g] = "rows-only" if len(ours) > 0 else "empty output"
            continue
        try:
            theirs = con.execute(sql).fetchdf()
        except Exception as e:
            out[g] = f"oracle error: {e}"
            continue
        if sorted(ours.columns) != sorted(theirs.columns):
            out[g] = f"schema {sorted(ours.columns)} != {sorted(theirs.columns)}"
        elif len(ours) != len(theirs):
            out[g] = f"{len(ours)} rows, oracle {len(theirs)}"
        elif co.canon(ours) != co.canon(theirs):
            out[g] = f"hash mismatch over {len(ours)} rows"
        else:
            out[g] = "pass"
    return out
