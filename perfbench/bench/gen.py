"""Seeded inputs: the TPC-H-shaped parquet tables, the ETL CSV and the
dashboard request lists. The same seed always yields byte-identical files.

Every generator takes its own numpy Generator derived from (seed, name), so
adding a table or a column to one generator never shifts another's values.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data table query join scan filter group order sort key value "
         "row column batch stream spark agg window merge hash part line "
         "customer small big fast slow vector").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

D_ORDER_LO, D_ORDER_HI = dt.date(1995, 1, 1), dt.date(2001, 8, 1)
D_SHIP_LO, D_SHIP_HI = dt.date(1995, 1, 2), dt.date(2001, 11, 4)
EVENTS_T0 = dt.datetime(2024, 1, 1)


def rng(seed, name):
    # a stable per-stream seed: Python's hash() is salted per process
    salt = int.from_bytes(name.encode(), "little") % (2 ** 61)
    return np.random.default_rng([seed, salt])


def _days(r, lo, hi, n):
    off = r.integers(0, (hi - lo).days + 1, n)
    base = np.datetime64(lo.isoformat(), "D")
    return base + off.astype("timedelta64[D]")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(seed, sf, out_dir):
    """Write the ten tables the gates and the dashboard read, at scale
    factor `sf` (sf 0.1 = 600K lineitem rows). Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), max(int(10000 * sf), 10)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_ev, n_doc = int(1000000 * sf), max(int(50000 * sf), 500)
    n_emb = max(int(20000 * sf), 500)
    counts = {}

    def put(name, cols):
        t = pa.table(cols)
        counts[name] = t.num_rows
        _write(t, os.path.join(out_dir, name + ".parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})

    r = rng(seed, "customer")
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = rng(seed, "supplier")
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})

    r = rng(seed, "part")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = rng(seed, "orders")
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(r, D_ORDER_LO, D_ORDER_HI, n_ord)
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    put("lineitem", _lineitem(rng(seed, "lineitem"), 4 * n_ord, n_ord,
                              n_part, n_supp))

    r = rng(seed, "events")
    gaps = r.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = (np.datetime64(EVENTS_T0.isoformat(), "us")
          + np.cumsum(gaps).astype("timedelta64[us]"))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, max(n_ev * 3 // 200, 1), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = rng(seed, "documents")
    texts = []
    for i in range(n_doc):
        # every 20th document is a near-duplicate: an earlier one plus a
        # marker word
        if i % 20 == 19:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            k = int(r.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), k)))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = rng(seed, "embeddings")
    v = r.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})
    return counts


def _lineitem(r, n, n_ord, n_part, n_supp):
    return {
        "l_orderkey": r.integers(0, n_ord, n).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n), 2),
        "l_discount": np.round(r.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(r, D_SHIP_LO, D_SHIP_HI, n)
                               .astype("datetime64[us]"), pa.timestamp("us"))}


ETL_COLUMNS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
               "l_quantity", "l_extendedprice", "l_discount", "l_tax",
               "l_returnflag", "l_linestatus", "l_shipdate"]


def etl_csv(seed, rows, path):
    """Lineitem-shaped CSV for the ETL pipelines. About 10% of the rows are
    exact copies of an earlier row (so duplicates on any match key are
    whole-row duplicates), about 2% of the fields are empty, and a handful
    of prices are far outliers. Returns the measured shares."""
    r = rng(seed, "etl")
    n_base = int(round(rows / 1.1))
    n_ord = max(n_base // 4, 1)
    # (l_orderkey, l_linenumber) is unique among base rows: each order gets
    # consecutive line numbers, so the dedup match key only ever collides on
    # the injected copies
    okey = np.sort(r.integers(0, n_ord, n_base)).astype(np.int64)
    first = np.r_[True, okey[1:] != okey[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(n_base), 0))
    line = (np.arange(n_base) - start + 1).astype(np.int64)
    cols = _lineitem(r, n_base, n_ord, 20000, 1000)
    cols["l_orderkey"], cols["l_linenumber"] = okey, line
    perm = r.permutation(n_base)
    text = {}
    for c in ETL_COLUMNS:
        v = cols[c]
        if c == "l_shipdate":
            s = v.to_numpy(zero_copy_only=False).astype("datetime64[D]").astype(str)
        elif c == "l_quantity":
            s = np.asarray(v).astype(np.int64).astype(str)
        elif c in ("l_extendedprice", "l_discount", "l_tax"):
            s = np.char.mod("%.2f", np.asarray(v))
        else:
            s = np.asarray(v).astype(str)
        text[c] = s[perm].astype(object)
    # a few far outliers on the price (x100)
    for i in r.choice(n_base, 8, replace=False):
        text["l_extendedprice"][i] = "%.2f" % (float(text["l_extendedprice"][i]) * 100)
    # empty fields: ~2% of the rows lose one or more fields
    row_empty = np.zeros(n_base, dtype=np.int64)
    for c in ETL_COLUMNS:
        mask = r.random(n_base) < 0.02 / len(ETL_COLUMNS)
        text[c][mask] = ""
        row_empty += mask
    lines = [",".join(text[c][i] for c in ETL_COLUMNS) for i in range(n_base)]
    # ~10% exact copies, each placed right after its original
    n_dup = rows - n_base
    src = np.sort(r.integers(0, n_base, n_dup))
    order = np.sort(np.r_[np.arange(n_base), src], kind="stable")
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(ETL_COLUMNS) + "\n")
        for i in order:
            f.write(lines[i])
            f.write("\n")
    n_out = len(order)
    return {"rows": n_out, "duplicate_share": n_dup / n_out,
            "empty_field_share":
                float(row_empty[order].sum()) / (n_out * len(ETL_COLUMNS)),
            "rows_with_empty_share": float((row_empty[order] > 0).mean()),
            "bytes": os.path.getsize(path)}


# ---- dashboard requests ----------------------------------------------------

# quota of each route in a block of 20 requests of one client; a round is
# ROUND_LEN requests, so a block spans two rounds
BLOCK_MIX = [("query", 6), ("drill_down", 6), ("filter_values", 3),
             ("dashboard", 3), ("schema", 1), ("anomalies", 1)]
BLOCK_LEN = sum(n for _, n in BLOCK_MIX)
ROUND_LEN = 10
PAGE = 100

FV_COLUMNS = [("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
              ("lineitem", "l_linenumber"), ("orders", "o_orderpriority"),
              ("orders", "o_orderstatus"), ("events", "event_type")]
SCHEMA_COLUMNS = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount",
                 "l_returnflag", "l_linestatus"],
    "orders": ["o_totalprice", "o_orderstatus", "o_orderpriority"],
    "events": ["value", "event_type", "user_id"]}


# request shapes per route; a client cycles through them, so every run has
# the same mix of shapes and only the literal values depend on the seed
KINDS = {"query": 3, "drill_down": 2, "filter_values": 6, "dashboard": 2,
         "schema": 3, "anomalies": 1}


def _fresh(route, kind, r, sf):
    """One request of the given shape with freshly drawn literal values."""
    if route == "query":
        if kind == 0:
            lo = round(float(r.uniform(1, 40)))
            return {"method": "POST", "path": "/api/analytics/dashboard/query",
                    "body": {"table": "lineitem",
                             "filters": [{"column": "l_quantity", "operator": "gte",
                                          "value": lo},
                                         {"column": "l_returnflag", "operator": "in",
                                          "value": sorted(r.choice(
                                              ["A", "N", "R"], 2, replace=False)
                                              .tolist())}],
                             "aggregation": {
                                 "group_by": ["l_linestatus", "l_linenumber"],
                                 "metrics": [
                                     {"column": "l_extendedprice", "agg": "sum",
                                      "alias": "revenue"},
                                     {"column": "l_discount", "agg": "avg",
                                      "alias": "avg_disc"},
                                     {"column": "l_orderkey", "agg": "count",
                                      "alias": "n"}],
                                 "limit": 50}}}
        if kind == 1:
            lo = round(float(r.uniform(1000, 400000)), 2)
            return {"method": "POST", "path": "/api/analytics/dashboard/query",
                    "body": {"table": "orders",
                             "filters": [{"column": "o_totalprice", "operator": "between",
                                          "value": [lo, round(lo + 100000.0, 2)]}],
                             "aggregation": {
                                 "group_by": ["o_orderpriority"],
                                 "metrics": [
                                     {"column": "o_totalprice", "agg": "sum",
                                      "alias": "total"},
                                     {"column": "o_custkey", "agg": "max",
                                      "alias": "max_cust"}],
                                 "limit": 10}}}
        et = str(r.choice(EVENT_TYPES))
        lo = round(float(r.uniform(0, 50)), 2)
        return {"method": "POST", "path": "/api/analytics/dashboard/query",
                "body": {"table": "events",
                         "filters": [{"column": "event_type", "operator": "neq",
                                      "value": et},
                                     {"column": "value", "operator": "gte",
                                      "value": lo}],
                         "aggregation": {
                             "group_by": ["event_type"],
                             "metrics": [{"column": "value", "agg": "avg",
                                          "alias": "avg_value"},
                                         {"column": "value", "agg": "max",
                                          "alias": "max_value"}]}}}
    if route == "drill_down":
        if kind == 0:
            st = str(r.choice(["F", "O", "P"]))
            return {"table": "orders", "columns": ["o_orderkey", "o_custkey",
                                                   "o_totalprice", "o_orderpriority"],
                    "sort_key": "o_orderkey",
                    "filters": [{"column": "o_orderstatus", "operator": "eq",
                                 "value": st}]}
        lo = round(float(r.uniform(0, 100)), 2)
        return {"table": "events", "columns": ["event_id", "user_id", "event_type",
                                               "value"],
                "sort_key": "event_id",
                "filters": [{"column": "value", "operator": "gt", "value": lo}]}
    if route == "filter_values":
        t, c = FV_COLUMNS[kind]
        q = {"table": t, "column": c, "limit": str(int(r.integers(5, 101)))}
        if c in ("o_orderpriority", "event_type") and r.random() < 0.5:
            q["search"] = str(r.choice(["e", "i", "r", "-"]))
        return {"method": "GET", "path": "/api/analytics/dashboard/filter-values",
                "query": q}
    if route == "dashboard":
        return {"method": "GET", "path": "/api/analytics/dashboard",
                "query": {"kind": ["summary", "by_date"][kind], "table": "orders"}}
    if route == "schema":
        t = sorted(SCHEMA_COLUMNS)[kind]
        cols = SCHEMA_COLUMNS[t]
        pick = sorted(r.choice(len(cols), 3, replace=False))
        return {"method": "GET", "path": "/api/analytics/dashboard/schema",
                "query": {"table": t, "columns": ",".join(cols[i] for i in pick)}}
    if route == "anomalies":
        thr = round(float(r.uniform(2.5, 4.0)), 2)
        return {"method": "POST", "path": "/api/analytics/anomalies",
                "body": {"table": "events", "method": "statistical",
                         "fields": ["value"], "threshold": thr}}
    raise ValueError(route)


def _drill_pages(spec, n):
    """n consecutive pages (offsets 0, 100, 200, ...) of one drill filter."""
    return [{"method": "POST", "path": "/api/analytics/dashboard/drill-down",
             "body": dict(spec, limit=PAGE, offset=PAGE * k)} for k in range(n)]


def dashboard_requests(seed, clients, blocks, sf):
    """Per-client request lists: `blocks` blocks of BLOCK_LEN requests, each
    block holding exactly the BLOCK_MIX quota in a shuffled order. Each
    client cycles through every route's shapes (KINDS); for each shape, one
    cycle draws fresh literal values and the next repeats earlier requests
    of that shape exactly, so about half the requests are repeats.
    Drill-downs come as sessions of three consecutive pages. Returns
    {"clients": [[request, ...], ...]}."""
    r = rng(seed, "dashboard")
    history = {}
    lists = [[] for _ in range(clients)]
    counters = [dict.fromkeys(KINDS, 0) for _ in range(clients)]

    def draw(c, route):
        j = counters[c][route]
        counters[c][route] += 1
        n = KINDS[route]
        kind = (j + c) % n
        h = history.setdefault((route, kind), [])
        if h and (j // n) % 2 == 1:
            return h[int(r.integers(0, len(h)))]
        req = _fresh(route, kind, r, sf)
        h.append(req)
        return req

    for _ in range(blocks):
        for c in range(clients):
            slots = []
            for route, quota in BLOCK_MIX:
                if route == "drill_down":
                    slots += [_drill_pages(draw(c, route), 3) for _ in range(quota // 3)]
                else:
                    slots += [[draw(c, route)] for _ in range(quota)]
            for i in r.permutation(len(slots)):
                for req in slots[i]:
                    lists[c].append(dict(req, route=_route_of(req)))
    return {"clients": lists}


def cold_requests(seed, sf):
    """The cold round: one fresh request per route, from its own stream."""
    r = rng(seed, "dashboard-cold")
    out = []
    for route, _ in BLOCK_MIX:
        req = _fresh(route, 0, r, sf)
        if route == "drill_down":
            req = _drill_pages(req, 1)[0]
        out.append(dict(req, route=route))
    return {"clients": [out]}


def _route_of(req):
    p = req["path"]
    return {"/api/analytics/dashboard/query": "query",
            "/api/analytics/dashboard/drill-down": "drill_down",
            "/api/analytics/dashboard/filter-values": "filter_values",
            "/api/analytics/dashboard": "dashboard",
            "/api/analytics/dashboard/schema": "schema",
            "/api/analytics/anomalies": "anomalies"}[p]


def request_key(req):
    """Canonical identity of a request: equal keys = exact repeats."""
    return json.dumps({k: req[k] for k in ("method", "path", "body", "query")
                       if k in req}, sort_keys=True, separators=(",", ":"))
