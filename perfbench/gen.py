"""Seeded input synthesis for the graft benchmark.

Every input the program reads is made here from the run's seed, before the
JVM starts and outside all timing; the same seed gives byte-identical
files. Two families:

* `tables`: the ten gate tables (TPC-H-ish star schema plus `events`,
  `documents`, `embeddings`) with the column types and value ranges of the
  sf0.01 test tables the gates are written against.
* `main_summary`: a multi-day `main_summary` partitioned by
  `submission_date_s3`, in the schema of `jobs.MainSummaryFixture` (read
  from the JSON the build dumps), plus a `clients_daily` input for the
  TAAR jobs.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of the sf0.01 test tables.
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(rng, start, days, n):
    base = np.datetime64(start, "us")
    d = rng.integers(0, days, n).astype("timedelta64[D]")
    return base + d.astype("timedelta64[us]")


def documents(rng, n):
    """10-100 random-vocabulary words each; 5 % of them are an earlier
    document with " dup" appended (near-duplicates at Jaccard ~0.97)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(LANGS, n, p=LANG_P)
    return texts, langs


def tables(out, seed):
    """The ten gate tables, one parquet file each."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = SIZES
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    c = n["customer"]
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)}),
        f"{out}/customer.parquet")
    s = n["supplier"]
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)}),
        f"{out}/supplier.parquet")
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)}),
        f"{out}/part.parquet")
    o = n["orders"]
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": pa.array(_ts_days(rng, "1995-01-01", 2405, o)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)}),
        f"{out}/orders.parquet")
    li = n["lineitem"]
    disc = rng.integers(0, 21, li) // 2 / 100.0  # 0.00..0.10, ends half as likely
    tax = rng.integers(0, 17, li) // 2 / 100.0
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": np.round(disc, 2),
        "l_tax": np.round(tax, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": pa.array(_ts_days(rng, "1995-01-02", 2499, li))}),
        f"{out}/lineitem.parquet")
    e = n["events"]
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, e * 15 // 1000, e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}),
        f"{out}/events.parquet")
    d = n["documents"]
    texts, langs = documents(rng, d)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    # Embeddings come from a fixed seed: with ten query vectors per ANN
    # gate, recall@5 moves by +-15% from one random table to the next, so
    # only a fixed table lets `ann_recall` show a change in the ANN code.
    erng = np.random.default_rng([0, 4])
    v = n["embeddings"]
    x = erng.standard_normal((v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(erng.integers(0, 10, v), pa.int32())}),
        f"{out}/embeddings.parquet")


# --- main_summary ---------------------------------------------------------

ADDONS = ["followonsearch@mozilla.com", "uBlock0@raymondhill.net",
          "shield-study@shield.mozilla.org", "cliqz@cliqz.com",
          "a@x", "b@x", "c@x", "d@x", "e@x", "f@x"]
ENGINES = ["google", "bing", "yahoo", "ddg"]
SOURCES = ["urlbar", "searchbar", "abouthome", "newtab", "contextmenu",
           "system", "in-content:sap:", "follow-on:", "bogus"]
LOCALES = ["en-US", "de", "fr", "es-ES", "pt-BR"]
COUNTRIES = ["US", "DE", "FR", "ES", "BR"]
CHANNELS = ["release", "release", "release", "beta"]


def _arrow_type(t):
    """Spark JSON schema type -> pyarrow type."""
    if isinstance(t, str):
        return {"string": pa.string(), "long": pa.int64(),
                "boolean": pa.bool_(), "integer": pa.int32(),
                "double": pa.float64()}[t]
    if t["type"] == "struct":
        return pa.struct([pa.field(f["name"], _arrow_type(f["type"]))
                          for f in t["fields"]])
    if t["type"] == "array":
        return pa.list_(_arrow_type(t["elementType"]))
    if t["type"] == "map":
        return pa.map_(_arrow_type(t["keyType"]), _arrow_type(t["valueType"]))
    raise ValueError(f"unsupported Spark type {t}")


def _addon(aid, rng, system=False):
    return {"addon_id": aid, "blocklisted": False, "name": f"name-{aid}",
            "user_disabled": False, "app_disabled": False,
            "version": f"{int(rng.integers(1, 5))}.0", "scope": 1,
            "type": "extension", "foreign_install": bool(rng.random() < 0.1),
            "has_binary_components": False,
            "install_day": int(rng.integers(16000, 17000)),
            "update_day": 17001, "signed_state": 2, "is_system": system,
            "is_web_extension": bool(rng.random() < 0.5),
            "multiprocess_compatible": True}


def main_summary(out, seed, schema_path, n_clients, days, end_date):
    """Multi-day main_summary under `out/main_summary/submission_date_s3=*`
    and a clients_daily-shaped table at `out/clients_daily.parquet`.

    Per-client attributes (channel, locale, add-ons, ...) are constant, so
    every `first()` the jobs take is order-independent."""
    schema = json.load(open(schema_path))
    fields = schema["fields"]
    rng = np.random.default_rng([seed, 3])
    end = datetime.date.fromisoformat(end_date)
    clients = []
    for c in range(n_clients):
        addons = sorted(set(int(a) for a in rng.integers(0, len(ADDONS), int(rng.integers(0, 5)))))
        clients.append({
            "client_id": f"client-{c:06d}",
            "sample_id": str(c % 100),
            "channel": CHANNELS[int(rng.integers(0, len(CHANNELS)))],
            "locale": LOCALES[int(rng.integers(0, len(LOCALES)))],
            "country": COUNTRIES[int(rng.integers(0, len(COUNTRIES)))],
            "os": ["Windows_NT", "Darwin", "Linux"][int(rng.integers(0, 3))],
            "app_version": ["54.0.1", "55.0", "56.0.2"][int(rng.integers(0, 3))],
            "profile_creation_date": int(rng.integers(16000, 17000)),
            "default_search_engine": ENGINES[int(rng.integers(0, len(ENGINES)))],
            "active_addons": [_addon(ADDONS[a], rng, system=(a == 0)) for a in addons],
        })
    rows_by_day = {}
    doc = 0
    for ci, cl in enumerate(clients):
        for _ in range(days):  # a fixed row count keeps rows/s comparable across seeds
            sub = end - datetime.timedelta(days=int(rng.integers(0, days)))
            act = sub - datetime.timedelta(days=int(rng.integers(0, 3)))
            r = dict(cl)
            r["document_id"] = f"doc-{doc:08d}"
            doc += 1
            r["submission_date"] = r["submission_date_s3"] = sub.strftime("%Y%m%d")
            r["subsession_start_date"] = f"{act.isoformat()} {int(rng.integers(0, 24)):02d}:00"
            r["app_name"] = "Firefox"
            r["normalized_channel"] = cl["channel"]
            r["subsession_counter"] = int(rng.integers(1, 4))
            r["subsession_length"] = int(rng.integers(60, 7200))
            r["active_ticks"] = int(rng.integers(0, 1440))
            r["scalar_parent_browser_engagement_tab_open_event_count"] = int(rng.integers(0, 20))
            r["scalar_parent_browser_engagement_max_concurrent_tab_count"] = int(rng.integers(1, 30))
            r["active_addons_count"] = len(cl["active_addons"])
            if rng.random() < 0.1:
                r["search_counts"] = None
            else:
                r["search_counts"] = [
                    {"engine": ENGINES[int(rng.integers(0, len(ENGINES)))],
                     "source": SOURCES[int(rng.integers(0, len(SOURCES)))],
                     "count": int(rng.integers(0, 10))}
                    for _ in range(int(rng.integers(0, 4)))]
            if rng.random() < 0.3:
                r["scalar_parent_browser_search_ad_clicks"] = [(ENGINES[int(rng.integers(0, 4))], int(rng.integers(1, 5)))]
            rows_by_day.setdefault(r["submission_date_s3"], []).append(r)
    arrow_schema = pa.schema([pa.field(f["name"], _arrow_type(f["type"]))
                              for f in fields if f["name"] != "submission_date_s3"])
    base = f"{out}/main_summary"
    for day, rows in sorted(rows_by_day.items()):
        present = set().union(*(r.keys() for r in rows))
        cols = {f.name: pa.array([r.get(f.name) for r in rows], f.type)
                if f.name in present else pa.nulls(len(rows), f.type)
                for f in arrow_schema}
        os.makedirs(f"{base}/submission_date_s3={day}", exist_ok=True)
        pq.write_table(pa.table(cols, schema=arrow_schema),
               f"{base}/submission_date_s3={day}/part-00000.parquet")
    # clients_daily-shaped TAAR input: one row per client and submission day
    cd = {}
    for day, rows in rows_by_day.items():
        for r in rows:
            cd[(r["client_id"], day)] = r
    keys = sorted(cd)
    addon_t = _arrow_type({"type": "array", "elementType": next(
        f["type"]["elementType"] for f in fields if f["name"] == "active_addons")})
    pq.write_table(pa.table({
        "client_id": [k[0] for k in keys],
        "submission_date_s3": [k[1] for k in keys],
        "channel": [cd[k]["channel"] for k in keys],
        "normalized_channel": [cd[k]["channel"] for k in keys],
        "app_name": ["Firefox" for _ in keys],
        "locale": [cd[k]["locale"] for k in keys],
        "active_addons": pa.array([cd[k]["active_addons"] for k in keys], addon_t)}),
        f"{out}/clients_daily.parquet")
    return sum(len(v) for v in rows_by_day.values())
