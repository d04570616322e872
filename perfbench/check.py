"""Output checks for the graft benchmark.

Every expected answer is computed here, apart from the program: DuckDB
runs the gates' oracle SQL and the exact ANN top-k, and recomputes the
mozetl job aggregates from the synthetic inputs. Nothing is compared against a stored copy of earlier output.

Each checker is a function from loaded outputs to a list of problems. The
self-test hands every checker a copy of one of its outputs with one row
changed and a copy with one row dropped; a checker that accepts either is
itself reported as a problem.
"""
import copy
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ANN_K = 5


class Report:
    def __init__(self):
        self.problems = []
        self.recall = 1.0


def _connect(tables_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 4")  # the JVM has exited by now
    if tables_dir:
        for t in TABLES:
            p = f"{tables_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _rows(con, sql, params=None):
    """(columns, rows) of a query, fetched through pandas so DuckDB
    HUGEINT/DECIMAL columns widen to float64 as the oracle comparison
    expects."""
    df = con.execute(sql, params or []).df()
    return list(df.columns), list(df.itertuples(index=False, name=None))


def _parquet(con, path):
    return _rows(con, "SELECT * FROM read_parquet(?)", [glob.glob(f"{path}/*.parquet")])


# --- gates: oracle SQL, compared under scripts/check_oracle.py's rules -----

def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in order) for r in rows),
                 key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def _cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return str(a) == str(b)


def compare_oracle(name, got, expected):
    """Problems between a result and its oracle result, each (cols, rows)."""
    gc, gr = _canon(*got)
    ec, er = _canon(*expected)
    if gc != ec:
        return [f"{name}: columns {gc} != oracle {ec}"]
    if len(gr) != len(er):
        return [f"{name}: {len(gr)} rows != oracle {len(er)}"]
    for i, (a, b) in enumerate(zip(gr, er)):
        for c, x, y in zip(gc, a, b):
            if not _cell_eq(x, y):
                return [f"{name}: row {i} col {c}: {x!r} != oracle {y!r}"]
    return []


def exact_topk(con, qids, k=ANN_K):
    """Exact cosine top-k neighbours (self excluded) of each query id."""
    _, rows = _rows(con, f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
                     list_cosine_similarity(q.v, e.v) AS sim
              FROM e q, e WHERE q.vec_id IN (SELECT unnest(?)) AND q.vec_id <> e.vec_id)
        SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
          FROM s) WHERE r <= {k}""", [sorted(qids)])
    out = {}
    for q, n in rows:
        out.setdefault(int(q), set()).add(int(n))
    return out


def ann_recall(name, got, exact):
    """Mean recall@k of one ANN result against the exact top-k."""
    cols, rows = got
    qi, ni = cols.index("qid"), cols.index("nid")
    found = {}
    for r in rows:
        found.setdefault(int(r[qi]), set()).add(int(r[ni]))
    per_q = [len(found.get(q, set()) & ex) / len(ex) for q, ex in exact.items()]
    return sum(per_q) / len(per_q)


def check_gates(in_dir, out_dir, failed, rep, ann_names):
    con = _connect(f"{in_dir}/tables")
    oracles = json.load(open(f"{out_dir}/oracles.json"))
    recalls = []
    first = None
    for name, o in oracles.items():
        if name in failed:
            continue
        got = _parquet(con, f"{out_dir}/gates/{name}")
        expected = _rows(con, o["sql"])
        rep.problems += compare_oracle(name, got, expected)
        if first is None:
            first = (name, got, expected)
        if name in ann_names:
            qids = {int(r[got[0].index("qid")]) for r in expected[1]}
            r = ann_recall(name, got, exact_topk(con, qids))
            recalls.append(r)
    if recalls:
        rep.recall = sum(recalls) / len(recalls)
    if first:
        name, got, expected = first
        self_test(rep, f"oracle {name}", lambda g: compare_oracle(name, g, expected), got)


# --- self-test ---------------------------------------------------------------

def _mutations(got):
    """A copy with one cell of one row changed, and a copy with one row
    dropped. `got` is (cols, rows)."""
    cols, rows = got
    if not rows:
        return []
    changed = list(rows)
    r = list(changed[len(rows) // 2])
    v = r[-1]
    if isinstance(v, bool):
        r[-1] = not v
    elif isinstance(v, (int, float)) and not (isinstance(v, float) and math.isnan(v)):
        r[-1] = v + 1
    else:
        r[-1] = f"{v}~"
    changed[len(rows) // 2] = tuple(r)
    dropped = list(rows[:len(rows) // 2]) + list(rows[len(rows) // 2 + 1:])
    return [("changed", (cols, changed)), ("dropped", (cols, dropped))]


def self_test(rep, what, checker, got):
    for kind, bad in _mutations(copy.deepcopy(got)):
        if not checker(bad):
            rep.problems.append(f"self-test: {what} accepted a {kind} row")


# --- mozetl-daily: job aggregates recomputed from the synthetic input -------

# rollup.py's six GUI search access points (clients_daily's search filter)
SEARCH_ACCESS_POINTS = ("abouthome", "contextmenu", "newtab", "searchbar",
                        "system", "urlbar")
# search_aggregates' pivot columns: every search-count type
SEARCH_TYPES = ("organic", "tagged-sap", "tagged-follow-on", "sap", "unknown",
                "ad-click", "search-with-ads")
MAX_CLIENT_SEARCH_COUNT = 10000


def compare_keyed(name, got, expected, nkey):
    """`got` is (cols, rows) whose first `nkey` columns are the key;
    `expected` maps key tuple -> value tuple. Float values compare to
    1e-9 relative (summation order differs between engines)."""
    _, rows = got
    seen = {}
    for r in rows:
        k = tuple(r[:nkey])
        if k in seen:
            return [f"{name}: duplicate key {k}"]
        seen[k] = tuple(r[nkey:])
    if set(seen) != set(expected):
        miss = sorted(set(expected) - set(seen))[:3]
        extra = sorted(set(seen) - set(expected))[:3]
        return [f"{name}: keys differ (missing {miss}, unexpected {extra})"]
    for k, exp in expected.items():
        for g, e in zip(seen[k], exp):
            if isinstance(e, float) or isinstance(g, float):
                if g is None or e is None or not math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-9):
                    return [f"{name}: {k}: {seen[k]} != expected {exp}"]
            elif g != e:
                return [f"{name}: {k}: {seen[k]} != expected {exp}"]
    return []


def _keyed(con, sql, nkey, params=None):
    _, rows = _rows(con, sql, params)
    return {tuple(r[:nkey]): tuple(r[nkey:]) for r in rows}


def check_mozetl(in_dir, out_dir, failed, rep):
    p = dict(l.strip().split("=", 1) for l in open(f"{in_dir}/params.properties") if "=" in l)
    day, start_iso = p["day"], p["start_iso"]
    start = start_iso.replace("-", "")
    con = _connect()
    con.execute(f"CREATE VIEW ms AS SELECT * FROM read_parquet("
                f"'{in_dir}/main_summary/*/*.parquet', hive_partitioning = false)")
    con.execute(f"CREATE VIEW cd AS SELECT * FROM read_parquet('{in_dir}/clients_daily.parquet')")
    saps = ", ".join(f"'{s}'" for s in SEARCH_ACCESS_POINTS)
    checks = []  # (name, got, checker)

    if "clients_daily" not in failed:
        # rollup.py: activity day = date - lag, submitted within the lag
        # window; a row whose search counts are all filtered out is dropped
        exp = _keyed(con, f"""
            WITH w AS (
              SELECT client_id, active_ticks,
                     CASE WHEN search_counts IS NULL THEN 0 ELSE
                       list_sum(list_transform(list_filter(search_counts,
                         s -> s.count > -1 AND s.source IN ({saps})), s -> s.count)) END AS n,
                     search_counts IS NULL OR len(list_filter(search_counts,
                       s -> s.count > -1 AND s.source IN ({saps}))) > 0 AS keep
              FROM ms WHERE submission_date BETWEEN ? AND ?
                AND substr(subsession_start_date, 1, 10) = ?)
            SELECT client_id, CAST(sum(coalesce(n, 0)) AS BIGINT),
                   sum(active_ticks / (3600.0 / 5))
            FROM w WHERE keep GROUP BY client_id""", 1, [start, day, start_iso])
        got = _rows(con, "SELECT client_id, search_count_all_sum, active_hours_sum "
                    "FROM read_parquet(?)", [glob.glob(
                        f"{out_dir}/clients_daily/activity_date_s3={start_iso}/*.parquet")])
        checks.append(("clients_daily", got, lambda g, e=exp: compare_keyed("clients_daily", g, e, 1)))

    # search datasets: every search count of the day lands in one type column
    total = " + ".join(f'coalesce("{t}", 0)' for t in SEARCH_TYPES)
    exp_search = _keyed(con, f"""
        WITH day AS (SELECT * FROM ms WHERE submission_date = ?),
        c AS (
          SELECT client_id, s.engine AS engine, s.count AS n
          FROM (SELECT client_id, unnest(search_counts) AS s FROM day)
          WHERE s.count < {MAX_CLIENT_SEARCH_COUNT}
          UNION ALL
          SELECT client_id, unnest(map_keys(scalar_parent_browser_search_ad_clicks)),
                 unnest(map_values(scalar_parent_browser_search_ad_clicks)) FROM day
          UNION ALL
          SELECT client_id, unnest(map_keys(scalar_parent_browser_search_with_ads)),
                 unnest(map_values(scalar_parent_browser_search_with_ads)) FROM day)
        SELECT client_id, engine, CAST(sum(n) AS BIGINT) FROM c
        GROUP BY ALL HAVING sum(n) <> 0""", 2, [day])
    for job in ("search_clients_daily", "search_aggregates"):
        if job in failed:
            continue
        files = glob.glob(f"{out_dir}/{job}/v7/submission_date_s3={day}/*.parquet")
        if job == "search_clients_daily":
            key, exp = "client_id, engine", exp_search
        else:
            key, exp = "engine", {}
            for (_, eng), (n,) in exp_search.items():
                exp[(eng,)] = (exp.get((eng,), (0,))[0] + n,)
        got = _rows(con, f"SELECT {key}, CAST(sum({total}) AS BIGINT) AS n FROM read_parquet(?) "
                    f"GROUP BY ALL HAVING n <> 0", [files])
        checks.append((job, got, lambda g, j=job, e=exp, k=key: compare_keyed(
            j, g, e, len(k.split(",")))))

    if "addon_aggregates" not in failed:
        exp = _keyed(con, """
            WITH x AS (
              SELECT DISTINCT client_id, normalized_channel, substr(app_version, 1, 2) AS av,
                     locale, sample_id, profile_creation_date, a.addon_id AS id,
                     a.foreign_install AS fi, a.is_system AS sys,
                     a.is_web_extension AS we, a.install_day
              FROM (SELECT *, unnest(active_addons) AS a FROM ms WHERE submission_date = ?))
            SELECT client_id, normalized_channel, av, locale,
              CAST(sum(CASE WHEN id IS NOT NULL AND NOT sys AND NOT fi AND id NOT LIKE '%mozilla%'
                  AND id NOT LIKE '%cliqz%' AND id NOT LIKE '%@unified-urlbar%' THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN id LIKE '%@shield.mozilla%' THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN fi THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN sys THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
            FROM x GROUP BY ALL""", 4, [day])
        got = _rows(con, "SELECT client_id, normalized_channel, app_version, locale, "
                    "n_self_installed_addons, n_shield_addons, n_foreign_installed_addons, "
                    "n_system_addons, n_web_extensions FROM read_parquet(?)",
                    [glob.glob(f"{out_dir}/addon_aggregates/submission_date_s3={day}/*.parquet")])
        checks.append(("addon_aggregates", got,
                       lambda g, e=exp: compare_keyed("addon_aggregates", g, e, 4)))

    if "taar_lite_guidranking" not in failed:
        exp = _keyed(con, """
            SELECT a.addon_id, count(*) FROM (
              SELECT unnest(active_addons) AS a FROM cd
              WHERE channel = 'release' AND app_name = 'Firefox' AND len(active_addons) > 0)
            GROUP BY ALL""", 1)
        got = _rows(con, "SELECT addon_guid, install_count FROM read_parquet(?)",
                    [glob.glob(f"{out_dir}/taar_lite_guidranking/*.parquet")])
        checks.append(("taar_lite_guidranking", got,
                       lambda g, e=exp: compare_keyed("taar_lite_guidranking", g, e, 1)))

    whitelist = p["whitelist"].split(",")
    if "taar_lite" not in failed:
        _, users = _rows(con, """
            SELECT active_addons FROM cd WHERE active_addons IS NOT NULL
              AND len(active_addons) > 1 AND channel = 'release'
              AND normalized_channel = 'release' AND app_name = 'Firefox'""")
        pairs = {}
        for (addons,) in users:
            ids = [a["addon_id"] for a in addons
                   if not (a["is_system"] or a["app_disabled"] or a["type"] != "extension"
                           or a["user_disabled"] or a["foreign_install"])
                   and a["addon_id"] != "pioneer-opt-in@mozilla.org" and a["addon_id"] in whitelist]
            if len(ids) > 1:
                for i, k in enumerate(ids):
                    for j, o in enumerate(ids):
                        if i != j:
                            pairs[(k, o)] = pairs.get((k, o), 0) + 1
        got = _rows(con, "SELECT key_addon, c.id, c.n FROM (SELECT key_addon, "
                    "unnest(coinstallation_counts) AS c FROM read_parquet(?))",
                    [glob.glob(f"{out_dir}/taar_lite/*.parquet")])
        exp = {k: (v,) for k, v in pairs.items()}
        checks.append(("taar_lite", got, lambda g, e=exp: compare_keyed("taar_lite", g, e, 2)))

    for name, got, checker in checks:
        rep.problems += checker(got)
        self_test(rep, name, checker, got)


def check(workload, in_dir, out_dir, failed):
    rep = Report()
    if workload == "gates":
        ann = {n for n in json.load(open(f"{out_dir}/oracles.json")) if "_ann_" in n}
        check_gates(in_dir, out_dir, failed, rep, ann)
    elif workload == "mozetl-daily":
        check_mozetl(in_dir, out_dir, failed, rep)
    return rep
