package graft.queries

import org.apache.spark.sql.functions._

import GateQuery.{dec, dsum, table => t}

/** Extended relational coverage: the spark.sql catalog surface (SURVEY
  * §2.1 S3), set operations, CUBE grouping sets, unpivot, and the
  * hash-slice sampling pattern (§2.1 S6 / graphics sampling §4).
  */
object RelationalExt {

  val queries: Seq[GateQuery] = Seq(

    // S3: textual SQL over registered catalog views — the TAAR jobs' access
    // path (taar_locale.py:46-101), exercised end-to-end through
    // spark.sql + temp views (TPC-H Q3 shape).
    GateQuery(
      "q26_sql_catalog",
      (s, dir) => {
        graft.core.Graft.registerAll(s, dir)
        s.sql("""
          SELECT o.o_orderkey,
            CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
              AS revenue,
            date_format(o.o_orderdate, 'yyyy-MM-dd') AS order_day
          FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          WHERE c.c_mktsegment = 'BUILDING'
            AND o.o_orderdate < TIMESTAMP '1998-01-01'
            AND l.l_shipdate > TIMESTAMP '1998-01-01'
          GROUP BY o.o_orderkey, o.o_orderdate
          ORDER BY revenue DESC, o.o_orderkey LIMIT 20
          """)
      },
      Some("""
        SELECT o.o_orderkey,
          CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
            AS revenue,
          strftime(o.o_orderdate, '%Y-%m-%d') AS order_day
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey LIMIT 20""")),

    // Set ops beyond the reference's positional union: INTERSECT/EXCEPT
    // (SURVEY §2.8 notes their absence; first-class here).
    GateQuery(
      "q27_intersect_except",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val buyers98 = o.filter(year(col("o_orderdate")) === 1998)
          .select("o_custkey")
        val buyers95 = o.filter(year(col("o_orderdate")) === 1995)
          .select("o_custkey")
        val both = buyers98.intersect(buyers95)
          .withColumn("kind", lit("both"))
        val only98 = buyers98.except(buyers95)
          .withColumn("kind", lit("only98"))
        both.union(only98)
          .groupBy("kind").agg(count(lit(1)).as("cnt"))
          .orderBy("kind")
      },
      Some("""
        WITH b98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998),
        b95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        u AS (
          SELECT o_custkey, 'both' AS kind FROM (SELECT * FROM b98 INTERSECT SELECT * FROM b95)
          UNION ALL
          SELECT o_custkey, 'only98' AS kind FROM (SELECT * FROM b98 EXCEPT SELECT * FROM b95))
        SELECT kind, COUNT(*) AS cnt FROM u GROUP BY kind ORDER BY kind""")),

    // CUBE grouping sets with a GROUPING() disambiguator.
    GateQuery(
      "q28_cube",
      (s, dir) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            grouping("o_orderstatus").cast("long").as("g_status"),
            grouping("o_orderpriority").cast("long").as("g_prio"))
          .orderBy(asc_nulls_first("o_orderstatus"),
            asc_nulls_first("o_orderpriority")),
      Some("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
          CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST,
                 o_orderpriority ASC NULLS FIRST""")),

    // Unpivot (wide → long), the inverse of the A5 pivot.
    GateQuery(
      "q29_unpivot",
      (s, dir) =>
        t(s, dir, "supplier")
          .select(col("s_suppkey"),
            expr("""stack(2, 'acctbal', s_acctbal,
                             'nationkey', CAST(s_nationkey AS DOUBLE))
                    AS (metric, value)"""))
          .orderBy("s_suppkey", "metric"),
      Some("""
        SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS value FROM supplier
        UNION ALL
        SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE) FROM supplier
        ORDER BY s_suppkey, metric""")),

    // Gap-based batch sessionization: lag + boundary flag + running sum —
    // the batch twin of streaming/EventStreams.sessionize (30-minute gap).
    GateQuery(
      "q31_sessionize",
      (s, dir) => {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val e = t(s, dir, "events")
          .withColumn("prev_ts", lag("ts", 1).over(byUser))
          // Gap compared in integer microseconds (unix_micros here,
          // epoch_us in the oracle) — DuckDB's epoch() yields fractional
          // DOUBLE seconds while a Spark long cast truncates, so
          // second-granularity comparisons disagree near the boundary.
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L,
              1L).otherwise(0L))
          .withColumn("session_id",
            sum("new_session").over(byUser.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        e.groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            sum(GateQuery.dec(col("value"))).cast("double").as("value_sum"))
          .orderBy("user_id", "session_id")
      },
      Some("""
        WITH marked AS (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
          SELECT user_id, event_id, value,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM marked)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM sessions GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    // Deterministic hash-slice sampling — the engine's reproducible
    // sampling primitive (the reference samples via BigQuery
    // FARM_FINGERPRINT MOD slices, bhr_collection.py:534-545; mozetl's
    // sample_id partitioning is the same idea). polyHash makes the slice
    // assignment engine-portable.
    GateQuery(
      "q30_hash_sample",
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn("slice",
            graft.functions.TextFunctions.polyHash(
              col("o_orderkey").cast("string")) % 100)
          .filter(col("slice") < 5)
          .agg(count(lit(1)).as("sampled_cnt"),
            dsum(col("o_totalprice")).as("sampled_total")),
      Some(s"""
        SELECT COUNT(*) AS sampled_cnt,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_total
        FROM (
          SELECT *,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(CAST(o_orderkey AS VARCHAR), ''),
                ch -> CAST(ascii(ch) AS BIGINT))),
              (h, ch) -> (h*31 + ch) % 1000000007) % 100 AS slice
          FROM orders)
        WHERE slice < 5""")),

    // Skew salting end-to-end (core/Salt): events salted-joined to the
    // event-type dimension (small side exploded over all salts), then the
    // two-phase salted aggregation — partials on (key, salt), merge on
    // key. The salt is engine-INTERNAL (any well-distributed salt yields
    // identical results because the small side covers every salt value),
    // so the oracle is the PLAIN join+group-by — the gate proves the
    // salted plan changes distribution, never results. Money sums ride
    // DECIMAL through both phases so the two-level summation stays exact.
    GateQuery(
      "q37_salted_skew",
      (s, dir) => {
        // null-keyed rows would survive a plain GROUP BY but never match
        // the inner salted join — filter explicitly on BOTH sides so the
        // gate is null-proof whatever a future fixture contains
        val e = t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
          .filter(col("event_type").isNotNull)
        val dim = e.select(col("event_type")).distinct()
          .withColumn("type_len", length(col("event_type")).cast("long"))
        val joined = graft.core.Salt.saltedJoin(
          e, dim, "event_type", "event_id", saltFactor = 8)
        graft.core.Salt.saltedAgg(joined, "event_type", "event_id", 8,
            partial = Seq(count(lit(1)).as("c"),
              sum(dec(col("value"))).as("v"),
              first("type_len").as("tl")),
            merge = Seq(sum("c").cast("long").as("n_events"),
              sum("v").cast("double").as("value_sum"),
              first("tl").as("type_len")))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
          CAST(length(event_type) AS BIGINT) AS type_len
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // Exact interpolated percentiles per group. Both engines sort and
    // interpolate lower + (upper - lower) * frac at rank p*(n-1) in double
    // arithmetic — exact-per-op IEEE, so the gate compares bitwise.
    // Scale note: exact percentile holds a per-group value→count map in the
    // aggregation buffer, fine for bounded domains (money/quantity here) but
    // not for unbounded ones at 100 TB — there the engine path is
    // approx_percentile's bounded-memory GK sketch, which is
    // engine-specific by design and therefore spec-tested against this
    // exact form (PercentileSpec), never oracle'd.
    GateQuery(
      "q38_percentile",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_extendedprice, 0.5)").as("p50_price"),
            expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
            expr("percentile(l_quantity, 0.25)").as("q1_qty"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.5) AS p50_price,
          quantile_cont(l_extendedprice, 0.9) AS p90_price,
          quantile_cont(l_quantity, 0.25) AS q1_qty
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Blocked fuzzy matching (entity resolution): probes are customer
    // names with the last character corrupted; the blocked join pairs
    // each probe with the names sharing a 16-char prefix (blocks of 100)
    // and keeps edit distance ≤ 1 (the 10 names differing only in the
    // final digit) — the verify filter demonstrably prunes 90% of the
    // candidates while the plan stays a plain hash equi-join, not a
    // cross product. Both engines implement classical levenshtein, so
    // the distances (and counts) match exactly.
    GateQuery(
      "q39_fuzzy_match",
      (s, dir) => {
        val c = t(s, dir, "customer")
        // every 10th customer probes: the pruning demonstration doesn't
        // need a full self-match, and probes × block(100) levenshteins
        // would otherwise dominate the bench at larger SFs
        val probes = c.filter(col("c_custkey") % 10 === 0)
          .select(concat(
            substring(col("c_name"), 1, 17), lit("X")).as("probe"))
        graft.operators.FuzzyJoin.blockedByPrefix(
            probes, "probe", c.select(col("c_name")), "c_name",
            maxDist = 1, blockLen = 16)
          .groupBy("probe")
          .agg(count(lit(1)).as("n_matches"),
            min(col("c_name")).as("first_match"))
          .orderBy("probe")
      },
      Some("""
        WITH probes AS (
          SELECT concat(substr(c_name, 1, 17), 'X') AS probe FROM customer
          WHERE c_custkey % 10 = 0),
        cand AS (
          SELECT p.probe, c.c_name,
                 levenshtein(p.probe, c.c_name) AS edit_dist
          FROM probes p JOIN customer c
            ON substr(p.probe, 1, 16) = substr(c.c_name, 1, 16))
        SELECT probe, COUNT(*) AS n_matches, MIN(c_name) AS first_match
        FROM cand WHERE edit_dist <= 1
        GROUP BY probe ORDER BY probe""")),

    // Gap-filled hourly resample with carry-forward (resample().ffill()):
    // a 1-in-37 event sample leaves most hours empty, the grid explodes
    // each type's full [min,max] hour range from a sequence (no calendar
    // cross join), and the window carries the last observed sum through
    // the gaps. Money sums ride DECIMAL then surface as double BEFORE the
    // carry (copying a double is order-free), timestamps leave as
    // formatted strings per gate discipline.
    GateQuery(
      "q40_gapfill",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 37 === 0)
        graft.operators.GapFill.carryForwardResample(
            ev, "event_type", "ts", "value", unit = "hour")
          .select(col("event_type"),
            date_format(col("bucket"), "yyyy-MM-dd HH:00").as("bucket"),
            col("n_events"), col("value_sum"), col("gap"))
          .orderBy("event_type", "bucket")
      },
      Some("""
        WITH ev AS (
          SELECT event_type, date_trunc('hour', ts) AS b, value
          FROM events WHERE event_id % 37 = 0),
        agg AS (
          SELECT event_type, b, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vs
          FROM ev GROUP BY event_type, b),
        rng AS (SELECT event_type, MIN(b) AS lo, MAX(b) AS hi
                FROM agg GROUP BY event_type),
        grid AS (SELECT event_type,
                        unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
                 FROM rng),
        j AS (SELECT g.event_type, g.b,
                     COALESCE(a.n, 0) AS n_events, a.vs
              FROM grid g LEFT JOIN agg a
                ON g.event_type = a.event_type AND g.b = a.b)
        SELECT event_type, strftime(b, '%Y-%m-%d %H:00') AS bucket,
               CAST(n_events AS BIGINT) AS n_events,
               last_value(vs IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum,
               CAST(n_events = 0 AS INT) AS gap
        FROM j ORDER BY event_type, bucket""")),

    // Equi-width histogram binning: width_bucket is the same closed-form
    // integer computation in both engines (bin = 1 + floor((x-lo)/(hi-lo)
    // *n), clamped), so bucket ids and counts compare exactly. The
    // out-of-range overflow bins (0 and n+1) are kept — dropping them
    // silently is the classic histogram bug.
    GateQuery(
      "q41_histogram",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(width_bucket(col("l_extendedprice"),
            lit(1000.0), lit(100000.0), lit(20)).as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("n"))
          .orderBy("bin"),
      Some("""
        SELECT CASE WHEN l_extendedprice < 1000.0 THEN 0
                    WHEN l_extendedprice >= 100000.0 THEN 21
                    ELSE CAST(floor(20.0 * (l_extendedprice - 1000.0)
                                    / (100000.0 - 1000.0) + 1) AS BIGINT)
               END AS bin,
               COUNT(*) AS n
        FROM lineitem GROUP BY bin ORDER BY bin""")),

    // EWMA over the gap-filled hourly series — the full feature chain
    // (resample → ffill → smooth) composed from q40's operator plus an
    // ordered HOF fold. Deterministic by construction: the fold order is
    // pinned by the sort, the oracle replays the SAME left fold with
    // DuckDB's list_reduce (whose seed is the list head, matching the
    // s_0 = v_0 recurrence), and every op is exact-per-op IEEE.
    GateQuery(
      "q42_ewma",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 37 === 0)
        val filled = graft.operators.GapFill.carryForwardResample(
          ev, "event_type", "ts", "value", unit = "hour")
        graft.operators.Ewma.latest(filled, "event_type", "bucket",
            "value_sum", alpha = 0.2)
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT event_type, date_trunc('hour', ts) AS b, value
          FROM events WHERE event_id % 37 = 0),
        agg AS (
          SELECT event_type, b, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vs
          FROM ev GROUP BY event_type, b),
        rng AS (SELECT event_type, MIN(b) AS lo, MAX(b) AS hi
                FROM agg GROUP BY event_type),
        grid AS (SELECT event_type,
                        unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
                 FROM rng),
        j AS (SELECT g.event_type, g.b, a.vs
              FROM grid g LEFT JOIN agg a
                ON g.event_type = a.event_type AND g.b = a.b),
        f AS (SELECT event_type, b,
                     last_value(vs IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS value_sum
              FROM j)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               list_reduce(list(value_sum ORDER BY b),
                 (acc, x) -> CAST(0.2 AS DOUBLE) * x
                             + CAST(0.8 AS DOUBLE) * acc) AS ewma
        FROM f GROUP BY event_type ORDER BY event_type""")),

    // Holt linear smoothing over the q42 shape (resample → ffill →
    // fold): level AND trend evolve together, so the gate pins the
    // coupled two-component recurrence and the h-step forecast. The
    // oracle folds a struct-element list_reduce whose head seed is
    // COALESCE-normalized to l0 = v0, b0 = 0 — the same op sequence,
    // with l_i's expression computed twice verbatim in both engines.
    GateQuery(
      "q67_holt",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 37 === 0)
        val filled = graft.operators.GapFill.carryForwardResample(
          ev, "event_type", "ts", "value", unit = "hour")
        graft.operators.Holt.latest(filled, "event_type", "bucket",
            "value_sum", alpha = 0.2, beta = 0.1, horizon = 3)
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT event_type, date_trunc('hour', ts) AS b, value
          FROM events WHERE event_id % 37 = 0),
        agg AS (
          SELECT event_type, b, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vs
          FROM ev GROUP BY event_type, b),
        rng AS (SELECT event_type, MIN(b) AS lo, MAX(b) AS hi
                FROM agg GROUP BY event_type),
        grid AS (SELECT event_type,
                        unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
                 FROM rng),
        j AS (SELECT g.event_type, g.b, a.vs
              FROM grid g LEFT JOIN agg a
                ON g.event_type = a.event_type AND g.b = a.b),
        f AS (SELECT event_type, b,
                     last_value(vs IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS value_sum
              FROM j),
        -- the (l, b) accumulator is a LIST, not a struct: DuckDB's
        -- list_reduce aliases a struct accumulator to the output slot,
        -- so later struct_pack fields observe earlier writes (the trend
        -- field would see the NEW level); list construction evaluates
        -- both elements from the old accumulator. acc[2] is NULL (out
        -- of range) while acc is still the single-element head seed,
        -- which COALESCE maps to b0 = 0 — the operator's seed.
        folded AS (SELECT event_type,
            CAST(COUNT(*) AS BIGINT) AS n_points,
            list_reduce(
              list_transform(list(value_sum ORDER BY b), v -> [v]),
              (acc, x) -> [
                0.2 * x[1] + 0.8 * (acc[1] + COALESCE(acc[2], 0.0)),
                0.1 * (0.2 * x[1] + 0.8 * (acc[1] + COALESCE(acc[2], 0.0))
                    - acc[1]) +
                  0.9 * COALESCE(acc[2], 0.0)]) AS r
          FROM f GROUP BY event_type)
        SELECT event_type, n_points,
          r[1] AS level,
          COALESCE(r[2], 0.0) AS trend,
          r[1] + 3.0 * COALESCE(r[2], 0.0) AS forecast
        FROM folded ORDER BY event_type""")),

    // Funnel analysis: signup → view → purchase per user within a 3-day
    // horizon of signup, on a 1-in-7 event sample (full data completes
    // trivially). Chained conditional-min windows over ONE partitioning —
    // a single exchange for the whole funnel, vs the naive
    // one-self-join-per-step. Timestamps leave as epoch micros (exact
    // integers).
    GateQuery(
      "q43_funnel",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 7 === 0)
        graft.operators.Funnel.completion(ev, "user_id", "event_type", "ts",
            Seq("signup", "view", "purchase"),
            horizon = expr("interval 3 days"))
          .select(col("user_id"), col("steps_completed"),
            unix_micros(col("t_first")).as("t1_us"),
            unix_micros(col("t_last")).as("tlast_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (SELECT user_id, event_type, ts FROM events
                    WHERE event_id % 7 = 0),
        s1 AS (SELECT *,
                 MIN(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1 FROM ev),
        s1d AS (SELECT *, t1 + INTERVAL 3 DAY AS dl FROM s1),
        s2 AS (SELECT *,
                 MIN(CASE WHEN event_type = 'view' AND ts >= t1
                          AND ts <= dl THEN ts END)
                   OVER (PARTITION BY user_id) AS t2 FROM s1d),
        s3 AS (SELECT *,
                 MIN(CASE WHEN event_type = 'purchase' AND ts >= t2
                          AND ts <= dl THEN ts END)
                   OVER (PARTITION BY user_id) AS t3 FROM s2)
        SELECT user_id,
               CAST(MAX(CASE WHEN t3 IS NOT NULL THEN 3
                             WHEN t2 IS NOT NULL THEN 2
                             WHEN t1 IS NOT NULL THEN 1
                             ELSE 0 END) AS BIGINT) AS steps_completed,
               epoch_us(MAX(t1)) AS t1_us,
               epoch_us(MAX(COALESCE(t3, t2, t1))) AS tlast_us
        FROM s3 GROUP BY user_id ORDER BY user_id""")),

    // Cohort retention: weekly cohorts by first activity, offset counts
    // of still-active users (offset 0 = cohort size). A sparse 1-in-97
    // sample spreads first-seen weeks across the month. Periods are
    // epoch-day arithmetic, not calendar months — exact integers in both
    // engines.
    GateQuery(
      "q44_retention",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 97 === 0)
        graft.operators.Retention.cohorts(ev, "user_id", "ts",
            periodDays = 7)
          .orderBy("cohort_period", "period_offset")
      },
      Some("""
        WITH ev AS (
          SELECT user_id,
                 CAST(floor(datediff('day', DATE '1970-01-01',
                                     CAST(ts AS DATE)) / 7) AS BIGINT)
                   AS period
          FROM events WHERE event_id % 97 = 0),
        act AS (SELECT DISTINCT user_id, period FROM ev),
        fs AS (SELECT user_id, MIN(period) AS cohort_period
               FROM act GROUP BY user_id)
        SELECT cohort_period, period - cohort_period AS period_offset,
               COUNT(*) AS n_active
        FROM act JOIN fs USING (user_id)
        GROUP BY cohort_period, period_offset
        ORDER BY cohort_period, period_offset""")),

    // Trailing-window anomaly detection: z-score vs the preceding 24
    // points per type (self excluded), flag |z| > 2.5 — 14 anomalies at
    // sf0.01 with the nearest z 0.11 from the threshold. The window sums
    // run in DECIMAL (exact, order-free); the closing mean/variance/ratio
    // is a fixed sequence of correctly-rounded double ops, so the raw z
    // values compare bitwise.
    GateQuery(
      "q45_anomaly",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 37 === 0)
        graft.operators.Anomaly.trailingZScore(ev, "event_type",
            Seq("ts", "event_id"), "value",
            lookback = 24, minN = 8, threshold = 2.5)
          .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
            col("value"), col("n_window"), col("z"), col("is_anomaly"))
          .orderBy("event_type", "ts_us")
      },
      Some("""
        WITH ev AS (SELECT event_type, ts, event_id, value FROM events
                    WHERE event_id % 37 = 0),
        wn AS (SELECT event_type, ts, value,
                 COUNT(CAST(value AS DECIMAL(18,2))) OVER w AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))
                          * CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx2
               FROM ev WINDOW w AS (PARTITION BY event_type
                 ORDER BY ts, event_id
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        z AS (SELECT event_type, ts, value, CAST(n AS BIGINT) AS n_window,
                CASE WHEN n >= 8
                     AND (sx2/n - (sx/n)*(sx/n)) * (n/(n-1.0)) > 0
                THEN (value - sx/n)
                     / sqrt((sx2/n - (sx/n)*(sx/n)) * (n/(n-1.0))) END AS z
              FROM wn)
        SELECT event_type, epoch_us(ts) AS ts_us, value, n_window, z,
               CAST(COALESCE(ABS(z), 0) > 2.5 AS INT) AS is_anomaly
        FROM z ORDER BY event_type, ts_us""")),

    // Rolling median: exact interpolated percentile over a trailing ROWS
    // frame — q38's engine-parity result (same interpolation closed form
    // in both engines) carried into the windowed setting. The per-frame
    // sort is the cost model's point: a 25-row frame re-sorts per row,
    // which is exactly what the approx sketch path avoids at scale.
    GateQuery(
      "q46_rolling_median",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 37 === 0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-24, 0)
        ev.select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
            col("value"),
            expr("percentile(value, 0.5)").over(w).as("rolling_median"))
          .orderBy("event_type", "ts_us")
      },
      Some("""
        SELECT event_type, epoch_us(ts) AS ts_us, value,
               quantile_cont(value, 0.5) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS rolling_median
        FROM events WHERE event_id % 37 = 0
        ORDER BY event_type, ts_us""")),

    // q42's smoothing through the CHUNKED fold — Ewma.latestChunked is
    // the unbounded-series form (fixed-size chunks, level carried across
    // chunks by the same recurrence). Bit-identical to latest by
    // construction (the op sequence is the same stepwise one), so the
    // oracle is q42's shape verbatim; chunkSize = 256 makes the ~700-point
    // gap-filled series genuinely span multiple chunks at every SF.
    GateQuery(
      "q49_ewma_chunked",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_id") % 37 === 0)
        val filled = graft.operators.GapFill.carryForwardResample(
          ev, "event_type", "ts", "value", unit = "hour")
        graft.operators.Ewma.latestChunked(filled, "event_type", "bucket",
            "value_sum", alpha = 0.2, chunkSize = 256)
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT event_type, date_trunc('hour', ts) AS b, value
          FROM events WHERE event_id % 37 = 0),
        agg AS (
          SELECT event_type, b, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vs
          FROM ev GROUP BY event_type, b),
        rng AS (SELECT event_type, MIN(b) AS lo, MAX(b) AS hi
                FROM agg GROUP BY event_type),
        grid AS (SELECT event_type,
                        unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
                 FROM rng),
        j AS (SELECT g.event_type, g.b, a.vs
              FROM grid g LEFT JOIN agg a
                ON g.event_type = a.event_type AND g.b = a.b),
        f AS (SELECT event_type, b,
                     last_value(vs IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS value_sum
              FROM j)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               list_reduce(list(value_sum ORDER BY b),
                 (acc, x) -> CAST(0.2 AS DOUBLE) * x
                             + CAST(0.8 AS DOUBLE) * acc) AS ewma
        FROM f GROUP BY event_type ORDER BY event_type""")),

    // q39's blocking with the multi-pass (prefix ∪ suffix) candidate
    // union: probes corrupt the FIRST character — invisible to prefix
    // blocking, recovered by the suffix pass — while remaining matchable
    // by edit distance 1. The oracle replays both blocked joins, the
    // candidate dedup, and the levenshtein verification.
    GateQuery(
      "q50_fuzzy_multipass",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val probes = c.filter(col("c_custkey") % 10 === 0)
          .select(concat(lit("X"),
            substring(col("c_name"), 2, 100)).as("probe"))
        graft.operators.FuzzyJoin.blockedMultiPass(
            probes, "probe", c.select(col("c_name")), "c_name",
            maxDist = 1, blockLen = 8)
          .groupBy("probe")
          .agg(count(lit(1)).as("n_matches"),
            min(col("c_name")).as("first_match"))
          .orderBy("probe")
      },
      Some("""
        WITH probes AS (
          SELECT 'X' || substr(c_name, 2) AS probe FROM customer
          WHERE c_custkey % 10 = 0),
        cand AS (
          SELECT p.probe, c.c_name
          FROM probes p JOIN customer c
            ON substr(p.probe, 1, 8) = substr(c.c_name, 1, 8)
          UNION
          SELECT p.probe, c.c_name
          FROM probes p JOIN customer c
            ON right(p.probe, 8) = right(c.c_name, 8)),
        v AS (SELECT probe, c_name,
                     levenshtein(probe, c_name) AS edit_dist
              FROM cand)
        SELECT probe, COUNT(*) AS n_matches, MIN(c_name) AS first_match
        FROM v WHERE edit_dist <= 1
        GROUP BY probe ORDER BY probe""")),

    // First-order Markov transition matrix: one lead window per user
    // (single exchange, no rank self-join), tiny (from,to) count matrix,
    // probability = one exact-integer division — bitwise in any engine.
    GateQuery(
      "q47_transitions",
      (s, dir) =>
        graft.operators.Transitions.matrix(t(s, dir, "events"),
            "user_id", "event_type", "ts", "event_id")
          .orderBy("from_state", "to_state"),
      Some("""
        WITH tr AS (
          SELECT event_type AS from_state,
                 LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_state
          FROM events)
        SELECT from_state, to_state, COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE) /
                 CAST(CAST(SUM(COUNT(*)) OVER (PARTITION BY from_state)
                   AS BIGINT) AS DOUBLE) AS prob
        FROM tr WHERE to_state IS NOT NULL
        GROUP BY from_state, to_state
        ORDER BY from_state, to_state""")),

    // Fixed-point PageRank over the customer↔supplier trade graph: all
    // arithmetic is scaled-integer (contrib = rank div outdeg, exact long
    // inflow sums, damping in exact div) so three unrolled iterations
    // replay bitwise in DuckDB — a float PageRank would diverge with
    // shuffle summation order. The heavy graph work runs over LONG node
    // ids (cust→2k, supp→2k+1): ranks depend only on structure, so the
    // "c…"/"s…" labels the oracle compares against attach at output —
    // string-keyed joins/distincts measured ~2× slower end-to-end.
    GateQuery(
      "q48_pagerank",
      (s, dir) => {
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
          .distinct()
        val edges = pairs
          .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.PageRank.ranks(edges, "src", "dst", 3)
          .select(
            when(col("node") % 2 === 0,
              concat(lit("c"), expr("node div 2").cast("string")))
              .otherwise(
                concat(lit("s"), expr("(node - 1) div 2").cast("string")))
              .as("node"),
            col("rank_micro"))
          .orderBy("node")
      },
      Some {
        val S = graft.graph.PageRank.Scale
        val iters = (1 to 3).map { i =>
          val prev = if (i == 1) "r0" else s"r${i - 1}"
          s"""c$i AS (SELECT e.dst AS node,
             |    SUM(r.r // d.outdeg) AS inflow
             |  FROM edges e JOIN $prev r ON e.src = r.node
             |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |    (15 * ($S // nn.n)) // 100 +
             |    (85 * COALESCE(CAST(c$i.inflow AS BIGINT), 0)) // 100 AS r
             |  FROM nodes n CROSS JOIN nn
             |  LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (SELECT DISTINCT
           |    'c' || CAST(o_custkey AS VARCHAR) AS src,
           |    's' || CAST(l_suppkey AS VARCHAR) AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |edges AS (SELECT src, dst FROM p
           |          UNION ALL SELECT dst, src FROM p),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |nn AS (SELECT COUNT(*) AS n FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           |r0 AS (SELECT node, $S // nn.n AS r FROM nodes CROSS JOIN nn),
           |$iters
           |SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3
           |ORDER BY node""".stripMargin
      }),

    // Z-order (Morton) layout math over the part↔supplier key space:
    // min/max scaling to 8 bits, bit interleave, equal-volume bucket
    // slices — all exact integer arithmetic (div + shifts/masks), so
    // the layout an OPTIMIZE-ZORDER-style rewrite would produce replays
    // bitwise in SQL. The physical form (repartition + sortWithin) is
    // LayoutSpec's job; the gate pins the curve itself.
    GateQuery(
      "q51_zorder",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        graft.core.Layout.zvalues(li, "l_partkey", "l_suppkey",
            bits = 8, nBuckets = 16)
          .select(col("l_partkey"), col("l_suppkey"),
            col("__zx").as("zx"), col("__zy").as("zy"),
            col("__z").as("zval"), col("__zbucket").as("zbucket"))
          .orderBy("l_partkey", "l_suppkey")
      },
      Some {
        val interleave = (0 until 8).map(i =>
          s"(((zx >> $i) & 1) << ${2 * i}) | " +
            s"(((zy >> $i) & 1) << ${2 * i + 1})").mkString(" | ")
        s"""WITH d AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
           |s AS (SELECT MIN(l_partkey) AS amin, MAX(l_partkey) AS amax,
           |             MIN(l_suppkey) AS bmin, MAX(l_suppkey) AS bmax
           |      FROM d),
           |z AS (SELECT l_partkey, l_suppkey,
           |  CAST(CASE WHEN amax > amin
           |    THEN ((l_partkey - amin) * 255) // (amax - amin)
           |    ELSE 0 END AS BIGINT) AS zx,
           |  CAST(CASE WHEN bmax > bmin
           |    THEN ((l_suppkey - bmin) * 255) // (bmax - bmin)
           |    ELSE 0 END AS BIGINT) AS zy
           |  FROM d CROSS JOIN s),
           |zz AS (SELECT l_partkey, l_suppkey, zx, zy,
           |         CAST($interleave AS BIGINT) AS zval FROM z)
           |SELECT l_partkey, l_suppkey, zx, zy, zval,
           |       CAST(LEAST(zval // 4096, 15) AS BIGINT) AS zbucket
           |FROM zz ORDER BY l_partkey, l_suppkey""".stripMargin
      }),

    // ROC-AUC by grouped per-score counts + one cumulative window over
    // the COMPRESSED score table (never a global row rank): does a
    // document's length predict lang='en', per source. Exact half-unit
    // integer numerator; the single float division replays bitwise.
    GateQuery(
      "q52_auc",
      (s, dir) =>
        graft.operators.Auc.auc(
            t(s, dir, "documents")
              .withColumn("__is_en", col("lang") === "en"),
            scoreCol = "n_chars",
            labelCol = "__is_en", groupCols = Seq("source"))
          .orderBy("source"),
      Some(
        """WITH ps AS (SELECT source, n_chars AS s,
          |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
          |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n
          |  FROM documents GROUP BY 1, 2),
          |c AS (SELECT source, s, p, n,
          |    COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS cumn
          |  FROM ps),
          |a AS (SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
          |    CAST(SUM(n) AS BIGINT) AS n_neg,
          |    CAST(SUM(p * (2 * cumn + n)) AS BIGINT) AS u2
          |  FROM c GROUP BY 1)
          |SELECT source, n_pos, n_neg, u2,
          |  CASE WHEN n_pos > 0 AND n_neg > 0
          |    THEN CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg) END AS auc
          |FROM a ORDER BY source""".stripMargin)),

    // SCD2 merge: a customer-dimension history (some rows pre-closed)
    // receives a snapshot with changed balances, unchanged rows, and
    // brand-new keys. Every branch — pass-through, close-at-asOf,
    // replacement, insert — is deterministic column algebra over the
    // full-outer key join, so the merged history replays bitwise.
    GateQuery(
      "q53_scd2_merge",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val hist = c.select(col("c_custkey").as("k"),
            col("c_nationkey").as("nation"), col("c_acctbal").as("bal"),
            lit("2020-01-01").as("valid_from"),
            lit(null).cast("string").as("valid_to"))
          .unionByName(c.filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey").as("k"),
              col("c_nationkey").as("nation"),
              (col("c_acctbal") - 50).as("bal"),
              lit("2019-01-01").as("valid_from"),
              lit("2020-01-01").as("valid_to")))
        val upd = c.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("k"),
            col("c_nationkey").as("nation"),
            (col("c_acctbal") + 100).as("bal"))
          .unionByName(c.filter(col("c_custkey") % 3 === 1)
            .select(col("c_custkey").as("k"),
              col("c_nationkey").as("nation"), col("c_acctbal").as("bal")))
          .unionByName(c.filter(col("c_custkey") % 5 === 0)
            .select((col("c_custkey") + 10000000).as("k"),
              lit(99).as("nation"), lit(0.0).as("bal")))
        graft.operators.Scd.merge2(hist, upd, Seq("k"),
            Seq("nation", "bal"), "2024-06-01")
          .orderBy("k", "valid_from")
      },
      Some(
        """WITH hist AS (
          |  SELECT c_custkey AS k, c_nationkey AS nation,
          |         c_acctbal AS bal, '2020-01-01' AS valid_from,
          |         CAST(NULL AS VARCHAR) AS valid_to FROM customer
          |  UNION ALL
          |  SELECT c_custkey, c_nationkey, c_acctbal - 50,
          |         '2019-01-01', '2020-01-01'
          |  FROM customer WHERE c_custkey % 7 = 0),
          |upd AS (
          |  SELECT c_custkey AS k, c_nationkey AS nation,
          |         c_acctbal + 100 AS bal
          |  FROM customer WHERE c_custkey % 3 = 0
          |  UNION ALL
          |  SELECT c_custkey, c_nationkey, c_acctbal
          |  FROM customer WHERE c_custkey % 3 = 1
          |  UNION ALL
          |  SELECT c_custkey + 10000000, 99, 0.0
          |  FROM customer WHERE c_custkey % 5 = 0),
          |closedh AS (SELECT * FROM hist WHERE valid_to IS NOT NULL),
          |op AS (SELECT * FROM hist WHERE valid_to IS NULL),
          |j AS (SELECT COALESCE(o.k, u.k) AS k, o.nation AS onation,
          |        o.bal AS obal, o.valid_from AS ovf,
          |        u.nation AS unation, u.bal AS ubal,
          |        o.k IS NOT NULL AS has_o, u.k IS NOT NULL AS has_u,
          |        (o.nation IS NOT DISTINCT FROM u.nation
          |         AND o.bal IS NOT DISTINCT FROM u.bal) AS same
          |      FROM op o FULL JOIN upd u ON o.k = u.k),
          |keep AS (SELECT k, onation AS nation, obal AS bal,
          |           ovf AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
          |         FROM j WHERE has_o AND ((has_u AND same) OR NOT has_u)),
          |closenow AS (SELECT k, onation, obal, ovf, '2024-06-01'
          |             FROM j WHERE has_o AND has_u AND NOT same),
          |newrows AS (SELECT k, unation, ubal, '2024-06-01',
          |              CAST(NULL AS VARCHAR)
          |            FROM j WHERE has_u AND (NOT has_o OR NOT same)),
          |res AS (SELECT * FROM closedh UNION ALL SELECT * FROM keep
          |        UNION ALL SELECT * FROM closenow
          |        UNION ALL SELECT * FROM newrows)
          |SELECT k, nation, bal, valid_from, valid_to FROM res
          |ORDER BY k, valid_from""".stripMargin)),

    // Average precision (step PR-curve area), q52's rare-positive
    // companion: per-threshold precision quantized to exact integer
    // micro-units BEFORE the multiply, so the total is an order-free
    // exact sum and only the closing division is float.
    GateQuery(
      "q56_avg_precision",
      (s, dir) =>
        graft.operators.Auc.averagePrecision(
            t(s, dir, "documents")
              .withColumn("__is_en", col("lang") === "en"),
            scoreCol = "n_chars",
            labelCol = "__is_en", groupCols = Seq("source"))
          .orderBy("source"),
      Some(
        """WITH ps AS (SELECT source, n_chars AS s,
          |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
          |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n
          |  FROM documents GROUP BY 1, 2),
          |c AS (SELECT source, s, p, n,
          |    SUM(p) OVER (PARTITION BY source ORDER BY s DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump,
          |    SUM(n) OVER (PARTITION BY source ORDER BY s DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
          |  FROM ps),
          |c2 AS (SELECT source, p, n,
          |         (cump * 1000000) // (cump + cumn) AS prec FROM c),
          |a AS (SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
          |        CAST(SUM(n) AS BIGINT) AS n_neg,
          |        SUM(p * prec) AS apsum FROM c2 GROUP BY 1)
          |SELECT source, n_pos, n_neg,
          |  CASE WHEN n_pos > 0 THEN CAST(apsum AS DOUBLE)
          |    / (1000000.0 * CAST(n_pos AS DOUBLE)) END AS ap
          |FROM a ORDER BY source""".stripMargin)),

    // Robust (median/MAD) z-scores per return flag: immune to the
    // masking that inflates sigma in plain z-scores. Two exact
    // interpolated percentile aggregations (the q38 replay contract)
    // + two small-side joins; the score itself is a fixed IEEE op
    // sequence over values both engines computed identically.
    GateQuery(
      "q57_robust_z",
      (s, dir) =>
        graft.operators.Anomaly.robustZ(
            t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
              "l_returnflag", "l_extendedprice"),
            Seq("l_returnflag"), "l_extendedprice")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_extendedprice"),
            col("grp_median"), col("grp_mad"), col("robust_z"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some(
        """WITH med AS (SELECT l_returnflag AS f,
          |    quantile_cont(l_extendedprice, 0.5) AS med
          |  FROM lineitem GROUP BY 1),
          |dev AS (SELECT l_orderkey, l_linenumber, l_returnflag AS f,
          |    l_extendedprice AS v, med
          |  FROM lineitem JOIN med ON l_returnflag = med.f),
          |mad AS (SELECT f, quantile_cont(abs(v - med), 0.5) AS mad
          |        FROM dev GROUP BY 1)
          |SELECT l_orderkey, l_linenumber, f AS l_returnflag,
          |  v AS l_extendedprice, med AS grp_median, mad AS grp_mad,
          |  CASE WHEN mad > 0 THEN 0.6745 * (v - med) / mad
          |  END AS robust_z
          |FROM dev JOIN mad USING (f)
          |ORDER BY l_orderkey, l_linenumber""".stripMargin))
  )
}
