package graft.queries

import org.apache.spark.sql.functions._
import GateQuery.{table => t}

/** Round-11 gate queries: the last two spec-only ML families promoted to
  * oracle rows (integer-GD logistic regression for the ensemble trainer,
  * fixed-grid Epanechnikov KDE for the similarity scorer), the
  * multi-vintage mergeSchema read contract, and the iterated BPE merge
  * loop. Oracles follow the house discipline: identical column aliases,
  * exact-integer cores (integer division truncates toward zero in Spark
  * `div`, DuckDB `//` and the JVM alike — verified), fixed IEEE shapes,
  * total ORDER BY.
  */
object MlQueries {

  /** One unrolled GD round for the q105 oracle: probabilities from the
    * previous round's weights, gradient sums, weight update. Mirrors
    * LogisticGd.fit exactly (hard-sigmoid link, η = 1/10).
    */
  private def gdRound(r: Int): String = {
    val xs = 0 to 3
    val prev = if (r == 1) "w0" else s"w${r - 1}"
    val zSql = xs.map(i => s"w$i * x$i").mkString(" + ")
    val grads = xs.map(i => s"SUM((ym - p) * x$i) AS g$i").mkString(", ")
    val upd = xs.map(i => s"CAST(w$i + g$i // (10 * n) AS BIGINT) AS w$i")
      .mkString(", ")
    s"""p$r AS (SELECT ym, x0, x1, x2, x3,
       |    LEAST(GREATEST(500000 + ($zSql) // 4, 0), 1000000) AS p
       |  FROM feat CROSS JOIN $prev),
       |g$r AS (SELECT COUNT(*) AS n, $grads FROM p$r),
       |w$r AS (SELECT $upd FROM g$r CROSS JOIN $prev)""".stripMargin
  }

  /** One unrolled BPE merge round for the t52 oracle: adjacent-pair
    * counts over the space-joined symbol strings, deterministic winner,
    * greedy left-to-right fold (list_reduce with a prepended empty-string
    * seed — the house ordered-fold convention). Mirrors Bpe.mergeLoop.
    */
  private def bpeRound(r: Int): String =
    s"""px$r AS (SELECT string_split(sym, ' ') AS l FROM s${r - 1}
       |        WHERE len(string_split(sym, ' ')) >= 2),
       |pi$r AS (SELECT l, unnest(range(1, len(l))) AS i FROM px$r),
       |m$r AS (SELECT l[i] AS sa, l[i + 1] AS sb,
       |          CAST(COUNT(*) AS BIGINT) AS cnt
       |        FROM pi$r GROUP BY 1, 2
       |        ORDER BY cnt DESC, sa || ' ' || sb ASC LIMIT 1),
       |s$r AS (SELECT list_reduce(list_prepend('', string_split(sym, ' ')),
       |          (acc, ch) -> CASE
       |            WHEN ch = m.sb AND (acc = m.sa
       |                 OR ends_with(acc, ' ' || m.sa)) THEN acc || ch
       |            WHEN acc = '' THEN ch
       |            ELSE acc || ' ' || ch END) AS sym
       |        FROM s${r - 1} CROSS JOIN m$r m)""".stripMargin

  /** Shared CTE chain of the unigram-LM tokenizer oracles (t57, t58):
    * word census (≤ 20 chars, the same lower/whitespace tokenization as
    * t52) → substring census (length 1..5) → seed vocabulary (all
    * chars + top-150 multi-char by (cnt DESC, piece ASC)) → micro-nat
    * costs over the vocabulary's own total. Mirrors
    * UnigramTok.{wordCensus, seedPieces, seedVocab} stage for stage.
    * NOT an s-interpolated string: the `\s+` must reach DuckDB with a
    * single backslash, and only interpolated triple-quoted literals
    * process escapes.
    */
  /** t59's seed chain: the SAME census/substring/seed stages as
    * [[unigramVocabCtes]], but over the bounded `gw` word set (top-100
    * words of ≤ 10 chars) so the two exhaustive-enumeration E-steps
    * stay tractable, plus `chs` (the census's single-character set —
    * the M-step's segmentability floor). Seed vocabulary lands as
    * `voc0` (the round-0 model).
    */
  private val unigramGwSeedCtes: String =
    """tok AS (SELECT unnest(list_filter(
      |        regexp_split_to_array(lower(text), '\s+'),
      |        tk -> len(tk) >= 1)) AS word
      |      FROM documents),
      |w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt
      |      FROM tok WHERE len(word) <= 20 GROUP BY 1),
      |gw AS (SELECT word, wcnt FROM w WHERE len(word) <= 10
      |       ORDER BY wcnt DESC, word LIMIT 100),
      |chs AS (SELECT DISTINCT substr(word, i, 1) AS piece
      |        FROM (SELECT word, unnest(range(1, len(word) + 1)) AS i
      |              FROM gw)),
      |pi AS (SELECT word, wcnt, unnest(range(1, len(word) + 1)) AS i
      |       FROM gw),
      |pij AS (SELECT wcnt, substr(word, i, l) AS piece
      |        FROM (SELECT word, wcnt, i,
      |                unnest(range(1, least(5, len(word) - i + 1) + 1)) AS l
      |              FROM pi)),
      |pc AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
      |       FROM pij GROUP BY 1),
      |mult AS (SELECT piece, cnt, row_number() OVER (
      |           ORDER BY cnt DESC, piece ASC) AS rnk
      |         FROM pc WHERE len(piece) >= 2),
      |voc0s AS (SELECT piece, cnt FROM pc WHERE len(piece) = 1
      |          UNION ALL
      |          SELECT piece, cnt FROM mult WHERE rnk <= 150),
      |tots AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM voc0s),
      |voc0 AS (SELECT piece, cnt,
      |           CAST(-floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |             * 1000000 + 0.5) AS BIGINT) AS cost
      |         FROM voc0s CROSS JOIN tots)""".stripMargin

  /** One unrolled hard-EM round for the t59 oracle: exhaustive Viterbi
    * E-step over voc{r-1} (every segmentation of every gw word
    * enumerated recursively, argmin by the (cost, piece-count,
    * boundary-mask) triple — the t58 machinery), piece census weighted
    * by wcnt, then the M-step refresh: census chars floored at count 1
    * (the segmentability guarantee), multi-char pieces on their E-step
    * counts alone, micro-nat costs renormalized over the refreshed
    * frame — UnigramTok.{estepCounts, emTrainStep} stage for stage.
    */
  private def emRound(r: Int): String = {
    val vin = s"voc${r - 1}"
    s"""seg$r AS (
       |  SELECT word, wcnt, 0 AS pos, CAST(0 AS BIGINT) AS cost,
       |         0 AS np, CAST(0 AS BIGINT) AS mask,
       |         CAST('' AS VARCHAR) AS pieces
       |  FROM gw
       |  UNION ALL
       |  SELECT s.word, s.wcnt, s.pos + len(v.piece), s.cost + v.cost,
       |         s.np + 1,
       |         s.mask + CASE WHEN s.pos = 0 THEN CAST(0 AS BIGINT)
       |           ELSE (CAST(1 AS BIGINT) << s.pos) END,
       |         CASE WHEN s.pieces = '' THEN v.piece
       |           ELSE s.pieces || ' ' || v.piece END
       |  FROM seg$r s JOIN $vin v
       |    ON v.piece = substr(s.word, s.pos + 1, len(v.piece))
       |  WHERE s.pos < len(s.word)),
       |cc$r AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM (
       |          SELECT wcnt, unnest(string_split(pieces, ' ')) AS piece
       |          FROM (SELECT word, wcnt, pieces,
       |                  row_number() OVER (PARTITION BY word
       |                    ORDER BY cost, np, mask) AS rn
       |                FROM seg$r WHERE pos = len(word))
       |          WHERE rn = 1) GROUP BY 1),
       |rf$r AS (SELECT COALESCE(ch.piece, cc.piece) AS piece,
       |           CASE WHEN ch.piece IS NOT NULL
       |                THEN greatest(COALESCE(cc.cnt, CAST(0 AS BIGINT)),
       |                              CAST(1 AS BIGINT))
       |                ELSE cc.cnt END AS cnt
       |         FROM chs ch FULL OUTER JOIN cc$r cc ON cc.piece = ch.piece),
       |rfv$r AS (SELECT piece, cnt FROM rf$r WHERE cnt >= 1),
       |tot$r AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM rfv$r),
       |voc$r AS (SELECT piece, cnt,
       |            CAST(-floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
       |              * 1000000 + 0.5) AS BIGINT) AS cost
       |          FROM rfv$r CROSS JOIN tot$r)""".stripMargin
  }

  /** The t59/t60 prune + final renormalization: top-60 multi-char +
    * all-chars cut over voc2, micro-nat costs over the pruned frame —
    * `emTrainWords`' closing stages, shared verbatim by both oracles so
    * the prune contract cannot silently diverge between them.
    */
  private val unigramPruneCtes: String =
    """prn AS (SELECT piece, cnt FROM voc2 WHERE len(piece) = 1
      |        UNION ALL
      |        SELECT piece, cnt FROM (
      |          SELECT piece, cnt, row_number() OVER (
      |            ORDER BY cnt DESC, piece ASC) AS rnk
      |          FROM voc2 WHERE len(piece) >= 2) WHERE rnk <= 60),
      |totf AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM prn),
      |vocf AS (SELECT piece, cnt,
      |           CAST(-floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |             * 1000000 + 0.5) AS BIGINT) AS cost
      |         FROM prn CROSS JOIN totf)""".stripMargin

  private val unigramVocabCtes: String =
    """tok AS (SELECT unnest(list_filter(
      |        regexp_split_to_array(lower(text), '\s+'),
      |        tk -> len(tk) >= 1)) AS word
      |      FROM documents),
      |w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt
      |      FROM tok WHERE len(word) <= 20 GROUP BY 1),
      |pi AS (SELECT word, wcnt, unnest(range(1, len(word) + 1)) AS i
      |       FROM w),
      |pij AS (SELECT wcnt, substr(word, i, l) AS piece
      |        FROM (SELECT word, wcnt, i,
      |                unnest(range(1, least(5, len(word) - i + 1) + 1)) AS l
      |              FROM pi)),
      |pc AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
      |       FROM pij GROUP BY 1),
      |mult AS (SELECT piece, cnt, row_number() OVER (
      |           ORDER BY cnt DESC, piece ASC) AS rnk
      |         FROM pc WHERE len(piece) >= 2),
      |voc0 AS (SELECT piece, cnt FROM pc WHERE len(piece) = 1
      |         UNION ALL
      |         SELECT piece, cnt FROM mult WHERE rnk <= 150),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM voc0),
      |voc AS (SELECT piece, cnt,
      |          CAST(-floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |            * 1000000 + 0.5) AS BIGINT) AS cost
      |        FROM voc0 CROSS JOIN tot)""".stripMargin

  val queries: Seq[GateQuery] = Seq(

    // Integer-quantized gradient-descent logistic regression (M2's
    // oracle row): predict R-returnflag from bucketed lineitem features
    // with 3 budgeted rounds of the hard-sigmoid trainer. The emitted
    // model IS the full training trajectory — any drift in any round's
    // gradient sums or integral updates changes the weights.
    GateQuery(
      "q105_logreg_gd",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
          lit(1L).as("x_bias"),
          expr("CAST(l_quantity AS BIGINT) div 10").as("x_qty"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")
            .as("x_disc"),
          expr("CAST(floor(l_extendedprice) AS BIGINT) div 20000")
            .as("x_price"))
        val w = graft.ml.LogisticGd.fit(li, "y",
          Seq("x_bias", "x_qty", "x_disc", "x_price"),
          rounds = 3, etaDen = 10L)
        import s.implicits._
        Seq(("x0_bias", w(0)), ("x1_qty", w(1)), ("x2_disc", w(2)),
            ("x3_price", w(3)))
          .toDF("feature", "w_micro").orderBy("feature")
      },
      Some(s"""
        WITH feat AS (
          SELECT CASE WHEN l_returnflag = 'R' THEN 1000000 ELSE 0 END AS ym,
                 CAST(1 AS BIGINT) AS x0,
                 CAST(l_quantity AS BIGINT) // 10 AS x1,
                 CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
                 CAST(floor(l_extendedprice) AS BIGINT) // 20000 AS x3
          FROM lineitem),
        w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                      CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
        ${gdRound(1)},
        ${gdRound(2)},
        ${gdRound(3)}
        SELECT 'x0_bias' AS feature, w0 AS w_micro FROM w3
        UNION ALL SELECT 'x1_qty', w1 FROM w3
        UNION ALL SELECT 'x2_disc', w2 FROM w3
        UNION ALL SELECT 'x3_price', w3 FROM w3
        ORDER BY feature""")),

    // Fixed-grid Epanechnikov KDE (M4/M3's oracle row): document-length
    // density over a 101-point grid, bandwidth 500 chars. Exact integer
    // kernel sums; density is one fixed IEEE shape over them.
    GateQuery(
      "q106_kde_grid",
      (s, dir) =>
        graft.ml.Kde.densityGrid(
            t(s, dir, "documents").select(col("n_chars")),
            "n_chars", gridLo = 0L, gridStep = 200L, nPoints = 101,
            bandwidth = 500L)
          .orderBy("k"),
      Some("""
        WITH v AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents
                   WHERE n_chars IS NOT NULL),
        nn AS (SELECT COUNT(*) AS n FROM v),
        g AS (SELECT CAST(unnest(range(0, 101)) AS BIGINT) AS k),
        d AS (SELECT k, SUM(CASE WHEN ABS(k * 200 - x) < 500
                THEN (750000 * (250000 - (k * 200 - x) * (k * 200 - x)))
                     // 250000
                ELSE 0 END) AS kernel_sum
              FROM g CROSS JOIN v GROUP BY k)
        SELECT k, CAST(k * 200 AS BIGINT) AS gx,
          CAST(kernel_sum AS BIGINT) AS kernel_sum,
          CAST(kernel_sum AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
            / 500.0 AS density
        FROM d CROSS JOIN nn ORDER BY k""")),

    // Multi-vintage mergeSchema read (the r8 events-ts lesson as a
    // CONTRACT row, not a spec): the gate WRITES a two-vintage table —
    // one parquet file predating the `event_type` column, one carrying
    // it — then reads the directory back through Graft.table with
    // mergeSchema and aggregates the unified frame. Pre-schema rows
    // surface with NULL event_type (labeled '_pre_schema_'), exactly the
    // evolving-schema reads the reference leans on four times
    // (clientsdaily/rollup.py:23, addon_aggregates.py:61,
    // sync/bookmark_validation.py:25, experimentsdaily/rollup.py:12).
    GateQuery(
      "q107_merge_vintage",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val base = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          "graft_mv_" + Integer.toHexString(dir.hashCode))
        val tbl = base.resolve("events_mv.parquet").toString
        // vintage 0: written before event_type existed
        ev.filter(col("user_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("ts"))
          .write.mode("overwrite").parquet(tbl)
        // vintage 1: current schema, appended into the same table dir
        ev.filter(col("user_id") % 2 =!= 0)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"))
          .write.mode("append").parquet(tbl)
        graft.core.Graft
          .table(s, base.toString, "events_mv", mergeSchema = true)
          .groupBy(coalesce(col("event_type"), lit("_pre_schema_"))
            .as("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            min(unix_millis(col("ts"))).as("min_ms"),
            max(unix_millis(col("ts"))).as("max_ms"))
          .orderBy("event_type")
      },
      Some("""
        WITH mv AS (SELECT user_id, epoch_us(ts) // 1000 AS ms,
              CASE WHEN user_id % 2 = 0 THEN NULL ELSE event_type END AS et
            FROM events)
        SELECT COALESCE(et, '_pre_schema_') AS event_type,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
          CAST(MIN(ms) AS BIGINT) AS min_ms,
          CAST(MAX(ms) AS BIGINT) AS max_ms
        FROM mv GROUP BY 1 ORDER BY event_type""")),

    // Train→serve calibration for the integer-GD model (X145's predict
    // leg, the compiled-NB-serving analogue): the q105 trainer's weights
    // score the SAME frame through the identical hard-sigmoid link, and
    // the readout buckets predictions by deciles of p with the observed
    // positive rate per bucket — the "is the score monotone in the
    // label" check run before any score threshold ships.
    GateQuery(
      "q108_logreg_calibration",
      (s, dir) => {
        val feats = Seq("x_bias", "x_qty", "x_disc", "x_price")
        val li = t(s, dir, "lineitem").select(
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
          lit(1L).as("x_bias"),
          expr("CAST(l_quantity AS BIGINT) div 10").as("x_qty"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")
            .as("x_disc"),
          expr("CAST(floor(l_extendedprice) AS BIGINT) div 20000")
            .as("x_price"))
        val w = graft.ml.LogisticGd.fit(li, "y", feats,
          rounds = 3, etaDen = 10L)
        graft.ml.LogisticGd.predict(li, feats, w)
          .groupBy(expr("p_micro div 100000").as("bucket"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
          .withColumn("pos_rate",
            col("n_pos").cast("double") / col("n").cast("double"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH feat AS (
          SELECT CASE WHEN l_returnflag = 'R' THEN 1000000 ELSE 0 END AS ym,
                 CAST(1 AS BIGINT) AS x0,
                 CAST(l_quantity AS BIGINT) // 10 AS x1,
                 CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
                 CAST(floor(l_extendedprice) AS BIGINT) // 20000 AS x3
          FROM lineitem),
        w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                      CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
        ${gdRound(1)},
        ${gdRound(2)},
        ${gdRound(3)},
        sc AS (SELECT ym, LEAST(GREATEST(500000 +
                 (w0*x0 + w1*x1 + w2*x2 + w3*x3) // 4, 0), 1000000) AS p
               FROM feat CROSS JOIN w3)
        SELECT CAST(p // 100000 AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN ym = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_pos,
          CAST(SUM(CASE WHEN ym = 1000000 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        FROM sc GROUP BY 1 ORDER BY bucket""")),

    // Pairwise exact-integer two-sample Kolmogorov-Smirnov over the
    // price distribution per return flag — the SHAPE drift test the
    // location tests miss: d_num = max |cumA·n_b − cumB·n_a| is an
    // exact long on the common denominator, D and the scaled statistic
    // fixed IEEE shapes. Prices pre-bucketed to hundreds so the
    // distinct-value table stays ~10³ cells.
    GateQuery(
      "q109_ks_test",
      (s, dir) =>
        graft.operators.Hypothesis.ksTest(
            t(s, dir, "lineitem").select(col("l_returnflag"),
              expr("CAST(floor(l_extendedprice) AS BIGINT) div 100")
                .as("price_hund")),
            "l_returnflag", "price_hund")
          .orderBy("group_a", "group_b"),
      Some("""
        WITH q AS (SELECT l_returnflag AS g,
                CAST(floor(l_extendedprice) AS BIGINT) // 100 AS v0
              FROM lineitem),
        c AS (SELECT g, CAST(floor(CAST(v0 AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS v, COUNT(*) AS c
              FROM q GROUP BY 1, 2),
        gs AS (SELECT DISTINCT g FROM c),
        pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b
               ON a.g < b.g),
        mg AS (SELECT ga, gb, v,
                 SUM(CASE WHEN g = ga THEN c ELSE 0 END) AS ca,
                 SUM(CASE WHEN g = gb THEN c ELSE 0 END) AS cb
               FROM c JOIN pr ON g = ga OR g = gb GROUP BY 1, 2, 3),
        st AS (SELECT ga, gb,
                 SUM(ca) OVER (PARTITION BY ga, gb ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum_a,
                 SUM(cb) OVER (PARTITION BY ga, gb ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum_b,
                 SUM(ca) OVER (PARTITION BY ga, gb) AS n_a,
                 SUM(cb) OVER (PARTITION BY ga, gb) AS n_b
               FROM mg),
        ag AS (SELECT ga AS group_a, gb AS group_b,
                 CAST(MAX(n_a) AS BIGINT) AS n_a,
                 CAST(MAX(n_b) AS BIGINT) AS n_b,
                 CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT)
                   AS d_num
               FROM st GROUP BY 1, 2)
        SELECT group_a, group_b, n_a, n_b, d_num,
          CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE)
            * CAST(n_b AS DOUBLE)) AS ks_d,
          sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
              / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
            * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE)
              * CAST(n_b AS DOUBLE))) AS ks_stat
        FROM ag WHERE n_a > 0 AND n_b > 0
        ORDER BY group_a, group_b""")),

    // Pairwise label-centroid cosine matrix over the embeddings — the
    // confusion structure of the label space (which labels sit close,
    // hence bleed into each other under label-stratified curation).
    // d28's milli-quantized exact-sum machinery turned pairwise.
    GateQuery(
      "d30_centroid_pairs",
      (s, dir) =>
        graft.similarity.EmbeddingDrift.centroidPairCosine(
            t(s, dir, "embeddings"), "label", "embedding")
          .orderBy("group_a", "group_b"),
      Some("""
        WITH raw AS (SELECT label,
                generate_subscripts(embedding, 1) AS dim,
                unnest(embedding) AS comp
              FROM embeddings WHERE embedding IS NOT NULL),
        cells AS (SELECT label, dim,
                CAST(SUM(CAST(floor(CAST(comp AS DOUBLE) * 1000.0 + 0.5)
                  AS BIGINT)) AS BIGINT) AS s
              FROM raw GROUP BY 1, 2),
        norms AS (SELECT label, CAST(SUM(s*s) AS BIGINT) AS n2
                  FROM cells GROUP BY 1),
        dots AS (SELECT a.label AS group_a, b.label AS group_b,
                CAST(SUM(a.s * b.s) AS BIGINT) AS dot
              FROM cells a JOIN cells b
                ON a.dim = b.dim AND a.label < b.label
              GROUP BY 1, 2)
        SELECT group_a, group_b, dot, na.n2 AS norm2_a, nb.n2 AS norm2_b,
          CASE WHEN na.n2 > 0 AND nb.n2 > 0
               THEN CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                    * sqrt(CAST(nb.n2 AS DOUBLE))) END AS centroid_cos
        FROM dots
        JOIN norms na ON na.label = group_a
        JOIN norms nb ON nb.label = group_b
        ORDER BY group_a, group_b""")),

    // BPE encode census (the serving half of t52's induction): after 3
    // learned merges, tokenize the corpus with them and census the top
    // 30 symbols — "what does the corpus look like through this
    // tokenizer".
    GateQuery(
      "t53_bpe_encode",
      (s, dir) =>
        graft.text.Bpe.encodeTopTokens(t(s, dir, "documents"), "text",
          merges = 3, k = 30),
      Some(s"""
        WITH tok AS (SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '\\s+'),
                tk -> len(tk) >= 2)) AS tok
              FROM documents),
        s0 AS (SELECT array_to_string(string_split(tok, ''), ' ') AS sym
               FROM tok),
        ${bpeRound(1)},
        ${bpeRound(2)},
        ${bpeRound(3)},
        tc AS (SELECT unnest(string_split(sym, ' ')) AS token FROM s3),
        cc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM tc GROUP BY 1),
        rk AS (SELECT token, cnt, CAST(row_number() OVER (
                 ORDER BY cnt DESC, token ASC) AS BIGINT) AS rank
               FROM cc)
        SELECT rank, token, cnt FROM rk WHERE rank <= 30
        ORDER BY rank""")),

    // Iterated BPE merge induction (t47 mines round 1; this runs the
    // loop): 3 unrolled merge rounds over the documents corpus — pair
    // table, deterministic winner, greedy fold — the merge table a
    // tokenizer trainer would emit.
    GateQuery(
      "t52_bpe_merges",
      (s, dir) =>
        graft.text.Bpe.mergeLoop(t(s, dir, "documents"), "text",
          merges = 3),
      Some(s"""
        WITH tok AS (SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '\\s+'),
                tk -> len(tk) >= 2)) AS tok
              FROM documents),
        s0 AS (SELECT array_to_string(string_split(tok, ''), ' ') AS sym
               FROM tok),
        ${bpeRound(1)},
        ${bpeRound(2)},
        ${bpeRound(3)}
        SELECT CAST(1 AS BIGINT) AS round, sa AS sym_a, sb AS sym_b, cnt
        FROM m1
        UNION ALL SELECT CAST(2 AS BIGINT), sa, sb, cnt FROM m2
        UNION ALL SELECT CAST(3 AS BIGINT), sa, sb, cnt FROM m3
        ORDER BY round""")),

    // BYTE-level BPE merge induction (t52's production-form twin, the
    // GPT-2 lineage: UTF-8 bytes as 2-char hex symbols plus the '.'
    // end-of-word marker, case preserved, every token participates).
    // Same pair table, deterministic winner, and greedy fold as t52 —
    // the bpeRound CTEs replay verbatim; only round-0 atomization
    // differs, so the oracle isolates exactly the byte-level contract.
    GateQuery(
      "t54_bpe_bytes",
      (s, dir) =>
        graft.text.Bpe.byteMergeLoop(t(s, dir, "documents"), "text",
          merges = 3),
      Some(s"""
        WITH tok AS (SELECT unnest(list_filter(
                regexp_split_to_array(text, '\\s+'),
                tk -> len(tk) >= 1)) AS tok
              FROM documents),
        s0 AS (SELECT regexp_replace(lower(hex(encode(tok))),
                 '(..)', '\\1 ', 'g') || '.' AS sym
               FROM tok),
        ${bpeRound(1)},
        ${bpeRound(2)},
        ${bpeRound(3)}
        SELECT CAST(1 AS BIGINT) AS round, sa AS sym_a, sb AS sym_b, cnt
        FROM m1
        UNION ALL SELECT CAST(2 AS BIGINT), sa, sb, cnt FROM m2
        UNION ALL SELECT CAST(3 AS BIGINT), sa, sb, cnt FROM m3
        ORDER BY round""")),

    // BYTE-level BPE encode census (t53's production-form twin — and the
    // gate t54 alone could not give: t54 replays only the TRAINING merge
    // table, so the serving/encode half of the byte-level form was
    // spec-only; this pins it to an oracle): tokenize the corpus through
    // its own 3 byte-level merges and census the top 30 hex-byte symbols
    // by (cnt DESC, token ASC).
    GateQuery(
      "t55_bpe_bytes_encode",
      (s, dir) =>
        graft.text.Bpe.encodeTopTokensBytes(t(s, dir, "documents"),
          "text", merges = 3, k = 30),
      Some(s"""
        WITH tok AS (SELECT unnest(list_filter(
                regexp_split_to_array(text, '\\s+'),
                tk -> len(tk) >= 1)) AS tok
              FROM documents),
        s0 AS (SELECT regexp_replace(lower(hex(encode(tok))),
                 '(..)', '\\1 ', 'g') || '.' AS sym
               FROM tok),
        ${bpeRound(1)},
        ${bpeRound(2)},
        ${bpeRound(3)},
        tc AS (SELECT unnest(string_split(sym, ' ')) AS token FROM s3),
        cc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM tc GROUP BY 1),
        rk AS (SELECT token, cnt, CAST(row_number() OVER (
                 ORDER BY cnt DESC, token ASC) AS BIGINT) AS rank
               FROM cc)
        SELECT rank, token, cnt FROM rk WHERE rank <= 30
        ORDER BY rank""")),

    // Unigram-LM tokenizer SEED (SentencePiece lineage — the
    // probabilistic sibling of the t52-t55 BPE trainer): census every
    // substring of length 1..5 of the word vocabulary, keep all chars +
    // the top-150 multi-char pieces, normalize to micro-nat costs
    // (−⌊ln(cnt/total)·10⁶ + 0.5⌋ — the house integer log-prob
    // convention). Output: top-40 pieces with their counts AND costs,
    // so the normalization itself is oracle-pinned.
    GateQuery(
      "t57_unigram_seed",
      (s, dir) => {
        val words = graft.text.UnigramTok.wordCensus(
          t(s, dir, "documents"), "text", maxWordLen = 20)
        graft.text.UnigramTok.seedVocab(words, maxPieceLen = 5,
            multiPieces = 150)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
          .filter(col("rank") <= 40)
          .select(col("rank"), col("piece"), col("cnt"), col("cost"))
          .orderBy("rank")
      },
      Some(s"""
        WITH $unigramVocabCtes
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC)
                 AS BIGINT) AS rank, piece, cnt, cost
        FROM voc
        QUALIFY rank <= 40
        ORDER BY rank""")),

    // Unigram-LM Viterbi E-STEP over the seed vocabulary: segment every
    // censused word into its argmin-(cost, piece-count, boundary-mask)
    // piece sequence and census the pieces weighted by word frequency.
    // The engine runs a one-pass compiled DP (ViterbiSegment); the
    // oracle enumerates EVERY segmentation with a recursive CTE and
    // sorts by the same triple — the strongest possible replay: the DP
    // argmin must equal the exhaustive argmin on all ~2^(len-1) paths
    // of every word. The boundary-mask term (Σ 2^start over interior
    // piece starts) makes the argmin total, so both engines agree
    // without any engine-specific tie behavior.
    GateQuery(
      "t58_unigram_viterbi",
      (s, dir) => {
        val words = graft.text.UnigramTok.wordCensus(
          t(s, dir, "documents"), "text", maxWordLen = 20)
        val vocab = graft.text.UnigramTok.vocabOf(
          graft.text.UnigramTok.seedVocab(words, maxPieceLen = 5,
            multiPieces = 150))
        val gateWords = words.filter(length(col("word")) <= 10)
          .orderBy(col("wcnt").desc, col("word").asc).limit(100)
        graft.text.UnigramTok.estepCounts(gateWords, vocab)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
          .filter(col("rank") <= 40)
          .select(col("rank"), col("piece"), col("cnt"))
          .orderBy("rank")
      },
      Some(s"""
        WITH RECURSIVE $unigramVocabCtes,
        gw AS (SELECT word, wcnt FROM w WHERE len(word) <= 10
               ORDER BY wcnt DESC, word LIMIT 100),
        seg AS (
          SELECT word, wcnt, 0 AS pos, CAST(0 AS BIGINT) AS cost,
                 0 AS np, CAST(0 AS BIGINT) AS mask,
                 CAST('' AS VARCHAR) AS pieces
          FROM gw
          UNION ALL
          SELECT s.word, s.wcnt, s.pos + len(v.piece), s.cost + v.cost,
                 s.np + 1,
                 s.mask + CASE WHEN s.pos = 0 THEN CAST(0 AS BIGINT)
                   ELSE (CAST(1 AS BIGINT) << s.pos) END,
                 CASE WHEN s.pieces = '' THEN v.piece
                   ELSE s.pieces || ' ' || v.piece END
          FROM seg s JOIN voc v
            ON v.piece = substr(s.word, s.pos + 1, len(v.piece))
          WHERE s.pos < len(s.word)),
        done AS (SELECT word, wcnt, pieces,
                   row_number() OVER (PARTITION BY word
                     ORDER BY cost, np, mask) AS rn
                 FROM seg WHERE pos = len(word)),
        pu AS (SELECT wcnt, unnest(string_split(pieces, ' ')) AS piece
               FROM done WHERE rn = 1),
        cc AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
               FROM pu GROUP BY 1)
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC)
                 AS BIGINT) AS rank, piece, cnt
        FROM cc
        QUALIFY rank <= 40
        ORDER BY rank""")),

    // Unigram-LM hard-EM TRAINING LOOP — the t52/t54 discipline applied
    // to the probabilistic trainer (t57 gates the seed, t58 one E-step;
    // this gates the LOOP: 2 unrolled EM rounds + the final prune, the
    // exact training-loop half whose spec-only status hid the r13 BPE
    // decode bug's class). The census is the bounded t58 word set so
    // BOTH exhaustive E-step enumerations stay tractable; the engine
    // runs the production emTrainWords loop (compiled Viterbi E-step,
    // char-floored M-step, renormalize, prune) and the oracle replays
    // every stage: two recursive-CTE enumerations, two char-floored
    // refreshes, two renormalizations, then the prune's top-60
    // multi-char + all-chars cut and its final cost pass. Output:
    // top-40 of the trained vocabulary with counts AND costs, so the
    // round-2 normalization itself is oracle-pinned.
    GateQuery(
      "t59_unigram_emtrain",
      (s, dir) => {
        val words = graft.text.UnigramTok.wordCensus(
          t(s, dir, "documents"), "text", maxWordLen = 20)
        val gw = words.filter(length(col("word")) <= 10)
          .orderBy(col("wcnt").desc, col("word").asc).limit(100)
        graft.text.UnigramTok.emTrainWords(gw, vocabSize = 60,
            iters = 2, maxPieceLen = 5, multiPieces = 150)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
          .filter(col("rank") <= 40)
          .select(col("rank"), col("piece"), col("cnt"), col("cost"))
          .orderBy("rank")
      },
      Some(s"""
        WITH RECURSIVE $unigramGwSeedCtes,
        ${emRound(1)},
        ${emRound(2)},
        $unigramPruneCtes
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC)
                 AS BIGINT) AS rank, piece, cnt, cost
        FROM vocf
        QUALIFY rank <= 40
        ORDER BY rank""")),

    // Unigram-LM SERVING census — the t55 discipline applied to X160
    // (t53/t55 closed BPE's serve halves; this closes unigram's): encode
    // a BROADER word set (top-150 of ≤ 12 chars — not the training
    // census) through the vocabulary t59 trained and prune, and census
    // the emitted pieces. Serving-only behaviors this pins that t57–t59
    // cannot: segmentation under the PRUNED vocabulary (pieces EM used
    // but pruning dropped must re-segment through survivors), and the
    // drop contract for unservable words (a word containing a character
    // the training census never saw has NO complete segmentation — both
    // engines must emit nothing for it, not a partial path). The oracle
    // chains t59's full train replay (seed → 2 EM rounds → prune) into
    // a third exhaustive enumeration against the FINAL vocabulary.
    GateQuery(
      "t60_unigram_encode",
      (s, dir) => graft.core.Lineage.materialized { scope =>
        // persisted: BOTH the training subset (gw) and the serving set
        // derive from this census — unpersisted it would tokenize the
        // corpus twice
        val words = scope.persisted(graft.text.UnigramTok.wordCensus(
          t(s, dir, "documents"), "text", maxWordLen = 20))
        val gw = words.filter(length(col("word")) <= 10)
          .orderBy(col("wcnt").desc, col("word").asc).limit(100)
        val trained = scope.persisted(graft.text.UnigramTok.emTrainWords(gw,
          vocabSize = 60, iters = 2, maxPieceLen = 5, multiPieces = 150))
        val vocab = graft.text.UnigramTok.vocabOf(trained)
        scope.release(trained) // vocabOf collected it; the cache is dead
        val serveWords = words.filter(length(col("word")) <= 12)
          .orderBy(col("wcnt").desc, col("word").asc).limit(150)
        graft.text.UnigramTok.estepCounts(serveWords, vocab)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
          .filter(col("rank") <= 40)
          .select(col("rank"), col("piece"), col("cnt"))
      }.orderBy("rank"), // outside: the cached result needs no sort
      Some(s"""
        WITH RECURSIVE $unigramGwSeedCtes,
        ${emRound(1)},
        ${emRound(2)},
        $unigramPruneCtes,
        sw AS (SELECT word, wcnt FROM w WHERE len(word) <= 12
               ORDER BY wcnt DESC, word LIMIT 150),
        segs AS (
          SELECT word, wcnt, 0 AS pos, CAST(0 AS BIGINT) AS cost,
                 0 AS np, CAST(0 AS BIGINT) AS mask,
                 CAST('' AS VARCHAR) AS pieces
          FROM sw
          UNION ALL
          SELECT s.word, s.wcnt, s.pos + len(v.piece), s.cost + v.cost,
                 s.np + 1,
                 s.mask + CASE WHEN s.pos = 0 THEN CAST(0 AS BIGINT)
                   ELSE (CAST(1 AS BIGINT) << s.pos) END,
                 CASE WHEN s.pieces = '' THEN v.piece
                   ELSE s.pieces || ' ' || v.piece END
          FROM segs s JOIN vocf v
            ON v.piece = substr(s.word, s.pos + 1, len(v.piece))
          WHERE s.pos < len(s.word)),
        done AS (SELECT word, wcnt, pieces,
                   row_number() OVER (PARTITION BY word
                     ORDER BY cost, np, mask) AS rn
                 FROM segs WHERE pos = len(word)),
        pu AS (SELECT wcnt, unnest(string_split(pieces, ' ')) AS piece
               FROM done WHERE rn = 1),
        cc AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
               FROM pu GROUP BY 1)
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC)
                 AS BIGINT) AS rank, piece, cnt
        FROM cc
        QUALIFY rank <= 40
        ORDER BY rank"""))
  )
}
