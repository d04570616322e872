package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Accumulates shuffle bytes across completed stages — the per-query
  * shuffle footprint quantifies the engine's shuffle-minimization design
  * alongside wall time.
  */
private class ShuffleMetricsListener extends SparkListener {
  private val read = new java.util.concurrent.atomic.AtomicLong
  private val write = new java.util.concurrent.atomic.AtomicLong
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snapshot: (Long, Long) = (read.get, write.get)
}

/** Benchmark entry point (driver contract): runs the headline gate
  * queries against SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * The headline set is every gate query except the O(n²) brute-force
  * baselines (d03_jaccard_brute pairs all documents against each other;
  * it exists as the correctness oracle for the LSH paths and is not a
  * scale-path operator — at sf0.1's 5k documents it is 12.5M
  * array-intersections by design).
  *
  * TWO sessions, adjudicable streaming (the r10 lesson): the streaming
  * gates' wall times inflated 1.5–2.7× between r9 and r10 with UNCHANGED
  * operator code, because ~50 more batch gates ran before them in one
  * ever-aging SparkSession and file-stream trigger/startup cost grows
  * with session age. Nothing in the r10 artifacts could distinguish that
  * from a plan regression. Now (a) the streaming section runs in a FRESH
  * SparkSession so its numbers measure the operators, not the session's
  * scar tissue, and (b) a fixed no-op file-stream probe is timed in the
  * aged session (after all batch gates) AND in the fresh one — the
  * `stream_trigger` sentinel pair quantifies session-aging overhead
  * directly, so a future reader can adjudicate this class of drift from
  * the artifact alone.
  *
  * `codegen` records the classes Spark compiled during the timed runs
  * (count from `CodegenMetrics`, ms from `CodeGenerator.compileTime`), in
  * total and per gate under `codegen_by_query` in the file artifact. A
  * gate's warm-up run directly before its min-of-N refills the codegen
  * cache with that gate's classes, so thrash ACROSS gates (a cache
  * smaller than the suite's working set but larger than one gate's) does
  * not show in these times; a non-zero count here means a gate compiles
  * on every run (generated source that differs between runs).
  */
object Bench {

  /** Excluded from benchmarking (correctness-only baselines): d03 IS
    * the O(n²) brute baseline, and q60 embeds it as the reference side
    * of the dedup-quality eval.
    */
  val NonHeadline: Set[String] = Set("d03_jaccard_brute", "q60_dedup_eval")

  /** The streaming gates (file-stream replays) — run in their own fresh
    * session, identified by name: every streaming gate is `*_stream_*`.
    */
  def isStreaming(name: String): Boolean = name.contains("_stream")

  private def loadAvg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Fixed CPU-bound micro-query: same plan every time, no IO, no
    * shuffle — its wall time moves only with machine contention.
    * xxhash64 keeps the sum bounded (sum(id*id) overflows ANSI longs
    * at this range) while doing real per-row work.
    */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 24).selectExpr("sum(xxhash64(id) % 1024)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Session-age probe: ONE complete no-op file-stream query (3-row
    * parquet → memory sink, processAllAvailable, stop) with the plan
    * held constant, so its wall time is pure streaming-query
    * start/trigger/teardown overhead in THIS session at THIS age. The
    * aged-vs-fresh pair is the adjudication signal for streaming-gate
    * wall-time drift.
    */
  private def streamTriggerProbe(spark: SparkSession): Double = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_bench_trigger_src")
    spark.range(3).selectExpr("id").coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def once(sink: String): Double = {
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(sch).parquet(dir.toString)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.catalog.dropTempView(sink)
      (System.nanoTime() - t0) / 1e9
    }
    once("bench_trigger_warm") // first stream in a session pays class init
    once("bench_trigger_probe")
  }

  /** (classes compiled, compile nanos) since JVM start. */
  private def codegenSnapshot(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    def newSession(tag: String): SparkSession = {
      val s = graft.core.Graft.configure(
        SparkSession.builder().master(s"local[$cpus]")
          .appName(s"graft-bench-$tag")
          .config("spark.ui.enabled", "false"),
        shufflePartitions = cpus).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // Warm the executor pool + codegen once so the first measured query
      // doesn't pay JVM/session startup.
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }

    // Steady-state measurement: one untimed warmup execution per query
    // (JIT, codegen cache, parquet footer cache), then `runs` timed
    // executions reporting the MINIMUM. With n=1 a single GC/JIT hiccup
    // becomes the round's official number (round 4 recorded d07 at 21.3 s
    // vs a 1.8 s verified steady state); min-of-N makes that impossible.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // The shingle/ANN d-family shows the widest machine-noise variance:
    // round 6's recorded d02/d04/d09 drifted up to 1.45x with no code
    // change, and round 7's two back-to-back local runs swung ±20% in BOTH
    // directions (d02 1.41 vs 1.11 s) while plans were identical. Their
    // min-of-N floor is 3 so one noisy run can't become the round's number.
    def runsFor(name: String): Int =
      if (name.startsWith("d")) runs.max(3) else runs
    // Any query whose best time is still over this after its base runs gets
    // topped up to min-of-3: expensive queries are exactly where one noisy
    // run distorts the round's total the most.
    val extraRunThreshold = 0.5

    /** Run `queries` in `spark` with warmup + min-of-N + per-query shuffle
      * deltas. Failure-honest: a throwing query must NEVER be timed — with
      * an upstream break (e.g. a testdata schema change), milliseconds-to-
      * AnalysisException would otherwise be recorded as the suite's fastest
      * queries and silently poison the round's comparison. A failure is
      * reported as `"err"` in the JSON and excluded from the total.
      */
    def runSection(spark: SparkSession,
        queries: Seq[graft.queries.GateQuery])
        : Seq[(String, Either[String, Double], Long, (Long, Long))] = {
      val metrics = new ShuffleMetricsListener
      spark.sparkContext.addSparkListener(metrics)
      // Listener events arrive asynchronously on the bus; drain it before
      // every snapshot so a query's shuffle bytes aren't attributed to the
      // next query (or missed entirely).
      def drainedSnapshot(): (Long, Long) = {
        org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(
          spark.sparkContext)
        metrics.snapshot
      }
      def timedRun(q: graft.queries.GateQuery): Either[String, Double] = {
        val t0 = System.nanoTime()
        val res =
          try { q.fn(spark, sfDir).count(); Right(()) }
          catch { case scala.util.control.NonFatal(e) =>
            Left(s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator
                .take(1).mkString.take(200))
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // pipelines cache intermediate frames (LSH fan-outs); drop them so
        // queries don't steal each other's execution memory
        spark.catalog.clearCache()
        res.map(_ => elapsed)
      }
      def minRun(q: graft.queries.GateQuery,
          best: Either[String, Double]): Either[String, Double] =
        (best, timedRun(q)) match {
          case (Right(b), Right(t)) => Right(math.min(b, t))
          case (Left(e), _)         => Left(e)
          case (_, Left(e))         => Left(e)
        }
      queries.map { q =>
        timedRun(q) // warmup, untimed for reporting
        val (c0, n0) = codegenSnapshot()
        // shuffle bytes are a plan property — capture them on the first
        // timed run only (identical across runs)
        val (r0, w0) = drainedSnapshot()
        val first = timedRun(q)
        val (r1, w1) = drainedSnapshot()
        val baseRuns = runsFor(q.name)
        val base = (1 until baseRuns).foldLeft(first)((b, _) => minRun(q, b))
        val best = base match {
          case Right(t) if t > extraRunThreshold && baseRuns < 3 =>
            (baseRuns until 3).foldLeft(base)((b, _) => minRun(q, b))
          case other => other
        }
        val (c1, n1) = codegenSnapshot()
        (q.name, best, (r1 - r0) + (w1 - w0), (c1 - c0, n1 - n0))
      }
    }

    // Dev-only subset selector (comma-separated gate names): iterate on one
    // query's time without paying the full suite. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val headline = SparkEntry.gateQueries
      .filterNot(q => NonHeadline.contains(q.name))
      .filter(q => only.forall(_.contains(q.name)))
    val (streamQs, batchQs) = headline.partition(q => isStreaming(q.name))

    // ---- Session 1: batch gates -----------------------------------------
    val spark1 = newSession("batch")
    // untimed warmups of the calibration plan itself (two: the first JITs
    // codegen, the second settles the thread pool — with one, the start
    // sample still read ~2x the end sample on an idle machine)
    calibrate(spark1); calibrate(spark1)
    val loadStart = loadAvg1m()
    val calStart = calibrate(spark1)
    // Mid-run contention probes: the r12 driver bench had three CONTIGUOUS
    // run-order bands inflated ~5-7x by external CPU load, and the two
    // endpoint calibration samples bracketed all of them — nothing in the
    // artifact could localize the contention. Sampling the fixed
    // calibration plan every `probeEvery` queries makes a contention band
    // visible in the artifact itself: a reader maps each query's run-order
    // position to the nearest probes and discounts the band, not the round.
    // r18 measurement fix (declared in OPTIMIZATION_r18.md): the FIRST
    // calibration sample taken right after a burst of gate work is a
    // TRANSIENT — measured this round at 0.35–0.45 s settling to ~0.10 s
    // by the second consecutive sample in the same session (thread-pool /
    // GC / code-cache settling, not sustained contention). A single
    // post-chunk sample therefore overstates machine load and has been
    // mis-read as a contention band in past adjudications. Each probe now
    // records (transient, settled) = (first sample, min of two more);
    // the settled value is the machine-floor signal, the transient the
    // burst indicator. Old runs' single values correspond to the
    // TRANSIENT column.
    def calibratePair(spark: SparkSession): (Double, Double) = {
      val t = calibrate(spark)
      (t, math.min(calibrate(spark), calibrate(spark)))
    }
    val probeEvery = 40
    val calMid =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val batchResults = batchQs.grouped(probeEvery).toSeq.zipWithIndex
      .flatMap { case (chunk, i) =>
        val res = runSection(spark1, chunk)
        val (t, s) = calibratePair(spark1)
        calMid += ((math.min((i + 1) * probeEvery, batchQs.size), t, s))
        res
      }
    // trigger probe in the AGED session — after every batch gate has run
    val trigAged =
      if (streamQs.nonEmpty) streamTriggerProbe(spark1) else -1.0
    spark1.stop()

    // ---- Session 2: streaming gates, fresh session ----------------------
    val (streamResults, trigFresh, calEnd) = if (streamQs.nonEmpty) {
      val spark2 = newSession("stream")
      calibrate(spark2); calibrate(spark2)
      val fresh = streamTriggerProbe(spark2)
      val res = runSection(spark2, streamQs)
      // settled end sample (see calibratePair): the transient after the
      // streaming section is not the machine floor
      val cal = calibratePair(spark2)._2
      spark2.stop()
      (res, fresh, cal)
    } else (Seq.empty, -1.0, {
      // no streaming section (dev subset): reuse a throwaway session for
      // the closing calibration sample so the sentinel block stays complete
      val s = newSession("cal"); calibrate(s)
      val c = calibrate(s); s.stop(); c
    })
    val loadEnd = loadAvg1m()

    // keep the gate-declaration order in the report (batch then streaming
    // would otherwise reorder the `queries` map between rounds)
    val byName = (batchResults ++ streamResults).map(r => r._1 -> r).toMap
    val results = headline.map(q => byName(q.name))

    // The driver captures stdout via a BOUNDED TAIL and parses the last
    // JSON line it finds; rounds 3-5 each recorded "parsed": null because
    // the full-precision line (~4 KB with 17-digit doubles plus the
    // shuffle_mb map) overflowed that window and lost its opening brace.
    // Print a COMPACT line (3-decimal times, no shuffle_mb — that detail
    // lives in the file artifact below) so the line stays ~1.3 KB.
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val qs = results.map {
      case (k, Right(v), _, _) => "\"" + k + "\":" + f3(v)
      case (k, Left(e), _, _)  => "\"" + k + "\":{\"err\":" + jstr(e) + "}"
    }.mkString("{", ",", "}")
    val sh = results.map { case (k, _, b, _) =>
      "\"" + k + "\":" + f3(b / 1024 / 1024.0) }.mkString("{", ",", "}")
    // per gate: [classes compiled, compile ms] over its timed runs
    val cgq = results.map { case (k, _, _, (c, ns)) =>
      "\"" + k + "\":[" + c + "," + f3(ns / 1e6) + "]" }.mkString("{", ",", "}")
    val codegen = s""""codegen":{"compiles":${results.map(_._4._1).sum},""" +
      s""""ms":${f3(results.map(_._4._2).sum / 1e6)}}"""
    val errCount = results.count(_._2.isLeft)
    // total covers succeeding queries only; n_err flags the exclusions so
    // a partially-broken suite can't masquerade as a fast one
    val total = results.collect { case (_, Right(v), _, _) => v }.sum
    // Sentinel block: loadavg (1-min) and the fixed calibration query's
    // seconds at start/end (idle 32-core reference ~0.1 s — a reader
    // seeing 2-3x that should treat per-query times as load-inflated
    // rather than regressions), plus the stream_trigger pair: the no-op
    // file-stream probe's seconds in the aged batch session vs the fresh
    // streaming session. aged >> fresh ⇒ any streaming-gate drift in a
    // single-session harness would have been session aging, and the
    // streaming numbers below (fresh session) are clean of it.
    // per probe: [gate index, transient sample, settled min-of-2]
    val midJson = calMid
      .map { case (n, t, s) => s"[$n,${f3(t)},${f3(s)}]" }
      .mkString("[", ",", "]")
    val sentinel =
      s""""load":{"start":${f3(loadStart)},"end":${f3(loadEnd)}},""" +
        s""""calibration":{"start":${f3(calStart)},"end":${f3(calEnd)}},""" +
        s""""calibration_mid":$midJson,""" +
        // schema marker so adjudication tooling can mechanically tell
        // the r18+ 3-column sentinel rows from the ≤r17 2-column
        // [gate, cal] format (r18 ADVICE)
        s""""calibration_mid_cols":["gate","transient","settled"],""" +
        s""""stream_trigger":{"aged":${f3(trigAged)},"fresh":${f3(trigFresh)}}"""
    val compact =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_err":$errCount,$sentinel,$codegen,"queries":$qs,"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","n_err":$errCount,$sentinel,$codegen,"queries":$qs,"shuffle_mb":$sh,"codegen_by_query":$cgq,"sf":"$sfDir"}"""
    // Persist the full JSON (incl. shuffle_mb + sentinels) to files FIRST,
    // then print the compact line LAST so it sits at the very end of the
    // tail window. Two copies: the env-selected path AND a fixed repo-local
    // artifact (bench_local/bench_out.json) so the complete record survives
    // any stdout truncation the driver's capture applies — r8's captured
    // tail cut the JSON mid-line and lost the load sentinels built for
    // exactly that adjudication.
    val outs = Seq(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json"),
      "bench_local/bench_out.json").distinct
    // best-effort: a malformed SPARK_GRAFT_BENCH_OUT throws
    // InvalidPathException (a RuntimeException) from Paths.get — swallow
    // anything non-fatal rather than crash after results are computed
    outs.foreach { out =>
      try {
        val p = java.nio.file.Paths.get(out)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p,
          full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    println(compact)
  }
}
