package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark harness for one workload in one fresh JVM.
  *
  * Usage: GraftBench <workload> <inputDir> <outDir> <seconds> <trace> <cores>
  *        GraftBench dump-schema <path>
  *
  * Times graft from outside: every operation is a call into a public entry
  * point (`SparkEntry.gateQueries`, `cli.Main.dispatch`, library functions),
  * wrapped in wall-clock and CPU timers. One warm-up round of every operation runs
  * first (it pays class loading, the JIT and Spark's code generation); then
  * at least `MinTimedRounds` whole timed rounds run, and more until
  * `seconds` have elapsed. With trace=1 a listener installed here
  * attributes Spark jobs, stages and tasks to the operation and phase that
  * started them, and the run writes its spans to `outDir/trace.json`.
  * Results go to `outDir/result.json`; the Python side checks outputs and
  * prints the metrics.
  */
object GraftBench {

  final case class Span(id: Long, parent: Long, name: String, start: Long,
      var end: Long)

  /** One timed call. `layer` names the module the per-layer metrics
    * attribute it to. Gate operations build a frame (`frame`); command
    * operations run to completion (`run`).
    */
  final case class Op(name: String, layer: String,
      frame: Option[SparkSession => DataFrame] = None,
      run: Option[SparkSession => Unit] = None,
      tables: Seq[String] = Nil,
      oracle: Option[String] = None)

  /** `seconds` is wall time; `cpu` the CPU time of the JVM's Java threads
    * (the driver, Spark's task and service threads) over the same call. CPU
    * time leaves out time the host gave to other guests; the JVM's own JIT
    * compiler and GC threads are not Java threads and stay out of it.
    */
  final case class OpResult(name: String, round: Int, seconds: Double, cpu: Double,
      error: Option[String])

  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** CPU seconds the Java threads alive now used since `before`. */
  def cpuSince(before: Map[Long, Long]): Double =
    threadCpuNs().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e9

  /** Timed rounds after the warm-up: each operation's time is its best
    * over them, which keeps short stalls of a shared host out.
    */
  val MinTimedRounds = 3

  private val PhaseKey = "graftbench.phase"
  private val OpKey = "graftbench.op"

  // ---- tracing ----------------------------------------------------------

  final class Tracer {
    private val ids = new AtomicLong(0)
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    def open(parent: Long, name: String): Span = {
      val s = Span(ids.incrementAndGet(), parent, name, System.nanoTime(), 0L)
      spans.add(s); s
    }
    def close(s: Span): Unit = s.end = System.nanoTime()
  }

  /** Attributes every job, stage and task to the (op, phase) local
    * properties set on the thread that submitted the job.
    */
  final class PhaseListener(tracer: Tracer, phaseSpans: ConcurrentHashMap[String, Long])
      extends SparkListener {
    final class Acc {
      val jobs, stages, tasks, runMs, cpuNs, gcMs, shufRead, shufWrite, spill,
        input, output = new AtomicLong
      val peakMem = new AtomicLong
    }
    val byKey = new ConcurrentHashMap[String, Acc]()
    private val stageKey = new ConcurrentHashMap[Int, String]()
    private val jobSpan = new ConcurrentHashMap[Int, Span]()
    def acc(k: String): Acc = byKey.computeIfAbsent(k, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("none")
      val phase = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("none")
      val k = s"$op|$phase"
      acc(k).jobs.incrementAndGet()
      e.stageIds.foreach(stageKey.put(_, k))
      val parent = phaseSpans.getOrDefault(k, 0L)
      jobSpan.put(e.jobId, tracer.open(parent, s"job ${e.jobId}"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(tracer.close)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageKey.get(e.stageInfo.stageId)).foreach(k =>
        acc(k).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = Option(stageKey.get(e.stageId)).getOrElse("none|none")
      val a = acc(k)
      a.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.input.addAndGet(m.inputMetrics.bytesRead)
        a.output.addAndGet(m.outputMetrics.bytesWritten)
        a.peakMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_: Long, _: Long))
      }
    }
  }

  // ---- JSON -------------------------------------------------------------

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8))
  }

  // ---- session ----------------------------------------------------------

  /** The CLI's own session recipe (`cli.Main.main`). */
  def session(cores: Int, workload: String): SparkSession = {
    val s = graft.core.Graft.localSession(cores, appName = s"graftbench-$workload")
    s.sparkContext.setLogLevel("ERROR")
    graft.core.GraftExtensions.register(s)
    s
  }

  /** Session build plus one read of every input. */
  def setUp(cores: Int, workload: String, inputs: Seq[String]): SparkSession = {
    val s = session(cores, workload)
    inputs.foreach(p => s.read.parquet(p).limit(1).collect())
    s
  }

  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dump-schema")) {
      write(args(1), graft.jobs.MainSummaryFixture.schema.json)
      return
    }
    val Array(workload, in, out, secArg, traceArg, coresArg) = args
    val seconds = secArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ops = Workloads.ops(workload, in, out, traced)
    val inputs = Workloads.inputs(workload, in)
    write(s"$out/oracles.json", ops.flatMap(o => o.oracle.map(sql =>
      s"${jstr(o.name)}:{\"sql\":${jstr(sql)},\"tables\":[${o.tables.map(jstr).mkString(",")}]}"))
      .mkString("{", ",\n", "}"))

    // setup_s: median of three set-ups; the first runs from JVM start
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = setUp(cores, workload, inputs)
    setups += (System.currentTimeMillis() - jvmStart) / 1e3
    for (_ <- 1 to 2) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = setUp(cores, workload, inputs)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer
    val phaseSpans = new ConcurrentHashMap[String, Long]()
    val listener = if (traced) {
      val l = new PhaseListener(tracer, phaseSpans)
      spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val sc = spark.sparkContext
    // per-layer counters cover the timed rounds only
    var counting = false
    val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = if (counting) counters(k) = counters(k) + v
    def persisted(): Int = sc.getPersistentRDDs.size
    def storageMb(): Double =
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

    /** Runs `body` as phase `phase` of `op`, under a span. */
    def phase[T](op: String, opSpan: Span, name: String)(body: => T): (T, Double) = {
      val key = s"$op|$name"
      val sp = tracer.open(opSpan.id, name)
      phaseSpans.put(key, sp.id)
      sc.setLocalProperty(OpKey, op)
      sc.setLocalProperty(PhaseKey, name)
      try {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      } finally { tracer.close(sp) }
    }

    val results = mutable.ArrayBuffer.empty[OpResult]
    val firstRows = mutable.Map.empty[String, Array[Row]]
    val mismatched = mutable.Set.empty[String]
    val runSpan = tracer.open(0L, s"run $workload")
    /** One round; round 0 is the warm-up. Spark jobs are tagged
      * `<op>#<round>` so the listener can leave the warm-up out.
      */
    def runRound(round: Int): Unit =
      ops.foreach { op =>
        val opSpan = tracer.open(runSpan.id, s"${op.name}#$round")
        val tag = s"${op.name}#$round"
        val residue0 = persisted()
        var result: Option[(Array[Row], org.apache.spark.sql.types.StructType)] = None
        val cpu0 = threadCpuNs()
        val start = System.nanoTime()
        val res: Either[String, Unit] = try {
          op.frame match {
            case Some(build) =>
              if (traced) op.tables.foreach { t =>
                val (_, s) = phase(tag, opSpan, "table_load") {
                  graft.queries.GateQuery.table(spark, in + "/tables", t) }
                add("core.table_load_s", s)
              }
              val (df, c) = phase(tag, opSpan, "construct")(build(spark))
              val (_, p) = if (traced) phase(tag, opSpan, "plan") {
                df.queryExecution.executedPlan
                add("plan.nodes", df.queryExecution.optimizedPlan
                  .collectWithSubqueries { case n => n }.size)
              } else ((), 0.0)
              val (rows, x) = phase(tag, opSpan, "exec")(df.collect())
              add("construct.s", c); add("plan.s", p); add("exec.s", x)
              result = Some((rows, df.schema))
            case None =>
              val (_, x) = phase(tag, opSpan, "exec")(op.run.get(spark))
              add("exec.s", x)
          }
          Right(())
        } catch { case NonFatal(e) => Left(errText(e)) }
        val secs = (System.nanoTime() - start) / 1e9
        val cpu = cpuSince(cpu0)
        sc.setLocalProperty(OpKey, null)
        sc.setLocalProperty(PhaseKey, null)
        // the first round's gate results go to parquet for the checks;
        // later rounds must reproduce them
        result.foreach { case (rows, schema) =>
          if (round == 0) {
            firstRows(op.name) = rows
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$out/gates/${op.name}")
          } else if (firstRows.get(op.name).exists(!sameRows(_, rows)))
            mismatched += op.name
        }
        if (traced && counting) {
          counters("cache.peak_storage_mb") =
            math.max(counters("cache.peak_storage_mb"), storageMb())
          add(s"layer.${op.layer}.s", secs)
        }
        spark.catalog.clearCache()
        if (traced) add("cache.residue_rdds", math.max(0, persisted() - residue0))
        tracer.close(opSpan)
        results += OpResult(op.name, round, secs, cpu, res.left.toOption)
      }

    runRound(0)
    counting = true
    val t0 = System.nanoTime()
    var round = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (round <= MinTimedRounds || elapsed < seconds) {
      runRound(round)
      round += 1
    }
    tracer.close(runSpan)

    listener.foreach { l =>
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc)
      val layerOf = ops.map(o => o.name -> o.layer).toMap
      // the warm-up round's jobs, and jobs no operation started, stay out
      val timed = l.byKey.asScala.toSeq.flatMap { case (k, a) =>
        val Array(tag, ph) = k.split('|')
        tag.split('#') match {
          case Array(op, r) if r != "0" => Some((op, ph, a))
          case _ => None
        }
      }
      timed.foreach { case (op, ph, a) =>
        val pre = ph match {
          case "table_load" => "core.table_load"
          case "construct" => "construct"
          case "plan" => "plan"
          case _ => "exec"
        }
        add(s"$pre.jobs", a.jobs.get.toDouble)
        layerOf.get(op).foreach(ly => add(s"layer.$ly.jobs", a.jobs.get.toDouble))
        if (pre == "exec") {
          add("exec.stages", a.stages.get.toDouble)
          add("exec.tasks", a.tasks.get.toDouble)
          add("exec.task_s", a.runMs.get / 1e3)
          add("exec.cpu_s", a.cpuNs.get / 1e9)
          add("exec.gc_s", a.gcMs.get / 1e3)
          add("exec.shuffle_read_mb", a.shufRead.get / 1048576.0)
          add("exec.shuffle_write_mb", a.shufWrite.get / 1048576.0)
          add("exec.spill_mb", a.spill.get / 1048576.0)
          add("exec.input_mb", a.input.get / 1048576.0)
          add("exec.output_mb", a.output.get / 1048576.0)
          counters("exec.peak_mem_mb") =
            math.max(counters("exec.peak_mem_mb"), a.peakMem.get / 1048576.0)
        }
      }
      val spans = tracer.spans.asScala.toSeq.sortBy(_.id).map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${jstr(s.name)},""" +
          s""""start_ns":${s.start - runSpan.start},"end_ns":${s.end - runSpan.start}}"""
      }
      write(s"$out/trace.json", spans.mkString("[\n", ",\n", "\n]\n"))
    }
    spark.stop()

    val opsJson = results.map { r =>
      s"""{"name":${jstr(r.name)},"round":${r.round},"seconds":${jnum(r.seconds)},""" +
        s""""cpu":${jnum(r.cpu)},""" +
        s""""error":${r.error.map(jstr).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    val countersJson = counters.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }
      .mkString("{", ",", "}")
    write(s"$out/result.json",
      s"""{"workload":${jstr(workload)},"setup_s":[${setups.map(jnum).mkString(",")}],""" +
        s""""rounds":$round,""" +
        s""""unstable":[${mismatched.toSeq.sorted.map(jstr).mkString(",")}],""" +
        s""""ops":$opsJson,"counters":$countersJson}""")
  }

  /** Same multiset of rows (order-insensitive). */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)
}
