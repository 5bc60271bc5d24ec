package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry, Tables}

/** One benchmark run in one JVM: set-up, a cold pass that writes every
  * result for the oracle compare, then warm reps. It records raw samples
  * and spans only; `run.py` turns them into metrics, so the arithmetic
  * lives (and is tested) in one place.
  *
  * Usage: perfbench.Harness <inputDir> <queries,comma,separated> <seconds>
  *          <trace 0|1> <outDir> <cpus>
  *
  * The query order is the order given. The loop is closed and single
  * threaded: each query is sent after the previous one's sink write ends.
  */
object Harness {

  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** The drift anchor: a fixed single-threaded JVM workload that touches
    * neither Spark nor the library, so no change to either can move it.
    * It sorts a seeded array and digests it, several times, and returns
    * the median seconds of one round.
    */
  def anchor(): Double = {
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      val a = Array.fill(400000) { x = x * 6364136223846793005L + 1442695040888963407L; x }
      java.util.Arrays.sort(a)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = java.nio.ByteBuffer.allocate(a.length * 8)
      a.foreach(buf.putLong)
      var d = buf.array()
      for (_ <- 0 until 8) d = md.digest(d ++ buf.array())
      require(d.length == 32)
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(times.size / 2)
  }

  // ---- tracing state (traced runs only) --------------------------------

  @volatile private var currentTag: String = "setup"

  private final class StageAgg(val tag: String, val submitMs: Long) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var waitMs = 0L; var inBytes = 0L; var inRecs = 0L; var swBytes = 0L
    var srBytes = 0L; var spill = 0L; var outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    var completeMs = -1L
  }

  private final class Tracer extends SparkListener with QueryExecutionListener {
    val jobs = new ConcurrentLinkedQueue[String]()
    val qes = new ConcurrentLinkedQueue[String]()
    val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Long)]()

    private def tagOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("perfbench.tag"))).getOrElse("untagged")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      e.stageInfos.foreach(s => stageTag.putIfAbsent(s.stageId, tag))
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("")
      jobStartMs.put(e.jobId, (tag, phase, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartMs.remove(e.jobId)).foreach { case (tag, phase, start) =>
        jobs.add(s"""{"tag":${Json.str(tag)},"phase":"$phase","start":$start,"end":${e.time}}""")
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      val tag = Option(e.properties).map(tagOf).getOrElse(stageTag.getOrDefault(id, "untagged"))
      val submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stages.put(id * 1000 + e.stageInfo.attemptNumber(), new StageAgg(tag, submit))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId * 1000 + e.stageInfo.attemptNumber()))
        .foreach(_.completeMs = e.stageInfo.completionTime.getOrElse(-1L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.get(e.stageId * 1000 + e.stageAttemptId)
      if (s != null && e.taskMetrics != null) s.synchronized {
        val m = e.taskMetrics
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecs += m.inputMetrics.recordsRead
        s.swBytes += m.shuffleWriteMetrics.bytesWritten
        s.srBytes += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
        s.durations += e.taskInfo.duration
      }
    }

    private def qe(qe: QueryExecution): Unit = {
      def p(k: String) = phase(qe, k)
      qes.add(s"""{"id":${System.identityHashCode(qe)},"analysis":${p("analysis")},""" +
        s""""optimization":${p("optimization")},"planning":${p("planning")}}""")
    }
    override def onSuccess(f: String, e: QueryExecution, d: Long): Unit = qe(e)
    override def onFailure(f: String, e: QueryExecution, x: Exception): Unit = qe(e)

    def stagesJson: String = stages.values.asScala.map { s =>
      val d = s.durations.sorted
      val med = if (d.isEmpty) 0.0 else if (d.size % 2 == 1) d(d.size / 2).toDouble
        else (d(d.size / 2 - 1) + d(d.size / 2)) / 2.0
      s"""{"tag":${Json.str(s.tag)},"submit":${s.submitMs},"complete":${s.completeMs},"tasks":${s.tasks},""" +
        s""""run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"wait_ms":${s.waitMs},""" +
        s""""in_bytes":${s.inBytes},"in_recs":${s.inRecs},"sw_bytes":${s.swBytes},"sr_bytes":${s.srBytes},""" +
        s""""spill_bytes":${s.spill},"out_bytes":${s.outBytes},"max_ms":${if (d.isEmpty) 0 else d.last},"med_ms":$med}"""
    }.mkString("[", ",", "]")
  }

  /** Counts the plan-defect warnings and names the query that was running
    * when each was logged. */
  private final class DefectLog extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-defects", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    val hits = new ConcurrentLinkedQueue[String]()
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      val kind =
        if (Option(e.getLoggerName).exists(_.endsWith("HintErrorLogger"))) "hint_errors"
        else if (msg.contains("No Partition Defined for Window")) "window_no_partition"
        else null
      if (kind != null) hits.add(s"""{"tag":${Json.str(currentTag)},"kind":"$kind"}""")
    }
  }

  private def attach(log: DefectLog): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    log.start()
    ctx.getConfiguration.getRootLogger
      .addAppender(log, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
  }

  /** `[start,end]` epoch ms of one `QueryPlanningTracker` phase, or null. */
  private def phase(qe: QueryExecution, name: String): String =
    qe.tracker.phases.get(name).map(s => s"[${s.startTimeMs},${s.endTimeMs}]").getOrElse("null")

  /** The built DataFrame's own QueryExecution, which Spark analyzes while
    * the frame is built; no action's listener event covers it unless an
    * action ran on that same QueryExecution. `{"id":..,"analysis":..}`. */
  private def built(df: DataFrame): String = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      val qe = d.queryExecution
      s"""{"id":${System.identityHashCode(qe)},"analysis":${phase(qe, "analysis")}}"""
    case _ => "null"
  }

  // ---- JVM counters -----------------------------------------------------

  private def gcTotals(): (Long, Long) = {
    var ms = 0L; var full = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { g =>
      ms += math.max(0L, g.getCollectionTime)
      val n = g.getName
      if (n.contains("Old") || n.contains("MarkSweep") || n.contains("Full"))
        full += math.max(0L, g.getCollectionCount)
    }
    (ms, full)
  }

  private def oldGenMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    .map(_.getUsage.getUsed / 1048576.0).sum

  private def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** (bytes, files) under `dir`. */
  def tree(dir: java.io.File): (Long, Long) =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).foldLeft((0L, 0L)) {
      case ((b, n), f) =>
        if (f.isDirectory) { val (b2, n2) = tree(f); (b + b2, n + n2) }
        else (b + f.length, n + 1)
    }

  // ---- the run ------------------------------------------------------------

  /** Writes `{name: oracle SQL}` for the named queries. */
  private def writeOracles(names: Seq[String], path: String): Unit = {
    val unknown = names.filterNot(SparkEntry.oracleSql.contains)
    require(unknown.isEmpty, s"no oracle for: ${unknown.mkString(",")}")
    java.nio.file.Files.writeString(new java.io.File(path).toPath,
      names.map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}").mkString("{", ",\n", "}\n"))
  }

  def main(args: Array[String]): Unit = {
    val Array(input, queryList, secondsArg, traceArg, outDir, cpus) = args
    val names = queryList.split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
    val stale = Option(storeRoot.list()).map(_.toSeq).getOrElse(Nil)
    require(stale.isEmpty, s"store root $storeRoot is not empty: ${stale.take(5)}")

    val tracer = new Tracer
    val defects = new DefectLog
    if (traced) attach(defects)
    val tS0 = nowMs
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val tS1 = nowMs
    // the same warm-up graft.Bench does before its first query
    Tables.schemas.keys.toSeq.sorted.foreach(t => Tables.load(spark, input, t).count())
    Tables.load(spark, input, "nation").groupBy("n_regionkey")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("n_nationkey").cast("decimal(18,2)")))
      .write.format("noop").mode("overwrite").save()
    val tS2 = nowMs
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val sc = spark.sparkContext
    val samples = mutable.ArrayBuffer.empty[String]

    /** One closed-loop execution, recorded as a sample. */
    def execute(q: String, rep: Int, pass: String, sink: DataFrame => Unit): Unit = {
      // previous query's checkpoint blocks and garbage go outside the
      // timed region, as graft.Bench does
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      val tag = s"$q#$rep#$pass"
      currentTag = tag
      sc.setLocalProperty("perfbench.tag", tag)
      val (c0, ct0) = codegen()
      val (g0, f0) = gcTotals()
      val t0 = nowMs
      var t1 = Double.NaN
      var builtQe = "null"
      var err: String = null
      try {
        sc.setLocalProperty("perfbench.phase", "construct")
        val df = SparkEntry.queries(q)(spark, input)
        t1 = nowMs
        builtQe = built(df)
        sc.setLocalProperty("perfbench.phase", "run")
        sink(df)
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          System.err.println(s"[perfbench] $q rep $rep ($pass) failed: $err")
      }
      val t2 = nowMs
      val (c1, ct1) = codegen()
      val (g1, f1) = gcTotals()
      currentTag = "idle"
      sc.setLocalProperty("perfbench.tag", null)
      samples += s"""{"q":${Json.str(q)},"rep":$rep,"pass":"$pass","start":$t0,""" +
        s""""constructed":${if (t1.isNaN) "null" else t1.toString},"end":$t2,"built":$builtQe,""" +
        s""""ok":${err == null},"error":${if (err == null) "null" else Json.str(err)},""" +
        s""""compiles":${c1 - c0},"compile_ns":${ct1 - ct0},"gc_ms":${g1 - g0},"full_gcs":${f1 - f0}}"""
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    val tReady = nowMs
    val anchorStart = anchor()
    val (sb0, sf0) = tree(storeRoot)
    // the cold pass writes each result to parquet, as the daily job writes
    // its outputs; those files are what the oracle compare reads
    val results = new java.io.File(outDir, "results")
    names.foreach { q =>
      execute(q, 0, "cold", df =>
        df.write.mode("overwrite").parquet(new java.io.File(results, q).getPath))
    }
    val (sb1, sf1) = tree(storeRoot)
    val warmStart = nowMs
    // warm reps run whole cycles through the queries in the given order
    // until the time is up and at least two cycles have run, so every
    // query's median has two samples however slow the host is
    var cycles = 0
    while (cycles < 2 || (nowMs - warmStart) / 1e3 < seconds) {
      cycles += 1
      names.foreach(q => execute(q, cycles, "warm", noop))
    }
    val (sb2, sf2) = tree(storeRoot)
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // one full GC leaves a reading that varies by a third from run to run;
    // after three it settles to within 1%
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    val oldgen = oldGenMb()
    val anchorEnd = anchor()
    sc.setLocalProperty("perfbench.tag", null)
    spark.stop() // drains the listener bus before the spans are written
    writeOracles(names, new java.io.File(outDir, "oracle.json").getPath)

    val out = new StringBuilder
    out ++= s"""{"ready":$tReady,"sessions_start_s":${(tS1 - tS0) / 1e3},"""
    out ++= s""""tables_warm_s":${(tS2 - tS1) / 1e3},"""
    out ++= s""""anchor_s":[$anchorStart,$anchorEnd],"cpus":$cpus,"traced":$traced,"""
    out ++= s""""oldgen_settled_mb":$oldgen,"""
    out ++= s""""store":{"cold_bytes":${sb1 - sb0},"cold_files":${sf1 - sf0},"warm_bytes":${sb2 - sb1},"warm_files":${sf2 - sf1}},"""
    out ++= s""""samples":${samples.mkString("[", ",\n", "]")}"""
    if (traced) {
      out ++= s""","jobs":${tracer.jobs.asScala.mkString("[", ",\n", "]")}"""
      out ++= s""","stages":${tracer.stagesJson}"""
      out ++= s""","qes":${tracer.qes.asScala.mkString("[", ",\n", "]")}"""
      out ++= s""","defects":${defects.hits.asScala.mkString("[", ",\n", "]")}"""
    }
    out ++= "}\n"
    java.nio.file.Files.writeString(new java.io.File(outDir, "raw.json").toPath, out.toString)
  }
}

private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
