package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** The benchmark's JVM side: one closed-loop client that runs the
  * registered graft queries back to back through their public
  * functions, times each query's three layers, and writes every raw
  * measurement to `<out>/result.json` for `run.py` to reduce.
  *
  * Per query: construct = `SparkEntry.queries(name)(spark, dir)` (the
  * `graft.operators` functions, where the fixpoint loops run), plan =
  * `queryExecution.executedPlan` (Catalyst), execute =
  * `queryExecution.toRdd.count()` (scheduler plus executor tasks).
  *
  * Pass 0 is the cold pass; `--passes` warm passes follow. With
  * `--trace 1` a Spark listener records job and stage
  * spans under the phase that launched them, and warm passes alternate
  * traced and untraced so the run measures its own tracing overhead.
  *
  * Usage: Main --data DIR --plan FILE --out DIR --passes K --trace 0|1 --cpus N
  *        Main --dump-oracle FILE
  */
object Main {
  private val SpanProp = "perfbench.span"

  final class Span(val id: Long, val parent: Long, val kind: String,
                   val name: String, val pass: Int, val start: Long) {
    var end: Long = -1L
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
      "kind" -> kind, "name" -> name, "pass" -> pass, "start_ns" -> start,
      "end_ns" -> end, "attrs" -> attrs.toMap)
  }

  /** Spans of one run, kept in memory and written out when it ends. */
  final class Spans {
    private val ids = new AtomicLong(0)
    val all = new ConcurrentLinkedQueue[Span]()
    def open(kind: String, name: String, parent: Long, pass: Int,
             start: Long = System.nanoTime()): Span = {
      val s = new Span(ids.incrementAndGet(), parent, kind, name, pass, start)
      all.add(s)
      s
    }
  }

  /** Counts log4j ERROR events against the phase span that was open. */
  final class ErrorCounter extends AbstractAppender(
      "perfbench-errors", null, null, true, Array.empty) {
    @volatile var current: Long = -1L
    val counts = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) counts.merge(current, 1, _ + _)
  }

  /** Job and stage spans from Spark's public listener events. Event
    * times are epoch milliseconds; they are mapped onto this JVM's
    * nanoTime clock through one anchor taken at construction.
    */
  final class Tracer(spans: Spans) extends SparkListener {
    private val anchorNano = System.nanoTime()
    private val anchorEpochNs = System.currentTimeMillis() * 1000000L
    def toNs(epochMs: Long): Long = epochMs * 1000000L - anchorEpochNs + anchorNano

    @volatile var pass: Int = 0
    private val jobs = mutable.HashMap.empty[Int, Span]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val stages = mutable.HashMap.empty[(Int, Int), Span]
    val unattributed = new AtomicLong(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      if (parent < 0) unattributed.incrementAndGet()
      val s = spans.open("job", e.jobId.toString, parent, pass, toNs(e.time))
      s.attrs("stages") = e.stageIds.length
      jobs(e.jobId) = s
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach { s =>
      s.end = toNs(e.time)
      s.attrs("ok") = e.jobResult == JobSucceeded
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val parent = stageJob.get(i.stageId).flatMap(jobs.get).map(_.id).getOrElse(-1L)
      val s = spans.open("stage", i.stageId.toString, parent, pass,
        i.submissionTime.map(toNs).getOrElse(System.nanoTime()))
      Seq("tasks", "task_failures", "task_run_ms", "task_cpu_ns", "gc_ms",
        "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
        .foreach(k => s.attrs(k) = 0L)
      stages((i.stageId, i.attemptNumber())) = s
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.end = i.completionTime.map(toNs).getOrElse(System.nanoTime())
        i.failureReason.foreach(r => s.attrs("failure") = r.take(200))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        def add(k: String, v: Long): Unit = s.attrs(k) = s.attrs(k).asInstanceOf[Long] + v
        add("tasks", 1)
        if (e.reason != org.apache.spark.Success) add("task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("task_run_ms", m.executorRunTime)
          add("task_cpu_ns", m.executorCpuTime)
          add("gc_ms", m.jvmGCTime)
          add("input_bytes", m.inputMetrics.bytesRead)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Shape of the final (post-AQE) physical plan, subqueries included. */
  private def planShape(root: SparkPlan): Map[String, Int] = {
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        nodes += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "codegen_stages" -> nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  /** Operator module of every registered query, from each group's own
    * public `queries` map. */
  private val modules: Map[String, String] = Seq(
    "Analytics" -> graft.operators.Analytics.queries,
    "Registry" -> graft.operators.Registry.queries,
    "Audit" -> graft.operators.Audit.queries,
    "Analysis" -> graft.operators.Analysis.queries,
    "Compat" -> graft.operators.Compat.queries,
    "FormatCompat" -> graft.operators.FormatCompat.queries,
    "Intelligence" -> graft.operators.Intelligence.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Pipeline" -> graft.operators.Pipeline.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries,
    "Multimodal" -> graft.operators.Multimodal.queries,
    "Streaming" -> graft.operators.Streaming.queries,
    "Temporal" -> graft.operators.Temporal.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** cpu line of /proc/stat: user nice system idle iowait irq softirq steal (ticks). */
  private def procStat(): Seq[Long] = scala.util.Try(
    Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      .split("\\s+").drop(1).take(8).map(_.toLong).toSeq
  ).getOrElse(Seq.fill(8)(0L))

  /** utime + stime of this process (ticks). */
  private def selfTicks(): Long = scala.util.Try {
    val s = Files.readString(Paths.get("/proc/self/stat"))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong
  }.getOrElse(0L)

  private def loadavg(): String = scala.util.Try(
    Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("")

  private def peakRssMb(): Double = scala.util.Try(
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  ).getOrElse(-1.0)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def write(path: String, value: Any): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (argv.contains("--dump-oracle")) {
      write(argv(argv.indexOf("--dump-oracle") + 1),
        Map("modules" -> modules, "oracle" -> graft.SparkEntry.oracleSql))
      return
    }
    val procStart = ProcessHandle.current().info().startInstant()
      .map[Long](i => i.toEpochMilli).orElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val dataDir = args("data")
    val outDir = args("out")
    val cpus = args("cpus")

    // The session confs of graft.Bench, frozen here so that a change
    // to the repository's session setup shows as a benchmark change.
    val confs = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      // Keep every file the run writes inside its run directory.
      "spark.local.dir" -> s"$outDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$outDir/spark-warehouse")
    val t0 = System.nanoTime()
    val spark = confs.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val trace = args.get("trace").contains("1")
    val spans = new Spans
    val tracer = new Tracer(spans)
    val errors = new ErrorCounter
    if (trace) {
      errors.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.addAppender(errors, Level.ERROR, null)
      ctx.updateLoggers()
      sc.addSparkListener(tracer)
    }
    val t1 = System.nanoTime()
    val setupSpan = spans.open("setup", "schema", -1L, -1, t1)
    sc.setLocalProperty(SpanProp, setupSpan.id.toString)
    errors.current = setupSpan.id
    // A workload's data directory holds only the tables its queries read.
    Seq[(String, (SparkSession, String) => DataFrame)](
      "region" -> graft.Tables.region, "nation" -> graft.Tables.nation,
      "customer" -> graft.Tables.customer, "supplier" -> graft.Tables.supplier,
      "part" -> graft.Tables.part, "orders" -> graft.Tables.orders,
      "lineitem" -> graft.Tables.lineitem, "events" -> graft.Tables.events,
      "documents" -> graft.Tables.documents, "embeddings" -> graft.Tables.embeddings
    ).foreach { case (name, load) =>
      if (Files.exists(Paths.get(s"$dataDir/$name.parquet"))) load(spark, dataDir)
    }
    val t2 = System.nanoTime()
    setupSpan.end = t2
    val setup = Map(
      "session_start_s" -> (t1 - t0) / 1e9,
      "schema_s" -> (t2 - t1) / 1e9,
      "setup_s" -> (System.currentTimeMillis() - procStart) / 1e3)

    val result = mutable.LinkedHashMap[String, Any](
      "setup" -> setup,
      "nproc" -> cpus.toInt,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_confs" -> spark.conf.getAll)

    val passes = Files.readAllLines(Paths.get(args("plan"))).asScala.toSeq
      .map(_.trim.split("\\s+").toSeq).filter(_.exists(_.nonEmpty))
    val warm = args("passes").toInt
    val queries = graft.SparkEntry.queries

    // The last DataFrame each query built; the output check writes it.
    val built = mutable.HashMap.empty[String, DataFrame]

    def runQuery(q: String, passSpan: Span, shape: Boolean): Unit = {
      val qs = spans.open("query", q, passSpan.id, passSpan.pass)
      qs.attrs("module") = modules.getOrElse(q, "")
      def phase[T](name: String)(body: => T): T = {
        val ps = spans.open(name, q, qs.id, passSpan.pass)
        sc.setLocalProperty(SpanProp, ps.id.toString)
        sc.setJobGroup(s"$q/$name", s"pass ${passSpan.pass}")
        errors.current = ps.id
        val c0 = compiles()
        try body finally {
          ps.end = System.nanoTime()
          ps.attrs("compiles") = compiles() - c0
        }
      }
      try {
        val df = phase("construct")(queries(q)(spark, dataDir))
        built(q) = df
        val qe = phase("plan") { val qe = df.queryExecution; qe.executedPlan; qe }
        phase("execute")(qe.toRdd.count())
        if (shape) qs.attrs ++= planShape(qe.executedPlan)
      } catch {
        case e: Throwable =>
          qs.attrs("error") = (e.getClass.getSimpleName + ": " + e.getMessage).take(300)
      }
      qs.end = System.nanoTime()
      sc.clearJobGroup()
      spark.catalog.clearCache()
    }

    // The listener is attached for a traced pass only; the bus is
    // drained before it is detached so no event of the pass is lost.
    def detach(): Unit = {
      org.apache.spark.sql.graftshim.GraftShim.flushListeners(spark)
      sc.removeSparkListener(tracer)
    }

    def runPass(i: Int, traced: Boolean): Span = {
      tracer.pass = i
      if (traced) sc.addSparkListener(tracer)
      val ps = spans.open("pass", i.toString, -1L, i)
      ps.attrs("traced") = traced
      val cpu0 = cpuBean.getProcessCpuTime
      val c0 = compiles()
      passes(i % passes.length).foreach(q => runQuery(q, ps, traced))
      ps.end = System.nanoTime()
      ps.attrs("cpu_s") = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      ps.attrs("compiles") = compiles() - c0
      ps.attrs("compile_ms_mean") = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      if (traced) detach()
      ps
    }

    val load0 = loadavg()
    val stat0 = procStat()
    val self0 = selfTicks()
    // Pass 0 is the cold pass (traced with the listener already
    // attached in a traced run); `--passes` warm passes follow, each run
    // to the end so every query weighs the same in each figure. A traced
    // run alternates traced and untraced warm passes.
    if (trace) detach()
    runPass(0, trace)
    val warmStart = System.nanoTime()
    (1 to warm).foreach(i => runPass(i, trace && i % 2 == 1))
    val windowS = (System.nanoTime() - warmStart) / 1e9
    val stat1 = procStat()
    val self1 = selfTicks()
    val load1 = loadavg()
    val rss = peakRssMb()

    // The output check runs after the timed window: the DataFrame each
    // query last built is executed once more and written as parquet for
    // run.py to hash, so a construction loop is not run again.
    sc.setLocalProperty(SpanProp, null)
    val checkStart = System.nanoTime()
    val check = passes.flatten.distinct.sorted.map { q =>
      sc.setJobGroup(s"$q/check", "check")
      val status = try {
        built(q).coalesce(1).write.mode("overwrite").parquet(s"$outDir/check/$q")
        "ok"
      } catch {
        case e: Throwable => (e.getClass.getSimpleName + ": " + e.getMessage).take(300)
      }
      spark.catalog.clearCache()
      q -> status
    }.toMap
    sc.clearJobGroup()
    val checkS = (System.nanoTime() - checkStart) / 1e9

    def d(k: Int) = (stat1(k) - stat0(k)) / 100.0
    val busy = Seq(0, 1, 2, 5, 6).map(d).sum
    result ++= Seq(
      "host" -> Map(
        "loadavg_start" -> load0, "loadavg_end" -> load1,
        "steal_s" -> d(7),
        "other_cpu_s" -> (busy - (self1 - self0) / 100.0),
        "window_s" -> windowS),
      "peak_rss_mb" -> rss,
      "check" -> check,
      "check_s" -> checkS,
      "unattributed_jobs" -> tracer.unattributed.get(),
      "spans" -> spans.all.asScala.toSeq.map { s =>
        val n = errors.counts.getOrDefault(s.id, 0)
        if (n > 0) s.attrs("log_errors") = n
        s.toMap
      })
    spark.stop()
    write(s"$outDir/result.json", result)
  }
}
