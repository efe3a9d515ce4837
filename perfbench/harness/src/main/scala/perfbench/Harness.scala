package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchJoins, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.{Catalog, Q}

/** One JVM of the load-wave benchmark.
  *
  * Runs a workload's catalog queries one at a time, in the order given,
  * on `local[N]` with N = available processors (a closed loop with one
  * client). Each query is three timed calls: `Q.fn` (build), forcing
  * the executed plan (plan) and `collect()` (execute), which
  * materializes every output column. The first pass runs in a fresh
  * JVM; a warm-up pass and measured warm passes follow until
  * `--seconds` have passed. With `--trace 1`, every second measured pass
  * registers Spark's public listeners and drains the listener bus
  * between queries; the others stay untraced, so the run measures its
  * own overhead.
  *
  * Output: a JSON record (`--out`) with every pass, query, span, task,
  * job, stage, plan and streaming record; `run.py` turns it into
  * metrics. The first pass's results are written as parquet under
  * `--outputs` for the oracle check; every later pass must produce the
  * same row digest as the first.
  *
  * Usage: Harness --inputs DIR --queries q1,q2 --seconds S --trace 0|1
  *        --out FILE --outputs DIR
  */
object Harness {

  /** Every timestamp in the record: epoch microseconds, read from one
    * monotonic clock anchored once, so span and task times line up. */
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  @volatile private var probeSink: Long = 0L

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val inputs = opt("inputs")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    require(Option(new java.io.File(inputs).list()).exists(_.exists(_.endsWith(".parquet"))),
      s"no input tables in $inputs")
    println("READY")
    System.out.flush()

    val byName = Catalog.all.map(q => q.name -> q).toMap
    val queries = opt("queries").split(",").toSeq.map(byName)
    val seconds = opt("seconds").toDouble
    val traceMode = opt("trace") == "1"
    val run = new Run(spark, inputs, queries, opt("outputs"), probeJoins = traceMode)

    run.pass(0, traced = false)
    val jvmAfterFirst = jvmCounters()
    // a warm-up pass, then at least three measured passes (two traced
    // and two untraced with --trace 1)
    val minWarm = if (traceMode) 5 else 4
    val t0 = System.nanoTime()
    var i = 1
    while (i <= minWarm || (System.nanoTime() - t0) / 1e9 < seconds) {
      run.pass(i, traced = traceMode && i % 2 == 0)
      i += 1
    }
    val record = Map(
      "cpus" -> cpus,
      "conf" -> spark.conf.getAll,
      "oracle" -> queries.flatMap(q => q.oracle.map(q.name -> _)).toMap,
      "jvm_after_first" -> jvmAfterFirst,
      "passes" -> run.passes,
      "spans" -> run.spans,
      "tasks" -> run.listener.tasks,
      "jobs" -> run.listener.jobs,
      "stages" -> run.listener.stages,
      "plans" -> run.planListener.plans,
      "streaming" -> run.streamListener.progress)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(record))
  }

  def jvmCounters(): Map[String, Double] = Map(
    "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Wall over thread-CPU time of a fixed single-thread spin: about 1.0
    * on an unthrottled host, higher when the host deschedules the VM. */
  def stretch(): Double = {
    val mx = ManagementFactory.getThreadMXBean
    val c0 = mx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L ^ t0
    var i = 0
    while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    probeSink = x
    val cpu = (mx.getCurrentThreadCpuTime - c0).toDouble
    if (cpu > 0) (System.nanoTime() - t0) / cpu else -1.0
  }

  /** Order-insensitive digest of a result: its rows as text, sorted. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The passes of one JVM, their spans and the listeners of traced passes.
  * With `probeJoins`, the first pass also counts the candidates and
  * matches of each binned interval join, outside the timed spans. */
final class Run(spark: SparkSession, inputs: String, queries: Seq[Q], outputs: String,
                probeJoins: Boolean) {
  private val sc = spark.sparkContext
  val passes = ArrayBuffer[Map[String, Any]]()
  val spans = ArrayBuffer[Map[String, Any]]()
  val listener = new TaskListener
  val planListener = new PlanListener
  val streamListener = new StreamListener
  private val firstDigest = mutable.Map[String, String]()

  private def span(id: Int, parent: Int, kind: String, name: String, pass: Int,
                   start: Long, end: Long): Unit =
    spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "pass" -> pass, "start_us" -> start, "end_us" -> end)

  def pass(index: Int, traced: Boolean): Unit = {
    val la = Harness.loadavg()
    val st = Harness.stretch()
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(planListener)
      spark.streams.addListener(streamListener)
    }
    val passId = spans.size
    spans += Map.empty // placeholder, filled when the pass ends
    val p0 = Harness.nowUs
    val records = queries.map(q => query(index, q, traced, passId))
    val p1 = Harness.nowUs
    spans(passId) = Map("id" -> passId, "parent" -> -1, "kind" -> "pass",
      "name" -> s"pass$index", "pass" -> index, "start_us" -> p0, "end_us" -> p1)
    if (traced) {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    passes += Map("index" -> index, "traced" -> traced, "loadavg" -> la, "stretch" -> st,
      "live_heap_mb" -> heap / 1048576.0, "queries" -> records)
  }

  private def clearBlocks(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def query(index: Int, q: Q, traced: Boolean, passId: Int): Map[String, Any] = {
    val label = s"pb|$index|${q.name}"
    listener.current = label
    planListener.current = label
    streamListener.current = label
    val qId = spans.size
    spans += Map.empty
    val cpu0 = Harness.cpuNs()
    val gc0 = Harness.gcMs()
    val q0 = Harness.nowUs
    var error: Option[String] = None
    var rows: Array[org.apache.spark.sql.Row] = null
    var df: org.apache.spark.sql.DataFrame = null
    def phase[T](kind: String)(body: => T): T = {
      sc.setJobGroup(s"$label|$kind", q.name, interruptOnCancel = false)
      val s = Harness.nowUs
      try body finally span(spans.size, qId, kind, q.name, index, s, Harness.nowUs)
    }
    try {
      df = phase("build")(q.fn(spark, inputs))
      phase("plan")(df.queryExecution.executedPlan)
      rows = phase("execute")(df.collect())
    } catch { case e: Throwable =>
      error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      System.err.println(s"[perfbench] ${q.name} pass $index FAILED: ${error.get}")
    }
    val q1 = Harness.nowUs
    val cpu = (Harness.cpuNs() - cpu0) / 1e9
    val gc = (Harness.gcMs() - gc0) / 1e3
    spans(qId) = Map("id" -> qId, "parent" -> passId, "kind" -> "query", "name" -> q.name,
      "pass" -> index, "start_us" -> q0, "end_us" -> q1)
    sc.clearJobGroup()
    // everything below is outside the timed spans
    val persisted = sc.getPersistentRDDs.size
    var status = if (error.isEmpty) "ok" else "error"
    var binnedJoins = Seq.empty[(Long, Long)]
    if (rows != null) {
      val d = Harness.digest(rows)
      if (index == 0) {
        firstDigest(q.name) = d
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outputs/${q.name}")
        if (probeJoins) binnedJoins = PerfbenchJoins.binnedJoinCounts(df)
      } else if (!firstDigest.get(q.name).contains(d)) status = "differs_from_first_pass"
    }
    clearBlocks()
    if (traced) PerfbenchBus.drain(sc)
    Map("name" -> q.name, "status" -> status, "error" -> error.getOrElse(""),
      "rows" -> Option(rows).map(_.length).getOrElse(-1), "cpu_s" -> cpu, "gc_s" -> gc,
      "persisted_blocks" -> persisted,
      "binned_joins" -> binnedJoins.map { case (c, m) => Seq(c, m) })
  }
}

/** Task, stage and job records of traced passes. A job is attributed to
  * the benchmark job group it ran under; jobs started under another
  * group (a streaming query's own) go to the query running at the time,
  * which is exact because the bus is drained between queries. */
final class TaskListener extends SparkListener {
  @volatile var current: String = ""
  private val stageKey = mutable.Map[Int, String]()
  val tasks = ArrayBuffer[Map[String, Any]]()
  val jobs = ArrayBuffer[Map[String, Any]]()
  val stages = ArrayBuffer[Map[String, Any]]()

  private def keyOf(group: Option[String]): String =
    group.filter(_.startsWith("pb|")).getOrElse(s"$current|other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = keyOf(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
    e.stageIds.foreach(s => stageKey(s) = key)
    jobs += Map("key" -> key, "job" -> e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Map("key" -> stageKey.getOrElse(i.stageId, s"$current|other"),
      "stage" -> i.stageId, "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += Map(
      "key" -> stageKey.getOrElse(e.stageId, s"$current|other"),
      "stage" -> e.stageId, "attempt" -> e.stageAttemptId,
      "launch_ms" -> info.launchTime, "finish_ms" -> info.finishTime,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Node metrics of every executed plan of traced passes: the query's
  * own action and every eager job or write its build ran. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var current: String = ""
  val plans = ArrayBuffer[Map[String, Any]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += (summarize(qe.executedPlan) + ("key" -> current)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
    case c: CommandResultExec => nodes(c.commandPhysicalPlan) :+ c
    case n => Seq(n)
  }.flatten

  /** A node metric in base units: seconds for timings, else the value. */
  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map { m =>
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => m.value.toDouble
      }
    }.getOrElse(0.0)

  def summarize(plan: SparkPlan): Map[String, Any] = {
    val s = mutable.Map[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = s(k) = s(k) + v
    nodes(plan).foreach { p =>
      val cls = p.getClass.getSimpleName
      cls match {
        case "ShuffleExchangeExec" => add("exchanges", 1)
        case "BroadcastHashJoinExec" => add("broadcast_joins", 1)
        case "BroadcastNestedLoopJoinExec" | "CartesianProductExec" => add("nested_loop_joins", 1)
        case "FileSourceScanExec" | "BatchScanExec" =>
          add("scan_rows", metric(p, "numOutputRows"))
          add("scan_bytes", metric(p, "filesSize"))
          add("scan_s", metric(p, "scanTime"))
        case "DataWritingCommandExec" =>
          add("write_rows", metric(p, "numOutputRows"))
          add("write_files", metric(p, "numFiles"))
          add("write_bytes", metric(p, "numOutputBytes"))
          add("commit_s", metric(p, "taskCommitTime") + metric(p, "jobCommitTime"))
        case "SortExec" => add("sort_s", metric(p, "sortTime"))
        case "HashAggregateExec" | "ObjectHashAggregateExec" | "SortAggregateExec" =>
          add("agg_s", metric(p, "aggTime"))
        case "WholeStageCodegenExec" => add("codegen_s", metric(p, "pipelineTime"))
        case _ =>
      }
      if (cls.endsWith("JoinExec") || cls == "CartesianProductExec")
        add("join_rows", metric(p, "numOutputRows"))
    }
    s.toMap
  }
}

/** Micro-batch progress of the streaming queries of traced passes. */
final class StreamListener extends StreamingQueryListener {
  @volatile var current: String = ""
  val progress = ArrayBuffer[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    progress += Map("key" -> current,
      "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_store_instances" -> p.stateOperators.map(_.numStateStoreInstances).sum)
  }
}
