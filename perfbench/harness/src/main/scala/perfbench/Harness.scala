package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark driver over the engine's public surface.
  *
  * Usage: `Harness <config file>`, a `key=value` file written by
  * `perfbench/run.py`. Modes:
  *  - `oracles`: writes `{query: oracle SQL}` for the named queries.
  *  - `run`: sets the session up, then runs one pass of the given
  *    queries, one at a time, timing `QueryDef.run` (build) and the
  *    final `count()` (drain). Each result is written as parquet
  *    outside the timed region for the oracle check. With `trace=1` it
  *    also attaches Spark's listeners and a stack sampler and keeps
  *    their raw records in memory.
  *
  * Everything is written to `<out>/result.json` at exit. All derived
  * numbers (layer tables, self time, driver gap) are computed by the
  * Python side from these raw records.
  */
object Harness {

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-ms resolution; comparable
    * with Spark's listener timestamps. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val conf = readConf(args(0))
    val out = Paths.get(conf("out"))
    Files.createDirectories(out)
    val result = conf("mode") match {
      case "oracles" => oracles(conf("queries").split(",").toSeq)
      case "run" => new Run(conf).execute()
      case m => sys.error(s"unknown mode $m")
    }
    Files.write(out.resolve("result.json"), Json(result).getBytes(UTF_8))
    // streaming and pool threads of the engine are not all daemons
    sys.exit(0)
  }

  private def readConf(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(l => l.contains("=") && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  private def oracles(names: Seq[String]): Map[String, Any] = {
    val sql = graft.SparkEntry.oracleSql
    val known = graft.SparkEntry.registry.map(_.name).toSet
    Map(
      "oracles" -> names.filter(sql.contains).map(n => n -> sql(n)).toMap,
      "unknown" -> names.filterNot(known))
  }

  /** Collection time of every JVM garbage collector so far. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU time of every thread of this JVM so far. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Innermost `graft.*` frame of a stack, else its top frame. The
    * module mapping itself lives in `perfbench/metrics.py`. */
  def signature(stack: Array[StackTraceElement]): String =
    stack.find(_.getClassName.startsWith("graft."))
      .orElse(stack.headOption)
      .map(_.getClassName).getOrElse("")

  /** One benchmark run in this JVM. */
  final class Run(conf: Map[String, String]) {
    private val fixture = conf("fixture")
    private val cores = conf("cores").toInt
    private val out = Paths.get(conf("out"))
    private val trace = conf.getOrElse("trace", "0") == "1"
    private val check = conf.getOrElse("check", "1") == "1"
    private val order: Seq[String] = conf("queries").split(",").toSeq

    private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private def span(name: String, kind: String, parent: Long, qid: String,
        t0: Double, t1: Double): Long = {
      val id = spans.size + 1L
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "kind" -> kind, "qid" -> qid, "start" -> t0, "end" -> t1)
      id
    }
    private def close(id: Long, t1: Double): Unit =
      spans(id.toInt - 1) = spans(id.toInt - 1) + ("end" -> t1)

    private def newSession(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", out.resolve("tmp").toString)
      // the engine's production settings, as graft.Bench sets them
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()

    /** Session start plus the `Tables.load(...).count()` warm-up. */
    private def setUp(): (SparkSession, Double, Map[String, Double]) = {
      val t0 = now()
      val spark = newSession()
      spark.sparkContext.setLogLevel("ERROR")
      val session = (now() - t0) / 1e3
      spark.range(1000).selectExpr("sum(id)").collect()
      val loads = graft.Tables.all.map { n =>
        val t = now()
        graft.Tables.load(spark, fixture, n).count()
        n -> (now() - t) / 1e3
      }.toMap
      (spark, session, loads)
    }

    /** The same inter-query hygiene as graft.Bench, outside timing. */
    private def dropDeadState(spark: SparkSession): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
    }

    def execute(): Map[String, Any] = {
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
      val (spark, session, loads) = setUp()
      val setup = Map("setup_s" -> (now() - jvmStart) / 1e3,
        "session_start_s" -> session, "tables_load_s" -> loads)
      val registry = graft.SparkEntry.queries
      val rec = if (trace) Some(new Recorder(spark)) else None
      val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
      val loopStart = now()
      val wl = span(conf("workload"), "workload", 0, "", loopStart, 0)
      val pass = span("pass", "pass", wl, "", loopStart, 0)
      order.foreach { name =>
        rec.foreach(_.current = name)
        val io0 = ProcIo.snapshot()
        val gc0 = gcMs()
        val cpu0 = cpuNs()
        val t0 = now()
        var df: DataFrame = null
        var error: Option[String] = None
        var tb = t0
        try {
          df = registry(name)(spark, fixture)
          tb = now()
          df.count()
        } catch {
          case e: Throwable =>
            error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
        val t1 = now()
        val io = ProcIo.delta(io0, ProcIo.snapshot())
        val gc = gcMs() - gc0
        val cpu = (cpuNs() - cpu0) / 1e9
        rec.foreach(_.current = "")
        val q = span(name, "query", pass, name, t0, t1)
        span("build", "build", q, name, t0, tb)
        if (error.isEmpty) span("drain", "drain", q, name, tb, t1)
        var checkError: Option[String] = None
        val output = out.resolve("outputs").resolve(name)
        if (check && error.isEmpty) {
          val c0 = now()
          try df.write.mode("overwrite").parquet(output.toString)
          catch {
            case e: Throwable =>
              checkError = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
          }
          span("check", "check", pass, name, c0, now())
        }
        queries += Map("name" -> name, "qid" -> name,
          "start" -> t0, "build_end" -> tb, "end" -> t1,
          "error" -> error.orNull, "check_error" -> checkError.orNull,
          "output" -> (if (check && error.isEmpty && checkError.isEmpty)
            output.toString else null),
          "io" -> io, "gc_ms" -> gc, "cpu_s" -> cpu)
        dropDeadState(spark)
      }
      val loopEnd = now()
      close(pass, loopEnd)
      close(wl, loopEnd)
      val traced = rec.map(_.finish()).getOrElse(Map.empty)
      spark.stop()
      Map(
        "cores" -> cores, "fixture" -> fixture, "trace" -> trace,
        "setup" -> setup, "queries" -> queries.toSeq,
        "loop_start" -> loopStart,
        "loop_end" -> loopEnd, "peak_rss_mb" -> ProcStatus.vmHwmMb(),
        "spans" -> spans.toSeq) ++ traced
    }
  }

  /** Read and write system calls of this JVM (`/proc/self/io`): every
    * file the engine, Spark and the JVM read or write, parquet, shuffle,
    * spill and index files alike, whatever API reaches them. */
  object ProcIo {
    private val keys = Map("rchar" -> "bytes_read", "wchar" -> "bytes_written",
      "syscr" -> "read_ops", "syscw" -> "write_ops")
    def snapshot(): Map[String, Long] =
      try {
        Files.readAllLines(Paths.get("/proc/self/io")).asScala.toSeq.flatMap { l =>
          val kv = l.split(":\\s*")
          keys.get(kv(0)).map(_ -> kv(1).trim.toLong)
        }.toMap
      } catch { case _: java.io.IOException => Map.empty }
    def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
  }

  object ProcStatus {
    def vmHwmMb(): Double =
      try {
        Files.readAllLines(Paths.get("/proc/self/status")).asScala
          .find(_.startsWith("VmHWM:"))
          .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      } catch { case _: java.io.IOException => -1.0 }
  }

  /** Listeners, counters and the stack sampler of a traced run. */
  final class Recorder(spark: SparkSession) {
    @volatile var current: String = ""
    private val sc = spark.sparkContext

    private val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
    private val stages = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
    private val stageTasks =
      new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
    private val execSites = new ConcurrentHashMap[String, String]()
    private val execs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Map[String, Any]]())
    private val streamEvents = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Map[String, Any]]())

    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
        // the result stage carries the job's long call site
        val site = e.stageInfos.maxByOption(_.stageId).map(_.details).orNull
        jobs.put(e.jobId, mutable.Map("id" -> e.jobId, "start" -> e.time,
          "stages" -> e.stageIds, "site" -> site,
          "description" -> prop("spark.job.description"),
          "execution" -> prop("spark.sql.execution.id"),
          "stream_query" -> prop("sql.streaming.queryId")))
        e.stageInfos.foreach(s => stages.putIfAbsent(s.stageId,
          mutable.Map("id" -> s.stageId, "job" -> e.jobId)))
      }
      // jobs that Spark starts on its own threads (broadcasts, subqueries)
      // carry no engine frame; their SQL execution's call site does
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId.toString, s.details)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { j =>
          j("end") = e.time
          j("failed") = e.jobResult != JobSucceeded
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = stages.computeIfAbsent(s.stageId,
          _ => mutable.Map("id" -> s.stageId))
        m ++= Seq("name" -> s.name, "site" -> s.details,
          "tasks" -> s.numTasks,
          "submit" -> s.submissionTime.getOrElse(0L),
          "complete" -> s.completionTime.getOrElse(0L),
          "failed" -> s.failureReason.isDefined)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val agg = stageTasks.computeIfAbsent(e.stageId,
          _ => mutable.Map.empty[String, Double].withDefaultValue(0.0))
        val info = e.taskInfo
        val m = Option(e.taskMetrics)
        agg.synchronized {
          agg("tasks") += 1
          if (!info.successful) agg("failed_tasks") += 1
          m.foreach { t =>
            val run = t.executorRunTime.toDouble
            val deser = t.executorDeserializeTime.toDouble
            val ser = t.resultSerializationTime.toDouble
            val getting =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
              else 0L
            val delay = math.max(0.0,
              (info.finishTime - info.launchTime) - run - deser - ser - getting)
            agg("task_ms") += run
            agg("task_cpu_ms") += t.executorCpuTime / 1e6
            agg("task_wait_ms") += delay + deser
            agg("gc_ms") += t.jvmGCTime
            agg("shuffle_read_bytes") +=
              t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead
            agg("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
            agg("spill_bytes") += t.memoryBytesSpilled + t.diskBytesSpilled
          }
        }
      }
    }

    /** Every node that ran for a plan: into adaptive plans, their query
      * stages, command results and subqueries; a reused exchange or
      * subquery is counted where it first ran. */
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }

    private val execListener = new QueryExecutionListener {
      private def record(qe: QueryExecution, failed: Boolean): Unit = {
        val phases = qe.tracker.phases
        val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
        def sum(ps: Seq[SparkPlan], metric: String): Long =
          ps.flatMap(_.metrics.get(metric)).map(_.value).sum
        val ran = nodes(qe.executedPlan)
        val scans = ran.collect { case s: FileSourceScanExec => s }
        // write commands carry the writer's statistics; scans have no
        // `numOutputBytes`
        val writes = ran.filter(_.metrics.contains("numOutputBytes"))
        execs.add(Map("start" -> start,
          "plan_ms" -> phases.values.map(_.durationMs).sum,
          "scan_bytes" -> sum(scans, "filesSize"),
          "scan_rows" -> sum(scans, "numOutputRows"),
          "files_written" -> sum(writes, "numFiles"),
          "failed" -> failed))
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(qe, failed = false)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe, failed = true)
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        streamEvents.add(Map("event" -> "started", "id" -> e.id.toString,
          "run" -> e.runId.toString,
          "time" -> java.time.Instant.parse(e.timestamp).toEpochMilli,
          "qid" -> current))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        streamEvents.add(Map("event" -> "progress", "id" -> p.id.toString,
          "run" -> p.runId.toString, "batch" -> p.batchId,
          "time" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "input_rows" -> p.numInputRows,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum))
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        streamEvents.add(Map("event" -> "terminated", "id" -> e.id.toString,
          "run" -> e.runId.toString, "time" -> System.currentTimeMillis(),
          "failed" -> e.exception.isDefined))
    }

    private val samples = new ConcurrentHashMap[(String, String, String), Long]()
    // every stack dump stops the JVM at a safepoint, so sample sparingly
    private val sampleMs = 50L
    @volatile private var sampling = true
    @volatile private var heapPeak = 0L
    private val sampler = new Thread("perfbench-sampler") {
      setDaemon(true)
      // native waits that a thread reports as RUNNABLE
      private val idleTops = Seq("sun.nio.ch.", "io.netty.", "java.net.",
        "java.lang.ref.Reference", "java.lang.Process", "java.lang.Object",
        "jdk.internal.misc.Unsafe", "jdk.internal.misc.Signal")
      override def run(): Unit = while (sampling) {
        val qid = current
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          if (t.getState == Thread.State.RUNNABLE && st.nonEmpty && (t ne this) &&
              !idleTops.exists(st.head.getClassName.startsWith)) {
            val side =
              if (t.getName.startsWith("Executor task launch worker")) "task"
              else "driver"
            samples.merge((qid, side, signature(st)), 1L, (a: Long, b: Long) => a + b)
          }
        }
        heapPeak = math.max(heapPeak,
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
        Thread.sleep(sampleMs)
      }
    }

    sc.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
    sampler.start()

    def finish(): Map[String, Any] = {
      sampling = false
      sampler.join(5000)
      org.apache.spark.perfbench.BusAccess.drain(sc)
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(execListener)
      sc.removeSparkListener(jobListener)
      val stageRecs = stages.asScala.toSeq.sortBy(_._1).map { case (id, m) =>
        m.toMap ++ Option(stageTasks.get(id)).map(_.toMap).getOrElse(Map.empty)
      }
      Map(
        "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map { case (_, j) =>
          j.toMap + ("execution_site" ->
            Option(j("execution")).map(x => execSites.get(x.toString)).orNull)
        },
        "stages" -> stageRecs,
        "executions" -> execs.asScala.toSeq,
        "stream_events" -> streamEvents.asScala.toSeq,
        "samples" -> samples.asScala.toSeq.map { case ((q, side, s), n) =>
          Map("qid" -> q, "side" -> side, "frame" -> s, "count" -> n) },
        "sample_ms" -> sampleMs,
        "driver_heap_peak_mb" -> heapPeak / 1048576.0)
    }
  }
}

/** Minimal JSON writer for the harness' records. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }
  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => str(sb, other.toString)
  }
}
