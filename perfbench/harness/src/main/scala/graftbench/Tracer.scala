package graftbench

import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import Main.{Clock, obj}

/** Collects the per-layer record from outside the engine:
  *  - a `SparkListener` for jobs, stages and task metrics, each job
  *    attributed to a module by the first engine frame of its
  *    `callSite.long`;
  *  - a `QueryExecutionListener` for per-action plan phases and scan
  *    metrics;
  *  - a `StreamingQueryListener` for micro-batch phases and state;
  *  - a stack sampler on the client thread, whose samples let the Python
  *    side attribute the driver's time between jobs to modules.
  * Everything is kept in memory and written once, by [[finish]].
  */
final class Tracer(spark: SparkSession, client: Thread, plan: Main.Plan) {
  private final class Job(val id: Int, val t0: Double, val module: String) {
    @volatile var t1: Double = -1
    var stages, tasks, failed = 0
    val m = new Array[Double](Tracer.metricNames.size)
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val actions = new ConcurrentLinkedQueue[JMap[String, Any]]()
  private val batches = new ConcurrentLinkedQueue[JMap[String, Any]]()
  private val lifetimes = new ConcurrentLinkedQueue[JMap[String, Any]]()
  private val started = new ConcurrentHashMap[String, Double]()
  private val samples = new ConcurrentLinkedQueue[Array[Any]]()
  @volatile private var sampling = true
  private var cacheMb = 0.0
  private val filesSeen = scala.collection.mutable.Set[String]()
  private val lake = plan.str("workload") == "lake_mixed"
  private val t0 = Clock.now()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties).flatMap(p =>
        Option(p.getProperty("callSite.long"))).getOrElse("")
      val j = new Job(e.jobId, Clock.ofWallMs(e.time),
        Tracer.module(site.split("\n").toSeq))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = Clock.ofWallMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1)))
        .foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.taskInfo.failed) j.failed += 1
          val tm = e.taskMetrics
          if (tm != null) {
            val v = Seq[Double](
              tm.executorRunTime / 1e3, tm.executorCpuTime / 1e9,
              tm.jvmGCTime / 1e3, tm.peakExecutionMemory / 1048576.0,
              tm.inputMetrics.bytesRead / 1048576.0,
              tm.inputMetrics.recordsRead.toDouble,
              tm.outputMetrics.bytesWritten / 1048576.0,
              tm.shuffleWriteMetrics.bytesWritten / 1048576.0,
              tm.shuffleReadMetrics.totalBytesRead / 1048576.0,
              tm.shuffleReadMetrics.fetchWaitTime / 1e3,
              (tm.memoryBytesSpilled + tm.diskBytesSpilled) / 1048576.0)
            for (i <- v.indices)
              j.m(i) = if (i == 3) math.max(j.m(i), v(i)) else j.m(i) + v(i)
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      actions.add(Tracer.action(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      actions.add(Tracer.action(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.put(e.runId.toString, Clock.now())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = obj(p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.doubleValue() }: _*)
      val st = p.stateOperators
      batches.add(obj("durations_ms" -> d,
        "state_rows" -> st.map(_.numRowsTotal).sum.toDouble,
        "state_mem_mb" -> st.map(_.memoryUsedBytes).sum / 1048576.0,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum.toDouble))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val t = Clock.now()
      lifetimes.add(obj("t0" -> started.getOrDefault(e.runId.toString, t), "t1" -> t))
    }
  }

  private val sampler = new Thread(() => {
    while (sampling) {
      val t = Clock.now()
      samples.add(Array(t, Tracer.module(client.getStackTrace.map(_.toString).toSeq)))
      Thread.sleep(5)
    }
  }, "graftbench-sampler")

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    classic.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Bookkeeping after each traced op: cached data held, and for the lake
    * every data file the tables have gained. */
  def afterOp(): Unit = {
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(r => (r.memSize + r.diskSize) / 1048576.0).sum
    cacheMb = math.max(cacheMb, cached)
    if (lake) filesSeen ++= dataFiles()
  }

  private def dataFiles(): Seq[String] =
    Seq("li", "ord").flatMap { t =>
      val d = Paths.get(plan.str("catalog_root"), t, "data")
      if (!Files.isDirectory(d)) Nil
      else Files.list(d).iterator().asScala.map(p => s"$t/${p.getFileName}").toSeq
    }

  private def lakeState(): JMap[String, Any] = {
    def one(sql: String): Double =
      try spark.sql(sql).head().get(0) match {
        case n: Number => n.doubleValue()
        case null => 0.0
      } catch { case NonFatal(_) => -1.0 }
    val live = Seq("li", "ord").map(t =>
      one(s"SELECT count(*) FROM lake.default.`$t$$files`")).sum
    obj("li_version" -> one("SELECT max(version) FROM lake.default.`li$history`"),
      "ord_version" -> one("SELECT max(version) FROM lake.default.`ord$history`"),
      "live_files" -> live, "files_on_disk" -> dataFiles().size.toDouble)
  }

  private val before: JMap[String, Any] =
    if (lake) { val s = lakeState(); filesSeen ++= dataFiles(); s } else null
  private val filesBefore = filesSeen.size

  def finish(): JMap[String, Any] = {
    val t1 = Clock.now()
    sampling = false
    sampler.join()
    // the listener bus is asynchronous: wait for the traced jobs to end
    val deadline = System.nanoTime() + 10e9.toLong
    while (jobs.values().asScala.exists(_.t1 < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(jobListener)
    classic.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val jobList = new JList[Any]()
    jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      val r = obj("id" -> j.id, "t0" -> j.t0, "t1" -> j.t1, "module" -> j.module,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_failures" -> j.failed)
      Tracer.metricNames.zip(j.m).foreach { case (k, v) => r.put(k, v) }
      jobList.add(r)
    }
    val res = obj("t0" -> t0, "t1" -> t1, "jobs" -> jobList,
      "actions" -> new JList[Any](actions),
      "batches" -> new JList[Any](batches),
      "stream_lifetimes" -> new JList[Any](lifetimes),
      "samples" -> new JList[Any](samples.asScala.toSeq
        .map(a => new JList[Any](a.toSeq.asJava): Any).asJava),
      "cache_mb" -> cacheMb)
    if (lake) {
      res.put("lake_before", before)
      res.put("lake_after", lakeState())
      res.put("files_written", (filesSeen.size - filesBefore).toDouble)
    }
    res
  }
}

object Tracer {
  val metricNames: Seq[String] = Seq("task_s", "task_cpu_s", "gc_s",
    "peak_exec_mem_mb", "bytes_read_mb", "rows_read", "bytes_written_mb",
    "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb")

  /** The module a stack is working for: the innermost engine frame decides
    * (`graft.<package>`, with Spark's own MLlib counted as `ml`); a stack
    * with no engine frame is Spark's, or the streaming engine's. */
  def module(frames: Seq[String]): String = {
    // "app//graft.ml.Forecast$.fit(Forecast.scala:42)" -> "graft.ml.Forecast$.fit"
    val methods = frames.map { f =>
      val m = f.trim.stripPrefix("at ").takeWhile(_ != '(')
      m.substring(m.lastIndexOf('/') + 1)
    }
    val hit = methods.collectFirst {
      case f if f.startsWith("org.apache.spark.ml.") => "ml"
      case f if f.startsWith("graft.") =>
        f.split('.')(1) match {
          case pkg if pkg.headOption.exists(_.isLower) => pkg
          case _ => "graft"
        }
    }
    hit.getOrElse(
      if (frames.exists(_.contains("org.apache.spark.sql.execution.streaming")))
        "streaming"
      else "spark")
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Per-action record: plan phase times and what the scans touched. */
  def action(qe: QueryExecution): JMap[String, Any] = {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    var files, scanMs, scans = 0.0
    try nodes(qe.executedPlan).foreach { n =>
      n match {
        case b: BatchScanExec => files += b.inputPartitions.size; scans += 1
        case _ =>
      }
      n.metrics.foreach { case (k, m) =>
        if (k == "numFiles") { files += m.value; scans += 1 }
        if (k == "scanTime" || k == "metadataTime") scanMs += m.value
      }
    } catch { case NonFatal(_) => () }
    obj("analysis_ms" -> ms("analysis"), "optimizer_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "files_read" -> files,
      "scan_ms" -> scanMs, "scans" -> scans)
  }
}
