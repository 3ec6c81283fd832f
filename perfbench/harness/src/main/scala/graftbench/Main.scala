package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** One benchmark run in one JVM, driven by a plan file the Python side
  * writes (`run.py`). The harness is a recorder: it sets the session up
  * `setups` times, then runs passes of ops in a closed loop with one client
  * thread until `seconds` have passed, and writes every timing it took to
  * `result.json`. All statistics are computed on the Python side.
  *
  * It calls the engine only through public entry points:
  * `SparkEntry.queries(name)(spark, dir)` into a `noop` sink, and
  * `spark.sql` against a `GraftCatalog` named `lake`.
  *
  * Usage: graftbench.Main <plan.json>
  */
object Main {
  private val json = new ObjectMapper()

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** One clock for everything: seconds since the harness started. */
  object Clock {
    private val baseNs = System.nanoTime()
    private val baseMs = System.currentTimeMillis()
    def now(): Double = (System.nanoTime() - baseNs) / 1e9
    def ofWallMs(ms: Long): Double = (ms - baseMs) / 1e3
  }

  final case class Plan(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def ops(k: String): Seq[JsonNode] = node.get(k).elements().asScala.toSeq
    def passes: Seq[Seq[JsonNode]] =
      node.get("passes").elements().asScala.map(_.elements().asScala.toSeq).toSeq
  }

  def session(plan: Plan): SparkSession = {
    val cpus = plan.int("cpus").toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.str("local_dir"))
      .config("spark.sql.warehouse.dir", plan.str("scratch") + "/warehouse")
      .config("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.lake.root", plan.str("catalog_root"))
      .getOrCreate()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))

  /** Spark reads naive parquet timestamps as TIMESTAMP_NTZ; the lake tables
    * hold session-zoned timestamps, as the engine's own loaders produce. */
  private def zoned(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }

  /** The lake workload's table load: `li` (copy-on-write) and `ord`
    * (merge-on-read deletes), each created empty and filled by one INSERT
    * of four files, so that every later `optimize` has files to compact
    * and publishes a commit, as the op log's version numbers assume. */
  def loadLake(spark: SparkSession, plan: Plan): Unit = {
    deleteTree(Paths.get(plan.str("catalog_root")))
    val data = plan.str("data")
    zoned(spark.read.parquet(s"$data/li.parquet")).createOrReplaceTempView("src_li")
    zoned(spark.read.parquet(s"$data/orders.parquet"))
      .createOrReplaceTempView("src_ord")
    for ((t, src, props) <- Seq(("li", "src_li", ""),
        ("ord", "src_ord", " TBLPROPERTIES ('delete.mode' = 'mor')"))) {
      spark.sql(s"CREATE TABLE lake.default.$t " +
        s"(${spark.table(src).schema.toDDL})$props")
      spark.sql(s"INSERT INTO lake.default.$t SELECT /*+ REPARTITION(4) */ * FROM $src")
    }
  }

  /** Runs one op; returns the rows it read when the op asks for a check. */
  def runOp(spark: SparkSession, plan: Plan, op: JsonNode,
      checkDir: Option[String]): Seq[String] =
    if (op.has("spark")) {
      val rows = spark.sql(op.get("spark").asText()).collect()
      if (op.path("check").asBoolean(false)) rows.map(_.json).toSeq else Nil
    } else {
      val name = op.get("name").asText()
      val df = graft.SparkEntry.queries(name)(spark, plan.str("data"))
      checkDir match {
        case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        case None => df.write.format("noop").mode("overwrite").save()
      }
      Nil
    }

  def timedOp(spark: SparkSession, plan: Plan, op: JsonNode, pass: Int,
      checkDir: Option[String], tracer: Option[Tracer]): JMap[String, Any] = {
    val t0 = Clock.now()
    val (ok, err, rows) =
      try { val r = runOp(spark, plan, op, checkDir); (true, "", r) }
      catch { case NonFatal(e) =>
        (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), Nil) }
    val t1 = Clock.now()
    tracer.foreach(_.afterOp())
    val r = obj("pass" -> pass, "t0" -> t0, "t1" -> t1, "ok" -> ok,
      "kind" -> op.path("kind").asText("read"),
      "type" -> op.path("type").asText(op.path("name").asText()))
    if (op.has("i")) r.put("i", op.get("i").asInt())
    if (!ok) r.put("error", err)
    if (rows.nonEmpty || op.path("check").asBoolean(false))
      r.put("rows", new JList[String](rows.asJava))
    r
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val plan = Plan(json.readTree(Paths.get(args(0)).toFile))
    val out = Paths.get(plan.str("out"))
    Files.createDirectories(out)
    val lake = plan.str("workload") == "lake_mixed"
    val ops = new JList[Any]()
    val setups = new JList[Any]()
    val passes = new JList[Any]()

    if (!lake) {
      val names = plan.node.get("oracle").elements().asScala.map(_.asText()).toSeq
      val oracle = obj(names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)): _*)
      json.writeValue(out.resolve("oracle.json").toFile, oracle)
    }

    // SET-UP, several times: session start, table load, one warm-up pass.
    // The first set-up also writes the registry outputs the oracle checks.
    var spark: SparkSession = null
    for (rep <- 1 to plan.int("setups")) {
      if (spark != null) { spark.stop(); spark = null }
      val t0 = Clock.now()
      spark = session(plan)
      spark.sparkContext.setLogLevel("ERROR")
      if (lake) loadLake(spark, plan)
      val check = if (rep == 1 && !lake) Some(out.resolve("check").toString) else None
      plan.ops("warmup").foreach { op =>
        val r = timedOp(spark, plan, op, -rep, check, None)
        if (rep == plan.int("setups") || !r.get("ok").asInstanceOf[Boolean]) ops.add(r)
      }
      setups.add(Clock.now() - t0)
    }

    // MEASUREMENT: whole passes while time is left; with tracing on, the
    // first half runs untraced and the second traced, so one run reports
    // its own trace overhead.
    val seconds = plan.int("seconds").toDouble
    val traced = plan.int("trace") == 1
    val start = Clock.now()
    var tracer: Option[Tracer] = None
    val allPasses = plan.passes
    var p = 0
    while (p < allPasses.size && (p == 0 || Clock.now() - start < seconds ||
        (traced && tracer.isEmpty))) {
      if (traced && tracer.isEmpty && (Clock.now() - start >= seconds / 2) && p > 0) {
        tracer = Some(new Tracer(spark, Thread.currentThread(), plan))
        tracer.get.start()
      }
      val ps = Clock.now()
      allPasses(p).foreach(op => ops.add(timedOp(spark, plan, op, p, None, tracer)))
      passes.add(obj("pass" -> p, "t0" -> ps, "t1" -> Clock.now(),
        "traced" -> tracer.isDefined))
      p += 1
    }
    val end = Clock.now()
    val traceRec = tracer.map(_.finish()).orNull

    // Final table state and its plain-parquet size, for the reference model
    // and space amplification (outside the timed window).
    val extra = obj()
    if (lake) for (t <- Seq("li", "ord")) {
      try spark.table(s"lake.default.$t").write.mode("overwrite")
        .parquet(out.resolve(s"final_$t").toString)
      catch { case NonFatal(e) => extra.put(s"final_${t}_error", e.getMessage) }
    }
    val res = obj(
      "spark_version" -> spark.version,
      "setups" -> setups, "passes" -> passes, "ops" -> ops,
      "measure_t0" -> start, "measure_t1" -> end,
      "peak_rss_mb" -> vmHwmMb(), "extra" -> extra, "trace" -> traceRec)
    json.writerWithDefaultPrettyPrinter().writeValue(out.resolve("result.json").toFile, res)

    // bound the shutdown: streaming state-store maintenance can hang stop()
    spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    val watchdog = new Thread(() => { Thread.sleep(30000); Runtime.getRuntime.halt(0) })
    watchdog.setDaemon(true)
    watchdog.start()
    spark.stop()
  }
}
