package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.etl.FineGourmet
import graft.sources.{Tables, TxnTable}

/** The benchmark's JVM side: one closed-loop client driving one workload
  * over a `local[cores]` session, recording every operation's latency and,
  * when tracing, spans around the calls into the engine's modules.
  *
  * Invoked by perfbench/run.py with `--key value` pairs:
  *  - `--mode queries --data <sfDir> --order <file>`: the first line of the
  *    order file is the untimed pass that dumps each query's result for the
  *    oracle check and warms the JVM; each further line is one timed pass;
  *  - `--mode etl --data <generated input dir> --cycle n`: initial star load,
  *    then the daily batches listed in `<data>/batches/plan.tsv`, timed in
  *    whole cycles of n days;
  *  - `--mode selftest`: the job-group attribution check on a toy session.
  * Common: `--out <run dir> --seconds <timed seconds> --trace 0|1 --warmups n`
  * (untimed passes, or days, run after the verify pass or the initial load).
  * Everything it writes goes under the run dir; the record is `run.json`.
  */
object Harness {

  /** When the JVM entered main: set-up is timed from here. */
  val mainStart: Long = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opt("out"))
    out.mkdirs()
    val run = new Run(opt, out)
    try opt("mode") match {
      case "queries"  => run.queries()
      case "etl"      => run.etl()
      case "selftest" => run.selftest()
    } finally run.stop()
  }

  /** Session settings shared with graft.Bench, so the numbers compare with
    * its runs. The warehouse and local directories are moved under the run
    * dir so nothing is written outside it. */
  def settings(cores: Int, out: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "1",
    "spark.ui.retainedJobs" -> "10",
    "spark.ui.retainedStages" -> "10",
    "spark.ui.retainedTasks" -> "100",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.subexpressionElimination.cache.maxEntries" -> "10000",
    "spark.sql.warehouse.dir" -> new File(out, "warehouse").getAbsolutePath,
    "spark.local.dir" -> new File(out, "spark-local").getAbsolutePath)

  def newSession(conf: Seq[(String, String)]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** JSON text of maps, sequences, strings, numbers, booleans and null. */
  def json(v: Any): String = v match {
    case null | None       => "null"
    case Some(x)           => json(x)
    case s: String         => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float          => json(f.toDouble)
    case n: Number         => n.toString
    case b: Boolean        => b.toString
    case d: java.sql.Date  => json(d.toString)
    case m: Map[_, _]      => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_]    => s.map(json).mkString("[", ",", "]")
    case a: Array[_]       => json(a.toSeq)
    case r: org.apache.spark.sql.Row => json(r.toSeq)
    case x                 => json(x.toString)
  }
}

/** One benchmark run: its session, tracer and record. */
final class Run(opt: Map[String, String], out: File) {
  import Harness._

  private val cores = Runtime.getRuntime.availableProcessors
  private val conf = settings(cores, out)
  private val seconds = opt.getOrElse("seconds", "10").toDouble
  private val traced = opt.getOrElse("trace", "0") == "1"
  private val warmups = opt.getOrElse("warmups", "1").toInt
  private val cycle = opt.getOrElse("cycle", "1").toInt
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  private val record = mutable.LinkedHashMap[String, Any]()
  private var setupSec = 0.0
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val host0 = Host.sample()

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def startSession(): Unit = {
    spark = newSession(conf)
    tracer = new Tracer(spark)
  }

  /** One client operation: times `body`, records its latency, and counts
    * it failed (with the message) if it throws. Traced operations run with
    * the listeners attached; the others run without them. Operations of
    * pass 0 and below are warm-up: part of set-up, not of the timed loop. */
  private def op(kind: String, name: String, pass: Int, trace: Boolean)
                (body: Int => Unit): Boolean = {
    val id = ops.size
    if (trace) tracer.enable() else tracer.disable()
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try { tracer.span(kind, id)(body(id)); true }
    catch { case e: Throwable =>
      errors += s"$kind $name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      false
    }
    ops += Map("id" -> id, "kind" -> kind, "name" -> name, "pass" -> pass,
      "ms" -> ms(t0), "ok" -> ok, "traced" -> (trace && tracer.enabled), "warmup" -> (pass <= 0))
    ok
  }

  /** In a traced run every other pass (or cycle of days) runs untraced, so
    * the record holds both and the tracing overhead is their difference. */
  private def tracePass(pass: Int): Boolean =
    traced && pass > 0 && (pass - 1) / cycle % 2 == 0

  // ---- queries_* ------------------------------------------------------------

  def queries(): Unit = {
    val sfDir = opt("data")
    val passes = Files.readAllLines(Paths.get(opt("order"))).asScala.toSeq
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val verifyDir = new File(out, "verify")
    verifyDir.mkdirs()
    val oracle = SparkEntry.oracleSql
    Files.writeString(new File(verifyDir, "oracle_sql.json").toPath,
      json(passes.head.flatMap(q => oracle.get(q).map(q -> _)).toMap))

    // clearCache first, as graft.Bench does: a query that persists
    // internal tables must not leave them to the next one
    def execute(name: String, id: Int, write: DataFrame => Unit): Unit = {
      spark.catalog.clearCache()
      val df = tracer.span("queries.build", id)(SparkEntry.queries(name)(spark, sfDir))
      tracer.span("query.execute", id)(write(df))
    }

    // set-up: session, the verify pass (cold), then `warmups` untimed passes
    val t0 = System.nanoTime()
    startSession()
    passes.head.foreach { q =>
      attempted += 1
      try execute(q, -1, _.coalesce(1).write.mode("overwrite")
        .parquet(new File(verifyDir, q).getPath))
      catch { case e: Throwable =>
        errors += s"verify $q: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    def runPass(pass: Int, order: Seq[String]): Unit = order.foreach { q =>
      op("query", q, pass, tracePass(pass)) { id =>
        execute(q, id, _.write.format("noop").mode("overwrite").save())
      }
    }
    passes.slice(1, 1 + warmups).zipWithIndex.foreach { case (order, i) => runPass(-i, order) }
    setupSec = ms(t0) / 1e3

    val timedStart = System.nanoTime()
    val deadline = timedStart + (seconds * 1e9).toLong
    // whole passes only, so every query weighs the same in the percentiles
    var pass = 0
    while (System.nanoTime() < deadline && warmups + pass + 1 < passes.size) {
      pass += 1
      runPass(pass, passes(warmups + pass))
    }
    record("timed_s") = ms(timedStart) / 1e3
  }

  // ---- star_etl -------------------------------------------------------------

  private val factSchema = StructType(Seq(
    StructField("Sale_ID", StringType), StructField("Quantity", IntegerType),
    StructField("Price", DoubleType), StructField("Type", StringType),
    StructField("Date", DateType), StructField("FK_Client_ID", IntegerType),
    StructField("FK_Product_ID", StringType), StructField("FK_Store_ID", StringType)))

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  private def fileCount(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(fileCount).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  /** Data directories live in a table's latest snapshot. */
  private def liveDirs(dir: String): Seq[File] =
    TxnTable.latestVersion(dir).map(v => TxnTable.snapshot(dir, v).live).getOrElse(Nil)
      .map(d => new File(new File(dir, "data"), d))

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** The reference's three analytics over the transactional tables; revenue
    * is summed in integer cents so the answer is exact. */
  private def analytic(name: String, id: Int, tables: File): Array[org.apache.spark.sql.Row] = {
    def read(t: String) = tracer.span("txn.read", id)(TxnTable.read(spark, new File(tables, t).getPath))
    val fact = read("Fact_Sales")
    val result = name match {
      case "monthly_by_type" =>
        fact.groupBy(date_format(col("Date"), "yyyy-MM").as("month"), col("Type"))
          .agg(sum(col("Quantity") * cents(col("Price"))).as("revenue_cents"),
            sum(col("Quantity")).cast("long").as("volume"))
          .orderBy("month", "Type")
      case "top_products" =>
        val products = read("Dim_Product").select(col("Product_ID"), col("Name"))
        fact.groupBy(col("FK_Product_ID").as("Product_ID"))
          .agg(sum(col("Quantity") * cents(col("Price"))).as("revenue_cents"))
          .join(products, Seq("Product_ID"), "left")
          .select("Product_ID", "Name", "revenue_cents")
          .orderBy(col("revenue_cents").desc, col("Product_ID")).limit(10)
      case "loyal_clients" =>
        val clients = read("Dim_Client").select(col("Client_ID"), col("Email"))
        fact.filter(col("FK_Client_ID").isNotNull)
          .groupBy(col("FK_Client_ID").as("Client_ID")).agg(count(lit(1)).as("purchases"))
          .join(clients, Seq("Client_ID"), "left")
          .select("Client_ID", "Email", "purchases")
          .orderBy(col("purchases").desc, col("Client_ID")).limit(10)
    }
    tracer.span("analytic.execute", id)(result.collect())
  }

  def etl(): Unit = {
    val in = opt("data")
    val paths = FineGourmet.Paths(
      sfccGlob = s"$in/2024*_sfcc_sales.csv", cegidJson = s"$in/2024_cegid_sales.json",
      productsGlob = s"$in/202[45]_product_reference.csv",
      boutiquesText = s"$in/2025_boutiques.csv")
    val tables = new File(out, "tables")

    /** Initial load: build the star, then overwrite the four tables. */
    def load(dir: File, id: Int): Unit = {
      tracer.span("etl.load", id) {
        val star = tracer.span("etl.build", id)(FineGourmet.buildStar(spark, paths))
        Seq("Dim_Product" -> star.dimProduct, "Dim_Store" -> star.dimStore,
          "Dim_Client" -> star.dimClient, "Fact_Sales" -> star.factSales).foreach { case (t, df) =>
          tracer.span("txn.overwrite", id)(TxnTable.overwrite(df, new File(dir, t).getPath))
        }
      }
    }

    // set-up: session, initial load, then `warmups` untimed days
    val t0 = System.nanoTime()
    startSession()
    if (traced) tracer.enable()
    val t1 = System.nanoTime()
    load(tables, -1)
    record("initial_load_s") = ms(t1) / 1e3

    val plan = Files.readAllLines(Paths.get(in, "batches", "plan.tsv")).asScala.toSeq
      .map(_.split("\t", -1))
    val factDir = new File(tables, "Fact_Sales").getPath
    val answers = mutable.ArrayBuffer.empty[Any]
    val batchStats = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Day `b` of the plan (1-based), recorded as pass `pass`. */
    def day(b: Int, pass: Int): Unit = {
      val Array(file, erase, compact, analyticName) = plan(b - 1)
      val trace = tracePass(pass)
      val before = liveDirs(factDir).toSet
      val ok = op("batch", file, pass, trace) { id =>
        val src = Tables.csv(spark, factSchema, s"$in/batches/$file")
        val set = factSchema.fieldNames.filter(_ != "Sale_ID")
          .map(c => c -> col(s"_src_$c")).toMap
        tracer.span("txn.merge", id)(TxnTable.mergeInto(spark, factDir, src, Seq("Sale_ID"),
          Seq(TxnTable.MatchedUpdate(lit(true), set))))
        if (erase.nonEmpty) tracer.span("txn.delete", id) {
          TxnTable.deleteWhere(spark, factDir, col("FK_Client_ID") === erase.toInt)
          TxnTable.deleteWhere(spark, new File(tables, "Dim_Client").getPath,
            col("Client_ID") === erase.toInt)
        }
        if (compact == "1") tracer.span("txn.compact", id)(TxnTable.compact(spark, factDir, cores))
      }
      val added = liveDirs(factDir).filterNot(before.contains)
      batchStats += Map("batch" -> file, "input_bytes" -> new File(s"$in/batches/$file").length,
        "new_bytes" -> added.map(dirBytes).sum,
        "compacted" -> (compact == "1"))
      if (!ok) { answers += null }
      else {
        var rows: Array[org.apache.spark.sql.Row] = null
        op("analytic", analyticName, pass, trace) { id => rows = analytic(analyticName, id, tables) }
        answers += Option(rows).map(_.toSeq).orNull
      }
    }
    (1 to warmups).foreach(b => day(b, b - warmups))
    setupSec = ms(t0) / 1e3

    val timedStart = System.nanoTime()
    val deadline = timedStart + (seconds * 1e9).toLong
    // whole cycles of days only (a cycle holds one erasure-and-compaction
    // day), so that day's share of the percentiles does not follow the seed
    var b = warmups
    while (System.nanoTime() < deadline && b + cycle <= plan.size) {
      (1 to cycle).foreach { _ => b += 1; day(b, b - warmups) }
    }
    record("timed_s") = ms(timedStart) / 1e3
    record("batches_done") = b
    record("batch_stats") = batchStats.toSeq
    Files.writeString(new File(out, "answers.json").toPath, json(answers.toSeq))

    // final tables for the model check, and storage counters
    val verifyDir = new File(out, "verify")
    Seq("Dim_Product", "Dim_Store", "Dim_Client", "Fact_Sales").foreach { t =>
      TxnTable.read(spark, new File(tables, t).getPath).coalesce(1)
        .write.mode("overwrite").parquet(new File(verifyDir, t).getPath)
    }
    val input = new File(in).listFiles.filter(_.isFile).map(_.length).sum +
      batchStats.map(_("input_bytes").asInstanceOf[Long]).sum
    record("txn") = Map(
      "versions" -> TxnTable.versions(factDir).size,
      "live_files" -> liveDirs(factDir).map(fileCount).sum,
      "table_bytes" -> dirBytes(tables),
      "input_bytes" -> input)
  }

  // ---- selftest -------------------------------------------------------------

  /** Two sibling spans on a toy session, each running a known number of
    * single-stage jobs, plus one job outside any span: the record must
    * attribute the jobs to the right span and the stray one to
    * `unattributed`. */
  def selftest(): Unit = {
    startSession()
    tracer.enable()
    tracer.span("a", 0)(spark.range(0, 1000, 1, 2).collect())
    tracer.span("b", 1) {
      spark.range(0, 1000, 1, 3).collect()
      spark.range(0, 10, 1, 1).collect()
    }
    spark.range(0, 10, 1, 1).collect()
  }

  // ---- record -----------------------------------------------------------------

  def stop(): Unit = {
    if (tracer != null && (traced || opt("mode") == "selftest")) {
      val (spans, unattributed) = tracer.snapshot()
      record("spans") = spans
      record("unattributed") = unattributed
    }
    if (spark != null) stopSession(spark)
    record("setup_s") = setupSec
    record("ops") = ops.toSeq
    record("attempted") = attempted
    record("errors") = errors.toSeq
    record("rss_peak_mb") = Host.rssPeakMb
    record("settings") = conf.toMap ++ Map("cores" -> cores.toString)
    record("host") = Map("start" -> host0, "end" -> Host.sample())
    record("wall_s") = (System.nanoTime() - mainStart) / 1e9
    Files.writeString(new File(out, "run.json").toPath, json(record.toMap))
  }
}

/** Host readings recorded with each run: load average and the cgroup's CPU
  * throttle counters, so a slow run can be told apart from a slow program. */
object Host {
  def sample(): Map[String, Any] = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val thr = Seq("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat").map(Paths.get(_))
      .find(Files.isReadable).map { p =>
        Files.readAllLines(p).asScala.map(_.split("\\s+")).collect {
          case Array(k, v) if k.startsWith("nr_throttled") || k.startsWith("throttled") => k -> v.toLong
        }.toMap
      }.getOrElse(Map.empty)
    Map("loadavg" -> load, "throttle" -> thr)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
