package graft

import java.io.File
import java.nio.file.Files

/** Tripwire for session drift: every SparkSession in the engine, its tools
  * and its tests comes from [[Session.create]], so the session Verify
  * checks is the session Bench times. Building a session anywhere else
  * fails here; changing a factory setting fails here until the values
  * below (today's Bench values) are updated on purpose.
  */
class SessionSpec extends SparkTestBase {

  private val expected = Map(
    "spark.sql.shuffle.partitions" -> Session.cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "1",
    "spark.ui.retainedJobs" -> "10",
    "spark.ui.retainedStages" -> "10",
    "spark.ui.retainedTasks" -> "100",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.subexpressionElimination.cache.maxEntries" -> "10000")

  test("graft/Session.scala holds the only session builder under src/") {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val builderCall = "SparkSession\\s*\\.\\s*builder".r
    val found = walk(new File("src")).filter { f =>
      builderCall.findFirstIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).isDefined
    }.map(_.getPath).sorted
    assert(found == Seq("src/main/scala/graft/Session.scala"),
      s"session builders outside graft.Session: $found — build through Session.create")
  }

  test("factory settings are Bench's values") {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(Session.cpus == cores)
    assert(Session.master == s"local[$cores]")
    assert(Session.settings.size == expected.size, "a setting is listed twice")
    assert(Session.settings.toMap == expected)
  }

  test("TestSpark.session carries the factory settings") {
    assert(spark.sparkContext.master == Session.master)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
