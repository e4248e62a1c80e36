package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every main (Bench, Verify, the tools) and
  * the test session build through [[Session.create]], so the session
  * Verify checks is the session Bench times: same cores, same shuffle
  * width, same caches, same log level. A caller adds only what is its own
  * (a warehouse dir, extensions) through `customize`; runtime SQL confs an
  * experiment needs are set afterwards with `spark.conf.set`.
  *
  * Idempotent: `getOrCreate` hands back the live session when one exists.
  */
object Session {

  /** Local cores: SPARK_GRAFT_CPUS, else the JVM's available processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  val master: String = s"local[$cpus]"

  /** Every conf the factory sets besides the master. */
  val settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Bound per-execution status tracking: the default retains 1000 full
    // SQL-plan graphs in driver memory, which degraded the r1 bench tail.
    "spark.sql.ui.retainedExecutions" -> "1",
    "spark.ui.retainedJobs" -> "10",
    "spark.ui.retainedStages" -> "10",
    "spark.ui.retainedTasks" -> "100",
    // Bench's round-robin passes cycle every query plan through the JVM
    // before a query runs again; the default 100-entry codegen class cache
    // (and 100-entry subexpression cache) thrash at that working set, so
    // every pass would repay full Janino compilation. Size them to hold the
    // whole suite (static confs — must be set before session creation).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.subexpressionElimination.cache.maxEntries" -> "10000")

  def create(customize: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val base = settings.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }
    val spark = customize(base).getOrCreate()
    // ERROR, not WARN: every unpartitioned window in src/main is an
    // audited bounded frame (WindowAuditSpec pins the whitelist), so the
    // per-pass "WindowExec: No Partition Defined" warnings are pure noise
    // — ~600 of them buried real regressions in the r6 bench tail.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
