package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

/** Spill-resilience proof for the widest shuffle consumers.
  *
  * At sf0.1 every declared query fits executor memory; at 100× it will not,
  * and the difference between an engine and a demo is whether the wide
  * operators DEGRADE (spill to disk, same results) or DIE (OOM). The
  * operator buffers involved expose runtime-settable spill thresholds
  * (`spark.sql.windowExec.buffer.spill.threshold`,
  * `spark.sql.sortMergeJoinExec.buffer.spill.threshold`), so these tests
  * force spilling at tiny row counts — the same code path a memory-starved
  * 100 TB executor takes — and assert, via TaskMetrics, that (a) spills
  * really happened and (b) the results are hash-identical to the unspilled
  * run. This is the mechanism AND the result contract, not a guess.
  */
class SpillSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Run `body` with session confs set, restoring previous values after. */
  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Total bytes spilled (memory+disk) across all tasks triggered by body. */
  private def spilled(body: => Unit): Long = {
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) total.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are async: wait until the counter stops moving
      var last = -1L
      var spins = 0
      while (total.get() != last && spins < 40) {
        last = total.get(); Thread.sleep(250); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    total.get()
  }

  /** Order-insensitive content hash of a result. */
  private def resultHash(df: DataFrame): String = {
    val rows = df.collect().map(_.mkString("")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("window queries (q09/q23) spill under pressure with identical results") {
    val clean09 = resultHash(SparkEntry.queries("q09_window_dedup")(spark, sf))
    val clean23 = resultHash(SparkEntry.queries("q23_window_running_sum")(spark, sf))
    var forced09: String = null
    var forced23: String = null
    val bytes = spilled {
      withConfs(
        "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
        "spark.sql.windowExec.buffer.spill.threshold" -> "16") {
        forced09 = resultHash(SparkEntry.queries("q09_window_dedup")(spark, sf))
        forced23 = resultHash(SparkEntry.queries("q23_window_running_sum")(spark, sf))
      }
    }
    assert(bytes > 0, "expected the window buffers to spill at threshold 16")
    assert(forced09 == clean09, "q09 results changed under spilling")
    assert(forced23 == clean23, "q23 results changed under spilling")
  }

  test("fact-fact sort-merge join spills under pressure with identical results") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    // The 100 TB join shape: orders ⋈ lineitem on orderkey (up to 7 match
    // rows buffered per key). Kill broadcast so it runs sort-merge, then
    // starve the match buffer below the per-key match count.
    def join(): DataFrame = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .join(Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("q"))
    val clean = resultHash(join())
    var forced: String = null
    val bytes = spilled {
      withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "2",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "2") {
        forced = resultHash(join())
      }
    }
    assert(bytes > 0, "expected the sort-merge match buffer to spill at threshold 2")
    assert(forced == clean, "join results changed under spilling")
  }

  test("q74's widest stage (gram self-join) survives forced spilling intact") {
    val q = "q74_ngram_jaccard"
    val clean = resultHash(SparkEntry.queries(q)(spark, sf))
    var forced: String = null
    // Window spill threshold 64, not 16: every spill reader pins a 1 MiB
    // buffer until its task ends (a task-completion listener holds it), and
    // at 16 rows per file q74's doc-keyed windows (up to 95 rows per doc)
    // write ~1,360 files and keep ~2,900 readers (3 GB) live at once, which
    // runs the test heap out. At 64 the 181 docs above 64 rows still spill.
    val bytes = spilled {
      withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
        "spark.sql.windowExec.buffer.spill.threshold" -> "64",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "4",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "4") {
        forced = resultHash(SparkEntry.queries(q)(spark, sf))
      }
    }
    assert(bytes > 0, "expected q74's window/join buffers to spill")
    assert(forced == clean, "q74 results changed under spilling")
  }
}
