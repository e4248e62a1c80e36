package graft

/** Job budgets of the panel's job-chain queries and of a `star_etl` day.
  *
  * At sf0.001 these queries are bound by Spark jobs, not by data: a job
  * costs tens of milliseconds of driver and scheduling time, whatever it
  * reads. A budget pins each query's job count, building and collecting
  * included, so a rewrite that grows a query's job chain back fails here
  * instead of only in the benchmark.
  */
class JobBudgetSpec extends SparkTestBase {

  /** Spark jobs run while building and collecting `q` on sf0.001. */
  private def jobs(q: String): Int = {
    spark.catalog.clearCache()
    val n = jobsDuring { SparkEntry.queries(q)(spark, sf0001).collect(); () }
    info(s"$q: $n jobs")
    n
  }

  test("q188 greedy set cover: at most 12 jobs") {
    assert(jobs("q188_greedy_set_cover") <= 12)
  }

  test("q128 golden record: at most 14 jobs") {
    assert(jobs("q128_golden_record") <= 14)
  }

  test("a star_etl day: merge at most 3 jobs, delete 1, compact of the result 0") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    import graft.sources.TxnTable
    // one dir of string-keyed sales, as the fact table is after a compaction
    val dir = java.nio.file.Files.createTempDirectory("graft-budget").toString
    TxnTable.append((1 to 40).map(i => (f"S$i%03d", i % 5, i.toLong)).toDF("sale", "client", "amt")
      .coalesce(1), dir)
    val src = Seq(("S002", 1, 200L), ("S010", 2, 1000L), ("S900", 3, 9L))
      .toDF("sale", "client", "amt")
    val set = Map("client" -> col("_src_client"), "amt" -> col("_src_amt"))
    val merge = jobsDuring(TxnTable.mergeInto(spark, dir, src, Seq("sale"),
      Seq(TxnTable.MatchedUpdate(lit(true), set))): Unit)
    val delete = jobsDuring(TxnTable.deleteWhere(spark, dir, col("client") === 1): Unit)
    val base = TxnTable.latestVersion(dir).get
    var v = -1L
    val compact = jobsDuring { v = TxnTable.compact(spark, dir, targetFiles = 4) }
    info(s"mergeInto $merge, deleteWhere $delete, compact $compact jobs")
    assert(merge <= 3 && delete == 1 && compact == 0, s"$merge, $delete, $compact jobs")
    assert(v == base && TxnTable.latestVersion(dir).contains(base), "compact committed")
    assert(TxnTable.read(spark, dir).count() == 32L)
  }
}
