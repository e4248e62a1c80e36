package graft

/** Job budgets of the panel's job-chain queries.
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
}
