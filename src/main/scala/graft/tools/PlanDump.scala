package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round measurement harness (guide §1): for each named
  * declared query, capture `.explain("formatted")` to
  * `<outDir>/<query>_<tag>.txt` and time `passes` noop-sink runs after one
  * warmup, printing per-query min/median wall seconds. Runs on the shared
  * [[graft.Session]], so the plans and timings match what the bench sees.
  * `passes = 0` writes the formatted plan only (no warmup, no timing, no
  * final-plan capture) — the plan-audit mode.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <q1,q2,...> [passes]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val passes = if (args.length > 4) args(4).toInt else 3
    val spark = graft.Session.create()
    Files.createDirectories(Paths.get(outDir))

    names.foreach { name =>
      // "__floor": a trivial 1-stage query, to measure the fixed
      // per-action overhead (plan + schedule + noop commit) on this host.
      import org.apache.spark.sql.functions._
      val q: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        if (name == "__floor") (sp, _) => sp.range(1000).toDF("v")
        else if (name == "__q18base" || name == "__q18rep1") (sp, dd) => {
          // q18's body minus its final orderBy, to A/B the global-sort plan
          val agg = graft.sources.Tables.orders(sp, dd)
            .groupBy(col("o_orderpriority").as("priority"))
            .agg(count(lit(1)).as("n"),
              sum((col("o_totalprice") * 100).cast("long")).as("sum_price_c"),
              countDistinct(col("o_custkey")).as("n_custs"))
          if (name == "__q18base") agg.orderBy("priority")
          else agg.repartition(1).sortWithinPartitions("priority")
        }
        else graft.SparkEntry.queries(name)
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = q(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
      if (passes > 0) {
        def once(): Double = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          q(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warmup
        val ts = (1 to passes).map(_ => once()).sorted
        // true median: average the two middle elements for even pass
        // counts (ts(n/2) alone is the upper-middle — biased high)
        val med =
          if (ts.size % 2 == 1) ts(ts.size / 2)
          else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
        // Post-execution (AQE-final) plan: initial explain() hides runtime
        // exchange/stage reuse, so recompute claims need the executed plan.
        try {
          val execs = spark.sharedState.statusStore.executionsList()
          if (execs.nonEmpty)
            Files.writeString(Paths.get(outDir, s"${name}_${tag}_final.txt"),
              execs.last.physicalPlanDescription)
          else
            println(s"[plandump] WARNING: no executions retained for $name — ${name}_${tag}_final.txt not written")
        } catch {
          case e: Throwable =>
            println(s"[plandump] WARNING: final-plan capture failed for $name: ${e.getMessage}")
        }
        println(f"[plandump] $name%-28s min ${ts.head}%.3fs med $med%.3fs ($tag)")
      }
    }
    spark.stop()
  }
}
