package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Measures that skew salting HELPS, not just that it is exact (the q45/q53
  * oracles prove exactness). Synthetic 90/10 skew: one key owns 90% of an
  * 8M-row fact side. Compares
  *   - plain shuffle join (AQE skew-join OFF — the unmitigated baseline,
  *     e.g. when stats mislead or the skewed side is a reused exchange),
  *   - plain shuffle join with AQE skew splitting ON (Spark's own answer),
  *   - Skew.saltedJoin with 32 salts,
  * and the same three-way story for groupBy-sum aggregation — where the
  * honest result is that map-side partial aggregation already absorbs
  * sum-shaped skew (documented in Skew.scala; salting is for join skew and
  * for aggregates whose partial state can't compress).
  *
  * Results are recorded in SURVEY.md §8; run ad hoc, not in CI (wall-clock
  * assertions flake).
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.create()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle joins
    import spark.implicits._

    val nBig = 16L * 1000 * 1000
    val nKeys = 1000
    val fanOut = 8 // small-side rows per key: reduce work is per OUTPUT row
    // 95% of rows on key 0, the rest uniform over keys 1..999
    val big = spark.range(nBig).select(
      when(pmod(col("id"), lit(20)) < 19, lit(0L))
        .otherwise(pmod(col("id"), lit(nKeys)).cast("long")).as("k"),
      col("id").as("uniq"), (col("id") % 97).as("v"))
    val small = spark.range(nKeys.toLong * fanOut).select(
      (col("id") % nKeys).as("k"),
      concat(lit("payload_"), col("id")).as("p"))

    def time(label: String)(df: => DataFrame): Double = {
      val runs = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = runs(1)
      println(f"[skewbench] $label%-28s ${med}%.2f s (runs: ${runs.map(r => f"$r%.2f").mkString(", ")})")
      med
    }

    def withSkewJoin(on: Boolean)(body: => Double): Double = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on)
      try body finally spark.conf.set("spark.sql.adaptive.skewJoin.enabled", true)
    }

    println(s"[skewbench] big=$nBig rows, 95% on one key of $nKeys; small=${nKeys * fanOut} rows")
    val plainJoin = withSkewJoin(false) {
      time("join plain (no AQE skew)")(big.join(small, Seq("k")).select(sum(length(col("p"))).as("s")))
    }
    val aqeJoin = withSkewJoin(true) {
      time("join plain (AQE skew on)")(big.join(small, Seq("k")).select(sum(length(col("p"))).as("s")))
    }
    // AQE skew splitting again, but with the threshold tuned BELOW the
    // giant partition's size (the r3 finding: at defaults the ~250 MB
    // skewed partition sits under the 256 MB skewedPartitionThreshold and
    // AQE never fires). This row shows Spark's built-in rescue DOES work
    // once stats-informed tuning is applied — salting's advantage is not
    // needing that tuning (or stats) at all.
    val aqeTuned = withSkewJoin(true) {
      val thKey = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
      val advKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val (thPrev, advPrev) = (spark.conf.get(thKey), spark.conf.get(advKey))
      try {
        spark.conf.set(thKey, "32m")
        spark.conf.set(advKey, "16m")
        time("join plain (AQE tuned 32m)")(
          big.join(small, Seq("k")).select(sum(length(col("p"))).as("s")))
      } finally { spark.conf.set(thKey, thPrev); spark.conf.set(advKey, advPrev) }
    }
    val saltedJoin = withSkewJoin(false) {
      time("join salted x32")(
        Skew.saltedJoin(big, small, "k", col("uniq"), 32).select(sum(length(col("p"))).as("s")))
    }

    val plainAgg = time("agg plain groupBy-sum")(big.groupBy("k").agg(sum("v").as("s")))
    val saltedAgg = time("agg salted x32")(Skew.saltedSum(big, Seq("k"), col("v"), col("uniq"), 32, "s"))

    println(f"""{"join_plain_sec":$plainJoin%.2f,"join_aqe_sec":$aqeJoin%.2f,"join_aqe_tuned_sec":$aqeTuned%.2f,"join_salted_sec":$saltedJoin%.2f,"join_speedup":${plainJoin / saltedJoin}%.2f,"agg_plain_sec":$plainAgg%.2f,"agg_salted_sec":$saltedAgg%.2f}""")
    spark.stop()
  }
}
