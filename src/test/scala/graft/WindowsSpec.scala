package graft

import org.apache.spark.sql.functions._
import graft.operators.Windows

/** Unit tests for the window operators, incl. the scale-safe surrogate-key
  * path equivalence (denseIdsScalable vs the reference's global window).
  */
class WindowsSpec extends SparkTestBase {
  import spark.implicits._

  test("suffixDuplicates renames dup ids ID_2, ID_3... (transform.py:253-261)") {
    val df = Seq(("S1", 1), ("S1", 2), ("S1", 3), ("S2", 1))
      .toDF("sale_id", "seq")
    val out = Windows.suffixDuplicates(df, keys = Seq("sale_id"),
        order = Seq(col("seq")), idCol = "sale_id", outCol = "uid")
      .orderBy("sale_id", "seq")
      .select("uid").as[String].collect()
    assert(out.toSeq == Seq("S1", "S1_2", "S1_3", "S2"))
  }

  test("denseIdsGlobal assigns dense 1..N following the order") {
    val df = Seq(("c", 3), ("a", 1), ("b", 2)).toDF("name", "k")
    val out = Windows.denseIdsGlobal(df, Seq(col("name")), "sk")
      .orderBy("name").select("sk").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("denseIdsScalable matches denseIdsGlobal on the same total order") {
    val df = (1 to 500).map(i => (s"name_${(i * 37) % 500}%05d", i))
      .toDF("name", "k").repartition(7)
    val order = Seq(col("name"), col("k"))
    val global = Windows.denseIdsGlobal(df, order, "sk")
      .select("name", "k", "sk").collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val scalable = Windows.denseIdsScalable(df, order, "sk")
      .select("name", "k", "sk").collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(global == scalable)
  }

  test("denseIdsScalable ids are dense and unique across partitions") {
    val df = (1 to 1000).map(i => (i % 13, i)).toDF("g", "k").repartition(11)
    val ids = Windows.denseIdsScalable(df, Seq(col("g"), col("k")), "sk")
      .select("sk").as[Long].collect().sorted
    assert(ids.toSeq == (1L to 1000L))
  }

  test("prefixSum matches the single-partition global window cumsum") {
    // weights deliberately irregular; input spread over many partitions so
    // the two-phase offsets actually cross bucket boundaries
    val df = (1 to 997).map(i => (i.toLong, ((i * 131) % 53 + 1).toLong))
      .toDF("k", "w").repartition(13)
    val expected = df
      .withColumn("cs", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .select("k", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val actual = Windows.prefixSum(df, Seq(col("k")), col("w"), "cs")
      .select("k", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual == expected)
    assert(actual(997L) == expected.values.max, "inclusive prefix must end at the total")
  }

  test("prefixSum and denseIdsScalable match their single-partition windows " +
      "when each range exchange would sample different cut points") {
    import org.apache.spark.sql.expressions.Window
    // ±1 values, so a row bucketed one way for its local sum and another
    // for its offset is off by the net value between the two cuts; a
    // tiny range-exchange sample over many input partitions makes two
    // samplings of the same input cut at different keys (with AQE's
    // coalescing on, an input this small would land in one bucket)
    val confs = Map("spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "1",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val df = rng.shuffle((1 to 2000).toList)
        .map(k => (if (k % 97 == 0) None else Some(k % 7), k, if (rng.nextBoolean()) 1L else -1L,
          s"p$k"))
        .toDF("g", "k", "v", "p").repartition(40)
      // a DESC key with NULLs (NULLS LAST by default) ahead of a unique key
      val order = Seq(col("g").desc, col("k"))
      val all = Window.orderBy(order: _*)
      val rows = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // reading the payload `p` too keeps it out of the totals' exchange
      // only, so the two sides' range exchanges differ and are not reused
      def byK(out: org.apache.spark.sql.DataFrame, c: String) =
        out.select("k", c, "p").collect().map(r => r.getInt(0) -> (r.getLong(1), r.getString(2))).toMap
      val wantSum = byK(df.withColumn("cs", sum(col("v")).over(rows)), "cs")
      val wantId = byK(df.withColumn("id", row_number().over(all).cast("long")), "id")
      def check(op: String, got: Map[Int, (Long, String)], want: Map[Int, (Long, String)]) = {
        val off = want.filter { case (k, w) => !got.get(k).contains(w) }
        assert(got.size == want.size && off.isEmpty,
          s"$op (seed $seed): ${off.size} rows differ, e.g. ${off.take(3)}")
      }
      check("prefixSum", byK(Windows.prefixSum(df, order, col("v"), "cs"), "cs"), wantSum)
      check("denseIdsScalable", byK(Windows.denseIdsScalable(df, order, "id"), "id"), wantId)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("topKPerGroup keeps rank<=k with deterministic tie-break") {
    val df = Seq(("g1", 1, 100), ("g1", 2, 100), ("g1", 3, 50), ("g2", 4, 10))
      .toDF("g", "id", "score")
    val out = Windows.topKPerGroup(df, Seq(col("g")),
        Seq(col("score").desc, col("id")), k = 2)
      .orderBy("g", "rnk", "id").select("id").as[Int].collect()
    // rank() gives both score-100 rows rank 1; id=3 is rank 3 -> excluded.
    assert(out.toSeq == Seq(1, 2, 4))
  }

  test("runningSum accumulates within partition in order") {
    val df = Seq(("a", 1, 10L), ("a", 2, 20L), ("a", 3, 30L), ("b", 1, 5L))
      .toDF("g", "seq", "v")
    val out = Windows.runningSum(df, Seq(col("g")), Seq(col("seq")), col("v"), "rt")
      .orderBy("g", "seq").select("rt").as[Long].collect()
    assert(out.toSeq == Seq(10L, 30L, 60L, 5L))
  }
}
