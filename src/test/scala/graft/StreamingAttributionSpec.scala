package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import graft.sources.Tables

/** Stream-stream watermarked interval join (EventStream.lastTouchPairs):
  * proven EQUAL to the batch q143 last-touch attribution on the same
  * events across 3 unordered micro-batches, plus the late-event drop and
  * state-eviction behaviors that make the join bounded on an unbounded
  * stream.
  */
class StreamingAttributionSpec extends SparkTestBase {

  private def micros(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("lastTouchPairs across 3 unordered micro-batches == batch q143") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // batch truth: q143 over the sf0.001 events table
    val truth = graft.SparkEntry.queries("q143_last_touch")(spark, "/root/testdata/sf0.001")
      .collect()
      .map { r =>
        r.getAs[Long]("purchase_id") ->
          ((r.getAs[Long]("user_id"), r.getAs[Long]("tsu"), r.getAs[Long]("value_c"),
            Option(r.getAs[java.lang.Long]("click_id")).map(_.longValue),
            Option(r.getAs[java.lang.Long]("gap_us")).map(_.longValue)))
      }.toMap

    val events = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .selectExpr("event_id", "cast(ts as timestamp) AS ts",
        "user_id", "event_type", "value")
      .as[Event].collect()
    // deterministic shuffle: 3 micro-batches, arrival order unrelated to
    // event time (the watermark delay of 60 days covers the full 30-day
    // disorder, so nothing is late in THIS test — see the late test below)
    val shuffled = new scala.util.Random(42).shuffle(events.toSeq)
    val batches = shuffled.grouped((shuffled.size + 2) / 3).toSeq
    assert(batches.size == 3)

    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStream.lastTouchPairs(
      clicks.toDF(), purchases.toDF(), window = "7 days", delay = "60 days")
    val query = joined.writeStream.format("memory")
      .queryName("attr_eq").outputMode("append").start()
    try {
      batches.foreach { b =>
        clicks.addData(b.filter(_.event_type == "click"))
        purchases.addData(b.filter(_.event_type == "purchase"))
        query.processAllAvailable()
      }
      val stateBefore = query.lastProgress.stateOperators.head.numRowsTotal
      // flush: advance BOTH watermarks far past every interval end so the
      // no-click purchases emit their outer-null rows and state drains
      val flush = Event(-1L, ts("2024-12-01 00:00:00"), -1L, "flush", 0.0)
      clicks.addData(flush); purchases.addData(flush.copy(event_id = -999L))
      query.processAllAvailable()
      val stateAfter = query.lastProgress.stateOperators.head.numRowsTotal
      assert(stateAfter < stateBefore,
        s"watermark advance did not evict join state ($stateBefore -> $stateAfter)")

      // last-touch reduction over the streamed pair set (the batch query's
      // window sits ABOVE the join the same way)
      val pairs = spark.table("attr_eq").filter(col("purchase_id") =!= -999L).collect()
      val byPurchase = pairs.groupBy(_.getAs[Long]("purchase_id"))
      assert(byPurchase.keySet == truth.keySet,
        "streamed purchases differ from batch q143 purchases")
      byPurchase.foreach { case (pid, rows) =>
        val (tUser, tTsu, tValc, tClick, tGap) = truth(pid)
        val pTsu = micros(rows.head.getAs[Timestamp]("purchase_ts"))
        assert(rows.head.getAs[Long]("user_id") == tUser && pTsu == tTsu &&
          rows.head.getAs[Long]("value_c") == tValc, s"purchase $pid columns diverged")
        val matched = rows.filter(_.getAs[Timestamp]("click_ts") != null)
        if (matched.isEmpty) {
          assert(rows.length == 1, s"purchase $pid: outer-null row not unique")
          assert(tClick.isEmpty, s"purchase $pid: batch attributed, stream did not")
        } else {
          val last = matched.maxBy(r =>
            (micros(r.getAs[Timestamp]("click_ts")), r.getAs[Long]("click_id")))
          assert(tClick.contains(last.getAs[Long]("click_id")),
            s"purchase $pid: last-touch click diverged")
          assert(tGap.contains(pTsu - micros(last.getAs[Timestamp]("click_ts"))),
            s"purchase $pid: gap diverged")
        }
      }
    } finally query.stop()
  }

  test("late click beyond the watermark is dropped; its purchase attributes null") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = EventStream.lastTouchPairs(
        clicks.toDF(), purchases.toDF(), window = "7 days", delay = "1 hour")
      .writeStream.format("memory").queryName("attr_late").outputMode("append").start()
    try {
      // b1: a normal click→purchase pair for user 1
      clicks.addData(Event(10, ts("2024-01-05 10:00:00"), 1, "click", 0.0))
      purchases.addData(Event(20, ts("2024-01-05 10:30:00"), 1, "purchase", 5.0))
      query.processAllAvailable()
      // b2: fresh traffic advances the watermark to 15:00
      clicks.addData(Event(11, ts("2024-01-05 16:00:00"), 2, "click", 0.0))
      purchases.addData(Event(21, ts("2024-01-05 16:00:00"), 2, "purchase", 1.0))
      query.processAllAvailable()
      // b3: user 3's click arrives 5h late (event time 10:00 < watermark
      // 15:00 — outside the q174-style lateness budget, dropped at input);
      // its purchase is fresh and must attribute to NOTHING
      clicks.addData(Event(12, ts("2024-01-05 10:00:00"), 3, "click", 0.0))
      purchases.addData(Event(22, ts("2024-01-05 15:30:00"), 3, "purchase", 2.0))
      query.processAllAvailable()
      // flush both sides so outer-null rows emit
      val flush = Event(-1L, ts("2024-01-06 18:00:00"), -1L, "flush", 0.0)
      clicks.addData(flush); purchases.addData(flush.copy(event_id = -999L))
      query.processAllAvailable()

      val rows = spark.table("attr_late").filter(col("purchase_id") =!= -999L)
        .collect().map(r => (r.getAs[Long]("purchase_id"),
          Option(r.getAs[java.lang.Long]("click_id")).map(_.longValue))).toSet
      assert(rows.contains((20L, Some(10L))), "in-window pair lost")
      assert(rows.contains((21L, Some(11L))), "same-instant click must attribute")
      assert(rows.contains((22L, None)),
        "purchase with only a dropped-late click must emit an outer-null row")
      assert(!rows.exists(_._2.contains(12L)), "late click leaked into the join")
    } finally query.stop()
  }
}
