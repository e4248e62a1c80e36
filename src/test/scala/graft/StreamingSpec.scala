package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import graft.sources.Tables

/** Structured Streaming operators driven by MemoryStream: watermarked
  * tumbling aggregation (q42's streaming twin) and stateful gap
  * sessionization (q43's streaming twin).
  */
class StreamingSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourlyAgg: watermark closes an hour window and emits exact cents") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val query = EventStream.hourlyAgg(ms.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 10:05:00"), 7, "click", 1.25),
        Event(2, ts("2024-01-01 10:40:00"), 8, "click", 2.50),
        Event(3, ts("2024-01-01 10:59:00"), 7, "view", 0.10))
      query.processAllAvailable()
      // advance the watermark far past 11:00 so the 10:00 window closes
      ms.addData(Event(4, ts("2024-01-01 14:00:00"), 9, "click", 9.99))
      query.processAllAvailable()
      val rows = spark.table("hourly").orderBy("event_type").collect()
      assert(rows.length == 2)
      val click = rows.find(_.getAs[String]("event_type") == "click").get
      assert(click.getAs[Timestamp]("hour") == ts("2024-01-01 10:00:00"))
      assert(click.getAs[Long]("n") == 2L)
      assert(click.getAs[Long]("sum_value_c") == 375L) // 125 + 250 exact cents
    } finally query.stop()
  }

  test("streaming sessionize agrees with the batch q43 semantics on real events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batch truth: q43 over the sf0.001 events table
    val batch = graft.SparkEntry.queries("q43_sessionize")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // stream the same events (ts NTZ -> Timestamp, UTC session) in one batch
    val events = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("event_id", "cast(ts as timestamp) AS ts",
        "user_id", "event_type", "value")
      .as[Event].collect()
    val ms = MemoryStream[Event]
    val query = EventStream.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sess_eq").outputMode("append").start()
    try {
      ms.addData(events.toSeq)
      query.processAllAvailable()
      val streamed = spark.table("sess_eq").as[EventStream.SessionAgg].collect()
      assert(streamed.nonEmpty)
      // every CLOSED streaming session must equal its batch counterpart
      // (the final open session per user stays in state, hence <)
      val batchUsers = batch.keys.map(_._1).toSet
      streamed.foreach { s =>
        assert(batch((s.user_id, s.session_id)) == ((s.n_events, s.start_us, s.end_us)),
          s"user ${s.user_id} session ${s.session_id}")
      }
      val perUserClosed = streamed.groupBy(_.user_id).view.mapValues(_.length)
      perUserClosed.foreach { case (u, n) =>
        assert(n == batch.keys.count(_._1 == u) - 1) // all but the open one
      }
      assert(batchUsers.nonEmpty)
    } finally query.stop()
  }

  test("sessionize: a >30min gap closes the session and emits it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val query = EventStream.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0),
        Event(2, ts("2024-01-01 10:10:00"), 1, "view", 0),
        Event(3, ts("2024-01-01 13:00:00"), 1, "click", 0), // closes session 1
        Event(4, ts("2024-01-01 10:00:00"), 2, "click", 0))
      query.processAllAvailable()
      val rows = spark.table("sessions").collect()
      // only user 1's first session is closed; open sessions stay in state
      assert(rows.length == 1)
      val s = rows(0)
      assert(s.getAs[Long]("user_id") == 1L)
      assert(s.getAs[Long]("session_id") == 1L)
      assert(s.getAs[Long]("n_events") == 2L)
      assert(s.getAs[Long]("end_us") - s.getAs[Long]("start_us") == 600L * 1000000L)
    } finally query.stop()
  }

  test("purchaseAttribution: stream-stream join matches views within the hour") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val df = ms.toDF()
    val query = EventStream.purchaseAttribution(
        df.filter($"event_type" === "purchase"),
        df.filter($"event_type" === "view"))
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      ms.addData(
        Event(10, ts("2024-01-01 08:00:00"), 1, "view", 0),     // too old
        Event(11, ts("2024-01-01 10:00:00"), 1, "view", 0),     // within hour
        Event(12, ts("2024-01-01 10:30:00"), 1, "purchase", 5), // matches 11 only
        Event(13, ts("2024-01-01 10:30:00"), 2, "purchase", 5)) // no prior view
      query.processAllAvailable()
      val rows = spark.table("attrib")
        .select("purchase_id", "view_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((12L, 11L)))
    } finally query.stop()
  }

  test("dedupEvents: duplicate event_ids within the watermark are dropped once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val query = EventStream.dedupEvents(ms.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0), // exact dup
        Event(2, ts("2024-01-01 10:05:00"), 2, "view", 2.0))
      query.processAllAvailable()
      ms.addData(
        Event(1, ts("2024-01-01 10:10:00"), 1, "click", 1.0), // dup, still in state
        Event(3, ts("2024-01-01 10:20:00"), 3, "click", 3.0))
      query.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
      // same result as the batch dedup of the same rows
      assert(ids.length == 3)
    } finally query.stop()
  }

  test("jdbcSink: foreachBatch appends survive a simulated partial-batch replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val url = s"jdbc:derby:${java.nio.file.Files.createTempDirectory("graft-sderby")}/db;create=true"
    val cp = java.nio.file.Files.createTempDirectory("graft-scp").toString
    val ms = MemoryStream[Event]
    val query = EventStream.jdbcSink(ms.toDF(), url, "T_STREAM",
      user = "app", password = "app", driver = Driver, checkpoint = cp)
    try {
      ms.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      query.processAllAvailable() // batch 0 committed
      // simulate batch 1 crashing after a PARTIAL insert: plant garbage
      // rows already tagged batch_id=1, as a failed attempt would leave
      val conn = java.sql.DriverManager.getConnection(url)
      val st = conn.createStatement()
      st.executeUpdate(
        """INSERT INTO T_STREAM VALUES (99, TIMESTAMP('2024-01-01 00:00:00'), 9, 'garbage', 0.0, 1)""")
      st.close(); conn.close()
      ms.addData(
        Event(2, ts("2024-01-01 10:05:00"), 2, "view", 2.0),
        Event(3, ts("2024-01-01 10:06:00"), 3, "click", 3.0))
      query.processAllAvailable() // batch 1: must delete the partial rows first
      val props = new java.util.Properties(); props.setProperty("driver", Driver)
      val back = spark.read.jdbc(url, "T_STREAM", props)
      assert(back.count() == 3, "replay left duplicates or dropped rows")
      // collect, then compare: Derby stores strings as CLOB, which rejects
      // a pushed-down equality filter
      val types = back.select("event_type").as[String].collect()
      assert(!types.contains("garbage"), "partial-batch rows not cleaned on replay")
      assert(back.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("file-sink pipeline: checkpoint restart emits each window exactly once") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft-sin").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-sout").toString + "/out"
    val cp = java.nio.file.Files.createTempDirectory("graft-scp2").toString

    def writeInput(rows: Seq[Event]): Unit =
      rows.toDF().write.mode("append").parquet(inDir)

    // run 1: one closed hour (the 14:00 event advances the watermark)
    writeInput(Seq(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.25),
      Event(2, ts("2024-01-01 10:40:00"), 2, "click", 2.50),
      Event(3, ts("2024-01-01 14:00:00"), 3, "view", 0.10)))
    val q1 = EventStream.runHourlyPipeline(spark, inDir, outDir, cp)
    try q1.processAllAvailable() finally q1.stop()

    // run 2: RESTART from the same checkpoint; a 18:00 event closes 14:00
    writeInput(Seq(Event(4, ts("2024-01-01 18:00:00"), 4, "click", 9.99)))
    val q2 = EventStream.runHourlyPipeline(spark, inDir, outDir, cp)
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.schema("hour TIMESTAMP, event_type STRING, n LONG, sum_value_c LONG")
      .parquet(outDir)
    val rows = out.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    // the 10:00/click window appears EXACTLY once despite source replay
    assert(rows.count(r => r._2 == "click" && r._1 == ts("2024-01-01 10:00:00")) == 1, rows.toString)
    assert(rows.contains((ts("2024-01-01 14:00:00"), "view", 1L)), rows.toString)
    assert(rows.map(_._3).sum == rows.distinct.map(_._3).sum, "duplicate windows in sink")
  }

  test("streaming materialized view: foldered shards equal the batch recompute; replay is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod}
    import graft.streaming.MviewStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft_mview").toString

    // q108's input slice, streamed in three deterministic shards
    val orders = Tables.orders(spark, sf0001)
      .select($"o_custkey", $"o_totalprice")
    val shards = (0 to 2).map(k =>
      orders.filter(pmod($"o_custkey", lit(3)) === k)
        .as[(Long, Double)].collect().toSeq)

    val ms = MemoryStream[(Long, Double)]
    val query = ms.toDF().toDF("o_custkey", "o_totalprice")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        MviewStream.refresh(spark, stateDir, id, batch)
      }
      .outputMode("append").start()
    try {
      shards.foreach { sh => ms.addData(sh); query.processAllAvailable() }
    } finally query.stop()

    // replayed micro-batch (at-least-once delivery) must not double-fold
    val genBefore = MviewStream.latest(stateDir).get
    MviewStream.refresh(spark, stateDir, batchId = 0,
      batch = orders.limit(50))
    assert(MviewStream.latest(stateDir).get == genBefore, "replay advanced the state")

    val got = MviewStream.readState(spark, stateDir).get
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = MviewStream.orderPartials(orders)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want, s"state diverged from batch recompute (${got.size} vs ${want.size} keys)")
    // exactly one live generation remains after GC
    val gens = new java.io.File(stateDir).listFiles().count(_.getName.startsWith("gen-"))
    assert(gens == 1, s"old generations not GC'd: $gens")
  }

  test("streaming rate limiter equals the q179 batch fold across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batchTruth = graft.SparkEntry
      .queries("q179_rate_limiter")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_rejected"))).toMap
    // feed the same events in THREE time-ordered micro-batches — the
    // 4-long keyed state must carry the machine across batch boundaries
    val events = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("event_id", "cast(ts as timestamp) AS ts",
        "user_id", "event_type", "value")
      .as[Event].collect()
      .sortBy(e => (e.ts.toInstant.getEpochSecond, e.event_id))
    val ms = MemoryStream[Event]
    val query = EventStream.rateLimit(ms.toDS())
      .writeStream.format("memory").queryName("limiter").outputMode("update").start()
    try {
      events.grouped((events.length + 2) / 3).foreach { chunk =>
        ms.addData(chunk.toSeq)
        query.processAllAvailable()
      }
      // final cumulative counters per user = the row with the max n_events
      val streamed = spark.table("limiter").as[EventStream.LimiterAgg].collect()
        .groupBy(_.user_id)
        .map { case (u, rows) => u -> {
          val last = rows.maxBy(_.n_events)
          (last.n_events, last.n_rejected)
        } }
      assert(streamed == batchTruth,
        "streaming limiter state diverged from the batch packed fold")
    } finally query.stop()
  }

  test("txn CDC stream: one commit per window, ≡ batch changes, replay leaves dest unchanged") {
    import java.nio.file.Files
    import graft.sources.TxnTable
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val src = Files.createTempDirectory("graft-cdc-src").toString
    val dest = Files.createTempDirectory("graft-cdc-dest").toString
    def feed(df: org.apache.spark.sql.DataFrame): Map[(Int, String, String), Int] =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getAs[String]("_change")))
        .groupMapReduce(identity)(_ => 1)(_ + _)

    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), src) // v0: bootstrap
    val q = TxnTable.changesStream(spark, src, dest)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdc-ckpt1").toString)
      .start()
    try {
      q.processAllAvailable() // consumes the v0 window
      TxnTable.append(Seq((3, "c")).toDF("id", "v"), src)         // v1: append window
      TxnTable.merge(spark, src,
        Seq((2, "B"), (4, "d")).toDF("id", "v"), Seq("id"))       // v2: diff window
      // merge-on-read windows: the live set stays byte-identical but a
      // dv delta changes effective content — the stream must surface
      // the dv'd rows as deletes (and the MoR update as delete+insert)
      TxnTable.deleteRangeDV(spark, src, "id", 3L, 3L)            // v3: dv window
      TxnTable.updateWhereDV(spark, src,
        org.apache.spark.sql.functions.col("id") === 4,
        Map("v" -> lit("D")))                                     // v4: MoR update
      q.processAllAvailable()
    } finally q.stop()
    // streamed CDC ≡ batch changes, window by window across the 5 commits
    val expected =
      feed(TxnTable.read(spark, src, Some(0L)).withColumn("_change", lit("insert")))
        .toSeq ++ (0L until 4L).flatMap(v =>
        feed(TxnTable.changes(spark, src, v, v + 1L)).toSeq)
    val want = expected.groupMapReduce(_._1)(_._2)(_ + _)
    assert(feed(TxnTable.read(spark, dest)) == want,
      "streamed change feed diverged from the batch windows")
    assert(want.exists { case ((i, _, c), _) => i == 3 && c == "delete" },
      "the dv-delete window must stream a delete row")
    assert(TxnTable.versions(dest).size == 5,
      "expected exactly one destination commit per source commit")
    // REPLAY idempotence: a FRESH stream checkpoint reprocesses every
    // manifest from scratch; every window's txnId is already in the
    // destination log, so the destination must come out byte-identical
    val q2 = TxnTable.changesStream(spark, src, dest)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdc-ckpt2").toString)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(feed(TxnTable.read(spark, dest)) == want,
      "full-history replay duplicated change rows")
    assert(TxnTable.versions(dest).size == 5,
      "full-history replay minted extra destination commits")
  }

  test("readStream.format(\"graft\"): streamed CDC windows equal the batch " +
      "feed; checkpoint restart resumes the version cursor exactly once") {
    import graft.sources.TxnTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rstream-ck").toString
    // v0: two rows; v1: append; v2: dv delete — a mixed window set
    TxnTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir,
      statsCol = Some("k"))
    TxnTable.append(Seq((3L, "c")).toDF("k", "v"), dir, statsCol = Some("k"))
    TxnTable.deleteRangeDV(spark, dir, "k", 2L, 2L)
    def runOnce(): Seq[(Long, String, String)] = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r =>
            out.add((r.getLong(0), r.getString(1), r.getString(2)))): Unit
        }.start()
      try q.processAllAvailable() finally q.stop()
      out.toArray(Array.empty[(Long, String, String)]).toSeq
    }
    val first = runOnce().sorted
    // bootstrap (v0 inserts) + v1 insert + v2 delete — exactly the
    // batch CDC feed changes(0, 2) plus the initial snapshot
    val expected = (TxnTable.read(spark, dir, Some(0L))
      .withColumn("_change", org.apache.spark.sql.functions.lit("insert"))
      .unionByName(TxnTable.changes(spark, dir, 0L, 2L)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(first == expected,
      s"streamed feed diverged from the batch CDC feed: $first vs $expected")
    // restart on the SAME checkpoint with no new commits: zero new rows
    assert(runOnce().isEmpty, "checkpoint restart re-emitted processed windows")
    // a new commit after restart streams exactly its window
    TxnTable.append(Seq((9L, "z")).toDF("k", "v"), dir, statsCol = Some("k"))
    val third = runOnce()
    assert(third == Seq((9L, "z", "insert")),
      s"post-restart window wrong: $third")
    // the streamed multiset equals the table's final CDC-folded state
    val folded = (first ++ third).groupBy(x => (x._1, x._2))
      .map { case (kv, xs) =>
        kv -> (xs.count(_._3 == "insert") - xs.count(_._3 == "delete")) }
      .filter(_._2 > 0).keys.toSeq.sorted
    val table = TxnTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(folded == table, "folding the stream did not reproduce the table")
  }

  test("readStream.format(\"graft\") on a SCHEMA-EVOLVED table: the " +
      "bootstrap batch aligns the v0 snapshot to the head schema " +
      "(null-backfill) instead of tripping unionByName") {
    import graft.sources.TxnTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-estream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-estream-ck").toString
    TxnTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir,
      statsCol = Some("k"))                                  // v0: 2-col era
    TxnTable.addColumn(spark, dir, "score", "BIGINT")        // v1: evolve
    TxnTable.append(Seq((3L, "c", 30L)).toDF("k", "v", "score"), dir,
      statsCol = Some("k"))                                  // v2: 3-col rows
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Option[Long], String)]()
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add((r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    val got = out.toArray(Array.empty[(Long, String, Option[Long], String)])
      .toSeq.sorted
    // v0 rows surface with score null-backfilled; the v2 window carries
    // its real value — the head-schema feed contract
    assert(got == Seq(
      (1L, "a", None, "insert"), (2L, "b", None, "insert"),
      (3L, "c", Some(30L), "insert")),
      s"evolved-table bootstrap feed wrong: $got")
  }

  test("writeStream.format(\"graft\"): graft→graft CDC pipeline through the " +
      "public API; batch replay leaves the destination byte-identical; " +
      "final fold ≡ the source table") {
    import graft.sources.TxnTable
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-ssink-src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-ssink-dst").toString
    val ck1 = java.nio.file.Files.createTempDirectory("graft-ssink-ck1").toString
    TxnTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), src,
      statsCol = Some("k"))
    TxnTable.append(Seq((3L, "c")).toDF("k", "v"), src, statsCol = Some("k"))
    def runOnce(ckpt: String): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("txnAppId", "ssink-spec")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(ck1) // batch 0: bootstrap + v1 window, one commit into dst
    def dstState() = (TxnTable.versions(dst),
      TxnTable.read(spark, dst).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted)
    val after1 = dstState()
    assert(after1._2 == Seq((1L, "a", "insert"), (2L, "b", "insert"),
      (3L, "c", "insert")), s"first streamed commit wrong: ${after1._2}")
    // simulate the crash-replay window (commit landed, checkpoint didn't):
    // a FRESH checkpoint restarts batch numbering at 0, so the same
    // <txnAppId>-<batchId> txnId replays — the sink must skip, leaving
    // the destination byte-identical
    val ck2 = java.nio.file.Files.createTempDirectory("graft-ssink-ck2").toString
    runOnce(ck2)
    assert(dstState() == after1,
      "replayed batch 0 re-committed — exactly-once through txnId broke")
    // resume on the REAL checkpoint: a new source commit (a DV delete —
    // a non-trivial CDC window) streams exactly its window as batch 1
    TxnTable.deleteRangeDV(spark, src, "k", 2L, 2L)
    runOnce(ck1)
    val after2 = dstState()
    assert(after2._1.size == after1._1.size + 1,
      s"expected exactly one more destination commit: ${after2._1}")
    assert(after2._2.diff(after1._2) == Seq((2L, "b", "delete")),
      s"post-restart window wrong: ${after2._2.diff(after1._2)}")
    // the destination CDC feed folds to the source's current state
    val folded = after2._2.groupBy(x => (x._1, x._2))
      .map { case (kv, xs) =>
        kv -> (xs.count(_._3 == "insert") - xs.count(_._3 == "delete")) }
      .filter(_._2 > 0).keys.toSeq.sorted
    val table = TxnTable.read(spark, src).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(folded == table, s"folding the sink table did not reproduce the " +
      s"source: $folded vs $table")
  }

  test("readStream.format(\"graft\") startingVersion: no snapshot bootstrap " +
      "— the feed begins at the named commit's CDC window") {
    import graft.sources.TxnTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-startv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-startv-ck").toString
    TxnTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir,
      statsCol = Some("k"))                           // v0: NOT wanted
    TxnTable.append(Seq((3L, "c")).toDF("k", "v"), dir, statsCol = Some("k")) // v1
    TxnTable.deleteRangeDV(spark, dir, "k", 1L, 1L)   // v2: delete window
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream.format("graft")
      .option("startingVersion", "1")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add((r.getLong(0), r.getString(2)))): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    val got = out.toArray(Array.empty[(Long, String)]).toSeq.sorted
    // v1 insert + v2 delete, NO v0 snapshot rows
    assert(got == Seq((1L, "delete"), (3L, "insert")),
      s"startingVersion feed wrong: $got")
  }

  test("writeStream.format(\"graft\") + overwritePartitions option: each " +
      "batch atomically REPLACES exactly its partitions — the late-data " +
      "reprocessing shape") {
    import graft.sources.TxnTable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dst = java.nio.file.Files.createTempDirectory("graft-ssink-dpo").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssink-dpock").toString
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("day", "amount").writeStream.format("graft")
      .option("overwritePartitions", "day")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      ms.addData(("d1", 10L), ("d1", 11L), ("d2", 20L)); q.processAllAvailable()
      // re-delivered day2 (late data): its partition swaps, day1 untouched
      ms.addData(("d2", 99L)); q.processAllAvailable()
      val got = TxnTable.read(spark, dst).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(got == Seq(("d1", 10L), ("d1", 11L), ("d2", 99L)),
        s"partition-overwrite sink state wrong: $got")
      val snap = TxnTable.snapshot(dst, TxnTable.latestVersion(dst).get)
      assert(snap.parts.values.map(_._2).toSet == Set("d1", "d2") &&
        snap.action == "overwritePartitions", s"manifest wrong: ${snap.action}")
    } finally q.stop()
  }

  test("writeStream.format(\"graft\") Complete mode: each batch atomically " +
      "overwrites — the streaming-materialized-view shape; Update rejected") {
    import graft.sources.TxnTable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count, lit, sum}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dst = java.nio.file.Files.createTempDirectory("graft-ssink-mv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssink-mvck").toString
    val ms = MemoryStream[(String, Long)]
    val agg = ms.toDF().toDF("cat", "cents")
      .groupBy($"cat").agg(sum($"cents").as("total"), count(lit(1)).as("n"))
    val q = agg.writeStream.format("graft")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      ms.addData(("a", 100L), ("b", 30L)); q.processAllAvailable()
      val g1 = TxnTable.read(spark, dst).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(g1 == Seq(("a", 100L, 1L), ("b", 30L, 1L)), s"gen 1 wrong: $g1")
      ms.addData(("a", 11L)); q.processAllAvailable()
      val g2 = TxnTable.read(spark, dst).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(g2 == Seq(("a", 111L, 2L), ("b", 30L, 1L)), s"gen 2 wrong: $g2")
      // each generation is one overwrite commit; time travel still sees gen 1
      val vs = TxnTable.versions(dst)
      val prev = TxnTable.read(spark, dst, Some(vs.init.last)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(prev == g1, "previous generation not readable via time travel")
    } finally q.stop()
    val err = intercept[Exception] {
      ms.toDF().toDF("cat", "cents").writeStream.format("graft")
        .outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-ssink-upck").toString)
        .start(java.nio.file.Files.createTempDirectory("graft-ssink-up").toString)
        .processAllAvailable()
    }
    assert(err.getMessage != null && err.getMessage.contains("mergeKeys"),
      s"Update mode without keys must be rejected with guidance, got: ${err.getMessage}")
  }

  test("readStream.format(\"graft\") maxVersionsPerTrigger: a commit backlog " +
      "drains in bounded micro-batches, nothing lost or duplicated") {
    import graft.sources.TxnTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ratelim").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ratelim-ck").toString
    (0 until 6).foreach(i =>
      TxnTable.append(Seq((i.toLong, s"r$i")).toDF("k", "v"), dir))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.add((id, b.collect().length)): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.toArray(Array.empty[(Long, Int)]).toSeq.sortBy(_._1)
    // 6 commits at 2 windows per trigger: 3 batches — bootstrap+v1,
    // v2..3, v4..5 — each carrying its windows' 2 rows
    assert(got.map(_._2) == Seq(2, 2, 2),
      s"backlog did not drain in capped batches: $got")
    // restart on the same checkpoint with 1 more commit: exactly one
    // more single-window batch (the cursor survives recovery)
    TxnTable.append(Seq((9L, "z")).toDF("k", "v"), dir)
    val batches2 = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val q2 = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches2.add(b.collect().length): Unit
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches2.toArray(Array.empty[Integer]).toSeq == Seq(Integer.valueOf(1)),
      s"post-restart capped stream wrong: ${batches2.toArray.toSeq}")
  }

  test("readStream.format(\"graft\") Trigger.AvailableNow: the backlog drains " +
      "in capped batches and the query TERMINATES; restart sees only newer " +
      "commits; late commits are excluded by the drain bound") {
    import graft.sources.TxnTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-avnow").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-avnow-ck").toString
    (0 until 6).foreach(i =>
      TxnTable.append(Seq((i.toLong, s"r$i")).toDF("k", "v"), dir))
    def drain(): Seq[Int] = {
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "2")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.add(b.collect().length): Unit
        }.start()
      assert(q.awaitTermination(120000L),
        "an AvailableNow run must terminate on its own")
      batches.toArray(Array.empty[Integer]).toSeq.map(_.intValue)
    }
    // 6 commits at 2 windows/trigger: bootstrap+v1, v2-3, v4-5 — the
    // SAME batch shape the V1 processAllAvailable path produces (the
    // single-batch fallback Spark uses for non-supporting sources would
    // show Seq(6) here), and then the run STOPS
    assert(drain() == Seq(2, 2, 2), "capped AvailableNow drain wrong")
    // nothing new: the run terminates immediately with no batches
    assert(drain() == Seq.empty, "an empty AvailableNow run must emit nothing")
    // one newer commit: exactly one single-window batch off the same
    // checkpoint (cursor recovery identical to the V1 path)
    TxnTable.append(Seq((9L, "z")).toDF("k", "v"), dir)
    assert(drain() == Seq(1), "restart must pick up exactly the new commit")
  }

  test("readStream.format(\"graft\") startingVersion + maxVersionsPerTrigger: " +
      "a cap SMALLER than startingVersion must not leak pre-start CDC rows " +
      "— the offer floor starts at startingVersion-1") {
    // regression: the rate-limit cursor used to seed at -1, so with
    // startingVersion=3 and cap=1 the first offer landed at version 0;
    // that empty batch checkpointed its end offset and every later
    // window fed changes() rows for versions the consumer declared it
    // already holds — duplicates under fresh batchIds that sink-side
    // txnId dedup cannot catch.
    import graft.sources.TxnTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-svcap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-svcap-ck").toString
    (0 until 5).foreach(i =>
      TxnTable.append(Seq((i.toLong, s"r$i")).toDF("k", "v"), dir))
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream.format("graft")
      .option("startingVersion", "3")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add((r.getLong(0), r.getString(2)))): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    val got = out.toArray(Array.empty[(Long, String)]).toSeq.sorted
    // exactly the v3 and v4 windows; v0..v2 must NOT appear
    assert(got == Seq((3L, "insert"), (4L, "insert")),
      s"capped startingVersion feed leaked pre-start rows: $got")
  }

  test("graft -> graft bounded catch-up: a 10-commit backlog drains through " +
      "the composed source+sink in capped batches, stops, and the " +
      "destination equals the source byte-for-byte") {
    // the Trigger.AvailableNow shape for the graft pipeline: the SOURCE
    // caps admission (maxVersionsPerTrigger) so each checkpointed batch
    // covers bounded work; the SINK commits each batch exactly-once
    // under <appId>-<batchId>. The assertions pin: bounded batch count
    // (backlog/cap, plus the bootstrap), one destination commit per
    // batch, and a final fold identical to the source snapshot.
    import graft.sources.TxnTable
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-drain-src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-drain-dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain-ck").toString
    (0 until 10).foreach(i =>
      TxnTable.append(Seq((i.toLong, s"r$i")).toDF("k", "v"), src))
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "3")
      .load(src)
      .drop("_change") // append-only source: the feed is inserts
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try q.processAllAvailable() finally q.stop()
    // 10 commits at 3 windows/trigger: bootstrap(+v1,v2) then 3 capped
    // batches — 4 destination commits, each a bounded append
    val dstVersions = TxnTable.versions(dst)
    assert(dstVersions.size == 4,
      s"backlog did not drain in bounded batches: ${dstVersions.size} commits")
    val got = TxnTable.read(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val want = TxnTable.read(spark, src).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got == want, s"drained destination diverged: $got vs $want")
    // the drain STOPPED: no further batches are pending on restart with
    // nothing new — and a replayed restart commits nothing (txnId dedup)
    val q2 = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "3")
      .load(src)
      .drop("_change")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try q2.processAllAvailable() finally q2.stop()
    assert(TxnTable.versions(dst).size == 4,
      "an idle restart committed phantom batches")
  }

  test("writeStream.format(\"graft\") Update mode + mergeKeys: each batch is " +
      "one keyed MERGE — the INCREMENTAL materialized view (only changed " +
      "groups rewrite, untouched groups keep their rows)") {
    import graft.sources.TxnTable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count, lit, sum}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dst = java.nio.file.Files.createTempDirectory("graft-ssink-upsert").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssink-upsert-ck").toString
    val ms = MemoryStream[(String, Long)]
    val agg = ms.toDF().toDF("cat", "cents")
      .groupBy($"cat").agg(sum($"cents").as("total"), count(lit(1)).as("n"))
    val q = agg.writeStream.format("graft")
      .outputMode("update")
      .option("mergeKeys", "cat")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      ms.addData(("a", 100L), ("b", 30L)); q.processAllAvailable()
      ms.addData(("a", 11L)); q.processAllAvailable() // update emits 'a' only
      val got = TxnTable.read(spark, dst).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got == Seq(("a", 111L, 2L), ("b", 30L, 1L)), s"upsert state wrong: $got")
      // lineage: bootstrap append, then a MERGE per changed batch —
      // never a Complete-style full overwrite
      val actions = TxnTable.versions(dst).map(v => TxnTable.snapshot(dst, v).action)
      assert(actions == Seq("append", "merge"), s"lineage wrong: $actions")
    } finally q.stop()
  }

  test("appId migration: a batch committed under the LEGACY murmur-derived " +
      "appId is not double-applied after the SHA-256 derivation change") {
    import graft.sources.TxnTable
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dst = java.nio.file.Files.createTempDirectory("graft-legacy-dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-legacy-ck").toString
    // a pre-upgrade run committed batch 0 under the murmur32 appId and
    // crashed before advancing the checkpoint — the replayed batch 0
    // arrives under the NEW appId after the upgrade
    val legacyAppId = "ckpt" + Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        new java.io.File(ckpt).getAbsolutePath))
    TxnTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dst,
      txnId = Some(s"$legacyAppId-0"))
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "v").writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      // batch 0 replays the SAME rows the legacy run already committed —
      // the sink must recognize the legacy txnId and skip, not duplicate
      ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      val after0 = TxnTable.read(spark, dst).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(after0 == Seq((1L, "a"), (2L, "b")),
        s"legacy-committed batch was double-applied: $after0")
      assert(TxnTable.versions(dst).size == 1,
        "the replayed batch minted a second commit")
      // later batches are genuinely new — the probe must not keep
      // skipping (it fires once per restart, for the replay window only)
      ms.addData((3L, "c")); q.processAllAvailable()
      val after1 = TxnTable.read(spark, dst).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(after1 == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"post-migration batch lost: $after1")
    } finally q.stop()
  }
}
