package graft

import java.io.File
import java.nio.file.Files

import graft.sources.TxnTable

/** Transactional parquet table proofs: snapshot isolation, time travel,
  * crash-mid-write safety, idempotent retries, optimistic concurrent
  * writers, content-identical compaction, and vacuum. The environment
  * ships no Delta/Iceberg jars, so these are the semantics the engine
  * must supply itself (SURVEY "What's missing" #2).
  */
class TxnTableSpec extends SparkTestBase {

  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-txn").toString

  private def rows(dir: String, version: Option[Long] = None): Seq[(Int, String)] =
    TxnTable.read(spark, dir, version)
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq

  test("append/append/overwrite: latest read and time travel per version") {
    val dir = tmpTable()
    val a = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val b = Seq((3, "c")).toDF("id", "v")
    val c = Seq((9, "z")).toDF("id", "v")
    assert(TxnTable.append(a, dir) == 0L)
    assert(TxnTable.append(b, dir) == 1L)
    assert(TxnTable.overwrite(c, dir) == 2L)
    assert(TxnTable.versions(dir) == Seq(0L, 1L, 2L))
    assert(rows(dir) == Seq((9, "z")))                        // latest
    assert(rows(dir, Some(1L)) == Seq((1, "a"), (2, "b"), (3, "c"))) // travel
    assert(rows(dir, Some(0L)) == Seq((1, "a"), (2, "b")))
    assert(TxnTable.snapshot(dir, 2L).action == "overwrite")
  }

  test("crash mid-write: staged-but-uncommitted data is invisible; vacuum reaps it") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    // simulate a writer that crashed after staging, before publishing:
    // data exists under data/ but NO manifest references it
    val orphan = new File(s"$dir/data", "txn-crashed-00000000")
    Seq((99, "ghost")).toDF("id", "v")
      .write.parquet(orphan.getPath)
    assert(rows(dir) == Seq((1, "a")), "orphan leaked into a snapshot read")
    assert(TxnTable.versions(dir) == Seq(0L), "orphan minted a version")
    TxnTable.vacuum(dir, retain = 1)
    assert(!orphan.exists(), "vacuum left the crashed writer's orphan")
    assert(rows(dir) == Seq((1, "a")), "vacuum damaged the live snapshot")
  }

  test("txnId idempotence: a replayed commit is a no-op returning the original version") {
    val dir = tmpTable()
    val df = Seq((1, "a")).toDF("id", "v")
    val v1 = TxnTable.append(df, dir, txnId = Some("load-2024-01-07"))
    val v2 = TxnTable.append(df, dir, txnId = Some("load-2024-01-07"))
    assert(v1 == v2)
    assert(TxnTable.versions(dir) == Seq(v1))
    assert(rows(dir) == Seq((1, "a")), "replay duplicated rows")
  }

  test("optimistic concurrency: racing appenders all land, none lost") {
    val dir = tmpTable()
    val writers = 4
    val perWriter = 3
    val threads = (0 until writers).map { w =>
      new Thread(() =>
        (0 until perWriter).foreach { i =>
          val id = w * perWriter + i
          TxnTable.append(Seq((id, s"w$w-$i")).toDF("id", "v"), dir): Unit
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val n = writers * perWriter
    assert(TxnTable.versions(dir) == (0L until n.toLong),
      "conflict retry lost or duplicated a version slot")
    assert(rows(dir).map(_._1) == (0 until n), "a racing append's rows vanished")
    // every version is a strict superset of its parent (append semantics)
    val sizes = TxnTable.versions(dir).map(TxnTable.snapshot(dir, _).live.size)
    assert(sizes == (1 to n), "rebased live sets not monotone")
  }

  test("compact: content-identical new version with bounded file count") {
    val dir = tmpTable()
    (0 until 6).foreach(i =>
      TxnTable.append(Seq((i, s"r$i")).toDF("id", "v").repartition(3), dir))
    val before = rows(dir)
    val liveBefore = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get).live
    assert(liveBefore.size == 6)
    val cv = TxnTable.compact(spark, dir, targetFiles = 1)
    assert(rows(dir) == before, "compaction changed table content")
    val snap = TxnTable.snapshot(dir, cv)
    assert(snap.live.size == 1, "compaction did not merge the live set")
    val dataFiles = new File(s"$dir/data/${snap.live.head}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles == 1, s"expected 1 packed file, found $dataFiles")
    // pre-compaction snapshot still time-travels correctly
    assert(rows(dir, Some(cv - 1)) == before)
  }

  test("compact publishes at base+1 with action 'compact' and preserves stats sidecars") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((7, "b")).toDF("id", "v"), dir, statsCol = Some("id"))
    val base = TxnTable.latestVersion(dir).get
    val cv = TxnTable.compact(spark, dir, targetFiles = 1)
    assert(cv == base + 1, "compact must pin base+1, not rebase past it")
    val snap = TxnTable.snapshot(dir, cv)
    assert(snap.action == "compact")
    assert(snap.live.size == 1)
    // the packed dir re-derives the sidecar so merge pruning survives
    assert(TxnTable.statsOf(dir, snap.live.head) == Some(("id", 1L, 7L)),
      "compaction dropped the pruning sidecar")
  }

  test("compactClustered: content identical, per-dir bounds disjoint, pruning created") {
    val dir = tmpTable()
    // interleaved layout: every commit spans the full key range, so
    // manifest skipping keeps every dir — the layout clustering fixes
    (0 until 4).foreach { i =>
      TxnTable.append((0 until 40).filter(_ % 4 == i)
        .map(k => (k, s"r$k")).toDF("id", "v"), dir, statsCol = Some("id"))
    }
    val before = rows(dir)
    val pre = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(TxnTable.pruneLive(pre, "id", 0L, 3L).size == 4,
      "interleaved layout should be unprunable")
    val cv = TxnTable.compactClustered(spark, dir, "id", 4)
    assert(cv == pre.version + 1, "clustering must pin base+1")
    assert(rows(dir) == before, "clustering changed table content")
    val snap = TxnTable.snapshot(dir, cv)
    assert(snap.action == "compact" && snap.live.size == 4)
    // every dir carries bounds; ranges must be pairwise disjoint (the
    // definition of clustered) and cover all 40 keys
    val bounds = snap.live.map(d => snap.stats(d).head)
    assert(bounds.forall(_._1 == "id"))
    val sorted = bounds.map(b => (b._2, b._3)).sortBy(_._1)
    assert(sorted.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _                      => true
    }, s"clustered dirs overlap: $sorted")
    assert(sorted.head._1 == 0L && sorted.last._2 == 39L)
    // a narrow range read now plans a strict subset
    val planned = TxnTable.pruneLive(snap, "id", 0L, 3L)
    assert(planned.size == 1, s"expected 1 planned dir, got ${planned.size}")
    assert(TxnTable.readRange(spark, dir, "id", 0L, 3L)
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2, 3))
    // pre-clustering snapshot still time-travels
    assert(rows(dir, Some(cv - 1)) == before)
  }

  test("compactClustered on TWO keys (Z-order): bounds tight on both, either column prunes") {
    val dir = tmpTable()
    // 32x32 grid: both keys span the full range in every interleaved dir
    val all = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y, s"r$x-$y")
    (0 until 4).foreach { i =>
      TxnTable.append(all.filter(t => (t._1 + t._2) % 4 == i).toDF("x", "y", "v"), dir)
    }
    val before = TxnTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val cv = TxnTable.compactClustered(spark, dir, Seq("x", "y"), 16)
    val snap = TxnTable.snapshot(dir, cv)
    assert(snap.action == "compact" && snap.live.size == 16)
    // every dir records bounds for BOTH cluster keys
    assert(snap.live.forall(d =>
      snap.stats.get(d).exists(_.map(_._1).toSet == Set("x", "y"))),
      "Z-order dirs must carry per-dir bounds for every cluster key")
    // a one-quarter range on EITHER key prunes at least half the dirs —
    // the property 1-D clustering cannot give the second key
    val px = TxnTable.pruneLive(snap, "x", 0L, 7L)
    val py = TxnTable.pruneLive(snap, "y", 0L, 7L)
    assert(px.size <= 8 && px.size < snap.live.size, s"x-range planned ${px.size} of 16")
    assert(py.size <= 8 && py.size < snap.live.size, s"y-range planned ${py.size} of 16")
    // content identical; a pruned read returns exactly the qualifying rows
    val after = TxnTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after == before, "Z-order clustering changed table content")
    assert(TxnTable.readRange(spark, dir, "y", 0L, 1L).count() == 64L)
  }

  test("deleteRange: stats-pruned copy-on-write; emptied dirs drop; time travel intact") {
    val dir = tmpTable()
    Seq(0 until 10, 10 until 20, 20 until 30).foreach(r =>
      TxnTable.append(r.map(k => (k, s"r$k")).toDF("id", "v"), dir,
        statsCol = Some("id")))
    val pre = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    // prefix delete [10, 14]: touches ONLY the middle dir
    val v = TxnTable.deleteRange(spark, dir, "id", 10L, 14L)
    val snap = TxnTable.snapshot(dir, v)
    assert(snap.action == "delete" && snap.live.size == 3)
    assert(pre.live.count(snap.live.contains) == 2,
      "disjoint dirs must stay in the live set untouched")
    assert(rows(dir).map(_._1) == ((0 until 10) ++ (15 until 30)))
    // the rewrite re-derived bounds ([15,19]) — the purged range is
    // now unplannable from the manifest alone
    assert(TxnTable.pruneLive(snap, "id", 10L, 14L).isEmpty,
      "purged range still plans a dir")
    assert(rows(dir, Some(v - 1)).map(_._1) == (0 until 30), "time travel broken")
    // CDC surfaces the purge as delete rows, no inserts
    import org.apache.spark.sql.functions.col
    val ch = TxnTable.changes(spark, dir, v - 1, v)
    assert(ch.filter(col("_change") === "delete")
      .select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 11, 12, 13, 14))
    assert(ch.filter(col("_change") === "insert").count() == 0L)
    // full-dir delete: the emptied dir DROPS from the live set
    val v2 = TxnTable.deleteRange(spark, dir, "id", 20L, 29L)
    val snap2 = TxnTable.snapshot(dir, v2)
    assert(snap2.live.size == 2 && snap2.live.forall(snap.live.contains),
      "a fully-deleted dir must drop, not stage an empty rewrite")
    assert(rows(dir).map(_._1) == ((0 until 10) ++ (15 until 20)))
    // provably-no-match delete: a no-op commit, every dir untouched
    val v3 = TxnTable.deleteRange(spark, dir, "id", 500L, 600L)
    assert(TxnTable.snapshot(dir, v3).live == snap2.live)
    assert(rows(dir).map(_._1) == ((0 until 10) ++ (15 until 20)))
  }

  test("deleteWhere: SQL NULL semantics (NULL predicate keeps the row); idempotent txnId") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append(Seq((1, "kill"), (2, null), (3, "keep"))
      .toDF("id", "v"), dir)
    val v = TxnTable.deleteWhere(spark, dir, col("v") === "kill",
      txnId = Some("purge-1"))
    // id=2's NULL makes the predicate NULL, not TRUE — the row stays
    assert(rows(dir).map(_._1) == Seq(2, 3),
      "DELETE must keep rows where the predicate is NULL")
    // replayed delete: same version back, no new commit
    assert(TxnTable.deleteWhere(spark, dir, col("v") === "kill",
      txnId = Some("purge-1")) == v)
    assert(TxnTable.latestVersion(dir).get == v)
  }

  test("history/filesMeta are metadata-accurate; readAsOf resolves timestamp time travel") {
    val dir = tmpTable()
    TxnTable.append((0 until 5).map(k => (k, s"r$k")).toDF("id", "v"), dir,
      statsCol = Some("id"))
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(5) // millis-resolution ts: guarantee v1.ts > afterV0
    TxnTable.append((5 until 8).map(k => (k, s"r$k")).toDF("id", "v"), dir,
      statsCol = Some("id"))
    TxnTable.deleteRange(spark, dir, "id", 0L, 1L)
    val h = TxnTable.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(h.map(_.getString(2)).toSeq == Seq("append", "append", "delete"))
    assert(h.map(_.getInt(4)).toSeq == Seq(1, 2, 2), "num_files wrong")
    // per-version LIVE row totals, from manifests alone — no data reads
    assert(h.map(_.getLong(5)).toSeq == Seq(5L, 8L, 6L), "num_rows wrong")
    val tss = h.map(_.getTimestamp(1).getTime).toSeq
    assert(tss.forall(_ > 0) && tss.sliding(2).forall(p => p(0) <= p(1)),
      s"commit timestamps missing or non-monotonic: $tss")
    // operationMetrics file counts from live-set diffs, still metadata-only:
    // v0 adds 1 dir, v1 adds 1, the delete rewrites the [0,5) dir (1 in /
    // 1 out — the [5,8) dir is bounds-disjoint and kept)
    assert(h.map(_.getInt(6)).toSeq == Seq(1, 1, 1), "files_added wrong")
    assert(h.map(_.getInt(7)).toSeq == Seq(0, 0, 1), "files_removed wrong")
    // files metadata: two live dirs, both with counts and bounds
    val fm = TxnTable.filesMeta(spark, dir).collect()
    assert(fm.length == 2 && fm.forall(r => !r.isNullAt(1) && !r.isNullAt(3)))
    assert(fm.map(_.getLong(1)).sorted.toSeq == Seq(3L, 3L))
    // TIMESTAMP AS OF: a ts between v0 and v1 reads v0; "now" reads latest
    assert(TxnTable.readAsOf(spark, dir, afterV0).count() == 5L)
    assert(TxnTable.readAsOf(spark, dir, System.currentTimeMillis()).count() == 6L)
    // a ts predating the oldest retained commit is a typed retention error
    intercept[TxnTable.RetentionError] {
      TxnTable.readAsOf(spark, dir, TxnTable.snapshot(dir, 0L).ts - 1L)
    }: Unit
  }

  test("bloom point-lookup: prunes interleaved dirs min/max cannot; no false negatives") {
    val dir = tmpTable()
    (0 until 4).foreach(i =>
      TxnTable.append((0 until 64).filter(_ % 4 == i).map(k => (k, s"r$k"))
        .toDF("id", "v"), dir, statsCol = Some("id")))
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    // interleaved: every dir spans nearly the whole range — bounds keep all 4
    assert(TxnTable.pruneLive(snap, "id", 13L, 13L).size == 4,
      "build must defeat min/max bounds for the bloom to matter")
    val planned = TxnTable.pruneLivePoint(dir, snap, "id", 13L)
    assert(planned.nonEmpty && planned.size <= 2,
      s"bloom should prune to ~1 of 4 dirs, planned ${planned.size}")
    assert(TxnTable.readPoint(spark, dir, "id", 13L).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((13, "r13")),
      "point probe must find the row (no false negatives)")
    // absent key: zero rows, regardless of bloom false positives
    assert(TxnTable.readPoint(spark, dir, "id", 999L).count() == 0L)
    // a copy-on-write delete recomputes the rewrite's bloom
    TxnTable.deleteRange(spark, dir, "id", 13L, 13L)
    assert(TxnTable.readPoint(spark, dir, "id", 13L).count() == 0L)
    assert(TxnTable.readPoint(spark, dir, "id", 14L).count() == 1L)
  }

  test("restore: metadata-only undo; restored dirs survive vacuum; schema reverts") {
    val dir = tmpTable()
    TxnTable.append((0 until 6).map(k => (k, s"r$k")).toDF("id", "v"), dir,
      statsCol = Some("id"))                                   // v0
    TxnTable.deleteRange(spark, dir, "id", 0L, 2L)             // v1: damage
    val v2 = TxnTable.restore(spark, dir, 0L)                  // v2: undo
    assert(v2 == 2L && rows(dir).map(_._1) == (0 until 6))
    val restored = TxnTable.snapshot(dir, v2)
    assert(restored.action == "restore" &&
      restored.live == TxnTable.snapshot(dir, 0L).live,
      "restore must reference the target's dirs — no data copied")
    // the undone version stays time-travelable until vacuumed
    assert(rows(dir, Some(1L)).map(_._1) == (3 until 6))
    // re-folded stats: pruning works on the restored snapshot
    assert(TxnTable.pruneLive(restored, "id", 100L, 200L).isEmpty)
    // vacuum to just the restore: v0's dirs are referenced again → kept
    TxnTable.vacuum(dir, retain = 1)
    assert(rows(dir).map(_._1) == (0 until 6), "vacuum reaped restored dirs")
    // schema evolution reverts: overwrite with a wider schema, restore back
    val dir2 = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir2)
    TxnTable.overwrite(Seq((1, "a", 9L)).toDF("id", "v", "extra"), dir2)
    TxnTable.restore(spark, dir2, 0L)
    // appends in the ORIGINAL schema must be accepted again
    TxnTable.append(Seq((2, "b")).toDF("id", "v"), dir2)
    assert(rows(dir2) == Seq((1, "a"), (2, "b")))
    // restoring a vacuumed version is the typed retention error
    intercept[TxnTable.RetentionError] {
      TxnTable.restore(spark, dir, 0L)
    }: Unit
  }

  test("vacuumOlderThan: age-based retention keeps ts>=cutoff (and always the latest)") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)   // v0
    Thread.sleep(5)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(5)
    TxnTable.append(Seq((2, "b")).toDF("id", "v"), dir)   // v1
    TxnTable.append(Seq((3, "c")).toDF("id", "v"), dir)   // v2
    TxnTable.vacuumOlderThan(dir, cutoff)
    assert(TxnTable.versions(dir) == Seq(1L, 2L), "v0 predates the cutoff")
    intercept[TxnTable.RetentionError] {
      TxnTable.read(spark, dir, Some(0L))
    }: Unit
    assert(rows(dir).map(_._1) == Seq(1, 2, 3))
    // cutoff in the future: everything is older — keep just the latest
    TxnTable.vacuumOlderThan(dir, System.currentTimeMillis() + 60000L)
    assert(TxnTable.versions(dir) == Seq(2L))
    assert(rows(dir).map(_._1) == Seq(1, 2, 3))
  }

  test("pre-ts/nrows manifests parse: history shows unknown (null) counts, zero ts") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    // rewrite v0's manifest in the OLD format (no ts, no nrows) — the
    // upgrade story: history must degrade to "unknown", not throw or lie
    val m = new File(s"$dir/_log").listFiles().filter(_.getName.endsWith(".json")).head
    val legacy = """{"version":0,"action":"append","live":[""" +
      TxnTable.snapshot(dir, 0L).live.map("\"" + _ + "\"").mkString(",") + "]}"
    Files.write(m.toPath, legacy.getBytes("UTF-8"))
    // a genuine legacy table has no integrity floor either (round 15:
    // post-floor headerless bytes are corruption, not legacy)
    Files.deleteIfExists(new File(s"$dir/_log", "_integrity").toPath)
    // the rig rewrote a published manifest (legal only for a test
    // simulating a legacy table) — drop the immutability cache
    TxnTable.clearSnapshotCache()
    // the staged dir still has a .nrows sidecar; history reads MANIFESTS
    val h = TxnTable.history(spark, dir).collect()
    assert(h.length == 1 && h(0).isNullAt(5),
      "legacy manifest must surface num_rows as null (unknown)")
    assert(h(0).getTimestamp(1).getTime == 0L)
    assert(rows(dir) == Seq((1, "a")), "legacy manifest must still read")
  }

  test("deleteRange throws CommitConflict when a concurrent append takes base+1") {
    val dir = tmpTable()
    TxnTable.append((0 until 8).map(k => (k, s"r$k")).toDF("id", "v"), dir,
      statsCol = Some("id"))
    val t = new Thread(() =>
      TxnTable.append(Seq((100, "later")).toDF("id", "v"), dir): Unit)
    var deleted = false
    t.start()
    while (!deleted) {
      try { TxnTable.deleteRange(spark, dir, "id", 0L, 3L); deleted = true }
      catch { case _: TxnTable.CommitConflict => () }
    }
    t.join()
    val ids = rows(dir).map(_._1)
    assert(ids == Seq(4, 5, 6, 7, 100),
      s"delete raced an append and lost rows: $ids")
  }

  test("compactClustered throws CommitConflict when a concurrent append takes base+1") {
    val dir = tmpTable()
    TxnTable.append((0 until 8).map(k => (k, s"r$k")).toDF("id", "v"), dir,
      statsCol = Some("id"))
    // simulate the race deterministically: land a concurrent append at
    // base+1 after clustering has read its base snapshot — publishing
    // the stale clustered copy would drop these rows, so it must throw
    val base = TxnTable.latestVersion(dir).get
    TxnTable.append(Seq((99, "late")).toDF("id", "v"), dir)
    assert(TxnTable.latestVersion(dir).get == base + 1)
    // clustering re-reads latest itself, so race it for the NEXT slot
    val t = new Thread(() =>
      TxnTable.append(Seq((100, "later")).toDF("id", "v"), dir): Unit)
    var clustered = false
    t.start()
    while (!clustered) {
      try { TxnTable.compactClustered(spark, dir, "id", 2); clustered = true }
      catch { case _: TxnTable.CommitConflict => () }
    }
    t.join()
    val ids = rows(dir).map(_._1)
    assert(Seq(99, 100).forall(ids.contains),
      s"clustering lost a concurrent append's rows: $ids")
  }

  test("append racing compact: the appended rows are never lost") {
    // The round-8 verified bug: compact delegated to commit()'s rebasing
    // overwrite, so an append landing between compact's read and publish
    // was silently dropped (its rows absent from the compacted live set).
    // Fixed contract: compact publishes ONLY at base+1 and throws
    // CommitConflict when it loses the slot — so every appended row must
    // survive no matter how the race interleaves. Drive many rounds of a
    // real race; the invariant (no lost rows) must hold in all of them.
    val dir = tmpTable()
    TxnTable.append(Seq((-1, "seed")).toDF("id", "v"), dir)
    val rounds = 8
    (0 until rounds).foreach { r =>
      val t = new Thread(() =>
        TxnTable.append(Seq((r, s"race$r")).toDF("id", "v"), dir): Unit)
      t.start()
      // compact concurrently; on conflict re-read and retry (the caller
      // contract) — with the old rebasing code this loop never threw and
      // the racing append's rows vanished instead
      var done = false
      while (!done) {
        try { TxnTable.compact(spark, dir, targetFiles = 1); done = true }
        catch { case _: TxnTable.CommitConflict => () }
      }
      t.join()
    }
    val ids = rows(dir).map(_._1)
    assert((0 until rounds).forall(ids.contains),
      s"compaction lost a concurrent append's rows: only $ids survived")
  }

  test("stage rejects a non-integral statsCol; merge on a string key never prunes") {
    val dir = tmpTable()
    // doubles are neither integral nor string: no sound bound family
    // exists for them (round 13 made STRING columns statsable — see
    // StringStatsSpec — so the old string-rejection pin moved there)
    intercept[IllegalArgumentException] {
      TxnTable.append(Seq((1, 0.5)).toDF("id", "d"), dir, statsCol = Some("d"))
    }: Unit
    // a (legacy / hand-damaged) manifest claiming long bounds for a
    // STRING column must not let merge prune: only SOME values cast to
    // long, so the bounds cover a subset and a "disjoint" dir can still
    // hold a matching key → duplicate after merge. The integral gate on
    // the update key's TYPE ignores such bounds.
    TxnTable.append(Seq(("7", "a"), ("x7", "b")).toDF("k", "v"), dir)
    val d0 = TxnTable.snapshot(dir, 0L).live.head
    val mf = new File(s"$dir/_log", f"v${0L}%020d.json")
    val raw = new String(Files.readAllBytes(mf.toPath), "UTF-8")
    // strip the round-14 integrity header: the rig writes back a LEGACY
    // (headerless) manifest — exactly the hand-damaged shape it models
    val body = raw.substring(raw.indexOf('\n') + 1)
    val patched = body.stripSuffix("}") + s""","stats":{"$d0":"k:7:7"}}"""
    Files.write(mf.toPath, patched.getBytes("UTF-8"))
    // legacy rigs must also drop the round-15 integrity floor, or the
    // headerless bytes read as post-floor corruption
    Files.deleteIfExists(new File(s"$dir/_log", "_integrity").toPath)
    // the rig rewrote a published manifest — drop the immutability cache
    TxnTable.clearSnapshotCache()
    assert(TxnTable.snapshot(dir, 0L).stats.contains(d0), "test rig: stats not injected")
    // update key "x7" is outside the bogus [7,7] long bounds; without the
    // gate the dir is kept "disjoint" and x7 double-inserts
    val v = TxnTable.merge(spark, dir, Seq(("x7", "B")).toDF("k", "v"), Seq("k"))
    val out = TxnTable.read(spark, dir, Some(v)).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(out == Seq(("7", "a"), ("x7", "B")),
      s"string-key merge mis-pruned via unsound long bounds: $out")
  }

  test("readRange: manifest stats prune the planned dir set; no-stats dirs always plan") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (5, "b")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((10, "c"), (19, "d")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((100, "e")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((7, "g")).toDF("id", "v"), dir) // NO stats — unprunable
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.live.size == 4)
    assert(snap.stats.size == 3, "manifest must embed bounds for the 3 stats'd dirs")
    // range [10,20]: hits dir 2 by bounds; dir 4 has no bounds → planned too
    val planned = TxnTable.pruneLive(snap, "id", 10L, 20L)
    assert(planned.size == 2, s"expected 2 planned dirs, got $planned")
    val df = TxnTable.readRange(spark, dir, "id", 10L, 20L)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 19))
    // the scan must plan ONLY the pruned dirs — every input file under them
    val plannedPaths = planned.map(d => new File(s"$dir/data/$d").getCanonicalPath)
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(f => plannedPaths.exists(p => f.contains(new File(p).getName))),
      s"scan planned a dir outside the pruned set: ${df.inputFiles.toSeq}")
    // a range no bounds cover still returns the no-stats dir's matches
    assert(TxnTable.readRange(spark, dir, "id", 6L, 8L)
      .collect().map(_.getInt(0)).toSeq == Seq(7))
    // disjoint range: only the unprunable dir plans; zero matching rows
    assert(TxnTable.readRange(spark, dir, "id", 30L, 40L).count() == 0)
  }

  test("merge: updates replace matching keys, inserts append, history preserved") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), dir)
    val v = TxnTable.merge(spark, dir,
      Seq((2, "B"), (4, "d")).toDF("id", "v"), Seq("id"))
    assert(rows(dir) == Seq((1, "a"), (2, "B"), (3, "c"), (4, "d")),
      "merge must update key 2, insert key 4, keep 1 and 3")
    assert(rows(dir, Some(0L)) == Seq((1, "a"), (2, "b"), (3, "c")),
      "pre-merge snapshot must still time-travel")
    assert(TxnTable.snapshot(dir, v).action == "merge")
    // idempotent replay via txnId
    val v2 = TxnTable.merge(spark, dir,
      Seq((9, "z")).toDF("id", "v"), Seq("id"), txnId = Some("m1"))
    assert(TxnTable.merge(spark, dir,
      Seq((9, "z")).toDF("id", "v"), Seq("id"), txnId = Some("m1")) == v2)
    assert(rows(dir).count(_._1 == 9) == 1, "replayed merge duplicated a row")
  }

  test("stats-pruned merge rewrites only the dirs whose key range overlaps") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((10, "x"), (11, "y")).toDF("id", "v"), dir, statsCol = Some("id"))
    val liveBefore = TxnTable.snapshot(dir, 1L).live
    assert(liveBefore.size == 2)
    val v = TxnTable.merge(spark, dir,
      Seq((10, "X"), (12, "z")).toDF("id", "v"), Seq("id"))
    val after = TxnTable.snapshot(dir, v)
    assert(after.action == "merge")
    assert(after.live.contains(liveBefore.head),
      "dir with keys 1-2 is disjoint from update keys 10-12 and must survive untouched")
    assert(!after.live.contains(liveBefore(1)),
      "dir with keys 10-11 overlaps the updates and must be rewritten")
    assert(rows(dir) == Seq((1, "a"), (2, "b"), (10, "X"), (11, "y"), (12, "z")))
    // the rewritten dir carries stats so FUTURE merges can prune it too
    val newDir = after.live.filterNot(liveBefore.contains).head
    assert(TxnTable.statsOf(dir, newDir).exists(_._1 == "id"))
  }

  test("merge throws CommitConflict when a concurrent commit takes its slot") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    // a "concurrent writer" lands BETWEEN merge's snapshot read and its
    // publish: the squat fires as a side effect of evaluating the update
    // frame, which merge only does after it has fixed its base version.
    // Merge must NOT rebase (a rebase would silently drop the concurrent
    // writer's rows) — it must throw.
    val squat = new File(s"$dir/_log", f"v${1L}%020d.json").getPath
    val updates = spark.range(1).map { _ =>
      // the squat is a LEGACY-style headerless manifest — drop the
      // integrity floor so it parses as legacy, not as corruption
      // (round 15; the conflict check is what this test pins)
      Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/_log/_integrity"))
      Files.write(java.nio.file.Paths.get(squat),
        """{"version":1,"action":"append","live":[]}""".getBytes("UTF-8"))
      (1, "A")
    }.toDF("id", "v")
    intercept[TxnTable.CommitConflict] {
      TxnTable.merge(spark, dir, updates, Seq("id"))
    }: Unit
  }

  test("streaming ingest into a TxnTable is exactly-once under batch replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmpTable()
    val ms = MemoryStream[Int]
    val q = graft.streaming.EventStream.txnTableSink(ms.toDF(), dir).start()
    try {
      ms.addData(1, 2); q.processAllAvailable()
      ms.addData(3); q.processAllAvailable()
      assert(TxnTable.read(spark, dir).count() == 3)
      // at-least-once replay of batch 1 (same txnId) must be a no-op
      TxnTable.append(Seq(3).toDF("value"), dir, txnId = Some("batch-1"))
      assert(TxnTable.read(spark, dir).count() == 3,
        "replayed micro-batch duplicated rows")
    } finally q.stop()
  }

  test("changes: append windows take the file-level fast path; merges diff content") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((3, "c")).toDF("id", "v"), dir, statsCol = Some("id"))
    def cdc(f: Long, t: Long): Set[(Int, String, String)] =
      TxnTable.changes(spark, dir, f, t).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getAs[String]("_change"))).toSet
    // pure-append window: only the new dir's rows, all inserts
    assert(cdc(0L, 1L) == Set((3, "c", "insert")))
    assert(cdc(0L, 0L) == Set.empty, "empty window must yield no changes")
    // a merge updates id 2 and inserts id 4: CDF shows delete+insert
    TxnTable.merge(spark, dir, Seq((2, "B"), (4, "d")).toDF("id", "v"), Seq("id"))
    assert(cdc(1L, 2L) == Set((2, "b", "delete"), (2, "B", "insert"), (4, "d", "insert")),
      "merge window must surface the update as delete+insert, untouched rows absent")
  }

  test("schema-on-write: drifted appends throw; overwrite evolves explicitly") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    // same columns, different type — must be rejected, not silently read
    intercept[TxnTable.SchemaMismatch] {
      TxnTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
    }
    // renamed column — rejected too
    intercept[TxnTable.SchemaMismatch] {
      TxnTable.append(Seq((2, "b")).toDF("id", "w"), dir)
    }
    intercept[TxnTable.SchemaMismatch] {
      TxnTable.merge(spark, dir, Seq((1, "A")).toDF("id", "w"), Seq("id"))
    }
    assert(rows(dir) == Seq((1, "a")), "rejected commits must leave no trace")
    // explicit overwrite evolves the schema; appends then follow the new one
    TxnTable.overwrite(Seq((9L, "z", true)).toDF("id", "v", "flag"), dir)
    TxnTable.append(Seq((10L, "y", false)).toDF("id", "v", "flag"), dir)
    assert(TxnTable.read(spark, dir).count() == 2)
  }

  test("checkpoint: latest resolves by bounded probe from _last_checkpoint, not a log listing") {
    val dir = tmpTable()
    (0 to 11).foreach(i => TxnTable.append(Seq((i, s"r$i")).toDF("id", "v"), dir))
    assert(TxnTable.lastCheckpoint(dir) == Some(10L),
      "12 commits must have checkpointed at v10")
    assert(TxnTable.latestVersion(dir) == Some(11L))
    // pin the BOUNDED path: a stray high-numbered file in _log fools a
    // full listing (versions() returns it) but not the forward probe,
    // which only accepts a contiguous chain from the checkpoint
    Files.write(new File(s"$dir/_log", f"v${99L}%020d.json").toPath,
      """{"version":99,"action":"append","live":["junk"]}""".getBytes("UTF-8"))
    assert(TxnTable.versions(dir).contains(99L), "test rig: stray manifest not listed")
    assert(TxnTable.latestVersion(dir) == Some(11L),
      "latestVersion listed the log instead of probing from the checkpoint")
    assert(rows(dir).map(_._1) == (0 to 11), "checkpointed table read wrong content")
  }

  test("retention: reads and CDC behind the vacuum horizon throw the typed error") {
    val dir = tmpTable()
    (0 until 3).foreach(i => TxnTable.append(Seq((i, s"r$i")).toDF("id", "v"), dir))
    TxnTable.vacuum(dir, retain = 1)
    val e = intercept[TxnTable.RetentionError] { TxnTable.read(spark, dir, Some(0L)) }
    assert(e.getMessage.contains("retention"), e.getMessage)
    intercept[TxnTable.RetentionError] { TxnTable.changes(spark, dir, 0L, 2L) }: Unit
    // a version that NEVER existed is a different, non-retention error
    intercept[IllegalArgumentException] { TxnTable.snapshot(dir, 50L) }: Unit
    // the pointer moved into the retained window: latest still resolves
    assert(TxnTable.latestVersion(dir) == Some(2L))
    // the retained append manifest still references all three data dirs
    assert(rows(dir) == Seq((0, "r0"), (1, "r1"), (2, "r2")))
  }

  test("partitioned table: overwritePartitions replaces only named partitions, atomically versioned") {
    val dir = tmpTable()
    val v0 = Seq((1, "F", 10L), (2, "O", 20L), (3, "P", 30L), (4, "O", 40L))
      .toDF("id", "st", "c")
    assert(TxnTable.overwritePartitions(spark, dir, v0, "st") == 0L)
    val s0 = TxnTable.snapshot(dir, 0L)
    assert(s0.live.size == 3 && s0.parts.size == 3,
      s"expected one dir per partition value with manifest parts: $s0")
    // replace ONLY partition O; F and P dirs must survive untouched
    val v1 = Seq((2, "O", 200L), (9, "O", 900L)).toDF("id", "st", "c")
    assert(TxnTable.overwritePartitions(spark, dir, v1, "st") == 1L)
    val s1 = TxnTable.snapshot(dir, 1L)
    val fDir = s0.live.find(d => s0.parts(d) == (("st", "F"))).get
    assert(s1.live.contains(fDir), "unrelated partition F was rewritten")
    assert(!s1.live.exists(d => s0.parts.get(d) == Some(("st", "O"))),
      "old O dir must leave the live set")
    def all(v: Long) = TxnTable.read(spark, dir, Some(v)).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(all(1L) == Seq((1, "F", 10L), (2, "O", 200L), (3, "P", 30L), (9, "O", 900L)))
    assert(all(0L) == Seq((1, "F", 10L), (2, "O", 20L), (3, "P", 30L), (4, "O", 40L)),
      "pre-commit snapshot must time-travel the replaced partition")
  }

  test("partition read prunes the planned dirs; unpartitioned live dirs make the writer throw") {
    val dir = tmpTable()
    TxnTable.overwritePartitions(spark, dir,
      Seq((1, "F", 10L), (2, "O", 20L), (3, "P", 30L)).toDF("id", "st", "c"), "st")
    TxnTable.overwritePartitions(spark, dir,
      Seq((9, "O", 900L)).toDF("id", "st", "c"), "st")
    // read partition F BEHIND the later unrelated-partition commit
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    val planned = TxnTable.prunePartition(snap, "st", "F")
    assert(planned.size == 1 && snap.live.size == 3,
      s"partition pruning regressed: ${planned.size} of ${snap.live.size}")
    val df = TxnTable.readPartition(spark, dir, "st", "F")
    assert(df.collect().map(r => (r.getInt(0), r.getLong(2))).toSeq == Seq((1, 10L)))
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains(planned.head)),
      "partition read planned dirs outside the pruned set")
    // an unpartitioned append poisons partition accounting → next
    // overwritePartitions must refuse rather than guess
    TxnTable.append(Seq((7, "F", 70L)).toDF("id", "st", "c"), dir)
    intercept[IllegalStateException] {
      TxnTable.overwritePartitions(spark, dir,
        Seq((8, "P", 80L)).toDF("id", "st", "c"), "st")
    }
    // but the partition READ stays correct: the unknown dir is planned
    // and the residual filter keeps only matching rows
    assert(TxnTable.readPartition(spark, dir, "st", "F").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 7))
  }

  test("vacuum retains requested history and reaps the rest") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    TxnTable.append(Seq((2, "b")).toDF("id", "v"), dir)
    TxnTable.overwrite(Seq((3, "c")).toDF("id", "v"), dir)
    TxnTable.vacuum(dir, retain = 1)
    assert(TxnTable.versions(dir) == Seq(2L), "old manifests survived vacuum")
    assert(rows(dir) == Seq((3, "c")))
    // only the overwrite's dir remains under data/
    val dataDirs = new File(s"$dir/data").listFiles().filter(_.isDirectory)
    assert(dataDirs.length == 1, "unreferenced data dirs survived vacuum")
    intercept[Exception] { TxnTable.read(spark, dir, Some(0L)) }: Unit
  }

  test("deleteRangeDV: merge-on-read — live set unchanged, dvs pruned+cumulative, CDC sees deletes") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l"), (13, "m")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    val pre = TxnTable.snapshot(dir, 1L)
    val v = TxnTable.deleteRangeDV(spark, dir, "id", 2L, 3L)
    assert(v == 2L)
    val post = TxnTable.snapshot(dir, v)
    // the whole point: NOTHING rewritten — the live set is byte-identical
    assert(post.live == pre.live, "dv delete rewrote data dirs")
    // stats pruned the dv staging: only the [1,4] dir gained a dv
    assert(post.dvs.size == 1 && post.dvs.contains(pre.live.head),
      s"expected one dv on the overlapping dir, got ${post.dvs}")
    assert(rows(dir) == Seq((1, "a"), (4, "d"), (11, "k"), (12, "l"), (13, "m")))
    // time travel still sees the deleted rows
    assert(rows(dir, Some(1L)).map(_._1) == Seq(1, 2, 3, 4, 11, 12, 13))
    // history reports EFFECTIVE rows (physical - dv) from metadata alone
    val h = TxnTable.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(5))).toMap
    assert(h(2L) == 5L && h(1L) == 7L, s"effective row counts wrong: $h")
    // CDC across the dv commit surfaces exactly the purged rows as deletes
    val ch = TxnTable.changes(spark, dir, 1L, 2L).collect()
      .map(r => (r.getInt(0), r.getAs[String]("_change"))).sorted.toSeq
    assert(ch == Seq((2, "delete"), (3, "delete")), s"CDC feed wrong: $ch")
    // cumulative: a second dv on the same dir supersedes (still one entry)
    TxnTable.deleteRangeDV(spark, dir, "id", 4L, 4L)
    val post2 = TxnTable.snapshot(dir, 3L)
    assert(post2.dvs.size == 1 && post2.dvs(pre.live.head) != post.dvs(pre.live.head),
      "second dv delete must supersede the dir's dv")
    assert(rows(dir).map(_._1) == Seq(1, 11, 12, 13))
    // point read through the dv: bloom says maybe, the dv says gone
    assert(TxnTable.readPoint(spark, dir, "id", 3L).count() == 0L)
    assert(TxnTable.readRange(spark, dir, "id", 1L, 4L).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    // vacuum keeps referenced dv dirs; compaction materializes them away
    TxnTable.vacuum(dir, retain = 1)
    assert(rows(dir).map(_._1) == Seq(1, 11, 12, 13), "vacuum reaped a live dv")
    TxnTable.compact(spark, dir, targetFiles = 1)
    val packed = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(packed.dvs.isEmpty, "compaction must materialize deletion vectors")
    assert(rows(dir).map(_._1) == Seq(1, 11, 12, 13))
  }

  test("deleteWhereDV: predicate dvs; merge reads through them; restore re-references them") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "x"), (2, "y"), (3, "x")).toDF("id", "v"), dir)
    val v1 = TxnTable.deleteWhereDV(spark, dir,
      org.apache.spark.sql.functions.col("v") === "x")
    assert(rows(dir) == Seq((2, "y")))
    // a no-match dv delete keeps the existing dv entry (no redundant dir)
    val dvBefore = TxnTable.snapshot(dir, v1).dvs
    TxnTable.deleteWhereDV(spark, dir,
      org.apache.spark.sql.functions.col("v") === "zzz")
    assert(TxnTable.snapshot(dir, v1 + 1L).dvs == dvBefore,
      "no-match dv delete should not mint a new dv dir")
    // merge reads THROUGH the dv: deleted id=1 must not resurrect, and
    // the upsert's own id=1 row inserts fresh
    TxnTable.merge(spark, dir, Seq((1, "new"), (2, "upd")).toDF("id", "v"), Seq("id"))
    assert(rows(dir) == Seq((1, "new"), (2, "upd")))
    // restore to the dv'd version re-references the dv (metadata-only)
    TxnTable.restore(spark, dir, v1)
    assert(rows(dir) == Seq((2, "y")), "restore lost the deletion vector")
    // append after dv: prior dvs carry forward
    TxnTable.append(Seq((9, "z")).toDF("id", "v"), dir)
    assert(rows(dir) == Seq((2, "y"), (9, "z")))
  }

  test("updateRange: stats-pruned CoW SET; disjoint dirs untouched; no-op is metadata-only; CDC + travel") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    val pre = TxnTable.snapshot(dir, 1L)
    val v = TxnTable.updateRange(spark, dir, "id", 2L, 3L,
      Map("v" -> org.apache.spark.sql.functions.lit("Z")))
    assert(v == 2L)
    val post = TxnTable.snapshot(dir, v)
    // the [11,12] dir is provably disjoint: byte-untouched in the live set
    assert(post.live.contains(pre.live(1)) && !post.live.contains(pre.live.head),
      "update must rewrite only the overlapping dir")
    assert(post.action == "update")
    assert(rows(dir) == Seq((1, "a"), (2, "Z"), (3, "Z"), (4, "d"), (11, "k"), (12, "l")))
    // time travel still reads pre-update values
    assert(rows(dir, Some(1L)) == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (11, "k"), (12, "l")))
    // CDC surfaces the update as delete+insert of exactly the touched rows
    val ch = TxnTable.changes(spark, dir, 1L, 2L).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getAs[String]("_change"))).sorted.toSeq
    assert(ch == Seq((2, "Z", "insert"), (2, "b", "delete"),
      (3, "Z", "insert"), (3, "c", "delete")), s"CDC feed wrong: $ch")
    // provably-no-match update: commits metadata-only, live set identical
    TxnTable.updateRange(spark, dir, "id", 100L, 200L,
      Map("v" -> org.apache.spark.sql.functions.lit("!")))
    val noop = TxnTable.snapshot(dir, 3L)
    assert(noop.live == post.live && noop.action == "update",
      "no-match update must not stage any data")
    // type discipline: SET casts to the column's existing type
    val bad = intercept[IllegalArgumentException] {
      TxnTable.updateRange(spark, dir, "id", 1L, 1L,
        Map("nope" -> org.apache.spark.sql.functions.lit(1)))
    }
    assert(bad.getMessage.contains("unknown column"))
  }

  test("updateWhere: predicate SET; NULL predicate keeps the row unmodified; reads through dvs") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "x", 10L), (2, null, 20L), (3, "x", 30L), (4, "y", 40L))
      .toDF("id", "tag", "p"), dir)
    // dv-delete id=4 first: the update must read THROUGH the dv (no resurrection)
    TxnTable.deleteWhereDV(spark, dir, org.apache.spark.sql.functions.col("id") === 4)
    TxnTable.updateWhere(spark, dir,
      org.apache.spark.sql.functions.col("tag") === "x",
      Map("p" -> (org.apache.spark.sql.functions.col("p") * 2)))
    val got = TxnTable.read(spark, dir).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)).getOrElse("-"), r.getLong(2)))
      .sortBy(_._1).toSeq
    // NULL tag (id=2) is untouched — SQL UPDATE WHERE semantics
    assert(got == Seq((1, "x", 20L), (2, "-", 20L), (3, "x", 60L)), s"got $got")
    // the full rewrite materialized the dv away
    assert(TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get).dvs.isEmpty)
  }

  test("update SET evaluates predicate and every RHS against the PRE-image (fuzz seed 6 regression)") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    TxnTable.append(Seq((1, "B", 10L), (2, "A", 20L)).toDF("id", "part", "value"), dir)
    // SET relabels the predicate column AND bumps value: both must fire
    TxnTable.updateWhere(spark, dir, col("part") === "B",
      Map("part" -> lit("U"), "value" -> (col("value") + 3L)))
    val got = TxnTable.read(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((1, "U", 13L), (2, "A", 20L)), s"got $got")
    // SET columns referencing EACH OTHER: a swap must be exact
    val d2 = tmpTable()
    TxnTable.append(Seq((1, "x", 7L)).toDF("id", "part", "value"), d2)
    TxnTable.updateRange(spark, d2, "id", 1L, 1L,
      Map("part" -> org.apache.spark.sql.functions.concat(col("part"), lit(":"),
          col("value").cast("string")),
        "value" -> (col("value") * 2)))
    val r2 = TxnTable.read(spark, d2).collect()
      .map(r => (r.getString(1), r.getLong(2))).head
    assert(r2 == ("x:7", 14L), s"got $r2")
  }

  test("updateRangeDV: merge-on-read SET — untouched dirs byte-identical, matched rows dv'd + re-appended") {
    import org.apache.spark.sql.functions.lit
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    val pre = TxnTable.snapshot(dir, 1L)
    val v = TxnTable.updateRangeDV(spark, dir, "id", 2L, 3L, Map("v" -> lit("Z")))
    assert(v == 2L)
    val post = TxnTable.snapshot(dir, v)
    // the whole point: every pre-update dir is byte-identical in the live
    // set; exactly one appended dir carries the rewritten rows
    assert(post.live.startsWith(pre.live) && post.live.size == pre.live.size + 1,
      s"MoR update must append one dir, got ${post.live.size} vs ${pre.live.size}")
    // stats pruned the dv staging: only the [1,4] dir gained a dv
    assert(post.dvs.size == 1 && post.dvs.contains(pre.live.head),
      s"expected one dv on the overlapping dir, got ${post.dvs}")
    assert(rows(dir) == Seq((1, "a"), (2, "Z"), (3, "Z"), (4, "d"), (11, "k"), (12, "l")))
    // MoR content ≡ what the CoW form produces
    val cow = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      cow, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      cow, statsCol = Some("id"))
    TxnTable.updateRange(spark, cow, "id", 2L, 3L, Map("v" -> lit("Z")))
    assert(rows(dir).sorted == rows(cow).sorted, "MoR and CoW update diverge")
    // time travel still reads pre-update values
    assert(rows(dir, Some(1L)) == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (11, "k"), (12, "l")))
    // CDC surfaces the MoR update as delete+insert (dv delta forces the
    // multiset path — the grown live set must NOT take the append fast path)
    val ch = TxnTable.changes(spark, dir, 1L, 2L).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getAs[String]("_change"))).sorted.toSeq
    assert(ch == Seq((2, "Z", "insert"), (2, "b", "delete"),
      (3, "Z", "insert"), (3, "c", "delete")), s"CDC feed wrong: $ch")
    // history's effective counts: physical grew by 2, dv'd 2 → net 6
    val h = TxnTable.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(5))).toMap
    assert(h(2L) == 6L && h(1L) == 6L, s"effective row counts wrong: $h")
    // provably-no-match MoR update: metadata-only, nothing staged
    TxnTable.updateRangeDV(spark, dir, "id", 100L, 200L, Map("v" -> lit("!")))
    val noop = TxnTable.snapshot(dir, 3L)
    assert(noop.live == post.live && noop.dvs == post.dvs,
      "no-match MoR update must not stage data or dvs")
    // an already-dv'd row must NOT resurrect into the rewrite
    TxnTable.deleteRangeDV(spark, dir, "id", 4L, 4L)
    TxnTable.updateRangeDV(spark, dir, "id", 1L, 4L, Map("v" -> lit("W")))
    assert(rows(dir).sorted == Seq((1, "W"), (2, "W"), (3, "W"), (11, "k"), (12, "l")),
      "dv'd id=4 resurrected through the MoR update")
    // compaction materializes both the dvs and the appended fragments
    TxnTable.compact(spark, dir, targetFiles = 1)
    val packed = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(packed.dvs.isEmpty && packed.live.size == 1)
    assert(rows(dir).sorted == Seq((1, "W"), (2, "W"), (3, "W"), (11, "k"), (12, "l")))
  }

  test("mergeDV: merge-on-read upsert — untouched dirs byte-identical, old key versions dv'd, batch appended") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    val pre = TxnTable.snapshot(dir, 1L)
    // batch = one matched key (2), one insert (99) — bounds [2, 99] span
    // both dirs, so pruning keeps both as dv candidates; only the first
    // actually matches and gains a dv
    val v = TxnTable.mergeDV(spark, dir,
      Seq((2, "B2"), (99, "new")).toDF("id", "v"), Seq("id"))
    assert(v == 2L)
    val post = TxnTable.snapshot(dir, v)
    assert(post.action == "merge" &&
      post.live.startsWith(pre.live) && post.live.size == pre.live.size + 1,
      s"MoR merge must append one dir: ${post.live}")
    assert(post.dvs.size == 1 && post.dvs.contains(pre.live.head),
      s"only the matched dir gains a dv, got ${post.dvs}")
    assert(rows(dir).sorted ==
      Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d"), (11, "k"), (12, "l"), (99, "new")))
    // MoR content ≡ CoW merge content
    val cow = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      cow, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      cow, statsCol = Some("id"))
    TxnTable.merge(spark, cow, Seq((2, "B2"), (99, "new")).toDF("id", "v"), Seq("id"))
    assert(rows(dir).sorted == rows(cow).sorted, "MoR and CoW merge diverge")
    // time travel reads the pre-merge state
    assert(rows(dir, Some(1L)).sorted ==
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (11, "k"), (12, "l")))
    // CDC: matched key surfaces as delete+insert, insert as insert
    val ch = TxnTable.changes(spark, dir, 1L, 2L).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getAs[String]("_change"))).sorted.toSeq
    assert(ch == Seq((2, "B2", "insert"), (2, "b", "delete"), (99, "new", "insert")),
      s"CDC feed wrong: $ch")
    // stats pruning: a merge whose key bounds miss a dir leaves it out of
    // the dv probe — batch [11, 12] cannot touch the [1, 4] dir
    TxnTable.mergeDV(spark, dir, Seq((11, "K2"), (12, "L2")).toDF("id", "v"), Seq("id"))
    val post2 = TxnTable.snapshot(dir, 3L)
    assert(post2.dvs.keySet == Set(pre.live.head, pre.live(1)),
      s"expected dvs only on the seed dirs, got ${post2.dvs.keySet}")
    assert(rows(dir).sorted ==
      Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d"), (11, "K2"), (12, "L2"), (99, "new")))
    // an already-dv'd row must not resurrect: dv id=1, then merge id=1
    TxnTable.deleteRangeDV(spark, dir, "id", 1L, 1L)
    TxnTable.mergeDV(spark, dir, Seq((1, "A2")).toDF("id", "v"), Seq("id"))
    assert(rows(dir).sorted ==
      Seq((1, "A2"), (2, "B2"), (3, "c"), (4, "d"), (11, "K2"), (12, "L2"), (99, "new")))
    // a duplicate-key batch is rejected before staging, as in CoW
    val beforeDup = TxnTable.latestVersion(dir)
    intercept[IllegalArgumentException] {
      TxnTable.mergeDV(spark, dir, Seq((50, "x"), (50, "y")).toDF("id", "v"), Seq("id"))
    }
    assert(TxnTable.latestVersion(dir) == beforeDup && !rows(dir).exists(_._1 == 50))
    // idempotent under txnId replay
    val vm = TxnTable.mergeDV(spark, dir, Seq((60, "z")).toDF("id", "v"),
      Seq("id"), txnId = Some("m-1"))
    assert(TxnTable.mergeDV(spark, dir, Seq((60, "z")).toDF("id", "v"),
      Seq("id"), txnId = Some("m-1")) == vm)
    assert(TxnTable.latestVersion(dir).contains(vm))
    // compaction materializes the dvs and fragments away
    TxnTable.compact(spark, dir, targetFiles = 1)
    val packed = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(packed.dvs.isEmpty && packed.live.size == 1)
    assert(rows(dir).sorted == Seq((1, "A2"), (2, "B2"), (3, "c"), (4, "d"),
      (11, "K2"), (12, "L2"), (60, "z"), (99, "new")))
  }

  test("mergeInto: ordered WHEN MATCHED clauses, cross-side refs, conditional insert, pruning, NULL keys") {
    import org.apache.spark.sql.functions.{col, lit}
    import TxnTable.{MatchedDelete, MatchedUpdate}
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a", 10L), (2, "b", 10L), (3, "c", 10L), (4, "d", 1L))
      .toDF("id", "v", "amt"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k", 100L), (12, "l", 10L)).toDF("id", "v", "amt"),
      dir, statsCol = Some("id"))
    val source = Seq((2, "S2", 99L), (3, "S3", 1L), (4, "S4", 2L),
      (11, "S11", 50L), (77, "new", 7L)).toDF("id", "v", "amt")
    // clause order is FIRST-true-wins: id=4's source amt (2) fires the
    // delete AND the update condition — the delete, listed first, wins
    val v = TxnTable.mergeInto(spark, dir, source, Seq("id"), Seq(
      MatchedDelete(col("_src_amt") < 5L),
      MatchedUpdate(col("_src_amt") > col("amt"),
        Map("v" -> col("_src_v"), "amt" -> col("_src_amt")))))
    assert(v == 2L)
    val got = TxnTable.read(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1, "a", 10L),    // unmatched target: unchanged
      (2, "S2", 99L),   // update clause fired (99 > 10)
      // 3 deleted (src amt 1 < 5); 4 deleted FIRST even though update also fired
      (11, "k", 100L),  // matched, no clause fired (50 < 100): unchanged
      (12, "l", 10L),   // unmatched target: unchanged
      (77, "new", 7L)), // not matched: inserted
      s"got $got")
    // rewrite pruning: a source confined to one dir's key range keeps
    // the other dir byte-identical in the live set (fresh two-dir table)
    val pd2 = tmpTable()
    TxnTable.append(Seq((1, "a", 10L), (2, "b", 10L)).toDF("id", "v", "amt"),
      pd2, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k", 10L), (12, "l", 10L)).toDF("id", "v", "amt"),
      pd2, statsCol = Some("id"))
    val pre = TxnTable.snapshot(pd2, 1L)
    TxnTable.mergeInto(spark, pd2, Seq((1, "A!", 11L)).toDF("id", "v", "amt"),
      Seq("id"), Seq(MatchedUpdate(lit(true),
        Map("v" -> col("_src_v"), "amt" -> col("_src_amt")))))
    val post = TxnTable.snapshot(pd2, 2L)
    assert(post.live.size == 2 && post.live.contains(pre.live(1)),
      s"key-disjoint dir must be kept: ${post.live} vs ${pre.live}")
    assert(TxnTable.read(spark, pd2).collect().exists(r =>
      r.getInt(0) == 1 && r.getString(1) == "A!"))
    // conditional insert: a false condition drops not-matched rows
    TxnTable.mergeInto(spark, dir, Seq((200, "no", 1L)).toDF("id", "v", "amt"),
      Seq("id"), Seq.empty, insertNotMatched = true, insertCond = lit(false))
    assert(!TxnTable.read(spark, dir).collect().exists(_.getInt(0) == 200))
    // NULL keys never match: a null-key target row keeps, a null-key
    // source row inserts (SQL MERGE)
    val nd = tmpTable()
    TxnTable.append(Seq((Some(1), "x", 1L), (None, "t-null", 2L))
      .toDF("id", "v", "amt"), nd)
    TxnTable.mergeInto(spark, nd,
      Seq((Option.empty[Int], "s-null", 3L)).toDF("id", "v", "amt"),
      Seq("id"), Seq(MatchedDelete(lit(true))))
    val ndGot = TxnTable.read(spark, nd).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(ndGot == Set((Some(1), "x"), (None, "t-null"), (None, "s-null")),
      s"got $ndGot")
    // idempotent under txnId replay
    val vm = TxnTable.mergeInto(spark, dir, Seq((1, "again", 1L)).toDF("id", "v", "amt"),
      Seq("id"), Seq(MatchedUpdate(lit(true), Map("v" -> col("_src_v")))),
      txnId = Some("mi-1"))
    assert(TxnTable.mergeInto(spark, dir, Seq((1, "again", 1L)).toDF("id", "v", "amt"),
      Seq("id"), Seq(MatchedUpdate(lit(true), Map("v" -> col("_src_v")))),
      txnId = Some("mi-1")) == vm)
    // SET on a key column is rejected
    intercept[IllegalArgumentException] {
      TxnTable.mergeInto(spark, dir, Seq((1, "z", 1L)).toDF("id", "v", "amt"),
        Seq("id"), Seq(MatchedUpdate(lit(true), Map("id" -> lit(9)))))
    }
  }

  test("updateWhereDV: predicate MoR SET — pre-image semantics, NULL keeps the row, idempotent txnId") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    TxnTable.append(Seq((1, "B", 10L), (2, null, 20L), (3, "B", 30L), (4, "A", 40L))
      .toDF("id", "part", "value"), dir)
    val pre = TxnTable.snapshot(dir, 0L)
    // SET relabels the predicate column AND bumps value — pre-image rules
    val v = TxnTable.updateWhereDV(spark, dir, col("part") === "B",
      Map("part" -> lit("U"), "value" -> (col("value") + 3L)))
    val post = TxnTable.snapshot(dir, v)
    assert(post.live.startsWith(pre.live) && post.live.size == 2 && post.dvs.size == 1)
    val got = TxnTable.read(spark, dir).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)).getOrElse("-"), r.getLong(2)))
      .sortBy(_._1).toSeq
    // NULL part (id=2) untouched — SQL UPDATE WHERE semantics
    assert(got == Seq((1, "U", 13L), (2, "-", 20L), (3, "U", 33L), (4, "A", 40L)),
      s"got $got")
    // replayed txnId is a no-op returning the original version
    val v2 = TxnTable.updateWhereDV(spark, dir, col("part") === "A",
      Map("value" -> lit(0L)), txnId = Some("upd-1"))
    assert(TxnTable.updateWhereDV(spark, dir, col("part") === "A",
      Map("value" -> lit(0L)), txnId = Some("upd-1")) == v2)
    assert(TxnTable.latestVersion(dir).contains(v2))
  }

  test("CHECK constraints: write-rejecting, validated on add, NULL passes, survive restore") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    val vAdd = TxnTable.addConstraint(spark, dir, "id_pos", "id > 0")
    assert(TxnTable.snapshot(dir, vAdd).action == "addConstraint")
    // a valid append lands and CARRIES the constraint forward
    TxnTable.append(Seq((3, "c")).toDF("id", "v"), dir)
    assert(TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
      .constraints == Map("id_pos" -> "id > 0"))
    // a violating append throws the TYPED error and leaves NO trace
    val before = TxnTable.latestVersion(dir).get
    val liveBefore = TxnTable.snapshot(dir, before).live
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((0, "zero"), (9, "ok")).toDF("id", "v"), dir)
    }
    assert(TxnTable.latestVersion(dir).contains(before) &&
      TxnTable.snapshot(dir, before).live == liveBefore,
      "rejected write left a trace")
    // NULL evaluates as pass — standard SQL CHECK semantics
    TxnTable.addConstraint(spark, dir, "v_short", "length(v) <= 3")
    TxnTable.append(Seq((7, null: String)).toDF("id", "v"), dir)
    assert(rows(dir).map(_._1).contains(7))
    // adding a constraint the EXISTING data violates throws; not committed
    val beforeBad = TxnTable.latestVersion(dir).get
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.addConstraint(spark, dir, "id_small", "id < 2")
    }
    assert(TxnTable.latestVersion(dir).contains(beforeBad))
    // UPDATE paths are covered by the same gate (stage): a SET that
    // drives a row out of bounds is rejected, table unchanged
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.updateWhere(spark, dir, col("id") === 1,
        Map("id" -> (col("id") - 5)))
    }
    assert(rows(dir).map(_._1).sorted == Seq(1, 2, 3, 7))
    // compaction of valid data passes through the constraint gate
    TxnTable.compact(spark, dir, targetFiles = 1)
    assert(rows(dir).map(_._1).sorted == Seq(1, 2, 3, 7))
    // constraints survive restore (governance does not roll back)
    TxnTable.restore(spark, dir, vAdd)
    assert(TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
      .constraints.keySet == Set("id_pos", "v_short"))
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((-1, "x")).toDF("id", "v"), dir)
    }
    // drop: the constraint stops binding; the other still holds
    TxnTable.dropConstraint(dir, "id_pos")
    TxnTable.append(Seq((-1, "x")).toDF("id", "v"), dir)
    assert(rows(dir).map(_._1).contains(-1))
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((5, "toolong")).toDF("id", "v"), dir)
    }
    // replayed addConstraint txnId is a no-op
    val vc = TxnTable.addConstraint(spark, dir, "again", "id > -10",
      txnId = Some("c-1"))
    assert(TxnTable.addConstraint(spark, dir, "again2", "id > -10",
      txnId = Some("c-1")) == vc)
  }

  test("vacuumDryRun previews exactly what vacuum reaps; orphan grace protects fresh staging dirs") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    TxnTable.overwrite(Seq((2, "b")).toDF("id", "v"), dir)
    // plant an orphan (a crashed writer's staged dir, never published)
    val orphan = new java.io.File(new java.io.File(dir, "data"), "txn-orphan")
    orphan.mkdirs()
    java.nio.file.Files.write(new java.io.File(orphan, "junk").toPath,
      "x".getBytes("UTF-8"))
    // dry run: v0 drops, v0's dir + the orphan reap — nothing touched yet
    val (drop, reap) = TxnTable.vacuumDryRun(dir, retain = 1)
    val v0dir = TxnTable.snapshot(dir, 0L).live.head
    assert(drop == Seq(0L) && reap.toSet == Set(v0dir, "txn-orphan"),
      s"dry run wrong: $drop / $reap")
    assert(TxnTable.versions(dir) == Seq(0L, 1L) && orphan.exists(),
      "dry run must not delete anything")
    // a generous grace period protects the fresh orphan (an in-flight
    // writer), but NOT the old version's dir once its manifest drops
    TxnTable.vacuum(dir, retain = 1, orphanGraceMs = 3600000L)
    assert(orphan.exists(), "grace period must protect the fresh staging dir")
    assert(TxnTable.versions(dir) == Seq(1L))
    // the zero-grace pass then reaps both the orphan and v0's dir
    TxnTable.vacuum(dir, retain = 1)
    assert(!orphan.exists(), "zero-grace vacuum must reap the orphan")
    assert(!new java.io.File(new java.io.File(dir, "data"), v0dir).exists())
    assert(TxnTable.read(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("restore and vacuum are equality-delete aware") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), dir)
    TxnTable.deleteKeysEq(spark, dir, Seq(2).toDF("id"))     // v1: tombstone
    TxnTable.append(Seq((4, "d")).toDF("id", "v"), dir)      // v2
    TxnTable.deleteKeysEq(spark, dir, Seq(3).toDF("id"))     // v3: tombstone
    // restore to v1: the SECOND tombstone must vanish, the first bind
    TxnTable.restore(spark, dir, 1L)
    assert(rows(dir).sorted == Seq((1, "a"), (3, "c")),
      "restore must re-pin exactly v1's eq set")
    val latest = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(latest.eqs.size == 1)
    // vacuum to latest-only: the restored manifest still references the
    // v1 eq dir — it must survive and keep filtering
    TxnTable.vacuum(dir, retain = 1)
    assert(rows(dir).sorted == Seq((1, "a"), (3, "c")),
      "vacuum reaped an eq dir a retained manifest references")
  }

  test("generated columns: computed when omitted, validated when supplied, declaration gated on existing data") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append(Seq((10, "x", 1), (25, "y", 2)).toDF("amt", "v", "band"), dir)
    // declaring over CONFORMING data (band = amt DIV 10) lands
    TxnTable.addGeneratedColumn(spark, dir, "band", "cast(amt div 10 as int)")
    assert(TxnTable.snapshot(dir, 1L).action == "addGenerated")
    // an append OMITTING the column gets it computed, in table order
    TxnTable.append(Seq((37, "z")).toDF("amt", "v"), dir)
    val got = TxnTable.read(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(got == Seq((10, "x", 1), (25, "y", 2), (37, "z", 3)), s"got $got")
    // a supplied-but-WRONG value is rejected traceless
    val before = TxnTable.latestVersion(dir).get
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((40, "bad", 99)).toDF("amt", "v", "band"), dir)
    }
    assert(TxnTable.latestVersion(dir).contains(before))
    // a supplied-and-CORRECT value passes the same gate
    TxnTable.append(Seq((55, "ok", 5)).toDF("amt", "v", "band"), dir)
    assert(rows3(dir).contains((55, "ok", 5)))
    // an UPDATE that breaks the generation is rejected (stage gate
    // covers every writer)
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.updateWhere(spark, dir, col("amt") === 10,
        Map("band" -> org.apache.spark.sql.functions.lit(7)))
    }
    // declaring over NON-conforming data throws; nothing committed
    val nc = tmpTable()
    TxnTable.append(Seq((10, "x", 9)).toDF("amt", "v", "band"), nc)
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.addGeneratedColumn(spark, nc, "band", "cast(amt div 10 as int)")
    }
    assert(TxnTable.latestVersion(nc).contains(0L))
    intercept[IllegalArgumentException] { // duplicate declaration
      TxnTable.addGeneratedColumn(spark, dir, "band", "cast(amt div 10 as int)")
    }
    // clone inherits the generation
    val fork = tmpTable()
    TxnTable.cloneTable(spark, dir, fork)
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((60, "f", 99)).toDF("amt", "v", "band"), fork)
    }
    TxnTable.append(Seq((60, "f")).toDF("amt", "v"), fork)
    assert(rows3(fork).contains((60, "f", 6)))
    // drop: the column stays but stops being computed/validated
    TxnTable.dropGeneratedColumn(dir, "band")
    TxnTable.append(Seq((70, "free", 99)).toDF("amt", "v", "band"), dir)
    assert(rows3(dir).contains((70, "free", 99)))
  }

  private def rows3(dir: String): Seq[(Int, String, Int)] =
    TxnTable.read(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq

  test("deleteKeysEq: zero-scan equality delete — manifest scoping, later appends unaffected, auto-materialize") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    val pre = TxnTable.snapshot(dir, 1L)
    // delete keys 2, 3 and a no-match 99 — ZERO table data read
    val v = TxnTable.deleteKeysEq(spark, dir, Seq(2, 3, 99).toDF("id"))
    val post = TxnTable.snapshot(dir, v)
    assert(post.live == pre.live, "equality delete must not touch data dirs")
    assert(post.eqs.size == 1 && post.action == "delete")
    assert(rows(dir).sorted == Seq((1, "a"), (4, "d"), (11, "k"), (12, "l")))
    // time travel still reads the tombstoned keys
    assert(rows(dir, Some(1L)).sorted ==
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (11, "k"), (12, "l")))
    // CDC surfaces the eq-deleted rows as deletes (multiset path — the
    // byte-identical live set must NOT take the append fast path)
    val ch = TxnTable.changes(spark, dir, 1L, v).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getAs[String]("_change"))).sorted.toSeq
    assert(ch == Seq((2, "b", "delete"), (3, "c", "delete")), s"CDC wrong: $ch")
    // manifest scoping (Iceberg sequence-number rule): a LATER append of
    // a tombstoned key is visible, never retro-deleted
    TxnTable.append(Seq((2, "B-again")).toDF("id", "v"), dir,
      statsCol = Some("id"))
    assert(rows(dir).sorted ==
      Seq((1, "a"), (2, "B-again"), (4, "d"), (11, "k"), (12, "l")))
    // stats-pruned applies-to: keys confined to [11, 12] never touch the
    // [1, 4] dir (its reads stay anti-join-free)
    TxnTable.deleteKeysEq(spark, dir, Seq(11).toDF("id"))
    val s2 = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(s2.eqs.values.exists(e => !e._2.contains(pre.live.head)),
      s"bounds-disjoint dir must be outside the new delete's applies-to: ${s2.eqs}")
    assert(rows(dir).sorted ==
      Seq((1, "a"), (2, "B-again"), (4, "d"), (12, "l")))
    // provably-no-effect delete: bounds miss every dir → metadata-only
    val before = TxnTable.latestVersion(dir).get
    TxnTable.deleteKeysEq(spark, dir, Seq(500).toDF("id"))
    assert(TxnTable.snapshot(dir, before + 1).eqs == s2.eqs,
      "no-effect delete must not mint an eq entry")
    // NULL keys never match
    TxnTable.deleteKeysEq(spark, dir, Seq(Option.empty[Int]).toDF("id"))
    assert(rows(dir).sorted ==
      Seq((1, "a"), (2, "B-again"), (4, "d"), (12, "l")))
    // compaction reads through the tombstones and materializes them away
    TxnTable.compact(spark, dir, targetFiles = 1)
    val packed = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(packed.eqs.isEmpty && packed.live.size == 1)
    assert(rows(dir).sorted ==
      Seq((1, "a"), (2, "B-again"), (4, "d"), (12, "l")))
    // schema guards: unknown column / mistyped key rejected
    intercept[IllegalArgumentException] {
      TxnTable.deleteKeysEq(spark, dir, Seq(1).toDF("nope"))
    }
    intercept[IllegalArgumentException] {
      TxnTable.deleteKeysEq(spark, dir, Seq(1L).toDF("id")) // long vs int
    }
    // composite keys: only the exact (id, v) tuple dies
    val cd = tmpTable()
    TxnTable.append(Seq((1, "a"), (1, "b"), (2, "a")).toDF("id", "v"), cd)
    TxnTable.deleteKeysEq(spark, cd, Seq((1, "a")).toDF("id", "v"))
    assert(rows(cd).sorted == Seq((1, "b"), (2, "a")))
    // clones carry the tombstones as references
    val fork = tmpTable()
    TxnTable.cloneTable(spark, cd, fork)
    assert(rows(fork).sorted == Seq((1, "b"), (2, "a")))
    // idempotent under txnId replay
    val vt = TxnTable.deleteKeysEq(spark, cd, Seq((2, "a")).toDF("id", "v"),
      txnId = Some("eq-1"))
    assert(TxnTable.deleteKeysEq(spark, cd, Seq((2, "a")).toDF("id", "v"),
      txnId = Some("eq-1")) == vt)
  }

  test("hidden partitioning: manifest-carried transform spec, probe reads plan one partition, divergence rejected") {
    val dir = tmpTable()
    val batch = Seq((1, "2024-01-05"), (2, "2024-01-20"), (3, "2024-02-11"),
      (4, "2024-02-28"), (5, "2024-03-01")).toDF("id", "day")
    TxnTable.overwritePartitionsHidden(spark, dir, batch,
      "m", "substring(day, 1, 7)")
    // hidden means NOT in the data: the stored schema has no alias column
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("id", "day"))
    val snap = TxnTable.snapshot(dir, 0L)
    assert(snap.ptrans.contains(("m", "substring(day, 1, 7)")))
    assert(snap.parts.values.map(_._2).toSet == Set("2024-01", "2024-02", "2024-03"))
    // transform-value read: plans exactly one partition, residual-free
    val jan = TxnTable.readPartition(spark, dir, "m", "2024-01")
    assert(jan.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // SOURCE-column probe: the engine evaluates the transform itself
    val got = TxnTable.readPartitionHidden(spark, dir, Map("day" -> "2024-02-11"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(3))
    // restating ONE month swaps only that partition
    TxnTable.overwritePartitionsHidden(spark, dir,
      Seq((30, "2024-02-14")).toDF("id", "day"), "m", "substring(day, 1, 7)")
    assert(TxnTable.read(spark, dir).collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2, 5, 30))
    // time travel still sees the pre-swap February
    assert(TxnTable.readPartition(spark, dir, "m", "2024-02", version = Some(0L))
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
    // a DIVERGENT transform is rejected — the spec lives in the manifest
    intercept[IllegalArgumentException] {
      TxnTable.overwritePartitionsHidden(spark, dir,
        Seq((9, "2024-04-01")).toDF("id", "day"), "m", "substring(day, 1, 4)")
    }
    // an alias colliding with a data column is rejected
    intercept[IllegalArgumentException] {
      TxnTable.overwritePartitionsHidden(spark, dir,
        Seq((9, "2024-04-01")).toDF("id", "day"), "day", "substring(day, 1, 7)")
    }
    // a plain append poisons the layout: the next hidden swap refuses
    // (a parts-less dir makes "which dirs hold month X" unanswerable)
    TxnTable.append(Seq((99, "2024-09-09")).toDF("id", "day"), dir)
    intercept[IllegalStateException] {
      TxnTable.overwritePartitionsHidden(spark, dir,
        Seq((7, "2024-03-07")).toDF("id", "day"), "m", "substring(day, 1, 7)")
    }
    // ...and a hidden read that would need an impossible residual throws
    // rather than return unsound rows
    intercept[IllegalArgumentException] {
      TxnTable.readPartition(spark, dir, "m", "2024-09").collect()
    }
    // dv deletes compose: hidden-partitioned rows die positionally
    val dir2 = tmpTable()
    TxnTable.overwritePartitionsHidden(spark, dir2, batch,
      "m", "substring(day, 1, 7)")
    TxnTable.deleteWhereDV(spark, dir2, org.apache.spark.sql.functions.col("id") === 1)
    assert(TxnTable.readPartition(spark, dir2, "m", "2024-01")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("compactDirty: rewrites only dv-debt dirs; clean dirs byte-identical; threshold + no-op + stats/part carry") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    TxnTable.append(Seq((21, "x"), (22, "y")).toDF("id", "v"),
      dir, statsCol = Some("id"))
    // debt: 1/4 of dir0 dv'd (25%), 1/2 of dir1 dv'd (50%), dir2 clean
    TxnTable.deleteRangeDV(spark, dir, "id", 4L, 4L)
    TxnTable.deleteRangeDV(spark, dir, "id", 11L, 11L)
    val pre = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(pre.dvs.size == 2)
    // threshold 0.4: only the 50%-doomed dir rewrites; the 25% one keeps
    // its dv; the clean dir is byte-identical
    val v1 = TxnTable.compactDirty(spark, dir, minDvRatio = 0.4)
    val s1 = TxnTable.snapshot(dir, v1)
    assert(s1.action == "compact")
    assert(s1.live.take(2) == Seq(pre.live.head, pre.live(2)),
      s"clean + low-debt dirs must keep their dirs: ${s1.live} vs ${pre.live}")
    assert(s1.live.size == 3 && s1.dvs.keySet == Set(pre.live.head))
    assert(rows(dir).sorted == Seq((1, "a"), (2, "b"), (3, "c"), (12, "l"), (21, "x"), (22, "y")))
    // the rewritten dir re-derived its stats: a range read still prunes
    assert(TxnTable.pruneLive(s1, "id", 12L, 12L).size == 1,
      s"purged dir must carry refreshed bounds: ${s1.stats}")
    // ratio 0 purges the remaining debt
    val v2 = TxnTable.compactDirty(spark, dir)
    val s2 = TxnTable.snapshot(dir, v2)
    assert(s2.dvs.isEmpty && s2.live.size == 3)
    assert(rows(dir).sorted == Seq((1, "a"), (2, "b"), (3, "c"), (12, "l"), (21, "x"), (22, "y")))
    // no debt left: no commit, version unchanged
    assert(TxnTable.compactDirty(spark, dir) == v2)
    assert(TxnTable.latestVersion(dir).contains(v2))
    // a fully-doomed dir drops from the live set
    TxnTable.append(Seq((31, "q")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.deleteRangeDV(spark, dir, "id", 31L, 31L)
    val v3 = TxnTable.compactDirty(spark, dir)
    assert(TxnTable.snapshot(dir, v3).live.size == 3 &&
      !rows(dir).exists(_._1 == 31))
    // Z-ordered debt keeps BOTH stats columns through the purge
    val zd = tmpTable()
    (0 until 4).foreach { i =>
      TxnTable.append(Seq((i, i * 10, s"z$i")).toDF("id", "k2", "v"),
        zd, statsCol = Some("id"))
    }
    TxnTable.compactClustered(spark, zd, Seq("id", "k2"), 2)
    TxnTable.deleteWhereDV(spark, zd, col("id") === 0)
    val zv = TxnTable.compactDirty(spark, zd)
    val zs = TxnTable.snapshot(zd, zv)
    assert(zs.dvs.isEmpty)
    assert(zs.live.forall(d =>
        TxnTable.statsAllOf(zd, d).map(_._1).toSet == Set("id", "k2")),
      s"purged clustered dir lost a stats column: ${zs.stats}")
    // partitioned debt keeps its partition value (readPartition still prunes)
    val pd = tmpTable()
    TxnTable.overwritePartitions(spark, pd,
      Seq((1, "A"), (2, "A"), (3, "B")).toDF("id", "part"), "part")
    TxnTable.deleteWhereDV(spark, pd, col("id") === 1)
    val pv = TxnTable.compactDirty(spark, pd)
    val ps = TxnTable.snapshot(pd, pv)
    assert(ps.parts.size == ps.live.size, s"rewrite dropped a .part: ${ps.parts}")
    val aRows = TxnTable.readPartition(spark, pd, "part", "A").collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(aRows == Seq(2))
  }

  test("cloneTable: shallow clone — zero data copied, divergence, dv/constraint/schema inheritance, safe vacuum") {
    import org.apache.spark.sql.functions.lit
    val src = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"),
      src, statsCol = Some("id"))
    TxnTable.append(Seq((11, "k"), (12, "l")).toDF("id", "v"),
      src, statsCol = Some("id"))
    TxnTable.deleteRangeDV(spark, src, "id", 4L, 4L) // a dv rides into the clone
    TxnTable.addConstraint(spark, src, "id_pos", "id > 0")
    val dest = tmpTable()
    assert(TxnTable.cloneTable(spark, src, dest) == 0L)
    // ZERO data copied: the clone's data dir is empty, content identical
    assert(Option(new java.io.File(dest, "data").listFiles())
      .getOrElse(Array.empty).isEmpty, "shallow clone must copy no data")
    assert(rows(dest).sorted == Seq((1, "a"), (2, "b"), (3, "c"), (11, "k"), (12, "l")))
    val v0 = TxnTable.snapshot(dest, 0L)
    assert(v0.action == "clone" && v0.constraints == Map("id_pos" -> "id > 0"))
    // stats refolded → range reads on the clone still prune
    assert(TxnTable.pruneLive(v0, "id", 1L, 2L).size == 1,
      s"clone manifest must carry refolded stats: ${v0.stats}")
    // governance inherited: a violating append on the CLONE is rejected
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((-1, "x")).toDF("id", "v"), dest)
    }
    // schema inherited: a drifted append on the clone is rejected
    intercept[TxnTable.SchemaMismatch] {
      TxnTable.append(Seq((9, 9L)).toDF("id", "v"), dest)
    }
    // divergence: writes to the clone never touch the source
    TxnTable.append(Seq((21, "z")).toDF("id", "v"), dest)
    TxnTable.updateRangeDV(spark, dest, "id", 1L, 1L, Map("v" -> lit("A")))
    assert(rows(dest).sorted ==
      Seq((1, "A"), (2, "b"), (3, "c"), (11, "k"), (12, "l"), (21, "z")))
    assert(rows(src).sorted == Seq((1, "a"), (2, "b"), (3, "c"), (11, "k"), (12, "l")),
      "clone writes leaked into the source")
    // ...and source writes never show in the clone
    TxnTable.append(Seq((31, "s")).toDF("id", "v"), src)
    assert(!rows(dest).exists(_._1 == 31))
    // the clone's vacuum reaps only LOCAL dirs: source data survives
    TxnTable.vacuum(dest, retain = 1)
    assert(rows(src).sorted.nonEmpty &&
      rows(dest).sorted == Seq((1, "A"), (2, "b"), (3, "c"), (11, "k"), (12, "l"), (21, "z")))
    // compaction MATERIALIZES the references (un-shallowing): after it,
    // the clone survives even a source wipe
    TxnTable.compact(spark, dest, targetFiles = 1)
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(src))
    assert(rows(dest).sorted ==
      Seq((1, "A"), (2, "b"), (3, "c"), (11, "k"), (12, "l"), (21, "z")))
    // cloning a HISTORICAL version forks the past
    val src2 = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), src2)
    TxnTable.append(Seq((2, "b")).toDF("id", "v"), src2)
    val dest2 = tmpTable()
    TxnTable.cloneTable(spark, src2, dest2, version = Some(0L))
    assert(rows(dest2) == Seq((1, "a")))
    // a clone target with commits is refused
    intercept[IllegalArgumentException] {
      TxnTable.cloneTable(spark, src2, dest2)
    }
  }

  test("overwritePartitions: disjoint-partition racers BOTH land via rebase; overlap still conflicts") {
    // the 1000-executor load pattern: one loader per partition. Losing
    // the base+1 race on a DISJOINT partition must rebase and land, not
    // fail the loader; an OVERLAPPING racer must never silently lose an
    // update. Repeat to raise the odds of a real interleave.
    (0 until 5).foreach { i =>
      val dir = tmpTable()
      TxnTable.overwritePartitions(spark,
        dir, Seq((1, "A"), (2, "B"), (3, "C")).toDF("id", "part"), "part")
      val errA = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try TxnTable.overwritePartitions(spark,
          dir, Seq((10 + i, "A")).toDF("id", "part"), "part"): Unit
        catch { case e: Throwable => errA.set(e) })
      t.start()
      TxnTable.overwritePartitions(spark,
        dir, Seq((20 + i, "B")).toDF("id", "part"), "part")
      t.join()
      assert(errA.get() == null, s"disjoint racer must rebase, threw: ${errA.get()}")
      assert(TxnTable.latestVersion(dir).contains(2L))
      val got = TxnTable.read(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((3, "C"), (10 + i, "A"), (20 + i, "B")),
        s"[round $i] a disjoint overwrite was lost: $got")
    }
    // OVERLAPPING racers: either the loser sees the winner and throws
    // CommitConflict, or they serialized and last-writer-wins — never a
    // mixed/duplicated partition A
    (0 until 5).foreach { i =>
      val dir = tmpTable()
      TxnTable.overwritePartitions(spark,
        dir, Seq((1, "A"), (2, "B")).toDF("id", "part"), "part")
      val errA = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try TxnTable.overwritePartitions(spark,
          dir, Seq((100, "A")).toDF("id", "part"), "part"): Unit
        catch { case e: Throwable => errA.set(e) })
      t.start()
      try TxnTable.overwritePartitions(spark,
        dir, Seq((200, "A")).toDF("id", "part"), "part"): Unit
      catch { case _: TxnTable.CommitConflict => () }
      t.join()
      assert(errA.get() == null || errA.get().isInstanceOf[TxnTable.CommitConflict],
        s"unexpected racer failure: ${errA.get()}")
      val as = TxnTable.read(spark, dir).collect()
        .filter(_.getString(1) == "A").map(_.getInt(0)).sorted.toSeq
      assert(as == Seq(100) || as == Seq(200),
        s"[round $i] overlapping overwrite corrupted partition A: $as")
    }
    // a concurrent addConstraint is NOT rebased past — our staged batch
    // was vetted against the old constraint set (conservative conflict)
    val dir = tmpTable()
    TxnTable.overwritePartitions(spark,
      dir, Seq((1, "A"), (2, "B")).toDF("id", "part"), "part")
    TxnTable.addConstraint(spark, dir, "id_pos", "id > 0")
    // rebase path exercised deterministically: overwrite B with base
    // still at 0 is impossible from the public API, so just confirm the
    // post-constraint overwrite re-validates and lands at base+1
    TxnTable.overwritePartitions(spark, dir, Seq((3, "B")).toDF("id", "part"), "part")
    assert(TxnTable.latestVersion(dir).contains(2L))
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.overwritePartitions(spark, dir, Seq((-3, "B")).toDF("id", "part"), "part")
    }
  }

  test("addColumn: metadata-only evolution — null backfill, write enforcement, travel and restore") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir, statsCol = Some("id"))
    val v = TxnTable.addColumn(spark, dir, "score", "bigint")
    assert(v == 1L)
    // the whole point: live set untouched — zero data rewritten
    assert(TxnTable.snapshot(dir, 1L).live == TxnTable.snapshot(dir, 0L).live)
    assert(TxnTable.snapshot(dir, 1L).action == "addColumn")
    // reads null-backfill the new column on pre-evolution files
    val df = TxnTable.read(spark, dir)
    assert(df.columns.toSeq == Seq("id", "v", "score"))
    assert(df.collect().forall(_.isNullAt(2)))
    // time travel to the pre-evolution version reads the old shape
    assert(TxnTable.read(spark, dir, Some(0L)).columns.toSeq == Seq("id", "v"))
    // CDC across the evolution commit: zero row changes
    assert(TxnTable.changes(spark, dir, 0L, 1L).count() == 0L)
    // appends must carry the evolved schema — the old shape throws
    intercept[TxnTable.SchemaMismatch] {
      TxnTable.append(Seq((3, "c")).toDF("id", "v"), dir)
    }
    TxnTable.append(Seq((3, "c", 9L)).toDF("id", "v", "score"), dir,
      statsCol = Some("id"))
    // mixed pre/post-evolution files in ONE scan: nulls and values coexist
    def scores() = TxnTable.read(spark, dir).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(scores() == Seq((1, -1L), (2, -1L), (3, 9L)))
    // CDC across the evolved append reports the new row in the new shape
    val ch = TxnTable.changes(spark, dir, 1L, 2L).collect()
    assert(ch.length == 1 && ch.head.getInt(0) == 3 && ch.head.getLong(2) == 9L)
    // UPDATE can SET the evolved column on pre-evolution rows
    TxnTable.updateWhere(spark, dir, col("id") === 1, Map("score" -> lit(5L)))
    assert(scores() == Seq((1, 5L), (2, -1L), (3, 9L)))
    // a dv delete predicated ON the evolved column reads old files as null
    TxnTable.deleteWhereDV(spark, dir, col("score") === 9L)
    assert(scores() == Seq((1, 5L), (2, -1L)))
    // the multiset CDC diff across evolution+update+delete stays aligned
    val span = TxnTable.changes(spark, dir, 0L, TxnTable.latestVersion(dir).get)
    assert(span.columns.toSeq == Seq("id", "v", "score", "_change"))
    // duplicate column rejected before any side effect
    intercept[IllegalArgumentException] {
      TxnTable.addColumn(spark, dir, "v", "string")
    }
    // restore to the pre-evolution version reverts the schema
    TxnTable.restore(spark, dir, 0L)
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("id", "v"))
    assert(rows(dir) == Seq((1, "a"), (2, "b")))
    // and appends in the restored (old) shape are accepted again
    TxnTable.append(Seq((4, "d")).toDF("id", "v"), dir)
    assert(rows(dir) == Seq((1, "a"), (2, "b"), (4, "d")))
  }

  test("reserved manifest keys: constraint/generated-column names that would " +
      "collide with flat manifest fields are rejected before any commit") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    // a gen named 'schema' would satisfy snapshot()'s field("schema") on a
    // never-evolved table and feed its expression to DataType.fromDDL; a
    // pta/pte pair fabricates a hidden-partition spec
    for (bad <- Seq("schema", "pta", "pte", "eqs", "gens", "live", "stats")) {
      intercept[IllegalArgumentException] {
        TxnTable.addGeneratedColumn(spark, dir, bad, "id + 0")
      }
      intercept[IllegalArgumentException] {
        TxnTable.addConstraint(spark, dir, bad, "id > 0")
      }
    }
    // no trace: the table still reads fine and carries no metadata
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.constraints.isEmpty && snap.gens.isEmpty && snap.ptrans.isEmpty)
    assert(rows(dir) == Seq((1, "a")))
    // non-reserved names still work
    TxnTable.addConstraint(spark, dir, "id_pos", "id > 0")
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((-1, "x")).toDF("id", "v"), dir)
    }
    assert(col("id") != null) // keep the import used
  }

  test("merge/mergeInto reject a duplicate-key source (Delta's 'multiple " +
      "source rows matched'); NULL-key duplicates are exempt") {
    import org.apache.spark.sql.functions.lit
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    val dup = Seq((1, "x"), (1, "y")).toDF("id", "v")
    val before = rows(dir)
    intercept[IllegalArgumentException] {
      TxnTable.merge(spark, dir, dup, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TxnTable.mergeInto(spark, dir, dup, Seq("id"),
        whenMatched = Seq(TxnTable.MatchedUpdate(lit(true),
          Map("v" -> lit("z")))))
    }
    assert(rows(dir) == before, "a rejected merge left a trace")
    assert(TxnTable.latestVersion(dir) == Some(0L), "a rejected merge committed")
    // NULL-key rows never match a target — duplicates among them are legal
    val nullDup = Seq((Option.empty[Int], "p"), (Option.empty[Int], "q"))
      .toDF("id", "v")
    TxnTable.merge(spark, dir, nullDup, Seq("id"))
    assert(TxnTable.read(spark, dir).count() == 4L)
  }

  test("latestVersion survives a checkpoint pointer naming a vacuumed manifest") {
    val dir = tmpTable()
    (0 to 11).foreach(i => TxnTable.append(Seq((i, s"r$i")).toDF("id", "v"), dir))
    assert(TxnTable.lastCheckpoint(dir) == Some(10L))
    // simulate the vacuum-repoint-failure window: the checkpointed
    // manifest is gone but the pointer still names it
    Files.delete(new File(s"$dir/_log", f"v${10L}%020d.json").toPath)
    assert(TxnTable.latestVersion(dir) == Some(11L),
      "a stale checkpoint pointer broke latest-version resolution")
    assert(rows(dir).map(_._1) == (0 to 11), "read through the stale pointer failed")
    // and commits still land
    TxnTable.append(Seq((12, "r12")).toDF("id", "v"), dir)
    assert(TxnTable.latestVersion(dir) == Some(12L))
  }

  test("partition values containing '}' are rejected (manifest regex safety)") {
    val dir = tmpTable()
    val df = Seq((1, "a}b"), (2, "ok")).toDF("id", "part")
    intercept[IllegalArgumentException] {
      TxnTable.overwritePartitions(spark, dir, df, "part")
    }
    // clean values still work and survive a later good commit's re-fold
    val good = Seq((1, "x"), (2, "y")).toDF("id", "part")
    TxnTable.overwritePartitions(spark, dir, good, "part")
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.parts.values.map(_._2).toSet == Set("x", "y"))
  }

  test("mergeInto WHEN NOT MATCHED BY SOURCE: delete/update fire on " +
      "source-absent target rows, first-true-wins, pruning disabled") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    // two key-disjoint commits with stats — the by-source merge must
    // touch BOTH (a pruned dir's rows are all not-matched-by-source)
    TxnTable.append((1L to 5L).map(k => (k, "old", 10L)).toDF("k", "st", "v"),
      dir, statsCol = Some("k"))
    TxnTable.append((100L to 104L).map(k => (k, "old", 10L)).toDF("k", "st", "v"),
      dir, statsCol = Some("k"))
    // source: keys 1..3 restate (matched), key 200 inserts; keys 4, 5 and
    // 100..104 are not-matched-by-source → k%2==0 purges, rest stale-mark.
    // Key 4 fires BOTH by-source clauses: delete must win (first true).
    val src = Seq((1L, "upd", 20L), (2L, "upd", 20L), (3L, "upd", 20L),
      (200L, "new", 1L)).toDF("k", "st", "v")
    TxnTable.mergeInto(spark, dir, src, Seq("k"),
      whenMatched = Seq(TxnTable.MatchedUpdate(lit(true),
        Map("st" -> col("_src_st"), "v" -> col("_src_v")))),
      whenNotMatchedBySource = Seq(
        TxnTable.MatchedDelete(col("k") % 2 === 0),
        TxnTable.MatchedUpdate(lit(true), Map("st" -> lit("stale")))))
    val got = TxnTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "upd", 20L), (2L, "upd", 20L), (3L, "upd", 20L),
      (5L, "stale", 10L),            // odd unmatched: stale-marked, v kept
      (101L, "stale", 10L), (103L, "stale", 10L), // 100/102/104 purged
      (200L, "new", 1L)), s"by-source semantics wrong: $got")
    // a by-source merge with NO matched/insert effect is a pure retention
    // sweep — delete everything absent from an empty-ish source
    TxnTable.mergeInto(spark, dir, Seq((1L, "z", 0L)).toDF("k", "st", "v"),
      Seq("k"), whenMatched = Nil, insertNotMatched = false,
      whenNotMatchedBySource = Seq(TxnTable.MatchedDelete(lit(true))))
    assert(TxnTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L),
      "full-sync by-source delete did not reduce target to the source keys")
  }

  test("partition-spec evolution: new data under a new transform, old dirs " +
      "planned under their recorded spec; divergence without evolveSpec throws") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    // era 1: bucket by id % 2 (aliased b2)
    val era1 = Seq((0, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("id", "v")
    TxnTable.overwritePartitionsHidden(spark, dir, era1, "b2", "pmod(id, 2)")
    // divergent write WITHOUT evolveSpec: rejected
    intercept[IllegalArgumentException] {
      TxnTable.overwritePartitionsHidden(spark, dir,
        Seq((10, "x")).toDF("id", "v"), "b3", "pmod(id, 3)")
    }
    // a reused alias cannot evolve (parts entries would be ambiguous)
    intercept[IllegalArgumentException] {
      TxnTable.overwritePartitionsHidden(spark, dir,
        Seq((10, "x")).toDF("id", "v"), "b2", "pmod(id, 3)", evolveSpec = true)
    }
    // era 2: EVOLVE to id % 3 under a fresh alias
    val era2 = Seq((10, "x"), (11, "y"), (12, "z")).toDF("id", "v")
    TxnTable.overwritePartitionsHidden(spark, dir, era2, "b3", "pmod(id, 3)",
      evolveSpec = true)
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.ptrans.contains(("b3", "pmod(id, 3)")))
    assert(snap.pthist == Map("b2" -> "pmod(id, 2)", "b3" -> "pmod(id, 3)"))
    assert(snap.live.size == 5, "evolution must keep old-era dirs") // 2 + 3
    // probe id=2: era-1 dirs prune by id%2=0, era-2 dirs by id%3=2 — one
    // dir planned per era
    val got = TxnTable.readPartitionHidden(spark, dir, Map("id" -> 2))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((2, "c")))
    // a new-spec overwrite replaces ONLY same-spec partitions: old-era
    // dirs stay untouched
    TxnTable.overwritePartitionsHidden(spark, dir,
      Seq((13, "y2")).toDF("id", "v"), "b3", "pmod(id, 3)")
    // 13%3=1 replaces era-2 partition b3=1 (which held id 10); ids 11/12
    // (b3=2/0) and every era-1 dir survive
    val all = TxnTable.read(spark, dir).collect().map(_.getInt(0)).sorted.toSeq
    assert(all == Seq(0, 1, 2, 3, 11, 12, 13),
      s"new-spec overwrite perturbed old-era dirs: $all")
    // probes still correct across the replace
    assert(TxnTable.readPartitionHidden(spark, dir, Map("id" -> 1))
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(col("id") != null)
  }

  test("renameColumn/dropColumn/widenColumn: metadata-only, old files " +
      "resolve by field id; restore refuses the minting boundary") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    // v0: pre-minting dir (no .cols sidecar) — must read under schema0
    TxnTable.append(Seq((1, "a", 1.5f), (2, "b", 2.5f)).toDF("id", "v", "w"), dir)
    // v1: RENAME id -> key (mints field ids)
    TxnTable.renameColumn(spark, dir, "id", "key")
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("key", "v", "w"))
    assert(TxnTable.read(spark, dir).orderBy("key").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2),
      "pre-rename files did not resolve by field id")
    // v2: append under the NEW name (old-shape append throws)
    intercept[TxnTable.SchemaMismatch] {
      TxnTable.append(Seq((3, "c", 3.5f)).toDF("id", "v", "w"), dir)
    }
    TxnTable.append(Seq((3, "c", 3.5f)).toDF("key", "v", "w"), dir)
    // v3: WIDEN key int -> bigint; both eras cast up at read
    TxnTable.widenColumn(spark, dir, "key", "bigint")
    val afterWiden = TxnTable.read(spark, dir)
    assert(afterWiden.schema("key").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(afterWiden.orderBy("key").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] { // unsafe narrowing rejected
      TxnTable.widenColumn(spark, dir, "key", "int")
    }
    // v4: append in the widened shape
    TxnTable.append(Seq((4L, "d", 4.5f)).toDF("key", "v", "w"), dir)
    // v5: DROP w — gone from reads, old files untouched
    TxnTable.dropColumn(spark, dir, "w")
    val afterDrop = TxnTable.read(spark, dir)
    assert(afterDrop.columns.toSeq == Seq("key", "v"))
    assert(afterDrop.count() == 4L)
    // v6: re-ADD a column named w — gets a FRESH id, so the dropped w's
    // old bytes must NOT resurrect into it
    TxnTable.addColumn(spark, dir, "w", "double")
    val resurrect = TxnTable.read(spark, dir).orderBy("key").collect()
      .map(r => r.isNullAt(2)).toSeq
    assert(resurrect == Seq(true, true, true, true),
      "dropped column's old bytes leaked into the re-added column")
    // DML through the evolution: dv delete + update on the renamed/widened key
    TxnTable.deleteRangeDV(spark, dir, "key", 2L, 2L)
    TxnTable.updateWhere(spark, dir, col("key") === 3L, Map("v" -> lit("C")))
    val got = TxnTable.read(spark, dir).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (3L, "C"), (4L, "d")))
    // compaction materializes the whole evolution into plain files
    TxnTable.compact(spark, dir, targetFiles = 1)
    assert(TxnTable.read(spark, dir).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == got)
    // restore within the fids era works; across the minting boundary throws
    val v1 = 1L // the rename commit — first fids version
    TxnTable.restore(spark, dir, v1)
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("key", "v", "w"))
    assert(TxnTable.read(spark, dir).orderBy("key").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2), "restore within fids era broke")
    intercept[IllegalArgumentException] {
      TxnTable.restore(spark, dir, 0L) // pre-minting
    }
  }

  test("dv position predicate fuses into fids-era scans — an evolved table " +
      "pays the ~1x dv_keep rent, not the anti-join") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append((1L to 100L).map(k => (k, s"r$k")).toDF("key0", "v"), dir,
      statsCol = Some("key0"))
    TxnTable.renameColumn(spark, dir, "key0", "key") // mints field ids
    TxnTable.append((101L to 200L).map(k => (k, s"r$k")).toDF("key", "v"), dir,
      statsCol = Some("key"))
    TxnTable.deleteRangeDV(spark, dir, "key", 10L, 20L) // dv on the RENAMED era dir
    val df = TxnTable.read(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dv_keep"),
      s"evolved-table dv read lost the fused position predicate:\n${plan.take(800)}")
    assert(!plan.contains("LeftAnti"),
      "evolved-table dv read fell back to the broadcast anti-join")
    assert(df.count() == 189L)
    assert(df.filter(col("key") >= 10L && col("key") <= 20L).count() == 0L,
      "dv'd rows resurfaced through the era scan")
    // the pre-rename era resolves by field id THROUGH the dv filter
    assert(df.orderBy("key").limit(1).collect().head.getLong(0) == 1L)
    // the pathological-volume fallback still exists for unknown counts:
    // correctness unchanged either way
    assert(TxnTable.read(spark, dir).orderBy(col("key").desc).limit(1)
      .collect().head.getLong(0) == 200L)
  }

  test("dropColumn as the fid-MINTING op still records the dropped id in " +
      "fhwm — a later addColumn never recycles it") {
    val dir = tmpTable()
    // 'secret' holds the LAST schema position, so minting assigns it the
    // highest id; the drop itself mints (no prior rename/widen), which
    // used to publish fhwm from the POST-drop fids (max = n-1) and let
    // the next addColumn re-mint id n — resolving the dropped column's
    // old bytes into the new column
    TxnTable.append(Seq((1, "a", 111L), (2, "b", 222L)).toDF("id", "v", "secret"), dir)
    TxnTable.dropColumn(spark, dir, "secret")
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.fhwm == 3,
      s"minting drop must floor fhwm at the PRE-removal max id, got ${snap.fhwm}")
    TxnTable.addColumn(spark, dir, "fresh", "bigint")
    val snap2 = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap2.fids("fresh") == 4, s"dropped id recycled: ${snap2.fids}")
    val got = TxnTable.read(spark, dir).orderBy("id").collect()
      .map(_.isNullAt(2)).toSeq
    assert(got == Seq(true, true),
      "dropped column's old bytes resurrected into the re-added column")
  }

  test("null-count manifest stats do not leak across drop + re-add of the " +
      "same column name (IS NULL pruning stays sound)") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    // dir0 records c:0 nulls in its write-era sidecar (c fully populated)
    TxnTable.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "c"), dir,
      statsCol = Some("c"))
    TxnTable.dropColumn(spark, dir, "c")
    TxnTable.addColumn(spark, dir, "c", "bigint")
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    // the stale write-era count (keyed by NAME) must not fold under the
    // re-added c (different field id): IS NULL must PLAN dir0, whose
    // re-added c is entirely null-backfilled
    assert(TxnTable.pruneLiveNull(snap, "c", wantNull = true) == snap.live,
      "stale null count pruned a dir whose re-added column is all null")
    assert(TxnTable.read(spark, dir).filter(col("c").isNull).count() == 2L)
  }

  test("RENAME resolves THROUGH references (round 15): constraint text " +
      "rewrites atomically and keeps enforcing; DROP still refuses; eq-key " +
      "renames still refuse until compacted") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a", 10L)).toDF("id", "v", "amt"), dir)
    TxnTable.addConstraint(spark, dir, "amt_pos", "amt > 0")
    // the rename rewrites the stored SQL in the SAME commit — the
    // pre-r15 behavior (typed rejection) is replaced by Iceberg's
    TxnTable.renameColumn(spark, dir, "amt", "amount")
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.constraints.keySet == Set("amt_pos") &&
      snap.constraints("amt_pos").toLowerCase.contains("amount"),
      s"constraint text not rewritten: ${snap.constraints}")
    // ... and still ENFORCES under the new name
    intercept[TxnTable.ConstraintViolation] {
      TxnTable.append(Seq((2, "b", -5L)).toDF("id", "v", "amount"), dir)
    }
    TxnTable.append(Seq((3, "c", 7L)).toDF("id", "v", "amount"), dir)
    assert(TxnTable.read(spark, dir).count() == 2L)
    // DROP of a referenced column still refuses (destructive, not a
    // reference-preserving rewrite)
    intercept[IllegalArgumentException] {
      TxnTable.dropColumn(spark, dir, "amount")
    }
    import spark.implicits._
    TxnTable.deleteKeysEq(spark, dir, Seq(99).toDF("id")) // outstanding eq
    intercept[IllegalArgumentException] {
      TxnTable.renameColumn(spark, dir, "id", "pk") // keys baked in eq files
    }
    // compaction materializes the eq tombstone away; rename then lands
    TxnTable.compact(spark, dir, 1)
    TxnTable.renameColumn(spark, dir, "id", "pk")
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("pk", "v", "amount"))
  }

  test("rename rewrite is PARSER-based: string literals spelling the old " +
      "column name are untouched; generated columns rewrite and keep " +
      "generating; stats refold under the new name (pruning survives)") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append((0 until 8).map(i => (i.toLong, "amt", i.toLong * 2))
      .toDF("amt", "v", "amt2"), dir, statsCol = Some("amt"))
    // constraint whose EXPRESSION mentions 'amt' both as a column and
    // as a string literal — only the column reference may rewrite
    TxnTable.addConstraint(spark, dir, "lit_guard", "v = 'amt' AND amt >= 0")
    TxnTable.addGeneratedColumn(spark, dir, "amt2", "amt * 2")
    TxnTable.renameColumn(spark, dir, "amt", "amount")
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.constraints("lit_guard").contains("'amt'") &&
      !snap.constraints("lit_guard").matches(".*(?<![A-Za-z0-9_'])amt(?![A-Za-z0-9_']).*"),
      s"literal corrupted or column not rewritten: ${snap.constraints("lit_guard")}")
    assert(snap.gens("amt2").toLowerCase.contains("amount"),
      s"generated spec not rewritten: ${snap.gens}")
    // generation still computes on writes that omit the column
    TxnTable.append(Seq((50L, "amt")).toDF("amount", "v"), dir,
      statsCol = Some("amount"))
    assert(TxnTable.read(spark, dir).filter(col("amount") === 50L)
      .select("amt2").head().getLong(0) == 100L,
      "generated column stopped computing after the rename")
    // stats refolded under the NEW name: range pruning works against it
    val snap2 = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    val pruned = TxnTable.pruneLive(snap2, "amount", 100L, 200L)
    assert(pruned.isEmpty,
      s"stats did not refold under the renamed column: planned $pruned")
    assert(TxnTable.readRange(spark, dir, "amount", 0L, 3L).count() == 4L)
  }

  test("renaming an EXPLICIT partition column rewrites the manifest's " +
      "partition entries: pruning and new loads work under the new name") {
    val dir = tmpTable()
    TxnTable.overwritePartitions(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("id", "part"), "part")
    TxnTable.renameColumn(spark, dir, "part", "region")
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.parts.values.forall(_._1 == "region"),
      s"manifest partition entries kept the old name: ${snap.parts}")
    assert(TxnTable.readPartition(spark, dir, Map("region" -> "a"))
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    // a new load under the new name replaces exactly its partition
    TxnTable.overwritePartitions(spark, dir,
      Seq((9, "b")).toDF("id", "region"), "region")
    assert(TxnTable.readPartition(spark, dir, Map("region" -> "b"))
      .collect().map(_.getInt(0)).toSeq == Seq(9))
    assert(TxnTable.read(spark, dir).count() == 2L)
  }

  test("renaming a hidden-partition SOURCE column rewrites the transform " +
      "and its era history: probe pruning keeps working") {
    val dir = tmpTable()
    TxnTable.overwritePartitionsHidden(spark, dir,
      (1 to 8).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      "bucket", "pmod(id, 4)")
    TxnTable.renameColumn(spark, dir, "id", "key")
    val snap = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    assert(snap.ptrans.exists { case (a, e) =>
      a == "bucket" && e.toLowerCase.contains("key") },
      s"transform not rewritten: ${snap.ptrans}")
    assert(snap.pthist.values.forall(_.toLowerCase.contains("key")),
      s"era history not rewritten: ${snap.pthist}")
    // source-column probe evaluates the REWRITTEN transform
    assert(TxnTable.readPartitionHidden(spark, dir, Map("key" -> 5L))
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // and the spec still guards writes, now under the new name (the
    // manifest's rewritten text IS the spec — pass it back verbatim)
    val (alias2, expr2) = snap.ptrans.get
    TxnTable.overwritePartitionsHidden(spark, dir,
      Seq((9L, "r9")).toDF("key", "v"), alias2, expr2)
    // pmod(9,4)=1 REPLACES bucket 1 (held keys 1 and 5): 8 - 2 + 1
    assert(TxnTable.read(spark, dir).count() == 7L)
    assert(TxnTable.readPartitionHidden(spark, dir, Map("key" -> 9L))
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("deleteRangeDV on a schema-evolved table validates the EFFECTIVE " +
      "schema: a delete on an added column works over pre-evolution dirs") {
    val dir = tmpTable()
    // pre-evolution dir lacks 'score'; head-dir footer validation used to
    // reject this legitimate delete with 'no column'
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    TxnTable.addColumn(spark, dir, "score", "bigint")
    TxnTable.append(Seq((3, "c", 9L), (4, "d", 20L)).toDF("id", "v", "score"), dir)
    TxnTable.deleteRangeDV(spark, dir, "score", 5L, 10L)
    assert(rows(dir).map(_._1) == Seq(1, 2, 4),
      "DV delete on the evolved column missed or over-deleted")
    // and a genuinely unknown column still throws
    intercept[IllegalArgumentException] {
      TxnTable.deleteRangeDV(spark, dir, "nope", 0L, 1L)
    }
    // non-integral columns still route to deleteWhereDV
    intercept[IllegalArgumentException] {
      TxnTable.deleteRangeDV(spark, dir, "v", 0L, 1L)
    }
  }

  test("snapshot cache re-checks the retention floor: a floor advanced by " +
      "ANOTHER process invalidates cached below-floor snapshots typed") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    TxnTable.append(Seq((2, "b")).toDF("id", "v"), dir)
    // populate this JVM's cache with v0
    assert(TxnTable.snapshot(dir, 0L).version == 0L)
    // another JVM's vacuum: advance `_floor` directly — this process's
    // snapshot cache is NOT cleared (the cross-JVM scenario)
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(dir, "_log"), "_floor").toPath,
      "1".getBytes("UTF-8"))
    // the cached entry must not be served past the floor memo's TTL
    // (round 15: the warm path reads a MEMOIZED floor — zero I/O —
    // so another JVM's vacuum surfaces within the short TTL, not
    // instantly): typed RetentionError, never a missing-file scan error
    val deadline = System.currentTimeMillis() + 10000L
    var seen = false
    while (!seen && System.currentTimeMillis() < deadline) {
      try { TxnTable.snapshot(dir, 0L): Unit; Thread.sleep(100L) }
      catch { case _: TxnTable.RetentionError => seen = true }
    }
    assert(seen, "cross-JVM floor advance never surfaced as RetentionError")
    // the retained head still reads fine
    assert(TxnTable.snapshot(dir, 1L).version == 1L)
  }

  // ---- a commit is its write job: recorded schemas, footer row counts ----

  private def dataDirs(dir: String): Set[String] =
    Option(new File(dir, "data").listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).toSet

  /** Rows the manifest accounts for: live dirs' counts minus their dvs'. */
  private def manifestRows(dir: String): Long = {
    val sn = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
    sn.live.map(sn.nrows).sum - sn.live.flatMap(sn.dvs.get).map(sn.nrows).sum
  }

  test("a read builds with no job; deleteWhere and compact are one write job each") {
    import org.apache.spark.sql.functions.col
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").coalesce(1), dir)
    assert(TxnTable.snapshot(dir, 0L).schema.contains("struct<id:int,v:string>"),
      "the first commit did not record its schema")
    assert(jobsDuring(TxnTable.read(spark, dir): Unit) == 0)
    assert(jobsDuring(TxnTable.deleteWhere(spark, dir, col("id") === 2): Unit) == 1)
    assert(jobsDuring(TxnTable.compact(spark, dir, targetFiles = 1): Unit) == 1)
    assert(rows(dir) == Seq((1, "a"), (3, "c")))
  }

  test("each DML verb runs its pinned job count on a two-dir stats'd table") {
    import org.apache.spark.sql.functions.{col, lit}
    val set = Map("v" -> lit("U"))
    val verbs: Seq[(String, Int, String => Unit)] = Seq(
      ("merge", 13, d => TxnTable.merge(spark, d, Seq((2, "B")).toDF("id", "v"), Seq("id"))),
      // mergeDV checks its batch is key-unique, as merge does: that
      // aggregate is two jobs (its shuffle stage, then its result)
      ("mergeDV", 14, d => TxnTable.mergeDV(spark, d, Seq((2, "B")).toDF("id", "v"), Seq("id"))),
      ("deleteRange", 8, d => TxnTable.deleteRange(spark, d, "id", 2L, 2L)),
      ("updateRange", 8, d => TxnTable.updateRange(spark, d, "id", 2L, 2L, set)),
      ("updateWhere", 1, d => TxnTable.updateWhere(spark, d, col("id") === 2, set)),
      ("deleteRangeDV", 1, d => TxnTable.deleteRangeDV(spark, d, "id", 2L, 2L)),
      ("deleteWhereDV", 2, d => TxnTable.deleteWhereDV(spark, d, col("id") === 2)),
      ("updateRangeDV", 9, d => TxnTable.updateRangeDV(spark, d, "id", 2L, 2L, set)),
      ("deleteKeysEq", 3, d => TxnTable.deleteKeysEq(spark, d, Seq(2).toDF("id"))))
    val got = verbs.map { case (name, _, run) =>
      val dir = tmpTable()
      TxnTable.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").coalesce(1), dir,
        statsCol = Some("id"))
      TxnTable.append(Seq((10, "j"), (11, "k")).toDF("id", "v").coalesce(1), dir,
        statsCol = Some("id"))
      val n = jobsDuring(run(dir))
      val ids = rows(dir).map(_._1)
      assert(ids.filter(_ != 2) == Seq(1, 3, 10, 11), s"$name: $ids")
      name -> n
    }
    info(got.map { case (v, n) => s"$v=$n" }.mkString(", "))
    assert(got == verbs.map { case (name, n, _) => name -> n })
  }

  test("range verbs validate the column before pruning, and commit nothing on a bad one") {
    import org.apache.spark.sql.functions.lit
    val dated = tmpTable()
    TxnTable.append(Seq((1, java.sql.Date.valueOf("2024-01-02"))).toDF("id", "d"), dated,
      statsCol = Some("d"))
    val empty = tmpTable()
    TxnTable.create(empty,
      org.apache.spark.sql.types.StructType.fromDDL("id INT, s STRING"))
    val set = Map("id" -> lit(0))
    // a range disjoint from every dir: pruning alone would leave nothing to read
    for ((dir, c) <- Seq(dated -> "d", empty -> "s", empty -> "nope")) {
      val before = TxnTable.latestVersion(dir)
      intercept[IllegalArgumentException](TxnTable.deleteRange(spark, dir, c, 0L, 1L))
      intercept[IllegalArgumentException](TxnTable.updateRange(spark, dir, c, 0L, 1L, set))
      intercept[IllegalArgumentException](TxnTable.deleteRangeDV(spark, dir, c, 0L, 1L))
      intercept[IllegalArgumentException](TxnTable.updateRangeDV(spark, dir, c, 0L, 1L, set))
      assert(TxnTable.latestVersion(dir) == before, s"a rejected range on $c committed")
    }
  }

  test("a merge of only NULL keys rewrites no dir and appends the batch") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir, statsCol = Some("id"))
    TxnTable.append(Seq((10, "j")).toDF("id", "v"), dir, statsCol = Some("id"))
    val pre = TxnTable.snapshot(dir, 1L).live
    val nulls = Seq((Option.empty[Int], "p")).toDF("id", "v")
    val v = TxnTable.mergeInto(spark, dir, nulls, Seq("id"),
      Seq(TxnTable.MatchedUpdate(lit(true), Map("v" -> col("_src_v")))))
    val live = TxnTable.snapshot(dir, v).live
    assert(live.take(2) == pre && live.size == 3, s"live after the merge: $live")
    val live2 = TxnTable.snapshot(dir, TxnTable.merge(spark, dir, nulls, Seq("id"))).live
    assert(live2.take(3) == live && live2.size == 4, s"live after merge: $live2")
    assert(TxnTable.read(spark, dir).count() == 5L)
  }

  test("mergeInto on a string key is one pass: at most 5 jobs on a one-dir table") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    TxnTable.append((1 to 40).map(i => (f"S$i%03d", i.toLong)).toDF("sale", "amt")
      .coalesce(1), dir)
    val src = Seq(("S002", 200L), ("S010", 1000L), ("S900", 9L)).toDF("sale", "amt")
    val n = jobsDuring(TxnTable.mergeInto(spark, dir, src, Seq("sale"),
      Seq(TxnTable.MatchedUpdate(lit(true), Map("amt" -> col("_src_amt"))))): Unit)
    info(s"mergeInto: $n jobs")
    assert(n <= 5, s"mergeInto ran $n jobs")
    val got = TxnTable.read(spark, dir).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 41 && got("S002") == 200L && got("S010") == 1000L &&
      got("S900") == 9L && got("S003") == 3L, s"got $got")
  }

  test("mergeInto evaluates a clause's SET only on the rows it can fire for") {
    import org.apache.spark.sql.functions.col
    import TxnTable.MatchedUpdate
    // `v / d` divides by zero on the target-only rows and `v / e` on the
    // matched ones; under ANSI either would fail the merge if evaluated
    // on a row of the other side
    val dir = tmpTable()
    TxnTable.append(Seq(("a", 10L, 2L, 0L), ("b", 20L, 4L, 0L), ("c", 30L, 0L, 5L))
      .toDF("k", "v", "d", "e"), dir)
    val src = Seq(("a", 0L, 0L, 0L), ("b", 0L, 0L, 0L), ("z", 7L, 0L, 0L))
      .toDF("k", "v", "d", "e")
    TxnTable.mergeInto(spark, dir, src, Seq("k"),
      whenMatched = Seq(MatchedUpdate(col("d") =!= 3L, Map("v" -> col("v") / col("d")))),
      whenNotMatchedBySource = Seq(MatchedUpdate(col("e") > 0L,
        Map("v" -> col("v") / col("e")))))
    val got = TxnTable.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq(("a", 5L), ("b", 5L), ("c", 6L), ("z", 7L)), s"got $got")
    // the same SET does fail once it fires on a zero divisor
    val err = intercept[Exception] {
      TxnTable.mergeInto(spark, dir, Seq(("c", 0L, 0L, 0L)).toDF("k", "v", "d", "e"),
        Seq("k"), Seq(MatchedUpdate(col("d") === 0L, Map("v" -> col("v") / col("d")))))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("DIVIDE_BY_ZERO")), err)
    assert(TxnTable.latestVersion(dir).contains(1L))
  }

  test("time travel reads every version with its own columns, across " +
      "an overwrite that adds one and a restore that drops it again") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a")).toDF("id", "v"), dir)
    TxnTable.overwrite(Seq((2, "b", 20L)).toDF("id", "v", "w"), dir)
    def at(v: Long) = TxnTable.read(spark, dir, Some(v))
    assert(at(0L).columns.toSeq == Seq("id", "v"))
    assert(rows(dir, Some(0L)) == Seq((1, "a")))
    assert(at(1L).columns.toSeq == Seq("id", "v", "w"))
    assert(at(1L).collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((2, "b", 20L)))
    // restore rewrites the table-level `_schema`; v1 keeps its own
    assert(TxnTable.restore(spark, dir, 0L) == 2L)
    assert(at(1L).columns.toSeq == Seq("id", "v", "w"))
    assert(at(1L).collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((2, "b", 20L)))
    assert(at(2L).columns.toSeq == Seq("id", "v"))
    assert(rows(dir) == Seq((1, "a")))
  }

  test("manifest row counts match the data after every kind of commit") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpTable()
    def check(op: String): Unit = {
      val sn = TxnTable.snapshot(dir, TxnTable.latestVersion(dir).get)
      sn.nrows.foreach { case (d, n) =>
        assert(spark.read.parquet(new File(new File(dir, "data"), d).getPath).count() == n,
          s"$op: nrows of $d")
      }
      assert(manifestRows(dir) == TxnTable.read(spark, dir).count(), op)
    }
    TxnTable.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v").coalesce(2), dir,
      statsCol = Some("id"))
    check("append")
    TxnTable.mergeInto(spark, dir, Seq((5, "five"), (30, "thirty")).toDF("id", "v"),
      Seq("id"), Seq(TxnTable.MatchedUpdate(lit(true), Map("v" -> col("_src_v")))))
    check("mergeInto")
    TxnTable.deleteWhere(spark, dir, col("id") === 7)
    check("deleteWhere")
    TxnTable.compact(spark, dir, targetFiles = 1)
    check("compact")
    TxnTable.deleteRangeDV(spark, dir, "id", 10L, 12L)
    check("deleteRangeDV")
    TxnTable.mergeDV(spark, dir, Seq((1, "one")).toDF("id", "v"), Seq("id"))
    check("mergeDV")
    assert(TxnTable.read(spark, dir).count() == 17L)
    // an eq delete's key count is its dir's own sidecar (the manifest
    // records which dirs it applies to, not a count)
    val before = dataDirs(dir)
    TxnTable.deleteKeysEq(spark, dir, Seq(2, 3, 99).toDF("id"))
    val eqDir = (dataDirs(dir) -- before).filter(_.startsWith("eq-")).toSeq
    assert(eqDir.size == 1)
    assert(TxnTable.nrowsOf(dir, eqDir.head).contains(3L))
    assert(manifestRows(dir) - 2L == TxnTable.read(spark, dir).count())
  }

  test("a deleteWhere matching every row stages nothing and leaves no dir behind") {
    import org.apache.spark.sql.functions.lit
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    val before = dataDirs(dir)
    val v = TxnTable.deleteWhere(spark, dir, lit(true))
    assert(TxnTable.snapshot(dir, v).live.isEmpty)
    assert(dataDirs(dir) == before, "the empty rewrite left a staged dir")
    assert(TxnTable.read(spark, dir).count() == 0L)
  }

  test("a manifest without a recorded schema still reads, by inference") {
    val dir = tmpTable()
    TxnTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    // rewrite v0 as a manifest from before schemas were recorded: the
    // same body without its `schema` field, under a fresh integrity header
    val f = new File(new File(dir, "_log"), f"v${0L}%020d.json")
    val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val body = text.substring(text.indexOf('\n') + 1)
      .replaceFirst(",\"schema\":\"[^\"]*\"", "")
    assert(!body.contains("\"schema\""))
    val bytes = body.getBytes("UTF-8")
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    Files.write(f.toPath, f"@graft-manifest crc32:${crc.getValue}%08x len:${bytes.length}%d\n"
      .getBytes("UTF-8") ++ bytes)
    TxnTable.clearSnapshotCache()
    assert(TxnTable.snapshot(dir, 0L).schema.isEmpty)
    assert(jobsDuring(TxnTable.read(spark, dir): Unit) > 0, "no inference job ran")
    assert(rows(dir) == Seq((1, "a"), (2, "b")))
    // a later append carries the absence forward and still reads
    TxnTable.append(Seq((3, "c")).toDF("id", "v"), dir)
    assert(TxnTable.snapshot(dir, 1L).schema.isEmpty)
    assert(rows(dir) == Seq((1, "a"), (2, "b"), (3, "c")))
  }
}
