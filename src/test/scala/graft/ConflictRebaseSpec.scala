package graft

import java.io.File
import java.nio.file.Files

import graft.sources.{LocalLogStore, LogStore, TxnTable}
import org.apache.spark.sql.functions.{col, lit}

/** Logical conflict re-check (round 15): row-level DML and maintenance
  * rebase past concurrent winners that provably did not touch their
  * read set — stats-disjoint appends for keyed DML, any pure append for
  * content-preserving compaction — and still throw [[TxnTable.CommitConflict]]
  * on genuine overlap, unprovable adds, dv/eq changes to read dirs, and
  * table-metadata winners.
  *
  * Interleavings are DETERMINISTIC, not thread races: a [[LogStore]]
  * wrapper trips on the loser's FIRST manifest put-if-absent and lands
  * the winner's commit(s) right there on the driver thread, so the
  * loser's slot is provably taken on its first attempt, every run.
  */
class ConflictRebaseSpec extends SparkTestBase {

  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-rebase").toString

  private def rows(dir: String): Seq[(Int, String)] =
    TxnTable.read(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq

  /** Delegating store that runs `winner` exactly once, immediately
    * before the first version-manifest publish attempt it sees. */
  private final class TripStore(winner: () => Unit) extends LogStore {
    private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    override def putIfAbsent(dest: File, bytes: Array[Byte]): Boolean = {
      if (dest.getName.startsWith("v") && dest.getName.endsWith(".json") &&
          fired.compareAndSet(false, true)) winner()
      LocalLogStore.putIfAbsent(dest, bytes)
    }
    override def putReplace(dest: File, bytes: Array[Byte]): Unit =
      LocalLogStore.putReplace(dest, bytes)
    override def readBytes(f: File): Option[Array[Byte]] = LocalLogStore.readBytes(f)
    override def exists(f: File): Boolean = LocalLogStore.exists(f)
    override def list(dir: File): Seq[String] = LocalLogStore.list(dir)
    override def delete(f: File): Unit = LocalLogStore.delete(f)
  }

  /** Run `op` with `winner` committed between op's snapshot read and
    * its first publish attempt. */
  private def raced[T](dir: String)(winner: => Unit)(op: => T): T = {
    TxnTable.installLogStore(dir, new TripStore(() => winner))
    try op finally TxnTable.uninstallLogStore(dir)
  }

  private def seed(dir: String): Unit =
    TxnTable.append((0 until 8).map(k => (k, s"r$k")).toDF("id", "v"), dir,
      statsCol = Some("id")): Unit

  /** [[seed]] as two files, so a compaction of it has packing to do on any
    * core count (a packed table's compaction is a no-op that never
    * publishes, so no winner would run). */
  private def seedUnpacked(dir: String): Unit =
    TxnTable.append((0 until 8).map(k => (k, s"r$k")).toDF("id", "v").repartition(2), dir,
      statsCol = Some("id")): Unit

  test("merge rebases past a stats-disjoint blind append: both land, no retry") {
    val dir = tmpTable()
    seed(dir) // v0, key bounds [0, 7]
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit // winner at v1, bounds [100, 100]
    } {
      TxnTable.merge(spark, dir, Seq((2, "X"), (9, "new")).toDF("id", "v"),
        Seq("id")) // update keys span [2, 9] — provably disjoint from 100
    }
    assert(v == 2L, s"merge must land at the winner's head + 1, got $v")
    assert(rows(dir) == (Seq((0, "r0"), (1, "r1"), (2, "X")) ++
      (3 until 8).map(k => (k, s"r$k")) ++ Seq((9, "new"), (100, "w"))),
      "rebased merge lost the winner's append or its own upsert")
  }

  test("merge conflicts when the winner's appended keys overlap its bounds") {
    val dir = tmpTable()
    seed(dir)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.append(Seq((5, "w")).toDF("id", "v"), dir,
          statsCol = Some("id")): Unit // 5 ∈ [2, 9]: merge SHOULD see it
      } {
        TxnTable.merge(spark, dir, Seq((2, "X"), (9, "new")).toDF("id", "v"),
          Seq("id"))
      }
    }
    assert(rows(dir).count(_._1 == 5) == 2, // (5, r5) + winner (5, w)
      "the conflicted merge must leave the winner's state untouched")
  }

  test("merge conflicts when the winner's appended dir carries no key stats") {
    val dir = tmpTable()
    seed(dir)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir): Unit // statless
      } {
        TxnTable.merge(spark, dir, Seq((2, "X")).toDF("id", "v"), Seq("id"))
      }
    }: Unit // disjoint in fact, but UNPROVABLE from the manifest
  }

  test("merge conflicts when a winner rewrote a dir it read") {
    val dir = tmpTable()
    seed(dir)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.deleteRange(spark, dir, "id", 0L, 0L): Unit // rewrites d0
      } {
        TxnTable.merge(spark, dir, Seq((2, "X")).toDF("id", "v"), Seq("id"))
      }
    }
    assert(rows(dir).map(_._1) == (1 until 8), "winner's delete must stand")
  }

  test("merge conflicts on a table-metadata winner (ADD COLUMN)") {
    val dir = tmpTable()
    seed(dir)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.addColumn(spark, dir, "extra", "INT"): Unit
      } {
        TxnTable.merge(spark, dir, Seq((100, "X")).toDF("id", "v"), Seq("id"))
      }
    }: Unit
  }

  test("merge rebases past MULTIPLE disjoint winners in one re-check") {
    val dir = tmpTable()
    seed(dir)
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w1")).toDF("id", "v"), dir,
        statsCol = Some("id"))
      TxnTable.append(Seq((200, "w2")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit
    } {
      TxnTable.merge(spark, dir, Seq((2, "X")).toDF("id", "v"), Seq("id"))
    }
    assert(v == 3L)
    assert(rows(dir).filter(_._1 >= 100) == Seq((100, "w1"), (200, "w2")))
    assert(rows(dir).contains((2, "X")))
  }

  test("mergeDV rebases past a disjoint append; dv and batch both land") {
    val dir = tmpTable()
    seed(dir)
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit
    } {
      TxnTable.mergeDV(spark, dir, Seq((2, "X")).toDF("id", "v"), Seq("id"))
    }
    assert(v == 2L)
    assert(rows(dir) == (Seq((0, "r0"), (1, "r1"), (2, "X")) ++
      (3 until 8).map(k => (k, s"r$k")) ++ Seq((100, "w"))))
  }

  test("deleteRange rebases past a disjoint append (single attempt, no retry loop)") {
    val dir = tmpTable()
    seed(dir)
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit
    } {
      TxnTable.deleteRange(spark, dir, "id", 0L, 3L)
    }
    assert(v == 2L)
    assert(rows(dir).map(_._1) == Seq(4, 5, 6, 7, 100))
  }

  test("deleteRangeDV (merge-on-read) rebases past a disjoint append") {
    val dir = tmpTable()
    seed(dir)
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit
    } {
      TxnTable.deleteRangeDV(spark, dir, "id", 0L, 1L)
    }
    assert(v == 2L)
    assert(rows(dir).map(_._1) == Seq(2, 3, 4, 5, 6, 7, 100))
  }

  test("deleteWhere (opaque predicate) conflicts on ANY winner append") {
    val dir = tmpTable()
    seed(dir)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
          statsCol = Some("id")): Unit
      } {
        TxnTable.deleteWhere(spark, dir, col("id") === 3)
      }
    }: Unit // nothing can prove the appended dir holds no matching row
  }

  test("updateRange rebases past a disjoint append") {
    val dir = tmpTable()
    seed(dir)
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit
    } {
      TxnTable.updateRange(spark, dir, "id", 0L, 1L, Map("v" -> lit("U")))
    }
    assert(v == 2L)
    assert(rows(dir) == (Seq((0, "U"), (1, "U")) ++
      (2 until 8).map(k => (k, s"r$k")) ++ Seq((100, "w"))))
  }

  test("deleteKeysEq rebases past a disjoint append; conflicts when a winner " +
      "compacted an applies dir") {
    val dir = tmpTable()
    seed(dir)
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit
    } {
      TxnTable.deleteKeysEq(spark, dir, Seq(2).toDF("id"))
    }
    assert(v == 2L)
    assert(rows(dir).map(_._1) == Seq(0, 1, 3, 4, 5, 6, 7, 100))
    // a compaction winner rewrites the dirs the eq entry applies to —
    // publishing would strand the tombstones on dead dirs (lost delete)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.compact(spark, dir, targetFiles = 1): Unit
      } {
        TxnTable.deleteKeysEq(spark, dir, Seq(3).toDF("id"))
      }
    }: Unit
  }

  test("compact rebases past appends: packed dir and winner rows coexist") {
    val dir = tmpTable()
    seedUnpacked(dir)
    val v = raced(dir) {
      TxnTable.append(Seq((50, "w")).toDF("id", "v"), dir): Unit // no stats needed
    } {
      TxnTable.compact(spark, dir, targetFiles = 1)
    }
    assert(v == 2L)
    assert(rows(dir).map(_._1) == ((0 until 8) :+ 50))
    val live = TxnTable.snapshot(dir, v).live
    assert(live.size == 2, s"winner dir + packed dir expected, got $live")
  }

  test("compact conflicts when a winner rewrote a dir it read (round-8 shape)") {
    val dir = tmpTable()
    seedUnpacked(dir)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.deleteWhere(spark, dir, col("id") === 0): Unit // rewrites all
      } {
        TxnTable.compact(spark, dir, targetFiles = 1)
      }
    }
    assert(rows(dir).map(_._1) == (1 until 8),
      "the conflicted compaction must not clobber the winner's delete")
  }

  test("compact conflicts when a winner dv'd a dir it read") {
    val dir = tmpTable()
    seedUnpacked(dir)
    intercept[TxnTable.CommitConflict] {
      raced(dir) {
        TxnTable.deleteRangeDV(spark, dir, "id", 0L, 0L): Unit // dv on d0
      } {
        TxnTable.compact(spark, dir, targetFiles = 1)
      }
    }
    assert(rows(dir).map(_._1) == (1 until 8),
      "the conflicted compaction must not resurrect the dv'd row")
  }

  test("compactDirty rebases past an append while purging dv debt") {
    val dir = tmpTable()
    seed(dir)
    TxnTable.deleteRangeDV(spark, dir, "id", 0L, 0L) // v1: dv debt on d0
    val v = raced(dir) {
      TxnTable.append(Seq((100, "w")).toDF("id", "v"), dir,
        statsCol = Some("id")): Unit
    } {
      TxnTable.compactDirty(spark, dir)
    }
    assert(v == 3L)
    assert(rows(dir).map(_._1) == ((1 until 8) :+ 100))
    assert(TxnTable.snapshot(dir, v).dvs.isEmpty, "dv debt must be purged")
  }

  test("streaming-sink starvation shape: DML under steady append traffic " +
      "makes progress without re-running") {
    // every publish attempt loses its slot to a fresh disjoint append;
    // the re-check rebases through each one and the merge lands after a
    // bounded number of manifest-only retries (no re-staging, no throw)
    val dir = tmpTable()
    seed(dir)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val store = new LogStore {
      override def putIfAbsent(dest: File, bytes: Array[Byte]): Boolean = {
        if (dest.getName.startsWith("v") && dest.getName.endsWith(".json") &&
            !Thread.currentThread().getName.startsWith("appender") &&
            n.getAndIncrement() < 3) {
          val t = new Thread(() => TxnTable.append(
            Seq((1000 + n.get(), "w")).toDF("id", "v"), dir,
            statsCol = Some("id")): Unit, s"appender-${n.get()}")
          t.start(); t.join()
        }
        LocalLogStore.putIfAbsent(dest, bytes)
      }
      override def putReplace(dest: File, bytes: Array[Byte]): Unit =
        LocalLogStore.putReplace(dest, bytes)
      override def readBytes(f: File): Option[Array[Byte]] = LocalLogStore.readBytes(f)
      override def exists(f: File): Boolean = LocalLogStore.exists(f)
      override def list(dir: File): Seq[String] = LocalLogStore.list(dir)
      override def delete(f: File): Unit = LocalLogStore.delete(f)
    }
    TxnTable.installLogStore(dir, store)
    val v =
      try TxnTable.merge(spark, dir, Seq((2, "X")).toDF("id", "v"), Seq("id"))
      finally TxnTable.uninstallLogStore(dir)
    assert(v == 4L, s"merge must land after rebasing through 3 appends, got $v")
    assert(rows(dir).contains((2, "X")))
    assert(rows(dir).count(_._1 >= 1000) == 3, "an append was lost")
  }
}
