package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for unpartitioned windows (`Window.orderBy` with no
  * partitionBy): every existing call site has been audited as a BOUNDED
  * frame — calendar/histogram/decile rollups, #partitions-row offset
  * windows in the two-phase prefix-sum/dense-id operators, a
  * dimension-only surrogate-key window — so the `WindowExec: No
  * Partition Defined` runtime warnings are noise, and Bench silences
  * them (log level ERROR) to keep its tail readable. This spec is the
  * replacement tripwire: ADDING an unpartitioned window anywhere in
  * src/main fails here until the new site is audited (is its input
  * frame bounded at 100 TB?) and the count below is updated.
  */
class WindowAuditSpec extends AnyFunSuite {

  // file -> audited Window.orderBy call-site count
  private val audited = Map(
    // denseIdsGlobal (dimension-scale by contract), and the bucket
    // offsets (#buckets rows) prefixSum and denseIdsScalable share
    "operators/Windows.scala" -> 2,
    // quantile-bisect rank check, cumulative histogram, 7-day spine —
    // all measurement-harness frames, not declared-query paths
    "tools/ScaleBench.scala" -> 3,
    // calendar-bounded (month/day spine) windows: q132/q137/q139/q145
    // (25-nation rollup)/q157/q162 histogram/q170 60-row curve/q173+q183
    // deciles (2 sites)/q186 day spine — audited in VERDICT r6
    "queries/MiscQueries.scala" -> 11,
    // q110 equi-depth bins: boundary frame is #bins-sized
    "queries/TextQueries.scala" -> 1)

  test("unpartitioned window call sites match the audited whitelist") {
    val root = new File("src/main/scala/graft")
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val found = walk(root).flatMap { f =>
      val n = "Window\\.orderBy".r
        .findAllIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).size
      if (n == 0) None
      else Some(f.getPath.replace("src/main/scala/graft/", "") -> n)
    }.toMap
    assert(found == audited,
      "unaudited unpartitioned window introduced (or an audited one moved): " +
        s"found $found vs audited $audited — audit the new site's frame " +
        "bound at scale, then update WindowAuditSpec")
  }
}
