package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** The harness readers' declared schemas, and the input-size signal behind
  * q87's scale-gated persist.
  *
  * Each declared schema must equal what Spark infers from the files, at every
  * scale factor: a field declared with another type or name than the file's
  * reads as nulls or fails at scan time, and a regenerated file must trip
  * this spec rather than silently change results. Spark's own inference is
  * the reference, so the NTZ timestamps and nullability are checked by
  * Spark, not by hand.
  *
  * The size signal must fail CLOSED: a table whose size cannot be read
  * locally takes the recompute branch, never the ~10x-corpus persist.
  */
class TablesSpec extends SparkTestBase {

  private val harness: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private val testdata = "/root/testdata" // TESTDATA.md
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"$testdata/$sf").filter(new java.io.File(_).isDirectory)

  test("declared schemas equal Spark's inference at every scale factor") {
    assert(scales.nonEmpty, "no harness testdata found")
    for (dir <- scales; (name, read) <- harness) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(read(spark, dir).schema == inferred, s"$name at $dir")
    }
  }

  test("building a harness read launches no Spark job") {
    val dir = s"$testdata/sf0.001"
    // control: a schemaless read infers, and inference is a job
    assert(jobsDuring(spark.read.parquet(s"$dir/orders.parquet").schema) > 0)
    assert(jobsDuring(Tables.orders(spark, dir).schema) == 0)
  }

  test("rowCount equals count() for every table at every scale, and runs no job") {
    assert(scales.nonEmpty, "no harness testdata found")
    for (dir <- scales; (name, read) <- harness) {
      var n = -1L
      assert(jobsDuring { n = Tables.rowCount(dir, name) } == 0, s"$name at $dir")
      assert(n == read(spark, dir).count(), s"$name at $dir")
    }
  }

  test("rowCount sums a directory's parquet files and fails on a missing path") {
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.range(7).repartition(3).write.parquet(s"$dir/t.parquet")
    assert(Tables.rowCount(dir, "t") == 7L)
    assertThrows[java.io.FileNotFoundException](Tables.rowCount(dir, "absent"))
  }

  // q87's default persist cap (SPARK_GRAFT_PERSIST_CAP_BYTES unset)
  private val q87Cap = 8L << 30

  test("unreadable inputs (missing local path, s3a:// path) read as above any cap") {
    val missing = Files.createTempDirectory("graft-tables").resolve("absent").toString
    assert(Tables.inputBytes(missing, "documents") > q87Cap)
    assert(Tables.inputBytes("s3a://bucket/sf0.1", "documents") > q87Cap)
  }

  test("readable inputs report their real byte count") {
    val sf = "/root/testdata/sf0.001"
    val onDisk = Files.size(new java.io.File(sf, "documents.parquet").toPath)
    assert(onDisk > 0)
    assert(Tables.inputBytes(sf, "documents") == onDisk)

    // a directory-shaped table sums its files
    val dir = Files.createTempDirectory("graft-tables")
    val t = Files.createDirectory(dir.resolve("t.parquet"))
    Files.write(t.resolve("part-0.parquet"), new Array[Byte](100))
    Files.write(Files.createDirectory(t.resolve("k=1")).resolve("part-1.parquet"), new Array[Byte](23))
    assert(Tables.inputBytes(dir.toString, "t") == 123L)
  }
}
