package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The input-size signal behind q87's scale-gated persist must fail
  * CLOSED: a table whose size cannot be read locally takes the recompute
  * branch, never the ~10x-corpus persist.
  */
class TablesSpec extends AnyFunSuite {

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
