package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-explicit source readers.
  *
  * The reference loads CSV with `inferSchema=true` and JSON with schema
  * inference (ref: etl/extract.py:60-68,95-104), which double-scans every
  * file. This engine always passes an explicit `StructType`, so every source
  * is a single pass and the schema is deterministic — at 100 TB an inference
  * pre-scan is a full extra read of the dataset.
  *
  * Parquet testdata tables carry their own schema; readers below are thin and
  * rely on Catalyst column pruning + filter pushdown reaching the scan.
  */
object Tables {

  /** TPC-H-ish harness tables (TESTDATA.md). One parquet file per table. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")

  /** On-disk bytes of a harness table (file or directory) — the input-size
    * signal scale-gated persists key on (a near-corpus-sized cache is a win
    * at bench scale and a spill hazard at 100 TB). Fails CLOSED: when the
    * table is not a readable local file or directory (missing, or a
    * remote `s3a://` path) the size is unknown and reads as Long.MaxValue,
    * above any cap, so the gate takes its recompute branch.
    */
  def inputBytes(sfDir: String, name: String): Long = {
    def sizeOf(f: java.io.File): Option[Long] =
      if (f.isDirectory) Option(f.listFiles()).flatMap(_.foldLeft(Option(0L)) {
        (acc, c) => for (a <- acc; b <- sizeOf(c)) yield a + b
      })
      else Some(f.length()).filter(_ => f.isFile && f.canRead)
    try sizeOf(new java.io.File(sfDir, s"$name.parquet")).getOrElse(Long.MaxValue)
    catch { case _: Throwable => Long.MaxValue }
  }
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** CSV scan with header + explicit schema; accepts a glob so a year of
    * monthly files is ONE distributed read, not a per-file driver loop
    * (ref: etl/extract.py:60-92 unions 12 files one by one on the driver).
    */
  def csv(spark: SparkSession, schema: StructType, path: String,
          delimiter: String = ","): DataFrame =
    spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .schema(schema)
      .csv(path)

  /** CSV scan that QUARANTINES malformed rows instead of silently dropping
    * or failing on them: PERMISSIVE mode routes every unparseable line's
    * raw text into `corruptCol` (all data columns null), so the pipeline
    * can split clean rows from a bad-record audit frame in one read. The
    * production posture for dirty data at scale — FAILFAST kills a 100 TB
    * job on one bad line; DROPMALFORMED hides data loss.
    * NOTE: per Spark's contract the corrupt column must be declared in the
    * schema and only materializes when referenced.
    */
  def csvWithQuarantine(spark: SparkSession, schema: StructType, path: String,
                        delimiter: String = ",",
                        corruptCol: String = "_corrupt_record"): DataFrame =
    spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(schema.add(StructField(corruptCol, StringType, nullable = true)))
      .csv(path)

  /** Multiline JSON (array-of-objects) scan with explicit schema
    * (ref: etl/extract.py:95-104). `multiLine=true` means one file is one
    * task — fine for small control files; large JSON should be JSONL.
    */
  def multilineJson(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(schema).json(path)

  /** Raw-text scan + regex field extraction, dropping a literal header line
    * (ref: etl/extract.py:134-153 reads a pipe-delimited file with a CSV
    * header). `groups` maps output column name -> regex group index.
    */
  def regexText(spark: SparkSession, path: String, pattern: String,
                groups: Seq[(String, Int)], headerLine: Option[String]): DataFrame = {
    val raw = spark.read.text(path)
    val body = headerLine.fold(raw)(h => raw.filter(col("value") =!= lit(h)))
    body.select(groups.map { case (name, idx) =>
      regexp_extract(col("value"), pattern, idx).as(name)
    }: _*)
  }
}
