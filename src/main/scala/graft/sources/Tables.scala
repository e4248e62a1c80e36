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
  * The harness parquet tables are read with declared schemas too (a schemaless
  * parquet read runs one footer-reading Spark job per table read); TablesSpec
  * pins each one to Spark's own inference on the files at every scale factor.
  * Readers below are thin and rely on Catalyst column pruning + filter
  * pushdown reaching the scan.
  */
object Tables {

  /** Schema of a harness table, as Spark infers it from the files: every
    * field nullable, and the timestamps NTZ because the files are written
    * with `isAdjustedToUTC=false`. */
  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  private val Region = schema("r_regionkey" -> IntegerType, "r_name" -> StringType)
  private val Nation = schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType)
  private val Customer = schema("c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
  private val Supplier = schema("s_suppkey" -> LongType, "s_name" -> StringType,
    "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  private val Part = schema("p_partkey" -> LongType, "p_name" -> StringType,
    "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
    "p_retailprice" -> DoubleType)
  private val Orders = schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)
  private val Lineitem = schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampNTZType)
  private val Events = schema("event_id" -> LongType, "ts" -> TimestampNTZType,
    "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
    "props" -> StringType)
  private val Documents = schema("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  private val Embeddings = schema("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType)

  /** TPC-H-ish harness tables (TESTDATA.md). One parquet file per table. */
  private def table(spark: SparkSession, sfDir: String, name: String,
                    schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem", Lineitem)
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders", Orders)
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer", Customer)
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier", Supplier)
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part", Part)
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation", Nation)
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region", Region)
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events", Events)
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents", Documents)
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings", Embeddings)

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

  /** Row count of a harness table from its parquet footers, read on the
    * driver: a metadata read per file and no Spark job, where
    * `Tables.documents(s, d).count()` runs one. */
  def rowCount(sfDir: String, name: String): Long =
    parquetRowCount(new java.io.File(sfDir, s"$name.parquet"))

  /** Sum of the parquet-footer record counts of a parquet file, or of the
    * `.parquet` files directly under a directory — a KB metadata read per
    * file, never a row scan. A path that is neither fails. */
  def parquetRowCount(path: java.io.File): Long = {
    val files =
      if (path.isFile) Array(path)
      else if (path.isDirectory) path.listFiles().filter(_.getName.endsWith(".parquet"))
      else throw new java.io.FileNotFoundException(s"no parquet file or directory at $path")
    readFooters(files.toSeq)(_.getRecordCount).sum
  }

  /** The top-level column names of a parquet file, from its footer. */
  def parquetColumnNames(file: java.io.File): Seq[String] = {
    import scala.jdk.CollectionConverters._
    readFooters(Seq(file))(_.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq).head
  }

  /** `read` applied to each file's footer, opened on the driver. */
  private def readFooters[A](files: Seq[java.io.File])(
      read: org.apache.parquet.hadoop.ParquetFileReader => A): Seq[A] = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    // built from `conf`: `open(InputFile)` alone would build and parse a
    // default Hadoop Configuration for every footer it reads
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, options)
      try read(r) finally r.close()
    }
  }

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
    * A `StringType` field over JSON NUMBERS costs one positioned read of
    * the file per value on Spark 4.1 (the parser re-reads the number's
    * exact text from the file), so a 3 MB file can read ~90 MB; declare
    * such a mixed field `VariantType` and cast it to string instead.
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
