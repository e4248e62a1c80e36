package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.create()
    // SPARK_GRAFT_ONLY=q79_star_dpp limits the dump for local iteration;
    // the driver leaves it unset and dumps everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cases = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    dump(spark, sfDir, outDir, "verify", cases, SparkEntry.oracleSql.toSeq)
    spark.stop()
  }

  /** Writes each case's result as one parquet dir `<outDir>/<name>`, then
    * `<outDir>/oracle_sql.json` (name → DuckDB SQL) for selfcheck.py and
    * `<outDir>/verify_failures.json` (name → exception class and message;
    * `{}` when every case wrote). A failed case also logs one
    * `[<tag>] <name> failed: ...` line to stderr.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, tag: String,
           cases: Seq[(String, (SparkSession, String) => DataFrame)],
           oracleSql: Seq[(String, String)]): Unit = {
    new java.io.File(outDir).mkdirs()
    val failures = cases.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
      // Queries that persist internal tables (q74's gram/prefix reuse)
      // release them here — a long dump loop must not accumulate caches.
      finally spark.catalog.clearCache()
    }
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(oracleSql.map { case (k, v) => k -> jsonString(v) }))
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      obj(failures.map { case (name, e) =>
        name -> obj(Seq("class" -> jsonString(e.getClass.getName),
          "message" -> jsonString(String.valueOf(e.getMessage))))
      }))
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a query's SQL text would otherwise make
    * selfcheck.py's json.load fail and silently zero the correctness check.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
