package graft

import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.sources.Tables

/** q74's prefix-filtered n-gram Jaccard join: prefix filtering is a
  * full-recall optimization (All-Pairs / PPJoin family), so its output must
  * EQUAL the brute-force all-pairs join — dropping a true pair would be a
  * silent correctness bug that the DuckDB oracle cannot catch (the oracle
  * mirrors the same prefix filter). This spec computes the unfiltered
  * all-pairs Jaccard at sf0.001 and asserts set equality, plus a synthetic
  * case with ties in the frequency order (the edge the prefix-length
  * formula has to survive).
  */
class SetSimilaritySpec extends SparkTestBase {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("prefix-filtered q74 equals brute-force all-pairs Jaccard at sf0.001") {
    val filtered = SparkEntry.queries("q74_ngram_jaccard")(spark, sf)
      .select("d1", "d2", "jac_micro")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // Brute force: every pair sharing >= 1 gram (superset of any blocking
    // scheme on this corpus), exact Jaccard, same threshold.
    val grams = Tables.documents(spark, sf)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(Text.wordNgrams(col("tk"), 5)).as("gram"))
      .distinct()
    val sets = grams.groupBy("doc_id")
      .agg(sort_array(collect_set(col("gram"))).as("gs"))
    val brute = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        size(array_intersect(col("a.gs"), col("b.gs"))).cast("long").as("inter"),
        size(col("a.gs")).cast("long").as("n1"), size(col("b.gs")).cast("long").as("n2"))
      .filter(col("inter") * 3 >= col("n1") + col("n2"))
      .withColumn("jac_micro",
        floor(col("inter") * 1000000L / (col("n1") + col("n2") - col("inter"))).cast("long"))
      .select("d1", "d2", "jac_micro")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(brute.nonEmpty, "sf0.001 should contain at least one near-dup pair")
    assert(filtered == brute,
      s"prefix filter lost ${(brute -- filtered).size} true pairs / " +
        s"invented ${(filtered -- brute).size}")
  }

  test("wordNgrams: guard below n, exact window count at n and above") {
    val df = Seq("a b c", "a b c d e", "a b c d e f g").toDF("text")
      .select(Text.wordNgrams(Text.tokens(col("text")), 5).as("g"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      Nil,
      List("a b c d e"),
      List("a b c d e", "b c d e f", "c d e f g")))
  }

  test("wordChunks: non-overlapping, tail dropped, guard below n") {
    val df = Seq("a b", "a b c d", "a b c d e f g").toDF("text")
      .select(Text.wordChunks(Text.tokens(col("text")), 3).as("c"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(Nil, List("a b c"), List("a b c", "d e f")))
  }
}
