package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** q188's greedy set cover on hand-built corpora, against rows computed by
  * hand: the tie-break, the round that adds no row, and the exact
  * cumulative coverage. The units are each source's word bigrams.
  */
class GreedySetCoverSpec extends SparkTestBase {

  /** q188 over a `documents` table of `(source, text)` rows. */
  private def cover(docs: (String, String)*): Seq[(Long, String, Long, Long)] = {
    val dir = Files.createTempDirectory("graft-q188").toString
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = docs.zipWithIndex.map { case ((src, text), i) =>
      Row(i.toLong, text, "en", src, text.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.parquet(s"$dir/documents.parquet")
    SparkEntry.queries("q188_greedy_set_cover")(spark, dir).collect().toSeq
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("source"),
        r.getAs[Long]("gain"), r.getAs[Long]("cum_cover_ppm")))
  }

  test("a tie on gain goes to the lower source in byte order, not in UTF-16 order") {
    // U+FF21 is EF BC A1 in UTF-8 and U+1F600 is F0 9F 98 80, so the
    // fullwidth A sorts first by bytes (Spark, DuckDB); as a
    // java.lang.String the emoji's high surrogate (D83D) sorts first
    val (a, smiley) = ("Ａ", "😀")
    assert(smiley < a)
    assert(cover(smiley -> "s t u", a -> "p q r") ==
      Seq((1L, a, 2L, 500000L), (2L, smiley, 2L, 1000000L)))
  }

  test("a round where no source has a positive gain adds no row; coverage is exact") {
    // 3 distinct grams: big covers 2, other 1, and sub's one gram is big's;
    // solo has a single word, so no bigram at all
    assert(cover("big" -> "a b c", "sub" -> "a b", "other" -> "c d", "solo" -> "z") ==
      Seq((1L, "big", 2L, 666666L), (2L, "other", 1L, 1000000L)))
  }

  test("a corpus with no bigram gives no row") {
    assert(cover("solo" -> "z", "other" -> "y") == Nil)
  }
}
