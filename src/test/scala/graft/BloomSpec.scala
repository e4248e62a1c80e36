package graft

import org.apache.spark.sql.functions._
import graft.functions.{Bloom, NativeText}
import graft.sources.Tables

/** Bloom semi-join pruning (q77): the filter must be a SUPERSET test
  * (zero false negatives — that is the exactness contract that lets q77
  * share q73's oracle) and must actually prune (the point of paying for
  * it). Also proves q77 == q73 end-to-end.
  */
class BloomSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("q77 (bloom-pruned) result equals q73 (plain) exactly") {
    val plain = SparkEntry.queries("q73_decontaminate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val bloom = SparkEntry.queries("q77_decontaminate_bloom")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(bloom == plain)
    assert(plain.exists(_._3), "fixture should contain contaminated docs")
  }

  test("bloom membership: no false negatives, real pruning on disjoint keys") {
    val grams = Tables.documents(spark, sf)
      .select(explode(NativeText.wordNgrams(col("text"), 13)).as("gram"))
      .distinct()
    val bf = grams
      .agg(Bloom.bloomAgg(xxhash64(col("gram")), 100000L, 1000000L).as("bf"))
      .head().getAs[Array[Byte]](0)

    // Every inserted key must pass (superset contract).
    val inserted = grams.count()
    val pass = grams.where(Bloom.mightContain(bf, xxhash64(col("gram")))).count()
    assert(pass == inserted, s"false negatives: $pass of $inserted passed")

    // Disjoint probes (suffix makes every gram novel) mostly fail:
    // at 10 bits/item the fpp is ~1%, so <5% passing proves the filter
    // prunes rather than degenerating to always-true.
    val novel = grams.select(concat(col("gram"), lit(" zz")).as("gram"))
    val fp = novel.where(Bloom.mightContain(bf, xxhash64(col("gram")))).count()
    assert(fp < inserted / 20, s"bloom barely prunes: $fp of $inserted novel keys passed")
  }
}
