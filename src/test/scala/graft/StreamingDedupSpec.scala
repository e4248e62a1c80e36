package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.SimHashBands
import graft.sources.Tables
import graft.streaming.DedupStream
import graft.streaming.DedupStream.Doc

/** Streaming incremental dedup (q86's twin) driven by MemoryStream:
  * arriving document shards are deduped against a static fingerprint
  * index, and the streamed pair set must equal an INDEPENDENT brute-force
  * truth (all-pairs Hamming over the fingerprints — no banding), proving
  * both recall (pigeonhole holds in the streaming path too) and
  * precision on real sf0.01 documents.
  */
class StreamingDedupSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"

  // corpus = doc_id % 10 != 0 (what q86 indexes); stream = the batch slice
  private lazy val docsAll =
    Tables.documents(spark, dir).select("doc_id", "text")
  private lazy val bits = SimHashBands.bandBitsFor(docsAll.count())
  private lazy val index = DedupStream.fingerprints(
    docsAll.filter(col("doc_id") % 10L =!= 0L)).localCheckpoint()
  private lazy val batchDocs = {
    import spark.implicits._
    docsAll.filter(col("doc_id") % 10L === 0L).as[Doc].collect()
  }

  /** Brute-force truth: every (stream doc, corpus doc) pair at Hamming
    * <= 3, computed WITHOUT banding — independent of the code under test.
    */
  private lazy val truth: Set[(Long, Long, Long)] = {
    val sfp = DedupStream.fingerprints(
      spark.createDataFrame(batchDocs).toDF("doc_id", "text"))
      .withColumnRenamed("doc_id", "i")
      .withColumnRenamed("lo", "slo").withColumnRenamed("hi", "shi")
    val ham = (bit_count(col("slo").bitwiseXOR(col("lo"))) +
      bit_count(col("shi").bitwiseXOR(col("hi")))).cast("long")
    sfp.crossJoin(index)
      .filter(ham <= 3L)
      .select(col("i"), col("doc_id").as("j"), ham.as("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("per-shard foreachBatch dedup equals brute-force truth across two shards") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    assert(truth.nonEmpty, "test must be non-vacuous (expected cross pairs at sf0.01)")
    val ms = MemoryStream[Doc]
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Long]
    val seenShards = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val q = DedupStream.dedupShards(ms.toDF(), index, bits,
      java.nio.file.Files.createTempDirectory("dedup-stream-ckpt").toString) {
      (pairs, shardId) =>
        seenShards.put(shardId, pairs.count())
        pairs.collect().foreach(r => got.put((r.getLong(0), r.getLong(1)), r.getLong(2)))
    }
    try {
      val (first, second) = batchDocs.partition(_.doc_id < 250)
      ms.addData(first.toSeq); q.processAllAvailable()
      ms.addData(second.toSeq); q.processAllAvailable()
      assert(seenShards.size >= 2, "documents must have arrived in >=2 shards")
      assert(got.map { case ((i, j), h) => (i, j, h) }.toSet == truth)
    } finally q.stop()
  }

  test("stateless candidatePairs append stream finds exactly the verified pair set") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = DedupStream.candidatePairs(ms.toDF(), SimHashBands.bandsOf(index, bits), bits)
      .writeStream.format("memory").queryName("cand_pairs")
      .outputMode("append").start()
    try {
      ms.addData(batchDocs.toSeq)
      q.processAllAvailable()
      val rows = spark.table("cand_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // at-least-once per pair (once per colliding band); the SET equals truth
      assert(rows.toSet == truth)
      assert(rows.length >= truth.size)
    } finally q.stop()
  }
}
