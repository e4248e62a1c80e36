package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeText, Text}

/** Scale stress for the dedup family: a SYNTHESIZED corpus orders of
  * magnitude past sf0.1 (default 2M docs ≈ 30× the sf0.1 documents table by
  * rows × tokens), with duplicates injected BY CONSTRUCTION so recall is
  * checkable without an oracle:
  *
  *  - ids ≡ 5 (mod 10) repeat the text of id-1 → N/10 exact-dup pairs;
  *  - ids ≡ 9 (mod 10) copy id-1 and flip the LAST token → N/10 near-dup
  *    pairs at Jaccard ≈ (k-2)/(k+2) for k-token docs (≈ 0.87 at k=28).
  *
  * Corpus text is generated distributively (spark.range → hash-derived
  * tokens; no driver-side data), so N scales to whatever the box holds.
  * Three pipelines run over it, each the declared-query shape:
  *
  *  1. exact dedup  — md5 groupBy (q28 shape);
  *  2. MinHash LSH  — 8 minhashes, 4 bands, band equi-join + exact
  *     shingle-Jaccard ≥ 0.5 verify (q34 shape);
  *  3. SimHash      — 20-bit fingerprint, 4×5-bit band equi-join,
  *     Hamming ≤ 3 verify (q35 shape).
  *
  * Each reports wall seconds, docs/sec, and found-vs-expected pair counts
  * (exact must be EQUAL; LSH/SimHash are probabilistic recalls, reported
  * as fractions). One JSON line at the end for the record.
  *
  * Run: SPARK_GRAFT_SCALE_N=2000000 sbt "runMain graft.tools.ScaleBench"
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2000000").toLong
    val cpus = graft.Session.cpus
    val spark = graft.Session.create()
    // The bounded-heap top-k aggregate (ObjectHashAggregate) falls back
    // to SORT-BASED aggregation past 128 distinct groups per partition
    // (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) — at
    // Q=10k query groups that silently turns the brute-force kNN's
    // partial aggregate into a full external sort of N*Q pair rows
    // (measured: filled the disk at 2M x 10k). The heap state is what
    // makes top-k bounded — Q heaps x 10 entries ≈ 1.6 MB at Q=10k —
    // so the threshold, not the algorithm, is the scale knob here.
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    import spark.implicits._

    // ---- corpus synthesis: 28 body tokens drawn uniformly from a 50k
    // vocab by hashing (doc, position), one trailing token that the
    // near-dup variant flips.
    val k = 28
    val vocab = 50000L
    def bodyFor(idCol: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(1), lit(k)), i =>
        concat(lit("t"), pmod(xxhash64(idCol * 37L + i.cast("long")), lit(vocab)))))
    val base = spark.range(n).toDF("doc_id")
      .withColumn("eff", when(pmod(col("doc_id"), lit(10)) === 5, col("doc_id") - 1)
        .when(pmod(col("doc_id"), lit(10)) === 9, col("doc_id") - 1)
        .otherwise(col("doc_id")))
      .withColumn("tail", when(pmod(col("doc_id"), lit(10)) === 9,
        concat(lit("z"), col("doc_id"))).otherwise(concat(lit("t"), pmod(xxhash64(col("eff") * 991L), lit(vocab)))))
      .select(col("doc_id"), concat_ws(" ", bodyFor(col("eff")), col("tail")).as("text"))
    val docs = base.repartition(cpus * 2).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = docs.count() // materialize: generation cost excluded from op timings

    val expectExact = n / 10
    val expectNear = n / 10

    def timed[A](label: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label: $s%.1fs")
      (r, s)
    }

    // ---- 1. exact dedup (q28 shape): one shuffle on content hash.
    val (exactPairs, tExact) = timed("exact dedup") {
      docs.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("copies"))
        .where(col("copies") > 1)
        .agg(sum(col("copies") - 1)).head.getLong(0)
    }

    // ---- 2. MinHash LSH (q34 shape): 8 hashes, 4 bands of 2 → band
    // equi-join on (band, h1, h2); verify exact Jaccard >= 0.5 on shingle
    // hash sets, candidates only.
    val (lshFound, tLsh) = timed("minhash lsh + verify") {
      // Shingle sets are persisted and joined back AFTER candidate
      // generation (q74's shape): the band exchange and the pair-distinct
      // must carry bare (doc_id, band, h1, h2) rows, NOT the ~230-byte
      // shingle arrays — carrying arrays through those shuffles measured
      // 3x slower at 2M docs.
      val sets = docs.select(col("doc_id"),
        NativeText.shingleHashesOfText(col("text")).as("sh"))
        .where(size(col("sh")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bands = sets.select(col("doc_id"),
        NativeText.minhash8(col("sh")).as("mh"))
        .select(col("doc_id"), explode(
          transform(sequence(lit(0), lit(3)), b => struct(b.as("band"),
            element_at(col("mh"), b * 2 + 1).as("h1"),
            element_at(col("mh"), b * 2 + 2).as("h2")))).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.h1").as("h1"), col("bk.h2").as("h2"))
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.h1") === col("b.h1") &&
            col("a.h2") === col("b.h2") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      val found = cands
        .join(sets.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
        .join(sets.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
        .select(size(array_intersect(col("s1"), col("s2"))).as("inter"),
          size(col("s1")).as("n1"), size(col("s2")).as("n2"))
        .where(col("inter") * 3 >= col("n1") + col("n2")) // jac >= 0.5
        .count()
      sets.unpersist(blocking = false)
      found
    }

    // ---- 3. SimHash (q35 shape): 20-bit fingerprint, 4 bands of 5 bits,
    // band equi-join, Hamming <= 3 verify. Run on a <=100k-doc slice: a
    // 20-bit fingerprint space saturates beyond ~10^5 docs (measured:
    // 6.4M Hamming-<=3 pairs at 100k docs, overwhelmingly birthday
    // collisions, not near-dups) — corpus-scale SimHash needs fingerprint
    // width grown with corpus size, exactly like q39's hyperplane count.
    // The saturated number is REPORTED, not hidden: it is the measured
    // argument for that design rule.
    val simSlice = math.max(n / 100000L, 1L)
    val (shFound, tSim) = timed("simhash + verify (<=100k slice)") {
      val fp = docs.where(pmod(col("doc_id"), lit(simSlice)) === 0)
        .select(col("doc_id"),
          NativeText.simhash20(NativeText.shingleHashesOfText(col("text"))).as("fp"))
      val bands = fp.select(col("doc_id"), col("fp"), explode(
        transform(sequence(lit(0), lit(3)), b => struct(b.as("band"),
          floor(col("fp") / pow(lit(2.0), (b * 5).cast("double"))).cast("long")
            .bitwiseAND(lit(31L)).as("bits")))).as("bk"))
        .select(col("doc_id"), col("fp"), col("bk.band").as("band"), col("bk.bits").as("bits"))
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.fp").as("f1"), col("b.fp").as("f2")).distinct()
        .where(bit_count(col("f1").bitwiseXOR(col("f2"))) <= 3)
        .count()
    }

    // ---- 3b. 64-bit SimHash (q82 shape) at FULL corpus size — the
    // round-4 measurement showed the 20-bit fingerprint saturating at
    // ~10^5 docs; this is the fix, run at the scale that broke it.
    // Round 6: the banding/verify is now the SAME code path as the
    // declared q82 (graft.operators.SimHashBands, auto-sized band width
    // from the corpus count — 16-bit here: fan-in n/65536 ≈ 30 docs at
    // 2M, where 8-bit buckets would hold ~8k docs and the candidate join
    // would be ~6e10 pairs; pigeonhole keeps full recall at Hamming ≤ 3
    // for both widths). Band WIDTH, not fingerprint width, is the
    // corpus-size knob: width ≈ log2(n) + slack, like q39's hyperplanes.
    import graft.operators.SimHashBands
    val sh64Bits = SimHashBands.bandBitsFor(nd)
    val (sh64Found, tSim64) = timed(s"simhash64 (auto ${sh64Bits}-bit bands) + verify, full corpus") {
      val fp = docs.select(col("doc_id"),
        NativeText.simhash64(NativeText.shingleHashesOfText(col("text"))).as("f"))
        .select(col("doc_id"),
          element_at(col("f"), 1).as("lo"), element_at(col("f"), 2).as("hi"))
      val bands = SimHashBands.bandsOf(fp, sh64Bits)
      SimHashBands.verifiedPairs(bands, bands, col("a.doc_id") < col("b.doc_id"))
        .count()
    }

    // ---- 3c. INCREMENTAL dedup (q86 shape): persist the corpus
    // fingerprint index ONCE (parquet, 24 bytes/doc), then dedup arriving
    // batches against it — fingerprint(batch) + band-join(batch x index)
    // + band-join(batch^2), sharing SimHashBands with the declared query.
    // Batch = a contiguous id prefix, so the injected pairs (id-1, id)
    // for id = 5, 9 (mod 10) fall WITHIN the batch: expected verified
    // pairs = 2 * batch/10, checkable without an oracle. Two batch sizes
    // measure the batch-proportional term; the full-corpus simhash64 time
    // above (tSim64) is the recompute-everything baseline. The honest
    // cost model: the EXPENSIVE per-doc term (shingling + 64-bit
    // fingerprint) scales with the batch; the corpus contributes only a
    // skinny index scan (n x 24-byte rows), which is the floor.
    val idxDir = s"/tmp/graft_scale_simhash64_index_$n"
    def fpOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        NativeText.simhash64(NativeText.shingleHashesOfText(col("text"))).as("f"))
      .select(col("doc_id"),
        element_at(col("f"), 1).as("lo"), element_at(col("f"), 2).as("hi"))
    val batchSizes = Seq(n / 40L, n / 20L).map(math.max(_, 1L)).distinct // 50k, 100k at 2M
    val maxBatch = batchSizes.max
    val (_, tIdxBuild) = timed("incremental index build (corpus fingerprints -> parquet)") {
      fpOf(docs.where(col("doc_id") >= maxBatch))
        .write.mode("overwrite").parquet(idxDir)
      ()
    }
    case class IncrPoint(batch: Long, sec: Double, pairs: Long, expected: Long)
    val incrPoints = batchSizes.map { b =>
      // index rows for docs outside THIS batch: the larger prefix is
      // excluded from the stored index, so for the smaller batch the
      // remainder of the prefix joins as part of "new" anyway — simplest
      // honest accounting: batch b means ids < b are new, ids >= maxBatch
      // are indexed, and ids in [b, maxBatch) are ignored this run.
      val (found, t) = timed(s"incremental dedup (batch=$b vs ${n - maxBatch} indexed)") {
        val corpusBands = SimHashBands.bandsOf(
          spark.read.parquet(idxDir), sh64Bits)
        val batchFp = fpOf(docs.where(col("doc_id") < b))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val batchBands = SimHashBands.bandsOf(batchFp, sh64Bits)
        val cross = SimHashBands.verifiedPairs(batchBands, corpusBands, lit(true))
        val within = SimHashBands.verifiedPairs(batchBands, batchBands,
          col("a.doc_id") < col("b.doc_id"))
        val c = cross.count() + within.count()
        batchFp.unpersist(blocking = false)
        c
      }
      IncrPoint(b, t, found, 2L * (b / 10L))
    }

    // ---- 4. similarity search at the same scale: N 16-dim vectors
    // (hash-synthesized, exact integer micros), swept over QUERY COUNT
    // (SPARK_GRAFT_ANN_QS, default 100,1000,10000) to MEASURE the
    // brute-vs-IVF crossover instead of asserting it. Brute-force exact
    // cosine top-10 via the bounded-heap TopKLongs aggregate (the q36/q49
    // shapes) is the baseline AND the ground truth at each Q.
    //
    // Round-6 fix for the r5 recall decay (nprobe=1 recall 0.82 -> 0.53
    // as Q grew): the r5 cells were literally the first 64 vectors, so
    // ids < 64 — a large fraction of small query sets — were their own
    // cell centers and recalled perfectly, while generic queries did not.
    // The code book is now refined with 3 LLOYD rounds (the q88 shape:
    // broadcast assignment by exact integer L2 + per-(cell, dim)
    // floored-mean update), and the probe sweeps nprobe in {1, 2} — the
    // recall knob (q65's shape) measured, not asserted.
    import graft.functions.TopKLongs
    import org.apache.spark.sql.expressions.Window
    val dims = 16
    val nCells = 64
    val annQs = sys.env.getOrElse("SPARK_GRAFT_ANN_QS", "100,1000,10000")
      .split(",").map(_.trim.toLong).filter(_ > 0).sorted
    val emb = spark.range(n).toDF("id")
      .withColumn("em", NativeText.microQuantize(
        transform(sequence(lit(1), lit(dims)), i =>
          ((pmod(xxhash64(col("id") * 17L + i.cast("long")), lit(2001L)) - 1000L)
            .cast("double") / 1000.0).cast("float"))))
      .withColumn("nsq", NativeText.dotLong(col("em"), col("em")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    emb.count()
    def cosMicro(dot: Column, nsqA: Column, nsqB: Column): Column =
      floor(dot.cast("double") / sqrt(nsqA.cast("double") * nsqB.cast("double")) * 1e6)
        .cast("long")
    def queriesOf(q: Long) = emb.where(col("id") < q)
      .select(col("id").as("qid"), col("em").as("qem"), col("nsq").as("qnsq"))
    def topkOf(scored: DataFrame): DataFrame = scored
      .groupBy("qid").agg(TopKLongs.topK(col("s"), col("id"), 10).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.id").as("id"))

    def cellDist = col("nsq") + col("cnorm") -
      NativeText.dotLong(col("em"), col("cvec")) * 2L
    def assignIds(base: DataFrame, cents: DataFrame): DataFrame =
      base.crossJoin(broadcast(cents))
        .select(col("id"), struct(cellDist.as("l2"), col("cell")).as("dc"))
        .groupBy("id").agg(min(col("dc")).as("dc"))
        .select(col("id"), col("dc.cell").as("cell"))
    def centsFrom(base: DataFrame, assign: DataFrame): DataFrame =
      base.join(assign, "id")
        .select(col("cell"), posexplode(col("em")).as(Seq("dim0", "v")))
        .groupBy(col("cell"), (col("dim0") + 1).as("dim"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
        .withColumn("cv", floor(col("sv").cast("double") / col("cnt")).cast("long"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
        .withColumn("cnorm", NativeText.dotLong(col("cvec"), col("cvec")))

    val seedCents = emb.where(col("id") < nCells)
      .select(col("id").as("cell"), col("em").as("cvec"), col("nsq").as("cnorm"))
    val (cents, tLloyd) = timed(s"IVF($nCells cells) Lloyd refine (3 rounds)") {
      var c = seedCents
      for (_ <- 1 to 3) c = centsFrom(emb, assignIds(emb, c)).localCheckpoint()
      c
    }
    val (docsInCell, tIvfBuild) = timed(s"IVF($nCells cells) index build") {
      val dic = emb.join(assignIds(emb, cents), "id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dic.count()
      dic
    }

    // ---- 4b. product quantization (the q197 shape at scale): M=8
    // sub-spaces × K=64 codes, codebooks trained on a ≤100k sample with
    // 2 Lloyd rounds (standard PQ practice — training cost must not scale
    // with the corpus), the FULL corpus encoded once to 4 codes + its
    // norm. Query scoring is ADC: a per-query (m·K+code → partial-dot)
    // map, so each candidate costs 4 map lookups instead of a 16-dim
    // exact dot. Two paths measured per Q against the same brute truth:
    // full-corpus ADC scan (isolates codebook accuracy) and IVF-PQ
    // (nprobe=4 cells scored by ADC — the production composition whose
    // target is np4 recall at under np2 exact-probe cost).
    val pqM = 8; val pqSubDim = dims / pqM; val pqK = 64
    def subOf(df: DataFrame): DataFrame = df
      .select(col("id"), explode(array((0 until pqM).map(m => struct(lit(m.toLong).as("m"),
        slice(col("em"), m * pqSubDim + 1, pqSubDim).as("sv"))): _*)).as("x"))
      .select(col("id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .withColumn("snsq", NativeText.dotLong(col("sv"), col("sv")))
    def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = sub
      .join(broadcast(cb), Seq("m"))
      .select(col("id"), col("m"), col("sv"), col("snsq"),
        struct((col("snsq") + col("cnorm") -
          NativeText.dotLong(col("sv"), col("cvec")) * 2L).as("l2"), col("code")).as("dc"))
      .groupBy(col("id"), col("m"))
      // sv/snsq are constant across a (id, m) group's candidate rows
      .agg(min(col("dc")).as("dc"), first(col("sv")).as("sv"))
      .select(col("id"), col("m"), col("sv"), col("dc.code").as("code"))
    def pqCbFrom(assigned: DataFrame): DataFrame = assigned
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("dim0", "v")))
      .groupBy(col("m"), col("code"), (col("dim0") + 1).as("dim"))
      .agg(sum(col("v")).as("svv"), count(lit(1)).as("cnt"))
      .withColumn("cv", floor(col("svv").cast("double") / col("cnt")).cast("long"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
      .withColumn("cnorm", NativeText.dotLong(col("cvec"), col("cvec")))
    val pqSampleStep = math.max(n / 100000L, 1L)
    val pqSeed = subOf(emb.where(col("id") < pqK))
      .select(col("m"), col("id").as("code"), col("sv").as("cvec"))
      .withColumn("cnorm", NativeText.dotLong(col("cvec"), col("cvec")))
    val (pqCb, tPqTrain) = timed(s"PQ($pqM x $pqK) codebook train (2 Lloyd rounds, sampled)") {
      val sample = subOf(emb.where(pmod(col("id"), lit(pqSampleStep)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var cb = pqSeed
      for (_ <- 1 to 2) {
        // a code that loses every member keeps its previous centroid, so
        // every (m, code) slot 0..K-1 ALWAYS exists — the ADC table can
        // then be a dense positional array (O(1) lookups; a map's
        // element_at linear-scans its keys, measured 30x slower)
        val upd = pqCbFrom(pqAssign(sample, cb))
        cb = cb.select(col("m"), col("code"),
            col("cvec").as("cvec0"), col("cnorm").as("cnorm0"))
          .join(upd, Seq("m", "code"), "left")
          .select(col("m"), col("code"),
            coalesce(col("cvec"), col("cvec0")).as("cvec"),
            coalesce(col("cnorm"), col("cnorm0")).as("cnorm"))
          .localCheckpoint()
      }
      sample.unpersist(blocking = false)
      cb
    }
    val (pqEnc, tPqEncode) = timed("PQ encode corpus (codes + norm per vector)") {
      val e = pqAssign(subOf(emb), pqCb)
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
          x => x.getField("code")).as("codes"))
        .join(emb.select(col("id"), col("nsq")), "id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    val encWithCell = pqEnc.join(docsInCell.select(col("id"), col("cell")), "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    encWithCell.count()
    // ADC: ONE native codegen kernel doing the M table lookups in a
    // primitive loop (NativeText.adcSum) — the unrolled element_at
    // chain paid per-lookup ArrayData indirection that ate the FLOP win
    val pqScore = graft.functions.NativeText.adcSum(col("codes"), col("dtq"), pqK)

    case class AnnPoint(q: Long, bruteSec: Double,
                        bruteBatchSec: Double, bruteBatchHits: Long,
                        probe1Sec: Double, hits1: Long,
                        probe2Sec: Double, hits2: Long,
                        probe4Sec: Double, hits4: Long,
                        batch1Sec: Double, bHits1: Long,
                        batch4Sec: Double, bHits4: Long,
                        pqFullSec: Double, pqFullHits: Long,
                        ivfPqSec: Double, ivfPqHits: Long, truthRows: Long)
    val annPoints = annQs.map { q =>
      val queries = queriesOf(q)
      // BATCHED exact scan (MultiQueryTopK) is the GROUND TRUTH at every
      // Q: one corpus pass with broadcast query tables — no N×Q join
      // rows (the ~20-25 ns/pair machinery floor) and no per-row copy of
      // the tables. The pair-join brute is measured as a COMPARISON
      // point at Q<=1000 only: at Q=10k it burned 4-12 suite-minutes
      // (N×Q join rows) to restate a truth the batched scan computes in
      // seconds at measured overlap 0.99999-1.0 (the residue is
      // floor(cos·1e6) rank-10 tie collapse, recall noise <=1e-4).
      val qtabsQ = queries.collect().map(r =>
        (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
      val (bruteTop, tBruteBatch) = timed(s"brute BATCHED scan / truth (Q=$q)") {
        val top = emb
          .groupBy()
          .agg(graft.functions.MultiQueryTopK.dotTopK(
            col("id"), col("em"), col("nsq"), qtabsQ, 10).as("res"))
          .select(explode(col("res")).as("r"))
          .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
          .select(col("qid"), col("e.id").as("id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        top.count()
        top
      }
      val truthRows = bruteTop.count() // actual ground-truth rows: ties or
      // tiny corpora can yield < 10 per query; recall divides by THIS.
      val (bbHits, tBrute) =
        if (q <= 1000) timed(s"brute-force pair-join kNN (Q=$q)") {
          val top = topkOf(emb.crossJoin(broadcast(queries))
            .select(col("qid"),
              cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
              col("id")))
          top.join(bruteTop, Seq("qid", "id")).count()
        } else (-1L, -1.0)
      def qCellOf(nprobe: Int): DataFrame = {
        // per-query nprobe nearest cells; cells partition the corpus, so
        // probing 2 cells yields disjoint candidate sets (q65's shape).
        val qDist = col("qnsq") + col("cnorm") -
          NativeText.dotLong(col("qem"), col("cvec")) * 2L
        queries.crossJoin(broadcast(cents))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(qDist, col("cell"))))
          .where(col("rnk") <= nprobe)
          .select(col("qid"), col("qem"), col("qnsq"), col("cell"))
      }
      def probe(nprobe: Int): (Long, Double) = timed(s"IVF probe (Q=$q, nprobe=$nprobe)") {
        val ivfTop = topkOf(docsInCell.join(broadcast(qCellOf(nprobe)), "cell")
          .select(col("qid"),
            cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
            col("id")))
        ivfTop.join(bruteTop, Seq("qid", "id")).count()
      }
      val (hits1, tProbe1) = probe(1)
      val (hits2, tProbe2) = probe(2)
      val (hits4, tProbe4) = probe(4)
      // IVF × BATCHED (the q225 composition): same probed-cell candidate
      // set as probe(nprobe), but scored through the grouped
      // MultiQueryTopK kernel — groupBy(cell) with each cell's OWN
      // probing queries as its broadcast table row (the per-group table
      // decode), so per-(row,query) cost is the dot itself, not the
      // ~20-25 ns/pair join machinery. nprobe>1 splits a query across
      // cells; the final merge re-ranks the ≤ nprobe×10 survivors.
      def probeBatch(nprobe: Int): (Long, Double) =
        timed(s"IVF BATCHED probe (Q=$q, nprobe=$nprobe)") {
          val byCell = qCellOf(nprobe)
            .select(col("cell"), col("qid"), col("qem"), col("qnsq")).collect()
            .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Long](2), r.getLong(3))))
            .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSeq }
          val perCell = docsInCell
            .where(col("cell").isin(byCell.keys.toSeq: _*))
            .groupBy(col("cell"))
            .agg(graft.functions.MultiQueryTopK.dotTopKGrouped(
              col("id"), col("em"), col("nsq"), col("cell"), byCell, 10).as("res"))
            .select(explode(col("res")).as("r"))
            .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
            .select(col("qid"), col("e.id").as("id"), col("e.cos").as("cos"))
          val top =
            if (nprobe == 1) perCell.select(col("qid"), col("id"))
            else perCell
              .withColumn("rnk", row_number().over(
                Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))))
              .where(col("rnk") <= 10).select(col("qid"), col("id"))
          top.join(bruteTop, Seq("qid", "id")).count()
        }
      val (bHits1, tBatch1) = probeBatch(1)
      val (bHits4, tBatch4) = probeBatch(4)
      // per-query ADC table: dense positional array over slot = m·K+code
      // (the codebook construction guarantees every slot exists)
      val qdt = subOf(queries.select(col("qid").as("id"), col("qem").as("em")))
        .join(broadcast(pqCb), Seq("m"))
        .select(col("id").as("qid"), (col("m") * pqK + col("code")).as("slot"),
          NativeText.dotLong(col("sv"), col("cvec")).as("pdot"))
        .groupBy("qid")
        .agg(transform(array_sort(collect_list(struct(col("slot"), col("pdot")))),
          x => x.getField("pdot")).as("dtq"))
        .join(queries.select(col("qid"), col("qnsq")), Seq("qid"))
      // ADC ranks are approximate, so the production shape is shortlist +
      // exact re-rank (IVFADC+R): ADC keeps a top-100 per query at 4
      // lookups/candidate, then 100 exact dots/query decide the top-10.
      val rerankR = 200
      def shortlistRerank(adcScored: DataFrame): DataFrame = {
        val short = adcScored
          .groupBy("qid").agg(TopKLongs.topK(col("s"), col("id"), rerankR).as("tk"))
          .select(col("qid"), explode(col("tk")).as("e"))
          .select(col("qid"), col("e.id").as("id"))
        topkOf(emb.join(broadcast(short), Seq("id"))
          .join(broadcast(queries), Seq("qid"))
          .select(col("qid"),
            cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
            col("id")))
      }
      // Full-corpus ADC capped at Q<=1000: at dims=16 a NATIVE exact dot
      // is cheap enough that ADC's per-candidate array indirection does
      // not pay (measured ~3x brute per pair at the 100k smoke) — PQ's
      // compute win needs >=128-dim vectors; its 4x memory/scan cut and
      // the shortlist+re-rank recall mechanics are what this measures.
      // Q=10k full-scan ADC would burn ~30 min to restate the same verdict.
      val (pqFullHits, tPqFull) =
        if (q <= 1000) timed(s"PQ ADC scan + re-rank (Q=$q)") {
          val top = shortlistRerank(pqEnc.crossJoin(broadcast(qdt))
            .select(col("qid"), cosMicro(pqScore, col("nsq"), col("qnsq")).as("s"), col("id")))
          top.join(bruteTop, Seq("qid", "id")).count()
        } else (-1L, -1.0)
      // IVF-PQ through the GROUPED BATCHED ADC kernel (the q225
      // composition in ADC mode): the old shape joined encWithCell to the
      // probe set per-pair — ~1B (doc, query) join rows at Q=10k, each
      // COPYING the query's 4 KB ADC table into the pair row (transport,
      // not arithmetic — measured 241 s). Here each probed cell's docs
      // pass ONCE through adcTopKGrouped with the cell's own query
      // tables riding a reference-deduped broadcast; per-cell ADC
      // top-R survivors union-merge to a global per-query shortlist
      // that the bounded exact re-rank decides.
      val (ivfPqHits, tIvfPq) = timed(s"IVF-PQ BATCHED (Q=$q, nprobe=4, grouped ADC + re-rank)") {
        // per-query ADC tables computed DRIVER-SIDE from the collected
        // codebook (M·K = 512 rows) and the already-collected query set:
        // the Spark pipeline version (explode → join → collect_list →
        // collect) spent several stages and a 40 MB collect on what is
        // ~40M multiply-adds locally
        val (byCellAdc, tTables) = timed(s"  ivfpq: ADC tables + probe map (Q=$q)") {
          val cb = pqCb.select(col("m"), col("code"), col("cvec")).collect()
            .map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
              r.getSeq[Long](2).toArray))
          def tabOf(qem: Seq[Long]): Seq[Long] = {
            val qa = qem.toArray
            val t = new Array[Long](pqM * pqK)
            cb.foreach { case (m, code, cvec) =>
              var s = 0L; var j = 0
              while (j < pqSubDim) { s += cvec(j) * qa(m * pqSubDim + j); j += 1 }
              t(m * pqK + code) = s
            }
            t.toSeq
          }
          val adcByQid = qtabsQ.map { case (qid, qem, qnsq) =>
            qid -> ((qid, tabOf(qem), qnsq))
          }.toMap
          qCellOf(4).select(col("cell"), col("qid")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).map { case (c, xs) => c -> xs.map(x => adcByQid(x._2)).toSeq }
        }
        val (perCell, tScan) = timed(s"  ivfpq: grouped ADC scan (Q=$q, R=$rerankR)") {
          val pc = encWithCell
            .where(col("cell").isin(byCellAdc.keys.toSeq: _*))
            .groupBy(col("cell"))
            .agg(graft.functions.MultiQueryTopK.adcTopKGrouped(
              col("id"), col("codes"), col("nsq"), col("cell"),
              byCellAdc, rerankR, pqK).as("res"))
            .select(explode(col("res")).as("r"))
            .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
            .select(col("qid"), col("e.cos").as("s0"), col("e.id").as("id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pc.count()
          pc
        }
        // union-merge the ≤ nprobe×R per-cell survivors to the global
        // ADC top-R per query — bounded heaps (TopKLongs), no sort
        // shuffle; micro-quantized merge scores only ORDER the approx
        // shortlist, the exact re-rank decides the final ranks
        val (short, tMerge) = timed(s"  ivfpq: shortlist union-merge (Q=$q)") {
          val sh = perCell
            .groupBy("qid")
            .agg(TopKLongs.topK(floor(col("s0") * 1e6d).cast("long"),
              col("id"), rerankR).as("tk"))
            .select(col("qid"), explode(col("tk")).as("e"))
            .select(col("qid"), col("e.id").as("id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          sh.count()
          sh
        }
        val (hits, tRerank) = timed(s"  ivfpq: exact re-rank + truth join (Q=$q)") {
          val top = topkOf(emb.join(broadcast(short), Seq("id"))
            .join(broadcast(queries), Seq("qid"))
            .select(col("qid"),
              cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
              col("id")))
          top.join(bruteTop, Seq("qid", "id")).count()
        }
        println(s"[scale]   ivfpq breakdown: tables=${tTables}s scan=${tScan}s " +
          s"merge=${tMerge}s rerank=${tRerank}s")
        perCell.unpersist(blocking = false)
        short.unpersist(blocking = false)
        hits
      }
      bruteTop.unpersist(blocking = false)
      AnnPoint(q, tBrute, tBruteBatch, bbHits, tProbe1, hits1, tProbe2, hits2,
        tProbe4, hits4, tBatch1, bHits1, tBatch4, bHits4,
        tPqFull, pqFullHits, tIvfPq, ivfPqHits, truthRows)
    }
    encWithCell.unpersist(blocking = false)
    pqEnc.unpersist(blocking = false)
    docsInCell.unpersist(blocking = false)
    emb.unpersist(blocking = false)

    // ---- 4c. PQ FLOP CROSSOVER at dims=128 (round 9): the dims=16
    // fixture honestly recorded that ADC's per-candidate table
    // indirection LOSES to a native 16-dim exact dot (~3×) — "PQ pays
    // at >=128 dims" had been claimed but unmeasured. This fixture
    // measures it: 128-dim vectors, M=16 sub-spaces of 8 dims, so ADC
    // scores a candidate with 16 O(1) array lookups instead of a
    // 128-dim integer dot (8× FLOP cut), and the shortlist + exact
    // re-rank (same rerankR) restores recall. pqAssign/pqCbFrom/topkOf
    // above are dimension-generic and reused as-is.
    val d128 = 128
    // full corpus by default: the ADC-vs-brute CROSSOVER is in N — the
    // scan components scale with N×Q while the shortlist/re-rank stages
    // scale with Q only, so a small fixture sits below the crossover
    // (measured 0.33x at 100k) and the full corpus above it
    // independent of SCALE_N so the pq128 section can run at full size
    // under an otherwise-small (fast) suite — the focused-rerun knob
    val n128 = sys.env.getOrElse("SPARK_GRAFT_PQ128_N", n.toString).toLong
    val q128s = sys.env.getOrElse("SPARK_GRAFT_PQ128_QS", "200")
      .split(",").map(_.trim.toLong).filter(_ > 0).sorted
    val m128 = 16; val sub128 = d128 / m128; val k128 = 64
    // CLUSTERED fixture (round 11): real embedding corpora cluster —
    // a hash-UNIFORM 128-dim corpus has no neighbor structure at all
    // (distance concentration), which makes IVF recall meaningless and
    // forces corpus-proportional ADC shortlists (the r9/r10 finding).
    // Each vector = 75% its TOPIC anchor (id mod topics) + 25%
    // id-private noise: same-topic points are true neighbors
    // (cos ≈ 0.9), topics give the coarse quantizer real structure.
    // Topic SIZE is held at ~50 members as the corpus grows (real
    // neighbor sets are dozens, not corpus-proportional equivalence
    // classes): with corpus-proportional topic size the true top-10
    // separate only by iid-noise alignment inside thousands of
    // near-ties, and ANY quantized shortlist information-theoretically
    // needs R ~ topic size — measured: R for IVFADC recall parity grew
    // with n and the re-rank erased the 8x FLOP cut. Fixed topic size
    // keeps the shortlist budget CONSTANT in corpus size, which is the
    // regime PQ exists for.
    val topics128 = math.max(64L, n128 / 50L)
    val emb128 = spark.range(n128).toDF("id")
      .withColumn("em", NativeText.microQuantize(
        transform(sequence(lit(1), lit(d128)), i => {
          val anchor = (pmod(xxhash64(pmod(col("id"), lit(topics128)) * 31L +
            i.cast("long")), lit(2001L)) - 1000L).cast("double") / 1000.0
          val noise = (pmod(xxhash64(col("id") * 29L + i.cast("long")),
            lit(2001L)) - 1000L).cast("double") / 1000.0
          (anchor * 0.75 + noise * 0.25).cast("float")
        })))
      .withColumn("nsq", NativeText.dotLong(col("em"), col("em")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    emb128.count()
    def sub128Of(df: DataFrame): DataFrame = df
      .select(col("id"), explode(array((0 until m128).map(m => struct(lit(m.toLong).as("m"),
        slice(col("em"), m * sub128 + 1, sub128).as("sv"))): _*)).as("x"))
      .select(col("id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .withColumn("snsq", NativeText.dotLong(col("sv"), col("sv")))
    val seed128 = sub128Of(emb128.where(col("id") < k128))
      .select(col("m"), col("id").as("code"), col("sv").as("cvec"))
      .withColumn("cnorm", NativeText.dotLong(col("cvec"), col("cvec")))
    val step128 = math.max(n128 / 100000L, 1L)
    val (cb128, tTrain128) = timed(s"PQ128($m128 x $k128) codebook train") {
      val sample = sub128Of(emb128.where(pmod(col("id"), lit(step128)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var cb = seed128
      for (_ <- 1 to 3) {
        val upd = pqCbFrom(pqAssign(sample, cb))
        cb = cb.select(col("m"), col("code"),
            col("cvec").as("cvec0"), col("cnorm").as("cnorm0"))
          .join(upd, Seq("m", "code"), "left")
          .select(col("m"), col("code"),
            coalesce(col("cvec"), col("cvec0")).as("cvec"),
            coalesce(col("cnorm"), col("cnorm0")).as("cnorm"))
          .localCheckpoint()
      }
      sample.unpersist(blocking = false)
      cb
    }
    val (enc128, tEncode128) = timed("PQ128 encode corpus") {
      val e = pqAssign(sub128Of(emb128), cb128)
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
          x => x.getField("code")).as("codes"))
        .join(emb128.select(col("id"), col("nsq")), "id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    val score128 = graft.functions.NativeText.adcSum(col("codes"), col("dtq"), k128)
    // IVF coarse quantizer at 128 dims (assignIds/centsFrom are
    // dimension-generic): Lloyd on a <=100k sample — training must not
    // scale with the corpus — then ONE full-corpus assign. This is what
    // the IVF-PQ composition probes below; codes and cells live in one
    // persisted frame so the probed scan is cell-filter + group.
    val (cents128, tLloyd128) = timed(s"IVF128($nCells cells) Lloyd (sampled)") {
      val sample = emb128.where(pmod(col("id"), lit(step128)) === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var c = emb128.where(col("id") < nCells)
        .select(col("id").as("cell"), col("em").as("cvec"), col("nsq").as("cnorm"))
      for (_ <- 1 to 3) c = centsFrom(sample, assignIds(sample, c)).localCheckpoint()
      sample.unpersist(blocking = false)
      c
    }
    val (cellOf128, tIvfBuild128) = timed("IVF128 index build (full assign)") {
      val c = assignIds(emb128, cents128)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    // RESIDUAL encode — IVFADC proper (Jégou et al., "Product
    // Quantization for Nearest Neighbor Search" §IV): PQ codes the
    // residual x − centroid(cell(x)), so the entire 16×64 codebook
    // budget resolves WITHIN-cell structure instead of re-describing
    // the coarse position the cell id already carries. On clustered
    // data this is the difference between a working and a useless
    // shortlist: plain-PQ ADC ranks same-topic candidates by
    // quantization noise (measured recall 0.37 at R=256), residual
    // ADC by their actual offsets. nsq stays the FULL vector's norm —
    // the cosine denominator is exact either way.
    val resWithCell = emb128.join(cellOf128, "id")
      .join(broadcast(cents128.select(col("cell"), col("cvec"))), "cell")
      .select(col("id"), col("cell"),
        zip_with(col("em"), col("cvec"), (a, b) => a - b).as("em"), col("nsq"))
    val (cbR, tTrainR) = timed(s"PQ128 RESIDUAL($m128 x $k128) codebook train") {
      val sample = sub128Of(resWithCell.where(pmod(col("id"), lit(step128)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var cb = sub128Of(resWithCell.where(col("id") < k128))
        .select(col("m"), col("id").as("code"), col("sv").as("cvec"))
        .withColumn("cnorm", NativeText.dotLong(col("cvec"), col("cvec")))
      for (_ <- 1 to 3) {
        val upd = pqCbFrom(pqAssign(sample, cb))
        cb = cb.select(col("m"), col("code"),
            col("cvec").as("cvec0"), col("cnorm").as("cnorm0"))
          .join(upd, Seq("m", "code"), "left")
          .select(col("m"), col("code"),
            coalesce(col("cvec"), col("cvec0")).as("cvec"),
            coalesce(col("cnorm"), col("cnorm0")).as("cnorm"))
          .localCheckpoint()
      }
      sample.unpersist(blocking = false)
      cb
    }
    val (encR128, tEncodeR) = timed("PQ128 RESIDUAL encode corpus") {
      val e = pqAssign(sub128Of(resWithCell), cbR)
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
          x => x.getField("code")).as("codes"))
        .join(resWithCell.select(col("id"), col("cell"), col("nsq")), "id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    case class Pq128Point(q: Long, bruteSec: Double,
                          dotBatchSec: Double, dotBatchHits: Long,
                          adcSec: Double, hits: Long,
                          adcScanSec: Double, adcScanHits: Long,
                          adcBatchSec: Double, adcBatchHits: Long,
                          ivfDotSec: Double, ivfDotHits: Long,
                          ivfAdcSec: Double, ivfAdcHits: Long,
                          truthRows: Long)
    val pq128Points = q128s.map { q =>
      val queries = emb128.where(col("id") < q)
        .select(col("id").as("qid"), col("em").as("qem"), col("nsq").as("qnsq"))
      // BATCHED exact scan is the GROUND TRUTH (same policy as the
      // dims=16 section): one corpus pass, queries broadcast, and the
      // fair FLOP baseline for the batched ADC leg. The pair-join brute
      // is measured as a comparison point at Q<=200 only — at Q=2000 it
      // burned 6 suite-minutes restating a truth the batched scan
      // computes at measured overlap 1.0.
      val qtabs128 = queries.collect().map(r =>
        (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
      val (bruteTop, tDotBatch) = timed(s"PQ128 brute BATCHED scan / truth (Q=$q)") {
        val top = emb128
          .groupBy()
          .agg(graft.functions.MultiQueryTopK.dotTopK(
            col("id"), col("em"), col("nsq"), qtabs128, 10).as("res"))
          .select(explode(col("res")).as("r"))
          .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
          .select(col("qid"), col("e.id").as("id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        top.count()
        top
      }
      val truthRows = bruteTop.count()
      val (dbHits, tB) =
        if (q > 200) (-1L, -1.0)
        else timed(s"PQ128 brute pair-join kNN (Q=$q)") {
          val top = topkOf(emb128.crossJoin(broadcast(queries))
            .select(col("qid"),
              cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
              col("id")))
          top.join(bruteTop, Seq("qid", "id")).count()
        }
      val qdt = sub128Of(queries.select(col("qid").as("id"), col("qem").as("em")))
        .join(broadcast(cb128), Seq("m"))
        .select(col("id").as("qid"), (col("m") * k128 + col("code")).as("slot"),
          NativeText.dotLong(col("sv"), col("cvec")).as("pdot"))
        .groupBy("qid")
        .agg(transform(array_sort(collect_list(struct(col("slot"), col("pdot")))),
          x => x.getField("pdot")).as("dtq"))
        .join(queries.select(col("qid"), col("qnsq")), Seq("qid"))
      // shortlist ~0.5% of the corpus (min 1000): hash-synthesized
      // vectors are near-orthogonal, so true top-10 score gaps sit
      // inside ADC's quantization noise and the number of false
      // candidates scoring above the true 10th grows WITH N — a fixed
      // shortlist measured recall 0.89 at 100k but 0.68 at 2M. A
      // corpus-proportional shortlist keeps recall stable; the exact
      // re-rank cost (Q x shortlist dots) stays 200x below brute, and
      // the heap TopK makes the wide-k aggregate O(1) per rejected row.
      val rerank128 = sys.env.get("SPARK_GRAFT_PQ128_RERANK").map(_.toInt)
        .getOrElse(math.max(1000L, n128 / 200L).toInt)
      val qtabsAdc = qdt.select(col("qid"), col("dtq"), col("qnsq")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
      // PURE KERNEL CROSSOVER: batched ADC exact-merge top-10 in one
      // pass, identical machinery to the batched dot leg above — the
      // ONLY difference is the scoring kernel (16 transposed block
      // reads vs 128 multiply-adds). This isolates the FLOP-cut
      // question from shortlist/re-rank volume: adc_scan_sec vs
      // dot_batch_sec is the honest "does ADC beat the exact dot at
      // 128 dims" number; its recall is ADC-rank recall (quantization
      // noise included), reported separately.
      val (asHits, tAdcScan) = timed(s"PQ128 ADC BATCHED pure scan (Q=$q)") {
        val top = enc128
          .groupBy()
          .agg(graft.functions.MultiQueryTopK.adcTopK(
            col("id"), col("codes"), col("nsq"), qtabsAdc, 10, k128).as("res"))
          .select(explode(col("res")).as("r"))
          .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
          .select(col("qid"), col("e.id").as("id"))
        top.join(bruteTop, Seq("qid", "id")).count()
      }
      // the corpus-proportional-R full-scan path is the documented
      // non-IVF shortfall (R = n/200 keeps recall but the re-rank is
      // the cost); measuring it once at Q=200 restates the verdict —
      // at Q=2000 it burned 15 suite-minutes re-proving it
      val (hits, tA) = if (q > 200) (-1L, -1.0)
        else timed(s"PQ128 ADC scan + re-rank (Q=$q)") {
        val short = enc128.crossJoin(broadcast(qdt))
          .select(col("qid"), cosMicro(score128, col("nsq"), col("qnsq")).as("s"), col("id"))
          .groupBy("qid").agg(TopKLongs.topK(col("s"), col("id"), rerank128).as("tk"))
          .select(col("qid"), explode(col("tk")).as("e"))
          .select(col("qid"), col("e.id").as("id"))
        val top = topkOf(emb128.join(broadcast(short), Seq("id"))
          .join(broadcast(queries), Seq("qid"))
          .select(col("qid"),
            cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
            col("id")))
        top.join(bruteTop, Seq("qid", "id")).count()
      }
      // BATCHED ADC shortlist + exact re-rank: union-of-per-partition
      // top-k' candidates (k' sized so the per-query union matches the
      // 2×rerank128 budget), generated in ONE pass over the 128-byte/row
      // code table with all Q distance tables broadcast as one row. This
      // is where PQ's 8× FLOP cut and 8× scan-byte cut actually show up:
      // the pair-join legs above pay ~20-25 ns/pair of join machinery
      // per SCORE, which buries a 16-lookup kernel; amortized across Q
      // queries per row, arithmetic is the cost again.
      val parts128 = enc128.rdd.getNumPartitions
      // per-partition k' sized so the UNION matches the rerank budget
      // (was 2×rerank/partition — r9 measured the resulting candidate
      // volume explosion); and the candidate set is BROADCAST into the
      // vector-fetch join (it was an unhinted join that shuffled the
      // 2 GB vector table — the dominant cost of the r9 457 s leg)
      val shortK = math.max(32, (rerank128.toLong / math.max(parts128, 1)).toInt)
      val (abHits, tAdcBatch) = timed(s"PQ128 ADC BATCHED scan + re-rank (Q=$q)") {
        val cand = enc128
          .groupBy()
          .agg(graft.functions.MultiQueryTopK.adcShortlist(
            col("id"), col("codes"), col("nsq"), qtabsAdc, shortK, k128).as("res"))
          .select(explode(col("res")).as("r"))
          .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
          .select(col("qid"), col("e.id").as("id"))
        val top = topkOf(emb128.join(broadcast(cand), Seq("id"))
          .join(broadcast(queries), Seq("qid"))
          .select(col("qid"),
            cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
            col("id")))
        top.join(bruteTop, Seq("qid", "id")).count()
      }
      // ---- IVF × batched kernels at 128 dims (round 11): the
      // production ANN composition at REAL embedding width, where the
      // 16-lookup ADC kernel measurably beats the 128-mult dot (the
      // dims=16 section honestly records the opposite — a SIMD'able
      // 16-mult dot beats 8 serial gathers, so exact-dot composition
      // wins there). Both legs probe the SAME nprobe=4 cells — the
      // recall ceiling is shared, the kernel is the only difference.
      val byCell128 = queries.crossJoin(broadcast(cents128))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(
            col("qnsq") + col("cnorm") - NativeText.dotLong(col("qem"), col("cvec")) * 2L,
            col("cell"))))
        .where(col("rnk") <= 4)
        .select(col("cell"), col("qid")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val qemByQid = qtabs128.map(t => t._1 -> t).toMap
      val byCellDot = byCell128.groupBy(_._1)
        .map { case (c, xs) => c -> xs.map(x => qemByQid(x._2)).toSeq }
      val (ivfDotHits, tIvfDot) = timed(s"PQ128 IVF np4 BATCHED exact dot (Q=$q)") {
        val top = emb128.join(cellOf128, "id")
          .where(col("cell").isin(byCellDot.keys.toSeq: _*))
          .groupBy(col("cell"))
          .agg(graft.functions.MultiQueryTopK.dotTopKGrouped(
            col("id"), col("em"), col("nsq"), col("cell"), byCellDot, 10).as("res"))
          .select(explode(col("res")).as("r"))
          .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
          .select(col("qid"), col("e.cos").as("s0"), col("e.id").as("id"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("s0").desc, col("id"))))
          .where(col("rnk") <= 10).select(col("qid"), col("id"))
        top.join(bruteTop, Seq("qid", "id")).count()
      }
      // residual ADC tables are PER (query, cell): entry[m·K+code] =
      // dot(q_sub_m, rvec_sub_m) + dot(q, centroid(cell))/M (the
      // coarse term spread across sub-spaces so the kernel's M-lookup
      // sum reconstructs dot(q, c) + dot(q, r) ≈ dot(q, x); the
      // integer-division remainder rides on sub-space 0 — exact).
      // Driver-side: M·K·subDim mults per (q, cell), microseconds.
      val cbRArr = cbR.select(col("m"), col("code"), col("cvec")).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getSeq[Long](2).toArray))
      val centArr = cents128.select(col("cell"), col("cvec")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      val qemByQid2 = qtabs128.map(t => t._1 -> t).toMap
      def tabOfR(qem: Seq[Long], cell: Long): Seq[Long] = {
        val qa = qem.toArray
        val cv = centArr(cell)
        var qc = 0L
        var j = 0
        while (j < d128) { qc += qa(j) * cv(j); j += 1 }
        val base = qc / m128
        val rem = qc - base * m128
        val t = new Array[Long](m128 * k128)
        cbRArr.foreach { case (m, code, cvec) =>
          var s = 0L
          var i = 0
          while (i < sub128) { s += cvec(i) * qa(m * sub128 + i); i += 1 }
          t(m * k128 + code) = s + base + (if (m == 0) rem else 0L)
        }
        t.toSeq
      }
      val byCellAdc128 = byCell128.groupBy(_._1)
        .map { case (c, xs) =>
          c -> xs.map { x =>
            val (qid, qem, qnsq) = qemByQid2(x._2)
            (qid, tabOfR(qem, c), qnsq)
          }.toSeq
        }
      // R is CONSTANT in corpus size (the fixture holds topic size at
      // ~50): top-10 of a ~50-member neighbor set sits comfortably in a
      // 128-deep residual-ADC shortlist, and small R is what keeps the
      // composed ADC scan heap-light enough to show the kernel win
      val rerankIvf = sys.env.get("SPARK_GRAFT_PQ128_IVF_RERANK").map(_.toInt)
        .getOrElse(128)
      val (ivfAdcHits, tIvfAdc) = timed(
          s"PQ128 IVFADC np4 residual + re-rank (Q=$q, R=$rerankIvf)") {
        val perCell = encR128
          .where(col("cell").isin(byCellAdc128.keys.toSeq: _*))
          .groupBy(col("cell"))
          .agg(graft.functions.MultiQueryTopK.adcTopKGrouped(
            col("id"), col("codes"), col("nsq"), col("cell"),
            byCellAdc128, rerankIvf, k128).as("res"))
          .select(explode(col("res")).as("r"))
          .select(col("r.qid").as("qid"), explode(col("r.tk")).as("e"))
          .select(col("qid"), col("e.cos").as("s0"), col("e.id").as("id"))
        val short = perCell
          .groupBy("qid")
          .agg(TopKLongs.topK(floor(col("s0") * 1e6d).cast("long"),
            col("id"), rerankIvf).as("tk"))
          .select(col("qid"), explode(col("tk")).as("e"))
          .select(col("qid"), col("e.id").as("id"))
        val top = topkOf(emb128.join(broadcast(short), Seq("id"))
          .join(broadcast(queries), Seq("qid"))
          .select(col("qid"),
            cosMicro(NativeText.dotLong(col("em"), col("qem")), col("nsq"), col("qnsq")).as("s"),
            col("id")))
        top.join(bruteTop, Seq("qid", "id")).count()
      }
      bruteTop.unpersist(blocking = false)
      Pq128Point(q, tB, tDotBatch, dbHits, tA, hits, tAdcScan, asHits,
        tAdcBatch, abHits, tIvfDot, ivfDotHits, tIvfAdc, ivfAdcHits, truthRows)
    }
    encR128.unpersist(blocking = false)
    cellOf128.unpersist(blocking = false)
    enc128.unpersist(blocking = false)
    emb128.unpersist(blocking = false)

    // ---- 5. CONTAINMENT detection (q84 shape) with containment injected
    // BY CONSTRUCTION: a fresh corpus of 60-token docs where ids = 7
    // (mod 10) are 120-token CONTAINERS holding all of id-1's text plus
    // 60 unique tokens — so id-1's shingles (hence its mod-8 sampled
    // fingerprints, deterministic in the hash value) are a subset of
    // id's, and the pair (i=id-1 contained-in j=id) must be flagged at
    // ratio 1.0 whenever id-1 carries >= 4 prints. Expected detections =
    // N/10 x P[Binomial(58 shingles, 1/8) >= 4] ≈ 0.94 x N/10 — the
    // min-support guard's miss rate is a KNOWN binomial tail, reported
    // against the measured count. Reverse pairs (container "contained
    // in" its piece) must NOT fire: shared/prints(container) ≈ 7/15 <
    // 0.8. Fan-in per print value is bounded by true duplication (q75's
    // argument) — this run MEASURES that claim at 100k and full scale:
    // linear wall time is the certificate.
    def cBody(idCol: Column, k: Int, salt: Long): Column =
      concat_ws(" ", transform(sequence(lit(1), lit(k)), i =>
        concat(lit("c"), pmod(xxhash64(idCol * salt + i.cast("long")), lit(vocab)))))
    val cdocsAll = spark.range(n).toDF("doc_id")
      .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 7,
          concat_ws(" ", cBody(col("doc_id") - 1, 60, 131L), cBody(col("doc_id"), 60, 977L)))
        .otherwise(cBody(col("doc_id"), 60, 131L)))
    case class ContainPoint(docs: Long, sec: Double, found: Long,
                            injectedFound: Long, injected: Long)
    val containPoints = Seq(math.min(100000L, n), n).distinct.map { cn =>
      val cd = cdocsAll.where(col("doc_id") < cn)
        .repartition(cpus * 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cd.count()
      val ((found, injectedFound), t) = timed(s"containment detection ($cn docs)") {
        val fp = cd.select(col("doc_id"),
          array_distinct(filter(NativeText.shingleHashesOfText(col("text")),
            x => x % 8L === 0L)).as("f"))
        val sz = fp.filter(size(col("f")) >= 4)
          .select(col("doc_id").as("i"), size(col("f")).cast("long").as("nf"))
        val e = fp.select(col("doc_id"), explode(col("f")).as("v"))
        val pairs = e.as("a").join(e.as("b"),
          col("a.v") === col("b.v") && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
          .agg(count(lit(1)).as("shared"))
          .join(sz, "i")
          .filter(col("shared") * 10L >= col("nf") * 8L)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val total = pairs.count()
        val injected = pairs
          .where(col("j") === col("i") + 1 && pmod(col("j"), lit(10)) === 7)
          .count()
        pairs.unpersist(blocking = false)
        (total, injected)
      }
      cd.unpersist(blocking = false)
      ContainPoint(cn, t, found, injectedFound, cn / 10L)
    }

    // ---- 6. grouped KMV distinct-count sketch (q85 shape) at full
    // corpus rows: 5 groups with planted user-domain sizes spanning 1e2
    // to 1e7, so the sketch is exercised both far below k (exact) and far
    // above (estimate). Compared against exact count(distinct) on BOTH
    // answer (relative error; KMV's standard error at k=64 is
    // ~1/sqrt(63) ≈ 13%, so individual groups land within a couple σ of
    // that, not under a hard cap) and wall time. Hash = xxhash64 masked
    // to 48 bits — uniform on [0, 2^48) like q85's md5 prefix.
    val domains = Seq(100L, 10000L, 100000L, 1000000L, 10000000L)
    val domCol = domains.zipWithIndex.foldLeft(lit(0L)) { case (acc, (d, g)) =>
      when(pmod(col("id"), lit(5)) === g, lit(d)).otherwise(acc)
    }
    val ev = spark.range(n).toDF("id")
      .withColumn("g", pmod(col("id"), lit(5)))
      .withColumn("user_id", pmod(xxhash64(col("id") * 7919L), domCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ev.count()
    val (exactCounts, tKmvExact) = timed("grouped exact count(distinct)") {
      ev.groupBy("g").agg(countDistinct(col("user_id")).as("exact"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val (kmvEsts, tKmv) = timed("grouped KMV sketch (k=64)") {
      import graft.functions.TopKLongs
      ev.select(col("g"),
          xxhash64(col("user_id")).bitwiseAND(lit((1L << 48) - 1L)).as("hv"))
        .distinct()
        .groupBy("g").agg(TopKLongs.topK(-col("hv"), col("hv"), 64).as("tk"))
        .select(col("g"), size(col("tk")).cast("long").as("n_seen"),
          element_at(col("tk"), size(col("tk"))).getField("id").as("kth"))
        .select(col("g"),
          when(col("n_seen") < 64, col("n_seen"))
            .otherwise(expr("(63 * 281474976710656) div greatest(kth, 1L)"))
            .cast("long").as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    ev.unpersist(blocking = false)
    val kmvJson = domains.indices.map { g =>
      val ex = exactCounts.getOrElse(g.toLong, 0L)
      val es = kmvEsts.getOrElse(g.toLong, 0L)
      val relErr = if (ex == 0) 0.0 else math.abs(es - ex).toDouble / ex
      s"""{"g":$g,"domain":${domains(g)},"exact":$ex,"kmv":$es,"rel_err":$relErr}"""
    }.mkString("[", ",", "]")

    // ---- 7. SEMANTIC dedup (q89 shape) with near-identical vectors
    // injected BY CONSTRUCTION: ids ≡ 3 (mod 10) copy id-1's vector with
    // dim 1 perturbed by one milli — cosine ≈ 1 - (0.001/||v||)²/2 >
    // 0.9999, while independent 16-dim hash vectors essentially never
    // reach the 0.99 threshold, so found-vs-injected IS the recall
    // statement and any non-injected pair found is measured noise. The
    // scale argument under test: CELLS SCALE WITH CORPUS (semCells =
    // docs/200) so per-cell population — hence the within-cell quadratic
    // term — stays bounded; the cost certificate is the measured max
    // cell size next to wall time. Misses are Lloyd boundary splits of a
    // near-identical pair (the q89 Scaladoc's nprobe-style caveat),
    // expected small because identical-up-to-milli vectors share a
    // nearest centroid except exactly at a boundary.
    val semN = math.max(n / 10L, 1000L)    // 200k at the 2M default
    val semCells = math.max(64L, semN / 200L)
    val semTau = 990000L                   // cos_micro threshold 0.99
    val semInjected = (semN - 4L) / 10L + 1L // ids ≡ 3 (mod 10) in [0, semN)
    val seff = when(pmod(col("id"), lit(10)) === 3, col("id") - 1).otherwise(col("id"))
    val semb = spark.range(semN).toDF("id")
      .withColumn("em", NativeText.microQuantize(
        transform(sequence(lit(1), lit(dims)), i =>
          (((pmod(xxhash64(seff * 17L + i.cast("long")), lit(2001L)) - 1000L).cast("double")
            + when(pmod(col("id"), lit(10)) === 3 && i === 1, 1.0).otherwise(0.0))
            / 1000.0).cast("float"))))
      .withColumn("nsq", NativeText.dotLong(col("em"), col("em")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    semb.count()
    val (semCents, tSemLloyd) = timed(s"semdedup Lloyd ($semCells cells, 2 rounds)") {
      var c = semb.where(col("id") < semCells)
        .select(col("id").as("cell"), col("em").as("cvec"), col("nsq").as("cnorm"))
      for (_ <- 1 to 2) c = centsFrom(semb, assignIds(semb, c)).localCheckpoint()
      c
    }
    val ((semFound, semInjFound, semMaxCell), tSemPairs) = timed(
      s"semdedup within-cell pairs ($semN docs)") {
      val assigned = semb.join(assignIds(semb, semCents), "id")
        .select(col("id"), col("em"), col("nsq"), col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val maxCell = assigned.groupBy("cell").count().agg(max("count")).head.getLong(0)
      val pairs = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
        .select(col("a.id").as("i"), col("b.id").as("j"),
          cosMicro(NativeText.dotLong(col("a.em"), col("b.em")),
            col("a.nsq"), col("b.nsq")).as("cm"))
        .where(col("cm") >= semTau)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = pairs.count()
      val inj = pairs.where(col("j") === col("i") + 1 &&
        pmod(col("j"), lit(10)) === 3).count()
      pairs.unpersist(blocking = false)
      assigned.unpersist(blocking = false)
      (total, inj, maxCell)
    }
    semb.unpersist(blocking = false)

    // ---- PageRank (q96 shape): Pregel-as-DataFrame-joins at graph scale.
    // Two scale points (n/10 and n nodes, out-degree <=3 by the same
    // deterministic derivation as the declared query) certify the claim
    // that ONE iteration costs one O(|E|) hash join + one partial-agged
    // shuffle — wall time should scale ~linearly in |E| and the persisted
    // edge list should be built once. rank_mass/rank_max are the sanity
    // certificate: total mass stays within damping bounds of n*10^6 and
    // no node diverges (every value positive, exact fixed point).
    case class PrPoint(nodes: Long, edgeBuildSec: Double, iter3Sec: Double,
                       rankMass: Long, rankMax: Long)
    def prOf(nNodes: Long): PrPoint = {
      val nodes = spark.range(nNodes).toDF("doc_id")
      val e = nodes
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 31L + col("k") * 7919L) % nNodes).as("dst"))
        .filter(col("src") =!= col("dst"))
      val outd = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val ej = e.join(outd, "src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (_, tBuild) = timed(s"pagerank edge build ($nNodes nodes)")(ej.count())
      val ((mass, mx), tIter) = timed(s"pagerank 3 iterations ($nNodes nodes)") {
        var r = nodes.select(col("doc_id"), lit(1000000L).as("r"))
        for (_ <- 1 to 3) {
          val sums = ej.join(r, ej("src") === r("doc_id"))
            .select(col("dst"), expr("r div deg").as("contrib"))
            .groupBy("dst").agg(sum(col("contrib")).as("s"))
          r = nodes.join(sums, nodes("doc_id") === sums("dst"), "left")
            .select(nodes("doc_id"),
              (lit(150000L) + expr("(850000 * coalesce(s, 0)) div 1000000")).as("r"))
        }
        val row = r.agg(sum("r"), max("r")).head
        (row.getLong(0), row.getLong(1))
      }
      ej.unpersist(blocking = false)
      PrPoint(nNodes, tBuild, tIter, mass, mx)
    }
    val prPoints = Seq(prOf(math.max(n / 10L, 1000L)), prOf(n))

    // ---- Basket pair mining (q106/q126 shape): the scale claim under
    // test is BASKET-SIZE INVARIANCE — fan-out per basket is C(k,2) for
    // k items, a distribution constant, so pair mining must scale
    // linearly in basket count. Two scale points, fixed k=6 items/basket
    // (15 pairs each), 20k-item vocabulary.
    case class BkPoint(baskets: Long, sec: Double, pairsSup2: Long)
    def bkOf(nb: Long): BkPoint = {
      val items = spark.range(nb).toDF("o")
        .select(col("o"), explode(sequence(lit(1), lit(6))).as("k"))
        .select(col("o"),
          pmod(xxhash64(col("o") * 7L + col("k").cast("long")), lit(20000L)).as("p"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      items.count()
      val (sup2, t) = timed(s"basket pair mining ($nb baskets)") {
        items.as("a").join(items.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p"), col("b.p")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2L).count()
      }
      items.unpersist(blocking = false)
      BkPoint(nb, t, sup2)
    }
    val bkPoints = Seq(bkOf(math.max(n / 100L, 1000L)), bkOf(math.max(n / 10L, 10000L)))

    // ---- Sort-free exact quantiles (q162 shape): the histogram-bisection
    // two-scan path vs the full-sort nearest-rank baseline (a GLOBAL
    // single-partition window — deliberately the shape bisection exists
    // to avoid). Values hashed into [0, 2^26); both paths must agree
    // EXACTLY, so the scale run doubles as a brute-force check.
    case class QbPoint(rows: Long, bisectSec: Double, sortSec: Double, agree: Boolean)
    def qbOf(nr: Long): QbPoint = {
      val vals = spark.range(nr)
        .select(pmod(xxhash64(col("id") * 131L), lit(1L << 26)).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vals.count()
      val ps = Seq(50, 90, 99)
      val (bis, tB) = timed(s"quantile bisect ($nr rows)") {
        val withB = vals.withColumn("b", expr("v div 65536"))
        val hc = withB.groupBy("b").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(Window.orderBy("b")))
          .withColumn("prev", col("cum") - col("c"))
        val nRow = vals.agg(count(lit(1)).as("n"))
        val locator = hc.crossJoin(broadcast(nRow))
          .withColumn("t", explode(array(
            ps.map(p => struct(lit(p.toLong).as("p"),
              expr(s"($p * n + 99) div 100").as("rank"))): _*)))
          .filter(col("cum") >= col("t.rank") && col("prev") < col("t.rank"))
          .select(col("t.p").as("p"), col("b"),
            (col("t.rank") - col("prev")).as("off"))
        withB.join(broadcast(locator), "b")
          .withColumn("rn", row_number().over(
            Window.partitionBy("p", "b").orderBy("v")).cast("long"))
          .filter(col("rn") === col("off"))
          .select("p", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val targets = ps.map(p => (p.toLong * nr + 99) / 100).toSet
      val (srt, tS) = timed(s"quantile full sort ($nr rows)") {
        vals.withColumn("rn", row_number().over(Window.orderBy("v")).cast("long"))
          .filter(col("rn").isInCollection(targets))
          .select("rn", "v").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      vals.unpersist(blocking = false)
      val agree = ps.forall(p => bis(p.toLong) == srt((p.toLong * nr + 99) / 100))
      QbPoint(nr, tB, tS, agree)
    }
    val qbPoints = Seq(qbOf(math.max(n / 10L, 10000L)), qbOf(n))

    // ---- Rolling 7-day distinct (q157 shape): the linear interval-delta
    // path vs the naive per-day range-join recount. Synthetic activity:
    // rows/20 users x ~20 hashed active days over a 730-day span. Both
    // paths must produce the identical day series.
    case class RdPoint(activeRows: Long, intervalSec: Double, naiveSec: Double,
                       agree: Boolean)
    def rdOf(rows: Long): RdPoint = {
      val span = 730L
      val ad = spark.range(rows)
        .select((col("id") % lit(math.max(rows / 20L, 1L))).as("user_id"),
          pmod(xxhash64(col("id") * 53L), lit(span)).as("day"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val active = ad.count()
      val (ivl, tI) = timed(s"rolling distinct via intervals ($active active rows)") {
        val w = Window.partitionBy("user_id").orderBy("day")
        val iv = ad
          .withColumn("brk", when(lag(col("day"), 1).over(w).isNull ||
            col("day") - lag(col("day"), 1).over(w) > 6, 1L).otherwise(0L))
          .withColumn("grp", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "grp")
          .agg(min(col("day")).as("s"), (max(col("day")) + 6L).as("e"))
        val deltas = iv.select(col("s").as("day"), lit(1L).as("delta"))
          .unionAll(iv.select((col("e") + 1L).as("day"), lit(-1L).as("delta")))
          .groupBy("day").agg(sum(col("delta")).as("delta"))
        val spine = ad.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        spine.join(deltas, Seq("day"), "left")
          .withColumn("dau7", sum(coalesce(col("delta"), lit(0L))).over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("day", "dau7").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val (nai, tN) = timed(s"rolling distinct naive range join ($active active rows)") {
        val spine = ad.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("sday"))
        spine.join(ad,
            col("day") >= col("sday") - 6L && col("day") <= col("sday"), "left")
          .groupBy("sday").agg(countDistinct(col("user_id")).as("dau7"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      ad.unpersist(blocking = false)
      RdPoint(active, tI, tN, ivl == nai)
    }
    val rdPoints = Seq(rdOf(math.max(n / 10L, 10000L)), rdOf(n))

    def rate(t: Double): Long = (nd.toDouble / t).toLong
    val annJson = annPoints.map { p =>
      // -1 = cell skipped (e.g. pq_full at Q=10k), not a zero recall
      def rec(h: Long) =
        if (h < 0) -1.0 else if (p.truthRows == 0) 0.0 else h.toDouble / p.truthRows
      s"""{"q":${p.q},"brute_sec":${p.bruteSec},""" +
        s""""brute_batch_sec":${p.bruteBatchSec},"brute_batch_overlap":${rec(p.bruteBatchHits)},""" +
        s""""np1_probe_sec":${p.probe1Sec},"np1_recall_at_10":${rec(p.hits1)},""" +
        s""""np2_probe_sec":${p.probe2Sec},"np2_recall_at_10":${rec(p.hits2)},""" +
        s""""np4_probe_sec":${p.probe4Sec},"np4_recall_at_10":${rec(p.hits4)},""" +
        s""""np1_batch_sec":${p.batch1Sec},"np1_batch_recall_at_10":${rec(p.bHits1)},""" +
        s""""np4_batch_sec":${p.batch4Sec},"np4_batch_recall_at_10":${rec(p.bHits4)},""" +
        s""""pq_full_sec":${p.pqFullSec},"pq_full_recall_at_10":${rec(p.pqFullHits)},""" +
        s""""ivfpq4_sec":${p.ivfPqSec},"ivfpq4_recall_at_10":${rec(p.ivfPqHits)},""" +
        s""""ivf_total_np1_sec":${tLloyd + tIvfBuild + p.probe1Sec}}"""
    }.mkString("[", ",", "]")
    val incrJson = incrPoints.map { p =>
      s"""{"batch":${p.batch},"sec":${p.sec},"pairs":${p.pairs},"expected":${p.expected}}"""
    }.mkString("[", ",", "]")
    val containJson = containPoints.map { p =>
      s"""{"docs":${p.docs},"sec":${p.sec},"found":${p.found},""" +
        s""""injected_found":${p.injectedFound},"injected":${p.injected}}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"n_docs":$nd,"exact":{"sec":$tExact,"pairs":$exactPairs,"expected":$expectExact},""" +
      s""""lsh":{"sec":$tLsh,"verified_pairs":$lshFound,"expected_min":$expectNear},""" +
      s""""simhash":{"sec":$tSim,"verified_pairs":$shFound,"slice_docs":${nd / simSlice}},""" +
      s""""simhash64":{"sec":$tSim64,"verified_pairs":$sh64Found,"exact_floor":$expectExact,"near_target":$expectNear},""" +
      s""""incremental":{"index_build_sec":$tIdxBuild,"full_recompute_sec":$tSim64,"points":$incrJson},""" +
      s""""containment":$containJson,""" +
      s""""kmv_grouped":{"exact_sec":$tKmvExact,"kmv_sec":$tKmv,"groups":$kmvJson},""" +
      s""""ann":{"lloyd_sec":$tLloyd,"ivf_build_sec":$tIvfBuild,""" +
      s""""pq":{"m":$pqM,"k":$pqK,"train_sec":$tPqTrain,"encode_sec":$tPqEncode},""" +
      s""""points":$annJson},""" +
      s""""pq128":{"n":$n128,"dims":$d128,"m":$m128,"k":$k128,"topics":$topics128,""" +
      s""""train_sec":$tTrain128,"encode_sec":$tEncode128,""" +
      s""""ivf_lloyd_sec":$tLloyd128,"ivf_build_sec":$tIvfBuild128,""" +
      s""""res_train_sec":$tTrainR,"res_encode_sec":$tEncodeR,"points":${
        pq128Points.map { p =>
          def rec(h: Long) =
            if (h < 0) -1.0 else if (p.truthRows == 0) 0.0 else h.toDouble / p.truthRows
          s"""{"q":${p.q},"brute_sec":${p.bruteSec},""" +
            s""""dot_batch_sec":${p.dotBatchSec},"dot_batch_overlap":${rec(p.dotBatchHits)},""" +
            s""""adc_rerank_sec":${p.adcSec},"adc_recall_at_10":${rec(p.hits)},""" +
            s""""adc_scan_sec":${p.adcScanSec},"adc_scan_recall_at_10":${rec(p.adcScanHits)},""" +
            s""""adc_batch_sec":${p.adcBatchSec},"adc_batch_recall_at_10":${rec(p.adcBatchHits)},""" +
            s""""ivf_np4_dot_sec":${p.ivfDotSec},"ivf_np4_dot_recall_at_10":${rec(p.ivfDotHits)},""" +
            s""""ivf_np4_adc_sec":${p.ivfAdcSec},"ivf_np4_adc_recall_at_10":${rec(p.ivfAdcHits)},""" +
            s""""speedup_vs_brute":${
              if (p.adcSec > 0) p.bruteSec / p.adcSec else -1.0},""" +
            s""""kernel_speedup_adc_vs_dot":${
              if (p.adcScanSec > 0) p.dotBatchSec / p.adcScanSec else -1.0},""" +
            s""""batch_speedup_adc_vs_dot":${
              if (p.adcBatchSec > 0) p.dotBatchSec / p.adcBatchSec else -1.0},""" +
            s""""ivf_speedup_adc_vs_dot":${
              if (p.ivfAdcSec > 0) p.ivfDotSec / p.ivfAdcSec else -1.0}}"""
        }.mkString("[", ",", "]")}},""" +
      s""""semdedup":{"docs":$semN,"cells":$semCells,"lloyd_sec":$tSemLloyd,""" +
      s""""pair_sec":$tSemPairs,"found_pairs":$semFound,"injected_found":$semInjFound,""" +
      s""""injected":$semInjected,"max_cell":$semMaxCell},""" +
      s""""pagerank":${prPoints.map(p =>
        s"""{"nodes":${p.nodes},"edge_build_sec":${p.edgeBuildSec},""" +
        s""""iter3_sec":${p.iter3Sec},"rank_mass":${p.rankMass},"rank_max":${p.rankMax}}""")
        .mkString("[", ",", "]")},""" +
      s""""basket_mining":${bkPoints.map(p =>
        s"""{"baskets":${p.baskets},"sec":${p.sec},"pairs_sup2":${p.pairsSup2}}""")
        .mkString("[", ",", "]")},""" +
      s""""quantile_bisect":${qbPoints.map(p =>
        s"""{"rows":${p.rows},"bisect_sec":${p.bisectSec},"sort_sec":${p.sortSec},"agree":${p.agree}}""")
        .mkString("[", ",", "]")},""" +
      s""""rolling_distinct":${rdPoints.map(p =>
        s"""{"active_rows":${p.activeRows},"interval_sec":${p.intervalSec},"naive_sec":${p.naiveSec},"agree":${p.agree}}""")
        .mkString("[", ",", "]")},""" +
      s""""docs_per_sec":{"exact":${rate(tExact)},"lsh":${rate(tLsh)},"simhash":${rate(tSim)},"simhash64":${rate(tSim64)}}}"""
    spark.stop()
    println(json)
  }
}
