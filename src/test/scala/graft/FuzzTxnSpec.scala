package graft

import java.nio.file.Files

import graft.sources.TxnTable

/** Transactional-layer fuzz: seeded random operation sequences —
  * append / overwrite / merge / delete (CoW or deletion-vector, range
  * or predicate) / update (range or predicate SET) / compact
  * (bin-packed, range- or Z-clustered) / restore / vacuum, including RACING
  * writer steps — driven against an in-JVM model table, with
  * snapshot-isolation and CDC-consistency invariants asserted as the
  * sequence unfolds. This is the suite that catches protocol races
  * mechanically: the round-8 `compact` lost-update (a rebasing
  * overwrite silently dropping a concurrent append) is exactly the
  * class of bug a racing step here converts into a multiset mismatch.
  *
  * The model is per-VERSION expected row multisets. Deterministic steps
  * check the latest read against the model every step; racing steps
  * leave the interleaved INTERMEDIATE version's content unspecified
  * (marked fuzzy, excluded from time-travel checks) while the final
  * multiset stays exact — which is precisely the guarantee optimistic
  * concurrency makes. Sequence count via SPARK_GRAFT_FUZZ_TXN
  * (default 200, the round-9 gate); every failure reports its seed for
  * exact replay.
  */
class FuzzTxnSpec extends SparkTestBase {

  import spark.implicits._

  private type Row3 = (Int, String, Long)

  private def counts(rows: Seq[Row3]): Map[Row3, Int] =
    rows.groupMapReduce(identity)(_ => 1)(_ + _)

  // id reads back as int or bigint depending on whether the sequence's
  // evolution arm widened it — the MODEL is width-agnostic
  private def readAll(dir: String, v: Option[Long] = None): Seq[Row3] =
    TxnTable.read(spark, dir, v).collect()
      .map(r => (r.get(0) match {
        case i: Int  => i
        case l: Long => l.toInt
      }, r.getString(1), r.getLong(2))).toSeq

  // r16: sequences are INDEPENDENT (own temp dir, own rng, own model), so
  // each arm runs them on a small pool (inParallel) — this suite was 22 of
  // the full run's 38 minutes sequential, which is what got the r15
  // driver's sbt-test run killed mid-suite. Seeds and per-sequence
  // semantics are unchanged; cross-table concurrency is exactly what the
  // per-dir LogStore/threshold installs were built for.
  test("seeded op sequences (append/overwrite/merge/compact/vacuum + races) match the model") {
    val nSeqs = sys.env.get("SPARK_GRAFT_FUZZ_TXN").map(_.toInt).getOrElse(200)
    inParallel(0 until nSeqs)(runSequence(_))
  }

  test("the same op sequences under INCREMENTAL manifests (dir-checkpoint " +
      "threshold 1): every eligible commit publishes a delta, every read " +
      "reconstructs — same model, same invariants") {
    // round-13 manifest checkpointing: force the delta/checkpoint path for
    // every commit (production threshold is high; the fuzz tables are a
    // few dirs wide) and replay fresh seeds through the full op grammar —
    // including the races, vacuum (chain guard + retention floor),
    // restore, dv/eq deletes and schema evolution (which falls back to
    // self-contained manifests mid-chain). Cache cleared per sequence so
    // time-travel checks exercise COLD reconstruction, not the writer's
    // in-hand snapshots.
    val nSeqs = sys.env.get("SPARK_GRAFT_FUZZ_TXN_CKPT").map(_.toInt).getOrElse(60)
    // the per-seed GLOBAL cache clear stays correct under inParallel: a
    // concurrent clear only makes another sequence's reads COLDER (they
    // re-derive), never warmer — the cold-reconstruction intent holds
    inParallel(100000 until 100000 + nSeqs) { seed =>
      graft.sources.TxnTable.clearSnapshotCache()
      runSequence(seed, ckptThreshold = Some(1))
    }
  }

  test("the same op sequences over the OBJECT-STORE simulator: no atomic " +
      "rename, conditional-PUT commits, lagged listings — races, vacuum, " +
      "restore and CDC all hold") {
    // round-13 LogStore seam: the protocol's one atomicity claim — POSIX
    // hard-link EEXIST ≡ object-store conditional PUT — exercised against
    // a store that actually BEHAVES like one: direct single-object
    // writes (rename does not exist), put-if-absent through a global
    // lock (the server-side If-None-Match), and listings that run 40 ms
    // behind (the list-after-write hazard). The racing arms are the
    // point: two appends and append-vs-compact land through conditional
    // PUTs while the listing is stale; the forward exists()-probe, not
    // the LIST, resolves "latest".
    val nSeqs = sys.env.get("SPARK_GRAFT_FUZZ_TXN_STORE").map(_.toInt).getOrElse(50)
    // one sim instance across concurrent sequences is the POINT: the
    // store is globally locked like the real conditional-PUT server
    val sim = new graft.sources.ObjectStoreSimLogStore(40L)
    inParallel(200000 until 200000 + nSeqs) { seed =>
      graft.sources.TxnTable.clearSnapshotCache()
      runSequence(seed, store = Some(sim))
    }
  }

  test("the same op sequences with IN-PLACE DATA publication over the " +
      "object-store simulator: no graft-level rename on the log OR the " +
      "data side — clustered compactions publish nested leaf references " +
      "through the full op grammar, races and vacuum included") {
    // round-14 object-store DATA path: compactClustered (both 1-D and
    // Z-order forms are in the grammar, racing appends included)
    // publishes `.cluster-<uuid>/_bucket=N` references instead of
    // renaming leaves into data/; vacuum's root-granular orphan sweep
    // and the retention floor must hold with nested live names.
    val nSeqs = sys.env.get("SPARK_GRAFT_FUZZ_TXN_INPLACE").map(_.toInt).getOrElse(30)
    val sim = new graft.sources.ObjectStoreSimLogStore(40L)
    inParallel(300000 until 300000 + nSeqs) { seed =>
      graft.sources.TxnTable.clearSnapshotCache()
      runSequence(seed, store = Some(sim), inPlaceData = true)
    }
  }

  private def runSequence(seed: Int,
                          store: Option[graft.sources.LogStore] = None,
                          ckptThreshold: Option[Int] = None,
                          inPlaceData: Boolean = false): Unit = {
    val dir = Files.createTempDirectory(s"graft-fuzztxn-$seed").toString
    // per-TABLE overrides: a global swap (store OR threshold sys prop)
    // would race concurrently running suites
    store.foreach(TxnTable.installLogStore(dir, _))
    ckptThreshold.foreach(TxnTable.installCkptThreshold(dir, _))
    if (inPlaceData) TxnTable.installInPlaceData(dir)
    try runSequenceOn(seed, dir)
    finally {
      store.foreach(_ => TxnTable.uninstallLogStore(dir))
      ckptThreshold.foreach(_ => TxnTable.uninstallCkptThreshold(dir))
      if (inPlaceData) TxnTable.uninstallInPlaceData(dir)
    }
  }

  private def runSequenceOn(seed: Int, dir: String): Unit = {
    val rng = new scala.util.Random(seed * 7919 + 13)
    val ctx = s"[seed=$seed]"

    var model = Vector.empty[Seq[Row3]] // index = version → expected multiset
    var fuzzy = Set.empty[Int]          // race-interleaved versions: content unspecified
    var oldest = 0                      // first retained version after vacuums
    // schema-evolution state: the part column's CURRENT name (rename
    // flips it), whether id has been widened to bigint, versions where
    // the schema changed (CDC spans must not straddle them — the
    // multiset CDC aligns by NAME, so a rename reads as drop+add), the
    // fids-minting version (restore cannot cross it), and per-version
    // (partName, idWide) so restore can revert the trackers
    var partName = "part"
    var idWide = false
    var evoVers = Set.empty[Int]
    var minted = Option.empty[Int]
    var meta = Vector.empty[(String, Boolean)]

    def df(rows: Seq[Row3]) = {
      import org.apache.spark.sql.functions.col
      val base = rows.toDF("id", partName, "value")
      (if (idWide) base.withColumn("id", col("id").cast("bigint")) else base)
        .select(col("id"), col(partName), col("value")).coalesce(1)
    }

    def randRows(n: Int): Seq[Row3] =
      Seq.fill(n)((rng.nextInt(8), Seq("A", "B", "C")(rng.nextInt(3)),
        rng.nextInt(100).toLong))

    val nOps = 6
    (0 until nOps).foreach { i =>
      val op = if (model.isEmpty) 0 else rng.nextInt(17)
      op match {
        case 0 | 1 | 2 => // append
          val b = randRows(1 + rng.nextInt(2))
          TxnTable.append(df(b), dir)
          model :+= model.lastOption.getOrElse(Nil) ++ b
        case 3 | 4 => // overwrite
          val b = randRows(1 + rng.nextInt(2))
          TxnTable.overwrite(df(b), dir)
          model :+= b
        case 5 | 6 => // merge (key-unique updates on id): copy-on-write or
          // merge-on-read (dv old key versions + append the batch) — model
          // semantics identical, so both forms hammer every other op
          val ups = randRows(2).distinctBy(_._1)
          if (rng.nextBoolean()) TxnTable.merge(spark, dir, df(ups), Seq("id"))
          else TxnTable.mergeDV(spark, dir, df(ups), Seq("id"))
          model :+= model.last.filterNot(r => ups.exists(_._1 == r._1)) ++ ups
        case 7 => // compact (bin-packed, range-/Z-clustered, or dv-debt-
          // targeted): content-identical; compactDirty may be a NO-OP
          // (no commit) on a dv-free table — only grow the model when a
          // version actually landed
          val before = TxnTable.latestVersion(dir).get
          rng.nextInt(4) match {
            case 0 => TxnTable.compact(spark, dir, targetFiles = 1)
            case 1 => TxnTable.compactClustered(spark, dir, "id", 1 + rng.nextInt(3))
            case 2 => TxnTable.compactClustered(spark, dir,
              Seq("id", "value"), 1 + rng.nextInt(3))
            case _ => TxnTable.compactDirty(spark, dir,
              minDvRatio = rng.nextDouble() * 0.6)
          }
          if (TxnTable.latestVersion(dir).get != before) model :+= model.last
        case 8 => // vacuum: shrink the retention window
          val retain = 1 + rng.nextInt(model.size - oldest)
          TxnTable.vacuum(dir, retain = retain)
          oldest = model.size - retain
        case 9 | 10 => // RACE: two concurrent appends — both must land
          val (b1, b2) = (randRows(1), randRows(1))
          val t = new Thread(() => TxnTable.append(df(b1), dir): Unit)
          t.start()
          TxnTable.append(df(b2), dir)
          t.join()
          val prev = model.last
          fuzzy += model.size // intermediate: prev + (b1 XOR b2) — order unspecified
          model :+= prev      // placeholder content, never checked
          model :+= prev ++ b1 ++ b2
        case 11 => // RACE: append vs compact[Clustered] — the round-8 lost-update shape
          val b = randRows(1)
          val useCluster = rng.nextBoolean()
          val before = TxnTable.latestVersion(dir).get
          val t = new Thread(() => TxnTable.append(df(b), dir): Unit)
          t.start()
          var done = false
          while (!done)
            try {
              if (useCluster) TxnTable.compactClustered(spark, dir, "id", 2)
              else TxnTable.compact(spark, dir, targetFiles = 1)
              done = true
            }
            catch { case _: TxnTable.CommitConflict => () }
          t.join()
          val prev = model.last
          // a compact that finds the table packed (it ran first, on one
          // dir) is a no-op: only grow the model by the versions that landed
          if (TxnTable.latestVersion(dir).get - before == 2L) {
            fuzzy += model.size
            model :+= prev    // placeholder: append-first or compact-first
          }
          model :+= prev ++ b // final multiset exact EITHER way — the invariant
        case 12 => // row-level delete: copy-on-write, merge-on-read
          // (deletion-vector), or EQUALITY (zero-scan key-set) form —
          // model semantics are identical, so the same multiset
          // invariants hammer all three against merge/compact/restore/
          // vacuum/CDC/time travel
          if (rng.nextBoolean()) {
            val lo = rng.nextInt(8); val hi = lo + rng.nextInt(4)
            rng.nextInt(3) match {
              case 0 => TxnTable.deleteRange(spark, dir, "id", lo.toLong, hi.toLong)
              case 1 => TxnTable.deleteRangeDV(spark, dir, "id", lo.toLong, hi.toLong)
              case _ => TxnTable.deleteKeysEq(spark, dir,
                spark.range(lo.toLong, hi.toLong + 1)
                  .selectExpr(s"cast(id as ${if (idWide) "bigint" else "int"}) as id"))
            }
            model :+= model.last.filterNot(r => r._1 >= lo && r._1 <= hi)
          } else {
            val p = Seq("A", "B", "C")(rng.nextInt(3))
            val pred = org.apache.spark.sql.functions.col(partName) === p
            if (rng.nextBoolean()) TxnTable.deleteWhere(spark, dir, pred)
            else TxnTable.deleteWhereDV(spark, dir, pred)
            model :+= model.last.filterNot(_._2 == p)
          }
        case 14 => // row-level UPDATE ... SET: copy-on-write or merge-on-
          // read (dv + re-append) form — model semantics identical, so the
          // same invariants hammer MoR updates against every other op
          import org.apache.spark.sql.functions.{col, lit}
          val bump = rng.nextInt(5).toLong
          val mor = rng.nextBoolean()
          if (rng.nextBoolean()) {
            val lo = rng.nextInt(8); val hi = lo + rng.nextInt(4)
            if (mor) TxnTable.updateRangeDV(spark, dir, "id", lo.toLong, hi.toLong,
              Map("value" -> (col("value") + bump)))
            else TxnTable.updateRange(spark, dir, "id", lo.toLong, hi.toLong,
              Map("value" -> (col("value") + bump)))
            model :+= model.last.map(r =>
              if (r._1 >= lo && r._1 <= hi) r.copy(_3 = r._3 + bump) else r)
          } else {
            val p = Seq("A", "B", "C")(rng.nextInt(3))
            if (mor) TxnTable.updateWhereDV(spark, dir, col(partName) === p,
              Map(partName -> lit("U"), "value" -> (col("value") + bump)))
            else TxnTable.updateWhere(spark, dir, col(partName) === p,
              Map(partName -> lit("U"), "value" -> (col("value") + bump)))
            model :+= model.last.map(r =>
              if (r._2 == p) r.copy(_2 = "U", _3 = r._3 + bump) else r)
          }
        case 16 => // RACE (round 15): a blind DISJOINT append vs keyed
          // row-level DML — the logical conflict re-check must land BOTH
          // with the DML called exactly ONCE, no retry loop: the only
          // possible winner is a stats-carrying append whose keys
          // (100+) are provably outside the DML's range, so
          // publishRebasing rebases through it (AddsKeyDisjoint) and any
          // CommitConflict here IS a bug. Final multiset = the serial
          // result, identical in either order (range ∩ appended = ∅) —
          // exactly the starvation fix: DML makes progress under append
          // traffic without re-running.
          import org.apache.spark.sql.functions.col
          val b = Seq((100 + rng.nextInt(8),
            Seq("A", "B", "C")(rng.nextInt(3)), rng.nextInt(100).toLong))
          val lo = rng.nextInt(8); val hi = lo + rng.nextInt(3)
          val bump = rng.nextInt(5).toLong
          val t = new Thread(() =>
            TxnTable.append(df(b), dir, statsCol = Some("id")): Unit)
          val kind = rng.nextInt(3)
          t.start()
          kind match { // NO retry loop — a throw fails the sequence
            case 0 => TxnTable.deleteRange(spark, dir, "id", lo.toLong, hi.toLong)
            case 1 => TxnTable.deleteRangeDV(spark, dir, "id", lo.toLong, hi.toLong)
            case _ => TxnTable.updateRange(spark, dir, "id", lo.toLong, hi.toLong,
              Map("value" -> (col("value") + bump)))
          }
          t.join()
          val prevR = model.last
          val after = kind match {
            case 0 | 1 => prevR.filterNot(r => r._1 >= lo && r._1 <= hi)
            case _ => prevR.map(r =>
              if (r._1 >= lo && r._1 <= hi) r.copy(_3 = r._3 + bump) else r)
          }
          fuzzy += model.size // intermediate: order unspecified
          model :+= prevR     // placeholder content, never checked
          model :+= after ++ b
        case 13 => // restore to a random retained, non-fuzzy version —
          // never crossing the fids-minting boundary (TxnTable refuses)
          val candidates = (oldest until model.size).filterNot(fuzzy)
            .filter(v => minted.forall(v >= _))
          if (candidates.nonEmpty) {
            val target = candidates(rng.nextInt(candidates.size))
            TxnTable.restore(spark, dir, target.toLong)
            // the restored manifest carries the TARGET's schema: revert
            // the name trackers; a name flip is a CDC-span boundary
            if (meta(target) != ((partName, idWide))) evoVers += model.size
            partName = meta(target)._1
            idWide = meta(target)._2
            model :+= model(target)
          } else { // nothing restorable: land an append instead
            val b = randRows(1)
            TxnTable.append(df(b), dir)
            model :+= model.last ++ b
          }
        case 15 => // SCHEMA EVOLUTION, metadata-only: widen id int→bigint
          // (once) or flip the part column's name — content unchanged,
          // so every later op hammers the field-id read path. Widening
          // is refused while an equality delete is outstanding
          // (refCheck) — fall back to the rename.
          val widened =
            if (!idWide && rng.nextBoolean())
              try { TxnTable.widenColumn(spark, dir, "id", "bigint"); idWide = true; true }
              catch { case _: IllegalArgumentException => false }
            else false
          if (!widened) {
            val nn = if (partName == "part") "pt" else "part"
            TxnTable.renameColumn(spark, dir, partName, nn)
            partName = nn
          }
          if (minted.isEmpty) minted = Some(model.size)
          evoVers += model.size
          model :+= model.last
        case _ => throw new MatchError(op)
      }
      while (meta.size < model.size) meta :+= ((partName, idWide))
      // snapshot-isolation invariant, every step: the latest read is the
      // model's latest multiset, exactly
      assert(counts(readAll(dir)) == counts(model.last),
        s"$ctx step $i: latest read diverged from model\n" +
          s"  got   ${readAll(dir).sorted}\n  want  ${model.last.sorted}")
      assert(TxnTable.latestVersion(dir).contains(model.size - 1L),
        s"$ctx step $i: version count diverged")
    }

    // time travel: every retained, non-fuzzy version reads back exactly —
    // on a COLD snapshot cache, so incremental manifests prove their
    // checkpoint-anchored reconstruction, not the writer's in-hand state
    TxnTable.clearSnapshotCache()
    (oldest until model.size).filterNot(fuzzy).foreach { v =>
      assert(counts(readAll(dir, Some(v.toLong))) == counts(model(v)),
        s"$ctx time travel to v$v diverged from model")
    }
    // CDC consistency: for sampled retained spans with exact endpoints,
    // model[from] + inserts - deletes == model[to] as multisets
    val exact = (oldest until model.size).filterNot(fuzzy).toVector
    (0 until 2).foreach { _ =>
      val from = exact(rng.nextInt(exact.size))
      // spans must not straddle a schema-evolution commit: the multiset
      // CDC aligns columns by NAME, so a rename reads as drop+add
      val tos = exact.filter(t => t >= from &&
        !evoVers.exists(e => e > from && e <= t))
      val to = tos(rng.nextInt(tos.size))
      val ch = TxnTable.changes(spark, dir, from.toLong, to.toLong).collect()
        .map(r => ((r.get(0) match {
          case i: Int  => i
          case l: Long => l.toInt
        }, r.getString(1), r.getLong(2)), r.getAs[String]("_change")))
      val applied = ch.foldLeft(counts(model(from))) {
        case (m, (row, "insert")) => m.updated(row, m.getOrElse(row, 0) + 1)
        case (m, (row, "delete")) =>
          val n = m.getOrElse(row, 0) - 1
          if (n <= 0) m - row else m.updated(row, n)
        case (m, _) => m
      }
      assert(applied == counts(model(to)),
        s"$ctx CDC $from->$to inconsistent: applying the feed to model($from) " +
          s"did not reproduce model($to)")
    }
    // retention: a vacuumed version throws the TYPED error
    if (oldest > 0) {
      intercept[TxnTable.RetentionError] {
        TxnTable.read(spark, dir, Some((oldest - 1).toLong))
      }: Unit
    }
  }
}
