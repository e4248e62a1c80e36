package graft

/** CI-pinned plan invariants (SURVEY.md §8): the properties that make the
  * declared queries scale are asserted on the PHYSICAL plan, so a
  * regression that silently un-pushes a filter, widens a scan, or drops a
  * broadcast fails the suite — not just a bench run someone has to read.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: column pruning reaches the parquet scan (4-column ReadSchema)") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"), p.linesIterator.take(30).mkString("\n"))
  }

  test("q02: predicates are pushed into the scan (PushedFilters non-empty)") {
    val p = plan("q02_filter_pred")
    assert(p.contains("PushedFilters: [IsNotNull"), p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("GreaterThan(o_totalprice"), "range predicate not pushed")
  }

  test("q24: top-k plans as TakeOrdered, not a global sort") {
    val p = plan("q24_sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(10).mkString("\n"))
  }

  test("q49: top-k aggregate partial-merges before the exchange") {
    val p = plan("q49_topk_agg")
    // formatted mode names the map-side stage's aggregate partial_*
    assert(p.contains("partial_topk_longs"),
      "no partial top-k aggregation before the shuffle")
    assert(p.contains("topk_longs") && p.contains("ObjectHashAggregate"))
  }

  test("q11: small dimension join is broadcast, not shuffled") {
    val p = plan("q11_join_left")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(10).mkString("\n"))
  }

  test("q50: as-of join uses ONE window pass, no nested-loop join") {
    val p = plan("q50_asof_join")
    assert(!p.contains("NestedLoop"), "as-of degraded to a nested-loop join")
    assert("Window".r.findAllIn(p).size >= 1 && !p.contains("CartesianProduct"))
  }

  test("q51: range join is a hash join on the bucket, not a nested loop") {
    val p = plan("q51_range_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "range join degraded to per-row band comparison")
  }

  // ---- LLM-operator plan invariants: the dedup/ANN queries only scale
  // because every candidate set comes from an EQUALITY join on band/bucket
  // keys — pin that shape so a refactor can't silently reintroduce
  // all-pairs comparison.

  test("q34: MinHash-LSH candidate join is an equi-join on band keys") {
    val p = plan("q34_neardup_lsh")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "LSH candidate generation degraded to all-pairs")
  }

  test("q35: SimHash band self-join is an equi-join, no cartesian product") {
    val p = plan("q35_neardup_simhash")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "SimHash banding degraded to all-pairs")
  }

  /** Operator sequence of the formatted plan's tree section, e.g.
    * Seq("Scan parquet", "Exchange", "HashAggregate", ...). */
  private def opTree(p: String): Seq[String] =
    p.linesIterator.collect {
      case l if l.matches("""^\(\d+\) .*""") =>
        l.replaceAll("""^\(\d+\) """, "").trim
    }.toSeq

  test("q28: exact dedup is partial->shuffle->final hash agg, no joins") {
    val p = plan("q28_doc_dedup_exact")
    val ops = opTree(p)
    // only the pre-combined (digest, min-id) partials cross the one
    // aggregation shuffle; the other exchanges are the deliberate compute
    // repartition (docs arrive as one file split) and the output sort
    assert(ops.containsSlice(Seq("HashAggregate", "Exchange", "HashAggregate")),
      s"no map-side partial aggregation before the shuffle: $ops")
    assert(!ops.exists(_.contains("Join")), s"dedup should not join: $ops")
  }

  test("q64: hash split assigns map-only; only the summary agg shuffles") {
    val p = plan("q64_hash_split")
    val ops = opTree(p)
    assert(ops.containsSlice(Seq("HashAggregate", "Exchange", "HashAggregate")),
      s"summary aggregate lost its map-side partial: $ops")
    assert(!ops.exists(o => o.contains("Join") || o.contains("Window")),
      s"split assignment must stay per-row: $ops")
  }

  test("q73: benchmark gram set broadcasts; corpus side never self-joins") {
    val p = plan("q73_decontaminate")
    val ops = opTree(p)
    assert(ops.exists(_.contains("BroadcastHashJoin")),
      s"benchmark grams should broadcast (eval sets are bounded): $ops")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "decontamination degraded to all-pairs")
  }

  test("q74: prefix-filter candidate join is an equi-join on prefix grams") {
    val p = plan("q74_ngram_jaccard")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "set-similarity join degraded to all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.linesIterator.take(12).mkString("\n"))
  }

  test("q75: chunk doc-frequency aggregates partial-merge before shuffling") {
    val p = plan("q75_chunk_dup")
    val ops = opTree(p)
    assert(ops.containsSlice(Seq("HashAggregate", "Exchange", "HashAggregate")),
      s"chunk counting lost its map-side partial: $ops")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q77: bloom probe is a pushed predicate, not a join") {
    val p = plan("q77_decontaminate_bloom")
    assert(p.contains("might_contain"),
      "bloom membership predicate missing from the physical plan")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q78: CMS sketch partial-merges before the exchange") {
    val p = plan("q78_cms_freq")
    assert(p.contains("partial_countmin_longs"),
      "no map-side partial CMS aggregation before the shuffle")
    assert(p.contains("ObjectHashAggregate"))
  }

  test("q79: star join prunes fact partitions DYNAMICALLY and broadcasts dims") {
    val p = plan("q79_star_dpp")
    // The quarter filter lives on the derived month dimension — only a
    // DynamicPartitionPruning subquery can translate it into a partition
    // filter on the fact scan. Its absence means the full fact is read.
    assert(p.toLowerCase.contains("dynamicpruning"),
      "no dynamic partition pruning on the partitioned fact scan:\n" +
        p.linesIterator.take(40).mkString("\n"))
    // The reduced dimension chain must stay broadcast (nation→customer→
    // orders, plus the month dim): no shuffle join anywhere in the star.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "dimension chain fell out of broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "star join degenerated to a wide shuffle join at dimension scale")
  }

  test("q80: fuzzy-join candidates come from an equi-join, never all-pairs") {
    val p = plan("q80_fuzzy_join_ed1")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "edit-distance join degenerated to the n^2 cross product")
    assert(p.contains("Join"), "no candidate join found in the plan")
  }

  test("inventory sweep: every declared plan builds; none contains an all-pairs join") {
    // Allowed appearances, each bounded-by-construction on one side:
    //  - q67/q78: 1-row scalar broadcasts (corpus count N; the sketch row);
    //  - q36: the DECLARED exact-kNN baseline — bounded query set
    //    broadcast against a linear corpus scan (its ANN replacements are
    //    q38/q44/q65);
    //  - q44/q65: the query-to-centroid assignment — bounded query set ×
    //    64-row centroid table; corpus-side candidate generation stays an
    //    equi-join on cell ids.
    //  - q88/q89: the Lloyd assignment — corpus × cells-row centroid table
    //    per round, the same bounded-broadcast shape as q44's assignment
    //    (q89's pair join itself is an equi-join on cell id).
    //  - q90/q97: the 1-row min-token-mass scalar against the 5-row
    //    per-lang counts (q67's shape).
    //  - q96: the 1-row graph-size scalar against the node list (edge
    //    derivation needs n per row);
    //  - q99: the 1-row total-token normalizer against the min-support-
    //    pruned bigram table.
    //  - q103: two 1-row scalars (global token total; global floored
    //    mass) against vocabulary/source-sized frames — the sources×vocab
    //    densification the query deliberately avoids stays avoided.
    //  - q130: the 1-row source-count scalar riding onto the corpus
    //    frame next to the 20-row broadcast source-index dim.
    //  - q138: the 1-row corpus-total scalar against the doc×vocab join.
    //  - q140: the 1-row (sketch, total) row probed per token instance —
    //    the map-side CMS prune IS the query's point.
    //  - q141: the 1-row max-chars scalar against the per-doc lottery.
    //  - q149: the 1-row query fingerprint / query length scalars
    //    against the candidate frames (retrieval-query broadcast).
    // None is the corpus² all-pairs shape this sweep exists to catch.
    val scalarCross = Set("q67_tfidf", "q78_cms_freq",
      "q36_embed_knn_brute", "q44_embed_ivf_ann", "q65_embed_ivf_nprobe2",
      "q88_kmeans_lloyd", "q89_semdedup", "q90_domain_mixture",
      "q96_link_pagerank", "q97_temperature_mix", "q99_collocations",
      "q103_source_drift_tvd", "q130_mixture_interleave",
      "q138_surprisal_score", "q140_sketch_heavy_hitters",
      "q141_pps_sample", "q149_rrf_fusion", "q156_bfs_hops",
      "q159_quantile_normalize",
      //  - q162: the 1-row corpus-count scalar against the ~800-row
      //    bucket histogram — the bisection locator, never corpus².
      "q162_quantile_bisect",
      //  - q170: two scalar/bounded crosses on the CALENDAR-sized curve
      //    frame (1-row censored count; the 1-row collected 60-step
      //    array each curve row prefix-folds).
      "q170_km_shipping",
      //  - q173: the 1-row (N, total-conversions) scalar against the
      //    ranked customer frame — decile arithmetic needs both per row.
      "q173_decile_lift",
      //  - q177: the 1-row corpus-mass scalar against the cum frame.
      "q177_vocab_coverage",
      //  - q180: the 1-row split-threshold scalar against the scan.
      "q180_coldstart_audit",
      //  - q182/q183: the 1-row (n, total) scalar against the ranked
      //    customer frame — Gini/Lorenz arithmetic needs both per row.
      "q182_gini_spend", "q183_lorenz_curve",
      //  - q185/q186/q188: 1-row totals scalars against the 7-row dow
      //    rollup / the calendar-sized days frame / the 3-row greedy
      //    picks.
      "q185_seasonality_strength", "q186_cusum_changepoint",
      "q188_greedy_set_cover",
      //  - q192: the 1-row corpus-count / total-vocab scalars against
      //    the gram and bucket frames.
      "q192_novelty_curve",
      //  - q193: the 1-row token-budget scalar against the ranked
      //    density frame.
      "q193_budget_curation",
      //  - q225: the tiny centroid-assignment broadcast (corpus × 10
      //    centroids — the same IVF coarse-quantizer attach q44/q65
      //    use); the query tables themselves ride as a broadcast inside
      //    the grouped MultiQueryTopK aggregate, join-free (q204, now
      //    fully joinless, pins that shape in its own test).
      "q225_ivf_batch")
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(name) // throws -> test fails: the plan must at least build
      if (!scalarCross(name) &&
          (p.contains("CartesianProduct") || p.contains("NestedLoop")))
        Some(name)
      else None
    }
    assert(bad.isEmpty, s"all-pairs joins appeared in: $bad")
  }

  test("q86: incremental dedup joins the batch against a parquet index scan") {
    val p = plan("q86_incremental_dedup")
    // the corpus side must be the persisted fingerprint index (a parquet
    // scan of (doc_id, lo, hi)), never a re-fingerprint of corpus text —
    // pin the index scan's schema...
    assert(p.contains("simhash64_index"),
      "corpus side is not the persisted fingerprint index:\n" +
        p.linesIterator.take(40).mkString("\n"))
    // ...and the candidate joins stay equi-joins (no all-pairs)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "incremental dedup degraded to all-pairs")
  }

  test("q87: window doc-frequency aggregates partial-merge before shuffling") {
    val p = plan("q87_substring_dup")
    val ops = opTree(p)
    assert(ops.containsSlice(Seq("HashAggregate", "Exchange", "HashAggregate")),
      s"window counting lost its map-side partial: $ops")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q92: packing offsets come back via a broadcast join") {
    // prefixSum's per-partition offsets table is #partitions rows — it must
    // broadcast onto the data path, never shuffle the corpus against it
    val p = plan("q92_seq_packing")
    assert(p.contains("BroadcastHashJoin"),
      "prefixSum offsets were not broadcast:\n" + p.linesIterator.take(30).mkString("\n"))
  }

  test("q93: chunk doc-frequency partial-merges before shuffling") {
    val p = plan("q93_boilerplate_strip")
    val ops = opTree(p)
    assert(ops.containsSlice(Seq("HashAggregate", "Exchange", "HashAggregate")),
      s"chunk df count lost its map-side partial: $ops")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q95: the 5-row cutoff table joins back as a broadcast") {
    val p = plan("q95_quality_cutoff")
    assert(p.contains("BroadcastHashJoin"),
      "cutoff table was shuffled instead of broadcast:\n" +
        p.linesIterator.take(30).mkString("\n"))
  }

  test("q81: bucketed fact-fact join has NO shuffle below the merge join") {
    val p = plan("q81_bucketed_join")
    val ops = opTree(p)
    assert(ops.exists(_.startsWith("SortMergeJoin")),
      s"bucketed join did not plan as sort-merge: $ops")
    val joinIdx = ops.indexWhere(_.startsWith("SortMergeJoin"))
    // formatted plans list children BEFORE their parent: every op after the
    // join node is above it (agg/sort), so any Exchange at or before the
    // join index means the bucketed layout was reshuffled.
    assert(!ops.take(joinIdx).exists(_.startsWith("Exchange")),
      s"bucketed join reshuffled its inputs: $ops")
  }

  test("q96: iteration joins reuse the persisted edge list; all rank joins are hash joins") {
    val p = plan("q96_link_pagerank")
    // The loop-invariant edge⋈outdeg side must come from the cache, not be
    // rebuilt per iteration (3 iterations = 3 consumers of the same table).
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "edge list is re-derived per iteration instead of persisted:\n" +
        p.linesIterator.take(30).mkString("\n"))
    // Rank propagation must stay hash-join shaped (the Pregel shuffle),
    // never a nested loop over nodes.
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      p.linesIterator.count(_.trim.startsWith("BroadcastNestedLoopJoin")) <= 1,
      "rank joins degenerated to nested loops")
  }

  test("q97: the 5-row rate table joins back as a broadcast") {
    val p = plan("q97_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      "rate table was shuffled instead of broadcast:\n" +
        p.linesIterator.take(30).mkString("\n"))
  }

  test("q98: the SCD merge is ONE join on the business key") {
    val p = plan("q98_scd2_merge")
    val ops = opTree(p)
    assert(ops.count(_.contains("Join")) == 1,
      s"merge classification should cost exactly one join: $ops")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q105: the per-type median and MAD tables join back as broadcasts") {
    val p = plan("q105_mad_outliers")
    // both histogram-median outputs are groups-sized dims — they must
    // broadcast onto the event stream, never shuffle it (the med/MAD
    // join-backs are the ONLY joins in this plan)
    assert(p.contains("BroadcastHashJoin"),
      "med/MAD dims were not broadcast:\n" +
        p.linesIterator.take(40).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a groups-sized dim shuffled the event stream:\n" +
        p.linesIterator.take(40).mkString("\n"))
  }

  test("q106: basket pairs key on the order id and end in a TakeOrdered") {
    val p = plan("q106_basket_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "basket self-join degenerated to all-pairs")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 planned as a global sort:\n" +
        p.linesIterator.take(30).mkString("\n"))
  }

  test("q108: the refresh merges the persisted state, never rescans history") {
    val p = plan("q108_incremental_agg")
    // one side of the union must be the persisted partial-aggregate state
    // (a parquet scan of orders_aggstate); the history scan would show as
    // a second orders scan WITHOUT the batch's date filter
    assert(p.contains("orders_aggstate"),
      "refresh does not read the persisted aggregate state:\n" +
        p.linesIterator.take(40).mkString("\n"))
    assert(p.contains("Union"), "state+batch merge lost its union shape")
  }

  test("q109: the trailing range frame costs ONE exchange") {
    val p = plan("q109_trailing_window")
    val ops = opTree(p)
    // one shuffle on the partition key feeds the window; the final
    // presentation sort may add exchanges ABOVE the window, not below
    val winIdx = ops.indexWhere(_.startsWith("Window"))
    assert(winIdx >= 0, s"no Window node: $ops")
    assert(ops.take(winIdx).count(_.startsWith("Exchange")) == 1,
      s"range window should sit on exactly one exchange: $ops")
  }

  test("q99: bigram counts partial-merge before shuffling; top-k is a TakeOrdered") {
    val p = plan("q99_collocations")
    val ops = opTree(p)
    assert(ops.containsSlice(Seq("HashAggregate", "Exchange", "HashAggregate")),
      s"bigram count lost its map-side partial: $ops")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 planned as a global sort instead of TakeOrdered:\n" +
        p.linesIterator.take(30).mkString("\n"))
  }

  test("q41: dense ids move the corpus once, hashed on the bucket id") {
    // the round-7 regression this pins: a per-bucket window over a range
    // exchange redistributed the whole corpus a second time. The ids'
    // one corpus exchange is now the per-bucket rank window's hash on
    // `__bkt`; the bucket totals combine map-side before theirs, the
    // #buckets-row offsets window gathers to one partition, and the
    // only range exchange is the query's final ORDER BY
    val p = plan("q41_dense_ids_scalable")
    val ops = opTree(p)
    assert(ops.count(_.startsWith("Window")) == 2 && ops.count(_ == "Exchange") == 4 &&
      "rangepartitioning".r.findAllIn(p).size == 1,
      s"dense ids moved the corpus more than once: $ops")
    assert(ops.containsSlice(Seq("HashAggregate", "Exchange", "HashAggregate")),
      s"bucket totals lost their map-side partial: $ops")
    assert(ops.exists(_.startsWith("BroadcastHashJoin")),
      s"bucket offsets must come back as a broadcast: $ops")
  }

  test("q197/q199: every PQ join is a broadcast — codebooks and tables never shuffle the corpus") {
    Seq("q197_pq_ann", "q199_pq_rerank").foreach { q =>
      val p = plan(q)
      val ops = opTree(p)
      assert(!ops.exists(_.startsWith("SortMergeJoin")),
        s"$q: a PQ-side join fell back to sort-merge (corpus reshuffled): $ops")
      assert(ops.exists(_.startsWith("BroadcastHashJoin")),
        s"$q: expected broadcast joins for codebook/distance-table attach: $ops")
      assert(!ops.exists(o => o.startsWith("CartesianProduct") ||
        o.startsWith("BroadcastNestedLoopJoin")), s"$q: non-equi join appeared: $ops")
    }
  }

  test("q202: the txn range read plans 1 of 4 live dirs and pushes the residual filter") {
    // dir-level skipping comes from the MANIFEST (TxnTable.pruneLive),
    // so the scan's input files — not just its filters — are the pin:
    // every planned file must live under the single intersecting dir.
    val df = SparkEntry.queries("q202_txn_data_skipping")(spark, sf)
    val t = s"/tmp/graft_derived/sf0.001/orders_txn_skip/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val planned = graft.sources.TxnTable.pruneLive(snap, "o_orderkey", 1L, 300L)
    assert(snap.live.size == 4 && planned.size == 1,
      s"manifest skipping regressed: ${planned.size} of ${snap.live.size} dirs planned")
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains(planned.head)),
      s"scan planned files outside the pruned dir: $files")
    // the residual range predicate still pushes into parquet (row-group tier)
    val p = plan("q202_txn_data_skipping")
    assert(p.contains("GreaterThanOrEqual(o_orderkey,1)") &&
      p.contains("LessThanOrEqual(o_orderkey,300)"),
      "residual range filter not pushed to the parquet scan")
  }

  test("q203: the partition read plans 1 of 3 live dirs from the manifest parts map") {
    val df = SparkEntry.queries("q203_txn_partitioned")(spark, sf)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_part/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val planned = graft.sources.TxnTable.prunePartition(snap, "o_orderstatus", "F")
    assert(snap.live.size == 3 && planned.size == 1,
      s"partition pruning regressed: ${planned.size} of ${snap.live.size} dirs planned")
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains(planned.head)),
      s"scan planned files outside the F partition's dir: $files")
    // the residual equality also pushes into the scan (harmless on the
    // exact-partition dir, load-bearing for any future unpartitioned dir)
    val p = plan("q203_txn_partitioned")
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      "residual partition equality not pushed to the parquet scan")
  }

  test("q234: the STRING range read plans 1 of 4 live dirs via truncated " +
      "byte bounds; the residual string range pushes to parquet") {
    val df = SparkEntry.queries("q234_txn_string_skipping")(spark, sf)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_sskip/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val planned = graft.sources.TxnTable.pruneLiveString(snap, "o_date_s",
      "1997-01-01", "1997-12-31")
    assert(snap.live.size == 4 && planned.size == 1,
      s"string skipping regressed: ${planned.size} of ${snap.live.size} dirs planned")
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains(planned.head)),
      s"scan planned files outside the pruned dir: $files")
    val p = plan("q234_txn_string_skipping")
    assert(p.contains("GreaterThanOrEqual(o_date_s,1997-01-01)") &&
      p.contains("LessThanOrEqual(o_date_s,1997-12-31)"),
      "residual string range not pushed to the parquet scan")
  }

  test("q235: the exact-tuple read plans 1 dir (the packed F subtree) from " +
      "the manifest's value vectors; residual equalities pushed") {
    val df = SparkEntry.queries("q235_txn_multicol_partitions")(spark, sf)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_mpart/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val planned = graft.sources.TxnTable.prunePartitionSpec(snap,
      Map("o_orderstatus" -> "F", "o_year" -> "1997"))
    assert(planned.size == 1 && snap.live.size > 4,
      s"tuple pruning regressed: ${planned.size} of ${snap.live.size} dirs planned")
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains(planned.head)),
      s"scan planned files outside the tuple's dir: $files")
    val p = plan("q235_txn_multicol_partitions")
    assert(p.contains("EqualTo(o_orderstatus,F)") &&
      p.contains("EqualTo(o_year,1997)"),
      "residual tuple equalities not pushed to the parquet scan")
  }

  test("q205: after clustering, the range read plans 1 of 4 dirs; residual pushed") {
    val df = SparkEntry.queries("q205_txn_clustered_compact")(spark, sf)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_cluster/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    assert(snap.action == "compact", "latest version must be the clustered rewrite")
    val planned = graft.sources.TxnTable.pruneLive(snap, "o_orderkey", 40L, 160L)
    assert(snap.live.size == 4 && planned.size == 1,
      s"clustered skipping regressed: ${planned.size} of ${snap.live.size} dirs planned")
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains(planned.head)),
      s"scan planned files outside the clustered dir: $files")
    val p = plan("q205_txn_clustered_compact")
    assert(p.contains("GreaterThanOrEqual(o_orderkey,40)") &&
      p.contains("LessThanOrEqual(o_orderkey,160)"),
      "residual range filter not pushed to the parquet scan")
  }

  test("q220: the hidden-partition year read plans only that year's dirs, residual-free") {
    val df = SparkEntry.queries("q220_txn_hidden_partition")(spark, sf)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_hidden/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val planned = graft.sources.TxnTable.prunePartition(snap, "oy", "1995")
    assert(planned.nonEmpty && planned.size < snap.live.size,
      s"hidden-partition pruning regressed: ${planned.size} of ${snap.live.size}")
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(f => planned.exists(f.contains)),
      s"scan planned files outside the 1995 partition: $files")
    // residual-FREE: the transform value is not in the data, so the scan
    // must carry no oy filter (every planned dir is partition-exact)
    val p = plan("q220_txn_hidden_partition")
    assert(!p.contains("oy"), "hidden read must not reference the alias in the plan")
  }

  test("q225: IVF×batched scores probed cells through ONE grouped aggregate " +
      "— no pair join of corpus rows, no cartesian") {
    val p = plan("q225_ivf_batch")
    assert(p.contains("ObjectHashAggregate") && p.contains("multi_query_topk"),
      "probed-cell scoring did not go through the batched kernel")
    assert(!p.contains("CartesianProduct"), "cartesian appeared in the IVF path")
    // round 12: the cell assignment is PERSISTED (CacheScope) so the
    // byCell collect and the corpus pass share one computation — the
    // plan must read the assignment from the cache
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "q225 cell assignment is no longer cached — double-computation returned")
    // the corpus is never pair-joined against the query set: the ONLY
    // nested-loop join is the tiny centroid-assignment broadcast
    // (corpus × 10 centroids) inside the cached assignment build, whose
    // plan formatted-explain renders as a second tree (hence ≤ one
    // occurrence per tree); the query tables ride as a broadcast inside
    // the grouped aggregate, invisible to the plan
    val bnlj = opTree(p).filter(_.startsWith("BroadcastNestedLoopJoin"))
      .map(_.replaceAll("""\s*\[codegen id : \d+\]""", ""))
    assert(bnlj.size <= 2 && bnlj.distinct.size <= 1,
      s"corpus × queries pair join reappeared: $bnlj")
  }

  test("q233: the maintenance read folds remaining dvs via the FUSED " +
      "dv_keep predicate — no join operator between scan and aggregate") {
    val p = plan("q233_partition_maintenance")
    assert(p.contains("dv_keep"),
      "O/P's dv debt fell off the fused-predicate path")
    val ops = opTree(p)
    assert(!ops.exists(o => o.startsWith("SortMergeJoin") ||
      o.startsWith("BroadcastHashJoin") || o.startsWith("BroadcastNestedLoopJoin")),
      s"MoR read grew a join operator: ${ops.filter(_.contains("Join"))}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q224: the DSv2 read plans the SAME 1-of-4 dirs as readRange; " +
      "filters pushed; inner parquet scan pruned to the planned dir") {
    val df = SparkEntry.queries("q224_dsv2_pushdown")(spark, sf)
    df.queryExecution.executedPlan: Unit // plan (and record ScanMeta)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_skip/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val expect = graft.sources.TxnTable.pruneLive(snap, "o_orderkey", 1L, 300L)
    assert(snap.live.size == 4 && expect.size == 1)
    val meta = graft.sources.GraftScanMeta.last.get
    assert(meta.tableDir == t && meta.planned == expect,
      s"DSv2 planned ${meta.planned} but readRange plans $expect")
    // Spark's own pushdown reached the DSv2 scan builder: the physical
    // plan shows the pushed range in the scan node's filter record
    val p = plan("q224_dsv2_pushdown")
    assert(p.contains("GreaterThanOrEqual(o_orderkey,1)") &&
      p.contains("LessThanOrEqual(o_orderkey,300)"),
      "range filter not pushed through SupportsPushDownFilters:\n" +
        p.linesIterator.take(40).mkString("\n"))
    // and column pruning reached it too (no price-irrelevant columns)
    assert(!p.contains("o_orderdate"), "column pruning failed through DSv2")
  }

  test("q236: the DSv2 DATE read plans the SAME 1-of-4 dirs as the epoch-day " +
      "pruneLive; Date filters pushed through to the scan node") {
    val df = SparkEntry.queries("q236_dsv2_date_skipping")(spark, sf)
    df.queryExecution.executedPlan: Unit // plan (and record ScanMeta)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_dateskip/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val expect = graft.sources.TxnTable.pruneLive(snap, "o_orderdate",
      java.time.LocalDate.parse("1997-01-01").toEpochDay,
      java.time.LocalDate.parse("1997-12-31").toEpochDay)
    assert(snap.live.size == 4 && expect.size == 1,
      s"date-slice build wrong: ${snap.live.size} live, ${expect.size} expected")
    val meta = graft.sources.GraftScanMeta.forTable(t).get
    assert(meta.planned == expect,
      s"DSv2 planned ${meta.planned} but epoch-day pruneLive plans $expect")
    // Spark pushed the Date range to the DSv2 scan builder (shows in the
    // scan node's pushed-filter record), and both bounds arrived
    val p = plan("q236_dsv2_date_skipping")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThanOrEqual(o_orderdate"),
      "Date range filter not pushed through SupportsPushDownFilters:\n" +
        p.linesIterator.take(40).mkString("\n"))
  }

  test("q237: the DSv2 DECIMAL read plans the SAME 1-of-4 dirs as the " +
      "unscaled-cents pruneLive; BigDecimal filters pushed to the scan") {
    val df = SparkEntry.queries("q237_dsv2_decimal_skipping")(spark, sf)
    df.queryExecution.executedPlan: Unit
    val t = "/tmp/graft_derived/sf0.001/orders_txn_decskip/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val expect = graft.sources.TxnTable.pruneLive(snap, "price_d",
      10000000L, 19999999L)
    assert(snap.live.size == 4 && expect.size == 1,
      s"price-band build wrong: ${snap.live.size} live, ${expect.size} expected")
    val meta = graft.sources.GraftScanMeta.forTable(t).get
    assert(meta.planned == expect,
      s"DSv2 planned ${meta.planned} but unscaled pruneLive plans $expect")
    val p = plan("q237_dsv2_decimal_skipping")
    assert(p.contains("GreaterThanOrEqual(price_d") &&
      p.contains("LessThanOrEqual(price_d"),
      "decimal range filter not pushed through SupportsPushDownFilters:\n" +
        p.linesIterator.take(40).mkString("\n"))
  }

  test("q206: Z-order gives the SECOND column a pruned plan (at most half the dirs)") {
    val df = SparkEntry.queries("q206_txn_zorder")(spark, sf)
    val t = "/tmp/graft_derived/sf0.001/orders_txn_zorder/t"
    val snap = graft.sources.TxnTable.snapshot(t,
      graft.sources.TxnTable.latestVersion(t).get)
    val planned = graft.sources.TxnTable.pruneLive(snap, "o_custkey", 1L, 30L)
    assert(snap.live.size == 16 && planned.size <= 8,
      s"Z-order custkey skipping regressed: ${planned.size} of ${snap.live.size}")
    val allowed = planned.toSet
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(f => allowed.exists(f.contains)),
      s"scan planned files outside the pruned dirs")
    val p = plan("q206_txn_zorder")
    assert(p.contains("GreaterThanOrEqual(o_custkey,1)") &&
      p.contains("LessThanOrEqual(o_custkey,30)"),
      "residual custkey range not pushed to the parquet scan")
  }

  test("q204: batched kNN is ONE joinless corpus pass — queries ride as a " +
      "broadcast inside the aggregate, not as a plan operator") {
    val p = plan("q204_knn_batch_scan")
    // round 10: the query-set transport moved from a 1-row crossJoin
    // column to a real Broadcast captured by the aggregate — there is
    // NO join of any kind left in the plan
    assert(!opTree(p).exists(o => o.contains("Join") || o.contains("CartesianProduct")),
      "batched kNN must be joinless — the query set is a broadcast, not a relation")
    assert(!p.contains("Window"),
      "batched kNN must not fall back to the window top-k")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "MultiQueryTopK aggregate missing from the plan")
  }
}
