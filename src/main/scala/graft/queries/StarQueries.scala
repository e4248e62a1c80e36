package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Joins
import graft.sources.{Derived, Sinks, Tables}

/** Multi-way star-join queries over a PARTITIONED fact copy — the shape a
  * 100 TB warehouse engine actually lives on: a date-partitioned fact table,
  * a chain of dimension joins, and runtime partition pruning deciding how
  * much of the fact is ever read.
  *
  * The fact side is a date-partitioned parquet copy of `lineitem` (partition
  * column `ship_ym` = yyyy-MM of l_shipdate), written once per sf directory
  * via [[Sinks.overwritePartitions]] — identical ROWS to the driver's
  * lineitem table, so the DuckDB oracle runs against the plain table while
  * the engine proves the partitioned path (content equality is the point).
  *
  * Scale design (q79): the quarter filter sits on a derived month DIMENSION,
  * not on the fact — static partition pruning cannot see it, so the plan
  * must carry a DynamicPartitionPruning subquery that seeds the fact scan's
  * partition filter from the dimension at runtime (pinned in PlanAuditSpec).
  * The selective dimension chain (nation → customer → orders) is reduced
  * FIRST and each step stays a size-gated broadcast, so the pruned fact scan
  * meets an already-small build side: zero wide shuffles before the final
  * aggregate. At 100 TB the same plan degrades gracefully — the broadcasts
  * are size-gated ([[Joins.dimBroadcast]]), flipping to shuffle joins only
  * when a reduced dimension genuinely outgrows the threshold.
  */
object StarQueries {

  /** Location of the date-partitioned lineitem copy for a given sf dir. */
  def factPath(sfDir: String): String = {
    val base = new java.io.File(sfDir).getName
    s"/tmp/graft_derived/$base/lineitem_by_ym"
  }

  /** Write the partitioned copy once per (sf dir, source build) via
    * Derived.ensure: dynamic partition overwrite leaves NO _SUCCESS at the
    * root (it commits by moving partition directories), so an explicit
    * sentinel is required — and the sentinel carries the source
    * fingerprint so a regenerated testdata dir triggers a rewrite instead
    * of baffling oracle mismatches. (Before the sentinel existed the copy
    * was silently rewritten on every call: 2.5 s/call at sf0.1.)
    */
  def ensurePartitionedFact(s: SparkSession, sfDir: String): String =
    Derived.ensure(factPath(sfDir), Derived.fingerprint(sfDir, Seq("lineitem"))) {
      Sinks.overwritePartitions(partitionedFact(s, sfDir), factPath(sfDir), Seq("ship_ym"))
    }

  /** The rows the partitioned copy is written from. */
  private def partitionedFact(s: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(s, sfDir)
      .withColumn("ship_ym", date_format(col("l_shipdate"), "yyyy-MM"))

  /** The partitioned copy, read with the schema its writer produces (the
    * partition column last, where a parquet read puts it), so building
    * the read runs no schema-inference job. */
  def readPartitionedFact(s: SparkSession, sfDir: String): DataFrame =
    s.read.schema(partitionedFact(s, sfDir).schema).parquet(ensurePartitionedFact(s, sfDir))

  private def cents(c: org.apache.spark.sql.Column) =
    graft.functions.Exact.cents(c)

  /** Create the bucketed orders/lineitem tables (8 buckets on the join key,
    * sorted) once per session+sf; table files live under /tmp (external
    * path), metadata in the session catalog. The one-time write is the
    * price of REMOVING the per-join shuffle of both fact tables forever
    * after — the recurring fact-fact join pattern bucketing exists for.
    */
  def ensureBucketedTables(s: SparkSession, sfDir: String): (String, String) = {
    val base = new java.io.File(sfDir).getName
    val tag = base.replace('.', '_').replace('-', '_')
    val (to, tl) = (s"graft_orders_bkt_$tag", s"graft_lineitem_bkt_$tag")
    // Same staleness rule as ensurePartitionedFact, plus a catalog check:
    // the sentinel says the FILES match the source build, but a fresh
    // session must still re-register the table (extraCheck vetoes the
    // skip when the catalog entry is missing).
    def ensure(table: String, src: String, build: String => Unit): Unit = {
      val dir = s"/tmp/graft_derived/$base/${table.stripPrefix("graft_").stripSuffix(s"_$tag")}"
      Derived.ensure(dir, Derived.fingerprint(sfDir, Seq(src)),
        extraCheck = s.catalog.tableExists(table)) {
        s.sql(s"DROP TABLE IF EXISTS $table")
        build(dir)
      }
    }
    ensure(to, "orders", dir =>
      Tables.orders(s, sfDir).select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").format("parquet")
        .option("path", dir)
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to))
    ensure(tl, "lineitem", dir =>
      Tables.lineitem(s, sfDir).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").format("parquet")
        .option("path", dir)
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl))
    (to, tl)
  }

  val all: Seq[Q] = Seq(

    // ---- q79: 4-way star join with dynamic partition pruning. Filters:
    // a selective nation (1 of 25) and a quarter picked on a derived month
    // dimension (3 of ~84 fact partitions). Revenue in exact e4 units.
    Q("q79_star_dpp",
      Some("""WITH dim AS (
             |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ym
             |  FROM orders
             |  WHERE strftime(o_orderdate, '%Y') || '-Q' ||
             |        CAST((CAST(strftime(o_orderdate, '%m') AS INT) - 1) // 3 + 1 AS VARCHAR)
             |        = '1996-Q2')
             |SELECT n.n_name, strftime(l.l_shipdate, '%Y-%m') AS ship_ym,
             |       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
             |                (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
             |         AS revenue_e4,
             |       COUNT(*) AS n
             |FROM lineitem l
             |JOIN dim ON strftime(l.l_shipdate, '%Y-%m') = dim.ym
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE n.n_name = 'NATION_7'
             |GROUP BY 1, 2
             |ORDER BY ship_ym""".stripMargin),
      (s, d) => {
        val fact = readPartitionedFact(s, d)
        // Month dimension DERIVED FROM A SCAN (a LocalRelation dim would be
        // constant-folded and DPP would never see a selective predicate).
        val dim = Tables.orders(s, d)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .distinct()
          .withColumn("quarter", concat(
            substring(col("ym"), 1, 4), lit("-Q"),
            (floor((substring(col("ym"), 6, 2).cast("int") - 1) / 3) + 1).cast("string")))
          .filter(col("quarter") === "1996-Q2")
          .select("ym")
        // Selective dimension chain reduced first, size-gated broadcasts.
        val nat = Tables.nation(s, d)
          .filter(col("n_name") === "NATION_7")
          .select("n_nationkey", "n_name")
        val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
          .join(Joins.dimBroadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "n_name")
        val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Joins.dimBroadcast(cust), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "n_name")
        fact
          .join(Joins.dimBroadcast(dim), col("ship_ym") === col("ym"))
          .join(Joins.dimBroadcast(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name"), col("ship_ym"))
          .agg(
            sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
              .as("revenue_e4"),
            count(lit(1)).as("n"))
          .orderBy("ship_ym")
      }),

    // ---- q81: co-located fact-fact join over BUCKETED tables — both
    // sides pre-bucketed (8 buckets) and sorted on the join key, so the
    // sort-merge join consumes the bucketed layout directly and the
    // dominant exchange of a 100 TB recurring join disappears (pinned in
    // PlanAuditSpec: SortMergeJoin, no shuffle below it). The merge hint
    // documents intent: at fact scale this join is never a broadcast.
    // Oracle: the same join over the plain (unbucketed) tables — layout
    // must not change results.
    Q("q81_bucketed_join",
      Some("""SELECT o.o_orderstatus AS status,
             |       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |         AS sum_base_c,
             |       COUNT(*) AS n
             |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |GROUP BY 1
             |ORDER BY status""".stripMargin),
      (s, d) => {
        val (to, tl) = ensureBucketedTables(s, d)
        s.table(to)
          .join(s.table(tl).hint("merge"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderstatus").as("status"))
          .agg(sum(cents(col("l_extendedprice"))).as("sum_base_c"),
            count(lit(1)).as("n"))
          .orderBy("status")
      }),

    // ---- q98: SCD (slowly-changing dimension) MERGE classification — the
    // warehouse upsert the reference's star-schema loader implies but its
    // full-reload script never performs (ref: etl/loader.py truncates and
    // reloads): given the CURRENT dimension and an arriving SNAPSHOT,
    // classify every business key into the action a MERGE INTO would take —
    // insert (new key), close (key vanished), update (tracked attribute
    // changed -> close old version + open new), unchanged. The SCD2 write
    // set is a projection of this frame (inserts+updates open rows,
    // closes+updates close rows); emitting the classification keeps the
    // full decision auditable. Both inputs are deterministic slices of
    // `customer` so the oracle reproduces them exactly: the dimension
    // lacks keys %7==0 (-> inserts), the snapshot lacks keys %11==0
    // (-> closes), and the snapshot re-segments keys %5==0 (-> updates).
    // Scale design: ONE full-outer hash join on the business key — at
    // 100 TB both sides bucket on that key (the q81 layout) and the
    // exchange disappears; the classification itself is a map-side
    // when-chain. No window, no skew surface (keys are unique per side).
    Q("q98_scd2_merge",
      Some("""WITH dim AS (SELECT c_custkey, c_mktsegment AS seg FROM customer WHERE c_custkey % 7 <> 0),
             |snap AS (SELECT c_custkey,
             |                CASE WHEN c_custkey % 5 = 0 THEN 'SEG_NEW' ELSE c_mktsegment END AS seg
             |         FROM customer WHERE c_custkey % 11 <> 0)
             |SELECT COALESCE(d.c_custkey, s.c_custkey) AS c_custkey,
             |       CASE WHEN d.c_custkey IS NULL THEN 'insert'
             |            WHEN s.c_custkey IS NULL THEN 'close'
             |            WHEN d.seg <> s.seg THEN 'update'
             |            ELSE 'unchanged' END AS action,
             |       d.seg AS old_seg, s.seg AS new_seg
             |FROM dim d FULL OUTER JOIN snap s ON d.c_custkey = s.c_custkey
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        val cust = Tables.customer(s, d)
        val dim = cust.filter(col("c_custkey") % 7L =!= 0L)
          .select(col("c_custkey").as("d_key"), col("c_mktsegment").as("old_seg"))
        val snap = cust.filter(col("c_custkey") % 11L =!= 0L)
          .select(col("c_custkey").as("s_key"),
            when(col("c_custkey") % 5L === 0L, lit("SEG_NEW"))
              .otherwise(col("c_mktsegment")).as("new_seg"))
        dim.join(snap, col("d_key") === col("s_key"), "full_outer")
          .select(
            coalesce(col("d_key"), col("s_key")).as("c_custkey"),
            when(col("d_key").isNull, lit("insert"))
              .when(col("s_key").isNull, lit("close"))
              .when(col("old_seg") =!= col("new_seg"), lit("update"))
              .otherwise(lit("unchanged")).as("action"),
            col("old_seg"), col("new_seg"))
          .orderBy("c_custkey")
      }),

    // ---- q108: incremental aggregate maintenance (materialized-view
    // refresh) — the q86 daily-ingest idea applied to AGGREGATES: a
    // persisted per-key state of mergeable partials (count/sum/min/max
    // over the history, fingerprint-keyed like every derived artifact)
    // is REFRESHED by aggregating only the arriving batch and merging
    // partial states — the history is never rescanned. The oracle is the
    // full recompute over all rows: the query IS the proof that the
    // partial-aggregate algebra (sum of counts, sum of sums, min of
    // mins, max of maxes) reproduces the from-scratch answer exactly.
    // At 100 TB: state and batch both bucket by key (q81 layout) and the
    // merge is exchange-free; refresh cost = O(state + batch), vs
    // O(history + batch) for the naive recompute. avg/stddev extend the
    // same way ((sum, count) / (sum, sum2, count) partials); sketches
    // (L30/L50) merge too — this is the batch face of streaming state.
    Q("q108_incremental_agg",
      Some("""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c,
             |       CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_c,
             |       CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_c
             |FROM orders
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        val base = new java.io.File(d).getName
        val statePath = s"/tmp/graft_derived/$base/orders_aggstate"
        val cutoff = lit("2001-01-01").cast("date")
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("o_custkey")
            .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_c"),
              min(cents(col("o_totalprice"))).as("min_c"),
              max(cents(col("o_totalprice"))).as("max_c"))
        Derived.ensure(statePath, Derived.fingerprint(d, Seq("orders"))) {
          partials(Tables.orders(s, d)
              .filter(col("o_orderdate").cast("date") < cutoff))
            .write.mode("overwrite").parquet(statePath)
        }
        val state = s.read.parquet(statePath)
        val batch = partials(Tables.orders(s, d)
          .filter(col("o_orderdate").cast("date") >= cutoff))
        state.unionByName(batch)
          .groupBy("o_custkey")
          .agg(sum(col("n")).as("n"), sum(col("sum_c")).as("sum_c"),
            min(col("min_c")).as("min_c"), max(col("max_c")).as("max_c"))
          .orderBy("o_custkey")
      })
  )
}
