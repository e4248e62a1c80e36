package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.operators.{Windows, Joins}
import graft.functions.Exact.cents
import Joins.dimBroadcast

/** Window-function inventory (SURVEY.md §2.6): duplicate-suffix renaming,
  * global dense surrogate keys, per-group ranking, running-total frames.
  * Every window spec orders by a key set ending in a unique column, so the
  * numbering is a total order — deterministic under any partitioning.
  */
object WindowQueries {

  val all: Seq[Q] = Seq(

    // ---- q09: duplicate-key suffix renaming (ref W1+F11,
    // transform.py:253-261 renames dup Sale_IDs `ID_2`, `ID_3`...).
    // One hash exchange on the partition keys; no global sort.
    Q("q09_window_dedup",
      Some("""SELECT l_orderkey AS okey, l_linenumber AS lineno, rn,
             |       CASE WHEN rn > 1 THEN concat_ws('_', l_orderkey, rn)
             |            ELSE CAST(l_orderkey AS VARCHAR) END AS uid
             |FROM (SELECT l_orderkey, l_linenumber,
             |             row_number() OVER (PARTITION BY l_orderkey
             |                                ORDER BY l_linenumber) AS rn
             |      FROM lineitem)
             |ORDER BY okey, lineno""".stripMargin),
      (s, d) => {
        val base = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")
        Windows.suffixDuplicates(base,
            keys = Seq("l_orderkey"), order = Seq(col("l_linenumber")),
            idCol = "l_orderkey", outCol = "uid")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))))
          .select(col("l_orderkey").as("okey"), col("l_linenumber").as("lineno"),
            col("rn"), col("uid"))
          .orderBy("okey", "lineno")
      }),

    // ---- q21: global dense surrogate keys 1..N (ref W2,
    // transform.py:341-342 Client_ID). The reference's global window
    // collapses to one partition — acceptable for dimensions (this query, on
    // 15k customers); q33_surrogate_scalable proves the range-partitioned
    // variant for fact-scale inputs.
    Q("q21_window_global_rownum",
      Some("""SELECT c_custkey AS custkey, c_name AS cname,
             |       CAST(row_number() OVER (ORDER BY c_name, c_custkey) AS BIGINT) AS sk
             |FROM customer
             |ORDER BY custkey""".stripMargin),
      (s, d) => Windows.denseIdsGlobal(
          Tables.customer(s, d).select("c_custkey", "c_name"),
          order = Seq(col("c_name"), col("c_custkey")), outCol = "sk")
        .select(col("c_custkey").as("custkey"), col("c_name").as("cname"), col("sk"))
        .orderBy("custkey")),

    // ---- q22: top-k per group by rank (ref W3 — "best products" /
    // "loyal clients" dashboard rankings). Exact integer revenue (1e-4
    // units) + unique tie-break key make ranks reproducible.
    Q("q22_window_rank",
      Some("""SELECT brand, pkey, revenue_e4, rnk FROM (
             |  SELECT brand, pkey, revenue_e4,
             |         rank() OVER (PARTITION BY brand
             |                      ORDER BY revenue_e4 DESC, pkey) AS rnk
             |  FROM (SELECT p.p_brand AS brand, p.p_partkey AS pkey,
             |               CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
             |                        (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
             |        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |        GROUP BY 1, 2))
             |WHERE rnk <= 3
             |ORDER BY brand, rnk, pkey""".stripMargin),
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d).select("p_partkey", "p_brand")
        val perPart = l.join(dimBroadcast(p), l("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand").as("brand"), col("p_partkey").as("pkey"))
          .agg(sum(cents(col("l_extendedprice")) *
                 (lit(100L) - cents(col("l_discount")))).as("revenue_e4"))
        Windows.topKPerGroup(perPart,
            partitionCols = Seq(col("brand")),
            order = Seq(col("revenue_e4").desc, col("pkey")), k = 3)
          .select("brand", "pkey", "revenue_e4", "rnk")
          .orderBy("brand", "rnk", "pkey")
      }),

    // ---- q23: running total over an explicit ROWS frame (ref W4 — the
    // "sales trends" cumulative view). Partitioned by customer: parallel by
    // key, no global sort. Running sums of exact BIGINT cents.
    Q("q23_window_running_sum",
      Some("""SELECT o_custkey AS custkey, o_orderkey AS okey,
             |       CAST(o_orderdate AS DATE) AS odate,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
             |              OVER (PARTITION BY o_custkey
             |                    ORDER BY o_orderdate, o_orderkey
             |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_c
             |FROM orders
             |ORDER BY custkey, okey""".stripMargin),
      (s, d) => Windows.runningSum(
          Tables.orders(s, d),
          partitionCols = Seq(col("o_custkey")),
          order = Seq(col("o_orderdate"), col("o_orderkey")),
          value = cents(col("o_totalprice")), outCol = "running_c")
        .select(
          col("o_custkey").as("custkey"),
          col("o_orderkey").as("okey"),
          col("o_orderdate").cast(DateType).as("odate"),
          col("running_c"))
        .orderBy("custkey", "okey")),

    // ---- q102: gaps-and-islands sequence audit — given the keys that
    // SURVIVE a predicate (here: open orders), report each contiguous key
    // run (island) with its bounds and size; the complement is the gap
    // report a data-quality pass raises when a loader drops ranges. The
    // classic trick: key - row_number() over (order by key) is constant
    // exactly within a contiguous run. The global row_number is the
    // scale hazard — a naive window collapses to ONE partition, so this
    // reuses Windows.denseIdsScalable (q41's two-phase order-range
    // buckets + broadcast offsets); the oracle computes the same values with the
    // plain window. Output is islands-sized (bounded by true
    // fragmentation), never keys-sized.
    Q("q102_sequence_islands",
      Some("""WITH k AS (SELECT o_orderkey AS key FROM orders WHERE o_orderstatus = 'O'),
             |r AS (SELECT key, key - row_number() OVER (ORDER BY key) AS grp FROM k)
             |SELECT MIN(key) AS island_start, MAX(key) AS island_end,
             |       CAST(COUNT(*) AS BIGINT) AS n_keys
             |FROM r GROUP BY grp
             |ORDER BY island_start""".stripMargin),
      (s, d) => {
        val k = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey").as("key"))
        Windows.denseIdsScalable(k, Seq(col("key")), "rn")
          .withColumn("grp", col("key") - col("rn"))
          .groupBy("grp")
          .agg(min(col("key")).as("island_start"),
            max(col("key")).as("island_end"),
            count(lit(1)).as("n_keys"))
          .select("island_start", "island_end", "n_keys")
          .orderBy("island_start")
      }),

    // ---- q109: trailing RANGE-frame window — per customer, revenue in
    // the 30 days ENDING at each order (trend/velocity features; fraud
    // scoring's "spend in the last N days"). The frame is a VALUE range
    // over exact epoch micros, not a row count — rows-frames (q23) break
    // on irregular event spacing. Range frames are also the
    // deterministic choice under timestamp ties: all peers of the
    // current value join the frame regardless of sort order, so the
    // output is tie-stable without a unique tiebreak column. One
    // exchange on the partition key; the per-key sliding sum is linear
    // (two-pointer over the sorted run), never quadratic.
    Q("q109_trailing_window",
      Some("""WITH o AS (SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS tsu,
             |                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
             |          FROM orders)
             |SELECT o_orderkey AS okey, o_custkey AS custkey, tsu,
             |       CAST(SUM(c) OVER (PARTITION BY o_custkey ORDER BY tsu
             |              RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS BIGINT)
             |         AS trail30_c
             |FROM o ORDER BY custkey, tsu, okey""".stripMargin),
      (s, d) => {
        val o = Tables.orders(s, d).select(
          col("o_orderkey").as("okey"), col("o_custkey").as("custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("tsu"),
          cents(col("o_totalprice")).as("c"))
        val w = Window.partitionBy(col("custkey")).orderBy(col("tsu"))
          .rangeBetween(-2592000000000L, 0L) // 30 days in micros
        o.withColumn("trail30_c", sum(col("c")).over(w))
          .select("okey", "custkey", "tsu", "trail30_c")
          .orderBy("custkey", "tsu", "okey")
      }),

    // ---- q127: ranking-analytics breadth — rank (tie-sharing), EXACT
    // percent-rank, and quartile per group in one window pass. Spark's
    // percent_rank() emits a double ((rnk-1)/(n-1)) whose decimal
    // rendering is engine-dependent — this computes the same statistic
    // as exact integer ppm from rank() and the partition count instead,
    // keeping the hash-compare byte-stable. rank orders by value only
    // (ties share a rank — the semantics under test); row_number adds
    // the unique-key tiebreak for a deterministic top-5 cut; ntile
    // buckets over the same deterministic order. One exchange, one
    // window sort, three functions.
    Q("q127_rank_analytics",
      Some("""WITH o AS (SELECT o_orderpriority AS prio, o_orderkey AS okey,
             |                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
             |          FROM orders),
             |r AS (SELECT prio, okey, c,
             |        rank() OVER (PARTITION BY prio ORDER BY c DESC) AS rnk,
             |        row_number() OVER (PARTITION BY prio ORDER BY c DESC, okey) AS rn,
             |        ntile(4) OVER (PARTITION BY prio ORDER BY c DESC, okey) AS quartile,
             |        COUNT(*) OVER (PARTITION BY prio) AS n
             |      FROM o)
             |SELECT prio, okey, c, CAST(rnk AS BIGINT) AS rnk,
             |       CAST(((rnk - 1) * 1000000) // (n - 1) AS BIGINT) AS pr_ppm,
             |       CAST(quartile AS BIGINT) AS quartile
             |FROM r WHERE rn <= 5 ORDER BY prio, rnk, okey""".stripMargin),
      (s, d) => {
        val o = Tables.orders(s, d).select(
          col("o_orderpriority").as("prio"), col("o_orderkey").as("okey"),
          cents(col("o_totalprice")).as("c"))
        val wv = Window.partitionBy(col("prio")).orderBy(col("c").desc)
        val wu = Window.partitionBy(col("prio")).orderBy(col("c").desc, col("okey"))
        val wp = Window.partitionBy(col("prio"))
        o.withColumn("rnk", rank().over(wv).cast("long"))
          .withColumn("rn", row_number().over(wu))
          .withColumn("quartile", ntile(4).over(wu).cast("long"))
          .withColumn("n", count(lit(1)).over(wp))
          .filter(col("rn") <= 5)
          .select(col("prio"), col("okey"), col("c"), col("rnk"),
            expr("((rnk - 1) * 1000000) div (n - 1)").as("pr_ppm"),
            col("quartile"))
          .orderBy("prio", "rnk", "okey")
      })
  )
}
