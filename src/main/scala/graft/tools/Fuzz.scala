package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Differential query fuzzing: a small template grammar over the harness
  * tables, each generated case carrying BOTH a Spark builder and an
  * equivalent DuckDB oracle SQL. 195 fixed queries prove 195 fixed plans;
  * the fuzzer hunts the semantic gaps a fixed inventory can't — integer
  * division edges, comparison/null dialect, window tie semantics, string
  * function off-by-ones (the class of bug the q189 empty-shingle concat
  * mismatch was).
  *
  * Three consumers of the same structured configs:
  *  - [[Fuzz.main]] dumps every case Verify-style (parquet result +
  *    oracle_sql.json) for `tools/fuzz_replay.sh` → selfcheck.py: the
  *    TRUE cross-engine differential gate (DuckDB exists driver-side
  *    only).
  *  - FuzzSpec replays the cases against an independent in-JVM
  *    collections evaluator inside `sbt test` (no DuckDB in the JVM, so
  *    the spec's reference is plain Scala).
  *  - Determinism: every case is a pure function of (template, seed,
  *    index); outputs are row-order independent (the harness sorts rows
  *    canonically), window cases either order on a UNIQUE key
  *    (row_number) or use tie-stable rank/dense_rank.
  *
  * All money flows through exact cents (round(x*100) BIGINT) and integer
  * `div`/`//` — the repo-wide bit-reproducibility discipline.
  */
object Fuzz {

  val Cmps: Vector[String] = Vector("<", "<=", "=", ">=", ">", "<>")

  def cmpCol(c: Column, op: String, v: Long): Column = op match {
    case "<"  => c < v
    case "<=" => c <= v
    case "="  => c === v
    case ">=" => c >= v
    case ">"  => c > v
    case "<>" => c =!= v
  }

  /** One generated case: name, DuckDB oracle, Spark builder. The config
    * fields stay public so FuzzSpec's evaluator reads them directly. */
  sealed trait FCase {
    def name: String
    def sql: String
    def df(s: SparkSession, sfDir: String): DataFrame
  }

  private def li(s: SparkSession, d: String) =
    s.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        col("l_returnflag"), col("l_linestatus"))

  private val liSql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       CAST(l_quantity AS BIGINT) AS qty,
      |       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
      |       l_returnflag, l_linestatus
      |FROM lineitem""".stripMargin

  /** T1: conjunctive/disjunctive filter + projection. */
  final case class T1(name: String, cmpQ: String, qc: Long, cmpP: String,
                      pc: Long, isAnd: Boolean) extends FCase {
    def sql: String = {
      val op = if (isAnd) "AND" else "OR"
      s"""WITH l AS ($liSql)
         |SELECT l_orderkey, l_linenumber, qty, price_c
         |FROM l WHERE qty $cmpQ $qc $op price_c $cmpP $pc""".stripMargin
    }
    def df(s: SparkSession, d: String): DataFrame = {
      val p1 = cmpCol(col("qty"), cmpQ, qc)
      val p2 = cmpCol(col("price_c"), cmpP, pc)
      li(s, d).filter(if (isAnd) p1 && p2 else p1 || p2)
        .select("l_orderkey", "l_linenumber", "qty", "price_c")
    }
  }

  /** T2: group-by aggregate with optional HAVING and exact integer avg. */
  final case class T2(name: String, key: String, having: Option[Long]) extends FCase {
    def sql: String = {
      val hv = having.map(h => s"HAVING COUNT(*) >= $h").getOrElse("")
      s"""WITH l AS ($liSql)
         |SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(qty) AS BIGINT) AS sum_qty,
         |       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
         |       CAST(MIN(price_c) AS BIGINT) AS min_price_c,
         |       CAST(MAX(price_c) AS BIGINT) AS max_price_c,
         |       CAST(SUM(price_c) // COUNT(*) AS BIGINT) AS avg_c
         |FROM l GROUP BY 1 $hv""".stripMargin
    }
    def df(s: SparkSession, d: String): DataFrame = {
      val g = li(s, d).groupBy(col(key).as("k"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
          sum(col("price_c")).as("sum_price_c"),
          min(col("price_c")).as("min_price_c"),
          max(col("price_c")).as("max_price_c"))
        .withColumn("avg_c", expr("sum_price_c div n"))
      having.fold(g)(h => g.filter(col("n") >= h))
        .select("k", "n", "sum_qty", "sum_price_c",
          "min_price_c", "max_price_c", "avg_c")
    }
  }

  /** T3: windowed top-k. mode 0 = row_number over a UNIQUE order (price,
    * orderkey, linenumber); mode 1/2 = rank/dense_rank over the TIED qty
    * column — deterministic because ranks are functions of the key
    * values, and exactly the tie semantics engines disagree on when one
    * of them is buggy. */
  final case class T3(name: String, part: String, mode: Int, desc: Boolean,
                      k: Long) extends FCase {
    private val dir = if (desc) "DESC" else "ASC"
    def sql: String = {
      val over = mode match {
        case 0 => s"PARTITION BY $part ORDER BY price_c $dir, l_orderkey, l_linenumber"
        case _ => s"PARTITION BY $part ORDER BY qty $dir"
      }
      val fn = mode match {
        case 0 => "row_number()"; case 1 => "rank()"; case 2 => "dense_rank()"
      }
      s"""WITH l AS ($liSql),
         |w AS (SELECT $part AS p, l_orderkey, l_linenumber,
         |             $fn OVER ($over) AS rnk FROM l)
         |SELECT p, l_orderkey, l_linenumber, CAST(rnk AS BIGINT) AS rnk
         |FROM w WHERE rnk <= $k""".stripMargin
    }
    def df(s: SparkSession, d: String): DataFrame = {
      def o(c: Column) = if (desc) c.desc else c.asc
      val w = mode match {
        case 0 => Window.partitionBy(col(part))
          .orderBy(o(col("price_c")), col("l_orderkey"), col("l_linenumber"))
        case _ => Window.partitionBy(col(part)).orderBy(o(col("qty")))
      }
      val fn = mode match {
        case 0 => row_number(); case 1 => rank(); case 2 => dense_rank()
      }
      // rank BEFORE projecting: the window references qty/price_c/part
      li(s, d).withColumn("rnk", fn.over(w))
        .filter(col("rnk") <= k)
        .select(col(part).as("p"), col("l_orderkey"), col("l_linenumber"),
          col("rnk").cast("long").as("rnk"))
    }
  }

  /** T4: orders⋈customer join + filtered aggregate. */
  final case class T4(name: String, key: String, pc: Long) extends FCase {
    def sql: String =
      s"""SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= $pc
         |GROUP BY 1""".stripMargin
    def df(s: SparkSession, d: String): DataFrame = {
      val o = s.read.parquet(s"$d/orders.parquet")
        .withColumn("price_c", round(col("o_totalprice") * 100).cast("long"))
        .filter(col("price_c") >= pc)
      val c = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_mktsegment"))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col(key).as("k"))
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_price_c"))
    }
  }

  /** T5: scalar string + date functions over orders. */
  final case class T5(name: String, fnId: Int, pos: Int, len: Int,
                      datePart: Int, modulus: Long, residue: Long) extends FCase {
    def sql: String = {
      val sExpr = fnId match {
        case 0 => "upper(o_orderpriority)"
        case 1 => "lower(o_orderpriority)"
        case 2 => s"substr(o_orderpriority, $pos, $len)"
        case 3 => "concat_ws('-', o_orderstatus, o_orderpriority)"
      }
      val dExpr = datePart match {
        case 0 => "year(CAST(o_orderdate AS DATE))"
        case 1 => "month(CAST(o_orderdate AS DATE))"
        case 2 => "day(CAST(o_orderdate AS DATE))"
      }
      s"""SELECT o_orderkey, $sExpr AS s,
         |       CAST($dExpr AS BIGINT) AS dpart,
         |       CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_days,
         |       CAST(length(o_orderpriority) AS BIGINT) AS slen
         |FROM orders WHERE o_orderkey % $modulus = $residue""".stripMargin
    }
    def df(s: SparkSession, d: String): DataFrame = {
      val sCol = fnId match {
        case 0 => upper(col("o_orderpriority"))
        case 1 => lower(col("o_orderpriority"))
        case 2 => substring(col("o_orderpriority"), pos, len)
        case 3 => concat_ws("-", col("o_orderstatus"), col("o_orderpriority"))
      }
      val dCol = datePart match {
        case 0 => year(col("o_orderdate").cast("date"))
        case 1 => month(col("o_orderdate").cast("date"))
        case 2 => dayofmonth(col("o_orderdate").cast("date"))
      }
      s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderkey") % modulus === residue)
        .select(col("o_orderkey"), sCol.as("s"), dCol.cast("long").as("dpart"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("epoch_days"),
          length(col("o_orderpriority")).cast("long").as("slen"))
    }
  }

  /** T6: set operations — UNION ALL (bag), INTERSECT / EXCEPT (set,
    * DISTINCT semantics in both engines) over two differently-filtered
    * projections of lineitem. */
  final case class T6(name: String, op: Int, cmpA: String, ca: Long,
                      cmpB: String, cb: Long) extends FCase {
    private val opSql = op match {
      case 0 => "UNION ALL"; case 1 => "INTERSECT"; case 2 => "EXCEPT"
    }
    def sql: String =
      s"""WITH l AS ($liSql),
         |a AS (SELECT l_returnflag AS f, qty FROM l WHERE qty $cmpA $ca),
         |b AS (SELECT l_returnflag AS f, qty FROM l WHERE price_c $cmpB $cb)
         |SELECT f, qty FROM a $opSql SELECT f, qty FROM b""".stripMargin
    def df(s: SparkSession, d: String): DataFrame = {
      val l = li(s, d)
      val a = l.filter(cmpCol(col("qty"), cmpA, ca))
        .select(col("l_returnflag").as("f"), col("qty"))
      val b = l.filter(cmpCol(col("price_c"), cmpB, cb))
        .select(col("l_returnflag").as("f"), col("qty"))
      op match {
        case 0 => a.union(b)      // UNION ALL (bag)
        case 1 => a.intersect(b)  // DISTINCT semantics, both engines
        case 2 => a.except(b)
      }
    }
  }

  /** T7: null-skipping aggregate semantics — a CASE injects NULLs into
    * the measure; count(*) vs count(col), null-skipping sum/min/max, and
    * a null-guarded exact integer average must all agree. */
  final case class T7(name: String, key: String, mod: Long, res: Long) extends FCase {
    def sql: String =
      s"""WITH l AS ($liSql),
         |v AS (SELECT $key AS k,
         |             CASE WHEN qty % $mod = $res THEN NULL ELSE price_c END AS nv
         |      FROM l)
         |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(COUNT(nv) AS BIGINT) AS n_vals,
         |       CAST(SUM(nv) AS BIGINT) AS sum_nv,
         |       CAST(MIN(nv) AS BIGINT) AS min_nv,
         |       CAST(MAX(nv) AS BIGINT) AS max_nv,
         |       CAST(CASE WHEN COUNT(nv) = 0 THEN NULL
         |            ELSE SUM(nv) // COUNT(nv) END AS BIGINT) AS avg_nv
         |FROM v GROUP BY 1""".stripMargin
    def df(s: SparkSession, d: String): DataFrame =
      li(s, d)
        .select(col(key).as("k"),
          when(col("qty") % mod === res, lit(null)).otherwise(col("price_c")).as("nv"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_rows"), count(col("nv")).as("n_vals"),
          sum(col("nv")).as("sum_nv"), min(col("nv")).as("min_nv"),
          max(col("nv")).as("max_nv"))
        .withColumn("avg_nv",
          when(col("n_vals") === 0, lit(null))
            .otherwise(expr("sum_nv div n_vals")).cast("long"))
        .select("k", "n_rows", "n_vals", "sum_nv", "min_nv", "max_nv", "avg_nv")
  }

  private val JoinTypes: Vector[String] = Vector("inner", "left", "right", "full")
  private def jtSql(jt: String): String = jt match {
    case "inner" => "JOIN"
    case "left"  => "LEFT JOIN"
    case "right" => "RIGHT JOIN"
    case "full"  => "FULL JOIN"
  }

  /** T8: THREE-WAY outer-join chain with NULL-injected keys — the
    * dialect surface the 7 original templates never touched: orders
    * (o_custkey nulled when o_orderkey ≡ res mod m) {jt1} customer
    * {jt2} nation, left-associative in both engines. Null keys match
    * nothing in either dialect; right/full hops surface unmatched dim
    * rows whose measure sums must come back NULL. Aggregated on the
    * nation key (−1 for the null flank) so results stay small and
    * canonical. */
  final case class T8(name: String, mod: Long, res: Long,
                      jt1: String, jt2: String) extends FCase {
    def sql: String =
      s"""WITH o AS (SELECT o_orderkey,
         |                  CASE WHEN o_orderkey % $mod = $res THEN NULL
         |                       ELSE o_custkey END AS ck,
         |                  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         |           FROM orders)
         |SELECT COALESCE(c_nationkey, -1) AS k,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
         |       CAST(COUNT(c_custkey) AS BIGINT) AS n_cust,
         |       CAST(COUNT(n_name) AS BIGINT) AS n_nat,
         |       CAST(SUM(price_c) AS BIGINT) AS sum_price_c
         |FROM o ${jtSql(jt1)} customer ON ck = c_custkey
         |       ${jtSql(jt2)} nation ON c_nationkey = n_nationkey
         |GROUP BY 1""".stripMargin
    def df(s: SparkSession, d: String): DataFrame = {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % mod === res, lit(null))
            .otherwise(col("o_custkey")).as("ck"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val c = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val nt = s.read.parquet(s"$d/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      o.join(c, col("ck") === col("c_custkey"), jt1)
        .join(nt, col("c_nationkey") === col("n_nationkey"), jt2)
        .groupBy(coalesce(col("c_nationkey").cast("long"), lit(-1L)).as("k"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_orders"),
          count(col("c_custkey")).as("n_cust"),
          count(col("n_name")).as("n_nat"),
          sum(col("price_c")).as("sum_price_c"))
    }
  }

  /** T9: multi-way USING join with join MULTIPLICITY — lineitem (many
    * rows per order key) {jt1} JOIN USING(k) a filtered orders slice
    * {jt2} JOIN USING(k) a differently-filtered slice. USING coalesces
    * the key across outer hops (the classic dialect divergence point),
    * fan-out multiplies measure rows, and count(col)-vs-count(*) over
    * the outer flanks checks null production. Grouped by k mod gm. */
  final case class T9(name: String, pcMin: Long, mod2: Long, res2: Long,
                      jt1: String, jt2: String, gm: Long) extends FCase {
    def sql: String =
      s"""WITH l AS ($liSql),
         |a AS (SELECT l_orderkey AS k, qty, price_c FROM l),
         |b AS (SELECT o_orderkey AS k, o_orderstatus AS st FROM orders
         |      WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= $pcMin),
         |c AS (SELECT o_orderkey AS k, o_orderpriority AS pri FROM orders
         |      WHERE o_orderkey % $mod2 = $res2)
         |SELECT CAST(k % $gm AS BIGINT) AS g,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(COUNT(qty) AS BIGINT) AS n_q,
         |       CAST(SUM(qty) AS BIGINT) AS sum_qty,
         |       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
         |       CAST(COUNT(st) AS BIGINT) AS n_st,
         |       CAST(COUNT(pri) AS BIGINT) AS n_pri
         |FROM a ${jtSql(jt1)} b USING (k) ${jtSql(jt2)} c USING (k)
         |GROUP BY 1""".stripMargin
    def df(s: SparkSession, d: String): DataFrame = {
      val a = li(s, d).select(col("l_orderkey").as("k"), col("qty"), col("price_c"))
      val b = s.read.parquet(s"$d/orders.parquet")
        .filter(round(col("o_totalprice") * 100).cast("long") >= pcMin)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
      val c = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderkey") % mod2 === res2)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"))
      a.join(b, Seq("k"), jt1).join(c, Seq("k"), jt2)
        .groupBy((col("k") % gm).cast("long").as("g"))
        .agg(count(lit(1)).as("n_rows"), count(col("qty")).as("n_q"),
          sum(col("qty")).as("sum_qty"), sum(col("price_c")).as("sum_price_c"),
          count(col("st")).as("n_st"), count(col("pri")).as("n_pri"))
    }
  }

  /** The full generated suite: `perTemplate` cases of each of the 7
    * templates, pure in (seed, index). */
  def cases(seed: Long, perTemplate: Int): Seq[FCase] = {
    val rnd = new scala.util.Random(seed)
    val t1 = (0 until perTemplate).map { i =>
      T1(f"fz1_filter_$i%03d", Cmps(rnd.nextInt(6)), 1L + rnd.nextInt(50),
        Cmps(rnd.nextInt(6)), 10000L + rnd.nextInt(9000000), rnd.nextBoolean())
    }
    val t2 = (0 until perTemplate).map { i =>
      val key = Vector("l_returnflag", "l_linestatus", "qty")(rnd.nextInt(3))
      T2(f"fz2_agg_$i%03d", key,
        if (rnd.nextBoolean()) Some(2L + rnd.nextInt(100)) else None)
    }
    val t3 = (0 until perTemplate).map { i =>
      T3(f"fz3_window_$i%03d",
        Vector("l_returnflag", "l_linestatus")(rnd.nextInt(2)),
        rnd.nextInt(3), rnd.nextBoolean(), 1L + rnd.nextInt(5))
    }
    val t4 = (0 until perTemplate).map { i =>
      T4(f"fz4_join_$i%03d",
        Vector("c_nationkey", "c_mktsegment", "o_orderstatus")(rnd.nextInt(3)),
        1000000L + rnd.nextInt(30000000))
    }
    val t5 = (0 until perTemplate).map { i =>
      T5(f"fz5_scalar_$i%03d", rnd.nextInt(4), 1 + rnd.nextInt(5),
        1 + rnd.nextInt(8), rnd.nextInt(3), 2L + rnd.nextInt(7), rnd.nextInt(2))
    }
    val t6 = (0 until perTemplate).map { i =>
      T6(f"fz6_setop_$i%03d", rnd.nextInt(3), Cmps(rnd.nextInt(6)),
        1L + rnd.nextInt(50), Cmps(rnd.nextInt(6)), 10000L + rnd.nextInt(9000000))
    }
    val t7 = (0 until perTemplate).map { i =>
      val key = Vector("l_returnflag", "l_linestatus", "qty")(rnd.nextInt(3))
      T7(f"fz7_nullagg_$i%03d", key, 2L + rnd.nextInt(9), rnd.nextInt(2))
    }
    val t8 = (0 until perTemplate).map { i =>
      T8(f"fz8_join3_$i%03d", 2L + rnd.nextInt(9), rnd.nextInt(2),
        JoinTypes(rnd.nextInt(4)), JoinTypes(rnd.nextInt(4)))
    }
    val t9 = (0 until perTemplate).map { i =>
      T9(f"fz9_using_$i%03d", 1000000L + rnd.nextInt(30000000),
        2L + rnd.nextInt(9), rnd.nextInt(2),
        JoinTypes(rnd.nextInt(4)), JoinTypes(rnd.nextInt(4)), 2L + rnd.nextInt(9))
    }
    t1 ++ t2 ++ t3 ++ t4 ++ t5 ++ t6 ++ t7 ++ t8 ++ t9
  }

  /** Verify-style dump: every case's Spark result to parquet + the
    * oracle_sql.json, for selfcheck.py's DuckDB differential. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val seed = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "7").toLong
    val per = sys.env.getOrElse("SPARK_GRAFT_FUZZ_CASES", "100").toInt
    val spark = graft.Session.create()
    val cs = cases(seed, per)
    graft.Verify.dump(spark, sfDir, outDir, "fuzz",
      cs.map(c => c.name -> (c.df _)), cs.map(c => c.name -> c.sql))
    spark.stop()
  }
}
