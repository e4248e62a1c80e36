package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.tools.Fuzz
import graft.tools.Fuzz._

/** Differential fuzzing, JVM side: 9 templates × 100 generated cases
  * (seed 7), every Spark result compared against an INDEPENDENT plain
  * Scala-collections evaluation of the same case config. The DuckDB side
  * of the same 900 cases runs through tools/fuzz_replay.sh (DuckDB exists
  * only driver-side). Catches Spark-API misuse, integer-division edges,
  * window tie semantics, multi-way outer-join/USING null-key semantics
  * (T8/T9, round 9), and string/date off-by-ones against a reference
  * that shares no code with the Spark builders.
  */
class FuzzSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private case class Li(ok: Long, ln: Long, qty: Long, pc: Long,
                        rf: String, ls: String)
  private lazy val lis: Seq[Li] =
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber").cast("long"),
        col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_returnflag"), col("l_linestatus"))
      .collect().map(r => Li(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq

  private case class Ord(ok: Long, ck: Long, status: String, pc: Long,
                         date: java.time.LocalDate, prio: String)
  private lazy val ords: Seq[Ord] =
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"),
        col("o_orderdate").cast("date"), col("o_orderpriority"))
      .collect().map(r => Ord(r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDate(4).toLocalDate, r.getString(5))).toSeq

  private lazy val custs: Map[Long, (Long, String)] =
    Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey").cast("long"), col("c_mktsegment"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  private lazy val nations: Seq[(Long, String)] =
    Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  /** Reference equi-join over plain collections: hash-matched pairs plus
    * the unmatched flanks the join type keeps. Null (None) keys match
    * nothing — on EITHER side — which is exactly the semantics T8
    * injects NULL keys to probe. Shares no code with the Spark side. */
  private def equiJoin[A, B](left: Seq[A], lk: A => Option[Long],
                             right: Seq[B], rk: B => Option[Long],
                             jt: String): Seq[(Option[A], Option[B])] = {
    val rm = right.groupBy(rk)
    val lKeys = left.flatMap(lk).toSet
    val matched = left.flatMap(a =>
      lk(a).map(k => rm.getOrElse(Some(k), Nil).map(b => (Some(a), Some(b))))
        .getOrElse(Nil))
    val lUn = left.filter(a => lk(a).forall(k => rm.getOrElse(Some(k), Nil).isEmpty))
      .map(a => (Some(a), None))
    val rUn = right.filter(b => rk(b).forall(k => !lKeys.contains(k)))
      .map(b => (None, Some(b)))
    jt match {
      case "inner" => matched
      case "left"  => matched ++ lUn
      case "right" => matched ++ rUn
      case "full"  => matched ++ lUn ++ rUn
    }
  }

  private def cmp(a: Long, op: String, b: Long): Boolean = op match {
    case "<" => a < b; case "<=" => a <= b; case "=" => a == b
    case ">=" => a >= b; case ">" => a > b; case "<>" => a != b
  }

  private def sparkRows(c: FCase): Seq[Seq[Any]] =
    c.df(spark, sf).collect().map(_.toSeq).toSeq

  private def canon(rows: Seq[Seq[Any]]): Seq[String] =
    rows.map(_.map(String.valueOf).mkString("")).sorted

  private def check(c: FCase, expected: Seq[Seq[Any]]): Unit =
    assert(canon(sparkRows(c)) == canon(expected),
      s"${c.name} diverged from the JVM reference evaluation")

  private val all = Fuzz.cases(seed = 7, perTemplate = 100)

  test("T1 filter-project: 100 cases match the JVM reference") {
    val t1s = all.collect { case c: T1 => c }
    assert(t1s.size == 100)
    inParallel(t1s) { c =>
      val exp = lis.filter { l =>
        val p1 = cmp(l.qty, c.cmpQ, c.qc); val p2 = cmp(l.pc, c.cmpP, c.pc)
        if (c.isAnd) p1 && p2 else p1 || p2
      }.map(l => Seq[Any](l.ok, l.ln, l.qty, l.pc))
      check(c, exp)
    }
  }

  test("T2 aggregate + having: 100 cases match the JVM reference") {
    val t2s = all.collect { case c: T2 => c }
    assert(t2s.size == 100)
    inParallel(t2s) { c =>
      def key(l: Li): Any = c.key match {
        case "l_returnflag" => l.rf; case "l_linestatus" => l.ls; case "qty" => l.qty
      }
      val exp = lis.groupBy(key).collect {
        case (k, g) if c.having.forall(g.size >= _) =>
          val prices = g.map(_.pc)
          Seq[Any](k, g.size.toLong, g.map(_.qty).sum, prices.sum,
            prices.min, prices.max, prices.sum / g.size)
      }.toSeq
      check(c, exp)
    }
  }

  test("T3 window ranks: 100 cases match the JVM reference") {
    val t3s = all.collect { case c: T3 => c }
    assert(t3s.size == 100)
    inParallel(t3s) { c =>
      def part(l: Li): String = if (c.part == "l_returnflag") l.rf else l.ls
      val exp = lis.groupBy(part).toSeq.flatMap { case (p, g) =>
        c.mode match {
          case 0 =>
            val key = (l: Li) => (if (c.desc) -l.pc else l.pc, l.ok, l.ln)
            g.sortBy(key).zipWithIndex.collect {
              case (l, i) if i + 1 <= c.k => Seq[Any](p, l.ok, l.ln, (i + 1).toLong)
            }
          case m =>
            def better(a: Long, b: Long) = if (c.desc) a > b else a < b
            val qs = g.map(_.qty)
            g.flatMap { l =>
              val rnk =
                if (m == 1) 1L + qs.count(better(_, l.qty))
                else 1L + qs.distinct.count(better(_, l.qty))
              if (rnk <= c.k) Some(Seq[Any](p, l.ok, l.ln, rnk)) else None
            }
        }
      }
      check(c, exp)
    }
  }

  test("T4 join-aggregate: 100 cases match the JVM reference") {
    val t4s = all.collect { case c: T4 => c }
    assert(t4s.size == 100)
    inParallel(t4s) { c =>
      val joined = ords.filter(_.pc >= c.pc)
        .flatMap(o => custs.get(o.ck).map(cu => (o, cu)))
      def key(o: Ord, cu: (Long, String)): Any = c.key match {
        case "c_nationkey" => cu._1
        case "c_mktsegment" => cu._2
        case "o_orderstatus" => o.status
      }
      val exp = joined.groupBy { case (o, cu) => key(o, cu) }.map {
        case (k, g) => Seq[Any](k, g.size.toLong, g.map(_._1.pc).sum)
      }.toSeq
      check(c, exp)
    }
  }

  test("T6 set operations: 100 cases match the JVM reference") {
    val t6s = all.collect { case c: T6 => c }
    assert(t6s.size == 100)
    inParallel(t6s) { c =>
      val a = lis.filter(l => cmp(l.qty, c.cmpA, c.ca)).map(l => (l.rf, l.qty))
      val b = lis.filter(l => cmp(l.pc, c.cmpB, c.cb)).map(l => (l.rf, l.qty))
      val exp = (c.op match {
        case 0 => a ++ b                                   // bag union
        case 1 => (a.toSet intersect b.toSet).toSeq        // distinct
        case 2 => (a.toSet diff b.toSet).toSeq
      }).map { case (f, q) => Seq[Any](f, q) }
      check(c, exp)
    }
  }

  test("T7 null-skipping aggregates: 100 cases match the JVM reference") {
    val t7s = all.collect { case c: T7 => c }
    assert(t7s.size == 100)
    inParallel(t7s) { c =>
      def key(l: Li): Any = c.key match {
        case "l_returnflag" => l.rf; case "l_linestatus" => l.ls; case "qty" => l.qty
      }
      val exp = lis.groupBy(key).map { case (k, g) =>
        val vals = g.collect { case l if l.qty % c.mod != c.res => l.pc }
        def opt(v: => Long): Any = if (vals.isEmpty) null else Long.box(v)
        Seq[Any](k, g.size.toLong, vals.size.toLong, opt(vals.sum),
          opt(vals.min), opt(vals.max), opt(vals.sum / vals.size))
      }.toSeq
      check(c, exp)
    }
  }

  test("T8 three-way outer chain with null keys: 100 cases match the JVM reference") {
    val t8s = all.collect { case c: T8 => c }
    assert(t8s.size == 100)
    val custSeq = custs.toSeq.map { case (ck, (nk, _)) => (ck, nk) }
    inParallel(t8s) { c =>
      val oRows = ords.map(o =>
        (o.ok, if (o.ok % c.mod == c.res) None else Some(o.ck), o.pc))
      val j1 = equiJoin(oRows, (r: (Long, Option[Long], Long)) => r._2,
        custSeq, (x: (Long, Long)) => Some(x._1), c.jt1)
      val j2 = equiJoin(j1,
        (p: (Option[(Long, Option[Long], Long)], Option[(Long, Long)])) => p._2.map(_._2),
        nations, (n: (Long, String)) => Some(n._1), c.jt2)
      val exp = j2.groupBy(p => p._1.flatMap(_._2).map(_._2).getOrElse(-1L)).map {
        case (k, g) =>
          val prices = g.flatMap(_._1.flatMap(_._1).map(_._3))
          Seq[Any](k, g.size.toLong,
            g.count(_._1.exists(_._1.isDefined)).toLong,
            g.count(_._1.exists(_._2.isDefined)).toLong,
            g.count(_._2.isDefined).toLong,
            if (prices.isEmpty) null else Long.box(prices.sum))
      }.toSeq
      check(c, exp)
    }
  }

  test("T9 multi-way USING with multiplicity: 100 cases match the JVM reference") {
    val t9s = all.collect { case c: T9 => c }
    assert(t9s.size == 100)
    inParallel(t9s) { c =>
      val a = lis.map(l => (l.ok, l.qty, l.pc))
      val b = ords.filter(_.pc >= c.pcMin).map(o => (o.ok, o.status))
      val cc = ords.filter(o => o.ok % c.mod2 == c.res2).map(o => (o.ok, o.prio))
      type AB = (Option[(Long, Long, Long)], Option[(Long, String)])
      // USING semantics: the join key coalesces across outer hops
      def k1(p: AB): Option[Long] = p._1.map(_._1).orElse(p._2.map(_._1))
      val j1 = equiJoin(a, (x: (Long, Long, Long)) => Some(x._1),
        b, (x: (Long, String)) => Some(x._1), c.jt1)
      val j2 = equiJoin(j1, k1, cc, (x: (Long, String)) => Some(x._1), c.jt2)
      val exp = j2.groupBy { p =>
        p._1.flatMap(k1).orElse(p._2.map(_._1)).get % c.gm
      }.map { case (g, rows) =>
        val qs = rows.flatMap(_._1.flatMap(_._1).map(_._2))
        val ps = rows.flatMap(_._1.flatMap(_._1).map(_._3))
        Seq[Any](g, rows.size.toLong, qs.size.toLong,
          if (qs.isEmpty) null else Long.box(qs.sum),
          if (ps.isEmpty) null else Long.box(ps.sum),
          rows.count(_._1.exists(_._2.isDefined)).toLong,
          rows.count(_._2.isDefined).toLong)
      }.toSeq
      check(c, exp)
    }
  }

  test("T5 scalar string/date: 100 cases match the JVM reference") {
    val t5s = all.collect { case c: T5 => c }
    assert(t5s.size == 100)
    inParallel(t5s) { c =>
      val exp = ords.filter(o => o.ok % c.modulus == c.residue).map { o =>
        val s = c.fnId match {
          case 0 => o.prio.toUpperCase
          case 1 => o.prio.toLowerCase
          case 2 => o.prio.drop(c.pos - 1).take(c.len)
          case 3 => o.status + "-" + o.prio
        }
        val dp = c.datePart match {
          case 0 => o.date.getYear.toLong
          case 1 => o.date.getMonthValue.toLong
          case 2 => o.date.getDayOfMonth.toLong
        }
        Seq[Any](o.ok, s, dp, o.date.toEpochDay, o.prio.length.toLong)
      }
      check(c, exp)
    }
  }
}
