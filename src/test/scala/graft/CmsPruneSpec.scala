package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

import graft.functions.CountMinLongs
import graft.sources.Tables

/** The CMS heavy-hitter prune optimizer rule (graft.plans
  * .CmsHeavyHitterPrune, injected by GraftExtensions.injectOptimizerRule):
  * the rewritten plan must FIRE on the heavy-hitter shape, stay
  * hash-identical to the unrewritten plan (the prune is lossless by CMS
  * one-sidedness), keep null-key groups, and leave ineligible shapes
  * untouched.
  */
class CmsPruneSpec extends SparkTestBase {

  /** The shared extensions-enabled sibling session (see
    * [[ExtensionsSession]] — rules can only be injected at session build). */
  private lazy val xs: SparkSession = ExtensionsSession.get(spark)

  private def withPrune[T](on: Boolean)(body: => T): T = {
    xs.conf.set("spark.graft.cmsPrune.enabled", on.toString)
    try body finally xs.conf.set("spark.graft.cmsPrune.enabled", "false")
  }

  private def pruneFired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case Filter(cond, _) => cond.exists {
        case s: ScalarSubquery => s.plan.expressions.exists(_.exists {
          case ae: AggregateExpression =>
            ae.aggregateFunction.isInstanceOf[CountMinLongs]
          case _ => false
        })
        case _ => false
      }
      case _ => false
    }

  private def heavyUsers(s: SparkSession): DataFrame =
    Tables.events(s, sf0001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 8L)

  test("rule fires on the heavy-hitter shape and results are hash-identical") {
    val expected = withPrune(on = false) {
      val df = heavyUsers(xs)
      assert(!pruneFired(df), "rule fired while disabled")
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(expected.nonEmpty, "test needs at least one heavy hitter")
    val got = withPrune(on = true) {
      val df = heavyUsers(xs)
      assert(pruneFired(df), "prune rule did not rewrite the plan")
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(got == expected, "CMS prune changed the result — it must be lossless")
  }

  test("null-key groups survive the prune") {
    import xs.implicits._
    val rows: Seq[(Option[Long], Int)] =
      Seq(Some(1L) -> 0, Some(1L) -> 0, Some(1L) -> 0, Some(2L) -> 0,
        None -> 0, None -> 0, None -> 0)
    val df = rows.map { case (k, v) => (k.map(Long.box).orNull, v) }
      .toDF("k", "v")
    df.createOrReplaceTempView("nullkeys")
    def q = xs.table("nullkeys").groupBy(col("k"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 3L)
    val off = withPrune(on = false)(q.collect().map(r =>
      (Option(r.get(0)), r.getLong(1))).toSet)
    val on = withPrune(on = true) {
      assert(pruneFired(q), "prune should fire on a nullable long key")
      q.collect().map(r => (Option(r.get(0)), r.getLong(1))).toSet
    }
    assert(on == off)
    assert(on.contains((None, 3L)), "the null-key heavy group must survive")
  }

  test("ineligible shapes are left untouched") {
    withPrune(on = true) {
      val ev = Tables.events(xs, sf0001)
      // count(distinct) is not a row count — no prune
      val distinctAgg = ev.groupBy(col("user_id"))
        .agg(countDistinct(col("event_id")).as("cnt")).filter(col("cnt") >= 8L)
      assert(!pruneFired(distinctAgg), "count(distinct) must not be pruned")
      // threshold 1 prunes nothing — no prune
      val trivial = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 1L)
      assert(!pruneFired(trivial), "threshold < 2 must not inject a sketch pass")
      // non-Long key — no prune (CMS is a BIGINT sketch)
      val strKey = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 8L)
      assert(!pruneFired(strKey), "non-long keys are ineligible")
      // nondeterministic child — no prune (the subquery re-executes it)
      val nondet = ev.withColumn("r", rand(7)).filter(col("r") < 0.5)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2L)
      assert(!pruneFired(nondet), "nondeterministic child must not be re-executed")
    }
  }

  test("the injected prune is genuinely selective on a long-tailed key set") {
    import xs.implicits._
    // 4 heavy keys (100 rows each) + 400 singletons: the prune should cut
    // the exact aggregate's input to near the heavy rows alone
    val data = (0 until 4).flatMap(k => Seq.fill(100)(k.toLong)) ++
      (1000L until 1400L)
    data.toDF("k").createOrReplaceTempView("tail")
    def q = xs.table("tail").groupBy(col("k"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 50L)
    val off = withPrune(on = false)(q.collect().map(_.getLong(0)).sorted.toSeq)
    val (on, kept) = withPrune(on = true) {
      val df = q
      assert(pruneFired(df))
      val res = df.collect().map(_.getLong(0)).sorted.toSeq
      // replay the injected prune predicate standalone to measure selectivity
      val est = graft.functions.CountMin.sketch(col("k"), 4, 256)
      val sk = xs.table("tail").agg(est.as("sk"))
      val keptRows = xs.table("tail").crossJoin(broadcast(sk))
        .filter(graft.functions.CountMin.estimate(col("sk"), col("k"), 4, 256) >= 50L)
        .count()
      (res, keptRows)
    }
    assert(on == off && on == Seq(0L, 1L, 2L, 3L))
    // 400 heavy rows must survive; CMS false positives may add a little,
    // but the prune must remove the bulk of the 400 singleton rows
    assert(kept >= 400L && kept <= 500L,
      s"prune kept $kept of 800 rows — not selective enough to pay for itself")
  }
}
