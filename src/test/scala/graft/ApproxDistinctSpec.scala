package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._

import graft.functions.TopKLongs
import graft.sources.Tables

/** The KMV approximate-distinct optimizer rule (graft.plans
  * .ApproxDistinctRewrite): answer-changing, so strictly opt-in; when it
  * fires, the rewritten `count(distinct)` must equal the q58 KMV
  * construction EXACTLY (same md5-prefix hashes, same (k-1)·2^48/h_k
  * floor) and land within sketch tolerance of the exact count.
  */
class ApproxDistinctSpec extends SparkTestBase {

  private lazy val xs = ExtensionsSession.get(spark)

  private def withApprox[T](on: Boolean)(body: => T): T = {
    xs.conf.set("spark.graft.approxDistinct.enabled", on.toString)
    try body finally xs.conf.set("spark.graft.approxDistinct.enabled", "false")
  }

  private def kmvFired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[TopKLongs]
      case _ => false
    }))

  private def q(s: org.apache.spark.sql.SparkSession): DataFrame =
    Tables.events(s, sf0001)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("du"))

  test("off by default; on, the rewrite fires and tracks the exact count") {
    val exact = withApprox(on = false) {
      val df = q(xs)
      assert(!kmvFired(df), "approx rewrite fired without opt-in")
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val approx = withApprox(on = true) {
      val df = q(xs)
      assert(kmvFired(df), "approx rewrite did not fire under the conf")
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      // k=64 KMV: exact below 64, ~1/sqrt(63) sigma above — 3 sigma gate
      val tol = if (ex < 64) 0L else math.max(4L, (ex * 0.38).toLong)
      assert(math.abs(ap - ex) <= tol,
        s"group $k: approx $ap vs exact $ex exceeds sketch tolerance")
    }
  }

  test("the rewritten estimate equals the q58 KMV construction bit-for-bit") {
    val viaRule = withApprox(on = true) {
      Tables.events(xs, sf0001)
        .agg(countDistinct(col("user_id")).as("du")).head().getLong(0)
    }
    // q58's Column-API construction, evaluated independently
    val h = Tables.events(spark, sf0001)
      .select(conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long").as("hv")).distinct()
    val manual = h.agg(TopKLongs.topK(-col("hv"), col("hv"), 64).as("tk"))
      .select(size(col("tk")).cast("long").as("n_seen"),
        element_at(col("tk"), size(col("tk"))).getField("id").as("kth"))
      .select(when(col("n_seen") < 64, col("n_seen"))
        .otherwise(expr("(63 * 281474976710656) div greatest(kth, 1L)"))
        .cast("long").as("est")).head().getLong(0)
    assert(viaRule == manual,
      "optimizer-rewritten estimate diverged from the declared q58 construction")
  }

  test("mixed aggregates: non-distinct siblings pass through unchanged") {
    withApprox(on = true) {
      val df = Tables.events(xs, sf0001)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("du"))
      assert(kmvFired(df))
      val exactN = Tables.events(spark, sf0001)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      df.collect().foreach { r =>
        assert(r.getLong(1) == exactN(r.getString(0)),
          "plain count corrupted by the sibling rewrite")
      }
    }
  }
}

/** One extensions-enabled sibling session per test JVM (optimizer rules
  * can only be injected at session build), sharing the SparkContext;
  * the plain base session is restored as default/active so the other
  * suites are unaffected. Used by CmsPruneSpec and ApproxDistinctSpec. */
object ExtensionsSession {
  @volatile private var cached: org.apache.spark.sql.SparkSession = _
  def get(base: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    synchronized {
      if (cached != null) cached
      else {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        org.apache.spark.sql.SparkSession.clearDefaultSession()
        val s = Session.create(_.withExtensions(new GraftExtensions))
        org.apache.spark.sql.SparkSession.setDefaultSession(base)
        org.apache.spark.sql.SparkSession.setActiveSession(base)
        cached = s
        s
      }
    }
}
