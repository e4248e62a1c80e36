package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (tests fork one JVM): the
  * [[Session]] factory's session, so suites run under the settings the
  * mains use. */
object TestSpark {
  lazy val session: SparkSession =
    // saveAsTable targets (bucketed-join tests) go to /tmp, not the repo
    Session.create(_.config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  /** Run independent test units concurrently on a bounded pool. The heavy
    * fuzz suites are driver-bound sequences of tiny Spark jobs, so a few
    * threads cut their wall time near-linearly (guide §2.6 — Spark's
    * scheduler happily runs concurrent jobs; actions were only sequential
    * because the loop called them sequentially). Failures propagate with
    * their original exception (unwrapped from ExecutionException) so a
    * failing seed still reports exactly as in the sequential form. The
    * pool always drains before returning — no unit outlives its test, so
    * nothing can race a later suite or JVM shutdown.
    */
  protected def inParallel[A](xs: Seq[A], par: Int = 6)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      val futs = xs.map(x => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = f(x)
      }))
      // await ALL units (collecting the first failure) so no task is still
      // running when the pool shuts down, even when an early unit fails
      val failures = futs.flatMap(fu =>
        try { fu.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) })
      failures.headOption.foreach(throw _)
    } finally { pool.shutdown(); () }
  }
}
