package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
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

  /** The sf0.001 harness tables (TESTDATA.md), in `testdata` under the
    * home directory, where perfbench looks for them by default. */
  protected val sf0001: String = s"${sys.props("user.home")}/testdata/sf0.001"

  /** Spark jobs started from this thread while `body` runs. Listener events
    * are asynchronous but ordered, so a sentinel job started after `body`
    * marks the point by which every job of `body` has been seen. */
  protected def jobsDuring(body: => Unit): Int = probe(body)._1

  /** Bytes the tasks of the jobs `body` starts read from their input
    * (`inputMetrics.bytesRead`, summed), seen the same way. */
  protected def inputBytesDuring(body: => Unit): Long = probe(body)._2

  private def probe(body: => Unit): (Int, Long) = {
    val group = s"jobs-during-${System.nanoTime}"
    val jobs = new AtomicInteger(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytesRead = new AtomicLong(0L)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case Some(g) if g == s"$group-sentinel" => sentinelSeen.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead); ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring probe")
      body
      sc.setJobGroup(s"$group-sentinel", "jobsDuring sentinel")
      spark.range(1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never seen")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (jobs.get(), bytesRead.get())
  }

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
