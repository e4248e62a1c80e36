package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark main: times every declared query on SPARK_GRAFT_SF_DIR.
  *
  * Output contract (round 4 — the driver's tail capture is ~2,000 chars, so
  * the final line must be COMPACT):
  *  - the LAST line of process output is one small JSON object
  *    {"metric":"total","value":N,"unit":"sec","nqueries":K,"errors":[...],"sf":...}
  *    with NO per-query map (a 78-query map is >2,500 bytes and can never
  *    survive a 2,000-char tail window);
  *  - the full per-query detail — medians, every individual pass time, and
  *    the host load average sampled at each pass — goes to
  *    SPARK_GRAFT_BENCH_OUT (default ./bench_out.json).
  *
  * Round-1 lessons baked in:
  *  - the action is a noop-format write, not count() — count() lets
  *    Catalyst prune unused projections, so projection-only queries timed a
  *    bare row-count scan;
  *  - per-query state reset (clearCache) + tiny UI/status retention configs:
  *    the long-lived one-JVM loop otherwise accumulates SQL-execution UI
  *    state and GC pressure that dominated the r1 tail;
  *  - median of 3 timed runs after 1 warmup (JIT + codegen + parquet
  *    footer caches).
  *
  * Round-4 lesson: the r3 driver run was poisoned by multi-minute host-load
  * bursts. Back-to-back passes per query meant one burst contaminated ALL of
  * a query's passes, so the median defended nothing. The 3 timed passes now
  * run round-robin ACROSS queries (pass 1 of everything, then pass 2, ...):
  * a burst now inflates at most one pass per query and the per-query median
  * discards it. getSystemLoadAverage is recorded per (query, pass) so a
  * contaminated window is diagnosable from the artifact alone.
  *
  * Round-5 lesson: loadavg alone cannot ATTRIBUTE contamination — the r4
  * driver run had passes running 30-100x slow at recorded load 1.0
  * (cfs-throttled tasks leave the runqueue, so loadavg misses them). Each
  * (query, pass) now also records:
  *  - "cpu": process CPU seconds consumed during the pass
  *    (com.sun.management.OperatingSystemMXBean.getProcessCpuTime delta).
  *    cpu << sec on a slow pass certifies "this JVM never got the CPU";
  *    a slow pass with proportionally large cpu says the code really ran.
  *  - "thrN"/"thrUs": cgroup CPU-throttle deltas (nr_throttled and
  *    throttled usec) read from /sys/fs/cgroup/cpu.stat (v2) or
  *    /sys/fs/cgroup/cpu/cpu.stat (v1, throttled_time ns -> us). thrUs > 0
  *    during a slow pass is a direct cfs-throttling certificate.
  * bench_out.json also reports per-query "min" alongside the median: min is
  * the best evidence of what the code CAN do; median stays the robust
  * headline estimate.
  *
  * Canary keys, both forms (see the canary block below):
  *  - MEDIAN-based: stdout "canary" and "vs_base_norm"; bench_out.json
  *    canary."ratio" and canary."normalized_vs_baseline", plus the same
  *    values again as canary."ratio_med"/"normalized_med" (the names r16
  *    artifacts carry them under, so rounds still diff);
  *  - MIN-based: bench_out.json canary."ratio_min"/"normalized_min".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The shared session (graft.Session): the same cores, shuffle width,
    // bounded UI retention, suite-sized codegen caches and ERROR log level
    // that Verify checks under.
    val spark = Session.create()

    val osBean = ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = osBean.getSystemLoadAverage
    // Process CPU time (ns since JVM start); -1 if the platform bean is not
    // a com.sun.management one (never the case on this JDK, but stay safe).
    def procCpuNs: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _                                           => -1L
    }
    // Cgroup CPU-throttle counters: (nr_throttled, throttled_usec).
    // v2 keeps them in <root>/cpu.stat as throttled_usec; v1 in
    // cpu/cpu.stat as throttled_time (nanoseconds). Missing file or key
    // (e.g. no CPU controller) reads as (0, 0) — deltas then stay 0, which
    // honestly reports "no throttle evidence available".
    val throttleStatPath: Option[java.nio.file.Path] =
      Seq("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat")
        .map(Paths.get(_)).find(Files.isReadable)
    def throttleCounters: (Long, Long) = throttleStatPath.map { p =>
      try {
        val kv = Files.readAllLines(p).toArray.map(_.toString.split("\\s+"))
          .collect { case Array(k, v) => k -> v.toLong }.toMap
        val usec = kv.get("throttled_usec")
          .orElse(kv.get("throttled_time").map(_ / 1000L)).getOrElse(0L)
        (kv.getOrElse("nr_throttled", 0L), usec)
      } catch { case _: Throwable => (0L, 0L) }
    }.getOrElse((0L, 0L))

    /** One timed execution: wall seconds + process-CPU seconds + cgroup
      * throttle deltas over the pass window.
      */
    case class Sample(sec: Double, cpuSec: Double, thrN: Long, thrUs: Long)
    def runOnce(name: String): Either[String, Sample] = {
      spark.catalog.clearCache()
      val (thrN0, thrUs0) = throttleCounters
      val cpu0 = procCpuNs
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val cpu1 = procCpuNs
        val (thrN1, thrUs1) = throttleCounters
        Right(Sample(sec,
          if (cpu0 < 0 || cpu1 < 0) -1.0 else (cpu1 - cpu0) / 1e9,
          thrN1 - thrN0, thrUs1 - thrUs0))
      } catch { case e: Throwable => Left(s"$name: ${e.getMessage}") }
    }

    // SPARK_GRAFT_ONLY=q74_ngram_jaccard,q75_chunk_dup limits the run for
    // local iteration; the driver leaves it unset and benches everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    var errors = List.empty[String]
    names.foreach { n => // warmup pass (untimed)
      System.err.println(s"[bench] warmup $n: ${runOnce(n).fold(identity, s => f"${s.sec}%.1fs")}")
    }

    // 3 timed passes, round-robin across queries. passes(p) = query -> (Sample, load).
    val timedPasses = 3
    val passes = (1 to timedPasses).map { p =>
      names.flatMap { name =>
        val load = loadAvg
        runOnce(name) match {
          case Right(s) =>
            System.err.println(
              f"[bench] pass $p $name: ${s.sec}%.2fs (load $load%.1f cpu ${s.cpuSec}%.1fs thrUs ${s.thrUs})")
            Some(name -> (s, load))
          case Left(e) =>
            errors ::= e; None
        }
      }.toMap
    }

    val perQuerySecs = names.map { name =>
      name -> passes.flatMap(_.get(name)).map(_._1.sec).sorted
    }.toMap
    val medians = names.map { name =>
      val runs = perQuerySecs(name)
      name -> (if (runs.isEmpty) -1.0 else runs(runs.size / 2))
    }
    val mins = names.map { name =>
      val runs = perQuerySecs(name)
      name -> (if (runs.isEmpty) -1.0 else runs.head)
    }.toMap

    def fmt(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = medians.map(_._2).filter(_ >= 0).sum

    // Round-7: per-query regression table against a frozen baseline
    // artifact (BENCH_BASELINE_r6.json = the r6 driver run's bench_out).
    // The r6 judge had to reconstruct the r5-era subset by hand to
    // diagnose a 23% drift; this makes the diff mechanical. The baseline
    // is our own flat bench_out format, so a small extractor suffices
    // (no JSON library exists in the dependency set by design).
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE_r6.json")
    val baseline: Map[String, Double] = {
      try {
        val txt = Files.readString(Paths.get(baselinePath))
        val qBlock = """"queries"\s*:\s*\{([^}]*)\}""".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        """"([^"]+)"\s*:\s*(-?[0-9.]+)""".r.findAllMatchIn(qBlock)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    }
    // ratio > 1 = slower than baseline; queries new since the baseline
    // (or absent medians) carry no ratio. The stderr table surfaces the
    // worst offenders; the full map goes to bench_out.json.
    val ratios: Seq[(String, Double, Double, Double)] = medians.collect {
      case (name, med) if med >= 0 && baseline.get(name).exists(_ > 0) =>
        (name, med, baseline(name), med / baseline(name))
    }.sortBy(-_._4)
    if (ratios.nonEmpty) {
      val slower = ratios.count(_._4 > 1.5)
      System.err.println(f"[bench] vs $baselinePath: ${ratios.size} comparable, " +
        f"$slower over 1.5x; worst:")
      ratios.take(8).foreach { case (n, m, b, r) =>
        System.err.println(f"[bench]   $n: ${m}%.2fs vs ${b}%.2fs = ${r}%.2fx")
      }
    }
    // Round-14 CANARY NORMALIZATION: r12 and r13 both had to prove by
    // hand that a uniform bench shift was host noise (untouched
    // plain-parquet queries moving identically to everything else).
    // Make that analysis a printed number: a fixed set of trivial
    // queries whose code has not changed since the r6 baseline acts as
    // a host-speed probe — their ratio vs baseline estimates the
    // machine factor, and the canary-normalized overall ratio is the
    // code-attributable residual. canary≈raw ⇒ host noise; canary≈1
    // with raw high ⇒ a real regression.
    //
    // Round-16 hardening (r15 verdict item 7): the 3-query median-based
    // canary over-corrected under NON-UNIFORM load (the r14 driver run
    // normalized to 0.766 against a quiet-host truth of ~0.97). Two
    // fixes, measurement-only (the stdout contract is unchanged):
    //  - SIX canaries spread across the alphabetical pass order, so a
    //    load burst over one stretch of a round-robin pass cannot move
    //    the whole probe;
    //  - per-query MINIMA on both sides as a second form (min is the
    //    best evidence of what the host allowed; one clean pass of three
    //    defeats two loaded ones), recorded as "ratio_min" /
    //    "normalized_min". The published keys ("canary", "vs_base_norm",
    //    canary."ratio", canary."normalized_vs_baseline") keep their
    //    MEDIAN meaning, so a key means the same thing in every round.
    val canaryNames = Seq("q01_scan_project", "q02_filter_pred", "q17_agg_sum",
      "q69_pseudonymize", "q94_pii_redact", "q174_lateness_audit")
    def canaryOf(vals: Map[String, Double]): Double = {
      val pairs = canaryNames.flatMap(n =>
        for { m <- vals.get(n).filter(_ >= 0)
              b <- baseline.get(n).filter(_ > 0) } yield (m, b))
      if (pairs.isEmpty) -1.0 else pairs.map(_._1).sum / pairs.map(_._2).sum
    }
    val canaryMinRatio: Double = canaryOf(mins)
    val canaryMedRatio: Double = canaryOf(medians.toMap)
    val rawVsBaseline: Double =
      if (ratios.isEmpty) -1.0
      else ratios.map(_._2).sum / ratios.map(_._3).sum
    // min-based suite ratio over the same comparable set, so the
    // normalized headline divides like by like (min/min)
    val minVsBaseline: Double = {
      val pairs = ratios.flatMap { case (n, _, b, _) =>
        mins.get(n).filter(_ >= 0).map(m => (m, b))
      }
      if (pairs.isEmpty) -1.0 else pairs.map(_._1).sum / pairs.map(_._2).sum
    }
    val normalizedMinVsBaseline: Double =
      if (canaryMinRatio > 0 && minVsBaseline > 0) minVsBaseline / canaryMinRatio
      else -1.0
    val normalizedMedVsBaseline: Double =
      if (canaryMedRatio > 0 && rawVsBaseline > 0) rawVsBaseline / canaryMedRatio
      else -1.0
    if (canaryMedRatio > 0)
      System.err.println(f"[bench] canary ratio ${canaryMedRatio}%.3fx median-based " +
        f"(min-based ${canaryMinRatio}%.3fx), raw vs baseline " +
        f"${rawVsBaseline}%.3fx med / ${minVsBaseline}%.3fx min, " +
        f"canary-normalized ${normalizedMedVsBaseline}%.3fx " +
        f"(min form ${normalizedMinVsBaseline}%.3fx)")

    // cut BEFORE escaping, so a cut can never split an escape sequence
    val errJson = errors.distinct.take(8)
      .map(e => Verify.jsonString(e.takeWhile(_ >= ' ').take(160)))
      .mkString("[", ",", "]")

    // Full artifact: per-query median + min, every pass's wall/cpu/load/
    // throttle sample. A slow pass with cpu << sec or thrUs > 0 is
    // CPU-starvation, attributable from this artifact alone.
    val qJson = medians.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val minJson = names.map(n => "\"" + n + "\":" + fmt(mins(n))).mkString("{", ",", "}")
    val passJson = passes.zipWithIndex.map { case (m, i) =>
      val entries = names.flatMap(n => m.get(n).map { case (s, l) =>
        "\"" + n + "\":{\"sec\":" + fmt(s.sec) + ",\"load\":" + fmt(l) +
          ",\"cpu\":" + fmt(s.cpuSec) + ",\"thrN\":" + s.thrN + ",\"thrUs\":" + s.thrUs + "}"
      }).mkString("{", ",", "}")
      s"""{"pass":${i + 1},"entries":$entries}"""
    }.mkString("[", ",", "]")
    val totalMin = mins.values.filter(_ >= 0).sum
    val vsBaselineJson = ratios.map { case (n, m, b, r) =>
      "\"" + n + "\":{\"sec\":" + fmt(m) + ",\"base\":" + fmt(b) + ",\"ratio\":" + fmt(r) + "}"
    }.mkString("{", ",", "}")
    val canaryJson =
      s"""{"queries":[${canaryNames.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""ratio":${fmt(canaryMedRatio)},"ratio_med":${fmt(canaryMedRatio)},""" +
        s""""ratio_min":${fmt(canaryMinRatio)},""" +
        s""""raw_vs_baseline":${fmt(rawVsBaseline)},"min_vs_baseline":${fmt(minVsBaseline)},""" +
        s""""normalized_vs_baseline":${fmt(normalizedMedVsBaseline)},""" +
        s""""normalized_med":${fmt(normalizedMedVsBaseline)},""" +
        s""""normalized_min":${fmt(normalizedMinVsBaseline)}}"""
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_min":${fmt(totalMin)},"queries":$qJson,"mins":$minJson,"baseline":"$baselinePath","vs_baseline":$vsBaselineJson,"canary":$canaryJson,"passes":$passJson,"errors":$errJson,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.writeString(Paths.get(outPath), fullJson + "\n")
    catch { case _: Throwable => () }
    // r16 (verdict item 8): point tail readers at the per-query artifact —
    // the full map can never fit the ~2,000-char tail window, but its
    // PATH can. stderr only; the stdout contract stays one line.
    System.err.println(s"[bench] json-detail $outPath")

    // Compact final line — MUST stay well under 2,000 chars so it survives
    // the driver's tail capture; per-query detail lives in bench_out.json.
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_min":${fmt(totalMin)},"nqueries":${names.size},"canary":${fmt(canaryMedRatio)},"vs_base":${fmt(rawVsBaseline)},"vs_base_norm":${fmt(normalizedMedVsBaseline)},"errors":$errJson,"sf":"$sfDir"}"""
    // Stop Spark BEFORE the final print so executor/session teardown logging
    // can't land after the metric line: the driver parses the LAST line of
    // output as JSON (build.sbt silences sbt's own epilogue via
    // showSuccess:=false + StdoutOutput). Shutdown hooks after main() log at
    // INFO, which the session's ERROR log level suppresses.
    spark.stop()
    System.err.println(json)
    System.err.flush()
    println(json)
    System.out.flush()
  }
}
