package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The graft benchmark harness. One JVM runs one workload: set-up (session,
  * inputs, warm-up), closed-loop passes for the measured seconds, then —
  * when traced — the same passes again with the listeners on, then the
  * output check. It prints `CONTEXT`, `DETAIL` and `RESULT` JSON lines;
  * `perfbench/run.py` turns them into the benchmark's output.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --bench-dir DIR --keep-dir DIR --sf DIR --cpus N
  *          --load1 X --launch-ms T --clk-tck HZ --source-id ID
  *        graftbench.Main fingerprint <verifyDir> <name,...> <out.json>
  */
object Main {

  val Workloads: Seq[String] = Seq("etl_stream", "graph_bsp")

  /** The BspLoop queries the driver-floor and loop-posture work targets. */
  val GraphBsp: Seq[String] = Seq("graph_pagerank", "graph_cc", "graph_kcore", "graph_lpa")

  /** Every per-layer metric; a layer a workload never reaches reads 0. */
  val LayerMetrics: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_busy_s", "spark.driver_gap_s",
    "spark.task_s", "spark.task_cpu_s", "spark.gc_s", "spark.task_util",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb",
    "spark.output_mb", "spark.failed_tasks", "plan.executions", "plan.analysis_s",
    "plan.optimization_s", "plan.planning_s", "queries.build_s", "queries.materialize_s",
    "queries.jobs_per_op", "etl.parse_s", "etl.clean_s", "etl.enrich_s", "etl.write_s",
    "etl.extract_passes", "etl.quarantine_ratio", "functions.extract_us_per_ad",
    "streaming.add_batch_p50_s", "streaming.query_planning_s", "streaming.wal_commit_s",
    "streaming.latest_offset_s", "streaming.input_scans", "streaming.batch_growth",
    "streaming.warehouse_files", "streaming.jobs_per_batch", "trace.overhead_s")

  def main(args: Array[String]): Unit = args.toList match {
    case "fingerprint" :: verifyDir :: names :: out :: Nil => fingerprint(verifyDir, names, out)
    case _ => run(flags(args.toList))
  }

  private def flags(a: List[String]): Map[String, String] = a match {
    case k :: v :: t if k.startsWith("--") => flags(t) + (k.drop(2) -> v)
    case Nil => Map.empty
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  private def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fingerprints of oracle-accepted `graft.Verify` outputs. */
  private def fingerprint(verifyDir: String, names: String, out: String): Unit = {
    val work = Files.createTempDirectory("graftbench-fp")
    val spark = session(Runtime.getRuntime.availableProcessors(), work)
    val fps = names.split(",").toSeq.sorted.map { n =>
      val fp = Fingerprint.of(spark.read.parquet(s"$verifyDir/$n"))
      s"""  "$n": {"rows": ${fp.rows}, "hash": "${fp.hash}"}"""
    }
    Files.writeString(Paths.get(out), fps.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }

  /** CPU seconds the hypervisor gave to other guests, all cpus: the steal
    * field of /proc/stat, in clock ticks of `hz` per second. */
  private def stealS(hz: Double): Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / hz else 0.0
  }

  /** Heap and non-heap (metaspace, code cache) in use after a full
    * collection: the memory the run holds live, not the heap size. */
  private def liveMb(): Double = {
    // the second and third collections free what Spark's ContextCleaner
    // released after seeing the first: broadcast and checkpoint blocks of
    // datasets no longer referenced
    (1 to 3).foreach { i => if (i > 1) Thread.sleep(500); System.gc() }
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def run(f: Map[String, String]): Unit = {
    val workload = f("workload")
    require(Workloads.contains(workload),
      s"unknown workload '$workload'; known: ${Workloads.mkString(", ")}")
    val seed = f("seed").toLong
    val seconds = f("seconds").toDouble
    val traced = f("trace") == "1"
    val cpus = f("cpus").toInt
    val work = Paths.get(f("work"))
    val launchMs = f("launch-ms").toLong
    val load1 = f("load1").toDouble
    val hz = f("clk-tck").toDouble
    val steal0 = stealS(hz)

    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val context = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "load1_prelaunch" -> load1, "contended" -> (load1 > 1.5), "cpus" -> cpus,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version, "jvm_version" -> System.getProperty("java.version"),
      "git_commit" -> f("source-id"),
      "sf_dir" -> (if (workload.startsWith("etl")) "" else f("sf")))
    println("CONTEXT " + Json.obj(context))

    val tracer = new Tracer(spark)
    val keep = Paths.get(f("keep-dir"))
    Files.createDirectories(keep)
    val c = new Ctx(spark, tracer, seed, work, f("sf"), Paths.get(f("bench-dir")),
      keep.resolve(s"$workload-seed$seed"))
    val batches = new BatchListener
    val wl: Workload = workload match {
      case "etl_stream" =>
        spark.streams.addListener(batches)
        new EtlStreamWl(c, files = 12, adsPerFile = 100, filesPerTrigger = 2, batches)
      case "graph_bsp" => new QueryWl(c, GraphBsp)
    }

    wl.setup()
    val setupEndMs = System.currentTimeMillis()

    var passNo = 0
    val passSteal = mutable.ArrayBuffer[Double]()
    val passLive = mutable.ArrayBuffer[Double]()
    def measure(): Seq[(Double, Seq[Op])] = {
      val out = mutable.ArrayBuffer[(Double, Seq[Op])]()
      // whole passes until the measured seconds are used up, at least one;
      // the live-memory reading and the output check are not timed
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do {
        val s0 = stealS(hz)
        val p0 = System.nanoTime()
        val ops = tracer.span("pass", s"pass-$passNo")(wl.pass(passNo))
        val wall = (System.nanoTime() - p0) / 1e9
        passSteal += stealS(hz) - s0
        passLive += liveMb()
        out += ((wall, wl.settle(passNo, ops)))
        passNo += 1
      } while (System.nanoTime() < deadline)
      out.toSeq
    }

    val untraced = measure()
    val walls = untraced.map(_._1)
    val ops = untraced.flatMap(_._2)
    val lat = ops.map(_.seconds)
    val failed = ops.filter(_.error.isDefined)
    val wall = Stats.median(walls)
    val p90 = Stats.quantile(lat, 0.9)
    val e2e = mutable.LinkedHashMap[String, Double](
      "wall_s" -> wall,
      "op_p50_s" -> Stats.median(lat),
      "fail_ratio" -> failed.size.toDouble / ops.size)
    if (lat.count(_ > p90) >= 10) e2e("op_p90_s") = p90
    if (wl.rowsPerPass > 0) e2e("rows_per_s") = wl.rowsPerPass / wall

    val layer = mutable.LinkedHashMap[String, Double]()
    var selfTimes = Map.empty[String, Double]
    var probeFailure = Option.empty[String]
    if (traced) {
      val st = new SparkTrace(spark)
      st.register()
      tracer.on = true
      val t0 = tracer.now()
      val tracedRuns = tracer.span("workload", workload)(measure())
      st.drain()
      val t1 = tracer.now()
      // only what the timed passes did: the checks between passes run
      // outside any pass span
      val spans = tracer.spans.asScala.toSeq.filter(s => s.start >= t0 && s.end <= t1)
      val passSpans = spans.filter(_.kind == "pass")
      val inPass = Tracer.within(spans, "pass")
      val jobs = st.jobsSnapshot().filter(j => inPass(j.span))
      // phase start times are whole milliseconds
      val plans = st.plans.asScala.toSeq.filter(p =>
        passSpans.exists(s => p.start >= s.start - 1000000L && p.start <= s.end))
      val stages = jobs.map(_.stages).sum
      val n = tracedRuns.size.toDouble
      val tot = jobs.map(_.totals).foldLeft(TaskTotals())(_ + _)
      val busy = Tracer.union(jobs.map(j => (j.start, j.end))) / 1e9
      val passWall = tracedRuns.map(_._1).sum
      layer ++= Seq(
        "spark.jobs" -> jobs.size / n, "spark.stages" -> stages / n,
        "spark.tasks" -> tot.tasks / n, "spark.job_busy_s" -> busy / n,
        "spark.driver_gap_s" -> (passWall - busy) / n,
        "spark.task_s" -> tot.taskMs / 1e3 / n, "spark.task_cpu_s" -> tot.cpuNs / 1e9 / n,
        "spark.gc_s" -> tot.gcMs / 1e3 / n,
        "spark.task_util" -> (if (busy > 0) tot.taskMs / 1e3 / (cpus * busy) else 0.0),
        "spark.shuffle_write_mb" -> tot.shuffleWrite / 1e6 / n,
        "spark.shuffle_read_mb" -> tot.shuffleRead / 1e6 / n,
        "spark.spill_mb" -> tot.spill / 1e6 / n, "spark.input_mb" -> tot.input / 1e6 / n,
        "spark.output_mb" -> tot.output / 1e6 / n, "spark.failed_tasks" -> tot.failed / n,
        "plan.executions" -> plans.size / n,
        "plan.analysis_s" -> plans.map(_.analysisMs).sum / 1e3 / n,
        "plan.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3 / n,
        "plan.planning_s" -> plans.map(_.planningMs).sum / 1e3 / n,
        "trace.overhead_s" -> (Stats.median(tracedRuns.map(_._1)) - wall))
      layer ++= wl.layer(spans, jobs, tracedRuns.size)
      try layer ++= wl.probes(st)
      catch { case NonFatal(e) => probeFailure = Some(s"layer probes threw ${Ctx.describe(e)}") }
      st.unregister()
      tracer.on = false
      val jobSpans = st.jobsSnapshot().map(j =>
        Span(tracer.newId(), j.span, "job", s"job-${j.jobId}", j.start, j.end))
      val all = tracer.spans.asScala.toSeq ++ jobSpans
      selfTimes = Tracer.selfTimeByKind(all)
      Files.writeString(Paths.get(s"${c.keepPrefix}.trace.json"),
        s"""{"context":${Json.obj(context)},"spans":${Tracer.toJson(all)}}""" + "\n")
    }

    val mismatches = probeFailure.toSeq ++ c.phase("check_s") {
      try wl.check()
      catch { case NonFatal(e) => Seq(s"check threw ${Ctx.describe(e)}") }
    }
    e2e("setup_s") = (setupEndMs - launchMs) / 1e3 + c.phases("check_s")
    e2e("peak_rss_mb") = peakRssMb()
    e2e("peak_live_mb") = passLive.take(walls.size).max
    val metrics = e2e ++ LayerMetrics.map(k => k -> layer.getOrElse(k, 0.0))

    mismatches.foreach(m => System.err.println(s"CHECK FAILED: $m"))
    failed.take(20).foreach(o => System.err.println(s"OP FAILED: ${o.name}: ${o.error.get}"))
    println("DETAIL " + Json.obj(Seq(
      "passes" -> walls.size, "pass_wall_s" -> walls,
      "cpu_steal_s" -> (stealS(hz) - steal0),
      "pass_cpu_steal_s" -> passSteal.take(walls.size).toSeq,
      "pass_live_mb" -> passLive.take(walls.size).toSeq, "ops" -> ops.size,
      "op_s" -> lat, "rows_per_pass" -> wl.rowsPerPass,
      "setup_phases_s" -> (Map("session_s" -> sessionS) ++ c.phases),
      "failures" -> failed.take(20).map(o => Map("op" -> o.name, "error" -> o.error.get)),
      "check_mismatches" -> mismatches.take(20), "self_s" -> selfTimes)))
    println("RESULT " + Json.obj(Seq(
      "correct" -> (mismatches.isEmpty && failed.isEmpty),
      "attempted" -> ops.size, "failed" -> failed.size,
      "metrics" -> metrics.toMap)))
    spark.stop()
  }
}
