package graftbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.Pipeline
import graft.functions.HtmlUtil

/** One op as the closed loop saw it: latency and, if it threw or failed its
  * output check, the exception class and message. */
final case class Op(name: String, seconds: Double, error: Option[String])

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What every workload shares: the session, the tracer and the run's
  * directories. `work` is removed after the run; files named from
  * `keepPrefix` (generator truth, trace) stay for inspection. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: Path, val sfDir: String, val benchDir: Path, val keepPrefix: Path) {

  /** Seconds per set-up phase, echoed in the run's detail line. */
  val phases = scala.collection.mutable.LinkedHashMap[String, Double]()

  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  def op(name: String)(f: => Unit): Op = {
    val t0 = System.nanoTime()
    val err =
      try { tracer.span("op", name)(f); None }
      catch { case NonFatal(e) => Some(Ctx.describe(e)) }
    Op(name, (System.nanoTime() - t0) / 1e9, err)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
}

object Ctx {
  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"
}

/** One workload of the closed loop: set-up, passes of ops, the output
  * check, and the layer metrics it measures beside the listener totals. */
trait Workload {
  def setup(): Unit
  /** One pass over the workload's ops: only this part is timed and traced. */
  def pass(p: Int): Seq[Op]
  /** After the timed pass: reads the pass's outputs back and returns its
    * ops, each failed if the check found a mismatch. */
  def settle(p: Int, ops: Seq[Op]): Seq[Op] = ops
  /** Generated envelopes one pass processes (ETL workloads). */
  def rowsPerPass: Long = 0L
  /** Final output check: every mismatch found. */
  def check(): Seq[String]
  /** Extra traced-only probes, run after the traced passes. */
  def probes(trace: SparkTrace): Map[String, Double] = Map.empty
  /** Layer metrics from the traced passes' spans and listener records. */
  def layer(spans: Seq[Span], jobs: Seq[JobRec], passes: Int): Map[String, Double] = Map.empty
}

object EtlCheck {
  private val Counts = """etl: warehouse=(\d+) quarantine=(\d+)""".r.unanchored

  /** The counts the `etl` CLI prints, against the truth. */
  def cliCounts(out: String, t: Truth): (Long, Long) = out match {
    case Counts(w, q) =>
      if (w.toLong != t.warehouse || q.toLong != t.quarantine)
        throw new CheckFailed(s"etl printed warehouse=$w quarantine=$q, " +
          s"truth is warehouse=${t.warehouse} quarantine=${t.quarantine}")
      (w.toLong, q.toLong)
    case _ => throw new CheckFailed(s"etl printed no counts: ${out.take(200)}")
  }

  /** Warehouse and quarantine against the truth: counts, no `uniq_id`
    * landed twice, and a seeded sample of extracted fields. */
  def outputs(spark: SparkSession, warehouse: Path, quarantine: Path, t: Truth,
              seed: Long, sample: Int = 64): Seq[String] = {
    val wh = spark.read.parquet(warehouse.toString)
    val q = spark.read.parquet(quarantine.toString)
    val n = wh.count()
    val distinct = wh.select("uniq_id").distinct().count()
    val nq = q.count()
    val bad = Seq.newBuilder[String]
    if (n != t.warehouse) bad += s"warehouse has $n rows, truth ${t.warehouse}"
    if (distinct != n) bad += s"warehouse has ${n - distinct} uniq_ids landed more than once"
    if (nq != t.quarantine) bad += s"quarantine has $nq rows, truth ${t.quarantine}"
    val landed = t.ads.values.filter(_.landed).toIndexedSeq.sortBy(_.uniqId)
    val rnd = new scala.util.Random(seed)
    val picks = Seq.fill(math.min(sample, landed.size))(landed(rnd.nextInt(landed.size)))
      .map(a => a.uniqId -> a).toMap
    val got = wh.filter(col("uniq_id").isin(picks.keys.toSeq: _*))
      .select(col("uniq_id"), col("phone"), col("poster_age"), col("post_title"),
        date_format(col("post_date"), "yyyy-MM-dd HH:mm:ss").as("post_date"), col("site_id"))
      .collect()
    if (got.length != picks.size) bad += s"sampled ${picks.size} landed ads, found ${got.length}"
    got.foreach { r =>
      val a = picks(r.getString(0))
      val fields = Seq("phone" -> a.phone, "poster_age" -> a.age, "post_title" -> a.title,
        "post_date" -> a.postDate, "site_id" -> a.siteId)
      fields.zipWithIndex.foreach { case ((f, want), i) =>
        val have = r.getString(i + 1)
        if (have != want) bad += s"${a.uniqId} $f: '$have', truth '$want'"
      }
    }
    bad.result()
  }

  /** Median microseconds per page for a single-thread loop over the public
    * HTML extractors `cleanData` calls. */
  def extractUsPerAd(pages: IndexedSeq[UTF8String]): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      pages.foreach { h =>
        HtmlUtil.tagText(h, "div", "class", "adInfo")
        HtmlUtil.tagText(h, "div", "id", "postingTitle")
        HtmlUtil.tagText(h, "div", "class", "postingBody")
        HtmlUtil.tagText(h, "p", "class", "metaInfoDisplay")
        HtmlUtil.byTextText(h, "div", "Location:")
        HtmlUtil.otherAdsHrefs(h)
      }
      (System.nanoTime() - t0) / 1e3 / pages.size
    }
    once()
    Stats.median((0 until 5).map(_ => once()))
  }

  /** Prefix differencing over one raw input: materialize parse+dedup, then
    * add `cleanData`, then add `enrich` (both outputs), each to `noop`, then
    * run the `etl` CLI op on it. Also the extraction kernels alone, and the
    * quarantine ratio against the truth. */
  def prefixProbes(c: Ctx, trace: SparkTrace, raw: Path, dim: Path,
                   truth: Truth): Map[String, Double] = {
    val spark = c.spark
    def timed(name: String)(f: => Unit): (Double, Long) = {
      trace.drain()
      val before = trace.jobsSnapshot().map(_.jobId).toSet
      val t0 = System.nanoTime()
      c.tracer.span("probe", name)(f)
      val dt = (System.nanoTime() - t0) / 1e9
      trace.drain()
      val taskMs = trace.jobsSnapshot().filterNot(j => before(j.jobId)).map(_.totals.taskMs).sum
      (dt, taskMs)
    }
    def parsed = Pipeline.dedupIngest(Pipeline.parseRaw(spark.read.text(raw.toString)), None)
    val (t1, _) = timed("parse+dedup")(c.noop(parsed))
    val (t2, cleanTask) = timed("+cleanData")(c.noop(Pipeline.cleanData(parsed)))
    val (t3, _) = timed("+enrich") {
      val res = Pipeline.enrich(Pipeline.cleanData(parsed), Pipeline.siteDim(spark, dim.toString))
      c.noop(res.warehouse)
      c.noop(res.quarantine)
    }
    val out = c.work.resolve("probe-out")
    var counts = (0L, 0L)
    val (t4, cliTask) = timed("cli") {
      counts = cliCounts(cli(c, List("etl", raw.toString, dim.toString, out.toString)), truth)
    }
    c.deleteTree(out)
    val qRatio = counts._2.toDouble / (counts._1 + counts._2)
    if (qRatio != truth.quarantineRatio)
      throw new CheckFailed(s"quarantine ratio $qRatio, truth ${truth.quarantineRatio}")
    Map(
      "etl.parse_s" -> t1, "etl.clean_s" -> (t2 - t1), "etl.enrich_s" -> (t3 - t2),
      "etl.write_s" -> (t4 - t3),
      "etl.extract_passes" -> cliTask.toDouble / math.max(1L, cleanTask),
      "etl.quarantine_ratio" -> qRatio,
      "functions.extract_us_per_ad" -> extractUsPerAd(pagesOf(spark, raw.toString, 1000)))
  }

  /** One `cli.Main.run` call; returns what it printed. */
  def cli(c: Ctx, args: List[String]): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf) {
      c.tracer.span("call", "cli.Main.run")(graft.cli.Main.run(args, c.spark))
    }
    buf.toString("UTF-8")
  }

  def pagesOf(spark: SparkSession, raw: String, n: Int): IndexedSeq[UTF8String] =
    Pipeline.parseRaw(spark.read.text(raw)).select("read").limit(n).collect()
      .map(r => UTF8String.fromString(r.getString(0))).toIndexedSeq
}

/** `etl_stream`: many small files drained through the `etl-stream` CLI
  * path from an empty warehouse; one op is one micro-batch. */
final class EtlStreamWl(c: Ctx, files: Int, adsPerFile: Int, filesPerTrigger: Int,
                        listener: BatchListener) extends Workload {
  private val dim = c.work.resolve("site_dim.csv")
  private val rawDir = c.work.resolve("stream-raw")
  private val StreamCount = """etl-stream: warehouse=(\d+)""".r.unanchored
  private var truth: Truth = _
  private var lastOut: Option[Path] = None
  private var printed = -1L
  // micro-batch records of every pass, for the layer metrics
  private val passBatches = scala.collection.mutable.Map[Int, Seq[BatchRec]]()
  private val passFiles = scala.collection.mutable.Map[Int, Long]()

  override def rowsPerPass: Long = truth.delivered

  def setup(): Unit = {
    val warm = c.work.resolve("warm-raw")
    c.phase("inputs_s") {
      val gen = new AdGen(c.seed)
      gen.writeDim(dim)
      truth = gen.writeStream(rawDir, files, adsPerFile)
      Files.writeString(Paths.get(s"${c.keepPrefix}.truth.json"), truth.toJson)
      new AdGen(c.seed + 1).writeStream(warm, filesPerTrigger, adsPerFile)
    }
    // warm-up: drain one micro-batch of other ads
    c.phase("warmup_s") {
      val out = c.work.resolve("warm-out")
      drain(warm, out)
      listener.take()
      c.deleteTree(out)
    }
  }

  /** The `etl-stream` CLI path: `EtlStream.run(drainAndStop = true,
    * maxFilesPerTrigger = filesPerTrigger)`, then the warehouse count. */
  private def drain(raw: Path, out: Path): Long =
    EtlCheck.cli(c, List("etl-stream", raw.toString, dim.toString, out.toString,
      "--batch-size", filesPerTrigger.toString)) match {
      case StreamCount(n) => n.toLong
      case other => throw new CheckFailed(s"etl-stream printed no count: ${other.take(200)}")
    }

  def pass(p: Int): Seq[Op] = {
    printed = -1L
    Seq(c.op("etl-stream") { printed = drain(rawDir, c.work.resolve(s"stream-out-$p")) })
  }

  /** Every drain's counts are checked against the truth; a mismatch fails
    * all of its batches. The previous drain's output is removed here, so
    * the final check sees the last one. */
  override def settle(p: Int, ops: Seq[Op]): Seq[Op] = {
    val out = c.work.resolve(s"stream-out-$p")
    val err = ops.head.error
    org.apache.spark.graftbench.Bus.drain(c.spark.sparkContext)
    val batches = listener.take()
    passBatches(p) = batches
    val whDir = out.resolve("warehouse")
    passFiles(p) =
      if (Files.exists(whDir)) Files.walk(whDir).iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
      else 0L
    val mismatch = err.orElse {
      val n = c.spark.read.parquet(whDir.toString).count()
      val q = c.spark.read.parquet(out.resolve("quarantine").toString).count()
      if (n != truth.warehouse || printed != n || q != truth.quarantine)
        Some(s"${classOf[CheckFailed].getName}: pass $p warehouse=$n (printed $printed) quarantine=$q, " +
          s"truth warehouse=${truth.warehouse} quarantine=${truth.quarantine}")
      else None
    }
    lastOut.foreach(c.deleteTree)
    lastOut = Some(out)
    val batchOps = batches.map(b =>
      Op(s"batch-${b.batchId}", b.durations.getOrElse("triggerExecution", 0L) / 1e3, mismatch))
    if (err.isDefined) batchOps ++ ops else batchOps
  }

  def check(): Seq[String] = lastOut.toSeq.flatMap(out =>
    EtlCheck.outputs(c.spark, out.resolve("warehouse"), out.resolve("quarantine"), truth, c.seed))

  override def layer(spans: Seq[Span], jobs: Seq[JobRec], passes: Int): Map[String, Double] = {
    val tracedPasses = passBatches.keys.toSeq.sorted.takeRight(passes)
    val bs = tracedPasses.flatMap(passBatches)
    def med(k: String): Double = Stats.median(bs.map(_.durations.getOrElse(k, 0L) / 1e3))
    val growth = tracedPasses.map { p =>
      val d = passBatches(p).map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)
      val third = math.max(1, d.size / 3)
      Stats.median(d.takeRight(third)) / Stats.median(d.take(third))
    }
    val batchJobs = jobs.count(_.batchId.isDefined)
    Map(
      "streaming.add_batch_p50_s" -> med("addBatch"),
      "streaming.query_planning_s" -> med("queryPlanning"),
      "streaming.wal_commit_s" -> med("walCommit"),
      "streaming.latest_offset_s" -> med("latestOffset"),
      "streaming.input_scans" -> bs.map(_.inputRows).sum.toDouble / (truth.delivered * tracedPasses.size),
      "streaming.batch_growth" -> Stats.median(growth),
      "streaming.warehouse_files" -> Stats.median(tracedPasses.map(p => passFiles(p).toDouble)),
      "streaming.jobs_per_batch" -> batchJobs.toDouble / math.max(1, bs.size))
  }

  /** The batch path's layer split over the same input: the `etl` CLI
    * drops the re-deliveries as in-input duplicates, so the truth holds. */
  override def probes(trace: SparkTrace): Map[String, Double] =
    EtlCheck.prefixProbes(c, trace, rawDir, dim, truth)
}

/** `graph_bsp`: declared queries from `SparkEntry.queries`,
  * each built and materialized through the `noop` sink; one op is one
  * query. The seed sets the query order within each pass. */
final class QueryWl(c: Ctx, names: Seq[String]) extends Workload {
  private lazy val registry = graft.SparkEntry.queries
  private val bad = scala.collection.mutable.Map[String, String]()

  def setup(): Unit = {
    if (!Files.isDirectory(Paths.get(c.sfDir)))
      throw new IllegalStateException(s"query tables not found at ${c.sfDir}")
    val expected = Fingerprint.load(c.benchDir.resolve("fingerprints.json"))
    // warm-up pass: each query once, its result fingerprinted
    c.phase("warmup_s")(names.foreach { n =>
      try {
        val fp = Fingerprint.of(registry(n)(c.spark, c.sfDir))
        expected.get(n) match {
          case Some(want) if want == fp => ()
          case Some(want) => bad(n) = s"${classOf[CheckFailed].getName}: fingerprint $fp, oracle-accepted $want"
          case None => bad(n) = s"${classOf[CheckFailed].getName}: no oracle-accepted fingerprint"
        }
      } catch { case NonFatal(e) => bad(n) = Ctx.describe(e) }
    })
  }

  def pass(p: Int): Seq[Op] = {
    val order = new scala.util.Random(c.seed * 1000 + p).shuffle(names)
    order.map { n =>
      c.op(n) {
        val df = c.tracer.span("call", "build")(registry(n)(c.spark, c.sfDir))
        c.tracer.span("call", "materialize")(c.noop(df))
        bad.get(n).foreach(m => throw new CheckFailed(s"warm-up check: $m"))
      }
    }
  }

  def check(): Seq[String] = bad.toSeq.sorted.map { case (n, m) => s"$n: $m" }

  override def layer(spans: Seq[Span], jobs: Seq[JobRec], passes: Int): Map[String, Double] = {
    val calls = spans.filter(_.kind == "call")
    def total(name: String) = calls.filter(_.name == name).map(_.dur).sum / 1e9 / passes
    val ops = spans.count(_.kind == "op")
    Map(
      "queries.build_s" -> total("build"),
      "queries.materialize_s" -> total("materialize"),
      "queries.jobs_per_op" -> jobs.size.toDouble / math.max(1, ops))
  }
}
