package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Harness, SparkEntry}
import graft.core.BspLoop

/** Dev tool over declared queries, on the shared [[Harness]] session.
  *
  * Usage:
  *   graft.tools.Lab time [--passes N] [--conf k=v] name… [/sfDir]
  *   graft.tools.Lab plan <outDir> name… [/sfDir]
  *   graft.tools.Lab step-plan <outDir> <stepK> name… [/sfDir]
  *
  * The sf dir is the one absolute-path argument, else
  * `SPARK_GRAFT_SF_DIR`.
  *
  *  - `time` runs one untimed warmup, then `--passes` (default 3)
  *    passes over the names, each query built and materialized by
  *    [[Harness.time]] as [[graft.Bench]] does. Per query it prints the
  *    min and every pass's seconds, and the jobs, stages, tasks and
  *    summed task time of its last run. With `--conf k=v` each pass runs
  *    the names twice, first under the session's own value of `k`, then
  *    under `k=v`: an interleaved A/B, so host drift lands on both arms
  *    alike.
  *  - `plan` writes each query's formatted physical plan to
  *    `<outDir>/<name>.txt`. A BSP loop's output is checkpointed, so
  *    its plan is a scan; `step-plan` shows the loop itself.
  *  - `step-plan` materializes each query while [[BspLoop.stepSink]]
  *    captures every loop iteration's frame before its checkpoint, and
  *    writes, per loop label, the plan of the deepest step ≤ stepK to
  *    `<outDir>/<name>__<label>_step<k>.txt`.
  */
object Lab {

  private val usage =
    """usage: time [--passes N] [--conf k=v] name... [/sfDir]
      |       plan <outDir> name... [/sfDir]
      |       step-plan <outDir> <stepK> name... [/sfDir]""".stripMargin

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n$usage")

  /** Splits the trailing arguments into declared query names and the
    * sf dir; an unknown name or a missing dir fails with the usage. */
  private def targets(rest: List[String]): (List[String], String) = {
    val (dirs, names) = rest.partition(_.startsWith("/"))
    if (names.isEmpty) fail("no query names given")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(", ")}")
    val sfDir = dirs match {
      case Nil => sys.env.getOrElse("SPARK_GRAFT_SF_DIR", fail("no sf dir given"))
      case d :: Nil => d
      case _ => fail(s"more than one sf dir: ${dirs.mkString(" ")}")
    }
    (names, sfDir)
  }

  /** Dispatch one mode on a caller-owned session (testable: does not
    * stop the session or exit the JVM — bad args throw). */
  def run(args: List[String], spark: SparkSession): Unit = args match {
    case "time" :: rest => time(spark, rest, passes = 3, conf = None)
    case "plan" :: outDir :: rest =>
      val (names, sfDir) = targets(rest)
      val dir = Files.createDirectories(Paths.get(outDir))
      for (n <- names) {
        val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
        val f = dir.resolve(s"$n.txt")
        Files.writeString(f, plan)
        println(s"PLAN $n -> $f (${plan.length} chars)")
      }
    case "step-plan" :: outDir :: stepArg :: rest =>
      val stepK = stepArg.toIntOption.filter(_ >= 1)
        .getOrElse(fail(s"stepK must be a positive integer, not '$stepArg'"))
      val (names, sfDir) = targets(rest)
      val dir = Files.createDirectories(Paths.get(outDir))
      for (n <- names) {
        val plans = mutable.Map.empty[(String, Int), String]
        BspLoop.stepSink = Some { (label, step, df) =>
          if (step <= stepK) plans((label, step)) = df.queryExecution.explainString(FormattedMode)
        }
        try Harness.materialize(SparkEntry.queries(n)(spark, sfDir))
        finally BspLoop.stepSink = None
        if (plans.isEmpty) println(s"STEPPLAN $n: no loop step captured")
        for ((label, keys) <- plans.keys.groupBy(_._1)) {
          val k = keys.map(_._2).max
          val f = dir.resolve(s"${n}__${label}_step$k.txt")
          Files.writeString(f, plans((label, k)))
          println(s"STEPPLAN $n $label step$k -> $f")
        }
      }
    case _ => fail("unknown mode or missing arguments")
  }

  private def time(spark: SparkSession, args: List[String], passes: Int,
                   conf: Option[(String, String)]): Unit = args match {
    case "--passes" :: n :: rest =>
      time(spark, rest, n.toIntOption.filter(_ >= 1)
        .getOrElse(fail(s"--passes needs a positive integer, not '$n'")), conf)
    case "--conf" :: kv :: rest =>
      if (conf.nonEmpty) fail("only one --conf: it is the B arm of the A/B")
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => time(spark, rest, passes, Some(k -> v))
        case _ => fail(s"--conf needs k=v, not '$kv'")
      }
    case flag :: _ if flag.startsWith("--") => fail(s"unknown or incomplete flag $flag")
    case rest =>
      val (names, sfDir) = targets(rest)
      // arms: (label, the value of the toggled key; None = unset)
      val arms = conf match {
        case None => Seq("base" -> None)
        case Some((k, v)) => Seq("base" -> spark.conf.getOption(k), s"$k=$v" -> Some(v))
      }
      def setArm(value: Option[String]): Unit = conf.foreach { case (k, _) =>
        value.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      val counters = new Counters(spark)
      spark.sparkContext.addSparkListener(counters)
      val secs = mutable.Map.empty[(String, String), List[Either[Throwable, Double]]]
      val profile = mutable.Map.empty[(String, String), String]
      try {
        Harness.time(SparkEntry.entry(spark)) // warmup: JIT and session init
        for (_ <- 1 to passes; (arm, value) <- arms) {
          setArm(value)
          for (n <- names) {
            counters.read()
            val t = Harness.time(SparkEntry.queries(n)(spark, sfDir))
            secs((n, arm)) = secs.getOrElse((n, arm), Nil) :+ t
            profile((n, arm)) = counters.read()
          }
        }
      } finally {
        setArm(arms.head._2)
        spark.sparkContext.removeSparkListener(counters)
      }
      // per (query, arm): the min seconds, or None when any pass failed
      val mins = for (n <- names; (arm, _) <- arms) yield {
        val ts = secs((n, arm))
        ts.collectFirst { case Left(e) => e } match {
          case Some(e) =>
            println(s"TIME $n [$arm] FAILED ${Harness.describe(e)}")
            arm -> None
          case None =>
            val s = ts.collect { case Right(x) => x }
            println(f"TIME $n%-28s [$arm] min=${s.min}%7.2f " +
              s"(${s.map(x => f"$x%.2f").mkString(" ")}) ${profile((n, arm))}")
            arm -> Some(s.min)
        }
      }
      for ((arm, _) <- arms) {
        val ms = mins.collect { case (`arm`, m) => m }
        val failed = ms.count(_.isEmpty)
        println(f"TIME_TOTAL [$arm] ${ms.flatten.sum}%.2f" +
          (if (failed > 0) s" ($failed failed, not counted)" else ""))
      }
  }

  /** Scheduler counters of the jobs run since the last [[read]]. */
  private final class Counters(spark: SparkSession) extends SparkListener {
    private val Marker = "graft.lab.marker"
    private val jobs, stages, tasks = new AtomicInteger
    private val taskMs = new AtomicLong
    @volatile private var markerJob = -1
    @volatile private var markerStages = Set.empty[Int]
    private val markerDone = new Semaphore(0)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Marker) != null)) {
        markerStages = e.stageIds.toSet
        markerJob = e.jobId
      } else jobs.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone.release()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!markerStages(e.stageInfo.stageId)) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!markerStages(e.stageId)) {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      }

    /** Runs a one-task marker job and waits until the listener has seen
      * it end — the bus delivers in order, so every event of the jobs
      * before it has then been counted — and returns and resets the
      * counts. */
    def read(): String = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(Marker, null)
      if (!markerDone.tryAcquire(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener events did not drain within 60 s")
      val r = f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
        f"taskTime=${taskMs.get / 1000.0}%.1fs"
      Seq(jobs, stages, tasks).foreach(_.set(0))
      taskMs.set(0)
      r
    }
  }

  def main(args: Array[String]): Unit = Harness.runMain(args)(run)
}
