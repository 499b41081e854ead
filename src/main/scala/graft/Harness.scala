package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session and timing core shared by [[Bench]], [[Verify]],
  * [[cli.Main]] and [[tools.Lab]], so every entry point runs queries
  * under the same config and measures them the same way. */
object Harness {

  /** The one session builder. `SPARK_GRAFT_MASTER` overrides the
    * master; otherwise `local[SPARK_GRAFT_CPUS]` (default 4), with the
    * shuffle width set to the same cpu count. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fully materializes `df` through the `noop` sink — a `count()`
    * would let Catalyst prune every column the count doesn't need,
    * silently skipping the projection work (regex chains, sketch
    * signatures) a query exists to measure. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds to build and materialize one query, or the non-fatal
    * error that stopped it. Fatal errors (OOM, interrupts) propagate. */
  def time(build: => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try { materialize(build); Right((System.nanoTime() - t0) / 1e9) }
    catch { case NonFatal(e) => Left(e) }
  }

  /** `ExceptionClass: message` — how a failed query is reported. */
  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20) — a tab or CR in a query's SQL or an exception
    * message would otherwise make a JSON reader reject the whole file. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `main` for a subcommand tool: runs `run` on a fresh [[session]],
    * prints the usage carried by an IllegalArgumentException and exits
    * 2, and always stops the session. */
  def runMain(args: Array[String])(run: (List[String], SparkSession) => Unit): Unit = {
    val spark = session()
    try run(args.toList, spark)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        spark.stop()
        sys.exit(2)
    }
    spark.stop()
  }
}
