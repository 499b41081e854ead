package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The dev tool's three modes on the shared session at sf0.001, and its
  * argument checks: every malformed call fails with the usage text
  * before any query runs. */
class LabSpec extends AnyFunSuite with SparkSpec {

  /** The sf0.001 tables, at the directory TESTDATA.md lists. */
  private val sf = """`([^`]*/sf0\.001)/?`""".r
    .findFirstMatchIn(Files.readString(Paths.get("TESTDATA.md"))).map(_.group(1))
    .getOrElse(fail("TESTDATA.md lists no sf0.001 directory"))

  private def lab(args: String*): String = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(Lab.run(args.toList, spark))
    out.toString
  }

  test("time with one --conf reports both arms and restores the conf") {
    val key = "spark.graft.loop.aqe"
    val out = lab("time", "--conf", s"$key=true", "q5_groupby_agg", sf)
    for (arm <- Seq("[base]", s"[$key=true]")) {
      val line = out.linesIterator.find(l => l.startsWith("TIME q5_groupby_agg") && l.contains(arm))
      assert(line.isDefined, s"no $arm line in:\n$out")
      assert(line.get.matches(""".*min=\s*\d+\.\d+ \(\S+ \S+ \S+\) jobs=[1-9]\d* stages=\d+ tasks=[1-9]\d* .*"""),
        line.get)
      assert(out.contains(s"TIME_TOTAL $arm"), out)
    }
    assert(spark.conf.getOption(key).isEmpty, "the B arm's conf leaked past the run")
  }

  test("step-plan writes the plan of a loop step") {
    val dir = Files.createTempDirectory("graft_lab_step")
    lab("step-plan", dir.toString, "2", "graph_cc", sf)
    val files = dir.toFile.listFiles().map(_.getName)
    assert(files.exists(f => f.startsWith("graph_cc__cc_step") && f.endsWith(".txt")),
      files.mkString(", "))
  }

  test("plan writes one file per name") {
    val dir = Files.createTempDirectory("graft_lab_plan")
    lab("plan", dir.toString, "q5_groupby_agg", "q1_derived_key", sf)
    assert(dir.toFile.listFiles().map(_.getName).toSet ==
      Set("q5_groupby_agg.txt", "q1_derived_key.txt"))
    assert(Files.readString(dir.resolve("q5_groupby_agg.txt")).contains("Physical Plan"))
  }

  test("malformed calls throw IllegalArgumentException with the usage") {
    val dir = Files.createTempDirectory("graft_lab_bad").toString
    val bad = Seq(
      Seq("step-plan", dir),                               // missing stepK
      Seq("step-plan", dir, "graph_cc", sf),               // stepK slot holds a name
      Seq("step-plan", dir, "two", "graph_cc", sf),        // non-numeric stepK
      Seq("step-plan", dir, "2", "no_such_query", sf),     // unknown name
      Seq("plan", dir, "no_such_query", sf),
      Seq("time", "no_such_query", sf),
      Seq("time", "--conf", "novalue", "q5_groupby_agg", sf),
      Seq("time", "--passes", "0", "q5_groupby_agg", sf),
      Seq("time", sf),                                     // no names
      Seq("profile", "q5_groupby_agg"))                    // unknown mode
    for (args <- bad) {
      val e = intercept[IllegalArgumentException](lab(args: _*))
      assert(e.getMessage.contains("usage:"), s"${args.mkString(" ")}: ${e.getMessage}")
    }
  }
}
