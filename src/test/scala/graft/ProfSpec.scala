package graft

import java.nio.file.{Files, Paths}
import graft.tools.Prof

/** The diagnostics main's modes, driven through `Prof.run` on the shared
  * test session at sf0.001. */
class ProfSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def captured(args: String*): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(Prof.run(spark, sfDir, args))
    (code, out.toString("UTF-8"))
  }

  test("explain DIR _t q writes DIR/<q>_t.txt with the formatted plan") {
    val dir = Files.createTempDirectory("graft_prof_spec").toString
    val (code, _) = captured("explain", dir, "_t", "q_gazetteer")
    assert(code == 0)
    val txt = new String(Files.readAllBytes(Paths.get(dir, "q_gazetteer_t.txt")), "UTF-8")
    assert(txt.contains("== Physical Plan =="))
  }

  test("time prints one TIMED line per query, with the jobs it ran") {
    val (code, out) = captured("time", "q_gazetteer")
    assert(code == 0)
    val timed = out.linesIterator.filter(_.startsWith("TIMED q_gazetteer")).toList
    assert(timed.size == 1, out)
    val jobs = """jobs=(\d+)""".r.findFirstMatchIn(timed.head).map(_.group(1).toInt)
    assert(jobs.exists(_ > 0), timed.head)
  }

  test("an unknown mode returns 2 and leaves the session usable") {
    val (code, _) = captured("nosuchmode", "q_gazetteer")
    assert(code == 2)
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }
}
