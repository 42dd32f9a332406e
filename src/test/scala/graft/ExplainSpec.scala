package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Explain's three modes on q13 at sf0.001: every mode prints the
  * `========== <name> ==========` header tools/plan_audit.py splits on;
  * the default and `exec` modes print a plan; `stages` prints the cold
  * and the warm run's stage lines and then the final adaptive plan. */
class ExplainSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val q = "q13_kernel"

  private def explain(mode: String): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    Explain.run(s, sfDir, Seq(q), mode, out)
    out.flush()
    val lines = buf.toString("UTF-8").split("\n").toSeq
    assert(lines.count(_ == s"========== $q ==========") === 1)
    lines
  }

  test("default mode prints the formatted physical plan") {
    val text = explain("plan").mkString("\n")
    assert(text.contains("== Physical Plan =="), text)
    assert(text.contains("AdaptiveSparkPlan"), text)
  }

  test("exec mode runs the query and prints the final adaptive plan") {
    val text = explain("exec").mkString("\n")
    assert(text.contains("AdaptiveSparkPlan isFinalPlan=true"), text)
  }

  test("stages mode prints cold and warm stage lines, then the plan") {
    val lines = explain("stages")
    val cold = lines.indexWhere(_.startsWith(s"[probe] $q cold total "))
    val warm = lines.indexWhere(_.startsWith(s"[probe] $q warm total "))
    val plan = lines.indexWhere(_.contains("AdaptiveSparkPlan isFinalPlan=true"))
    assert(cold >= 0 && cold < warm && warm < plan, lines.mkString("\n"))
    def stageLines(from: Int, until: Int) =
      lines.slice(from + 1, until).filter(_.startsWith("[stage] id="))
    assert(stageLines(cold, warm).nonEmpty, lines.mkString("\n"))
    assert(stageLines(warm, plan).nonEmpty, lines.mkString("\n"))
  }

  test("an unknown mode fails instead of printing a plan") {
    intercept[IllegalArgumentException](explain("stage"))
  }
}
