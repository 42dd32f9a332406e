package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Poster

/** The poster queries read every input fixture with a declared schema (no
  * Parquet schema-inference job per read). Each declared schema must be
  * exactly what inference gives: names, types and nullability. */
class FixtureSchemaSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("each fixture's declared schema equals its inferred schema") {
    val files = Seq(Poster.Default.fx, Poster.Alt.fx).flatMap { d =>
      new File(d).listFiles().filter(_.getName.endsWith(".parquet"))
    }
    assert(files.size === 11)
    files.foreach { f =>
      val name = f.getName.stripSuffix(".parquet")
      val declared = Poster.fixtureSchema(name)
      // the golden cells are the specs' expected output, not an input
      if (name == "golden_cells_64") assert(declared === None)
      else assert(declared === Some(s.read.parquet(f.getPath).schema), f.getPath)
    }
  }
}
