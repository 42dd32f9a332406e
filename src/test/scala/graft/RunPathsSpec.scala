package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RunPaths

/** The cleanup behind `Sinks.runPath`: at application end it deletes the
  * paths the run handed out, and the `<path>_*` siblings derived from
  * them, and leaves everything else in tmpdir alone: other runs' paths,
  * names that only share a prefix, unrelated files. */
class RunPathsSpec extends AnyFunSuite {

  test("cleanup removes exactly the run's registered paths") {
    val root = TestSpark.tempDir("runpaths").toFile
    try {
      def touch(name: String): File = {
        val f = new File(root, name)
        if (name.contains('.')) f.createNewFile()
        else { f.mkdirs(); new File(f, "part-0.parquet").createNewFile() }
        f
      }
      val run = new RunPaths(root.getPath, "ab12")
      val written = run.path("graft_rt_documents")
      val derived = run.path("graft_media") + "_7f3a_1"
      run.path("graft_rt_json") // handed out, never written
      assert(written === root.getPath + "/graft_rt_documents_ab12")
      Seq(written, derived).foreach(p => touch(new File(p).getName))
      val kept = Seq(
        "graft_rt_documents_cd34",   // another run's token
        "graft_rt_documents_ab12x",  // same prefix, different name
        "graft_media",               // the bare stem
        "graft_rt_json_cd34_1",      // another run's derived path
        "notes.txt").map(touch)

      run.cleanup()

      assert(!new File(written).exists && !new File(derived).exists)
      assert(root.listFiles.map(_.getName).sorted.toSeq ===
        kept.map(_.getName).sorted)
      kept.filter(_.isDirectory).foreach(d => assert(d.list.length === 1))
    } finally FileUtils.deleteQuietly(root)
  }
}
