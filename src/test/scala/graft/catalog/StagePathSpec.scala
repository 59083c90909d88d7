package graft.catalog

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The pid-keyed staging paths under java.io.tmpdir and their removal at
  * JVM exit. */
class StagePathSpec extends AnyFunSuite {

  test("stagePath is keyed by the absolute dir and this JVM's pid") {
    val pid = ProcessHandle.current().pid()
    val a = QueryCatalog.stagePath("graft_spec_", "some/dir")
    assert(a.endsWith(s"_p$pid"))
    assert(a == QueryCatalog.stagePath("graft_spec_", new File("some/dir").getAbsolutePath))
    assert(a != QueryCatalog.stagePath("graft_spec_", "other/dir"))
  }

  test("deleteStaged removes a staged tree and its siblings, not another pid's") {
    val tmp = Files.createTempDirectory("stage_spec").toFile
    try {
      def mk(name: String): File = {
        val d = new File(tmp, name)
        assert(new File(d, "part").mkdirs())
        Files.writeString(new File(d, "part/x.parquet").toPath, "x")
        d
      }
      val staged = mk("graft_x_ab_p12")
      val sibling = mk("graft_x_ab_p12_codebook")
      val otherPid = mk("graft_x_ab_p123")
      val otherDir = mk("graft_x_cd_p12")
      QueryCatalog.deleteStaged(tmp, Seq("graft_x_ab_p12"))
      assert(!staged.exists() && !sibling.exists())
      assert(otherPid.exists() && otherDir.exists())
    } finally QueryCatalog.deleteStaged(tmp.getParentFile, Seq(tmp.getName))
  }
}
