package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.HadoopFs

/** [[HadoopFs.rename]]: a rename the file system refuses (Hadoop's
  * `false` return) surfaces as an error naming both paths. */
class HadoopFsSpec extends AnyFunSuite with Matchers {

  /** A local file system whose renames all report failure. */
  private class RefusingRename extends RawLocalFileSystem {
    override def rename(src: Path, dst: Path): Boolean = false
  }

  test("rename throws an IOException naming source and destination on false") {
    val src = new Path("/tbl.tombstones__rewrite")
    val dst = new Path("/tbl.tombstones")
    val ex = intercept[java.io.IOException](HadoopFs.rename(new RefusingRename, src, dst))
    ex.getMessage should include(src.toString)
    ex.getMessage should include(dst.toString)
  }

  test("rename moves the file when the file system accepts") {
    val dir = Files.createTempDirectory("graft-hadoopfs")
    val fs = FileSystem.getLocal(new Configuration())
    val src = new Path(dir.toString, "a")
    val dst = new Path(dir.toString, "b")
    fs.create(src).close()
    HadoopFs.rename(fs, src, dst)
    fs.exists(src) shouldBe false
    fs.exists(dst) shouldBe true
    // a missing source is a refusal, not a silent no-op
    an[java.io.IOException] should be thrownBy HadoopFs.rename(fs, src, dst)
  }
}
