package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class CountingFileSystemSpec extends AnyFunSuite {

  /** A fresh directory under the build's own target dir. */
  private def tempDir(): java.io.File = {
    val base = new java.io.File("target").getAbsoluteFile
    base.mkdirs()
    java.nio.file.Files.createTempDirectory(base.toPath, "fs-spec").toFile
  }

  CountingFileSystem.install()

  test("FileSystem API: list, open, create, rename and delete are counted") {
    val dir = new Path(tempDir().toURI)
    val fs = FileSystem.newInstance(dir.toUri, new Configuration())
    assert(fs.isInstanceOf[CountingFileSystem])
    val c0 = CountingFileSystem.snapshot()
    (1 to 3).foreach { i =>
      val out = fs.create(new Path(dir, s"f$i"))
      out.write(Array.fill[Byte](100)(1))
      out.close()
    }
    fs.listStatus(dir)
    fs.listStatus(dir)
    val in = fs.open(new Path(dir, "f1"))
    assert(in.read(new Array[Byte](100)) == 100)
    in.close()
    assert(fs.rename(new Path(dir, "f2"), new Path(dir, "g2")))
    assert(fs.delete(new Path(dir, "f3"), false))
    val d = CountingFileSystem.snapshot() - c0
    assert(d.create == 3)
    assert(d.list == 2)
    assert(d.open == 1)
    assert(d.rename == 1)
    assert(d.delete == 1)
    assert(d.bytesWritten >= 300)
    assert(d.bytesRead >= 100)
    fs.delete(dir, true)
  }

  test("FileContext API goes through the same counters") {
    val dir = new Path(tempDir().toURI)
    val fc = FileContext.getFileContext(dir.toUri, new Configuration())
    val c0 = CountingFileSystem.snapshot()
    val out = fc.create(new Path(dir, "x"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write(Array.fill[Byte](10)(2))
    out.close()
    val in = fc.open(new Path(dir, "x"))
    in.close()
    fc.util.listStatus(dir)
    val d = CountingFileSystem.snapshot() - c0
    assert(d.create == 1)
    assert(d.open == 1)
    assert(d.list >= 1)
  }
}
