package graft.pipeline

import java.io.FileNotFoundException
import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.transfer._

/** Unit tier: local backend + factory dispatch, mirroring
  * /root/reference/tests/test_transfer_local.py and
  * tests/test_transfer_factory.py. */
@graft.tags.Integration
class TransferSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var tmp: Path = _
  override def beforeAll(): Unit = tmp = Files.createTempDirectory("graft-transfer-spec")
  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private def write(p: Path, s: String): Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  test("local download copies bytes exactly (local.py:50-71)") {
    val src = write(tmp.resolve("a/src.bin"), "hello graft")
    val dst = tmp.resolve("b/nested/dst.bin")
    val b = new LocalBackend
    TransferBackend.withConnection(b)(_.download(src.toString, dst.toString))
    assert(Files.readAllBytes(dst).sameElements(Files.readAllBytes(src)))
  }

  test("local download missing source → FileNotFoundException with reference message") {
    val b = new LocalBackend
    val e = intercept[FileNotFoundException](
      b.download(tmp.resolve("nope.bin").toString, tmp.resolve("out.bin").toString))
    assert(e.getMessage.startsWith("Source file not found: "))
  }

  test("local upload missing source → 'Source file not found' (local.py:86-87)") {
    // the LOCAL backend says "Source file not found" in both directions
    // (local.py:64,87); only the FTP upload says "Local file not found"
    // (ftp.py:168) — pinned in ErrorTaxonomySpec rows 6-7
    val b = new LocalBackend
    val e = intercept[FileNotFoundException](
      b.upload(tmp.resolve("nope2.bin").toString, tmp.resolve("out2.bin").toString))
    assert(e.getMessage.startsWith("Source file not found: "))
  }

  test("local upload overwrites existing destination (copy2 parity)") {
    val src = write(tmp.resolve("c/src.txt"), "new content")
    val dst = write(tmp.resolve("c/dst.txt"), "old")
    new LocalBackend().upload(src.toString, dst.toString)
    assert(new String(Files.readAllBytes(dst), "UTF-8") == "new content")
  }

  test("a stage holds bytes in memory up to 1 MiB, spills past it, and close deletes the spill") {
    val tmpDir = Path.of(System.getProperty("java.io.tmpdir"))
    def spills(): Set[Path] = {
      import scala.jdk.CollectionConverters._
      val st = Files.newDirectoryStream(tmpDir, "graft-transfer-*.tmp")
      try st.iterator().asScala.toSet finally st.close()
    }
    val before = spills()
    val bytes = Array.tabulate[Byte](TransferStage.MemoryCap + 1)(_.toByte)
    val stage = new TransferStage
    stage.write(bytes, 0, TransferStage.MemoryCap)
    assert(spills() == before, "a stage at the cap must not touch disk")
    stage.write(bytes, TransferStage.MemoryCap, 1)
    assert((spills() -- before).size == 1, "the byte past the cap must spill")
    assert(stage.size == bytes.length.toLong)
    assert(stage.input().readAllBytes().sameElements(bytes))
    stage.close()
    assert(spills() == before)
  }

  test("factory dispatch is case-insensitive (base.py:89-99)") {
    val cfg = ServerConfig("h", "LOCAL", "localhost", 0, "", "")
    assert(TransferFactory.create(cfg).isInstanceOf[LocalBackend])
  }

  test("factory unknown type lists supported types (base.py:100-105)") {
    val cfg = ServerConfig("h", "s3", "localhost", 0, "", "")
    val e = intercept[IllegalArgumentException](TransferFactory.create(cfg))
    assert(e.getMessage.contains("Unsupported transfer type: s3"))
    assert(e.getMessage.contains("ftp"))
    assert(e.getMessage.contains("local"))
  }

  test("error taxonomy buckets (SURVEY §7.4 item 4)") {
    import Model.ErrorType._
    assert(of(new FileNotFoundException("x")) == NotFound)
    assert(of(new java.io.IOException("x")) == Io)
    assert(of(new NoSuchElementException("x")) == Config)
    assert(of(new IllegalArgumentException("x")) == UnknownType)
    assert(of(new java.util.concurrent.TimeoutException("x")) == Timeout)
  }
}
