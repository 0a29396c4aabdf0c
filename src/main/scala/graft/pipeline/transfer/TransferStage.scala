package graft.pipeline.transfer

import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, FilterInputStream, InputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFileAttributes

/** One job's bytes between its source read and its destination write
  * (the reference's temp file, consumer.py:152-186).
  *
  * Bytes stay in memory up to [[TransferStage.MemoryCap]]. The write that
  * would pass the cap moves them to a `graft-transfer-*.tmp` file, and
  * every later byte goes there too. One code path serves every size: the
  * switch depends only on how many bytes have arrived. `close()` deletes
  * the spill file on every path.
  */
final class TransferStage extends OutputStream {
  private var mem = new TransferStage.Buffer
  private var spill: Path = _
  private var spillOut: OutputStream = _
  private var spillIn: InputStream = _
  private var staged = 0L

  /** The source file's attributes when a [[LocalBackend]] read it; a local
    * write applies them (`shutil.copy2` parity, local.py:70,93). */
  private[transfer] var attributes: PosixFileAttributes = _

  /** Bytes staged so far. */
  def size: Long = staged

  override def write(b: Int): Unit = write(Array(b.toByte))

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    if (spill == null && mem.size + len > TransferStage.MemoryCap) spillToDisk()
    if (spill == null) mem.write(b, off, len) else spillOut.write(b, off, len)
    staged += len
  }

  private def spillToDisk(): Unit = {
    spill = Files.createTempFile("graft-transfer-", ".tmp")
    spillOut = new BufferedOutputStream(Files.newOutputStream(spill), 64 << 10)
    mem.writeTo(spillOut)
    mem = null
  }

  /** The staged bytes from the first, for the destination write. The
    * stage owns the stream: `close()` closes it. */
  def input(): TransferStage.Input =
    new TransferStage.Input(
      if (spill == null) mem.input()
      else { spillOut.close(); spillIn = Files.newInputStream(spill); spillIn },
      attributes)

  override def close(): Unit =
    try Seq(spillOut, spillIn).filter(_ != null).foreach(_.close())
    finally if (spill != null) Files.deleteIfExists(spill)
}

object TransferStage {

  /** Bytes a stage holds in memory before it spills. A constant, not a
    * setting: staged memory stays bounded at task slots × 1 MiB per
    * executor. */
  val MemoryCap: Int = 1 << 20

  /** Stages `read`'s bytes, then hands them to `write`; the stage is
    * closed, and any spill file deleted, whatever either throws.
    * Returns the bytes moved. */
  def through(read: OutputStream => Unit)(write: InputStream => Unit): Long = {
    val stage = new TransferStage
    try {
      read(stage)
      write(stage.input())
      stage.size
    } finally stage.close()
  }

  /** A stage's bytes read back, with the local source attributes it carries. */
  final class Input private[transfer] (in: InputStream, val attributes: PosixFileAttributes)
    extends FilterInputStream(in)

  /** Reads its bytes back without copying them. Grows by doubling from
    * 8 KiB, so it never holds more than [[MemoryCap]]. */
  private final class Buffer extends ByteArrayOutputStream(8 << 10) {
    def input(): InputStream = new ByteArrayInputStream(buf, 0, count)
  }
}
