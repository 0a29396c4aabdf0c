package graft.pipeline.transfer

import java.io.{FileNotFoundException, InputStream, OutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributeView, PosixFileAttributes}

import graft.pipeline.ServerConfig

/** Transfer backend contract + registry.
  *
  * Mirrors /root/reference/src/etl/transfer/base.py:
  *  - connect/disconnect bracketing with disconnect guaranteed on
  *    exception (base.py:21-70) — expressed here as `withConnection`;
  *  - download = remote→local, upload = local→remote (base.py:40-60),
  *    both staged through the stream primitives `read`/`write`;
  *  - the factory registry keyed by server type, case-insensitive, with
  *    an error listing supported types for unknown ones (base.py:73-108).
  */
trait TransferBackend extends AutoCloseable {
  def connect(): Unit
  def disconnect(): Unit
  override def close(): Unit = disconnect()

  /** Copy remote `remotePath` into `out`. Missing source →
    * FileNotFoundException before any byte is written; other failures →
    * IOException. `out` is left open. */
  def read(remotePath: String, out: OutputStream): Unit

  /** Copy all of `in` to remote `remotePath`, creating remote parent dirs
    * and overwriting an existing file. `in` is left open. */
  def write(in: InputStream, remotePath: String): Unit

  /** Copy remote `remotePath` to local `localPath`; parent dirs created.
    * The local file is written only once the whole source has been read. */
  def download(remotePath: String, localPath: String): Unit =
    TransferStage.through(read(remotePath, _))(new LocalBackend().write(_, localPath))

  /** Copy local `localPath` to remote `remotePath`; remote parent dirs
    * created. Missing local source → FileNotFoundException. */
  def upload(localPath: String, remotePath: String): Unit =
    TransferStage.through(new LocalBackend().read(localPath, _))(write(_, remotePath))
}

object TransferBackend {
  /** base.py:21-36 — context-manager semantics: disconnect always runs. */
  def withConnection[A](b: TransferBackend)(f: TransferBackend => A): A = {
    b.connect()
    try f(b)
    finally b.disconnect()
  }
}

/** Local-filesystem backend — /root/reference/src/etl/transfer/local.py.
  *
  * Reads and writes are plain file copies (local.py:50-94; direction is
  * nominal), and BOTH directions say "Source file not found" for a missing
  * source (local.py:64,87 — only the FTP backend's upload says "Local file
  * not found", ftp.py:168). Writes create destination parent directories.
  * A write from a [[TransferStage]] a local read filled gives the
  * destination the source's permissions and times (`shutil.copy2` parity,
  * local.py:70,93).
  */
final class LocalBackend extends TransferBackend {
  override def connect(): Unit = () // local.py:42-44 — no-op
  override def disconnect(): Unit = () // local.py:46-48 — no-op

  override def read(remotePath: String, out: OutputStream): Unit = {
    val s = Paths.get(remotePath)
    if (!Files.exists(s)) throw new FileNotFoundException(s"Source file not found: $remotePath")
    out match {
      case stage: TransferStage =>
        stage.attributes = Files.readAttributes(s, classOf[PosixFileAttributes])
      case _ =>
    }
    Files.copy(s, out)
  }

  override def write(in: InputStream, remotePath: String): Unit = {
    val d = Paths.get(remotePath)
    Option(d.getParent).foreach(Files.createDirectories(_))
    Files.copy(in, d, StandardCopyOption.REPLACE_EXISTING)
    in match {
      case staged: TransferStage.Input if staged.attributes != null =>
        val a = staged.attributes
        Files.setPosixFilePermissions(d, a.permissions)
        Files.getFileAttributeView(d, classOf[BasicFileAttributeView])
          .setTimes(a.lastModifiedTime, a.lastAccessTime, null)
      case _ =>
    }
  }
}

/** base.py:73-108 — type→backend registry. Case-insensitive keys; unknown
  * type raises with the supported list (base.py:100-105). Kept extensible
  * (the reference plans s3/sftp: README.md:619-625).
  */
object TransferFactory {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, ServerConfig => TransferBackend]()

  def register(serverType: String, make: ServerConfig => TransferBackend): Unit =
    registry.put(serverType.toLowerCase, make)

  def unregister(serverType: String): Unit = registry.remove(serverType.toLowerCase)

  def supportedTypes: Seq[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.toSeq.sorted
  }

  def create(config: ServerConfig): TransferBackend = {
    val make = registry.get(config.serverType.toLowerCase)
    if (make == null)
      throw new IllegalArgumentException(
        s"Unsupported transfer type: ${config.serverType}. " +
          s"Supported types: ${supportedTypes.mkString(", ")}")
    make(config)
  }

  // Default registrations (ftp.py:216, local.py:108).
  register("local", _ => new LocalBackend)
  register("ftp", cfg => new FtpBackend(cfg))
}
