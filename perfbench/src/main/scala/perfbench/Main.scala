package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Pipeline, PipelineConfig, TransferResult}
import graft.pipeline.testkit.FakeFtpServer
import graft.pipeline.transfer.{FtpClient, FtpPools}

/** Engine-side half of the benchmark. `run.py` generates the inputs,
  * starts this JVM with `key=value` arguments, and turns the raw
  * observations it writes (`out=<file>`, JSON) into metrics and checks.
  * Everything here drives the engine through its public API and watches
  * it from outside: wall clocks around calls, Spark listeners, the fake
  * FTP servers' command counters and `/proc/self`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val obs = a("workload") match {
      case "transfer_small" => TransferBench.run(a)
      case "stream_mixed" => StreamBench.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(Paths.get(a("out")).toFile, obs)
    // the fake FTP servers' session threads are not daemons
    System.exit(0)
  }
}

final case class Args(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  def bool(k: String): Boolean = apply(k) == "1"
}

object Args {
  def apply(argv: Array[String]): Args =
    Args(argv.map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap)
}

/** Wall seconds of a run's consecutive steps, from the JVM's start; run.py
  * prints them, so that a slow run shows where its time went. */
final class Phases {
  private val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** Ends the step `name` now, or at `atS` seconds after the JVM's start. */
  def mark(name: String, atS: Double = Proc.sinceStartS()): Unit = marks += name -> atS

  def list: List[Seq[Any]] =
    marks.zip(("start" -> 0.0) +: marks).map { case ((n, t), (_, t0)) => Seq(n, t - t0) }.toList
}

/** Readings of the engine process from `/proc/self`. */
object Proc {
  private def fields(file: String): Map[String, Long] =
    Files.readAllLines(Paths.get(file)).asScala.flatMap { l =>
      l.split(":", 2) match {
        case Array(k, v) => v.trim.split(" ")(0).toLongOption.map(k.trim -> _)
        case _ => None
      }
    }.toMap

  /** User + system CPU seconds of the whole process (USER_HZ = 100). */
  def cpuSeconds(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  /** Seconds since this JVM started: a set-up timed from here includes
    * JVM start, class loading and first code generation. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def peakRssMb(): Double = fields("/proc/self/status")("VmHWM") / 1024.0

  /** Machine-wide CPU ticks from `/proc/stat` (USER_HZ): busy (steal
    * included: time the host gave to someone else) and all. */
  def machineTicks(): Map[String, Long] = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").slice(1, 9).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    Map("busy" -> (f.sum - f(3) - f(4)), "all" -> f.sum)
  }

  /** Bytes the process wrote: to storage (`write_bytes`) and through
    * write calls (`wchar`). */
  def io(): Map[String, Long] = {
    val f = fields("/proc/self/io")
    Map("write_bytes" -> f("write_bytes"), "wchar" -> f("wchar"))
  }
}

/** One set-up of the engine under test: a Spark session on local[4] and
  * two FTP endpoints (source and destination), each behind the engine's
  * 4-connection pool. */
final class Engine(srcRoot: Path, dstRoot: Path) {
  val spark: SparkSession = graft.GraftSession.local(Engine.Slots, "perfbench")
  val src = new FakeFtpServer(srcRoot)
  val dst = new FakeFtpServer(dstRoot)
  val pc: PipelineConfig = PipelineConfig(
    Seq("SRC" -> src.port, "DST" -> dst.port).flatMap { case (h, port) =>
      Seq(s"${h}_TYPE" -> "ftp", s"${h}_HOST" -> "127.0.0.1",
        s"${h}_PORT" -> port.toString, s"${h}_USERNAME" -> "u", s"${h}_PASSWORD" -> "p")
    } :+ ("FTP_POOL_SIZE" -> Engine.PoolSize.toString): _*)

  /** The local file behind a path on the destination endpoint. */
  def dstRootOf(remote: String): Path = dstRoot.resolve(remote.stripPrefix("/"))

  /** A result row as `run.py` checks it: the destination file's SHA-256
    * for a success whose file exists, else null. */
  def outcome(r: TransferResult): Seq[Any] = {
    val f = dstRootOf(r.dest_path)
    val digest = if (r.status == "success" && Files.exists(f)) Engine.sha256(f) else null
    Seq(r.job_id, r.status, r.error_type, r.bytes, r.duration_ms, digest, r.error)
  }

  def pools = Seq("src", "dst").map(h => FtpPools(pc.serverConfig(h), pc))

  /** Pool `created` high-water seen so far (checked against the size). */
  @volatile var maxCreated = 0
  def notePools(): Unit = pools.foreach(p => maxCreated = maxCreated.max(p.created))

  def ftpCounts(): Map[String, Long] =
    Engine.Verbs.map(v => v -> (src.commandCount(v) + dst.commandCount(v)).toLong).toMap +
      ("SESSIONS" -> (src.connectionsOpened.get + dst.connectionsOpened.get).toLong)

  def close(): Unit = {
    spark.stop()
    FtpPools.closeAll()
    src.stop(); dst.stop()
  }
}

object Engine {
  val Slots = 4
  val PoolSize = 4
  val Verbs = Seq("USER", "PASS", "TYPE", "PASV", "PORT", "RETR", "STOR", "NLST",
    "LIST", "SIZE", "RNFR", "RNTO", "DELE", "CWD", "MKD", "NOOP", "QUIT")

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Median wall seconds of three runs of `f`. */
  private def medianSeconds(f: => Unit): Double =
    (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.sorted.apply(1)

  /** Per-layer timings taken outside the timed region (traced runs):
    * `Pipeline.parse` over the workload's messages and `Pipeline.dlqRecords`
    * over real results, each drained on its own, plus the FTP round trips. */
  def layerProbes(eng: Engine, work: Path, raw: DataFrame,
      results: Seq[TransferResult]): Map[String, Any] = {
    val spark = eng.spark
    import spark.implicits._
    val input = raw.persist()
    input.count()
    val rs = results.toDS().persist()
    rs.count()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val parseS = medianSeconds {
      val (ok, bad) = Pipeline.parse(input)
      noop(ok); noop(bad)
    }
    val dlqS = medianSeconds(noop(Pipeline.dlqRecords(rs, Pipeline.parse(input)._2)))
    rs.unpersist(); input.unpersist()
    Map("parse_s" -> parseS, "dlq_project_s" -> dlqS) ++ ftpProbes(eng, work)
  }

  /** Single-thread FtpClient round trips against the source endpoint:
    * NOOP, RETR of 1 KB and STOR of 1 KB, median milliseconds each. */
  private def ftpProbes(eng: Engine, work: Path): Map[String, Any] = {
    val c = new FtpClient("127.0.0.1", eng.src.port)
    c.connect(); c.login("u", "p")
    val local = work.resolve("probe-1k.bin")
    def med(n: Int)(f: Int => Unit): Double = {
      (1 to 10).foreach(f) // warm-up
      (1 to n).map { i => val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e6 }
        .sorted.apply(n / 2)
    }
    try Map(
      "noop_rtt_ms" -> med(200)(_ => c.noop()),
      "retr_1k_ms" -> med(100)(_ => c.retr("/probe/k1.bin", local)),
      "stor_1k_ms" -> med(100)(i => c.stor(local, s"/probe/up-${i % 10}.bin")))
    finally { c.quit(); c.close(); Files.deleteIfExists(local) }
  }

  /** Temp files the transfer map left behind in `java.io.tmpdir`. */
  def tmpLeft(): Int = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala.count { f =>
      val n = f.getFileName.toString
      n.startsWith("graft-transfer-") && n.endsWith(".tmp")
    } finally s.close()
  }
}

/** Samples both pools' gauges every few milliseconds (traced runs only):
  * the share of samples in which a pool had no idle connection and was at
  * its size tells whether the pool bounds throughput. */
final class PoolSampler(eng: Engine) {
  @volatile private var running = true
  private var samples = 0L
  private var saturated = 0L
  private val t = new Thread(() => {
    while (running) {
      eng.notePools()
      val sat = eng.pools.map(p => p.idleCount == 0 && p.created == Engine.PoolSize)
      synchronized { samples += sat.size; saturated += sat.count(identity) }
      Thread.sleep(5)
    }
  }, "perfbench-pool-sampler")
  t.setDaemon(true)
  t.start()

  def stop(): Map[String, Long] = {
    running = false
    t.join()
    synchronized(Map("samples" -> samples, "saturated" -> saturated))
  }
}
