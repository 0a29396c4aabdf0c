package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.TransferResult
import graft.streaming.StreamPipeline

/** stream_mixed: `StreamPipeline.start` over a job-file directory, fed by
  * an open-loop generator process that `run.py` starts.
  *
  * Hand-shake, through files in `work/sync`: for each measurement window
  * n this JVM writes `ready-n` (the input directory); `run.py` runs the
  * generator into it and, when the generator has exited, writes `done-n`
  * with the number of jobs it wrote. The window ends when the query has
  * processed and committed every file in the input directory.
  */
object StreamBench {
  private val Token = "{pass}"
  // A warm batch takes 0.9-1.4 s here. With `StreamMain`'s 1 s interval the
  // batches ran back to back, so latency grew by about 1.5 times any
  // slowdown of the machine; with 2 s every batch ends inside its interval
  // and the engine runs under capacity.
  private val TriggerInterval = "2 seconds"

  final class Dirs(root: Path) {
    val in: Path = root.resolve("in")
    val results: String = root.resolve("results").toString
    val dlq: String = root.resolve("dlq").toString
    val checkpoint: String = root.resolve("checkpoint").toString
  }

  def run(a: Args): Map[String, Any] = {
    val work = java.nio.file.Paths.get(a("work"))
    val sync = Files.createDirectories(work.resolve("sync"))
    val warm = Files.readAllLines(work.resolve("warm.jsonl")).asScala.toVector
    val settle = Files.readAllLines(work.resolve("settle.jsonl")).asScala.toVector
    val phases = new Phases

    // set-up, cold: JVM start to session + endpoints + query started +
    // first (warm-up) micro-batch committed
    val d = new Dirs(work.resolve("stream"))
    val eng = new Engine(work.resolve("ftp_src"), work.resolve("ftp_dst"))
    Files.createDirectories(d.in)
    drop(work, d.in, "warm.jsonl", warm.map(_.replace(Token, "w")))
    val q = StreamPipeline.start(eng.spark, d.in.toString, eng.pc, "jobs",
      d.results, d.dlq, d.checkpoint, Trigger.ProcessingTime(TriggerInterval))
    awaitBatches(q, 1)
    val setup = Map("setup_s" -> Proc.sinceStartS(),
      "first_batch_ms" -> q.recentProgress.head.durationMs.get("triggerExecution").longValue)
    phases.mark("setup", setup("setup_s").asInstanceOf[Double])

    // untimed single-batch files until the JIT has compiled the stream's
    // hot paths: without them batches shrank from 1.6 s to 1.1 s across
    // the timed window
    (1 to a.int("settle")).foreach { i =>
      drop(work, d.in, s"settle-$i.jsonl", settle.map(_.replace(Token, s"x$i")))
      awaitBatches(q, 1 + i)
    }
    phases.mark("settle")

    def window(n: Int, traced: Boolean): Map[String, Any] = {
      val spark = eng.spark
      val stats = if (traced) Some(TaskStats.attach(spark)) else None
      val sql = if (traced) Some(new SqlExecutions(d.results, d.dlq)) else None
      val progress = if (traced) Some(new StreamProgress) else None
      sql.foreach(spark.sparkContext.addSparkListener)
      progress.foreach(spark.streams.addListener)
      val sampler = if (traced) Some(new PoolSampler(eng)) else None
      val ftp0 = eng.ftpCounts(); val io0 = Proc.io(); val host0 = Proc.machineTicks()
      val cpu0 = Proc.cpuSeconds()
      val t0 = System.currentTimeMillis()
      val ready = Files.write(sync.resolve(s".ready-$n"), d.in.toString.getBytes)
      Files.move(ready, sync.resolve(s"ready-$n"), StandardCopyOption.ATOMIC_MOVE)
      val expected = awaitFile(sync.resolve(s"done-$n"), 170).trim.toLong
      q.processAllAvailable()
      val out = Map(
        "start_ms" -> t0,
        "end_ms" -> System.currentTimeMillis(),
        "cpu_s" -> (Proc.cpuSeconds() - cpu0),
        "host" -> Engine.delta(host0, Proc.machineTicks()),
        "io" -> Engine.delta(io0, Proc.io()),
        "ftp" -> Engine.delta(ftp0, eng.ftpCounts()),
        "jobs" -> expected) ++
        sampler.map(s => "pool_samples" -> s.stop()) ++
        stats.map { s => s.settle(); "spark" -> s.drain() } ++
        sql.map(s => "sql" -> s.snapshot.map { case (k, ms) => Seq(k, ms) }) ++
        progress.map(p => "progress" -> p.snapshot)
      stats.foreach(spark.sparkContext.removeSparkListener)
      sql.foreach(spark.sparkContext.removeSparkListener)
      progress.foreach(spark.streams.removeListener)
      out
    }

    val untraced = window(1, traced = false)
    phases.mark("window-1")
    val traced = if (a.bool("trace")) Some(window(2, traced = true)) else None
    traced.foreach(_ => phases.mark("window-2"))
    val batches = q.recentProgress.map(StreamProgress.record).toList
    q.stop()
    val layers = traced.map { _ =>
      val spark = eng.spark
      import spark.implicits._
      val lines = Files.list(d.in).iterator().asScala.toSeq.flatMap(f => Files.readAllLines(f).asScala)
      val rs = spark.read.parquet(d.results).as[TransferResult].collect()
      Engine.layerProbes(eng, work, lines.toDF("value"), rs.toIndexedSeq)
    }
    layers.foreach(_ => phases.mark("layers"))
    finish(eng, d, phases, Map(
      "setup" -> setup,
      "untraced" -> untraced,
      "batches" -> batches) ++
      traced.map("traced" -> _) ++ layers.map("layers" -> _))
  }

  /** Reads both sinks (each row with the id of the batch that wrote it),
    * digests every destination file, and closes the engine. */
  private def finish(eng: Engine, d: Dirs, phases: Phases, obs: Map[String, Any]): Map[String, Any] = {
    eng.notePools()
    val rs = results(eng, d)
    val dl = dlq(eng, d)
    phases.mark("sinks")
    val out = obs ++ Map(
      "results" -> rs,
      "dlq" -> dl,
      "phases" -> phases.list,
      "tmp_left" -> Engine.tmpLeft(),
      "pool_size" -> Engine.PoolSize,
      "slots" -> Engine.Slots,
      "pool_max_created" -> eng.maxCreated,
      "peak_rss_mb" -> Proc.peakRssMb())
    eng.close()
    out
  }

  /** Success and DLQ rows of the sink, each with the batch that wrote it.
    * The batch id is read in the same scan as the row it belongs to. */
  private def results(eng: Engine, d: Dirs): List[Seq[Any]] = {
    val spark = eng.spark
    import spark.implicits._
    val fields = org.apache.spark.sql.Encoders.product[TransferResult].schema.fieldNames
    spark.read.parquet(d.results)
      .select(struct(fields.map(col).toIndexedSeq: _*).as("_1"), col("batch_id").as("_2"))
      .as[(TransferResult, Long)].collect()
      .map { case (r, b) => eng.outcome(r) :+ b }.toList
  }

  private def dlq(eng: Engine, d: Dirs): List[Seq[Any]] = {
    val spark = eng.spark
    import spark.implicits._
    val dir = java.nio.file.Paths.get(d.dlq)
    // a sink that never received a row has no parquet file to read
    val s = if (Files.exists(dir)) Files.walk(dir) else java.util.stream.Stream.empty[Path]()
    val empty = try !s.iterator().asScala.exists(_.toString.endsWith(".parquet")) finally s.close()
    if (empty) Nil
    else spark.read.parquet(d.dlq)
      .select(col("original_message"), col("error_type"), col("batch_id"))
      .as[(String, String, Long)].collect()
      .map { case (m, e, b) => Seq(m, e, b) }.toList
  }

  /** Write a job file next to the input directory, then move it in. */
  private def drop(work: Path, in: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = work.resolve(s".$name")
    Files.write(tmp, lines.asJava)
    Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Blocks until the query has committed `n` micro-batches with data.
    * Set-up and settle drop one file and wait for it before the next, so
    * each is one batch. `processAllAvailable` would also wait for a further
    * trigger that finds no new data: one more interval, 2 s, each time. */
  private def awaitBatches(q: StreamingQuery, n: Int, timeoutS: Double = 170): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (q.recentProgress.count(_.numInputRows > 0) < n) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for batch $n")
      Thread.sleep(10)
    }
  }

  private def awaitFile(p: Path, timeoutS: Double): String = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!Files.exists(p)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $p")
      Thread.sleep(10)
    }
    new String(Files.readAllBytes(p))
  }
}
