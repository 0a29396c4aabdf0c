package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.pipeline.{Pipeline, TransferResult}

/** transfer_small: batch `Pipeline.run` passes, FTP→FTP.
  *
  * `jobs.jsonl` holds one job message per line with the token `{pass}` in
  * every destination path; each pass writes its own copy with a fresh
  * destination root, so every pass walks and creates its destination
  * directories as a first run would. A pass is timed from reading the
  * messages to both outputs drained (results collected, DLQ collected);
  * its outputs are digested and deleted afterwards, outside the clock.
  */
object TransferBench {
  private val PassToken = "{pass}"
  // Time kept after the last timed pass: for the close (untraced), and for
  // the layer probes and the analytics queries (traced), which took about
  // 8 times as long as a pass and slow down with it on a slow host.
  private val UntracedReserveS = 10.0
  private val TracedReservePasses = 12.0

  def run(a: Args): Map[String, Any] = {
    val work = java.nio.file.Paths.get(a("work"))
    val srcRoot = work.resolve("ftp_src")
    val dstRoot = work.resolve("ftp_dst")
    val jobs = Files.readAllLines(work.resolve("jobs.jsonl")).asScala.toVector
    val warm = jobs.take(a.int("warmup_jobs"))
    val seconds = a.double("seconds")

    val trace = a.bool("trace")
    val phases = new Phases

    // set-up, cold: JVM start to session + endpoints + one warm-up pass
    val eng = new Engine(srcRoot, dstRoot)
    val (w, _) = pass(eng, work, warm, "w", None)
    val setup = Map("setup_s" -> Proc.sinceStartS(), "warmup" -> w)
    phases.mark("setup", setup("setup_s").asInstanceOf[Double])

    // untimed passes until the JIT has compiled the hot paths: without
    // them the first timed passes run up to twice as slow as the last
    val settle = (1 to a.int("settle")).map(i => pass(eng, work, jobs, s"s$i", None)._1)
    phases.mark("settle")

    // Timed passes: at least `minPasses`, then until `seconds` of pass wall
    // time. A traced run alternates untraced and traced passes, so that the
    // difference between the two sets is the tracing overhead and not
    // whatever drift the run still has; its untraced passes serve only that
    // difference, so it takes fewer of each.
    // The JVM must be done by `deadline_ms`: on a slow host the passes stop
    // early, below the minimum if need be (one of each kind at least), when
    // one more would leave too little time for the steps after them.
    val minPasses = if (trace) 3 else 5
    val deadline = a("deadline_ms").toLong
    val untraced, traced = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var pool = Map("samples" -> 0L, "saturated" -> 0L)
    var last = Array.empty[TransferResult]
    def walls(ps: Iterable[Map[String, Any]]) = ps.map(_("wall_s").asInstanceOf[Double])
    def short(ps: Iterable[Map[String, Any]]) = ps.size < minPasses || walls(ps).sum < seconds
    def fits = {
      val longest = (walls(untraced) ++ walls(traced)).max
      val reserveS = if (trace) TracedReservePasses * longest else UntracedReserveS
      System.currentTimeMillis() + (longest + reserveS) * 1000 < deadline
    }
    def needed = untraced.isEmpty || (trace && traced.isEmpty)
    while ((short(untraced) || (trace && short(traced))) && (needed || fits)) {
      if (trace && traced.size < untraced.size) {
        val stats = TaskStats.attach(eng.spark)
        val sampler = new PoolSampler(eng)
        val (p, rs) = pass(eng, work, jobs, s"t${traced.size + 1}", Some(stats))
        pool = pool.map { case (k, v) => k -> (v + sampler.stop()(k)) }
        eng.spark.sparkContext.removeSparkListener(stats)
        traced += p
        last = rs
      } else untraced += pass(eng, work, jobs, s"u${untraced.size + 1}", None)._1
    }
    val cutShort = short(untraced) || (trace && short(traced))
    phases.mark("measure")
    val tracedOut =
      if (trace) {
        val ls = layers(eng, work, jobs, last)
        phases.mark("layers")
        val an = AnalyticsBench.run(eng.spark, work)
        phases.mark("analytics")
        Some(Map("passes" -> traced.toList, "pool_samples" -> pool, "layers" -> ls, "analytics" -> an))
      } else None
    eng.notePools()
    val out = Map(
      "setup" -> setup,
      "settle" -> settle.toList,
      "untraced" -> Map("passes" -> untraced.toList),
      "cut_short" -> cutShort,
      "phases" -> phases.list,
      "pool_size" -> Engine.PoolSize,
      "slots" -> Engine.Slots,
      "pool_max_created" -> eng.maxCreated,
      "peak_rss_mb" -> Proc.peakRssMb()) ++ tracedOut.map("traced" -> _)
    eng.close()
    out
  }

  /** One timed `Pipeline.run` pass, then its checks' raw material. */
  private def pass(eng: Engine, work: Path, jobs: Seq[String], tag: String,
      stats: Option[TaskStats]): (Map[String, Any], Array[TransferResult]) = {
    val spark = eng.spark
    import spark.implicits._
    val input = work.resolve(s"jobs-$tag.jsonl")
    Files.write(input, jobs.map(_.replace(PassToken, tag)).asJava)
    val ftp0 = eng.ftpCounts(); val io0 = Proc.io(); val host0 = Proc.machineTicks()
    val cpu0 = Proc.cpuSeconds()
    val t0 = System.nanoTime()
    val (results, dlq) = Pipeline.run(spark.read.text(input.toString), eng.pc)
    results.persist()
    val rs = results.collect()
    val dl = dlq.select(col("original_message"), col("error_type")).as[(String, String)].collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Proc.cpuSeconds() - cpu0
    val host = Engine.delta(host0, Proc.machineTicks())
    results.unpersist(blocking = true)
    eng.notePools()
    val out = Map(
      "tag" -> tag,
      "wall_s" -> wall,
      "cpu_s" -> cpu,
      "host" -> host,
      "io" -> Engine.delta(io0, Proc.io()),
      "ftp" -> Engine.delta(ftp0, eng.ftpCounts()),
      "results" -> rs.map(eng.outcome).toList,
      "dlq" -> dl.map { case (m, e) => Seq(m, e) }.toList,
      "tmp_left" -> Engine.tmpLeft()) ++
      stats.map { s => s.settle(); "spark" -> s.drain() }
    Files.delete(input)
    Engine.deleteTree(eng.dstRootOf(s"/$tag"))
    (out, rs)
  }

  /** Per-layer timings over the pass input and the last pass's results. */
  private def layers(eng: Engine, work: Path, jobs: Seq[String],
      results: Array[TransferResult]): Map[String, Any] = {
    val spark = eng.spark
    import spark.implicits._
    val raw = jobs.map(_.replace(PassToken, "probe")).toDF("value")
    Engine.layerProbes(eng, work, raw, results.toIndexedSeq)
  }
}
