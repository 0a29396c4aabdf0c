package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{SharedBuilds, TrackedCaches}
import graft.tools.DataGen

/** The analytics layers, measured in traced transfer_small runs: a fixed
  * list of queries from `graft.operators`, `graft.plans` and
  * `graft.sources`, run through `SparkEntry.queries` over tables that
  * `DataGen` writes into the run's work directory (its seed is a constant,
  * so the tables are always the same).
  *
  * Each query runs twice in one session. The first run writes its result
  * as parquet for `run.py`'s DuckDB oracle check and pays the memoized
  * shared builds, which `SharedBuilds.timingsSince` reports per tag. The
  * second run, drained to `noop`, is the timed warm run.
  */
object AnalyticsBench {
  val Sf = 0.001
  val Queries = Seq(
    "q316_hits_ranking", // graft.operators: iterative joins and aggregates
    "q88_recursive_order_chain", // graft.operators: recursion
    "q255_hashed_ngram_classifier", // graft.plans: gram build and classifier
    "q107_incremental_neardup_ingest", // graft.plans: MinHash pair builds
    "q47_ftp_dsv2_source", // graft.sources: FTP DataSource V2 batch read
    "s14_ftp_stream_source") // graft.sources: FTP micro-batch stream

  def run(spark: SparkSession, work: Path): Map[String, Any] = {
    val tables = work.resolve("tables").toString
    val out = work.resolve("analytics")
    DataGen.generate(spark, tables, Sf)
    val queries = SparkEntry.queries
    def once(q: String)(f: org.apache.spark.sql.DataFrame => Unit): Unit =
      try f(queries(q)(spark, tables)) finally TrackedCaches.releaseAll()

    val builds0 = SharedBuilds.timingCount
    Queries.foreach(q => once(q)(_.coalesce(1).write.parquet(out.resolve(q).toString)))
    val builds = SharedBuilds.timingsSince(builds0)

    val stats = TaskStats.attach(spark)
    val warm = Queries.map { q =>
      val t0 = System.nanoTime()
      once(q)(_.write.format("noop").mode("overwrite").save())
      q -> (System.nanoTime() - t0) / 1e9
    }.toMap
    stats.settle()
    spark.sparkContext.removeSparkListener(stats)
    Map(
      "tables" -> tables,
      "outputs" -> out.toString,
      "warm_s" -> warm,
      "builds" -> builds.map { case (tag, s) => Seq(tag, s) }.toList,
      "spark" -> (stats.drain() - "task_times"),
      "oracle" -> Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }
}
