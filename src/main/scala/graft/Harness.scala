package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Two postures, each a plain conf
  * map (master included) so a spec can pin it without starting a session:
  *
  *  - [[deploymentConf]]: `local[cpus]`, shuffle = cpus, UTC, UI off,
  *    `events.parquet` readable, and Spark's own AQE default — the posture
  *    a cluster job would run. `Verify`, the `tools` mains and the test
  *    suite use it; static-plan audits switch AQE off on their session.
  *  - [[benchConf]]: the deployment posture re-tuned for local latency.
  *    `Bench` uses it over cached tables.
  *
  * `SPARK_GRAFT_CPUS` (default: the processors the JVM sees) is read only
  * here.
  */
object Harness {
  lazy val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  def deploymentConf(cpus: Int = cpus): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    Tables.EventsNanosConf -> "true")

  /** Bench posture. `inputBytes` is the size of the scale-factor directory,
    * from which [[Bench.shuffleDefault]] derives the shuffle width. */
  def benchConf(cpus: Int, inputBytes: Long): Map[String, String] =
    deploymentConf(cpus) ++ Map(
      "spark.sql.shuffle.partitions" -> Bench.shuffleDefault(cpus, inputBytes).toString,
      // 8MB threshold (round-8 matrix A/B, docs/BENCH_NOTES.md): true
      // dimension tables (≤ a few MB) still broadcast, but the 150 k-row
      // orders FACT side no longer does — its per-execution driver-side
      // broadcast build cost ~0.3–0.4 s/query (q3 1.09 → 0.67 s as a
      // shuffle join). That is also the honest scale plan: at 100 TB a
      // fact side is never broadcast-able.
      "spark.sql.autoBroadcastJoinThreshold" -> "8MB",
      // AQE off for the local bench (round-8 matrix A/B): with pre-spread
      // cached inputs and sub-second stages, AQE's per-stage
      // materialize-and-replan roundtrips cost 0.05–0.3 s/query and its
      // runtime re-optimizations (coalesce, skew split, join demotion)
      // have nothing to improve at this size. A cluster deployment keeps
      // it on — this is harness latency tuning, recorded in the artifact.
      "spark.sql.adaptive.enabled" -> "false",
      // Spark's own default codec, pinned: zstd measured and rejected at
      // sf3 (BENCH_NOTES §52)
      "spark.io.compression.codec" -> "lz4",
      // test tables are single-row-group files, so heavy-compute queries
      // repartition them across cores (queries.Det)
      graft.queries.Det.SpreadConf -> "true")

  def session(conf: Map[String, String], logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder().config(conf).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
