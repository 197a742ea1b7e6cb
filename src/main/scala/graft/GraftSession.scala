package graft

import org.apache.spark.sql.SparkSession

/** Session construction — one place for the engine's Spark configuration,
  * with the cluster-scale derivation written down instead of folklore.
  *
  * The local builder (used by Verify/Bench/Smoke and tests) applies the
  * same *shape* of settings at laptop scale; [[clusterConf]] computes the
  * production values from the two numbers that actually matter: total
  * executor cores and input bytes per run.
  */
object GraftSession {

  /** Cluster conf derivation for a given fleet and input size.
    *
    * - `shuffle.partitions`: enough that (a) every core has ≥2 waves of
    *   tasks and (b) a shuffle partition stays near [[targetShufflePartitionBytes]]
    *   so sorts/aggregates fit in executor memory without spilling —
    *   whichever demands MORE partitions wins. AQE coalesces the excess
    *   at runtime, so oversizing is cheap and undersizing is not.
    * - `files.maxPartitionBytes` 256 MiB: scan-task granularity; big
    *   enough to amortize task overhead, small enough to parallelize a
    *   single large file.
    * - AQE on with skew-join splitting: runtime re-plan handles the skew
    *   salting can't predict statically (ScaleJoins.saltedJoin is the
    *   static fallback for a single pathological key).
    * - broadcast threshold 64 MiB: every dimension of the star schema
    *   broadcasts; only fact-fact joins shuffle.
    * - CBO on: `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`
    *   feeds it column statistics.
    */
  val targetShufflePartitionBytes: Long = 200L * 1024 * 1024

  def clusterConf(totalCores: Int, inputBytes: Long): Map[String, String] = {
    val byCores = 2L * totalCores
    val byBytes = (inputBytes + targetShufflePartitionBytes - 1) / targetShufflePartitionBytes
    Map(
      "spark.sql.shuffle.partitions" -> math.max(byCores, byBytes).toString,
      "spark.sql.files.maxPartitionBytes" -> (256L * 1024 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC")
  }

  /** Local session for the driver mains and tests: shuffle partitions =
    * cores (no wave concern in one JVM), UTC, UI off.
    *
    * `fs.file.impl` binds `file://` to [[graft.sources.FastLocalFileSystem]]:
    * without the native Hadoop library every local file create forks a
    * `chmod` process and the default checksummed LocalFileSystem doubles
    * each create with a `.crc` sibling — pure adapter overhead on the
    * commit machinery's many small metadata files. Scheme-scoped: HDFS/
    * S3/ABFS bindings on a real cluster are untouched. */
  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.FastLocalFileSystem].getName)
      // parquet writes here land in engine-private staging dirs whose
      // visibility/atomicity comes from the Delta/Iceberg commit
      // protocol, not from Hadoop's job commit — so skip the _SUCCESS
      // marker (one create per write) and use committer v2 (files move
      // at task commit, in parallel, instead of one serial driver
      // rename pass at job commit)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "9999")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
