package graft.pipelines

import graft.GraftSession
import graft.sources.DeltaLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The scheduled batch job (ST7) — the reference's 3-task DAG
  * (reference `jobs/batch_job.json:14-75`: gold build → optimize →
  * validate) as one offline-runnable main, published on the engine's
  * Delta protocol:
  *
  *   1. build every gold table through the dependency graph and publish
  *      each with [[DeltaLog.write]] (fact partitioned by trip_status —
  *      the engine's stand-in for the reference's date/region partitions
  *      at fixture scale);
  *   2. OPTIMIZE each published table into one file per partition with
  *      [[DeltaLog.optimize]], the fact ZORDERed by trip_id;
  *   3. validate over [[DeltaLog.read]] of what was published: SCD2
  *      currency invariants, referential integrity of the fact's
  *      location key, and golden row counts, emitted as one JSON line;
  *      exit 1 if any check fails.
  *
  * Usage: runMain graft.pipelines.RunBatch [outDir]
  */
object RunBatch {
  val dims: Seq[String] = Seq("dim_location", "dim_eater", "dim_merchant", "dim_courier")

  /** Run the three tasks into `out`; one (check, observed, expected)
    * triple per validation check. */
  def run(spark: SparkSession, out: String): Seq[(String, Long, Long)] = {
    // task 1: gold build (topological, each table cached once), published
    val tables = Medallion.graph(spark).runMaterialized()
    dims.foreach(t => DeltaLog.write(spark, tables(t), s"$out/$t"))
    DeltaLog.write(spark, tables("trip_fact"), s"$out/trip_fact",
      partitionBy = Seq("trip_status"))

    // task 2: maintenance on what task 1 published
    dims.foreach(t => DeltaLog.optimize(spark, s"$out/$t", targetFiles = 1))
    DeltaLog.optimize(spark, s"$out/trip_fact", targetFiles = 1, zorderBy = Seq("trip_id"))

    // task 3: validation over the PUBLISHED tables (not the in-memory frames)
    def read(t: String) = DeltaLog.read(spark, s"$out/$t")
    val fact = read("trip_fact")
    val dimLoc = read("dim_location")
    Seq(
      ("fact_rows", fact.count(), 3L),
      ("fact_orphan_locations", fact.where(col("pickup_location_key").isNotNull)
        .join(dimLoc, fact("pickup_location_key") === dimLoc("location_key"),
          "left_anti").count(), 0L)) ++
      dims.map { t =>
        val df = read(t)
        if (df.columns.contains("is_current"))
          (s"${t}_current_per_key", df.where(col("is_current"))
            .groupBy(df.columns.head).count().where(col("count") =!= 1).count(), 0L)
        else (s"${t}_nonempty", if (df.count() > 0) 0L else 1L, 0L)
      }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-gold-").toString)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val checks = run(spark, out)
    val failed = checks.filterNot { case (_, observed, expected) => observed == expected }
    val js = checks.map { case (n, o, e) =>
      s""""$n":{"observed":$o,"expected":$e,"passed":${o == e}}"""
    }.mkString("{", ",", "}")
    println(s"""BATCH {"status":"${if (failed.isEmpty) "PASS" else "FAIL"}","out":"$out","checks":$js}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
