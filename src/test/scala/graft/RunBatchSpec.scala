package graft

import graft.pipelines.RunBatch
import graft.sources.DeltaLog
import org.apache.spark.sql.functions._

/** The scheduled batch job end to end on the fixtures: every validation
  * check passes, the outputs are Delta-protocol tables whose history
  * carries the publish and the OPTIMIZE, and the published fact prunes
  * by its partition column. */
class RunBatchSpec extends SparkSpec {

  test("RunBatch publishes gold on the Delta protocol, optimizes it, passes every check") {
    val out = java.nio.file.Files.createTempDirectory("graft-runbatch-").toString
    val checks = RunBatch.run(spark, out)
    assert(checks.map(_._1).toSet == (Seq("fact_rows", "fact_orphan_locations") ++
      Seq("dim_location_nonempty") ++
      RunBatch.dims.tail.map(t => s"${t}_current_per_key")).toSet, checks)
    checks.foreach { case (n, observed, expected) =>
      assert(observed == expected, s"$n: observed $observed, expected $expected")
    }

    def ops(t: String): Seq[String] = DeltaLog.history(spark, s"$out/$t")
      .orderBy("version").select("operation").collect().map(_.getString(0)).toSeq
    // the publish (a whole-table write) then the ZORDER compaction
    assert(ops("trip_fact") == Seq("OVERWRITE", "OPTIMIZE"), ops("trip_fact"))
    RunBatch.dims.foreach(t => assert(ops(t).head == "OVERWRITE", s"$t: ${ops(t)}"))

    // the fact stays partitioned through OPTIMIZE: a trip_status
    // predicate plans only that partition's files
    val fact = s"$out/trip_fact"
    val cancelled = col("trip_status") === "cancelled"
    val snap = DeltaLog.snapshot(spark, fact)
    val kept = DeltaLog.pruneFiles(spark, snap, cancelled)
    assert(kept.nonEmpty && kept.forall(_.contains("trip_status=cancelled")), kept)
    assert(kept.size < snap.files.size)
    assert(DeltaLog.readPruned(spark, fact, cancelled).count() == 1)
  }
}
