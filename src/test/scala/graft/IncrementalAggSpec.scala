package graft

import graft.maintenance.IncrementalAgg
import graft.sources.DeltaLog
import org.apache.spark.sql.functions._

/** Folding the version delta into a materialized aggregate must equal
  * the full recompute bit-for-bit (decimal sums make both exact). */
class IncrementalAggSpec extends SparkSpec {

  test("applyDelta equals full re-materialization across a versioned update") {
    val path = java.nio.file.Files.createTempDirectory("graft-inc-").toString + "/t"
    val orders = Tables.orders(spark, sfDir)

    // v0: a subset; v1: drop some rows, modify others, add the rest —
    // the delta therefore contains deletes, updates (delete+insert
    // pairs), and pure inserts
    val v0 = orders.where(col("o_orderkey") % 5 =!= 0)
    val v1 = orders.where(col("o_orderkey") % 3 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
    DeltaLog.write(spark, v0, path)
    DeltaLog.write(spark, v1, path)

    val keys = Seq("o_custkey")
    val sums = Seq("o_totalprice")
    val base = IncrementalAgg.materialize(DeltaLog.read(spark, path, Some(0)), keys, sums)
    val delta = DeltaLog.changesBetween(spark, path, 0, 1)
    val maintained = IncrementalAgg.applyDelta(base, delta, keys, sums)
    val recomputed = IncrementalAgg.materialize(DeltaLog.read(spark, path, Some(1)), keys, sums)

    assert(maintained.schema == recomputed.schema,
      s"${maintained.schema} vs ${recomputed.schema}")
    assert(maintained.exceptAll(recomputed).count() == 0
      && recomputed.exceptAll(maintained).count() == 0,
      "maintained aggregate diverged from full recompute")
    // and it did real work: the delta was non-trivial
    assert(delta.count() > 0)
    assert(delta.select(col("_change_type")).distinct().count() == 2)
  }

  test("streaming materialized view: foreachBatch folds each micro-batch into the aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the materialized view lives across micro-batches; appends are
    // insert-only deltas
    var view = IncrementalAgg.materialize(
      Seq.empty[(String, Double)].toDF("k", "v"), Seq("k"), Seq("v"))
    val input = MemoryStream[(String, Double)]
    input.addData(("a", 1.0), ("b", 2.0))
    input.addData(("a", 3.0))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mv-ckpt-").toString
    val q = input.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val delta = batch.withColumn("_change_type",
          org.apache.spark.sql.functions.lit("insert"))
        view = IncrementalAgg.applyDelta(view, delta, Seq("k"), Seq("v"))
          .localCheckpoint(true)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = view.select(col("k"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 2L, 4.0), ("b", 1L, 2.0)))
  }

  test("an unrecognized _change_type fails loudly instead of vanishing") {
    import spark.implicits._
    val base = Seq(("a", 1.0)).toDF("k", "v")
    val agg = IncrementalAgg.materialize(base, Seq("k"), Seq("v"))
    val bad = Seq(("a", 2.0, "upsert")).toDF("k", "v", "_change_type")
    val e = intercept[Exception] {
      IncrementalAgg.applyDelta(agg, bad, Seq("k"), Seq("v")).collect()
    }
    assert(e.getMessage.contains("unknown _change_type")
      || Option(e.getCause).exists(_.getMessage.contains("unknown _change_type")),
      e.toString)
  }

  test("groups deleted down to zero rows disappear") {
    import spark.implicits._
    val base = Seq(("a", 10.0), ("a", 5.0), ("b", 1.0)).toDF("k", "v")
    val agg = IncrementalAgg.materialize(base, Seq("k"), Seq("v"))
    val changes = Seq(("b", 1.0, "delete"), ("c", 7.0, "insert"))
      .toDF("k", "v", "_change_type")
    val out = IncrementalAgg.applyDelta(agg, changes, Seq("k"), Seq("v"))
      .select(col("k"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("a", 2L, 15.0), ("c", 1L, 7.0)))
  }
}
