package graft

import java.nio.file.Files

import graft.sources.{DeltaLog, GraftSql}
import org.apache.spark.sql.functions._

/** Write-path auto-tuning table properties:
  * `delta.autoOptimize.optimizeWrite` (AQE-rebalanced pre-write
  * shuffle — file count tracks data volume, not task count) and
  * `delta.autoOptimize.autoCompact` (post-commit bin-packing OPTIMIZE
  * once enough small files accumulate). Both are the knobs that keep a
  * high-frequency streaming append from drowning a table in small
  * files at cluster scale. */
class AutoOptimizeSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft-autoopt-").toString + "/t"

  test("optimizeWrite collapses task-count-many shards into volume-sized files") {
    val t = fresh()
    GraftSql.exec(spark,
      s"""CREATE TABLE delta.`$t` (id BIGINT)
         |TBLPROPERTIES ('delta.autoOptimize.optimizeWrite'='true')""".stripMargin)
    // 8 upstream tasks of trivial data: without optimizeWrite this
    // writes 8 shard files; the rebalance coalesces them
    DeltaLog.write(spark, (1L to 80L).toDF("id").repartition(8), t, mode = "append")
    val withOpt = DeltaLog.snapshot(spark, t).files.size
    assert(withOpt < 8, s"optimizeWrite left $withOpt files")
    assert(DeltaLog.read(spark, t).count() == 80L)

    val plain = fresh()
    DeltaLog.write(spark, (1L to 80L).toDF("id").repartition(8), plain)
    assert(DeltaLog.snapshot(spark, plain).files.size == 8)
  }

  test("autoCompact bin-packs once enough small files accumulate") {
    val t = fresh()
    GraftSql.exec(spark,
      s"""CREATE TABLE delta.`$t` (id BIGINT)
         |TBLPROPERTIES ('delta.autoOptimize.autoCompact'='true')""".stripMargin)
    spark.conf.set("spark.graft.delta.autoCompact.minNumFiles", "5")
    try {
      (1 to 4).foreach(i =>
        DeltaLog.write(spark, Seq(i.toLong).toDF("id"), t, mode = "append"))
      assert(DeltaLog.snapshot(spark, t).files.size == 4) // below threshold
      DeltaLog.write(spark, Seq(5L).toDF("id"), t, mode = "append")
      // the 5th small file crossed the threshold: compacted to one
      val snap = DeltaLog.snapshot(spark, t)
      assert(snap.files.size == 1, s"expected 1 compacted file, got ${snap.files}")
      assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == (1L to 5L))
      // the compaction is a real OPTIMIZE commit (dataChange=false:
      // invisible to the change feed)
      val ops = DeltaLog.history(spark, t).select("operation")
        .as[Option[String]].collect().flatten
      assert(ops.contains("OPTIMIZE"))
      assert(DeltaLog.changesBetween(spark, t, 4L,
        DeltaLog.latestVersion(spark, t).get)
        .where(col("_change_type") === "insert").count() == 1L)
    } finally spark.conf.unset("spark.graft.delta.autoCompact.minNumFiles")
  }

  test("autoCompact runs only after commits that stage files: a shallow clone stays zero-copy") {
    val src = fresh()
    GraftSql.exec(spark,
      s"""CREATE TABLE delta.`$src` (id BIGINT)
         |TBLPROPERTIES ('delta.autoOptimize.autoCompact'='true')""".stripMargin)
    (1 to 4).foreach(i =>
      DeltaLog.write(spark, Seq(i.toLong).toDF("id"), src, mode = "append"))
    assert(DeltaLog.snapshot(spark, src).files.size == 4)
    spark.conf.set("spark.graft.delta.autoCompact.minNumFiles", "3")
    try {
      // the clone inherits autoCompact and 4 small files over the
      // threshold, but adopts them in place: compacting would copy them
      val tgt = fresh()
      DeltaLog.cloneShallow(spark, src, tgt)
      assert(DeltaLog.latestVersion(spark, tgt).contains(0L))
      val srcRoot = new java.io.File(src).toURI.getPath.stripSuffix("/")
      val files = DeltaLog.snapshot(spark, tgt).files
      assert(files.size == 4 && files.forall(_.contains(srcRoot)), files)
      // the clone's first append stages a file: that commit compacts
      DeltaLog.write(spark, Seq(5L).toDF("id"), tgt, mode = "append")
      val snap = DeltaLog.snapshot(spark, tgt)
      assert(snap.files.size == 1, s"expected 1 compacted file, got ${snap.files}")
      assert(DeltaLog.read(spark, tgt).as[Long].collect().sorted.toSeq == (1L to 5L))
    } finally spark.conf.unset("spark.graft.delta.autoCompact.minNumFiles")
  }
}
