package graft

import graft.sources.DeltaLog
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** OPTIMIZE on the Delta protocol: compaction, range clustering and
  * Z-order clustering, checked on the written file layout. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val t = Files.createTempDirectory("graft-maint-").toString + "/t"
    // 16 small files of 1k rows
    DeltaLog.write(spark, spark.range(16000).select(col("id"), (col("id") % 97).as("k"))
      .repartition(16), t)
    t
  }

  private def numFiles(t: String): Long =
    DeltaLog.detail(spark, t).select("numFiles").as[Long].head()

  test("compact rewrites many small files into the target count") {
    val t = freshTable()
    assert(numFiles(t) == 16L)
    DeltaLog.optimize(spark, t, targetFiles = 2)
    assert(numFiles(t) == 2L)
    assert(DeltaLog.read(spark, t).count() == 16000L)
  }

  test("cluster produces non-overlapping sorted ranges per file") {
    val t = freshTable()
    DeltaLog.optimize(spark, t, targetFiles = 4, zorderBy = Seq("k"))
    val df = DeltaLog.read(spark, t)
    assert(df.count() == 16000L)
    // per-file min/max of k must not overlap across files (range clustering)
    val ranges = df.groupBy(input_file_name().as("f"))
      .agg(min("k").as("mn"), max("k").as("mx"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2, s"overlap: $a vs $b")
      case _ =>
    }
  }

  test("zorder_key interleaves bits exactly, preserving grid locality") {
    import graft.functions.ZOrderKey.interleave
    assert(interleave(0L, 0L) == 0L)
    assert(interleave(1L, 0L) == 2L)   // a's bit 0 → position 1
    assert(interleave(0L, 1L) == 1L)   // b's bit 0 → position 0
    assert(interleave(0xFFFFL, 0xFFFFL) == 0xFFFFFFFFL)
    // locality: adjacent cells differ in few low-order key bits, far
    // cells differ high — the key of (x, y) lies between its quadrant's
    // corners
    val q = interleave(40000L, 20000L)
    assert(q > interleave(32768L, 0L) && q < interleave(65535L, 32767L))
  }

  test("clusterZ gives per-file min/max locality on BOTH columns") {
    val t = Files.createTempDirectory("graft-zorder-").toString + "/t"
    // two independent uniform dimensions — lexicographic clustering on
    // (a, b) would leave b's per-file span at ~full range
    DeltaLog.write(spark, spark.range(65536).select(
        (col("id") % 256).as("a"), (col("id") / 256).cast("long").as("b"))
      .repartition(8), t)
    DeltaLog.optimize(spark, t, targetFiles = 16, zorderBy = Seq("a", "b"))
    val df = DeltaLog.read(spark, t)
    val spans = df.groupBy(input_file_name())
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .agg(avg("sa"), avg("sb")).as[(Double, Double)].head()
    // 16 z-ordered files over a 256×256 grid ⇒ each file covers about a
    // quarter of each dimension; assert well under the full 255 span
    assert(spans._1 < 160, s"column a span too wide: $spans")
    assert(spans._2 < 160, s"column b span too wide: $spans")
    assert(df.count() == 65536L)
  }
}
