package graft

import graft.operators.Scd2
import org.apache.spark.sql.functions._

/** SCD2 invariants (SURVEY §5 test plan, rules from the reference's
  * expectations catalog data_quality.py:149-199): exactly one is_current
  * row per key, dense version numbers, intervals chain start→end, and
  * the operational merge equals the declarative spec. */
class Scd2Spec extends SparkSpec {

  private val keys = Seq("o_custkey")
  private val attrs = Seq("o_orderstatus", "o_orderpriority")

  private def log = Tables.orders(spark, sfDir).select(
    col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
    col("o_orderstatus"), col("o_orderpriority"))

  private lazy val scd2 =
    Scd2.fromChangeLog(log, keys, attrs, "o_orderdate", Seq("o_orderkey")).cache()

  test("exactly one is_current row per key") {
    val bad = scd2.groupBy("o_custkey")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_current"))
      .where(col("n_current") =!= 1)
    assert(bad.count() == 0)
  }

  test("version numbers are dense 1..max per key") {
    val bad = scd2.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), max("version_number").as("mx"),
        min("version_number").as("mn"), countDistinct("version_number").as("nd"))
      .where(col("mx") =!= col("n") || col("mn") =!= 1 || col("nd") =!= col("n"))
    assert(bad.count() == 0)
  }

  test("effective_end equals the next version's effective_start") {
    val a = scd2.select(col("o_custkey"), col("version_number"), col("effective_end"))
    val b = scd2.select(col("o_custkey"),
      (col("version_number") - 1).as("version_number"),
      col("effective_start").as("next_start"))
    val joined = a.join(b, Seq("o_custkey", "version_number"), "inner")
    assert(joined.where(col("effective_end") =!= col("next_start")).count() == 0)
    assert(scd2.where(col("effective_end").isNull && !col("is_current")).count() == 0)
  }

  test("consecutive versions have different row hashes") {
    val a = scd2.select(col("o_custkey"), col("version_number"), col("row_hash"))
    val b = scd2.select(col("o_custkey"),
      (col("version_number") - 1).as("version_number"),
      col("row_hash").as("next_hash"))
    val joined = a.join(b, Seq("o_custkey", "version_number"))
    assert(joined.where(col("row_hash") === col("next_hash")).count() == 0)
  }

  test("operational mergeBatch equals declarative fromChangeLog") {
    val cutoff = lit("1996-01-01").cast("date")
    val initial = log.where(col("o_orderdate") < cutoff)
    val updates = log.where(col("o_orderdate") >= cutoff)
    val merged = Scd2.mergeBatch(
      Scd2.fromChangeLog(initial, keys, attrs, "o_orderdate", Seq("o_orderkey")),
      updates, keys, attrs, "o_orderdate", Seq("o_orderkey"))
    val spec = Scd2.fromChangeLog(
      initial.unionByName(Scd2.latestPerKey(updates, keys, "o_orderdate", Seq("o_orderkey"))),
      keys, attrs, "o_orderdate", Seq("o_orderkey"))
    val cols = Seq("o_custkey", "row_hash", "version_number",
      "effective_start", "effective_end", "is_current")
    assert(merged.select(cols.map(col): _*).exceptAll(spec.select(cols.map(col): _*)).count() == 0)
    assert(spec.select(cols.map(col): _*).exceptAll(merged.select(cols.map(col): _*)).count() == 0)
  }
}
