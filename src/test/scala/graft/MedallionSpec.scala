package graft

import graft.pipelines.{Fixtures, Medallion}
import org.apache.spark.sql.functions._

/** End-to-end medallion pipeline over the golden 18-event fixture —
  * hand-checkable expected output per FIXTURES.md §1: 3 trip_fact rows
  * (completed 44.00, completed 55.00, cancelled refund 77.00). */
class MedallionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables = Medallion.graph(spark).runMaterialized()

  test("bronze parses all four CDC topics with typed timestamps") {
    assert(tables("bronze_eater").count() == 5)
    assert(tables("bronze_merchant").count() == 5)
    assert(tables("bronze_courier").count() == 4)
    assert(tables("bronze_trip_events").count() == 18)
    assert(tables("bronze_trip_events").schema("event_time").dataType.typeName == "timestamp")
    assert(tables("bronze_eater").select("cdc_operation").distinct().as[String].head() == "c")
  }

  test("silver cleanses strings and dedups the at-least-once event feed") {
    val e = tables("silver_eater").where(col("eater_id") === 1)
      .select("first_name", "email", "phone_number").as[(String, String, String)].head()
    assert(e == (("Alice", "alice@example.com", "+33612345678")))
    // eater 3 has a malformed email → tracked flag false, row kept
    val claire = tables("silver_eater").where(col("eater_id") === 3)
      .select("email_valid").as[Boolean].head()
    assert(!claire)
    // courier plates normalized
    val plates = tables("silver_courier").select("license_plate")
      .as[String].collect().toSet
    assert(plates == Set("NA", "AB-123-CD", "EF456GH", "IJ-789-KL"))
    // 18 raw events → 17 after event_id dedup
    assert(tables("silver_trips").count() == 17)
  }

  test("trip_fact pivots the event log into 3 golden rows") {
    val fact = tables("trip_fact")
    assert(fact.count() == 3)
    val rows = fact
      .select("trip_id", "trip_status", "total_amount", "tip_amount", "delivery_minutes")
      .as[(String, String, Double, Double, Option[Double])].collect().sortBy(_._1)
    assert(rows(0) == (("trip-001", "completed", 44.0, 5.0, Some(35.0))))
    assert(rows(1) == (("trip-002", "completed", 55.0, 0.0, Some(40.0))))
    assert(rows(2)._1 == "trip-003")
    assert(rows(2)._2 == "cancelled")
    assert(rows(2)._5.isEmpty) // never delivered
    val refund = fact.where(col("trip_id") === "trip-003")
      .select("refund_amount", "promo_code", "discount_amount")
      .as[(Double, String, Double)].head()
    assert(refund == ((77.0, "PROMO10", 10.0)))
    // cancelled trip has no courier payout basis change; delivered trips keep theirs
    val payouts = fact.select("trip_id", "courier_payout")
      .as[(String, Double)].collect().toMap
    assert(payouts("trip-001") == 6.6)
    assert(payouts("trip-002") == 8.25)
    assert(payouts("trip-003") == 11.55) // 77.00 * 0.15 default
  }

  test("trip_fact attaches the merchant's pickup location key") {
    val fact = tables("trip_fact")
    assert(fact.where(col("pickup_location_key").isNull).count() == 0)
    val locs = tables("dim_location")
    // 5 eater + 5 merchant addresses, all distinct
    assert(locs.count() == 10)
    assert(locs.select("location_key").distinct().count() == 10)
    assert(locs.where(col("geohash").isNull || length(col("geohash")) =!= 8).count() == 0)
  }

  test("dim_eater carries lifetime metrics, tiering and SCD2 columns") {
    val d = tables("dim_eater")
    assert(d.where(col("is_current")).count() == 5)
    val alice = d.where(col("eater_id") === 1 && col("is_current"))
      .select("lifetime_orders", "loyalty_tier").as[(Long, String)].head()
    assert(alice == ((1L, "bronze"))) // 44.00 spend → bronze (< 50)
    val david = d.where(col("eater_id") === 4 && col("is_current"))
      .select("lifetime_spend").as[java.math.BigDecimal].head()
    assert(david.doubleValue() == 77.0)
    // never-ordered eaters default to zero metrics
    assert(d.where(col("eater_id") === 5 && col("is_current"))
      .select("lifetime_orders").as[Long].head() == 0L)
  }

  test("dim_merchant and dim_courier carry metrics, tiers and rates") {
    val m = tables("dim_merchant").where(col("is_current"))
    assert(m.count() == 5)
    val m1 = m.where(col("merchant_id") === 1)
      .select("completed_orders", "merchant_tier").as[(Long, String)].head()
    assert(m1 == ((1L, "standard"))) // one delivery rated 4 → avg 4.0
    assert(m.where(col("merchant_id") === 3)
      .select("merchant_tier").as[String].head() == "new") // no orders
    val c = tables("dim_courier").where(col("is_current"))
    assert(c.count() == 4)
    val c1 = c.where(col("courier_id") === 1)
      .select("assigned_trips", "deliveries", "completion_rate")
      .as[(Long, Long, Double)].head()
    assert(c1 == ((1L, 1L, 100.0)))
    assert(c.where(col("courier_id") === 4)
      .select("completion_rate").as[Double].head() == 0.0)
  }

  test("partitioned fact write prunes by partition column (S7)") {
    import graft.sources.DeltaLog
    val t = java.nio.file.Files.createTempDirectory("graft-part-").toString + "/fact"
    DeltaLog.write(spark, tables("trip_fact"), t, partitionBy = Seq("trip_status"))
    assert(DeltaLog.read(spark, t).count() == 3)
    // partition pruning: only the cancelled partition's files are planned
    val cancelled = col("trip_status") === "cancelled"
    val snap = DeltaLog.snapshot(spark, t)
    val kept = DeltaLog.pruneFiles(spark, snap, cancelled)
    assert(kept.nonEmpty && kept.forall(_.contains("trip_status=cancelled")), kept)
    assert(kept.size < snap.files.size)
    assert(DeltaLog.readPruned(spark, t, cancelled).count() == 1)
  }

  test("gold tables publish as Delta-protocol tables (the reference's format)") {
    import graft.sources.DeltaLog
    val t = java.nio.file.Files.createTempDirectory("graft-gold-delta-").toString + "/trip_fact"
    DeltaLog.write(spark, tables("trip_fact"), t,
      partitionBy = Seq("trip_status"))
    val back = DeltaLog.read(spark, t)
    assert(back.count() == 3)
    assert(back.columns.sorted.toSeq == tables("trip_fact").columns.sorted.toSeq)
    // daily re-publish is one atomic commit; yesterday stays queryable
    DeltaLog.write(spark, tables("trip_fact").where(col("trip_status") === "completed"), t,
      partitionBy = Seq("trip_status"))
    assert(DeltaLog.read(spark, t).count() == 2)
    assert(DeltaLog.read(spark, t, Some(0)).count() == 3)
  }

  test("scaled fixture: N replicas keep per-replica semantics, RI, and golden totals") {
    // the gold-batch benchmark's volume knob must not change semantics:
    // each replica is the golden copy in a disjoint id space
    val n = 7
    val t = Medallion.graph(spark, Fixtures.topicsScaled(spark, n)).runMaterialized()
    assert(t("trip_fact").count() == 3L * n)
    // 18 raw events per replica include one at-least-once redelivery →
    // 17 distinct after the silver dedup, per replica
    assert(t("silver_trips").count() == 17L * n, "per-replica event dedup must hold")
    val completedRevenue = t("trip_fact").where(col("trip_status") === "completed")
      .agg(sum(col("total_amount").cast("decimal(38,10)"))).as[BigDecimal].head()
    assert(completedRevenue == BigDecimal(99.00) * n, completedRevenue.toString)
    val v = Medallion.validate(t).collect()
    assert(v.forall(_.getBoolean(2)),
      v.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
    t.values.foreach(_.unpersist())
  }

  test("table graph resolves dependencies topologically and rejects cycles") {
    val order = Medallion.graph(spark).topologicalOrder.map(_.name)
    assert(order.indexOf("silver_trips") > order.indexOf("bronze_trip_events"))
    assert(order.indexOf("trip_fact") > order.indexOf("dim_location"))
    val g = new graft.pipelines.TableGraph
    g.register(graft.pipelines.TableDef("a", Seq("b"))(_ => null))
    g.register(graft.pipelines.TableDef("b", Seq("a"))(_ => null))
    intercept[IllegalArgumentException] { g.topologicalOrder }
  }

  test("runMaterialized caches only multi-consumer tables") {
    import org.apache.spark.storage.StorageLevel
    val g = Medallion.graph(spark)
    // the medallion graph's genuinely shared frames, by edge count
    assert(g.multiConsumerTables ==
      Set("silver_eater", "silver_merchant", "silver_trips"))
    val t = g.runMaterialized()
    val cached = t.filter(_._2.storageLevel != StorageLevel.NONE).keySet
    assert(cached == g.multiConsumerTables, cached.toString)
    // single-consumer and sink tables never occupy executor memory
    assert(t("bronze_eater").storageLevel == StorageLevel.NONE)
    assert(t("dim_location").storageLevel == StorageLevel.NONE)
    assert(t("trip_fact").storageLevel == StorageLevel.NONE)
    graft.pipelines.TableGraph.release(t)
    assert(t.values.forall(_.storageLevel == StorageLevel.NONE))
  }
}
